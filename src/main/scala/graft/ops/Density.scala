package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Density clustering (DBSCAN) over 2-D integer coordinates — the
  * outlier-robust clustering a curation pipeline reaches for when
  * k-means' spherical-k assumption fails (embedding maps, geo-ish
  * scatter, UMAP-style projections).
  *
  * Scale shape — the textbook grid-blocked formulation: candidate
  * neighbor pairs come from an EQUI-join on epsilon-grid cells (each
  * point probes its 3×3 cell neighborhood; no cross join at any
  * scale), core status is one hash aggregate over the verified pairs,
  * and cluster labels reuse the min-label + pointer-jumping engine
  * ([[Dedup.dupClusters]] — labels-only exchanges, O(log diameter)
  * rounds). Everything is exact integer arithmetic (squared distances
  * in BIGINT), so an external engine replaying the same definition —
  * including the min-label canonical cluster ids and the min-label
  * border assignment — matches bit-for-bit. */
object Density {

  /** DBSCAN over integer point coordinates.
    *
    * @param df     points: one row per id with integer x/y columns
    * @param eps    neighborhood radius (same units as x/y); a point's
    *               neighborhood is dist² ≤ eps² (self included)
    * @param minPts core threshold: |neighborhood| ≥ minPts
    * @return one row per point: (id, is_core, cluster) where cluster
    *         is the min point-id of its cluster, core points always
    *         belong to their own component, border points take the
    *         SMALLEST cluster label among their core neighbors, and
    *         noise points get cluster = −1.
    *
    * Coordinates are shifted by 10⁹ before the grid division so the
    * cell id is a floor division on both engines regardless of sign
    * (trunc-div == floor-div on positives — the portable form). */
  def dbscan2D(df: DataFrame, idCol: String, xCol: String, yCol: String,
      eps: Long, minPts: Int): DataFrame = {
    require(eps > 0, "dbscan2D: eps must be positive")
    require(minPts >= 1, "dbscan2D: minPts must be >= 1")
    val off = 1000000000L
    // pinned: consumed by both sides of the cell join
    val pts = Pin(df.select(col(idCol).cast("bigint").as("id"),
      col(xCol).cast("bigint").as("x"), col(yCol).cast("bigint").as("y"))
      .withColumn("cx", expr(s"(x + $off) div $eps"))
      .withColumn("cy", expr(s"(y + $off) div $eps")))
    // candidate pairs: probe side exploded into its 3×3 cell
    // neighborhood, equi-joined on the build side's home cell, then
    // the exact integer distance verify
    val probes = pts
      .withColumn("dxy", explode(expr(
        "flatten(transform(sequence(-1, 1), dx -> " +
          "transform(sequence(-1, 1), dy -> struct(dx, dy))))")))
      .select(col("id").as("a"), col("x").as("ax"), col("y").as("ay"),
        (col("cx") + col("dxy.dx")).as("cx"),
        (col("cy") + col("dxy.dy")).as("cy"))
    // Feeds core counts, core edges AND borders — but pairs is the
    // O(n · density) relation, the one thing here that GROWS
    // superlinearly as a corpus densifies in a fixed ε-space. A
    // MEMORY_AND_DISK pin held it in the unified memory pool and at
    // 100× original density (the sf10 scale notch) the pinned blocks
    // starved execution memory to zero (SparkOutOfMemoryError in
    // HashAggregate init). DISK_ONLY keeps the multi-consumer reuse
    // without competing with join/aggregate execution memory — the
    // only storage level that is safe for a relation whose size is a
    // function of data density rather than data size.
    val pairs = Pin(probes.join(
        pts.select(col("id").as("b"), col("x").as("bx"),
          col("y").as("by"), col("cx"), col("cy")),
        Seq("cx", "cy"))
      .filter(expr(s"(ax-bx)*(ax-bx) + (ay-by)*(ay-by) <= ${eps * eps}L"))
      .select("a", "b"), StorageLevel.DISK_ONLY)
    // small; consumed three times below
    val cores = Pin(pairs.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("n_nbr"))
      .filter(col("n_nbr") >= minPts)
      .select("id"))
    // core-core edges -> connected components (min-label canonical ids)
    val coreEdges = pairs
      .join(cores.select(col("id").as("a")), "a")
      .join(cores.select(col("id").as("b")), "b")
      .filter(col("a") < col("b"))
    val comp = Dedup.dupClusters(coreEdges, "a", "b")
      .select(col("doc_id").as("id"), col("cluster_id").as("lbl"))
    // singleton cores (no core neighbor) label themselves
    val coreLabel = cores
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("cluster"))
    // border points: non-core with >= 1 core neighbor take the SMALLEST
    // core neighbor's cluster (deterministic; plain DBSCAN's
    // "first-found" is scan-order-dependent)
    val borderLabel = pairs
      .join(cores.select(col("id").as("b")), "b")
      .join(cores.select(col("id").as("a")), Seq("a"), "left_anti")
      .join(coreLabel.select(col("id").as("b"), col("cluster")), "b")
      .groupBy(col("a").as("id"))
      .agg(min("cluster").as("cluster"))
    val labeled = coreLabel.select(col("id"), lit(true).as("is_core"),
        col("cluster"))
      .union(borderLabel.select(col("id"), lit(false).as("is_core"),
        col("cluster")))
    pts.select("id").join(labeled, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("is_core"), lit(false)).as("is_core"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }
}
