package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pre-amplification rebalance: a row-AMPLIFYING stage (a B-fold
  * replicate explode, a |queries|-fold broadcast cross join) inherits
  * the scan's split count — and a small input (one parquet file under
  * `maxPartitionBytes`) yields ONE split, so the amplified work runs on
  * one core no matter how wide the cluster. Repartitioning the
  * pre-amplification rows is cheap by construction (the exchange moves
  * 1/B of the downstream row count); at real scale the scan already
  * has more splits than cores and this is a no-op. */
object Rebalance {
  def forAmplification(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (df.rdd.getNumPartitions < sc.defaultParallelism)
      df.repartition(sc.defaultParallelism)
    else df
  }

  /** Exact global row_number WITHOUT a single-partition window — the
    * pd1 pattern ([[TextOps.paddingStats]]), shared: range-partition on
    * the order key (order-exact across partitions: every row of
    * partition i sorts before every row of partition i+1), then a
    * PER-PARTITION row_number plus each partition's start offset — a
    * |partitions|-row driver-side cumsum folded back in as a map
    * literal, so no exchange ever funnels the data. The input is
    * pinned ([[Pin]]) so the offsets pass and the rank pass see
    * identical partition boundaries. Appends `outCol` (1-based BIGINT
    * rank by `order`); ties rank arbitrarily among equals, exactly as
    * row_number does. */
  def globalRowNumber(df: DataFrame, order: Seq[Column],
      outCol: String): DataFrame = {
    val nParts = math.max(1, df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt)
    // materialize the (narrow) input once: repartitionByRange SAMPLES
    // the data to pick boundaries and then shuffles it — two executions
    // of whatever lineage feeds this; pinning first makes both passes
    // read the materialized rows instead of re-running an expensive
    // upstream pipeline
    val src = Pin(df)
    // pin boundaries across the two consumers
    val ranged = Pin(src.repartitionByRange(nParts, order: _*)
      .withColumn("__gr_pid", spark_partition_id().cast("bigint")))
    val cnts = ranged.groupBy("__gr_pid").agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offExpr =
      if (cnts.isEmpty) lit(0L)
      else element_at(map(cnts.map(_._1)
        .zip(cnts.scanLeft(0L)(_ + _._2).init)
        .flatMap { case (p, o) => Seq(lit(p), lit(o)) }.toIndexedSeq: _*),
        col("__gr_pid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__gr_pid").orderBy(order: _*)
    ranged.withColumn(outCol,
        offExpr + row_number().over(w).cast("bigint"))
      .drop("__gr_pid")
  }
}
