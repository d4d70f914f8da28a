package graft.ops

import org.apache.spark.sql.{DataFrame, GraftSessionShim}
import org.apache.spark.sql.functions._

/** Data-layout operators: Z-order (Morton) clustering for multi-column
  * locality. At 100 TB the dominant cost of a selective query is the
  * scan; range-partitioning + sorting by an interleaved key keeps rows
  * that are close in EVERY clustered dimension inside the same files,
  * so parquet min/max stats prune multi-predicate queries that a
  * single-column sort can only prune on its leading column. */
object Layout {

  /** Dialect-portable Morton (Z-order) value of `cols`, `bits` low bits
    * each, bit-by-bit interleaved (column j contributes bit i of its
    * value to result bit `i * cols + j`). Bit i is read as
    * `floor(x / 2^i) % 2` — division by a power of two is EXACT in
    * binary floating point (exponent shift, no rounding), so the same
    * fragment evaluates identically in Spark SQL and any ANSI-ish
    * oracle dialect, with no dialect-specific shift/bitand syntax.
    * Bits above `bits` are ignored (the walk never reads them); inputs
    * must be non-negative and < 2^52. */
  def zValueSql(cols: Seq[String], bits: Int): String = {
    require(cols.nonEmpty && bits > 0 && cols.size * bits <= 62,
      s"zValueSql: need 0 < cols*bits <= 62, got ${cols.size} x $bits")
    val terms = for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield {
      val srcPow = 1L << i
      val dstPow = 1L << (i.toLong * cols.size + j)
      s"(CAST(floor(CAST($c AS BIGINT) / $srcPow) AS BIGINT) % 2) * $dstPow"
    }
    s"CAST(${terms.mkString(" + ")} AS BIGINT)"
  }

  /** Adds `z_value` = Morton interleave of `cols` (low `bits` bits
    * each; non-negative inputs). */
  def zorder(df: DataFrame, cols: Seq[String], bits: Int = 16): DataFrame =
    df.withColumn("z_value", expr(zValueSql(cols, bits)))

  /** Writes `df` clustered by the Z-order of `cols`: range-partitioned
    * on `z_value` (contiguous z-ranges per output file) and sorted
    * within partitions, so every file covers a tight z-rectangle and
    * parquet min/max stats prune on ALL clustered dimensions. This is
    * the layout step of a 100 TB curation pipeline — run once after
    * heavy filtering, cheap relative to the scans it saves downstream.
    * Returns a reader over the written layout. */
  def clusteredWrite(df: DataFrame, cols: Seq[String], path: String,
      numFiles: Int, bits: Int = 16): DataFrame = {
    zorder(df, cols, bits)
      .repartitionByRange(numFiles, col("z_value"))
      .sortWithinPartitions("z_value")
      .write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Compacts a written dataset to ~`targetRowsPerFile` rows per file,
    * keeping it sorted/clustered by `sortCol` — the small-files remedy.
    * Heavy filtering (dedup, gating) leaves a 100 TB corpus as millions
    * of KB-sized parquet files whose per-file open/footer overhead
    * dominates every later scan and whose task count swamps the
    * scheduler; periodic compaction to fat files restores scan
    * efficiency and keeps min/max pruning sharp (range partitioning →
    * disjoint per-file key ranges).
    *
    * Cost: one metadata-cheap count (parquet footers — no data read),
    * then ONE range-repartition pass of the data. Returns a reader
    * over the compacted layout. */
  def compactTo(df: DataFrame, sortCol: String, path: String,
      targetRowsPerFile: Long): DataFrame = {
    require(targetRowsPerFile > 0, "compactTo: targetRowsPerFile must be > 0")
    val n = df.count()
    val files = math.max(1L,
      (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    df.repartitionByRange(files, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** INCREMENTAL compaction: rewrite only the parquet files in `path`
    * holding fewer than `targetRowsPerFile` rows, merging them into
    * ~target-sized files sorted by `sortCol`; files already at or above
    * the target are NOT touched (not read, not rewritten, not moved).
    * This is the steady-state form of [[compactTo]]: a 100 TB corpus
    * under continuous ingest accretes a small-file tail every batch,
    * and a full rewrite to fix the tail costs a full corpus pass —
    * incremental compaction costs only the tail. File row counts come
    * from parquet FOOTERS (driver-side metadata reads over the bounded
    * file list, no data scan); the rewrite is one range-partition pass
    * over the small files only. Publish order is write-new → delete-old
    * (a crash in between leaves the new files alongside the old — an
    * at-least-once window a production deployment closes with a commit
    * manifest, the ShardFiles two-phase shape; never data loss).
    * Returns the number of files rewritten. */
  def compactSmallFiles(spark: org.apache.spark.sql.SparkSession,
      path: String, sortCol: String, targetRowsPerFile: Long): Int = {
    require(targetRowsPerFile > 0,
      "compactSmallFiles: targetRowsPerFile must be > 0")
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    val parts = fs.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith("_")
    }
    val counted = parts.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try (st.getPath, r.getRecordCount) finally r.close()
    }
    val small = counted.filter(_._2 < targetRowsPerFile)
    val smallRows = small.map(_._2).sum
    val nOut = math.max(1L,
      (smallRows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    // rewrite only if merging REDUCES the file count — otherwise a
    // merge that lands just under the target would re-qualify its own
    // output and compaction would never reach a fixed point
    if (small.length <= 1 || nOut >= small.length) return 0
    val tmp = new org.apache.hadoop.fs.Path(dir.getParent,
      s".compact-${java.util.UUID.randomUUID().toString.take(8)}")
    spark.read.parquet(small.map(_._1.toString): _*)
      .repartitionByRange(nOut, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(tmp.toString)
    // publish: move the new files in, then retire the old ones
    fs.listStatus(tmp).filter(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet")).foreach { st =>
      fs.rename(st.getPath,
        new org.apache.hadoop.fs.Path(dir,
          s"compact-${st.getPath.getName.stripPrefix("part-")}"))
    }
    fs.delete(tmp, true)
    small.foreach { case (p, _) => fs.delete(p, false) }
    small.length
  }

  /** Per-file min/max of a column in a written dataset — the pruning
    * telemetry for [[clusteredWrite]] (disjoint per-file z-ranges =
    * min/max stats actually prune). */
  def fileRanges(df: DataFrame, colName: String): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(min(col(colName)).as("lo"), max(col(colName)).as("hi"))

  /** Writes `df` as an external parquet table bucketed (and sorted)
    * by `key` — the CO-LOCATED JOIN layout: two tables bucketed by
    * their join key with the same bucket count join with ZERO
    * exchanges (each task reads bucket i of both sides), because the
    * catalog records the hash-partitioning as a scan output property.
    * At 100 TB this is the difference between re-shuffling the fact
    * table on every join and shuffling it once at write time: dimension
    * and fact tables that join repeatedly (every pipeline run) amortize
    * the exchange into the layout, exactly like [[compactTo]] amortizes
    * file geometry. Returns a reader over the catalog table (reading
    * the path directly would lose the bucket metadata). */
  def bucketedWrite(df: DataFrame, key: String, tableName: String,
      path: String, buckets: Int): DataFrame = {
    require(buckets > 0, s"bucketedWrite: need buckets > 0, got $buckets")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    df.write.format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path).mode("overwrite")
      .saveAsTable(tableName)
    spark.table(tableName)
  }

  /** Per-level column definitions of the 2-D Hilbert walk (the
    * canonical xy2d algorithm, unrolled): each level k (cell size
    * s = 2^k, from the top bit down) reads one bit of each coordinate,
    * accumulates `s²·(3·rx XOR ry)` into the distance — the XOR of a
    * {0,3} and a {0,1} value written arithmetically as
    * `3·rx + ry − 2·rx·ry` — and applies the quadrant rotation
    * (reflect by n−1 when rx=1∧ry=0, then swap) as a branch-free
    * affine blend. Bit reads use the zValueSql trick (floor-division
    * by a power of two is exact in binary FP), so the SAME expression
    * strings evaluate identically in Spark SQL and the DuckDB oracle —
    * parity by construction. Returns (colName, sqlExpr) pairs in
    * dependency order; level i+1's expressions reference only level
    * i's names, so they compose as chained projections (Spark
    * `withColumn`) or as a CTE chain (SQL oracle). */
  def hilbertSteps(xCol: String, yCol: String, bits: Int): Seq[(String, String)] = {
    require(bits > 0 && 2 * bits <= 62,
      s"hilbertSteps: need 0 < 2*bits <= 62, got bits=$bits")
    val n = 1L << bits
    def bit(c: String, s: Long) =
      s"(CAST(floor(CAST($c AS BIGINT) / $s) AS BIGINT) % 2)"
    val init = Seq(
      "__hx0" -> s"CAST($xCol AS BIGINT)",
      "__hy0" -> s"CAST($yCol AS BIGINT)",
      "__hd0" -> "CAST(0 AS BIGINT)")
    val levels = (0 until bits).flatMap { i =>
      val s = 1L << (bits - 1 - i)
      val (px, py, pd) = (s"__hx$i", s"__hy$i", s"__hd$i")
      val (rx, ry) = (bit(px, s), bit(py, s))
      Seq(
        s"__hx${i + 1}" ->
          (s"$ry * $px + (1 - $ry) * " +
            s"($rx * (${n - 1} - $py) + (1 - $rx) * $py)"),
        s"__hy${i + 1}" ->
          (s"$ry * $py + (1 - $ry) * " +
            s"($rx * (${n - 1} - $px) + (1 - $rx) * $px)"),
        s"__hd${i + 1}" ->
          s"$pd + ${s * s} * (3 * $rx + $ry - 2 * $rx * $ry)")
    }
    init ++ levels
  }

  /** Adds `h_value` = 2-D Hilbert distance of (`xCol`, `yCol`) on the
    * 2^bits × 2^bits grid (inputs must be non-negative and < 2^bits).
    * Hilbert beats Morton for range locality: CONSECUTIVE cells along
    * the curve are always grid neighbors (unit Manhattan step —
    * HilbertSpec proves it exhaustively), so a contiguous h-range is a
    * compact blob with no Z-shaped jumps, and per-file min/max ranges
    * from [[hilbertWrite]] prune rectangle queries tighter than
    * [[zorder]] files of the same row count. Cost: the walk is ~6
    * integer ops per bit level as chained scan-local projections —
    * Catalyst collapses them into one whole-stage-codegen projection,
    * nothing shuffles. */
  def hilbert(df: DataFrame, xCol: String, yCol: String,
      bits: Int = 16): DataFrame = {
    val steps = hilbertSteps(xCol, yCol, bits)
    val out = steps.foldLeft(df) { case (d, (name, e)) =>
      d.withColumn(name, expr(e))
    }
    out.withColumn("h_value", col(s"__hd$bits"))
      .drop(steps.map(_._1): _*)
  }

  /** [[clusteredWrite]] on the Hilbert key: range-partitioned + sorted
    * by `h_value`, so each output file covers one compact curve
    * segment (a spatial blob, not a Z-slab). Returns a reader. */
  def hilbertWrite(df: DataFrame, xCol: String, yCol: String,
      path: String, numFiles: Int, bits: Int = 16): DataFrame = {
    hilbert(df, xCol, yCol, bits)
      .repartitionByRange(numFiles, col("h_value"))
      .sortWithinPartitions("h_value")
      .write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Corpus snapshot diff — the incremental-update primitive: given two
    * versions of a corpus, classify every id as `added` (new only),
    * `removed` (old only), `changed` (both, content digest differs), or
    * `unchanged`. Downstream incremental pipelines re-run dedup/scoring
    * on `added ∪ changed` only and retire `removed` — a crawl refresh
    * touches a few percent of 100 TB, so diffing first turns a full
    * recuration into an incremental one.
    *
    * Shape: digests are computed scan-locally (md5 — collision-proof
    * for equality grading), then ONE full-outer sort-merge/shuffle-hash
    * join on the id. When both versions come from [[bucketedWrite]]
    * layouts on the id, the join is exchange-free; otherwise each side
    * shuffles exactly once on the narrow (id, digest) projection — the
    * document payload never moves. */
  def diffSnapshots(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String, includeUnchanged: Boolean = true): DataFrame = {
    val o = oldDf.select(col(idCol).cast("bigint").as("doc_id"),
      md5(col(textCol).cast("binary")).as("old_digest"))
    val n = newDf.select(col(idCol).cast("bigint").as("doc_id"),
      md5(col(textCol).cast("binary")).as("new_digest"))
    val joined = o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_digest").isNull, lit("added"))
          .when(col("new_digest").isNull, lit("removed"))
          .when(col("old_digest") =!= col("new_digest"), lit("changed"))
          .otherwise(lit("unchanged")))
    if (includeUnchanged) joined
    else joined.filter(col("status") =!= "unchanged")
  }

  // ----- Snapshot-committed table: time travel + vacuum ---------------
  //
  // A minimal lakehouse commit protocol over plain parquet (the shape
  // Iceberg/Delta formalize, reduced to its load-bearing core): every
  // write lands as NEW immutable data files plus a MANIFEST naming
  // exactly the files of that snapshot; the manifest's atomic rename IS
  // the commit. Readers resolve a manifest — latest or AS OF an id —
  // and read only its files, so concurrent writers never corrupt a
  // reader's view (snapshot isolation by immutability), a crashed
  // writer leaves only unreferenced orphans (never a torn table), and
  // history stays queryable until vacuumed. Manifests are METADATA:
  // driver-side reads/writes over a |files|-bounded list (the
  // compactSmallFiles argument), while data moves only through
  // distributed parquet writes. Format: plain text, line 1 "graft-snap
  // v1", line 2 the row count, then optional "tag:"/"schema:" metadata
  // lines, then one data-file name per line.
  //
  // CONCURRENCY (the Delta/Iceberg rule, reduced the same way): commits
  // are OPTIMISTIC. A writer stages data files without coordination,
  // then enters a commit critical section where it claims the next
  // manifest id; losing the claim re-bases (an append re-reads the new
  // head's file list) and retries, so append∥append commits BOTH with
  // the union visible — while a keyed rewrite (mergeSnapshot) passes
  // the snapshot id it read as `expectedBase` and ABORTS loudly when
  // the head moved, because its survivors were computed from a stale
  // file set (retrying would silently drop the interleaved commit).
  // The claim itself is a CAS on the manifest name: manifests are
  // written to a temp name and renamed to `snapshot-<id>.txt`, which
  // HDFS rejects when the destination exists (rename-no-overwrite = a
  // true cross-process CAS) — POSIX rename overwrites, so on local
  // filesystems in-process writers are additionally serialized by a
  // per-table JVM lock (the test topology: many streams, one JVM) and
  // an exists() pre-check narrows the cross-process window. Rename
  // keeps manifest VISIBILITY atomic on both: readers never observe a
  // half-written manifest.

  /** Per-table commit locks — the in-process half of the commit CAS
    * (see the protocol note above). Keyed by the qualified table root;
    * bounded by the number of distinct tables a JVM touches. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Object =
    tableLocks.computeIfAbsent(fs.makeQualified(root).toString,
      _ => new Object)

  /** Run `f` holding the table's commit lock — the same monitor
    * [[commitStagedLines]] and [[vacuum]] take (reentrant, so a commit
    * inside `f` nests fine). The DSv2 sink wraps its publish step
    * (rename staged files into data/ + manifest commit) in this, so a
    * same-JVM vacuum can never interleave between the renames and the
    * manifest claim and eat just-published-but-not-yet-referenced
    * files. Cross-process, that window is narrowed by vacuum's
    * modification-time grace period instead. */
  private[graft] def withTableLock[A](
      spark: org.apache.spark.sql.SparkSession, path: String)(
      f: => A): A = {
    val (fs, root, _) = fsOf(spark, path)
    lockFor(fs, root).synchronized(f)
  }

  // ----- Live write tokens ------------------------------------------
  // Every writer stages under a commit-unique token (`.stage-<tok>/`
  // dirs, `c<tok>-…` data files). A token is REGISTERED while its
  // write is in flight (staging → publish renames → manifest claim)
  // and released after commit/abort, so a same-JVM [[vacuum]] — even
  // with graceMs = 0 — never sweeps a fully-staged file or a just-
  // renamed, not-yet-referenced data file out from under an in-flight
  // write. Cross-process writes are covered by graceMs instead (the
  // Delta retention trade-off). Bounded: |in-flight writes| entries.
  private val liveToks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def registerTok(tok: String): Unit = liveToks.add(tok)
  private[graft] def releaseTok(tok: String): Unit =
    liveToks.remove(tok)
  /** Is this `.stage-<tok>[-…]` dir or `c<tok>-…` data-file basename
    * owned by a write still in flight in this JVM? */
  private def tokLive(name: String): Boolean = {
    val tok =
      if (name.startsWith(".stage-")) name.stripPrefix(".stage-").take(8)
      else if (name.startsWith("seg-")) name.stripPrefix("seg-").take(8)
      else if (name.startsWith("c")) name.drop(1).take(8)
      else return false
    liveToks.contains(tok)
  }

  /** Publish-time rename that must not fail silently: a false return
    * (destination exists, source missing, permission) would let the
    * commit reference a file that never arrived — a torn table. */
  private[graft] def renameOrAbort(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit =
    require(fs.rename(src, dst),
      s"snapshot publish: rename $src -> $dst failed — aborting the " +
        "commit (committing would reference a file that never arrived)")

  private def fsOf(spark: org.apache.spark.sql.SparkSession,
      path: String) = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    (root.getFileSystem(conf), root, conf)
  }

  // Strict parse: a stray file in snapshots/ ("snapshot-.txt", a name
  // whose digit run overflows Int) must filter to None, not crash every
  // read/commit/vacuum over the table.
  private def manifestId(name: String): Option[Int] =
    Option(name).filter(n => n.startsWith("snapshot-") &&
        n.endsWith(".txt"))
      .map(_.stripPrefix("snapshot-").stripSuffix(".txt"))
      .filter(d => d.nonEmpty && d.length <= 9 && d.forall(_.isDigit))
      .map(_.toInt)

  private def isMetaLine(l: String): Boolean =
    l.startsWith("tag:") || l.startsWith("schema:") ||
      l.startsWith("statscol:") || l.startsWith("statscols:") ||
      l.startsWith("changes:") || l.startsWith("partcols:") ||
      l.startsWith("rewrite:") || l.startsWith("dv:") ||
      l.startsWith("dvp:") ||
      l.startsWith("segment:") || l.startsWith("colmap:") ||
      l.startsWith("droppedphys:")

  // ----- Column mapping (id-style schema evolution) -------------------
  //
  // Data files store PHYSICAL column names; the manifest's schema line
  // speaks LOGICAL names; `colmap:<logical>=<physical>` lines (one per
  // non-identity column, names URL-encoded) connect them — Delta's
  // column mapping reduced to names. RENAME is then a metadata-only
  // commit (logical changes, physical stays, every old file reads
  // unchanged), DROP removes the logical field and retires its
  // physical name (`droppedphys:` lines — a later ADD of the same
  // logical name gets a FRESH physical name so orphaned values in old
  // files can never leak into the new column), and WIDEN (int→long,
  // float→double) records the wider logical type while readers upcast
  // the files' narrower physical values.

  private[graft] def physName(colMap: Map[String, String],
      c: String): String = colMap.getOrElse(c, c)
  private def encCol(s: String) =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def decCol(s: String) =
    java.net.URLDecoder.decode(s, "UTF-8")
  private def colMapLines(m: Map[String, String],
      dropped: Seq[String]): Seq[String] =
    m.toSeq.sortBy(_._1).map { case (l, p) =>
      s"colmap:${encCol(l)}=${encCol(p)}" } ++
      dropped.sorted.map(d => s"droppedphys:${encCol(d)}")

  /** The df with columns renamed logical→physical for staging. */
  private def toPhysical(df: DataFrame,
      colMap: Map[String, String]): DataFrame =
    if (colMap.isEmpty) df
    else df.select(df.columns.map(c =>
      col(c).as(physName(colMap, c))).toIndexedSeq: _*)

  /** Comma-list statsCol translated logical→physical (what the parquet
    * footers/stat trackers see). */
  private def statsToPhysical(statsCol: String,
      colMap: Map[String, String]): String =
    if (statsCol == null || colMap.isEmpty) statsCol
    else statsColsOf(statsCol).map(physName(colMap, _)).mkString(",")

  // ----- Manifest SEGMENTS (v2) ---------------------------------------
  //
  // A v1 manifest inlines every data-file line, so each commit attempt
  // rewrites O(files) text and each plan parses it — fine to ~10⁴
  // files (ManifestScaleSpec tier 1), a 120 MB head rewrite per commit
  // at 10⁶. v2 (the Iceberg manifest-list shape, reduced): the head
  // stays a tiny file whose `segment:<name>` meta lines reference
  // IMMUTABLE segment files under snapshots/ holding the data-file
  // lines. An append carries the previous segments BY REFERENCE and
  // writes one new segment with just its delta — commit cost O(delta).
  // A rewrite (merge/optimize dropFiles) carries untouched segments
  // and spills only the segments holding dropped files into the new
  // one. Segments are immutable → cached per qualified path, so the
  // resolved view costs one read EVER per segment per JVM. Writers
  // stay v1 below [[SegmentThreshold]] lines (small tables keep a
  // single human-readable file; every existing manifest parses
  // unchanged) and switch to v2 when the head would exceed it or
  // already references segments.
  private val SegmentThreshold = 1024
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private def segLines(fs: org.apache.hadoop.fs.FileSystem,
      snapsDir: org.apache.hadoop.fs.Path, name: String): Seq[String] = {
    val key = fs.makeQualified(
      new org.apache.hadoop.fs.Path(snapsDir, name)).toString
    val got = segCache.get(key)
    if (got != null) return got
    val in = fs.open(new org.apache.hadoop.fs.Path(snapsDir, name))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString finally in.close()
    val lines = txt.split("\n").toSeq.filter(_.nonEmpty)
    if (segCache.size > 4096) segCache.clear() // bounded, immutable
    segCache.put(key, lines)
    lines
  }

  // ----- Deletion vectors (merge-on-read) -----------------------------
  //
  // A sparse merge (few masked rows in a big file) writes a per-commit
  // DELETE SIDECAR instead of rewriting the file: a parquet under dv/
  // holding the masked KEYS (single column, named after the merge
  // key), referenced from the manifest by one meta line per affected
  // data file — `dv:<dataFile>|<dvFile>|<nMaskedInThatFile>`. The
  // `graft-snapshot` reader drops a file's masked keys before rows
  // surface; a masked key absent from a file is a no-op, so one
  // sidecar (the delta's present keys) can serve every file of its
  // merge. Multiple merges chain lines on the same file (the reader
  // applies the union, per key column);
  // OPTIMIZE materializes them away (its rewrite reads the DV-applied
  // image and drops the files, taking their lines with them). This is
  // Delta's deletion vectors / Iceberg v2 deletes, reduced to the
  // keyed form the merge already speaks.

  /** One parsed `dv:` line. `masked` = rows of `dataFile` the sidecar
    * actually masks (its keys ∩ the file) — the accounting delta. */
  private[graft] final case class DvEntry(dataFile: String,
      dvFile: String, masked: Long) {
    def line: String = s"dv:$dataFile|$dvFile|$masked"
    /** The POSITIONAL rendering (round 14): same payload under the
      * `dvp:` prefix — the sidecar stores (file basename, physical
      * row ordinal) pairs instead of keys. */
    def lineP: String = s"dvp:$dataFile|$dvFile|$masked"
  }
  private[graft] def parseDv(payload: String): DvEntry = {
    val p = payload.split('|')
    require(p.length == 3, s"corrupt dv line: dv:$payload")
    DvEntry(p(0), p(1), p(2).toLong)
  }

  // ----- Typed per-file column stats (the data-skipping index) --------
  //
  // A manifest file line is "name" or "name|f1|f2|..." with one FIELD
  // PAIR per indexed column (statscols order). Integral columns store
  // exact [min, max] as decimal digits (the original format — every
  // pre-round-13 manifest parses unchanged). STRING columns (round 13:
  // UUIDs, URLs, event dates-as-text — the most common real merge
  // keys) store Iceberg-style TRUNCATED bounds: lo = the true min cut
  // to 16 code points (a prefix sorts <= its extension), hi = the true
  // max cut to 16 code points with the LAST CODE POINT INCREMENTED
  // (sorts >= anything it prefixes) — or UNBOUNDED when the increment
  // overflows every position. Encoded as "s" + base64url(UTF-8 bytes)
  // so '|' and newlines in values can never corrupt the line; "*" is
  // the unbounded-above marker. ALL string comparisons — here, in the
  // scan pushdown, and row-level in Spark — are CODE POINT order
  // (Spark compares strings as UTF8String = UTF-8 byte order = code
  // point order), never java.lang.String UTF-16 order, which diverges
  // on supplementary characters.

  /** One column's recorded [min, max] on one data file (or a pushed
    * query interval — same shape, exact bounds). */
  private[graft] sealed trait ColRange
  private[graft] final case class LongRange(lo: Long, hi: Long)
      extends ColRange
  /** `hi` None = unbounded above (max-truncation overflowed). */
  private[graft] final case class StrRange(lo: String,
      hi: Option[String]) extends ColRange
  /** DECIMAL bounds as SCALED INTEGRALS (round 14): the unscaled
    * values at the recorded `scale` — exact for precision ≤ 18 (the
    * INT32/INT64 parquet renderings) and for any wider decimal whose
    * unscaled extremes happen to fit a Long; anything else records no
    * range (always read). The scale rides IN the stats field so a
    * reader never has to guess it from the current schema — overlap
    * checks against a different scale rescale exactly. */
  private[graft] final case class DecRange(lo: Long, hi: Long,
      scale: Int) extends ColRange

  /** One column's full recorded stats on one data file: the value
    * range plus (round 14) the NULL COUNT. `nulls` is written only
    * when trustworthy — see [[statLine]] for the writer invariant
    * that makes `range == None && nulls > 0` PROOF of an all-null
    * column (the merge-candidate and IS NOT NULL skip rule). */
  private[graft] final case class ColStat(range: Option[ColRange],
      nulls: Option[Long])

  private[graft] object ColRange {
    /** Code-point order — MUST match Spark's string comparison
      * (UTF8String byte order); java.lang.String.compareTo (UTF-16
      * unit order) disagrees beyond the BMP. */
    def cpCompare(a: String, b: String): Int = {
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(j)
        if (ca != cb) return java.lang.Integer.compare(ca, cb)
        i += Character.charCount(ca); j += Character.charCount(cb)
      }
      java.lang.Integer.compare(a.length - i, b.length - j)
    }

    private val TruncCp = 16 // stored-bound length, in code points

    /** Lower bound: the first `TruncCp` code points — a prefix sorts
      * <= every string it prefixes, so the bound stays conservative. */
    def truncMin(s: String): String = {
      val end = s.offsetByCodePoints(0,
        math.min(TruncCp, s.codePointCount(0, s.length)))
      s.substring(0, end)
    }

    /** Upper bound: the value itself when short enough (exact), else
      * the truncated prefix with its last code point incremented
      * (carrying left; the surrogate gap D800–DFFF is skipped since
      * lone surrogates are not valid scalar values) — >= every string
      * with that prefix. None when every position overflows 0x10FFFF
      * (a run of max code points): unbounded above, always read. */
    def truncMax(s: String): Option[String] = {
      if (s.codePointCount(0, s.length) <= TruncCp) return Some(s)
      val cps = truncMin(s).codePoints().toArray
      var i = cps.length - 1
      while (i >= 0) {
        val next =
          if (cps(i) + 1 == 0xD800) 0xE000 else cps(i) + 1
        if (next <= 0x10FFFF) {
          val kept = cps.take(i) :+ next
          return Some(new String(kept, 0, kept.length))
        }
        i -= 1
      }
      None
    }

    /** Ordinal for BINNED string range joins: the first 7 UTF-8 bytes
      * packed big-endian (zero-padded) into a non-negative long —
      * monotone (non-strict) in code-point order, so ordinal intervals
      * are a SUPERSET-safe relaxation of string intervals (ties only
      * ever add candidate files, never drop one). */
    def strOrd(s: String): Long = {
      val b = s.getBytes("UTF-8")
      var v = 0L; var i = 0
      while (i < 7) {
        v = (v << 8) | (if (i < b.length) b(i) & 0xFFL else 0L)
        i += 1
      }
      v
    }

    /** The Spark-side twin of [[strOrd]] — a codegen'd expression
      * (rpad the UTF-8 bytes to 7, hex, base-16 to decimal): the two
      * MUST agree or binned candidate matching drops files. */
    def strOrdSql(c: String): String =
      s"CAST(conv(hex(rpad(encode($c, 'UTF-8'), 7, X'00')), 16, 10) " +
        "AS BIGINT)"

    /** Longest common prefix of the candidate bounds, cut back to a
      * code-point boundary — stripped before the 7-byte ordinal so
      * keys sharing a long constant prefix (URL scheme+host,
      * "doc-000…") don't tie every candidate into one bin. Safe
      * because every bound starts with the LCP, so any key inside any
      * candidate range must too (a string in [P+a, P+b] lies in
      * [P, next(P)) and therefore has prefix P); keys without the
      * prefix match nothing and are excluded. */
    def commonPrefix(ss: Seq[String]): String = {
      if (ss.isEmpty) return ""
      var p = ss.head
      ss.tail.foreach { s =>
        var i = 0
        val n = math.min(p.length, s.length)
        while (i < n && p.charAt(i) == s.charAt(i)) i += 1
        p = p.substring(0, i)
      }
      // never split a surrogate pair
      if (p.nonEmpty && Character.isHighSurrogate(p.last))
        p.substring(0, p.length - 1)
      else p
    }

    /** Conservative overlap of a recorded file range with a pushed
      * query interval of the same shape; a kind mismatch (column type
      * changed identity — should not happen) degrades to READ. */
    def overlaps(file: ColRange, query: ColRange): Boolean =
      (file, query) match {
        case (LongRange(flo, fhi), LongRange(qlo, qhi)) =>
          fhi >= qlo && flo <= qhi
        case (StrRange(flo, fhi), StrRange(qlo, qhi)) =>
          fhi.forall(h => cpCompare(h, qlo) >= 0) &&
            qhi.forall(h => cpCompare(flo, h) <= 0)
        case (DecRange(flo, fhi, fs), DecRange(qlo, qhi, qs))
            if fs == qs => fhi >= qlo && flo <= qhi
        case (DecRange(flo, fhi, fs), DecRange(qlo, qhi, qs)) =>
          // cross-scale (schema drifted or a mixed-writer table):
          // compare EXACTLY as decimals — BigDecimal never overflows
          def d(u: Long, s: Int) = java.math.BigDecimal.valueOf(u, s)
          d(fhi, fs).compareTo(d(qlo, qs)) >= 0 &&
            d(flo, fs).compareTo(d(qhi, qs)) <= 0
        case _ => true
      }

    private val b64e = java.util.Base64.getUrlEncoder.withoutPadding()
    private val b64d = java.util.Base64.getUrlDecoder

    /** The two manifest fields of a recorded range. */
    def fields(r: ColRange): Seq[String] = r match {
      case LongRange(lo, hi) => Seq(lo.toString, hi.toString)
      case StrRange(lo, hi) => Seq(
        "s" + b64e.encodeToString(lo.getBytes("UTF-8")),
        hi.fold("*")(h =>
          "s" + b64e.encodeToString(h.getBytes("UTF-8"))))
      case DecRange(lo, hi, s) => Seq(s"d$s:$lo", s"d$s:$hi")
    }

    /** The recorded string range of observed [min, max] — truncation
      * applied here so every writer shares one rule. */
    def ofStrings(min: String, max: String): StrRange =
      StrRange(truncMin(min), truncMax(max))

    /** Inverse of [[fields]]; empty/unknown fields → None. */
    def parse(lo: String, hi: String): Option[ColRange] =
      if (lo.isEmpty || hi.isEmpty) None
      else if (lo.charAt(0) == 's' || hi == "*")
        Some(StrRange(
          new String(b64d.decode(lo.substring(1)), "UTF-8"),
          if (hi == "*") None
          else Some(new String(b64d.decode(hi.substring(1)), "UTF-8"))))
      else if (lo.charAt(0) == 'd') {
        val (sl, vl) = lo.substring(1).span(_ != ':')
        val (sh, vh) = hi.substring(1).span(_ != ':')
        require(sl == sh, s"decimal range scale mismatch: $lo vs $hi")
        Some(DecRange(vl.tail.toLong, vh.tail.toLong, sl.toInt))
      } else Some(LongRange(lo.toLong, hi.toLong))
  }

  // Render a (name, per-column stats) manifest entry back to its file
  // line — the inverse of [[statsOf]]' parse. One pair of fields per
  // indexed column, in `statscols:` order; a column with no recorded
  // range on this file renders as two EMPTY fields, so positions stay
  // aligned. A file with no stats at all is just the bare name.
  //
  // Round 14 appends an OPTIONAL third field per column — the NULL
  // COUNT, rendered `n<count>` (unambiguous: range fields start with
  // a digit, '-', 's', 'd' or '*', never 'n'). Old two-field lines
  // parse unchanged (null count unknown). WRITER INVARIANT: the null
  // count is written only when the range is present OR the column is
  // provably ALL NULL on the file — never when the range is merely
  // missing (footer stats omitted for oversized values). That makes
  // `range == None && nulls > 0` proof of an all-null column, which
  // IS NOT NULL scans and merge candidate matching may skip; a
  // stats-omitted file stays fully conservative (no nulls field =
  // unknown = never skipped).
  private[graft] def statLine(
      e: (String, Seq[Option[ColRange]])): String =
    statLineFull(e._1, e._2.map(ColStat(_, None)))

  private[graft] def statLineFull(n: String,
      stats: Seq[ColStat]): String =
    if (stats.forall(s => s.range.isEmpty && s.nulls.isEmpty)) n
    else (n +: stats.flatMap { s =>
      val rf = s.range match {
        case Some(r) => ColRange.fields(r)
        case None => Seq("", "")
      }
      // the all-null invariant is enforced where row counts are in
      // hand ([[stageDataFiles]], the sink's writer) — rendering is
      // faithful to what those writers decided
      rf ++ s.nulls.map(k => s"n$k").toSeq
    }).mkString("|")

  /** Comma-separated `statsCol` arguments → the ordered column list
    * (every public statsCol parameter accepts "c1,c2" to index
    * multiple columns; most tables index one). */
  private def statsColsOf(statsCol: String): Seq[String] =
    Option(statsCol).toSeq.flatMap(_.split(',')).map(_.trim)
      .filter(_.nonEmpty)

  /** The recorded-index meta line: the singular `statscol:` for the
    * common one-column case (back-compatible with every existing
    * manifest), the plural comma form beyond. */
  private def statsColsLine(cols: Seq[String]): Option[String] =
    cols match {
      case Nil => None
      case Seq(one) => Some("statscol:" + one)
      case many => Some("statscols:" + many.mkString(","))
    }

  /** Nullable-normalized schema for recorded-schema reads: file-source
    * relations always report nullable columns (a parquet scan can't
    * prove non-nullness across arbitrary files), so imposing the
    * writer's possibly-non-null schema would claim more than the read
    * path guarantees. Recurses through nested types. */
  private def allNullable(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(s.fields.map(f =>
        f.copy(dataType = allNullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = allNullable(a.elementType),
        containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = allNullable(m.valueType),
        valueContainsNull = true)
    case other => other
  }
  private def nullableStruct(
      s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    allNullable(s).asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Append-evolved schema (the Delta `mergeSchema` rule, reduced):
    * fields shared by `prior` and `next` must keep their exact
    * dataType — a type change silently corrupts every earlier file's
    * read, so it requires a full-replace commit — while fields unique
    * to EITHER side are carried/added as nullable (earlier files
    * null-fill a new column; a batch missing an old column null-fills
    * it for its own rows). Field order: prior's fields first, then
    * next's additions, so readers see a stable column layout across
    * the table's whole history. */
  private[graft] def unionSchema(
      prior: org.apache.spark.sql.types.StructType,
      next: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val nextByName = next.fields.map(f => f.name -> f).toMap
    prior.fields.foreach { pf =>
      nextByName.get(pf.name).foreach { nf =>
        require(nf.dataType == pf.dataType,
          s"appendSnapshot: column '${pf.name}' changes type from " +
            s"${pf.dataType.sql} to ${nf.dataType.sql} — type changes " +
            "need a full-replace commit (commitSnapshot), not an append")
      }
    }
    val priorNames = prior.fieldNames.toSet
    org.apache.spark.sql.types.StructType(
      (prior.fields ++ next.fields.filterNot(f => priorNames(f.name)))
        .map(_.copy(nullable = true)))
  }

  /** One fully parsed manifest — every piece of metadata a commit or
    * read consults, from a SINGLE open+read. On an object store each
    * open is a metadata roundtrip; before this record the commit loop
    * paid four per attempt (rows, stat lines, schema, statscol). */
  private[graft] final case class ManifestInfo(rows: Long,
      statLines: Seq[String], files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      statsCols: Seq[String], tag: Option[String],
      changes: Seq[String] = Nil, partCols: Seq[String] = Nil,
      rewrite: Option[String] = None,
      dv: Seq[DvEntry] = Nil,
      segRefs: Seq[String] = Nil, inlineLines: Seq[String] = Nil,
      colMap: Map[String, String] = Map.empty,
      droppedPhys: Seq[String] = Nil,
      dvp: Seq[DvEntry] = Nil) {
    /** The PRIMARY index column (first of `statsCols`) — what data is
      * range-clustered on; single-column callers see just this. */
    def statsCol: Option[String] = statsCols.headOption
  }

  private[graft] def parseManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): ManifestInfo = {
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString finally in.close()
    val lines = txt.split("\n").toSeq.filter(_.nonEmpty)
    require(lines.headOption.exists(h =>
        h == "graft-snap v1" || h == "graft-snap v2"),
      s"snapshot manifest $p: unrecognized header")
    // metadata block = the tag:/schema:/statscol: lines between the
    // row count and the first data-file line; a data file whose name
    // starts with a meta prefix can never be misparsed
    val meta = lines.drop(2).takeWhile(isMetaLine)
    val inline = lines.drop(2).dropWhile(isMetaLine)
    // v2: `segment:` refs resolve (cached — segments are immutable) to
    // their file lines, in reference order, ahead of any inline tail
    val segRefs = meta.filter(_.startsWith("segment:"))
      .map(_.stripPrefix("segment:"))
    val body =
      if (segRefs.isEmpty) inline
      else segRefs.flatMap(segLines(fs, p.getParent, _)) ++ inline
    val schema = meta.find(_.startsWith("schema:")).map { s =>
      try org.apache.spark.sql.types.DataType
        .fromJson(s.stripPrefix("schema:"))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"snapshot manifest $p: corrupt schema line", e)
      }
    }
    // `statscols:` (plural, comma-separated) is the general form;
    // `statscol:` (singular) remains the written format for the
    // common one-column index — both parse to the ordered list
    val cols = meta.find(_.startsWith("statscols:"))
      .map(_.stripPrefix("statscols:").split(',').toSeq)
      .orElse(meta.find(_.startsWith("statscol:"))
        .map(s => Seq(s.stripPrefix("statscol:"))))
      .getOrElse(Nil)
    ManifestInfo(lines(1).toLong, body, body.map(_.split('|').head),
      schema, cols,
      meta.find(_.startsWith("tag:")).map(_.stripPrefix("tag:")),
      meta.filter(_.startsWith("changes:"))
        .map(_.stripPrefix("changes:")),
      meta.find(_.startsWith("partcols:"))
        .map(_.stripPrefix("partcols:").split(',').toSeq)
        .getOrElse(Nil),
      meta.find(_.startsWith("rewrite:")).map(_.stripPrefix("rewrite:")),
      meta.filter(_.startsWith("dv:"))
        .map(l => parseDv(l.stripPrefix("dv:"))),
      segRefs, inline,
      meta.filter(_.startsWith("colmap:")).map { l =>
        val kv = l.stripPrefix("colmap:").split('=')
        decCol(kv(0)) -> decCol(kv(1))
      }.toMap,
      meta.filter(_.startsWith("droppedphys:"))
        .map(l => decCol(l.stripPrefix("droppedphys:"))),
      meta.filter(_.startsWith("dvp:"))
        .map(l => parseDv(l.stripPrefix("dvp:"))))
  }

  /** Hive-style partition columns recorded on the snapshot's manifest
    * (latest when `asOf` is -1) — the sink's directory-layout rule and
    * the source's directory-pruning handle. */
  private[graft] def snapshotPartCols(
      spark: org.apache.spark.sql.SparkSession, path: String,
      asOf: Int = -1): Seq[String] = {
    val (fs, root, _) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    val id = if (asOf >= 0) asOf else headId(spark, path)
    val p = new org.apache.hadoop.fs.Path(snapsDir,
      f"snapshot-$id%05d.txt")
    if (id == 0 || !fs.exists(p)) Nil
    else parseManifest(fs, p).partCols
  }

  /** The schema recorded at commit time ([[snapshotWrite]] writes a
    * `schema:` metadata line on every commit) — what makes a ZERO-FILE
    * snapshot readable and what the streaming source infers its schema
    * from. Only the metadata block (the `tag:`/`schema:` lines between
    * the row count and the first data-file line) is consulted, so a
    * hypothetical data file named `schema:…` can never be misparsed;
    * a corrupt schema value fails loudly with the manifest path. */
  private[graft] def manifestSchema(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path)
      : Option[org.apache.spark.sql.types.StructType] =
    parseManifest(fs, p).schema

  /** The PRIMARY stats column recorded on the snapshot's manifest
    * (latest when `asOf` is -1). */
  private[graft] def snapshotStatsCol(
      spark: org.apache.spark.sql.SparkSession, path: String,
      asOf: Int = -1): Option[String] =
    snapshotStatsCols(spark, path, asOf).headOption

  /** ALL indexed columns, in manifest line order — the
    * `graft-snapshot` source's pushdown handle. */
  private[graft] def snapshotStatsCols(
      spark: org.apache.spark.sql.SparkSession, path: String,
      asOf: Int = -1): Seq[String] = {
    val (fs, root, _) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    val id = if (asOf >= 0) asOf else headId(spark, path)
    val p = new org.apache.hadoop.fs.Path(snapsDir,
      f"snapshot-$id%05d.txt")
    if (id == 0 || !fs.exists(p)) Nil
    else parseManifest(fs, p).statsCols
  }

  /** `info`'s data files as (ABSOLUTE path, manifest-relative name,
    * recorded per-column stats in `statscols:` order) — the
    * `graft-snapshot` scans' planning core: a pushed-down range on
    * column i keeps only files whose i-th range overlaps (None = no
    * range recorded = always read). Driver-side manifest metadata
    * only. */
  private[graft] def snapshotFileStats(
      spark: org.apache.spark.sql.SparkSession, path: String,
      info: ManifestInfo): Seq[(String, String, Seq[ColStat])] = {
    val (fs, root, _) = fsOf(spark, path)
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    info.statLines.map(statsOfFull)
      .map { case (n, r) => (fs.makeQualified(
        new org.apache.hadoop.fs.Path(dataDir, n)).toString, n, r) }
  }

  /** Manifest-relative data file → ABSOLUTE paths of the deletion
    * sidecars `entries` (a manifest's keyed or its positional ones)
    * attach to it — what the `graft-snapshot` reader hands each file
    * so masked rows never surface. Empty for tables without sidecars
    * (the common case — one map lookup per planned file). */
  private[graft] def sidecarPaths(spark: org.apache.spark.sql.SparkSession,
      path: String, entries: Seq[DvEntry]): Map[String, Seq[String]] =
    if (entries.isEmpty) Map.empty
    else {
      val (fs, root, _) = fsOf(spark, path)
      val dvDir = new org.apache.hadoop.fs.Path(root, "dv")
      entries.groupBy(_.dataFile).view.mapValues(
        _.map(e => fs.makeQualified(new org.apache.hadoop.fs.Path(
          dvDir, e.dvFile)).toString).distinct.sorted).toMap
    }

  /** The FULLY parsed manifest of snapshot `asOf` (-1 = head) — one
    * open+read serving every planning question the `graft-snapshot`
    * source asks (row count for pushed count(*), stat ranges for
    * min/max and file skipping, the stats column identity). None when
    * the table has no commits. */
  private[graft] def snapshotInfo(
      spark: org.apache.spark.sql.SparkSession, path: String,
      asOf: Int = -1): Option[ManifestInfo] = {
    val (fs, root, _) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    val id = if (asOf >= 0) asOf else headId(spark, path)
    val p = new org.apache.hadoop.fs.Path(snapsDir,
      f"snapshot-$id%05d.txt")
    if (id == 0 || !fs.exists(p)) None
    else Some(parseManifest(fs, p))
  }

  /** Manifest file line → (name, per-column ranges in `statscols:`
    * order). A bare name parses to all-None (file committed without
    * stats — always read); an EMPTY field pair is that one column
    * rangeless on this file. split limit -1 keeps trailing empties. */
  private[graft] def statsOf(line: String)
      : (String, Seq[Option[ColRange]]) = {
    val (n, stats) = statsOfFull(line)
    (n, stats.map(_.range))
  }

  /** [[statsOf]] with the per-column NULL COUNTS (round 14 lines):
    * each column contributes two range fields plus an OPTIONAL
    * `n<count>` field — the lookahead is unambiguous because no range
    * field ever starts with 'n'. Two-field (pre-round-14) columns
    * parse with the count unknown. */
  private[graft] def statsOfFull(line: String)
      : (String, Seq[ColStat]) = {
    val p = line.split("\\|", -1) // -1: keep trailing empties
    val out = Seq.newBuilder[ColStat]
    var i = 1
    while (i < p.length) {
      if (i + 1 == p.length) { // dangling half-pair: rangeless
        out += ColStat(None, None); i += 1
      } else {
        val range = ColRange.parse(p(i), p(i + 1))
        i += 2
        val nulls =
          if (i < p.length && p(i).length > 1 && p(i).charAt(0) == 'n'
              && p(i).substring(1).forall(_.isDigit)) {
            val v = p(i).substring(1).toLong; i += 1; Some(v)
          } else None
        out += ColStat(range, nulls)
      }
    }
    (p.head, out.result())
  }

  // (qualified snapshots dir, tag) → committed id. Populated on every
  // tagged claim win and scan hit, so a streaming sink's per-epoch
  // idempotence check is O(1) in the common one-driver-JVM case
  // instead of opening every manifest in history each trigger (O(n²)
  // commit I/O over a query's lifetime). Misses fall back to the
  // authoritative |manifests| scan — the cache only short-circuits to
  // ids that really committed.
  private val tagCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]()

  /** If any committed manifest carries `tag`, return its id (the
    * idempotence lookup for replayed writers); manifests are bounded
    * metadata, the scan is driver-side and cached per (table, tag).
    * Cache hits are VERIFIED: the cached id's manifest must still
    * exist AND still carry the tag (one bounded-text read) — a table
    * deleted and recreated at the same qualified path in the same JVM
    * must not replay a stale tag and short-circuit a real write to a
    * snapshot that no longer exists (or to a recreated table's
    * unrelated commit that happens to reuse the id). A failed check
    * evicts the entry and falls back to the authoritative scan, so
    * the cache only ever short-circuits to ids that really committed
    * this tag. */
  private def tagged(fs: org.apache.hadoop.fs.FileSystem,
      snapsDir: org.apache.hadoop.fs.Path, tag: String): Option[Int] = {
    val key = (fs.makeQualified(snapsDir).toString, tag)
    Option(tagCache.get(key)).map(_.toInt).filter { id =>
      val p = new org.apache.hadoop.fs.Path(snapsDir,
        f"snapshot-$id%05d.txt")
      val live = fs.exists(p) && parseManifest(fs, p).tag.contains(tag)
      if (!live) tagCache.remove(key)
      live
    }.orElse {
      val found = fs.listStatus(snapsDir)
        .flatMap(st => manifestId(st.getPath.getName).map(id => (id, st)))
        .find { case (_, st) =>
          parseManifest(fs, st.getPath).tag.contains(tag)
        }
        .map(_._1)
      found.foreach(id => tagCache.put(key, id))
      found
    }
  }

  /** Commit `df` as the next snapshot of the table at `path`; returns
    * the new snapshot id (1-based). Write order is the crash-safe one:
    * data files first (staged by Spark, then moved under data/ with a
    * per-snapshot prefix), manifest rename LAST — a failure anywhere
    * before the rename leaves the table exactly at its previous
    * snapshot, with at worst orphaned data files that [[vacuum]]
    * removes. Row count comes from the staged parquet FOOTERS (driver
    * metadata, no second scan). */
  def commitSnapshot(df: DataFrame, path: String,
      tag: String = null, statsCol: String = null): Int =
    snapshotWrite(df, path, tag, carryPrevious = false, statsCol)

  /** APPEND `df` as the next snapshot: the new manifest references the
    * previous snapshot's files PLUS the newly staged ones — the proper
    * lakehouse append, O(batch) data written regardless of table size
    * (where [[commitSnapshot]] is the full-replace form and
    * [[mergeSnapshot]] the keyed copy-on-write). Same crash contract:
    * the manifest rename is the commit. */
  def appendSnapshot(df: DataFrame, path: String,
      tag: String = null, statsCol: String = null): Int =
    snapshotWrite(df, path, tag, carryPrevious = true, statsCol)

  /** Shared commit body. `tag` (optional) makes the write IDEMPOTENT:
    * a tag already present on a committed manifest short-circuits to
    * that snapshot's id without writing — the replayed-epoch guard a
    * streaming foreachBatch writer needs (tag = batchId), the manifest
    * analog of the K1/K2 ledgers.
    *
    * `expectedBase` (-1 = unconditional) makes the commit CONDITIONAL:
    * it aborts with [[java.util.ConcurrentModificationException]] when
    * the table head at commit time is not exactly that snapshot id —
    * the conflict-detection half of the optimistic protocol, used by
    * [[mergeSnapshot]] whose survivors were computed from a specific
    * base and would silently drop an interleaved commit if re-based. */
  /** Stage `df` as immutable parquet files under `data/` with the
    * commit-unique prefix `c<tok>-` and return (sorted manifest file
    * lines incl. optional stats, total staged rows). One footer open
    * per staged file gives the row count plus — when `statsCol` is
    * set — the min/max over its row groups: the data-skipping index a
    * pruned read consults WITHOUT touching parquet footers. Shared by
    * [[snapshotWrite]] and [[optimizeSnapshot]] (whose commit rules
    * differ, but whose data staging is identical). */
  private def stageDataFiles(df: DataFrame,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      dataDir: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration,
      statsCol: String, tok: String): (Seq[String], Long) = {
    val stage = new org.apache.hadoop.fs.Path(root, s".stage-$tok")
    // TIMESTAMP columns must stage as TIMESTAMP_MICROS: Spark's
    // legacy INT96 default writes NO column statistics (the index
    // would refuse). Parquet exposes no per-write option, so such a
    // frame is written through a clone of its session that carries
    // the setting — the caller's session conf is never written.
    val hasTs = df.schema.exists(f =>
      f.dataType == org.apache.spark.sql.types.TimestampType ||
        f.dataType == org.apache.spark.sql.types.TimestampNTZType)
    val staging = if (!hasTs) df else {
      val clone = GraftSessionShim.cloneSession(df.sparkSession, None)
      clone.conf.set("spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MICROS")
      GraftSessionShim.rehome(df, clone)
    }
    staging.write.mode("overwrite").parquet(stage.toString)
    val staged = fs.listStatus(stage).filter(st => st.isFile &&
      st.getPath.getName.endsWith(".parquet"))
    // integral and STRING types only: a floating stats value silently
    // truncated to Long would record a WRONG range and mis-skip files
    // later. Integral covers dates/timestamps too (parquet stores them
    // as INT32 days / INT64 micros). Strings record Iceberg-style
    // truncated bounds (see [[ColRange]]).
    def statLong(v: Any, what: String): Long = v match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case s: java.lang.Short => s.longValue()
      case b: java.lang.Byte => b.longValue()
      case other => throw new IllegalArgumentException(
        s"snapshotWrite: statsCol must be integral or string, $what " +
          s"was ${if (other == null) "null" else other.getClass.getName}")
    }
    def statRange(mn: Any, mx: Any, c: String): (Any, Any) =
      (mn, mx) match {
        case (a: org.apache.parquet.io.api.Binary,
            b: org.apache.parquet.io.api.Binary) =>
          (a.toStringUsingUTF8, b.toStringUsingUTF8)
        case _ => (statLong(mn, s"min($c)"), statLong(mx, s"max($c)"))
      }
    val metas = staged.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val rc = r.getRecordCount
        // a ZERO-ROW staged file (an empty DataFrame commit — e.g. the
        // catalog's CREATE TABLE schema commit) has no row groups and
        // therefore no column statistics: it is dropped below, so no
        // ranges are computed. One footer pass serves ALL indexed
        // columns (statsCol accepts "c1,c2,...").
        val stats: Seq[ColStat] =
          if (rc == 0) Nil
          else statsColsOf(statsCol).map { c =>
            import scala.jdk.CollectionConverters._
            import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
            // per block: (min/max when present, null count when set,
            // decimal scale when the column is logically DECIMAL)
            val perBlock: Seq[(Option[(Any, Any)], Option[Long],
                Option[Int])] =
              r.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
                b.getColumns.asScala
                  .find(_.getPath.toDotString == c).map { cc =>
                    val s = cc.getStatistics
                    val pt = cc.getPrimitiveType
                    val tn = pt.getPrimitiveTypeName
                    // legacy INT96 timestamps carry NO usable stats —
                    // indexing one can never work, so stay LOUD (the
                    // writer must emit TIMESTAMP_MICROS)
                    require(tn != INT96,
                      s"snapshotWrite: statsCol '$c' is a legacy " +
                        "INT96 timestamp with no parquet statistics " +
                        "— write with spark.sql.parquet." +
                        "outputTimestampType=TIMESTAMP_MICROS")
                    val decScale = pt.getLogicalTypeAnnotation match {
                      case d: org.apache.parquet.schema
                          .LogicalTypeAnnotation
                          .DecimalLogicalTypeAnnotation =>
                        Some(d.getScale)
                      case _ => None
                    }
                    val nulls =
                      if (s != null && s.isNumNullsSet)
                        Some(s.getNumNulls)
                      else None
                    val range: Option[(Any, Any)] =
                      if (s == null || !s.hasNonNullValue) {
                        // parquet-mr silently OMITS binary chunk
                        // stats when min+max exceed its max-stats
                        // size (~4KB — long URLs/text keys) and
                        // records valueless stats for all-null
                        // chunks: degrade to RANGELESS (always read)
                        // instead of aborting the append. Integral
                        // stats objects are always written; a missing
                        // one is a corrupt write and stays loud.
                        require(s != null ||
                            (tn != INT32 && tn != INT64),
                          s"snapshotWrite: no parquet statistics " +
                            s"for integral column '$c' in " +
                            s"${st.getPath}")
                        None
                      } else
                        Some((s.genericGetMin, s.genericGetMax))
                    (range, nulls, decScale)
                  }
              }
            require(perBlock.nonEmpty,
              s"snapshotWrite: statsCol '$c' not found in ${st.getPath}")
            val nulls: Option[Long] =
              if (perBlock.forall(_._2.isDefined))
                Some(perBlock.map(_._2.get).sum)
              else None
            val decScale = perBlock.head._3
            // the unscaled decimal value of a footer min/max — INT32/
            // INT64 renderings directly, FIXED_LEN_BYTE_ARRAY via
            // big-endian two's-complement (wide decimals whose actual
            // extremes fit a Long still index; others go rangeless)
            def unscaled(v: Any): Option[Long] = v match {
              case i: java.lang.Integer => Some(i.longValue())
              case l: java.lang.Long => Some(l.longValue())
              case b: org.apache.parquet.io.api.Binary =>
                val bi = new java.math.BigInteger(b.getBytes)
                if (bi.bitLength() <= 62) Some(bi.longValue()) else None
              case _ => None
            }
            val range: Option[ColRange] =
              if (perBlock.exists(_._1.isEmpty)) None
              else {
                val blocks = perBlock.map(_._1.get)
                decScale match {
                  case Some(sc) =>
                    val los = blocks.map(p => unscaled(p._1))
                    val his = blocks.map(p => unscaled(p._2))
                    if (los.forall(_.isDefined) &&
                        his.forall(_.isDefined))
                      Some(DecRange(los.flatten.min, his.flatten.max,
                        sc))
                    else None
                  case None =>
                    val typed = blocks.map { case (mn, mx) =>
                      statRange(mn, mx, c) }
                    typed.head match {
                      case (_: String, _) =>
                        val mins = typed.map(_._1.asInstanceOf[String])
                        val maxs = typed.map(_._2.asInstanceOf[String])
                        Some(ColRange.ofStrings(
                          mins.reduce((a, b) =>
                            if (ColRange.cpCompare(a, b) <= 0) a
                            else b),
                          maxs.reduce((a, b) =>
                            if (ColRange.cpCompare(a, b) >= 0) a
                            else b)))
                      case _ =>
                        val ls = typed.map(p =>
                          (p._1.asInstanceOf[Long],
                            p._2.asInstanceOf[Long]))
                        Some(LongRange(ls.map(_._1).min,
                          ls.map(_._2).max))
                    }
                }
              }
            // the ALL-NULL invariant ([[statLine]]): with no range, a
            // null count is recorded only when it is 0 (no claim) or
            // equals the file's row count (PROOF of all-null) — a
            // stats-omitted file with some nulls stays fully unknown
            ColStat(range,
              if (range.isDefined) nulls
              else nulls.filter(k => k == 0L || k == rc))
          }
        (st, rc, stats)
      } finally r.close()
    }
    // ZERO-ROW staged files are dropped, not published: they would sit
    // in every later manifest as rangeless always-read entries (a
    // skewed job can stage many), and a zero-file commit is already
    // readable via the manifest's schema line
    val nameLines = metas.filter(_._2 > 0).map { case (st, _, stats) =>
      val nm = s"c$tok-${st.getPath.getName}"
      renameOrAbort(fs, st.getPath,
        new org.apache.hadoop.fs.Path(dataDir, nm))
      statLineFull(nm, stats)
    }.sorted
    val rows = metas.map(_._2).sum
    fs.delete(stage, true)
    (nameLines, rows)
  }

  private def snapshotWrite(df: DataFrame, path: String, tag: String,
      carryPrevious: Boolean, statsCol: String = null,
      expectedBase: Int = -1): Int = {
    // refuse, before anything is staged, a column type the table's
    // reader cannot load
    graft.sources.SnapshotFileReaderFactory.validate(df.schema)
    val spark = df.sparkSession
    val (fs, root, conf) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    fs.mkdirs(snapsDir); fs.mkdirs(dataDir)
    if (tag != null) tagged(fs, snapsDir, tag) match {
      case Some(existing) => return existing // replayed write, committed
      case None =>
    }
    if (expectedBase >= 0) {
      // cheap pre-flight: abort BEFORE the distributed staging write
      // when the base is already stale (the authoritative check runs
      // again inside the commit critical section)
      val ids = fs.listStatus(snapsDir)
        .flatMap(st => manifestId(st.getPath.getName))
      val head = if (ids.isEmpty) 0 else ids.max
      if (head != expectedBase)
        throw new java.util.ConcurrentModificationException(
          s"snapshot commit at $path: expected base $expectedBase " +
            s"but head is $head — a concurrent commit interleaved; " +
            "recompute from the new head and retry")
    }
    if (carryPrevious) {
      // cheap pre-flight: an append that CHANGES a column's type, or
      // records stats for a different column than the carried history,
      // must abort BEFORE the distributed staging write (authoritative
      // checks recompute against the actual carried head in the commit
      // loop — a re-base may carry a newer, further-evolved head)
      snapshotSchema(spark, path).foreach(unionSchema(_, df.schema))
      val prior = snapshotStatsCols(spark, path)
      val mine = statsColsOf(statsCol)
      if (prior.nonEmpty && mine.nonEmpty)
        require(prior == mine,
          s"appendSnapshot: manifest stats are indexed on " +
            s"'${prior.mkString(",")}' but this append records " +
            s"'${mine.mkString(",")}' — one manifest carries one " +
            "data-skipping index")
    }
    // Data-file names carry a commit-unique token, NOT the snapshot id:
    // staging is uncoordinated, and a lost claim retries with a new id
    // without touching (immutable, still-unreferenced) data files.
    val tok = java.util.UUID.randomUUID().toString.take(8)
    registerTok(tok) // vacuum spares this write's files until released
    try {
      // data files store PHYSICAL column names (stable across
      // renames); the manifest schema stays logical
      val colMap =
        if (carryPrevious)
          snapshotInfo(spark, path).map(_.colMap).getOrElse(Map.empty)
        else Map.empty[String, String]
      val (nameLines, rows) = stageDataFiles(toPhysical(df, colMap),
        fs, root, dataDir, conf, statsToPhysical(statsCol, colMap), tok)
      commitStagedLines(spark, path, nameLines, rows, df.schema, tag,
        carryPrevious, statsCol, expectedBase, tok)
    } finally releaseTok(tok)
  }

  /** The optimistic commit critical section, shared by every writer of
    * the table — [[snapshotWrite]] (whose staging is a Spark parquet
    * write) and the DSv2 `graft-snapshot` sink (whose executors stage
    * files directly and ship their manifest lines in commit messages).
    * `nameLines`/`rows` describe ALREADY-STAGED files under `data/`;
    * everything else follows snapshotWrite's contract (tag idempotence,
    * append re-base, expectedBase abort, schema union, statscol
    * stickiness). Returns the committed id. */
  private[graft] def commitStagedLines(
      spark: org.apache.spark.sql.SparkSession, path: String,
      nameLines: Seq[String], rows: Long,
      writeSchema: org.apache.spark.sql.types.StructType, tag: String,
      carryPrevious: Boolean, statsCol: String,
      expectedBase: Int, tok: String,
      dropFiles: Set[String] = Set.empty, dropRows: Long = 0L,
      extraMeta: Seq[String] = Nil,
      partCols: Seq[String] = Nil,
      dvAdd: Seq[DvEntry] = Nil,
      dvpAdd: Seq[DvEntry] = Nil,
      dvGuard: Option[(Set[String], Seq[String])] = None,
      segRefsOverride: Seq[String] = Nil,
      colMapOverride: Option[(Map[String, String], Seq[String])] = None,
      replaceSchema: Boolean = false,
      statsColsOverride: Option[Seq[String]] = None): Int = {
    require(extraMeta.forall(isMetaLine),
      "commitStagedLines: extraMeta must be recognized metadata lines")
    require(dropFiles.isEmpty || carryPrevious,
      "commitStagedLines: dropFiles is a carry-forward rewrite rule")
    val (fs, root, _) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    fs.mkdirs(snapsDir)
    // Commit critical section — the optimistic claim. Each attempt
    // re-reads the head (the RE-BASE: an append's carried file lines
    // come from whatever head exists NOW, so append∥append commits
    // both with the union visible), writes the manifest to a temp
    // name, and claims `snapshot-<id>.txt` via exists()+rename — on
    // HDFS rename-no-overwrite is a true cross-process CAS; POSIX
    // rename overwrites, so in-process writers (the test topology:
    // many streams, one JVM) are serialized by the per-table lock and
    // exists() narrows the cross-process window. A failed claim
    // deletes the temp manifest and retries with the next id; data
    // files are never touched on retry (staged once, immutable,
    // unreferenced until some manifest wins).
    lockFor(fs, root).synchronized {
      var attempt = 0
      while (true) {
        // a replayed tagged writer may have won while we staged: its
        // committed snapshot is the answer; ours are orphans → vacuum
        if (tag != null) tagged(fs, snapsDir, tag) match {
          case Some(existing) => return existing
          case None =>
        }
        val prev = fs.listStatus(snapsDir)
          .flatMap(st => manifestId(st.getPath.getName))
        val head = if (prev.isEmpty) 0 else prev.max
        if (expectedBase >= 0 && head != expectedBase)
          throw new java.util.ConcurrentModificationException(
            s"snapshot commit at $path: expected base $expectedBase " +
              s"but head is $head — a concurrent commit interleaved; " +
              "recompute from the new head and retry")
        val id = head + 1
        // An append's schema is the UNION of the carried head's and the
        // batch's ([[unionSchema]] — type changes abort, additions are
        // nullable); a replace resets it to the batch's. Computed per
        // attempt: a re-base may carry a head whose schema evolved.
        // The stats COLUMN is sticky the same way: an append without
        // statsCol carries the head's recorded column (its files just
        // have no ranges); recording ranges for a DIFFERENT column than
        // the carried history's aborts — one manifest, one index.
        val (prevRows, carriedSegs, prevLines, schemaLine, statsColLine,
            partColLine, dvCarried, dvpCarried, colMapOut) =
          if (carryPrevious && head > 0) {
            val m = parseManifest(fs, new org.apache.hadoop.fs.Path(
              snapsDir, f"snapshot-$head%05d.txt"))
            // A rewrite (optimizeSnapshot) carries head MINUS the base
            // files it replaced — and must abort if any of them is
            // already gone, because its staged copy would resurrect
            // rows a merge/replace removed in the meantime.
            if (!dropFiles.subsetOf(m.files.toSet))
              throw new java.util.ConcurrentModificationException(
                s"snapshot commit at $path: a concurrent commit " +
                  "removed files this rewrite covers (merge/replace " +
                  "interleaved) — its rows were rewritten or deleted " +
                  "and committing the staged copy would resurrect " +
                  "them; re-run against the new head")
            // DV conflict rule: a rewrite/merge staged from files whose
            // deletion sidecars (keyed OR positional) CHANGED since
            // staging would resurrect the newly-masked rows — abort,
            // the caller re-reads.
            dvGuard.foreach { case (guarded, expected) =>
              val got = (m.dv.filter(e => guarded(e.dataFile))
                .map(_.line) ++
                m.dvp.filter(e => guarded(e.dataFile))
                  .map(_.lineP)).sorted
              if (got != expected.sorted)
                throw new java.util.ConcurrentModificationException(
                  s"snapshot commit at $path: a concurrent commit " +
                    "changed deletion sidecars on files this write " +
                    "staged from — committing would resurrect masked " +
                    "rows; re-run against the new head")
            }
            // replaceSchema (ALTER TABLE): the caller's schema is the
            // new truth — rename/drop/widen are legal there, where a
            // plain append's union would reject them
            val merged =
              if (replaceSchema) writeSchema
              else m.schema match {
                case Some(prior) => unionSchema(prior, writeSchema)
                case None => writeSchema
              }
            val effectiveStats = statsColsOverride.getOrElse(
              (m.statsCols, statsColsOf(statsCol)) match {
                case (prior, mine)
                    if prior.nonEmpty && mine.nonEmpty =>
                  require(prior == mine,
                    s"appendSnapshot: manifest stats are indexed on " +
                      s"'${prior.mkString(",")}' but this append " +
                      s"records '${mine.mkString(",")}' — one " +
                      "manifest carries one data-skipping index")
                  prior
                case (prior, mine) =>
                  if (mine.nonEmpty) mine else prior
              })
            // partition layout is sticky the same way: a writer that
            // declares a DIFFERENT directory layout than the carried
            // history aborts (mixed layouts would defeat pruning)
            val effectiveParts = (m.partCols, partCols) match {
              case (prior, mine) if prior.nonEmpty && mine.nonEmpty =>
                require(prior == mine,
                  s"appendSnapshot: table is partitioned by " +
                    s"'${prior.mkString(",")}' but this write " +
                    s"declares '${mine.mkString(",")}' — one manifest " +
                    "carries one partition layout")
                prior
              case (prior, mine) =>
                if (mine.nonEmpty) mine else prior
            }
            // carry the RAW file lines so earlier commits'
            // data-skipping stats survive an append — SEGMENTS by
            // reference (O(delta) commit cost); a segment holding a
            // dropped file SPILLS its survivors into this commit's new
            // segment/body. dv lines carry the same way, dropping
            // those of replaced files (a rewrite materializes their
            // masks) and adding this commit's new sidecar references.
            val (keepSegs, spilled) =
              if (dropFiles.isEmpty) (m.segRefs, m.inlineLines)
              else {
                val (keep, spill) = m.segRefs.partition(s =>
                  !segLines(fs, snapsDir, s)
                    .exists(l => dropFiles(l.split('|').head)))
                (keep,
                  (spill.flatMap(segLines(fs, snapsDir, _)) ++
                    m.inlineLines)
                    .filterNot(l => dropFiles(l.split('|').head)))
              }
            val dvKept =
              m.dv.filterNot(e => dropFiles(e.dataFile)) ++ dvAdd
            val dvpKept =
              m.dvp.filterNot(e => dropFiles(e.dataFile)) ++ dvpAdd
            (m.rows - dropRows, keepSegs, spilled,
              "schema:" + merged.json,
              statsColsLine(effectiveStats),
              Option(effectiveParts).filter(_.nonEmpty)
                .map("partcols:" + _.mkString(",")),
              dvKept, dvpKept,
              colMapOverride.getOrElse((m.colMap, m.droppedPhys)))
          } else (0L, segRefsOverride, Seq.empty[String],
            "schema:" + writeSchema.json,
            statsColsLine(statsColsOf(statsCol)),
            Option(partCols).filter(_.nonEmpty)
              .map("partcols:" + _.mkString(",")),
            dvAdd, dvpAdd,
            colMapOverride.getOrElse(
              (Map.empty[String, String], Seq.empty[String])))
        // v2 when the head already references segments or the line
        // tail would exceed the threshold: the tail lands in ONE new
        // immutable segment (attempt-unique name; a lost claim's
        // orphan is vacuum-swept) and the head stays O(segments)
        val tailLines = prevLines ++ nameLines
        val (segMeta, bodyLines) =
          if (carriedSegs.isEmpty && tailLines.size <= SegmentThreshold)
            (Seq.empty[String], tailLines)
          else {
            // AUTOMATIC geometric segment merging (round 14): without
            // it every commit appends one segment forever and a
            // long-lived streaming table needs manual
            // `CALL compact_manifests`. LSM rule: while the newest
            // carried segment is no larger than ~2× the pending
            // lines, FOLD it into this commit's new segment (segments
            // are immutable — folding only writes the merged one; the
            // old ones age out with their manifests via vacuum).
            // Segment count stays O(log files), each line is
            // rewritten O(log files) times over the table's life, and
            // a single commit's metadata cost stays amortized
            // O(delta) with the same worst-case full fold a manual
            // compaction would pay.
            var keepSegs2 = carriedSegs
            var pending = tailLines
            while (keepSegs2.nonEmpty && {
              val lastLines = segLines(fs, snapsDir, keepSegs2.last)
              lastLines.size <= 2 * math.max(pending.size,
                SegmentThreshold / 4)
            }) {
              pending = segLines(fs, snapsDir, keepSegs2.last) ++
                pending
              keepSegs2 = keepSegs2.init
            }
            val segName =
              if (pending.isEmpty) None
              else {
                val nm = s"seg-$tok-$attempt.txt"
                val sp = new org.apache.hadoop.fs.Path(snapsDir, nm)
                val so = fs.create(sp, true)
                try so.write(pending.mkString("", "\n", "\n")
                  .getBytes("UTF-8"))
                finally so.close()
                Some(nm)
              }
            ((keepSegs2 ++ segName).map("segment:" + _),
              Seq.empty[String])
          }
        val header =
          if (segMeta.nonEmpty) "graft-snap v2" else "graft-snap v1"
        val tmp = new org.apache.hadoop.fs.Path(snapsDir,
          s".tmp-$tok-$attempt")
        val out = fs.create(tmp, true)
        try out.write(
          (Seq(header, (prevRows + rows).toString) ++
            Option(tag).map("tag:" + _).toSeq ++ Seq(schemaLine) ++
            statsColLine.toSeq ++ partColLine.toSeq ++
            colMapLines(colMapOut._1, colMapOut._2) ++
            dvCarried.map(_.line) ++ dvpCarried.map(_.lineP) ++
            segMeta ++ extraMeta ++
            bodyLines)
            .mkString("", "\n", "\n").getBytes("UTF-8"))
        finally out.close()
        val dest = new org.apache.hadoop.fs.Path(snapsDir,
          f"snapshot-$id%05d.txt")
        val won = !fs.exists(dest) && fs.rename(tmp, dest)
        if (won) {
          if (tag != null) tagCache.put(
            (fs.makeQualified(snapsDir).toString, tag), id)
          return id
        }
        fs.delete(tmp, false) // lost the claim: re-base and retry
        attempt += 1
        if (attempt >= 50) throw new IllegalStateException(
          s"snapshot commit at $path: could not claim an id after " +
            s"$attempt attempts (head kept moving)")
      }
    }
    -1 // unreachable: the loop exits only by return or throw
  }

  /** Range read served by MANIFEST stats — scan planning from the
    * data-skipping index ([[commitSnapshot]]'s statsCol): [[readSnapshot]]
    * plus the exact row-level `between` filter, which the scan pushes
    * down: only files whose recorded [min, max] for `colName` overlaps
    * [lo, hi] are read (files committed without stats are always read
    * — skipping must never change results), so semantics equal
    * readSnapshot + filter while I/O is proportional to the
    * OVERLAPPING files. At 100 TB this is the difference between
    * planning a scan from a |files|-bounded driver-side manifest and
    * opening a million parquet footers. */
  def readSnapshotPruned(spark: org.apache.spark.sql.SparkSession,
      path: String, colName: String, lo: Long, hi: Long,
      asOf: Int = -1): DataFrame = {
    require(lo <= hi, s"readSnapshotPruned: lo $lo > hi $hi")
    readSnapshotPrunedBy(spark, path, colName, LongRange(lo, hi), asOf)
  }

  /** [[readSnapshotPruned]] for STRING-indexed columns (code-point
    * interval, both bounds inclusive): file skipping consults the
    * truncated string bounds conservatively — a file whose stored
    * prefix range touches [lo, hi] is read, and the exact row-level
    * `between` (Spark's UTF-8-byte string order = the stored bounds'
    * order) applies on top. */
  def readSnapshotPrunedStr(spark: org.apache.spark.sql.SparkSession,
      path: String, colName: String, lo: String, hi: String,
      asOf: Int = -1): DataFrame = {
    require(ColRange.cpCompare(lo, hi) <= 0,
      s"readSnapshotPrunedStr: lo '$lo' > hi '$hi'")
    readSnapshotPrunedBy(spark, path, colName, StrRange(lo, Some(hi)),
      asOf)
  }

  private def readSnapshotPrunedBy(
      spark: org.apache.spark.sql.SparkSession,
      path: String, colName: String, q: ColRange, asOf: Int)
      : DataFrame = {
    val df = snapshotFrame(spark, path, asOf, "readSnapshotPruned")
    // the exact filter compares in the COLUMN's own domain: integral
    // bounds are epoch days for DATE and epoch micros for TIMESTAMP
    // (their parquet physical renderings — what the index stores),
    // plain values otherwise
    df.filter(q match {
      case LongRange(lo, hi) =>
        df.schema(colName).dataType match {
          case org.apache.spark.sql.types.DateType =>
            col(colName).between(
              date_from_unix_date(lit(lo.toInt)),
              date_from_unix_date(lit(hi.toInt)))
          case org.apache.spark.sql.types.TimestampType =>
            col(colName).between(
              timestamp_micros(lit(lo)), timestamp_micros(lit(hi)))
          case _ => col(colName).between(lo, hi)
        }
      case StrRange(lo, hi) =>
        col(colName).between(lo, hi.getOrElse(
          throw new IllegalArgumentException(
            "readSnapshotPruned: unbounded query range")))
    })
  }

  /** Read the table at `path` — the latest snapshot, or AS OF
    * `asOf` (time travel) — as a frame over the `graft-snapshot` scan
    * pinned to that snapshot and its recorded schema (a time-travel
    * read across a rename sees the names of its own snapshot). The
    * scan applies deletion sidecars, skips files on pushed predicates
    * and `_file` selections, and exposes the `_file` and `_pos`
    * metadata columns. Columns read as nullable (a file predating an
    * evolved column null-fills it). A zero-file snapshot reads as an
    * empty table of its recorded schema. Loud on a missing snapshot
    * (vacuumed or never committed). */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
      path: String, asOf: Int = -1): DataFrame =
    snapshotFrame(spark, path, asOf, "readSnapshot")

  private def snapshotFrame(spark: org.apache.spark.sql.SparkSession,
      path: String, asOf: Int, caller: String): DataFrame = {
    val (id, info) = manifestAt(spark, path, asOf, caller)
    val schema = info.schema.getOrElse(throw new IllegalArgumentException(
      s"$caller: snapshot $id records no schema"))
    GraftSessionShim.readTable(spark,
      new graft.sources.GraftSnapshotTable(path, nullableStruct(schema), id))
  }

  /** Snapshot `asOf` (-1 = the head) of the table at `path`: its id
    * and parsed manifest. Loud, prefixed with `caller`, when the table
    * has no snapshots or not that one. */
  private def manifestAt(spark: org.apache.spark.sql.SparkSession,
      path: String, asOf: Int, caller: String): (Int, ManifestInfo) = {
    val ids = snapshotIds(spark, path)
    require(ids.nonEmpty, s"$caller: no snapshots at $path")
    val id = if (asOf < 0) ids.max else asOf
    require(ids.contains(id),
      s"$caller: snapshot $id not present at $path " +
        s"(have ${ids.sorted.mkString(",")} — vacuumed or never committed)")
    val (fs, root, _) = fsOf(spark, path)
    (id, parseManifest(fs, new org.apache.hadoop.fs.Path(root,
      f"snapshots/snapshot-$id%05d.txt")))
  }

  /** The committed snapshot ids of the table at `path` (none when it
    * has no `snapshots/` dir): one driver-side directory listing. */
  private def snapshotIds(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Int] = {
    val (fs, root, _) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    if (!fs.exists(snapsDir)) Nil
    else fs.listStatus(snapsDir).toSeq
      .flatMap(st => manifestId(st.getPath.getName))
  }

  /** The table's history as a (snapshot_id, n_files, n_rows,
    * n_manifest_lines) relation — |snapshots| rows of driver-read
    * metadata. `n_manifest_lines` is the manifest's total text-line
    * count (header + metadata + one line per file): the O(files)
    * driver-side cost every commit attempt and read plan pays, made
    * OBSERVABLE so manifest growth shows up in history before it
    * shows up as latency (the Iceberg answer — manifest lists — is
    * the next tier; ManifestScaleSpec pins the current ceiling). */
  def snapshots(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val (fs, root, _) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    val rows = fs.listStatus(snapsDir)
      .flatMap(st => manifestId(st.getPath.getName).map(id => (id, st)))
      .sortBy(_._1)
      .map { case (id, st) =>
        val m = parseManifest(fs, st.getPath)
        val metaLines = 1 + // schema: (every commit records it)
          m.tag.size + m.changes.size + m.segRefs.size + m.dv.size +
          m.dvp.size +
          (if (m.statsCols.nonEmpty) 1 else 0) +
          (if (m.partCols.nonEmpty) 1 else 0)
        (id.toLong, m.files.size.toLong, m.rows,
          (2 + metaLines + m.statLines.size).toLong)
      }.toSeq
    import spark.implicits._
    rows.toDF("snapshot_id", "n_files", "n_rows", "n_manifest_lines")
  }

  /** Which manifest entries hold at least one actual key from
    * `keys`? The merge's candidate-file matcher: rangeless entries
    * are always candidates; ranged ones are checked EXACTLY against
    * the distinct keys (a global [min, max] envelope alone would mark
    * everything when the delta mixes low updates with high inserts —
    * the CDC shape). Pre-narrowed by the delta envelope; then, for a
    * small candidate set, ONE broadcast inequality join; past
    * `nljThreshold` candidates, the BINNED point-in-range join
    * ([[RangeJoin.pointInRange]]) — |keys| × |candidates| comparisons
    * would go superlinear right when both sides are big (a 10⁶-key
    * delta into a 10⁴-file table), while binning keeps the work
    * proportional to keys + exploded bins. Bin width is planned
    * DRIVER-SIDE from the candidate list already in hand (median
    * range length, clamped so the widest range explodes into ≤4096
    * bins). */
  private[graft] def overlappingFiles(keys: DataFrame, keyCol: String,
      entries: Seq[(String, ColStat)],
      nljThreshold: Int = 256): Seq[String] = {
    // rangeless = always a candidate, EXCEPT a provably ALL-NULL key
    // column (range None + nulls > 0, the statLine writer invariant):
    // no non-null delta key can live there, and null delta keys never
    // join (SQL null semantics) — so every merge can skip it instead
    // of rewriting it forever
    val rangeless = entries.collect {
      case (n, ColStat(None, nulls)) if !nulls.exists(_ > 0) => n }
    // DECIMAL ranges ride the integral lane at the KEY column's scale
    // (unscaled longs compare exactly); a file recorded at a DIFFERENT
    // scale (mixed-writer drift) degrades to always-candidate
    val keyScale = keys.schema(keyCol).dataType match {
      case d: org.apache.spark.sql.types.DecimalType => Some(d.scale)
      case _ => None
    }
    val longRanged = entries.collect {
      case (n, ColStat(Some(LongRange(lo, hi)), _)) => (n, lo, hi)
      case (n, ColStat(Some(DecRange(lo, hi, s)), _))
          if keyScale.contains(s) => (n, lo, hi)
    }
    val decOdd = entries.collect {
      case (n, ColStat(Some(DecRange(_, _, s)), _))
          if !keyScale.contains(s) => n }
    val strRanged = entries.collect {
      case (n, ColStat(Some(StrRange(lo, hi)), _)) => (n, lo, hi) }
    rangeless ++ decOdd ++
      overlappingLong(keys, keyCol, longRanged, nljThreshold) ++
      overlappingStr(keys, keyCol, strRanged, nljThreshold)
  }

  /** The key column in its INTEGRAL index domain: epoch days for
    * DATE, epoch micros for TIMESTAMP (the parquet physical renderings
    * the manifest ranges store), plain long cast otherwise. */
  private def keyAsLong(keys: DataFrame,
      keyCol: String): org.apache.spark.sql.Column =
    keys.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.DateType =>
        unix_date(col(keyCol)).cast("long")
      case org.apache.spark.sql.types.TimestampType =>
        unix_micros(col(keyCol))
      case d: org.apache.spark.sql.types.DecimalType =>
        // the UNSCALED integral (what DecRange stores): an exact
        // decimal multiply by 10^scale, then an exact integral cast
        (col(keyCol) * lit(java.math.BigDecimal.TEN.pow(d.scale)))
          .cast("long")
      case _ => col(keyCol).cast("long")
    }

  private def overlappingLong(keys: DataFrame, keyCol: String,
      ranged: Seq[(String, Long, Long)], nljThreshold: Int)
      : Seq[String] = {
    if (ranged.isEmpty) return Nil
    val k = keyAsLong(keys, keyCol)
    val env = keys.agg(min(k), max(k)).head()
    if (env.isNullAt(0)) return Nil // empty delta
    val (kMin, kMax) = (env.getLong(0), env.getLong(1))
    val candidates = ranged.filter { case (_, lo, hi) =>
      hi >= kMin && lo <= kMax }
    if (candidates.isEmpty) return Nil
    val spark = keys.sparkSession
    import spark.implicits._
    if (candidates.size <= nljThreshold) {
      val filesDf = candidates.toDF("__gf_file", "__gf_lo", "__gf_hi")
      keys.join(broadcast(filesDf),
          k >= col("__gf_lo") && k <= col("__gf_hi"))
        .select(col("__gf_file")).distinct()
        .as[String].collect().toSeq
    } else {
      // closed [lo, hi] → half-open [lo, hi+1) for pointInRange;
      // bin width planned from the driver-resident candidate list
      val lens = candidates.map { case (_, lo, hi) =>
        math.min(hi, Long.MaxValue - 1) - lo + 1 }.sorted
      val median = lens(lens.size / 2)
      val binW = math.max(median,
        (lens.last + 4095) / 4096) // widest range ≤ 4096 bins
      val filesDf = candidates.map { case (n, lo, hi) =>
        (n, lo, math.min(hi, Long.MaxValue - 1) + 1)
      }.toDF("__gf_file", "__gf_lo", "__gf_hi1")
      RangeJoin.pointInRange(
        keys.select(k.as("__gf_k")),
        "__gf_k", filesDf, "__gf_lo", "__gf_hi1", binW)
        .select(col("__gf_file")).distinct()
        .as[String].collect().toSeq
    }
  }

  /** The STRING twin of [[overlappingLong]]: exact broadcast
    * inequality join for a small candidate set (Spark compares
    * strings in UTF-8 byte = code point order, matching the stored
    * bounds); past the threshold, the BINNED join runs on the 7-byte
    * prefix ORDINAL ([[ColRange.strOrd]] — a monotone relaxation, so
    * the result is a SUPERSET: never misses a file, may add ordinal-
    * tied false positives whose rewrite is wasted work, not wrong
    * answers). `hi` None (truncation overflow) = unbounded above. */
  private def overlappingStr(keys: DataFrame, keyCol: String,
      ranged: Seq[(String, String, Option[String])], nljThreshold: Int)
      : Seq[String] = {
    if (ranged.isEmpty) return Nil
    import ColRange.{cpCompare, strOrd}
    val env = keys.agg(min(col(keyCol).cast("string")),
      max(col(keyCol).cast("string"))).head()
    if (env.isNullAt(0)) return Nil // empty delta
    val (kMin, kMax) = (env.getString(0), env.getString(1))
    val candidates = ranged.filter { case (_, lo, hi) =>
      hi.forall(h => cpCompare(h, kMin) >= 0) &&
        cpCompare(lo, kMax) <= 0 }
    if (candidates.isEmpty) return Nil
    val spark = keys.sparkSession
    import spark.implicits._
    if (candidates.size <= nljThreshold) {
      val filesDf = candidates
        .map { case (n, lo, hi) => (n, lo, hi.orNull) }
        .toDF("__gf_file", "__gf_lo", "__gf_hi")
      keys.join(broadcast(filesDf),
          col(keyCol).cast("string") >= col("__gf_lo") &&
            (col("__gf_hi").isNull ||
              col(keyCol).cast("string") <= col("__gf_hi")))
        .select(col("__gf_file")).distinct()
        .as[String].collect().toSeq
    } else {
      // Binned ordinal space. An unbounded-above candidate (max-
      // truncation overflow — a run of max code points, vanishingly
      // rare) can hold keys OUTSIDE the common-prefix region, so it
      // is conservatively always-touched rather than binned.
      val (unbounded, bounded) =
        candidates.partition(_._3.isEmpty)
      val always = unbounded.map(_._1)
      if (bounded.isEmpty) return always
      // strip the bounds' longest common prefix before the 7-byte
      // ordinal — keys sharing a long constant prefix would otherwise
      // tie every candidate into one bin (see [[ColRange.commonPrefix]])
      val lcp = ColRange.commonPrefix(
        bounded.flatMap { case (_, lo, hi) => lo +: hi.toSeq })
      val lcpCp = lcp.codePointCount(0, lcp.length)
      def sfx(s: String) = s.substring(lcp.length)
      // closed [ord(lo), ord(hi)] → half-open [ord(lo), ord(hi)+1)
      val ords = bounded.map { case (n, lo, hi) =>
        (n, strOrd(sfx(lo)), strOrd(sfx(hi.get)) + 1) }
      val lens = ords.map { case (_, lo, hi1) => hi1 - lo }.sorted
      val median = math.max(1L, lens(lens.size / 2))
      val binW = math.max(median, (lens.last + 4095) / 4096)
      val filesDf = ords.toDF("__gf_file", "__gf_lo", "__gf_hi1")
      // keys without the prefix match no bounded candidate → ordinal
      // -1 (below every range); substring/ordinals are codegen'd
      val keyOrd = keys
        .select(col(keyCol).cast("string").as("__gf_s"))
        .withColumn("__gf_sfx",
          expr(s"substring(__gf_s, ${lcpCp + 1})"))
        .select(when(col("__gf_s").startsWith(lit(lcp)),
            expr(ColRange.strOrdSql("__gf_sfx")))
          .otherwise(lit(-1L)).as("__gf_k"))
      always ++ RangeJoin.pointInRange(
        keyOrd, "__gf_k", filesDf, "__gf_lo", "__gf_hi1", binW)
        .select(col("__gf_file")).distinct()
        .as[String].collect().toSeq
    }
  }

  /** MERGE INTO the snapshot table — the lakehouse upsert/delete write
    * path (Delta/Iceberg MERGE reduced to the changelog-apply core):
    * `source` carries whole replacement rows plus an op column; rows
    * with op 'd' delete their key, everything else upserts (replaces
    * or inserts whole-row). Produces a NEW snapshot — FILE-PRUNED
    * copy-on-write: when the manifest's data-skipping index covers the
    * merge key (`statscol:` == `keyCol`), only the data files whose
    * recorded [min, max] overlaps an actual delta key are rewritten;
    * every other file is carried forward by reference (the OPTIMIZE
    * commit shape — dropFiles + carryPrevious). A 1,000-row CDC delta
    * into a 100 TB table rewrites the few files holding those keys,
    * not the table. Files without a recorded range, and tables whose
    * index covers a different column, are rewritten conservatively
    * (pruning must never change answers). Time travel to the pre-merge
    * state keeps working and a crash mid-merge leaves the table at its
    * previous snapshot (the [[commitSnapshot]] guarantee). Returns the
    * new id.
    *
    * Scale shape: candidate files come from ONE broadcast join of the
    * delta's distinct keys against the |files|-bounded manifest range
    * index (pre-narrowed by the delta's global [min, max]); survivors
    * are the TOUCHED files' logical rows — [[readSnapshot]] with
    * `_file IN` those files, so their existing sidecars apply in the
    * reader and `_file` keys the per-file accounting — anti-joined
    * against the delta keys; the rewrite stages |touched|
    * range-clustered files, so write volume is O(touched + delta),
    * never O(table). Per-file dropped row counts come from parquet
    * footers of the touched files only.
    *
    * CONFLICTS (the Delta MERGE rules): the merge is conditional on
    * its base — `expectedBase` (-1 = the head at entry) names the
    * snapshot the survivors were computed FROM. If the head moves
    * before commit:
    *  - with an EXPLICIT expectedBase the merge always aborts with
    *    [[java.util.ConcurrentModificationException]] — the caller
    *    pinned the base to coordinate with other writers;
    *  - in the default self-resolving mode, an interleaved commit that
    *    only ADDED files whose recorded key ranges PROVABLY contain no
    *    delta key is re-based over (carried forward untouched — the
    *    disjoint-append case a streaming ingest hits constantly);
    *    anything else — a removed touched file, a rangeless new file,
    *    a possibly-overlapping append, no key index — aborts loudly,
    *    because re-basing could drop or duplicate the interleaved
    *    commit's rows. Callers retry by re-invoking. */
  def mergeSnapshot(spark: org.apache.spark.sql.SparkSession,
      path: String, source: DataFrame, keyCol: String,
      opCol: String, expectedBase: Int = -1,
      changeFeed: Boolean = false,
      dvThreshold: Double = 0.0): Int =
    mergeSnapshotStaged(spark, path, source, keyCol, opCol,
      expectedBase, () => (), changeFeed, dvThreshold)

  /** [[mergeSnapshot]] with a test seam: `onStaged` runs after the
    * rewrite is staged and before the commit loop — the window where a
    * concurrent commit interleaves — so the re-base/abort conflict
    * rules are exercised DETERMINISTICALLY in specs instead of by
    * thread timing. Production callers use [[mergeSnapshot]].
    * `changeFeed` additionally records the merge's row-level changes
    * ([[rowDiff]] of the touched files' old logical rows vs their new
    * logical image — O(touched + delta), same as the merge itself) as
    * change files the `readChangeFeed` streaming source serves.
    *
    * `dvThreshold` (0 = off) enables MERGE-ON-READ: a touched file
    * whose masked-row fraction (delta keys present ÷ logical rows) is
    * at or under the threshold gets a DELETE SIDECAR instead of a
    * rewrite — a 1-row update to a 1 GB file writes the 1-row upsert
    * plus a 1-key sidecar, not the GB. Upserts land as NEW appended
    * files either way; files over the threshold rewrite copy-on-write
    * as before; candidate files the exact key match proves untouched
    * are carried as-is. OPTIMIZE materializes sidecars away. */
  private[graft] def mergeSnapshotStaged(
      spark: org.apache.spark.sql.SparkSession,
      path: String, source: DataFrame, keyCol: String,
      opCol: String, expectedBase: Int, onStaged: () => Unit,
      changeFeed: Boolean = false, dvThreshold: Double = 0.0): Int = {
    require(dvThreshold >= 0.0 && dvThreshold <= 1.0,
      s"mergeSnapshot: dvThreshold must be in [0, 1], got $dvThreshold")
    val (fs, root, conf) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    val (baseId, info) =
      manifestAt(spark, path, expectedBase, "mergeSnapshot")
    val cur = readSnapshot(spark, path, baseId)
    require(source.columns.contains(opCol),
      s"mergeSnapshot: source lacks op column '$opCol'")
    require(source.columns.filter(_ != opCol).sorted
        .sameElements(cur.columns.sorted),
      s"mergeSnapshot: source columns ${source.columns.mkString(",")} " +
        s"(minus $opCol) must match the table's ${cur.columns.mkString(",")}")
    val keys = source.select(col(keyCol)).distinct()
    // position of the merge key in the manifest's indexed columns
    // (ranges are positional; -1 = key not indexed → full rewrite)
    val ki = info.statsCols.indexOf(keyCol)
    val keyIndexed = ki >= 0

    // Which of `entries` (manifest file lines) hold at least one actual
    // delta key? — [[overlappingFiles]] with the key's positional
    // range extracted.
    def overlapping(
        entries: Seq[(String, Seq[ColStat])])
        : Seq[String] = {
      if (!keyIndexed) return entries.map(_._1)
      overlappingFiles(keys, keyCol, entries.map { case (n, rs) =>
        (n, rs.lift(ki).getOrElse(ColStat(None, None))) })
    }

    val baseEntries = info.statLines.map(statsOfFull)
    val touched = overlapping(baseEntries).sorted
    val touchedSet = touched.toSet
    // physical row counts from the touched files' parquet footers —
    // O(touched) driver-side metadata reads, no data scan. LOGICAL
    // rows subtract already-masked sidecar rows.
    val physRows: Map[String, Long] = touched.map { n =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dataDir, n), conf))
      n -> (try r.getRecordCount finally r.close())
    }.toMap
    val priorMasked: Map[String, Long] = info.dv.groupBy(_.dataFile)
      .view.mapValues(_.map(_.masked).sum).toMap
    val priorPosMasked: Map[String, Long] = info.dvp
      .groupBy(_.dataFile).view.mapValues(_.map(_.masked).sum).toMap
    def logicalRows(n: String): Long =
      physRows(n) - priorMasked.getOrElse(n, 0L) -
        priorPosMasked.getOrElse(n, 0L)
    // the touched files' LOGICAL image (existing sidecars applied),
    // with per-row file identity (`_file`, the file's absolute path)
    // for the merge-on-read accounting
    val uris = fileUris(spark, path, info)
    val touchedDfF = cur
      .select((cur.columns.map(col) :+ col("_file")).toIndexedSeq: _*)
      .where(fileIn(uris, touched))
    val touchedDf = touchedDfF.drop("_file")
    val upserts = source.filter(col(opCol) =!= "d").drop(opCol)
      .select(cur.columns.map(col).toIndexedSeq: _*)
    // the new LOGICAL image of the touched files — what the table
    // answers after the merge, however it is physically realized
    val logicalNew = touchedDf.join(keys, Seq(keyCol), "left_anti")
      .unionByName(upserts)

    // Merge-on-read planning: which touched files take a sidecar
    // instead of a rewrite? Decided from ONE semi-join of the touched
    // logical rows against the delta keys, counted per file
    // (|touched|-bounded driver result).
    val maskedPerFile: Map[String, Long] =
      if (dvThreshold == 0.0 || touched.isEmpty) Map.empty
      else rowsPerFile(touchedDfF.join(keys, Seq(keyCol), "left_semi"),
        uris)
    val dvFiles: Seq[String] =
      if (dvThreshold == 0.0) Nil
      else touched.filter { n =>
        val m = maskedPerFile.getOrElse(n, 0L)
        m > 0 && m.toDouble <= dvThreshold * math.max(1L, logicalRows(n))
      }
    val dvSet = dvFiles.toSet
    // untouched-in-fact candidates (binned superset) carry as-is in
    // DV mode; in pure CoW mode every touched file rewrites (the
    // exact key match already proved a hit on each)
    val cowFiles: Seq[String] =
      if (dvThreshold == 0.0) touched
      else touched.filter(n => !dvSet(n) &&
        maskedPerFile.getOrElse(n, 0L) > 0)
    val cowSet = cowFiles.toSet
    // the physical rewrite: survivors of the CoW files + all upserts
    val rewrite = touchedDfF.filter(fileIn(uris, cowFiles)).drop("_file")
      .join(keys, Seq(keyCol), "left_anti")
      .unionByName(upserts)
    // stage ~|rewritten| files, range-clustered on the index column so
    // the data-skipping index stays sharp after the merge
    val nOut = math.max(1, cowFiles.size)
    val packed = info.statsCol match {
      case Some(sc) if rewrite.columns.contains(sc) =>
        rewrite.repartitionByRange(nOut, col(sc))
          .sortWithinPartitions(sc)
      case _ => rewrite.repartition(nOut)
    }
    val tok = java.util.UUID.randomUUID().toString.take(8)
    registerTok(tok)
    try {
    val statsColsStr =
      if (info.statsCols.isEmpty) null else info.statsCols.mkString(",")
    val (newLines, stagedRows) = stageDataFiles(
      toPhysical(packed, info.colMap), fs, root, dataDir, conf,
      statsToPhysical(statsColsStr, info.colMap), tok)
    // ONE sidecar per merge — the delta keys present in the DV files
    // (masking a key absent from a file is a no-op, so the shared
    // sidecar is per-file correct); referenced by one dv: line per
    // file with that file's own masked count for accounting. The
    // sidecar column carries the key's PHYSICAL name (stable across
    // renames, matching what the files store).
    val dvEntries: Seq[DvEntry] =
      if (dvSet.isEmpty) Nil
      else {
        val dvKeys = touchedDfF.join(keys, Seq(keyCol), "left_semi")
          .filter(fileIn(uris, dvFiles))
          .select(col(keyCol).as(physName(info.colMap, keyCol)))
          .distinct()
        val dvName = stageDvFile(dvKeys, fs, root, tok)
        dvFiles.map(n => DvEntry(n, dvName, maskedPerFile(n)))
      }
    // rows leaving the image: CoW files' logical rows + newly masked
    val dropRows = cowFiles.map(logicalRows).sum +
      dvFiles.map(maskedPerFile).sum
    val changeLines =
      if (changeFeed) stageChangeFiles(
        rowDiff(touchedDf, logicalNew, keyCol), fs, root, tok)
      else Nil
    onStaged()

    // Commit, conditional on the base — with the bounded self-rebase
    // loop over PROVABLY key-disjoint interleaved appends (see the
    // conflict contract above). Staged files are immutable; a re-base
    // only re-runs the metadata claim. The dv guard pins the touched
    // files' sidecar set to what this merge staged FROM.
    val dvExpected = info.dv.filter(e => touchedSet(e.dataFile))
      .map(_.line) ++
      info.dvp.filter(e => touchedSet(e.dataFile)).map(_.lineP)
    var base = baseId
    var attempt = 0
    while (true) {
      try {
        return commitStagedLines(spark, path, newLines, stagedRows,
          rewrite.schema, tag = null, carryPrevious = true,
          statsCol = statsColsStr, expectedBase = base,
          tok = tok, dropFiles = cowSet, dropRows = dropRows,
          extraMeta = changeLines, dvAdd = dvEntries,
          dvGuard = Some((touchedSet, dvExpected)))
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (expectedBase >= 0 || attempt >= 5) throw e
          val head = headId(spark, path)
          val headInfo = parseManifest(fs, new org.apache.hadoop.fs
            .Path(snapsDir, f"snapshot-$head%05d.txt"))
          val headFiles = headInfo.files.toSet
          // a removed base/touched file = the interleaved commit was a
          // merge/replace/optimize — its image must win; abort
          if (!touchedSet.subsetOf(headFiles) ||
              !info.files.toSet.subsetOf(headFiles)) throw e
          // an interleaved commit that changed sidecars on our
          // touched files would have its masks resurrected — abort
          if ((headInfo.dv.filter(e => touchedSet(e.dataFile))
              .map(_.line) ++
              headInfo.dvp.filter(e => touchedSet(e.dataFile))
                .map(_.lineP)).sorted != dvExpected.sorted) throw e
          val fresh = headInfo.statLines.map(statsOfFull)
            .filterNot(l => info.files.contains(l._1))
          // safe iff every interleaved file PROVABLY holds no delta
          // key: the index (and the key's position in it) is
          // unchanged and no fresh file is rangeless or
          // key-overlapping (a provably all-null fresh file — range
          // None, nulls > 0 — is disjoint by construction)
          if (headInfo.statsCols != info.statsCols ||
              fresh.exists(e2 => e2._2.lift(ki).forall(s =>
                s.range.isEmpty && !s.nulls.exists(_ > 0))) ||
              overlapping(fresh).nonEmpty) throw e
          base = head // disjoint appends only: carry them and retry
      }
    }
    -1 // unreachable: the loop exits only by return or throw
    } finally releaseTok(tok)
  }

  /** DELETE rows matching a PREDICATE — merge-on-read via POSITIONAL
    * deletion vectors (round 14; Iceberg positional deletes / Delta
    * deletion vectors, by row ordinal): where [[mergeSnapshot]]'s
    * keyed sidecars need the delete expressed as keys of the indexed
    * column, this takes ANY row predicate. A touched file whose
    * matched fraction is at or under `dvThreshold` gets its matched
    * rows' (file basename, physical row ordinal) pairs appended to a
    * shared positional sidecar (`dvp:` manifest lines) — a 10-row
    * delete against a 1 GB file writes a 10-row sidecar, not the GB;
    * files over the threshold (and files whose every logical row
    * matched) rewrite copy-on-write; untouched files carry by
    * reference. OPTIMIZE materializes positional sidecars away
    * exactly like keyed ones, with the same both-direction conflict
    * guards.
    *
    * Scale shape: the SCAN is O(table) — a predicate must be
    * evaluated everywhere (the inherent cost Delta/Iceberg pay too) —
    * but the WRITE is O(matched + rewritten), never O(table), which
    * is the entire point at 100 TB. Ordinals are the scan's `_pos`
    * metadata column (the parquet row index: physical position,
    * stable under projection), which is also how the reader
    * re-applies the mask.
    * `predicate` is a SQL boolean over the table's LOGICAL columns
    * and must be DETERMINISTIC (it is evaluated more than once);
    * NULL evaluates as not-matched, SQL DELETE semantics.
    * `changeFeed` records the matched rows as 'removed' change files.
    * The commit is CONDITIONAL on the base snapshot — a concurrent
    * commit aborts with ConcurrentModificationException and the
    * caller re-invokes (deletes recompute cheaply). Returns the new
    * (or unchanged, when nothing matched) snapshot id. */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession,
      path: String, predicate: String, dvThreshold: Double = 0.05,
      expectedBase: Int = -1, changeFeed: Boolean = false): Int =
    deleteWhereStaged(spark, path, predicate, dvThreshold,
      expectedBase, changeFeed, () => ())

  /** [[deleteWhere]] with the merge-style test seam: `onStaged` runs
    * after staging, before the conditional commit — where a
    * concurrent commit interleaves — so the conflict rules are
    * exercised deterministically in specs. */
  private[graft] def deleteWhereStaged(
      spark: org.apache.spark.sql.SparkSession,
      path: String, predicate: String, dvThreshold: Double,
      expectedBase: Int, changeFeed: Boolean,
      onStaged: () => Unit): Int = {
    require(dvThreshold >= 0.0 && dvThreshold <= 1.0,
      s"deleteWhere: dvThreshold must be in [0, 1], got $dvThreshold")
    val (fs, root, conf) = fsOf(spark, path)
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    val (baseId, info) = manifestAt(spark, path, expectedBase, "deleteWhere")
    if (info.files.isEmpty) return baseId
    val logical = info.schema.getOrElse(throw new IllegalStateException(
      s"deleteWhere at $path: no recorded schema"))
    val uris = fileUris(spark, path, info)
    // the LOGICAL image (existing sidecars applied) with per-row
    // identity: the owning file's absolute path and physical ordinal
    val base = readSnapshot(spark, path, baseId)
    val img = base.select((base.columns.map(col) :+ col("_file") :+
      col("_pos")).toIndexedSeq: _*)
    val cond = coalesce(expr(predicate), lit(false))
    val matched = img.filter(cond)
    val matchedPerFile = rowsPerFile(matched, uris)
    if (matchedPerFile.isEmpty) return baseId // no-op, no empty commit
    val touched = matchedPerFile.keys.toSeq.sorted
    val touchedSet = touched.toSet
    val physRows: Map[String, Long] = touched.map { n =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dataDir, n), conf))
      n -> (try r.getRecordCount finally r.close())
    }.toMap
    val priorKey: Map[String, Long] = info.dv.groupBy(_.dataFile)
      .view.mapValues(_.map(_.masked).sum).toMap
    val priorPos: Map[String, Long] = info.dvp.groupBy(_.dataFile)
      .view.mapValues(_.map(_.masked).sum).toMap
    def logicalRows(n: String): Long =
      physRows(n) - priorKey.getOrElse(n, 0L) -
        priorPos.getOrElse(n, 0L)
    // sidecar files: sparse enough AND not fully emptied (a file whose
    // every logical row matched just drops — no replacement staged)
    val dvpFiles = touched.filter { n =>
      val m = matchedPerFile(n)
      m < logicalRows(n) &&
        m.toDouble <= dvThreshold * math.max(1L, logicalRows(n))
    }
    val dvpSet = dvpFiles.toSet
    val cowFiles = touched.filterNot(dvpSet)
    val tok = java.util.UUID.randomUUID().toString.take(8)
    registerTok(tok)
    try {
      val statsColsStr =
        if (info.statsCols.isEmpty) null else info.statsCols.mkString(",")
      val survivors = img.filter(fileIn(uris, cowFiles)).filter(not(cond))
        .drop("_file", "_pos")
      val nOut = math.max(1, cowFiles.size)
      val packed = info.statsCol match {
        case Some(sc) if survivors.columns.contains(sc) =>
          survivors.repartitionByRange(nOut, col(sc))
            .sortWithinPartitions(sc)
        case _ => survivors.repartition(nOut)
      }
      val (newLines, stagedRows) =
        if (cowFiles.isEmpty) (Nil, 0L)
        else stageDataFiles(toPhysical(packed, info.colMap), fs, root,
          dataDir, conf, statsToPhysical(statsColsStr, info.colMap),
          tok)
      val dvpEntries: Seq[DvEntry] =
        if (dvpFiles.isEmpty) Nil
        else {
          val posKeys = matched.filter(fileIn(uris, dvpFiles))
            .select(substring_index(col("_file"), "/", -1).as("__gf_fb"),
              col("_pos").as("__gf_pos"))
          val nm = stageDvpFile(posKeys, fs, root, tok)
          dvpFiles.map(n => DvEntry(n, nm, matchedPerFile(n)))
        }
      val dropRows = cowFiles.map(logicalRows).sum +
        dvpFiles.map(matchedPerFile).sum
      val changeLines =
        if (changeFeed) stageChangeFiles(
          matched.drop("_file", "_pos")
            .withColumn("_op", lit("removed")),
          fs, root, tok)
        else Nil
      val dvExpected =
        info.dv.filter(e => touchedSet(e.dataFile)).map(_.line) ++
        info.dvp.filter(e => touchedSet(e.dataFile)).map(_.lineP)
      onStaged()
      commitStagedLines(spark, path, newLines, stagedRows, logical,
        tag = null, carryPrevious = true, statsCol = statsColsStr,
        expectedBase = baseId, tok = tok,
        dropFiles = cowFiles.toSet, dropRows = dropRows,
        extraMeta = changeLines, dvpAdd = dvpEntries,
        dvGuard = Some((touchedSet, dvExpected)))
    } finally releaseTok(tok)
  }

  /** Stage a POSITIONAL delete sidecar — (`__gf_fb` file basename,
    * `__gf_pos` physical row ordinal) pairs — under dv/ and return
    * its manifest-relative name. Same crash contract as data files. */
  private def stageDvpFile(positions: DataFrame,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, tok: String): String = {
    val dvDir = new org.apache.hadoop.fs.Path(root, "dv")
    fs.mkdirs(dvDir)
    val stage = new org.apache.hadoop.fs.Path(root, s".stage-$tok-dvp")
    positions.coalesce(1).write.mode("overwrite")
      .parquet(stage.toString)
    val part = fs.listStatus(stage).filter(st => st.isFile &&
      st.getPath.getName.endsWith(".parquet")).head
    val nm = s"c$tok-dvp.parquet"
    renameOrAbort(fs, part.getPath,
      new org.apache.hadoop.fs.Path(dvDir, nm))
    fs.delete(stage, true)
    nm
  }

  /** `info`'s data files as the snapshot scan's `_file` column names
    * them: manifest-relative name → absolute path. */
  private def fileUris(spark: org.apache.spark.sql.SparkSession,
      path: String, info: ManifestInfo): Map[String, String] =
    snapshotFileStats(spark, path, info).map(e => e._2 -> e._1).toMap

  /** The rows of the data files `rels`, by their [[fileUris]] `uris`. */
  private def fileIn(uris: Map[String, String],
      rels: Seq[String]): org.apache.spark.sql.Column =
    udfFreeIsIn(col("_file"), rels.map(uris).toSet)

  /** `df`'s row count per data file it holds rows of (`df` carries
    * `_file`), keyed by manifest-relative name — a |files|-bounded
    * driver result. */
  private def rowsPerFile(df: DataFrame,
      uris: Map[String, String]): Map[String, Long] = {
    val relOf = uris.map(_.swap)
    df.groupBy("_file").count().collect()
      .map(r => relOf(r.getString(0)) -> r.getLong(1)).toMap
  }

  /** Membership test as a broadcast-friendly column predicate. For the
    * bounded file-identity sets here (|touched| paths) a literal isin
    * is codegen'd; kept as a helper so the call sites read as intent. */
  private def udfFreeIsIn(c: org.apache.spark.sql.Column,
      values: Set[String]): org.apache.spark.sql.Column =
    if (values.isEmpty) lit(false) else c.isin(values.toSeq: _*)

  /** The PHYSICAL key column names the snapshot's live deletion
    * sidecars mask on — one footer open per DISTINCT sidecar file
    * (bounded by merges-since-optimize, driver-side metadata).
    * DDL consults this before dropping a column: reader-side masking
    * joins on the sidecar's key, so dropping that column would make
    * the table unreadable until OPTIMIZE materializes the masks. */
  private[graft] def dvKeyPhysCols(
      spark: org.apache.spark.sql.SparkSession, path: String,
      info: ManifestInfo): Set[String] = {
    if (info.dv.isEmpty) return Set.empty
    val (_, root, conf) = fsOf(spark, path)
    val dvDir = new org.apache.hadoop.fs.Path(root, "dv")
    info.dv.map(_.dvFile).distinct.map { d =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dvDir, d), conf))
      try r.getFooter.getFileMetaData.getSchema.getFieldName(0)
      finally r.close()
    }.toSet
  }

  /** Stage the merge's delete sidecar under dv/ and return its
    * manifest-relative name. One small parquet (the masked keys),
    * staged then renamed — same crash contract as data files. */
  private def stageDvFile(dvKeys: DataFrame,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, tok: String): String = {
    val dvDir = new org.apache.hadoop.fs.Path(root, "dv")
    fs.mkdirs(dvDir)
    val stage = new org.apache.hadoop.fs.Path(root, s".stage-$tok-dv")
    dvKeys.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = fs.listStatus(stage).filter(st => st.isFile &&
      st.getPath.getName.endsWith(".parquet")).head
    val nm = s"c$tok-dv.parquet"
    renameOrAbort(fs, part.getPath,
      new org.apache.hadoop.fs.Path(dvDir, nm))
    fs.delete(stage, true)
    nm
  }

  /** Row-level diff of two relations with the SAME columns, keyed by
    * `keyCol` — the change-feed generator: emits `_op` = 'removed'
    * (key only in `oldDf`, old row), 'changed' (both, any column
    * differs — new row), 'added' (key only in `newDf`, new row);
    * identical rows emit nothing. ONE full-outer join on the key;
    * content equality is an md5 over the canonical JSON of the row
    * struct (column order fixed by sorting names), so wide payloads
    * compare without N per-column predicates. */
  private[graft] def rowDiff(oldDf: DataFrame, newDf: DataFrame,
      keyCol: String): DataFrame = {
    val cols = oldDf.columns.sorted.toSeq
    require(newDf.columns.sorted.toSeq == cols,
      s"rowDiff: column sets differ: ${oldDf.columns.mkString(",")} " +
        s"vs ${newDf.columns.mkString(",")}")
    def packed(df: DataFrame, side: String) = df.select(
      col(keyCol).as(s"__${side}_key"),
      struct(cols.map(col): _*).as(s"__${side}_row"),
      md5(to_json(struct(cols.map(col): _*))).as(s"__${side}_dig"))
    val o = packed(oldDf, "o")
    val n = packed(newDf, "n")
    val joined = o.join(n, col("__o_key") === col("__n_key"),
      "full_outer")
    val op = when(col("__o_dig").isNull, lit("added"))
      .when(col("__n_dig").isNull, lit("removed"))
      .when(col("__o_dig") =!= col("__n_dig"), lit("changed"))
    val pick = when(op === "removed", col("__o_row"))
      .otherwise(col("__n_row"))
    joined.filter(op.isNotNull)
      .select((cols.map(c => pick.getField(c).as(c)) :+
        op.as("_op")): _*)
  }

  /** Stage a change-feed relation (table columns + `_op`) under the
    * table's `changes/` dir and return the `changes:` meta lines that
    * publish it on a manifest. Change files are side metadata: never
    * part of the table image, read only by change-feed consumers, and
    * vacuumed with the manifest that references them. */
  private def stageChangeFiles(changes: DataFrame,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, tok: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(root, "changes")
    fs.mkdirs(dir)
    val stage = new org.apache.hadoop.fs.Path(root, s".stage-$tok-cdf")
    changes.write.mode("overwrite").parquet(stage.toString)
    val lines = fs.listStatus(stage).filter(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet"))
      .filter(_.getLen > 0).map { st =>
        val nm = s"c$tok-${st.getPath.getName}"
        renameOrAbort(fs, st.getPath,
          new org.apache.hadoop.fs.Path(dir, nm))
        s"changes:$nm"
      }.toSeq.sorted
    fs.delete(stage, true)
    lines
  }

  /** The RECORDED change feed of commit `id` (table columns + `_op`),
    * or None when that commit recorded none — append commits need no
    * recording (their changes ARE the new files, op 'added'); see
    * the `graft-snapshot` source's `readChangeFeed` option for the
    * streaming surface. */
  private[graft] def changeFeedOf(
      spark: org.apache.spark.sql.SparkSession, path: String,
      id: Int): Option[DataFrame] = {
    val (fs, root, _) = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, "snapshots"),
      f"snapshot-$id%05d.txt")
    require(fs.exists(p), s"changeFeedOf: snapshot $id not at $path")
    val info = parseManifest(fs, p)
    if (info.changes.isEmpty) None
    else {
      val dir = new org.apache.hadoop.fs.Path(root, "changes")
      Some(spark.read.parquet(info.changes.map(c =>
        new org.apache.hadoop.fs.Path(dir, c).toString): _*))
    }
  }

  /** CHANGE-FEED planning for the `readChangeFeed` streaming source:
    * for every commit in `(fromId, toId]`, the files a consumer reads
    * and the constant `_op` to synthesize (None = the file is a
    * RECORDED change file under changes/ carrying its own `_op`
    * column). Rules, per commit:
    *  - recorded change files (merge / restore-with-key) carry their
    *    own exact `_op` column — read as-is;
    *  - `rewrite:optimize` (bin-pack / ZORDER) changes ZERO rows —
    *    emits NOTHING (Delta CDF semantics: compaction is invisible
    *    to change consumers);
    *  - everything else emits the FILE-SET diff vs the previous
    *    commit: files the commit introduced as 'added', files it
    *    removed as 'removed' — exact for appends (new files ARE the
    *    new rows) and for full replaces (old image retracted, new
    *    image added), file-granular for unrecorded restores. A
    *    replaced-in-place row thus appears as removed+added; commits
    *    wanting row-level 'changed' granularity record change files.
    * Driver-side manifest metadata only. */
  private[graft] def changeFeedPlan(
      spark: org.apache.spark.sql.SparkSession, path: String,
      fromId: Int, toId: Int): Seq[(String, Option[String])] = {
    val (fs, root, _) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    val changesDir = new org.apache.hadoop.fs.Path(root, "changes")
    def infoOf(id: Int) = parseManifest(fs,
      new org.apache.hadoop.fs.Path(snapsDir, f"snapshot-$id%05d.txt"))
    (fromId + 1 to toId).flatMap { id =>
      val info = infoOf(id)
      if (info.changes.nonEmpty)
        info.changes.map(c => (fs.makeQualified(
          new org.apache.hadoop.fs.Path(changesDir, c)).toString,
          None))
      else if (info.rewrite.contains("optimize")) Nil
      else {
        val prev =
          if (id == 1) Set.empty[String] else infoOf(id - 1).files.toSet
        val cur = info.files.toSet
        def q(f: String) = fs.makeQualified(
          new org.apache.hadoop.fs.Path(dataDir, f)).toString
        (cur -- prev).toSeq.sorted.map(f => (q(f), Some("added"))) ++
          (prev -- cur).toSeq.sorted.map(f => (q(f), Some("removed")))
      }
    }
  }

  /** Incremental snapshot consumption — the rows introduced between
    * two snapshot ids, computed as the FILE-SET difference of their
    * manifests (driver-side metadata; no data diff): the batch
    * primitive behind tail-the-table consumers (Delta's
    * startingVersion / Iceberg's incremental scan). Exact for
    * append-committed history ([[appendSnapshot]] — new files ARE the
    * new rows); a full-replace commit ([[commitSnapshot]],
    * [[mergeSnapshot]]) introduces all its files, so its whole image
    * is emitted — the reprocess-on-rewrite convention incremental
    * consumers expect. `fromId` = 0 reads everything up to `toId`. */
  def readSnapshotChanges(spark: org.apache.spark.sql.SparkSession,
      path: String, fromId: Int, toId: Int = -1): DataFrame = {
    require(fromId >= 0, s"readSnapshotChanges: fromId must be >= 0")
    val (to, _) = manifestAt(spark, path, toId, "readSnapshotChanges")
    require(fromId == 0 || snapshotIds(spark, path).contains(fromId),
      s"readSnapshotChanges: snapshot $fromId not present at $path " +
        "(vacuumed history cannot anchor an incremental read)")
    require(fromId <= to,
      s"readSnapshotChanges: fromId $fromId > toId $to")
    // the TO snapshot governs: a change window spanning an append-time
    // evolution still reads one stable column layout, and rows the TO
    // snapshot's sidecars mask are already gone
    readSnapshot(spark, path, to).where(udfFreeIsIn(col("_file"),
      changedFilePaths(spark, path, fromId, to).map(_._1).toSet))
  }

  /** The newest snapshot id whose manifest was committed at or before
    * `tsMillis` (manifest file modification time = commit time) — the
    * catalog's `TIMESTAMP AS OF` resolution. None when the table has
    * no commit that old. */
  private[graft] def snapshotIdAtTime(
      spark: org.apache.spark.sql.SparkSession, path: String,
      tsMillis: Long): Option[Int] = {
    val (fs, root, _) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    if (!fs.exists(snapsDir)) return None
    fs.listStatus(snapsDir)
      .flatMap(st => manifestId(st.getPath.getName)
        .filter(_ => st.getModificationTime <= tsMillis))
      .sorted.lastOption
  }

  /** Current head snapshot id (0 = no commits yet) — the streaming
    * source's offset probe: one driver-side directory listing. */
  private[graft] def headId(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    snapshotIds(spark, path).maxOption.getOrElse(0)

  /** Schema recorded on the snapshot's manifest (latest when `asOf` is
    * -1) — what `format("graft-snapshot")` infers its schema from. */
  private[graft] def snapshotSchema(
      spark: org.apache.spark.sql.SparkSession, path: String,
      asOf: Int = -1): Option[org.apache.spark.sql.types.StructType] = {
    val (fs, root, _) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    val id = if (asOf >= 0) asOf else headId(spark, path)
    val p = new org.apache.hadoop.fs.Path(snapsDir,
      f"snapshot-$id%05d.txt")
    if (id == 0 || !fs.exists(p)) None else manifestSchema(fs, p)
  }

  /** (ABSOLUTE, manifest-relative) data-file paths introduced between
    * two snapshot ids — [[readSnapshotChanges]]' planning core,
    * exposed for the streaming source's `planInputPartitions` (one
    * partition per file; the relative name keys the TO snapshot's
    * deletion-sidecar lookup so streamed rows match the batch twin's
    * DV-applied image). Same contract: exact for appends, full image
    * for rewrites, `fromId` 0 reads everything; driver-side manifest
    * metadata only. */
  private[graft] def changedFilePaths(
      spark: org.apache.spark.sql.SparkSession, path: String,
      fromId: Int, toId: Int): Seq[(String, String)] = {
    val (fs, root, _) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    def files(id: Int): Set[String] =
      if (id == 0) Set.empty
      else parseManifest(fs, new org.apache.hadoop.fs.Path(snapsDir,
        f"snapshot-$id%05d.txt")).files.toSet
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    (files(toId) -- files(fromId)).toSeq.sorted
      .map(f => (fs.makeQualified(
        new org.apache.hadoop.fs.Path(dataDir, f)).toString, f))
  }

  /** OPTIMIZE (bin-pack): rewrite snapshot `baseId`'s data files into
    * ~`targetRowsPerFile`-sized files and commit the content-identical
    * result as a NEW snapshot — Delta's OPTIMIZE / Iceberg's
    * rewrite_data_files, reduced to the small-files cure a streaming
    * ingest needs (every micro-batch append lands a few tiny files;
    * after N triggers the head plans N× too many tasks and every scan
    * pays N× the footer/open cost). Time travel to the pre-optimize
    * snapshots keeps working; `statsCol` re-records the data-skipping
    * index on the compacted files (a repartition scrambles ranges, so
    * stats must be recomputed, never carried).
    *
    * CONFLICTS (the rule that distinguishes this commit from both
    * appends and merges): a rewrite's content must stay identical, so
    *  - concurrent APPENDS are COMPATIBLE — their files are disjoint
    *    from the rewrite's coverage, and the optimize RE-BASES by
    *    carrying them forward into its manifest;
    *  - any commit that REMOVED a base file (merge / full replace /
    *    another optimize) ABORTS with
    *    [[java.util.ConcurrentModificationException]] — those rows were
    *    rewritten or deleted, and committing the compacted copy would
    *    resurrect them.
    * `baseId` (-1 = head at entry) names the snapshot being compacted —
    * explicit so a caller coordinating with other writers can pin it.
    * Returns the new snapshot id — or `baseId` unchanged (NO commit)
    * when the table already meets the target, so maintenance loops are
    * idempotent and never stack empty history.
    *
    * `zorderBy` (round 12): cluster the rewrite by the MORTON
    * interleave of several columns instead of a single range sort —
    * Delta's ZORDER BY. Each output file then covers a tight
    * rectangle in EVERY listed dimension, so the per-file [min, max]
    * index (recorded for all listed columns — statsCol defaults to
    * them) prunes predicates on ANY of them, where a single-column
    * sort can only prune its leading column. Values are shifted by
    * their per-column minimum before interleaving (one extra agg over
    * the base), so negative domains work; 16 bits per column. */
  def optimizeSnapshot(spark: org.apache.spark.sql.SparkSession,
      path: String, targetRowsPerFile: Long, statsCol: String = null,
      baseId: Int = -1, zorderBy: Seq[String] = Nil): Int = {
    require(targetRowsPerFile > 0,
      s"optimizeSnapshot: targetRowsPerFile must be > 0, got " +
        s"$targetRowsPerFile")
    val (fs, root, conf) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    val base = if (baseId >= 0) baseId else headId(spark, path)
    require(base > 0, s"optimizeSnapshot: no snapshots at $path")
    val baseManifest = new org.apache.hadoop.fs.Path(snapsDir,
      f"snapshot-$base%05d.txt")
    require(fs.exists(baseManifest),
      s"optimizeSnapshot: snapshot $base not present at $path")
    val baseInfo = parseManifest(fs, baseManifest)
    val (baseRows, baseFiles) = (baseInfo.rows, baseInfo.files)
    val nTarget = math.max(1L,
      (baseRows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    // a Z-ORDER request is a re-LAYOUT, not just a bin-pack: it must
    // run even when the file count is already at target; a table with
    // deletion sidecars always rewrites — materializing the masks is
    // the maintenance this call exists for
    if (baseFiles.size <= nTarget && zorderBy.isEmpty &&
        baseInfo.dv.isEmpty && baseInfo.dvp.isEmpty)
      return base // already compact
    // a zorder rewrite records the index on its clustering columns
    // unless the caller chose explicitly
    val effStatsCol =
      if (zorderBy.nonEmpty && statsCol == null) zorderBy.mkString(",")
      else statsCol
    // cheap pre-flight (same rule as appendSnapshot's): recording
    // ranges for different columns than the history's must abort
    // BEFORE the distributed rewrite, not after it staged everything
    locally {
      val prior = snapshotStatsCols(spark, path)
      val mine = statsColsOf(effStatsCol)
      if (prior.nonEmpty && mine.nonEmpty)
        require(prior == mine,
          s"optimizeSnapshot: manifest stats are indexed on " +
            s"'${prior.mkString(",")}' but the rewrite records " +
            s"'${mine.mkString(",")}' — one manifest carries one " +
            "data-skipping index")
    }
    // The distributed rewrite happens OUTSIDE the commit critical
    // section (optimistic staging, same as snapshotWrite): reads
    // exactly the base's files, repartitions to the bin-packed count.
    // With a statsCol the rewrite RANGE-clusters on it — a round-robin
    // bin-pack would scatter every key range across every output file
    // and flatten the data-skipping index compaction exists to sharpen;
    // range partitioning keeps per-file [min, max] disjoint, so pruned
    // reads stay one-file-per-range after the optimize. With zorderBy,
    // clustering is on the MORTON interleave of the (min-shifted,
    // scale-bucketed to 16 bits) columns — every output file covers a
    // tight rectangle in every listed dimension.
    val tok = java.util.UUID.randomUUID().toString.take(8)
    registerTok(tok)
    try {
    val baseDf = readSnapshot(spark, path, base)
    val packed =
      if (zorderBy.nonEmpty) {
        require(zorderBy.size >= 2 && zorderBy.size * 16 <= 62,
          s"optimizeSnapshot: zorderBy takes 2 or 3 columns, got " +
            s"${zorderBy.mkString(",")}")
        zorderBy.foreach(c => require(baseDf.columns.contains(c),
          s"optimizeSnapshot: zorderBy column '$c' not in the table"))
        // per-column [min, max] in ONE agg: shift to zero and bucket
        // into 16 bits so any integral domain interleaves losslessly
        // up to 65536 buckets per dimension
        val aggCols = zorderBy.flatMap(c => Seq(
          min(col(c).cast("long")), max(col(c).cast("long"))))
        val exts = baseDf.agg(aggCols.head, aggCols.tail: _*).head()
        val shifted = zorderBy.zipWithIndex.map { case (c, i) =>
          val mi = if (exts.isNullAt(2 * i)) 0L else exts.getLong(2 * i)
          val ma =
            if (exts.isNullAt(2 * i + 1)) 0L else exts.getLong(2 * i + 1)
          val scale = math.max(1L, (ma - mi) / 65536L + 1L)
          // `div` = integer division (plain `/` is DOUBLE in Spark SQL)
          s"((CAST($c AS BIGINT) - ($mi)) div $scale)"
        }
        baseDf.withColumn("__gf_z", expr(zValueSql(shifted, 16)))
          .repartitionByRange(nTarget, col("__gf_z"))
          .sortWithinPartitions("__gf_z")
          .drop("__gf_z")
      } else statsColsOf(effStatsCol).headOption match {
        case Some(sc) =>
          baseDf.repartitionByRange(nTarget, col(sc))
            .sortWithinPartitions(sc)
        case None => baseDf.repartition(nTarget)
      }
    val (newLines, stagedRows) = stageDataFiles(
      toPhysical(packed, baseInfo.colMap), fs, root, dataDir, conf,
      statsToPhysical(effStatsCol, baseInfo.colMap), tok)
    require(stagedRows == baseRows,
      s"optimizeSnapshot: rewrite produced $stagedRows rows from a " +
        s"$baseRows-row snapshot — refusing to commit a lossy rewrite")
    // The commit is the SHARED optimistic critical section with the
    // rewrite conflict rule expressed as dropFiles: carry head minus
    // the base's files (re-base over interleaved appends), abort when
    // any base file is already gone, total = (headRows − baseRows) +
    // stagedRows = headRows — content identical by construction.
    // `rewrite:optimize` marks the commit as CONTENT-IDENTICAL, so the
    // change feed emits nothing for it (compaction changes zero rows —
    // Delta CDF semantics) instead of replaying the whole image
    commitStagedLines(spark, path, newLines, stagedRows,
      baseInfo.schema.getOrElse(throw new IllegalStateException(
        s"optimizeSnapshot at $path: no recorded schema")),
      tag = null, carryPrevious = true, statsCol = effStatsCol,
      expectedBase = -1, tok = tok,
      dropFiles = baseFiles.toSet, dropRows = baseRows,
      extraMeta = Seq("rewrite:optimize"),
      // sidecars of the dropped files are MATERIALIZED by this rewrite
      // (the staged copy read the DV-applied image); the guard aborts
      // if a concurrent merge added masks after staging — committing
      // would resurrect them
      dvGuard = Some((baseFiles.toSet,
        baseInfo.dv.filter(e => baseFiles.contains(e.dataFile))
          .map(_.line) ++
        baseInfo.dvp.filter(e => baseFiles.contains(e.dataFile))
          .map(_.lineP))))
    } finally releaseTok(tok)
  }

  /** RESTORE the table to snapshot `toId` (Delta RESTORE / Iceberg
    * rollback-to-snapshot): commits a NEW head whose manifest
    * references exactly `toId`'s files — pure metadata, no data moves,
    * and history stays LINEAR (the bad head remains time-travelable
    * until vacuumed). The commit is CONDITIONAL on the head the
    * restore decided against — an interleaved append aborts it with
    * [[java.util.ConcurrentModificationException]] rather than being
    * silently dropped from the replacement image (mergeSnapshot's
    * rule: a full-image commit must never re-base).
    * Shared files survive a later vacuum because retention is computed
    * from kept manifests' reference sets, never file age. Idempotent:
    * restoring to an image identical to the current head returns the
    * head unchanged with NO empty commit. Loud on a vacuumed or
    * never-committed `toId`. Returns the new (or unchanged) head id.
    *
    * `changeFeedKey` (optional): record the restore's row-level
    * changes keyed by that column — the inverse of whatever the rolled-
    * back commits did, computed as [[rowDiff]](head image, target
    * image). This is the one restore path that READS data (both
    * images); leave it null for the pure-metadata restore. */
  def restoreSnapshot(spark: org.apache.spark.sql.SparkSession,
      path: String, toId: Int, changeFeedKey: String = null): Int = {
    val (fs, root, _) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    val p = new org.apache.hadoop.fs.Path(snapsDir,
      f"snapshot-$toId%05d.txt")
    require(toId > 0 && fs.exists(p),
      s"restoreSnapshot: snapshot $toId not present at $path " +
        "(vacuumed or never committed)")
    val head = headId(spark, path)
    val headManifest = new org.apache.hadoop.fs.Path(snapsDir,
      f"snapshot-$head%05d.txt")
    val info = parseManifest(fs, p)
    if (head != toId &&
        parseManifest(fs, headManifest).files.toSet == info.files.toSet)
      return head // already at this image: maintenance-loop idempotence
    if (head == toId) return head
    val schema = info.schema.getOrElse(
      throw new IllegalStateException(
        s"restoreSnapshot: snapshot $toId records no schema"))
    val tok = java.util.UUID.randomUUID().toString.take(8)
    registerTok(tok)
    try {
    val changeLines =
      if (changeFeedKey == null) Nil
      else stageChangeFiles(
        rowDiff(readSnapshot(spark, path, head),
          readSnapshot(spark, path, toId), changeFeedKey),
        fs, root, tok)
    // CONDITIONAL on the head the restore decision was made against:
    // a concurrent append interleaving between the head read and the
    // claim would be silently excluded by an unconditional replace, so
    // the commit aborts with ConcurrentModificationException instead —
    // the caller re-decides against the new head and retries.
    // partCols: the restored manifest keeps the target's recorded
    // partition layout (dropping it would silently stop directory
    // pruning and the sticky-layout contract from then on); the
    // `rewrite:restore` marker tells change-feed planning this commit
    // is a rewrite, not an append.
    // the target's inline lines + segment REFS (segments are
    // immutable, so the restore is pure metadata even on a v2 table)
    // and its sidecar references ARE its image
    // colMapOverride: the restored manifest must keep the target's
    // column-mapping state (colmap:/droppedphys: lines) — dropping it
    // would make readers resolve renamed columns by LOGICAL name
    // against files storing physical names (those columns read NULL on
    // every pre-existing file), and losing droppedphys: would let a
    // later ADD COLUMN reuse a retired physical name, resurrecting
    // orphaned values from old files.
    commitStagedLines(spark, path, info.inlineLines, info.rows, schema,
      tag = null, carryPrevious = false,
      statsCol =
        if (info.statsCols.isEmpty) null else info.statsCols.mkString(","),
      expectedBase = head,
      tok = tok, extraMeta = changeLines :+ "rewrite:restore",
      partCols = info.partCols,
      dvAdd = info.dv,
      dvpAdd = info.dvp,
      segRefsOverride = info.segRefs,
      colMapOverride = Some((info.colMap, info.droppedPhys)))
    } finally releaseTok(tok)
  }

  /** Compact the head's manifest SEGMENTS into one (v2 maintenance):
    * every commit adds a segment, so a long-lived append-heavy table
    * accretes a segment per commit and head parsing pays one open per
    * segment (cached, but cold starts and other JVMs pay it). This
    * rewrites the METADATA only — same data files, same rows, same
    * image — as a new commit whose resolved lines land in a single
    * fresh segment (or inline v1 when small). Content-identical, so
    * the change feed emits nothing (the file-set diff is empty).
    * Conditional on the head; idempotent at ≤1 segment. Returns the
    * (possibly unchanged) head id. */
  def compactManifestSegments(
      spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    val head = headId(spark, path)
    require(head > 0, s"compactManifestSegments: no snapshots at $path")
    val info = snapshotInfo(spark, path, head).get
    if (info.segRefs.size <= 1) return head // already compact
    val tok = java.util.UUID.randomUUID().toString.take(8)
    registerTok(tok)
    try commitStagedLines(spark, path, info.statLines, info.rows,
      info.schema.getOrElse(throw new IllegalStateException(
        s"compactManifestSegments at $path: no recorded schema")),
      tag = null, carryPrevious = false,
      statsCol =
        if (info.statsCols.isEmpty) null else info.statsCols.mkString(","),
      expectedBase = head, tok = tok,
      partCols = info.partCols, dvAdd = info.dv, dvpAdd = info.dvp,
      colMapOverride = Some((info.colMap, info.droppedPhys)))
    finally releaseTok(tok)
  }

  /** Retention: keep the newest `keepLast` snapshots, drop older
    * manifests, and delete every data file no kept snapshot references
    * (including orphans from crashed commits), plus crash-leftover
    * `.stage-*` directories. Returns (manifests dropped, data files
    * deleted — stage-dir contents not counted). Kept snapshots remain
    * byte-identical readable — files shared with dropped history
    * survive because retention is computed from the KEPT manifests'
    * reference set, not from file age.
    *
    * CONCURRENCY: vacuum runs under the table's commit lock, so a
    * same-JVM writer can never publish files between vacuum's manifest
    * read and its data sweep (the maintenance-beside-streaming
    * topology). Cross-process, two guards narrow the race Delta closes
    * with retention windows: the referenced set is recomputed until
    * the manifest listing is STABLE across the sweep planning (a
    * manifest that lands mid-plan is honored), and `graceMs` spares
    * any unreferenced file/stage dir modified within the last graceMs
    * milliseconds — an in-flight cross-process commit's staged-then-
    * renamed files are younger than any sane grace period. Default 0
    * keeps single-writer maintenance (and the test topology) eager;
    * production multi-writer deployments pass hours, Delta-style. */
  def vacuum(spark: org.apache.spark.sql.SparkSession, path: String,
      keepLast: Int, graceMs: Long = 0L): (Int, Int) = {
    require(keepLast >= 1, s"vacuum: keepLast must be >= 1, got $keepLast")
    require(graceMs >= 0L, s"vacuum: graceMs must be >= 0, got $graceMs")
    val (fs, root, _) = fsOf(spark, path)
    val snapsDir = new org.apache.hadoop.fs.Path(root, "snapshots")
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    lockFor(fs, root).synchronized {
      def listManifests() = fs.listStatus(snapsDir)
        .flatMap(st => manifestId(st.getPath.getName).map(id => (id, st)))
        .sortBy(_._1)
      // plan against a STABLE manifest listing: a cross-process commit
      // landing between the reference-set computation and the sweep
      // would otherwise have its files deleted out from under its
      // just-committed manifest
      var manifests = listManifests()
      var referenced = Set.empty[String]
      var referencedChanges = Set.empty[String]
      var referencedDv = Set.empty[String]
      var referencedSegs = Set.empty[String]
      var stable = false
      var rounds = 0
      while (!stable) {
        val kept = manifests.drop(
          math.max(0, manifests.length - keepLast))
        val keptInfos = kept.map { case (_, st) =>
          parseManifest(fs, st.getPath) }
        referenced = keptInfos.flatMap(_.files).toSet
        referencedChanges = keptInfos.flatMap(_.changes).toSet
        referencedDv = keptInfos.flatMap(i =>
          i.dv.map(_.dvFile) ++ i.dvp.map(_.dvFile)).toSet
        referencedSegs = keptInfos.flatMap(_.segRefs).toSet
        val again = listManifests()
        stable = again.map(_._1).sameElements(manifests.map(_._1))
        manifests = again
        rounds += 1
        if (rounds >= 50) throw new IllegalStateException(
          s"vacuum at $path: manifest listing kept changing across " +
            s"$rounds planning rounds — a writer is committing faster " +
            "than vacuum can plan; re-run later")
      }
      val (drop, _) =
        manifests.splitAt(math.max(0, manifests.length - keepLast))
      val cutoff = System.currentTimeMillis() - graceMs
      // manifests reference files by their dataDir-RELATIVE path
      // (partitioned writes publish under `col=value/` subdirectories),
      // so the sweep lists data/ RECURSIVELY and compares relative
      // paths — a non-recursive basename sweep would never visit a
      // partitioned table's files. Files of a live in-flight write
      // token are spared regardless of age (see [[registerTok]]).
      val dataDirQ = fs.makeQualified(dataDir).toString + "/"
      var removedFiles = 0
      if (fs.exists(dataDir)) {
        val it = fs.listFiles(dataDir, true)
        while (it.hasNext) {
          val st = it.next()
          val rel = fs.makeQualified(st.getPath).toString
            .stripPrefix(dataDirQ)
          if (!referenced.contains(rel) &&
              !tokLive(st.getPath.getName) &&
              st.getModificationTime <= cutoff) {
            fs.delete(st.getPath, false)
            removedFiles += 1
          }
        }
      }
      // change-feed files of dropped manifests (side metadata, never
      // in `referenced`) — same kept-references-only retention rule
      val changesDir = new org.apache.hadoop.fs.Path(root, "changes")
      if (fs.exists(changesDir)) fs.listStatus(changesDir).foreach { st =>
        if (st.isFile && !referencedChanges.contains(st.getPath.getName)
            && !tokLive(st.getPath.getName)
            && st.getModificationTime <= cutoff)
          fs.delete(st.getPath, false)
      }
      // deletion sidecars: kept while any kept manifest references
      // them, swept with their history like change files
      val dvDir = new org.apache.hadoop.fs.Path(root, "dv")
      if (fs.exists(dvDir)) fs.listStatus(dvDir).foreach { st =>
        if (st.isFile && !referencedDv.contains(st.getPath.getName)
            && !tokLive(st.getPath.getName)
            && st.getModificationTime <= cutoff)
          fs.delete(st.getPath, false)
      }
      // crash-leftover stage dirs (a writer that died before abort, or
      // a streaming query's stage dir after the query stopped) — never
      // referenced by any manifest, swept by the same age guard; a
      // live write's stage dir is spared regardless of age
      fs.listStatus(root).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith(".stage-") &&
            !tokLive(st.getPath.getName) &&
            st.getModificationTime <= cutoff)
          fs.delete(st.getPath, true)
      }
      drop.foreach { case (_, st) => fs.delete(st.getPath, false) }
      // manifest SEGMENTS: immutable side files under snapshots/ —
      // swept once no kept manifest references them (orphans of lost
      // commit attempts age out the same way; evicted from the
      // immutable-segment cache so a name reuse can never resurrect)
      fs.listStatus(snapsDir).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && n.startsWith("seg-") &&
            !referencedSegs.contains(n) && !tokLive(n) &&
            st.getModificationTime <= cutoff) {
          segCache.remove(fs.makeQualified(st.getPath).toString)
          fs.delete(st.getPath, false)
        }
      }
      (drop.length, removedFiles)
    }
  }
}
