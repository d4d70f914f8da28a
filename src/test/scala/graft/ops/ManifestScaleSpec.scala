package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Manifest scalability guard: a manifest is one flat text file
  * listing every data file, and the commit critical section re-parses
  * the HEAD once per attempt while readers parse it once per plan —
  * an O(files) driver-side cost (≈120 bytes/line: name + two stat
  * fields). This spec makes that ceiling a TEST: a synthetic
  * 10⁴-file head (the shape of ~100 GB-per-file × 1 PB, or an
  * uncompacted streaming table after 10⁴ triggers) must still parse,
  * append, and plan within generous wall-clock bounds, and history
  * must report the manifest-line count so growth is observable
  * before it is slow. The next tier — Iceberg-style manifest lists +
  * compaction — starts from these pinned numbers. */
class ManifestScaleSpec extends SparkSpec {
  import spark.implicits._

  test("a 10,000-file manifest parses, appends, and plans within " +
      "pinned ceilings; history exposes the line count") {
    val t = tmpDir("graft-mscale")
    // one REAL commit (readable schema + a real file), then a
    // hand-synthesized head whose 10^4 file lines are fictional —
    // commits and planning only parse manifest TEXT, so the guard
    // measures exactly the metadata path, not 10^4 parquet writes
    Layout.appendSnapshot(
      spark.range(0L, 10L).toDF("id").coalesce(1), t, statsCol = "id")
    val conf = spark.sessionState.newHadoopConf()
    val snapsDir = new org.apache.hadoop.fs.Path(t, "snapshots")
    val fs = snapsDir.getFileSystem(conf)
    val m1 = new org.apache.hadoop.fs.Path(snapsDir,
      "snapshot-00001.txt")
    val real = {
      val in = fs.open(m1)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val lines = real.split("\n").toSeq
    val (header, fileLines) = lines.partition(l =>
      !l.contains(".parquet"))
    val synth = (header ++ fileLines ++
      (0 until 10000).map(i => f"cfake-$i%05d.parquet|${i * 10}|${i * 10 + 9}"))
      .updated(1, (10L + 10000L * 10L).toString) // row count line
      .mkString("", "\n", "\n")
    val m2 = new org.apache.hadoop.fs.Path(snapsDir,
      "snapshot-00002.txt")
    val out = fs.create(m2, true)
    try out.write(synth.getBytes("UTF-8")) finally out.close()

    // ceiling 1: one parse of the 10^4-line head — the unit cost the
    // commit loop pays per attempt. Memory is O(lines): ~10^4 entries
    // of ~120 B here (≈1.2 MB), linear in file count.
    val t0 = System.nanoTime()
    val info = Layout.snapshotInfo(spark, t).get
    val parseMs = (System.nanoTime() - t0) / 1000000
    assert(info.files.size == 10001)
    assert(parseMs < 2000, s"head parse took ${parseMs}ms")

    // ceiling 2: an APPEND carries all 10^4 lines forward — stage +
    // parse + rewrite of the manifest text, still metadata-bounded
    val t1 = System.nanoTime()
    val id = Layout.appendSnapshot(
      spark.range(100L, 110L).toDF("id").coalesce(1), t,
      statsCol = "id")
    val appendMs = (System.nanoTime() - t1) / 1000000
    assert(id == 3)
    assert(appendMs < 30000, s"append over 10^4-file head took " +
      s"${appendMs}ms (includes one real staged file write)")

    // ceiling 3: PLANNING a pruned read over 10^4 indexed entries is
    // a driver-side filter of the parsed lines
    val t2 = System.nanoTime()
    val stats = Layout.snapshotFileStats(spark, t,
      Layout.snapshotInfo(spark, t).get)
    val planMs = (System.nanoTime() - t2) / 1000000
    assert(stats.size == 10002)
    assert(planMs < 2000, s"file-stats plan took ${planMs}ms")

    // observability: history reports the line count so growth is a
    // query away — 10^4-file manifests should page the operator
    val hist = Layout.snapshots(spark, t).orderBy("snapshot_id")
      .collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val headLines = hist.last.getAs[Long]("n_manifest_lines")
    assert(headLines > 10000 && headLines < 10010, headLines)
  }

  test("tier 2 (round 13): a 100,000-file v2 head commits O(delta) — " +
      "appends carry segments by reference, the head file stays flat " +
      "in |files|, and reads resolve through the segment cache") {
    val t = tmpDir("graft-mscale2")
    Layout.appendSnapshot(
      spark.range(0L, 10L).toDF("id").coalesce(1), t, statsCol = "id")
    val conf = spark.sessionState.newHadoopConf()
    val snapsDir = new org.apache.hadoop.fs.Path(t, "snapshots")
    val fs = snapsDir.getFileSystem(conf)
    val m1 = new org.apache.hadoop.fs.Path(snapsDir,
      "snapshot-00001.txt")
    val real = {
      val in = fs.open(m1)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val lines = real.split("\n").toSeq
    val schemaLine = lines.find(_.startsWith("schema:")).get
    val statsLine = lines.find(_.startsWith("statscol:")).get
    val realFileLine = lines.filter(_.contains(".parquet"))
    // one synthetic segment holding 10^5 fictional file lines + a v2
    // head referencing it (plus the real file inline, so reads work)
    val seg = new org.apache.hadoop.fs.Path(snapsDir, "seg-fake0.txt")
    val so = fs.create(seg, true)
    try so.write((0 until 100000)
      .map(i => f"cfake-$i%06d.parquet|${i * 10}|${i * 10 + 9}")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally so.close()
    val head2 = (Seq("graft-snap v2",
      (10L + 100000L * 10L).toString, schemaLine, statsLine,
      "segment:seg-fake0.txt") ++ realFileLine)
      .mkString("", "\n", "\n")
    val m2 = new org.apache.hadoop.fs.Path(snapsDir,
      "snapshot-00002.txt")
    val o2 = fs.create(m2, true)
    try o2.write(head2.getBytes("UTF-8")) finally o2.close()

    // parse resolves the segment (one read, then cached)
    val t0 = System.nanoTime()
    val info = Layout.snapshotInfo(spark, t).get
    val parseMs = (System.nanoTime() - t0) / 1000000
    assert(info.files.size == 100001)
    assert(parseMs < 4000, s"v2 head+segment parse took ${parseMs}ms")

    // APPEND over the 10^5-file head: carries the segment BY
    // REFERENCE and writes only its own delta — the commit is
    // O(delta), pinned well under tier 1's 10^4 inline ceiling even
    // at 10x the files
    val t1 = System.nanoTime()
    val id = Layout.appendSnapshot(
      spark.range(100L, 110L).toDF("id").coalesce(1), t,
      statsCol = "id")
    val appendMs = (System.nanoTime() - t1) / 1000000
    assert(id == 3)
    assert(appendMs < 15000,
      s"v2 append over 10^5-file head took ${appendMs}ms")
    // the head FILE is flat in |files|: refs + meta, no inline body
    val headLen = fs.getFileStatus(new org.apache.hadoop.fs.Path(
      snapsDir, "snapshot-00003.txt")).getLen
    assert(headLen < 64 * 1024,
      s"v2 head is ${headLen}B — not flat in |files|")
    val info3 = Layout.snapshotInfo(spark, t).get
    assert(info3.files.size == 100002)
    assert(info3.segRefs.size == 2) // carried fake + this append's

    // planning from the cached segments is still a driver-side filter
    val t2 = System.nanoTime()
    val stats = Layout.snapshotFileStats(spark, t,
      Layout.snapshotInfo(spark, t).get)
    val planMs = (System.nanoTime() - t2) / 1000000
    assert(stats.size == 100002)
    assert(planMs < 4000, s"file-stats plan took ${planMs}ms")

    // SEGMENT COMPACTION: segments accrete one per commit; the
    // metadata-only maintenance folds them into one with the image
    // (files, rows, index identity) untouched, and is idempotent
    val cid = Layout.compactManifestSegments(spark, t)
    assert(cid == 4)
    val after = Layout.snapshotInfo(spark, t).get
    assert(after.segRefs.size == 1, after.segRefs)
    assert(after.files.size == 100002 && after.rows == info3.rows)
    assert(after.statsCols == Seq("id"))
    assert(Layout.compactManifestSegments(spark, t) == 4,
      "compaction is not idempotent")
    // the change feed sees NOTHING from a metadata-only commit (the
    // file-set diff is empty)
    assert(Layout.changeFeedPlan(spark, t, 3, 4).isEmpty)
  }

  test("tier 3 (round 14): a 1,000,000-file head — 100 TB at 100 MB " +
      "per file — still parses, appends O(delta), and plans within " +
      "pinned ceilings") {
    val t = tmpDir("graft-mscale4")
    Layout.appendSnapshot(
      spark.range(0L, 10L).toDF("id").coalesce(1), t, statsCol = "id")
    val conf = spark.sessionState.newHadoopConf()
    val snapsDir = new org.apache.hadoop.fs.Path(t, "snapshots")
    val fs = snapsDir.getFileSystem(conf)
    val m1 = new org.apache.hadoop.fs.Path(snapsDir,
      "snapshot-00001.txt")
    val real = {
      val in = fs.open(m1)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val lines = real.split("\n").toSeq
    val schemaLine = lines.find(_.startsWith("schema:")).get
    val statsLine = lines.find(_.startsWith("statscol:")).get
    val realFileLine = lines.filter(_.contains(".parquet"))
    // 10 segments of 10^5 fictional lines each (the shape the
    // geometric merge converges to: a few large sealed segments)
    val segRefs = (0 until 10).map { sgi =>
      val nm = s"seg-fake3-$sgi.txt"
      val so = fs.create(
        new org.apache.hadoop.fs.Path(snapsDir, nm), true)
      try so.write((0 until 100000)
        .map { i =>
          val id = sgi * 100000 + i
          f"cfake-$id%07d.parquet|${id * 10}|${id * 10 + 9}|n0"
        }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally so.close()
      nm
    }
    val head2 = (Seq("graft-snap v2",
      (10L + 1000000L * 10L).toString, schemaLine, statsLine) ++
      segRefs.map("segment:" + _) ++ realFileLine)
      .mkString("", "\n", "\n")
    val m2 = new org.apache.hadoop.fs.Path(snapsDir,
      "snapshot-00002.txt")
    val o2 = fs.create(m2, true)
    try o2.write(head2.getBytes("UTF-8")) finally o2.close()

    val t0 = System.nanoTime()
    val info = Layout.snapshotInfo(spark, t).get
    val parseMs = (System.nanoTime() - t0) / 1000000
    assert(info.files.size == 1000001)
    assert(parseMs < 30000, s"10^6-line parse took ${parseMs}ms")
    // the append stays O(delta): big sealed segments are far larger
    // than 2x the pending tail, so the geometric fold leaves them
    // alone and the commit writes only its own lines
    val t1 = System.nanoTime()
    val id = Layout.appendSnapshot(
      spark.range(100L, 110L).toDF("id").coalesce(1), t,
      statsCol = "id")
    val appendMs = (System.nanoTime() - t1) / 1000000
    assert(id == 3)
    assert(appendMs < 60000,
      s"append over 10^6-file head took ${appendMs}ms")
    assert(Layout.snapshotInfo(spark, t).get.segRefs.size == 11)
    // planning: a driver-side filter over the parsed lines
    val t2 = System.nanoTime()
    val stats = Layout.snapshotFileStats(spark, t,
      Layout.snapshotInfo(spark, t).get)
    val planMs = (System.nanoTime() - t2) / 1000000
    assert(stats.size == 1000002)
    assert(planMs < 30000, s"10^6-entry plan took ${planMs}ms")
  }

  test("tier 2 (round 14): AUTOMATIC geometric segment merging — " +
      "1000 commits stay at O(log) segments with amortized O(delta) " +
      "metadata cost, no manual compact_manifests ever needed") {
    val t = tmpDir("graft-mscale3")
    Layout.appendSnapshot(
      spark.range(0L, 10L).toDF("id").coalesce(1), t, statsCol = "id")
    val schema = Layout.snapshotInfo(spark, t).get.schema.get
    // 1000 metadata commits through the real critical section (fake
    // file lines — this tier asserts METADATA shape, not reads)
    val t0 = System.nanoTime()
    (0 until 1000).foreach { i =>
      Layout.commitStagedLines(spark, t,
        Seq(f"cfake-$i%06d.parquet|${i * 10}|${i * 10 + 9}|n0"),
        10L, schema, tag = null, carryPrevious = true,
        statsCol = "id", expectedBase = -1,
        tok = f"t$i%06d")
    }
    val totalMs = (System.nanoTime() - t0) / 1000000
    val info = Layout.snapshotInfo(spark, t).get
    assert(info.files.size == 1001)
    assert(info.rows == 10L * 1001)
    // the LSM invariant: segment count stays logarithmic — without
    // the auto-merge this would be ~1000 segments (one per commit
    // past the inline threshold)
    assert(info.segRefs.size <= 12,
      s"segment merging regressed: ${info.segRefs.size} segments " +
        s"after 1000 commits (${info.segRefs})")
    // amortized commit cost: 1000 metadata commits, each re-parsing
    // the head and folding geometrically, stay well under wall-clock
    // that a per-commit O(files) rewrite could never meet
    assert(totalMs < 60000,
      s"1000 auto-merged commits took ${totalMs}ms")
    // stats survive the folds: the data-skipping index still plans
    // from every line
    val stats = Layout.snapshotFileStats(spark, t,
      Layout.snapshotInfo(spark, t).get)
    assert(stats.size == 1001)
    assert(stats.count(_._3.headOption.exists(_.range.nonEmpty))
      >= 1000)
    // and the manual fold remains available + idempotent on top
    Layout.compactManifestSegments(spark, t)
    assert(Layout.snapshotInfo(spark, t).get.segRefs.size <= 1)
  }
}
