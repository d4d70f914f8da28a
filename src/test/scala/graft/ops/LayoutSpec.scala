package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Z-order layout specs: the interleave must match a Scala reference
  * Morton encoder bit for bit (the fragment is also the oracle side of
  * z1_zorder), and the clustered write must produce the property the
  * op exists for — per-file z-ranges that do not overlap, so parquet
  * min/max stats prune multi-dimensional predicates. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def refMorton(xs: Seq[Long], bits: Int): Long = {
    var z = 0L
    for (i <- 0 until bits; (x, j) <- xs.zipWithIndex)
      z |= ((x >> i) & 1L) << (i * xs.size + j)
    z
  }

  test("zorder matches the reference Morton encoder, edges included") {
    val bits = 11
    val max = (1L << bits) - 1
    val vals = Seq((0L, 0L), (max, max), (0L, max), (max, 0L),
      (1L, 2L), (1234L, 567L), (2047L, 1L),
      // bits above `bits` must be ignored
      (max + 4096L, 3L))
    val df = vals.toDF("x", "y")
    val got = Layout.zorder(df, Seq("x", "y"), bits)
      .select("x", "y", "z_value").collect()
    got.foreach { r =>
      val expect = refMorton(Seq(r.getLong(0) & max, r.getLong(1) & max), bits)
      assert(r.getLong(2) == expect,
        s"(${r.getLong(0)}, ${r.getLong(1)}): got ${r.getLong(2)}, want $expect")
    }
  }

  test("interleave is a bijection over the masked domain") {
    val bits = 5
    val df = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .toDF("x", "y")
    val z = Layout.zorder(df, Seq("x", "y"), bits)
    assert(z.select("z_value").distinct().count() == 32 * 32)
    assert(z.agg(max("z_value")).head().getLong(0) == (1L << (2 * bits)) - 1)
  }

  test("hive-partitioned write prunes non-matching partitions at the scan") {
    // the partition-layout complement of z-ordering: a write partitioned
    // by a categorical column must turn an equality predicate into a
    // PartitionFilter (directory pruning — at 100 TB the difference
    // between scanning one language's files and all of them)
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val dir = tmpDir("part-docs")
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    val read = spark.read.parquet(dir).filter(col("lang") === "en")
    read.collect()
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      plan.take(1500))
    // pruning must not change results
    assert(read.count() == docs.filter(col("lang") === "en").count())
    // and the scan's executed metrics show ONE partition directory read
    // (inputFiles would list the whole pre-pruning catalog)
    val scans = read.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.map(_.metrics("numFiles").value).sum == 1L)
  }

  test("clusteredWrite yields disjoint per-file z-ranges") {
    val df = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
    val dir = tmpDir("graft_zorder")
    val back = Layout.clusteredWrite(df, Seq("x", "y"), dir,
      numFiles = 8, bits = 6)
    assert(back.count() == 64 * 64)
    val ranges = Layout.fileRanges(back, "z_value")
      .orderBy("lo").collect()
    assert(ranges.length > 1, "expected multiple output files")
    ranges.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(2) < b.getLong(1),
          s"file ranges overlap: [${a.getLong(1)},${a.getLong(2)}] vs " +
            s"[${b.getLong(1)},${b.getLong(2)}]")
      case _ =>
    }
  }

  test("compactTo heals a small-files layout: file count, content, ranges") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val shattered = tmpDir("graft_shatter")
    docs.repartition(64).write.mode("overwrite").parquet(shattered)
    val before = spark.read.parquet(shattered)
    assert(before.inputFiles.length >= 32, "fixture not shattered")

    val dir = tmpDir("graft_compact")
    val n = before.count()
    val target = 20L
    val back = Layout.compactTo(before, "doc_id", dir, target)
    // ceil(n/target) fat files instead of 64 shards
    val expectFiles = ((n + target - 1) / target).toInt
    assert(back.inputFiles.length == expectFiles,
      s"got ${back.inputFiles.length} files, want $expectFiles")
    // content survives bit for bit
    assert(back.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
    // clustering restored: per-file doc_id ranges are disjoint, so
    // min/max stats prune point lookups to one file again
    val ranges = Layout.fileRanges(back, "doc_id").orderBy("lo").collect()
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) < b.getLong(1))
      case _ =>
    }
  }

  test("diffSnapshots: all four statuses; payload stays out of the join") {
    val oldDf = Seq((1L, "same"), (2L, "will change"), (3L, "gone"))
      .toDF("doc_id", "text")
    val newDf = Seq((1L, "same"), (2L, "changed!"), (4L, "fresh"))
      .toDF("doc_id", "text")
    val got = Layout.diffSnapshots(oldDf, newDf, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toSeq
    assert(got == Seq(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"), got)
    // the delta-only mode drops unchanged rows and nothing else
    val delta = Layout.diffSnapshots(oldDf, newDf, "doc_id", "text",
      includeUnchanged = false).select("doc_id").as[Long].collect().toSet
    assert(delta == Set(2L, 3L, 4L))
    // only (id, digest) reaches the join: no raw text attribute may
    // appear above the digest projections in the optimized plan
    val plan = Layout.diffSnapshots(oldDf, newDf, "doc_id", "text")
      .queryExecution.optimizedPlan
    val join = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.head
    assert(join.output.map(_.name).toSet == Set("doc_id", "old_digest",
      "doc_id", "new_digest"), join.output.map(_.name))
  }

  test("bucketedWrite: same-bucket join plans with ZERO exchanges") {
    // the co-located join property: both sides bucketed by the join key
    // with the same bucket count -> the join consumes the scans'
    // recorded hash-partitioning and no shuffle is planned. Broadcast
    // is disabled so the bucket metadata (not a small-table special
    // case) is what eliminates the exchange.
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val base = tmpDir("graft_bucket")
    val a = Layout.bucketedWrite(
      docs.select(col("doc_id"), col("lang")),
      "doc_id", "graft_spec_bk_a", s"$base/a", buckets = 4)
    val b = Layout.bucketedWrite(
      docs.select(col("doc_id"), col("n_chars")),
      "doc_id", "graft_spec_bk_b", s"$base/b", buckets = 4)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val joined = a.join(b, "doc_id")
      // the JOIN plans with no exchange at all (the later rollup's own
      // aggregate exchange is a different, unavoidable repartition)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      // and the values are the plain-join values
      val want = docs.groupBy("lang")
        .agg(sum("n_chars").as("chars"))
        .orderBy("lang").collect().toSeq
      val got = joined.groupBy("lang").agg(sum("n_chars").as("chars"))
        .orderBy("lang").collect().toSeq
      assert(got == want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE IF EXISTS graft_spec_bk_a")
      spark.sql("DROP TABLE IF EXISTS graft_spec_bk_b")
    }
  }

  test("snapshot table: commits are isolated, time travel reads, " +
      "vacuum retains only referenced files and is loud afterwards") {
    val t = tmpDir("graft-snap-spec")
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
    val v2 = Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "v")
      .coalesce(1)
    val v3 = Seq((9L, "z")).toDF("id", "v").coalesce(1)
    assert(Layout.commitSnapshot(v1, t) == 1)
    assert(Layout.commitSnapshot(v2, t) == 2)
    // time travel: snapshot 1 is untouched by commit 2
    assert(Layout.readSnapshot(spark, t, asOf = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "b"))
    assert(Layout.readSnapshot(spark, t)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // a crashed commit = staged orphan data file, no manifest: readers
    // never see it, vacuum removes it
    val (fs, dataDir) = {
      val conf = spark.sessionState.newHadoopConf()
      val d = new org.apache.hadoop.fs.Path(t, "data")
      (d.getFileSystem(conf), d)
    }
    val orphan = new org.apache.hadoop.fs.Path(dataDir,
      "s99-orphan.parquet")
    fs.create(orphan, true).close()
    assert(Layout.commitSnapshot(v3, t) == 3)
    val hist = Layout.snapshots(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(hist == Map(1L -> 2L, 2L -> 3L, 3L -> 1L))
    // vacuum to the last two snapshots: manifest 1 gone, its files and
    // the orphan deleted, snapshots 2 and 3 still byte-identical
    val (droppedManifests, droppedFiles) = Layout.vacuum(spark, t, 2)
    assert(droppedManifests == 1)
    assert(droppedFiles >= 2) // snapshot 1's file(s) + the orphan
    assert(!fs.exists(orphan))
    assert(Layout.readSnapshot(spark, t, asOf = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "B", 3L -> "c"))
    assert(Layout.readSnapshot(spark, t, asOf = 3).count() == 1)
    val e = intercept[IllegalArgumentException](
      Layout.readSnapshot(spark, t, asOf = 1))
    assert(e.getMessage.contains("vacuumed"))
  }

  test("optimistic commit: concurrent append∥append commits BOTH " +
      "with the union visible") {
    val t = tmpDir("graft-race-spec")
    // seed snapshot so both appenders race to re-base on a real head
    Layout.commitSnapshot(
      spark.range(0, 10).toDF("id").coalesce(1), t)
    // two writers stage concurrently, then race the commit claim; the
    // loser must re-base (carry the winner's lines) and retry, so the
    // final head references seed + BOTH appends
    val ranges = Seq((100L, 110L), (200L, 210L))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val ids = try {
      import scala.jdk.CollectionConverters._
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      pool.invokeAll(ranges.map { case (lo, hi) =>
        new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            barrier.await()
            Layout.appendSnapshot(
              spark.range(lo, hi).toDF("id").coalesce(1), t)
          }
        }
      }.asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
    // both claims succeeded with distinct ids 2 and 3
    assert(ids.sorted == Seq(2, 3), ids)
    val head = Layout.readSnapshot(spark, t)
    assert(head.count() == 10 + 10 + 10)
    assert(head.agg(sum("id")).head().getLong(0) ==
      (0L until 10L).sum + (100L until 110L).sum + (200L until 210L).sum)
    // history is linear: 3 snapshots, monotone row counts 10/20/30
    val hist = Layout.snapshots(spark, t).orderBy("snapshot_id")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(hist.map(_._1) == Seq(1L, 2L, 3L))
    assert(hist.map(_._2) == Seq(10L, 20L, 30L))
  }

  test("optimistic commit: merge aborts loudly on a stale base " +
      "instead of silently dropping the interleaved commit") {
    val t = tmpDir("graft-stale-spec")
    import spark.implicits._
    Layout.commitSnapshot(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), t)
    // an append interleaves between the merge's read (base = 1) and
    // its commit — modeled by passing the stale expectedBase
    Layout.appendSnapshot(Seq((3L, "c")).toDF("id", "v").coalesce(1), t)
    val changes = Seq((2L, "B", "u")).toDF("id", "v", "op")
    val e = intercept[java.util.ConcurrentModificationException](
      Layout.mergeSnapshot(spark, t, changes, "id", "op",
        expectedBase = 1))
    assert(e.getMessage.contains("expected base 1"))
    assert(e.getMessage.contains("head is 2"))
    // nothing committed: head unchanged, retry against the new head wins
    assert(Layout.snapshots(spark, t).count() == 2)
    val id = Layout.mergeSnapshot(spark, t, changes, "id", "op",
      expectedBase = 2)
    assert(id == 3)
    assert(Layout.readSnapshot(spark, t).orderBy("id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq ==
      Seq(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("zero-file snapshot: manifest schema line makes an empty " +
      "commit readable; stray snapshots/ files never break reads") {
    val t = tmpDir("graft-empty-spec")
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    assert(Layout.commitSnapshot(empty, t) == 1)
    val back = Layout.readSnapshot(spark, t)
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == Seq("id", "v"))
    // strict manifestId parse: stray files in snapshots/ (no digits,
    // digit overflow, wrong affixes) are ignored, not fatal
    val conf = spark.sessionState.newHadoopConf()
    val snaps = new org.apache.hadoop.fs.Path(t, "snapshots")
    val fs = snaps.getFileSystem(conf)
    Seq("snapshot-.txt", "snapshot-99999999999.txt", "notes.txt",
        "snapshot-7x.txt")
      .foreach(n => fs.create(
        new org.apache.hadoop.fs.Path(snaps, n), true).close())
    assert(Layout.snapshots(spark, t).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(Layout.commitSnapshot(
      Seq((5L, "x")).toDF("id", "v").coalesce(1), t) == 2)
    assert(Layout.readSnapshot(spark, t).count() == 1)
  }

  test("snapshot stats pruning: only overlapping files are read, " +
      "answers never change, empty overlap is empty") {
    val t = tmpDir("graft-prune-spec")
    // three appends with KNOWN disjoint id ranges = three manifest
    // entries with known [min, max]
    def block(lo: Long): org.apache.spark.sql.DataFrame =
      spark.range(lo, lo + 10).toDF("id")
        .withColumn("v", col("id") * 2).coalesce(1)
    Layout.commitSnapshot(block(0), t, statsCol = "id")
    Layout.appendSnapshot(block(100), t, statsCol = "id")
    Layout.appendSnapshot(block(200), t, statsCol = "id")
    val pruned = Layout.readSnapshotPruned(spark, t, "id", 102L, 108L)
    // exactly one of the three files overlaps [102, 108]
    assert(pruned.select(input_file_name()).distinct().count() == 1)
    val full = Layout.readSnapshot(spark, t)
      .filter(col("id").between(102L, 108L))
    assert(pruned.orderBy("id").collect().toSeq ==
      full.orderBy("id").collect().toSeq)
    // a range between blocks prunes everything and returns empty
    assert(Layout.readSnapshotPruned(spark, t, "id", 50L, 60L)
      .count() == 0)
    // a range spanning two blocks reads exactly two files
    assert(Layout.readSnapshotPruned(spark, t, "id", 5L, 105L)
      .select(input_file_name()).distinct().count() == 2)
  }

  test("optimize: bin-packs small files into a content-identical " +
      "commit; history intact; idempotent at target; stats recorded") {
    val t = tmpDir("graft-opt-spec")
    // eight 10-row appends = a streaming-shaped small-files table
    (0 until 8).foreach { k =>
      Layout.appendSnapshot(
        spark.range(k * 10L, k * 10L + 10).toDF("id")
          .withColumn("v", col("id") * 2).coalesce(1), t)
    }
    val before = Layout.readSnapshot(spark, t)
    assert(before.select(input_file_name()).distinct().count() == 8)
    val optId = Layout.optimizeSnapshot(spark, t, targetRowsPerFile = 40,
      statsCol = "id")
    assert(optId == 9)
    val after = Layout.readSnapshot(spark, t)
    // content identical, file count at the bin-packed target
    assert(after.select(input_file_name()).distinct().count() == 2)
    assert(after.orderBy("id").collect().toSeq ==
      before.orderBy("id").collect().toSeq)
    // pre-optimize history still time-travels
    assert(Layout.readSnapshot(spark, t, asOf = 8).count() == 80)
    assert(Layout.readSnapshot(spark, t, asOf = 3).count() == 30)
    // recomputed stats serve pruned reads over the compacted files
    assert(Layout.readSnapshotPruned(spark, t, "id", 5L, 8L)
      .select(input_file_name()).distinct().count() == 1)
    // already-compact table: NO empty commit, same id back
    assert(Layout.optimizeSnapshot(spark, t, 40, statsCol = "id") == 9)
    assert(Layout.snapshots(spark, t).count() == 9)
  }

  test("optimize conflict rule: re-bases over a concurrent append, " +
      "aborts on a concurrent merge") {
    val t = tmpDir("graft-optc-spec")
    import spark.implicits._
    (0 until 4).foreach { k =>
      Layout.appendSnapshot(
        spark.range(k * 10L, k * 10L + 10).toDF("id")
          .withColumn("v", col("id")).coalesce(1), t)
    }
    // an append lands AFTER the optimize captured its base (pinned via
    // the explicit baseId) — the optimize must carry it forward
    Layout.appendSnapshot(
      spark.range(100L, 110L).toDF("id")
        .withColumn("v", col("id")).coalesce(1), t) // id 5
    val optId = Layout.optimizeSnapshot(spark, t, targetRowsPerFile = 50,
      baseId = 4)
    assert(optId == 6)
    val head = Layout.readSnapshot(spark, t)
    assert(head.count() == 50) // 40 compacted + 10 carried
    assert(head.agg(sum("id")).head().getLong(0) ==
      (0L until 40L).sum + (100L until 110L).sum)
    // the carried append stays its own file; the base compacts to one
    assert(head.select(input_file_name()).distinct().count() == 2)
    // a merge interleaving after the base is captured REMOVES base
    // files (full-replace image) — the optimize must abort, not
    // resurrect the merged-away rows
    Layout.mergeSnapshot(spark, t,
      Seq((0L, 0L, "d")).toDF("id", "v", "op"), "id", "op") // id 7
    val e = intercept[java.util.ConcurrentModificationException](
      Layout.optimizeSnapshot(spark, t, 50, baseId = 6))
    assert(e.getMessage.contains("removed files"))
    // nothing committed by the failed optimize; the merge's image holds
    assert(Layout.snapshots(spark, t).count() == 7)
    assert(Layout.readSnapshot(spark, t).count() == 49)
  }

  test("schema evolution: append with a new column widens the table; " +
      "old files null-fill; type changes abort; pruned/changes reads " +
      "agree") {
    val t = tmpDir("graft-evo-spec")
    import spark.implicits._
    Layout.appendSnapshot(
      spark.range(0, 10).toDF("id").withColumn("v", col("id") * 2)
        .coalesce(1), t, statsCol = "id")
    // widened append: extra column `lang`
    Layout.appendSnapshot(
      spark.range(100, 110).toDF("id").withColumn("v", col("id") * 2)
        .withColumn("lang", lit("en")).coalesce(1), t, statsCol = "id")
    val head = Layout.readSnapshot(spark, t)
    assert(head.schema.fieldNames.toSeq == Seq("id", "v", "lang"))
    assert(head.count() == 20)
    assert(head.filter(col("lang").isNull).count() == 10) // old files
    assert(head.filter(col("lang") === "en").count() == 10)
    // a batch MISSING an old column also null-fills (its own rows)
    Layout.appendSnapshot(
      spark.range(200, 210).toDF("id").withColumn("lang", lit("fr"))
        .coalesce(1), t, statsCol = "id")
    val h2 = Layout.readSnapshot(spark, t)
    assert(h2.schema.fieldNames.toSeq == Seq("id", "v", "lang"))
    assert(h2.filter(col("v").isNull).count() == 10)
    // stats-pruned read sees the union schema too
    val pruned = Layout.readSnapshotPruned(spark, t, "id", 0L, 5L)
    assert(pruned.schema.fieldNames.toSeq == Seq("id", "v", "lang"))
    assert(pruned.count() == 6)
    // incremental read across the evolution uses the TO schema
    val changes = Layout.readSnapshotChanges(spark, t, fromId = 1)
    assert(changes.schema.fieldNames.toSeq == Seq("id", "v", "lang"))
    assert(changes.count() == 20)
    // a TYPE change must abort loudly, not corrupt earlier reads
    val e = intercept[IllegalArgumentException](
      Layout.appendSnapshot(
        spark.range(300, 310).toDF("id")
          .withColumn("v", lit("not-a-number")).coalesce(1), t))
    assert(e.getMessage.contains("changes type"))
    // pre-evolution time travel reads the ORIGINAL two-column layout
    assert(Layout.readSnapshot(spark, t, asOf = 1)
      .schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("restore: rolls the head back to an earlier image by metadata " +
      "only; idempotent; vacuum keeps shared files; loud on vacuumed") {
    val t = tmpDir("graft-rest-spec")
    import spark.implicits._
    Layout.commitSnapshot(
      spark.range(0, 20).toDF("id").withColumn("v", col("id") * 2)
        .coalesce(1), t, statsCol = "id")               // id 1 (good)
    Layout.mergeSnapshot(spark, t,                      // id 2 (bad)
      Seq((0L, 0L, "d"), (1L, 999L, "u")).toDF("id", "v", "op"),
      "id", "op")
    assert(Layout.readSnapshot(spark, t).count() == 19)
    // restore: new head 3 references EXACTLY snapshot 1's files
    val restored = Layout.restoreSnapshot(spark, t, 1)
    assert(restored == 3)
    val head = Layout.readSnapshot(spark, t)
    assert(head.count() == 20)
    assert(head.filter(col("v") === 999L).count() == 0)
    // metadata-only: restored head and snapshot 1 read the same file
    assert(Layout.readSnapshot(spark, t).select(input_file_name())
      .distinct().count() == 1)
    // the stats identity travels with the restore
    assert(Layout.snapshotStatsCol(spark, t, restored).contains("id"))
    // idempotent: restoring to an image equal to the head is a no-op
    assert(Layout.restoreSnapshot(spark, t, 1) == 3)
    assert(Layout.restoreSnapshot(spark, t, 3) == 3)
    assert(Layout.snapshots(spark, t).count() == 3)
    // the bad head stays time-travelable until vacuumed
    assert(Layout.readSnapshot(spark, t, asOf = 2).count() == 19)
    // vacuum to the restored head only: files shared with dropped
    // snapshot 1 must survive (retention = kept manifests' references)
    Layout.vacuum(spark, t, keepLast = 1)
    assert(Layout.readSnapshot(spark, t).count() == 20)
    val e = intercept[IllegalArgumentException](
      Layout.restoreSnapshot(spark, t, 2))
    assert(e.getMessage.contains("vacuumed or never committed"))
  }

  test("stats column identity: sticky across appends, conflicting " +
      "index aborts, mismatched pruned read degrades to read-all") {
    val t = tmpDir("graft-scol-spec")
    Layout.appendSnapshot(
      spark.range(0, 10).toDF("id").withColumn("v", col("id") * 3)
        .coalesce(1), t, statsCol = "id")
    // an append WITHOUT stats carries the recorded column (its own
    // file is just rangeless — always read)
    Layout.appendSnapshot(
      spark.range(100, 110).toDF("id").withColumn("v", col("id") * 3)
        .coalesce(1), t)
    assert(Layout.snapshotStatsCol(spark, t).contains("id"))
    // recording ranges for a DIFFERENT column than the carried history
    // aborts loudly — one manifest, one data-skipping index
    val e = intercept[IllegalArgumentException](
      Layout.appendSnapshot(
        spark.range(200, 210).toDF("id").withColumn("v", col("id") * 3)
          .coalesce(1), t, statsCol = "v"))
    assert(e.getMessage.contains("one manifest carries one"))
    // pruning by the RECORDED column skips the out-of-range file;
    // asking to prune on a different column reads everything instead
    // of mis-skipping by ranges that describe the wrong values
    val byId = Layout.readSnapshotPruned(spark, t, "id", 0L, 5L)
    assert(byId.count() == 6)
    assert(byId.select(input_file_name()).distinct().count() == 1)
    // the load-bearing case: v ∈ [20, 27] lives at ids 7..9, whose
    // file's RECORDED id-range [0, 9] does NOT overlap [20, 27] — a
    // reader that misapplied the id index to a v query would skip the
    // file and silently return zero rows
    assert(Layout.readSnapshotPruned(spark, t, "v", 20L, 27L)
      .count() == 3)
    // optimize carries the identity and re-records ranges for it
    val optId = Layout.optimizeSnapshot(spark, t, targetRowsPerFile = 20,
      statsCol = "id")
    assert(Layout.snapshotStatsCol(spark, t, optId).contains("id"))
    assert(Layout.readSnapshotPruned(spark, t, "id", 0L, 5L)
      .count() == 6)
  }

  test("multi-column stats: statsCol=\"id,v\" records positional " +
      "ranges; pruning and metadata aggregates work on EITHER column; " +
      "a different column LIST (or order) aborts the append") {
    val t = tmpDir("graft-mcol")
    // two files, disjoint on BOTH columns: ids [0,9]/v [0,27] and
    // ids [10,19]/v [30,57]
    Layout.appendSnapshot(
      spark.range(0L, 10L).toDF("id").withColumn("v", col("id") * 3)
        .coalesce(1), t, statsCol = "id,v")
    Layout.appendSnapshot(
      spark.range(10L, 20L).toDF("id").withColumn("v", col("id") * 3)
        .coalesce(1), t, statsCol = "id,v")
    assert(Layout.snapshotStatsCols(spark, t) == Seq("id", "v"))
    // prune on the SECOND column: only the low file read
    val byV = Layout.readSnapshotPruned(spark, t, "v", 0L, 20L)
    assert(byV.count() == 7) // v in {0,3,...,18}
    assert(byV.select(input_file_name()).distinct().count() == 1)
    // prune on the first column still works
    assert(Layout.readSnapshotPruned(spark, t, "id", 15L, 19L)
      .select(input_file_name()).distinct().count() == 1)
    // the DSv2 source pushes bounds on BOTH columns: a v-filter plans
    // one partition
    val srcV = spark.read.format("graft-snapshot").load(t)
      .filter(col("v") >= 30L)
    assert(srcV.rdd.getNumPartitions == 1)
    assert(srcV.count() == 10)
    // metadata aggregate on the second column answered from the index
    val agg = spark.read.format("graft-snapshot").load(t)
      .agg(min("v"), max("v"), max("id"))
    assert(agg.queryExecution.executedPlan.toString
      .contains("manifest-aggregate"))
    assert(agg.head().toSeq == Seq(0L, 57L, 19L))
    // a different LIST (here: different order) is a different index —
    // positions are meaning-bearing, so the append must abort
    val e = intercept[IllegalArgumentException](
      Layout.appendSnapshot(
        spark.range(20L, 30L).toDF("id").withColumn("v", col("id") * 3)
          .coalesce(1), t, statsCol = "v,id"))
    assert(e.getMessage.contains("one manifest carries one"))
    // the file-pruned merge keys on the SECOND column too (positional):
    // only the low file (v range [0,27]) is touched
    val preMerge = Layout.snapshotInfo(spark, t).get.files.toSet
    Layout.mergeSnapshot(spark, t,
      Seq((99L, 15L, "u")).toDF("id", "v", "op"), "v", "op")
    val postMerge = Layout.snapshotInfo(spark, t).get.files.toSet
    assert((preMerge & postMerge).size == 1) // high file carried by name
    val head = Layout.readSnapshot(spark, t)
    assert(head.count() == 20)
    assert(head.filter(col("v") === 15L).head().getLong(0) == 99L)
  }

  test("change feed recording: identical upserts emit nothing, the " +
      "recorded diff is exact, and vacuum retires change files with " +
      "their manifest") {
    val t = tmpDir("graft-cdf")
    Layout.appendSnapshot(
      spark.range(0L, 10L).toDF("id").withColumn("v", col("id"))
        .coalesce(1), t, statsCol = "id")
    // delta: delete 1, update 2 (changed), "update" 3 to the SAME
    // value (must emit NOTHING — a no-op upsert is not a change),
    // insert 50
    Layout.mergeSnapshot(spark, t,
      Seq((1L, 1L, "d"), (2L, 222L, "u"), (3L, 3L, "u"),
        (50L, 50L, "c")).toDF("id", "v", "op"),
      "id", "op", changeFeed = true)
    val feed = Layout.changeFeedOf(spark, t, 2).get
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"),
        r.getAs[String]("_op"))).toSeq
    assert(feed == Seq((1L, 1L, "removed"), (2L, 222L, "changed"),
      (50L, 50L, "added")))
    // append commits record nothing (their changes ARE the new files)
    Layout.appendSnapshot(
      spark.range(100L, 105L).toDF("id").withColumn("v", col("id"))
        .coalesce(1), t)
    assert(Layout.changeFeedOf(spark, t, 3).isEmpty)
    // restore CDF = the inverse of the rolled-back commits
    Layout.restoreSnapshot(spark, t, 1, changeFeedKey = "id")
    val back = Layout.changeFeedOf(spark, t, 4).get
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("_op"))).toSeq
    assert(back == Seq((1L, "added"), (2L, "changed"),
      (50L, "removed"), (100L, "removed"), (101L, "removed"),
      (102L, "removed"), (103L, "removed"), (104L, "removed")))
    // vacuum to the head only: the merge's change files are retired
    // with its manifest; the kept head's change files survive
    val conf = spark.sessionState.newHadoopConf()
    val changesDir = new org.apache.hadoop.fs.Path(t, "changes")
    val fs = changesDir.getFileSystem(conf)
    val beforeSweep = fs.listStatus(changesDir).length
    assert(beforeSweep >= 2) // merge's + restore's change files
    Layout.vacuum(spark, t, keepLast = 1)
    val keptChanges = fs.listStatus(changesDir)
      .map(_.getPath.getName).toSet
    assert(keptChanges.nonEmpty) // head (restore) keeps its feed
    assert(Layout.changeFeedOf(spark, t, 4).get.count() == 8)
  }

  test("zorder optimize: after the rewrite BOTH clustered dimensions " +
      "prune files; a single-column sort only prunes its leading one") {
    val t = tmpDir("graft-zopt")
    val df = spark.range(0L, 1024L).toDF("id")
      .withColumn("a", col("id") % 32)
      .withColumn("b", (col("id") / 32).cast("long") % 32)
    Layout.appendSnapshot(df.repartition(8), t, statsCol = "a,b")
    def filesFor(tbl: String, c: String): Long =
      Layout.readSnapshotPruned(spark, tbl, c, 0L, 7L)
        .select(input_file_name()).distinct().count()
    // random layout: every file spans both domains — nothing prunes
    assert(filesFor(t, "a") == 8)
    assert(filesFor(t, "b") == 8)
    Layout.optimizeSnapshot(spark, t, targetRowsPerFile = 128,
      zorderBy = Seq("a", "b"))
    // content identical, 8 z-clustered files
    assert(Layout.readSnapshot(spark, t).count() == 1024)
    assert(Layout.snapshotInfo(spark, t).get.files.size == 8)
    assert(Layout.snapshotStatsCols(spark, t) == Seq("a", "b"))
    // a quarter-range on EITHER dimension now skips at least half:
    // each file covers a tight z-rectangle, so its [min,max] is
    // narrow in BOTH a and b
    assert(filesFor(t, "a") <= 4, s"a-prune read ${filesFor(t, "a")}")
    assert(filesFor(t, "b") <= 4, s"b-prune read ${filesFor(t, "b")}")
    // answers never change
    assert(Layout.readSnapshotPruned(spark, t, "a", 0L, 7L)
      .count() == 256)
    assert(Layout.readSnapshotPruned(spark, t, "b", 0L, 7L)
      .count() == 256)
    // contrast: a table range-sorted by `a` alone records wide-open b
    // ranges — the b-filter reads everything
    val t2 = tmpDir("graft-zopt2")
    Layout.appendSnapshot(
      df.repartitionByRange(8, col("a")).sortWithinPartitions("a"),
      t2, statsCol = "a,b")
    assert(filesFor(t2, "a") <= 3)
    assert(filesFor(t2, "b") == 8)
  }

  test("overlappingFiles: the binned large-candidate path agrees " +
      "exactly with the broadcast path, and both narrow to true hits") {
    import graft.ops.{Layout => L}
    // 1,000 disjoint 100-wide ranges + 50 rangeless entries; keys hit
    // every 7th range plus out-of-envelope strays
    val entries: Seq[(String, L.ColStat)] =
      (0 until 1000).map(i =>
        (f"f$i%04d", L.ColStat(
          Some(L.LongRange(i * 100L, i * 100L + 99L): L.ColRange),
          None))) ++
      (0 until 50).map(i => (s"r$i", L.ColStat(None, None)))
    val keys = spark.range(0, 1000, 7).toDF("k")
      .select((col("k") * 100L + 50L).as("k"))
      .union(Seq(-5L, 2000000L).toDF("k")) // outside every range
    val viaNlj = L.overlappingFiles(keys, "k", entries,
      nljThreshold = 10000).sorted
    val viaBins = L.overlappingFiles(keys, "k", entries,
      nljThreshold = 1).sorted
    assert(viaNlj == viaBins)
    // exactly the hit ranges + every rangeless entry
    val expected = ((0 until 1000 by 7).map(i => f"f$i%04d") ++
      (0 until 50).map(i => s"r$i")).sorted
    assert(viaBins == expected)
    // an empty delta keeps only the rangeless (conservative) entries
    assert(L.overlappingFiles(
      spark.range(0).toDF("k"), "k", entries).sorted ==
      (0 until 50).map(i => s"r$i").sorted)
  }

  private def headFiles(t: String): Set[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val dataDir = new org.apache.hadoop.fs.Path(t, "data")
    val fs = dataDir.getFileSystem(conf)
    Layout.readSnapshot(spark, t).select(input_file_name()).distinct()
      .collect().map(r => new org.apache.hadoop.fs.Path(
        r.getString(0)).getName).toSet
  }

  test("file-pruned merge: a small delta rewrites ONLY the files " +
      "whose key range it touches; the rest carry forward by name") {
    val t = tmpDir("graft-pmerge")
    // four disjoint-range files indexed on id: [0,9] [10,19] [20,29] [30,39]
    (0 until 4).foreach { k =>
      Layout.appendSnapshot(
        spark.range(k * 10L, k * 10L + 10L).toDF("id")
          .withColumn("v", col("id") * 3).coalesce(1), t,
        statsCol = "id")
    }
    val before = headFiles(t)
    assert(before.size == 4)
    // delta touches ONLY [10,19]: delete 12, update 15, plus an insert
    // beyond every range (key 100) — the CDC low-update/high-insert mix
    val delta = Seq((12L, 0L, "d"), (15L, 999L, "u"), (100L, 7L, "c"))
      .toDF("id", "v", "op")
    Layout.mergeSnapshot(spark, t, delta, "id", "op")
    val after = headFiles(t)
    // the three untouched files survive with IDENTICAL names (carried
    // by reference, zero bytes rewritten); [10,19]'s file is gone
    assert((before & after).size == 3)
    assert((before -- after).size == 1)
    // content: 40 - 1 deleted + 1 inserted = 40 rows, update applied
    val head = Layout.readSnapshot(spark, t)
    assert(head.count() == 40)
    assert(head.filter(col("id") === 12L).count() == 0)
    assert(head.filter(col("id") === 15L).head().getLong(1) == 999L)
    assert(head.filter(col("id") === 100L).head().getLong(1) == 7L)
    // the index stays live: a pruned read plans at most the [30,39]
    // file plus the merged file (whose range spans to the 100 insert),
    // never all four — and stays exact
    val pr = Layout.readSnapshotPruned(spark, t, "id", 30L, 35L)
    assert(pr.count() == 6)
    assert(pr.select(input_file_name()).distinct().count() <= 2)
    // history row counts stay exact through the dropRows bookkeeping
    val hist = Layout.snapshots(spark, t).orderBy("snapshot_id")
      .collect().map(_.getLong(2)).toSeq
    assert(hist == Seq(10L, 20L, 30L, 40L, 40L))
  }

  test("file-pruned merge: a pure out-of-range insert rewrites ZERO " +
      "files — append-shaped cost") {
    val t = tmpDir("graft-pmerge0")
    Layout.appendSnapshot(
      spark.range(0L, 20L).toDF("id").withColumn("v", col("id"))
        .coalesce(1), t, statsCol = "id")
    val before = headFiles(t)
    Layout.mergeSnapshot(spark, t,
      Seq((500L, 1L, "c"), (501L, 2L, "c")).toDF("id", "v", "op"),
      "id", "op")
    val after = headFiles(t)
    assert(before.subsetOf(after), "no existing file may be rewritten")
    assert((after -- before).size == 1) // just the insert file
    assert(Layout.readSnapshot(spark, t).count() == 22)
  }

  test("file-pruned merge: rangeless files and unindexed tables " +
      "rewrite conservatively — pruning never changes answers") {
    val t = tmpDir("graft-pmergeC")
    Layout.appendSnapshot(
      spark.range(0L, 10L).toDF("id").withColumn("v", col("id"))
        .coalesce(1), t, statsCol = "id")
    // a rangeless file (appended without stats) must be treated as
    // touched even when its actual keys are disjoint from the delta
    Layout.appendSnapshot(
      spark.range(50L, 60L).toDF("id").withColumn("v", col("id"))
        .coalesce(1), t)
    val before = headFiles(t)
    assert(before.size == 2)
    Layout.mergeSnapshot(spark, t,
      Seq((3L, 99L, "u")).toDF("id", "v", "op"), "id", "op")
    // BOTH files rewritten: the ranged one overlaps, the rangeless one
    // is conservative — and every row survives with the update applied
    assert((before & headFiles(t)).isEmpty)
    val head = Layout.readSnapshot(spark, t).orderBy("id")
    assert(head.count() == 20)
    assert(head.filter(col("id") === 3L).head().getLong(1) == 99L)
    assert(head.filter(col("id") === 55L).head().getLong(1) == 55L)
  }

  test("file-pruned merge ∥ interleaved append: a provably " +
      "key-disjoint append is re-based over; an overlapping or " +
      "rangeless one aborts — deterministically via the staged hook") {
    def fresh(): String = {
      val t = tmpDir("graft-pmergeR")
      Layout.appendSnapshot(
        spark.range(0L, 10L).toDF("id").withColumn("v", col("id"))
          .coalesce(1), t, statsCol = "id")
      t
    }
    val delta = Seq((3L, 77L, "u")).toDF("id", "v", "op")
    // disjoint append interleaves between stage and commit: the merge
    // re-bases, BOTH commits land, history is linear
    val t1 = fresh()
    val id = Layout.mergeSnapshotStaged(spark, t1, delta, "id", "op",
      -1, () => { Layout.appendSnapshot(
        spark.range(100L, 110L).toDF("id").withColumn("v", col("id"))
          .coalesce(1), t1, statsCol = "id"); () })
    assert(id == 3) // append took 2, the re-based merge claimed 3
    val head = Layout.readSnapshot(spark, t1)
    assert(head.count() == 20)
    assert(head.filter(col("id") === 3L).head().getLong(1) == 77L)
    assert(head.filter(col("id") >= 100L).count() == 10)
    // an append whose range CONTAINS a delta key must abort the merge:
    // re-basing would leave the appended row unmerged (silent dup)
    val t2 = fresh()
    intercept[java.util.ConcurrentModificationException](
      Layout.mergeSnapshotStaged(spark, t2, delta, "id", "op",
        -1, () => { Layout.appendSnapshot(
          Seq((3L, 1000L)).toDF("id", "v").coalesce(1), t2,
          statsCol = "id"); () }))
    assert(Layout.readSnapshot(spark, t2).count() == 11) // append only
    // a RANGELESS interleaved file can't be proved disjoint → abort
    val t3 = fresh()
    intercept[java.util.ConcurrentModificationException](
      Layout.mergeSnapshotStaged(spark, t3, delta, "id", "op",
        -1, () => { Layout.appendSnapshot(
          spark.range(100L, 110L).toDF("id").withColumn("v", col("id"))
            .coalesce(1), t3); () }))
    // an interleaved OPTIMIZE removed the touched file → abort, never
    // resurrect the pre-optimize copy
    val t4 = fresh()
    Layout.appendSnapshot(
      spark.range(100L, 110L).toDF("id").withColumn("v", col("id"))
        .coalesce(1), t4, statsCol = "id") // 2 files so optimize packs
    intercept[java.util.ConcurrentModificationException](
      Layout.mergeSnapshotStaged(spark, t4, delta, "id", "op",
        -1, () => { Layout.optimizeSnapshot(spark, t4,
          targetRowsPerFile = 100, statsCol = "id"); () }))
  }

  test("file-pruned merge: stale base over a DISJOINT append " +
      "self-rebases; over an OVERLAPPING commit aborts") {
    val t = tmpDir("graft-pmergeS")
    Layout.appendSnapshot(
      spark.range(0L, 10L).toDF("id").withColumn("v", col("id"))
        .coalesce(1), t, statsCol = "id")
    // Interleave via the commit hook: run the merge on a thread that
    // pauses after staging, land an append, then let the merge commit.
    // Simpler deterministic equivalent: merge in default mode AFTER
    // the append — the re-base logic is exercised by racing two real
    // threads through the same table.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    import scala.jdk.CollectionConverters._
    val outcomes = try {
      pool.invokeAll(Seq(
        new java.util.concurrent.Callable[String] {
          def call(): String = { barrier.await()
            Layout.mergeSnapshot(spark, t,
              Seq((3L, 77L, "u")).toDF("id", "v", "op"), "id", "op")
            "merge"
          }
        },
        new java.util.concurrent.Callable[String] {
          def call(): String = { barrier.await()
            Layout.appendSnapshot(
              spark.range(200L, 210L).toDF("id")
                .withColumn("v", col("id")).coalesce(1), t,
              statsCol = "id")
            "append"
          }
        }).asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
    assert(outcomes.toSet == Set("merge", "append"))
    // whatever the interleaving, BOTH commits land: 10 + 10 rows,
    // update applied — the disjoint append was never a casualty
    val head = Layout.readSnapshot(spark, t)
    assert(head.count() == 20)
    assert(head.filter(col("id") === 3L).head().getLong(1) == 77L)
    assert(head.filter(col("id") >= 200L).count() == 10)
    // and an interleaved commit that REMOVES a touched file aborts:
    // optimize rewrites every file, so a merge pinned to the
    // pre-optimize base must throw, not resurrect
    val preOpt = Layout.snapshots(spark, t).agg(max("snapshot_id"))
      .head().getLong(0).toInt
    Layout.optimizeSnapshot(spark, t, targetRowsPerFile = 100,
      statsCol = "id")
    val e = intercept[java.util.ConcurrentModificationException](
      Layout.mergeSnapshot(spark, t,
        Seq((3L, 1L, "u")).toDF("id", "v", "op"), "id", "op",
        expectedBase = preOpt))
    assert(Layout.readSnapshot(spark, t).count() == 20)
  }
}
