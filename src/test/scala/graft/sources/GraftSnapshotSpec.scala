package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.Layout

/** The `graft-snapshot` streaming source: offsets = snapshot ids,
  * micro-batches = manifest file-set diffs, schema from the manifest.
  * The oracle-graded end-to-end run (three appends, restart mid-stream)
  * is st20; these pin the semantics the oracle can't see — per-batch
  * partition fan-out, empty commits, admission control, batch parity,
  * and loud failure on an unsupported column type. */
class GraftSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def commitRange(t: String, lo: Long, hi: Long): Unit = {
    Layout.appendSnapshot(
      spark.range(lo, hi).toDF("id")
        .withColumn("tag", concat(lit("r"), col("id") % 3))
        .coalesce(2), t)
    ()
  }

  test("batch read serves the head through the manifest file set") {
    val t = tmpDir("snap-src-batch")
    commitRange(t, 0, 100)
    commitRange(t, 100, 150)
    val got = spark.read.format("graft-snapshot").load(t)
    assert(got.schema.fieldNames.toSeq == Seq("id", "tag"))
    assert(got.count() == 150)
    assert(got.agg(sum("id")).head().getLong(0) == (0L until 150L).sum)
    // asOfSnapshot time-travels the batch read
    assert(spark.read.format("graft-snapshot")
      .option("asOfSnapshot", "1").load(t).count() == 100)
  }

  test("streaming: one commit per micro-batch, resume after restart, " +
      "empty and zero-file commits advance cleanly") {
    val t = tmpDir("snap-src-stream")
    val out = tmpDir("snap-src-out")
    val ckpt = tmpDir("snap-src-ckpt")
    commitRange(t, 0, 40)
    commitRange(t, 40, 60)
    // a zero-row append: manifest advances, no files — the batch for
    // this transition must be EMPTY, not an error
    Layout.appendSnapshot(
      spark.range(0, 0).toDF("id").withColumn("tag", lit("x")), t)
    var batches = Vector.empty[(Long, Long)] // (batchId, rows)
    def run(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("maxSnapshotsPerTrigger", "1")
        .load(t)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, id: Long) =>
            val n = b.count()
            batches :+= (id, n)
            b.withColumn("batch_id", lit(id))
              .write.mode("append").parquet(out)
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    run()
    // three transitions → three micro-batches, sized per commit
    assert(batches == Vector((0L, 40L), (1L, 20L), (2L, 0L)), batches)
    // a commit while the stream is DOWN; restart resumes, re-reads nothing
    commitRange(t, 60, 90)
    run()
    assert(batches.last == (3L, 30L), batches)
    val back = spark.read.parquet(out)
    assert(back.count() == 90)
    assert(back.select("id").distinct().count() == 90)
    // batch attribution: each id consumed in the batch its commit made
    val byBatch = back.groupBy("batch_id").agg(min("id"), max("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(byBatch == Set((0L, 0L, 39L), (1L, 40L, 59L), (3L, 60L, 89L)))
  }

  test("planInputPartitions fans out one partition per data file") {
    val t = tmpDir("snap-src-fan")
    Layout.appendSnapshot(
      spark.range(0, 1000).toDF("id").withColumn("tag", lit("a"))
        .repartition(8), t)
    val files = Layout.changedFilePaths(spark, t, 0, 1)
    assert(files.size == 8, files)
    val got = spark.read.format("graft-snapshot").load(t)
    assert(got.rdd.getNumPartitions == 8)
    assert(got.count() == 1000)
  }

  test("unsupported column type fails loudly at table construction") {
    val t = tmpDir("snap-src-bad")
    // Layout's writers refuse the type before committing anything, so
    // the table is constructed over a declared schema
    val w = intercept[IllegalArgumentException](Layout.commitSnapshot(
      Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "emb").coalesce(1), t))
    assert(w.getMessage.contains("unsupported column type"))
    val e = intercept[IllegalArgumentException](
      spark.read.format("graft-snapshot")
        .schema("id BIGINT, emb ARRAY<FLOAT>").load(t).count())
    assert(e.getMessage.contains("unsupported column type"))
    assert(e.getMessage.contains("emb"))
  }

  test("schema evolution: files predating a column null-fill through " +
      "both the batch and streaming readers") {
    val t = tmpDir("snap-src-evo")
    Layout.appendSnapshot(
      spark.range(0, 10).toDF("id").coalesce(1), t)
    Layout.appendSnapshot(
      spark.range(10, 20).toDF("id").withColumn("lang", lit("en"))
        .coalesce(1), t)
    // batch read: head schema is the union; old file null-fills
    val got = spark.read.format("graft-snapshot").load(t)
    assert(got.schema.fieldNames.toSeq == Seq("id", "lang"))
    assert(got.filter(col("lang").isNull).count() == 10)
    assert(got.filter(col("lang") === "en").count() == 10)
    // streaming read: the pre-evolution file decodes against the union
    // schema with the missing field null-filled (idx = -1 path)
    val out = tmpDir("snap-src-evo-out")
    val q = spark.readStream.format("graft-snapshot").load(t)
      .writeStream
      .option("checkpointLocation", tmpDir("snap-src-evo-ckpt"))
      .foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
      }
      .start()
    q.processAllAvailable(); q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == 20)
    assert(back.filter(col("lang").isNull).count() == 10)
  }

  test("filter pushdown: manifest-stats file skipping plans only " +
      "overlapping partitions; answers never change") {
    val t = tmpDir("snap-src-push")
    // three appends with disjoint known id ranges, stats on id
    Seq(0L, 100L, 200L).foreach { lo =>
      Layout.appendSnapshot(
        spark.range(lo, lo + 10).toDF("id")
          .withColumn("tag", lit(s"b$lo")).coalesce(1), t,
        statsCol = "id")
    }
    val src = spark.read.format("graft-snapshot").load(t)
    // range predicate: exactly ONE file overlaps [100, 105]
    val mid = src.filter(col("id").between(100L, 105L))
    assert(mid.rdd.getNumPartitions == 1)
    assert(mid.count() == 6)
    assert(mid.agg(sum("id")).head().getLong(0) == (100L to 105L).sum)
    // equality predicate: one file, one row
    val one = src.filter(col("id") === 205L)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(205L))
    // a range between blocks prunes everything
    assert(src.filter(col("id").between(50L, 60L))
      .rdd.getNumPartitions == 0)
    // predicates on a NON-indexed column never prune (and never lie)
    val byTag = src.filter(col("tag") === "b100")
    assert(byTag.rdd.getNumPartitions == 3)
    assert(byTag.count() == 10)
    // filters stay residual: row-level exactness on the kept file
    assert(src.filter(col("id") > 101L && col("id") < 104L)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(102L, 103L))
  }

  test("pushdown without a recorded stats column reads everything " +
      "(trust nothing, skip nothing)") {
    val t = tmpDir("snap-src-nopush")
    Seq(0L, 100L).foreach { lo =>
      Layout.appendSnapshot(
        spark.range(lo, lo + 10).toDF("id").coalesce(1), t)
    }
    val got = spark.read.format("graft-snapshot").load(t)
      .filter(col("id") < 5L)
    assert(got.rdd.getNumPartitions == 2) // no stats col → no skipping
    assert(got.count() == 5)
  }

  test("column pruning reaches the reader; zero-column (count) reads " +
      "keep exact row counts") {
    val t = tmpDir("snap-src-prune")
    Layout.appendSnapshot(
      spark.range(0, 100).toDF("id")
        .withColumn("tag", lit("a")).withColumn("v", col("id") * 2.0)
        .coalesce(1), t)
    val src = spark.read.format("graft-snapshot").load(t)
    // the scan's output schema is the pruned one
    val pruned = src.select("tag")
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.output.map(_.name) == Seq("tag"))
    assert(pruned.distinct().collect().map(_.getString(0)).toSeq ==
      Seq("a"))
    // full pruning: count() must survive a zero-column projection
    assert(src.count() == 100)
    // pruning composes with schema evolution (file lacks `lang`)
    Layout.appendSnapshot(
      spark.range(100, 110).toDF("id").withColumn("tag", lit("b"))
        .withColumn("v", lit(0.0)).withColumn("lang", lit("en"))
        .coalesce(1), t)
    val evolved = spark.read.format("graft-snapshot").load(t)
      .select("lang")
    assert(evolved.filter(col("lang").isNull).count() == 100)
    assert(evolved.filter(col("lang") === "en").count() == 10)
  }

  test("DSv2 batch write: append and truncate-overwrite commit " +
      "through the manifest protocol; tag makes a write idempotent; " +
      "stats recorded from written values") {
    val t = tmpDir("snap-sink-batch")
    // first write to an EMPTY table (schema from the query, no infer)
    spark.range(0, 100).toDF("id").withColumn("tag", lit("a"))
      .repartition(4)
      .write.format("graft-snapshot").mode("append")
      .option("statsCol", "id").save(t)
    assert(Layout.snapshots(spark, t).count() == 1)
    val head1 = Layout.readSnapshot(spark, t)
    assert(head1.count() == 100)
    assert(Layout.snapshotStatsCol(spark, t).contains("id"))
    // append mode carries history
    spark.range(100, 150).toDF("id").withColumn("tag", lit("b"))
      .coalesce(1)
      .write.format("graft-snapshot").mode("append")
      .option("statsCol", "id").save(t)
    assert(Layout.snapshots(spark, t).count() == 2)
    assert(Layout.readSnapshot(spark, t).count() == 150)
    // the written stats serve pruned reads through the read path
    val pruned = spark.read.format("graft-snapshot").load(t)
      .filter(col("id").between(100L, 120L))
    assert(pruned.rdd.getNumPartitions == 1)
    assert(pruned.count() == 21)
    // overwrite = TRUNCATE: full replace, history intact
    spark.range(0, 7).toDF("id").withColumn("tag", lit("c"))
      .coalesce(1)
      .write.format("graft-snapshot").mode("overwrite").save(t)
    assert(Layout.readSnapshot(spark, t).count() == 7)
    assert(Layout.readSnapshot(spark, t, asOf = 2).count() == 150)
    // a tagged batch write replays idempotently
    spark.range(0, 5).toDF("id").withColumn("tag", lit("d"))
      .coalesce(1).write.format("graft-snapshot").mode("append")
      .option("tag", "backfill-1").save(t)
    val before = Layout.snapshots(spark, t).count()
    spark.range(0, 5).toDF("id").withColumn("tag", lit("d"))
      .coalesce(1).write.format("graft-snapshot").mode("append")
      .option("tag", "backfill-1").save(t)
    assert(Layout.snapshots(spark, t).count() == before)
  }

  test("DSv2 batch writes race safely: concurrent append∥append " +
      "through the sink commits BOTH with the union visible") {
    val t = tmpDir("snap-sink-race")
    Layout.commitSnapshot(
      spark.range(0, 10).toDF("id").coalesce(1), t) // seed head
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      import scala.jdk.CollectionConverters._
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      pool.invokeAll(Seq(100L, 200L).map { lo =>
        new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            barrier.await()
            spark.range(lo, lo + 10).toDF("id").coalesce(1)
              .write.format("graft-snapshot").mode("append").save(t)
          }
        }
      }.asJava).asScala.foreach(_.get()) // surface either side's failure
    } finally pool.shutdown()
    assert(Layout.snapshots(spark, t).count() == 3)
    val head = Layout.readSnapshot(spark, t)
    assert(head.count() == 30)
    assert(head.agg(sum("id")).head().getLong(0) ==
      (0L until 10L).sum + (100L until 110L).sum + (200L until 210L).sum)
  }

  test("DSv2 streaming write: one snapshot per epoch, tagged for " +
      "replay idempotence, read back through the source") {
    val t = tmpDir("snap-sink-stream")
    val in = tmpDir("snap-sink-in")
    // three one-file jsonl chunks consumed one per trigger
    (0 until 3).foreach { k =>
      spark.range(k * 10L, k * 10L + 10).toDF("id")
        .withColumn("tag", lit(s"c$k")).coalesce(1)
        .write.mode("overwrite").json(s"$in/chunk-$k")
    }
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("id BIGINT, tag STRING")
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .json(s"$in/chunk-*")
      .filter(col("id").isNotNull)
      .writeStream
      .format("graft-snapshot")
      .option("path", t)
      .option("statsCol", "id")
      .option("checkpointLocation", tmpDir("snap-sink-ckpt"))
      .start()
    q.processAllAvailable(); q.stop()
    // one manifest per micro-batch, union visible at the head
    assert(Layout.snapshots(spark, t).count() == 3)
    val back = spark.read.format("graft-snapshot").load(t)
    assert(back.count() == 30)
    assert(back.agg(sum("id")).head().getLong(0) == (0L until 30L).sum)
  }

  test("aggregate pushdown: count(*)/min/max answered from manifest " +
      "metadata — zero data files touched (proved by deleting them)") {
    val t = tmpDir("snap-src-agg")
    Seq(0L, 100L).foreach { lo =>
      Layout.appendSnapshot(
        spark.range(lo, lo + 50).toDF("id")
          .withColumn("tag", lit(s"b$lo")).coalesce(1), t,
        statsCol = "id")
    }
    val src = spark.read.format("graft-snapshot").load(t)
    val agg = src.agg(count(lit(1)).as("n"), min("id").as("lo"),
      max("id").as("hi")).head()
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) ==
      (100L, 0L, 149L))
    // min/max on a NON-indexed column must NOT push (falls back to a
    // real scan, still correct)
    assert(spark.read.format("graft-snapshot").load(t)
      .agg(max("tag")).head().getString(0) == "b100")
    // a filtered count never takes the metadata path (filters are
    // residual, so Spark keeps the agg above the scan)
    assert(src.filter(col("id") < 10L).count() == 10)
    // the load-bearing proof: with every DATA file deleted, the
    // metadata aggregates still answer; a data-touching plan would throw
    val conf = spark.sessionState.newHadoopConf()
    val dataDir = new org.apache.hadoop.fs.Path(t, "data")
    val fs = dataDir.getFileSystem(conf)
    fs.listStatus(dataDir).foreach(st => fs.delete(st.getPath, false))
    val gone = spark.read.format("graft-snapshot").load(t)
    val agg2 = gone.agg(count(lit(1)).as("n"), min("id").as("lo"),
      max("id").as("hi")).head()
    assert((agg2.getLong(0), agg2.getLong(1), agg2.getLong(2)) ==
      (100L, 0L, 149L))
    intercept[Exception](gone.collect()) // the scan path really is gone
  }

  test("aggregate pushdown refuses when a file lacks a range " +
      "(rangeless append) and on an empty table's min/max") {
    val t = tmpDir("snap-src-agg-no")
    Layout.appendSnapshot(
      spark.range(0, 10).toDF("id").coalesce(1), t, statsCol = "id")
    Layout.appendSnapshot(
      spark.range(100, 110).toDF("id").coalesce(1), t) // rangeless
    val src = spark.read.format("graft-snapshot").load(t)
    // count(*) still metadata (total row count needs no ranges);
    // min/max must SCAN (one file has no recorded range)
    assert(src.count() == 20)
    assert(src.agg(min("id"), max("id")).head().toSeq ==
      Seq(0L, 109L))
    // empty table: count comes back 0 via metadata; min/max of an
    // empty relation is NULL, which metadata can't represent → scan
    val e = tmpDir("snap-src-agg-empty")
    Layout.commitSnapshot(
      spark.range(0, 0).toDF("id"), e)
    val empty = spark.read.format("graft-snapshot").load(e)
    assert(empty.count() == 0)
    assert(empty.agg(min("id")).head().isNullAt(0))
  }

  test("reading an uncommitted table names the problem") {
    val t = tmpDir("snap-src-none")
    val e = intercept[IllegalArgumentException](
      spark.read.format("graft-snapshot").load(t).count())
    assert(e.getMessage.contains("no committed snapshot"))
  }

  test("batch change-feed window: typed changes of the selected " +
      "commit range, aggregates refuse the metadata shortcut") {
    val t = tmpDir("snap-cdf-batch")
    Layout.appendSnapshot(
      spark.range(0L, 10L).toDF("id").withColumn("v", col("id"))
        .coalesce(1), t, statsCol = "id")                  // 1
    Layout.mergeSnapshot(spark, t,
      Seq((3L, 99L, "u"), (5L, 0L, "d"), (50L, 1L, "c"))
        .toDF("id", "v", "op"), "id", "op",
      changeFeed = true)                                   // 2
    Layout.appendSnapshot(
      spark.range(100L, 103L).toDF("id").withColumn("v", col("id"))
        .coalesce(1), t)                                   // 3
    // full window (0, head]: batch 1's adds + merge diff + batch 3's
    val all = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").load(t)
    assert(all.schema.fieldNames.contains("_op"))
    val byOp = all.groupBy("_op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byOp == Map("added" -> 14L, "changed" -> 1L,
      "removed" -> 1L), byOp)
    // windowed: only the merge commit
    val w = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true")
      .option("startingSnapshot", "1").option("asOfSnapshot", "2")
      .load(t)
    assert(w.count() == 3)
    assert(w.filter(col("_op") === "changed").head().getLong(0) == 3L)
    // count(*) over a change window must NOT be answered from the
    // head manifest's metadata (it counts image rows, not changes)
    val plan = all.groupBy().count().queryExecution.executedPlan
      .toString
    assert(!plan.contains("manifest-aggregate"), plan)
  }

  test("streaming sink into a PARTITIONED table follows the sticky " +
      "layout: epoch files land under value dirs and prune") {
    val t = tmpDir("snap-part-stream")
    // batch write declares the layout; the stream follows it stickily
    spark.range(0, 6).toDF("id")
      .withColumn("grp", concat(lit("g"), col("id") % 2))
      .write.format("graft-snapshot").partitionBy("grp")
      .option("statsCol", "id").mode("append").save(t)
    val in = tmpDir("snap-part-stream-in")
    spark.range(100, 110).toDF("id")
      .withColumn("grp", concat(lit("g"), col("id") % 2))
      .coalesce(1).write.mode("overwrite").json(in)
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, grp STRING"))
      .json(in)
      .writeStream.format("graft-snapshot")
      .option("path", t).option("statsCol", "id")
      .option("checkpointLocation", tmpDir("snap-part-stream-ck"))
      .start()
    q.processAllAvailable(); q.stop()
    val files = Layout.snapshotInfo(spark, t).get.files
    assert(files.forall(_.matches("grp=g[01]/.*")), files)
    val pruned = spark.read.format("graft-snapshot").load(t)
      .filter(col("grp") === "g1")
    assert(pruned.count() == 8)
    assert(pruned.rdd.getNumPartitions <
      spark.read.format("graft-snapshot").load(t).rdd.getNumPartitions)
  }

  test("partitioned writes: partitionBy lands Hive-style value dirs, " +
      "one file per (task, value); equality reads prune directories " +
      "from the manifest; appends follow the layout stickily") {
    val t = tmpDir("snap-part")
    val df = spark.range(0, 30).toDF("id")
      .withColumn("grp", concat(lit("g"), col("id") % 3))
    df.write.format("graft-snapshot").partitionBy("grp")
      .option("statsCol", "id").mode("append").save(t)
    // clustered distribution: each grp value lands in ONE task → one
    // file per value, under its own grp=<value>/ directory
    val files = Layout.snapshotInfo(spark, t).get.files
    assert(files.size == 3, files)
    assert(files.forall(f => f.matches("grp=g[0-2]/.*\\.parquet")), files)
    assert(Layout.snapshotPartCols(spark, t) == Seq("grp"))
    // equality filter on the partition column plans ONE partition —
    // pruned from the manifest path segments, no listing, no footers
    val pruned = spark.read.format("graft-snapshot").load(t)
      .filter(col("grp") === "g1")
    assert(pruned.rdd.getNumPartitions == 1)
    assert(pruned.count() == 10)
    assert(pruned.agg(sum("id")).head().getLong(0) ==
      (0L until 30L).filter(_ % 3 == 1).sum)
    // a second write (no partitionBy declared) follows the recorded
    // layout stickily
    spark.range(100, 106).toDF("id")
      .withColumn("grp", lit("g1"))
      .write.format("graft-snapshot").option("statsCol", "id")
      .mode("append").save(t)
    val files2 = Layout.snapshotInfo(spark, t).get.files
    assert(files2.size == 4)
    assert(files2.count(_.startsWith("grp=g1/")) == 2)
    val pruned2 = spark.read.format("graft-snapshot").load(t)
      .filter(col("grp") === "g2")
    assert(pruned2.rdd.getNumPartitions == 1)
    assert(pruned2.count() == 10)
    // stats + partition pruning COMPOSE: id-bound picks inside grp=g1
    val both = spark.read.format("graft-snapshot").load(t)
      .filter(col("grp") === "g1" && col("id") >= 100L)
    assert(both.rdd.getNumPartitions == 1)
    assert(both.count() == 6)
    // a conflicting declared layout aborts (one manifest, one layout)
    val e = intercept[Exception](
      spark.range(0, 3).toDF("id").withColumn("grp", lit("x"))
        .write.format("graft-snapshot").partitionBy("id")
        .mode("append").save(t))
    assert(e.getMessage.contains("one manifest carries one partition"))
  }

  test("plain streaming tail applies the end snapshot's deletion " +
      "sidecars (batch/stream parity inside one window)") {
    val t = tmpDir("snap-src-dv-tail")
    val ckpt = tmpDir("snap-src-dv-ckpt")
    import spark.implicits._
    Layout.appendSnapshot(
      spark.range(0, 100).toDF("id").withColumn("v", col("id")),
      t, statsCol = "id")
    // inside the SAME un-consumed window: a DV merge masks two rows of
    // the snapshot-1 file — the stream starts at 0, so its first
    // batches cover snapshots (0, 2]; rows 7 and 13 must not surface
    Layout.mergeSnapshot(spark, t,
      Seq((7L, 0L, "d"), (13L, 0L, "d")).toDF("id", "v", "op"),
      "id", "op", dvThreshold = 0.5)
    assert(Layout.snapshotInfo(spark, t).get.dv.nonEmpty,
      "fixture: expected a sidecar, not a rewrite")
    // the window must SPAN both commits — per-transition windows see
    // each commit's own image (snapshot 1 legitimately had the rows)
    val q = spark.readStream.format("graft-snapshot")
      .option("maxSnapshotsPerTrigger", "2").load(t)
      .writeStream.format("memory").queryName("dv_tail")
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dv_tail")
    assert(got.count() == 98, "stream surfaced DV-masked rows")
    assert(got.filter(col("id").isin(7L, 13L)).isEmpty,
      "masked keys streamed")
    // parity with the batch twin over the same window
    assert(Layout.readSnapshotChanges(spark, t, 0).count() == 98)
  }

  test("streaming sink write token is released when the query " +
      "terminates (stopped queries don't pin vacuum forever)") {
    val src = tmpDir("snap-tok-src")
    val t = tmpDir("snap-tok-dst")
    val ckpt = tmpDir("snap-tok-ckpt")
    Layout.appendSnapshot(spark.range(0, 10).toDF("id"), src)
    val q = spark.readStream.format("graft-snapshot").load(src)
      .writeStream.format("graft-snapshot")
      .option("path", t)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    // LogicalWriteInfo's queryId may be either identity convention —
    // the registry's listener clears both
    val ids = Seq(q.id.toString, q.runId.toString)
    def anyLive = ids.exists(StreamingTokRegistry.live)
    assert(anyLive, "expected a live token while the query runs")
    q.stop(); q.awaitTermination()
    // the termination event is delivered async on the listener bus
    val deadline = System.currentTimeMillis() + 30000
    while (anyLive && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(!anyLive, "stopped query's write token never released")
    assert(Layout.readSnapshot(spark, t).count() == 10)
  }
}
