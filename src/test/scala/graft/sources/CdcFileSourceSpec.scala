package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.SparkSpec
import graft.cdc.{CdcEnvelope, CdcPipeline, Sinks}

/** DSv2 source spec: LSN offsets, incremental micro-batches, batch read,
  * and the full pipeline stack running on top of format("graft-cdc"). */
class CdcFileSourceSpec extends SparkSpec {
  import spark.implicits._

  private def line(lsn: Long, op: String, schema: String, id: Long,
      name: String): String = {
    val row = s"""{"id": "$id", "full_name": "$name"}"""
    val before = if (op == "c" || op == "r") "null" else row
    val after = if (op == "d") "null" else row
    s"""{"lsn": $lsn, "txId": $lsn, "tsMs": ${1600000000000L + lsn}, "op": "$op", "db": "experiment", "schema": "$schema", "table": "users", "before": $before, "after": $after}"""
  }

  private val golden = Seq(
    line(1, "c", "schema1", 1, "susan smith"),
    line(2, "c", "schema1", 2, "anne smith"),
    line(3, "c", "schema2", 1, "bob smith"),
    line(4, "u", "schema1", 1, "sue smith"),
    line(5, "u", "schema2", 1, "bobby smith"))

  test("batch read: full log with envelope schema") {
    val log = Paths.get(tmpDir("cdclog"), "wal.jsonl")
    Files.write(log, golden.mkString("\n").getBytes)
    val df = spark.read.format("graft-cdc").load(log.toString)
    assert(df.count() == 5)
    val envs = df.as[CdcEnvelope].collect().sortBy(_.lsn)
    assert(envs.head.after("full_name") == "susan smith")
    assert(envs.last.op == "u" && envs.last.schema == "schema2")
  }

  test("options are checked at load: unknown walFormat, non-positive maxEventsPerBatch") {
    val log = Paths.get(tmpDir("cdclog9"), "wal.jsonl")
    Files.write(log, golden.mkString("\n").getBytes)
    val format = intercept[IllegalArgumentException] {
      spark.read.format("graft-cdc").option("walFormat", "pgouput")
        .load(log.toString)
    }
    assert(format.getMessage.contains("walFormat") &&
      format.getMessage.contains("pgouput"), format.getMessage)
    for (n <- Seq("0", "-3")) {
      val cap = intercept[IllegalArgumentException] {
        spark.readStream.format("graft-cdc").option("maxEventsPerBatch", n)
          .load(log.toString)
      }
      assert(cap.getMessage.contains("maxEventsPerBatch"), cap.getMessage)
    }
  }

  test("micro-batch stream: incremental LSN offsets drive the CDC pipeline") {
    val log = Paths.get(tmpDir("cdclog2"), "wal.jsonl")
    Files.write(log, golden.mkString("\n").getBytes)

    val events = spark.readStream.format("graft-cdc").load(log.toString)
      .as[CdcEnvelope]
    val ns = s"cdc-src-${java.util.UUID.randomUUID()}"
    val sink = Sinks.MemoryDb.table(ns, CdcPipeline.countTable)
    val q = CdcPipeline.liveCountPerSchema(events, Sinks.MemoryDb.factory(ns),
      tmpDir("cdc-src-ckpt"))
    q.processAllAvailable()
    assert(sink.snapshot.view.mapValues(_("user_count")).toMap ==
      Map("schema1" -> 2L, "schema2" -> 1L))

    // Append to the log (replication continues) → next micro-batch reads
    // only lsn > 5.
    Files.write(log, ("\n" + line(6, "d", "schema1", 2, "anne smith")).getBytes,
      StandardOpenOption.APPEND)
    q.processAllAvailable()
    q.stop()
    assert(sink.snapshot("schema1")("user_count") == 1L)
  }

  test("snapshot phase: op='r' seeds state, then the stream takes over") {
    // Debezium-style startup (reference CustomJob.java:237-240): every
    // pre-existing row arrives once as op='r' at snapshot LSNs, then the
    // incremental c/u/d stream. The compactor treats 'r' as an upsert, so
    // handoff needs no special casing — this pins that contract.
    val log = Paths.get(tmpDir("cdcsnap"), "wal.jsonl")
    Files.write(log, Seq(
      line(1, "r", "schema1", 1, "susan smith"),
      line(2, "r", "schema1", 2, "anne smith"),
      line(3, "r", "schema2", 1, "bob smith"),
      line(1000, "u", "schema1", 1, "sue smith"), // update a snapshotted key
      line(1001, "d", "schema1", 2, "anne smith"), // delete a snapshotted key
      line(1002, "c", "schema2", 7, "carl smith")) // create a fresh key
      .mkString("\n").getBytes)
    val ns = s"cdc-snap-${java.util.UUID.randomUUID()}"
    val sink = Sinks.MemoryDb.table(ns, CdcPipeline.countTable)
    val q = CdcPipeline.liveCountPerSchema(
      spark.readStream.format("graft-cdc").load(log.toString).as[CdcEnvelope],
      Sinks.MemoryDb.factory(ns), tmpDir("cdc-snap-ckpt"))
    q.processAllAvailable(); q.stop()
    // schema1: {1,2} snapshotted, 2 deleted → 1; schema2: {1} + created 7 → 2.
    assert(sink.snapshot.view.mapValues(_("user_count")).toMap ==
      Map("schema1" -> 1L, "schema2" -> 2L))
  }

  test("admission control: maxEventsPerBatch splits the backlog into micro-batches") {
    val log = Paths.get(tmpDir("cdclog4"), "wal.jsonl")
    Files.write(log, golden.mkString("\n").getBytes)
    val events = spark.readStream.format("graft-cdc")
      .option("maxEventsPerBatch", "2")
      .load(log.toString).as[CdcEnvelope]
    val ns = s"cdc-adm-${java.util.UUID.randomUUID()}"
    val sink = Sinks.MemoryDb.table(ns, CdcPipeline.countTable)
    val q = CdcPipeline.liveCountPerSchema(events, Sinks.MemoryDb.factory(ns),
      tmpDir("cdc-adm-ckpt"))
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    // 5 events at <=2 per batch -> at least 3 non-empty micro-batches,
    // with the same final state as unthrottled processing
    assert(batches >= 3, s"expected >=3 batches, got $batches")
    assert(sink.snapshot.view.mapValues(_("user_count")).toMap ==
      Map("schema1" -> 2L, "schema2" -> 1L))
  }

  test("numPartitions splits the LSN range into parallel readers") {
    val log = Paths.get(tmpDir("cdclog5"), "wal.jsonl")
    Files.write(log, golden.mkString("\n").getBytes)
    val df = spark.read.format("graft-cdc").load(log.toString)
    assert(df.count() == 5)
    val stream = new CdcFileMicroBatchStream(CdcOptions(log.toString, numPartitions = 3))
    val parts = stream.planInputPartitions(CdcOffset(0), CdcOffset(5))
    assert(parts.length == 3)
    val ranges = parts.map(_.asInstanceOf[CdcRangePartition])
    assert(ranges.map(r => r.endInclusive - r.startExclusive).sum == 5)
    // ranges are contiguous and disjoint
    assert(ranges.sortBy(_.startExclusive).sliding(2).forall {
      case Array(a, b) => a.endInclusive == b.startExclusive
      case _ => true
    })
  }

  test("a span past Int.MaxValue still splits into numPartitions ranges") {
    // a live slot's first trigger runs from offset 0 to the slot's LSN;
    // planning a jsonl range reads no file
    val stream = new CdcFileMicroBatchStream(CdcOptions(
      Paths.get(tmpDir("cdclog8"), "wal.jsonl").toString, numPartitions = 4,
      walFormat = "jsonl"))
    val ranges = stream.planInputPartitions(CdcOffset(0), CdcOffset(3000000000L))
      .map(_.asInstanceOf[CdcRangePartition]).sortBy(_.startExclusive)
    assert(ranges.length == 4, ranges.toSeq)
    assert(ranges.head.startExclusive == 0L)
    assert(ranges.last.endInclusive == 3000000000L)
    assert(ranges.sliding(2).forall {
      case Array(a, b) => a.endInclusive == b.startExclusive
    }, ranges.toSeq)
  }

  test("batch read splits the LSN span into parallel range readers") {
    val log = Paths.get(tmpDir("cdclog7"), "wal.jsonl")
    Files.write(log, golden.mkString("\n").getBytes)
    val df = spark.read.format("graft-cdc")
      .option("numPartitions", "3").load(log.toString)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 5) // ranges are disjoint and complete
    import org.apache.spark.sql.functions.col
    assert(df.select(col("lsn")).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("WalTransport seam: an in-memory transport drives the same decode path") {
    // The decoders only see the trait — proving a socket implementation
    // (walsender XLogData frames) drops in without touching the source.
    val oid = 7
    val framed = Seq[(Long, Array[Byte])](
      0L -> PgOutputFrames.relation(oid, "s1", "users", Seq("id", "full_name")),
      1L -> PgOutputFrames.begin(100, 1600000000000L),
      1L -> PgOutputFrames.insert(oid, Seq(Some("1"), Some("susan"))),
      1L -> PgOutputFrames.commit(),
      2L -> PgOutputFrames.begin(101, 1600000001000L),
      2L -> PgOutputFrames.delete(oid, Seq(Some("1"), None)),
      2L -> PgOutputFrames.commit())
    val mem = new WalTransport {
      override def frames(afterLsn: Long,
          endInclusive: Long): Iterator[(Long, Array[Byte])] =
        framed.filter(f => f._1 > afterLsn && f._1 <= endInclusive).iterator
      override def headLsn(): Long = framed.map(_._1).max
      private var acked = Long.MinValue
      override def ack(lsn: Long): Unit = acked = lsn
    }
    val session = new PgOutputSession()
    val envs = mem.frames(Long.MinValue)
      .flatMap { case (lsn, f) => session.decode(f, lsn) }.toSeq
    assert(envs.map(e => (e.lsn, e.op)) == Seq((1L, "c"), (2L, "d")))
    assert(envs.head.after("full_name") == "susan")
    assert(mem.headLsn() == 2L)
  }

  test("file transport acks the committed LSN (confirmed_flush_lsn analog)") {
    val log = Paths.get(tmpDir("cdclog6"), "wal.jsonl")
    Files.write(log, golden.mkString("\n").getBytes)
    val t = new FileWalTransport(log.toString, "jsonl")
    assert(t.headLsn() == 5L)
    assert(t.frames(3L).map(_._1).toSeq == Seq(4L, 5L))
    t.ack(5L)
    assert(t.ackedLsn == 5L)
    // the stream commits offsets through the same seam
    val stream = new CdcFileMicroBatchStream(CdcOptions(log.toString))
    stream.commit(CdcOffset(4L))
    stream.stop()
  }

  test("restart resumes from checkpointed LSN (no reprocessing)") {
    val dir = tmpDir("cdclog3")
    val log = Paths.get(dir, "wal.jsonl")
    val ckpt = s"$dir/ckpt"
    Files.write(log, golden.mkString("\n").getBytes)

    val ns = s"cdc-restart-${java.util.UUID.randomUUID()}"
    val sink = Sinks.MemoryDb.table(ns, CdcPipeline.countTable)
    val q1 = CdcPipeline.liveCountPerSchema(
      spark.readStream.format("graft-cdc").load(log.toString).as[CdcEnvelope],
      Sinks.MemoryDb.factory(ns), ckpt)
    q1.processAllAvailable(); q1.stop()

    // Restart against the same checkpoint; nothing new → no state change,
    // then an appended delete is picked up exactly once.
    val q2 = CdcPipeline.liveCountPerSchema(
      spark.readStream.format("graft-cdc").load(log.toString).as[CdcEnvelope],
      Sinks.MemoryDb.factory(ns), ckpt)
    q2.processAllAvailable()
    assert(sink.snapshot.view.mapValues(_("user_count")).toMap ==
      Map("schema1" -> 2L, "schema2" -> 1L))
    Files.write(log, ("\n" + line(6, "d", "schema2", 1, "bobby smith")).getBytes,
      StandardOpenOption.APPEND)
    q2.processAllAvailable(); q2.stop()
    assert(sink.snapshot("schema2")("user_count") == 0L)
  }
}
