package graft.cdc

import java.nio.file.{Files, Path, Paths}
import java.util.Base64

import graft.{QueryProfile, SparkSpec}
import graft.sources.PgOutputFrames
import org.apache.spark.sql.{DataFrame, Encoders, GraftSessionShim, SparkSession}
import org.apache.spark.sql.functions._

/** The K2 writer's ledger under real micro-batches: which partitions a
  * batch is written in, and a replay of the batch whose sink writes
  * committed while its commit-log entry did not. */
class UpsertLedgerSpec extends SparkSpec {

  /** (lsn, op, schema, id): 12 inserts over three schemas, updates and
    * deletes of some of them, then a tail of inserts, so the last
    * micro-batch carries non-zero deltas. */
  private val events: Seq[(Long, String, String, Int)] = {
    val ins = (1 to 12).map(i => ("c", i))
    val upd = Seq(1, 4, 7).map(i => ("u", i))
    val del = Seq(2, 6).map(i => ("d", i))
    val tail = (13 to 18).map(i => ("c", i))
    (ins ++ upd ++ del ++ tail).zipWithIndex.map { case ((op, i), k) =>
      ((k + 1) * 10L, op, s"s${i % 3}", i)
    }
  }

  private val expected: Map[String, Long] = {
    val deleted = events.collect { case (_, "d", _, i) => i }.toSet
    events.collect { case (_, "c", s, i) if !deleted(i) => s }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  private def jsonlWal(dir: Path): Path = {
    val lines = events.map { case (lsn, op, schema, id) =>
      val image = s"""{"id":"$id","full_name":"user $id"}"""
      val (before, after) = op match {
        case "c" => ("{}", image)
        case "u" => (image, image)
        case _ => (image, "{}")
      }
      s"""{"lsn":$lsn,"txId":$lsn,"tsMs":${lsn * 1000},"op":"$op",""" +
        s""""db":"experiment","schema":"$schema","table":"users",""" +
        s""""before":$before,"after":$after}"""
    }
    Files.write(dir.resolve("wal.jsonl"), (lines.mkString("\n") + "\n").getBytes)
  }

  /** The same events as pgoutput frames: one transaction each, and a
    * Relation frame before a schema's first row. */
  private def pgoutputWal(dir: Path): Path = {
    import PgOutputFrames._
    def line(lsn: Long, frame: Array[Byte]): String =
      s"$lsn ${Base64.getEncoder.encodeToString(frame)}"
    val oids = Map("s0" -> 16385, "s1" -> 16386, "s2" -> 16387)
    val seen = scala.collection.mutable.Set.empty[String]
    val lines = events.flatMap { case (lsn, op, schema, id) =>
      val oid = oids(schema)
      val row = Seq(Some(id.toString), Some(s"user $id"))
      val dml = op match {
        case "c" => insert(oid, row)
        case "u" => update(oid, Some(row), row)
        case _ => delete(oid, row)
      }
      Seq(line(lsn, begin(lsn.toInt, lsn * 1000))) ++
        (if (seen.add(schema))
          Seq(line(lsn, relation(oid, schema, "users", Seq("id", "full_name"))))
        else Nil) ++
        Seq(line(lsn + 1, dml), line(lsn + 2, commit()))
    }
    Files.write(dir.resolve("wal.bin"), (lines.mkString("\n") + "\n").getBytes)
  }

  private def wal(format: String): String = {
    val dir = tmpPath(s"wal-$format")
    (if (format == "jsonl") jsonlWal(dir) else pgoutputWal(dir)).toString
  }

  private def source(session: SparkSession, wal: String, format: String,
      parts: Int, admit: Option[Int]): DataFrame = {
    val r = session.readStream.format("graft-cdc")
      .option("walFormat", format).option("numPartitions", parts.toString)
    admit.fold(r)(n => r.option("maxEventsPerBatch", n.toString)).load(wal)
  }

  private def counts(ns: String): Map[String, Any] =
    Sinks.MemoryDb.table(ns, CdcPipeline.countTable).snapshot
      .view.mapValues(_("user_count")).toMap

  private def ledger(ns: String): Set[String] =
    Sinks.MemoryDb.table(ns, s"${CdcPipeline.countTable}__batches")
      .snapshot.keySet

  private def batchOf(key: String): Long = key.split('/')(1).toLong

  /** Drains Pipeline B over `wal` from `ckpt`, admitting `admit` WAL
    * frames per trigger; returns the ids of the micro-batches that read
    * rows. */
  private def runB(session: SparkSession, wal: String, format: String,
      parts: Int, admit: Option[Int], ckpt: String, ns: String): Seq[Long] = {
    val q = CdcPipeline.liveCountPerSchema(
      source(session, wal, format, parts, admit)
        .as(Encoders.product[CdcEnvelope]),
      Sinks.MemoryDb.factory(ns), ckpt)(session)
    try {
      q.processAllAvailable()
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
    } finally q.stop()
  }

  for (format <- Seq("jsonl", "pgoutput"); parts <- Seq(1, 3))
    test(s"Pipeline B replays a batch whose sink commit outran its commit log ($format, numPartitions=$parts)") {
      val log = wal(format)
      val admit = Some(if (format == "jsonl") 8 else 24)
      val ref = s"ref-${java.util.UUID.randomUUID()}"
      runB(spark, log, format, parts, admit, tmpDir("ref-ckpt"), ref)
      assert(counts(ref) == expected)

      val ns = s"gap-${java.util.UUID.randomUUID()}"
      val ckpt = tmpDir("gap-ckpt")
      val n = runB(spark, log, format, parts, admit, ckpt, ns).max
      assert(n >= 1, "the WAL must span several micro-batches")
      val claimed = ledger(ns)
      // batch n wrote, in the final aggregate's partitions: 4, the
      // suite's spark.sql.shuffle.partitions, which the stream records
      assert(claimed.exists(batchOf(_) == n), claimed)
      assert(claimed.forall(_.endsWith("/4")), claimed)

      // the crash: batch n's sink transactions committed, its commit-log
      // entry was never written
      val commits = Paths.get(ckpt, "commits")
      assert(Files.deleteIfExists(commits.resolve(n.toString)))
      Files.deleteIfExists(commits.resolve(s".$n.crc"))
      // the restart runs in a session with 7 shuffle partitions. Spark
      // restores the stream's recorded 4 for its state but plans the
      // per-batch aggregate 7-way, so the writer repartitions into 4
      val restarted = GraftSessionShim.cloneSession(spark, Some(7))
      assert(runB(restarted, log, format, parts, admit, ckpt, ns) == Seq(n))
      assert(ledger(ns) == claimed, "the replay of batch n claimed new keys")
      assert(counts(ns) == counts(ref))
    }

  test("Pipeline B writes in its final aggregate's partitions; a stateless writer keeps the 32-way claim stage") {
    val log = wal("jsonl")
    val pb = s"pb-${java.util.UUID.randomUUID()}"
    val st = s"st-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    val profile = QueryProfile.attach(sc)
    val work = try {
      QueryProfile.tagged(sc, "pb") {
        assert(runB(spark, log, "jsonl", 2, None, tmpDir("pb-ckpt"), pb) == Seq(0L))
      }
      QueryProfile.tagged(sc, "stateless") {
        val writer = new Sinks.UpsertWriter("ops", "key", Seq("key", "op"),
          runId = st)
        val q = source(spark, log, "jsonl", 2, None)
          .select(concat_ws("|", col("schema"), col("after")("id")).as("key"),
            col("op"))
          .writeStream
          .option("checkpointLocation", tmpDir("st-ckpt"))
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            writer.writeBatch(batch, Sinks.MemoryDb.factory(st), batchId)
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      profile.byTag
    } finally profile.detach()
    info(work.map { case (t, w) => s"$t: ${w.json}" }.mkString("; "))
    // one trigger: the source scan (2 tasks), the compaction state (4)
    // and the final aggregate (4), which writes
    assert(work("pb").stages == 3 && work("pb").tasks == 10, work("pb"))
    assert(ledger(pb).nonEmpty && ledger(pb).forall(_.endsWith("/4")), ledger(pb))
    // AQE is on for a stateless stream: the scan (2 tasks) is
    // repartitioned into the ledger's 32 partitions, which write
    assert(work("stateless").stages == 2 && work("stateless").tasks == 34,
      work("stateless"))
    val claims = Sinks.MemoryDb.table(st, "ops__batches").snapshot.keySet
    assert(claims.nonEmpty && claims.forall(_.endsWith("/32")), claims)
  }
}
