package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.cdc.{CdcEnvelope, Demux}
import org.apache.spark.sql.functions._

/** The `malformed` policy of the jsonl CDC source: one corrupt line in a
  * 100 TB replay must be a routed, auditable event — not a stream-killer
  * (quarantine) — unless the operator wants stop-the-world (fail, the
  * default). Structurally corrupt lines (no parseable LSN) are indexed
  * at their predecessor's LSN — or, before the first parseable one, at
  * that LSN — so offset accounting stays monotone, batch and stream both
  * see the line, and the stream advances past the damage either way. */
class MalformedWalSpec extends SparkSpec {
  import spark.implicits._

  private def writeWal(lines: Seq[String]): String = {
    val p = Paths.get(tmpDir("bad-wal"), "wal.jsonl")
    Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  private def good(lsn: Long, id: Long): String =
    s"""{"lsn":$lsn,"txId":$lsn,"tsMs":$lsn,"op":"c","db":"d",""" +
      s""""schema":"s1","table":"users","before":{},""" +
      s""""after":{"id":"$id","full_name":"u$id"}}"""

  private val wal = Seq(
    good(1, 1),
    good(2, 2),
    """{"oops this is not json at all""", // structural: no LSN → rides lsn 2
    """{"lsn":4,"txId":4,"tsMs":4,"before":{},"after":{"id":"9"}}""", // no op
    good(5, 3))

  test("quarantine: damage becomes _quarantine rows, good rows intact") {
    val df = spark.read.format("graft-cdc")
      .option("malformed", "quarantine")
      .load(writeWal(wal))
    assert(df.count() == 5)
    val bad = df.filter(col("table") === "_quarantine")
      .select("lsn", "op", "after").collect()
    assert(bad.length == 2)
    assert(bad.forall(_.getString(1) == "bad"))
    // structural line is indexed at its predecessor's LSN (2); the
    // shape-damaged line keeps its own (4); both preserve the raw text
    assert(bad.map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
    assert(bad.forall(r =>
      r.getMap[String, String](2).get("raw").exists(_.nonEmpty)))
    // typed consumers never see quarantine rows: the T3 demux contract
    // (unknown tables drop) already routes them away
    assert(Demux.users(df.as[CdcEnvelope]).count() == 3)
  }

  test("fail (default): the corrupt line stops the world with context") {
    val df = spark.read.format("graft-cdc").load(writeWal(wal))
    val ex = intercept[Exception] { df.count() }
    assert(messages(ex).exists(_.contains("malformed CDC envelope")),
      s"unexpected failure: ${messages(ex).take(3).mkString(" | ")}")
  }

  test("streaming quarantine: offsets advance past the damage") {
    val events = spark.readStream.format("graft-cdc")
      .option("malformed", "quarantine")
      .option("maxEventsPerBatch", "2") // damage lands mid-batch sequence
      .load(writeWal(wal)).as[CdcEnvelope]
    val q = events.writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir("bad-wal-ckpt"))
      .format("memory").queryName("bad_wal_stream").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("bad_wal_stream")
    assert(rows.count() == 5, "stream must deliver all lines incl. DLQ rows")
    assert(rows.filter(col("table") === "_quarantine").count() == 2)
    assert(rows.agg(max("lsn")).head().getLong(0) == 5L,
      "the stream must reach the post-damage tail")
  }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
      messages(e.getCause))

  private def assertMalformed(ex: Throwable): Unit =
    assert(messages(ex).exists(_.contains("malformed CDC envelope")),
      s"unexpected failure: ${messages(ex).take(3).mkString(" | ")}")

  /** Each damaged log with the LSNs its quarantine rows carry. */
  private val damaged = Seq(
    "mid-log damage" -> (wal, Seq(2L, 4L)),
    "corrupt first line" -> (Seq("""{"oops the first line""", good(1, 1),
      good(2, 2), good(3, 3)), Seq(1L)))

  test("batch reads surface the damage under both policies, 1 and 3 ranges") {
    for ((name, (lines, badLsns)) <- damaged; n <- Seq(1, 3)) withClue(
        s"$name, $n partitions: ") {
      val path = writeWal(lines)
      val df = spark.read.format("graft-cdc").option("numPartitions", n)
        .option("malformed", "quarantine").load(path)
      assert(df.count() == lines.size)
      assert(df.filter(col("table") === "_quarantine").select("lsn").as[Long]
        .collect().sorted.toSeq == badLsns)
      assert(Demux.users(df.as[CdcEnvelope]).count() ==
        lines.size - badLsns.size)
      assertMalformed(intercept[Exception] {
        spark.read.format("graft-cdc").option("numPartitions", n)
          .load(path).count()
      })
    }
  }

  test("the stream surfaces the damage under both policies") {
    for (((name, (lines, badLsns)), i) <- damaged.zipWithIndex) withClue(
        s"$name: ") {
      val path = writeWal(lines)
      def start(policy: String) = spark.readStream.format("graft-cdc")
        .option("malformed", policy).load(path).writeStream
        .option("checkpointLocation", tmpDir("bad-wal-ckpt"))
        .format("memory").queryName(s"bad_wal_${policy}_$i").start()
      val q = start("quarantine")
      q.processAllAvailable(); q.stop()
      val rows = spark.table(s"bad_wal_quarantine_$i")
      assert(rows.count() == lines.size)
      assert(rows.filter(col("table") === "_quarantine").count() ==
        badLsns.size)
      val failing = start("fail")
      try assertMalformed(intercept[Exception] { failing.processAllAvailable() })
      finally failing.stop()
    }
  }
}
