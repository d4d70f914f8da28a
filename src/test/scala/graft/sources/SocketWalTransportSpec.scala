package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket, SocketException}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.cdc.{CdcEnvelope, CdcPipeline, Sinks}

/** Spec-driven fake walsender: serves the [[SocketWalTransport]] wire
  * protocol over real TCP sockets (loopback), from an appendable in-memory
  * log, recording standby-status acks. Accepts any number of concurrent
  * connections — the stream's driver probe and each partition reader open
  * their own, like real replication sessions. */
final class FakeWalSender(initial: Seq[(Long, Array[Byte])] = Seq.empty)
    extends java.io.Closeable {
  private val server = new ServerSocket(0) // loopback, ephemeral port
  def port: Int = server.getLocalPort
  def url: String = s"${WalTransport.SocketScheme}localhost:$port"

  @volatile private var log = initial.toVector
  private val ackLog = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  /** Replication continues: new WAL appears at the head. */
  def append(lsn: Long, frame: Array[Byte]): Unit =
    synchronized { log = log :+ (lsn -> frame) }

  private val accepted = new java.util.concurrent.atomic.AtomicInteger()
  private val requestLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Requests received on every connection, in arrival order: `S after
    * end`, `L after`, `H`. Acks are in [[acked]]. */
  def requests: Seq[String] = requestLog.asScala.toSeq

  /** Connections accepted so far. */
  def connections: Int = accepted.get()

  /** Standby Status Updates received, in arrival order. */
  def acked: Seq[Long] = ackLog.asScala.map(_.longValue()).toSeq

  private val acceptor = new Thread(() => {
    try while (!server.isClosed) {
      val s = server.accept()
      accepted.incrementAndGet()
      val t = new Thread(() => serve(s))
      t.setDaemon(true); t.start()
    } catch { case _: SocketException => () /* closed */ }
  }, "fake-walsender-accept")
  acceptor.setDaemon(true); acceptor.start()

  private def serve(s: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(s.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(s.getOutputStream))
    try while (true) in.readByte().toChar match {
      case 'S' =>
        val after = in.readLong()
        val end = in.readLong()
        requestLog.add(s"S $after $end")
        log.filter(f => f._1 > after && f._1 <= end).sortBy(_._1)
          .foreach { case (lsn, b) =>
            out.writeByte('w'); out.writeLong(lsn)
            out.writeInt(b.length); out.write(b)
          }
        out.writeByte('c'); out.flush()
      case 'L' =>
        val after = in.readLong()
        requestLog.add(s"L $after")
        val ls = log.map(_._1).filter(_ > after).sorted
        out.writeByte('l'); out.writeInt(ls.length)
        ls.foreach(out.writeLong)
        out.flush()
      case 'H' =>
        requestLog.add("H")
        out.writeByte('h')
        out.writeLong(if (log.isEmpty) 0L else log.map(_._1).max)
        out.flush()
      case 'r' => ackLog.add(in.readLong())
      case other => throw new IllegalStateException(s"bad verb '$other'")
    } catch { case _: EOFException | _: SocketException => () }
    finally s.close()
  }

  override def close(): Unit = server.close()
}

/** The socket transport against the fake walsender: protocol unit-level,
  * then the full DSv2 source (streaming AND batch) reading live over TCP —
  * proving the WalTransport seam carries the replication conversation and
  * nothing above it knows the difference from a file. */
class SocketWalTransportSpec extends SparkSpec {
  import spark.implicits._

  /** Acks are fire-and-forget on the wire; give the server thread a bounded
    * moment to drain them before asserting. */
  private def awaitAck(sender: FakeWalSender, lsn: Long): Unit = {
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (!sender.acked.contains(lsn) && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  private def jsonLine(lsn: Long, op: String, schema: String, id: Long,
      name: String): Array[Byte] = {
    val row = s"""{"id": "$id", "full_name": "$name"}"""
    val before = if (op == "c" || op == "r") "null" else row
    val after = if (op == "d") "null" else row
    (s"""{"lsn": $lsn, "txId": $lsn, "tsMs": ${1600000000000L + lsn}, """ +
      s""""op": "$op", "db": "experiment", "schema": "$schema", """ +
      s""""table": "users", "before": $before, "after": $after}""")
      .getBytes("UTF-8")
  }

  test("transport verbs: frames-after, head probe, standby ack") {
    val sender = new FakeWalSender(Seq(
      1L -> jsonLine(1, "c", "s1", 1, "susan"),
      2L -> jsonLine(2, "c", "s1", 2, "anne"),
      3L -> jsonLine(3, "u", "s1", 1, "sue")))
    try {
      val t = WalTransport.open(sender.url, "jsonl")
      try {
        assert(t.headLsn() == 3L)
        assert(t.frames(1L).map(_._1).toSeq == Seq(2L, 3L))
        assert(t.frames(Long.MinValue).size == 3)
        // range end bound is enforced server-side
        assert(t.frames(1L, 2L).map(_._1).toSeq == Seq(2L))
        // LSN-only probe carries no payloads
        assert(t.lsns(0L).toSeq == Seq(1L, 2L, 3L))
        sender.append(4L, jsonLine(4, "d", "s1", 2, "anne"))
        assert(t.headLsn() == 4L)
        assert(t.frames(3L).map(_._1).toSeq == Seq(4L))
        t.ack(4L)
        awaitAck(sender, 4L)
        assert(sender.acked.contains(4L))
      } finally t.close()
    } finally sender.close()
  }

  test("streaming over the socket: live micro-batches, commit acks the slot") {
    val sender = new FakeWalSender(Seq(
      1L -> jsonLine(1, "c", "schema1", 1, "susan smith"),
      2L -> jsonLine(2, "c", "schema1", 2, "anne smith"),
      3L -> jsonLine(3, "c", "schema2", 1, "bob smith")))
    try {
      val ns = s"wal-sock-${java.util.UUID.randomUUID()}"
      val sink = Sinks.MemoryDb.table(ns, CdcPipeline.countTable)
      val q = CdcPipeline.liveCountPerSchema(
        spark.readStream.format("graft-cdc").load(sender.url).as[CdcEnvelope],
        Sinks.MemoryDb.factory(ns), tmpDir("wal-sock-ckpt"))
      q.processAllAvailable()
      assert(sink.snapshot.view.mapValues(_("user_count")).toMap ==
        Map("schema1" -> 2L, "schema2" -> 1L))

      // replication continues upstream → next micro-batch reads only new LSNs
      sender.append(4L, jsonLine(4, "d", "schema1", 2, "anne smith"))
      q.processAllAvailable()
      assert(sink.snapshot("schema1")("user_count") == 1L)
      // Offset commits travel back as standby status updates. Spark calls
      // source.commit(batch N) while constructing batch N+1, so the
      // confirmed LSN trails the processed head by one micro-batch —
      // exactly how confirmed_flush_lsn lags the streamed head on a real
      // slot. Batch 0 ended at LSN 3; its ack is issued during batch 1.
      awaitAck(sender, 3L)
      assert(sender.acked.contains(3L))
      q.stop()
    } finally sender.close()
  }

  test("batch over the socket: parallel LSN ranges, one connection each") {
    val sender = new FakeWalSender((1L to 6L).map(i =>
      i -> jsonLine(i, "c", "s1", i, s"user $i")))
    try {
      val df = spark.read.format("graft-cdc")
        .option("numPartitions", "3").load(sender.url)
      assert(df.rdd.getNumPartitions == 3)
      assert(df.select("lsn").as[Long].collect().sorted.toSeq ==
        (1L to 6L).toSeq)
    } finally sender.close()
  }

  test("a pgoutput stream holds one driver connection plus one per reader") {
    import PgOutputFrames._
    val oid = 7
    val txs = 4
    // a Relation at LSN 10, then one single-row transaction per 10 LSNs
    val sender = new FakeWalSender(
      (10L -> relation(oid, "s1", "users", Seq("id", "full_name"))) +:
        (1 to txs).flatMap { k =>
          val lsn = 10L * (k + 1)
          Seq(lsn -> begin(100 + k, 1600000000000L + k),
            lsn -> insert(oid, Seq(Some(k.toString), Some(s"user $k"))),
            lsn -> commit())
        })
    try {
      val q = spark.readStream.format("graft-cdc")
        .option("walFormat", "pgoutput").option("numPartitions", "2")
        .option("maxEventsPerBatch", "3").load(sender.url)
        .writeStream.format("memory").queryName("wal_sock_conns")
        .option("checkpointLocation", tmpDir("wal-sock-conns")).start()
      q.processAllAvailable(); q.stop()
      assert(spark.table("wal_sock_conns").count() == txs)
      // 3 frames per trigger: (0,20], (20,30], (30,40], (40,50], each
      // split into two ranges — and the ranges past LSN 10 need the
      // Relation, so every trigger plans decoder states
      assert(sender.connections == 1 + 2 * txs)
      // one decoder-state pass over the log prefix per trigger, however
      // often Spark asks for the trigger's partitions
      val prefixPasses = sender.requests.filter(_.startsWith(s"S ${Long.MinValue} "))
      assert(prefixPasses.size == txs, prefixPasses)
    } finally sender.close()
  }
}
