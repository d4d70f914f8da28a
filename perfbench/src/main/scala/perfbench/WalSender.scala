package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

/** Open-loop load generator for `cdc_live`, run as its own process.
  *
  * It serves the engine's `graft-wal://` socket protocol (`'S'` range,
  * `'L'` LSN listing, `'H'` head probe, `'r'` ack) from an LSN-indexed log:
  * every request binary-searches its start and copies only its range, so
  * the generator's own cost per request is O(range), not O(log).
  *
  * One scheduling thread publishes event `i` at `t0 + i / rate` whatever
  * the consumers do (open loop); a publish that runs late is recorded, and
  * the bench reports the run invalid when the schedule slipped. Two control
  * verbs belong to the benchmark, not the protocol: `'G'` starts the
  * schedule and answers `t0` in epoch microseconds; `'X'` answers the
  * generator's counters as one JSON line and stops the process.
  *
  * Usage: WalSender <portFile> <seed> <events> <ratePerSec>
  */
object WalSender {
  def main(args: Array[String]): Unit = {
    val Array(portFile, seed, events, rate) = args
    val gen = new Gen(seed.toLong, events.toInt, CatchUp.Keys)
    new WalSender(gen, rate.toDouble).serve(java.nio.file.Paths.get(portFile))
  }
}

final class WalSender(gen: Gen, rate: Double) {
  private val relations = Gen.relationFrames
  private val nFrames = relations.length + 3 * gen.events
  private val lsns = new Array[Long](nFrames)
  private val frames = new Array[Array[Byte]](nFrames)
  locally {
    relations.zipWithIndex.foreach { case (f, k) => frames(k) = f }
    var i = 0
    while (i < gen.events) {
      gen.frames(i).zipWithIndex.foreach { case (f, k) =>
        val at = relations.length + 3 * i + k
        lsns(at) = gen.lsn(i); frames(at) = f
      }
      i += 1
    }
  }

  /** Frames visible to consumers: a prefix of the log. */
  @volatile private var published = relations.length
  @volatile private var t0Micros = 0L
  private val lateMicros = new Array[Long](gen.events)
  private val requests = new AtomicLong
  private val framesServed = new AtomicLong
  private val bytesServed = new AtomicLong
  private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)

  /** First frame index with lsn > after, within the published prefix. */
  private def firstAfter(after: Long, pub: Int): Int = {
    var lo = 0; var hi = pub
    while (lo < hi) { val m = (lo + hi) >>> 1; if (lsns(m) > after) hi = m else lo = m + 1 }
    lo
  }

  private def schedule(): Unit = {
    val start = System.nanoTime()
    t0Micros = System.currentTimeMillis() * 1000L + (System.nanoTime() - start) / 1000L
    val nanosPerEvent = 1e9 / rate
    var i = 0
    while (i < gen.events) {
      val due = start + (i * nanosPerEvent).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      // Publish every event already due in one step: a stalled tick
      // releases its backlog at once, as an open loop must.
      var j = i
      while (j < gen.events && start + (j * nanosPerEvent).toLong <= now) {
        lateMicros(j) = (now - (start + (j * nanosPerEvent).toLong)) / 1000L
        j += 1
      }
      published = relations.length + 3 * j
      i = j
    }
  }

  private def stats(): String = {
    val late = lateMicros.clone(); java.util.Arrays.sort(late)
    val p99 = if (late.isEmpty) 0L else late(math.min(late.length - 1, (late.length * 0.99).toInt))
    s"""{"offered_eps":$rate,"late_p99_ms":${p99 / 1000.0},"requests":${requests.get},""" +
      s""""frames_served":${framesServed.get},"bytes_served":${bytesServed.get}}"""
  }

  private def conversation(s: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(s.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(s.getOutputStream, 1 << 16))
    try while (true) {
      val verb = in.readByte().toChar
      if (verb != 'r') requests.incrementAndGet()
      verb match {
        case 'S' =>
          val after = in.readLong(); val end = in.readLong()
          val pub = published
          var k = firstAfter(after, pub)
          var n = 0L; var bytes = 0L
          while (k < pub && lsns(k) <= end) {
            out.writeByte('w'); out.writeLong(lsns(k))
            out.writeInt(frames(k).length); out.write(frames(k))
            n += 1; bytes += 13 + frames(k).length
            k += 1
          }
          out.writeByte('c'); out.flush()
          framesServed.addAndGet(n); bytesServed.addAndGet(bytes)
        case 'L' =>
          val after = in.readLong()
          val pub = published
          val from = firstAfter(after, pub)
          out.writeByte('l'); out.writeInt(pub - from)
          var k = from
          while (k < pub) { out.writeLong(lsns(k)); k += 1 }
          out.flush()
          bytesServed.addAndGet(5L + 8L * (pub - from))
        case 'H' =>
          out.writeByte('h'); out.writeLong(lsns(published - 1)); out.flush()
        case 'r' => in.readLong()
        case 'G' =>
          val t = new Thread(() => schedule(), "walsender-schedule")
          t.setDaemon(true); t.setPriority(Thread.MAX_PRIORITY); t.start()
          while (t0Micros == 0L) Thread.onSpinWait()
          out.writeByte('g'); out.writeLong(t0Micros); out.flush()
        case 'X' =>
          out.writeUTF(stats()); out.flush()
          server.close()
          System.exit(0)
        case other => throw new IllegalStateException(s"bad verb '$other'")
      }
    } catch { case _: EOFException | _: SocketException => () }
    finally s.close()
  }

  def serve(portFile: java.nio.file.Path): Unit = {
    val tmp = portFile.resolveSibling(portFile.getFileName.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, server.getLocalPort.toString)
    java.nio.file.Files.move(tmp, portFile, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    try while (true) {
      val s = server.accept()
      s.setTcpNoDelay(true)
      val t = new Thread(() => conversation(s), "walsender-conn")
      t.setDaemon(true); t.start()
    } catch { case _: SocketException => () }
  }
}

/** Bench-side handle on the generator's control verbs. */
final class WalSenderControl(port: Int) extends java.io.Closeable {
  private val sock = new Socket(InetAddress.getLoopbackAddress, port)
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))

  /** Starts the schedule; returns its t0 in epoch microseconds. */
  def go(): Long = {
    out.writeByte('G'); out.flush()
    require(in.readByte() == 'g', "walsender: bad reply to G")
    in.readLong()
  }

  /** The generator's counters; the generator exits after answering. */
  def finish(): String = { out.writeByte('X'); out.flush(); in.readUTF() }

  override def close(): Unit = sock.close()
}
