package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch microseconds, monotone within the process. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def micros(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** Span record of the traced run: kept in memory, written once at exit.
  * `layer` names the repo layer the span's self time is charged to. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startUs: Long, endUs: Long)

final class Spans(val runId: String, enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 1

  private def add(parent: Int, name: String, layer: String, s: Long, e: Long): Int =
    synchronized { val id = nextId; nextId += 1; buf += Span(id, parent, name, layer, s, e); id }

  def current: Int = stack.get.headOption.getOrElse(0)

  /** Times `body` as a span under the calling thread's current span. */
  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current
      val s = Clock.micros()
      val id = synchronized { val i = nextId; nextId += 1; i }
      stack.set(id :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        synchronized { buf += Span(id, parent, name, layer, s, Clock.micros()) }
      }
    }

  /** Adds a span measured elsewhere (a micro-batch and its phases). */
  def record(parent: Int, name: String, layer: String, startUs: Long, endUs: Long): Int =
    if (enabled) add(parent, name, layer, startUs, endUs) else 0

  def all: Seq[Span] = synchronized(buf.toVector)

  /** Self time per layer in seconds: each span's duration minus the part
    * of it its children cover. */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var union = 0L; var curS = Long.MinValue; var curE = Long.MinValue
        covered.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) union += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) union += curE - curS
        (s.endUs - s.startUs - union).max(0L) / 1e6
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_us":${s.startUs},"end_us":${s.endUs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Job and task totals for one tag. */
final class Acc {
  var jobs, tasks, runMs, cpuNs, gcMs, shWrite, shRead, spill = 0L
  def +=(o: Acc): Acc = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shWrite += o.shWrite; shRead += o.shRead; spill += o.spill; this
  }
}

/** Task, job and spill counters from one `SparkListener`, attributed by the
  * `perfbench.tag` local property the benchmark sets before it starts a
  * query or builds a mix entry (micro-batch threads inherit it; job groups
  * would not work, because `StreamExecution` overwrites them). */
final class Counters extends SparkListener {
  private val byTag = new ConcurrentHashMap[String, Acc]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private def acc(tag: String) = byTag.computeIfAbsent(tag, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.Tag))).getOrElse("untagged")
    e.stageIds.foreach(stageTag.put(_, tag))
    val a = acc(tag); a.synchronized(a.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageTag.getOrDefault(e.stageId, "untagged"))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot(filter: String => Boolean = _ => true): Acc = {
    val out = new Acc
    byTag.asScala.foreach { case (t, a) => if (filter(t)) a.synchronized(out += a) }
    out
  }
}

object Counters { val Tag = "perfbench.tag" }

/** One micro-batch as `StreamingQueryProgress` reports it. Offsets are
  * LSNs; `endMs` = trigger start + triggerExecution. */
final case class Batch(batchId: Long, startLsn: Long, endLsn: Long, rows: Long,
    startMs: Long, phases: Map[String, Long], stateRows: Long, stateUpdated: Long,
    stateCommitMs: Long, stateMemBytes: Long) {
  def execMs: Long = phases.getOrElse("triggerExecution", 0L)
  def endMs: Long = startMs + execMs
}

/** Collects progress per query id and lets the bench wait until a query
  * has committed a given LSN. */
final class Progress extends StreamingQueryListener {
  private val batches = new ConcurrentHashMap[java.util.UUID, ArrayBuffer[Batch]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized(notifyAll())
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.sources.isEmpty) return
    val src = p.sources.head
    def lsn(s: String) = if (s == null || s == "null") 0L else s.trim.toLong
    val st = p.stateOperators.headOption
    val b = Batch(p.batchId, lsn(src.startOffset), lsn(src.endOffset), p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      st.map(_.numRowsTotal).getOrElse(0L), st.map(_.numRowsUpdated).getOrElse(0L),
      st.map(_.commitTimeMs).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L))
    synchronized {
      batches.computeIfAbsent(p.id, _ => ArrayBuffer.empty) += b
      notifyAll()
    }
  }

  /** Batches that moved data, in order. */
  def of(id: java.util.UUID): Vector[Batch] = synchronized {
    Option(batches.get(id)).map(_.filter(b => b.endLsn > b.startLsn).toVector).getOrElse(Vector.empty)
  }

  def committed(id: java.util.UUID): Long = synchronized {
    Option(batches.get(id)).flatMap(_.lastOption).map(_.endLsn).getOrElse(0L)
  }

  /** Blocks until every query has committed `lsn`; false on timeout or if
    * a query died. */
  def awaitCommitted(qs: Seq[org.apache.spark.sql.streaming.StreamingQuery], lsn: Long,
      timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (qs.exists(q => committed(q.id) < lsn)) {
      val left = deadline - System.currentTimeMillis()
      if (left <= 0 || qs.exists(q => !q.isActive)) return false
      wait(math.min(left, 50L))
    }
    true
  }
}

/** Weighted percentiles over (value, weight) samples, interpolated
  * linearly between neighbouring samples so a small shift of weight moves
  * the result a little, not a whole sample. */
object Stats {
  def percentile(samples: Seq[(Double, Long)], q: Double): Double = {
    val s = samples.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum.toDouble
    if (s.isEmpty) return 0.0
    // Sample k covers the cumulative-weight midpoint of its own mass.
    var acc = 0.0
    val mids = s.map { case (v, w) => val m = (acc + w / 2.0) / total; acc += w; (m, v) }
    if (q <= mids.head._1) mids.head._2
    else if (q >= mids.last._1) mids.last._2
    else {
      val k = mids.indexWhere(_._1 >= q)
      val ((m0, v0), (m1, v1)) = (mids(k - 1), mids(k))
      v0 + (v1 - v0) * (q - m0) / (m1 - m0)
    }
  }
  def percentile(values: Seq[Double], q: Double)(implicit d: DummyImplicit): Double =
    percentile(values.map(_ -> 1L), q)
  def median(values: Seq[Double]): Double = {
    val s = values.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
