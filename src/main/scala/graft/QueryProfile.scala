package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.GraftSessionShim

/** Spark work per query: each job counts under the [[QueryProfile.Tag]]
  * local property of the thread that submitted it, and each completed
  * stage adds its task metrics to its job's tag. A stream's micro-batch
  * thread inherits the local properties of the thread that started the
  * stream, so a streaming entry's triggers land on the entry's tag. Job
  * groups would not do: `StreamExecution` overwrites them with its run
  * id. Jobs submitted with no tag count under [[QueryProfile.Untagged]].
  *
  * Reads drain the listener bus first, so every event posted before the
  * read is counted and a straggler event lands on its own tag whenever
  * it arrives: no read waits on a sleep. */
final class QueryProfile private (sc: SparkContext) extends SparkListener {
  import QueryProfile._

  private val stageTag = mutable.HashMap.empty[Int, String]
  private val work = mutable.HashMap.empty[String, Work]
  private var all = Work()

  private def add(tag: String, w: Work): Unit = {
    work(tag) = work.getOrElse(tag, Work()) + w
    all += w
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
      .getOrElse(Untagged)
    e.stageIds.foreach(stageTag(_) = tag)
    add(tag, Work(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      add(stageTag.getOrElse(s.stageId, Untagged), Work(stages = 1,
        tasks = s.numTasks, runMs = m.executorRunTime,
        cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled))
    }

  /** Work per tag of every event posted so far. */
  def byTag: Map[String, Work] = {
    GraftSessionShim.drainListeners(sc)
    synchronized(work.toMap)
  }

  /** Work of every event posted so far, tagged or not. */
  def total: Work = {
    GraftSessionShim.drainListeners(sc)
    synchronized(all)
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

object QueryProfile {
  /** The local property that names the query a job belongs to. */
  val Tag = "graft.query"
  val Untagged = "untagged"

  /** A profile listening on `sc` from now on: events posted before the
    * call are delivered first, so none of them is counted. */
  def attach(sc: SparkContext): QueryProfile = {
    GraftSessionShim.drainListeners(sc)
    val p = new QueryProfile(sc)
    sc.addSparkListener(p)
    p
  }

  /** Runs `body` with this thread's jobs, and the jobs of every stream it
    * starts, tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    val prior = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    try body finally sc.setLocalProperty(Tag, prior)
  }

  /** Jobs, completed stages and their tasks, executor run and CPU time,
    * GC time, shuffle bytes written and read, and bytes spilled. */
  final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
      shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0) {
    def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
      shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
      spill + o.spill)

    def json: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"run_ms":$runMs,""" +
        s""""cpu_ms":${cpuNs / 1000000},"gc_ms":$gcMs,""" +
        s""""shuffle_write":$shuffleWrite,"shuffle_read":$shuffleRead,""" +
        s""""spill":$spill}"""
  }
}
