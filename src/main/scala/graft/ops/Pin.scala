package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, GraftSessionShim, Observation}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

/** The one way the engine materializes an intermediate relation ("pins"
  * it): an eager local checkpoint. Spark does not dedupe common subtrees,
  * so a relation that several consumers plant, or that every round of a
  * loop re-probes, re-runs its whole derivation once per plant unless it
  * is pinned; a loop that pins its round output also truncates lineage,
  * so plans do not grow with the round count.
  *
  * A pin's blocks live in the block managers of the executors that
  * computed them. Losing one fails the query that reads the pin with
  * Spark's "Checkpoint block … not found" error; it is never silently
  * recomputed.
  *
  * `level` is where the blocks live: MEMORY_AND_DISK (Spark's
  * local-checkpoint default) unless the relation's size is a function of
  * data density rather than data size — then DISK_ONLY, so the pin never
  * competes with join and aggregate execution memory (see
  * [[Density.dbscan2D]]).
  *
  * A pin's plan carries the statistics it measured, not its source
  * plan's estimate: the row count its own job observed and the bytes
  * its blocks take in the block managers
  * ([[GraftSessionShim.withStats]]). A MEMORY_AND_DISK pin's blocks hold
  * deserialized rows, larger than their row bytes, so the size errs
  * towards fewer broadcasts. Every round of a loop thus starts from a
  * measurement, and a loop that self-joins its pin never compounds an
  * estimate from one round to the next.
  *
  * The row count, and [[observed]]'s metric, are computed during the
  * pin's own job through `Dataset.observe`: the aggregates ride the
  * materialization as a CollectMetrics node, rows pass through
  * unchanged, and the checkpoint runs through `withAction`, so the
  * observation completes as the job finishes. An iterative operator's
  * convergence probe (Σ label, survivor count) then costs no job of its
  * own — under AQE each job is a driver barrier, and on a loop those
  * barriers are the cost. */
object Pin {

  def apply(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    pin(df, level)._1

  /** [[apply]] with `metric` (an aggregate) computed by the pin's job.
    * Returns the pin and the metric's value, which is null on empty
    * input for aggregates such as `sum`. */
  def observed(df: DataFrame, metric: Column): (DataFrame, Any) =
    pin(df, StorageLevel.MEMORY_AND_DISK, metric.as("m"))

  private def pin(df: DataFrame, level: StorageLevel,
      metrics: Column*): (DataFrame, Any) = {
    val obs = Observation()
    val ck = atCaller(df.sparkSession.sparkContext)(
      df.observe(obs, count(lit(1)).as("rows"), metrics: _*)
        .localCheckpoint(eager = true, level))
    val m = obs.get
    (GraftSessionShim.withStats(ck, m("rows").asInstanceOf[Long]),
      m.getOrElse("m", null))
  }

  /** Runs `body` with Spark's call site set to the pin's caller. Spark
    * names the pin's job and RDD after the first frame outside Spark,
    * which would otherwise be this file for every pin in the engine. */
  private def atCaller[T](sc: SparkContext)(body: => T): T = {
    def inPin(f: StackTraceElement) = f.getClassName.startsWith("graft.ops.Pin$")
    val caller = Thread.currentThread.getStackTrace
      .dropWhile(!inPin(_)).find(!inPin(_))
    val prior = sc.getLocalProperty(ShortCallSite)
    caller.foreach(f => sc.setCallSite(
      s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}"))
    try body finally sc.setLocalProperty(ShortCallSite, prior)
  }

  /** The local property `SparkContext.setCallSite` writes. */
  private val ShortCallSite = "callSite.short"

  /** Decimal metric value: null (empty input) → 0. */
  def asDecimal(v: Any): java.math.BigDecimal = v match {
    case null => java.math.BigDecimal.ZERO
    case d: java.math.BigDecimal => d
    case o => new java.math.BigDecimal(o.toString)
  }

  /** Long metric value: null (empty input) → 0. */
  def asLong(v: Any): Long = v match {
    case null => 0L
    case l: java.lang.Long => l
    case o => o.toString.toLong
  }
}
