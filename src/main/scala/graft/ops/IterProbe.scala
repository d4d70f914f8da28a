package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** Convergence probes folded into checkpoint materialization.
  *
  * Every iterative operator here (label propagation, peeling loops) ends
  * each round with `localCheckpoint()` — one driver-scheduled job that
  * materializes the round's output — and then asked a SECOND job for the
  * convergence probe (Σ label, survivor count). Under AQE each job is a
  * full driver barrier plus listener round-trips, and on an iterative
  * operator those per-round barriers ARE the cost (guide §1.1: the
  * per-query job counts in Bench's `profile` map show ~20 ms of pure
  * choreography per job on kilobyte fixture data; at 100 TB the probe
  * job is additionally a full scan of the round's output).
  *
  * `Dataset.observe` removes the second job: the probe aggregate rides
  * the checkpoint's own materialization as a CollectMetricsExec node —
  * rows stream past it unchanged, the aggregate accumulates per task,
  * and `Dataset.localCheckpoint()` runs through `withAction`, so the
  * QueryExecutionListener that completes the [[Observation]] fires as
  * the checkpoint job finishes. One job per round, probe included; the
  * checkpointed rows are bit-identical (CollectMetrics is a pass-through
  * node), so operator output cannot change.
  */
object IterProbe {

  /** `df.localCheckpoint()` with `metric` (an aggregate expression)
    * computed during the materialization job. Returns the checkpointed
    * frame and the metric value (null when `df` is empty, for
    * aggregates that return null on empty input, e.g. `sum`). */
  def checkpointWith(df: DataFrame, metric: Column): (DataFrame, Any) = {
    val obs = Observation()
    val ck = df.observe(obs, metric.as("m")).localCheckpoint()
    (ck, obs.get.apply("m"))
  }

  /** [[checkpointWith]] + the stats-lineage sever the self-joining label
    * loops need (rebuild the frame from the checkpointed RDD so the
    * optimizer's sizeInBytes estimate resets to the default instead of
    * squaring every round — see the freshCk notes in [[Dedup.dupClusters]]
    * / [[GraphOps.stronglyConnectedComponents]]). */
  def checkpointFreshWith(df: DataFrame, metric: Column)
      : (DataFrame, Any) = {
    val (ck, m) = checkpointWith(df, metric)
    (ck.sparkSession.createDataFrame(ck.rdd, ck.schema), m)
  }

  /** Decimal metric helper: null (empty input) → 0. */
  def asDecimal(v: Any): java.math.BigDecimal = v match {
    case null => java.math.BigDecimal.ZERO
    case d: java.math.BigDecimal => d
    case o => new java.math.BigDecimal(o.toString)
  }

  /** Long metric helper: null (empty input) → 0. */
  def asLong(v: Any): Long = v match {
    case null => 0L
    case l: java.lang.Long => l
    case o => o.toString.toLong
  }
}
