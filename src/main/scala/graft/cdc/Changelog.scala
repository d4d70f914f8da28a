package graft.cdc

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Changelog compaction — the upsert-view semantics of the reference's
  * `upsert-pulsar` source (CustomJob.java:156-174): latest value per key
  * wins, delete removes the key. Spark has no changelog-aware planner
  * (SURVEY §4), so this is the engine's core custom stateful operator.
  *
  * Emits [[CompactionDelta]]s (+1 first-live / -1 delete / 0 update) so a
  * downstream `groupBy(schema).sum(delta)` in update mode reproduces the
  * reference's continuous `COUNT(1) GROUP BY schema` over live keys
  * (CustomJob.java:194) without recounting state.
  *
  * Scale: state is partitioned by key across executors (hash shuffle from
  * `groupByKey`); per-key state is O(1) (lsn + aliveness + last image), so
  * total state = O(live keys), independent of event volume. Late/out-of-
  * order events are resolved by LSN (monotone per source), not arrival
  * order — required for at-least-once replay to be idempotent.
  */
object Changelog {

  private[cdc] final case class KeyState(lsn: Long, alive: Boolean)

  /** Per-key transition function, shared by batch replay and streaming. */
  private[cdc] def transition(
      prior: Option[KeyState], events: Seq[CdcEnvelope]): (Option[KeyState], Option[CompactionDelta]) = {
    if (events.isEmpty) return (prior, None)
    // Latest event by LSN wins; on equal LSNs the LATER op in the batch
    // (>= keeps the last maximum — maxBy would keep the first).
    val latest = events.reduceLeft((a, b) => if (b.lsn >= a.lsn) b else a)
    prior match {
      case Some(st) if st.lsn >= latest.lsn => (prior, None) // stale replay
      case _ =>
        val wasAlive = prior.exists(_.alive)
        val nowAlive = !latest.isDelete
        val delta =
          if (!wasAlive && nowAlive) 1
          else if (wasAlive && !nowAlive) -1
          else 0
        val d = CompactionDelta(latest.key, latest.schema, latest.table,
          latest.lsn, nowAlive, delta, latest.image)
        (Some(KeyState(latest.lsn, nowAlive)), Some(d))
    }
  }

  /** Streaming compaction: `flatMapGroupsWithState` in Update mode.
    *
    * State lifecycle: live keys persist (total live state = O(live
    * keys)). DELETED keys keep a tombstone — it is what LSN-guards a
    * late replayed pre-delete event from resurrecting the key — and by
    * default tombstones persist too, so state grows with ever-deleted
    * keys on churn workloads. Pass `tombstoneTtl = Some(duration)` to
    * drop a tombstone after that much processing time with no new
    * events for its key (the retention trade log-compacted brokers make
    * with delete.retention: choose TTL ≥ the maximum replay lag).
    *
    * TTL is opt-in because Spark runs FlatMapGroupsWithState with a
    * processing-time timeout on EVERY trigger whether or not data
    * arrived (timeouts must be checked) — a query that would otherwise
    * idle between bursts instead executes empty micro-batches each
    * trigger interval. Set an explicit `Trigger.ProcessingTime` when
    * enabling it; the default unset trigger busy-loops. */
  def compact(events: Dataset[CdcEnvelope],
      tombstoneTtl: Option[String] = None)(
      implicit spark: SparkSession): Dataset[CompactionDelta] = {
    import spark.implicits._
    val timeoutConf = if (tombstoneTtl.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf)(
        (_: String, it: Iterator[CdcEnvelope], state: GroupState[KeyState]) => {
          if (state.hasTimedOut) {
            // tombstone expired with no new events for the key
            state.remove()
            Iterator.empty
          } else {
            val (next, delta) = transition(state.getOption, it.toSeq)
            next.foreach { st =>
              state.update(st)
              // timeouts don't persist across invocations: re-arm for
              // tombstones, leave live keys timeout-free (kept forever)
              tombstoneTtl.foreach { ttl =>
                if (!st.alive) state.setTimeoutDuration(ttl)
              }
            }
            delta.iterator
          }
        })
  }

  private[cdc] final case class ValueState(
      lsn: Long, alive: Boolean, group: String, valueMicro: Long)

  /** Per-key transition for value-tracking compaction. Only the LATEST
    * event of the batch matters: the net delta telescopes (last − prior),
    * so per-key work is O(1) per micro-batch no matter how bursty the
    * key. Deltas retract against the STATE's (group, value) — the delete
    * envelope carries neither, and an update's retraction must hit the
    * group the key previously counted in, not the one it moves to. */
  private[cdc] def transitionValue(
      prior: Option[ValueState], events: Seq[CdcEnvelope],
      group: CdcEnvelope => String, valueMicro: CdcEnvelope => Long)
      : (Option[ValueState], Seq[ValueDelta]) = {
    if (events.isEmpty) return (prior, Nil)
    val latest = events.reduceLeft((a, b) => if (b.lsn >= a.lsn) b else a)
    prior match {
      case Some(st) if st.lsn >= latest.lsn => (prior, Nil) // stale replay
      case _ =>
        val key = latest.key
        val wasAlive = prior.exists(_.alive)
        val nowAlive = !latest.isDelete
        val gNew = if (nowAlive) group(latest) else ""
        val vNew = if (nowAlive) valueMicro(latest) else 0L
        val next = Some(ValueState(latest.lsn, nowAlive, gNew, vNew))
        val out =
          if (!wasAlive && nowAlive)
            Seq(ValueDelta(key, gNew, latest.lsn, alive = true, 1L, vNew))
          else if (wasAlive && !nowAlive) {
            val st = prior.get
            Seq(ValueDelta(key, st.group, latest.lsn, alive = false,
              -1L, -st.valueMicro))
          } else if (wasAlive && nowAlive) {
            val st = prior.get
            if (st.group == gNew)
              Seq(ValueDelta(key, gNew, latest.lsn, alive = true,
                0L, vNew - st.valueMicro))
            else Seq(
              ValueDelta(key, st.group, latest.lsn, alive = false,
                -1L, -st.valueMicro),
              ValueDelta(key, gNew, latest.lsn, alive = true, 1L, vNew))
          } else Nil // delete of a never-live key: tombstone only
        (next, out)
    }
  }

  /** Value-tracking streaming compaction: generalizes [[compact]] from
    * live-key COUNT maintenance to any additive aggregate (SUM, COUNT,
    * and AVG = SUM/COUNT) over a `valueMicro` extracted from each live
    * key's latest image, grouped by a `group` also read from the image.
    * Downstream, `groupBy(group).sum(dCount, dValueMicro)` per
    * micro-batch + an additive K2 upsert maintains the continuous
    * aggregate without ever recounting state — including the two cases
    * plain delta counting gets wrong: a delete must subtract the value
    * it inserted long ago, and an update that MOVES a key between
    * groups must retract from one group and add to the other.
    *
    * State is O(live keys + tombstones) like [[compact]], widened by
    * one string + one long per key (the tracked group and value). */
  def compactValue(events: Dataset[CdcEnvelope],
      group: CdcEnvelope => String, valueMicro: CdcEnvelope => Long)(
      implicit spark: SparkSession): Dataset[ValueDelta] = {
    import spark.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (_: String, it: Iterator[CdcEnvelope],
            state: GroupState[ValueState]) => {
          val (next, out) =
            transitionValue(state.getOption, it.toSeq, group, valueMicro)
          next.foreach(state.update)
          out.iterator
        })
  }

  /** One fact's tracked cell inside a join-view key's state. */
  private[cdc] final case class FactCell(
      lsn: Long, alive: Boolean, valueMicro: Long)

  /** Join-view state for one join key: the dim side's latest-by-LSN
    * attribute, plus the live fact mass currently attributed to it.
    * Facts are tracked per fact-id so replays and out-of-order fact
    * versions resolve by LSN exactly like [[compactValue]]'s cells. */
  private[cdc] final case class JoinViewState(
      dimLsn: Long, dimAlive: Boolean, cohort: String,
      facts: Map[String, FactCell], n: Long, sumMicro: Long)

  /** Per-key transition for [[joinView]]: applies a batch's envelopes in
    * (lsn, table) order and emits the EXACT additive deltas of the view
    * functional cohort → (count, sum). Because every emission is the
    * delta of the same state functional, the summed emissions equal the
    * final state regardless of how envelopes interleave ACROSS batches
    * and sides — which is what makes the additive K2 sink safe under
    * independent source progress. */
  private[cdc] def transitionJoin(
      prior: Option[JoinViewState], events: Seq[CdcEnvelope],
      dimTable: String, cohortField: String, valueField: String)
      : (JoinViewState, Seq[ValueDelta]) = {
    var st = prior.getOrElse(
      JoinViewState(Long.MinValue, dimAlive = false, "", Map.empty, 0L, 0L))
    val out = scala.collection.mutable.ArrayBuffer.empty[ValueDelta]
    def emit(cohort: String, lsn: Long, dN: Long, dV: Long): Unit =
      if (dN != 0 || dV != 0)
        out += ValueDelta("", cohort, lsn, alive = true, dN, dV)
    events.sortBy(e => (e.lsn, e.table)).foreach { e =>
      if (e.table == dimTable) {
        if (e.lsn > st.dimLsn) {
          if (e.isDelete) {
            if (st.dimAlive) emit(st.cohort, e.lsn, -st.n, -st.sumMicro)
            st = st.copy(dimLsn = e.lsn, dimAlive = false)
          } else {
            val c2 = e.image.getOrElse(cohortField, "")
            if (!st.dimAlive) emit(c2, e.lsn, st.n, st.sumMicro)
            else if (st.cohort != c2) {
              emit(st.cohort, e.lsn, -st.n, -st.sumMicro)
              emit(c2, e.lsn, st.n, st.sumMicro)
            }
            st = st.copy(dimLsn = e.lsn, dimAlive = true, cohort = c2)
          }
        }
      } else {
        val fid = e.image.getOrElse("id", "")
        val old = st.facts.get(fid)
        if (old.forall(_.lsn < e.lsn)) {
          val nowAlive = !e.isDelete
          val v = if (nowAlive)
            e.image.get(valueField).map(_.toLong).getOrElse(0L) else 0L
          val dN = (if (nowAlive) 1L else 0L) -
            (if (old.exists(_.alive)) 1L else 0L)
          val dV = v - old.filter(_.alive).map(_.valueMicro).getOrElse(0L)
          if (st.dimAlive) emit(st.cohort, e.lsn, dN, dV)
          st = st.copy(facts = st.facts + (fid -> FactCell(e.lsn, nowAlive, v)),
            n = st.n + dN, sumMicro = st.sumMicro + dV)
        }
      }
    }
    (st, out.map(d => d.copy(key = "")).toSeq)
  }

  /** Streaming JOIN-view maintenance — incremental materialization of
    *   SELECT d.cohort, count(*), sum(f.value)
    *   FROM facts f JOIN dims d ON f.joinKey = d.id
    * over TWO independent changelogs, both receiving creates, updates
    * and deletes. This is the IVM case the aggregate compactors
    * ([[compact]], [[compactValue]]) cannot express: a dim UPDATE moves
    * every currently-attributed fact between output groups, a dim
    * DELETE retracts them all, and fact churn must be attributed to
    * whatever the dim's current image is at that moment.
    *
    * Both streams arrive UNIONED as raw envelopes (the dim side
    * identified by its `table`), co-partitioned by the join key into
    * ONE stateful operator — the state holds the dim's latest-by-LSN
    * attribute plus the per-fact-id cells (LSN-guarded like
    * [[compactValue]], so replay and out-of-order versions are
    * idempotent). Emissions are exact additive deltas of the view
    * functional, which makes the downstream `groupBy(cohort).sum` +
    * additive K2 upsert correct under ANY interleaving of the two
    * sources' micro-batches — the sources need no lockstep.
    *
    * Scale: state is hash-partitioned by join key; per-key size is
    * O(live facts of that key) — the same asymptotics a stream-stream
    * join's state store carries, held in RocksDB at deployment scale. */
  def joinView(events: Dataset[CdcEnvelope], dimTable: String,
      joinKeyOf: CdcEnvelope => String, cohortField: String,
      valueField: String)(
      implicit spark: SparkSession): Dataset[ValueDelta] = {
    import spark.implicits._
    events
      .groupByKey(joinKeyOf)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[CdcEnvelope],
            state: GroupState[JoinViewState]) => {
          val (next, out) =
            transitionJoin(state.getOption, it.toSeq, dimTable,
              cohortField, valueField)
          state.update(next)
          out.map(_.copy(key = key)).iterator
        })
  }

  /** Transactionally-consistent snapshot at an LSN watermark — the
    * all-or-nothing visibility rule a CDC consumer must honor when it
    * materializes "the table as of W": a transaction is visible only if
    * it is WHOLLY durable at W (its last LSN ≤ W). Filtering rows by
    * `lsn <= W` alone would apply the half of a straddling transaction
    * that happens to sit below the watermark — exactly the torn read
    * logical replication exists to prevent (postgres publishes changes
    * in commit order; Debezium surfaces txId for this reason).
    * Compaction then follows [[compact]]'s batch twin: latest envelope
    * per key by LSN, deletes drop the key. Emits (id, last_lsn,
    * event_type).
    *
    * Scale shape: one (txId → max lsn) hash aggregate — |transactions|
    * rows, map-side partials — equi-joined back onto the envelope
    * stream (AQE broadcasts the committed-tx set when it is small,
    * which it is: transactions, not rows), then the one-exchange
    * max_by compaction. Nothing scans the log twice. */
  def txConsistentSnapshot(events: Dataset[CdcEnvelope],
      watermarkLsn: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val env = events.toDF()
    val committed = env.groupBy("txId").agg(max("lsn").as("__maxLsn"))
      .filter(col("__maxLsn") <= watermarkLsn)
      .select("txId")
    env.join(committed, "txId")
      .withColumn("id", coalesce(
        element_at(col("after"), "id"),
        element_at(col("before"), "id")).cast("long"))
      .groupBy("id")
      .agg(max_by(struct(col("lsn"), col("op"),
        element_at(col("after"), "event_type").as("et")),
        col("lsn")).as("last"))
      .filter(col("last.op") =!= "d")
      .select(col("id"), col("last.lsn").as("last_lsn"),
        col("last.et").as("event_type"))
  }

  /** SCD Type-2 history materialization: one row per (key, version)
    * with an LSN validity interval, instead of [[compact]]'s
    * latest-image-only view. Every c/u/r envelope OPENS a version at
    * its LSN; the key's next change (any op, deletes included) CLOSES
    * it via `lead(lsn)`; a delete opens nothing, so a deleted key's
    * history simply ends with a closed interval. `is_current` marks the
    * open tail version.
    *
    * Plan shape at scale: ONE hash exchange on the key + per-partition
    * sort for the lead window — the same cost class as the compaction
    * itself, and embarrassingly partition-parallel (history of one key
    * never crosses partitions). This is the standard warehouse
    * "dimension history" consumer the latest-only changelog view can't
    * serve: as-of queries, audit trails, slowly-changing joins. */
  def scd2(events: Dataset[CdcEnvelope]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val env = events.toDF()
    val keyed = env.select(
      col("lsn"), col("op"), col("schema"),
      coalesce(
        element_at(col("after"), "id"),
        element_at(col("after"), "user_id"),
        element_at(col("before"), "id"),
        element_at(col("before"), "user_id")).as("key_id"),
      col("after"))
    val w = Window.partitionBy("schema", "key_id").orderBy("lsn")
    keyed
      .withColumn("valid_to_lsn", lead(col("lsn"), 1).over(w))
      .filter(col("op") =!= "d") // a delete closes; it opens no version
      .select(col("schema"), col("key_id"),
        col("lsn").as("valid_from_lsn"), col("valid_to_lsn"),
        col("valid_to_lsn").isNull.as("is_current"), col("after"))
  }

  /** One SCD2 version row as emitted by the STREAMING materializer: a
    * version is emitted OPEN (validTo = None) when its envelope arrives
    * and re-emitted CLOSED when the key's next change lands — possibly
    * in a later micro-batch, possibly within the same one. Downstream a
    * PK upsert on (key, validFrom) converges to exactly the batch
    * [[Changelog.scd2]] table. */
  final case class VersionRow(key: String, schemaName: String,
      validFrom: Long, validTo: Option[Long], image: Map[String, String])

  private[cdc] final case class OpenVersion(lsn: Long,
      image: Map[String, String])

  /** SCD2 per-key state: the LSN floor (guards stale replays even after
    * a delete — the tombstone role [[KeyState]] plays for compaction)
    * plus the currently open version, if the key is alive. */
  private[cdc] final case class ScdState(lastLsn: Long,
      open: Option[OpenVersion])

  /** Per-key SCD2 transition: fold the batch's events in LSN order over
    * the open version carried in state. Stale replays (lsn at or below
    * the state's floor) are dropped by the same LSN guard the
    * compaction uses — including after a delete, which leaves a
    * tombstoned floor rather than no state. */
  private[cdc] def transitionScd2(prior: Option[ScdState],
      events: Seq[CdcEnvelope]): (Option[ScdState], Seq[VersionRow]) = {
    val floor = prior.map(_.lastLsn).getOrElse(Long.MinValue)
    var cur = prior.flatMap(_.open)
    var last = floor
    val out = Seq.newBuilder[VersionRow]
    events.filter(_.lsn > floor).sortBy(_.lsn).foreach { e =>
      val key = e.key
      cur.foreach { v =>
        out += VersionRow(key, e.schema, v.lsn, Some(e.lsn), v.image)
      }
      if (e.isDelete) cur = None
      else {
        cur = Some(OpenVersion(e.lsn, e.image))
        out += VersionRow(key, e.schema, e.lsn, None, e.image)
      }
      last = e.lsn
    }
    val next = if (last == floor) prior else Some(ScdState(last, cur))
    (next, out.result())
  }

  /** Streaming SCD2: incremental history maintenance. State per key is
    * ONE open version (O(live keys), like [[compact]]); each micro-batch
    * emits the versions it opened and the closures it caused, and a
    * replace-merge PK upsert on (key, validFrom) — idempotent under
    * replay by construction — materializes the same table the batch
    * [[scd2]] window computes. This is the history twin of
    * [[compactValue]]'s aggregate maintenance: the warehouse dimension
    * table stays current continuously instead of being rebuilt. */
  def scd2Stream(events: Dataset[CdcEnvelope])(
      implicit spark: SparkSession): Dataset[VersionRow] = {
    import spark.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (_: String, it: Iterator[CdcEnvelope],
            state: GroupState[ScdState]) => {
          val (next, out) = transitionScd2(state.getOption, it.toSeq)
          next.foreach(state.update)
          out.iterator
        })
  }

  /** Batch form: same semantics via replay over a bounded dataset —
    * used by specs to cross-check the streaming operator. */
  def compactBatch(events: Seq[CdcEnvelope]): Map[String, CompactionDelta] = {
    events.groupBy(_.key).flatMap { case (k, evs) =>
      transition(None, evs)._2.map(k -> _)
    }
  }
}
