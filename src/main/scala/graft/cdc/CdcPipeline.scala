package graft.cdc

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** End-to-end CDC pipeline wiring — Spark-first restatement of the
  * reference's two pipelines (README.md:8-23):
  *
  * Pipeline A: CDC envelopes → demux (filtered typed substreams) → keyed
  * JSON sinks (one per table).
  * Pipeline B: envelopes → changelog compaction → continuous live-count
  * per schema → PK-upsert sink (reference CustomJob.java:194's
  * `SELECT schema, COUNT(1) FROM users_from_pulsar GROUP BY schema`).
  *
  * Design note (SURVEY §7.5 #1): Spark disallows a streaming aggregation
  * after `flatMapGroupsWithState` in Update mode, so the count stage rides
  * in `foreachBatch`: the per-batch *delta sums* (a batch aggregation) are
  * merged additively into the PK sink. Compaction emits a delta at most
  * once per (key, lsn) — replays are filtered by LSN — so additive merge
  * is idempotent under at-least-once redelivery. At scale this is one
  * narrow aggregation over each micro-batch's deltas (size ≪ state) plus
  * point upserts, instead of rescanning live-key state every trigger.
  */
object CdcPipeline {

  /** The reference's sink table (setup_sink_db1.sql:1-4). */
  val countTable = "user_count_by_pgschema"

  /** Pipeline B: compaction → per-schema live count → JDBC upsert sink.
    *
    * Each micro-batch's delta sums (one row per distinct schema — tiny by
    * construction, regardless of batch width) are merged into the PK table
    * additively (`user_count = user_count + EXCLUDED.user_count`) through
    * the writer's `foreachPartition` + `executeBatch` path, so no data
    * rides through the driver. Compaction emits a delta at most once per
    * (key, lsn) — replays are LSN-filtered — which makes the additive
    * merge idempotent under at-least-once redelivery.
    *
    * The stream is stateful, so Spark runs its batches without AQE, and
    * the sums arrive hash-partitioned by `pgschema` into the stream's
    * recorded partition count: the writer claims and writes in those
    * partitions, straight from the final aggregate (scan, state and
    * aggregate: 3 stages per trigger). A restart under a changed
    * `spark.sql.shuffle.partitions` re-partitions the sums into the
    * recorded count first, so a replayed batch claims the same ledger
    * keys ([[Sinks.UpsertWriter.writeBatch]]). */
  def liveCountPerSchema(
      events: Dataset[CdcEnvelope],
      factory: Sinks.ConnectionFactory,
      checkpoint: String)(implicit spark: SparkSession): StreamingQuery = {
    // runId from the checkpoint location: stable across restarts of THIS
    // pipeline (its batchIds continue from the checkpoint), distinct for
    // a fresh checkpoint or another pipeline sharing the sink table — so
    // ledger claims never collide across logical runs.
    val writer = new Sinks.UpsertWriter(countTable, "pgschema",
      Seq("pgschema", "user_count"), additive = Set("user_count"),
      runId = java.lang.Integer.toHexString(checkpoint.hashCode))
    val deltas = Changelog.compact(events)
    deltas.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[CompactionDelta], batchId: Long) =>
        val sums = batch.groupBy(col("schema").as("pgschema"))
          .agg(sum("delta").as("user_count"))
        // batchId → per-partition ledger claim: a retried micro-batch
        // whose writes already committed is skipped, keeping the
        // additive merge exactly-once.
        writer.writeBatch(sums, factory, batchId)
      }
      .start()
  }

  /** Pipeline A: typed demux → keyed-JSON wire rows for a topic sink.
    * Returns the (key, value) frame; caller attaches the sink. */
  def usersTopicFrame(events: Dataset[CdcEnvelope])(
      implicit spark: SparkSession) =
    Sinks.keyedJson(Demux.users(events),
      Seq("key", "op", "schema", "table", "fullName", "id"))

  def colorsTopicFrame(events: Dataset[CdcEnvelope])(
      implicit spark: SparkSession) =
    Sinks.keyedJson(Demux.favoriteColors(events),
      Seq("key", "op", "schema", "table", "favoriteColor", "userId"))
}
