package graft.cdc

/** CDC data model — the Debezium-shaped change-event envelope and the flat
  * typed events the reference's custom deserializer produces.
  *
  * Envelope shape per reference sample records (CustomJob.java:237-240):
  * `{before, after, source{version,connector,name,ts_ms,db,schema,table,
  * txId,lsn}, op, ts_ms}`, op ∈ {c,u,d,r}. We keep `before`/`after` as
  * string maps so one envelope type serves any source table; typed mapping
  * happens in [[Demux]] (reference CustomJob.java:221-272).
  *
  * Key synthesis `key = schema + "|" + id` per CustomJob.java:284, 320.
  */
final case class CdcEnvelope(
    lsn: Long,
    txId: Long,
    tsMs: Long,
    op: String, // c | u | d | r
    db: String,
    schema: String,
    table: String,
    before: Map[String, String],
    after: Map[String, String]) {

  /** Row image to read fields from: `after` for c/u/r, `before` for deletes
    * (REPLICA IDENTITY FULL, setup_source_db1.sql:11). The reference's
    * deserializer reads only `after` and would NPE on deletes
    * (CustomJob.java:244, 252, "TODO: test deletes" :199) — handling this
    * correctly is required of our engine (SURVEY §7.5 item 1). */
  def image: Map[String, String] = if (op == "d") before else after

  def isDelete: Boolean = op == "d"

  /** The row's synthetic primary key: its schema and the image's `id`,
    * or `user_id` for tables keyed by the user (user_favorite_colors). */
  def key: String =
    CdcEnvelope.keyOf(schema, image.getOrElse("id", image.getOrElse("user_id", "")))
}

/** Flat typed event base (reference DebeziumEvent, CustomJob.java:346-389). */
sealed trait FlatEvent {
  def key: String
  def op: String
  def schema: String
  def table: String
}

/** Reference UsersEvent (CustomJob.java:274-308). */
final case class UsersEvent(
    key: String, op: String, schema: String, table: String,
    id: Long, fullName: String) extends FlatEvent

/** Reference UserFavoriteColorsEvent (CustomJob.java:310-344). */
final case class UserFavoriteColorsEvent(
    key: String, op: String, schema: String, table: String,
    userId: Long, favoriteColor: String) extends FlatEvent

/** Output of changelog compaction: per-key liveness delta. `delta` is +1
  * when a key becomes live, -1 when it is deleted, 0 for an in-place update
  * (emitted so downstream snapshot sinks still see the new image). */
final case class CompactionDelta(
    key: String,
    schema: String,
    table: String,
    lsn: Long,
    alive: Boolean,
    delta: Int,
    image: Map[String, String])

/** Output of value-tracking compaction ([[Changelog.compactValue]]): the
  * additive deltas that maintain per-group SUM and COUNT (hence AVG)
  * under inserts, updates, deletes AND group moves. An update that
  * changes the grouping field emits TWO rows — a retraction against the
  * old group and an addition to the new one; a delete retracts the
  * prior image's (group, value) even though the delete envelope itself
  * carries neither. `alive` refers to the key's membership in THIS
  * row's group after the delta. Summing (dCount, dValueMicro) per group
  * additively reproduces COUNT/SUM over live keys' latest images. */
final case class ValueDelta(
    key: String,
    group: String,
    lsn: Long,
    alive: Boolean,
    dCount: Long,
    dValueMicro: Long)

object CdcEnvelope {
  /** Synthetic cross-schema primary key (CustomJob.java:284, 320). */
  def keyOf(schema: String, id: String): String = schema + "|" + id
}
