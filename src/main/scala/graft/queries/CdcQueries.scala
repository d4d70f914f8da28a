package graft.queries

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{CdcEnvelope, Changelog, CompactionDelta, Sinks, ValueDelta}
import graft.ops.Pin
import graft.sources.PgOutputFrames

/** CORRECTNESS-graded batch entries for the custom engine pieces:
  *
  *  - cdc1_source_batch — S1, the `format("graft-cdc")` DataSource V2
  *    source itself (reference StreamingJob.java:44-62). A deterministic
  *    WAL fixture is derived from the `events` table, written in BOTH wal
  *    formats (jsonl envelopes and binary pgoutput frames), batch-read
  *    through the source with parallel LSN-range readers, and projected
  *    to plain columns. The DuckDB oracle computes the same envelope
  *    projection directly from `events` — so a green row proves the file
  *    writer→wire format→decoder→DSv2 reader path end to end, byte-level
  *    pgoutput decoding included.
  *
  *  - cdc2_upsert_replay — the upsert/changelog compaction semantics the
  *    K2 sink applies (reference CustomJob.java:156-194): latest record
  *    per key by LSN wins, a trailing delete removes the key. Expressed
  *    as the partial-agg-friendly max_by formulation (not a window sort)
  *    over the envelopes read through the source; the oracle is the
  *    row_number()-window SQL over the same synthesized changelog.
  *
  *  - cdc3_snapshot_stream — the snapshot→incremental handoff every real
  *    CDC consumer exercises first: the connector emits one `op='r'`
  *    (snapshot read) envelope per pre-existing row, then the live c/u/d
  *    stream (reference CustomJob.java:237-240 — Debezium's op set is
  *    {c,u,d,r}). Snapshot records sit at low LSNs (a snapshot completes
  *    before the slot's first streamed transaction), so the same
  *    latest-by-LSN compaction yields: stream-untouched keys survive as
  *    'r' rows, streamed keys take the stream's last image, trailing
  *    deletes drop the key even when it existed in the snapshot.
  *
  * Envelope derivation from `events` (expressible in both engines):
  * lsn = event_id, tx_id = event_id // 100, ts_ms = event_id * 1000,
  * op = 'd' when event_id % 7 = 0, 'c' for signups, else 'u';
  * deletes carry only the key in `before`, other ops carry
  * {id, event_type} in `after`.
  */
object CdcQueries {

  /** Writes the WAL fixture pair (wal.jsonl + wal.pgoutput) for an sf dir
    * once into the keyed fixture cache; returns the fixture dir.
    * Derivation is deterministic, so concurrent/repeat calls are safe.
    * v5: bump when the derivation itself changes (v2 added the snapshot
    * segment's ghost keys; v3 the schema-evolution log; v5 the truncate
    * log at the 98% LSN point), so cached fixtures from older code miss. */
  def ensureFixture(spark: SparkSession, sfDir: String): String =
    StreamRun.fixture(spark, "cdc", "v5", sfDir, "events")(
      writeWals(spark, sfDir, _))

  private def writeWals(spark: SparkSession, sfDir: String,
      dir: Path): Unit = {
    graft.Tables.registerAll(spark, sfDir)
    // Only the three narrow columns leave the executors; at a real 100 TB
    // deployment the WAL is the upstream database's, not derived — this
    // driver-side write exists purely to fabricate a deterministic log.
    val rows = spark.table("events")
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("event_type"))
      .orderBy("event_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))

    def op(eventId: Long, eventType: String): String =
      if (eventId % 7 == 0) "d" else if (eventType == "signup") "c" else "u"

    // one users-table envelope per event: deletes carry only the key in
    // `before`, other ops carry {id, event_type} in `after`
    def userEnvelope(lsn: Long, id: Long, uid: Long, et: String): String = {
      val o = op(id, et)
      val before = if (o == "d") s"""{"id":"$uid"}""" else "{}"
      val after =
        if (o == "d") "{}" else s"""{"id":"$uid","event_type":"$et"}"""
      envelope(lsn, id / 100, id * 1000, o, "users", before, after)
    }

    val wj = Files.newBufferedWriter(dir.resolve("wal.jsonl"))
    try rows.foreach { case (id, uid, et) =>
      wj.write(userEnvelope(id, id, uid, et))
      wj.newLine()
    } finally wj.close()

    val enc = java.util.Base64.getEncoder

    // One pgoutput log of the users table: the Relation message
    // precedes all DML, as on a real replication socket, then one
    // Begin/DML/Commit per event; Begin/Commit share the DML frame's
    // LSN (they emit no envelope — stable sort keeps file order within
    // an LSN). `midLog` gives the frames of the one mid-log event,
    // emitted before the first event at or past `midAt`; with `email`,
    // events from there on carry a third column.
    def pgLog(file: String, oid: Int, midAt: Long = Long.MaxValue,
        email: Boolean = false)(
        midLog: Long => Seq[(Long, Array[Byte])] = _ => Nil): Unit = {
      val w = Files.newBufferedWriter(dir.resolve(file))
      try {
        def frame(lsn: Long, bytes: Array[Byte]): Unit = {
          w.write(s"$lsn " + enc.encodeToString(bytes)); w.newLine()
        }
        frame(0, PgOutputFrames.relation(oid, "public", "users",
          Seq("id", "event_type")))
        var past = false
        rows.foreach { case (id, uid, et) =>
          if (!past && id >= midAt) {
            midLog(id).foreach { case (lsn, bytes) => frame(lsn, bytes) }
            past = true
          }
          val third =
            if (past && email) Seq(Some(s"$uid@example.com")) else Nil
          frame(id, PgOutputFrames.begin((id / 100).toInt, id * 1000))
          val v = Seq(Some(uid.toString), Some(et)) ++ third
          op(id, et) match {
            case "c" => frame(id, PgOutputFrames.insert(oid, v))
            case "u" => frame(id, PgOutputFrames.update(oid, None, v))
            case _ => frame(id, PgOutputFrames.delete(oid,
              Seq(Some(uid.toString), None) ++ third.map(_ => None)))
          }
          frame(id, PgOutputFrames.commit())
        }
      } finally w.close()
    }

    pgLog("wal.pgoutput", 101)()

    // wal_evo.pgoutput — the cdc4 log: the same stream, but the table's
    // schema CHANGES mid-log (a column added upstream — the ALTER TABLE
    // every long-lived CDC pipeline eventually meets). The publisher
    // re-sends the Relation message with the new column list, exactly as
    // a real walsender does after DDL; rows before the change carry two
    // columns, rows at/after it three. Decoding correctly requires the
    // relation catalog to be REPLAYED IN LSN ORDER — including by the
    // parallel range readers, whose boundary states must snapshot the
    // catalog version in force at each split point. The DDL point's
    // Relation shares the first evolved event's LSN and precedes its
    // DML in file order, as on the wire.
    pgLog("wal_evo.pgoutput", 102,
        midAt = (rows.head._1 + rows.last._1) / 2, email = true) { id =>
      Seq(id -> PgOutputFrames.relation(102, "public", "users",
        Seq("id", "event_type", "email")))
    }

    // wal_trunc.pgoutput — the cdc5 log: the same stream with a TRUNCATE
    // mid-log (the bulk-reset every reference-data table eventually
    // gets). On the wire it is one frame listing the relation oids,
    // inside its own transaction; its consumer-side meaning is a
    // PER-TABLE LSN FLOOR — every key whose latest change precedes it
    // is gone, keys touched after it live on. The floor sits at the
    // 98% LSN point, NOT the midpoint: users stay active through the
    // whole stream, so an early truncate kills nobody (its grade would
    // be vacuous) — at 98% both populations are nonzero at every sf
    // (sf0.01: 96 survivors / 29 truncated). The frame's own LSN is
    // floor-1 so the id-derived DML LSNs partition cleanly around it.
    val floor = rows.head._1 + (98L * (rows.last._1 - rows.head._1)) / 100L
    pgLog("wal_trunc.pgoutput", 103, midAt = floor) { _ =>
      Seq(PgOutputFrames.begin((floor / 100).toInt, floor * 1000),
        PgOutputFrames.truncate(Seq(103)), PgOutputFrames.commit())
        .map(floor - 1 -> _)
    }

    // wal_snap.jsonl — the cdc3 log: an initial snapshot segment (op='r',
    // one envelope per pre-existing key, lsn = key id — all below
    // SnapStreamBase), then the same c/u/d stream shifted up by
    // SnapStreamBase so every streamed change outranks every snapshot read.
    // Snapshot membership: every user_id % 2 = 0 (keys the stream then
    // updates/deletes — handoff), plus a ghost key user_id + 100000 per
    // user_id % 5 = 0 (keys the stream never touches — these MUST survive
    // compaction as op='r' rows, the snapshot-survival half of the grade).
    val ws = Files.newBufferedWriter(dir.resolve("wal_snap.jsonl"))
    try {
      val uids = rows.map(_._2).distinct
      val snapIds = (uids.filter(_ % 2 == 0) ++
        uids.filter(_ % 5 == 0).map(_ + 100000L)).sorted
      snapIds.foreach { sid =>
        ws.write(envelope(sid, 0, 0, "r", "users", "{}",
          s"""{"id":"$sid","event_type":"snapshot"}"""))
        ws.newLine()
      }
      rows.foreach { case (id, uid, et) =>
        ws.write(userEnvelope(SnapStreamBase + id, id, uid, et))
        ws.newLine()
      }
    } finally ws.close()
  }

  /** One Debezium-style change envelope of the fixture logs, as a jsonl
    * line of the `experiment.public` database. */
  private def envelope(lsn: Long, txId: Long, tsMs: Long, op: String,
      table: String, before: String, after: String): String =
    s"""{"lsn":$lsn,"txId":$txId,"tsMs":$tsMs,"op":"$op",""" +
      s""""db":"experiment","schema":"public","table":"$table",""" +
      s""""before":$before,"after":$after}"""

  /** LSN offset separating the cdc3 snapshot segment from its stream:
    * snapshot reads use lsn = user_id (bounded by the key space), streamed
    * changes use lsn = SnapStreamBase + event_id. */
  private val SnapStreamBase = 1000000000L

  private def readWal(spark: SparkSession, fixtureDir: String, mode: String) = {
    val file = if (mode == "pgoutput") "wal.pgoutput" else "wal.jsonl"
    spark.read.format("graft-cdc")
      .option("path", s"$fixtureDir/$file")
      .option("walFormat", mode)
      .option("numPartitions", "8")
      .load()
      .withColumn("mode", lit(mode))
  }

  /** The wal.jsonl fixture as a stream. Admission control is sized from
    * the log so EVERY sf replays in ~3 micro-batches: a fixed cap either
    * degenerates to one batch at small sf (no micro-batch plurality left
    * to grade) or explodes into dozens at large sf (per-trigger
    * state/checkpoint overhead dominating the bench). Line count is a
    * driver-side metadata probe of the fixture, not a data read. */
  private def walStream(spark: SparkSession, fix: String): DataFrame = {
    val walLines = {
      val st = Files.lines(Paths.get(fix, "wal.jsonl"))
      try st.count() finally st.close()
    }
    spark.readStream.format("graft-cdc")
      .option("walFormat", "jsonl")
      .option("numPartitions", "8")
      .option("maxEventsPerBatch", math.max(500L, (walLines + 2) / 3).toString)
      .load(s"$fix/wal.jsonl")
  }

  /** st2/st3's changelog IVM: every envelope's value (lsn % 997,
    * micro-units) under its event_type, compacted to per-group deltas. */
  private def liveSumDeltas(events: DataFrame)(
      implicit spark: SparkSession): Dataset[ValueDelta] = {
    import spark.implicits._
    Changelog.compactValue(events.as[CdcEnvelope],
      e => e.image.getOrElse("event_type", ""), e => e.lsn % 997L)
  }

  /** st2/st3's sink: each micro-batch pre-aggregates its deltas per group
    * (|groups| rows, not |keys|, cross the sink boundary) and additively
    * upserts them through the ledgered K2 writer under the run's id.
    * Returns the MemoryDb table and the foreachBatch body. */
  private def liveSumsSink(run: StreamRun): (Sinks.MemoryUpsertTable,
      (Dataset[ValueDelta], Long) => Unit) = {
    val writer = new Sinks.UpsertWriter("live_sums", "event_type",
      Seq("event_type", "n_live", "sum_value_micro"),
      additive = Set("n_live", "sum_value_micro"), runId = run.id)
    val factory = Sinks.MemoryDb.factory(run.id)
    (Sinks.MemoryDb.table(run.id, "live_sums"), (batch, batchId) =>
      writer.writeBatch(batch.groupBy(col("group").as("event_type"))
        .agg(sum(col("dCount")).as("n_live"),
          sum(col("dValueMicro")).as("sum_value_micro")),
        factory, batchId))
  }

  /** st2/st3's graded output: the live groups of the sink with their
    * average. */
  private def liveSums(spark: SparkSession,
      sink: Sinks.MemoryUpsertTable): DataFrame = {
    import spark.implicits._
    sink.snapshot.values.toSeq.map(r =>
      (r("event_type").toString, r("n_live").toString.toLong,
        r("sum_value_micro").toString.toLong))
      .filter(_._2 > 0)
      .toDF("event_type", "n_live", "sum_value_micro")
      .select(col("event_type"), col("n_live"), col("sum_value_micro"),
        expr("sum_value_micro div n_live").as("avg_value_micro"))
      .orderBy("event_type")
  }

  /** iv2/iv3's replay: both sides' three time-tertile chunks plus
    * sentinel1 copied into the run's `in` dir with strictly increasing
    * mtimes — the file source admits oldest-first, which is what makes
    * "chunk k = tertile k" arrive time-ordered. Returns the dir. */
  private def ivReplay(run: StreamRun, fix: String): String = {
    Seq("errs", "clicks").foreach(side => run.replay(s"in/$side",
      Seq("chunk-0", "chunk-1", "chunk-2", "sentinel1")
        .map(f => Paths.get(fix, side, s"$f.parquet"))))
    run.path("in")
  }

  /** iv2/iv3's flush: sentinel2 arrives after everything else. */
  private def ivFlush(run: StreamRun, fix: String): Unit =
    Seq("errs", "clicks").foreach(side => run.replay(s"in/$side",
      Seq(Paths.get(fix, s"${side}_flush", "sentinel2.parquet")), first = 9))

  /** iv1's interval join as a watermarked stream-stream left outer join
    * over the replayed sides under `in`. */
  private def ivJoin(spark: SparkSession, in: String): DataFrame = {
    val errs = spark.readStream
      .schema("err_id BIGINT, user_id BIGINT, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/errs")
      .withWatermark("ts", "0 seconds")
      .select(col("err_id"), col("user_id").as("e_uid"),
        col("ts").as("err_ts"))
    val clicks = spark.readStream
      .schema("user_id BIGINT, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/clicks")
      .withWatermark("ts", "0 seconds")
      .select(col("user_id").as("c_uid"), col("ts").as("click_ts"),
        col("value"))
    errs.join(clicks,
        col("e_uid") === col("c_uid") &&
          col("click_ts") >= col("err_ts") - expr("INTERVAL 5 MINUTES") &&
          col("click_ts") < col("err_ts"), "left_outer")
      .select(col("err_id"), col("click_ts"), col("value"))
  }

  /** iv2/iv3's graded per-error aggregate over the joined rows (sentinel
    * rows carry negative ids). */
  private def ivGrade(joined: DataFrame): DataFrame =
    joined.filter(col("err_id") >= 0)
      .groupBy("err_id")
      .agg(count(col("click_ts")).as("n_clicks"),
        coalesce(sum(col("value").cast("decimal(18,2)")), lit(0))
          .cast("decimal(18,2)").cast("double").as("click_value"))
      .orderBy("err_id")

  /** iv1's SQL: iv2's and iv3's oracle. */
  private val ivOracle =
    """SELECT e.event_id AS err_id,
      |       CAST(count(c.ts) AS BIGINT) AS n_clicks,
      |       CAST(CAST(coalesce(sum(CAST(c.value AS DECIMAL(18,2))), 0)
      |            AS DECIMAL(18,2)) AS DOUBLE) AS click_value
      |FROM (SELECT event_id, user_id, ts FROM events
      |      WHERE event_type = 'error') e
      |LEFT JOIN (SELECT user_id, ts, value FROM events
      |           WHERE event_type = 'click') c
      |  ON e.user_id = c.user_id
      | AND c.ts >= e.ts - INTERVAL 5 MINUTE AND c.ts < e.ts
      |GROUP BY e.event_id ORDER BY err_id""".stripMargin

  /** Pipeline A's wire frame (reference CustomJob.java:93-94): key =
    * schema|id, value = the JSON fields — pb1's and st17's topic
    * payload. */
  private def topicFrame(events: DataFrame): DataFrame = events.select(
    concat_ws("|", col("schema"),
      coalesce(try_element_at(col("after"), lit("id")),
        try_element_at(col("before"), lit("id")))).as("key"),
    to_json(struct(col("lsn"), col("op"),
      try_element_at(col("after"), lit("id")).as("id"),
      try_element_at(col("after"), lit("event_type"))
        .as("event_type"))).as("value"))

  /** st18's and st19's fixture (each keeps its own cache): the events
    * table as three JSONL chunk files by event_id mod 3, stamped in
    * replay order — written by SPARK, not a driver collect; only a
    * one-file rename happens driver-side. */
  private def enrichChunks(spark: SparkSession, sfDir: String,
      kind: String): String = {
    graft.Tables.registerAll(spark, sfDir)
    StreamRun.fixture(spark, kind, s"${kind}v1", sfDir, "events") { d =>
      val staged = spark.table("events").select(col("event_id"),
        col("user_id"), col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("value_cents"))
      (0 until 3).foreach { k =>
        StreamRun.stamp(StreamRun.writeOnePart(
          staged.filter(pmod(col("event_id"), lit(3)) === k),
          d.resolve(s"chunk-$k.jsonl"), "json"), k)
      }
    }
  }

  /** The enrichChunks replay, one chunk per micro-batch. */
  private def enrichStream(spark: SparkSession, chunks: String): DataFrame =
    spark.readStream.schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, event_type STRING, " +
          "value_cents BIGINT"))
      .option("maxFilesPerTrigger", "1")
      .json(chunks)
      .filter(col("event_id").isNotNull)

  /** st4/st5/st6/st8's stream: the dedup fixture's four chunks replayed
    * into the run's `in` dir, one per trigger, read in the run's session
    * sized to them. */
  private def dedupStream(run: StreamRun, fix: String, schema: String =
      "doc_id BIGINT, digest STRING, text STRING, ts TIMESTAMP"): DataFrame = {
    val in = run.replay("in",
      (0 until 4).map(k => Paths.get(fix, s"chunk-$k.parquet")))
    run.session(Seq(in)).readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
  }

  /** The foreachBatch body that appends each micro-batch to `out`, tagged
    * with its batch id. */
  private def appendBatches(out: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      batch.withColumn("batch_id", lit(batchId)).write.mode("append")
        .parquet(out)

  /** st22/st23's merge: deletes doc_id ≡ 0 (mod 10), rewrites ≡ 1 with
    * n_chars + 1000, inserts 10⁶ + doc_id for ≡ 2. */
  private def docChanges(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 === 0)
      .withColumn("op", lit("d"))
    .unionByName(docs.filter(col("doc_id") % 10 === 1)
      .withColumn("n_chars", col("n_chars") + 1000L)
      .withColumn("op", lit("u")))
    .unionByName(docs.filter(col("doc_id") % 10 === 2)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("op", lit("c")))

  /** Live users per event_type: st1's and pb1's oracle. */
  private val liveUsersOracle =
    """WITH latest AS (
      |  SELECT user_id, event_type, event_id, row_number() OVER
      |    (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |  FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS live_users
      |FROM latest WHERE rn = 1 AND event_id % 7 != 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Writes the stream-stream join fixture for an sf dir once: the events
    * table split into error/click sides, each side chunked into three
    * TIME-ORDERED parquet files (chunk k = ts tertile k, identical
    * boundaries on both sides — so replaying chunks oldest-first can
    * never produce a row older than the watermark, which is what makes
    * the zero-delay watermark drop-free), plus far-future sentinel files
    * (`sentinel1`, and `sentinel2` in a side dir) whose only job is to
    * advance the watermark past all real data at end-of-stream so the
    * left-outer join's unmatched state actually flushes. Sentinel rows
    * carry negative ids and are filtered from the graded output. */
  def ensureIvFixture(spark: SparkSession, sfDir: String): String =
    StreamRun.fixture(spark, "iv2", "iv2v2", sfDir, "events") { build =>
      graft.Tables.registerAll(spark, sfDir)
      val ev = spark.table("events")
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      // Chunk boundaries need only be CONSISTENT across the two sides (the
      // join result is batching-invariant); approx percentiles are fine.
      // events.ts is TIMESTAMP_NTZ (oracle parity); unix_micros needs LTZ —
      // under the session's UTC timezone the cast is value-preserving.
      val bounds = ev.select(expr(
        "percentile_approx(unix_micros(cast(ts as timestamp)), array(0.333, 0.667), 1000)"))
        .head().getSeq[Long](0)
      val maxMicros = ev.agg(max(unix_micros(col("ts").cast("timestamp"))))
        .head().getLong(0)
      def writeOne(df: DataFrame, side: String, name: String): Unit =
        StreamRun.writeOnePart(df, build.resolve(side).resolve(s"$name.parquet"))
      def chunks(df0: DataFrame, side: String): Unit = {
        // Streaming watermarks require LTZ event time; under the session's
        // UTC timezone the NTZ→LTZ cast preserves the wall-clock micros the
        // oracle sees, so the join band is identical on both sides.
        val df = df0.withColumn("ts", col("ts").cast("timestamp"))
        val t = unix_micros(col("ts"))
        writeOne(df.filter(t < bounds(0)), side, "chunk-0")
        writeOne(df.filter(t >= bounds(0) && t < bounds(1)), side, "chunk-1")
        writeOne(df.filter(t >= bounds(1)), side, "chunk-2")
      }
      chunks(errs, "errs"); chunks(clicks, "clicks")
      // Sentinels: one hour / two hours past the last real event. The
      // second lives in a *_flush side dir — it is copied into the stream
      // AFTER the first drain, because outer-join state evicted by
      // sentinel1's watermark is only EMITTED while a subsequent batch runs.
      def sentinel(side: String, at: Long, name: String, flush: Boolean) = {
        import spark.implicits._
        val df =
          if (side == "errs")
            Seq((-1L, -1L)).toDF("err_id", "user_id")
              .select(col("err_id"), col("user_id"),
                timestamp_micros(lit(at)).as("ts"))
          else
            Seq((-2L, 0.0)).toDF("user_id", "value")
              .select(col("user_id"),
                timestamp_micros(lit(at)).cast("timestamp_ntz").as("ts"),
                col("value"))
        writeOne(df, if (flush) s"${side}_flush" else side, name)
      }
      Seq("errs", "clicks").foreach { s =>
        sentinel(s, maxMicros + 3600L * 1000000, "sentinel1", flush = false)
        sentinel(s, maxMicros + 7200L * 1000000, "sentinel2", flush = true)
      }
    }

  /** st12's fixture: the events stream as (user_id, ts_us, event_id, v)
    * in milli-unit fixed point, split into three time-tertile chunk
    * files (iv2's replay discipline: chunk k strictly precedes chunk
    * k+1 in event time, so time-ordered admission + in-batch sorting
    * reproduces the batch frame order exactly). */
  def ensureTsFixture(spark: SparkSession, sfDir: String): String =
    StreamRun.fixture(spark, "ts", "ts1", sfDir, "events") { build =>
      graft.Tables.registerAll(spark, sfDir)
      val pts = spark.table("events").select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("event_id"),
        expr("CAST(floor(value*1000) AS BIGINT)").as("v"))
      val bounds = pts.select(expr(
        "percentile_approx(ts_us, array(0.333, 0.667), 1000)"))
        .head().getSeq[Long](0)
      Seq(pts.filter(col("ts_us") < bounds(0)),
        pts.filter(col("ts_us") >= bounds(0) && col("ts_us") < bounds(1)),
        pts.filter(col("ts_us") >= bounds(1))).zipWithIndex.foreach {
          case (df, k) =>
            StreamRun.writeOnePart(df, build.resolve(s"chunk-$k.parquet"))
        }
    }

  private val envCte =
    """WITH env AS (
      |  SELECT event_id AS lsn, event_id // 100 AS tx_id,
      |         event_id * 1000 AS ts_ms,
      |         CASE WHEN event_id % 7 = 0 THEN 'd'
      |              WHEN event_type = 'signup' THEN 'c' ELSE 'u' END AS op,
      |         CASE WHEN event_id % 7 = 0 THEN NULL
      |              ELSE CAST(user_id AS VARCHAR) END AS after_id,
      |         CASE WHEN event_id % 7 = 0 THEN NULL
      |              ELSE event_type END AS after_event_type,
      |         CASE WHEN event_id % 7 = 0 THEN CAST(user_id AS VARCHAR)
      |              END AS before_id,
      |         user_id
      |  FROM events)""".stripMargin

  /** Live per-group sums: st2's and st3's oracle. */
  private val liveSumsOracle = envCte +
    """
      |, r AS (
      |  SELECT user_id, lsn, op, after_event_type,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY lsn DESC) AS rn
      |  FROM env)
      |SELECT after_event_type AS event_type,
      |       CAST(count(*) AS BIGINT) AS n_live,
      |       CAST(sum(lsn % 997) AS BIGINT) AS sum_value_micro,
      |       CAST(sum(lsn % 997) // count(*) AS BIGINT) AS avg_value_micro
      |FROM r WHERE rn = 1 AND op != 'd'
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** The SCD2 history table: sc1's and sc3's oracle. */
  private val scd2Oracle = envCte +
    """
      |, h AS (
      |  SELECT user_id, lsn, op, after_event_type,
      |         lead(lsn) OVER (PARTITION BY user_id
      |                         ORDER BY lsn) AS valid_to_lsn
      |  FROM env)
      |SELECT CAST(user_id AS BIGINT) AS id, lsn AS valid_from_lsn,
      |       valid_to_lsn, valid_to_lsn IS NULL AS is_current,
      |       after_event_type AS event_type
      |FROM h WHERE op != 'd'
      |ORDER BY id, valid_from_lsn""".stripMargin

  /** Point-in-time lookup against the SCD2 history: sc2's and sc4's
    * oracle. */
  private val pitOracle = envCte +
    """
      |, h0 AS (
      |  SELECT user_id, lsn, op, after_event_type,
      |         lead(lsn) OVER (PARTITION BY user_id
      |                         ORDER BY lsn) AS valid_to_lsn
      |  FROM env),
      |  h AS (SELECT user_id AS h_id, lsn AS valid_from_lsn,
      |               valid_to_lsn, after_event_type
      |        FROM h0 WHERE op != 'd'),
      |  p AS (SELECT event_id AS probe_lsn, user_id FROM events
      |        WHERE event_type = 'error')
      |SELECT p.probe_lsn, p.user_id, h.valid_from_lsn AS version_lsn,
      |       h.after_event_type AS event_type_at
      |FROM p LEFT JOIN h ON p.user_id = h.h_id
      |  AND h.valid_from_lsn <= p.probe_lsn
      |  AND (h.valid_to_lsn IS NULL OR p.probe_lsn < h.valid_to_lsn)
      |ORDER BY probe_lsn""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("cdc1_source_batch",
      (spark, dir) => {
        val fix = ensureFixture(spark, dir)
        readWal(spark, fix, "jsonl")
          .unionByName(readWal(spark, fix, "pgoutput"))
          .select(col("mode"), col("lsn"), col("txId").as("tx_id"),
            col("tsMs").as("ts_ms"), col("op"), col("db"),
            col("schema").as("pg_schema"), col("table").as("tbl"),
            element_at(col("after"), "id").as("after_id"),
            element_at(col("after"), "event_type").as("after_event_type"),
            element_at(col("before"), "id").as("before_id"))
          .orderBy("mode", "lsn")
      },
      Some(envCte +
        """
          |, proj AS (
          |  SELECT lsn, tx_id, ts_ms, op, 'experiment' AS db,
          |         'public' AS pg_schema, 'users' AS tbl,
          |         after_id, after_event_type, before_id
          |  FROM env)
          |SELECT 'jsonl' AS mode, * FROM proj
          |UNION ALL
          |SELECT 'pgoutput' AS mode, * FROM proj
          |ORDER BY mode, lsn""".stripMargin)),

    QueryDef("cdc2_upsert_replay",
      (spark, dir) => {
        val fix = ensureFixture(spark, dir)
        // Compaction as aggregation: latest envelope per key by LSN (map-
        // side partial agg → one row per key crosses the shuffle), then
        // deletes drop the key — the batch twin of graft.cdc.Changelog.
        readWal(spark, fix, "jsonl")
          .withColumn("id", coalesce(element_at(col("after"), "id"),
            element_at(col("before"), "id")).cast("long"))
          .groupBy("id")
          .agg(max_by(struct(col("lsn"), col("op"),
            element_at(col("after"), "event_type").as("et")),
            col("lsn")).as("last"))
          .filter(col("last.op") =!= "d")
          .select(col("id"), col("last.lsn").as("last_lsn"),
            col("last.op").as("last_op"), col("last.et").as("last_event_type"))
          .orderBy("id")
      },
      Some(envCte +
        """
          |, r AS (
          |  SELECT user_id AS id, lsn, op, after_event_type,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY lsn DESC) AS rn
          |  FROM env)
          |SELECT id, lsn AS last_lsn, op AS last_op,
          |       after_event_type AS last_event_type
          |FROM r WHERE rn = 1 AND op != 'd'
          |ORDER BY id""".stripMargin)),

    // tx1 — transactionally-consistent snapshot at an LSN watermark
    // ([[graft.cdc.Changelog.txConsistentSnapshot]]): a transaction is
    // visible only if WHOLLY durable at W (its max lsn ≤ W) — the
    // all-or-nothing rule that distinguishes "the table as of W" from
    // a torn `lsn <= W` row filter. The fixture's transactions span
    // 100 LSNs (txId = lsn div 100) and W is placed mid-transaction
    // (max·6/10 − 50), so one transaction genuinely straddles the
    // watermark and its below-W rows must STILL be excluded — the
    // semantics the oracle enforces row-for-row. ChangelogSpec pins
    // the straddle on a hand WAL.
    QueryDef("tx1_consistent_snapshot",
      (spark, dir) => {
        import spark.implicits._
        val fix = ensureFixture(spark, dir)
        val env = readWal(spark, fix, "jsonl").drop("mode").as[CdcEnvelope]
        // watermark: a driver scalar off one max() aggregate — mirrors
        // the oracle's w CTE exactly (integer arithmetic both sides)
        val w =
          env.toDF().agg(max(col("lsn"))).head().getLong(0) * 6 / 10 - 50
        Changelog.txConsistentSnapshot(env, w).orderBy("id")
      },
      Some(envCte +
        """
          |, w AS (SELECT max(lsn) * 6 // 10 - 50 AS wl FROM env),
          |  mx AS (SELECT tx_id, max(lsn) AS ml FROM env GROUP BY 1),
          |  ok AS (SELECT tx_id FROM mx, w WHERE ml <= wl),
          |  vis AS (SELECT env.* FROM env JOIN ok USING (tx_id)),
          |  r AS (SELECT user_id, lsn, op, after_event_type,
          |          row_number() OVER (PARTITION BY user_id
          |                             ORDER BY lsn DESC) AS rn
          |        FROM vis)
          |SELECT CAST(user_id AS BIGINT) AS id, lsn AS last_lsn,
          |       after_event_type AS event_type
          |FROM r WHERE rn = 1 AND op != 'd'
          |ORDER BY id""".stripMargin)),

    QueryDef("cdc3_snapshot_stream",
      (spark, dir) => {
        val fix = ensureFixture(spark, dir)
        // Snapshot (op='r') + incremental stream, compacted with the SAME
        // operator as cdc2 — nothing special-cases 'r': any non-delete is
        // an upsert, and snapshot LSNs all sit below stream LSNs, so the
        // handoff falls out of latest-by-LSN. Keys only the snapshot saw
        // survive as 'r'/'snapshot' rows; streamed keys take the stream's
        // last image; deletes drop the key even if snapshotted.
        spark.read.format("graft-cdc")
          .option("path", s"$fix/wal_snap.jsonl")
          .option("numPartitions", "8")
          .load()
          .withColumn("id", coalesce(element_at(col("after"), "id"),
            element_at(col("before"), "id")).cast("long"))
          .groupBy("id")
          .agg(max_by(struct(col("lsn"), col("op"),
            element_at(col("after"), "event_type").as("et")),
            col("lsn")).as("last"))
          .filter(col("last.op") =!= "d")
          .select(col("id"), col("last.lsn").as("last_lsn"),
            col("last.op").as("last_op"), col("last.et").as("last_event_type"))
          .orderBy("id")
      },
      Some(envCte +
        s"""
          |, snap AS (
          |  SELECT DISTINCT user_id AS sid FROM events WHERE user_id % 2 = 0
          |  UNION
          |  SELECT DISTINCT user_id + 100000 FROM events WHERE user_id % 5 = 0)
          |, log AS (
          |  SELECT sid AS id, CAST(sid AS BIGINT) AS lsn,
          |         'r' AS op, 'snapshot' AS after_event_type
          |  FROM snap
          |  UNION ALL
          |  SELECT user_id AS id, $SnapStreamBase + lsn AS lsn,
          |         op, after_event_type
          |  FROM env)
          |, r AS (
          |  SELECT *, row_number() OVER (PARTITION BY id
          |                               ORDER BY lsn DESC) AS rn
          |  FROM log)
          |SELECT id, lsn AS last_lsn, op AS last_op,
          |       after_event_type AS last_event_type
          |FROM r WHERE rn = 1 AND op != 'd'
          |ORDER BY id""".stripMargin)),

    // cdc4 — schema evolution mid-stream: the upstream table gains a
    // column halfway through the log (ALTER TABLE … ADD COLUMN), the
    // publisher re-sends the pgoutput Relation message, and every later
    // tuple decodes against the NEW column list. Read through the DSv2
    // source with 8 parallel LSN-range readers, so the grade also pins
    // the boundary-state machinery: readers whose range starts after
    // the DDL point must seed from a catalog snapshot that already
    // carries the third column (PgOutputSession.boundaryStates) — no
    // reader rescans the log to find out. The envelope's map-typed
    // before/after is what makes this a non-event downstream: old rows
    // simply lack the key, new rows carry it, and the oracle predicts
    // exactly which (lsn >= the midpoint the fixture used).
    QueryDef("cdc4_schema_evolution",
      (spark, dir) => {
        val fix = ensureFixture(spark, dir)
        spark.read.format("graft-cdc")
          .option("path", s"$fix/wal_evo.pgoutput")
          .option("walFormat", "pgoutput")
          .option("numPartitions", "8")
          .load()
          .select(col("lsn"), col("op"),
            element_at(col("after"), "id").as("after_id"),
            element_at(col("after"), "event_type").as("after_event_type"),
            element_at(col("after"), "email").as("after_email"),
            element_at(col("before"), "id").as("before_id"))
          .orderBy("lsn")
      },
      Some(envCte +
        """
          |, b AS (SELECT (min(event_id) + max(event_id)) // 2 AS mid
          |        FROM events)
          |SELECT lsn, op, after_id, after_event_type,
          |       CASE WHEN lsn >= b.mid AND op != 'd'
          |            THEN after_id || '@example.com' END AS after_email,
          |       before_id
          |FROM env CROSS JOIN b ORDER BY lsn""".stripMargin)),

    // cdc5 — TRUNCATE replay: the bulk reset every reference-data table
    // eventually gets. The decoder turns the wire frame into op='t'
    // envelopes (Debezium's op set); the compaction-side semantic is a
    // PER-TABLE LSN FLOOR — a key is alive iff its latest change is a
    // non-delete AND lands after the table's last truncate. That floor
    // composes with the max_by compaction as one broadcast join of a
    // |tables|-row frame (never a per-key exchange): exactly how a
    // 100 TB changelog absorbs a truncate without rescanning state.
    // The oracle replays the same rule statically: survivors are the
    // latest-per-user rows at/after the midpoint, minus deletes.
    QueryDef("cdc5_truncate_replay",
      (spark, dir) => {
        val fix = ensureFixture(spark, dir)
        val env = spark.read.format("graft-cdc")
          .option("path", s"$fix/wal_trunc.pgoutput")
          .option("walFormat", "pgoutput")
          .option("numPartitions", "8")
          .load()
        val floors = env.filter(col("op") === "t")
          .groupBy(col("table")).agg(max("lsn").as("trunc_lsn"))
        val compacted = env.filter(col("op") =!= "t")
          .withColumn("id", coalesce(element_at(col("after"), "id"),
            element_at(col("before"), "id")).cast("long"))
          .groupBy(col("table"), col("id"))
          .agg(max_by(struct(col("lsn"), col("op"),
            element_at(col("after"), "event_type").as("et")),
            col("lsn")).as("last"))
        compacted.join(broadcast(floors), Seq("table"), "left")
          .filter(col("last.op") =!= "d" &&
            (col("trunc_lsn").isNull || col("last.lsn") > col("trunc_lsn")))
          .select(col("id"), col("last.lsn").as("last_lsn"),
            col("last.et").as("last_event_type"))
          .orderBy("id")
      },
      Some(envCte +
        """
          |, b AS (SELECT min(event_id)
          |               + (98 * (max(event_id) - min(event_id))) // 100
          |               AS mid
          |        FROM events)
          |, latest AS (
          |  SELECT user_id, lsn, op, after_event_type,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY lsn DESC) AS rn
          |  FROM env)
          |SELECT CAST(user_id AS BIGINT) AS id, lsn AS last_lsn,
          |       after_event_type AS last_event_type
          |FROM latest CROSS JOIN b
          |WHERE rn = 1 AND op != 'd' AND lsn >= b.mid
          |ORDER BY id""".stripMargin)),

    // st1 — the flagship pipeline run AS A STREAM and graded by the
    // DuckDB oracle: the WAL fixture replayed through the DSv2 source
    // with admission control forcing multiple micro-batches, compacted
    // by the stateful flatMapGroupsWithState operator, each batch's
    // per-key final state PK-upserted through the K2 writer (ledger
    // claims keyed by batchId = exactly-once under replay). The graded
    // output is t5's semantics — live count per event_type — computed
    // by real micro-batch execution end to end, closing the loop the
    // batch twins (t5, cdc2) grade only statically. Driver-side
    // materialization at the END is the grading seam only: per-batch
    // writes go through foreachPartition/executeBatch (no driver
    // funnel), and the same writer is live-graded against a real
    // Postgres in PgLiveReplicationSpec.
    QueryDef("st1_stream_changelog_count", (spark, dir) => {
      import spark.implicits._
      val fix = ensureFixture(spark, dir)
      val sink = StreamRun(spark, "st1") { run =>
        implicit val s: SparkSession = run.session(Seq(s"$fix/wal.jsonl"))
        val sink = Sinks.MemoryDb.table(run.id, "live_keys")
        val writer = new Sinks.UpsertWriter("live_keys", "key",
          Seq("key", "alive", "event_type"), runId = run.id)
        val factory = Sinks.MemoryDb.factory(run.id)
        run.drain(Changelog.compact(walStream(s, fix).as[CdcEnvelope])
          .writeStream
          .outputMode("update")
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[CompactionDelta],
                batchId: Long) =>
              writer.writeBatch(batch.select(col("key"), col("alive"),
                try_element_at(col("image"), lit("event_type"))
                  .as("event_type")), factory, batchId)
          })
        sink
      }
      // Grading seam: fold the sink's per-key state straight to the
      // |groups|-row aggregate in one driver pass. Building a |keys|-row
      // LocalRelation first (the old Seq.toDF → groupBy) encodes every
      // key into the plan driver-side and was the ONLY superlinear term
      // in the r8 scale curve (14.5× at 10× data; the streaming run
      // itself scales like st2's 1.8×). In production these counts live
      // in the JDBC table and are read back as |groups| rows — this
      // fold is the MemoryDb stand-in for that query.
      val counts = new scala.collection.mutable.HashMap[String, Long]()
      sink.snapshot.values.foreach { r =>
        if (r("alive") == true) {
          val et = r("event_type").toString
          counts.update(et, counts.getOrElse(et, 0L) + 1L)
        }
      }
      counts.toSeq.toDF("event_type", "live_users")
        .select(col("event_type"),
          col("live_users").cast("bigint").as("live_users"))
        .orderBy("event_type")
    }, Some(liveUsersOracle)),

    // st2 — incremental view maintenance beyond counts: a continuous
    // per-group SUM/COUNT/AVG over the changelog, run as real micro-
    // batches through [[graft.cdc.Changelog.compactValue]]. The value
    // (lsn % 997, micro-units) CHANGES on every update and the grouping
    // field (event_type) MOVES across a user's events, so the two deltas
    // plain count-IVM never exercises are both load-bearing here: an
    // update retracts its previous value (new − old telescopes within a
    // micro-batch), a group move retracts from the old group and adds to
    // the new, and a delete subtracts the value recorded in state — the
    // delete envelope itself carries neither group nor value. Each
    // micro-batch pre-aggregates its deltas per group (|groups| rows,
    // not |keys|, cross the sink boundary) and additively upserts
    // through the ledgered K2 writer (exactly-once under replay). The
    // oracle computes the same aggregate statically from latest-per-user.
    QueryDef("st2_stream_changelog_sum", (spark, dir) => {
      val fix = ensureFixture(spark, dir)
      liveSums(spark, StreamRun(spark, "st2") { run =>
        implicit val s: SparkSession = run.session(Seq(s"$fix/wal.jsonl"))
        val (sink, writeSums) = liveSumsSink(run)
        run.drain(liveSumDeltas(walStream(s, fix)).writeStream
          .outputMode("update")
          .foreachBatch(writeSums))
        sink
      })
    }, Some(liveSumsOracle)),

    // st3 — CRASH RECOVERY graded end to end: st2's continuous SUM/AVG
    // pipeline, but the first query execution is killed by an injected
    // failure AFTER batch 0's sink transaction lands and BEFORE the batch
    // reaches the checkpoint's commit log. A second execution resumes from
    // the same checkpoint: Structured Streaming sees offsets logged for
    // batch 0 but no commit, replays exactly that batch, then processes
    // the remaining admission-controlled batches. Two recovery claims the
    // specs could only assert (StreamRecoverySpec) become ORACLE-graded:
    //   (a) offset resume — a restart that rescanned from LSN 0 instead
    //       of replaying the uncommitted batch would land the backlog
    //       under NEW batchIds with no ledger claims, double-counting
    //       every additive sum;
    //   (b) the K2 writer's exactly-once ledger — replayed batch 0's
    //       claims were recorded atomically with the crashed run's data
    //       transaction, so its rows apply exactly once across the crash.
    // Grading uses st2's ADDITIVE aggregate precisely because last-write
    // upserts are naturally idempotent and would mask both failure modes;
    // with additive sums any double-apply or gap breaks the DuckDB
    // oracle (same oracle text as st2).
    QueryDef("st3_stream_crash_recovery", (spark, dir) => {
      val fix = ensureFixture(spark, dir)
      liveSums(spark, StreamRun(spark, "st3") { run =>
        implicit val s: SparkSession = run.session(Seq(s"$fix/wal.jsonl"))
        // Same runId both runs: ledger claims are keyed (runId, batchId,
        // partitionId), and the replayed batch must MATCH the crashed
        // run's claims to be recognized as already applied.
        val (sink, writeSums) = liveSumsSink(run)
        // Shared across both executions: the first foreachBatch invocation
        // flips it and dies; the replay of the same batch in run 2 finds it
        // set and proceeds normally.
        val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
        def start(inject: Boolean) = run.start(
          liveSumDeltas(walStream(s, fix)).writeStream
            .outputMode("update")
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[graft.cdc.ValueDelta],
                  batchId: Long) =>
                writeSums(batch, batchId)
                if (inject && crashed.compareAndSet(false, true))
                  throw new RuntimeException(
                    "st3: injected crash after batch write, before commit")
            })
        val q1 = start(inject = true)
        try q1.processAllAvailable() catch { case _: Throwable => () }
        try q1.stop() catch { case _: Throwable => () }
        // The entry's whole point is that execution spans a failure; if
        // the injection never fired (e.g. a future refactor drops the
        // batch), fail LOUDLY rather than grade a plain st2 rerun as
        // recovery.
        require(q1.exception.isDefined, "st3: crash injection did not fire")
        run.stop(start(inject = false))
        sink
      })
    }, Some(liveSumsOracle)),

    // iv2 — iv1's interval-join semantics executed as a REAL watermarked
    // stream-stream LEFT OUTER join (the capability StreamJoinSpec could
    // only spec-pin): error and click events replay as two file streams,
    // one time-tertile chunk per micro-batch, joined with zero-delay
    // watermarks on both sides and the 5-minute band as the state-bounding
    // time constraint. The two hard parts of streaming outer joins are
    // both load-bearing and graded:
    //   - bounded state: the band constraint lets Spark evict each side's
    //     state as the watermark passes (at 100 TB/day the join would
    //     otherwise hold the full history of both streams);
    //   - end-of-stream flush: unmatched left rows are only emitted when
    //     the watermark proves no future match can arrive, so a far-future
    //     sentinel batch advances the watermark and one further batch
    //     drains the evictions (sentinel rows carry negative ids and are
    //     filtered from the output).
    // The joined rows stream into a memory sink in append mode; the final
    // per-error aggregate is computed in batch over that sink — the same
    // grading seam st1/st2 use. Oracle = iv1's SQL verbatim, so the
    // streaming execution must bit-match the batch twin.
    QueryDef("iv2_stream_interval_join", (spark, dir) => {
      val fix = ensureIvFixture(spark, dir)
      StreamRun(spark, "iv2") { run =>
        val in = ivReplay(run, fix)
        // Size shuffle partitions to the STATE, not the session default: a
        // stream-stream join commits four state stores per partition per
        // side per trigger, so 32 partitions × 5 triggers is pure commit
        // overhead on this fixture's state (16.4s → ~4s measured round 8;
        // round 13 profiling: 8 → 4 is another ~25% — the cost is
        // state-store COMMITS per trigger, not state volume, and larger
        // batches measured WORSE because outer-join state grows before
        // eviction). Round 15: the count DERIVES from the replayed input
        // volume ([[StreamRun.statePartitionsFor]] — fixture chunks land
        // at the low end, deployment volume derives thousands).
        val q = run.start(run.toMemory(
          ivJoin(run.session(Seq(in)), in), "append"))
        q.processAllAvailable()
        // Flush batch: sentinel1's watermark advance evicts the remaining
        // outer state, but evictions are only EMITTED while a batch runs.
        ivFlush(run, fix)
        run.stop(q)
        ivGrade(run.memoryRows)
      }
    }, Some(ivOracle)),

    // sc1 — SCD Type-2 history materialization: the changelog consumer
    // the latest-only views (s3, cdc2) cannot serve. Every c/u envelope
    // opens a version at its LSN, the key's next change (deletes
    // included) closes it, the open tail is is_current. One hash
    // exchange on the key + a per-partition sort window — compaction's
    // cost class. Envelopes come through the DSv2 source (the cdc1
    // path), so the grade covers source → history end to end.
    QueryDef("sc1_scd2_history", (spark, dir) => {
      import spark.implicits._
      val fix = ensureFixture(spark, dir)
      val env = readWal(spark, fix, "jsonl").drop("mode").as[CdcEnvelope]
      Changelog.scd2(env)
        .select(col("key_id").cast("bigint").as("id"),
          col("valid_from_lsn"), col("valid_to_lsn"), col("is_current"),
          element_at(col("after"), "event_type").as("event_type"))
        .orderBy("id", "valid_from_lsn")
    }, Some(scd2Oracle)),

    // sc2 — point-in-time lookup against the SCD2 history: for each
    // probe (an error event's LSN), the version of that user valid AT
    // that LSN — the "what did the dimension look like when this fact
    // happened" join every warehouse asks of CDC history. Equi-join on
    // the key with the validity interval as residual (iv1's plan
    // shape: one exchange, no pair blow-up beyond a key's own version
    // chain); probes whose key was deleted before the probe LSN (or
    // never existed) come back null via the left join. Composes sc1's
    // operator with the probe relation — graded end to end.
    QueryDef("sc2_pit_lookup", (spark, dir) => {
      import spark.implicits._
      graft.Tables.registerAll(spark, dir)
      val fix = ensureFixture(spark, dir)
      val env = readWal(spark, fix, "jsonl").drop("mode").as[CdcEnvelope]
      val hist = Changelog.scd2(env)
        .select(col("key_id").cast("bigint").as("h_id"),
          col("valid_from_lsn"), col("valid_to_lsn"),
          element_at(col("after"), "event_type").as("event_type_at"))
      val probes = spark.table("events")
        .filter(col("event_type") === "error")
        .select(col("event_id").as("probe_lsn"), col("user_id"))
      probes.join(hist,
          col("user_id") === col("h_id") &&
            col("valid_from_lsn") <= col("probe_lsn") &&
            (col("valid_to_lsn").isNull ||
              col("probe_lsn") < col("valid_to_lsn")),
          "left")
        .select(col("probe_lsn"), col("user_id"),
          col("valid_from_lsn").as("version_lsn"), col("event_type_at"))
        .orderBy("probe_lsn")
    }, Some(pitOracle)),

    // pb1 — the reference's two-pipeline topology WITH the broker hop,
    // oracle-graded (PgLiveReplicationSpec runs it live; this puts it in
    // the gate): pipeline A streams envelopes through the DSv2 source
    // and WRITES the keyed JSON frame through the `graft-topic`
    // streaming sink (epoch-idempotent commit — the Pulsar hop);
    // pipeline B READS the topic back as a batch source, decodes the
    // JSON wire values, compacts latest-per-key by LSN (deletes drop
    // the key), and counts live users per event_type. The grade spans
    // produce → broker → consume → compact → aggregate; a wire-format
    // mismatch, a lost/duplicated epoch, or a compaction bug all break
    // the same t5-shaped oracle.
    QueryDef("pb1_pipeline_b_topic_hop", (spark, dir) => {
      val fix = ensureFixture(spark, dir)
      val topic = StreamRun(spark, "pb1") { run =>
        run.drain(topicFrame(walStream(run.session(), fix)).writeStream
          .format("graft-topic").option("topic", run.id))
        run.id
      }
      // Pipeline B: consume the topic, decode the wire JSON, compact,
      // count — the upsert-source semantics of the reference's SQL job.
      val msgs = spark.read.format("graft-topic")
        .option("topic", topic).load()
      val parsed = msgs.select(col("key"), from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "lsn BIGINT, op STRING, id STRING, event_type STRING")).as("v"))
        .select(col("key"), col("v.lsn").as("lsn"), col("v.op").as("op"),
          col("v.event_type").as("event_type"))
      parsed.groupBy("key")
        .agg(max_by(struct(col("op"), col("event_type")), col("lsn"))
          .as("last"))
        .select(col("last.op").as("op"),
          col("last.event_type").as("event_type"))
        .filter(col("op") =!= "d")
        .groupBy("event_type")
        .agg(count(lit(1)).cast("bigint").as("live_users"))
        .orderBy("event_type")
    }, Some(liveUsersOracle)),

    // st17 — K1 TOPIC-SINK exactly-once across a RESTART, oracle-graded
    // (st3's ledger claim, for the graft-topic epoch-idempotent commit
    // instead of the K2 JDBC ledger). pb1's Pipeline-A keyed-JSON
    // produce runs to completion, then the checkpoint's LAST commit-log
    // entry is deleted — byte-for-byte the on-disk state of a driver
    // that crashed AFTER the sink's epoch commit landed in the broker
    // and BEFORE the commit log advanced. The restarted query sees
    // offsets logged but no commit, REPLAYS that epoch into the sink,
    // and TopicStore.commit drops the duplicate (queryId, epochId) pair
    // — the broker-side idempotent-producer analog (the broker, like a
    // real one, outlives the driver). The grade is deliberately
    // ADDITIVE: per-(op, event_type) counts over EVERY message in the
    // topic, so a double-landed epoch inflates exactly the replayed
    // slice and breaks the hash; a last-write-wins readback would mask
    // it. Loud guards pin that the deleted commit existed and that the
    // second run really replayed that epoch (not resumed past it).
    // The oracle's `event_id > 0` mirrors the source's offset
    // convention, not a filter in the pipeline: streaming offsets are
    // exclusive-start from LSN 0 (as in Postgres, where 0/0 is the
    // invalid LSN), so the fixture's lsn-0 record is by definition
    // before the subscription. The earlier per-key-latest streaming
    // grades (st1-st3, pb1) never see this because lsn 0 is never any
    // key's newest event; an every-message census does.
    QueryDef("st17_topic_exactly_once_restart", (spark, dir) => {
      val fix = ensureFixture(spark, dir)
      val topic = StreamRun(spark, "st17") { run =>
        def produce() = run.drain(topicFrame(walStream(run.session(), fix))
          .writeStream.format("graft-topic").option("topic", run.id))
        produce()
        // amputate the last commit-log entry = crash between sink commit
        // and commit log
        val commitLog = run.dir("ckpt").resolve("commits")
        val commits = commitLog.toFile.listFiles()
          .filter(_.getName.forall(_.isDigit))
        require(commits != null && commits.nonEmpty,
          "st17: no commit-log entries written")
        val last = commits.map(_.getName.toLong).max
        require(commitLog.resolve(last.toString).toFile.delete(),
          s"st17: could not delete commit $last")
        // the checksum sidecar too — a crashed driver wrote neither, and
        // a stale .crc makes ChecksumFs fail the replay's commit rename
        commitLog.resolve(s".$last.crc").toFile.delete()
        val q2 = produce()
        require(q2.recentProgress.exists(_.batchId == last),
          s"st17: restart did not replay epoch $last — harness broken")
        run.id
      }
      val msgs = spark.read.format("graft-topic")
        .option("topic", topic).load()
      msgs.select(from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "lsn BIGINT, op STRING, id STRING, event_type STRING")).as("v"))
        .select(col("v.op").as("op"),
          coalesce(col("v.event_type"), lit("")).as("event_type"))
        .groupBy("op", "event_type")
        .agg(count(lit(1)).cast("bigint").as("n_msgs"))
        .orderBy("op", "event_type")
    }, Some(
      """SELECT CASE WHEN event_id % 7 = 0 THEN 'd'
        |            WHEN event_type = 'signup' THEN 'c'
        |            ELSE 'u' END AS op,
        |       CASE WHEN event_id % 7 = 0 THEN ''
        |            ELSE event_type END AS event_type,
        |       CAST(count(*) AS BIGINT) AS n_msgs
        |FROM events
        |WHERE event_id > 0  -- LSN 0 = exclusive stream start
        |GROUP BY 1, 2 ORDER BY op, event_type""".stripMargin)),

    // st18 — STREAM-STATIC enrichment join: the one Structured
    // Streaming join family not yet graded as its own entry (iv2/iv3
    // are stateful stream-stream; st13 is a custom stateful join-view;
    // this is the STATELESS per-batch broadcast of a static dimension
    // — the canonical cheap-dim enrichment, re-planned inside every
    // micro-batch's IncrementalExecution with no state store at all).
    // The events table replays as three JSONL chunk files
    // (maxFilesPerTrigger=1 → one real micro-batch per chunk; the
    // fixture is written by SPARK, not a driver collect — only a
    // one-file rename happens driver-side), LEFT-joined against the
    // customer dim restricted to c_custkey < 100 so users 100–149
    // genuinely exercise the unmatched path (segment 'NONE'). Each
    // batch lands through the K2 upsert writer keyed by event_id
    // (ledger claims = exactly-once under replay). Oracle: the same
    // left join computed statically by DuckDB.
    QueryDef("st18_stream_static_enrich", (spark, dir) => {
      val chunks = enrichChunks(spark, dir, "st18")
      val sink = StreamRun(spark, "st18") { run =>
        val s = run.session()
        val sink = Sinks.MemoryDb.table(run.id, "enriched")
        val writer = new Sinks.UpsertWriter("enriched", "event_id",
          Seq("event_id", "user_id", "event_type", "value_cents",
            "segment"), runId = run.id)
        val factory = Sinks.MemoryDb.factory(run.id)
        // Dim side pinned: the broadcast exchange re-executes its child
        // per micro-batch (IncrementalExecution re-plans each trigger), so
        // unpinned the customer parquet scan + filter runs once per batch;
        // a pinned 100-row relation rebuilds the broadcast from
        // block-manager rows instead.
        val dim = Pin(s.table("customer")
          .filter(col("c_custkey") < 100)
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("segment")))
        run.drain(enrichStream(s, chunks)
          .join(broadcast(dim), Seq("user_id"), "left")
          .withColumn("segment", coalesce(col("segment"), lit("NONE")))
          .writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            writer.writeBatch(batch.select(col("event_id"),
              col("user_id"), col("event_type"), col("value_cents"),
              col("segment")), factory, batchId)
          })
        sink
      }
      // Grading seam only (MemoryDb stand-in for the JDBC table the
      // per-batch foreachPartition writer fills in production).
      import spark.implicits._
      sink.snapshot.values.toSeq.map(r =>
        (r("event_id").toString.toLong, r("user_id").toString.toLong,
          r("event_type").toString, r("value_cents").toString.toLong,
          r("segment").toString))
        .toDF("event_id", "user_id", "event_type", "value_cents",
          "segment")
        .orderBy("event_id")
    }, Some(
      """SELECT e.event_id, e.user_id, e.event_type,
        |       CAST(floor(e.value * 100) AS BIGINT) AS value_cents,
        |       COALESCE(d.c_mktsegment, 'NONE') AS segment
        |FROM events e
        |LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer
        |           WHERE c_custkey < 100) d
        |  ON e.user_id = d.c_custkey
        |ORDER BY e.event_id""".stripMargin)),

    // st19 — STREAMING INGEST INTO THE SNAPSHOT TABLE: the lakehouse
    // write path fed by real micro-batches. Each batch lands through
    // [[graft.ops.Layout.appendSnapshot]] — O(batch) data files plus a
    // manifest referencing previous + new (never a table rewrite) —
    // with tag = batchId making the commit IDEMPOTENT (a replayed
    // epoch short-circuits to the already-committed snapshot: the
    // manifest analog of the K1/K2 ledgers). The replay guard is
    // exercised for real after the run: re-appending under batch 0's
    // tag must return snapshot 1 and create nothing. History depth
    // (one snapshot per micro-batch) is loudly pinned; the graded
    // output is the final table read through the manifest chain,
    // against the plain batch oracle.
    QueryDef("st19_stream_snapshot_ingest", (spark, dir) => {
      val chunks = enrichChunks(spark, dir, "st19")
      val table = StreamRun(spark, "st19") { run =>
        val table = run.path("table")
        run.drain(enrichStream(run.session(), chunks).writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            graft.ops.Layout.appendSnapshot(
              batch.select(col("event_id"), col("user_id"),
                col("event_type"), col("value_cents")),
              table, tag = s"b$batchId"): Unit
          })
        table
      }
      val hist = graft.ops.Layout.snapshots(spark, table).count()
      require(hist == 3L,
        s"st19: expected one snapshot per micro-batch (3), got $hist")
      // replay guard, exercised for real: a second append under batch
      // 0's tag must short-circuit to snapshot 1 and commit nothing
      import spark.implicits._
      val replayId = graft.ops.Layout.appendSnapshot(
        Seq((-1L, -1L, "replay", -1L))
          .toDF("event_id", "user_id", "event_type", "value_cents"),
        table, tag = "b0")
      require(replayId == 1,
        s"st19: replayed tag b0 must return snapshot 1, got $replayId")
      val after = graft.ops.Layout.snapshots(spark, table).count()
      require(after == 3L,
        s"st19: replayed append must commit nothing, history went $after")
      graft.ops.Layout.readSnapshot(spark, table).orderBy("event_id")
    }, Some(
      """SELECT event_id, user_id, event_type,
        |       CAST(floor(value * 100) AS BIGINT) AS value_cents
        |FROM events
        |ORDER BY event_id""".stripMargin)),

    // sc3 — STREAMING SCD2: the history table maintained incrementally
    // by real micro-batches (st1's harness). Changelog.scd2Stream emits
    // each version when opened and re-emits it when closed — across
    // batch boundaries when the closure lands later — and a
    // replace-merge PK upsert on (key, validFrom) converges the sink to
    // exactly the batch scd2 table: the foreachBatch pre-aggregate
    // (max(validTo) per version — closed beats open) makes intra-batch
    // open→close pairs order-independent, and replace-merge makes
    // replays idempotent without ledger claims. Oracle = sc1's SQL
    // verbatim: continuous maintenance must equal the rebuild.
    QueryDef("sc3_stream_scd2", (spark, dir) => {
      import spark.implicits._
      val fix = ensureFixture(spark, dir)
      val sink = StreamRun(spark, "sc3") { run =>
        implicit val s: SparkSession = run.session(Seq(s"$fix/wal.jsonl"))
        val sink = Sinks.MemoryDb.table(run.id, "scd2")
        val writer = new Sinks.UpsertWriter("scd2", "vk",
          Seq("vk", "id", "valid_from_lsn", "valid_to_lsn", "event_type"),
          runId = run.id)
        val factory = Sinks.MemoryDb.factory(run.id)
        run.drain(Changelog.scd2Stream(walStream(s, fix).as[CdcEnvelope])
          .writeStream
          .outputMode("update")
          .foreachBatch {
            (batch: Dataset[Changelog.VersionRow], batchId: Long) =>
              val rows = batch
                .select(col("key"), col("validFrom"), col("validTo"),
                  try_element_at(col("image"), lit("id")).as("id"),
                  try_element_at(col("image"), lit("event_type")).as("et"))
                .groupBy("key", "validFrom")
                // closed beats open: max ignores nulls, and a version's
                // closing LSN is unique — intra-batch emission order
                // stops mattering before rows reach the sink
                .agg(max(col("validTo")).as("valid_to_lsn"),
                  max(col("id")).as("id"), max(col("et")).as("event_type"))
              writer.writeBatch(rows.select(
                concat_ws("/", col("key"), col("validFrom")).as("vk"),
                col("id"), col("validFrom").as("valid_from_lsn"),
                col("valid_to_lsn"), col("event_type")), factory, batchId)
          })
        sink
      }
      // Grading seam: the full history is the graded output, so rows
      // are parallelized (not a LocalRelation — the st1 lesson) and
      // typed/ordered in the engine.
      val rows = sink.snapshot.values.iterator.map { r =>
        (r("id").toString.toLong,
          r("valid_from_lsn").toString.toLong,
          Option(r("valid_to_lsn")).map(_.toString.toLong),
          r("event_type").toString)
      }.toSeq
      spark.sparkContext.parallelize(rows, 8)
        .toDF("id", "valid_from_lsn", "valid_to_lsn", "event_type")
        .select(col("id"), col("valid_from_lsn"), col("valid_to_lsn"),
          col("valid_to_lsn").isNull.as("is_current"), col("event_type"))
        .orderBy("id", "valid_from_lsn")
    }, Some(scd2Oracle)),

    // iv3 — JOIN-STATE recovery across a restart (st3 grades aggregate
    // state; this grades the stream-stream join's): iv2's watermarked
    // left-outer join runs to completion on the three real chunk
    // batches and STOPS — with every unmatched error row still held in
    // join state. A SECOND query starts from the same checkpoint, and
    // only then do the flush sentinels arrive: every outer row it emits
    // depends on state built entirely before the restart, so the final
    // union equals iv1's batch oracle only if offsets AND both sides'
    // join state survived the handoff. (Run 1's matched rows are
    // captured before the stop — a memory sink does not outlive its
    // query; a real sink would.)
    QueryDef("iv3_stream_join_recovery", (spark, dir) => {
      val fix = ensureIvFixture(spark, dir)
      // Same per-query state sizing as iv2 (round-13 profile — a
      // stream-stream join commits four state stores per partition per
      // side per trigger, and on fixture-scale state the commit
      // choreography dominates; iv3 additionally reloads every state
      // partition from the checkpoint on its restart leg, so fewer
      // partitions also means fewer restore reads).
      //
      // foreachBatch (checkpoint-recoverable, unlike the memory sink)
      // appends each batch's joined rows to a driver-side buffer — the
      // grading seam; a real deployment's sink would be the K2 writer.
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.Row]()
      val rows = StreamRun(spark, "iv3") { run =>
        val in = ivReplay(run, fix)
        val s = run.session(Seq(in))
        def start() = run.start(ivJoin(s, in).writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.collect().foreach(buf.add)
          })
        run.stop(start())
        val r1 = buf.toArray(Array.empty[org.apache.spark.sql.Row])
        buf.clear()
        // restart from the SAME checkpoint; only now does the flush
        // batch arrive — its outer rows ride restored join state
        ivFlush(run, fix)
        run.stop(start())
        r1 ++ buf.toArray(Array.empty[org.apache.spark.sql.Row])
      }
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "err_id BIGINT, click_ts TIMESTAMP, value DOUBLE")
      ivGrade(spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 8), schema))
    }, Some(ivOracle)),

    // st4 — the streaming exact-dedup operator executed as REAL micro-
    // batches: dropDuplicatesWithinWatermark keyed on the canonical
    // token-set fingerprint over four file-stream batches. Duplicate
    // documents straddle batch boundaries by construction (chunks are
    // doc_id mod 4, dup-group members have unrelated ids), so a
    // correct result REQUIRES first-seen keys to
    // survive trigger boundaries in the state store; the watermark
    // delay spans the fixture's whole event-time range, so no key is
    // evicted mid-run and the kept set is exactly one row per distinct
    // digest — which the oracle computes statically. (Eviction by
    // watermark — the bounded-state half of the operator — is pinned in
    // StreamingWindowSpec, where batch timing is under test control; a
    // gate entry must not depend on WHEN the watermark crosses a key.)
    QueryDef("st4_stream_dedup", (spark, dir) => {
      val fix = ensureDedupFixture(spark, dir)
      StreamRun(spark, "st4") { run =>
        val docs = dedupStream(run, fix,
          "doc_id BIGINT, digest STRING, ts TIMESTAMP")
        run.drain(run.toMemory(graft.ops.Dedup.streamingDedupWithinWatermark(
          docs, "ts", "6 hours", Seq("digest")), "append"))
        run.memoryRows.select(col("digest")).orderBy("digest")
      }
    }, Some(
      """SELECT md5(array_to_string(list_sort(list_distinct(
        |         list_filter(string_split(text, ' '), x -> len(x) > 0))),
        |       ' ')) AS digest
        |FROM documents GROUP BY 1 ORDER BY digest""".stripMargin)),

    // st5 — streaming NEAR-dup dedup (continuous simhash) executed as
    // real micro-batches: banded signatures become keyed state per
    // (band, bucket) through flatMapGroupsWithState, votes aggregate
    // per batch, and survivors accumulate across four file batches.
    // WHICH member of a near-dup family survives depends on within-
    // batch arrival order (inherent to any online dedup), so the grade
    // pins what IS deterministic — the d3x invariant, live: identical
    // token sets hash to identical simhashes and collide in every
    // band's bucket, so no two survivors may share a token set, under
    // ANY arrival order; and each identical-set family keeps at most
    // one member, so |survivors| is bounded by the distinct-set count
    // the oracle computes. Survivors return to the driver only for
    // this bounded invariant fold (|kept| ≤ |docs| fixture rows — the
    // grading seam, same as st1's snapshot; per-batch kept sets are
    // computed distributed by keptFromVotes).
    QueryDef("st5_stream_near_dedup", (spark, dir) => {
      import spark.implicits._
      graft.Tables.registerAll(spark, dir) // simhash64 + documents view
      val fix = ensureDedupFixture(spark, dir)
      val kept = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      StreamRun(spark, "st5") { run =>
        val docs = dedupStream(run, fix)
        implicit val s: SparkSession = run.session()
        val votes = graft.ops.Dedup.streamingSimhashVotes(docs, "doc_id", "text")
        run.drain(votes.toDF().writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            graft.ops.Dedup.keptFromVotes(batch).select("doc_id").collect()
              .foreach(r => kept.add(r.getLong(0)))
          })
      }
      val keptDf = {
        import scala.jdk.CollectionConverters._
        kept.asScala.toSeq.toDF("doc_id")
      }
      val sets = spark.table("documents").select(col("doc_id"),
        md5(expr("array_join(array_sort(array_distinct(filter(" +
          "split(text, ' '), x -> length(x) > 0))), ' ')")).as("setkey"))
      val surv = keptDf.join(sets, "doc_id")
      val nSets = sets.agg(countDistinct("setkey")).head().getLong(0)
      val violations = surv.groupBy("setkey").count()
        .filter(col("count") > 1)
        .agg(coalesce(sum(col("count") - 1), lit(0L)).as("v"))
        .head().getLong(0)
      val keptN = surv.count()
      // kept_nonzero guards the degenerate failure the other two
      // columns cannot see (an operator that drops EVERYTHING — the
      // first row of batch 0 must always admit)
      Seq((nSets, violations, keptN <= nSets, keptN > 0))
        .toDF("n_sets", "violations", "kept_le_sets", "kept_nonzero")
    }, Some(
      """SELECT CAST(count(DISTINCT md5(array_to_string(list_sort(list_distinct(
        |         list_filter(string_split(text, ' '), x -> len(x) > 0))),
        |       ' '))) AS BIGINT) AS n_sets,
        |       CAST(0 AS BIGINT) AS violations,
        |       true AS kept_le_sets,
        |       true AS kept_nonzero
        |FROM documents""".stripMargin)),

    // st6 — continuous heavy hitters (trending tokens) as a REAL
    // streaming aggregation: the Misra–Gries TypedImperativeAggregate
    // runs in complete mode, so its k-counter buffer lives in the
    // STATE STORE and every micro-batch's partials merge into it —
    // the per-stratum monitoring shape, executed by the engine's own
    // streaming-agg machinery rather than foreachBatch bookkeeping.
    // hh1 pins the merge guarantee across partition trees; this pins
    // it across trigger/state merges, which is exactly the claim that
    // lets one summary per executor per batch replace a corpus-scaled
    // word count at 100 TB. The guarantee (every token with freq >
    // n/(k+1) survives merging, ANY merge order) is batching-
    // invariant, so the oracle is hh1's: true heavy hitters from the
    // static corpus, missing pinned at zero.
    QueryDef("st6_stream_heavy_hitters", (spark, dir) => {
      graft.Tables.registerAll(spark, dir) // mg_topk + documents view
      val fix = ensureDedupFixture(spark, dir)
      val sketch = StreamRun(spark, "st6") { run =>
        val words = dedupStream(run, fix)
          .select(explode(expr(
            "filter(split(text, ' '), x -> length(x) > 0)")).as("word"))
        run.drain(run.toMemory(
          words.agg(expr("mg_topk(word, 16)").as("sk")), "complete"))
        run.memoryRows
          .select(explode(col("sk")).as("e"))
          .select(col("e.item").as("word"))
      }
      val tok = spark.table("documents").select(explode(expr(
        "filter(split(text, ' '), x -> length(x) > 0)")).as("word"))
      val trueHh = tok.groupBy("word").agg(count(lit(1)).as("c"))
        .crossJoin(tok.agg(count(lit(1)).as("total")))
        .filter(col("c") * 17 > col("total"))
        .select("word")
      trueHh.agg(count(lit(1)).as("n_true_hh"))
        .crossJoin(trueHh.join(sketch, Seq("word"), "left_anti")
          .agg(count(lit(1)).as("n_missing")))
    }, Some(
      """WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '),
        |                            x -> len(x) > 0)) AS word FROM documents),
        |     t AS (SELECT count(*) AS total FROM tok),
        |     h AS (SELECT word, count(*) AS c FROM tok GROUP BY word)
        |SELECT (SELECT count(*) FROM h, t WHERE c * 17 > total) AS n_true_hh,
        |       CAST(0 AS BIGINT) AS n_missing""".stripMargin)),

    // st9 — CHAINED STATEFUL OPERATORS in one streaming query: exact
    // dedup (cross-batch key state) feeding a tumbling-window count
    // (window state), both on the same watermarked event-time column —
    // the dedup-then-aggregate pipeline every ingestion DAG wants as
    // ONE query instead of two jobs with a materialized middle. Made
    // deterministic by construction: the fixture derives each doc's
    // event time FROM ITS DIGEST, so every member of a duplicate
    // family carries the SAME timestamp and the surviving row's window
    // is fixed no matter which member a batch keeps. Duplicates
    // straddle the four doc_id%4 chunks, so a correct count REQUIRES
    // the dedup state to survive trigger boundaries; the window agg
    // then counts first-occurrences per 10-minute window. Watermark
    // delay (2h) spans the fixture's one-hour range — nothing evicts
    // mid-run — and a far-future sentinel (+4h) closes every window,
    // emitted during the flush batch (iv2's discipline). Oracle:
    // distinct digests bucketed by the same digest-derived window.
    QueryDef("st9_stream_dedup_window", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      import spark.implicits._
      val src = spark.table("documents")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
        .withColumn("ts", timestamp_seconds(lit(1700000000L) +
          expr("conv(substr(digest, 1, 4), 16, 10)").cast("long") % 3600))
      StreamRun(spark, "st9") { run =>
        val in = run.replayFrames("in",
          (0 until 4).map(k => src.filter(col("doc_id") % 4 === k)))
        val counts = run.session(Seq(in)).readStream
          .schema("doc_id BIGINT, digest STRING, ts TIMESTAMP")
          .option("maxFilesPerTrigger", "1")
          .parquet(in)
          .withWatermark("ts", "2 hours")
          .dropDuplicatesWithinWatermark("digest")
          .groupBy(window(col("ts"), "10 minutes"))
          .agg(count(lit(1)).as("n_first_seen"))
        val q = run.start(run.toMemory(counts, "append"))
        q.processAllAvailable()
        // flush: the sentinel's watermark closes all real windows, but
        // evictions only EMIT while a subsequent batch runs
        StreamRun.stamp(StreamRun.writeOnePart(
          Seq((-1L, "zz_sentinel")).toDF("doc_id", "digest")
            .select(col("doc_id"), col("digest"),
              timestamp_seconds(lit(1700000000L + 4L * 3600)).as("ts")),
          Paths.get(in, "sentinel.parquet")), 9)
        run.stop(q)
        run.memoryRows
          .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"), col("n_first_seen"))
          .filter(col("window_start") < "2023-11-15 00:00:00") // drop sentinel
          .orderBy("window_start")
      }
    }, Some(
      """WITH d AS (SELECT DISTINCT md5(text) AS dg FROM documents),
        |  t AS (SELECT dg, 1700000000 +
        |          ('0x' || substr(dg, 1, 4))::BIGINT % 3600 AS sec
        |        FROM d)
        |SELECT strftime(make_timestamp(((sec // 600) * 600) * 1000000),
        |         '%Y-%m-%d %H:%M:%S') AS window_start,
        |       count(*) AS n_first_seen
        |FROM t GROUP BY 1 ORDER BY window_start""".stripMargin)),

    // sc4 — the TEMPORAL join, streaming: facts arrive as a stream and
    // each joins the dimension VERSION valid at its own time (Flink's
    // FOR SYSTEM_TIME AS OF — the flagship join of the CDC world this
    // engine re-expresses). Spark shape: a stream-STATIC left join —
    // the SCD2 history (sc1's operator, frozen once by a
    // pin) broadcasts under each micro-batch, the probe
    // stream joins on the key with the validity interval as residual,
    // stateless (no watermark, no state store: history is bounded by
    // |versions|, facts pass through). Probes split across three
    // files → three real micro-batches; the result must equal the
    // batch PIT lookup bit-for-bit, so it grades on sc2's oracle.
    QueryDef("sc4_stream_temporal_join", (spark, dir) => {
      import spark.implicits._
      graft.Tables.registerAll(spark, dir)
      val fix = ensureFixture(spark, dir)
      StreamRun(spark, "sc4") { run =>
        val s = run.session()
        val env = readWal(s, fix, "jsonl").drop("mode").as[CdcEnvelope]
        // freeze: re-planned, not re-computed, per batch
        val hist = Pin(Changelog.scd2(env)
          .select(col("key_id").cast("bigint").as("h_id"),
            col("valid_from_lsn"), col("valid_to_lsn"),
            element_at(col("after"), "event_type").as("event_type_at")))
        val in = run.path("in")
        s.table("events")
          .filter(col("event_type") === "error")
          .select(col("event_id").as("probe_lsn"), col("user_id"))
          .repartition(3)
          .write.mode("overwrite").parquet(in)
        val probes = s.readStream
          .schema("probe_lsn BIGINT, user_id BIGINT")
          .option("maxFilesPerTrigger", "1")
          .parquet(in)
        val joined = probes.join(broadcast(hist),
          col("user_id") === col("h_id") &&
            col("valid_from_lsn") <= col("probe_lsn") &&
            (col("valid_to_lsn").isNull ||
              col("probe_lsn") < col("valid_to_lsn")),
          "left_outer")
        run.drain(run.toMemory(joined
          .select(col("probe_lsn"), col("user_id"),
            col("valid_from_lsn").as("version_lsn"), col("event_type_at")),
          "append"))
        run.memoryRows.orderBy("probe_lsn")
      }
    }, Some(pitOracle)),

    // st8 — continuous quantiles as a REAL streaming aggregation: the
    // KLL TypedImperativeAggregate in complete mode, its compactor
    // buffer merged across four file triggers by the state store —
    // st6's claim (one summary per executor per batch instead of a
    // corpus-scaled shuffle) for the sketch family's rank member. The
    // KLL merge guarantee is batching-invariant, so the grade is
    // qs1x's: each streamed estimate's TRUE rank over the static
    // corpus must sit within 5%·n of its target rank, violations
    // pinned at zero; the oracle pins the corpus size.
    QueryDef("st8_stream_quantiles", (spark, dir) => {
      graft.Tables.registerAll(spark, dir) // kll_quantiles + documents
      val fix = ensureDedupFixture(spark, dir)
      val kll = StreamRun(spark, "st8") { run =>
        run.drain(run.toMemory(dedupStream(run, fix)
          .select(length(col("text")).cast("double").as("v"))
          .agg(expr("kll_quantiles(v, 512, array(0.1D, 0.5D, 0.9D))")
            .as("kll")), "complete"))
        run.memoryRows
      }
      val probs = Seq(0.1, 0.5, 0.9)
      val corpus = spark.table("documents")
        .select(length(col("text")).cast("double").as("v"))
      val ranked = corpus.crossJoin(broadcast(kll))
      val sums = count(lit(1)).as("n") +: probs.indices.map { i =>
        sum(when(col("v") <= element_at(col("kll"), i + 1), 1L)
          .otherwise(0L)).as(s"kr$i")
      }
      val ranks = ranked.agg(sums.head, sums.tail: _*)
      val viol = probs.zipWithIndex.map { case (p, i) =>
        when(abs(col(s"kr$i") - col("n") * p) > col("n") * 0.05, 1L)
          .otherwise(0L)
      }.reduce(_ + _)
      ranks.select(col("n").as("n_rows"), lit(3L).as("n_probes"),
        viol.as("n_kll_violations"))
    }, Some(
      """SELECT count(*) AS n_rows, CAST(3 AS BIGINT) AS n_probes,
        |       CAST(0 AS BIGINT) AS n_kll_violations
        |FROM documents""".stripMargin)),

    // st10 — continuous DISTINCT COUNT as real micro-batches: per-group
    // KMV sketches as streaming aggregation state (the same
    // TypedImperativeAggregate buffers the batch path partial-aggregates
    // ship — in streaming they persist in the state store and absorb
    // each trigger's rows, bounded at k longs per group FOREVER, where
    // exact streaming distinct would grow state with every new user).
    // Graded bit-exactly: the k-smallest-distinct-hash set is
    // order-insensitive, so the 4-trigger streamed sketch must equal
    // batch kmv_distinct over the same rows EXACTLY, and both sit
    // within KMV's ±20% of true distinct. The streamed value is the
    // live "distinct users per event type" dashboard every ingestion
    // pipeline wants without a daily re-scan.
    QueryDef("st10_stream_distinct", (spark, dir) => {
      graft.Tables.registerAll(spark, dir) // kmv_* + events view
      val src = spark.table("events")
        .select("event_id", "event_type", "user_id")
      val streamed = StreamRun(spark, "st10") { run =>
        val in = run.replayFrames("in",
          (0 until 4).map(k => src.filter(col("event_id") % 4 === k)))
        run.drain(run.toMemory(run.session(Seq(in)).readStream
          .schema("event_id BIGINT, event_type STRING, user_id BIGINT")
          .option("maxFilesPerTrigger", "1")
          .parquet(in)
          .groupBy("event_type")
          .agg(expr("kmv_sketch(user_id, 256)").as("sk")), "complete"))
        run.memoryRows
          .select(col("event_type"), expr("kmv_value(sk)").as("stream_est"))
      }
      val ev = spark.table("events").select("event_type", "user_id")
      val direct = ev.groupBy("event_type")
        .agg(expr("kmv_distinct(user_id, 256)").as("direct_est"))
      val exact = ev.distinct().groupBy("event_type")
        .agg(count(lit(1)).as("exact"))
      streamed.join(direct, "event_type").join(exact, "event_type")
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("stream_est") =!= col("direct_est"), 1L)
            .otherwise(0L)).as("n_path_mismatch"),
          sum(when(abs(col("stream_est") - col("exact")) / col("exact") > 0.2,
            1L).otherwise(0L)).as("n_error_violations"))
    }, Some(
      """SELECT count(DISTINCT event_type) AS n_groups,
        |       CAST(0 AS BIGINT) AS n_path_mismatch,
        |       CAST(0 AS BIGINT) AS n_error_violations
        |FROM events""".stripMargin)),

    // st11 — STREAMING-MAINTAINED MATERIALIZED VIEW, served by the
    // optimizer: the rollup mv1's rewrite rule answers from is kept
    // fresh BY A STREAM — each micro-batch's complete-mode aggregate
    // state overwrites the rollup parquet in foreachBatch (the standard
    // small-rollup maintenance pattern; complete mode re-emits the full
    // |groups|-row table, so a restart or replay converges to the same
    // file). After the run the entry registers the rollup and returns
    // the SAME aggregate query over the raw chunk files — RewriteToMv
    // serves it from the stream-maintained summary, and the oracle
    // computes the truth from the events table: a wrong trigger, a
    // missed batch, or a wrong rewrite all fail the grade.
    QueryDef("st11_stream_mv_maintenance", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      val src = spark.table("events")
        .select(col("event_id"), col("event_type"),
          col("value").cast("decimal(18,2)").as("value"))
      val (in, mvPath) = StreamRun(spark, "st11") { run =>
        val in = run.replayFrames("in",
          (0 until 4).map(k => src.filter(col("event_id") % 4 === k)))
        val mvPath = run.path("mv")
        run.drain(run.session(Seq(in)).readStream
          .schema("event_id BIGINT, event_type STRING, value DECIMAL(18,2)")
          .option("maxFilesPerTrigger", "1")
          .parquet(in)
          .groupBy("event_type")
          .agg(count(lit(1)).as("__cnt"), sum(col("value")).as("__sum_0"))
          .writeStream.outputMode("complete")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.coalesce(1).write.mode("overwrite").parquet(mvPath)
          })
        (in, mvPath)
      }
      // the chunk files already store DECIMAL(18,2), so SimplifyCasts
      // reduces the query's sum argument to the bare column — register
      // the measure under that key
      graft.plans.MaterializedViews.register(spark, in, mvPath,
        Seq("event_type"), Seq("value"))
      graft.plans.MaterializedViews.install(spark)
      spark.read.parquet(in)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
        .orderBy("event_type")
    }, Some(
      """SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // st7 — gap sessionization as REAL micro-batches: ses1's semantics
    // (a >= 5-minute gap starts a new session) through Spark's native
    // streaming session_window — per-key session state MERGES in the
    // state store as later batches extend open sessions, and append
    // mode only emits a session once the watermark proves no further
    // event can join it. Chunks are time tertiles with shared
    // boundaries (the iv2 discipline), which makes the zero-delay
    // watermark both drop-free AND split-free: a session can only be
    // closed early if watermark >= last_ts + gap, and every next-chunk
    // event has ts >= watermark, so any continuation would be a new
    // session anyway. Sessions straddling chunk boundaries therefore
    // merge correctly across triggers — which is exactly the semantics
    // under test. sentinel1 advances the watermark past all real
    // session ends; evictions only EMIT while a batch runs, so
    // sentinel2 (copied in after the first drain) provides the flush
    // batch. Sentinel rows carry user_id = -1 and are filtered from
    // the graded output; the oracle is ses1's gaps-and-islands SQL.
    QueryDef("st7_stream_sessionize", (spark, dir) => {
      val fix = ensureSesFixture(spark, dir)
      StreamRun(spark, "st7") { run =>
        val in = run.replay("in", Seq("chunk-0", "chunk-1", "chunk-2",
          "sentinel1").map(f => Paths.get(fix, s"$f.parquet")))
        // session-window stores re-merge per-key sessions every commit —
        // the dense-state operator class (see statePartitionsFor)
        val sessions = run.session(Seq(in), density = 4).readStream
          .schema("user_id BIGINT, event_id BIGINT, ts TIMESTAMP")
          .option("maxFilesPerTrigger", "1")
          .parquet(in)
          .withWatermark("ts", "0 seconds")
          .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
          .agg(min("event_id").cast("bigint").as("first_event_id"),
            count(lit(1)).as("n_events"))
        val q = run.start(run.toMemory(sessions, "append"))
        q.processAllAvailable()
        run.replay("in", Seq(Paths.get(fix, "flush", "sentinel2.parquet")),
          first = 9)
        run.stop(q)
        run.memoryRows.filter(col("user_id") >= 0)
          .select("user_id", "first_event_id", "n_events")
          .orderBy("user_id", "first_event_id")
      }
    }, Some(
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN ts - lag(ts) OVER
        |                (PARTITION BY user_id ORDER BY ts, event_id)
        |              >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |     islands AS (
        |  SELECT user_id, event_id,
        |         sum(new_session) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, CAST(min(event_id) AS BIGINT) AS first_event_id,
        |       count(*) AS n_events
        |FROM islands GROUP BY user_id, sid
        |ORDER BY user_id, first_event_id""".stripMargin)),

    // st12 — CONTINUOUS anomaly detection: ts1's exact-integer rolling
    // z-score run as real micro-batches through transformWithState
    // (TimeSeries.streamingAnomalies). State is one ≤20-value ring per
    // user — O(keys × lookback), stream-length-independent — and each
    // point is judged ONCE as it arrives, alerts streaming out within
    // their micro-batch (the property the batch form can't have: at
    // 100 TB/day you cannot re-window history per alert). Time-tertile
    // chunk replay + in-batch event-time sorting reproduce the batch
    // frame order, so the oracle is ts1's VERBATIM — the streaming
    // flags must bit-match the batch window's.
    QueryDef("st12_stream_anomaly", (spark, dir) => {
      import spark.implicits._
      val fix = ensureTsFixture(spark, dir)
      StreamRun(spark, "st12") { run =>
        val in = run.replay("in", Seq("chunk-0", "chunk-1", "chunk-2")
          .map(f => Paths.get(fix, s"$f.parquet")))
        val s = run.session(Seq(in))
        // transformWithState needs the RocksDB provider (column families)
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val pts = s.readStream
          .schema("user_id BIGINT, ts_us BIGINT, event_id BIGINT, v BIGINT")
          .option("maxFilesPerTrigger", "1")
          .parquet(in)
          .as[graft.ops.TimeSeries.TsPoint]
        run.drain(run.toMemory(graft.ops.TimeSeries
          .streamingAnomalies(pts, lookback = 20, minPoints = 10, sigmas = 3),
          "append"))
        run.memoryRows
          .select(col("event_id"), col("user_id"), col("w_cnt"), col("dev"))
          .orderBy("event_id")
      }
    }, Some(
      """WITH s AS (SELECT event_id, user_id, ts,
        |             CAST(floor(value*1000) AS BIGINT) AS v
        |           FROM events),
        |     w AS (SELECT event_id, user_id, v,
        |             count(v) OVER win AS w_cnt,
        |             sum(v)   OVER win AS w_sum,
        |             sum(v*v) OVER win AS s2
        |           FROM s
        |           WINDOW win AS (PARTITION BY user_id
        |             ORDER BY ts, event_id
        |             ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, w_cnt,
        |       CAST(v*w_cnt - w_sum AS BIGINT) AS dev
        |FROM w
        |WHERE w_cnt >= 10
        |  AND (v*w_cnt - w_sum)*(v*w_cnt - w_sum)
        |        > 9*(w_cnt*s2 - w_sum*w_sum)
        |ORDER BY event_id""".stripMargin)),

    // st13 — streaming JOIN-view maintenance as REAL micro-batches: the
    // IVM case the aggregate compactors can't express. Two independent
    // changelogs — facts (per-fact creates, amount revisions, deletes)
    // and a dimension whose cohort attribute CHANGES across rounds and
    // is sometimes deleted — are unioned, co-partitioned by the join
    // key, and maintained by ONE stateful operator (Changelog.joinView)
    // that emits exact additive deltas of cohort → (count, sum): a dim
    // update moves the key's whole live fact mass between cohorts, a
    // dim delete retracts it, fact churn lands on the dim's current
    // image. Because every emission is a delta of the same state
    // functional, the additive K2 upsert is correct under ANY
    // interleaving of the two sources' micro-batches — no lockstep.
    // The oracle computes the joined truth statically from latest-per-
    // key on both derived logs.
    QueryDef("st13_stream_join_view", (spark, dir) => {
      import spark.implicits._
      // Fixture cached per sf dir (ensureFixture's fingerprint
      // discipline): the sf1 scale run caught the uncached form
      // re-collecting the events table and rewriting the 1.2M-line WAL
      // on EVERY bench execution.
      val fix = StreamRun.fixture(spark, "st13", "st13v1", dir, "events") {
          run =>
        graft.Tables.registerAll(spark, dir)
        val rows = spark.table("events")
          .select(col("event_id").cast("long"), col("user_id").cast("long"))
          .orderBy("event_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val maxId = rows.map(_._1).max
        def line(lsn: Long, table: String, op: String,
            before: String, after: String): String =
          envelope(lsn, lsn / 100, lsn * 1000, op, table, before, after)
        // facts: one envelope per event (delete every 7th), plus a later
        // amount REVISION for every 5th live fact — the update path.
        val factLines = rows.flatMap { case (id, uid) =>
          val u = uid % 50
          val base =
            if (id % 7 == 0)
              Seq(2 * id + 1 -> line(2 * id + 1, "facts", "d",
                s"""{"id":"$id","user_ref":"$u"}""", "{}"))
            else Seq(2 * id + 1 -> line(2 * id + 1, "facts", "c", "{}",
              s"""{"id":"$id","user_ref":"$u","amount":"${id % 997}"}"""))
          val rev =
            if (id % 5 == 0 && id % 7 != 0) {
              val lsn = 2 * id + 1 + 2 * (maxId + 1)
              Seq(lsn -> line(lsn, "facts", "u", "{}",
                s"""{"id":"$id","user_ref":"$u","amount":"${(3 * id) % 997}"}"""))
            } else Nil
          base ++ rev
        }.sortBy(_._1).map(_._2)
        // dims: 50 users × 3 rounds; the cohort moves every round, and
        // round 2 DELETES every user with u % 10 == 3 (their facts must
        // leave the view).
        val dimLines = (for (r <- 0 to 2; u <- 0 until 50) yield {
          val lsn = 4 * (maxId + 1) + r * 1000L + 2 * u
          if (r == 2 && u % 10 == 3)
            lsn -> line(lsn, "dims", "d", s"""{"id":"$u"}""", "{}")
          else lsn -> line(lsn, "dims", "u", "{}",
            s"""{"id":"$u","cohort":"c${(u + r) % 4}"}""")
        }).sortBy(_._1).map(_._2)
        Files.write(run.resolve("facts.jsonl"),
          factLines.mkString("\n").getBytes)
        Files.write(run.resolve("facts.count"),
          factLines.size.toString.getBytes)
        Files.write(run.resolve("dims.jsonl"),
          dimLines.mkString("\n").getBytes)
      }
      val factLineCount =
        new String(Files.readAllBytes(Paths.get(fix, "facts.count"))).toInt
      val sink = StreamRun(spark, "st13") { run =>
        implicit val s: SparkSession = run.session(Seq(fix))
        def read(name: String, lines: Int) = s.readStream
          .format("graft-cdc").option("walFormat", "jsonl")
          .option("numPartitions", "8")
          .option("maxEventsPerBatch",
            math.max(50L, (lines + 2) / 3).toString)
          .load(s"$fix/$name").as[CdcEnvelope]
        val envelopes = read("facts.jsonl", factLineCount)
          .unionByName(read("dims.jsonl", 150))
        val sink = Sinks.MemoryDb.table(run.id, "join_view")
        val writer = new Sinks.UpsertWriter("join_view", "cohort",
          Seq("cohort", "n_facts", "sum_micro"),
          additive = Set("n_facts", "sum_micro"), runId = run.id)
        val factory = Sinks.MemoryDb.factory(run.id)
        run.drain(Changelog.joinView(envelopes, dimTable = "dims",
            joinKeyOf = e => if (e.table == "dims") e.image.getOrElse("id", "")
              else e.image.getOrElse("user_ref", ""),
            cohortField = "cohort", valueField = "amount")
          .writeStream
          .outputMode("update")
          .foreachBatch { (batch: Dataset[ValueDelta], batchId: Long) =>
            writer.writeBatch(batch.groupBy(col("group").as("cohort"))
              .agg(sum(col("dCount")).as("n_facts"),
                sum(col("dValueMicro")).as("sum_micro")),
              factory, batchId)
          })
        sink
      }
      sink.snapshot.values.toSeq.map(r =>
        (r("cohort").toString, r("n_facts").toString.toLong,
          r("sum_micro").toString.toLong))
        .filter(_._2 > 0)
        .toDF("cohort", "n_facts", "sum_micro")
        .orderBy("cohort")
    }, Some(st13OracleSql)),

    // st14 — continuous data-quality DRIFT monitor as real
    // micro-batches: each batch's event-type mix is compared against
    // the full-corpus reference mix (broadcast, |types| rows) and the
    // total-variation distance lands in the upsert sink as exact ppm —
    // the alarm feed a curation pipeline watches for "this crawl slice
    // looks nothing like the corpus". Batches are the deterministic
    // time-tertile chunks (st7's fixture discipline; tertile assigned
    // by exact row-count thirds over the (ts, event_id) order and
    // carried IN the fixture, so each trigger is one known tertile).
    // The oracle recomputes per-tertile mixes and the same cleared-
    // denominator TVD statically.
    QueryDef("st14_stream_drift", (spark, dir) => {
      import spark.implicits._
      graft.Tables.registerAll(spark, dir)
      val fix = StreamRun.fixture(spark, "st14", "st14v1", dir, "events") {
          run =>
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("event_id"))
        // exact thirds: t = ((rn - 1) * 3) div n
        val n = spark.table("events").count()
        val tert2 = spark.table("events")
          .select(col("event_id"), col("ts"), col("event_type"))
          .withColumn("__rn", row_number().over(w))
          .withColumn("tertile", expr(s"((__rn - 1) * 3) div $n"))
          .drop("__rn")
        (0 until 3).foreach { k =>
          StreamRun.stamp(StreamRun.writeOnePart(
            tert2.filter(col("tertile") === k),
            run.resolve(s"chunk-$k.parquet")), k)
        }
      }
      // reference mix: |types| rows, computed once, closed over by the
      // per-batch comparison (a broadcast at cluster scale)
      val ref = spark.table("events").groupBy("event_type")
        .agg(count(lit(1)).as("cr")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val nr = ref.values.sum
      val sink = StreamRun(spark, "st14") { run =>
        val sink = Sinks.MemoryDb.table(run.id, "drift")
        val writer = new Sinks.UpsertWriter("drift", "tertile",
          Seq("tertile", "n_events", "tvd_ppm"), runId = run.id)
        val factory = Sinks.MemoryDb.factory(run.id)
        run.drain(run.session(Seq(fix)).readStream
          .schema("event_id BIGINT, ts TIMESTAMP_NTZ, event_type STRING, tertile BIGINT")
          .option("maxFilesPerTrigger", "1")
          .parquet(fix)
          .writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val counts = batch.groupBy("tertile", "event_type")
              .agg(count(lit(1)).as("cb")).collect()
            if (counts.nonEmpty) {
              val tertile = counts.head.getLong(0)
              val nb = counts.map(_.getLong(2)).sum
              // TVD over the union of types, cleared denominators:
              // tvd_ppm = 1e6 * Σ|cb·Nr − cr·Nb| / (2·Nb·Nr)
              val byType = counts.map(r => r.getString(1) -> r.getLong(2)).toMap
              val keys = ref.keySet ++ byType.keySet
              val num = keys.toSeq.map { t =>
                math.abs(byType.getOrElse(t, 0L) * nr -
                  ref.getOrElse(t, 0L) * nb)
              }.sum
              val tvd = 1000000L * num / (2L * nb * nr)
              writer.writeBatch(
                Seq((tertile, nb, tvd)).toDF("tertile", "n_events", "tvd_ppm"),
                factory, batchId)
            }
          })
        sink
      }
      sink.snapshot.values.toSeq.map(r =>
        (r("tertile").toString.toLong, r("n_events").toString.toLong,
          r("tvd_ppm").toString.toLong))
        .toDF("tertile", "n_events", "tvd_ppm")
        .orderBy("tertile")
    }, Some(
      """WITH r AS (SELECT event_id, event_type,
        |             row_number() OVER (ORDER BY ts, event_id) AS rn,
        |             count(*) OVER () AS n
        |           FROM events),
        |     t AS (SELECT event_type, ((rn - 1) * 3) // n AS tertile
        |           FROM r),
        |     cb AS (SELECT tertile, event_type, count(*) AS cb
        |            FROM t GROUP BY 1, 2),
        |     nb AS (SELECT tertile, sum(cb) AS nb FROM cb GROUP BY 1),
        |     cr AS (SELECT event_type, count(*) AS cr FROM events
        |            GROUP BY 1),
        |     nr AS (SELECT count(*) AS nr FROM events),
        |     g AS (SELECT nb.tertile, nb.nb, nr.nr,
        |             sum(abs(coalesce(cb.cb, 0)*nr.nr
        |               - cr.cr*nb.nb)) AS num
        |           FROM nb CROSS JOIN nr
        |           CROSS JOIN cr
        |           LEFT JOIN cb ON cb.tertile = nb.tertile
        |             AND cb.event_type = cr.event_type
        |           GROUP BY 1, 2, 3)
        |SELECT tertile, CAST(nb AS BIGINT) AS n_events,
        |       CAST((1000000*num) // (2*nb*nr) AS BIGINT) AS tvd_ppm
        |FROM g ORDER BY tertile""".stripMargin)),

    // st15 — streaming OBSERVED gate metrics: ob1's in-flight audit
    // counters on a continuous pipeline. The quality gate runs as real
    // micro-batches (st14's tertile-chunk fixture, one file per
    // trigger) with `Dataset.observe` attached to the STREAMING plan —
    // Structured Streaming surfaces the per-batch accumulator values
    // through each StreamingQueryProgress's observedMetrics, so the
    // counters cost zero extra passes AND zero state: this is the
    // mechanism a production gate's monitoring actually uses. The
    // result is the per-chunk (rows seen / kept / kept volume) table
    // read back from the progress events; the oracle recomputes the
    // same counters per tertile statically.
    QueryDef("st15_stream_observed_gate", (spark, dir) => {
      import spark.implicits._
      graft.Tables.registerAll(spark, dir)
      val fix = StreamRun.fixture(spark, "st15", "st15v2", dir, "documents") {
          run =>
        val n = spark.table("documents").count()
        // tertile assignment via the shared range-partition rank
        // ([[graft.ops.Rebalance.globalRowNumber]]) — no unbounded
        // global window, fixture code included (repo invariant)
        val tert = graft.ops.Rebalance.globalRowNumber(
            spark.table("documents")
              .select(col("doc_id"), col("lang"), col("n_chars")),
            Seq(col("doc_id")), "__rn")
          .withColumn("tertile", expr(s"((__rn - 1) * 3) div $n"))
          .drop("__rn")
        (0 until 3).foreach { k =>
          StreamRun.stamp(StreamRun.writeOnePart(
            tert.filter(col("tertile") === k),
            run.resolve(s"chunk-$k.parquet")), k)
        }
      }
      val keep = expr("n_chars BETWEEN 100 AND 20000 AND lang <> ''")
      val q = StreamRun(spark, "st15") { run =>
        run.drain(run.session().readStream
          .schema("doc_id BIGINT, lang STRING, n_chars BIGINT, tertile BIGINT")
          .option("maxFilesPerTrigger", "1")
          .parquet(fix)
          .observe("gate",
            min(col("tertile")).as("tertile"),
            count(lit(1)).as("n_total"),
            sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
            sum(when(keep, col("n_chars"))).as("chars_kept"))
          .filter(keep)
          .writeStream
          .outputMode("append")
          .format("noop"))
      }
      val metrics = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("gate")))
        .filter(r => !r.isNullAt(r.fieldIndex("tertile")))
        .map(r => (r.getAs[Long]("tertile"), r.getAs[Long]("n_total"),
          r.getAs[Long]("n_kept"), r.getAs[Long]("chars_kept")))
      metrics.toDF("tertile", "n_total", "n_kept", "chars_kept")
        .orderBy("tertile")
    }, Some(
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |             row_number() OVER (ORDER BY doc_id) AS rn,
        |             count(*) OVER () AS n
        |           FROM documents),
        |     t AS (SELECT ((rn - 1) * 3) // n AS tertile, lang, n_chars
        |           FROM r)
        |SELECT tertile,
        |       CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(sum(CASE WHEN n_chars BETWEEN 100 AND 20000
        |                 AND lang <> '' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_kept,
        |       CAST(sum(CASE WHEN n_chars BETWEEN 100 AND 20000
        |                 AND lang <> '' THEN n_chars END) AS BIGINT)
        |         AS chars_kept
        |FROM t GROUP BY 1 ORDER BY tertile""".stripMargin)),

    // st20 — tail the SNAPSHOT TABLE as a stream (`format
    // ("graft-snapshot")`, sources/GraftSnapshot.scala): offsets are
    // snapshot ids, each micro-batch reads exactly the file-set diff
    // between two manifests, one input partition per file — the
    // lakehouse consume half of the tt-series' produce half, and the
    // reference's whole topology (tail a changing table into a
    // streaming job, StreamingJob.java:44-62) replayed over the
    // engine's own table format with no broker in between. Graded end
    // to end INCLUDING a restart mid-stream: run 1 consumes the first
    // two appends as two micro-batches (admission control: one
    // snapshot transition per trigger) and stops; the third append
    // lands while the stream is DOWN; run 2 resumes from the
    // checkpointed offset and consumes exactly the third append —
    // nothing re-read, nothing lost. Chunk k (doc_id % 3 = k) is
    // appended as snapshot k+1 and consumed as batch k, so the graded
    // per-row batch id equals doc_id % 3 — predicted statically by the
    // oracle from the raw table.
    QueryDef("st20_snapshot_tail", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val out = StreamRun(spark, "st20") { run =>
        val t = run.path("table")
        val out = run.path("out")
        def append(k: Int): Unit = {
          graft.ops.Layout.appendSnapshot(
            docs.filter(col("doc_id") % 3 === k), t, tag = s"chunk-$k")
          ()
        }
        def tail(): Unit = {
          run.drain(run.session().readStream.format("graft-snapshot")
            .option("maxSnapshotsPerTrigger", "1")
            .load(t)
            .writeStream
            .foreachBatch(appendBatches(out)))
          ()
        }
        append(0); append(1)
        tail()      // snapshots 1, 2 consumed as micro-batches 0, 1
        append(2)   // commits while the stream is down
        tail()      // restart: resumes at offset 2 → batch 2 = chunk 2
        out
      }
      spark.read.parquet(out)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("batch_id"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(doc_id % 3 AS BIGINT) AS batch_id
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // st21 — the lakehouse PRODUCE half as a real DSv2 streaming SINK:
    // `writeStream.format("graft-snapshot")` (sources/GraftSnapshot
    // .scala) — executors stage parquet files in a write-private
    // stage dir the driver commit publishes under data/,
    // each task's commit message carries its manifest line (row count
    // + min/max of statsCol from values already in hand), and the
    // driver assembles ONE manifest per epoch through the same
    // optimistic commit as Layout's API, tagged (queryId, epochId) so
    // epoch replay after a restart is idempotent. st19 proved the
    // foreachBatch + appendSnapshot composition; this grades the
    // declarative sink surface end to end: three doc_id%3 chunks
    // consumed one per trigger → one snapshot per micro-batch (loudly
    // pinned) → read back through the DSv2 SOURCE with a pushed-down
    // range filter served by the stats the SINK recorded — the full
    // produce/consume loop with no Layout call in the data path.
    QueryDef("st21_snapshot_sink", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val t = StreamRun(spark, "st21") { run =>
        val in = run.path("in")
        (0 until 3).foreach { k =>
          docs.filter(col("doc_id") % 3 === k).coalesce(1)
            .write.mode("overwrite").json(s"$in/chunk-$k")
        }
        val t = run.path("table")
        run.drain(run.session().readStream
          .schema(org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, lang STRING, n_chars BIGINT"))
          .option("maxFilesPerTrigger", "1")
          .json(s"$in/chunk-*")
          .filter(col("doc_id").isNotNull)
          .writeStream
          .format("graft-snapshot")
          .option("path", t)
          .option("statsCol", "doc_id"))
        t
      }
      val hist = graft.ops.Layout.snapshots(spark, t).count()
      require(hist == 3L,
        s"st21: expected one snapshot per micro-batch (3), got $hist")
      // consume through the DSv2 source; the pushed-down half-range
      // is served by the stats the sink recorded (plan shape pinned in
      // GraftSnapshotSpec; content graded here, filters residual)
      spark.read.format("graft-snapshot").load(t)
        .filter(col("doc_id") <= maxId / 2)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }, Some(
      """WITH b AS (SELECT max(doc_id) // 2 AS half FROM documents)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents, b WHERE doc_id <= b.half
        |ORDER BY doc_id""".stripMargin)),

    // st22 — STREAMING CHANGE FEED on the snapshot table
    // (`option("readChangeFeed", true)`): instead of reprocessing a
    // rewrite commit's whole image, each micro-batch emits TYPED
    // row-level changes — `_op` ∈ added/changed/removed. Appends
    // synthesize 'added' from their new files (no recording needed);
    // merge and restore commits record their row diff at commit time
    // (Layout.rowDiff — O(touched + delta) for the merge) as change
    // files the manifest references, exactly Delta's CDF shape. One
    // run consumes append → merge → restore as three micro-batches
    // (admission control: one commit per trigger); the oracle
    // predicts every (doc_id, op, batch_id, n_chars) row statically —
    // including the restore batch being the INVERSE of the merge
    // (deletes come back as 'added', updates revert as 'changed',
    // inserts leave as 'removed'). tt3 graded the batch CDF surface;
    // this grades the streaming one plus commit-time recording.
    QueryDef("st22_change_feed_stream", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val out = StreamRun(spark, "st22") { run =>
        val t = run.path("table")
        val out = run.path("out")
        graft.ops.Layout.appendSnapshot(docs, t)          // snapshot 1
        graft.ops.Layout.mergeSnapshot(spark, t, docChanges(docs), "doc_id",
          "op", changeFeed = true)                        // snapshot 2
        graft.ops.Layout.restoreSnapshot(spark, t, 1,
          changeFeedKey = "doc_id")                       // snapshot 3
        run.drain(run.session().readStream.format("graft-snapshot")
          .option("readChangeFeed", "true")
          .option("maxSnapshotsPerTrigger", "1")
          .load(t)
          .writeStream
          .foreachBatch(appendBatches(out)))
        out
      }
      spark.read.parquet(out)
        .select(col("doc_id"), col("_op").as("op"),
          col("batch_id"), col("n_chars"))
        .orderBy("doc_id", "batch_id")
    }, Some(
      """SELECT doc_id, op, CAST(batch_id AS BIGINT) AS batch_id,
        |       CAST(n_chars AS BIGINT) AS n_chars FROM (
        |  SELECT doc_id, 'added' AS op, 0 AS batch_id, n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'removed', 1, n_chars FROM documents
        |  WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, 'changed', 1, n_chars + 1000 FROM documents
        |  WHERE doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'added', 1, n_chars FROM documents
        |  WHERE doc_id % 10 = 2
        |  UNION ALL
        |  SELECT doc_id, 'added', 2, n_chars FROM documents
        |  WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, 'changed', 2, n_chars FROM documents
        |  WHERE doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'removed', 2, n_chars
        |  FROM documents WHERE doc_id % 10 = 2)
        |ORDER BY doc_id, batch_id""".stripMargin)),

    // st24 — PLAIN snapshot tailing BY CATALOG NAME (round 13): the
    // st20 topology (inserts consumed as one micro-batch per commit)
    // with zero path addressing — `spark.readStream.table("g.db.t")`
    // resolves through GraftCatalog to the same MicroBatchStream the
    // path-based source serves, with startingSnapshot/admission
    // options as reader options. The window starts after the CREATE
    // commit, so batch k is exactly insert k — per-row batch ids are
    // oracle-predicted.
    QueryDef("st24_snapshot_tail_by_name", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      val out = StreamRun(spark, "st24") { run =>
        val s = run.catalogSession("gst24")
        s.sql(
          """CREATE TABLE gst24.db.docs
            |  (doc_id BIGINT, n_chars BIGINT)
            |USING `graft-snapshot`""".stripMargin)      // snapshot 1
        (0 until 3).foreach { k =>
          s.sql(
            s"""INSERT INTO gst24.db.docs
               |SELECT doc_id, CAST(n_chars AS BIGINT)
               |FROM documents WHERE doc_id % 3 = $k""".stripMargin)
        }                                                // snapshots 2-4
        val out = run.path("out")
        run.drain(s.readStream
          .option("startingSnapshot", "1")
          .option("maxSnapshotsPerTrigger", "1")
          .table("gst24.db.docs")
          .writeStream
          .foreachBatch(appendBatches(out)))
        out
      }
      spark.read.parquet(out)
        .select(col("doc_id"), col("n_chars"), col("batch_id"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(doc_id % 3 AS BIGINT) AS batch_id
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // st25 — MID-STREAM RENAME made LOUD (round 14): a running
    // stream's output schema is fixed at start, so a RENAME of a
    // column it emits cannot surface in-flight — resolving the old
    // logical name against files storing physical names would
    // silently null-fill from the rename on. The stream now FAILS
    // with a restart instruction at the first batch whose end
    // snapshot lacks the column ([[graft.sources
    // .SnapshotMicroBatchStream]] planInputPartitions); a restarted
    // query resumes from the SAME checkpoint under the new name.
    // Choreography: phase-1 stream consumes chunk 0 under the old
    // name, the rename + chunk-1 insert land, the stream dies loudly
    // (failed_loudly=1 pinned — flips to 0 if the failure regresses
    // to silent null-fill), and the phase-2 restart drains the rest
    // under the new name. Batch attribution is oracle-predicted:
    // doc_id%2=0 → phase 1, doc_id%2=1 → phase 2.
    QueryDef("st25_rename_mid_stream", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      val (out, failedLoudly) = StreamRun(spark, "st25") { run =>
        val s = run.catalogSession("gst25")
        s.sql(
          """CREATE TABLE gst25.db.docs
            |  (doc_id BIGINT, n_chars BIGINT)
            |USING `graft-snapshot`""".stripMargin)      // snapshot 1
        s.sql(
          """INSERT INTO gst25.db.docs
            |SELECT doc_id, CAST(n_chars AS BIGINT)
            |FROM documents WHERE doc_id % 2 = 0""".stripMargin) // 2
        val out = run.path("out")
        def start(phase: Long) = run.start(s.readStream
          .option("startingSnapshot", "1")
          .option("maxSnapshotsPerTrigger", "1")
          .table("gst25.db.docs")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.toDF("doc_id", "chars") // normalize either name
              .withColumn("phase", lit(phase))
              .write.mode("append").parquet(out)
          })
        val q1 = start(1L)
        q1.processAllAvailable() // chunk 0 consumed under the old name
        s.sql("ALTER TABLE gst25.db.docs RENAME COLUMN n_chars TO chars")
        s.sql(
          """INSERT INTO gst25.db.docs
            |SELECT doc_id, CAST(n_chars AS BIGINT) AS chars
            |FROM documents WHERE doc_id % 2 = 1""".stripMargin) // 4
        // the running stream must die LOUDLY naming the column, never
        // silently null-fill
        val failedLoudly =
          try { q1.processAllAvailable(); 0L }
          catch {
            case e: Throwable =>
              def msgs(t: Throwable): Seq[String] =
                if (t == null) Nil
                else Option(t.getMessage).toSeq ++ msgs(t.getCause)
              if (msgs(e).exists(_.contains("renamed or dropped " +
                "mid-stream"))) 1L else throw e
          }
          finally { try q1.stop() catch { case _: Throwable => () } }
        // restart: same checkpoint, new logical schema — drains the
        // remaining commits under the new name
        run.stop(start(2L))
        (out, failedLoudly)
      }
      spark.read.parquet(out)
        .select(col("doc_id"), col("chars"), col("phase"),
          lit(failedLoudly).as("failed_loudly"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS chars,
        |       CAST(1 + doc_id % 2 AS BIGINT) AS phase,
        |       CAST(1 AS BIGINT) AS failed_loudly
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // st23 — the CHANGE FEED addressed BY CATALOG NAME (round 13):
    // `spark.readStream.table("gst23.db.docs.changes")` resolves
    // through GraftCatalog to the change-feed relation, with the
    // startingSnapshot WINDOW and admission control as plain reader
    // options — st22's semantics with zero path addressing (Delta's
    // readChangeFeed-through-the-catalog shape). The window starts at
    // the insert commit (snapshot 2), so the initial image is
    // SKIPPED: batch 0 is exactly the merge's recorded row diff and
    // batch 1 the restore's inverse — both oracle-predicted.
    QueryDef("st23_change_feed_by_name", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      val out = StreamRun(spark, "st23") { run =>
        val s = run.catalogSession("gst23")
        s.sql(
          """CREATE TABLE gst23.db.docs
            |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
            |USING `graft-snapshot`""".stripMargin)      // snapshot 1
        s.sql(
          """INSERT INTO gst23.db.docs
            |SELECT doc_id, lang, CAST(n_chars AS BIGINT)
            |FROM documents""".stripMargin)              // snapshot 2
        val docs = spark.table("documents").select(col("doc_id"),
          col("lang"), col("n_chars").cast("bigint").as("n_chars"))
        val t = s"${run.path("wh")}/db/docs"
        graft.ops.Layout.mergeSnapshot(spark, t, docChanges(docs), "doc_id",
          "op", changeFeed = true)                       // snapshot 3
        graft.ops.Layout.restoreSnapshot(spark, t, 2,
          changeFeedKey = "doc_id")                      // snapshot 4
        val out = run.path("out")
        run.drain(s.readStream
          .option("readChangeFeed", "true") // redundant (forced) — doc
          .option("startingSnapshot", "2")
          .option("maxSnapshotsPerTrigger", "1")
          .table("gst23.db.docs.changes")
          .writeStream
          .foreachBatch(appendBatches(out)))
        out
      }
      spark.read.parquet(out)
        .select(col("doc_id"), col("_op").as("op"),
          col("batch_id"), col("n_chars"))
        .orderBy("doc_id", "batch_id")
    }, Some(
      """SELECT doc_id, op, CAST(batch_id AS BIGINT) AS batch_id,
        |       CAST(n_chars AS BIGINT) AS n_chars FROM (
        |  SELECT doc_id, 'removed' AS op, 0 AS batch_id, n_chars
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, 'changed', 0, n_chars + 1000 FROM documents
        |  WHERE doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'added', 0, n_chars FROM documents
        |  WHERE doc_id % 10 = 2
        |  UNION ALL
        |  SELECT doc_id, 'added', 1, n_chars FROM documents
        |  WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, 'changed', 1, n_chars FROM documents
        |  WHERE doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'removed', 1, n_chars
        |  FROM documents WHERE doc_id % 10 = 2)
        |ORDER BY doc_id, batch_id""".stripMargin))
  )

  private def st13OracleSql: String =
      """WITH f AS (SELECT event_id AS id, user_id % 50 AS u,
        |             CASE WHEN event_id % 7 = 0 THEN 'd' ELSE 'x' END AS op,
        |             CASE WHEN event_id % 5 = 0 AND event_id % 7 <> 0
        |                  THEN (3*event_id) % 997
        |                  ELSE event_id % 997 END AS v
        |           FROM events),
        |     lf AS (SELECT * FROM f WHERE op <> 'd'),
        |     d AS (SELECT u, r,
        |             CASE WHEN r = 2 AND u % 10 = 3 THEN 'd' ELSE 'u' END AS op,
        |             'c' || CAST((u + r) % 4 AS VARCHAR) AS cohort
        |           FROM generate_series(0, 49) AS s(u),
        |                generate_series(0, 2) AS t(r)),
        |     ld AS (SELECT u, cohort FROM (
        |              SELECT *, row_number() OVER (PARTITION BY u
        |                ORDER BY r DESC) AS rn FROM d)
        |            WHERE rn = 1 AND op <> 'd')
        |SELECT cohort, CAST(count(*) AS BIGINT) AS n_facts,
        |       CAST(sum(v) AS BIGINT) AS sum_micro
        |FROM lf JOIN ld ON lf.u = ld.u
        |GROUP BY 1 ORDER BY cohort""".stripMargin

  /** Writes the streaming-sessionization fixture once per sf dir: the
    * events table as (user_id, event_id, ts) in three TIME-TERTILE
    * parquet chunks (iv2's boundary discipline — chunk k's rows all
    * precede chunk k+1's, so replaying oldest-first never produces a
    * row behind the zero-delay watermark) plus two far-future
    * sentinels: sentinel1 (max + 1h, replayed after the chunks) pushes
    * the watermark past every real session end, sentinel2 (max + 2h,
    * in the `flush` side dir) drives the batch during which those
    * evictions are actually emitted. Sentinel rows: user_id = -1. */
  def ensureSesFixture(spark: SparkSession, sfDir: String): String =
    StreamRun.fixture(spark, "st7", "st7v1", sfDir, "events") { build =>
      graft.Tables.registerAll(spark, sfDir)
      // NTZ→LTZ cast is value-preserving under the session's UTC zone
      // (the iv2 note); streaming watermarks require LTZ event time.
      val ev = spark.table("events")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").as("ts"))
      val bounds = ev.select(expr(
        "percentile_approx(unix_micros(ts), array(0.333, 0.667), 1000)"))
        .head().getSeq[Long](0)
      val maxMicros = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      def writeOne(df: DataFrame, name: String): Unit =
        StreamRun.writeOnePart(df, build.resolve(s"$name.parquet"))
      val t = unix_micros(col("ts"))
      writeOne(ev.filter(t < bounds(0)), "chunk-0")
      writeOne(ev.filter(t >= bounds(0) && t < bounds(1)), "chunk-1")
      writeOne(ev.filter(t >= bounds(1)), "chunk-2")
      def sentinel(at: Long): DataFrame = {
        import spark.implicits._
        Seq((-1L, -1L)).toDF("user_id", "event_id")
          .select(col("user_id"), col("event_id"),
            timestamp_micros(lit(at)).as("ts"))
      }
      writeOne(sentinel(maxMicros + 3600L * 1000000), "sentinel1")
      writeOne(sentinel(maxMicros + 7200L * 1000000), "flush/sentinel2")
    }

  /** Writes the streaming-dedup fixture once per sf dir: the documents
    * corpus as (doc_id, digest, ts) in four parquet chunk files keyed
    * by doc_id mod 4 — duplicates of a text deliberately straddle
    * chunks, so suppressing them exercises cross-batch state, not
    * within-batch dedup. Event times fold into one hour
    * (1700000000 + doc_id % 3600) so a fixed watermark delay covers
    * the range at every sf. */
  def ensureDedupFixture(spark: SparkSession, sfDir: String): String =
    StreamRun.fixture(spark, "st4", "st4v3", sfDir, "documents") { build =>
      graft.Tables.registerAll(spark, sfDir)
      // Key = canonical token-SET fingerprint (d5's dedup notion — the
      // corpus HAS such duplicates at every sf, unlike byte-identical
      // texts which only appear at sf0.1+), so the stream genuinely
      // suppresses rows, it doesn't just echo its input.
      val docs = spark.table("documents").select(col("doc_id"),
        md5(expr("array_join(array_sort(array_distinct(filter(" +
          "split(text, ' '), x -> length(x) > 0))), ' ')")).as("digest"),
        col("text"), // st5 recomputes signatures from the raw text
        timestamp_seconds(lit(1700000000L) + pmod(col("doc_id"), lit(3600L)))
          .as("ts"))
      (0 until 4).foreach { k =>
        StreamRun.writeOnePart(docs.filter(pmod(col("doc_id"), lit(4L)) === k),
          build.resolve(s"chunk-$k.parquet"))
      }
    }
}
