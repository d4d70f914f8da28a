package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Golden end-to-end test reproducing the reference's manual scenario
  * (README.md:54-114, FIXTURES.md §5) plus the delete case the reference
  * left untested (CustomJob.java:198-199). */
class CdcPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def users(lsn: Long, op: String, schema: String, id: Long,
      name: String, beforeName: String = null): CdcEnvelope = {
    val row = Map("id" -> id.toString, "full_name" -> name)
    val before =
      if (op == "c" || op == "r") Map.empty[String, String]
      else Map("id" -> id.toString,
        "full_name" -> Option(beforeName).getOrElse(name))
    CdcEnvelope(lsn, txId = lsn, tsMs = 1600000000000L + lsn, op,
      db = "experiment", schema = schema, table = "users",
      before = before,
      after = if (op == "d") Map.empty else row)
  }

  // README.md:54-58 insert/update sequence.
  private val golden = Seq(
    users(1, "c", "schema1", 1, "susan smith"),
    users(2, "c", "schema1", 2, "anne smith"),
    users(3, "c", "schema2", 1, "bob smith"),
    users(4, "u", "schema1", 1, "sue smith", beforeName = "susan smith"),
    users(5, "u", "schema2", 1, "bobby smith", beforeName = "bob smith"))

  /** Fresh namespaced MemoryDb sink; counts flow through the K2 writer's
    * real JDBC path (prepareStatement + executeBatch on executors). */
  private def newSink(tag: String): (Sinks.ConnectionFactory, Sinks.MemoryUpsertTable) = {
    val ns = s"$tag-${java.util.UUID.randomUUID()}"
    (Sinks.MemoryDb.factory(ns), Sinks.MemoryDb.table(ns, CdcPipeline.countTable))
  }

  test("pipeline B: golden sequence yields schema1->2, schema2->1 (README.md:107-114)") {
    val input = MemoryStream[CdcEnvelope]
    val (factory, sink) = newSink("cdc-golden")
    val q = CdcPipeline.liveCountPerSchema(input.toDS(), factory, tmpDir("cdc-golden"))
    input.addData(golden)
    q.processAllAvailable()
    q.stop()
    val counts = sink.snapshot.view.mapValues(_("user_count")).toMap
    assert(counts == Map("schema1" -> 2L, "schema2" -> 1L))
  }

  test("pipeline B: updates don't double-count; deletes decrement") {
    val input = MemoryStream[CdcEnvelope]
    val (factory, sink) = newSink("cdc-del")
    val q = CdcPipeline.liveCountPerSchema(input.toDS(), factory, tmpDir("cdc-del"))
    input.addData(golden)
    q.processAllAvailable()
    // More updates to existing keys: counts must not change.
    input.addData(Seq(users(6, "u", "schema1", 1, "susan v2", "sue smith")))
    q.processAllAvailable()
    assert(sink.snapshot("schema1")("user_count") == 2L)
    // Delete (null after, before image carries the key) — the case the
    // reference's deserializer would NPE on.
    input.addData(Seq(users(7, "d", "schema1", 2, null, "anne smith")))
    q.processAllAvailable()
    q.stop()
    assert(sink.snapshot("schema1")("user_count") == 1L)
    assert(sink.snapshot("schema2")("user_count") == 1L)
  }

  test("pipeline B: LSN-stale replays are ignored (at-least-once idempotency)") {
    val input = MemoryStream[CdcEnvelope]
    val (factory, sink) = newSink("cdc-replay")
    val q = CdcPipeline.liveCountPerSchema(input.toDS(), factory, tmpDir("cdc-replay"))
    input.addData(golden)
    q.processAllAvailable()
    input.addData(golden) // full redelivery
    q.processAllAvailable()
    q.stop()
    val counts = sink.snapshot.view.mapValues(_("user_count")).toMap
    assert(counts == Map("schema1" -> 2L, "schema2" -> 1L))
  }

  test("pipeline A: typed demux produces the reference's event stream (README.md:63-69)") {
    val ds = spark.createDataset(golden)
    val events = Demux.users(ds).collect().sortBy(_.key)
    assert(events.length == 5)
    assert(events.map(_.op).toSet == Set("c", "u"))
    val susan = events.find(e => e.key == "schema1|1" && e.op == "c").get
    assert(susan.fullName == "susan smith" && susan.id == 1L)
    // unknown tables are dropped silently (CustomJob.java:247-264)
    val other = golden.head.copy(table = "unknown_table")
    assert(Demux.users(spark.createDataset(Seq(other))).count() == 0)
  }

  test("pipeline A: keyed JSON wire format matches golden payloads (README.md:78-86)") {
    val ds = spark.createDataset(Seq(golden.head))
    val rows = CdcPipeline.usersTopicFrame(ds).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "schema1|1")
    assert(rows.head.getString(1) ==
      """{"key":"schema1|1","op":"c","schema":"schema1","table":"users","fullName":"susan smith","id":1}""")
  }

  test("pipeline B on the RocksDB state store (cluster-grade backend)") {
    // HDFSBackedStateStore holds state on-heap; RocksDB is the provider
    // that survives 100 TB key cardinalities. Same semantics expected.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[CdcEnvelope]
      val (factory, sink) = newSink("cdc-rocks")
      val q = CdcPipeline.liveCountPerSchema(input.toDS(), factory, tmpDir("cdc-rocks"))
      input.addData(golden)
      q.processAllAvailable()
      input.addData(Seq(users(6, "d", "schema1", 2, null, "anne smith")))
      q.processAllAvailable()
      q.stop()
      assert(sink.snapshot.view.mapValues(_("user_count")).toMap ==
        Map("schema1" -> 1L, "schema2" -> 1L))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("pipeline A: favorite-colors route (second side output, CustomJob.java:310-344)") {
    val colors = Seq(
      CdcEnvelope(10, 10, 0L, "c", "experiment", "schema1", "user_favorite_colors",
        Map.empty, Map("user_id" -> "1", "favorite_color" -> "blue")),
      CdcEnvelope(11, 11, 0L, "d", "experiment", "schema1", "user_favorite_colors",
        Map("user_id" -> "1", "favorite_color" -> "blue"), Map.empty))
    val ds = spark.createDataset(colors)
    val events = Demux.favoriteColors(ds).collect().sortBy(_.op)
    assert(events.map(e => (e.key, e.op, e.favoriteColor)).toSeq ==
      Seq(("schema1|1", "c", "blue"), ("schema1|1", "d", "blue")))
    val wire = CdcPipeline.colorsTopicFrame(ds).collect()
    assert(wire.head.getString(1) ==
      """{"key":"schema1|1","op":"c","schema":"schema1","table":"user_favorite_colors","favoriteColor":"blue","userId":1}""")
    // users route ignores the colors table
    assert(Demux.users(ds).count() == 0)
  }

  test("K2 upsert writer: batched executeBatch write + idempotent rewrite") {
    import org.apache.spark.sql.functions.{col, concat, hash, lit, min, pmod}
    val ns = s"k2-${java.util.UUID.randomUUID()}"
    val w = new Sinks.UpsertWriter("user_count_by_pgschema", "pgschema",
      Seq("pgschema", "user_count"))
    val factory = Sinks.MemoryDb.factory(ns)
    val target = Sinks.MemoryDb.table(ns, "user_count_by_pgschema")
    // 40,000 keys over the writer's 32 pk-hash ledger partitions: every
    // partition passes the 500-row executeBatch size, so each writes
    // several full batches before its final partial one
    val batch = spark.range(40000).select(
      concat(lit("schema"), col("id")).as("pgschema"),
      (col("id") % 7).as("user_count"))
    val perPartition = batch
      .groupBy(pmod(hash(col("pgschema")), lit(32))).count()
      .agg(min("count")).head().getLong(0)
    assert(perPartition > 500, perPartition)
    w.writeBatch(batch, factory, batchId = 0L)
    // the same rows again under a new batch id (the ledger does not skip
    // them): the replace merge rewrites them to the same final state
    w.writeBatch(batch, factory, batchId = 1L)
    val landed = target.snapshot.view.mapValues(_("user_count")).toMap
    assert(landed.size == 40000)
    assert(landed.forall { case (k, v) =>
      v == k.stripPrefix("schema").toLong % 7 })
    val update = spark.createDataFrame(Seq(("schema1", 5L)))
      .toDF("pgschema", "user_count")
    w.writeBatch(update, factory, batchId = 2L)
    assert(target.snapshot("schema1")("user_count") == 5L)
    assert(target.snapshot("schema2")("user_count") == 2L)
  }

  test("K2 additive merge accumulates deltas through the JDBC path") {
    val ns = s"k2add-${java.util.UUID.randomUUID()}"
    val w = new Sinks.UpsertWriter("user_count_by_pgschema", "pgschema",
      Seq("pgschema", "user_count"), additive = Set("user_count"))
    assert(w.upsertSql.contains(
      "user_count = user_count_by_pgschema.user_count + EXCLUDED.user_count"))
    val factory = Sinks.MemoryDb.factory(ns)
    val target = Sinks.MemoryDb.table(ns, "user_count_by_pgschema")
    def deltas(d: Long*) = spark.createDataFrame(
      d.zipWithIndex.map { case (v, i) => (s"schema$i", v) })
      .toDF("pgschema", "user_count")
    w.writeBatch(deltas(2L, 1L), factory, batchId = 0L)
    w.writeBatch(deltas(1L, -1L), factory, batchId = 1L)
    assert(target.snapshot.view.mapValues(_("user_count")).toMap ==
      Map("schema0" -> 3L, "schema1" -> 0L))
  }

  test("K2 batch ledger: a retried micro-batch is not double-added") {
    val ns = s"k2led-${java.util.UUID.randomUUID()}"
    val w = new Sinks.UpsertWriter("user_count_by_pgschema", "pgschema",
      Seq("pgschema", "user_count"), additive = Set("user_count"))
    assert(w.ledgerSql ==
      "INSERT INTO user_count_by_pgschema__batches (batch_key) VALUES (?) " +
        "ON CONFLICT (batch_key) DO NOTHING")
    val factory = Sinks.MemoryDb.factory(ns)
    val target = Sinks.MemoryDb.table(ns, "user_count_by_pgschema")
    val d = spark.createDataFrame(Seq(("schema1", 2L))).coalesce(1)
      .toDF("pgschema", "user_count")
    w.writeBatch(d, factory, batchId = 7L)
    w.writeBatch(d, factory, batchId = 7L) // foreachBatch retry → claimed → skip
    assert(target.snapshot("schema1")("user_count") == 2L)
    w.writeBatch(d, factory, batchId = 8L) // genuinely new batch → applies
    assert(target.snapshot("schema1")("user_count") == 4L)
  }

  test("schema evolution: extra source columns flow through untouched (reference TODO, CustomJob.java:200)") {
    // The reference explicitly left schema changes untested. Our envelope
    // carries row images as string maps, so new source columns appear in
    // the image without any schema migration; typed demux projects only
    // the fields it knows.
    val evolved = users(1, "c", "schema1", 1, "susan smith").copy(
      after = Map("id" -> "1", "full_name" -> "susan smith",
        "email" -> "susan@example.com")) // column added upstream
    val ds = spark.createDataset(Seq(evolved))
    val typed = Demux.users(ds).collect()
    assert(typed.head.fullName == "susan smith" && typed.head.id == 1L)

    // and the full pipeline keeps counting correctly
    val input = MemoryStream[CdcEnvelope]
    val (factory, sink) = newSink("cdc-evo")
    val q = CdcPipeline.liveCountPerSchema(input.toDS(), factory, tmpDir("cdc-evo"))
    input.addData(Seq(evolved,
      users(2, "c", "schema1", 2, "anne smith")))
    q.processAllAvailable()
    q.stop()
    assert(sink.snapshot("schema1")("user_count") == 2L)
  }

  test("equal-LSN events within a batch: the later op wins") {
    // two changes of one tx can share an LSN; batch order is authoritative
    val (st, d) = Changelog.transition(None, Seq(
      users(5, "c", "schema1", 1, "first"),
      users(5, "u", "schema1", 1, "second", beforeName = "first")))
    assert(d.get.image("full_name") == "second")
    assert(st.get.alive)
  }

  test("tombstone TTL (opt-in) drops deleted-key state after expiry") {
    // With a processing-time timeout armed, Spark keeps scheduling
    // micro-batches to check timeouts (so AvailableNow never terminates
    // and processAllAvailable can starve — pace with a real trigger and
    // poll, the deployment shape the scaladoc prescribes).
    import org.apache.spark.sql.streaming.Trigger
    val input = MemoryStream[CdcEnvelope]
    val deltas = Changelog.compact(input.toDS(),
      tombstoneTtl = Some("100 milliseconds"))
    val q = deltas.writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", tmpDir("cdc-ttl"))
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      input.addData(Seq(users(1, "c", "schema1", 1, "a"),
        users(2, "c", "schema1", 2, "b"),
        users(3, "d", "schema1", 2, "b"))) // delete arms key 2's tombstone
      val deadline = System.currentTimeMillis() + 30000
      var removed = 0L
      while (removed < 1 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        removed = q.recentProgress
          .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      }
      assert(removed >= 1, s"tombstone not removed within 30s (got $removed)")
    } finally q.stop()
  }

  test("ledger claims are runId-scoped: a fresh logical run is not skipped") {
    val ns = s"ledger-run-${java.util.UUID.randomUUID()}"
    val factory = Sinks.MemoryDb.factory(ns)
    val sums = Seq(("schema1", 5L)).toDF("pgschema", "user_count")
    def writer(run: String) = new Sinks.UpsertWriter(CdcPipeline.countTable,
      "pgschema", Seq("pgschema", "user_count"),
      additive = Set("user_count"), runId = run)
    writer("runA").writeBatch(sums, factory, batchId = 0)
    writer("runA").writeBatch(sums, factory, batchId = 0) // replay: skipped
    writer("runB").writeBatch(sums, factory, batchId = 0) // fresh run: applies
    val t = Sinks.MemoryDb.table(ns, CdcPipeline.countTable)
    assert(t.snapshot("schema1")("user_count") == 10L)
  }

  test("MemoryDb transactions: rollback releases the claim, applies nothing") {
    val ns = s"txn-${java.util.UUID.randomUUID()}"
    val f = Sinks.MemoryDb.factory(ns)
    val w = new Sinks.UpsertWriter("t", "k", Seq("k", "v"))
    val conn = f.connect()
    conn.setAutoCommit(false)
    val ls = conn.prepareStatement(w.ledgerSql)
    ls.setObject(1, "b0/p0")
    assert(ls.executeUpdate() == 1)
    // a concurrent transaction cannot take the held claim (row lock)
    val conn2 = f.connect()
    val ls2 = conn2.prepareStatement(w.ledgerSql)
    ls2.setObject(1, "b0/p0")
    assert(ls2.executeUpdate() == 0)
    conn2.close()
    val st = conn.prepareStatement(w.upsertSql)
    st.setObject(1, "x"); st.setObject(2, Long.box(1L)); st.addBatch()
    st.executeBatch()
    conn.rollback()
    conn.close()
    // neither the claim nor the rows survived the rollback
    assert(Sinks.MemoryDb.table(ns, "t").snapshot.isEmpty)
    assert(Sinks.MemoryDb.table(ns, "t__batches").snapshot.isEmpty)
    // the claim is reusable, and commit applies claim+rows atomically
    val conn3 = f.connect()
    val ls3 = conn3.prepareStatement(w.ledgerSql)
    ls3.setObject(1, "b0/p0")
    assert(ls3.executeUpdate() == 1)
    val st3 = conn3.prepareStatement(w.upsertSql)
    st3.setObject(1, "x"); st3.setObject(2, Long.box(2L)); st3.addBatch()
    st3.executeBatch()
    assert(Sinks.MemoryDb.table(ns, "t").snapshot.isEmpty) // not yet visible
    conn3.commit(); conn3.close()
    assert(Sinks.MemoryDb.table(ns, "t").snapshot("x")("v") == 2L)
    assert(Sinks.MemoryDb.table(ns, "t__batches").snapshot.contains("b0/p0"))
  }

  test("K2 upsert SQL renders Postgres ON CONFLICT form (setup_sink_db1.sql)") {
    val w = new Sinks.UpsertWriter("user_count_by_pgschema", "pgschema",
      Seq("pgschema", "user_count"))
    assert(w.upsertSql ==
      "INSERT INTO user_count_by_pgschema (pgschema, user_count) VALUES (?, ?) " +
        "ON CONFLICT (pgschema) DO UPDATE SET user_count = EXCLUDED.user_count")
  }

  test("K2 production factory ships to executors (serializable, no live state)") {
    // The factory must cross the foreachPartition closure boundary: a
    // round-trip through Java serialization is exactly what Spark does.
    val f = Sinks.JdbcConnectionFactory("jdbc:postgresql://sink-db/experiment",
      Map("user" -> "app"))
    val bytes = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bytes)
    oos.writeObject(f); oos.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[Sinks.JdbcConnectionFactory]
    assert(back == f)
    // No Postgres driver in this container: connect() must reach
    // DriverManager and fail with its no-driver error, proving the call
    // path (not a stub) without needing a live database.
    val e = intercept[java.sql.SQLException](back.connect())
    assert(e.getMessage.contains("No suitable driver"))
  }
}
