package graft.sources

import org.scalatest.BeforeAndAfterAll
import scala.sys.process._

/** LIVE end-to-end logical replication against a REAL PostgreSQL server:
  * the spec provisions its own throwaway cluster (initdb with
  * wal_level=logical, trust auth on loopback), creates a table,
  * publication and pgoutput replication slot, runs DML, and tails the
  * slot through [[PgWalTransport]] — the v3 wire protocol
  * (START_REPLICATION … LOGICAL, XLogData frames, standby status) with
  * [[PgOutputSession]] decoding the server's actual pgoutput bytes.
  * This is the reference's S1 capability (StreamingJob.java:44-62,
  * docker-compose.yaml:4-10) exercised against the genuine article, not
  * a captured log.
  *
  * Skips cleanly (canceled, not failed) when PostgreSQL binaries or the
  * postgres OS user are unavailable. */
class PgLiveReplicationSpec extends graft.SparkSpec with BeforeAndAfterAll {

  private val port = 54417
  private val pgAvailable =
    new java.io.File("/usr/local/bin/pg_ctl").exists() &&
      scala.util.Try(Seq("id", "-u", "postgres").!!).isSuccess
  private var dir: java.io.File = _
  private var started = false

  private def sh(cmd: String): Int =
    Seq("bash", "-c", cmd) ! ProcessLogger(_ => (), _ => ())

  private def psql(sql: String): String =
    Seq("psql", "-h", "127.0.0.1", "-p", port.toString, "-U", "postgres",
      "-tA", "-c", sql).!!.trim

  override def beforeAll(): Unit = {
    if (!pgAvailable) return
    dir = tmpPath("pglive").toFile
    // the postgres user must traverse the suite's temp root to reach `dir`
    require(sh(s"chmod o+x '${dir.getParent}' && chown postgres '$dir'") == 0)
    require(sh(s"cd /tmp && su postgres -c \"initdb -D '$dir/data' " +
      "-U postgres --no-sync\"") == 0, "initdb failed")
    // logical decoding on; loopback only; keep the cluster tiny
    val conf = new java.io.FileWriter(s"$dir/data/postgresql.conf", true)
    conf.write("\nwal_level = logical\nmax_wal_senders = 4\n" +
      "max_replication_slots = 4\nlisten_addresses = '127.0.0.1'\n" +
      s"port = $port\nunix_socket_directories = '$dir'\n")
    conf.close()
    require(sh(s"cd /tmp && su postgres -c \"pg_ctl -D '$dir/data' " +
      s"-l '$dir/pg.log' -w start\"") == 0, "pg_ctl start failed")
    started = true
    psql("CREATE TABLE users (id int PRIMARY KEY, full_name text)")
    psql("ALTER TABLE users REPLICA IDENTITY FULL")
    // Scoped to the source table: the live-pipeline test below writes its
    // count upserts back into the SAME database, and a FOR ALL TABLES
    // publication would replicate those sink writes into the CDC stream —
    // an infinite feedback loop. (The reference avoids this by using two
    // separate databases, sourcedb/sinkdb in docker-compose.yaml.)
    psql("CREATE PUBLICATION livepub FOR TABLE users")
    psql("SELECT pg_create_logical_replication_slot('liveslot', 'pgoutput')")
  }

  override def afterAll(): Unit = {
    if (started)
      sh(s"cd /tmp && su postgres -c \"pg_ctl -D '$dir/data' -m immediate stop\"")
    super.afterAll()
  }

  private def transport() = WalTransport.open(
    s"pgwal://127.0.0.1:$port/postgres?slot=liveslot&publication=livepub",
    "pgoutput").asInstanceOf[PgWalTransport]

  test("live slot tail: real pgoutput frames decode to change envelopes") {
    assume(pgAvailable, "PostgreSQL not available in this environment")
    psql("INSERT INTO users VALUES (1, 'alice'), (2, 'bob')")
    psql("UPDATE users SET full_name = 'carol' WHERE id = 2")
    psql("DELETE FROM users WHERE id = 1")
    val t = transport()
    try {
      assert(t.headLsn() > 0L)
      val frames = t.frames(Long.MinValue).toVector
      assert(frames.nonEmpty)
      // LSNs monotone; metadata frames interleave at stream position
      assert(frames.map(_._1) == frames.map(_._1).sorted)
      val session = new PgOutputSession(db = "postgres")
      val envs = frames.flatMap { case (lsn, f) => session.decode(f, lsn) }
      assert(envs.map(_.op) == Vector("c", "c", "u", "d"))
      assert(envs.forall(e => e.schema == "public" && e.table == "users"))
      assert(envs(0).after == Map("id" -> "1", "full_name" -> "alice"))
      assert(envs(1).after == Map("id" -> "2", "full_name" -> "bob"))
      // REPLICA IDENTITY FULL: the update carries its full before image
      assert(envs(2).before == Map("id" -> "2", "full_name" -> "bob"))
      assert(envs(2).after == Map("id" -> "2", "full_name" -> "carol"))
      assert(envs(3).before == Map("id" -> "1", "full_name" -> "alice"))
      assert(envs(3).after.isEmpty)
      assert(envs.forall(_.tsMs > 0L))
    } finally t.close()
  }

  test("incremental read from a prior LSN yields only newer changes") {
    assume(pgAvailable, "PostgreSQL not available in this environment")
    val t = transport()
    try {
      val first = t.frames(Long.MinValue).toVector
      val mark = first.map(_._1).max
      psql("INSERT INTO users VALUES (3, 'dora')")
      val inc = t.frames(mark).toVector
      val session = new PgOutputSession(db = "postgres")
      val envs = inc.flatMap { case (lsn, f) => session.decode(f, lsn) }
        .filter(_.lsn > mark)
      assert(envs.map(_.op) == Vector("c"))
      assert(envs.head.after == Map("id" -> "3", "full_name" -> "dora"))
    } finally t.close()
  }

  test("DSv2 batch read: format(\"graft-cdc\") over the live slot") {
    assume(pgAvailable, "PostgreSQL not available in this environment")
    psql("INSERT INTO users VALUES (5, 'erin')")
    val url = s"pgwal://127.0.0.1:$port/postgres?slot=liveslot&publication=livepub"
    val df = spark.read.format("graft-cdc")
      .option("path", url).option("walFormat", "pgoutput").load()
    val rows = df.selectExpr("op", "table", "after['id']", "after['full_name']")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3))).toSeq
    // everything not yet acked replays, erin last
    assert(rows.nonEmpty && rows.last == ("c", "users", "5", "erin"))
    assert(rows.forall(_._2 == "users"))
  }

  test("DSv2 streaming: micro-batches tail the live slot and commit acks") {
    assume(pgAvailable, "PostgreSQL not available in this environment")
    val url = s"pgwal://127.0.0.1:$port/postgres?slot=liveslot&publication=livepub"
    // drain + ack everything so the stream starts from a clean slot
    val t0 = transport()
    try t0.ack(t0.headLsn()) finally t0.close()
    psql("INSERT INTO users VALUES (6, 'finn')")
    val q = spark.readStream.format("graft-cdc")
      .option("path", url).option("walFormat", "pgoutput").load()
      .selectExpr("op", "after['id'] AS id", "after['full_name'] AS name")
      .writeStream.format("memory").queryName("livecdc")
      .option("checkpointLocation", tmpDir("livecdc-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      psql("INSERT INTO users VALUES (7, 'gene')")
      q.processAllAvailable()
      val got = spark.table("livecdc").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      assert(got.contains(("c", "6", "finn")) && got.contains(("c", "7", "gene")),
        s"missing live rows in $got")
    } finally q.stop()
    // the stream's commit() acked through the processed offsets. Spark
    // commits batch N's offset at trigger N+1, so the FINAL batch may
    // legitimately replay (at-least-once) — but nothing older may.
    val t = transport()
    try {
      val session = new PgOutputSession(db = "postgres")
      val envs = t.frames(Long.MinValue).toVector
        .flatMap { case (lsn, f) => session.decode(f, lsn) }
      assert(envs.forall(_.after.get("id").contains("7")),
        s"acks lag more than the final batch: $envs")
    } finally t.close()
  }

  test("ack advances the slot's confirmed_flush_lsn") {
    assume(pgAvailable, "PostgreSQL not available in this environment")
    val t = transport()
    try {
      def confirmed(): String =
        psql("SELECT confirmed_flush_lsn FROM pg_replication_slots " +
          "WHERE slot_name = 'liveslot'")
      val head = t.headLsn()
      t.ack(head)
      val after = confirmed()
      // parse X/Y the same way the transport does
      val i = after.indexOf('/')
      val afterLsn = (java.lang.Long.parseLong(after.substring(0, i), 16) << 32) |
        java.lang.Long.parseLong(after.substring(i + 1), 16)
      assert(afterLsn >= head,
        s"confirmed_flush_lsn $after did not advance to ${head}")
      // an acked-through slot replays nothing older
      val replay = t.frames(Long.MinValue).toVector
      val session = new PgOutputSession(db = "postgres")
      val envs = replay.flatMap { case (lsn, f) => session.decode(f, lsn) }
      assert(envs.isEmpty, s"acked slot replayed ${envs.size} changes")
    } finally t.close()
  }

  test("REFERENCE PIPELINE LIVE: wal -> compaction -> count upsert -> postgres") {
    // The reference's whole docker-compose architecture in one test, no
    // containers and no drivers: a live replication slot feeds the DSv2
    // source, changelog compaction emits per-key liveness deltas, and
    // the additive K2 upsert writes the per-schema live count back into
    // the SAME PostgreSQL over the wire-protocol connection factory —
    // including the reference's open TODO, deletes decrementing.
    assume(pgAvailable, "PostgreSQL not available in this environment")
    psql("CREATE TABLE user_count_by_pgschema " +
      "(pgschema text PRIMARY KEY, user_count bigint)")
    psql("CREATE TABLE user_count_by_pgschema__batches " +
      "(batch_key text PRIMARY KEY)")
    val t0 = transport()
    try t0.ack(t0.headLsn()) finally t0.close()
    psql("INSERT INTO users VALUES (20, 'u20'), (21, 'u21')")
    val url = s"pgwal://127.0.0.1:$port/postgres?slot=liveslot&publication=livepub"
    import spark.implicits._
    val events = spark.readStream.format("graft-cdc")
      .option("path", url).option("walFormat", "pgoutput").load()
      .as[graft.cdc.CdcEnvelope]
    val q = graft.cdc.CdcPipeline.liveCountPerSchema(events,
      PgWireConnectionFactory("127.0.0.1", port, "postgres", "postgres"),
      tmpDir("live-count-ckpt"))
    try {
      def count(): String =
        psql("SELECT user_count FROM user_count_by_pgschema " +
          "WHERE pgschema = 'public'")
      q.processAllAvailable()
      assert(count() == "2", s"after 2 inserts: '${count()}'")
      psql("DELETE FROM users WHERE id = 20")
      q.processAllAvailable()
      assert(count() == "1", s"after delete: '${count()}'")
      psql("UPDATE users SET full_name = 'u21b' WHERE id = 21")
      q.processAllAvailable()
      // in-place update: delta 0, live count unchanged
      assert(count() == "1", s"after update: '${count()}'")
    } finally q.stop()
  }

  test("LIVE TWO-SOURCE UNION: two databases' slots union into one stream") {
    // The reference's full topology (StreamingJob.java:44-79): TWO CDC
    // sources built from separate databases, unioned into one streaming
    // job. Logical slots are per-database, so a second database in the
    // same cluster gives a genuinely independent WAL decode — two
    // transports, two publications, two offset sequences — and the
    // union must interleave both without crosstalk (each row tagged by
    // its source, counts graded per source across live DML on both).
    assume(pgAvailable, "PostgreSQL not available in this environment")
    def psql2(sql: String): String =
      Seq("psql", "-h", "127.0.0.1", "-p", port.toString, "-U", "postgres",
        "-d", "livedb2", "-tA", "-c", sql).!!.trim
    psql("CREATE DATABASE livedb2")
    psql2("CREATE TABLE users (id int PRIMARY KEY, full_name text)")
    psql2("ALTER TABLE users REPLICA IDENTITY FULL")
    psql2("CREATE PUBLICATION livepub2 FOR TABLE users")
    psql2("SELECT pg_create_logical_replication_slot('liveslot2', 'pgoutput')")
    // clean slate on source 1 (earlier tests share its slot)
    val t0 = transport()
    try t0.ack(t0.headLsn()) finally t0.close()
    psql("INSERT INTO users VALUES (30, 'h1'), (31, 'h2')")
    psql2("INSERT INTO users VALUES (40, 'k1')")
    val url1 = s"pgwal://127.0.0.1:$port/postgres?slot=liveslot&publication=livepub"
    val url2 = s"pgwal://127.0.0.1:$port/livedb2?slot=liveslot2&publication=livepub2"
    def src(url: String, tag: String) =
      spark.readStream.format("graft-cdc")
        .option("path", url).option("walFormat", "pgoutput").load()
        .selectExpr(s"'$tag' AS src", "op", "after['id'] AS id")
    val q = src(url1, "db1").unionByName(src(url2, "db2"))
      .writeStream.format("memory").queryName("liveunion")
      .option("checkpointLocation", tmpDir("liveunion-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      // both sides keep flowing AFTER the stream is up
      psql("DELETE FROM users WHERE id = 30")
      psql2("INSERT INTO users VALUES (41, 'k2')")
      q.processAllAvailable()
      val got = spark.table("liveunion").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got.contains(("db1", "c", "30")), s"db1 create 30: $got")
      assert(got.contains(("db1", "c", "31")), s"db1 create 31: $got")
      assert(got.exists(t => t._1 == "db1" && t._2 == "d"),
        s"db1 delete missing from union: $got")
      assert(got.contains(("db2", "c", "40")) &&
        got.contains(("db2", "c", "41")),
        s"db2 changes missing from union: $got")
      // no crosstalk: db2 never saw db1's keys and vice versa
      assert(!got.exists(t => t._1 == "db2" && Set("30", "31")(t._3)))
      assert(!got.exists(t => t._1 == "db1" && Set("40", "41")(t._3)))
      // graded counts per source: 2 creates + 1 delete vs 2 creates
      val counts = got.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
      assert(counts("db1") == 3 && counts("db2") == 2, counts)
    } finally q.stop()
  }

  test("parallel-range table read: dimension hydration over the wire client") {
    assume(pgAvailable, "PostgreSQL not available in this environment")
    psql("CREATE TABLE dims (dim_id int PRIMARY KEY, label text, note text)")
    psql("INSERT INTO dims SELECT g, 'label-' || g, " +
      "CASE WHEN g % 10 = 0 THEN NULL ELSE 'n''' || g END " +
      "FROM generate_series(1, 500) g")
    import org.apache.spark.sql.functions._
    val df = PgTableRead.table(spark, "127.0.0.1", port, "postgres",
      "postgres", "dims", Seq("dim_id", "label", "note"),
      partitionColumn = "dim_id", numPartitions = 4)
    // four genuine range partitions, every row exactly once
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 500)
    assert(df.select("dim_id").distinct().count() == 500)
    // text values, quotes, and SQL NULLs survive the wire
    val r7 = df.filter(col("dim_id") === "7").head()
    assert(r7.getString(1) == "label-7" && r7.getString(2) == "n'7")
    assert(df.filter(col("note").isNull).count() == 50)
    // caller-side casts own the typing (the documented contract)
    val typed = df.select(col("dim_id").cast("long").as("dim_id"),
      col("label"))
    assert(typed.agg(sum("dim_id")).head().getLong(0) == 500L * 501 / 2)
    // empty-table read degrades to an empty frame, not a crash
    psql("CREATE TABLE empty_dims (id int PRIMARY KEY)")
    assert(PgTableRead.table(spark, "127.0.0.1", port, "postgres",
      "postgres", "empty_dims", Seq("id"), "id").count() == 0)
  }
}
