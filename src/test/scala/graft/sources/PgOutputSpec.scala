package graft.sources

import java.nio.file.{Files, Paths}
import java.util.Base64

import graft.SparkSpec
import graft.cdc.{CdcEnvelope, CdcPipeline, Sinks}

/** pgoutput wire-format decoding: byte-exact frames built per the public
  * PostgreSQL "Logical Replication Message Formats" spec, decoded into
  * CdcEnvelopes, and driven end-to-end through the DSv2 source in binary
  * WAL mode. */
class PgOutputSpec extends SparkSpec {
  import PgOutputFrames._

  private val usersOid = 16385
  private val ts0 = 1600000000000L

  test("decoder: relation registry + insert/update/delete with tx context") {
    val session = new PgOutputSession()
    assert(session.decode(begin(xid = 731, tsMs = ts0), 1L).isEmpty)
    assert(session.decode(
      relation(usersOid, "schema1", "users", Seq("id", "full_name")), 1L).isEmpty)

    val ins = session.decode(
      insert(usersOid, Seq(Some("1"), Some("susan smith"))), 2L)
    assert(ins == Seq(CdcEnvelope(2L, 731L, ts0, "c", "experiment",
      "schema1", "users", Map.empty,
      Map("id" -> "1", "full_name" -> "susan smith"))))

    val upd = session.decode(
      update(usersOid, Some(Seq(Some("1"), Some("susan smith"))),
        Seq(Some("1"), Some("sue smith"))), 3L)
    assert(upd.head.op == "u")
    assert(upd.head.before("full_name") == "susan smith")
    assert(upd.head.after("full_name") == "sue smith")

    val del = session.decode(
      delete(usersOid, Seq(Some("1"), Some("sue smith"))), 4L)
    assert(del.head.op == "d")
    assert(del.head.after.isEmpty)
    assert(del.head.before("id") == "1")

    assert(session.decode(commit(), 4L).isEmpty)
    // null column → omitted from the image
    val insNull = session.decode(
      insert(usersOid, Seq(Some("9"), None)), 5L)
    assert(insNull.head.after == Map("id" -> "9"))
  }

  test("truncate: one op='t' envelope per registered relation, unknown skipped") {
    val session = new PgOutputSession()
    session.decode(begin(xid = 9, tsMs = ts0), 1L)
    session.decode(relation(usersOid, "public", "users", Seq("id")), 1L)
    session.decode(relation(usersOid + 1, "public", "orders", Seq("id")), 1L)
    // multi-relation truncate (the CASCADE shape): one envelope each,
    // empty images, the current tx context attached
    val envs = session.decode(
      truncate(Seq(usersOid, usersOid + 1), optionBits = 1), 2L)
    assert(envs.map(e => (e.op, e.table, e.before, e.after)) == Seq(
      ("t", "users", Map.empty, Map.empty),
      ("t", "orders", Map.empty, Map.empty)))
    assert(envs.forall(e => e.lsn == 2L && e.txId == 9L))
    // an oid outside the publication's registered set is skipped, the
    // registered one still decodes
    val partial = session.decode(truncate(Seq(424242, usersOid)), 3L)
    assert(partial.map(_.table) == Seq("users"))
  }

  test("schema evolution: mid-stream Relation redefinition rebinds the oid") {
    // ALTER TABLE ... ADD COLUMN between transactions shows up on the wire
    // as a fresh Relation message for the same oid before the next DML
    // (the reference's own open TODO, CustomJob.java:200). The session's
    // relation registry must rebind, later tuples decode at the new width,
    // and envelopes already decoded must be untouched (maps are built
    // eagerly, never lazily rebound through the registry).
    val session = new PgOutputSession()
    session.decode(begin(xid = 801, tsMs = ts0), 1L)
    session.decode(
      relation(usersOid, "schema1", "users", Seq("id", "full_name")), 1L)
    val before = session.decode(
      insert(usersOid, Seq(Some("1"), Some("ann prior"))), 2L)
    assert(before.head.after == Map("id" -> "1", "full_name" -> "ann prior"))
    session.decode(commit(), 3L)

    // next transaction, same oid, one column wider
    session.decode(begin(xid = 802, tsMs = ts0 + 1000), 4L)
    session.decode(relation(usersOid, "schema1", "users",
      Seq("id", "full_name", "email")), 4L)
    val widened = session.decode(
      insert(usersOid, Seq(Some("2"), Some("bob new"), Some("bob@x.test"))), 5L)
    assert(widened.head.after ==
      Map("id" -> "2", "full_name" -> "bob new", "email" -> "bob@x.test"))
    assert(widened.head.txId == 802L)
    // updates decode old and new images at the evolved width too
    val upd = session.decode(update(usersOid,
      Some(Seq(Some("2"), Some("bob new"), Some("bob@x.test"))),
      Seq(Some("2"), Some("bob newer"), None)), 6L)
    assert(upd.head.before("email") == "bob@x.test")
    assert(upd.head.after == Map("id" -> "2", "full_name" -> "bob newer"))
    // the pre-evolution envelope is unchanged
    assert(before.head.after == Map("id" -> "1", "full_name" -> "ann prior"))
  }

  test("schema evolution end-to-end: widened inserts through format(graft-cdc)") {
    def line(lsn: Long, frame: Array[Byte]): String =
      s"$lsn ${Base64.getEncoder.encodeToString(frame)}"
    val wal = Seq(
      line(1, begin(901, ts0)),
      line(1, relation(usersOid, "schema1", "users", Seq("id", "full_name"))),
      line(2, insert(usersOid, Seq(Some("1"), Some("ann prior")))),
      line(3, commit()),
      line(4, begin(902, ts0 + 1000)),
      line(4, relation(usersOid, "schema1", "users",
        Seq("id", "full_name", "email"))),
      line(5, insert(usersOid, Seq(Some("2"), Some("bob new"), Some("bob@x.test")))),
      line(6, commit()))
    val log = Paths.get(tmpDir("pgevo"), "wal.bin")
    Files.write(log, wal.mkString("\n").getBytes)
    import spark.implicits._
    // numPartitions=3 splits the LSN span, so at least one range starts
    // after the redefinition — range readers must replay relation state;
    // one partition reads the whole span from the head's empty state.
    for (n <- Seq("3", "1")) withClue(s"numPartitions=$n: ") {
      val envs = spark.read.format("graft-cdc")
        .option("walFormat", "pgoutput").option("numPartitions", n)
        .load(log.toString)
        .as[CdcEnvelope].collect().sortBy(_.lsn)
      assert(envs.length == 2)
      assert(envs(0).after == Map("id" -> "1", "full_name" -> "ann prior"))
      assert(envs(1).after ==
        Map("id" -> "2", "full_name" -> "bob new", "email" -> "bob@x.test"))
    }
  }

  test("restart from checkpointed LSN: relation catalog replays via the state index") {
    // The reader for a post-restart micro-batch never sees the early
    // Relation frames; it must decode its range from the planner's
    // boundary state (single partition — the incremental/restart path).
    import spark.implicits._
    def line(lsn: Long, frame: Array[Byte]): String =
      s"$lsn ${java.util.Base64.getEncoder.encodeToString(frame)}"
    val dir = tmpDir("pgrestart")
    val log = Paths.get(dir, "wal.bin")
    Files.write(log, Seq(
      line(1, begin(950, ts0)),
      line(1, relation(usersOid, "schema1", "users", Seq("id", "full_name"))),
      line(2, insert(usersOid, Seq(Some("1"), Some("susan")))),
      line(3, commit())).mkString("\n").getBytes)
    val ns = s"pgrestart-${java.util.UUID.randomUUID()}"
    val sink = Sinks.MemoryDb.table(ns, CdcPipeline.countTable)
    def start() = CdcPipeline.liveCountPerSchema(
      spark.readStream.format("graft-cdc")
        .option("walFormat", "pgoutput").load(log.toString).as[CdcEnvelope],
      Sinks.MemoryDb.factory(ns), s"$dir/ckpt")
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(sink.snapshot("schema1")("user_count") == 1L)
    // replication continues while the query is down: a second tx whose
    // DML depends on the round-1 Relation frame
    Files.write(log, ("\n" + Seq(
      line(4, begin(951, ts0 + 1000)),
      line(5, insert(usersOid, Seq(Some("2"), Some("anne")))),
      line(6, commit())).mkString("\n")).getBytes,
      java.nio.file.StandardOpenOption.APPEND)
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    assert(sink.snapshot("schema1")("user_count") == 2L)
  }

  test("parallel replay index: boundary states seed range readers") {
    // The driver's one metadata pass snapshots the relation catalog + tx
    // context at each range boundary; a reader seeded with that state
    // decodes ONLY its own LSN range — never the log prefix.
    val frames = Seq[(Long, Array[Byte])](
      1L -> begin(950, ts0),
      1L -> relation(usersOid, "s1", "users", Seq("id", "full_name")),
      2L -> insert(usersOid, Seq(Some("1"), Some("a"))),
      4L -> relation(usersOid, "s1", "users", Seq("id", "full_name", "email")),
      5L -> insert(usersOid, Seq(Some("2"), Some("b"), Some("b@x.test"))),
      6L -> commit())
    val states = PgOutputSession.boundaryStates(frames.iterator, Seq(0L, 3L, 4L))
    assert(states(0).relations.isEmpty) // nothing before the log
    assert(states(1).relations(usersOid)._3 == Seq("id", "full_name"))
    assert(states(1).xid == 950L) // tx context crosses the boundary too
    assert(states(2).relations(usersOid)._3 == Seq("id", "full_name", "email"))
    // a reader for range (4, 6] seeded at boundary 4 sees the evolved width
    val seeded = new PgOutputSession(initial = states(2))
    val envs = frames.filter(_._1 > 4L)
      .flatMap { case (lsn, f) => seeded.decode(f, lsn) }
    assert(envs.map(_.after) == Seq(
      Map("id" -> "2", "full_name" -> "b", "email" -> "b@x.test")))
    assert(envs.head.txId == 950L)
  }

  test("binary WAL end-to-end: pgoutput frames through format(graft-cdc)") {
    def line(lsn: Long, frame: Array[Byte]): String =
      s"$lsn ${Base64.getEncoder.encodeToString(frame)}"
    val wal = Seq(
      line(1, begin(731, ts0)),
      line(1, relation(usersOid, "schema1", "users", Seq("id", "full_name"))),
      line(2, insert(usersOid, Seq(Some("1"), Some("susan smith")))),
      line(3, insert(usersOid, Seq(Some("2"), Some("anne smith")))),
      line(4, commit()),
      line(5, begin(732, ts0 + 1000)),
      line(5, relation(usersOid + 1, "schema2", "users", Seq("id", "full_name"))),
      line(6, insert(usersOid + 1, Seq(Some("1"), Some("bob smith")))),
      line(7, delete(usersOid, Seq(Some("2"), Some("anne smith")))),
      line(8, commit()))
    val log = Paths.get(tmpDir("pgout"), "wal.bin")
    Files.write(log, wal.mkString("\n").getBytes)

    // batch read
    val df = spark.read.format("graft-cdc")
      .option("walFormat", "pgoutput").load(log.toString)
    assert(df.count() == 4) // 3 inserts + 1 delete
    import spark.implicits._
    val envs = df.as[CdcEnvelope].collect().sortBy(_.lsn)
    assert(envs.map(_.op).toSeq == Seq("c", "c", "c", "d"))
    assert(envs.head.txId == 731L && envs.last.schema == "schema1")

    // streaming: compaction counts deletes correctly off the binary WAL,
    // with the micro-batch split into parallel LSN ranges (numPartitions)
    // — streaming range readers seed from the boundary-state index too
    val ns = s"pgout-${java.util.UUID.randomUUID()}"
    val sink = Sinks.MemoryDb.table(ns, CdcPipeline.countTable)
    val q = CdcPipeline.liveCountPerSchema(
      spark.readStream.format("graft-cdc")
        .option("walFormat", "pgoutput").option("numPartitions", "3")
        .load(log.toString).as[CdcEnvelope],
      Sinks.MemoryDb.factory(ns), tmpDir("pgout-ckpt"))
    q.processAllAvailable(); q.stop()
    assert(sink.snapshot.view.mapValues(_("user_count")).toMap ==
      Map("schema1" -> 1L, "schema2" -> 1L))
  }

  test("unicode identifiers and values survive the wire (UTF-8, not Latin-1)") {
    val session = new PgOutputSession()
    session.decode(relation(7, "публичная", "événements",
      Seq("id", "名前", "größe")), 1L)
    val out = session.decode(insert(7,
      Seq(Some("1"), Some("中文テキスト ✓"), Some("åäö–—€"))), 2L)
    assert(out.head.schema == "публичная" && out.head.table == "événements")
    assert(out.head.after == Map("id" -> "1", "名前" -> "中文テキスト ✓",
      "größe" -> "åäö–—€"))
  }

  test("large row values don't overflow the frame builders") {
    val session = new PgOutputSession()
    session.decode(relation(8, "public", "blobs", Seq("id", "payload")), 1L)
    val big = "x" * 100000 + "€" // > any fixed buffer, multi-byte tail
    val out = session.decode(insert(8, Seq(Some("1"), Some(big))), 2L)
    assert(out.head.after("payload") == big)
    val upd = session.decode(update(8, Some(Seq(Some("1"), Some(big))),
      Seq(Some("1"), Some(big + big))), 3L)
    assert(upd.head.before("payload") == big)
    assert(upd.head.after("payload") == big + big)
  }

  test("property: random transactions roundtrip encode -> decode exactly") {
    val rnd = new scala.util.Random(20260812L)
    val alphabets = Seq("abc XYZ 019", "äöüß€çñ", "日本語中文한국", "πλθΩ∑ ✓✗")
    def randStr(): String = {
      val a = alphabets(rnd.nextInt(alphabets.length))
      (0 until rnd.nextInt(12)).map(_ => a(rnd.nextInt(a.length))).mkString
    }
    def randVal(): Option[String] =
      if (rnd.nextInt(5) == 0) None else Some(randStr())

    val session = new PgOutputSession()
    var lsn = 0L
    (1 to 300).foreach { i =>
      lsn += 1 + rnd.nextInt(3)
      // occasional relation (re)definition with random width/names —
      // later DML must bind to the latest definition
      val oid = 100 + rnd.nextInt(3)
      val ncols = 1 + rnd.nextInt(4)
      val cols = (1 to ncols).map(c => s"c${c}_${randStr()}")
      session.decode(relation(oid, s"ns_${randStr()}", s"t_${randStr()}",
        cols), lsn)

      val xid = rnd.nextInt(1 << 20)
      val tsMs = ts0 + rnd.nextInt(1 << 30)
      session.decode(begin(xid, tsMs), lsn)

      val vals = cols.map(_ => randVal())
      val expected = cols.zip(vals).collect { case (c, Some(v)) => c -> v }.toMap
      val got = rnd.nextInt(3) match {
        case 0 => session.decode(insert(oid, vals), lsn)
        case 1 =>
          val withOld = rnd.nextBoolean()
          val old = cols.map(_ => randVal())
          val r = session.decode(
            update(oid, if (withOld) Some(old) else None, vals), lsn)
          if (withOld) assert(r.head.before ==
            cols.zip(old).collect { case (c, Some(v)) => c -> v }.toMap)
          else assert(r.head.before.isEmpty)
          r
        case _ =>
          val r = session.decode(delete(oid, vals), lsn)
          assert(r.head.before == expected && r.head.after.isEmpty)
          r
      }
      assert(got.size == 1)
      val e = got.head
      assert(e.lsn == lsn && e.txId == xid.toLong && e.tsMs == tsMs)
      if (e.op != "d") assert(e.after == expected)
      session.decode(commit(), lsn)
    }
  }
}
