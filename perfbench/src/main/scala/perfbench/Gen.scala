package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** Seeded CDC load in the reference's shape: single-row transactions on
  * `schema1`/`schema2` x `users(id, full_name)` /
  * `user_favorite_colors(user_id, favorite_color)`, all REPLICA IDENTITY
  * FULL. A key is inserted on first touch, then mostly updated, sometimes
  * deleted and later re-inserted. Keys are skewed toward low ids
  * (`id = 1 + floor(keys * u^skew)`), so hot keys churn while the tail of
  * the key space stays cold and grows the compaction state.
  *
  * Event `i` commits at LSN `i + 1`; its Begin, DML and Commit frames
  * share that LSN, and the four Relation frames sit at LSN 0. The
  * expected outputs of both pipelines are derived here, from the same
  * sequence, so the engine never grades itself.
  */
final class Gen(val seed: Long, val events: Int, val keys: Int,
    skew: Double = 2.0, deleteFrac: Double = 0.08) {
  import Gen._

  /** Per event: table index into [[Gen.Tables]], key id, op, and the
    * image value the topic message must carry (the `after` value, or the
    * `before` value for a delete). */
  val table = new Array[Byte](events)
  val id = new Array[Int](events)
  val op = new Array[Byte](events)
  val value = new Array[String](events)
  private val before = new Array[String](events)

  // Per table: last event index per key (-1 = never touched) and liveness.
  private val lastEvent = Array.fill(Tables.length)(Array.fill(keys + 1)(-1))
  private val alive = Array.fill(Tables.length)(new java.util.BitSet(keys + 1))

  locally {
    val rng = new java.util.SplittableRandom(seed)
    var i = 0
    while (i < events) {
      val t = rng.nextInt(Tables.length)
      val k = 1 + math.min(keys - 1, (keys * math.pow(rng.nextDouble(), skew)).toInt)
      val prev = lastEvent(t)(k)
      val isUsers = Tables(t).isUsers
      def fresh(): String =
        if (isUsers) s"user $k rev $i" else Colors(rng.nextInt(Colors.length))
      table(i) = t.toByte; id(i) = k
      if (!alive(t).get(k)) {
        op(i) = 'c'; value(i) = fresh(); alive(t).set(k)
      } else if (rng.nextDouble() < deleteFrac) {
        op(i) = 'd'; before(i) = value(prev); value(i) = value(prev)
        alive(t).clear(k)
      } else {
        op(i) = 'u'; before(i) = value(prev); value(i) = fresh()
      }
      lastEvent(t)(k) = i
      i += 1
    }
  }

  def lsn(i: Int): Long = i + 1L

  /** Events per table name (`users` / `user_favorite_colors`). */
  def eventsPerTable: Map[String, Long] =
    table.groupBy(t => Tables(t.toInt).name).map { case (n, a) => n -> a.length.toLong }

  /** Live `users` keys per schema: the expected `user_count_by_pgschema`
    * (a schema whose users were all deleted keeps a zero row). */
  def liveUsersPerSchema: Map[String, Long] =
    Tables.indices.filter(Tables(_).isUsers).flatMap { t =>
      if (lastEvent(t).exists(_ >= 0))
        Some(Tables(t).schema -> alive(t).cardinality().toLong)
      else None
    }.toMap

  /** Expected last topic message per `schema|id` key and table: (op, value). */
  def lastPerKey(tableName: String): Map[String, (String, String)] =
    Tables.indices.filter(Tables(_).name == tableName).flatMap { t =>
      (1 to keys).iterator.filter(lastEvent(t)(_) >= 0).map { k =>
        val e = lastEvent(t)(k)
        s"${Tables(t).schema}|$k" -> (op(e).toChar.toString, value(e))
      }
    }.toMap

  /** The three pgoutput frames of event `i`: Begin, the DML, Commit. */
  def frames(i: Int): Seq[Array[Byte]] = {
    val t = table(i).toInt
    val oid = Tables(t).oid
    val row = (v: String) => Seq(id(i).toString, v)
    val dml = op(i) match {
      case 'c' => PgOutput.insert(oid, row(value(i)))
      case 'u' => PgOutput.update(oid, row(before(i)), row(value(i)))
      case _ => PgOutput.delete(oid, row(before(i)))
    }
    Seq(PgOutput.begin(i + 1, BaseTsMs + i), dml, PgOutput.commit())
  }

  /** Writes the WAL capture (`<lsn> <base64 frame>` per line) for events
    * `[0, upTo)`. */
  def writeWal(path: java.nio.file.Path, upTo: Int = events): Unit = {
    val enc = java.util.Base64.getEncoder
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(path.toFile), UTF_8), 1 << 20)
    try {
      relationFrames.foreach { f => w.write("0 "); w.write(enc.encodeToString(f)); w.newLine() }
      var i = 0
      while (i < upTo) {
        val l = lsn(i).toString
        frames(i).foreach { f => w.write(l); w.write(' '); w.write(enc.encodeToString(f)); w.newLine() }
        i += 1
      }
    } finally w.close()
  }
}

object Gen {
  final case class Tbl(schema: String, name: String, oid: Int, cols: Seq[String]) {
    def isUsers: Boolean = name == "users"
  }

  val Tables: IndexedSeq[Tbl] = for {
    (schema, s) <- IndexedSeq("schema1", "schema2").zipWithIndex
    (name, cols, t) <- IndexedSeq(("users", Seq("id", "full_name"), 0),
      ("user_favorite_colors", Seq("user_id", "favorite_color"), 1))
  } yield Tbl(schema, name, 16400 + 2 * s + t, cols)

  val Colors: IndexedSeq[String] =
    IndexedSeq("red", "orange", "yellow", "green", "blue", "indigo", "violet", "black")

  val BaseTsMs = 1700000000000L

  def relationFrames: Seq[Array[Byte]] =
    Tables.map(t => PgOutput.relation(t.oid, t.schema, t.name, t.cols))
}

/** Encoder for the pgoutput messages the load uses (the public PostgreSQL
  * logical-replication format; big-endian, text tuples). The benchmark
  * keeps its own encoder so its inputs do not depend on the engine. */
object PgOutput {
  private val PgEpochMs = 946684800000L

  private def build(size: Int)(fill: ByteBuffer => Unit): Array[Byte] = {
    val b = ByteBuffer.allocate(size); fill(b)
    java.util.Arrays.copyOf(b.array(), b.position())
  }
  private def cstr(b: ByteBuffer, s: String): Unit = { b.put(s.getBytes(UTF_8)); b.put(0: Byte) }
  private def tupleSize(vs: Seq[String]): Int = 2 + vs.map(5 + _.getBytes(UTF_8).length).sum
  private def tuple(b: ByteBuffer, vs: Seq[String]): Unit = {
    b.putShort(vs.length.toShort)
    vs.foreach { v =>
      val bytes = v.getBytes(UTF_8)
      b.put('t': Byte); b.putInt(bytes.length); b.put(bytes)
    }
  }

  def relation(oid: Int, ns: String, name: String, cols: Seq[String]): Array[Byte] =
    build(64 + 4 * (ns.length + name.length) + cols.map(12 + 4 * _.length).sum) { b =>
      b.put('R': Byte); b.putInt(oid); cstr(b, ns); cstr(b, name)
      b.put('f': Byte); b.putShort(cols.length.toShort)
      cols.foreach { c => b.put(1: Byte); cstr(b, c); b.putInt(25); b.putInt(-1) }
    }

  def begin(xid: Int, tsMs: Long): Array[Byte] = build(21) { b =>
    b.put('B': Byte); b.putLong(0L); b.putLong((tsMs - PgEpochMs) * 1000L); b.putInt(xid)
  }

  def commit(): Array[Byte] = build(26) { b =>
    b.put('C': Byte); b.put(0: Byte); b.putLong(0L); b.putLong(0L); b.putLong(0L)
  }

  def insert(oid: Int, row: Seq[String]): Array[Byte] = build(6 + tupleSize(row)) { b =>
    b.put('I': Byte); b.putInt(oid); b.put('N': Byte); tuple(b, row)
  }

  def update(oid: Int, old: Seq[String], row: Seq[String]): Array[Byte] =
    build(7 + tupleSize(old) + tupleSize(row)) { b =>
      b.put('U': Byte); b.putInt(oid); b.put('O': Byte); tuple(b, old)
      b.put('N': Byte); tuple(b, row)
    }

  def delete(oid: Int, old: Seq[String]): Array[Byte] = build(6 + tupleSize(old)) { b =>
    b.put('D': Byte); b.putInt(oid); b.put('O': Byte); tuple(b, old)
  }
}
