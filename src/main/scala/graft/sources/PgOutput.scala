package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import graft.cdc.CdcEnvelope

/** Decoder for the PostgreSQL `pgoutput` logical-replication message
  * format (reference source S1 uses plugin "pgoutput", StreamingJob.java:
  * 56; format per the public PostgreSQL protocol documentation,
  * "Logical Replication Message Formats").
  *
  * Messages handled: Begin ('B'), Commit ('C'), Relation ('R'),
  * Insert ('I'), Update ('U'), Delete ('D'), Truncate ('T' — one
  * op='t' envelope per registered relation, Debezium's op set);
  * Origin/Type/Message are skipped. Tuple columns are expected in text
  * format ('t'), with 'n' (null) and 'u' (unchanged-TOAST) handled.
  *
  * A session is stateful: Relation messages register (oid → namespace,
  * table, column names) used by subsequent DML; Begin supplies the
  * transaction's xid and commit timestamp. This mirrors how a real
  * replication client must replay relation metadata before row messages.
  */
final class PgOutputSession(db: String = "experiment",
    initial: PgOutputSession.State = PgOutputSession.State.empty) {

  private final case class Rel(namespace: String, name: String,
      cols: Array[String])

  private val relations = scala.collection.mutable.Map[Int, Rel]()
  initial.relations.foreach { case (oid, (ns, name, cols)) =>
    relations(oid) = Rel(ns, name, cols.toArray)
  }
  private var currentXid: Long = initial.xid
  private var currentTsMs: Long = initial.tsMs

  /** Serializable snapshot of the decoder state — everything a reader must
    * know before decoding frames past a given LSN (the relation catalog +
    * current transaction context). Ships inside an `InputPartition` so
    * parallel range readers seed from the driver's metadata pass instead
    * of each re-decoding the whole log prefix. */
  def state: PgOutputSession.State = PgOutputSession.State(
    relations.map { case (oid, r) =>
      oid -> ((r.namespace, r.name, r.cols.toSeq))
    }.toMap, currentXid, currentTsMs)

  /** Advance session state through a frame WITHOUT decoding row data:
    * only Begin and Relation frames mutate state, and both are
    * recognizable from the tag byte — O(1) skip for DML. This is what
    * makes a driver-side metadata pass over the log cheap. */
  def advanceMeta(frame: Array[Byte], lsn: Long): Unit = {
    val tag = frame(0).toChar
    if (tag == 'B' || tag == 'R') { decode(frame, lsn); () }
  }

  /** Postgres epoch (2000-01-01) → Unix epoch millis offset. */
  private val PG_EPOCH_MS = 946684800000L

  private def cstr(b: ByteBuffer): String = {
    // collect the raw bytes and decode as UTF-8 — identifiers are
    // sent UTF-8 on the wire, and per-byte toChar would read any
    // multi-byte character as Latin-1 mojibake
    val out = new java.io.ByteArrayOutputStream(16)
    var c = b.get()
    while (c != 0) { out.write(c.toInt); c = b.get() }
    new String(out.toByteArray, UTF_8)
  }

  /** Column-name → text-value map; None for a null/unchanged column. */
  private def tupleData(b: ByteBuffer, rel: Rel): Map[String, String] = {
    val n = b.getShort().toInt
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < n) {
      b.get().toChar match {
        case 'n' => // SQL null — omit from image
        case 'u' => // unchanged TOAST — omit (value unknown)
        case 't' =>
          val len = b.getInt()
          val bytes = new Array[Byte](len)
          b.get(bytes)
          out += rel.cols(i) -> new String(bytes, UTF_8)
        case other =>
          throw new IllegalArgumentException(s"unsupported tuple kind '$other'")
      }
      i += 1
    }
    out.result()
  }

  /** Decode one pgoutput frame received at `lsn`. Returns the change
    * envelopes it yields (DML frames produce one; Begin/Commit/Relation
    * produce none but update session state). */
  def decode(frame: Array[Byte], lsn: Long): Seq[CdcEnvelope] = {
    val b = ByteBuffer.wrap(frame) // pgoutput is big-endian (network order)
    b.get().toChar match {
      case 'B' => // Begin: final LSN (8), commit ts (8, µs since PG epoch), xid (4)
        b.getLong()
        currentTsMs = b.getLong() / 1000L + PG_EPOCH_MS
        currentXid = b.getInt().toLong
        Nil
      case 'C' => // Commit: flags (1), commit LSN (8), end LSN (8), ts (8)
        Nil
      case 'R' => // Relation: oid(4), ns cstr, name cstr, replident(1), ncols(2), cols
        val oid = b.getInt()
        val ns = cstr(b)
        val name = cstr(b)
        b.get() // replica identity
        val ncols = b.getShort().toInt
        val cols = Array.fill(ncols) {
          b.get() // per-column flags
          val cn = cstr(b)
          b.getInt() // type oid
          b.getInt() // type modifier
          cn
        }
        relations(oid) = Rel(ns, name, cols)
        Nil
      case 'I' => // Insert: rel oid (4), 'N', new tuple
        val rel = relations(b.getInt())
        require(b.get().toChar == 'N')
        val after = tupleData(b, rel)
        Seq(env(rel, lsn, "c", before = Map.empty, after = after))
      case 'U' => // Update: rel oid (4), optional 'K'|'O' old tuple, 'N' new tuple
        val rel = relations(b.getInt())
        var before = Map.empty[String, String]
        var kind = b.get().toChar
        if (kind == 'K' || kind == 'O') {
          before = tupleData(b, rel)
          kind = b.get().toChar
        }
        require(kind == 'N', s"expected new tuple, got '$kind'")
        val after = tupleData(b, rel)
        Seq(env(rel, lsn, "u", before, after))
      case 'D' => // Delete: rel oid (4), 'K'|'O' old tuple
        val rel = relations(b.getInt())
        val kind = b.get().toChar
        require(kind == 'K' || kind == 'O', s"expected old tuple, got '$kind'")
        val before = tupleData(b, rel)
        Seq(env(rel, lsn, "d", before, after = Map.empty))
      case 'T' => // Truncate: nrels (4), option bits (1), rel oids (4 each)
        // Debezium's op='t': one envelope per truncated relation, both
        // images empty — the consumer-side meaning is "every key of
        // this table whose latest change precedes this LSN is gone"
        // (the truncate floor; see Changelog/cdc5). Option bits
        // (CASCADE / RESTART IDENTITY) don't change that semantic.
        val nRels = b.getInt()
        b.get() // option bits
        (0 until nRels).flatMap { _ =>
          val oid = b.getInt()
          // a truncate for a never-registered oid (not in the
          // publication) carries no decodable table identity — skip it
          // like any other non-published relation's traffic
          relations.get(oid).map(rel =>
            env(rel, lsn, "t", before = Map.empty, after = Map.empty))
        }
      case 'O' | 'Y' | 'M' => Nil // Origin / Type / Message: skipped
      case other =>
        throw new IllegalArgumentException(s"unknown pgoutput message '$other'")
    }
  }

  private def env(rel: Rel, lsn: Long, op: String,
      before: Map[String, String], after: Map[String, String]): CdcEnvelope =
    CdcEnvelope(lsn, currentXid, currentTsMs, op, db, rel.namespace,
      rel.name, before, after)
}

object PgOutputSession {
  /** See [[PgOutputSession.state]]. `relations`: oid → (namespace, table,
    * column names in attribute order). */
  final case class State(relations: Map[Int, (String, String, Seq[String])],
      xid: Long, tsMs: Long) extends Serializable

  object State {
    /** The state at the log head: no relations, no open transaction. */
    val empty: State = State(Map.empty, 0L, 0L)
  }

  /** Decoder states at partition boundaries: for each exclusive-start LSN
    * in `boundaries` (must be sorted ascending), the state after every
    * frame with `lsn <= boundary`. ONE metadata-only pass over the
    * LSN-ordered log — the index that makes parallel binary replay
    * genuinely parallel: without it each of P range readers re-decodes
    * the whole log to rebuild the relation catalog (O(P × log)); with it
    * the driver walks the log once, skipping DML frames by tag byte, and
    * each reader decodes only its own range. */
  def boundaryStates(frames: Iterator[(Long, Array[Byte])],
      boundaries: Seq[Long]): Seq[State] = {
    val session = new PgOutputSession()
    val out = Vector.newBuilder[State]
    var bi = 0
    // plain while, not a guarded for: once every boundary is emitted the
    // loop must stop PULLING — the frames iterator decodes payloads
    // lazily, and draining it would decode the rest of the log for
    // nothing
    while (bi < boundaries.length && frames.hasNext) {
      val (lsn, frame) = frames.next()
      while (bi < boundaries.length && lsn > boundaries(bi)) {
        out += session.state
        bi += 1
      }
      if (bi < boundaries.length) session.advanceMeta(frame, lsn)
    }
    while (bi < boundaries.length) { out += session.state; bi += 1 }
    out.result()
  }
}

/** Frame builders for tests and fixtures (the encoder side of the same
  * public format — lets specs craft byte-exact replication traffic). */
object PgOutputFrames {
  private val PG_EPOCH_MS = 946684800000L

  private def buf(size: Int) = ByteBuffer.allocate(size)
  private def finish(b: ByteBuffer): Array[Byte] = {
    val out = new Array[Byte](b.position()); b.rewind(); b.get(out); out
  }
  // exact wire sizes — builders size their buffer from content so an
  // arbitrarily large row value or identifier can never overflow a
  // fixed-capacity buffer
  private def cstrSize(s: String): Int = s.getBytes(UTF_8).length + 1
  private def tupleSize(cols: Seq[Option[String]]): Int =
    2 + cols.map {
      case Some(v) => 1 + 4 + v.getBytes(UTF_8).length
      case None => 1
    }.sum
  private def putCstr(b: ByteBuffer, s: String): Unit = {
    b.put(s.getBytes(UTF_8)); b.put(0.toByte)
  }
  private def putTuple(b: ByteBuffer, cols: Seq[Option[String]]): Unit = {
    b.putShort(cols.size.toShort)
    cols.foreach {
      case Some(v) =>
        val bytes = v.getBytes(UTF_8)
        b.put('t'.toByte); b.putInt(bytes.length); b.put(bytes)
      case None => b.put('n'.toByte)
    }
  }

  def begin(xid: Int, tsMs: Long, finalLsn: Long = 0L): Array[Byte] = {
    val b = buf(1 + 8 + 8 + 4)
    b.put('B'.toByte); b.putLong(finalLsn)
    b.putLong((tsMs - PG_EPOCH_MS) * 1000L); b.putInt(xid)
    finish(b)
  }

  def commit(): Array[Byte] = {
    val b = buf(1 + 1 + 24)
    b.put('C'.toByte); b.put(0.toByte)
    b.putLong(0L); b.putLong(0L); b.putLong(0L)
    finish(b)
  }

  def relation(oid: Int, namespace: String, name: String,
      cols: Seq[String]): Array[Byte] = {
    val b = buf(1 + 4 + cstrSize(namespace) + cstrSize(name) + 1 + 2 +
      cols.map(c => 1 + cstrSize(c) + 8).sum)
    b.put('R'.toByte); b.putInt(oid)
    putCstr(b, namespace); putCstr(b, name)
    b.put('f'.toByte) // replica identity full
    b.putShort(cols.size.toShort)
    cols.foreach { c =>
      b.put(1.toByte); putCstr(b, c); b.putInt(25); b.putInt(-1) // text oid
    }
    finish(b)
  }

  def insert(oid: Int, values: Seq[Option[String]]): Array[Byte] = {
    val b = buf(1 + 4 + 1 + tupleSize(values))
    b.put('I'.toByte); b.putInt(oid); b.put('N'.toByte)
    putTuple(b, values)
    finish(b)
  }

  def update(oid: Int, oldValues: Option[Seq[Option[String]]],
      newValues: Seq[Option[String]]): Array[Byte] = {
    val b = buf(1 + 4 + oldValues.map(ov => 1 + tupleSize(ov)).getOrElse(0) +
      1 + tupleSize(newValues))
    b.put('U'.toByte); b.putInt(oid)
    oldValues.foreach { ov => b.put('O'.toByte); putTuple(b, ov) }
    b.put('N'.toByte); putTuple(b, newValues)
    finish(b)
  }

  def delete(oid: Int, oldValues: Seq[Option[String]]): Array[Byte] = {
    val b = buf(1 + 4 + 1 + tupleSize(oldValues))
    b.put('D'.toByte); b.putInt(oid); b.put('O'.toByte)
    putTuple(b, oldValues)
    finish(b)
  }

  def truncate(oids: Seq[Int], optionBits: Byte = 0): Array[Byte] = {
    val b = buf(1 + 4 + 1 + 4 * oids.size)
    b.put('T'.toByte); b.putInt(oids.size); b.put(optionBits)
    oids.foreach(b.putInt)
    finish(b)
  }
}
