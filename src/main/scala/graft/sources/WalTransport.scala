package graft.sources

/** Transport abstraction over the logical-replication connection — the
  * seam between "how frames arrive" and "what they mean" (decoding stays
  * in [[PgOutputSession]] / the jsonl parser regardless of transport).
  *
  * The production implementation is [[PgWalTransport]]: the real
  * walsender conversation against a live PostgreSQL server
  * (`START_REPLICATION SLOT ... LOGICAL`, XLogData frames in,
  * standby-status acks out — reference source S1's connector does
  * exactly this under Debezium, StreamingJob.java:44-62), exercised
  * end-to-end by PgLiveReplicationSpec against a cluster it provisions.
  * [[FileWalTransport]] replays a captured log with identical semantics
  * for deterministic fixtures: LSN-ordered frames, a head-LSN probe for
  * offset planning, and an ack that stands in for confirmed_flush_lsn.
  * Everything above this trait (offset math, range partitioning,
  * admission control, decoders) is transport-agnostic.
  */
trait WalTransport extends java.io.Closeable {
  /** Frames with lsn in `(afterLsn, endInclusive]`, in LSN order. Both
    * bounds travel to the implementation so a range reader's request
    * transfers/decodes only its own span (a socket server stops at the
    * end bound; the file impl prunes before payload decode). Stateful
    * decoders (pgoutput Relation/Begin metadata) seed from a
    * planner-supplied state or pass `Long.MinValue`. */
  def frames(afterLsn: Long,
      endInclusive: Long = Long.MaxValue): Iterator[(Long, Array[Byte])]

  /** LSNs of frames past `afterLsn`, in order — the offset-planning /
    * admission-control probe. Default pulls (and so may decode) full
    * frames; implementations with a cheaper LSN-only path override. */
  def lsns(afterLsn: Long): Iterator[Long] = frames(afterLsn).map(_._1)

  /** Highest LSN currently available — the `latestOffset` probe. */
  def headLsn(): Long

  /** Acknowledge durable processing through `lsn` (the replication
    * slot's confirmed_flush_lsn advance; lets upstream discard WAL). */
  def ack(lsn: Long): Unit

  override def close(): Unit = ()
}

object WalTransport {
  /** URL scheme selecting the socket transport: `graft-wal://host:port`. */
  val SocketScheme = "graft-wal://"

  /** URL scheme selecting the LIVE PostgreSQL replication transport:
    * `pgwal://host:port/db?slot=<slot>&publication=<pub>[&user=<u>]`. */
  val PgScheme = "pgwal://"

  /** Transport for a `path` option value: `graft-wal://host:port` opens a
    * live socket connection (one per call — the stream's driver-side probe
    * and every partition reader hold their own connection, exactly like
    * replication clients hold their own walsender sessions);
    * `pgwal://host:port/db?slot=…&publication=…` tails a REAL PostgreSQL
    * replication slot over the v3 wire protocol ([[PgWalTransport]]);
    * anything else is a captured-log file. `walFormat` ("jsonl" |
    * "pgoutput") is a decoder concern — the socket carries opaque frames
    * either way (a pgwal transport always carries pgoutput). */
  def open(path: String, walFormat: String): WalTransport =
    if (path.startsWith(PgScheme)) {
      val uri = java.net.URI.create(path)
      val q = Option(uri.getQuery).getOrElse("").split('&')
        .filter(_.contains('=')).map { kv =>
          val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1)
        }.toMap
      new PgWalTransport(uri.getHost, uri.getPort,
        Option(uri.getPath).map(_.stripPrefix("/")).filter(_.nonEmpty)
          .getOrElse("postgres"),
        q.getOrElse("user", "postgres"),
        q.getOrElse("slot", sys.error(s"pgwal url needs slot=: $path")),
        q.getOrElse("publication", sys.error(s"pgwal url needs publication=: $path")))
    } else if (path.startsWith(SocketScheme)) {
      val hp = path.stripPrefix(SocketScheme)
      val i = hp.lastIndexOf(':')
      require(i > 0, s"expected ${SocketScheme}host:port, got $path")
      new SocketWalTransport(hp.substring(0, i), hp.substring(i + 1).toInt)
    } else new FileWalTransport(path, walFormat)
}

/** Client side of the replication socket — the wire shape is the walsender
  * conversation reduced to its verbs (reference StreamingJob.java:44-62
  * tails a live Postgres this way via its connector):
  *
  *  - `'S' afterLsn endInclusive` — START_REPLICATION over an LSN range;
  *    the server answers zero or more `'w' lsn len bytes` frames
  *    (XLogData: the same tag byte, LSN header, then the payload the
  *    decoder sees) and terminates the burst with `'c'` (CopyDone
  *    analog — "caught up"). The end bound is what keeps P parallel
  *    range readers at O(log) total transfer instead of O(P × tail).
  *  - `'L' afterLsn` — LSN-only listing (offset planning / admission
  *    control); answered `'l' n lsn*n` — no payload bytes travel.
  *  - `'H'` — head-LSN probe (IDENTIFY_SYSTEM's current flush location);
  *    answered `'h' lsn`.
  *  - `'r' lsn` — Standby Status Update: confirmed durable through `lsn`
  *    (lets the server discard WAL). Fire-and-forget, as on the wire.
  *
  * All multi-byte integers big-endian (network order, as in the real
  * protocol). One request/response at a time per connection — calls are
  * synchronized; concurrency comes from many connections, not from
  * multiplexing one. Bursts are buffered before return (bounded by the
  * requested range) so the connection is never left mid-conversation. */
final class SocketWalTransport(host: String, port: Int) extends WalTransport {
  private val sock = new java.net.Socket(host, port)
  private val out = new java.io.DataOutputStream(
    new java.io.BufferedOutputStream(sock.getOutputStream))
  private val in = new java.io.DataInputStream(
    new java.io.BufferedInputStream(sock.getInputStream))

  override def frames(afterLsn: Long,
      endInclusive: Long = Long.MaxValue): Iterator[(Long, Array[Byte])] =
    synchronized {
      out.writeByte('S'); out.writeLong(afterLsn); out.writeLong(endInclusive)
      out.flush()
      val buf = Vector.newBuilder[(Long, Array[Byte])]
      var tag = in.readByte().toChar
      while (tag == 'w') {
        val lsn = in.readLong()
        val bytes = new Array[Byte](in.readInt())
        in.readFully(bytes)
        buf += lsn -> bytes
        tag = in.readByte().toChar
      }
      require(tag == 'c', s"walsender protocol error: expected 'c', got '$tag'")
      buf.result().sortBy(_._1).iterator
    }

  override def lsns(afterLsn: Long): Iterator[Long] = synchronized {
    out.writeByte('L'); out.writeLong(afterLsn); out.flush()
    val tag = in.readByte().toChar
    require(tag == 'l', s"walsender protocol error: expected 'l', got '$tag'")
    val n = in.readInt()
    val arr = new Array[Long](n)
    var i = 0
    while (i < n) { arr(i) = in.readLong(); i += 1 }
    java.util.Arrays.sort(arr)
    arr.iterator
  }

  override def headLsn(): Long = synchronized {
    out.writeByte('H'); out.flush()
    val tag = in.readByte().toChar
    require(tag == 'h', s"walsender protocol error: expected 'h', got '$tag'")
    in.readLong()
  }

  override def ack(lsn: Long): Unit = synchronized {
    out.writeByte('r'); out.writeLong(lsn); out.flush()
  }

  override def close(): Unit = sock.close()
}

/** Per-JVM byte-offset index of a WAL capture file: one streaming pass
  * records each non-empty line's (lsn, byte offset, byte length), sorted
  * once by (lsn, offset); every later probe or range read is a binary
  * search into that order.
  *
  * Why it exists: without it, EVERY range reader of EVERY micro-batch
  * re-read and line-split the whole file — O(partitions × batches ×
  * file) I/O that the r8 scale curve priced at ~10 MB/s/thread on the
  * jsonl path (cdc1's whole cost). With the index the file is scanned
  * once per (executor JVM, file version) and each reader transfers only
  * its own range — the replication-slot analog of "start streaming at
  * LSN X", which a file stand-in must emulate with seeks. Admission
  * probes (`lsns`, `headLsn`) are slices of the sorted arrays, which
  * matters because the driver issues them on every trigger.
  *
  * Cache keyed by path and validated by (length, mtime): a regenerated
  * fixture misses and rebuilds. Entries are three primitive arrays —
  * ~20 bytes/line, two orders of magnitude under the payload they
  * index. Offsets are BYTE offsets (multi-byte UTF-8 safe: the scan
  * counts raw bytes, never chars). */
object WalIndex {
  /** Parallel arrays in (lsn, file offset) order: file order survives
    * within an LSN (Begin/DML/Commit share their transaction's LSN). */
  final case class Idx(lsns: Array[Long], offs: Array[Long], lens: Array[Int],
      fileLen: Long, mtime: Long) {
    /** Position of the first entry with an LSN past `lsn`. */
    def after(lsn: Long): Int = {
      var lo = 0; var hi = lsns.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (lsns(mid) <= lsn) lo = mid + 1 else hi = mid
      }
      lo
    }

    def maxLsn: Long = if (lsns.isEmpty) 0L else lsns(lsns.length - 1)
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Idx]()

  def of(path: String, walFormat: String): Idx = {
    val f = new java.io.File(path)
    val len = f.length(); val mt = f.lastModified()
    val hit = cache.get(path)
    if (hit != null && hit.fileLen == len && hit.mtime == mt) hit
    else {
      val built = build(f, walFormat)
      cache.put(path, built)
      built
    }
  }

  private def build(f: java.io.File, walFormat: String): Idx = {
    val lsns = scala.collection.mutable.ArrayBuilder.make[Long]
    val offs = scala.collection.mutable.ArrayBuilder.make[Long]
    val lens = scala.collection.mutable.ArrayBuilder.make[Int]
    if (!f.exists())
      return Idx(lsns.result(), offs.result(), lens.result(), -1L, -1L)
    val in = new java.io.BufferedInputStream(
      new java.io.FileInputStream(f), 1 << 20)
    // Same malformed-lsn policy as the line reader: a line whose LSN
    // can't be determined indexes at its predecessor's LSN (rides the
    // same range; the reader's `malformed` policy then applies). Lines
    // before the first parseable LSN take that LSN instead, so they sit
    // inside the log's span for batch and stream alike (at 1 in a log
    // with no parseable LSN at all — the first a fresh stream reads).
    var leading = 0 // lines before the first parseable LSN
    try {
      val line = new java.io.ByteArrayOutputStream(256)
      var off = 0L
      var lineStart = 0L
      var prev = 0L
      def flush(): Unit = if (line.size() > 0) {
        val bytes = line.toByteArray
        val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        prev =
          try {
            if (walFormat == "pgoutput") s.substring(0, s.indexOf(' ')).toLong
            else CdcFileMicroBatchStream.lsnOf(s)
          } catch {
            case scala.util.control.NonFatal(_) =>
              if (lens.length == leading) leading += 1
              prev
          }
        lsns += prev; offs += lineStart; lens += bytes.length
        line.reset()
      }
      var b = in.read()
      while (b >= 0) {
        if (b == '\n') { flush(); lineStart = off + 1 }
        else line.write(b)
        off += 1
        b = in.read()
      }
      flush()
    } finally in.close()
    val l = lsns.result(); val o = offs.result(); val n = lens.result()
    java.util.Arrays.fill(l, 0, leading, if (leading < l.length) l(leading) else 1L)
    // Stable by LSN: offsets ascend in file order, so ties keep it.
    val order = Array.range(0, l.length).sortBy(l(_))
    Idx(order.map(l), order.map(o), order.map(n), f.length(), f.lastModified())
  }

  /** Materialize the lines with LSN in `(afterLsn, endInclusive]`: two
    * binary searches bound the slice, one mmap of the file, then a
    * positional copy per line — no per-line syscalls, and only the
    * selected spans' pages fault in. Output is in index order. */
  def linesInRange(path: String, walFormat: String, afterLsn: Long,
      endInclusive: Long): IndexedSeq[(Long, Array[Byte])] = {
    val idx = of(path, walFormat)
    val from = idx.after(afterLsn)
    val until = idx.after(endInclusive)
    if (from >= until) return Vector.empty
    // MappedByteBuffer positions are int-bounded; a >2 GB capture file
    // would need chunked maps (real deployments segment WAL far below
    // that, as Postgres does at 16 MB).
    require(idx.fileLen <= Int.MaxValue,
      s"WAL capture $path exceeds 2GB — segment it")
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(path), java.nio.file.StandardOpenOption.READ)
    try {
      val map = ch.map(
        java.nio.channels.FileChannel.MapMode.READ_ONLY, 0, idx.fileLen)
      (from until until).map { k =>
        val bytes = new Array[Byte](idx.lens(k))
        map.position(idx.offs(k).toInt)
        map.get(bytes)
        idx.lsns(k) -> bytes
      }
    } finally ch.close()
  }
}

/** Captured-log replay: each line is one frame — `<lsn> <base64(bytes)>`
  * for pgoutput, a JSON envelope (frame = line bytes) for jsonl. Acks are
  * recorded but nothing is discarded (a file is its own retention). */
final class FileWalTransport(path: String, walFormat: String)
    extends WalTransport {
  @volatile private var acked = Long.MinValue

  /** Range reads ride [[WalIndex]]: the file is scanned once per JVM,
    * then each reader seeks straight to its span and decodes only its
    * own payloads (base64 for pgoutput, raw line bytes for jsonl) — P
    * parallel range readers transfer O(Σ ranges), not O(P × log). */
  override def frames(afterLsn: Long,
      endInclusive: Long = Long.MaxValue): Iterator[(Long, Array[Byte])] = {
    val lines = WalIndex.linesInRange(path, walFormat, afterLsn, endInclusive)
    if (walFormat == "pgoutput")
      lines.iterator.map { case (lsn, l) =>
        val s = new String(l, java.nio.charset.StandardCharsets.UTF_8)
        lsn -> java.util.Base64.getDecoder.decode(s.substring(s.indexOf(' ') + 1))
      }
    else lines.iterator
  }

  override def lsns(afterLsn: Long): Iterator[Long] = {
    val idx = WalIndex.of(path, walFormat)
    idx.lsns.view.slice(idx.after(afterLsn), idx.lsns.length).iterator
  }

  override def headLsn(): Long = WalIndex.of(path, walFormat).maxLsn

  override def ack(lsn: Long): Unit = acked = math.max(acked, lsn)

  /** Observable for specs; a socket transport would have sent this
    * watermark upstream in a standby status update. */
  def ackedLsn: Long = acked
}
