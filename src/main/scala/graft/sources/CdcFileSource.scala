package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 CDC source, `format("graft-cdc")` — the Spark-native
  * restatement of the reference's Postgres CDC source (SURVEY §2 S1/S2,
  * StreamingJob.java:44-62): a replication-log reader with LSN offsets,
  * exposed as both a micro-batch stream and a batch table.
  *
  * Two WAL modes (`walFormat` option): "jsonl" (one CDC envelope per
  * line) and "pgoutput" (binary PostgreSQL logical-replication frames,
  * base64 per line, decoded by [[PgOutputSession]]). The file stands in
  * for the replication socket — the container has no Postgres — but
  * everything above the transport is the real production shape:
  * `Offset` = LSN watermark, `planInputPartitions(start, end]` replays
  * the log range in parallel LSN subranges, admission control caps
  * catch-up batches, commit is the confirmed_flush_lsn ack point, and
  * the wire format itself is decoded by the real pgoutput parser.
  *
  * Schema matches [[graft.cdc.CdcEnvelope]] so `.as[CdcEnvelope]` is a
  * no-copy bind.
  */
class CdcFileSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcFileSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcFileTable(CdcOptions(properties))
}

object CdcFileSource {
  val schema: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("txId", LongType, nullable = false),
    StructField("tsMs", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("db", StringType, nullable = true),
    StructField("schema", StringType, nullable = true),
    StructField("table", StringType, nullable = true),
    StructField("before", MapType(StringType, StringType), nullable = true),
    StructField("after", MapType(StringType, StringType), nullable = true)))
}

/** The source's options, parsed and checked once when the table loads:
  *
  *  - `path`: a captured-log file, `graft-wal://host:port` or `pgwal://…`
  *    ([[WalTransport.open]]);
  *  - `walFormat`: "jsonl" (default) or "pgoutput";
  *  - `numPartitions`: LSN-range readers per batch or trigger (default 1);
  *  - `maxEventsPerBatch`: WAL frames admitted per trigger (default: all);
  *  - `malformed`: "fail" (default) or "quarantine" — see
  *    [[CdcFileMicroBatchStream.parse]]. */
final case class CdcOptions(path: String, walFormat: String = "jsonl",
    numPartitions: Int = 1, maxEventsPerBatch: Option[Long] = None,
    malformed: String = "fail") {
  require(path != null, "path is required")
  require(walFormat == "jsonl" || walFormat == "pgoutput",
    s"walFormat must be 'jsonl' or 'pgoutput', got '$walFormat'")
  require(maxEventsPerBatch.forall(_ > 0),
    s"maxEventsPerBatch must be positive, got ${maxEventsPerBatch.get}")
  require(malformed == "fail" || malformed == "quarantine",
    s"malformed must be 'fail' or 'quarantine', got '$malformed'")
}

object CdcOptions {
  def apply(props: util.Map[String, String]): CdcOptions = {
    def opt(key: String): Option[String] = Option(props.get(key))
    val d = CdcOptions(props.get("path"))
    d.copy(walFormat = opt("walFormat").getOrElse(d.walFormat),
      numPartitions = opt("numPartitions").map(_.toInt).getOrElse(d.numPartitions),
      maxEventsPerBatch = opt("maxEventsPerBatch").map(_.toLong).orElse(d.maxEventsPerBatch),
      malformed = opt("malformed").getOrElse(d.malformed))
  }
}

final class CdcFileTable(opts: CdcOptions) extends Table with SupportsRead {
  override def name(): String = s"graft-cdc:${opts.path}"
  override def schema(): StructType = CdcFileSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new CdcFileScan(opts)
}

final class CdcFileScan(opts: CdcOptions) extends Scan {
  override def readSchema(): StructType = CdcFileSource.schema
  override def toBatch: Batch = new Batch {
    // A batch read is one stream trigger over the whole log: the span
    // (first LSN - 1, head] goes through the stream's planner, probed
    // through the transport at plan time — the analog of asking the
    // source for its low/high watermark before a snapshot — so file and
    // socket paths plan identically.
    override def planInputPartitions(): Array[InputPartition] = {
      val t = WalTransport.open(opts.path, opts.walFormat)
      try t.lsns(Long.MinValue).nextOption().fold(Array.empty[InputPartition])(
        first => CdcFileMicroBatchStream.planRanges(t, opts, first - 1, t.headLsn()))
      finally t.close()
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new CdcReaderFactory
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcFileMicroBatchStream(opts)
}

/** LSN watermark offset (reference: Debezium `sourceOffset={lsn=…}`,
  * CustomJob.java:237-240). */
final case class CdcOffset(lsn: Long) extends Offset {
  override def json(): String = lsn.toString
}

final class CdcFileMicroBatchStream(opts: CdcOptions)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}

  // The replication-connection seam: offset probes, range planning and
  // slot acks all go through this one driver-side transport; a socket
  // implementation drops in here.
  private val transport: WalTransport = WalTransport.open(opts.path, opts.walFormat)

  override def initialOffset(): Offset = CdcOffset(0L)

  override def latestOffset(): Offset = CdcOffset(transport.headLsn())

  /** Admission control: cap each micro-batch at `maxEventsPerBatch` WAL
    * frames (backpressure against replication-lag catch-up storms —
    * without it the first batch after downtime replays the whole backlog
    * in one trigger). The cap counts frames, not change events: a
    * pgoutput transaction of one row is three frames (Begin, DML,
    * Commit), and a trigger always ends on a whole LSN. */
  override def getDefaultReadLimit: ReadLimit =
    opts.maxEventsPerBatch.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CdcOffset].lsn
    limit match {
      case mr: ReadMaxRows =>
        // lsns() is the payload-free probe; stop after N frames.
        CdcOffset(transport.lsns(s).take(mr.maxRows().toInt).foldLeft(s)((_, l) => l))
      case _ =>
        // Unthrottled: the head probe answers directly — no LSN list,
        // no payload transfer.
        CdcOffset(math.max(s, transport.headLsn()))
    }
  }

  /** The last trigger's plan: Spark asks for one trigger's partitions
    * several times (once per physical planning of the micro-batch), and
    * each plan reads the log prefix for decoder states. A restart builds
    * a new stream, so the memo starts empty there. */
  private var lastPlan: Option[((Long, Long), Array[InputPartition])] = None

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    synchronized {
      val span = (start.asInstanceOf[CdcOffset].lsn, end.asInstanceOf[CdcOffset].lsn)
      lastPlan.collect { case (`span`, plan) => plan }.getOrElse {
        val plan = CdcFileMicroBatchStream.planRanges(transport, opts, span._1, span._2)
        lastPlan = Some(span -> plan)
        plan
      }
    }

  override def createReaderFactory(): PartitionReaderFactory = new CdcReaderFactory
  override def deserializeOffset(json: String): Offset = CdcOffset(json.toLong)
  override def commit(end: Offset): Unit =
    transport.ack(end.asInstanceOf[CdcOffset].lsn) // confirmed_flush_lsn
  override def stop(): Unit = transport.close()
}

object CdcFileMicroBatchStream {
  private val mapper = new ObjectMapper()

  /** The LSN range `(lo, hi]` as at most `numPartitions` contiguous
    * subranges, one replay reader each (the real source's analog: one
    * reader per slot range / table shard); batch reads and stream
    * triggers both plan here. The span is BigInt arithmetic: a first
    * trigger from offset 0 on a live slot spans the slot's whole LSN,
    * and a batch span may start at any Long.
    *
    * pgoutput ranges carry the decoder state at their start (relation
    * catalog + tx context): ONE metadata pass over `t` up to the last
    * boundary ([[PgOutputSession.boundaryStates]]) serves every range,
    * so each reader decodes only its own span — O(log) planning instead
    * of O(partitions × log) reader work, and a range at the log head
    * carries the empty state. jsonl is stateless. */
  private[sources] def planRanges(t: WalTransport, opts: CdcOptions, lo: Long,
      hi: Long): Array[InputPartition] = {
    if (hi <= lo) return Array.empty
    val span = BigInt(hi) - lo
    val n = span.min(opts.numPartitions).max(1).toInt
    val width = ((span + n - 1) / n).max(1)
    val bounds = (0 to n).map(i => (width * i + lo).min(hi).toLong).distinct
    val starts = bounds.init
    val states =
      if (opts.walFormat == "pgoutput")
        PgOutputSession.boundaryStates(t.frames(Long.MinValue, starts.last), starts)
      else starts.map(_ => PgOutputSession.State.empty)
    starts.indices.map(i =>
      CdcRangePartition(opts, bounds(i), bounds(i + 1), states(i))).toArray
  }

  /** Cheap LSN extraction from a jsonl envelope line — the LSN index is
    * scanned far more often than full envelopes are materialized (offset
    * planning, range pruning), so it must not pay a full JSON parse.
    * Falls back to the parser for lines where "lsn" is not textually
    * first-positioned. */
  private[sources] def lsnOf(l: String): Long = {
    val k = l.indexOf("\"lsn\":")
    if (k < 0) return mapper.readTree(l).get("lsn").asLong()
    var i = k + 6
    while (i < l.length && l.charAt(i) == ' ') i += 1
    var v = 0L; var neg = false
    if (i < l.length && l.charAt(i) == '-') { neg = true; i += 1 }
    var digits = 0
    while (i < l.length && l.charAt(i) >= '0' && l.charAt(i) <= '9') {
      v = v * 10 + (l.charAt(i) - '0'); i += 1; digits += 1
    }
    if (digits == 0) mapper.readTree(l).get("lsn").asLong()
    else if (neg) -v else v
  }

  def envelopeToRow(e: graft.cdc.CdcEnvelope): InternalRow = {
    def mapOf(m: Map[String, String]) = {
      val entries = m.toSeq
      new ArrayBasedMapData(
        new GenericArrayData(entries.map(kv => UTF8String.fromString(kv._1)).toArray[Any]),
        new GenericArrayData(entries.map(kv => UTF8String.fromString(kv._2)).toArray[Any]))
    }
    new GenericInternalRow(Array[Any](
      e.lsn, e.txId, e.tsMs, UTF8String.fromString(e.op),
      UTF8String.fromString(e.db), UTF8String.fromString(e.schema),
      UTF8String.fromString(e.table), mapOf(e.before), mapOf(e.after)))
  }

  /** Parses one jsonl envelope line. `malformed` policy for a line that
    * is not a well-formed envelope (broken JSON, or missing any of the
    * non-nullable lsn/txId/tsMs/op fields):
    *
    *  - "fail" (default): error with the offending content — a corrupt
    *    replication log is a stop-the-world event unless opted out.
    *  - "quarantine": emit a DLQ row instead — op='bad',
    *    table='_quarantine', raw line preserved in after['raw'], placed
    *    at `lsnHint` (the position the range planner indexed the line
    *    at). One corrupt line must not kill hour three of a 100 TB
    *    replay: typed consumers already drop unknown tables (the T3
    *    demux contract), so quarantine rows flow ONLY to whoever
    *    filters for them, and offsets advance past the damage.
    */
  def parse(line: String, lsnHint: Long, malformed: String): InternalRow = {
    try {
      val n = mapper.readTree(line)
      def str(field: String) =
        Option(n.get(field)).filterNot(_.isNull)
          .map(v => UTF8String.fromString(v.asText())).orNull
      def mapOf(field: String) = {
        val obj = Option(n.get(field)).filterNot(_.isNull)
        val fields = obj.map(_.properties().asScala.toSeq).getOrElse(Seq.empty)
        new ArrayBasedMapData(
          new GenericArrayData(fields.map(e => UTF8String.fromString(e.getKey)).toArray[Any]),
          new GenericArrayData(fields.map(e => UTF8String.fromString(e.getValue.asText())).toArray[Any]))
      }
      def num(field: String): Long = {
        val v = n.get(field)
        require(v != null && v.isNumber, s"missing/non-numeric '$field'")
        v.asLong()
      }
      val op = str("op")
      require(op != null, "missing 'op'")
      new GenericInternalRow(Array[Any](
        num("lsn"), num("txId"), num("tsMs"),
        op, str("db"), str("schema"), str("table"),
        mapOf("before"), mapOf("after")))
    } catch {
      case scala.util.control.NonFatal(e) if malformed == "quarantine" =>
        val raw = UTF8String.fromString(line.take(8192))
        new GenericInternalRow(Array[Any](
          lsnHint, -1L, -1L, UTF8String.fromString("bad"),
          null, null, UTF8String.fromString("_quarantine"),
          new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]),
            new GenericArrayData(Array.empty[Any])),
          new ArrayBasedMapData(
            new GenericArrayData(Array[Any](UTF8String.fromString("raw"))),
            new GenericArrayData(Array[Any](raw)))))
      case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"malformed CDC envelope at lsn~$lsnHint (set malformed=" +
            s"'quarantine' to route to the _quarantine table): " +
            s"${line.take(200)}", e)
    }
  }
}

/** One LSN-range replay reader. For pgoutput, `state` is the decoder
  * state at `startExclusive` from the planner's one metadata pass, so the
  * reader decodes ONLY its range. */
final case class CdcRangePartition(opts: CdcOptions, startExclusive: Long,
    endInclusive: Long, state: PgOutputSession.State) extends InputPartition

final class CdcReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcRangePartition]
    val transport = WalTransport.open(p.opts.path, p.opts.walFormat)
    // Both range bounds travel to the transport, so only this reader's
    // span is transferred/decoded (socket servers stop at the end bound;
    // the file impl slices its index).
    val frames = transport.frames(p.startExclusive, p.endInclusive)
    val rows: Iterator[InternalRow] =
      if (p.opts.walFormat == "pgoutput") {
        val session = new PgOutputSession(initial = p.state)
        frames.flatMap { case (lsn, frame) => session.decode(frame, lsn) }
          .map(CdcFileMicroBatchStream.envelopeToRow)
      } else
        frames.map { case (lsn, bytes) => CdcFileMicroBatchStream.parse(
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8),
          lsn, p.opts.malformed) }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = transport.close()
    }
  }
}
