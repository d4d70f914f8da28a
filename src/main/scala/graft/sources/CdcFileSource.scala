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
      properties: util.Map[String, String]): Table = {
    val malformed = Option(properties.get("malformed")).getOrElse("fail")
    require(malformed == "fail" || malformed == "quarantine",
      s"malformed must be 'fail' or 'quarantine', got '$malformed'")
    new CdcFileTable(properties.get("path"),
      Option(properties.get("numPartitions")).map(_.toInt).getOrElse(1),
      Option(properties.get("maxEventsPerBatch")).map(_.toLong),
      Option(properties.get("walFormat")).getOrElse("jsonl"),
      malformed)
  }
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

final class CdcFileTable(path: String, numPartitions: Int,
    maxEventsPerBatch: Option[Long], walFormat: String,
    malformed: String = "fail")
    extends Table with SupportsRead {
  override def name(): String = s"graft-cdc:$path"
  override def schema(): StructType = CdcFileSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new CdcFileScan(path, numPartitions, maxEventsPerBatch, walFormat,
      malformed)
}

final class CdcFileScan(path: String, numPartitions: Int,
    maxEventsPerBatch: Option[Long], walFormat: String,
    malformed: String = "fail") extends Scan {
  override def readSchema(): StructType = CdcFileSource.schema
  override def toBatch: Batch = new Batch {
    // Batch replay parallelizes the same way the stream does: contiguous
    // LSN subranges, one reader per range (`numPartitions` option). The
    // LSN span is probed through the transport at plan time — the analog
    // of asking the source for its low/high watermark before a snapshot —
    // so file and socket paths plan identically.
    override def planInputPartitions(): Array[InputPartition] = {
      val t = WalTransport.open(path, walFormat)
      val lsns = try t.lsns(Long.MinValue).toVector finally t.close()
      if (lsns.isEmpty || numPartitions <= 1)
        Array(CdcRangePartition(path, Long.MinValue, Long.MaxValue, walFormat,
          malformed = malformed))
      else
        CdcFileMicroBatchStream.planRanges(path, walFormat, malformed,
          numPartitions, lsns.min - 1, lsns.max)
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new CdcReaderFactory
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcFileMicroBatchStream(path, numPartitions, maxEventsPerBatch,
      walFormat, malformed)
}

/** LSN watermark offset (reference: Debezium `sourceOffset={lsn=…}`,
  * CustomJob.java:237-240). */
final case class CdcOffset(lsn: Long) extends Offset {
  override def json(): String = lsn.toString
}

final class CdcFileMicroBatchStream(path: String, numPartitions: Int = 1,
    maxEventsPerBatch: Option[Long] = None, walFormat: String = "jsonl",
    malformed: String = "fail")
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}

  // The replication-connection seam: offset probes and slot acks go
  // through the transport; a socket implementation drops in here.
  private val transport: WalTransport = WalTransport.open(path, walFormat)

  override def initialOffset(): Offset = CdcOffset(0L)

  override def latestOffset(): Offset = CdcOffset(transport.headLsn())

  /** Admission control: cap each micro-batch at maxEventsPerBatch change
    * events (backpressure against replication-lag catch-up storms —
    * without it the first batch after downtime replays the whole backlog
    * in one trigger). */
  override def getDefaultReadLimit: ReadLimit =
    maxEventsPerBatch.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CdcOffset].lsn
    limit match {
      case mr: ReadMaxRows =>
        // Admission control needs the LSN list (to stop after N events);
        // lsns() is the payload-free probe.
        val lsns = transport.lsns(s).take(mr.maxRows().toInt).toSeq
        if (lsns.isEmpty) CdcOffset(s) else CdcOffset(lsns.last)
      case _ =>
        // Unthrottled: the head probe answers directly — no LSN list,
        // no payload transfer.
        CdcOffset(math.max(s, transport.headLsn()))
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CdcOffset].lsn
    val e = end.asInstanceOf[CdcOffset].lsn
    if (e <= s) Array.empty
    else CdcFileMicroBatchStream.planRanges(path, walFormat, malformed,
      numPartitions, s, e)
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
    * reader per slot range / table shard). Long arithmetic throughout: a
    * first trigger from offset 0 on a live slot spans the slot's whole
    * LSN, far past `Int.MaxValue` bytes. */
  private[sources] def planRanges(path: String, walFormat: String,
      malformed: String, numPartitions: Int, lo: Long,
      hi: Long): Array[InputPartition] = {
    val n = math.max(1L, math.min(numPartitions.toLong, hi - lo)).toInt
    val width = math.max(1L, (hi - lo + n - 1) / n)
    val parts = (0 until n).iterator
      .map(i => CdcRangePartition(path, lo + i * width,
        math.min(hi, lo + (i + 1) * width), walFormat,
        malformed = malformed))
      .filter(p => p.endInclusive > p.startExclusive)
      .toArray
    attachPgStates(path, walFormat, parts)
  }

  /** For pgoutput multi-range plans: ONE driver-side metadata pass over
    * the log computes the decoder state at each range boundary
    * ([[PgOutputSession.boundaryStates]]), so each range reader decodes
    * only its own LSN span — O(log) total planning instead of
    * O(partitions × log) reader work. jsonl is stateless: pass-through. */
  private def attachPgStates(path: String, walFormat: String,
      parts: Array[CdcRangePartition]): Array[InputPartition] =
    // Also worthwhile for a SINGLE partition when its range starts past
    // the log head (an incremental micro-batch, or a restart from a
    // checkpointed LSN): without a state the reader must re-decode the
    // whole prefix every batch just to rebuild the relation catalog.
    if (walFormat != "pgoutput" || parts.isEmpty ||
        parts.forall(_.startExclusive == Long.MinValue))
      parts.toArray[InputPartition]
    else {
      val boundaries = parts.map(_.startExclusive).toSeq
      val t = WalTransport.open(path, walFormat)
      // Only the prefix up to the LAST boundary can affect any state —
      // bound the pull so a socket server never ships the final range.
      val states = try PgOutputSession.boundaryStates(
        t.frames(Long.MinValue, boundaries.max), boundaries)
      finally t.close()
      parts.zip(states).map { case (p, s) => p.copy(preState = Some(s)) }
        .toArray[InputPartition]
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

/** One LSN-range replay reader. For pgoutput, `preState` carries the
  * decoder state at `startExclusive` (relation catalog + tx context) from
  * the driver's one metadata pass, so the reader decodes ONLY its range;
  * absent (single partition / legacy), the reader falls back to decoding
  * the log from the beginning and filtering. */
final case class CdcRangePartition(path: String, startExclusive: Long,
    endInclusive: Long, walFormat: String = "jsonl",
    preState: Option[PgOutputSession.State] = None,
    malformed: String = "fail") extends InputPartition

final class CdcReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcRangePartition]
    val transport = WalTransport.open(p.path, p.walFormat)
    val rows: Iterator[InternalRow] =
      if (p.walFormat == "pgoutput") {
        // Binary pgoutput frames need Relation/Begin metadata from earlier
        // in the log. With a planner-supplied preState the reader seeds
        // the session and pulls ONLY its range from the transport; without
        // one (single partition) it decodes from the beginning and filters.
        val session = new PgOutputSession(initial = p.preState)
        // Both range bounds travel to the transport, so only this
        // reader's span is transferred/decoded (socket servers stop at
        // the end bound; the file impl prunes before payload decode).
        val src =
          if (p.preState.isDefined)
            transport.frames(p.startExclusive, p.endInclusive)
          else transport.frames(Long.MinValue, p.endInclusive)
        src.flatMap { case (lsn, frame) => session.decode(frame, lsn) }
          .filter(e => e.lsn > p.startExclusive && e.lsn <= p.endInclusive)
          .map(CdcFileMicroBatchStream.envelopeToRow)
      } else {
        // jsonl is stateless — range-prune entirely at the transport.
        transport.frames(p.startExclusive, p.endInclusive)
          .map { case (lsn, bytes) => CdcFileMicroBatchStream.parse(
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8),
            lsn, p.malformed) }
      }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = transport.close()
    }
  }
}
