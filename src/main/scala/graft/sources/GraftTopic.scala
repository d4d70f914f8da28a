package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.{streaming => rstreaming}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Keyed-topic sink/source, `format("graft-topic")` — the Kafka/Pulsar-
  * shaped boundary the reference's K1 sink writes through (FlinkPulsarSink,
  * CustomJob.java:93-118) and its S3 upsert source reads back
  * (CustomJob.java:156-174). The broker is in-memory (no Kafka/Pulsar in
  * the container), but the Spark-facing surface is the production shape:
  *
  *  - STREAMING write of a `(key, value)` frame with the real DSv2
  *    commit protocol — executors buffer and return rows in commit
  *    messages, the driver appends atomically per epoch, and replayed
  *    epochs are skipped (commit is idempotent per (queryId, epochId),
  *    which is exactly Spark's at-least-once → effectively-once sink
  *    contract).
  *  - Sequence ids are assigned at commit, monotone per topic — the
  *    `sequenceId METADATA` analog of the reference's Pulsar table
  *    (CustomJob.java:162-165) — and batch reads expose
  *    `(key, value, topic, sequenceId)`, so the changelog-compaction
  *    path can consume a topic exactly like the reference's
  *    `upsert-pulsar` source (latest sequenceId per key wins).
  */
class GraftTopicProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-topic"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TopicStore.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftTopicTable(properties.get("topic"))
}

object TopicStore {
  val schema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("topic", StringType),
    StructField("sequenceId", LongType)))

  final case class Msg(key: String, value: String, topic: String,
      sequenceId: Long)

  private val topics = new ConcurrentHashMap[String, ArrayBuffer[Msg]]()
  private val epochs = new ConcurrentHashMap[String, Long]()

  private def buf(topic: String): ArrayBuffer[Msg] =
    topics.computeIfAbsent(topic, _ => ArrayBuffer.empty)

  /** Atomic per-epoch append; replayed (queryId, epochId) pairs are
    * dropped — the sink-commit idempotency that upgrades micro-batch
    * at-least-once to effectively-once. */
  def commit(topic: String, queryId: String, epochId: Long,
      rows: Seq[(String, String)]): Unit = synchronized {
    val k = s"$queryId/$topic"
    if (epochs.getOrDefault(k, Long.MinValue) >= epochId) return
    val b = buf(topic)
    rows.foreach { case (key, value) =>
      b += Msg(key, value, topic, b.length.toLong)
    }
    epochs.put(k, epochId)
  }

  def read(topic: String): Seq[Msg] = synchronized { buf(topic).toVector }

  /** Messages-available watermark in O(1) — the per-trigger offset probe
    * must not copy the topic. */
  def size(topic: String): Long = synchronized { buf(topic).length.toLong }

  /** Dense sequence ids are buffer indices, so a micro-batch range read
    * is a slice — O(batch), not a full-topic copy + filter. */
  def readRange(topic: String, startSeq: Long, endSeq: Long): Seq[Msg] =
    synchronized {
      val b = buf(topic)
      val hi = math.min(endSeq, b.length.toLong).toInt
      val lo = math.max(0L, math.min(startSeq, hi.toLong)).toInt
      b.slice(lo, hi).toVector
    }

  def clear(topic: String): Unit = synchronized {
    topics.remove(topic)
    epochs.keySet.asScala.filter(_.endsWith(s"/$topic"))
      .toVector.foreach(epochs.remove)
  }
}

final class GraftTopicTable(topic: String) extends Table
    with SupportsWrite with SupportsRead {
  require(topic != null, "graft-topic requires .option(\"topic\", ...)")
  override def name(): String = s"graft-topic:$topic"
  override def schema(): StructType = TopicStore.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // input frame: (key, value) — position of each in the incoming schema
    val in = info.schema()
    val ki = in.fieldIndex("key"); val vi = in.fieldIndex("value")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite =
          new TopicWrite(topic, info.queryId(), ki, vi)
        // batch produce — the BACKFILL path (kafka-connect's batch
        // ingest analog): one append per job at driver commit, task
        // retries deduplicated by Spark's commit coordinator (only one
        // attempt's commit message reaches commit()).
        override def toBatch: BatchWrite =
          new TopicWrite(topic, info.queryId(), ki, vi)
      }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = TopicStore.schema
      override def toBatch: Batch = new Batch {
        // batch = the full range; same reader as the streaming path
        override def planInputPartitions(): Array[InputPartition] =
          Array(TopicRangePartition(topic, 0L, Long.MaxValue))
        override def createReaderFactory(): PartitionReaderFactory =
          new TopicRangeReaderFactory
      }
      override def toMicroBatchStream(
          checkpointLocation: String): rstreaming.MicroBatchStream =
        new TopicMicroBatchStream(topic)
    }
}

/** Dense sequence ids double as the stream offset (messages-consumed
  * watermark) — the upsert-source half of the reference's Pulsar round
  * trip: a topic written by the K1 sink streams back incrementally and
  * feeds changelog compaction (latest sequenceId per key wins). */
final case class TopicOffset(seq: Long)
    extends rstreaming.Offset {
  override def json(): String = seq.toString
}

final class TopicMicroBatchStream(topic: String)
    extends rstreaming.MicroBatchStream {
  
  override def initialOffset(): rstreaming.Offset = TopicOffset(0L)
  override def latestOffset(): rstreaming.Offset =
    TopicOffset(TopicStore.size(topic))
  override def planInputPartitions(start: rstreaming.Offset, end: rstreaming.Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TopicOffset].seq
    val e = end.asInstanceOf[TopicOffset].seq
    if (e <= s) Array.empty else Array(TopicRangePartition(topic, s, e))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new TopicRangeReaderFactory
  override def deserializeOffset(json: String): rstreaming.Offset = TopicOffset(json.toLong)
  override def commit(end: rstreaming.Offset): Unit = () // broker-ack analog
  override def stop(): Unit = ()
}

final case class TopicRangePartition(topic: String, startSeq: Long,
    endSeq: Long) extends InputPartition

final class TopicRangeReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = p.asInstanceOf[TopicRangePartition]
    val it = TopicStore.readRange(r.topic, r.startSeq, r.endSeq).iterator
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) {
          val m = it.next()
          cur = new GenericInternalRow(Array[Any](
            UTF8String.fromString(m.key), UTF8String.fromString(m.value),
            UTF8String.fromString(m.topic), m.sequenceId))
          true
        } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** Streaming and batch produce into the topic. Both append a commit's
  * rows in a deterministic order across retries — partition id, then
  * each writer's buffered order — through the same TopicStore commit. A
  * batch commits as epoch 0 under its query id: a re-submitted JOB
  * appends again, which is the backfill semantic; duplicated TASK
  * attempts never reach commit(). */
final class TopicWrite(topic: String, queryId: String, ki: Int, vi: Int)
    extends StreamingWrite with BatchWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new TopicWriterFactory(ki, vi)
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new TopicWriterFactory(ki, vi)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    TopicStore.commit(topic, queryId, epochId,
      messages.collect { case m: TopicCommitMessage => m }
        .sortBy(_.partitionId).toSeq.flatMap(_.rows))
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    commit(0L, messages)
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  // both interfaces default it to true; Scala needs the pick spelled out
  override def useCommitCoordinator(): Boolean = true
}

final case class TopicCommitMessage(partitionId: Int,
    rows: Seq[(String, String)]) extends WriterCommitMessage

/** One writer for batch and streaming writes: buffers the partition's
  * `(key, value)` pairs and returns them in its commit message. */
final class TopicWriterFactory(ki: Int, vi: Int)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val rows = ArrayBuffer.empty[(String, String)]
      override def write(r: InternalRow): Unit =
        rows += ((if (r.isNullAt(ki)) null else r.getUTF8String(ki).toString,
          if (r.isNullAt(vi)) null else r.getUTF8String(vi).toString))
      override def commit(): WriterCommitMessage =
        TopicCommitMessage(partitionId, rows.toVector)
      override def abort(): Unit = rows.clear()
      override def close(): Unit = ()
    }
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = createWriter(partitionId, taskId)
}
