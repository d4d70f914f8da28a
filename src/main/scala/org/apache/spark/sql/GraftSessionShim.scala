package org.apache.spark.sql

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext
import org.apache.spark.rdd.InputFileBlockHolder
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId

/** The session, plan, block-manager, listener-bus and input-file
  * internals [[graft.queries.StreamRun]], [[graft.ops.Pin]],
  * [[graft.ops.Layout]], [[graft.QueryProfile]], [[graft.tools.DumpPlans]]
  * and the `graft-snapshot` reader need, which Spark keeps
  * `private[sql]`/`private[spark]`: reachable only from inside this
  * package. */
object GraftSessionShim {

  /** A clone of `spark` — its own conf, temp views and catalogs, the
    * same SparkContext — with `shufflePartitions` set in the CLONE's conf
    * when given. The caller's session is never written. */
  def cloneSession(spark: SparkSession,
      shufflePartitions: Option[Int]): SparkSession = {
    val c = spark.asInstanceOf[classic.SparkSession].cloneSession()
    shufflePartitions.foreach(
      c.sessionState.conf.setConf(SQLConf.SHUFFLE_PARTITIONS, _))
    c
  }

  /** `df`'s analyzed plan as a frame of `spark`: executes under `spark`'s
    * conf although `df` was built in another session. */
  def rehome(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

  /** A frame over `table`'s DSv2 scan, the relation the catalog builds
    * for a loaded table: the table instance itself, with whatever
    * snapshot pin it carries, is what every scan of the frame reads. */
  def readTable(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DataSourceV2Relation.create(table, None, None))

  /** Points the executor thread's input-file holder, which
    * `input_file_name()` reads, at `file` (one whole-file split of
    * `length` bytes) — what Spark's own file scan does per file. */
  def setInputFile(file: String, length: Long): Unit =
    InputFileBlockHolder.set(file, 0L, length)

  /** Clears what [[setInputFile]] set. */
  def unsetInputFile(): Unit = InputFileBlockHolder.unset()

  /** `pinned` — a frame over one `LogicalRDD`, as a checkpoint returns —
    * over the same `RDD[InternalRow]`, output, partitioning, ordering and
    * constraints, with the statistics the pin measured in place of its
    * source plan's estimate: `rowCount` rows, and as size the bytes the
    * block managers hold for the RDD's blocks, memory plus disk (what
    * `RDDInfo` reports). The bytes come from the block-manager master,
    * which every block put updates before its task ends, not from the
    * listener-fed status store, which can lag behind the job. */
  def withStats(pinned: DataFrame, rowCount: Long): DataFrame = {
    val r = pinned.queryExecution.logical.asInstanceOf[LogicalRDD]
    val s = pinned.sparkSession.asInstanceOf[classic.SparkSession]
    val bytes = s.sparkContext.env.blockManager.master.getStorageStatus
      .iterator.flatMap(_.rddBlocks).collect {
        case (RDDBlockId(id, _), b) if id == r.rdd.id => b.memSize + b.diskSize
      }.sum
    classic.Dataset.ofRows(s, r.copy()(s,
      Some(Statistics(bytes, Some(rowCount))), Some(r.constraints)))
  }

  /** The physical plan of the last micro-batch of the active stream `id`,
    * whichever session of `spark`'s context started it (a
    * [[graft.queries.StreamRun]] clone included, which the caller's
    * `streams.get` cannot see); None once the stream has stopped. */
  def lastBatchPlan(spark: SparkSession, id: java.util.UUID): Option[String] =
    Option(spark.asInstanceOf[classic.SparkSession].sharedState
      .activeStreamingQueries.get(id)).map(_.explainInternal(false))

  /** Returns once every listener event posted so far has been delivered
    * to every listener; throws `TimeoutException` after 10 s. Readers of
    * listener-collected figures call this instead of sleeping. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Delivers the queued listener events (waiting at most 10 s), then
    * detaches from the context's listener bus the streaming-listener bus
    * that holds `marker`. Each session's query manager attaches one such
    * bus and Spark never detaches it, so without this every cloned
    * session that ran a stream would stay subscribed to all events of
    * the context. */
  def detachStreams(spark: SparkSession,
      marker: StreamingQueryListener): Unit = {
    try drainListeners(spark.sparkContext)
    catch { case _: TimeoutException => () }
    val bus = spark.sparkContext.listenerBus
    bus.findListenersByClass[StreamingQueryListenerBus]()
      .filter(_.listeners.contains(marker))
      .foreach(bus.removeListener)
  }
}
