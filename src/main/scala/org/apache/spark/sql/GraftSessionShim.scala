package org.apache.spark.sql

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The session, plan and listener-bus internals [[graft.queries.StreamRun]],
  * [[graft.ops.Pin]] and [[graft.QueryProfile]] need, which Spark keeps
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

  /** `pinned` — a frame over one `LogicalRDD`, as a checkpoint returns —
    * over the same `RDD[InternalRow]` under new attribute ids, without
    * the size estimate, constraints, partitioning and ordering the
    * checkpoint carried from its source plan. */
  def withoutStats(pinned: DataFrame): DataFrame = {
    val r = pinned.queryExecution.logical.asInstanceOf[LogicalRDD]
    val s = pinned.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s, LogicalRDD(r.output.map(_.newInstance()), r.rdd)(s))
  }

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
