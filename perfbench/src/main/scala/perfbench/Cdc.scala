package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.nio.file.Path
import java.sql.Connection
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.{CdcEnvelope, CdcPipeline, Sinks}
import graft.sources.TopicStore

/** Upsert-sink counters, filled by [[CountingFactory]] on the executors
  * (one JVM in local mode). */
object SinkCounters {
  val rows, statements, txns, nanos = new AtomicLong
  def reset(): Unit = Seq(rows, statements, txns, nanos).foreach(_.set(0))
}

/** Counts what the Pipeline B writer sends through JDBC: upsert rows and
  * `executeBatch` calls, committed transactions, and the time each
  * connection was open. Wraps any factory, here `MemoryDb.factory`. */
final class CountingFactory(inner: Sinks.ConnectionFactory) extends Sinks.ConnectionFactory {
  override def connect(): Connection = {
    val opened = System.nanoTime()
    val conn = inner.connect()
    def forward(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
      try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    Proxy.newProxyInstance(classOf[Connection].getClassLoader, Array[Class[_]](classOf[Connection]),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "prepareStatement" if String.valueOf(args(0)).contains("DO UPDATE") =>
            val st = forward(conn, m, args)
            Proxy.newProxyInstance(classOf[java.sql.PreparedStatement].getClassLoader,
              Array[Class[_]](classOf[java.sql.PreparedStatement]), new InvocationHandler {
                override def invoke(p2: AnyRef, m2: Method, a2: Array[AnyRef]): AnyRef = {
                  m2.getName match {
                    case "addBatch" => SinkCounters.rows.incrementAndGet()
                    case "executeBatch" => SinkCounters.statements.incrementAndGet()
                    case _ =>
                  }
                  forward(st, m2, a2)
                }
              })
          case "commit" =>
            val r = forward(conn, m, args); SinkCounters.txns.incrementAndGet(); r
          case "close" =>
            SinkCounters.nanos.addAndGet(System.nanoTime() - opened); forward(conn, m, args)
          case _ => forward(conn, m, args)
        }
      }).asInstanceOf[Connection]
  }
}

/** The reference topology as three streaming queries: Pipeline A's two
  * demuxed topic sinks and Pipeline B's live count over the `users`
  * substream. Each query reads the WAL through its own `graft-cdc` source. */
final class Topology(spark: SparkSession, path: String, opts: Map[String, String],
    ckptRoot: Path, val name: String) {
  import spark.implicits._
  val usersTopic = s"$name-users"
  val colorsTopic = s"$name-colors"
  val ns = name

  private def source(): Dataset[CdcEnvelope] =
    spark.readStream.format("graft-cdc").options(opts).load(path).as[CdcEnvelope]

  private def tagged[T](tag: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(Counters.Tag, tag)
    try body finally spark.sparkContext.setLocalProperty(Counters.Tag, null)
  }

  private def topicQuery(frame: org.apache.spark.sql.DataFrame, topic: String, q: String) =
    frame.writeStream.format("graft-topic").option("topic", topic).queryName(s"$name-$q")
      .option("checkpointLocation", ckptRoot.resolve(q).toString).start()

  val paUsers: StreamingQuery =
    tagged("pa_users")(topicQuery(CdcPipeline.usersTopicFrame(source())(spark), usersTopic, "pa_users"))
  val paColors: StreamingQuery =
    tagged("pa_colors")(topicQuery(CdcPipeline.colorsTopicFrame(source())(spark), colorsTopic, "pa_colors"))
  val pbCount: StreamingQuery = tagged("pb_count")(CdcPipeline.liveCountPerSchema(
    source().filter(col("table") === "users"),
    new CountingFactory(Sinks.MemoryDb.factory(ns)), ckptRoot.resolve("pb_count").toString)(spark))

  /** Query label -> query, in reporting order. */
  val queries: Seq[(String, StreamingQuery)] =
    Seq("pa_users" -> paUsers, "pa_colors" -> paColors, "pb_count" -> pbCount)

  def stop(): Unit = queries.foreach(_._2.stop())

  /** Output checks against the generator; returns the number of wrong
    * items (messages missing or extra, keys whose last message is wrong,
    * schemas whose count is wrong). */
  def mismatches(gen: Gen): Long = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val expectedSizes = gen.eventsPerTable
    def topicErrors(topic: String, table: String, field: String): Long = {
      val msgs = TopicStore.read(topic)
      val last = scala.collection.mutable.HashMap.empty[String, (String, String)]
      msgs.foreach { m =>
        val n = mapper.readTree(m.value)
        last(m.key) = (n.get("op").asText(), Option(n.get(field)).filterNot(_.isNull).map(_.asText()).orNull)
      }
      val expected = gen.lastPerKey(table)
      math.abs(msgs.length - expectedSizes.getOrElse(table, 0L)) +
        (expected.keySet ++ last.keySet).count(k => expected.get(k) != last.get(k))
    }
    val counts = Sinks.MemoryDb.table(ns, CdcPipeline.countTable).snapshot.map { case (k, row) =>
      k -> row("user_count").asInstanceOf[Number].longValue()
    }
    val expectedCounts = gen.liveUsersPerSchema
    topicErrors(usersTopic, "users", "fullName") +
      topicErrors(colorsTopic, "user_favorite_colors", "favoriteColor") +
      (expectedCounts.keySet ++ counts.keySet).count(k => expectedCounts.get(k) != counts.get(k))
  }

  def clear(): Unit = { TopicStore.clear(usersTopic); TopicStore.clear(colorsTopic) }
}

/** Which events each query consumes, for turning batches into per-event
  * deliveries: prefix counts of `users` / `user_favorite_colors` events by
  * LSN. */
final class Deliveries(gen: Gen) {
  private val usersUpTo = new Array[Int](gen.events + 1)
  locally {
    var i = 0
    while (i < gen.events) {
      usersUpTo(i + 1) = usersUpTo(i) + (if (Gen.Tables(gen.table(i).toInt).isUsers) 1 else 0)
      i += 1
    }
  }
  private def clip(lsn: Long): Int = math.max(0L, math.min(gen.events.toLong, lsn)).toInt

  def isUsers(i: Int): Boolean = Gen.Tables(gen.table(i).toInt).isUsers

  /** Events query `label` consumes with LSN in (from, to]. */
  def count(label: String, from: Long, to: Long): Long = {
    val users = usersUpTo(clip(to)) - usersUpTo(clip(from))
    if (label == "pa_colors") (clip(to) - clip(from)) - users else users
  }

  def consumes(label: String, i: Int): Boolean = (label == "pa_colors") != isUsers(i)
}
