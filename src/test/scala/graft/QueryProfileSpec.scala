package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.streaming.StreamingQueryListener

/** QueryProfile attribution under concurrency: two entries run at once on
  * two threads of one session, each under its own tag. One is a StreamRun
  * entry whose jobs run on its stream's micro-batch thread, which the tag
  * must follow. */
class QueryProfileSpec extends SparkSpec {

  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  test("concurrent entries land on their own tags, micro-batches included") {
    val batches = new AtomicInteger()
    val progress = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) batches.incrementAndGet()
    }
    spark.streams.addListener(progress)
    val profile = QueryProfile.attach(spark.sparkContext)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val (work, total) = try {
      val together = new CyclicBarrier(2)
      val runs = Seq("stream" -> "st1_stream_changelog_count",
          "batch" -> "q9_product_profit").map { case (tag, name) =>
        Future(QueryProfile.tagged(spark.sparkContext, tag) {
          together.await(60, TimeUnit.SECONDS)
          SparkEntry.queries(name)(spark, sf)
            .write.format("noop").mode("overwrite").save()
        })
      }
      runs.foreach(Await.result(_, Duration(5, TimeUnit.MINUTES)))
      (profile.byTag, profile.total)
    } finally {
      profile.detach()
      spark.streams.removeListener(progress)
      pool.shutdown()
    }
    info(work.map { case (t, w) => s"$t: ${w.json}" }.mkString("; "))
    // a micro-batch job without the stream's tag would show as untagged
    assert(work.keySet == Set("stream", "batch"), work)
    work.foreach { case (tag, w) =>
      assert(w.jobs > 0 && w.stages > 0 && w.tasks > 0, s"$tag: $w")
    }
    assert(batches.get > 0, "no micro-batch ran")
    assert(work("stream").jobs >= batches.get,
      s"${batches.get} micro-batches, ${work("stream").jobs} stream jobs")
    assert(work.values.reduce(_ + _) == total)
  }
}
