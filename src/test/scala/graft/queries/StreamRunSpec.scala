package graft.queries

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The StreamRun harness under concurrency: state sizing is a property of
  * each run's own session, so two runs in one caller session, started
  * together with different sizings, each keep their own partition count
  * — where a set/restore of the shared session's conf hands one stream
  * the other's count. */
class StreamRunSpec extends SparkSpec {

  /** A stateful aggregation over `rows` replayed ids, sized at `density`;
    * returns (expected partitions, the state operator's partitions, the
    * offset log's shuffle partitions). */
  private def sizedRun(rows: Long, density: Int,
      together: CyclicBarrier): (Int, Long, String) =
    StreamRun(spark, s"sized$density") { run =>
      val in = run.replayFrames("in", Seq(spark.range(rows).toDF("id")))
      val s = run.session(Seq(in), density)
      together.await(60, TimeUnit.SECONDS)
      val q = run.drain(run.toMemory(s.readStream.schema("id BIGINT")
        .parquet(in).groupBy(col("id") % 10).count(), "complete"))
      val logged = scala.io.Source.fromFile(
        run.dir("ckpt").resolve("offsets").resolve("0").toFile)
      val conf = try logged.mkString finally logged.close()
      (StreamRun.statePartitionsFor(StreamRun.inputBytes(in), density),
        q.lastProgress.stateOperators.head.numShufflePartitions,
        "\"spark.sql.shuffle.partitions\":\"([0-9]+)\"".r
          .findFirstMatchIn(conf).map(_.group(1)).getOrElse("missing"))
    }

  test("two concurrent runs keep their own state sizing") {
    val callerPartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val together = new CyclicBarrier(2)
      // density 1 sizes a few-KB input to 1 partition; density 1000 puts
      // the per-partition target at ~4 KB, so the same input needs several
      val runs = Seq(1, 1000).map(d => Future(sizedRun(20000L, d, together)))
      val got = runs.map(Await.result(_, Duration(5, TimeUnit.MINUTES)))
      val Seq(sparse, dense) = got.map(_._1)
      assert(dense > sparse, s"sizings do not differ: $got")
      got.foreach { case (expected, stateParts, logged) =>
        assert(stateParts == expected, s"state operator partitions: $got")
        assert(logged == expected.toString, s"offset log partitions: $got")
      }
      assert(spark.conf.get("spark.sql.shuffle.partitions") == callerPartitions)
    } finally pool.shutdown()
  }
}
