package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The StreamRun harness under concurrency: state sizing is a property of
  * each run's own session, so two runs in one caller session, started
  * together with different sizings, each keep their own partition count
  * — where a set/restore of the shared session's conf hands one stream
  * the other's count. And [[StreamRun.fixture]], the one cross-run cache:
  * a failed build publishes nothing, racing builds publish one complete
  * dir, and a touched source table gets a new key. */
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

  /** A source table `t.parquet` (a plain file: the cache only
    * fingerprints it) in a fresh sf dir, and a kind no other run uses. */
  private def fixtureSource(): (String, Path, String) = {
    val sf = tmpPath("sf")
    val table = Files.write(sf.resolve("t.parquet"), Array[Byte](1, 2, 3))
    (sf.toString, table, s"spec${java.util.UUID.randomUUID().toString.take(8)}")
  }

  /** The published dirs of `kind` in java.io.tmpdir. */
  private def published(kind: String): Seq[Path] =
    new java.io.File(sys.props("java.io.tmpdir"))
      .listFiles((_, n) => n.startsWith(s"graft-$kind-fixture-")).toSeq
      .map(_.toPath)

  private def deleteAll(dirs: Seq[Path]): Unit =
    dirs.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))

  test("a fixture build that throws publishes nothing; the next call builds") {
    val (sf, _, kind) = fixtureSource()
    val builds = new AtomicInteger()
    try {
      val e = intercept[IllegalStateException] {
        StreamRun.fixture(spark, kind, "v1", sf, "t") { b =>
          builds.incrementAndGet()
          Files.write(b.resolve("half"), Array[Byte](1))
          throw new IllegalStateException("build failed")
        }
      }
      assert(e.getMessage == "build failed")
      assert(published(kind).isEmpty, "a failed build was published")
      val dir = StreamRun.fixture(spark, kind, "v1", sf, "t") { b =>
        builds.incrementAndGet()
        Files.write(b.resolve("whole"), Array[Byte](1))
      }
      assert(builds.get == 2)
      assert(published(kind) == Seq(Paths.get(dir)))
      assert(new java.io.File(dir).list().toSeq == Seq("whole"))
    } finally deleteAll(published(kind))
  }

  test("two concurrent fixture builds publish one complete dir") {
    val (sf, _, kind) = fixtureSource()
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // both callers find no fixture and build; the barrier holds each
      // build until the other has started, so both reach the publish
      val building = new CyclicBarrier(2)
      val calls = Seq("a", "b").map(who => Future(
        StreamRun.fixture(spark, kind, "v1", sf, "t") { b =>
          Files.writeString(b.resolve("first"), who)
          building.await(60, TimeUnit.SECONDS)
          Files.writeString(b.resolve("second"), who)
        }))
      val dirs = calls.map(Await.result(_, Duration(2, TimeUnit.MINUTES)))
      assert(dirs.distinct.size == 1, dirs)
      val d = Paths.get(dirs.head)
      assert(published(kind) == Seq(d))
      assert(d.toFile.list().toSet == Set("first", "second"))
      val contents = Seq("first", "second").map(f => Files.readString(d.resolve(f)))
      assert(contents.distinct.size == 1 && Set("a", "b")(contents.head),
        s"published dir mixes builds: $contents")
    } finally { pool.shutdown(); deleteAll(published(kind)) }
  }

  test("touching the source table's size or mtime gives a new fixture key") {
    val (sf, table, kind) = fixtureSource()
    val builds = new AtomicInteger()
    def fixture() = StreamRun.fixture(spark, kind, "v1", sf, "t") { b =>
      Files.write(b.resolve("n"), Array(builds.incrementAndGet().toByte))
    }
    try {
      val mtime = table.toFile.lastModified()
      val first = fixture()
      assert(fixture() == first && builds.get == 1, "an untouched table rebuilt")
      assert(table.toFile.setLastModified(mtime - 60000L))
      val touched = fixture()
      Files.write(table, Array[Byte](1, 2, 3, 4))
      assert(table.toFile.setLastModified(mtime - 60000L))
      val grown = fixture()
      assert(Seq(first, touched, grown).distinct.size == 3,
        Seq(first, touched, grown))
      assert(builds.get == 3)
      assert(published(kind).map(_.toString).toSet == Set(first, touched, grown))
    } finally deleteAll(published(kind))
  }
}
