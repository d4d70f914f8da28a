package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Temp dirs and files for a suite, all under one root in java.io.tmpdir
  * that `afterAll` deletes. Names stay short (`<root>/<prefix>-<n>`):
  * some specs match a path inside a plan string, which Spark abbreviates
  * at `spark.sql.maxMetadataStringLength` characters. */
trait SpecTempDirs extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val tmpRoot: Path = Files.createTempDirectory("graft-spec-")
  @volatile private var rootMade = false
  private val made = new java.util.concurrent.atomic.AtomicInteger()

  private def fresh(prefix: String, suffix: String = ""): Path = {
    rootMade = true
    tmpRoot.resolve(s"$prefix-${made.incrementAndGet()}$suffix")
  }

  def tmpPath(prefix: String): Path = Files.createDirectory(fresh(prefix))

  def tmpDir(prefix: String): String = tmpPath(prefix).toString

  def tmpFile(prefix: String, suffix: String): Path =
    Files.createFile(fresh(prefix, suffix))

  override def afterAll(): Unit =
    try super.afterAll()
    finally if (rootMade) org.apache.commons.io.FileUtils.deleteQuietly(tmpRoot.toFile)
}

/** Shared local session for specs (one per suite, guide-recommended). */
trait SparkSpec extends SpecTempDirs {
  lazy implicit val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  implicit lazy val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
}
