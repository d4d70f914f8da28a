package graft.ops

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One mechanism per concern, checked over the `src/main` sources:
  * [[Pin]] is the one way to materialize a relation (no other file
  * checkpoints, persists or caches a frame, or rebuilds one from its
  * `.rdd`), [[graft.queries.StreamRun]] the one owner of temp dirs
  * (no other file names `java.io.tmpdir` or makes a temp directory),
  * Spark's parquet format the one parquet codec (no file encodes
  * or decodes rows through parquet-hadoop's Group API), and the
  * `graft-snapshot` scan the one reader that applies deletion sidecars
  * (no file masks rows by parquet's `_metadata` row index or file
  * path). */
class PinGuardSpec extends AnyFunSuite {

  private val materializing =
    """(?s)\.localCheckpoint\(|\.persist\(|\.cache\(\)|createDataFrame\([^)]*\.rdd""".r

  private val tempDirs = """java\.io\.tmpdir|createTempDirectory""".r

  private val groupApi =
    """org\.apache\.parquet\.example|GroupReadSupport|ExampleParquetWriter""".r

  private val sidecarMasks =
    """_metadata\.row_index|_metadata\.file_path|readFilesWithDv""".r

  private lazy val sources: Seq[Path] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) &&
        (p.toString.endsWith(".scala") || p.toString.endsWith(".java")))
      .toSeq
  }

  /** Asserts that `pattern` matches in `owner` and in no other file. */
  private def onlyIn(owner: String, pattern: scala.util.matching.Regex): Unit = {
    assert(sources.exists(_.getFileName.toString == owner))
    def hits(p: Path) = pattern.findAllIn(Files.readString(p)).toSeq
    val offenders = sources.filter(_.getFileName.toString != owner)
      .map(p => p -> hits(p)).filter(_._2.nonEmpty)
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(hits(sources.find(_.getFileName.toString == owner).get).nonEmpty)
  }

  test("only Pin.scala materializes a relation in src/main") {
    onlyIn("Pin.scala", materializing)
  }

  test("only StreamRun.scala makes temp dirs in src/main") {
    onlyIn("StreamRun.scala", tempDirs)
  }

  test("no file in src/main uses parquet-hadoop's Group API") {
    val offenders = sources.filter(p =>
      groupApi.findFirstIn(Files.readString(p)).nonEmpty)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no file in src/main masks snapshot rows outside the snapshot " +
      "reader") {
    val offenders = sources.filter(p =>
      sidecarMasks.findFirstIn(Files.readString(p)).nonEmpty)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
