package graft.ops

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Pin]] is the one way `src/main` materializes a relation: no other
  * file checkpoints, persists or caches a frame, or rebuilds one from
  * its `.rdd`. */
class PinGuardSpec extends AnyFunSuite {

  private val materializing =
    """(?s)\.localCheckpoint\(|\.persist\(|\.cache\(\)|createDataFrame\([^)]*\.rdd""".r

  test("only Pin.scala materializes a relation in src/main") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val sources = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) &&
        (p.toString.endsWith(".scala") || p.toString.endsWith(".java")))
      .toSeq
    assert(sources.exists(_.getFileName.toString == "Pin.scala"))
    def hits(p: Path) = materializing.findAllIn(Files.readString(p)).toSeq
    val offenders = sources.filter(_.getFileName.toString != "Pin.scala")
      .map(p => p -> hits(p)).filter(_._2.nonEmpty)
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(hits(sources.find(_.getFileName.toString == "Pin.scala").get).nonEmpty)
  }
}
