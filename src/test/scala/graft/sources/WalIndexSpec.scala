package graft.sources

import java.nio.file.{Files, Path}

/** The WAL byte-offset index behind FileWalTransport's range reads:
  * correctness of the offsets themselves (multi-byte UTF-8, blank
  * lines), the malformed-LSN neighborhood policy, range selection with
  * stable LSN order, and (length, mtime) cache invalidation — the
  * property that keeps a regenerated fixture from serving stale spans. */
class WalIndexSpec extends graft.SpecTempDirs {

  private def write(lines: Seq[String]): Path = {
    val f = tmpFile("walindex", ".jsonl")
    Files.writeString(f, lines.mkString("\n") + "\n")
    f
  }

  private def env(lsn: Long, et: String = "x"): String =
    s"""{"lsn":$lsn,"txId":0,"tsMs":0,"op":"u","db":"d","schema":"s","table":"t","before":{},"after":{"id":"1","event_type":"$et"}}"""

  test("offsets are byte-exact through multi-byte UTF-8 and blank lines") {
    val f = write(Seq(env(1, "héllo"), "", env(2, "plain"), env(3, "ému")))
    val got = WalIndex.linesInRange(f.toString, "jsonl", 0L, Long.MaxValue)
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    // each returned span must BE its line: re-parse the payload bytes
    got.foreach { case (lsn, bytes) =>
      val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      assert(s.contains(s""""lsn":$lsn"""), s)
      assert(!s.contains("\n"))
    }
  }

  test("range selection is (after, endInclusive] with stable order") {
    val f = write(Seq(env(5), env(2), env(9), env(5, "twin")))
    val idx = WalIndex.of(f.toString, "jsonl")
    assert(idx.maxLsn == 9L)
    val mid = WalIndex.linesInRange(f.toString, "jsonl", 2L, 5L)
    assert(mid.map(_._1) == Seq(5L, 5L))
    // file order preserved within the equal-LSN pair (Begin/DML/Commit
    // share an LSN in pgoutput; jsonl twins must not reorder either)
    val texts = mid.map(t => new String(t._2, "UTF-8"))
    assert(texts.head.contains("\"x\"") && texts.last.contains("twin"))
    assert(WalIndex.linesInRange(f.toString, "jsonl", 9L, Long.MaxValue).isEmpty)
  }

  test("a line with no parseable LSN indexes at its predecessor's") {
    val f = write(Seq(env(4), "garbage-not-json", env(7)))
    val got = WalIndex.linesInRange(f.toString, "jsonl", 3L, 4L)
    // the malformed line rides lsn 4's range, so the reader's
    // malformed policy (fail/quarantine) gets to see it
    assert(got.map(_._1) == Seq(4L, 4L))
    assert(new String(got.last._2, "UTF-8") == "garbage-not-json")
  }

  test("leading lines with no parseable LSN index at the first parseable one") {
    val f = write(Seq("garbage-1", "garbage-2", env(3), "garbage-3", env(5)))
    val idx = WalIndex.of(f.toString, "jsonl")
    assert(idx.lsns.toSeq == Seq(3L, 3L, 3L, 3L, 5L))
    val head = WalIndex.linesInRange(f.toString, "jsonl", 0L, 3L)
      .map(l => new String(l._2, "UTF-8"))
    assert(head.take(2) == Seq("garbage-1", "garbage-2"))
    // with no parseable LSN anywhere, the first a fresh stream reads
    val none = write(Seq("garbage-1", "garbage-2"))
    assert(WalIndex.of(none.toString, "jsonl").lsns.toSeq == Seq(1L, 1L))
  }

  test("cache invalidates when the file is rewritten") {
    val f = write(Seq(env(1), env(2)))
    assert(WalIndex.of(f.toString, "jsonl").maxLsn == 2L)
    // rewrite with different content AND different length; nudge mtime
    // in case the filesystem's clock granularity hides the rewrite
    Files.writeString(f, Seq(env(1), env(2), env(8)).mkString("\n") + "\n")
    f.toFile.setLastModified(f.toFile.lastModified() + 2000)
    assert(WalIndex.of(f.toString, "jsonl").maxLsn == 8L)
    assert(WalIndex.linesInRange(f.toString, "jsonl", 2L, Long.MaxValue)
      .map(_._1) == Seq(8L))
  }

  test("pgoutput lines index by their numeric prefix") {
    val payload = java.util.Base64.getEncoder.encodeToString(
      Array[Byte](0x42, 0x00, 0x01))
    val f = write(Seq(s"3 $payload", s"11 $payload"))
    val idx = WalIndex.of(f.toString, "pgoutput")
    assert(idx.lsns.toSeq == Seq(3L, 11L))
    assert(idx.maxLsn == 11L)
  }
}
