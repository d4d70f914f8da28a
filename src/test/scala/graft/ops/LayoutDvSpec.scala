package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read deletion vectors (round 13): a sparse merge writes a
  * per-commit delete sidecar instead of rewriting the touched file.
  * The invariant everywhere: the LOGICAL table image is identical to
  * what copy-on-write would have produced — sidecars change the
  * physical realization only. */
class LayoutDvSpec extends SparkSpec {
  import spark.implicits._

  private def base100() =
    (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")

  private def delta() = Seq(
    (7L, "x", "d"),                 // delete
    (11L, "v11-new", "u"),          // update
    (1000L, "v1000", "c")           // insert (beyond the file's range)
  ).toDF("id", "v", "op")

  /** The expected post-merge image, computed independently. */
  private def expected(): Set[(Long, String)] =
    ((0 until 100).filter(i => i != 7 && i != 11)
      .map(i => (i.toLong, s"v$i")) ++
      Seq((11L, "v11-new"), (1000L, "v1000"))).toSet

  test("sparse merge writes a sidecar, not a rewrite; image matches " +
      "copy-on-write exactly; accounting stays logical") {
    val t = tmpDir("graft-dv")
    Layout.appendSnapshot(base100().coalesce(1), t, statsCol = "id")
    val baseFiles = Layout.snapshotInfo(spark, t).get.files.toSet
    Layout.mergeSnapshot(spark, t, delta(), "id", "op",
      dvThreshold = 0.1) // 2 masked of 100 = 2% <= 10%
    val info = Layout.snapshotInfo(spark, t).get
    assert((baseFiles -- info.files.toSet).isEmpty,
      "sparse merge rewrote a file it should have sidecarred")
    assert(info.dv.map(_.dvFile).distinct.size == 1)
    assert(info.dv.map(_.masked).sum == 2)
    assert(info.rows == 100) // -1 delete, update nets 0, +1 insert
    val got = Layout.readSnapshot(spark, t)
      .as[(Long, String)].collect().toSet
    assert(got == expected())
    // the DSv2 reader applies the sidecar too (and count(*) pushdown
    // serves the LOGICAL total)
    val dsv2 = spark.read.format("graft-snapshot").load(t)
    assert(dsv2.as[(Long, String)].collect().toSet == expected())
    assert(dsv2.count() == 100)
    // min/max: the masked row must not leak from the physical index
    // (id=7 deleted; min is served by scan, not the manifest)
    Layout.mergeSnapshot(spark, t,
      Seq((0L, "x", "d")).toDF("id", "v", "op"), "id", "op",
      dvThreshold = 0.5)
    assert(spark.read.format("graft-snapshot").load(t)
      .agg(min("id")).head().getLong(0) == 1L)
  }

  test("chained sidecars on the same file all apply; copy-on-write " +
      "merge over a sidecarred file subtracts masked rows exactly") {
    val t = tmpDir("graft-dv-chain")
    Layout.appendSnapshot(base100().coalesce(1), t, statsCol = "id")
    Layout.mergeSnapshot(spark, t,
      Seq((3L, "x", "d")).toDF("id", "v", "op"), "id", "op",
      dvThreshold = 0.5)
    Layout.mergeSnapshot(spark, t,
      Seq((5L, "x", "d")).toDF("id", "v", "op"), "id", "op",
      dvThreshold = 0.5)
    val info = Layout.snapshotInfo(spark, t).get
    assert(info.dv.size == 2 && info.rows == 98)
    assert(Layout.readSnapshot(spark, t).count() == 98)
    assert(Layout.readSnapshot(spark, t)
      .filter(col("id").isin(3L, 5L)).count() == 0)
    // now a FULL copy-on-write merge (threshold 0): survivors must be
    // the logical image and the manifest row count must stay exact
    Layout.mergeSnapshot(spark, t,
      Seq((9L, "x", "d")).toDF("id", "v", "op"), "id", "op")
    val after = Layout.snapshotInfo(spark, t).get
    assert(after.rows == 97 &&
      Layout.readSnapshot(spark, t).count() == 97)
    assert(after.dv.isEmpty, "CoW rewrite must drop the files' sidecars")
    assert(Layout.readSnapshot(spark, t)
      .filter(col("id").isin(3L, 5L, 9L)).count() == 0)
  }

  test("OPTIMIZE materializes sidecars away; time travel to the " +
      "sidecarred snapshot still applies them; pruned reads apply them") {
    val t = tmpDir("graft-dv-opt")
    Layout.appendSnapshot(base100().coalesce(1), t, statsCol = "id")
    Layout.mergeSnapshot(spark, t, delta(), "id", "op",
      dvThreshold = 0.1)                                   // snapshot 2
    // pruned read on the sidecarred snapshot
    assert(Layout.readSnapshotPruned(spark, t, "id", 0L, 20L)
      .count() == 20) // ids 0..20 (21 of them) minus deleted 7
    val optId = Layout.optimizeSnapshot(spark, t,
      targetRowsPerFile = 1000L, statsCol = "id")          // snapshot 3
    val info = Layout.snapshotInfo(spark, t).get
    assert(info.dv.isEmpty, "optimize left sidecar references behind")
    assert(Layout.readSnapshot(spark, t)
      .as[(Long, String)].collect().toSet == expected())
    assert(Layout.readSnapshot(spark, t, 2)
      .as[(Long, String)].collect().toSet == expected(),
      "time travel to the sidecarred snapshot broke")
    assert(optId == 3)
  }

  test("restore to a sidecarred snapshot carries its dv references; " +
      "vacuum keeps referenced sidecars and sweeps dropped ones") {
    val t = tmpDir("graft-dv-restore")
    Layout.appendSnapshot(base100().coalesce(1), t, statsCol = "id")
    Layout.mergeSnapshot(spark, t, delta(), "id", "op",
      dvThreshold = 0.1)                                   // 2 (dv)
    Layout.optimizeSnapshot(spark, t, 1000L, statsCol = "id") // 3
    Layout.restoreSnapshot(spark, t, 2)                    // 4 (dv back)
    assert(Layout.snapshotInfo(spark, t).get.dv.nonEmpty,
      "restore dropped the target's sidecar references")
    assert(Layout.readSnapshot(spark, t)
      .as[(Long, String)].collect().toSet == expected())
    // vacuum to the head only: the restored head still references the
    // sidecar, so it must survive
    Layout.vacuum(spark, t, keepLast = 1)
    assert(Layout.readSnapshot(spark, t)
      .as[(Long, String)].collect().toSet == expected())
    // replace the image; now nothing references the sidecar → swept
    Layout.commitSnapshot(base100(), t)
    Layout.vacuum(spark, t, keepLast = 1)
    val dvDir = new org.apache.hadoop.fs.Path(t, "dv")
    val fs = dvDir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(dvDir) || fs.listStatus(dvDir).isEmpty,
      "unreferenced sidecar survived vacuum")
  }

  test("conflicts: a concurrent optimize aborts a staged DV merge; a " +
      "concurrent DV merge aborts a staged CoW merge over the same file") {
    val t = tmpDir("graft-dv-conflict")
    // 4 files so the interleaved optimize has a real bin-pack to do
    Layout.appendSnapshot(base100().repartition(4), t, statsCol = "id")
    // (a) DV merge staged; optimize interleaves (replaces the files)
    intercept[java.util.ConcurrentModificationException] {
      Layout.mergeSnapshotStaged(spark, t, delta(), "id", "op",
        expectedBase = -1,
        onStaged = () => {
          Layout.optimizeSnapshot(spark, t, 1000L, statsCol = "id")
          ()
        }, dvThreshold = 0.5)
    }
    // (b) CoW merge staged; a DV merge interleaves on the same file —
    // committing the staged copy would resurrect the new mask
    intercept[java.util.ConcurrentModificationException] {
      Layout.mergeSnapshotStaged(spark, t,
        Seq((20L, "x", "d")).toDF("id", "v", "op"), "id", "op",
        expectedBase = -1,
        onStaged = () => {
          Layout.mergeSnapshot(spark, t,
            Seq((30L, "x", "d")).toDF("id", "v", "op"), "id", "op",
            dvThreshold = 0.5)
          ()
        })
    }
    // the interleaved commits won; the aborted ones left no trace
    assert(Layout.readSnapshot(spark, t)
      .filter(col("id") === 30L).count() == 0)
    assert(Layout.readSnapshot(spark, t)
      .filter(col("id") === 20L).count() == 1)
    // (c) COMPATIBLE: a provably key-disjoint append interleaves a DV
    // merge — the self-rebase carries it, both commits land
    val t2 = tmpDir("graft-dv-append")
    Layout.appendSnapshot(base100().coalesce(1), t2, statsCol = "id")
    Layout.mergeSnapshotStaged(spark, t2,
      Seq((8L, "x", "d")).toDF("id", "v", "op"), "id", "op",
      expectedBase = -1,
      onStaged = () => {
        Layout.appendSnapshot(
          Seq((500L, "v500")).toDF("id", "v").coalesce(1), t2,
          statsCol = "id")
        ()
      }, dvThreshold = 0.5)
    val img = Layout.readSnapshot(spark, t2)
    assert(img.count() == 100) // 100 - deleted 8 + appended 500
    assert(img.filter(col("id") === 500L).count() == 1)
    assert(img.filter(col("id") === 8L).count() == 0)
  }

  test("SQL row-level ops on a sidecarred catalog table read the " +
      "logical image (no resurrection through MERGE/UPDATE/DELETE)") {
    val wh = tmpDir("graft-dv-sql")
    spark.conf.set("spark.sql.catalog.gdv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdv.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdv.db")
    spark.sql(
      """CREATE TABLE gdv.db.t (id BIGINT, v STRING)
        |USING `graft-snapshot` TBLPROPERTIES ('statsCol' = 'id')"""
        .stripMargin)
    base100().coalesce(1).writeTo("gdv.db.t").append()
    val path = s"$wh/db/t"
    Layout.mergeSnapshot(spark, path, delta(), "id", "op",
      dvThreshold = 0.1)
    // SQL sees the logical image
    assert(spark.sql("SELECT count(*) FROM gdv.db.t").head()
      .getLong(0) == 100)
    // a SQL UPDATE rewrites from the logical image — the deleted row
    // must NOT come back
    spark.sql("UPDATE gdv.db.t SET v = 'u42' WHERE id = 42")
    val after = spark.sql("SELECT id, v FROM gdv.db.t")
      .as[(Long, String)].collect().toSet
    assert(after == expected().map { case (i, v) =>
      if (i == 42L) (i, "u42") else (i, v) })
  }

  test("wide sparse deletes: sidecars on 50+ files across many " +
      "distinct sets read as ONE scan + ONE anti-join (no per-group " +
      "union branches), image exact") {
    val t = tmpDir("graft-dv-wide")
    // 64 single-range files, indexed on id
    val rows = (0 until 640).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    Layout.appendSnapshot(rows.repartitionByRange(64, col("id"))
      .sortWithinPartitions("id"), t, statsCol = "id")
    assert(Layout.snapshotInfo(spark, t).get.files.size == 64)
    // 8 sparse merges, each masking one id inside each of 8 DIFFERENT
    // files — every merge writes its own sidecar, so the table ends
    // with 64 DV'd files across 8 distinct sidecar sets
    (0 until 8).foreach { m =>
      val ids = (0 until 8).map(f => ((m * 8 + f) * 10 + m).toLong)
      Layout.mergeSnapshot(spark, t,
        ids.map(i => (i, "x", "d")).toDF("id", "v", "op"),
        "id", "op", dvThreshold = 0.5)
    }
    val info = Layout.snapshotInfo(spark, t).get
    assert(info.dv.map(_.dataFile).distinct.size >= 50,
      s"fixture: expected 50+ DV'd files, got " +
        s"${info.dv.map(_.dataFile).distinct.size}")
    assert(info.dv.map(_.dvFile).distinct.size == 8)
    val img = Layout.readSnapshot(spark, t)
    // plan width: ONE scan, which masks every file by its own sidecars
    // — no per-sidecar-set branch, no join
    val plan = img.queryExecution.executedPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.size == 1 && plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, s"per-group union branches came back:\n$plan")
    // image: exactly the 64 masked ids are gone
    val masked = (0 until 8).flatMap(m =>
      (0 until 8).map(f => ((m * 8 + f) * 10 + m).toLong)).toSet
    assert(img.count() == 640 - 64)
    assert(img.filter(col("id").isin(masked.toSeq: _*)).isEmpty)
    assert(info.rows == 640 - 64)
    // and the pruned read path composes with the one-join mask
    val pruned = Layout.readSnapshotPruned(spark, t, "id", 0L, 9L)
    assert(pruned.count() == 9) // id 0 masked by merge 0
  }

  test("change feed of a DV merge records the exact row-level diff") {
    val t = tmpDir("graft-dv-cdf")
    Layout.appendSnapshot(base100().coalesce(1), t, statsCol = "id")
    Layout.mergeSnapshot(spark, t, delta(), "id", "op",
      changeFeed = true, dvThreshold = 0.1)
    val feed = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true")
      .option("startingSnapshot", "1").load(t)
      .select(col("id"), col("_op")).as[(Long, String)]
      .collect().toSet
    assert(feed == Set((7L, "removed"), (11L, "changed"),
      (1000L, "added")))
  }
}
