package graft.sources

import java.io.File

import graft.SparkSpec
import org.apache.spark.sql.functions._

import graft.ops.Layout

/** One reader for the snapshot table: every read — SQL, the catalog,
  * `format("graft-snapshot")` and Layout's API — goes through the
  * DSv2 scan, which answers `input_file_name()`, exposes the `_file`
  * and `_pos` metadata columns, plans only the files a `_file`
  * selection names, and masks keyed sidecars per key column. Layout's
  * writers refuse what that reader refuses. */
class GraftSnapshotReaderSpec extends SparkSpec {
  import spark.implicits._

  test("input_file_name() answers each row's data file on a " +
      "format read and on a catalog table") {
    val wh = tmpDir("rd-wh")
    spark.conf.set("spark.sql.catalog.grd", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grd.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grd.db")
    spark.sql("CREATE TABLE grd.db.t (id BIGINT, v STRING) " +
      "USING `graft-snapshot`")
    val t = s"$wh/db/t"
    Layout.appendSnapshot((0L until 40L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4), t)
    val files = Layout.snapshotFileStats(spark, t,
      Layout.snapshotInfo(spark, t).get).map(_._1).toSet
    assert(files.size == 4)
    def check(rows: Seq[(Long, String, String)]): Unit = {
      assert(rows.size == 40)
      rows.foreach { case (id, f, file) =>
        assert(f == file, s"row $id: input_file_name() '$f' != _file '$file'")
      }
      assert(rows.map(_._2).toSet == files)
    }
    check(spark.read.format("graft-snapshot").load(t)
      .select(col("id"), input_file_name(), col("_file"))
      .as[(Long, String, String)].collect().toSeq)
    check(spark.sql("SELECT id, input_file_name(), _file FROM grd.db.t")
      .as[(Long, String, String)].collect().toSeq)
  }

  test("deleteWhere over keyed sidecars on two different key columns " +
      "matches the plain filter") {
    val t = tmpDir("rd-mixed")
    val base = (0L until 100L).map(i => (i, i % 10, s"v$i"))
    Layout.appendSnapshot(base.toDF("id", "k", "v").coalesce(1), t)
    // one sidecar keyed on id, one keyed on k, both on the one file
    Layout.mergeSnapshot(spark, t,
      Seq((5L, 0L, "x", "d"), (6L, 0L, "x", "d")).toDF("id", "k", "v", "op"),
      "id", "op", dvThreshold = 0.5)
    Layout.mergeSnapshot(spark, t,
      Seq((0L, 3L, "x", "d")).toDF("id", "k", "v", "op"),
      "k", "op", dvThreshold = 0.5)
    val info = Layout.snapshotInfo(spark, t).get
    assert(info.dv.map(_.dvFile).distinct.size == 2)
    assert(Layout.dvKeyPhysCols(spark, t, info) == Set("id", "k"))
    val before = base.filterNot { case (id, k, _) =>
      id == 5L || id == 6L || k == 3L }
    assert(Layout.readSnapshot(spark, t).as[(Long, Long, String)]
      .collect().toSet == before.toSet)
    Layout.deleteWhere(spark, t, "v = 'v50' OR id = 60 OR id = 13",
      dvThreshold = 0.5)
    val oracle = before.filterNot { case (id, _, v) =>
      v == "v50" || id == 60L || id == 13L }
    assert(Layout.readSnapshot(spark, t).as[(Long, Long, String)]
      .collect().toSet == oracle.toSet)
    assert(Layout.snapshotInfo(spark, t).get.dvp.nonEmpty)
  }

  test("_pos is the physical row index of every row of a " +
      "multi-row-group file, masked rows or not") {
    val t = tmpDir("rd-pos")
    spark.conf.set("parquet.block.size", "2048")
    try Layout.appendSnapshot((0L until 3000L)
      .map(i => (i, s"value-$i")).toDF("id", "v").coalesce(1), t)
    finally spark.conf.unset("parquet.block.size")
    val info = Layout.snapshotInfo(spark, t).get
    val file = Layout.snapshotFileStats(spark, t, info).head._1
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file),
        spark.sessionState.newHadoopConf()))
    val groups = try footer.getRowGroups.size finally footer.close()
    assert(groups > 1, s"fixture: one row group in $file")
    Layout.deleteWhere(spark, t, "id % 7 = 0", dvThreshold = 0.5)
    val raw = spark.read.parquet(file)
      .select(col("id"), col("_metadata.row_index"))
      .as[(Long, Long)].collect().toMap
    val read = Layout.readSnapshot(spark, t).select(col("id"), col("_pos"))
      .as[(Long, Long)].collect()
    assert(read.length == 3000 - 429)
    read.foreach { case (id, pos) =>
      assert(raw(id) == pos, s"row $id: _pos $pos, row_index ${raw(id)}")
    }
  }

  test("a _file selection plans only the named files") {
    val t = tmpDir("rd-files")
    Layout.appendSnapshot((0L until 640L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(64, col("id")).sortWithinPartitions("id"), t,
      statsCol = "id")
    val files = Layout.snapshotFileStats(spark, t,
      Layout.snapshotInfo(spark, t).get).map(_._1)
    assert(files.size == 64)
    val Seq(a, b) = files.take(2)
    val two = Layout.readSnapshot(spark, t).where(col("_file").isin(a, b))
    assert(two.rdd.getNumPartitions == 2)
    assert(two.count() == 20)
    assert(Layout.readSnapshot(spark, t).where(col("_file") === a)
      .rdd.getNumPartitions == 1)
  }

  test("Layout's writers refuse a column type the reader cannot load, " +
      "leaving no manifest and no staged file") {
    val t = tmpDir("rd-refuse")
    val e = intercept[IllegalArgumentException](Layout.appendSnapshot(
      Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "emb").coalesce(1), t))
    assert(e.getMessage.contains("unsupported column type"))
    assert(e.getMessage.contains("emb"))
    val left = Option(new File(t).list()).map(_.toSeq).getOrElse(Nil)
    assert(left.isEmpty, s"the refused write left $left")
  }
}
