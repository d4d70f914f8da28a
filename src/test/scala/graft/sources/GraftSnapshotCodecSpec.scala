package graft.sources

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

import graft.ops.Layout

/** One parquet codec for the snapshot table: files staged by the
  * DSv2 sink and by Layout's API are written and read by Spark's own
  * parquet format, so both read paths agree on a table that carries
  * every per-file concern at once — a renamed column, a widened one, a
  * keyed and a positional deletion sidecar, and a partition column. */
class GraftSnapshotCodecSpec extends SparkSpec {
  import spark.implicits._

  test("a table written by both writers reads the same rows through " +
      "Layout.readSnapshot and the DSv2 reader") {
    val wh = tmpDir("codec-wh")
    spark.conf.set("spark.sql.catalog.gcod", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcod.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcod.db")
    spark.sql(
      """CREATE TABLE gcod.db.t (id BIGINT, n INT, v STRING, p STRING)
        |USING `graft-snapshot` PARTITIONED BY (p)
        |TBLPROPERTIES ('statsCol' = 'id')""".stripMargin)
    val t = s"$wh/db/t"
    // the sink writes INT32 `n` and the physical name `v`
    spark.sql(
      """INSERT INTO gcod.db.t SELECT id, CAST(id AS INT),
        |  concat('v', id), IF(id % 2 = 0, 'a', 'b')
        |FROM range(0, 100)""".stripMargin)
    spark.sql("ALTER TABLE gcod.db.t RENAME COLUMN v TO w")
    spark.sql("ALTER TABLE gcod.db.t ALTER COLUMN n TYPE BIGINT")
    // Layout's API appends under the new logical schema
    Layout.appendSnapshot((100L until 150L)
      .map(i => (i, i, s"v$i", if (i % 2 == 0) "a" else "b"))
      .toDF("id", "n", "w", "p").coalesce(1), t, statsCol = "id")
    // and the sink once more, now writing INT64 `n`
    spark.sql(
      """INSERT INTO gcod.db.t SELECT id, id, concat('v', id),
        |  IF(id % 2 = 0, 'a', 'b')
        |FROM range(150, 200)""".stripMargin)
    // keyed sidecar (merge on id) and positional one (predicate delete)
    Layout.mergeSnapshot(spark, t,
      Seq((7L, 0L, "x", "b", "d"), (120L, 1L, "x", "a", "d"),
        (160L, 1600L, "v160", "a", "u"))
        .toDF("id", "n", "w", "p", "op"),
      "id", "op", dvThreshold = 0.9)
    Layout.deleteWhere(spark, t, "w = 'v33' OR w = 'v170'",
      dvThreshold = 0.9)
    val info = Layout.snapshotInfo(spark, t).get
    assert(info.dv.nonEmpty, "no keyed sidecar")
    assert(info.dvp.nonEmpty, "no positional sidecar")
    assert(info.colMap == Map("w" -> "v"))
    assert(info.partCols == Seq("p"))

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "n", "w", "p").collect().map(_.toSeq).toSeq
        .sortBy(_.head.asInstanceOf[Long])
    val layout = rows(Layout.readSnapshot(spark, t))
    val dsv2 = rows(spark.read.format("graft-snapshot").load(t))
    assert(dsv2 == layout)
    assert(rows(spark.table("gcod.db.t")) == layout)
    // Spark's row reader (what a schema too wide for the vectorized
    // one gets) reads the same
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try assert(rows(spark.read.format("graft-snapshot").load(t)) == layout)
    finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    val ids = layout.map(_.head.asInstanceOf[Long])
    assert(ids == (0L until 200L).filterNot(Set(7L, 33L, 120L, 170L)))
    assert(layout.find(_.head == 160L).get ==
      Seq(160L, 1600L, "v160", "a"))

    // the sink's files come from Spark's parquet writer
    val conf = spark.sessionState.newHadoopConf()
    val sinkFiles =
      info.files.filter(_.matches(".*-p\\d+-t\\d+-f\\d+\\.parquet"))
    assert(sinkFiles.nonEmpty, info.files)
    sinkFiles.foreach { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$t/data/$f"), conf))
      val meta = try r.getFileMetaData.getKeyValueMetaData.asScala
        finally r.close()
      assert(meta.contains("org.apache.spark.version"), s"$f: $meta")
    }
  }
}
