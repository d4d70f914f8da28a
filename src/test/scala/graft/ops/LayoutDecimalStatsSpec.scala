package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-14 DECIMAL data-skipping stats: decimal columns index as
  * SCALED INTEGRALS — the unscaled value at the column's scale, with
  * the scale recorded in the stats field itself (Layout.DecRange) —
  * so TPC-H-shaped price/discount predicates prune files instead of
  * scanning everything, and decimal-keyed merges rewrite only touched
  * files. Both write paths are covered: the Layout path reads parquet
  * footer statistics (INT32/INT64 unscaled for precision <= 18, FLBA
  * big-endian two's-complement beyond), the DSv2 sink tracks unscaled
  * values as it writes. */
class LayoutDecimalStatsSpec extends SparkSpec {
  import spark.implicits._
  import Layout.{ColRange, DecRange, ColStat}

  test("DecRange round-trips through manifest fields; overlap is " +
      "exact, including across scales") {
    def rt(r: ColRange): Option[ColRange] = {
      val Seq(lo, hi) = ColRange.fields(r)
      ColRange.parse(lo, hi)
    }
    val r = DecRange(-12345L, 67890L, 2)
    assert(rt(r).contains(r))
    // same scale: unscaled compare
    assert(ColRange.overlaps(DecRange(100L, 200L, 2),
      DecRange(150L, 300L, 2)))
    assert(!ColRange.overlaps(DecRange(100L, 200L, 2),
      DecRange(201L, 300L, 2)))
    // cross-scale: 1.00–2.00 (scale 2) vs 1.500–1.600 (scale 3)
    assert(ColRange.overlaps(DecRange(100L, 200L, 2),
      DecRange(1500L, 1600L, 3)))
    // 1.00–2.00 vs 2.001–3.000: disjoint only under EXACT rescale
    assert(!ColRange.overlaps(DecRange(100L, 200L, 2),
      DecRange(2001L, 3000L, 3)))
  }

  test("Layout path: decimal-keyed chunks record DecRange from the " +
      "parquet footers; a decimal-keyed merge prunes to the touched " +
      "file; the DSv2 scan pushes decimal bounds") {
    val t = tmpDir("graft-decstats")
    def mk(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, new java.math.BigDecimal(i).movePointLeft(2)))
      .toDF("id", "price")
      .select(col("id"), col("price").cast("decimal(12,2)").as("price"))
    Layout.appendSnapshot(mk(0, 100).coalesce(1), t, statsCol = "price")
    Layout.appendSnapshot(mk(100, 200).coalesce(1), t, statsCol = "price")
    Layout.appendSnapshot(mk(200, 300).coalesce(1), t, statsCol = "price")
    val stats = Layout.snapshotInfo(spark, t).get.statLines
      .map(Layout.statsOfFull)
    assert(stats.size == 3)
    assert(stats.forall(_._2.headOption.exists(_.range.exists {
      case DecRange(_, _, 2) => true
      case _ => false
    })), s"expected scale-2 DecRanges: $stats")
    // merge keyed on the decimal column: only the covering file
    // rewrites (broadcast AND binned candidate paths)
    for (nlj <- Seq(256, 0)) {
      val delta = Seq(("0.07", 0L, "d"), ("0.11", 1011L, "u"))
        .toDF("price", "id", "op")
        .select(col("price").cast("decimal(12,2)").as("price"),
          col("id"), col("op"))
      val entries = Layout.snapshotInfo(spark, t).get.statLines
        .map(Layout.statsOfFull)
      val touched = Layout.overlappingFiles(
        delta.select("price").distinct(), "price",
        entries.map { case (n, rs) =>
          (n, rs.headOption.getOrElse(ColStat(None, None))) },
        nljThreshold = nlj)
      assert(touched.size == 1,
        s"nlj=$nlj: expected 1 candidate file, got $touched")
    }
    val delta = Seq(("0.07", 0L, "d"), ("0.11", 1011L, "u"))
      .toDF("price", "id", "op")
      .select(col("price").cast("decimal(12,2)").as("price"),
        col("id"), col("op"))
    val before = Layout.snapshotInfo(spark, t).get.files.toSet
    Layout.mergeSnapshot(spark, t, delta, "price", "op")
    val after = Layout.snapshotInfo(spark, t).get.files.toSet
    assert((before -- after).size == 1 && (before & after).size == 2,
      "decimal-keyed merge was not file-pruned")
    val img = Layout.readSnapshot(spark, t)
    assert(img.count() == 299)
    assert(img.filter(col("price") === "0.11").head().getLong(0)
      == 1011L)
    // DSv2 pushdown: a decimal range inside chunk 3 plans 1 partition
    val scan = spark.read.format("graft-snapshot").load(t)
      .filter(col("price") >= new java.math.BigDecimal("2.50") &&
        col("price") <= new java.math.BigDecimal("2.60"))
    assert(scan.rdd.getNumPartitions == 1,
      "decimal bound pushdown did not skip files")
    assert(scan.count() == 11)
  }

  test("DSv2 sink tracks decimal stats as it writes; wide (FLBA) " +
      "decimals through the Layout path still index when their " +
      "extremes fit a Long") {
    val t = tmpDir("graft-decsink")
    def mk(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, new java.math.BigDecimal(i).movePointLeft(1)))
      .toDF("id", "p")
      .select(col("id"), col("p").cast("decimal(10,1)").as("p"))
    mk(0, 50).coalesce(1).write.format("graft-snapshot")
      .option("statsCol", "p").mode("append").save(t)
    mk(50, 100).coalesce(1).write.format("graft-snapshot")
      .option("statsCol", "p").mode("append").save(t)
    val scan = spark.read.format("graft-snapshot").load(t)
      .filter(col("p") < new java.math.BigDecimal("2.0"))
    assert(scan.rdd.getNumPartitions == 1)
    assert(scan.count() == 20)
    // min/max/count(*) answered from the manifest (typed decimal)
    val agg = spark.read.format("graft-snapshot").load(t)
      .agg(min("p"), max("p"), count(lit(1))).head()
    assert(agg.getDecimal(0).compareTo(
      new java.math.BigDecimal("0.0")) == 0)
    assert(agg.getDecimal(1).compareTo(
      new java.math.BigDecimal("9.9")) == 0)
    assert(agg.getLong(2) == 100L)
    // FLBA-physical decimal via the Layout path (the legacy parquet
    // format stores every decimal as a fixed-length byte array; a
    // DECIMAL wider than 18 digits, Spark's own FLBA rendering, is a
    // type the table refuses): extremes fit a Long, so the footer lane
    // still records a DecRange
    val t2 = tmpDir("graft-decwide")
    val wide = (0 until 10)
      .map(i => (i.toLong, new java.math.BigDecimal(i * 11)))
      .toDF("id", "w")
      .select(col("id"), col("w").cast("decimal(18,2)").as("w"))
    spark.conf.set("spark.sql.parquet.writeLegacyFormat", "true")
    try Layout.appendSnapshot(wide.coalesce(1), t2, statsCol = "w")
    finally spark.conf.unset("spark.sql.parquet.writeLegacyFormat")
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(t2, "data/" +
          Layout.snapshotInfo(spark, t2).get.files.head),
        spark.sessionState.newHadoopConf()))
    try assert(footer.getFileMetaData.getSchema
      .getColumnDescription(Array("w")).getPrimitiveType
      .getPrimitiveTypeName == org.apache.parquet.schema
      .PrimitiveType.PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY)
    finally footer.close()
    val st = Layout.statsOfFull(
      Layout.snapshotInfo(spark, t2).get.statLines.head)._2.head
    assert(st.range.exists {
      case DecRange(0L, 9900L, 2) => true
      case _ => false
    }, s"wide decimal did not index: $st")
  }

  test("a decimal scale change between appends refuses (one " +
      "manifest, one index domain)") {
    val t = tmpDir("graft-decscale")
    val a = Seq((1L, "1.50")).toDF("id", "p")
      .select(col("id"), col("p").cast("decimal(10,2)").as("p"))
    Layout.appendSnapshot(a, t, statsCol = "p")
    val b = Seq((2L, "2.500")).toDF("id", "p")
      .select(col("id"), col("p").cast("decimal(10,3)").as("p"))
    val e = intercept[Exception](
      Layout.appendSnapshot(b, t, statsCol = "p"))
    assert(e.getMessage.toLowerCase.contains("type") ||
      e.getMessage.contains("decimal"), e.getMessage)
  }
}
