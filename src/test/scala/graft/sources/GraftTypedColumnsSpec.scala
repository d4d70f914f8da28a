package graft.sources

import graft.SparkSpec
import graft.ops.Layout
import org.apache.spark.sql.functions._

/** Round-14 typed columns through the DSv2 snapshot surface: DATE
  * (INT32 epoch days), TIMESTAMP / TIMESTAMP_NTZ (INT64 micros) and
  * DECIMAL(<=18) (INT32/INT64 unscaled, Spark's parquet rendering) flow
  * through the sink, the reader, the data-skipping index and the SQL
  * catalog — the reference itself declares TIMESTAMP(3) metadata
  * columns (CustomJob.java:162), and a DATE/DECIMAL-less analytics
  * table format fails its first real user. Both writers pin
  * outputTimestampType=TIMESTAMP_MICROS without touching the caller's
  * session — the sink on its write's job conf, Layout staging on a
  * clone of the session — so a catalog table with timestamps can never
  * acquire statistics-less INT96 files through any write path. */
class GraftTypedColumnsSpec extends SparkSpec {
  import spark.implicits._

  private def mk(lo: Int, hi: Int) = (lo until hi).map { i =>
    (i.toLong,
      java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1)
        .plusDays(i)),
      java.sql.Timestamp.from(java.time.Instant
        .parse("2021-06-01T00:00:00Z").plusSeconds(i * 60L)),
      new java.math.BigDecimal(i).movePointLeft(2))
  }.toDF("id", "d", "ts", "price")
    .select(col("id"), col("d"), col("ts"),
      col("price").cast("decimal(12,2)").as("price"))

  test("date/timestamp/decimal round-trip the sink and reader " +
      "bit-exactly; temporal and decimal bounds prune files") {
    val t = tmpDir("typed-sink")
    mk(0, 100).coalesce(1).write.format("graft-snapshot")
      .option("statsCol", "d,ts,price").mode("append").save(t)
    mk(100, 200).coalesce(1).write.format("graft-snapshot")
      .option("statsCol", "d,ts,price").mode("append").save(t)
    val back = spark.read.format("graft-snapshot").load(t)
    assert(back.schema("d").dataType ==
      org.apache.spark.sql.types.DateType)
    assert(back.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(back.schema("price").dataType ==
      org.apache.spark.sql.types.DecimalType(12, 2))
    assert(back.count() == 200)
    // value fidelity against the source of truth
    val r42 = back.filter(col("id") === 42L).head()
    assert(r42.getDate(1) == java.sql.Date.valueOf("2020-02-12"))
    assert(r42.getTimestamp(2) == java.sql.Timestamp.from(
      java.time.Instant.parse("2021-06-01T00:42:00Z")))
    assert(r42.getDecimal(3).compareTo(
      new java.math.BigDecimal("0.42")) == 0)
    // pushdown: each typed bound prunes to one file
    val byDate = back.filter(
      col("d") >= java.sql.Date.valueOf("2020-04-20"))
    assert(byDate.rdd.getNumPartitions == 1,
      "date bound did not prune")
    assert(byDate.count() == 90)
    val byTs = back.filter(col("ts") <
      java.sql.Timestamp.from(java.time.Instant
        .parse("2021-06-01T01:00:00Z")))
    assert(byTs.rdd.getNumPartitions == 1, "timestamp bound did not prune")
    assert(byTs.count() == 60)
    val byPrice = back.filter(col("price") >
      new java.math.BigDecimal("1.50"))
    assert(byPrice.rdd.getNumPartitions == 1,
      "decimal bound did not prune")
    assert(byPrice.count() == 49)
    // typed min/max/count from manifest metadata alone
    val agg = back.agg(min("d"), max("ts"), max("price"),
      count(col("price"))).head()
    assert(agg.getDate(0) == java.sql.Date.valueOf("2020-01-01"))
    assert(agg.getTimestamp(1) == java.sql.Timestamp.from(
      java.time.Instant.parse("2021-06-01T03:19:00Z")))
    assert(agg.getDecimal(2).compareTo(
      new java.math.BigDecimal("1.99")) == 0)
    assert(agg.getLong(3) == 200L)
  }

  test("DATE partition columns: ISO value directories, equality " +
      "pruning, sticky layout (the standard daily-partition shape)") {
    val t = tmpDir("typed-datepart")
    mk(0, 4).withColumn("d", lit(java.sql.Date.valueOf("2020-01-01")))
      .unionByName(mk(4, 8)
        .withColumn("d", lit(java.sql.Date.valueOf("2020-01-02"))))
      .write.format("graft-snapshot").partitionBy("d")
      .option("statsCol", "id").mode("append").save(t)
    val files = Layout.snapshotInfo(spark, t).get.files
    assert(files.forall(f => f.startsWith("d=2020-01-01/") ||
      f.startsWith("d=2020-01-02/")), files)
    val back = spark.read.format("graft-snapshot").load(t)
    assert(back.count() == 8)
    // directory pruning on the date value
    val pruned = back.filter(
      col("d") === java.sql.Date.valueOf("2020-01-02"))
    assert(pruned.rdd.getNumPartitions == 1,
      "date partition directory not pruned")
    assert(pruned.count() == 4)
    assert(pruned.agg(min("id")).head().getLong(0) == 4L)
    // appends follow the recorded layout stickily
    mk(8, 10).withColumn("d", lit(java.sql.Date.valueOf("2020-01-03")))
      .write.format("graft-snapshot").option("statsCol", "id")
      .mode("append").save(t)
    assert(Layout.snapshotInfo(spark, t).get.files
      .count(_.startsWith("d=2020-01-03/")) == 1)
  }

  test("TIMESTAMP_NTZ round-trips (micros, no zone adjustment)") {
    val t = tmpDir("typed-ntz")
    val rows = (0 until 10).map(i =>
      (i.toLong, java.time.LocalDateTime.of(2022, 3, 1, 12, 0)
        .plusMinutes(i)))
      .toDF("id", "ts")
    rows.write.format("graft-snapshot").mode("append").save(t)
    val back = spark.read.format("graft-snapshot").load(t)
    assert(back.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    assert(back.filter(col("id") === 3L).head()
      .getAs[java.time.LocalDateTime](1) ==
      java.time.LocalDateTime.of(2022, 3, 1, 12, 3))
  }

  test("a catalog table with typed columns: DDL, INSERT geometry, " +
      "MERGE, pruned scan — even under the INT96 session default") {
    val wh = tmpDir("typed-wh")
    spark.conf.set("spark.sql.catalog.gtyp",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtyp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtyp.db")
    spark.sql("DROP TABLE IF EXISTS gtyp.db.t")
    // the session-wide legacy default must NOT leak INT96 files into
    // the table through either the sink or the merge's Layout staging
    val prev =
      spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      spark.sql(
        """CREATE TABLE gtyp.db.t
          |  (id BIGINT, d DATE, ts TIMESTAMP, price DECIMAL(12,2))
          |USING `graft-snapshot`
          |TBLPROPERTIES ('statsCol' = 'id,price')""".stripMargin)
      spark.sql(
        """INSERT INTO gtyp.db.t SELECT id,
          |  DATE'2020-01-01' + CAST(id AS INT),
          |  TIMESTAMP'2021-06-01 00:00:00' + make_interval(0,0,0,0,0,
          |    CAST(id AS INT), 0),
          |  CAST(id AS DECIMAL(12,2)) / 4
          |FROM range(0, 100)""".stripMargin)
      spark.sql(
        """INSERT INTO gtyp.db.t SELECT id,
          |  DATE'2020-01-01' + CAST(id AS INT),
          |  TIMESTAMP'2021-06-01 00:00:00' + make_interval(0,0,0,0,0,
          |    CAST(id AS INT), 0),
          |  CAST(id AS DECIMAL(12,2)) / 4
          |FROM range(100, 200)""".stripMargin)
      // MERGE stages through Layout's Spark parquet write — the
      // MICROS pin must hold there too
      spark.sql(
        """SELECT CAST(7 AS BIGINT) AS id, DATE'2020-01-08' AS d,
          |  TIMESTAMP'2021-06-01 00:07:00' AS ts,
          |  CAST(9.99 AS DECIMAL(12,2)) AS price, 'u' AS op"""
          .stripMargin).createOrReplaceTempView("typ_src")
      spark.sql(
        """MERGE INTO gtyp.db.t t USING typ_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET price = s.price
          |WHEN NOT MATCHED THEN INSERT (id, d, ts, price)
          |  VALUES (s.id, s.d, s.ts, s.price)""".stripMargin)
      val got = spark.sql(
        "SELECT d, ts, price FROM gtyp.db.t WHERE id = 7").head()
      assert(got.getDate(0) == java.sql.Date.valueOf("2020-01-08"))
      assert(got.getDecimal(2).compareTo(
        new java.math.BigDecimal("9.99")) == 0)
      assert(spark.sql("SELECT count(*) FROM gtyp.db.t")
        .head().getLong(0) == 200L)
      // decimal range scan prunes (merge rewrote only chunk 1's file)
      val pruned = spark.read.format("graft-snapshot")
        .load(s"$wh/db/t")
        .filter(col("price") >= new java.math.BigDecimal("30.00"))
      assert(pruned.rdd.getNumPartitions == 1,
        "post-merge decimal scan lost pruning")
      assert(pruned.count() == 80)
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }
}
