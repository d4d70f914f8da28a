package graft.ops

import graft.SparkSpec
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._

/** Records, at every write job's driver-side setup, the output
  * timestamp type the session in [[CallerTsProbe.caller]] holds then. */
class CallerTsProbeCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path,
      dynamicPartitionOverwrite) {
  override def setupJob(jobContext: JobContext): Unit = {
    Option(CallerTsProbe.caller).foreach(s => CallerTsProbe.seen.add(
      s.conf.get("spark.sql.parquet.outputTimestampType")))
    super.setupJob(jobContext)
  }
}

object CallerTsProbe {
  @volatile var caller: SparkSession = _
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** DATE/TIMESTAMP data-skipping: parquet stores dates as INT32 days
  * and timestamps as INT64 micros, so the integral manifest index
  * covers them with NO special casing — this spec pins that claim
  * (event dates are among the most common real predicates; the index
  * must prune them, and merges keyed on them must stay file-pruned). */
class LayoutTemporalStatsSpec extends SparkSpec {
  import spark.implicits._

  test("a date-indexed table records integral ranges, prunes date " +
      "ranges, and merges file-pruned on the date key") {
    val t = tmpDir("graft-datestats")
    def mk(lo: Int, hi: Int) = (lo until hi)
      .map(i => (java.sql.Date.valueOf(
        java.time.LocalDate.of(2020, 1, 1).plusDays(i)), i.toLong))
      .toDF("d", "v")
    Layout.appendSnapshot(mk(0, 100).coalesce(1), t, statsCol = "d")
    Layout.appendSnapshot(mk(100, 200).coalesce(1), t, statsCol = "d")
    Layout.appendSnapshot(mk(200, 300).coalesce(1), t, statsCol = "d")
    // ranges recorded as epoch-day integrals on every file
    val info = Layout.snapshotInfo(spark, t).get
    val ranges = info.statLines.map(Layout.statsOf).map(_._2.head)
    assert(ranges.forall(_.exists(_.isInstanceOf[Layout.LongRange])),
      s"date stats not recorded integrally: $ranges")
    // pruned read in epoch days (DateType's physical domain)
    val d0 = java.time.LocalDate.of(2020, 1, 1).toEpochDay
    val pruned = Layout.readSnapshotPruned(spark, t, "d",
      d0 + 120, d0 + 150)
    assert(pruned.count() == 31)
    assert(pruned.select(input_file_name()).distinct().count() == 1,
      "date-range read did not prune to the covering file")
    // merge keyed on the DATE column touches exactly one file
    val delta = Seq(
      (java.sql.Date.valueOf("2020-01-08"), 0L, "d"),
      (java.sql.Date.valueOf("2020-01-12"), 9999L, "u"))
      .toDF("d", "v", "op")
    val before = info.files.toSet
    Layout.mergeSnapshot(spark, t, delta, "d", "op")
    val after = Layout.snapshotInfo(spark, t).get.files.toSet
    assert((before -- after).size == 1 && (before & after).size == 2,
      s"date-keyed merge not file-pruned: before=$before after=$after")
    val img = Layout.readSnapshot(spark, t)
    assert(img.count() == 299)
    assert(img.filter(col("d") === "2020-01-12").head().getLong(1)
      == 9999L)
  }

  test("a timestamp-indexed table prunes through the micros index " +
      "(TIMESTAMP_MICROS output; legacy INT96 carries no stats and " +
      "fails loudly at stage time)") {
    val t = tmpDir("graft-tsstats")
    // Spark's default INT96 parquet timestamps have NO usable min/max
    // statistics — indexing a timestamp column requires the modern
    // physical type (stageDataFiles names the column loudly otherwise)
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try {
    def mk(lo: Int, hi: Int) = (lo until hi)
      .map(i => (java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2020, 1, 1, 0, 0).plusMinutes(i)),
        i.toLong))
      .toDF("ts", "v")
    Layout.appendSnapshot(mk(0, 60).coalesce(1), t, statsCol = "ts")
    Layout.appendSnapshot(mk(60, 120).coalesce(1), t, statsCol = "ts")
    val base = java.time.LocalDateTime.of(2020, 1, 1, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    val pruned = Layout.readSnapshotPruned(spark, t, "ts",
      base + 70L * 60_000_000L, base + 80L * 60_000_000L)
    assert(pruned.count() == 11)
    assert(pruned.select(input_file_name()).distinct().count() == 1,
      "timestamp-range read did not prune to the covering file")
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("staging a timestamp frame pins TIMESTAMP_MICROS on a clone, " +
      "never on the caller's session") {
    val t = tmpDir("graft-tsclone")
    val keys = Seq("spark.sql.parquet.outputTimestampType",
      "spark.sql.sources.commitProtocolClass")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "INT96")
    spark.conf.set(keys(1), classOf[CallerTsProbeCommitProtocol].getName)
    CallerTsProbe.seen.clear()
    CallerTsProbe.caller = spark
    try {
      val df = Seq((java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
        1L)).toDF("ts", "v")
      Layout.appendSnapshot(df.coalesce(1), t, statsCol = "ts")
      // the staging job ran while the caller still held its own value
      assert(!CallerTsProbe.seen.isEmpty)
      assert(CallerTsProbe.seen.toArray.toSet == Set("INT96"))
      assert(spark.conf.get(keys(0)) == "INT96")
      // and the staged file is INT64 micros all the same
      val f = Layout.snapshotInfo(spark, t).get.files.head
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$t/data/$f"),
          spark.sessionState.newHadoopConf()))
      val ts = try r.getFileMetaData.getSchema.getFields.get(0)
        .asPrimitiveType() finally r.close()
      assert(ts.getPrimitiveTypeName.name == "INT64")
      assert(ts.getLogicalTypeAnnotation.toString.contains("MICROS"))
      assert(Layout.readSnapshot(spark, t).count() == 1)
    } finally {
      CallerTsProbe.caller = null
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
