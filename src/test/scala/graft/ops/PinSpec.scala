package graft.ops

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{QueryProfile, SparkSpec}

/** What a pin is: where its rows live, what size estimate it carries,
  * what an observed metric costs, and how it fails when its blocks go. */
class PinSpec extends SparkSpec {

  private def rddOf(pinned: DataFrame) =
    pinned.queryExecution.logical.asInstanceOf[LogicalRDD].rdd

  private def sizeOf(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  private def defaultSize: BigInt =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.defaultSizeInBytes

  private def rows(n: Long) =
    spark.range(0, n).select(col("id").as("k"), (col("id") % 7).as("v"))

  test("a fresh pin carries no estimate and scans the checkpoint's own rows") {
    val plain = Pin(rows(64))
    assert(sizeOf(plain) < defaultSize, "a plain pin keeps its source estimate")
    val fresh = Pin(rows(64), fresh = true)
    assert(sizeOf(fresh) == defaultSize)
    // the fresh pin's LogicalRDD holds the checkpointed RDD[InternalRow]
    // itself; a Row round-trip would put an uncheckpointed mapping RDD here
    val rdd = rddOf(fresh)
    assert(rdd.isCheckpointed, rdd.toDebugString)
    assert(rdd.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(fresh.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L until 64L).map(k => k -> k % 7).toMap)
    // Spark names the pin's RDD after the pin's caller, not Pin itself
    assert(rdd.toDebugString.contains("PinSpec.scala"), rdd.toDebugString)
  }

  test("a loop that self-joins its fresh pin keeps its estimate bounded") {
    var t = Pin(rows(32), fresh = true)
    for (_ <- 1 to 30) {
      t = Pin(t.as("a").join(t.as("b"), col("a.k") === col("b.k"))
        .select(col("a.k").as("k"), (col("a.v") + col("b.v")).as("v")),
        fresh = true)
      assert(sizeOf(t) == defaultSize)
    }
    // a carried estimate squares per round: 2^63 -> 2^126 -> 2^252 -> ...
    val last = t.as("a").join(t.as("b"), col("a.k") === col("b.k"))
    assert(sizeOf(last) < BigInt(2).pow(256), sizeOf(last))
    assert(t.agg(sum("v")).head().getLong(0) ==
      (0L until 32L).map(k => (k % 7) << 30).sum)
  }

  test("an observed pin reports its metric with no job of its own") {
    val df = spark.range(0, 100).groupBy((col("id") % 10).as("g"))
      .agg(sum("id").as("s"))
    val metric = sum(col("s").cast("decimal(38,0)"))
    val (pinned, m) = Pin.observed(df, metric)
    assert(Pin.asDecimal(m) == df.agg(metric).head().getDecimal(0))
    assert(pinned.count() == 10)
    val (_, n) = Pin.observed(df, count(lit(1)))
    assert(Pin.asLong(n) == 10L)
    // empty input: sum is null, read as 0
    val empty = df.filter(lit(false))
    assert(Pin.asDecimal(Pin.observed(empty, metric)._2).signum == 0)
    assert(Pin.asLong(Pin.observed(empty, sum("s"))._2) == 0L)
    val sc = spark.sparkContext
    val profile = QueryProfile.attach(sc)
    val work = try {
      QueryProfile.tagged(sc, "plain")(Pin(df))
      QueryProfile.tagged(sc, "observed")(Pin.observed(df, metric))
      profile.byTag
    } finally profile.detach()
    assert(work("plain").jobs > 0)
    assert(work("observed").jobs == work("plain").jobs, work)
  }

  test("a DISK_ONLY pin stays out of the cache manager") {
    val cm = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    val source = rows(16)
    val pinned = Pin(source, StorageLevel.DISK_ONLY)
    assert(rddOf(pinned).getStorageLevel == StorageLevel.DISK_ONLY)
    assert(pinned.count() == 16)
    // source.persist(DISK_ONLY) would register source's plan here
    assert(cm.lookupCachedData(source.asInstanceOf[classic.Dataset[_]]).isEmpty)
  }

  test("a pin whose blocks are gone fails loudly instead of recomputing") {
    val pinned = Pin(rows(16))
    assert(pinned.count() == 16)
    rddOf(pinned).unpersist(blocking = true)
    val e = intercept[SparkException](pinned.collect())
    assert(e.getMessage.contains("Checkpoint block") &&
      e.getMessage.contains("not found"), e.getMessage)
  }
}
