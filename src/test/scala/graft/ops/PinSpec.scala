package graft.ops

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{QueryProfile, SparkSpec}

/** What a pin is: where its rows live, what statistics it carries, what
  * an observed metric costs, and how it fails when its blocks go. */
class PinSpec extends SparkSpec {

  private def rddOf(pinned: DataFrame) =
    pinned.queryExecution.logical.asInstanceOf[LogicalRDD].rdd

  private def statsOf(df: DataFrame) = df.queryExecution.optimizedPlan.stats

  private def sizeOf(df: DataFrame): BigInt = statsOf(df).sizeInBytes

  private def rows(n: Long) =
    spark.range(0, n).select(col("id").as("k"), (col("id") % 7).as("v"))

  /** `rdd`'s memory + disk bytes as Spark's storage status reports them
    * (`RDDInfo`). That store is fed by the listener bus and refreshes a
    * live RDD's figures at most every `spark.ui.liveUpdate.period`, and
    * finally on an executor heartbeat, so it is polled until it settles
    * on the pin's full block count. */
  private def rddInfoBytes(rdd: org.apache.spark.rdd.RDD[_]): BigInt = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def info = sc.getRDDStorageInfo.find(_.id == rdd.id)
    while (!info.exists(_.numCachedPartitions == rdd.partitions.length) &&
        System.nanoTime() < deadline) Thread.sleep(100)
    val i = info.getOrElse(fail(s"no storage info for rdd ${rdd.id}"))
    assert(i.numCachedPartitions == rdd.partitions.length, i)
    BigInt(i.memSize + i.diskSize)
  }

  test("a pin's plan carries its measured row count and stored bytes") {
    val pinned = Pin(rows(64))
    // the pin's LogicalRDD holds the checkpointed RDD[InternalRow]
    // itself; a Row round-trip would put an uncheckpointed mapping RDD here
    val rdd = rddOf(pinned)
    assert(rdd.isCheckpointed, rdd.toDebugString)
    assert(rdd.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    val stats = statsOf(pinned)
    assert(stats.rowCount.contains(BigInt(64)), stats)
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes == rddInfoBytes(rdd), stats)
    assert(pinned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L until 64L).map(k => k -> k % 7).toMap)
    // Spark names the pin's RDD after the pin's caller, not Pin itself
    assert(rdd.toDebugString.contains("PinSpec.scala"), rdd.toDebugString)
    // an observed pin and a DISK_ONLY pin measure the same way
    val (observed, _) = Pin.observed(rows(10), sum("v"))
    assert(statsOf(observed).rowCount.contains(BigInt(10)))
    val onDisk = Pin(rows(16), StorageLevel.DISK_ONLY)
    assert(statsOf(onDisk).rowCount.contains(BigInt(16)))
    assert(statsOf(onDisk).sizeInBytes == rddInfoBytes(rddOf(onDisk)))
  }

  test("a loop that self-joins its pin keeps its estimate bounded") {
    var t = Pin(rows(32))
    for (_ <- 1 to 30) {
      t = Pin(t.as("a").join(t.as("b"), col("a.k") === col("b.k"))
        .select(col("a.k").as("k"), (col("a.v") + col("b.v")).as("v")))
      // every round starts from its own measurement: 32 rows, a few KB
      assert(statsOf(t).rowCount.contains(BigInt(32)))
      assert(sizeOf(t) < (1 << 20), sizeOf(t))
    }
    // a carried estimate would square per round: 2^63 -> 2^126 -> ...
    val last = t.as("a").join(t.as("b"), col("a.k") === col("b.k"))
    assert(sizeOf(last) < BigInt(2).pow(40), sizeOf(last))
    assert(t.agg(sum("v")).head().getLong(0) ==
      (0L until 32L).map(k => (k % 7) << 30).sum)
  }

  test("a small pin over an over-estimated pinned join is broadcast") {
    // db1's shape: `cores` is a pin over an aggregate of `pairs`, a pin
    // of a join whose estimate is the product of its sides' sizes
    val pts = Pin(rows(1000))
    val pairs = Pin(pts.as("a")
      .join(pts.as("b"), col("a.k") / 10 === col("b.k") / 10)
      .select(col("a.k").as("k"), col("b.k").as("nb")))
    val cores = Pin(pairs.groupBy("k").agg(count(lit(1)).as("n")))
    // left-anti and left-outer joins can build only their right side
    for (how <- Seq("left_anti", "left_outer")) {
      val plan = pts.join(cores, Seq("k"), how).queryExecution.sparkPlan
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.size == 1,
        s"$how:\n$plan")
    }
    assert(statsOf(cores).rowCount.contains(BigInt(1000)))
    assert(sizeOf(cores) <= spark.asInstanceOf[classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold, sizeOf(cores))
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
