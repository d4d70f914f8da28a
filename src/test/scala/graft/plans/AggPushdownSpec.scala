package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Parquet aggregate pushdown (DSv2): COUNT/MIN/MAX answered from
  * parquet footer statistics — at 100 TB the difference between a
  * metadata read and a full scan. Scoped to a CHILD session (own conf,
  * shared context) so the V1 path every other query plans against is
  * untouched. */
class AggPushdownSpec extends SparkSpec {
  import spark.implicits._

  test("count/min/max are served from footers under the V2 reader") {
    val dir = tmpDir("aggpush")
    Seq.tabulate(10000)(i => (i.toLong, (i % 97) * 1.5))
      .toDF("id", "v").repartition(4)
      .write.mode("overwrite").parquet(dir)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    val agg = s2.read.parquet(dir)
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
        max(col("id")).as("mx"), max(col("v")).as("mxv"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"),
      s"aggregate not pushed to the parquet scan:\n$plan")
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      ((10000L, 0L, 9999L, 144.0)))
    // the parent session still plans V1 (no behavior change elsewhere)
    val v1plan = spark.read.parquet(dir).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!v1plan.contains("PushedAggregation"))
  }
}
