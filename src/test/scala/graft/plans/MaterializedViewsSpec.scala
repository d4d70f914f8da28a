package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MaterializedViewsSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(): (String, String) = {
    val dir = tmpDir("mvspec")
    val base = Seq.tabulate(1000)(i =>
      (i.toLong, s"s${i % 3}", s"p${i % 5}", (i % 97) * 1.25))
      .toDF("id", "status", "prio", "price")
    base.write.mode("overwrite").parquet(s"$dir/base")
    MaterializedViews.build(spark, s"$dir/base", s"$dir/mv",
      Seq("status", "prio"), Seq("CAST(price AS DECIMAL(18,2))"))
    (s"$dir/base", s"$dir/mv")
  }

  test("rewrite serves subset-group count/sum from the rollup, bit-equal") {
    val (basePath, mvPath) = fixture()
    MaterializedViews.register(spark, basePath, mvPath,
      Seq("status", "prio"), Seq("price:DECIMAL(18,2)"))
    MaterializedViews.install(spark)
    try {
      def q = spark.read.parquet(basePath).groupBy("status")
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("status")
      val rewritten = q
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(plan.contains("mv") && !plan.contains("base"),
        s"aggregate not served from the rollup:\n$plan")
      val got = rewritten.collect().toSeq
      // direct answer with the rule disarmed
      MaterializedViews.clear()
      assert(q.collect().toSeq == got) // bit-identical incl. types

      // re-register for the remaining assertions
      MaterializedViews.register(spark, basePath, mvPath,
        Seq("status", "prio"), Seq("price:DECIMAL(18,2)"))

      // global aggregate (empty grouping) also served, exactly
      val g = spark.read.parquet(basePath)
        .agg(count(lit(1)).as("n")).head().getLong(0)
      assert(g == 1000L)

      // guards: DISTINCT, filters, unregistered measures stay on base
      val distinctPlan = spark.read.parquet(basePath).groupBy("status")
        .agg(countDistinct(col("prio"))).queryExecution.executedPlan.toString
      assert(distinctPlan.contains("base"), distinctPlan)
      val filteredPlan = spark.read.parquet(basePath)
        .filter(col("prio") === "p1").groupBy("status")
        .agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(filteredPlan.contains("base"), filteredPlan)
      val otherSumPlan = spark.read.parquet(basePath).groupBy("status")
        .agg(sum(col("id"))).queryExecution.executedPlan.toString
      assert(otherSumPlan.contains("base"), otherSumPlan)
      // grouping on a non-rollup column stays on base
      val idGroupPlan = spark.read.parquet(basePath).groupBy("id")
        .agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(idGroupPlan.contains("base"), idGroupPlan)
    } finally MaterializedViews.clear()
  }
}
