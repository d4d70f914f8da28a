package graft

/** The gate's environment-drift tripwire (Tables.preflight): round 7's
  * driver gate graded an empty `{}` because a regenerated parquet type
  * broke all queries silently — this spec keeps the tripwire itself
  * from regressing. */
class PreflightSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("clean testdata passes preflight") {
    assert(Tables.preflight(spark, sf) == Nil)
  }

  test("a missing table is one named error") {
    val dir = tmpDir("preflight")
    Tables.names.filterNot(_ == "events").foreach { n =>
      copyTable(sf, dir, n)
    }
    val errs = Tables.preflight(spark, dir)
    assert(errs.size == 1 && errs.head.startsWith("events:"), errs)
  }

  test("a renamed key column is one named error citing the column") {
    val dir = tmpDir("preflight")
    Tables.names.foreach(n => copyTable(sf, dir, n))
    // rewrite region with its key column renamed
    spark.read.parquet(s"$sf/region.parquet")
      .withColumnRenamed("r_regionkey", "region_key")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val errs = Tables.preflight(spark, dir)
    assert(errs.size == 1 && errs.head.contains("r_regionkey"), errs)
  }

  test("docs/PLANS.md covers the query inventory exactly") {
    // The plan-audit completeness gate: a query landing without a
    // regenerated plan dump (sbt "runMain graft.tools.DumpPlans") fails
    // here, so PLANS.md can never silently drift from the inventory.
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get("docs/PLANS.md"))
    val sections = txt.linesIterator
      .filter(_.startsWith("## ")).map(_.stripPrefix("## ").trim).toSet
    val queries = SparkEntry.queries.keySet
    assert(queries -- sections == Set.empty[String],
      s"queries missing a plan section: ${(queries -- sections).toSeq.sorted}")
    assert(sections -- queries == Set.empty[String],
      s"stale plan sections: ${(sections -- queries).toSeq.sorted}")
  }

  private def copyTable(from: String, to: String, name: String): Unit = {
    val src = new java.io.File(s"$from/$name.parquet")
    val dst = java.nio.file.Paths.get(to, s"$name.parquet")
    if (src.isDirectory) {
      java.nio.file.Files.createDirectories(dst)
      src.listFiles().foreach(f =>
        java.nio.file.Files.copy(f.toPath, dst.resolve(f.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst)
  }
}
