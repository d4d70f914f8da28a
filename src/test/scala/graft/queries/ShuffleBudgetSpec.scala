package graft.queries

import graft.{QueryProfile, SparkSpec, SparkEntry}

/** Shuffle-regression guard (VERDICT r8 "next round" #3): the empirical
  * sf0.1→sf1 scale curve in tools/BENCH_METHOD.md establishes that the
  * heavy queries shuffle LINEARLY in the data — and twice in round 8 the
  * curve caught plan edits that had silently re-introduced superlinear
  * exchanges (st1's driver-side LocalRelation seam; MemoryDb's per-row
  * snapshot copy). A quarterly doc refresh is the wrong detection
  * latency for that bug class; this spec makes it an `sbt test` failure.
  *
  * Per query: one warmup run (grading fixtures populate; codegen
  * compiles), then one measured run whose total shuffle WRITE bytes
  * ([[graft.QueryProfile]] attribution under the query's tag, the same
  * figure as `shuffle_write` in the `profile` map of Bench's
  * bench_last.json) must stay under a per-query ceiling.
  * Ceilings are ~3× the bytes measured at spec config (local[4],
  * 4 shuffle partitions, sf0.01) — far above run-to-run wobble
  * (shuffle bytes are deterministic per plan to within compression
  * jitter), far below any superlinear blowup, which at these data
  * shapes multiplies bytes by 10×+. The sf0.1/sf1/sf3 row for each
  * query lives in the BENCH_METHOD scale-curve tables; re-calibrate a
  * ceiling ONLY after confirming the new plan's bytes still scale
  * linearly there.
  */
class ShuffleBudgetSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  // ceiling ≈ calibration × 3, bytes (calibrated 2026-08, round 9, at
  // this spec's config). The 10 heaviest bench queries (VERDICT r8
  // plan audit + BENCH_METHOD curve set). Measured at calibration:
  // cc1 0.58 MB, d4 0.42, xd1 0.30, db1 0.11, ct1 0.054, pq2 0.45,
  // cdc1 0.51, lm2 0.51, rc1 0.11, bk1 0.003 (bucketed co-location is
  // the POINT of bk1 — its ceiling is held loose in absolute terms but
  // still ~100× below what losing the bucket join would shuffle).
  private val budgets: Seq[(String, Long)] = Seq(
    "cc1_dup_clusters" -> 1_800_000L,
    "d4_ngram_jaccard" -> 1_300_000L,
    "xd1_cross_dedup" -> 900_000L,
    "db1_dbscan_grid" -> 350_000L,
    "ct1_containment" -> 170_000L,
    "pq2_ivfadc" -> 1_400_000L,
    "cdc1_source_batch" -> 1_600_000L,
    "lm2_bigram_lm_capped" -> 1_600_000L,
    "rc1_recursive_closure" -> 350_000L,
    "bk1_bucketed_join" -> 50_000L,
    // round-9 additions (addendum 35 rows): scc1 measured 1.31 MB,
    // er1 0.07 MB at calibration
    "scc1_strong_components" -> 4_000_000L,
    "er1_golden_record" -> 250_000L)

  test("heavy queries stay inside their shuffle-write budgets") {
    val profile = QueryProfile.attach(spark.sparkContext)
    def consume(name: String): Unit =
      SparkEntry.queries(name)(spark, sf)
        .write.format("noop").mode("overwrite").save()
    val work = try {
      budgets.foreach { case (name, _) =>
        consume(name) // warmup: fixtures + codegen, untagged, not measured
        QueryProfile.tagged(spark.sparkContext, name)(consume(name))
      }
      profile.byTag
    } finally profile.detach()
    val over = budgets.flatMap { case (name, budget) =>
      val got = work.getOrElse(name, QueryProfile.Work()).shuffleWrite
      info(f"$name%-22s ${got / 1e6}%10.2f MB (budget ${budget / 1e6}%.2f MB)")
      if (got > budget)
        Some(f"$name: ${got / 1e6}%.2f MB > budget ${budget / 1e6}%.2f MB")
      else None
    }
    assert(over.isEmpty, "shuffle budgets exceeded (superlinear exchange " +
      s"re-introduced? see tools/BENCH_METHOD.md):\n${over.mkString("\n")}")
  }
}
