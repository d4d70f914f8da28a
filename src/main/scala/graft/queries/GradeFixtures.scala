package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Dedup, Pin, Similarity}

/** Session-scoped cache for the expensive DIAGNOSTIC inputs shared by the
  * similarity grading queries (ec1, e1x, ec1x): the exact O(n²) cosine
  * pair set, its connected components, and the blocked (SRP) pair set at
  * the recall-oriented grading parameters. These are grading baselines,
  * not production paths — the production plans are the blocked ones —
  * so recomputing the all-pairs diagnostic once per consumer query (3×
  * per verify run, 9× per bench run with warmups) was pure grading
  * overhead: ec1x alone cost 12.2s in BENCH_r06, ~2× the next query.
  *
  * Keyed by (session, input files) and pinned ([[Pin]]): the first
  * consumer in a run computes each fixture, later consumers reuse the
  * materialized blocks; a new session or a different sf dir recomputes.
  * Entries are small (pair lists and label maps, not corpus rows).
  */
private[graft] object GradeFixtures {
  private val cache = new ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  // Monotone count of fixture() calls. Bench snapshots it around each
  // measured query to tag fixture-riding queries in its output: their
  // measured time is cache-WARM (the diagnostic blocks were materialized
  // in an earlier consumer or warmup), so round-over-round comparisons
  // must not credit the cache as a plan improvement (round-7 verdict #3).
  val accesses = new java.util.concurrent.atomic.AtomicLong(0)

  // get/putIfAbsent, NOT computeIfAbsent: exactClusters builds on top of
  // exactPairs, and a nested computeIfAbsent on the same ConcurrentHashMap
  // throws IllegalStateException("Recursive update") whenever the two keys
  // share a hash bin. A lost race just builds the (idempotent) fixture
  // twice; re-entrancy must stay legal.
  private def fixture(spark: SparkSession, what: String)(
      build: DataFrame => DataFrame): DataFrame = {
    accesses.incrementAndGet()
    val emb = spark.table("embeddings")
    val key = (spark, emb.inputFiles.sorted.mkString(","), what)
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val built = Pin(build(emb))
      val prev = cache.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }

  /** Exact (all-pairs) cosine >= 0.4 pair set over `embeddings`. */
  def exactPairs(spark: SparkSession): DataFrame =
    fixture(spark, "exactPairs") { emb =>
      Similarity.cosinePairs(emb, "vec_id", "embedding",
        minCos = 0.4, blocked = false)
    }

  /** Connected components of [[exactPairs]] — the exact cluster map. */
  def exactClusters(spark: SparkSession): DataFrame = {
    val pairs = exactPairs(spark) // resolve BEFORE the nested fixture build
    fixture(spark, "exactClusters") { _ =>
      Dedup.dupClusters(pairs, "vec_id_a", "vec_id_b")
        .select(org.apache.spark.sql.functions.col("doc_id").as("vec_id"),
          org.apache.spark.sql.functions.col("cluster_id"))
    }
  }

  /** Blocked (SRP-bucketed) pair set at the fixture-recall parameters
    * shared by e1x and ec1x (planeBits=3, tables=12 — see e1x's note). */
  def blockedPairs(spark: SparkSession): DataFrame =
    fixture(spark, "blockedPairs") { emb =>
      Similarity.cosinePairs(emb, "vec_id", "embedding",
        minCos = 0.4, blocked = true, planeBits = 3, tables = 12)
    }

  /** Exact brute-force top-10 for the vec_id < 20 query set — the
    * containment ground truth shared by every ANN property grade
    * (s2x/ivf1x/pq1x/pq2x). */
  def exactTopK(spark: SparkSession): DataFrame =
    fixture(spark, "exactTopK") { emb =>
      Similarity.bruteTopK(emb,
        emb.filter(org.apache.spark.sql.functions.col("vec_id") < 20),
        "vec_id", "embedding", k = 10)
    }
}
