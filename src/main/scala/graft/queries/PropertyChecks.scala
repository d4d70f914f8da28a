package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Pin, Profile, Similarity}

/** Oracle-encoded invariants for the hash-signature operators DuckDB
  * cannot reproduce directly (minhash / simhash / LSH / IVF / sketches —
  * their xxhash64-seeded internals have no DuckDB twin, so d2/d3/s2/ivf1/
  * hll1 are rows-only entries). Each check here is a normal
  * CORRECTNESS-graded query whose OUTPUT is a property the operator must
  * satisfy, phrased so DuckDB can compute the expected value exactly:
  *
  *  - d2x/d3x — an exact-duplicate group must never retain a non-minimal
  *    member after near-dedup: identical docs get identical signatures,
  *    land in the same bands/buckets, and verification accepts them, so
  *    every non-min member has a smaller verified twin. DuckDB counts
  *    the dup groups (real ground truth) and pins the violation count at
  *    zero. The group notion matches each operator's signature input:
  *    d2x groups by identical TEXT (minhash shingles the token
  *    sequence — set-equal-but-reordered docs are legitimately
  *    different), d3x by identical token SET (simhash hashes the
  *    distinct-token set).
  *  - s2x/ivf1x — approximate neighbors must come from the true head of
  *    the similarity ranking: every (query, neighbor) the ANN paths
  *    return must appear in the exact top-2k for that query (the exact
  *    list is the s1 oracle shape). Violations pinned at zero.
  *  - hll1x — sketch estimates must sit within their design error around
  *    the exact distinct count (HLL at rsd 0.01 given ±5%; KMV with
  *    k=256 has σ ≈ 6.3%, given ±20% ≈ 3σ). Violations pinned at zero,
  *    group count is real DuckDB ground truth.
  */
object PropertyChecks {

  private val setHashSpark = md5(concat_ws(" ",
    expr("array_sort(array_distinct(filter(split(text, ' '), x -> length(x) > 0)))")))

  private val setHashDuck =
    """md5(array_to_string(list_sort(list_distinct(
      |  list_filter(string_split(text, ' '), x -> len(x) > 0))), ' '))""".stripMargin

  private def dedupCheck(name: String, sparkHash: org.apache.spark.sql.Column,
      duckHash: String,
      kept: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame) =
    QueryDef.views(name,
      s"""WITH m AS (SELECT doc_id, $duckHash AS set_hash FROM documents),
         |     d AS (SELECT set_hash, min(doc_id) AS gmin FROM m
         |           GROUP BY set_hash HAVING count(*) > 1)
         |SELECT (SELECT count(*) FROM d) AS n_dup_groups,
         |       CAST(0 AS BIGINT) AS n_nonmin_kept""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val m = docs.select(col("doc_id"), sparkHash.as("set_hash"))
      val dup = m.groupBy("set_hash")
        .agg(count(lit(1)).as("n"), min("doc_id").as("gmin"))
        .filter(col("n") > 1)
      val keptIds = kept(spark).select(col("doc_id").as("kept_id"))
      val nonMinKept = m.join(dup.select("set_hash", "gmin"), "set_hash")
        .join(keptIds, col("doc_id") === col("kept_id"), "left_semi")
        .filter(col("doc_id") =!= col("gmin"))
      dup.agg(count(lit(1)).as("n_dup_groups"))
        .crossJoin(nonMinKept.agg(count(lit(1)).as("n_nonmin_kept")))
    }

  private def annContainment(name: String,
      ann: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame) =
    QueryDef.views(name,
      "SELECT CAST(0 AS BIGINT) AS n_outside_top2k") { spark =>
      val approx = ann(spark).select("q_vec_id", "nn_id")
      // ground truth rides the session-scoped GradeFixtures cache —
      // four ANN grades share one brute-force computation per run
      val exact2k = GradeFixtures.exactTopK(spark)
        .select("q_vec_id", "nn_id")
      approx.join(exact2k, Seq("q_vec_id", "nn_id"), "left_anti")
        .agg(count(lit(1)).as("n_outside_top2k"))
    }

  val defs: Seq[QueryDef] = Seq(

    // The blocked (SRP-bucketed) similarity path IS the production plan;
    // e1/ec1 grade the exact diagnostic. This entry grades the blocked
    // path itself against DuckDB's exact pair set: every blocked pair
    // must be a true >= 0.4 pair WITH the same basis-point cosine
    // (soundness — blocked reranks candidates exactly, so a mismatch
    // means a broken payload join), and blocked recall over the exact
    // pair set must clear 0.9 (the OpsApiSpec bar, now oracle-graded).
    QueryDef.views("e1x_blocked_recall",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |     en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |     p AS (SELECT a.vec_id AS da, b.vec_id AS db
        |           FROM en a JOIN en b ON a.vec_id < b.vec_id
        |             AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4)
        |SELECT (SELECT count(*) FROM p) AS n_exact_pairs,
        |       CAST(0 AS BIGINT) AS n_outside_exact,
        |       true AS recall_ge_90""".stripMargin) { spark =>
      // Both pair sets come from the session-scoped GradeFixtures cache
      // (pinned — each is consumed by multiple aggregates
      // here AND shared with ec1/ec1x, so the generation plans run once
      // per verify/bench run, not once per consumer). The blocked side
      // uses recall-oriented parameters (same as s2x/OpsApiSpec): this
      // fixture's true pairs sit at cos ≈ 0.4 (per-plane agreement
      // ~0.63), so recall needs shorter bucket keys and more tables; a
      // production corpus targeting near-dups (cos ≥ 0.9) reaches the
      // bar at the defaults.
      val exact = GradeFixtures.exactPairs(spark)
      val blocked = GradeFixtures.blockedPairs(spark)
      val key = Seq("vec_id_a", "vec_id_b", "sim_bp")
      val nExact = exact.agg(count(lit(1)).as("n_exact_pairs"))
      val outside = blocked.join(exact, key, "left_anti")
        .agg(count(lit(1)).as("n_outside_exact"))
      val hit = blocked.join(exact, key, "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      nExact.crossJoin(outside).crossJoin(hit)
        .select(col("n_exact_pairs"), col("n_outside_exact"),
          (col("n_hit") * 10 >= col("n_exact_pairs") * 9).as("recall_ge_90"))
    },

    // Companion for the blocked CLUSTERING composition (cosinePairs
    // blocked=true → dupClusters — the production SemDeDup plan): since
    // blocked pairs ⊆ exact pairs (e1x), blocked components must REFINE
    // the exact components — no blocked cluster may span two exact
    // clusters. DuckDB computes the exact component count as real
    // ground truth; the refinement violation count pins at zero. This
    // grades the pair-generation → label-propagation composition on the
    // plan production runs, not just its pair inputs.
    QueryDef.views("ec1x_blocked_refines_exact",
      """WITH RECURSIVE
        |  e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |        FROM embeddings),
        |  en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |  p AS (SELECT a.vec_id AS da, b.vec_id AS db
        |        FROM en a JOIN en b ON a.vec_id < b.vec_id
        |          AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4),
        |  edges AS (SELECT da AS a, db AS b FROM p UNION SELECT db, da FROM p),
        |  walk(node, lbl) AS (
        |    SELECT a, a FROM (SELECT DISTINCT a FROM edges) base
        |    UNION
        |    SELECT e2.a, w2.lbl FROM edges e2 JOIN walk w2 ON e2.b = w2.node)
        |SELECT (SELECT count(DISTINCT cluster_id) FROM
        |          (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node))
        |         AS n_exact_clusters,
        |       CAST(0 AS BIGINT) AS n_refinement_violations""".stripMargin) { spark =>
      // exact clusters and blocked pairs ride the GradeFixtures cache
      // (shared with ec1 and e1x); only the blocked clustering and the
      // refinement join are unique to this entry
      val exact = GradeFixtures.exactClusters(spark)
        .select(col("vec_id"), col("cluster_id").as("ecl"))
      val blocked = Dedup.dupClusters(GradeFixtures.blockedPairs(spark),
          "vec_id_a", "vec_id_b")
        .select(col("doc_id").as("vec_id"), col("cluster_id").as("bcl"))
      // every blocked node IS an exact node (its pairs are a subset), so
      // the inner join loses nothing; a blocked cluster touching >1
      // exact cluster is a refinement violation
      val viol = blocked.join(exact, Seq("vec_id"))
        .groupBy("bcl").agg(countDistinct("ecl").as("ne"))
        .agg(coalesce(sum(col("ne") - 1), lit(0L)).cast("bigint")
          .as("n_refinement_violations"))
      exact.agg(countDistinct("ecl").cast("bigint").as("n_exact_clusters"))
        .crossJoin(viol)
    },

    dedupCheck("d2x_minhash_exactdup", md5(col("text")), "md5(text)", spark =>
      Dedup.minhashKept(spark.table("documents"), "doc_id", "text")),

    dedupCheck("d3x_simhash_exactdup", setHashSpark, setHashDuck, spark =>
      Dedup.simhashKept(spark.table("documents"), "doc_id", "text")),

    // d2y — MinHash RECALL pinned by the oracle (d2x only pins the
    // exact-duplicate tier): DuckDB computes the full truth set of
    // bigram-shingle Jaccard >= 0.9 pairs (raw shingle strings; the
    // Spark side intersects xxhash64 shingle sets — the d4/xd1
    // injectivity argument) under d4's (lang, size-bucket) blocking,
    // and every truth pair must have lost at least one endpoint to
    // minhashKept. n_missed_pairs pins at ZERO: at 32 perms × 8 bands
    // a J=0.9 pair escapes all bands with p ≈ 2e-4, and the xxhash
    // seeding is deterministic — verified empirically at sf0.01 and
    // sf0.1. Weakening the banding (fewer bands, longer rows, fewer
    // perms) surfaces here as misses the moment it loses a real pair.
    QueryDef.views("d2y_minhash_recall",
      """WITH t AS (SELECT doc_id, lang,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |           FROM documents),
        |     g AS (SELECT doc_id, lang,
        |             list_sort(list_distinct(CASE WHEN len(toks) < 2 THEN []
        |               ELSE list_transform(generate_series(1, len(toks) - 1),
        |                      i -> toks[i] || ' ' || toks[i + 1]) END)) AS s
        |           FROM t),
        |     gg AS (SELECT doc_id, lang, s, CAST(len(s) AS BIGINT) AS ns,
        |              CAST(len(s) // 8 AS BIGINT) AS bucket
        |            FROM g WHERE len(s) > 0),
        |     p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |             CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
        |             a.ns + b.ns AS ssum
        |           FROM gg a JOIN gg b ON a.lang = b.lang
        |             AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |     truth AS (SELECT da, db FROM p
        |               WHERE inter * 10 >= (ssum - inter) * 9)
        |SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth_pairs,
        |       CAST(0 AS BIGINT) AS n_missed_pairs""".stripMargin) { spark =>
      val docs = spark.table("documents")
      // kept ids pinned: consumed by BOTH endpoint semi-joins below —
      // unpinned, the full minhash pipeline would run twice.
      val kept = Pin(Dedup.minhashKept(docs, "doc_id", "text")
        .select(col("doc_id")))
      // Truth pairs, Spark side: same shingling/blocking as the oracle,
      // shingles as sorted xxhash64 sets (codegen sorted-merge count —
      // the exact kernel minhashKept's verification uses). The shingle
      // relation is pinned (the self-join plants it twice), and so is
      // the truth pair set (counted once, semi-joined once).
      val g = Pin(docs.select(col("doc_id"), col("lang"), expr(
          "array_sort(array_distinct(transform(word_ngrams(" +
            "filter(split(text, ' '), x -> length(x) > 0), 2), " +
            "x -> xxhash64(x))))").as("s"))
        .withColumn("ns", size(col("s")).cast("bigint"))
        .filter(col("ns") > 0)
        .withColumn("bucket", expr("ns div 8")))
      val truth = Pin(g.as("a").join(g.as("b"),
          col("a.lang") === col("b.lang") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .withColumn("inter", expr("sorted_intersect_count(a.s, b.s)"))
        .filter(col("inter") * 10 >=
          (col("a.ns") + col("b.ns") - col("inter")) * 9)
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")))
      // missed = both endpoints survived dedup
      val missed = truth
        .join(kept.as("ka"), col("da") === col("ka.doc_id"), "left_semi")
        .join(kept.as("kb"), col("db") === col("kb.doc_id"), "left_semi")
      truth.agg(count(lit(1)).cast("bigint").as("n_truth_pairs"))
        .crossJoin(missed.agg(count(lit(1)).cast("bigint")
          .as("n_missed_pairs")))
    },

    // d3y — SimHash band/bit parameters pinned by construction: 4 bands
    // of 16 bits have PERFECT candidate recall at Hamming <= 3 (4 bands,
    // at most 3 differing bits — one band must be untouched), so after
    // simhashKept no two SURVIVORS may sit within Hamming 3 of each
    // other, and the banded self-join over survivors that asserts it is
    // itself complete (same pigeonhole). The zero pins the whole chain:
    // signature → banding → Hamming verify → anti-join. Widening
    // maxHamming past the bands' pigeonhole budget, or shrinking the
    // band count, breaks the completeness argument and surfaces here.
    QueryDef.views("d3y_simhash_no_residual",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(0 AS BIGINT) AS n_residual_close_pairs
        |FROM documents""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val kept = Dedup.simhashKept(docs, "doc_id", "text")
      val bandsDf = kept.select(col("doc_id"), col("simhash"), explode(expr(
          "transform(sequence(0, 3), k -> struct(k as band, " +
            "shiftright(simhash, k*16) & 65535 as bucket))")).as("bb"))
        .select(col("doc_id"), col("simhash"),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      val residual = bandsDf.as("x").join(bandsDf.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") < col("y.doc_id"))
        .filter(expr("bit_count(x.simhash ^ y.simhash) <= 3"))
        .select(col("x.doc_id"), col("y.doc_id")).distinct()
      docs.agg(count(lit(1)).cast("bigint").as("n_docs"))
        .crossJoin(residual.agg(count(lit(1)).cast("bigint")
          .as("n_residual_close_pairs")))
    },

    // Graded at recall-oriented parameters for this fixture's geometry
    // (true neighbors at cos ≈ 0.4 — the hard case for SRP-LSH): more
    // tables / shorter keys push the candidate union deep enough that
    // the returned top-k provably sits in the exact head.
    annContainment("s2x_lsh_in_exact_head", spark =>
      Similarity.lshTopK(spark.table("embeddings"), "vec_id", "embedding",
        queryPred = col("vec_id") < 20, k = 5, planeBits = 3, tables = 12)),

    annContainment("ivf1x_ivf_in_exact_head", spark =>
      Similarity.ivfTopK(spark.table("embeddings"), "vec_id", "embedding",
        queryPred = col("vec_id") < 20, k = 5, nprobe = 8)),

    // Incremental index maintenance (the daily-ingest path): train the
    // coarse quantizer on HALF the corpus (even ids), absorb the other
    // half through extendIndex — no retraining, arrivals assign to the
    // frozen centroids scan-locally — then search the extended index.
    // Same containment grade as ivf1x, and the exact head is computed
    // over the FULL corpus: results must be true neighbors drawn from
    // both the trained-on half and the appended half, or the append
    // path is broken.
    annContainment("ivf2x_incremental_in_exact_head", spark => {
      val emb = spark.table("embeddings")
      val base = Similarity.ivfIndex(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", clusters = 16, iters = 2)
      val full = Similarity.extendIndex(base,
        emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
      Similarity.ivfSearch(full, col("vec_id") < 20, k = 5, nprobe = 8)
    }),

    // PQ at recall-oriented parameters for this fixture's geometry
    // (near-orthogonal vectors, true neighbors at cos ≈ 0.4 — ADC noise
    // is largest exactly there): finer subspaces (m=16 → subDims=4) and
    // a deep exact rerank make the returned top-k provably sit in the
    // exact head.
    annContainment("pq1x_pq_in_exact_head", spark =>
      Similarity.pqTopK(spark.table("embeddings"), "vec_id", "embedding",
        queryPred = col("vec_id") < 20, k = 5, m = 16, iters = 3,
        rerankFactor = 16)),

    // IVFADC at the same recall-oriented settings, plus a wide probe
    // (the coarse tier can only LOSE candidates ADC would have found).
    annContainment("pq2x_ivfadc_in_exact_head", spark =>
      Similarity.ivfPqTopK(spark.table("embeddings"), "vec_id", "embedding",
        queryPred = col("vec_id") < 20, k = 5, m = 16, nprobe = 12,
        rerankFactor = 16)),

    // Misra–Gries guarantee: every token with true frequency > n/(k+1)
    // must appear in the k-counter summary (mergeable-summaries bound,
    // which holds under Spark's partial-aggregation merge tree). DuckDB
    // computes the true heavy-hitter set exactly; missing = 0.
    QueryDef.views("hh1_heavy_hitters",
      """WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '),
        |                            x -> len(x) > 0)) AS word FROM documents),
        |     t AS (SELECT count(*) AS total FROM tok),
        |     h AS (SELECT word, count(*) AS c FROM tok GROUP BY word)
        |SELECT (SELECT count(*) FROM h, t WHERE c * 17 > total) AS n_true_hh,
        |       CAST(0 AS BIGINT) AS n_missing""".stripMargin) { spark =>
      val tok = spark.table("documents")
        .select(explode(expr(
          "filter(split(text, ' '), x -> length(x) > 0)")).as("word"))
      val sketch = tok.agg(expr("mg_topk(word, 16)").as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item").as("word"))
      val trueHh = tok.groupBy("word").agg(count(lit(1)).as("c"))
        .crossJoin(tok.agg(count(lit(1)).as("total")))
        .filter(col("c") * 17 > col("total"))
        .select("word")
      trueHh.agg(count(lit(1)).as("n_true_hh"))
        .crossJoin(trueHh.join(sketch, Seq("word"), "left_anti")
          .agg(count(lit(1)).as("n_missing")))
    },

    // Per-group Misra–Gries: the sketch as a GROUPED aggregate — one
    // mergeable summary per language (the per-stratum monitoring shape:
    // partial buffers merge map-side, k counters per group ship per
    // partition). Guarantee graded per group: every true heavy hitter
    // (freq > total/(k+1) = total/65 within its language) must appear
    // in that language's k=64 sketch.
    QueryDef.views("hh2_heavy_hitters_grouped",
      """WITH tok AS (SELECT lang, unnest(list_filter(string_split(text, ' '),
        |                            x -> len(x) > 0)) AS word FROM documents),
        |     t AS (SELECT lang, count(*) AS total FROM tok GROUP BY lang),
        |     h AS (SELECT lang, word, count(*) AS c FROM tok GROUP BY lang, word)
        |SELECT h.lang, CAST(count(*) AS BIGINT) AS n_true_hh,
        |       CAST(0 AS BIGINT) AS n_missing
        |FROM h JOIN t ON h.lang = t.lang WHERE h.c * 65 > t.total
        |GROUP BY h.lang ORDER BY h.lang""".stripMargin) { spark =>
      val tok = spark.table("documents")
        .select(col("lang"), explode(expr(
          "filter(split(text, ' '), x -> length(x) > 0)")).as("word"))
      val sketch = tok.groupBy("lang").agg(expr("mg_topk(word, 64)").as("sk"))
        .select(col("lang"), explode(col("sk")).as("e"))
        .select(col("lang"), col("e.item").as("word"))
      val trueHh = tok.groupBy("lang", "word").agg(count(lit(1)).as("c"))
        .join(tok.groupBy("lang").agg(count(lit(1)).as("total")), Seq("lang"))
        .filter(col("c") * 65 > col("total"))
        .select("lang", "word")
      trueHh.join(sketch, Seq("lang", "word"), "left_anti")
        .groupBy("lang").agg(count(lit(1)).as("miss"))
        .join(trueHh.groupBy("lang").agg(count(lit(1)).as("n_true_hh")),
          Seq("lang"), "right")
        .select(col("lang"), col("n_true_hh"),
          coalesce(col("miss"), lit(0L)).as("n_missing"))
        .orderBy("lang")
    },

    // KLL-style quantile sketch: each estimate's TRUE rank (computed
    // exactly over the corpus) must sit within eps·n of its target
    // rank. k=512 with ~20 levels of headroom gives eps ≈ log2(n/k)/k
    // ≈ 1.5% at this n; graded at a generous 5%. Spark's builtin GK
    // (approx_percentile, accuracy 100 → eps 1%) rides along at the
    // same bar — the sketch family's third member next to HLL/KMV
    // (distinct) and Misra-Gries (frequency).
    QueryDef.views("qs1x_quantile_sketch_error",
      """SELECT count(*) AS n_rows,
        |       CAST(3 AS BIGINT) AS n_probes,
        |       CAST(0 AS BIGINT) AS n_kll_violations,
        |       CAST(0 AS BIGINT) AS n_gk_violations
        |FROM events""".stripMargin) { spark =>
      val ev = spark.table("events").select(col("value"))
      val probs = Seq(0.1, 0.5, 0.9)
      val est = ev.agg(
        expr("kll_quantiles(value, 512, array(0.1D, 0.5D, 0.9D))").as("kll"),
        expr("approx_percentile(value, array(0.1D, 0.5D, 0.9D), 100)").as("gk"),
        count(lit(1)).as("n"))
      val ranked = ev.crossJoin(broadcast(est))
      val sums = probs.indices.flatMap { i =>
        Seq(sum(when(col("value") <= element_at(col("kll"), i + 1), 1L)
            .otherwise(0L)).as(s"kr$i"),
          sum(when(col("value") <= element_at(col("gk"), i + 1), 1L)
            .otherwise(0L)).as(s"gr$i"))
      }
      val ranks = ranked.groupBy("n").agg(sums.head, sums.tail: _*)
      def viol(prefix: String) = probs.zipWithIndex.map { case (p, i) =>
        when(abs(col(s"$prefix$i") - col("n") * p) > col("n") * 0.05, 1L)
          .otherwise(0L)
      }.reduce(_ + _)
      ranks.select(col("n").as("n_rows"),
        lit(3L).as("n_probes"),
        viol("kr").as("n_kll_violations"),
        viol("gr").as("n_gk_violations"))
    },

    // Grouped quantile sketch — hh2's claim for the rank member: one
    // KLL buffer PER GROUP, partials merging map-side per (lang), so a
    // per-stratum length profile costs |groups| summaries per executor
    // instead of a corpus-scaled sort. Same bar as qs1x, per group:
    // every estimate's true in-group rank within 5%·n_group.
    QueryDef.views("qs2x_grouped_quantiles",
      """SELECT lang, count(*) AS n_rows,
        |       CAST(3 AS BIGINT) AS n_probes,
        |       CAST(0 AS BIGINT) AS n_violations
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { spark =>
      val v = spark.table("documents")
        .select(col("lang"), length(col("text")).cast("double").as("v"))
      val probs = Seq(0.1, 0.5, 0.9)
      val est = v.groupBy("lang")
        .agg(expr("kll_quantiles(v, 512, array(0.1D, 0.5D, 0.9D))")
          .as("kll"))
      val ranked = v.join(broadcast(est), "lang")
      val sums = count(lit(1)).as("n") +: probs.indices.map { i =>
        sum(when(col("v") <= element_at(col("kll"), i + 1), 1L)
          .otherwise(0L)).as(s"kr$i")
      }
      val ranks = ranked.groupBy("lang").agg(sums.head, sums.tail: _*)
      val viol = probs.zipWithIndex.map { case (p, i) =>
        when(abs(col(s"kr$i") - col("n") * p) > col("n") * 0.05, 1L)
          .otherwise(0L)
      }.reduce(_ + _)
      ranks.select(col("lang"), col("n").as("n_rows"),
          lit(3L).as("n_probes"), viol.as("n_violations"))
        .orderBy("lang")
    },

    // Count-Min sketch: point-frequency estimates for EVERY distinct word
    // bigram in the corpus, graded both ways — the lower bound
    // (estimate ≥ true count) is the algorithm's deterministic guarantee
    // (counters only ever add), and the upper bound is the classic
    // ε = 2e/width slack. The probe runs through cms_estimate (codegen'd)
    // against ONE sketch built by a single mergeable aggregate — the
    // partial buffers exercising the linear (element-wise add) merge
    // across all 32 input partitions. Completes the sketch family:
    // distinct (HLL/KMV), rank (KLL/GK), heavy items (MG), and now
    // point frequency for arbitrary probes (CMS).
    QueryDef.views("cms1x_point_estimates",
      """WITH t AS (SELECT list_filter(string_split(text, ' '),
        |                    x -> len(x) > 0) AS toks FROM documents),
        |     bg AS (SELECT unnest(CASE WHEN len(toks) < 2 THEN []
        |              ELSE list_transform(generate_series(1, len(toks) - 1),
        |                     i -> toks[i] || ' ' || toks[i + 1]) END) AS bg
        |            FROM t)
        |SELECT CAST(count(DISTINCT bg) AS BIGINT) AS n_probes,
        |       CAST(0 AS BIGINT) AS n_lower_violations,
        |       CAST(0 AS BIGINT) AS n_upper_violations
        |FROM bg""".stripMargin) { spark =>
      val bg = spark.table("documents").select(explode(expr(
        "word_ngrams(filter(split(text, ' '), x -> length(x) > 0), 2)"))
        .as("bg"))
      val sk = bg.agg(expr("cms_sketch(bg, 4, 16384)").as("sk"),
        count(lit(1)).as("n"))
      bg.groupBy("bg").agg(count(lit(1)).as("c"))
        .crossJoin(broadcast(sk))
        .select(col("bg"), col("c"),
          expr("cms_estimate(sk, bg)").as("est"),
          // ceil(2e·n/width): the ε·n additive slack of the CMS bound
          expr("CAST(ceil(5.436563656918091D * n / 16384) AS BIGINT)")
            .as("slack"))
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("est") < col("c"), 1L).otherwise(0L))
            .as("n_lower_violations"),
          sum(when(col("est") > col("c") + col("slack"), 1L).otherwise(0L))
            .as("n_upper_violations"))
    },

    // Approximate query processing by deterministic sampling: per-group
    // counts estimated from the 1/16 hash-sample (xxhash64 of the row
    // id — reproducible, no RNG state; the same mechanism behind the
    // sm/sp split family) scaled by 16, graded against exact counts at
    // a 6σ binomial bound (σ² = 15·true for a 1/16 sample): per-group
    // miss probability ~1e-9, zero violations pinned on the fixed
    // corpus. The 100 TB shape: the estimate touches 1/16 of the rows
    // and answers with quantified error — the exploratory-query mode
    // every warehouse runs before committing to the full scan.
    QueryDef.views("aqp1x_sampled_counts",
      """SELECT count(*) AS n_groups,
        |       CAST(0 AS BIGINT) AS n_bound_violations
        |FROM (SELECT event_type, CAST(ts AS DATE) AS day FROM events
        |      GROUP BY event_type, CAST(ts AS DATE)) g""".stripMargin) { spark =>
      val ev = spark.table("events")
        .select(col("event_type"), col("ts").cast("date").as("day"),
          col("event_id"))
      val sampled = ev
        .filter(pmod(xxhash64(col("event_id"), lit(7L)), lit(16)) === 0)
        .groupBy("event_type", "day")
        .agg((count(lit(1)) * 16).as("est"))
      val exact = ev.groupBy("event_type", "day")
        .agg(count(lit(1)).as("true_n"))
      exact.join(sampled, Seq("event_type", "day"), "left")
        .na.fill(0L, Seq("est"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(abs(col("est") - col("true_n")) >
            lit(6.0) * sqrt(col("true_n") * 15.0) + 16.0, 1L)
            .otherwise(0L)).as("n_bound_violations"))
    },

    // Equal-frequency binning ([[graft.ops.Profile.quantileBins]]):
    // 10 buckets over events.value from one GK-sketch aggregate,
    // assignment as an unrolled codegen comparison chain. Graded on
    // the quantile guarantee: every bucket's EXACT population within
    // 5%·n of n/k (the qs1x bar — GK at accuracy 10⁴ is ~100× inside
    // it; ties in the 2-decimal fixture are far smaller than the
    // slack), and exactly k buckets come out non-empty.
    QueryDef.views("qb1x_quantile_bins",
      """SELECT count(*) AS n_rows, CAST(10 AS BIGINT) AS n_bins,
        |       CAST(0 AS BIGINT) AS n_balance_violations
        |FROM events""".stripMargin) { spark =>
      val binned = Profile.quantileBins(
        spark.table("events").select("value"), "value", numBins = 10)
      val counts = binned.groupBy("bin").agg(count(lit(1)).as("c"))
      counts.crossJoin(broadcast(
          binned.agg(count(lit(1)).as("n"))))
        .agg(sum(col("c")).as("n_rows"),
          count(lit(1)).as("n_bins"),
          sum(when(abs(col("c") - col("n") / 10) > col("n") * 0.05, 1L)
            .otherwise(0L)).as("n_balance_violations"))
    },

    // Persistable KMV sketches: the re-aggregation path (per-shard
    // kmv_sketch arrays → kmv_merge → kmv_value, the shape a 100 TB
    // corpus uses to keep daily distinct-profiles it rolls up WITHOUT
    // re-scanning history) must be BIT-IDENTICAL to running
    // kmv_distinct over the union directly — both keep the k smallest
    // distinct hashes, so merge order and sharding cannot matter. Also
    // re-grades the estimate against exact distinct at KMV's ±20% bar.
    QueryDef.views("kmv1x_mergeable_sketches",
      """SELECT count(DISTINCT event_type) AS n_groups,
        |       CAST(0 AS BIGINT) AS n_path_mismatch,
        |       CAST(0 AS BIGINT) AS n_error_violations
        |FROM events""".stripMargin) { spark =>
      val ev = spark.table("events")
        .select("event_type", "user_id", "event_id")
      // 8 "shards" stand in for the daily/partition boundary a real
      // pipeline persists sketches at
      val perShard = ev.withColumn("shard", col("event_id") % 8)
        .groupBy("event_type", "shard")
        .agg(expr("kmv_sketch(user_id, 256)").as("sk"))
      val merged = perShard.groupBy("event_type")
        .agg(expr("kmv_value(kmv_merge(sk))").as("merged_est"))
      val direct = ev.groupBy("event_type")
        .agg(expr("kmv_distinct(user_id, 256)").as("direct_est"))
      val exact = ev.select("event_type", "user_id").distinct()
        .groupBy("event_type").agg(count(lit(1)).as("exact"))
      merged.join(direct, "event_type").join(exact, "event_type")
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("merged_est") =!= col("direct_est"), 1L)
            .otherwise(0L)).as("n_path_mismatch"),
          sum(when(abs(col("merged_est") - col("exact")) / col("exact") > 0.2,
            1L).otherwise(0L)).as("n_error_violations"))
    },

    QueryDef.views("hll1x_sketch_error",
      """SELECT count(DISTINCT event_type) AS n_groups,
        |       CAST(0 AS BIGINT) AS n_hll_violations,
        |       CAST(0 AS BIGINT) AS n_kmv_violations
        |FROM events""".stripMargin) { spark =>
      // dedup-first: see hll1_approx_distinct — identical results, no
      // Expand, every agg stays on the hash fast path
      spark.table("events").select("event_type", "user_id").distinct()
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"),
          expr("kmv_distinct(user_id, 256)").as("kmv"),
          count(col("user_id")).as("exact"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(abs(col("approx") - col("exact")) / col("exact") > 0.05,
            1L).otherwise(0L)).as("n_hll_violations"),
          sum(when(abs(col("kmv") - col("exact")) / col("exact") > 0.2,
            1L).otherwise(0L)).as("n_kmv_violations"))
    },

    // Pre-join cardinality estimation (kmv_intersect): the planning
    // probe that answers "how many keys actually meet" from two 1-row
    // sketch aggregates — the input to broadcast/salt decisions at
    // 100 TB — graded against the EXACT distinct-key intersection
    // DuckDB computes. k=4096 puts the KMV Jaccard path well inside
    // ±10% (and the sf0.01 cardinalities sit below k, where the
    // estimator is exact by construction); the +32 absolute slack
    // keeps tiny intersections out of the relative-error regime.
    QueryDef.views("jc1x_join_cardinality",
      """WITH co AS (SELECT CAST(count(*) AS BIGINT) AS x FROM
        |    (SELECT DISTINCT o_custkey FROM orders
        |     WHERE o_custkey IN (SELECT c_custkey FROM customer))),
        |  pl AS (SELECT CAST(count(*) AS BIGINT) AS x FROM
        |    (SELECT DISTINCT l_partkey FROM lineitem
        |     WHERE l_partkey IN (SELECT p_partkey FROM part))),
        |  eh AS (SELECT CAST(count(*) AS BIGINT) AS x FROM
        |    (SELECT DISTINCT user_id FROM events
        |     WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
        |       AND user_id IN (SELECT user_id FROM events
        |                       WHERE ts >= TIMESTAMP '2024-01-16 00:00:00')))
        |SELECT 'customer_orders' AS pair, x AS exact_intersection,
        |       true AS within_bound FROM co
        |UNION ALL SELECT 'events_halves', x, true FROM eh
        |UNION ALL SELECT 'part_lineitem', x, true FROM pl
        |ORDER BY pair""".stripMargin) { spark =>
      import org.apache.spark.sql.DataFrame
      def probe(name: String, l: DataFrame, lk: String,
          r: DataFrame, rk: String): DataFrame = {
        val ska = l.agg(expr(s"kmv_sketch($lk, 4096)").as("sa"))
        val skb = r.agg(expr(s"kmv_sketch($rk, 4096)").as("sb"))
        val exact = l.select(col(lk).as("k")).distinct()
          .join(r.select(col(rk).as("k")).distinct(), "k")
          .agg(count(lit(1)).as("exact_intersection"))
        ska.crossJoin(skb).crossJoin(exact)
          .select(lit(name).as("pair"), col("exact_intersection"),
            (abs(expr("kmv_intersect(sa, sb)") - col("exact_intersection"))
              <= greatest(expr("exact_intersection div 10"), lit(32L)))
              .as("within_bound"))
      }
      val ev = spark.table("events")
      val cut = expr("TIMESTAMP '2024-01-16 00:00:00'")
      probe("customer_orders",
          spark.table("orders"), "o_custkey",
          spark.table("customer"), "c_custkey")
        .unionByName(probe("events_halves",
          ev.filter(col("ts") < cut), "user_id",
          ev.filter(col("ts") >= cut), "user_id"))
        .unionByName(probe("part_lineitem",
          spark.table("lineitem"), "l_partkey",
          spark.table("part"), "p_partkey"))
        .orderBy("pair")
    },

    // Hashing-trick featurizer (feature_hash / featureHashSparse): both
    // paths must preserve token mass — Σ dense vector = token count =
    // Σ sparse counts, per document. DuckDB recomputes the token count
    // from raw text (the xxhash64 bucket assignment itself has no
    // DuckDB twin; dense/sparse bucket-level agreement is spec-pinned
    // in PlanningOpsSpec).
    QueryDef.views("fh1x_feature_hash_mass",
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents)
        |SELECT doc_id, n AS n_tokens, n AS dense_l1, n AS sparse_l1
        |FROM t ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val dense = graft.ops.TextOps.featureHash(docs, "doc_id", "text", 64)
        .select(col("doc_id"), col("n_tokens"),
          expr("aggregate(features, 0L, (s, v) -> s + v)").as("dense_l1"))
      val sparse = graft.ops.TextOps
        .featureHashSparse(docs, "doc_id", "text", 64)
        .groupBy("doc_id").agg(sum("cnt").as("sparse_l1"))
      dense.join(sparse, Seq("doc_id"), "left")
        .na.fill(0L, Seq("sparse_l1"))
        .orderBy("doc_id")
    }
  )
}
