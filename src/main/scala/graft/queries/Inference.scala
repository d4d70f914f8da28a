package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{Pca, Pin, Stats, TextOps}

/** Inference / resampling / risk-analytics query inventory (session 7):
  * survival hazard, digit-law data-quality testing, Poisson-bootstrap
  * confidence intervals, truncated-EWMA smoothing, market-basket pair
  * mining, and split-conformal prediction intervals. Same discipline as
  * [[Analytics]]: every statistic is exact scaled-integer arithmetic so
  * the DuckDB oracle matches bit-for-bit.
  */
object Inference {

  val defs: Seq[QueryDef] = Seq(

    // na1 — Nelson–Aalen cumulative-hazard curve for order
    // time-to-completion: duration = whole days from o_orderdate to the
    // order's LAST ship date (nonnegative spans only — the synthetic
    // dates put some ship dates before the order), terminal event
    // observed iff the order closed (status 'F'); open/partial orders
    // are right-censored at their current span. Hazard increments are
    // exact integer ratios, so unlike a Kaplan–Meier product the whole
    // curve is oracle-exact. Plan: one join + per-order hash aggregate
    // collapses line items to subjects, then a window over |distinct
    // durations| rows — line items are scanned once.
    QueryDef.views("na1_nelson_aalen",
      """WITH subj AS (SELECT o.o_orderkey, o.o_orderstatus,
        |                date_diff('day', CAST(o.o_orderdate AS DATE),
        |                  CAST(max(l.l_shipdate) AS DATE)) AS dur_days
        |              FROM orders o JOIN lineitem l
        |                ON l.l_orderkey = o.o_orderkey
        |              GROUP BY 1, 2, o.o_orderdate),
        |     s2 AS (SELECT dur_days,
        |              CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
        |                AS observed
        |            FROM subj WHERE dur_days >= 0),
        |     pt AS (SELECT dur_days, count(*) AS n_at,
        |              sum(observed) AS d
        |            FROM s2 GROUP BY 1),
        |     w AS (SELECT dur_days, n_at, d,
        |             sum(n_at) OVER () - COALESCE(sum(n_at) OVER
        |               (ORDER BY dur_days ROWS BETWEEN UNBOUNDED
        |                PRECEDING AND 1 PRECEDING), 0) AS risk
        |           FROM pt),
        |     h AS (SELECT dur_days, risk, d,
        |             (1000000 * d) // risk AS step,
        |             sum((1000000 * d) // risk)
        |               OVER (ORDER BY dur_days) AS ch
        |           FROM w)
        |SELECT CAST(dur_days AS BIGINT) AS dur_days,
        |       CAST(risk AS BIGINT) AS n_risk,
        |       CAST(d AS BIGINT) AS d_events,
        |       CAST(step AS BIGINT) AS hazard_step_ppm,
        |       CAST(ch AS BIGINT) AS cum_hazard_ppm
        |FROM h WHERE d > 0 ORDER BY dur_days""".stripMargin) { spark =>
      val subj = spark.table("orders").as("o")
        .join(spark.table("lineitem").as("l"),
          col("l.l_orderkey") === col("o.o_orderkey"))
        .groupBy(col("o.o_orderkey"), col("o.o_orderstatus"),
          col("o.o_orderdate"))
        .agg(expr(
          """CAST(datediff(CAST(max(l_shipdate) AS DATE),
            |  CAST(o_orderdate AS DATE)) AS BIGINT)""".stripMargin)
          .as("dur_days"))
      val s2 = subj.filter(col("dur_days") >= 0).select(col("dur_days"),
        expr("CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END")
          .as("observed"))
      Stats.nelsonAalen(s2, Seq.empty, "dur_days", "observed")
        .orderBy("dur_days")
    },

    // bd1 — Benford first-digit law over order totals in cents: the
    // fabricated-data / broken-ETL tripwire. First digit is lexical
    // (no float log10 at power-of-ten boundaries); expected shares are
    // the fixed ⌊10⁶·log₁₀(1+1/d)⌋ constants embedded identically in
    // both engines; χ² contributions are exact DECIMAL(38,0)/HUGEINT
    // rationals. One hash aggregate to 9 rows.
    QueryDef.views("bd1_benford_digits", {
      val expected = Stats.benfordPpm.map { case (d, p) =>
        s"WHEN digit = $d THEN $p" }.mkString(" ")
      s"""WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT)
         |             AS cents
         |           FROM orders WHERE o_totalprice > 0),
         |     d AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1)
         |             AS INT) AS digit
         |           FROM c WHERE cents > 0),
         |     o AS (SELECT digit, count(*) AS obs FROM d GROUP BY 1),
         |     t AS (SELECT digit, obs, sum(obs) OVER () AS n,
         |             (CASE $expected END) AS p
         |           FROM o)
         |SELECT CAST(digit AS BIGINT) AS digit,
         |       CAST(obs AS BIGINT) AS observed,
         |       CAST(p AS BIGINT) AS benford_ppm,
         |       CAST((1000000 * obs) // n AS BIGINT) AS observed_ppm,
         |       CAST(((1000000 * CAST(obs AS HUGEINT) - p * n)
         |             * (1000000 * CAST(obs AS HUGEINT) - p * n))
         |            // (p * n * 1000000) AS BIGINT)
         |         AS chi2_contrib_micro
         |FROM t ORDER BY digit""".stripMargin
    }) { spark =>
      Stats.benford(
        spark.table("orders").filter(col("o_totalprice") > 0)
          .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
            .as("cents")),
        "cents").orderBy("digit")
    },

    // bs1 — Poisson bootstrap of the mean line-item price (cents): 32
    // deterministic replicates via per-(row, replicate) Poisson(1)
    // weights — ONE scan with a map-side explode and one 32-group hash
    // aggregate, the canonical resampling shape for a 100 TB table (B
    // full resample shuffles is the anti-pattern). One md5 per (row,
    // block-of-8) yields eight 16-bit uniform lanes; the inverse-CDF
    // ladder is a fixed constant table, so every replicate mean is
    // bit-exact in DuckDB too (which decodes the same hex lanes with
    // the portable instr ladder).
    QueryDef.views("bs1_poisson_bootstrap", {
      val idStr = "concat_ws('-', CAST(l_orderkey AS VARCHAR), " +
        "CAST(l_linenumber AS VARCHAR), CAST(blk AS VARCHAR))"
      val u = Stats.hex16FieldSql("h", "lane * 4 + 1")
      s"""WITH v AS (SELECT l_orderkey, l_linenumber,
         |             CAST(floor(l_extendedprice * 100) AS BIGINT) AS val
         |           FROM lineitem),
         |     r AS (SELECT unnest(range(0, 4)) AS blk),
         |     l AS (SELECT unnest(range(0, 8)) AS lane),
         |     d AS (SELECT val, blk, lane, md5($idStr) AS h
         |           FROM v, r, l),
         |     x AS (SELECT blk * 8 + lane AS b, val,
         |             ${Stats.poissonLadder16Sql(u)} AS w
         |           FROM d),
         |     m AS (SELECT b AS replicate, sum(w) AS n_eff,
         |             sum(CAST(w AS HUGEINT) * val) AS wv
         |           FROM x GROUP BY 1)
         |SELECT CAST(replicate AS BIGINT) AS replicate,
         |       CAST(n_eff AS BIGINT) AS n_eff,
         |       CAST(wv // CAST(n_eff AS HUGEINT) AS BIGINT)
         |         AS mean_value
         |FROM m ORDER BY replicate""".stripMargin
    }) { spark =>
      Stats.poissonBootstrap(
        spark.table("lineitem").select(col("l_orderkey"),
          col("l_linenumber"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("val")),
        Seq("l_orderkey", "l_linenumber"), "val", replicates = 32)
        .orderBy("replicate")
    },

    // ew1 — truncated EWMA (α=0.25, 16-lag) over the hourly event-count
    // series per event type. The fixed ⌊10⁶·α(1−α)^k⌋ weight ladder
    // makes the smoother exact AND embarrassingly parallel: each output
    // point is a bounded-lag weighted sum assembled by an EQUI-join on
    // (type, hour−k) after a 16-fold lag explode — no recursive state,
    // no sequential scan, which is what makes EWMA feasible at all on a
    // partitioned 100 TB series.
    QueryDef.views("ew1_ewma_hourly", {
      val w = Stats.ewmaWeightsMicro(250, 16)
      val warr = w.mkString("[", ", ", "]")
      s"""WITH s AS (SELECT event_type,
         |             epoch_us(ts) // 3600000000 AS hr,
         |             count(*) AS x
         |           FROM events GROUP BY 1, 2),
         |     lag AS (SELECT event_type, hr, unnest(range(0, 16)) AS k
         |             FROM s),
         |     j AS (SELECT l.event_type, l.hr, l.k, s.x
         |           FROM lag l JOIN s
         |             ON s.event_type = l.event_type
         |            AND s.hr = l.hr - l.k),
         |     agg AS (SELECT event_type, hr, count(*) AS n_lags,
         |               sum(($warr)[CAST(k + 1 AS INT)]
         |                   * CAST(x AS HUGEINT)) AS sw
         |             FROM j GROUP BY 1, 2)
         |SELECT event_type, CAST(hr AS BIGINT) AS hr,
         |       CAST(n_lags AS BIGINT) AS n_lags,
         |       CAST(sw // 1000000 AS BIGINT) AS ewma_micro_value
         |FROM agg ORDER BY event_type, hr""".stripMargin
    }) { spark =>
      val series = spark.table("events")
        .groupBy(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000")
            .as("hr"))
        .agg(count(lit(1)).as("x"))
      Stats.ewmaSmooth(series, Seq("event_type"), "hr", "x",
        alphaPm = 250, lookback = 16)
        .orderBy("event_type", "hr")
    },

    // fi1 — market-basket frequent pairs with the Apriori prune: items
    // (part categories, l_partkey mod 40) below min support are dropped
    // BEFORE the within-order pair self-join, so the candidate join's
    // width is survivors-only — the prune is what keeps basket mining
    // subquadratic at 100 TB. Lift is the exact ppm ratio
    // 10⁶·n·c_ab div (c_a·c_b).
    QueryDef.views("fi1_frequent_pairs",
      """WITH items AS (SELECT DISTINCT l_orderkey AS basket,
        |                 l_partkey % 40 AS item
        |               FROM lineitem),
        |     nb AS (SELECT count(DISTINCT basket) AS n FROM items),
        |     freq AS (SELECT item, count(*) AS c FROM items
        |              GROUP BY 1 HAVING count(*) >= 20),
        |     pruned AS (SELECT i.basket, i.item, f.c
        |                FROM items i JOIN freq f USING (item)),
        |     pairs AS (SELECT a.item AS item_a, b.item AS item_b,
        |                 count(*) AS pc, max(a.c) AS ca, max(b.c) AS cb
        |               FROM pruned a JOIN pruned b
        |                 ON a.basket = b.basket AND a.item < b.item
        |               GROUP BY 1, 2 HAVING count(*) >= 20)
        |SELECT item_a, item_b, CAST(pc AS BIGINT) AS pair_count,
        |       CAST(ca AS BIGINT) AS count_a,
        |       CAST(cb AS BIGINT) AS count_b,
        |       CAST((1000000 * CAST(pc AS HUGEINT) * nb.n)
        |            // (CAST(ca AS HUGEINT) * cb) AS BIGINT) AS lift_ppm
        |FROM pairs, nb ORDER BY item_a, item_b""".stripMargin) { spark =>
      Stats.frequentPairs(
        spark.table("lineitem").select(col("l_orderkey"),
          expr("l_partkey % 40").as("item")),
        "l_orderkey", "item", minSupport = 20L)
        .orderBy("item_a", "item_b")
    },

    // cf1 — split-conformal prediction interval for the quantity→price
    // linear model: fit on the train split (deterministic md5 ‰
    // buckets <600), take the ⌈0.9·(n+1)⌉-th smallest absolute residual
    // on the calibration split (600–799) as the interval half-width,
    // grade empirical coverage on the test split (≥800). Residuals are
    // exact µ-scaled integers off ols1's ppm fit, and the calibration
    // quantile is an exact order statistic — the one global sort is
    // over the CALIBRATION SLICE only (a fifth of the data; at 100 TB
    // you'd swap the exact order statistic for the KLL sketch whose
    // error qs1x pins). Output: one row with the fit, the conformal
    // radius, and test coverage ppm.
    QueryDef.views("cf1_conformal_interval", {
      val pmB = TextOps.pmBucketSql(
        "md5(concat_ws('-', CAST(l_orderkey AS VARCHAR), " +
          "CAST(l_linenumber AS VARCHAR)))")
      s"""WITH p AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
         |             CAST(floor(l_extendedprice * 100) AS BIGINT) AS y,
         |             $pmB AS bucket
         |           FROM lineitem),
         |     tr AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |              sum(CAST(x AS HUGEINT)) AS sx,
         |              sum(CAST(y AS HUGEINT)) AS sy,
         |              sum(CAST(x AS HUGEINT) * y) AS sxy,
         |              sum(CAST(x AS HUGEINT) * x) AS sxx
         |            FROM p WHERE bucket < 600),
         |     fit AS (SELECT n,
         |               (1000000 * (n * sxy - sx * sy))
         |                 // (n * sxx - sx * sx) AS slope_ppm,
         |               (1000000 * (sy * (n * sxx - sx * sx)
         |                   - (n * sxy - sx * sy) * sx))
         |                 // (n * (n * sxx - sx * sx)) AS icpt_ppm
         |             FROM tr),
         |     cal AS (SELECT abs(1000000 * CAST(p.y AS HUGEINT)
         |               - (f.slope_ppm * p.x + f.icpt_ppm)) AS r
         |             FROM p, fit f WHERE bucket >= 600 AND bucket < 800),
         |     ranked AS (SELECT r, row_number() OVER (ORDER BY r) AS rn,
         |                  count(*) OVER () AS nc
         |                FROM cal),
         |     q AS (SELECT nc, r AS q_resid FROM ranked
         |           WHERE rn = CAST(ceil(0.9 * (nc + 1)) AS BIGINT)),
         |     tst AS (SELECT count(*) AS n_test,
         |               sum(CASE WHEN abs(1000000 * CAST(p.y AS HUGEINT)
         |                 - (f.slope_ppm * p.x + f.icpt_ppm)) <= q.q_resid
         |                 THEN 1 ELSE 0 END) AS covered
         |             FROM p, fit f, q WHERE bucket >= 800)
         |SELECT CAST(f.n AS BIGINT) AS n_train,
         |       CAST(f.slope_ppm AS BIGINT) AS slope_ppm,
         |       CAST(f.icpt_ppm AS BIGINT) AS intercept_ppm,
         |       CAST(q.nc AS BIGINT) AS n_cal,
         |       CAST(q.q_resid AS BIGINT) AS q_resid_micro,
         |       CAST(t.n_test AS BIGINT) AS n_test,
         |       CAST(t.covered AS BIGINT) AS covered,
         |       CAST((1000000 * t.covered) // t.n_test AS BIGINT)
         |         AS coverage_ppm
         |FROM fit f, q, tst t""".stripMargin
    }) { spark =>
      // hash materialized once, bucket decoded from the column (same
      // md5-amplification trap as poissonBootstrap's scaladoc notes);
      // rebalanced because the md5 + three filtered passes all inherit
      // the scan's split count (one file at bench scale = one core).
      // The projection is PINNED ([[Pin]]): fit, calibration
      // rank, and test coverage are three separate consumers, and
      // without pinning each re-runs the md5 over the full table —
      // materialized it is 3 integers per row, the cheap side of that
      // trade at any scale.
      val p = Pin(graft.ops.Rebalance.forAmplification(
        spark.table("lineitem")
          .withColumn("__h", expr(
            "md5(concat_ws('-', CAST(l_orderkey AS STRING), " +
              "CAST(l_linenumber AS STRING)))"))
          .select(
            expr("CAST(floor(l_quantity) AS BIGINT)").as("x"),
            expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("y"),
            expr(TextOps.pmBucketFastSql("__h")).as("bucket"))))
      val fit = Stats.linearFit(p.filter(col("bucket") < 600),
        Seq.empty, "x", "y")
        .select(col("n").as("n_train"), col("slope_ppm"),
          col("intercept_ppm"))
      val withResid = p.crossJoin(broadcast(fit))
        .withColumn("__r", expr(
          """abs(1000000 * cast(y as decimal(38,0))
            | - (cast(slope_ppm as decimal(38,0)) * x
            |    + intercept_ppm))""".stripMargin))
      val cal = withResid
        .filter(col("bucket") >= 600 && col("bucket") < 800)
      // The 90th-percentile calibration residual is ONE order
      // statistic; ranking it with an unpartitioned window would
      // funnel the whole calibration set through a single partition,
      // so the exact global rank comes from the shared range-partition
      // + per-partition-offset pattern
      // ([[graft.ops.Rebalance.globalRowNumber]]).
      val ranked = graft.ops.Rebalance.globalRowNumber(
        cal.select(col("__r")), Seq(col("__r")), "__rn")
      val nc = ranked.count() // bounded: re-reads the helper's checkpoint
      val k = math.ceil(0.9 * (nc + 1)).toLong
      val q = ranked.filter(col("__rn") === k)
        .select(lit(nc).as("n_cal"), col("__r").as("q_resid"))
      val tst = withResid.filter(col("bucket") >= 800)
        .crossJoin(broadcast(q))
        .agg(max("n_cal").as("n_cal"),
          max(col("q_resid").cast("long")).as("q_resid_micro"),
          count(lit(1)).as("n_test"),
          sum(when(col("__r") <= col("q_resid"), 1L).otherwise(0L))
            .as("covered"))
      broadcast(fit).crossJoin(tst).select(
        col("n_train").cast("long"),
        col("slope_ppm").cast("long"),
        col("intercept_ppm").cast("long"),
        col("n_cal").cast("long"),
        col("q_resid_micro").cast("long"),
        col("n_test").cast("long"),
        col("covered").cast("long"),
        expr("CAST((1000000 * covered) div n_test AS BIGINT)")
          .as("coverage_ppm"))
    },

    // pca1 — the data-sized pass of PCA: exact fixed-point covariance
    // numerators over the embedding corpus, accumulated per partition
    // into a d(d+1)/2 array (mapPartitions — dims²-sized state is the
    // textbook per-partition-imperative case; a posexplode² would
    // shuffle n·d² rows). Output is exact integers, so DuckDB rebuilds
    // every (i ≤ j) cell bit-for-bit from an unnest² self-join — fine
    // at oracle scale, which is exactly why the ENGINE side doesn't do
    // it that way.
    QueryDef.views("pca1_covariance",
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |             x -> CAST(floor(CAST(x AS DOUBLE) * 10000)
        |               AS BIGINT)) AS v
        |           FROM embeddings),
        |     e AS (SELECT vec_id, unnest(v) AS x,
        |             generate_subscripts(v, 1) AS i
        |           FROM q),
        |     nn AS (SELECT count(*) AS n FROM q),
        |     m AS (SELECT i, sum(x) AS mi FROM e GROUP BY 1),
        |     s AS (SELECT a.i AS i, b.i AS j,
        |             sum(CAST(a.x AS HUGEINT) * b.x) AS sij
        |           FROM e a JOIN e b
        |             ON a.vec_id = b.vec_id AND a.i <= b.i
        |           GROUP BY 1, 2)
        |SELECT CAST(s.i - 1 AS BIGINT) AS i, CAST(s.j - 1 AS BIGINT) AS j,
        |       CAST(nn.n AS BIGINT) AS n,
        |       CAST(ma.mi AS BIGINT) AS sum_i,
        |       CAST(mb.mi AS BIGINT) AS sum_j,
        |       CAST(s.sij AS BIGINT) AS sum_ij,
        |       CAST(nn.n * s.sij - CAST(ma.mi AS HUGEINT) * mb.mi
        |         AS BIGINT) AS cov_num
        |FROM s JOIN m ma ON ma.i = s.i JOIN m mb ON mb.i = s.j, nn
        |ORDER BY i, j""".stripMargin) { spark =>
      Pca.covarianceSums(spark.table("embeddings"), "embedding",
        scalePow = 4).orderBy("i", "j")
    },

    // pca1x — the eigensolve's invariants, oracle-pinned: the driver
    // Jacobi runs on pca1's exact covariance, and this entry emits
    // exact fields DuckDB recomputes (n, dims, trace_num = Σ diagonal
    // cov_num) next to property fields DuckDB pins as literals —
    // eigenvector orthonormality violations (= 0), Σλ = trace and
    // VᵀΛV = C reconstruction within float tolerance (= true/0), plus
    // a DATA-side check: the corpus variance along component 0 (one
    // scan-local projection + one aggregate) must equal λ₀.
    QueryDef.views("pca1x_eigen_invariants",
      """WITH q AS (SELECT list_transform(embedding,
        |             x -> CAST(floor(CAST(x AS DOUBLE) * 10000)
        |               AS BIGINT)) AS v
        |           FROM embeddings),
        |     e AS (SELECT unnest(v) AS x,
        |             generate_subscripts(v, 1) AS i
        |           FROM q),
        |     nn AS (SELECT count(*) AS n,
        |             CAST(max(len(v)) AS BIGINT) AS dims FROM q),
        |     diag AS (SELECT i, sum(CAST(x AS HUGEINT) * x) AS sii,
        |               sum(x) AS mi
        |             FROM e GROUP BY 1),
        |     tr AS (SELECT sum(nn.n * sii - CAST(mi AS HUGEINT) * mi)
        |              AS trace_num
        |            FROM diag, nn)
        |SELECT CAST(nn.n AS BIGINT) AS n, nn.dims AS dims,
        |       CAST(tr.trace_num AS BIGINT) AS trace_num,
        |       CAST(0 AS BIGINT) AS orth_violations,
        |       true AS eig_trace_ok,
        |       CAST(0 AS BIGINT) AS recon_violations,
        |       true AS eig_descending_ok,
        |       true AS proj_var_matches_lambda0
        |FROM nn, tr""".stripMargin) { spark =>
      import spark.implicits._
      val emb = spark.table("embeddings")
      val model = Pca.fit(emb, "embedding", scalePow = 4)
      val d = model.dims
      val traceNum = {
        // recover the exact integer trace from the graded pass
        Pca.covarianceSums(emb, "embedding", scalePow = 4)
          .filter(col("i") === col("j"))
          .agg(sum("cov_num")).head().getLong(0)
      }
      // (a) orthonormality of the Jacobi eigenvectors
      val orthViolations = (for {
        a <- 0 until d; b <- a until d
      } yield {
        val dot = (0 until d).map(k =>
          model.components(a)(k) * model.components(b)(k)).sum
        val target = if (a == b) 1.0 else 0.0
        if (math.abs(dot - target) > 1e-8) 1 else 0
      }).sum.toLong
      // (b) Σλ = trace(C)
      val trace = (0 until d).map(i => model.covariance(i)(i)).sum
      val eigTraceOk =
        math.abs(model.eigenvalues.sum - trace) <= 1e-9 * math.abs(trace)
      // (c) reconstruction VᵀΛV = C entrywise
      val scaleTol = 1e-9 * (trace / d).max(1e-300)
      val reconViolations = (for {
        i <- 0 until d; j <- i until d
      } yield {
        val rec = (0 until d).map(k => model.eigenvalues(k) *
          model.components(k)(i) * model.components(k)(j)).sum
        if (math.abs(rec - model.covariance(i)(j)) > scaleTol) 1 else 0
      }).sum.toLong
      val eigDescending = model.eigenvalues.sliding(2)
        .forall(p => p.length < 2 || p(0) >= p(1) - 1e-15)
      // (d) data-side: sample variance along component 0 equals λ0.
      // proj_micro is µ-rounded, so compare at 1e-3 relative tolerance.
      val proj = Pca.project(emb, "vec_id", "embedding", model, k = 1)
        .select(expr("CAST(proj_micro[0] AS DOUBLE) / 1e6").as("p"))
      val r = proj.agg(count(lit(1)).as("n"), sum("p").as("s"),
        sum(expr("p * p")).as("ss")).head()
      val pn = r.getAs[Long]("n").toDouble
      val varP = (r.getAs[Double]("ss") -
        r.getAs[Double]("s") * r.getAs[Double]("s") / pn) / pn
      val lam0 = model.eigenvalues(0)
      val projVarOk = math.abs(varP - lam0) <= 1e-3 * lam0.max(1e-300)
      Seq((model.n, d.toLong, traceNum, orthViolations, eigTraceOk,
        reconViolations, eigDescending, projVarOk))
        .toDF("n", "dims", "trace_num", "orth_violations",
          "eig_trace_ok", "recon_violations", "eig_descending_ok",
          "proj_var_matches_lambda0")
    },

    // ppr1 — personalized PageRank over pr1's deterministic doc link
    // graph, teleporting only to the seed set (doc_id ≡ 0 mod 97):
    // "authority relative to THESE nodes", the retrieval/recsys rank.
    // All-integer mass arithmetic, so the oracle unrolls the same three
    // supersteps as CTEs and matches bit-for-bit (pr1's discipline,
    // seed-restricted restart).
    QueryDef.views("ppr1_personalized_pagerank", {
      val S = "1000000000000"
      val iterCtes = (1 to 3).map { i =>
        s"""  c$i AS (SELECT e.dst AS v,
           |    CAST(sum((p.pr * 850 // 1000) // d.outdeg) AS BIGINT) AS m
           |    FROM e JOIN p${i - 1} p ON e.src = p.v
           |    JOIN deg d ON d.src = e.src GROUP BY 1),
           |  p$i AS (SELECT nodes.v, nodes.is_seed,
           |    CAST((CASE WHEN nodes.is_seed
           |            THEN ($S * 150 // 1000) // s.n_seeds ELSE 0 END)
           |      + COALESCE(c$i.m, 0) AS BIGINT) AS pr
           |    FROM nodes LEFT JOIN c$i ON nodes.v = c$i.v, s)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT count(*) AS ndoc FROM documents),
         |  ks AS (SELECT doc_id AS src,
         |           unnest(range(1, 2 + doc_id % 3)) AS k
         |         FROM documents),
         |  e AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
         |        FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
         |  nodes AS (SELECT v, v % 97 = 0 AS is_seed FROM
         |    (SELECT DISTINCT v FROM
         |      (SELECT src AS v FROM e UNION SELECT dst AS v FROM e))),
         |  s AS (SELECT CAST(sum(CASE WHEN is_seed THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_seeds FROM nodes),
         |  deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |          FROM e GROUP BY 1),
         |  p0 AS (SELECT v, is_seed,
         |           CAST(CASE WHEN is_seed THEN $S // s.n_seeds
         |             ELSE 0 END AS BIGINT) AS pr
         |         FROM nodes, s),
         |$iterCtes
         |SELECT v, is_seed, pr FROM p3 ORDER BY v""".stripMargin
    }) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
      graft.ops.GraphOps.personalizedPageRank(edges, "src", "dst",
        seedPred = expr("v % 97 = 0"), iterations = 3).orderBy("v")
    },

    // dt1 — best regression stump (quantity → price cents): the
    // variance-explained argmax over all candidate thresholds, from
    // ONE hash aggregate to |distinct quantities| step points + a
    // bounded window. Scores are truncated scaled integers computed
    // identically in both engines, so the ARGMAX (threshold choice,
    // tie-break included) is pinned, not just the score.
    QueryDef.views("dt1_decision_stump",
      """WITH p AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
        |             CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
        |           FROM lineitem),
        |     px AS (SELECT x, CAST(count(*) AS HUGEINT) AS nx,
        |              sum(CAST(y AS HUGEINT)) AS sx
        |            FROM p GROUP BY 1),
        |     c AS (SELECT x, sum(nx) OVER () AS n, sum(sx) OVER () AS s,
        |             sum(nx) OVER (ORDER BY x) AS nl,
        |             sum(sx) OVER (ORDER BY x) AS sl
        |           FROM px),
        |     k AS (SELECT *, sl // 1000 AS slk, (s - sl) // 1000 AS srk,
        |             s // 1000 AS sk
        |           FROM c WHERE nl < n),
        |     f AS (SELECT *,
        |             (slk * slk) // nl + (srk * srk) // (n - nl) AS score
        |           FROM k),
        |     best AS (SELECT * FROM f ORDER BY score DESC, x ASC LIMIT 1)
        |SELECT CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS best_x,
        |       CAST(nl AS BIGINT) AS n_left,
        |       CAST(n - nl AS BIGINT) AS n_right,
        |       CAST((1000000 * sl) // nl AS BIGINT) AS mean_left_micro,
        |       CAST((1000000 * (s - sl)) // (n - nl) AS BIGINT)
        |         AS mean_right_micro,
        |       CAST((score - (sk * sk) // n) // n AS BIGINT)
        |         AS gain_per_row
        |FROM best""".stripMargin) { spark =>
      Stats.decisionStump(
        spark.table("lineitem").select(
          expr("CAST(floor(l_quantity) AS BIGINT)").as("x"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("y")),
        "x", "y")
    },

    // mi1 — mutual information between document language and source
    // (micro-nats): the feature-selection dependence score next to
    // chi1's χ². One contingency aggregate; margins over the cells;
    // ln of one identically-computed double ratio is the single IEEE
    // op (psi/lm1 precedent), micro-rounded before the exact Σc·lp.
    QueryDef.views("mi1_mutual_information",
      """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS c
        |               FROM documents GROUP BY 1, 2),
        |     m AS (SELECT c,
        |             sum(c) OVER (PARTITION BY a) AS ra,
        |             sum(c) OVER (PARTITION BY b) AS cb,
        |             sum(c) OVER () AS n
        |           FROM cells),
        |     l AS (SELECT c, n,
        |             CAST(round(ln(CAST(c * n AS DOUBLE)
        |               / CAST(ra * cb AS DOUBLE)) * 1000000) AS BIGINT)
        |               AS lp
        |           FROM m)
        |SELECT CAST(max(n) AS BIGINT) AS n,
        |       CAST(count(*) AS BIGINT) AS cells,
        |       CAST(sum(CAST(c AS HUGEINT) * lp) // max(n) AS BIGINT)
        |         AS mi_micro
        |FROM l""".stripMargin) { spark =>
      Stats.mutualInformation(spark.table("documents"), "lang", "source")
    },

    // iso1x — isotonic (PAVA) calibration of the return rate over
    // quantity bins, graded as an invariant entry (hll1x's pattern:
    // the POOLING lives outside SQL's reach, so DuckDB recomputes the
    // exact inputs and pins the properties the fit must satisfy):
    // per-bin n/d totals exact; fitted rates monotone nondecreasing
    // (violations = 0); each pool preserves its positive mass (the
    // pooled-rate truncation bound); fits stay in [0, 10⁶].
    QueryDef.views("iso1x_isotonic_calibration",
      """WITH b AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS bin,
        |             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
        |               AS pos
        |           FROM lineitem),
        |     s AS (SELECT bin, count(*) AS n, sum(pos) AS d
        |           FROM b GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS bins,
        |       CAST(sum(n) AS BIGINT) AS n_total,
        |       CAST(sum(d) AS BIGINT) AS d_total,
        |       CAST(0 AS BIGINT) AS monotone_violations,
        |       true AS mass_preserved,
        |       true AS fits_in_range
        |FROM s""".stripMargin) { spark =>
      import spark.implicits._
      val fit = Stats.isotonicFit(
        spark.table("lineitem").select(
          expr("CAST(floor(l_quantity) AS BIGINT)").as("bin"),
          expr("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END")
            .as("pos")),
        "bin", "pos").orderBy("bin").collect()
      val monotoneViolations = fit.sliding(2).count(p =>
        p.length == 2 &&
          p(0).getAs[Long]("fit_ppm") > p(1).getAs[Long]("fit_ppm"))
      // pools = maximal runs of equal fit_ppm; per pool the truncated
      // pooled rate bounds: 10⁶·D_pool − N_pool < Σ n·fit ≤ 10⁶·D_pool
      val pools = fit.foldLeft(
        List.empty[(Long, Long, Long)]) { (acc, r) =>
        val (n, d, f) = (r.getAs[Long]("n"), r.getAs[Long]("d"),
          r.getAs[Long]("fit_ppm"))
        acc match {
          case (pn, pd, pf) :: rest if pf == f =>
            (pn + n, pd + d, pf) :: rest
          case _ => (n, d, f) :: acc
        }
      }
      val massPreserved = pools.forall { case (pn, pd, pf) =>
        val approx = pn * pf
        approx <= 1000000L * pd && approx > 1000000L * pd - pn
      }
      val fitsInRange = fit.forall { r =>
        val f = r.getAs[Long]("fit_ppm"); f >= 0L && f <= 1000000L
      }
      Seq((fit.length.toLong, fit.map(_.getAs[Long]("n")).sum,
        fit.map(_.getAs[Long]("d")).sum, monotoneViolations.toLong,
        massPreserved, fitsInRange))
        .toDF("bins", "n_total", "d_total", "monotone_violations",
          "mass_preserved", "fits_in_range")
    },

    // db1 — grid-blocked DBSCAN over the first two embedding
    // dimensions (µ-quantized, eps 0.015, minPts 4): density clustering
    // with core/border/noise roles. The ENGINE path blocks candidate
    // pairs on epsilon-grid cells and labels components with the
    // min-label/pointer-jumping machinery; the oracle — at its own
    // scale — brute-forces the pairs and closes components with a
    // recursive label-propagation CTE. Both resolve every choice
    // DBSCAN usually leaves scan-order-dependent (canonical min-id
    // cluster labels, min-label border assignment), so the match is
    // exact.
    QueryDef.views("db1_dbscan_grid",
      """WITH RECURSIVE
        |  p AS (SELECT vec_id AS id,
        |          CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000)
        |            AS BIGINT) AS x,
        |          CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000)
        |            AS BIGINT) AS y
        |        FROM embeddings),
        |  pairs AS (SELECT a.id AS a, b.id AS b FROM p a JOIN p b
        |    ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
        |       <= CAST(15000 AS BIGINT) * 15000),
        |  cores AS (SELECT a AS id FROM pairs
        |            GROUP BY a HAVING count(*) >= 4),
        |  ce AS (SELECT a, b FROM pairs
        |         WHERE a IN (SELECT id FROM cores)
        |           AND b IN (SELECT id FROM cores) AND a <> b),
        |  cc AS (SELECT id AS v, id AS lbl FROM cores
        |         UNION
        |         SELECT ce.b AS v, cc.lbl FROM cc JOIN ce ON ce.a = cc.v),
        |  lab AS (SELECT v AS id, min(lbl) AS cluster FROM cc GROUP BY 1),
        |  border AS (SELECT pr.a AS id, min(lab.cluster) AS cluster
        |             FROM pairs pr
        |             JOIN cores cb ON pr.b = cb.id
        |             JOIN lab ON lab.id = pr.b
        |             WHERE pr.a NOT IN (SELECT id FROM cores)
        |             GROUP BY 1)
        |SELECT p.id,
        |       p.id IN (SELECT id FROM cores) AS is_core,
        |       CAST(COALESCE(l.cluster, bo.cluster, -1) AS BIGINT)
        |         AS cluster
        |FROM p LEFT JOIN lab l ON l.id = p.id
        |       LEFT JOIN border bo ON bo.id = p.id
        |ORDER BY p.id""".stripMargin) { spark =>
      val pts = spark.table("embeddings").select(
        col("vec_id"),
        expr("CAST(floor(CAST(embedding[0] AS DOUBLE) * 1000000) AS BIGINT)")
          .as("x"),
        expr("CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)")
          .as("y"))
      graft.ops.Density.dbscan2D(pts, "vec_id", "x", "y",
        eps = 15000L, minPts = 4).orderBy("id")
    },

    // tm1 — symmetric 5%-trimmed mean of order totals per status: the
    // robust location estimate between mean and median, computed on
    // ks1's step-point formulation (one hash aggregate to distinct
    // values, a per-group window over those, exact rank-interval
    // overlap arithmetic) — no row-level sort at any scale.
    QueryDef.views("tm1_trimmed_mean",
      """WITH p AS (SELECT o_orderstatus AS g,
        |             CAST(floor(o_totalprice * 100) AS BIGINT) AS v
        |           FROM orders),
        |     pv AS (SELECT g, v, count(*) AS c FROM p GROUP BY 1, 2),
        |     w AS (SELECT g, v, c,
        |             sum(c) OVER (PARTITION BY g) AS n,
        |             sum(c) OVER (PARTITION BY g ORDER BY v) - c
        |               AS below
        |           FROM pv),
        |     k AS (SELECT g, v, c, n, below,
        |             (n * 50) // 1000 AS lo, n - (n * 50) // 1000 AS hi
        |           FROM w),
        |     o AS (SELECT g, v, c, n,
        |             greatest(0, least(below + c, hi)
        |               - greatest(below, lo)) AS keep
        |           FROM k)
        |SELECT g AS o_orderstatus, CAST(max(n) AS BIGINT) AS n,
        |       CAST(sum(keep) AS BIGINT) AS kept,
        |       CAST((1000000 * sum(CAST(v AS HUGEINT) * c)) // max(n)
        |         AS BIGINT) AS mean_micro,
        |       CAST((1000000 * sum(CAST(v AS HUGEINT) * keep))
        |         // sum(keep) AS BIGINT) AS trimmed_mean_micro
        |FROM o GROUP BY 1 ORDER BY o_orderstatus""".stripMargin) { spark =>
      Stats.trimmedMean(
        spark.table("orders").select(
          col("o_orderstatus"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("v")),
        Seq("o_orderstatus"), "v", trimPm = 50)
        .orderBy("o_orderstatus")
    },

    // ed1 — embedding drift between the even/odd vec_id cohorts: the
    // vector sibling of the TVD/KL/KS/PSI scalar drift family. The
    // data pass is one posexplode + dims-group aggregate (dims-sized
    // exchange after map-side combine); cosine/mean-shift assemble from
    // exact integer sums with IEEE sqrt micro-rounded last, so the
    // oracle's unnest replay matches bit-for-bit.
    QueryDef.views("ed1_embedding_drift",
      """WITH q AS (SELECT vec_id % 2 AS co, list_transform(embedding,
        |             x -> CAST(floor(CAST(x AS DOUBLE) * 10000)
        |               AS BIGINT)) AS v
        |           FROM embeddings),
        |     cnt AS (SELECT
        |         CAST(sum(CASE WHEN co <> 1 THEN 1 ELSE 0 END)
        |           AS HUGEINT) AS n0,
        |         CAST(sum(CASE WHEN co = 1 THEN 1 ELSE 0 END)
        |           AS HUGEINT) AS n1
        |       FROM q),
        |     e AS (SELECT co, unnest(v) AS x,
        |             generate_subscripts(v, 1) AS dim
        |           FROM q),
        |     pd AS (SELECT dim,
        |              CAST(sum(CASE WHEN co <> 1 THEN x ELSE 0 END)
        |                AS HUGEINT) AS s0,
        |              CAST(sum(CASE WHEN co = 1 THEN x ELSE 0 END)
        |                AS HUGEINT) AS s1
        |            FROM e GROUP BY 1),
        |     agg AS (SELECT count(*) AS dims,
        |               sum(s0 * s1) AS num, sum(s0 * s0) AS a,
        |               sum(s1 * s1) AS b,
        |               sum((s0 * cnt.n1 - s1 * cnt.n0)
        |                 * (s0 * cnt.n1 - s1 * cnt.n0)) AS d2
        |             FROM pd, cnt)
        |SELECT CAST(cnt.n0 AS BIGINT) AS n0,
        |       CAST(cnt.n1 AS BIGINT) AS n1,
        |       CAST(agg.dims AS BIGINT) AS dims,
        |       CASE WHEN agg.a > 0 AND agg.b > 0 THEN
        |         CAST(round(CAST(agg.num AS DOUBLE) * 1000000.0 /
        |           (sqrt(CAST(agg.a AS DOUBLE))
        |            * sqrt(CAST(agg.b AS DOUBLE)))) AS BIGINT)
        |       END AS cos_micro,
        |       CAST(round(sqrt(CAST(agg.d2 AS DOUBLE)) * 1000000.0 /
        |         (CAST(cnt.n0 AS DOUBLE) * CAST(cnt.n1 AS DOUBLE)
        |          * 10000.0)) AS BIGINT) AS mean_shift_micro
        |FROM agg, cnt""".stripMargin) { spark =>
      graft.ops.Similarity.embeddingDrift(
        spark.table("embeddings")
          .withColumn("co", expr("vec_id % 2")),
        "embedding", "co", scalePow = 4)
    },

    // knn1 — leave-one-out k-NN label accuracy over the vec_id < 256
    // query slice (s1's bounded-query discipline): exact integer L2²
    // distances, mergeable topk_pairs heads (never a corpus-wide
    // window), majority vote with the (count desc, label asc)
    // tie-break — deterministic end to end, so the oracle's
    // brute-force window replay matches every prediction.
    QueryDef.views("knn1_loo_accuracy",
      """WITH q AS (SELECT vec_id, label, list_transform(embedding,
        |             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000)
        |               AS BIGINT)) AS v
        |           FROM embeddings),
        |     e AS (SELECT vec_id, label, unnest(v) AS x,
        |             generate_subscripts(v, 1) AS i
        |           FROM q),
        |     qs AS (SELECT * FROM e WHERE vec_id < 256),
        |     d AS (SELECT qs.vec_id AS qid, qs.label AS tl,
        |             e.vec_id AS cid, e.label AS cl,
        |             sum((qs.x - e.x) * (qs.x - e.x)) AS dist
        |           FROM qs JOIN e ON qs.i = e.i
        |             AND qs.vec_id <> e.vec_id
        |           GROUP BY 1, 2, 3, 4),
        |     top AS (SELECT qid, tl, cl,
        |               row_number() OVER (PARTITION BY qid
        |                 ORDER BY dist, cid) AS rn
        |             FROM d),
        |     votes AS (SELECT qid, tl, cl, count(*) AS c
        |               FROM top WHERE rn <= 5 GROUP BY 1, 2, 3),
        |     pred AS (SELECT qid, tl, cl,
        |                row_number() OVER (PARTITION BY qid
        |                  ORDER BY c DESC, cl ASC) AS pr
        |              FROM votes)
        |SELECT qid AS vec_id, CAST(tl AS BIGINT) AS true_label,
        |       CAST(cl AS BIGINT) AS pred_label,
        |       tl = cl AS correct
        |FROM pred WHERE pr = 1 ORDER BY vec_id""".stripMargin) { spark =>
      graft.ops.Similarity.knnLooAccuracy(
        spark.table("embeddings"), "vec_id", "embedding", "label",
        queryPred = col("vec_id") < 256, k = 5, scalePow = 6)
        .orderBy("vec_id")
    },

    // lp1 — label-propagation communities over pr1's doc link graph
    // (2 synchronous rounds, mode-of-neighbors with the count-desc /
    // label-asc tie-break): the community structure pass next to
    // pr1 (rank) and wc1 (connectivity). Synchronous rounds + pinned
    // tie-breaks make LPA — normally scan-order-dependent — a pure
    // function of the graph, so the oracle unrolls the same two
    // rounds and matches exactly.
    QueryDef.views("lp1_label_propagation", {
      def round(i: Int) =
        s"""  v$i AS (SELECT s.a AS v, l.lbl AS nl, count(*) AS c
           |    FROM sym s JOIN l${i - 1} l ON l.v = s.b GROUP BY 1, 2),
           |  m$i AS (SELECT v, nl FROM (SELECT v, nl, row_number()
           |      OVER (PARTITION BY v ORDER BY c DESC, nl ASC) AS rn
           |    FROM v$i) WHERE rn = 1),
           |  l$i AS (SELECT p.v, COALESCE(m$i.nl, p.lbl) AS lbl
           |    FROM l${i - 1} p LEFT JOIN m$i ON m$i.v = p.v)""".stripMargin
      s"""WITH nn AS (SELECT count(*) AS ndoc FROM documents),
         |  ks AS (SELECT doc_id AS src,
         |           unnest(range(1, 2 + doc_id % 3)) AS k
         |         FROM documents),
         |  e AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
         |        FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
         |  sym AS (SELECT DISTINCT a, b FROM
         |    (SELECT src AS a, dst AS b FROM e
         |     UNION ALL SELECT dst, src FROM e)),
         |  nodes AS (SELECT DISTINCT a AS v FROM sym),
         |  l0 AS (SELECT v, v AS lbl FROM nodes),
         |${round(1)},
         |${round(2)}
         |SELECT v, CAST(lbl AS BIGINT) AS lbl FROM l2
         |ORDER BY v""".stripMargin
    }) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
      graft.ops.GraphOps.labelPropagation(edges, "src", "dst",
        iterations = 2).orderBy("v")
    },

    // kcore1 — 3-core of pr1's doc link graph by synchronous peeling
    // (8 fixed rounds): the dense-subgraph extractor next to pr1
    // (rank), wc1 (connectivity), lp1 (communities) and tc1
    // (triangles). A fixed round count makes each round a pure
    // function of the previous survivor set, so the oracle unrolls
    // the same 8 peels and matches bit-for-bit whether or not the
    // peel converged; GraphOpsSpec verifies the fixpoint IS reached
    // (so what's graded is exactly the 3-core, not a truncation).
    QueryDef.views("kcore1_k_core", {
      // a_i is referenced twice per round and sym every round:
      // MATERIALIZED, or DuckDB's CTE inlining re-expands the whole
      // prefix 2^rounds times (measured: 89s inlined vs 0.04s here)
      def round(i: Int) =
        s"""  d$i AS (SELECT s.a AS v, count(*) AS deg FROM sym s
           |    JOIN a${i - 1} x ON s.a = x.v
           |    JOIN a${i - 1} y ON s.b = y.v GROUP BY 1),
           |  a$i AS MATERIALIZED (SELECT v FROM d$i WHERE deg >= 3)""".stripMargin
      s"""WITH nn AS (SELECT count(*) AS ndoc FROM documents),
         |  ks AS (SELECT doc_id AS src,
         |           unnest(range(1, 2 + doc_id % 3)) AS k
         |         FROM documents),
         |  e AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
         |        FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
         |  sym AS MATERIALIZED (SELECT DISTINCT a, b FROM
         |    (SELECT src AS a, dst AS b FROM e
         |     UNION ALL SELECT dst, src FROM e)),
         |  a0 AS MATERIALIZED (SELECT DISTINCT a AS v FROM sym),
         |${(1 to 8).map(round).mkString(",\n")},
         |  df AS (SELECT s.a AS v, count(*) AS deg FROM sym s
         |    JOIN a8 x ON s.a = x.v JOIN a8 y ON s.b = y.v GROUP BY 1)
         |SELECT v, CAST(deg AS BIGINT) AS deg FROM df
         |ORDER BY v""".stripMargin
    }) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
      graft.ops.GraphOps.kCore(edges, "src", "dst", k = 3, rounds = 8)
        .orderBy("v")
    },

    // nb1 — neighborhood function |B(v, r)| for r = 1..3 on pr1's doc
    // link graph via KMV-sketch propagation (the HyperBall/ANF shape:
    // one edge join + one mergeable-sketch hash agg per round — the
    // scalable stand-in for all-pairs BFS). KMV is exact below its k,
    // and k = 1024 clears every ball at fixture scale, so the oracle
    // grades the sketch path against the EXACT ball sizes (unrolled
    // distinct-pair BFS CTEs) bit-for-bit; at 100 TB the same plan
    // runs with k = 256 and a ±1/√(k−2) rsd instead.
    QueryDef.views("nb1_neighborhood_function", {
      // b_i feeds both the next round and its own count — MATERIALIZED
      // keeps DuckDB from re-expanding the prefix per reference
      def ball(i: Int) =
        s"""  b$i AS MATERIALIZED (SELECT DISTINCT p.a, b${i - 1}.x
           |    FROM ps p JOIN b${i - 1} ON b${i - 1}.a = p.b)""".stripMargin
      val counts = (1 to 3).map(i =>
        s"""SELECT a AS v, CAST($i AS BIGINT) AS r,
           |  CAST(count(*) AS BIGINT) AS ball FROM b$i GROUP BY 1""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH nn AS (SELECT count(*) AS ndoc FROM documents),
         |  ks AS (SELECT doc_id AS src,
         |           unnest(range(1, 2 + doc_id % 3)) AS k
         |         FROM documents),
         |  e AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
         |        FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
         |  sym AS (SELECT DISTINCT a, b FROM
         |    (SELECT src AS a, dst AS b FROM e
         |     UNION ALL SELECT dst, src FROM e)),
         |  nodes AS (SELECT DISTINCT a AS v FROM sym),
         |  ps AS MATERIALIZED (SELECT a, b FROM sym
         |         UNION SELECT v, v FROM nodes),
         |  b0 AS (SELECT v AS a, v AS x FROM nodes),
         |${(1 to 3).map(ball).mkString(",\n")}
         |SELECT v, r, ball FROM ($counts)
         |ORDER BY v, r""".stripMargin
    }) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
      graft.ops.GraphOps.neighborhoodFunction(edges, "src", "dst",
        radius = 3, k = 1024).orderBy("v", "r")
    },

    // nb2 — bounded-radius harmonic centrality off nb1's ball sizes
    // (the HyperBall dividend: centrality = arithmetic over the
    // neighborhood function, the graph is never touched again). Every
    // node reached at distance r adds 10⁶ div r ppm; exact because
    // k = 1024 keeps the sketches below their k at fixture scale.
    QueryDef.views("nb2_harmonic_centrality", {
      def ball(i: Int) =
        s"""  b$i AS MATERIALIZED (SELECT DISTINCT p.a, b${i - 1}.x
           |    FROM ps p JOIN b${i - 1} ON b${i - 1}.a = p.b)""".stripMargin
      val counts = (1 to 3).map(i =>
        s"""SELECT a AS v, $i AS r, count(*) AS ball FROM b$i GROUP BY 1""")
        .mkString("\nUNION ALL\n")
      s"""WITH nn AS (SELECT count(*) AS ndoc FROM documents),
         |  ks AS (SELECT doc_id AS src,
         |           unnest(range(1, 2 + doc_id % 3)) AS k
         |         FROM documents),
         |  e AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
         |        FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
         |  sym AS (SELECT DISTINCT a, b FROM
         |    (SELECT src AS a, dst AS b FROM e
         |     UNION ALL SELECT dst, src FROM e)),
         |  nodes AS (SELECT DISTINCT a AS v FROM sym),
         |  ps AS MATERIALIZED (SELECT a, b FROM sym
         |         UNION SELECT v, v FROM nodes),
         |  b0 AS (SELECT v AS a, v AS x FROM nodes),
         |${(1 to 3).map(ball).mkString(",\n")},
         |  u AS (SELECT v, r, ball FROM ($counts)),
         |  l AS (SELECT v, r, ball,
         |          COALESCE(lag(ball) OVER (PARTITION BY v ORDER BY r),
         |            1) AS prev
         |        FROM u)
         |SELECT v, CAST(sum((ball - prev) * (1000000 // r)) AS BIGINT)
         |         AS hc_ppm
         |FROM l GROUP BY v ORDER BY v""".stripMargin
    }) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
      graft.ops.GraphOps.harmonicCentrality(edges, "src", "dst",
        radius = 3, k = 1024).orderBy("v")
    },

    // ktr1 — 4-truss (every edge in ≥ 2 triangles) over the hash link
    // graph UNIONED with a banded graph (doc i — i±1, i±2, i±3 mod N):
    // the edge-level cohesion extractor one notch stricter than
    // kcore1. The band makes triangle structure dense with varied
    // supports while the sparse hash edges mostly close no triangles —
    // so the peel does real work (2483 → 1508 edges at sf0.01).
    // kcore1's fixed-rounds contract: 4 unrolled synchronous rounds,
    // fixpoint reached by round 3 at both grading scales
    // (spec-asserted); oracle enumerates triangles min-apex style
    // (engine uses the degree-ordered orientation — same triangle set,
    // different enumeration). Round CTEs are MATERIALIZED: each
    // references its predecessor 3×, and DuckDB's CTE inlining would
    // re-expand the prefix 3^rounds times.
    QueryDef.views("ktr1_k_truss", {
      def round(i: Int) =
        s"""  tr$i AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z
           |    FROM s${i - 1} e1 JOIN s${i - 1} e2
           |      ON e1.a = e2.a AND e1.b < e2.b
           |    JOIN s${i - 1} e3 ON e3.a = e1.b AND e3.b = e2.b),
           |  sup$i AS (SELECT a, b, count(*) AS sup FROM (
           |      SELECT x AS a, y AS b FROM tr$i
           |      UNION ALL SELECT x AS a, z AS b FROM tr$i
           |      UNION ALL SELECT y AS a, z AS b FROM tr$i) GROUP BY 1, 2),
           |  s$i AS MATERIALIZED (SELECT a, b FROM sup$i WHERE sup >= 2)""".stripMargin
      s"""WITH nn AS (SELECT count(*) AS ndoc FROM documents),
         |  ks AS (SELECT doc_id AS src,
         |           unnest(range(1, 2 + doc_id % 3)) AS k
         |         FROM documents),
         |  eh AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
         |         FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
         |  bd AS (SELECT doc_id AS src, (doc_id + d) % nn.ndoc AS dst
         |         FROM documents, nn, (SELECT unnest(range(1, 4)) AS d)
         |         WHERE (doc_id + d) % nn.ndoc <> doc_id),
         |  ue AS (SELECT DISTINCT least(src, dst) AS a,
         |           greatest(src, dst) AS b
         |         FROM (SELECT src, dst FROM eh
         |               UNION ALL SELECT src, dst FROM bd)),
         |  s0 AS MATERIALIZED (SELECT a, b FROM ue),
         |${(1 to 4).map(round).mkString(",\n")},
         |  trf AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |    FROM s4 e1 JOIN s4 e2 ON e1.a = e2.a AND e1.b < e2.b
         |    JOIN s4 e3 ON e3.a = e1.b AND e3.b = e2.b)
         |SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
         |    SELECT x AS a, y AS b FROM trf
         |    UNION ALL SELECT x AS a, z AS b FROM trf
         |    UNION ALL SELECT y AS a, z AS b FROM trf) GROUP BY 1, 2
         |ORDER BY a, b""".stripMargin
    }) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val hash = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
      val band = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, 3)")).as("d"), col("ndoc"))
        .select(col("src"), expr("(src + d) % ndoc").as("dst"))
        .filter(col("src") =!= col("dst"))
      graft.ops.GraphOps.kTruss(hash.unionByName(band), "src", "dst",
        k = 4, rounds = 4).orderBy("a", "b")
    },

    // rn1 — RANSAC robust line fit (quantity → price cents, eps $5k,
    // 16 trials): the fit OLS can't give when gross outliers dominate.
    // Trial samples, inlier tests and the winner are all deterministic
    // (md5 trial ranks, exact cross-product distance, inliers-desc /
    // trial-asc argmax), so the oracle replays every trial and lands
    // on the identical winning line.
    QueryDef.views("rn1_ransac_fit", {
      val idStr = "concat_ws('-', CAST(l_orderkey AS VARCHAR), " +
        "CAST(l_linenumber AS VARCHAR))"
      val masks = (0 until 16).map(Stats.ransacMask)
        .mkString("[", ", ", "]")
      s"""WITH p AS (SELECT
         |             CAST(floor(l_quantity) AS BIGINT) AS x,
         |             CAST(floor(l_extendedprice * 100) AS BIGINT) AS y,
         |             ${TextOps.hex48Sql(s"md5($idStr)")} AS u
         |           FROM lineitem),
         |     tr AS (SELECT unnest(range(0, 16)) AS t),
         |     h AS (SELECT t, x, y,
         |             xor(u, ($masks)[CAST(t + 1 AS INT)]) AS r
         |           FROM p, tr),
         |     rk AS (SELECT t, x, y, row_number() OVER (PARTITION BY t
         |              ORDER BY r ASC, x * 4294967296 + y ASC) AS rn
         |            FROM h),
         |     pr AS (SELECT t,
         |              max(CASE WHEN rn = 1 THEN x END) AS x1,
         |              max(CASE WHEN rn = 1 THEN y END) AS y1,
         |              max(CASE WHEN rn = 2 THEN x END) AS x2,
         |              max(CASE WHEN rn = 2 THEN y END) AS y2
         |            FROM rk WHERE rn <= 2 GROUP BY 1),
         |     good AS (SELECT * FROM pr WHERE x1 <> x2 OR y1 <> y2),
         |     census AS (SELECT g.t, g.x1, g.y1, g.x2, g.y2,
         |         count(*) AS n,
         |         sum(CASE WHEN
         |             (CAST(g.x2 - g.x1 AS HUGEINT) * (p.y - g.y1)
         |              - CAST(g.y2 - g.y1 AS HUGEINT) * (p.x - g.x1))
         |             * (CAST(g.x2 - g.x1 AS HUGEINT) * (p.y - g.y1)
         |                - CAST(g.y2 - g.y1 AS HUGEINT) * (p.x - g.x1))
         |             <= CAST(500000 AS HUGEINT) * 500000 *
         |                (CAST(g.x2 - g.x1 AS HUGEINT) * (g.x2 - g.x1)
         |                 + CAST(g.y2 - g.y1 AS HUGEINT) * (g.y2 - g.y1))
         |           THEN 1 ELSE 0 END) AS inliers
         |       FROM p, good g GROUP BY 1, 2, 3, 4, 5),
         |     best AS (SELECT * FROM census
         |              ORDER BY inliers DESC, t ASC LIMIT 1)
         |SELECT CAST(t AS BIGINT) AS trial, CAST(x1 AS BIGINT) AS x1,
         |       CAST(y1 AS BIGINT) AS y1, CAST(x2 AS BIGINT) AS x2,
         |       CAST(y2 AS BIGINT) AS y2, CAST(n AS BIGINT) AS n,
         |       CAST(inliers AS BIGINT) AS inliers,
         |       CASE WHEN x2 <> x1 THEN
         |         CAST((1000000 * (y2 - y1)) // (x2 - x1) AS BIGINT)
         |       END AS slope_ppm
         |FROM best""".stripMargin
    }) { spark =>
      Stats.ransacLine(
        spark.table("lineitem").select(col("l_orderkey"),
          col("l_linenumber"),
          expr("CAST(floor(l_quantity) AS BIGINT)").as("x"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("y")),
        Seq("l_orderkey", "l_linenumber"), "x", "y",
        eps = 500000L, trials = 16)
    },

    // acf1 — autocorrelation of the hourly event-count series per
    // event type at lags 1..6: the periodicity probe next to dow1's
    // calendar seasonality. Denominators cleared (n·x − S form) so the
    // whole statistic is exact; lag pairs from ew1's bounded-lag
    // equi-join shape.
    QueryDef.views("acf1_autocorrelation",
      """WITH s AS (SELECT event_type,
        |             epoch_us(ts) // 3600000000 AS hr, count(*) AS x
        |           FROM events GROUP BY 1, 2),
        |     w AS (SELECT event_type, hr, x,
        |             CAST(count(*) OVER (PARTITION BY event_type)
        |               AS HUGEINT) AS nh,
        |             CAST(sum(x) OVER (PARTITION BY event_type)
        |               AS HUGEINT) AS sm
        |           FROM s),
        |     c AS (SELECT event_type, hr, nh, nh * x - sm AS cc FROM w),
        |     den AS (SELECT event_type, sum(cc * cc) AS dn,
        |               CAST(max(nh) AS BIGINT) AS n
        |             FROM c GROUP BY 1),
        |     l AS (SELECT event_type, hr, cc,
        |             unnest(range(1, 7)) AS k
        |           FROM c),
        |     j AS (SELECT l.event_type, l.k, l.cc AS ca, c2.cc AS cb
        |           FROM l JOIN c c2 ON c2.event_type = l.event_type
        |             AND c2.hr = l.hr - l.k),
        |     nm AS (SELECT event_type, k, sum(ca * cb) AS num,
        |              count(*) AS np
        |            FROM j GROUP BY 1, 2)
        |SELECT nm.event_type, CAST(nm.k AS BIGINT) AS lag, den.n,
        |       CAST(nm.np AS BIGINT) AS n_pairs,
        |       CASE WHEN den.dn > 0 THEN
        |         CAST((1000000 * nm.num) // den.dn AS BIGINT)
        |       END AS acf_ppm
        |FROM nm JOIN den USING (event_type)
        |ORDER BY event_type, lag""".stripMargin) { spark =>
      val series = spark.table("events")
        .groupBy(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000")
            .as("hr"))
        .agg(count(lit(1)).as("x"))
      Stats.autocorrelation(series, Seq("event_type"), "hr", "x",
        maxLag = 6).orderBy("event_type", "lag")
    },

    // an1 — anchor-text aggregation over the synthetic link layer: the
    // web-tier op that builds the per-target anchor profile (link
    // count, distinct sources, majority anchor text) the way a search
    // or host-authority pipeline does — extract <a> tags
    // ([[graft.ops.WebOps.extractAnchors]], codegen regexp,
    // scan-local), canonicalize the dirty hrefs (uppercase authority,
    // tracking params, fragments, trailing slash — u1's machinery),
    // aggregate per canonical target. The oracle reconstructs the
    // expected profile from the same doc_id arithmetic (ht1's
    // synthetic-page pattern), so the extraction+canonicalization
    // chain is pinned end to end.
    QueryDef.views("an1_anchor_text",
      """WITH ks AS (SELECT doc_id,
        |              unnest(range(1, 2 + doc_id % 2)) AS k
        |            FROM documents),
        |     l AS (SELECT doc_id,
        |             (doc_id * 7 + k * k) % 50 AS tid,
        |             doc_id % 10 AS pid,
        |             'ref ' || CAST((doc_id * 7 + k * k) % 50 AS VARCHAR)
        |               || ' from ' || CAST(doc_id % 3 AS VARCHAR) AS txt
        |           FROM ks),
        |     cu AS (SELECT doc_id,
        |              'https://site-' || CAST(tid AS VARCHAR)
        |                || '.example.com/p/' || CAST(pid AS VARCHAR)
        |                || '?a=1&b=2' AS canon_url,
        |              txt
        |            FROM l),
        |     pu AS (SELECT canon_url, count(*) AS n_links,
        |              count(DISTINCT doc_id) AS n_sources
        |            FROM cu GROUP BY 1),
        |     v AS (SELECT canon_url, txt, count(*) AS c
        |           FROM cu GROUP BY 1, 2),
        |     t AS (SELECT canon_url, txt FROM
        |             (SELECT canon_url, txt, row_number() OVER
        |               (PARTITION BY canon_url ORDER BY c DESC, txt ASC)
        |               AS rn FROM v)
        |           WHERE rn = 1)
        |SELECT pu.canon_url, CAST(pu.n_links AS BIGINT) AS n_links,
        |       CAST(pu.n_sources AS BIGINT) AS n_sources,
        |       t.txt AS top_anchor
        |FROM pu JOIN t USING (canon_url)
        |ORDER BY canon_url""".stripMargin) { spark =>
      val pages = spark.table("documents").select(col("doc_id"),
        expr("""concat('<html><body><p>intro</p>',
          |  array_join(transform(
          |    sequence(1, CAST(1 + doc_id % 2 AS INT)),
          |    k -> concat('<a rel="nofollow" href="HTTPS://Site-',
          |      CAST((doc_id * 7 + k * k) % 50 AS STRING),
          |      '.Example.COM/p/', CAST(doc_id % 10 AS STRING),
          |      '/?utm_source=feed&b=2&a=1#frag">',
          |      'ref ', CAST((doc_id * 7 + k * k) % 50 AS STRING),
          |      ' from ', CAST(doc_id % 3 AS STRING), '</a>')), ''),
          |  '</body></html>')""".stripMargin).as("html"))
      val anchors = graft.ops.WebOps.extractAnchors(pages, "doc_id", "html")
      val canon = graft.ops.WebOps.canonicalize(anchors, "href")
      val perUrl = canon.groupBy("canon_url")
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("src_id")).as("n_sources"))
      val top = canon.groupBy("canon_url", "anchor_text")
        .agg(count(lit(1)).as("__c"))
        .groupBy("canon_url")
        .agg(min_by(col("anchor_text"),
          struct(-col("__c"), col("anchor_text"))).as("top_anchor"))
      perUrl.join(top, "canon_url")
        .select(col("canon_url"), col("n_links").cast("long"),
          col("n_sources").cast("long"), col("top_anchor"))
        .orderBy("canon_url")
    },

    // pca2 — incremental covariance maintenance: moments are ADDITIVE,
    // so the model updates from per-slice sums without rescanning
    // history (the sn1/in1 recuration discipline applied to model
    // state). The QUERY computes the even/odd vec_id slices separately
    // and merges; the ORACLE computes the full corpus directly — exact
    // equality proves the incremental path bit-for-bit.
    QueryDef.views("pca2_incremental_covariance",
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |             x -> CAST(floor(CAST(x AS DOUBLE) * 10000)
        |               AS BIGINT)) AS v
        |           FROM embeddings),
        |     e AS (SELECT vec_id, unnest(v) AS x,
        |             generate_subscripts(v, 1) AS i
        |           FROM q),
        |     nn AS (SELECT count(*) AS n FROM q),
        |     m AS (SELECT i, sum(x) AS mi FROM e GROUP BY 1),
        |     s AS (SELECT a.i AS i, b.i AS j,
        |             sum(CAST(a.x AS HUGEINT) * b.x) AS sij
        |           FROM e a JOIN e b
        |             ON a.vec_id = b.vec_id AND a.i <= b.i
        |           GROUP BY 1, 2)
        |SELECT CAST(s.i - 1 AS BIGINT) AS i, CAST(s.j - 1 AS BIGINT) AS j,
        |       CAST(nn.n AS BIGINT) AS n,
        |       CAST(ma.mi AS BIGINT) AS sum_i,
        |       CAST(mb.mi AS BIGINT) AS sum_j,
        |       CAST(s.sij AS BIGINT) AS sum_ij,
        |       CAST(nn.n * s.sij - CAST(ma.mi AS HUGEINT) * mb.mi
        |         AS BIGINT) AS cov_num
        |FROM s JOIN m ma ON ma.i = s.i JOIN m mb ON mb.i = s.j, nn
        |ORDER BY i, j""".stripMargin) { spark =>
      val emb = spark.table("embeddings")
      val even = Pca.covarianceSums(
        emb.filter(expr("vec_id % 2 = 0")), "embedding", scalePow = 4)
      val odd = Pca.covarianceSums(
        emb.filter(expr("vec_id % 2 = 1")), "embedding", scalePow = 4)
      Pca.mergeCovarianceSums(even, odd).orderBy("i", "j")
    },

    // kf1 — exact-quota k-fold assignment (k = 5): fold sizes differ
    // by at most one (hash-bucket splits are only binomially close).
    // The exact global rank uses the one scalable formulation — a
    // range-partitioned sort + per-partition offsets — and the oracle
    // replays it as a row_number window at its own scale.
    QueryDef.views("kf1_kfold_assign", {
      val idStr = "concat_ws('-', CAST(l_orderkey AS VARCHAR), " +
        "CAST(l_linenumber AS VARCHAR))"
      s"""WITH p AS (SELECT l_orderkey, l_linenumber,
         |             ${TextOps.hex48Sql(s"md5($idStr)")} AS u
         |           FROM lineitem),
         |     r AS (SELECT l_orderkey, l_linenumber,
         |             row_number() OVER (ORDER BY u, l_orderkey,
         |               l_linenumber) - 1 AS rk
         |           FROM p)
         |SELECT l_orderkey, CAST(l_linenumber AS BIGINT)
         |         AS l_linenumber,
         |       CAST(rk % 5 AS BIGINT) AS fold
         |FROM r ORDER BY l_orderkey, l_linenumber""".stripMargin
    }) { spark =>
      Stats.kFoldAssign(
        spark.table("lineitem").select(col("l_orderkey"),
          col("l_linenumber").cast("bigint").as("l_linenumber")),
        Seq("l_orderkey", "l_linenumber"), k = 5)
        .orderBy("l_orderkey", "l_linenumber")
    },

    // kt1 — Kendall τ-b between quantity and price bucket (cents div
    // 10⁶; monotone bucketing preserves concordance w.r.t. the
    // bucketed axis): contingency cells → cell-pair concordance (500²
    // cell pairs, model-sized), exact C/D/tie terms, one ppm-rounded
    // sqrt. Completes the nonparametric family next to srk1/mw1/ks1.
    QueryDef.views("kt1_kendall_tau",
      """WITH b AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
        |             CAST(floor(l_extendedprice * 100) AS BIGINT)
        |               // 1000000 AS y
        |           FROM lineitem),
        |     cells AS (SELECT x, y, CAST(count(*) AS HUGEINT) AS c
        |               FROM b GROUP BY 1, 2),
        |     cd AS (SELECT
        |         sum(CASE WHEN c2.y > c1.y THEN c1.c * c2.c
        |           ELSE 0 END) AS conc,
        |         sum(CASE WHEN c2.y < c1.y THEN c1.c * c2.c
        |           ELSE 0 END) AS disc
        |       FROM cells c1 JOIN cells c2
        |         ON c2.x > c1.x AND c2.y <> c1.y),
        |     mg AS (SELECT sum(c) AS n, count(*) AS cells FROM cells),
        |     tx AS (SELECT sum(nx * (nx - 1)) AS tx2 FROM
        |              (SELECT sum(c) AS nx FROM cells GROUP BY x)),
        |     ty AS (SELECT sum(ny * (ny - 1)) AS ty2 FROM
        |              (SELECT sum(c) AS ny FROM cells GROUP BY y))
        |SELECT CAST(mg.n AS BIGINT) AS n,
        |       CAST(mg.cells AS BIGINT) AS cells,
        |       CAST(COALESCE(cd.conc, 0) AS BIGINT) AS concordant,
        |       CAST(COALESCE(cd.disc, 0) AS BIGINT) AS discordant,
        |       CASE WHEN mg.n * (mg.n - 1) - tx.tx2 > 0
        |             AND mg.n * (mg.n - 1) - ty.ty2 > 0 THEN
        |         CAST(round(CAST(COALESCE(cd.conc, 0)
        |             - COALESCE(cd.disc, 0) AS DOUBLE) * 1000000.0 /
        |           (sqrt(CAST(mg.n * (mg.n - 1) - tx.tx2 AS DOUBLE)
        |              / 2.0)
        |            * sqrt(CAST(mg.n * (mg.n - 1) - ty.ty2 AS DOUBLE)
        |              / 2.0))) AS BIGINT)
        |       END AS tau_b_ppm
        |FROM cd, mg, tx, ty""".stripMargin) { spark =>
      Stats.kendallTau(
        spark.table("lineitem").select(
          expr("CAST(floor(l_quantity) AS BIGINT)").as("x"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT) div 1000000")
            .as("y")),
        "x", "y")
    },

    // ob1 — in-flight gate metrics via Dataset.observe: the audit
    // counters a curation gate must emit (rows seen / kept / kept
    // volume) collected ON the gating pass itself — observe attaches
    // an accumulator-backed CollectMetrics node to the plan, so the
    // counters cost ZERO extra scans at any corpus size (the
    // alternative — a second aggregate over the input — reads 100 TB
    // twice). The gate's output is consumed through a noop write; the
    // observed values are the query result, and the oracle recomputes
    // the same counters directly.
    QueryDef.views("ob1_observed_gate_metrics",
      """SELECT CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(sum(CASE WHEN n_chars BETWEEN 100 AND 20000
        |                 AND lang <> '' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_kept,
        |       CAST(sum(CASE WHEN n_chars BETWEEN 100 AND 20000
        |                 AND lang <> '' THEN n_chars END) AS BIGINT)
        |         AS chars_kept
        |FROM documents""".stripMargin) { spark =>
      import spark.implicits._
      val keep = expr(
        "n_chars BETWEEN 100 AND 20000 AND lang <> ''")
      val obs = new org.apache.spark.sql.Observation("gate")
      val gated = spark.table("documents")
        .observe(obs,
          count(lit(1)).as("n_total"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          sum(when(keep, col("n_chars"))).as("chars_kept"))
        .filter(keep)
      gated.write.format("noop").mode("overwrite").save()
      val m = obs.get
      Seq((m("n_total").asInstanceOf[Long],
        m("n_kept").asInstanceOf[Long],
        m("chars_kept").asInstanceOf[Long]))
        .toDF("n_total", "n_kept", "chars_kept")
    })
}
