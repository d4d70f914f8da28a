package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Relational statistics operators — the model-diagnostics layer a data
  * pipeline runs BEFORE training: trend fits, dependence tests, tradeoff
  * frontiers, leakage-safe categorical encodings.
  *
  * Cross-engine determinism discipline (the repo-wide rule, see
  * QueryDef's scaladoc): every statistic is assembled from exact integer
  * sufficient statistics (BIGINT inputs summed in DECIMAL(38,0), which
  * DuckDB mirrors as HUGEINT), and the only float op allowed is IEEE
  * correctly-rounded sqrt, micro-rounded straight back to ℤ. Integer
  * division is `div` (truncate toward zero) — DuckDB's `//` matches
  * Spark's `div` on negatives (both give −7 div 2 = −3).
  */
object Stats {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Per-group simple linear regression (y = a + b·x) from ONE exact
    * aggregate pass: n, Σx, Σy, Σxy, Σx², Σy² in DECIMAL(38,0), then
    *   slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
    *   intercept = (Σy·den − num·Σx) / (n·den)
    *   r² = num² / (den·deny),  deny = nΣy² − (Σy)²
    * all emitted as ppm by integral division — bit-identical on any
    * engine with exact 128-bit sums. Inputs must be BIGINT-coded
    * (fixed-point scale chosen by the caller). r² is computed as the
    * TWO-STEP division (slope_ppm·num) div deny rather than the single
    * num²·10⁶ div (den·deny): squaring the ~10¹⁹ numerator would burst
    * 38 digits at sf≳1, while the staged form peaks near 10²⁹ and stays
    * exact-integer (both truncations are identical on both engines, and
    * a perfect fit still lands exactly on 10⁶). This is one
    * map-side-combined hash aggregate — no window, no join, no second
    * pass: the cheapest possible shape for a 100 TB trend census.
    *
    * Degenerate groups (constant x or constant y) emit NULL for the
    * ratios rather than dividing by zero.
    */
  def linearFit(df: DataFrame, keys: Seq[String], xCol: String,
      yCol: String): DataFrame = {
    val x = dec(col(xCol))
    val y = dec(col(yCol))
    val agg = df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).cast("decimal(38,0)").as("__n"),
      sum(x).as("__sx"), sum(y).as("__sy"),
      sum(x * y).as("__sxy"), sum(x * x).as("__sxx"),
      sum(y * y).as("__syy"))
      .withColumn("__num", expr("__n*__sxy - __sx*__sy"))
      .withColumn("__den", expr("__n*__sxx - __sx*__sx"))
      .withColumn("__deny", expr("__n*__syy - __sy*__sy"))
    agg.select(
      keys.map(col) ++ Seq(
        col("__n").cast("long").as("n"),
        col("__sx").cast("long").as("sum_x"),
        col("__sy").cast("long").as("sum_y"),
        when(col("__den") =!= 0,
          expr("(1000000 * __num) div __den").cast("long")).as("slope_ppm"),
        when(col("__den") =!= 0,
          expr("(1000000 * (__sy*__den - __num*__sx)) div (__n*__den)")
            .cast("long")).as("intercept_ppm"),
        when(col("__den") =!= 0 && col("__deny") =!= 0,
          expr("""(((1000000 * __num) div __den) * __num) div __deny""")
            .cast("long")).as("r2_ppm")): _*)
  }

  /** χ² test of independence between two categorical columns, plus
    * Cramér's V — "is the event mix actually different across user
    * cohorts?". One contingency hash aggregate over the rows
    * (|A|·|B| cells come out), margins computed over the CELLS (never a
    * second row scan), then
    *   χ²_ppm = Σ_cells (10⁶·(n·O − rₐ·c_b)²) div (n·rₐ·c_b)
    * — per-cell exact rational, scaled and truncated identically on any
    * exact-integer engine. V = √(χ²/(n·min(|A|−1,|B|−1))) is the one
    * IEEE op (sqrt), micro-rounded back to ℤ. Returns one row:
    * (n, cells, chi2_ppm, cramers_v_ppm). */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val observed = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("__o"))
    // complete the grid: structurally-ZERO cells still contribute E to
    // χ² ((0−E)²/E = E); a grouped count never emits them, so rebuild
    // |A|·|B| from the two tiny distinct sides (broadcast nested loop
    // over |A|·|B| CELLS, never rows) and left-join the counts back.
    val grid = observed.select("__a").distinct()
      .crossJoin(broadcast(observed.select("__b").distinct()))
    val cells = grid.join(observed, Seq("__a", "__b"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0).cast("decimal(38,0)")))
    val withMargins = cells
      .withColumn("__ra", sum(col("__o")).over(Window.partitionBy(col("__a"))))
      .withColumn("__cb", sum(col("__o")).over(Window.partitionBy(col("__b"))))
      .withColumn("__n", sum(col("__o")).over(Window.partitionBy(lit(1))))
    val contrib = withMargins.select(
      col("__n"), col("__a"), col("__b"),
      expr("""(1000000 * (__n*__o - __ra*__cb) * (__n*__o - __ra*__cb))
             div (__n * __ra * __cb)""").cast("decimal(38,0)").as("__cell"))
    contrib.agg(
      max(col("__n")).as("__nn"),
      countDistinct(col("__a")).as("__da"),
      countDistinct(col("__b")).as("__db"),
      count(lit(1)).as("__cells"),
      sum(col("__cell")).as("__chi2ppm"))
      .select(
        col("__nn").cast("long").as("n"),
        col("__cells").cast("long").as("cells"),
        col("__chi2ppm").cast("long").as("chi2_ppm"),
        floor(sqrt(
          expr("(__chi2ppm * 1000000) div (cast(__nn as decimal(38,0)) * least(__da - 1, __db - 1))")
            .cast("double"))).cast("long").as("cramers_v_ppm"))
  }

  /** 2-D Pareto frontier (skyline), both dimensions MAXIMIZED: the rows
    * no other row beats on both axes. Ties: equal-(x,y) duplicates are
    * mutually non-dominating and ALL kept; a row sharing x with a
    * strictly-higher-y row is dominated. The canonical curation use:
    * "which documents sit on the quality-vs-length tradeoff curve".
    *
    * Distributed shape — NOT the single-partition ORDER-BY-everything
    * window the naive SQL gives:
    *  1. candidates = per-distinct-x max y (hash aggregate; frontier
    *     membership only depends on these);
    *  2. range-exchange candidates on x DESC, sort within partitions,
    *     one linear scan per partition emitting each candidate's
    *     in-partition strict-prefix max;
    *  3. the P per-partition maxima (P rows, not n) fold on the driver
    *     into "max y of every partition strictly before mine", rejoined
    *     by broadcast; a candidate survives iff its y strictly beats
    *     both prefix maxima;
    *  4. broadcast-join survivors back to the input on (x, y=ymax) to
    *     recover full rows.
    * Every exchange moves (x,y) pairs only; step 3 is O(P). At 100 TB
    * the frontier filter is two narrow shuffles + a broadcast — the
    * O(n²) dominance join never materializes. */
  def paretoFrontier2D(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val spark = df.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism, 2)
    val cands = df.groupBy(col(xCol).cast("long").as("__x"))
      .agg(max(col(yCol).cast("long")).as("__ymax"))
      .repartitionByRange(parts, col("__x").desc)
      .sortWithinPartitions(col("__x").desc)
    val scanSchema = StructType(Seq(
      StructField("__x", LongType, nullable = false),
      StructField("__ymax", LongType, nullable = false),
      StructField("__prefbefore", LongType, nullable = false),
      StructField("__pid", IntegerType, nullable = false)))
    // Pinned: scanned is |distinct x| narrow rows and feeds
    // THREE consumers (the P-row fold, the frontier broadcast, and —
    // via lineage — the verify join); without it each action replays
    // the aggregate + range exchange + sort from the source.
    val scanned = Pin(cands.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var prefix = Long.MinValue
      it.map { r =>
        val x = r.getLong(0); val y = r.getLong(1)
        val before = prefix
        if (y > prefix) prefix = y
        Row(x, y, before, pid)
      }
    }(Encoders.row(scanSchema)))
    // P-row fold: cumulative max of the partitions strictly before each
    // pid (the range partitioner emits pids in x-desc order, so
    // "before" = larger x). Bounded by partition count, not data.
    val pmax = scanned.groupBy("__pid").agg(max("__ymax").as("__pm"))
      .collect().sortBy(_.getInt(0))
    var run = Long.MinValue
    val cumRows = pmax.map { r =>
      val v = run; if (r.getLong(1) > run) run = r.getLong(1)
      Row(r.getInt(0), v)
    }
    val cumDf = spark.createDataFrame(
      spark.sparkContext.parallelize(cumRows.toSeq, 1),
      StructType(Seq(StructField("__pid", IntegerType, nullable = false),
        StructField("__cumbefore", LongType, nullable = false))))
    val frontier = scanned.join(broadcast(cumDf), "__pid")
      .filter(col("__ymax") > greatest(col("__prefbefore"), col("__cumbefore")))
      .select(col("__x"), col("__ymax"))
    df.join(broadcast(frontier),
      col(xCol).cast("long") === col("__x") &&
        col(yCol).cast("long") === col("__ymax"))
      .drop("__x", "__ymax")
  }

  /** Time-bucketed OHLC bars over an event stream — open/high/low/close
    * plus count and sum per (key, bucket), the canonical series-rollup a
    * metrics pipeline runs before charting or drift checks. Open/close
    * are the values at the (ts, id)-min/max rows — the id tiebreak makes
    * same-timestamp events deterministic. The bucket is emitted as a
    * whole-second string per the repo determinism contract.
    *
    * Scale shape: ONE map-side-combined hash aggregate — `min_by`/
    * `max_by` over a (ts,id) struct replaces the two ranked windows the
    * naive SQL uses, so there is no per-row rank materialization and no
    * second exchange; partials combine associatively, which is exactly
    * what a 100 TB bar rollup needs. Values must be BIGINT-coded. */
  def timeBars(df: DataFrame, keys: Seq[String], tsCol: String,
      idCol: String, valueCol: String, unit: String = "hour"): DataFrame = {
    val v = col(valueCol).cast("long")
    val order = struct(col(tsCol), col(idCol))
    df.groupBy(keys.map(col) :+
        date_format(date_trunc(unit, col(tsCol)), "yyyy-MM-dd HH:mm:ss")
          .as("bar"): _*)
      .agg(
        min_by(v, order).as("open"),
        max(v).as("high"),
        min(v).as("low"),
        max_by(v, order).as("close"),
        count(lit(1)).as("n_events"),
        sum(dec(v)).cast("long").as("sum_v"))
  }

  /** Per-group Gini concentration coefficient (ppm) of a non-negative
    * BIGINT measure — "how skewed is the length/size mass inside each
    * cohort". Uses the sorted-index identity
    *   G = Σᵢ(2i − n − 1)·xᵢ / (n·Σx)   (x ascending, i = 1..n)
    * rewritten as (Σ(2i−1)xᵢ − n·Σx) / (n·Σx) so one aggregate pass over
    * the ranked rows suffices. Within a tie block the index weights sum
    * to a constant, so any deterministic tiebreak yields the same G —
    * the id tiebreak just keeps the plan reproducible. All sums are
    * DECIMAL(38,0); the ppm ratio is one exact integral division.
    *
    * Scale shape: one hash exchange on the group key feeding an
    * in-partition sort (the rank window) and an immediate partial
    * aggregate — no join, no second scan, output is |groups| rows. */
  def gini(df: DataFrame, keys: Seq[String], valueCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(valueCol), col(idCol))
    df.withColumn("__i", row_number().over(w).cast("decimal(38,0)"))
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(dec(col(valueCol))).as("__s"),
        sum((lit(2).cast("decimal(38,0)") * col("__i") - 1) *
          dec(col(valueCol))).as("__a"))
      .select(keys.map(col) ++ Seq(
        col("__n").cast("long").as("n"),
        col("__s").cast("long").as("sum_v"),
        when(col("__s") > 0,
          expr("(1000000 * (__a - __n * __s)) div (__n * __s)")
            .cast("long")).as("gini_ppm")): _*)
  }

  /** Per-group Mann–Whitney U between two cohorts — the nonparametric
    * "did the distribution shift" test ([[ab1]]'s Welch t without the
    * normality assumption). Ranks use the midrank convention; to stay
    * in ℤ everything is carried at 2× scale: a row's doubled midrank is
    * min(rn)+max(rn) over its tie block, and
    *   2·U₁ = Σ_{cohort1} 2r − n₁(n₁+1).
    * Also emits the common-language effect size P(X₁>X₂) (tie-halved)
    * in ppm: (10⁶·2U₁) div (2n₁n₂) — exact integral division.
    *
    * Scale shape: one hash exchange on the test key, ONE in-partition
    * sort serving the global rank window AND the two tie-block windows
    * (same partition, compatible order), then a partial-aggregated
    * rollup to |keys| rows. No join, no second exchange. */
  def mannWhitneyU(df: DataFrame, keys: Seq[String], valueCol: String,
      cohortCol: String): DataFrame = {
    val byKey = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(valueCol))
    // Tie blocks are the RANGE-frame PEERS of the same sorted window
    // (RANGE CURRENT ROW..CURRENT ROW = all equal-value rows) — same
    // partitioning and order as the rank window, so Spark plans ONE
    // exchange + sort instead of a second hash exchange on (key, v).
    val tieBlock = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(valueCol))
      .rangeBetween(Window.currentRow, Window.currentRow)
    val ranked = df
      .withColumn("__rn", row_number().over(byKey))
      .withColumn("__r2",
        (min(col("__rn")).over(tieBlock) +
          max(col("__rn")).over(tieBlock)).cast("decimal(38,0)"))
    val one = col(cohortCol) === 1
    ranked.groupBy(keys.map(col): _*)
      .agg(
        sum(when(one, lit(1)).otherwise(lit(0))).cast("decimal(38,0)")
          .as("__n1"),
        sum(when(!one, lit(1)).otherwise(lit(0))).cast("decimal(38,0)")
          .as("__n2"),
        sum(when(one, col("__r2")).otherwise(lit(0))).as("__rs1"))
      .select(keys.map(col) ++ Seq(
        col("__n1").cast("long").as("n1"),
        col("__n2").cast("long").as("n2"),
        expr("__rs1 - __n1 * (__n1 + 1)").cast("long").as("u1_2x"),
        when(col("__n1") > 0 && col("__n2") > 0,
          expr("(1000000 * (__rs1 - __n1 * (__n1 + 1))) div (2 * __n1 * __n2)")
            .cast("long")).as("cles_ppm")): _*)
  }

  /** Per-group Spearman rank correlation, reported as sign(ρ) and ρ²
    * in ppm — both exact. Midranks at 2× scale (ties handled as in
    * [[mannWhitneyU]]) turn both columns into integers; ρ is then
    * Pearson on the rank pairs, and ρ² comes out of the same staged
    * exact-moment division [[linearFit]] uses for r² (ρ² IS the rank
    * fit's r²). The square avoids the irrational sqrt; the sign column
    * restores the direction the square drops. NULL on degenerate
    * groups (either column constant).
    *
    * Scale shape: one hash exchange on the group key; the two rank
    * windows sort within the same partitions (one per axis), then one
    * partial-aggregated moment rollup — no join, |groups| output rows. */
  def spearman(df: DataFrame, keys: Seq[String], xCol: String,
      yCol: String): DataFrame = {
    // Ranks from VALUE COUNTS, not row sorts: the 2×-midrank of a tie
    // block equals min+max of its row_numbers = 2·(#rows below) +
    // (#rows equal) + 1 — a pure function of the per-value counts. So
    // aggregate first (one hash exchange on (keys, x, y)), rank the
    // DISTINCT values with a running sum over the per-group value list,
    // and join the two rank tables back onto the (keys, x, y) counts.
    // The former formulation ranked every ROW via two windows
    // partitioned by `keys` — two full sorts of the input confined to
    // |keys| partitions (srk1: 600k rows in 3 partitions, twice).
    // Moments then weight by the count. Identical exact integers.
    val kc = keys.map(col)
    // feeds both rank tables + the final join
    val cnts = Pin(df
      .groupBy((kc :+ col(xCol).as("__x") :+ col(yCol).as("__y")): _*)
      .agg(count(lit(1)).as("__c")))
    def rankOf(vc: String, out: String): DataFrame = {
      val w = Window.partitionBy(kc: _*).orderBy(col(vc))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cnts.groupBy((kc :+ col(vc)): _*).agg(sum(col("__c")).as("__cv"))
        .withColumn("__cum", sum(col("__cv")).over(w))
        .select((kc :+ col(vc) :+
          (lit(2) * (col("__cum") - col("__cv")) + col("__cv") + 1)
            .cast("decimal(38,0)").as(out)): _*)
    }
    val ranked = cnts
      .join(rankOf("__x", "__rx"), keys :+ "__x")
      .join(rankOf("__y", "__ry"), keys :+ "__y")
    ranked.groupBy(keys.map(col): _*)
      .agg(
        sum(col("__c")).cast("decimal(38,0)").as("__n"),
        sum(col("__c") * col("__rx")).as("__sx"),
        sum(col("__c") * col("__ry")).as("__sy"),
        sum(col("__c") * col("__rx") * col("__ry")).as("__sxy"),
        sum(col("__c") * col("__rx") * col("__rx")).as("__sxx"),
        sum(col("__c") * col("__ry") * col("__ry")).as("__syy"))
      .withColumn("__num", expr("__n*__sxy - __sx*__sy"))
      .withColumn("__den", expr("__n*__sxx - __sx*__sx"))
      .withColumn("__deny", expr("__n*__syy - __sy*__sy"))
      .select(keys.map(col) ++ Seq(
        col("__n").cast("long").as("n"),
        when(col("__den") =!= 0 && col("__deny") =!= 0,
          signum(col("__num")).cast("long")).as("rho_sign"),
        when(col("__den") =!= 0 && col("__deny") =!= 0,
          expr("(((1000000 * __num) div __den) * __num) div __deny")
            .cast("long")).as("rho2_ppm")): _*)
  }

  /** Per-group time-weighted average (TWAP): each value is weighted by
    * how long it REMAINED current (the gap to the key's next event), so
    * bursts don't dominate the way a plain mean lets them. The last
    * event holds no interval and contributes no weight. Exact integral
    * division at the value's own scale:
    *   twap = Σ vᵢ·gapᵢ div Σ gapᵢ   (gaps in µs)
    * NULL when the group spans zero time. One hash exchange on the key
    * feeding a lead window and an immediate partial aggregate — the
    * same single-exchange shape as [[gini]]. */
  def twap(df: DataFrame, keys: Seq[String], tsCol: String, idCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(idCol))
    df.withColumn("__us", expr(s"unix_micros(cast($tsCol as timestamp))"))
      .withColumn("__gap", lead(col("__us"), 1).over(w) - col("__us"))
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("__gap")).cast("decimal(38,0)").as("__span"),
        sum(dec(col(valueCol)) * col("__gap").cast("decimal(38,0)"))
          .as("__wv"))
      .select(keys.map(col) ++ Seq(
        col("n_events"),
        col("__span").cast("long").as("span_us"),
        when(col("__span") > 0, expr("__wv div __span").cast("long"))
          .as("twap")): _*)
  }

  /** Per-group inter-arrival histogram on log₂ buckets — the arrival-
    * process census a capacity model or a traffic anomaly baseline
    * reads. Bucket = ⌊log₂(gap_µs)⌋ computed EXACTLY as
    * length(bin(gap)) − 1 (integer bit-length, no float log to disagree
    * at boundaries; gaps of 0 and 1 µs share bucket 0). One lead
    * window + one hash aggregate; output is |keys|·≤64 rows. */
  def interArrivalLog2(df: DataFrame, keys: Seq[String], tsCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(idCol))
    df.withColumn("__us", expr(s"unix_micros(cast($tsCol as timestamp))"))
      .withColumn("__gap", lead(col("__us"), 1).over(w) - col("__us"))
      .filter(col("__gap").isNotNull)
      .groupBy(keys.map(col) :+
        (length(bin(col("__gap"))) - 1).cast("long").as("log2_gap"): _*)
      .agg(count(lit(1)).as("n_gaps"))
  }

  /** Top-k label TRIGRAMS along each key's event timeline — the path-
    * mining step behind "what do users actually do in sequence", one
    * order up from pairwise transition counts. A trigram counts only
    * when its three events fit inside `windowUs` (t₃ − t₁ ≤ window), so
    * unrelated visits don't concatenate. Deterministic top-k:
    * count-desc, then the label triple. Two lead windows over ONE
    * per-key sort, then a hash aggregate on the (tiny) trigram space
    * and a TakeOrderedAndProject — the corpus is exchanged once. */
  def pathTrigrams(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, labelCol: String, windowUs: Long, k: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    df.withColumn("__us", expr(s"unix_micros(cast($tsCol as timestamp))"))
      .withColumn("__l2", lead(col(labelCol), 1).over(w))
      .withColumn("__l3", lead(col(labelCol), 2).over(w))
      .withColumn("__t3", lead(col("__us"), 2).over(w))
      .filter(col("__l3").isNotNull &&
        col("__t3") - col("__us") <= windowUs)
      .groupBy(col(labelCol).as("step1"), col("__l2").as("step2"),
        col("__l3").as("step3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("step1"), col("step2"), col("step3"))
      .limit(k)
  }

  /** Median/MAD robust outlier census per group — the anomaly gate that
    * survives the anomalies themselves (a mean/stddev gate lets one
    * huge value inflate σ and hide its peers). Median is the EXACT
    * lower median ([[graft.ops.Weighted.weightedMedian]] with unit
    * weights), MAD the lower median of |x − med|; a row is an outlier
    * when |x − med| > k·MAD, all in ℤ. Emits per group: n, median,
    * mad, n_outliers.
    *
    * Scale shape: two ranked passes over the SAME group-key partition
    * (median, then MAD of deviations) and one counting aggregate; the
    * per-group medians travel by broadcast, never a row-level join
    * shuffle. */
  def robustOutliers(df: DataFrame, keys: Seq[String], valueCol: String,
      idCol: String, k: Int): DataFrame = {
    val unit = df.withColumn("__w", lit(1L))
    val med = Weighted.weightedMedian(unit, keys, valueCol, "__w", idCol)
      .withColumnRenamed("wmedian", "__med")
    val withDev = df.join(broadcast(med), keys)
      .withColumn("__ad", abs(col(valueCol) - col("__med")))
    val mad = Weighted.weightedMedian(withDev.withColumn("__w", lit(1L)),
        keys, "__ad", "__w", idCol)
      .withColumnRenamed("wmedian", "__mad")
    withDev.join(broadcast(mad), keys)
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        max(col("__med")).as("median"),
        max(col("__mad")).as("mad"),
        sum(when(col("__ad") > lit(k.toLong) * col("__mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** Per-group two-sample Kolmogorov–Smirnov statistic — the
    * distribution-shift test that sees SHAPE changes Mann–Whitney's
    * rank sum can miss (equal medians, different spread). Everything
    * stays in ℤ by clearing denominators: at every distinct value,
    *   drift = |cum₁·n₂ − cum₂·n₁|,   D = max drift,
    * and D_ppm = (10⁶·D) div (n₁·n₂). One hash aggregate to the
    * distinct-value step points, a cumulative window over THOSE (the
    * reduced stream, not rows), one max. */
  def ksTest(df: DataFrame, keys: Seq[String], valueCol: String,
      cohortCol: String): DataFrame = {
    val one = col(cohortCol) === 1
    val steps = df.groupBy((keys :+ valueCol).map(col): _*)
      .agg(sum(when(one, 1L).otherwise(0L)).as("__c1"),
        sum(when(!one, 1L).otherwise(0L)).as("__c2"))
    val byKey = Window.partitionBy(keys.map(col): _*)
    val cum = byKey.orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    steps
      .withColumn("__n1", sum(col("__c1")).over(byKey))
      .withColumn("__n2", sum(col("__c2")).over(byKey))
      .withColumn("__drift", abs(
        sum(col("__c1")).over(cum) * col("__n2") -
          sum(col("__c2")).over(cum) * col("__n1")))
      .groupBy(keys.map(col): _*)
      .agg(max(col("__n1")).as("n1"), max(col("__n2")).as("n2"),
        max(col("__drift")).as("d_num"))
      .select(keys.map(col) ++ Seq(col("n1"), col("n2"), col("d_num"),
        when(col("n1") > 0 && col("n2") > 0,
          expr("(1000000 * d_num) div (n1 * n2)")).as("d_ppm")): _*)
  }

  /** Per-group Population Stability Index between two cohorts — the
    * drift score model-monitoring dashboards alarm on (completing the
    * family: dr1 TVD, ent1 KL, ks1 KS). Bins are REFERENCE-ECDF
    * deciles assigned positionally — bin(v) = min((10·|{ref < v}|)
    * div n₀, 9) — so no bin-edge list ever materializes: the bin id
    * falls out of the same cumulative step-point window [[ksTest]]
    * uses. Counts are Laplace-smoothed (+1 per cell, +10 per total)
    * so empty cells stay finite, and
    *   PSI_µ = Σ_bins (k₁·n₀ − k₀·n₁) · lp_b  div (n₀·n₁),
    *   lp_b = round(ln(((k₁+1)·(n₀+10)) / ((k₀+1)·(n₁+10))) · 10⁶)
    * — ln is the one IEEE op (lm1's precedent), everything else exact.
    *
    * Scale shape: one hash aggregate to distinct-value step points,
    * one cumulative window over those, a ≤10-bin rollup per key. */
  def psi(df: DataFrame, keys: Seq[String], valueCol: String,
      cohortCol: String): DataFrame = {
    val one = col(cohortCol) === 1
    val steps = df.groupBy((keys :+ valueCol).map(col): _*)
      .agg(sum(when(!one, 1L).otherwise(0L)).as("__c0"),
        sum(when(one, 1L).otherwise(0L)).as("__c1"))
    val byKey = Window.partitionBy(keys.map(col): _*)
    val cum = byKey.orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val binned = steps
      .withColumn("__n0", sum(col("__c0")).over(byKey))
      .withColumn("__n1", sum(col("__c1")).over(byKey))
      .withColumn("__below", sum(col("__c0")).over(cum) - col("__c0"))
      .withColumn("__bin", when(col("__n0") > 0,
        least(expr("(10 * __below) div __n0"), lit(9L))).otherwise(0L))
      .groupBy(keys.map(col) :+ col("__bin"): _*)
      .agg(max(col("__n0")).as("__n0"), max(col("__n1")).as("__n1"),
        sum(col("__c0")).as("__k0"), sum(col("__c1")).as("__k1"))
    binned
      .withColumn("__lp", round(log(
        ((col("__k1") + 1).cast("double") * (col("__n0") + 10)) /
          ((col("__k0") + 1).cast("double") * (col("__n1") + 10))) *
        1000000).cast("long"))
      .groupBy(keys.map(col): _*)
      .agg(max(col("__n0")).cast("long").as("n0"),
        max(col("__n1")).cast("long").as("n1"),
        count(lit(1)).as("n_bins"),
        sum((col("__k1") * col("__n0") - col("__k0") * col("__n1"))
          .cast("decimal(38,0)") * col("__lp")).as("__s"))
      .select(keys.map(col) ++ Seq(col("n0"), col("n1"), col("n_bins"),
        expr("__s div (cast(n0 as decimal(38,0)) * n1)").cast("long")
          .as("psi_micro")): _*)
  }

  /** Per-group CUSUM change-point detection: the index where the
    * running sum departs furthest from the straight line between 0 and
    * the series total — the standard single-change-point location
    * statistic, denominator-cleared to stay exact:
    *   drift_i = |n·S_i − i·S_n|,  change at argmax (first index wins).
    * One ordered window pass (cumsum + row index share the sort) and a
    * max_by argmax — no second scan. */
  def cusumChangePoint(df: DataFrame, keys: Seq[String], tsCol: String,
      idCol: String, valueCol: String): DataFrame = {
    val byKey = Window.partitionBy(keys.map(col): _*)
    val ordered = byKey.orderBy(col(tsCol), col(idCol))
    val cum = ordered.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    df.withColumn("__rn", row_number().over(ordered))
      .withColumn("__s", sum(dec(col(valueCol))).over(cum))
      .withColumn("__n", count(lit(1)).over(byKey).cast("decimal(38,0)"))
      .withColumn("__tot", sum(dec(col(valueCol))).over(byKey))
      .withColumn("__drift", abs(col("__n") * col("__s") -
        col("__rn").cast("decimal(38,0)") * col("__tot")))
      .groupBy(keys.map(col): _*)
      .agg(max(col("__rn")).cast("long").as("n"),
        max_by(col("__rn").cast("long"),
          struct(col("__drift"), -col("__rn"))).as("change_idx"),
        max(col("__drift")).cast("long").as("max_drift"))
  }

  /** Per-group linear interpolation onto a fixed time grid — the
    * resampling step that turns irregular event series into the
    * constant-rate tensors a forecaster or feature store consumes
    * (rs1's gap-fill twin, but VALUE interpolation rather than zero
    * fill). Grid points land on `stepUs` multiples inside the group's
    * observed span; at grid time g between neighbors (t₀,v₀), (t₁,v₁):
    *   v(g) = v₀ + (v₁−v₀)·(g−t₀) div (t₁−t₀)   (exact integral),
    * with the flat right-edge case (g = last event time) emitting v₀.
    *
    * Plan shape: events and grid points UNION into one stream, ONE
    * ordered window pass per direction (last/first IGNORE NULLS with
    * same-timestamp events sorted before grid points, so an on-grid
    * event is its own neighbor) — no as-of join, no per-grid-point
    * probe. */
  def interpolateGrid(df: DataFrame, keys: Seq[String], tsCol: String,
      idCol: String, valueCol: String, stepUs: Long): DataFrame = {
    require(stepUs > 0, "interpolateGrid: stepUs must be positive")
    val ev = df.select(keys.map(col) ++ Seq(
      expr(s"unix_micros(cast($tsCol as timestamp))").as("__us"),
      col(idCol).as("__id"), col(valueCol).cast("long").as("__v"),
      lit(1).as("__isEvent")): _*)
    val grid = ev.groupBy(keys.map(col): _*)
      .agg(min(col("__us")).as("__lo"), max(col("__us")).as("__hi"))
      .withColumn("__us", explode(sequence(
        expr(s"((__lo + ${stepUs - 1}) div $stepUs) * $stepUs"),
        expr(s"(__hi div $stepUs) * $stepUs"), lit(stepUs))))
      .select(keys.map(col) ++ Seq(col("__us"), lit(-1L).as("__id"),
        lit(null).cast("long").as("__v"), lit(0).as("__isEvent")): _*)
    val ordered = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__us"), col("__isEvent").desc, col("__id"))
    val back = ordered.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    // The forward neighbor comes from a DESC-sorted RUNNING frame, not
    // a (currentRow, unboundedFollowing) frame: Spark's unbounded-
    // following frames recompute the aggregate per row — O(n²) per
    // partition (benched 220s on 100k events; this form is 0.6s). At
    // equal us the asc sort puts events before grid points and the
    // desc sort puts grid points first, so an on-grid event lands in
    // the BACK frame on both passes — same semantics.
    val fwdRun = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__us").desc, col("__isEvent").asc, col("__id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(grid)
      .withColumn("__pv", last(col("__v"), ignoreNulls = true).over(back))
      .withColumn("__pu", last(when(col("__isEvent") === 1, col("__us")),
        ignoreNulls = true).over(back))
      .withColumn("__nv", last(col("__v"), ignoreNulls = true).over(fwdRun))
      .withColumn("__nu", last(when(col("__isEvent") === 1, col("__us")),
        ignoreNulls = true).over(fwdRun))
      .filter(col("__isEvent") === 0 && col("__pv").isNotNull)
      // The (Δv · Δt) product is staged through DECIMAL(38,0): a value
      // swing of ±2·10⁶ µ-units across a month-scale gap (~10¹³ µs)
      // passes 10¹⁹ and overflows BIGINT (caught by the sf1 scale run
      // as an ANSI ArithmeticException); the quotient is back in value
      // range, so only the intermediate needs width.
      .select(keys.map(col) ++ Seq(col("__us").as("grid_us"),
        when(col("__nu").isNotNull && col("__nu") > col("__pu"),
          col("__pv") + expr(
            """(cast(__nv - __pv as decimal(38,0)) * (__us - __pu))
              | div (__nu - __pu)""".stripMargin).cast("long"))
          .otherwise(col("__pv")).as("v_interp")): _*)
  }

  /** Seasonality matrix: activity counts per (key, day-of-week,
    * hour-of-day). Calendar arithmetic is PURE INTEGER on epoch
    * microseconds (dow 0 = Sunday via the epoch-starts-Thursday offset;
    * hour = in-day µs div 3.6e9) — no engine's locale-dependent
    * dayofweek() numbering in sight. One scan projection + one hash
    * aggregate; output is |keys|·7·24 rows. */
  def seasonality(df: DataFrame, keys: Seq[String],
      tsCol: String): DataFrame =
    df.withColumn("__d", expr(
        s"unix_micros(cast($tsCol as timestamp)) div 86400000000"))
      .withColumn("__us", expr(
        s"unix_micros(cast($tsCol as timestamp)) % 86400000000"))
      .groupBy(keys.map(col) ++ Seq(
        expr("(__d + 4) % 7").as("dow"),
        expr("__us div 3600000000").as("hour")): _*)
      .agg(count(lit(1)).as("n_events"))

  /** Daily growth accounting — the DAU decomposition every product
    * dashboard leads with: per day, ACTIVE distinct users, NEW users
    * (first ever seen that day) and RETURNING (active − new). First-
    * seen reduces the event stream to the user-bounded (user, min day)
    * table — the [[graft.ops.TextOps.vocabGrowth]] shape on users —
    * so days join |users|-sized aggregates, never raw events twice. */
  def growthAccounting(df: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val days = df.select(col(userCol).as("__u"), expr(
      s"unix_micros(cast($tsCol as timestamp)) div 86400000000").as("day"))
    val active = days.groupBy("day")
      .agg(countDistinct(col("__u")).as("active_users"))
    val fresh = days.groupBy("__u").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    active.join(fresh, Seq("day"), "left")
      .select(col("day"), col("active_users"),
        coalesce(col("new_users"), lit(0L)).as("new_users"),
        (col("active_users") - coalesce(col("new_users"), lit(0L)))
          .as("returning_users"))
  }

  /** Two-proportion z-test between two user cohorts on a binary
    * conversion ("did the user ever emit `convEvent`") — the A/B
    * readout for RATES, completing the family (ab1 means, mw1/ks1
    * distributions). Reported as z² in ppm with every denominator
    * cleared — exact:
    *   z²_ppm = (10⁶·(k₁n₂ − k₂n₁)²·N) div (n₁·n₂·K·(N−K)),
    * K = k₁+k₂, N = n₁+n₂ (pooled variance). The squared numerator is
    * staged in DECIMAL(38,0) — (k₁n₂−k₂n₁)² alone can pass 10¹². One
    * user-level aggregate (events → |users| rows), then a 1-row fold. */
  def twoProportionZ(df: DataFrame, userCol: String, cohortCol: String,
      convCol: String): DataFrame = {
    val users = df.groupBy(col(userCol).as("__u"))
      .agg(max(col(cohortCol)).as("__c"),
        max(when(col(convCol), 1L).otherwise(0L)).as("__k"))
    users.agg(
      sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("__c") === 1, col("__k")).otherwise(0L)).as("k1"),
      sum(when(col("__c") =!= 1, 1L).otherwise(0L)).as("n2"),
      sum(when(col("__c") =!= 1, col("__k")).otherwise(0L)).as("k2"))
      .select(col("n1"), col("k1"), col("n2"), col("k2"),
        when(col("n1") > 0 && col("n2") > 0 &&
          col("k1") + col("k2") > 0 &&
          col("k1") + col("k2") < col("n1") + col("n2"),
          expr("""(1000000 * cast(k1*n2 - k2*n1 as decimal(38,0))
                 |  * cast(k1*n2 - k2*n1 as decimal(38,0)) * (n1 + n2))
                 | div (cast(n1 as decimal(38,0)) * n2 * (k1 + k2)
                 |  * (n1 + n2 - k1 - k2))""".stripMargin).cast("long"))
          .as("z2_ppm"))
  }

  /** Leave-one-out mean target encoding of a categorical key — the
    * leakage-safe way to turn a high-cardinality category into a model
    * feature (plain group-mean encoding leaks each row's own label into
    * its feature; LOO subtracts it first). Singleton groups fall back to
    * the global mean. Target must be BIGINT-coded; the encoding is exact
    * integral division at the target's own scale:
    *   loo = (Σy_g − y_i) div (n_g − 1),  fallback  Σy div n.
    * Cost: one window over the key (hash exchange + in-partition sums)
    * plus a 1-row global aggregate joined by broadcast — no per-category
    * driver state, so 10⁸ categories cost the same shape as 10. */
  def targetEncodeLoo(df: DataFrame, keyCol: String, yCol: String,
      outCol: String = "loo"): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol))
    val prior = df.agg(
      sum(dec(col(yCol))).as("__gs"),
      count(lit(1)).cast("decimal(38,0)").as("__gn"))
    df.withColumn("__sg", sum(dec(col(yCol))).over(byKey))
      .withColumn("__ng", count(lit(1)).over(byKey).cast("decimal(38,0)"))
      .crossJoin(broadcast(prior))
      .withColumn(outCol,
        when(col("__ng") > 1,
          expr(s"(__sg - cast($yCol as decimal(38,0))) div (__ng - 1)"))
          .otherwise(expr("__gs div __gn")).cast("long"))
      .drop("__sg", "__ng", "__gs", "__gn")
  }

  /** Nelson–Aalen cumulative-hazard estimator — the survival-analysis
    * readout for churn/retention questions ("what fraction of users who
    * reach day d stop there?"). Input is one row per subject with an
    * integer duration and an observed flag (1 = the terminal event was
    * seen, 0 = right-censored at that duration). At each event time t:
    *   n_risk(t) = #subjects with duration ≥ t,
    *   step_µ(t) = 10⁶·d(t) div n_risk(t),  H(t) = Σ_{s≤t} step_µ(s)
    * — the hazard increments are exact integer ratios summed as
    * integers, so unlike Kaplan–Meier's product (which would need a
    * float exp·ln round-trip) the whole estimator is bit-exact on any
    * exact-integer engine. Only durations with d(t) > 0 are emitted
    * (zero steps add nothing to H).
    *
    * Plan shape: ONE map-combined hash aggregate collapses subjects to
    * |distinct durations| rows; the risk-set cumulative and the hazard
    * cumsum are a window over that tiny table — no second scan of the
    * subjects, no join. At 100 TB the windowed relation is still only
    * as long as the duration range (days, not rows). */
  def nelsonAalen(df: DataFrame, keys: Seq[String], durCol: String,
      observedCol: String): DataFrame = {
    val perT = df.groupBy((keys :+ durCol).map(col): _*)
      .agg(count(lit(1)).as("__n_at"),
        sum(col(observedCol).cast("long")).as("__d"))
    val byKey = Window.partitionBy(keys.map(col): _*)
    val cumBefore = byKey.orderBy(col(durCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumTo = byKey.orderBy(col(durCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perT
      .withColumn("__risk",
        sum(col("__n_at")).over(byKey) -
          coalesce(sum(col("__n_at")).over(cumBefore), lit(0L)))
      .withColumn("__step",
        expr("(1000000 * __d) div __risk"))
      .withColumn("__h", sum(col("__step")).over(cumTo))
      .filter(col("__d") > 0)
      .select(keys.map(col) ++ Seq(
        col(durCol),
        col("__risk").cast("long").as("n_risk"),
        col("__d").cast("long").as("d_events"),
        col("__step").cast("long").as("hazard_step_ppm"),
        col("__h").cast("long").as("cum_hazard_ppm")): _*)
  }

  /** First-significant-digit census vs Benford's law — the classic
    * fabricated-data / broken-ETL tripwire for positive monetary
    * columns. Expected shares are the fixed constants
    * ⌊10⁶·log₁₀(1+1/d)⌋ (digits 1–9); the observed share and the χ²
    * contribution are exact scaled integers:
    *   contrib_µ(d) = (10⁶·o_d − p_d·n)² div (p_d·n · 10⁶) · 10⁶-scale
    * computed in DECIMAL(38,0) (the squared numerator passes 10²³ at
    * sf 1). The first digit is taken lexically from the integer's
    * decimal string — no float log10 near power-of-ten boundaries.
    * One hash aggregate to 9 rows; everything after is per-digit. */
  val benfordPpm: Seq[(Int, Long)] = (1 to 9).map(d =>
    d -> math.floor(1e6 * math.log10(1.0 + 1.0 / d)).toLong)

  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val expected = benfordPpm.map { case (d, p) =>
      s"WHEN __digit = $d THEN ${p}L" }.mkString(" ")
    df.filter(col(valueCol) > 0)
      .withColumn("__digit",
        substring(col(valueCol).cast("string"), 1, 1).cast("int"))
      .groupBy(col("__digit")).agg(count(lit(1)).as("__obs"))
      .withColumn("__n", sum(col("__obs")).over(Window.partitionBy(lit(1))))
      .withColumn("__p", expr(s"CASE $expected END"))
      .select(
        col("__digit").cast("long").as("digit"),
        col("__obs").cast("long").as("observed"),
        col("__p").cast("long").as("benford_ppm"),
        expr("(1000000 * __obs) div __n").cast("long").as("observed_ppm"),
        expr("""((1000000 * cast(__obs as decimal(38,0)) - __p * __n)
               | * (1000000 * cast(__obs as decimal(38,0)) - __p * __n))
               | div (__p * __n * 1000000)""".stripMargin)
          .cast("long").as("chi2_contrib_micro"))
  }

  /** Poisson bootstrap — distributed-friendly resampling for confidence
    * intervals: instead of materializing B resampled datasets, each row
    * gets a deterministic Poisson(1) weight per replicate, so the whole
    * bootstrap is ONE scan with a B-fold map-side explode and one hash
    * aggregate (the canonical way to bootstrap a 100 TB table; the
    * per-dataset alternative is B full shuffles).
    *
    * Uniform source: ONE md5 per (row, block-of-8 replicates); each
    * digest's 32 hex digits are split into eight 16-bit lanes, one per
    * replicate in the block — hashing per (row, replicate) instead was
    * measured 10× slower at sf0.1 (the md5 + hex decode dominated the
    * query). The inverse-CDF ladder uses fixed 2¹⁶-scaled thresholds
    * (P(X≤k) for λ=1, capped at 7; quantization error ≤ 2⁻¹⁶ per class,
    * irrelevant to a bootstrap), so weights — and therefore every
    * replicate mean — are bit-exact cross-engine. Returns one row per
    * replicate: (replicate, n_eff, mean_value), mean = Σwv div Σw. */
  val poisson16Thresholds: Seq[Long] = {
    val cdf = (0 to 6).scanLeft(0.0) { (acc, k) =>
      acc + math.exp(-1.0) / (1 to k).map(_.toDouble).product
    }.tail // P(X<=0) .. P(X<=6)
    cdf.map(p => math.floor(p * 65536).toLong)
  }

  /** SQL CASE ladder mapping a 16-bit uniform expression to Poisson(1). */
  def poissonLadder16Sql(uExpr: String): String =
    poisson16Thresholds.zipWithIndex
      .map { case (t, k) => s"WHEN $uExpr < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 7 END")

  /** Dialect-portable 16-bit decode of 4 hex digits at a computed
    * 1-based offset (instr ladder — used by the DuckDB oracle; the
    * Spark side uses the cheaper `conv`). */
  def hex16FieldSql(hexExpr: String, offExpr: String): String = {
    val digit = (j: Int) =>
      s"(instr('0123456789abcdef', substring($hexExpr, ($offExpr) + $j, 1)) - 1)"
    "(" + (0 until 4).map(j =>
      s"${digit(j)} * ${math.pow(16, 3 - j).toLong}").mkString(" + ") + ")"
  }

  def poissonBootstrap(df: DataFrame, idCols: Seq[String],
      valueCol: String, replicates: Int = 32): DataFrame = {
    require(replicates >= 2, "poissonBootstrap: need >= 2 replicates")
    val nBlocks = (replicates + 7) / 8
    val idStr = idCols.map(c => s"CAST($c AS STRING)")
      .mkString("concat_ws('-', ", ", ", ", CAST(__blk AS STRING))")
    // Two-stage explode so the digest is computed once per BLOCK row
    // and the eight lane rows reference it as an attribute; the weight
    // product stays in LONG (≤ 7·value, exact) — only the accumulator
    // is DECIMAL — because per-row DECIMAL multiplication is the
    // non-codegen BigDecimal path. The input is rebalanced first: the
    // B-fold explode amplifies whatever split count the scan produced
    // ([[Rebalance.forAmplification]]).
    Rebalance.forAmplification(
      df.select(idCols.map(col) :+ col(valueCol): _*))
      .withColumn("__blk", explode(expr(s"sequence(0, ${nBlocks - 1})")))
      .withColumn("__h", expr(s"md5($idStr)"))
      // hex-parse ONCE per digest (3 conv calls: 48+48+32 bits), then
      // each lane is a shift/mask — 8 per-lane conv calls measured ~3×
      // the cost of this at sf0.1. Lane k's 16 bits are hex digits
      // [4k+1, 4k+4], exactly what the oracle's instr ladder decodes.
      .withColumn("__ua",
        expr("CAST(conv(substring(__h, 1, 12), 16, 10) AS BIGINT)"))
      .withColumn("__ub",
        expr("CAST(conv(substring(__h, 13, 12), 16, 10) AS BIGINT)"))
      .withColumn("__uc",
        expr("CAST(conv(substring(__h, 25, 8), 16, 10) AS BIGINT)"))
      .withColumn("__lane", explode(expr("sequence(0, 7)")))
      .filter(expr(s"__blk * 8 + __lane < $replicates"))
      .withColumn("__u", expr(
        """CASE WHEN __lane < 3 THEN
          |       shiftright(__ua, (2 - __lane) * 16) % 65536
          |     WHEN __lane < 6 THEN
          |       shiftright(__ub, (5 - __lane) * 16) % 65536
          |     ELSE shiftright(__uc, (7 - __lane) * 16) % 65536
          |END""".stripMargin))
      .withColumn("__w", expr(poissonLadder16Sql("__u")).cast("long"))
      .groupBy(expr("__blk * 8 + __lane").as("replicate"))
      .agg(sum(col("__w")).as("n_eff"),
        sum((col("__w") * col(valueCol)).cast("decimal(38,0)"))
          .as("__wv"))
      .select(col("replicate").cast("long"),
        col("n_eff").cast("long"),
        expr("__wv div cast(n_eff as decimal(38,0))").cast("long")
          .as("mean_value"))
  }

  /** Truncated exponentially-weighted moving average over a regular
    * integer-indexed series — the smoothing layer under anomaly/trend
    * readouts. Weights w_k = ⌊10⁶·α·(1−α)^k⌋ for lags k = 0..L−1 are
    * FIXED constants (computed once here, embedded identically in any
    * oracle), so the smoothed value Σ_k w_k·x_{t−k} div 10⁶ is exact —
    * no recursive float state, which also makes the estimator
    * embarrassingly parallel: each output point depends on a bounded
    * lag window, joined as an EQUI-join on (key, t−k) after a bounded
    * L-fold explode of lag offsets. Missing lags contribute nothing
    * (document: the series should be gap-filled first — rs1's job). */
  def ewmaWeightsMicro(alphaPm: Int, lookback: Int): Seq[Long] =
    (0 until lookback).map { k =>
      math.floor(1e6 * (alphaPm / 1000.0) *
        math.pow(1.0 - alphaPm / 1000.0, k)).toLong
    }

  def ewmaSmooth(df: DataFrame, keys: Seq[String], idxCol: String,
      valueCol: String, alphaPm: Int = 250, lookback: Int = 16)
      : DataFrame = {
    require(alphaPm > 0 && alphaPm < 1000, "ewmaSmooth: alphaPm in (0,1000)")
    val w = ewmaWeightsMicro(alphaPm, lookback)
    val warr = w.mkString("array(", "L, ", "L)")
    val lags = df.select(
      (keys.map(col) :+ col(idxCol).as("__t") :+
        explode(expr(s"sequence(0, ${lookback - 1})")).as("__k")): _*)
      .withColumn("__lag_t", col("__t") - col("__k"))
    val src = df.select(
      (keys.map(col) :+ col(idxCol).as("__lag_t") :+
        col(valueCol).as("__x")): _*)
    lags.join(src, keys :+ "__lag_t")
      .groupBy((keys.map(col) :+ col("__t")): _*)
      .agg(sum(expr(s"element_at($warr, cast(__k + 1 as int)) " +
        s"* cast(__x as decimal(38,0))")).as("__s"),
        count(lit(1)).as("__n_lags"))
      .select(keys.map(col) ++ Seq(
        col("__t").cast("long").as(idxCol),
        col("__n_lags").cast("long").as("n_lags"),
        expr("__s div 1000000").cast("long").as("ewma_micro_value")): _*)
  }

  /** Exact-quota k-fold assignment — cross-validation folds whose
    * sizes differ by at most one, unlike hash-bucket splits (sp1)
    * whose fold sizes are only binomially close. Rows are ranked by a
    * 48-bit md5 uniform (id tiebreak) and fold = rank mod k. The exact
    * global rank comes from the one formulation that scales: a
    * distributed range-partitioned sort, then rank = per-partition
    * offset + position within the partition — no single-partition
    * window ever sees the data. The sorted relation is checkpointed
    * once; positions come from `monotonically_increasing_id` on the
    * pinned partitions (pid in the high 31 bits, in-partition ordinal
    * in the low 33), and the per-partition row counts collected to the
    * driver are bounded metadata (one long per partition). This stays
    * entirely in codegen — the previous formulation round-tripped every
    * row through `RDD.zipWithIndex` + `Row.fromSeq`, a per-row
    * deserialize/copy/reserialize that also hid the query behind an
    * opaque `Scan ExistingRDD` (guide §4: no Scala closures on the hot
    * path). Returns (idCols..., fold). */
  def kFoldAssign(df: DataFrame, idCols: Seq[String], k: Int)
      : DataFrame = {
    require(k >= 2, "kFoldAssign: k >= 2")
    val idStr = idCols.map(c => s"CAST($c AS STRING)")
      .mkString("concat_ws('-', ", ", ", ")")
    // Hash once, pinned: orderBy's range-partitioner SAMPLING pass would
    // otherwise evaluate the md5 projection a second time over every row
    // (the sampler runs the child plan in full).
    val hashed = Pin(df.select(idCols.map(col): _*)
      .withColumn("__u", expr(
        s"${TextOps.hex48FastSql(s"md5($idStr)")}")))
    // Total-order sort, pinned: the pin materializes the range
    // partitions so the two consumers below (count pass, rank pass) see
    // the SAME partitioning — and monotonically_increasing_id, evaluated
    // on the pinned partitions, encodes (pid, ordinal) of the global
    // sort order.
    val ordered = Pin(hashed
      .orderBy((col("__u") +: idCols.map(col)): _*))
    val counts = ordered
      .groupBy(spark_partition_id().as("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = math.max(ordered.rdd.getNumPartitions, 1)
    val offsets = (0 until nParts)
      .scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
    val offArr = offsets.take(nParts).mkString("array(", "L, ", "L)")
    val withRank = ordered
      .withColumn("__mono", monotonically_increasing_id())
      .withColumn("__rank",
        element_at(expr(offArr),
          (shiftright(col("__mono"), 33) + 1).cast("int")) +
          (col("__mono") bitwiseAND lit((1L << 33) - 1)))
    withRank.select(idCols.map(col) :+
      expr(s"__rank % $k").cast("long").as("fold"): _*)
  }

  /** Kendall τ-b rank correlation over BOUNDED integer axes (bucket a
    * continuous axis first — monotone bucketing preserves concordance
    * w.r.t. the bucketed values): one contingency hash aggregate over
    * the rows, then concordant/discordant counts from the CELL-pair
    * join (|X|·|Y| cells squared — model-sized, never row-sized):
    *   τ_b = (C − D) / √((N₀−T_x)(N₀−T_y)),  N₀ = n(n−1)/2
    * with tie terms T from the marginal counts. All exact integers in
    * DECIMAL(38,0); the √ is the one IEEE op, ppm-rounded. Completes
    * the nonparametric family (Spearman ρ, Mann-Whitney U, KS). */
  def kendallTau(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // reused by the pair join + three margins
    val cells = Pin(df.groupBy(col(xCol).cast("bigint").as("__x"),
        col(yCol).cast("bigint").as("__y"))
      .agg(count(lit(1)).as("__c")))
    val c1 = cells.select(col("__x").as("x1"), col("__y").as("y1"),
      dec(col("__c")).as("c1"))
    val c2 = cells.select(col("__x").as("x2"), col("__y").as("y2"),
      dec(col("__c")).as("c2"))
    val conc = c1.join(c2,
        col("x2") > col("x1") && col("y2") =!= col("y1"))
      .agg(
        sum(when(col("y2") > col("y1"), col("c1") * col("c2"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__conc"),
        sum(when(col("y2") < col("y1"), col("c1") * col("c2"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__disc"))
    val margins = cells.agg(
      sum(dec(col("__c"))).as("__n"),
      count(lit(1)).as("cells"))
    val tx = cells.groupBy("__x").agg(sum(dec(col("__c"))).as("nx"))
      .agg(sum(expr("nx * (nx - 1)")).as("__tx2")) // 2·T_x
    val ty = cells.groupBy("__y").agg(sum(dec(col("__c"))).as("ny"))
      .agg(sum(expr("ny * (ny - 1)")).as("__ty2"))
    conc.crossJoin(margins).crossJoin(tx).crossJoin(ty)
      .withColumn("__cc",
        coalesce(col("__conc"), lit(0).cast("decimal(38,0)")))
      .withColumn("__dd",
        coalesce(col("__disc"), lit(0).cast("decimal(38,0)")))
      .select(
        col("__n").cast("long").as("n"),
        col("cells"),
        col("__cc").cast("long").as("concordant"),
        col("__dd").cast("long").as("discordant"),
        when(expr("__n * (__n - 1) - __tx2") > 0 &&
            expr("__n * (__n - 1) - __ty2") > 0,
          round((col("__cc") - col("__dd")).cast("double")
            * lit(1000000.0) /
            (sqrt((expr("__n * (__n - 1)") - col("__tx2"))
              .cast("double") / lit(2.0)) *
             sqrt((expr("__n * (__n - 1)") - col("__ty2"))
              .cast("double") / lit(2.0)))).cast("bigint"))
          .as("tau_b_ppm"))
  }

  /** RANSAC line fit — the robust regression that survives the gross
    * outliers OLS averages in: T deterministic trials each hypothesize
    * the line through two hash-selected sample points and the winner is
    * the trial with the most inliers. Everything scan-order-free:
    * trial t's sample pair is the two rows minimizing
    * md5(id‖t) (a mergeable 2-min [[graft.functions.TopKPairs]] head —
    * (x, y) packed into the id word, so no second fetch join), and the
    * inlier test is the exact cross-product form
    *   (Δx·(y−y₁) − Δy·(x−x₁))² ≤ eps²·(Δx²+Δy²)
    * in DECIMAL(38,0) — true point-to-line distance, no sqrt, no
    * division, identical on any exact-integer engine.
    *
    * Plan: one T-fold explode + hash-agg picks the T pairs (map-side
    * 2-element heaps; rebalanced first — the explode amplifies the
    * scan's splits); the T candidate lines broadcast back over ONE
    * more scan for the inlier census. Two passes total, both linear.
    * Returns one row: the winning trial (inliers desc, trial asc) with
    * its two sample points, inlier count, and slope_ppm. */
  /** Per-trial XOR mask constants: golden-ratio multiples truncated to
    * 48 bits — one shared 48-bit row hash XOR-permuted per trial is a
    * measure-preserving re-ranking, so each trial's 2-min sample is a
    * fresh deterministic draw WITHOUT a trials-fold row explode. */
  def ransacMask(t: Int): Long =
    (t.toLong * 0x9E3779B97F4AL) & 0xFFFFFFFFFFFFL

  def ransacLine(df: DataFrame, idCols: Seq[String], xCol: String,
      yCol: String, eps: Long, trials: Int = 16): DataFrame = {
    require(trials >= 1 && trials <= 256, "ransacLine: trials in [1,256]")
    // eps < 2²⁰ keeps the per-line threshold within the range where the
    // double-sqrt ±1 correction is exact (thr ≤ 2¹⁰², √ error ≤ 1)
    require(eps > 0 && eps < 1048576L,
      "ransacLine: eps must be in (0, 2^20)")
    val spark = df.sparkSession
    val idStr = idCols.map(c => s"CAST($c AS STRING)")
      .mkString("concat_ws('-', ", ", ", ")")
    // pack (x, y) into one BIGINT: x·2³² + y (caller guarantees
    // 0 ≤ x < 2³⁰, 0 ≤ y < 2³⁰ — also the cross-product bound below).
    // ONE md5 per ROW; every trial re-ranks the same 48-bit uniform
    // through its XOR mask ([[ransacMask]]) — the per-(row, trial)
    // hash version cost trials× the hashing and a trials-fold explode
    // (measured 4× slower at sf1). All T 2-min heads accumulate in ONE
    // hash-aggregate pass (T mergeable topk_pairs buffers).
    val base = df.select((idCols.map(col) :+
        col(xCol).cast("bigint").as("__x") :+
        col(yCol).cast("bigint").as("__y")): _*)
      .withColumn("__h", expr(s"md5($idStr)"))
      .withColumn("__u", expr(s"${TextOps.hex48FastSql("__h")}"))
      .withColumn("__packed", expr("__x * 4294967296L + __y"))
    val heads = base.groupBy()
      .agg(call_function("topk_pairs", col("__packed"),
        -expr(s"__u ^ ${ransacMask(0)}L").cast("double"), lit(2))
        .as("top0"),
        (1 until trials).map { t =>
          call_function("topk_pairs", col("__packed"),
            -expr(s"__u ^ ${ransacMask(t)}L").cast("double"), lit(2))
            .as(s"top$t")
        }: _*)
    val pairs = heads
      .select(explode(array((0 until trials).map { t =>
        struct(lit(t.toLong).as("__t"), col(s"top$t").as("top"))
      }: _*)).as("e"))
      .select(col("e.__t").as("__t"),
        expr("e.top[0].nn div 4294967296L").as("x1"),
        expr("e.top[0].nn % 4294967296L").as("y1"),
        expr("e.top[1].nn div 4294967296L").as("x2"),
        expr("e.top[1].nn % 4294967296L").as("y2"))
      .filter(expr("x1 <> x2 OR y1 <> y2")) // degenerate pair: skip trial
    // The inlier test cross² ≤ eps²·|Δ|² is rewritten |cross| ≤ s with
    // s = ⌊√(eps²·|Δ|²)⌋ computed ONCE per trial line (DECIMAL sqrt
    // with an exact ±1 integer correction — the equivalence is exact
    // for integer cross), so the per-row census is pure LONG codegen —
    // the per-row DECIMAL cross² version was measured 2× slower.
    // Requires |x| < 2³⁰ and |y| < 2³⁰ so cross never overflows a long
    // (|cross| ≤ 2·2³⁰·2³⁰ = 2⁶¹).
    val linesWithThreshold = pairs
      .withColumn("__thr",
        expr(s"""cast($eps as decimal(38,0)) * $eps *
                |  (cast((x2 - x1) as decimal(38,0)) * (x2 - x1)
                |   + cast((y2 - y1) as decimal(38,0)) * (y2 - y1))
                |""".stripMargin))
      .withColumn("__s0", expr(
        "CAST(floor(sqrt(CAST(__thr AS DOUBLE))) AS BIGINT)"))
      .withColumn("__sq", expr(
        """CASE
          |  WHEN cast(__s0 + 1 as decimal(38,0)) * (__s0 + 1) <= __thr
          |    THEN __s0 + 1
          |  WHEN cast(__s0 as decimal(38,0)) * __s0 > __thr
          |    THEN __s0 - 1
          |  ELSE __s0 END""".stripMargin))
      .drop("__thr", "__s0")
    val data = df.select(col(xCol).cast("bigint").as("__px"),
      col(yCol).cast("bigint").as("__py"))
    val census = Rebalance.forAmplification(data)
      .crossJoin(broadcast(linesWithThreshold))
      .withColumn("__cross", expr(
        "(x2 - x1) * (__py - y1) - (y2 - y1) * (__px - x1)"))
      .withColumn("__in",
        (abs(col("__cross")) <= col("__sq")).cast("long"))
      .groupBy("__t", "x1", "y1", "x2", "y2")
      .agg(sum(col("__in")).as("inliers"), count(lit(1)).as("n"))
    census.groupBy()
      .agg(max_by(
        struct(col("__t").cast("long").as("trial"),
          col("x1").cast("long").as("x1"),
          col("y1").cast("long").as("y1"),
          col("x2").cast("long").as("x2"),
          col("y2").cast("long").as("y2"),
          col("n").cast("long").as("n"),
          col("inliers").cast("long").as("inliers"),
          when(col("x2") =!= col("x1"),
            expr("(1000000 * (y2 - y1)) div (x2 - x1)").cast("long"))
            .as("slope_ppm")),
        struct(col("inliers"), -col("__t"))).as("b"))
      .select("b.trial", "b.x1", "b.y1", "b.x2", "b.y2", "b.n",
        "b.inliers", "b.slope_ppm")
  }

  /** Autocorrelation function of a regular integer-indexed series at
    * lags 1..K — the periodicity probe next to [[seasonality]]'s
    * calendar matrix. Denominators cleared so the whole statistic is
    * exact: with S = Σx, n = series length,
    *   r_ppm(k) = 10⁶·Σ_t (n·x_t − S)(n·x_{t−k} − S)
    *              div Σ_t (n·x_t − S)²
    * — the numerator over the n−k overlapping pairs from a bounded
    * K-fold lag explode + equi-join ([[ewmaSmooth]]'s shape), the
    * denominator from the same one-pass moment aggregate. Per-key
    * series, one row per (key, lag). */
  def autocorrelation(df: DataFrame, keys: Seq[String], idxCol: String,
      valueCol: String, maxLag: Int = 12): DataFrame = {
    require(maxLag >= 1, "autocorrelation: maxLag >= 1")
    val byKey = Window.partitionBy(keys.map(col): _*)
    val withTot = df
      .withColumn("__n", count(lit(1)).over(byKey).cast("decimal(38,0)"))
      .withColumn("__s", sum(dec(col(valueCol))).over(byKey))
      .withColumn("__c", expr(s"__n * cast($valueCol as decimal(38,0)) - __s"))
    val den = withTot.groupBy(keys.map(col): _*)
      .agg(sum(col("__c") * col("__c")).as("__den"),
        max(col("__n")).cast("long").as("n"))
    val lags = withTot.select(
      (keys.map(col) :+ col(idxCol).as("__i") :+ col("__c").as("__ca")): _*)
      .withColumn("__k", explode(expr(s"sequence(1, $maxLag)")))
      .withColumn("__lag_i", col("__i") - col("__k"))
    val prev = withTot.select(
      (keys.map(col) :+ col(idxCol).as("__lag_i") :+
        col("__c").as("__cb")): _*)
    lags.join(prev, keys :+ "__lag_i")
      .groupBy((keys.map(col) :+ col("__k").as("lag")): _*)
      .agg(sum(col("__ca") * col("__cb")).as("__num"),
        count(lit(1)).as("n_pairs"))
      .join(den, keys)
      .select(keys.map(col) ++ Seq(col("lag").cast("long"),
        col("n"), col("n_pairs").cast("long"),
        when(col("__den") > 0,
          expr("(1000000 * __num) div __den").cast("long"))
          .as("acf_ppm")): _*)
  }

  /** Per-group symmetric trimmed mean — the robust location estimate
    * between the mean (trim 0) and the median (trim 50%): drop the
    * bottom and top `trimPm`‰ of the MASS by exact rank and average
    * the rest. Works on the ks1 step-point formulation, so no row-level
    * sort ever happens: one hash aggregate collapses rows to
    * (group, value, count), a per-group window over those DISTINCT
    * VALUES assigns each value its rank interval [below+1, below+c],
    * and the kept contribution is the interval's overlap with
    * (n·trim‰, n − n·trim‰] — all integer arithmetic, so the oracle
    * mirrors it exactly. Returns per group:
    * (keys..., n, kept, mean_micro, trimmed_mean_micro). */
  def trimmedMean(df: DataFrame, keys: Seq[String], valueCol: String,
      trimPm: Int = 50): DataFrame = {
    require(trimPm >= 0 && trimPm < 500,
      s"trimmedMean: trimPm in [0, 500), got $trimPm")
    val perV = df.groupBy((keys :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val byKey = Window.partitionBy(keys.map(col): _*)
    val cum = byKey.orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perV
      .withColumn("__n", sum(col("__c")).over(byKey))
      .withColumn("__below", sum(col("__c")).over(cum) - col("__c"))
      .withColumn("__lo", expr(s"(__n * $trimPm) div 1000"))
      .withColumn("__hi", expr(s"__n - (__n * $trimPm) div 1000"))
      .withColumn("__keep", greatest(lit(0L),
        least(col("__below") + col("__c"), col("__hi")) -
          greatest(col("__below"), col("__lo"))))
      .groupBy(keys.map(col): _*)
      .agg(max(col("__n")).cast("long").as("n"),
        sum(col("__keep")).cast("long").as("kept"),
        sum(dec(col(valueCol)) * col("__c")).as("__sall"),
        sum(dec(col(valueCol)) * col("__keep")).as("__skeep"))
      .select(keys.map(col) ++ Seq(col("n"), col("kept"),
        expr("(1000000 * __sall) div n").cast("long").as("mean_micro"),
        when(col("kept") > 0,
          expr("(1000000 * __skeep) div kept").cast("long"))
          .as("trimmed_mean_micro")): _*)
  }

  /** Best single-split regression stump — the one-level decision tree
    * that a feature-importance census or a boosting round needs: for
    * every candidate threshold t over an integer feature, score the
    * split x ≤ t by the variance-explained surrogate
    *   score(t) = Sk_L² div n_L + Sk_R² div n_R,   Sk = S div 1000
    * (maximizing it minimizes SSE; the constant Σy² term cancels).
    * The kilo-unit de-scaling before squaring is load-bearing: Spark's
    * `div` ALWAYS returns BIGINT, so the divided score must fit a
    * long — Sk² div n peaks ~10¹⁷ at sf100 where the µ-scaled version
    * bursts. Sums stay DECIMAL(38,0)-exact; every truncation is
    * computed identically on both engines, so the argmax (threshold
    * choice, tie-break included) is bit-pinned, not just the score.
    *
    * Plan shape: ONE hash aggregate collapses rows to |distinct x|
    * step points; the cumulative sums and the argmax are a window +
    * aggregate over that bounded relation. The right-edge candidate
    * (empty right child) is excluded. */
  def decisionStump(df: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    val perX = df.groupBy(col(xCol).as("__x"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("__nx"),
        sum(dec(col(yCol))).as("__sx"))
    // |distinct x| rows post-aggregate — constant-partition windows
    val all = Window.partitionBy(lit(1))
    val cum = Window.partitionBy(lit(1)).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perX
      .withColumn("__n", sum(col("__nx")).over(all))
      .withColumn("__s", sum(col("__sx")).over(all))
      .withColumn("__nl", sum(col("__nx")).over(cum))
      .withColumn("__sl", sum(col("__sx")).over(cum))
      .filter(col("__nl") < col("__n")) // right child must be non-empty
      .withColumn("__slk", expr("__sl div 1000"))
      .withColumn("__srk", expr("(__s - __sl) div 1000"))
      .withColumn("__sk", expr("__s div 1000"))
      .withColumn("__score", expr(
        """(cast(__slk as decimal(38,0)) * __slk) div __nl
          | + (cast(__srk as decimal(38,0)) * __srk) div (__n - __nl)
          |""".stripMargin))
      .groupBy()
      .agg(
        max(col("__n")).cast("long").as("n"),
        max_by(struct(
          col("__x").cast("long").as("best_x"),
          col("__nl").cast("long").as("n_left"),
          (col("__n") - col("__nl")).cast("long").as("n_right"),
          expr("(1000000 * __sl) div __nl").cast("long")
            .as("mean_left_micro"),
          expr("(1000000 * (__s - __sl)) div (__n - __nl)").cast("long")
            .as("mean_right_micro"),
          // per-row variance explained in (y/1000)² units
          expr("""(cast(__score as decimal(38,0))
                 | - (cast(__sk as decimal(38,0)) * __sk) div __n)
                 | div __n""".stripMargin).cast("long")
            .as("gain_per_row")),
          struct(col("__score"), col("__x") * -1)).as("b"))
      .select(col("n"), col("b.best_x"), col("b.n_left"),
        col("b.n_right"), col("b.mean_left_micro"),
        col("b.mean_right_micro"), col("b.gain_per_row"))
  }

  /** Mutual information between two categorical columns — the
    * feature-selection score ("how much does knowing A tell you about
    * B"), in micro-nats:
    *   MI_µ = (Σ_cells c · lp) div n,
    *   lp = round(ln((c·n)/(rₐ·c_b)) · 10⁶)
    * — one contingency hash aggregate over the rows, margins over the
    * CELLS ([[chiSquare]]'s shape); ln of one identically-computed
    * double ratio is the single IEEE op (the lm1/psi precedent).
    * Returns one row: (n, cells, mi_micro). Independent columns give
    * mi_micro = 0 exactly (every lp is ln(1) = 0). */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val cells = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val byA = Window.partitionBy(col("__a"))
    val byB = Window.partitionBy(col("__b"))
    val all = Window.partitionBy(lit(1))
    cells
      .withColumn("__ra", sum(col("__c")).over(byA))
      .withColumn("__cb", sum(col("__c")).over(byB))
      .withColumn("__n", sum(col("__c")).over(all))
      .withColumn("__lp", round(log(
        (col("__c") * col("__n")).cast("double") /
          (col("__ra") * col("__cb")).cast("double")) * 1000000)
        .cast("long"))
      .groupBy()
      .agg(max(col("__n")).cast("long").as("n"),
        count(lit(1)).as("cells"),
        sum(dec(col("__c")) * col("__lp")).as("__s"))
      .select(col("n"), col("cells"),
        expr("__s div cast(n as decimal(38,0))").cast("long")
          .as("mi_micro"))
  }

  /** Isotonic (monotone nondecreasing) calibration via
    * pool-adjacent-violators over BINNED inputs: one hash aggregate
    * collapses rows to (bin, n, positives); PAVA runs on the driver
    * over the ≤|bins| summary (bounded by the binning, not the data —
    * the k-means-centroid rationale), pooling adjacent bins whose raw
    * rates decrease. Returns one row per input bin:
    * (bin, n, d, raw_ppm, fit_ppm) where fit_ppm is the pooled rate
    * 10⁶·Σd div Σn of the bin's final pool — monotone nondecreasing in
    * bin by construction. */
  def isotonicFit(df: DataFrame, binCol: String, positiveCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bins = df.groupBy(col(binCol).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col(positiveCol).cast("long")).as("d"))
      .orderBy("bin")
      .as[(Long, Long, Long)].collect()
    // PAVA: stack of pools (binLo, n, d); merge while rates decrease
    // (exact rational comparison d1·n2 > d2·n1 — no float rates)
    val pools = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)] // (firstBin, n, d)
    bins.foreach { case (b, n, d) =>
      var cur = (b, n, d)
      while (pools.nonEmpty && {
        val (_, pn, pd) = pools.last
        pd * cur._2 > cur._3 * pn // pooled rate would decrease
      }) {
        val (pb, pn, pd) = pools.remove(pools.length - 1)
        cur = (pb, pn + cur._2, pd + cur._3)
      }
      pools += cur
    }
    val fitByBin = bins.map { case (b, n, d) =>
      val pool = pools.reverse.find(_._1 <= b).get
      (b, n, d, 1000000L * d / n.max(1L), 1000000L * pool._3 / pool._2)
    }
    fitByBin.toSeq.toDF("bin", "n", "d", "raw_ppm", "fit_ppm")
  }

  /** Frequent item-pair mining over baskets (market-basket / co-occurrence
    * analysis) with the Apriori prune: items below min support are
    * dropped BEFORE the within-basket pair self-join — at 100 TB this is
    * the difference between pairing every basket's full item set
    * (quadratic in basket width) and pairing only the survivors. The
    * candidate join is an equi-join on the basket id; lift is the exact
    * ppm ratio 10⁶·n·c_ab div (c_a·c_b). Items are deduped per basket
    * first (presence, not multiplicity). */
  def frequentPairs(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long): DataFrame = {
    require(minSupport >= 1, "frequentPairs: minSupport >= 1")
    // The distinct (basket, item) relation feeds FOUR plants — the
    // basket count, the item-frequency table, and both sides of the
    // pair self-join — and Spark replants (re-runs the corpus distinct
    // for) each one. Pin it once; the pruned relation is pinned too so
    // the self-join probes materialized rows instead of re-running the
    // frequency broadcast join per side (guide §5, the dedup-family
    // playbook).
    val items = Pin(df.select(col(basketCol).as("__basket"),
      col(itemCol).as("__item")).distinct())
    val nBaskets = items.select("__basket").distinct()
      .agg(count(lit(1)).as("__n"))
    val freq = items.groupBy("__item")
      .agg(count(lit(1)).as("__c")).filter(col("__c") >= minSupport)
    val pruned = Pin(items.join(broadcast(freq), "__item"))
    val pairs = pruned.as("a").join(pruned.as("b"),
        col("a.__basket") === col("b.__basket") &&
          col("a.__item") < col("b.__item"))
      .groupBy(col("a.__item").as("item_a"), col("b.__item").as("item_b"))
      .agg(count(lit(1)).as("pair_count"),
        max(col("a.__c")).as("__ca"), max(col("b.__c")).as("__cb"))
      .filter(col("pair_count") >= minSupport)
    pairs.crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"),
        col("pair_count").cast("long"),
        col("__ca").cast("long").as("count_a"),
        col("__cb").cast("long").as("count_b"),
        expr("""(1000000 * cast(pair_count as decimal(38,0)) * __n)
               | div (cast(__ca as decimal(38,0)) * __cb)""".stripMargin)
          .cast("long").as("lift_ppm"))
  }

  /** Precision/recall/reciprocal-rank@k — the binary-relevance eval
    * triple next to [[ndcgAtK]]'s graded one, over EXPLICIT judgment
    * grades (grade ≥ 1 counts as relevant). Per query over the run's
    * top-k: n_rel = relevant docs retrieved, precision = n_rel/k,
    * recall = n_rel/|judged relevant|, rr = 1/rank of the first
    * relevant hit — all emitted as exact ppm integers (·10⁶ div …,
    * i.e. TRUNCATING division). Queries with an empty judged pool emit
    * NULL recall (0/0); queries whose head has no relevant hit emit
    * rr = 0.
    *
    * NOT the same conventions as [[TextOps.retrievalEval]] (the
    * (query_id, doc_id)-schema twin over a binary ground-truth set):
    * that one rounds HALF-UP to ppm, 0-fills recall for unjudged
    * queries, and names the columns mrr_ppm/p_at_k_ppm/r_at_k_ppm.
    * Pick by input shape (graded judgments here, binary label set
    * there) and keep the rounding convention of whichever you grade
    * against — hence the distinct name.
    *
    * Judgments are deduplicated to one row per (query, doc) before the
    * join (duplicate judgment rows would otherwise fan out the top-k
    * left join and inflate n_rel past k). Scale shape: one (query,
    * doc) left join of the |queries|·k run against judgments + two
    * hash aggregates — nothing touches the corpus. */
  def binaryRetrievalEval(run: DataFrame, queryCol: String, docCol: String,
      rankCol: String, judgments: DataFrame, jQueryCol: String,
      jDocCol: String, gradeCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"binaryRetrievalEval: k must be >= 1, got $k")
    val j = judgments.select(col(jQueryCol).as("__q"),
      col(jDocCol).as("__d"), col(gradeCol).cast("long").as("__g"))
      .filter(col("__g") > 0)
      .select("__q", "__d").distinct()
    val nJudged = j.groupBy("__q").agg(count(lit(1)).as("__nj"))
    val head = run.select(col(queryCol).as("__q"), col(docCol).as("__d"),
        col(rankCol).cast("long").as("__rk"))
      .filter(col("__rk") <= k)
      .join(j.select(col("__q"), col("__d"), lit(1L).as("__rel")),
        Seq("__q", "__d"), "left")
    head.groupBy("__q")
      .agg(sum(coalesce(col("__rel"), lit(0L))).as("n_rel"),
        min(when(col("__rel").isNotNull, col("__rk"))).as("__first"))
      .join(nJudged, Seq("__q"), "left")
      .select(col("__q").as(queryCol),
        col("n_rel"),
        expr(s"n_rel * 1000000 div $k").as("precision_ppm"),
        expr("n_rel * 1000000 div __nj").as("recall_ppm"),
        coalesce(expr("1000000 div __first"), lit(0L)).as("rr_ppm"))
  }

  /** Rank-position discounts for [[ndcgAtK]]: round(10⁹ / log2(r+1))
    * for rank r — the standard NDCG discount, pre-rounded to ppb
    * CONSTANTS so no engine ever evaluates a logarithm at query time
    * (libm log2 can differ in the last ulp across engines, which under
    * a floor would flip a digit; a fixed rational table can't). */
  val ndcgDiscountsPpb: Seq[(Int, Long)] = Seq(
    1 -> 1000000000L, 2 -> 630929754L, 3 -> 500000000L,
    4 -> 430676558L, 5 -> 386852807L, 6 -> 356207187L,
    7 -> 333333333L, 8 -> 315464877L, 9 -> 301029996L, 10 -> 289064826L)

  /** NDCG@k — THE graded-relevance retrieval metric (how good is a
    * ranked run when relevance isn't binary). Inputs: `run` =
    * (query, doc, rank 1..k) — a retrieval head, |queries|·k rows;
    * `judgments` = (query, doc, integer grade ≥ 0). Per query:
    *   DCG  = Σ_{r ≤ k} (2^grade(doc@r) − 1) · disc(r)
    *   IDCG = the same sum over the IDEAL reordering of that query's
    *          judged pool (grades descending), truncated at k
    *   NDCG = DCG / IDCG
    * All arithmetic is exact integers: gains are 2^g−1 BIGINTs, the
    * discounts come from [[ndcgDiscountsPpb]], and NDCG is emitted as
    * `dcg·10⁶ div idcg` ppm — bit-identical on any engine.
    *
    * The ideal side never sorts the judged pool per doc: it reduces to
    * per-(query, grade) COUNTS, turns the cumulative counts into rank
    * intervals (one window over ≤ |grades| rows per query), and joins
    * the k-row discount table against those intervals — |queries|·k
    * work however many docs are judged. The run side is one broadcast
    * join against the k-row discount table plus a left join onto
    * judgments keyed (query, doc) — at 100 TB the only corpus-shaped
    * cost is whatever produced the run and judgments upstream.
    * Queries with an empty judged pool emit NULL ndcg (0/0 is
    * meaningless, not zero). Emits (query, dcg_ppb, idcg_ppb,
    * ndcg_ppm). */
  def ndcgAtK(run: DataFrame, queryCol: String, docCol: String,
      rankCol: String, judgments: DataFrame, jQueryCol: String,
      jDocCol: String, gradeCol: String, k: Int = 10): DataFrame = {
    require(k >= 1 && k <= ndcgDiscountsPpb.length,
      s"ndcgAtK: k must be in [1, ${ndcgDiscountsPpb.length}], got $k")
    require(run.sparkSession eq judgments.sparkSession,
      "ndcgAtK: run and judgments must share a session")
    val spark = run.sparkSession
    import spark.implicits._
    val disc = spark.createDataset(ndcgDiscountsPpb.take(k))
      .toDF("__rk", "__disc_ppb")
    def gain(g: Column): Column =
      call_function("shiftleft", lit(1L), g.cast("int")) - 1
    // one judgment per (query, doc) — max grade wins; duplicate rows
    // would fan out the run-side left join (double-counted DCG gains)
    // and inflate the ideal pool
    val j = judgments.select(col(jQueryCol).as("__q"),
      col(jDocCol).as("__d"), col(gradeCol).cast("long").as("__g"))
      .filter(col("__g") > 0)
      .groupBy("__q", "__d").agg(max("__g").as("__g"))
    val r = run.select(col(queryCol).as("__q"), col(docCol).as("__d"),
        col(rankCol).cast("int").as("__rk"))
      .filter(col("__rk") <= k)
    val dcg = r.join(j, Seq("__q", "__d"), "left")
      .join(broadcast(disc), "__rk")
      .groupBy("__q")
      .agg(sum(gain(coalesce(col("__g"), lit(0L))) * col("__disc_ppb"))
        .cast("long").as("dcg_ppb"))
    // ideal ranking as grade→rank-interval arithmetic: the window runs
    // over per-(query, grade) counts — ≤ |distinct grades| rows per
    // query — never over the judged pool itself
    val byGrade = j.groupBy("__q", "__g").agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy("__q").orderBy(col("__g").desc)
    val intervals = byGrade
      .withColumn("__hi", sum("__n").over(w))
      .withColumn("__lo", col("__hi") - col("__n"))
    val idcg = intervals.join(broadcast(disc),
        col("__rk") > col("__lo") && col("__rk") <= col("__hi"))
      .groupBy("__q")
      .agg(sum(gain(col("__g")) * col("__disc_ppb"))
        .cast("long").as("idcg_ppb"))
    dcg.join(idcg, Seq("__q"), "left")
      .select(col("__q").as(queryCol), col("dcg_ppb"), col("idcg_ppb"),
        expr("dcg_ppb * 1000000 div idcg_ppb").as("ndcg_ppm"))
  }
}
