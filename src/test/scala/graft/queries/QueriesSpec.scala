package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{GraftSessionShim, classic}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{SparkSpec, SparkEntry}

/** Smoke + plan-shape checks for the batch query inventory. Value-level
  * correctness is graded by the DuckDB oracle (Verify + driver gate);
  * these specs pin the things the oracle can't see: non-emptiness of the
  * rows-only queries, and the physical plan properties that matter at
  * 100 TB (broadcast joins, pushed filters, partial aggregation). */
class QueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("every query runs and returns rows at sf0.001") {
    // The same pass checks that entries leave the caller's session and
    // java.io.tmpdir as they found them: streaming and temp-table entries
    // run in StreamRun's cloned session (no conf write the caller could
    // observe mid-stream, no temp view) and under its per-context root,
    // which goes when the harness scope ends. StreamRun.fixture's keyed
    // caches (`graft-<kind>-fixture-*`) are the only dirs that persist.
    // Nor may an entry leave a cached relation in the shared session:
    // any later plan that matched it would be served from that cache.
    graft.Tables.registerAll(spark, sf)
    val cacheManager =
      spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    val partitions = "spark.sql.shuffle.partitions"
    val callerPartitions = spark.conf.get(partitions)
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def graftDirs = tmp.list().filter(_.startsWith("graft-")).toSet
    def views = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    // fixed-name views of batch entries, replaced in place on every run
    val batchViews = Set("rc1_m", "rc1_e", "__graft_decontam_eval_grams")
    val dirs0 = graftDirs
    val seenMidStream = TrieMap.empty[String, Unit]
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        seenMidStream.put(spark.conf.get(partitions), ())
    }
    spark.streams.addListener(listener)
    try SparkEntry.queries.foreach { case (name, fn) =>
      val views0 = views
      val uncached0 = cacheManager.isEmpty
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
      val added = views -- views0 -- batchViews
      assert(added.isEmpty, s"$name left temp views: $added")
      assert(cacheManager.isEmpty || !uncached0,
        s"$name left a cached relation")
    } finally {
      GraftSessionShim.drainListeners(spark.sparkContext)
      spark.streams.removeListener(listener)
    }
    assert(seenMidStream.nonEmpty, "no streaming progress observed")
    assert(seenMidStream.keySet == Set(callerPartitions),
      s"caller's $partitions moved while streams ran: ${seenMidStream.keySet}")
    assert(spark.conf.get(partitions) == callerPartitions)
    val t0 = System.nanoTime()
    StreamRun.release(spark.sparkContext)
    info(f"harness root removal: ${(System.nanoTime() - t0) / 1e6}%.1f ms")
    val leaked = (graftDirs -- dirs0).filterNot(_.matches("graft-.+-fixture-.+"))
    assert(leaked.isEmpty, s"dirs left in $tmp: ${leaked.toSeq.sorted}")
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL exists for every SQL-expressible query") {
    val rowsOnly = Set("d2_dedup_minhash", "d3_dedup_simhash", "s2_ann_lsh",
      "hll1_approx_distinct", "ivf1_ann", "pq1_ann", "pq2_ivfadc",
      "tk1_bpe_tokenize", "ug1_unigram_tokenize")
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == rowsOnly)
  }

  test("tp1 composition is single-scan: no joins, one corpus read") {
    // the gate passes through and the keep-best winner rides the
    // aggregate buffer — at 100 TB an id-semi-join gate would re-scan
    // the corpus and shuffle an un-broadcastable id set
    val plan = SparkEntry.queries("tp1_pretrain_pipeline")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"tp1 gained a join:\n$plan")
    val scans = plan.split("\n").count(_.contains("Scan parquet"))
    assert(scans == 1, s"tp1 scans the corpus $scans times:\n$plan")
  }

  test("no query in the inventory plans a CartesianProduct") {
    // Global plan guard: the documented diagnostics (e1/ec1 exact
    // paths) run bounded broadcast nested loops, never an unbounded
    // cartesian; anything else planning one is a regression.
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
    }
  }

  // Entries whose plans legitimately carry an UNPARTITIONED window —
  // each a cardinality-BOUNDED post-aggregate (vocab ranks, calibration
  // grids, bucket CDFs: thousands of rows after the heavy aggregation,
  // never corpus-sized), documented at the owning call sites in
  // ops/TextOps, ops/Stats, ops/Weighted and queries/PipelineOps. Kept
  // EXACT: a new entry appearing here means a window over undetermined
  // cardinality slipped in — fix the plan or justify the site, never
  // widen the list casually. (Spark 4's EliminateWindowPartitions
  // folds constant partition specs away, so a source-level
  // `partitionBy(lit(1))` does NOT keep a window out of this sweep —
  // the executed plan is the only truth, which is why this gate exists
  // instead of a source convention.)
  private val allowedUnpartitionedWindows = Set(
    "au1_classifier_auc", // cumulative ranks over |score buckets| rows
    "bd1_benford_digits", // 9 leading-digit rows
    "chi1_chisq_independence", // |a|×|b| category cells
    "cs1_zipf", // vocab rank curve over |distinct words|
    "dt1_decision_stump", // cumulative split scan over |distinct x|
    "hp1_vocab_growth", // checkpoint curve over |checkpoints|
    "mi1_mutual_information", // |a|×|b| category cells
    "na1_nelson_aalen", // cumulative hazard over |distinct times|
    "ny1_neyman_allocation", // |strata| rows
    "z2_compact") // file-metadata rows (~n_files)

  test("unpartitioned WindowExec appears ONLY at the whitelisted " +
      "bounded post-aggregate sites (the 100 TB scale gate)") {
    val offenders = scala.collection.mutable.SortedMap[String, Int]()
    SparkEntry.queries.foreach { case (name, fn) =>
      val wins = fn(spark, sf).queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
        case w: org.apache.spark.sql.execution.window
            .WindowGroupLimitExec if w.partitionSpec.isEmpty => w
      }
      if (wins.nonEmpty) offenders(name) = wins.size
    }
    assert(offenders.keySet == allowedUnpartitionedWindows,
      s"unpartitioned-window set drifted.\n" +
        s"  unexpected: ${(offenders.keySet -- allowedUnpartitionedWindows).mkString(", ")}\n" +
        s"  vanished (prune the whitelist): ${(allowedUnpartitionedWindows -- offenders.keySet).mkString(", ")}")
  }

  test("j1/j3 broadcast their dimension tables") {
    val p1 = SparkEntry.queries("j1_join_agg")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p1.contains("BroadcastHashJoin"), s"j1 plan:\n$p1")
    val p3 = SparkEntry.queries("j3_join_4way")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p3.contains("BroadcastHashJoin"))
    // the fact table must not be exchanged before the joins
    assert(!p3.contains("SortMergeJoin"))
  }

  test("a1 pushes the shipdate filter into the parquet scan") {
    val plan = SparkEntry.queries("a1_lineitem_pricing")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"plan:\n$plan")
  }

  test("a1 uses partial (map-side) hash aggregation") {
    val plan = SparkEntry.queries("a1_lineitem_pricing")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"))
  }

  test("cf1 ranks its calibration set without an unpartitioned window") {
    // VERDICT r10 #3: the order statistic must come from the
    // range-partition + per-partition offset pattern, never a
    // row_number over Window.orderBy (= Exchange SinglePartition of
    // the whole calibration set)
    val df = SparkEntry.queries("cf1_conformal_interval")(spark, sf)
    val wins = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "expected the per-partition rank window")
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window in cf1 plan: $w"))
  }

  test("o1 compiles to TakeOrderedAndProject (no global sort)") {
    val plan = SparkEntry.queries("o1_sort_limit")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("t4 prunes columns at the scan (no full-width read)") {
    val plan = SparkEntry.queries("t4_typed_projection")(spark, sf)
      .queryExecution.executedPlan.toString
    val scanSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scanSchema.contains("value"), s"scan reads dropped column: $scanSchema")
  }
}
