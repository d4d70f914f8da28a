package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One per-band dedup verdict for a streaming document (4 rows per doc,
  * one per simhash band); `isDup` = this band's bucket held a signature
  * within the Hamming radius. A doc is a near-dup iff ANY band votes dup
  * — all four votes for a doc land in the same micro-batch (they are
  * exploded from one input row), so per-batch aggregation is complete. */
final case class SimVote(docId: Long, simhash: Long, isDup: Boolean)

/** Deduplication operators — the public library surface. Each takes a
  * DataFrame plus column names and returns a DataFrame; the SparkEntry
  * queries are thin oracle-graded wrappers over these. Scale rationale
  * per operator in docs/DESIGN.md. Requires
  * [[graft.functions.GraftFunctions.register]] on the session (for the
  * codegen'd signature expressions). */
object Dedup {

  /** Streaming exact dedup with BOUNDED state: a duplicate is suppressed
    * only while its first occurrence is younger than the watermark delay;
    * older keys are evicted from the state store, so state size tracks
    * the event-time window instead of growing with all keys ever seen —
    * the unbounded-state concern the reference configures idle-state
    * retention for (sql-client-conf.yaml:16-17). Pair with the RocksDB
    * state store provider for large key cardinalities (see
    * StreamingWindowSpec). */
  def streamingDedupWithinWatermark(df: DataFrame, tsCol: String,
      delay: String, keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming NEAR-duplicate dedup: continuous simhash dedup of a
    * document stream. Signatures are banded exactly like the batch
    * operator ([[simhashKept]]: 4×16-bit buckets); each bucket keeps its
    * recent signatures as keyed state (`flatMapGroupsWithState`, ring-
    * bounded at `bucketCap` — state is O(buckets × cap), never O(docs)),
    * and votes dup when an incoming signature is within `maxHamming`.
    * Aggregate votes per micro-batch with [[keptFromVotes]] inside
    * `foreachBatch` (Spark disallows streaming aggregation after
    * flatMapGroupsWithState; the votes of one doc never split across
    * batches, so the batch aggregation is exact).
    *
    * Scale: state is partitioned by (band, bucket) across executors; a
    * doc shuffles as 4 narrow (key, id, sig) rows. Dropped docs' sigs
    * still enter non-matching buckets, so later arrivals dedup against
    * them — matching the batch operator's candidate-graph semantics. */
  def streamingSimhashVotes(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bucketCap: Int = 256)(
      implicit spark: SparkSession): Dataset[SimVote] = {
    import spark.implicits._
    val banded = df.select(col(idCol).cast("long").as("doc_id"),
        expr(s"simhash64(transform(array_distinct(filter(split($textCol, ' '), " +
          "x -> length(x) > 0)), t -> xxhash64(t)))").as("sim"))
      .select(col("doc_id"), col("sim"), explode(expr(
        "transform(sequence(0, 3), k -> struct(k as band, shiftright(sim, k*16) & 65535 as bucket))"))
        .as("bb"))
      .select(col("doc_id"), col("sim"),
        concat_ws(":", col("bb.band"), col("bb.bucket")).as("bkey"))
      .as[(Long, Long, String)]
    banded.groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, it: Iterator[(Long, Long, String)],
            state: GroupState[Seq[Long]]) => {
          var seen = state.getOption.getOrElse(Vector.empty)
          val out = it.map { case (docId, sim, _) =>
            val dup = seen.exists(s => java.lang.Long.bitCount(s ^ sim) <= maxHamming)
            if (!dup) seen = (seen :+ sim).takeRight(bucketCap)
            SimVote(docId, sim, dup)
          }.toVector
          state.update(seen)
          out.iterator
        })
  }

  /** Kept (non-near-dup) docs of one micro-batch of [[SimVote]]s. */
  def keptFromVotes(votes: DataFrame): DataFrame =
    votes.groupBy("docId", "simhash")
      .agg(max(col("isDup").cast("int")).as("anyDup"))
      .filter(col("anyDup") === 0)
      .select(col("docId").as("doc_id"), col("simhash"))

  /** (score desc, id asc) argmax ordering as one BIGINT (see [[keepBest]]
    * for the domain contract). */
  private def bestKey(score: Column, id: Column): Column =
    round(score * lit(1000L)).cast("long") * lit(1000000000L) - id

  /** Exact dedup groups: one row per distinct content digest with the
    * smallest surviving id and the copy count. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("kept_doc_id"), count(lit(1)).as("n_copies"))

  /** Quality-aware dedup: groups by the normalization digest (case /
    * punctuation / whitespace-insensitive — the tier between byte-exact
    * d1 and near-dup d2) and keeps the BEST member of each group by
    * `scoreCol` (ties → smallest id), instead of exactGroups' arbitrary
    * smallest-id survivor. This is the "keep the cleanest variant"
    * policy real curation uses: among reformatted copies of a page,
    * retain the longest / highest-quality one.
    *
    * Plan shape matches exactGroups — a single partial+final hash
    * aggregate on a digest key (map-side combine absorbs hot groups, no
    * window, no self-join). The argmax rides one BIGINT key,
    * `round(score·10³)·10⁹ − id`, whose order equals the lexicographic
    * (score desc, id asc) order at milli-score resolution (scores
    * closer than 5·10⁻⁴ tie → smaller id wins) whenever
    * |score| ≤ 9.2·10⁶ and 0 ≤ id < 10⁹ — a dialect-portable encoding
    * (DuckDB: `arg_max(id, key)`; struct keys aren't, which is why the
    * key is one BIGINT and not `struct(score, -id)`). Rounding, not a
    * bare long cast: truncation would collapse every fractional score
    * in (-1, 1) — the whole [0,1] quality-score family — onto 0. */
  def keepBest(df: DataFrame, idCol: String, textCol: String,
      scoreCol: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", ""), " +", " "))
    val key = bestKey(col(scoreCol), col(idCol))
    df.groupBy(md5(norm).as("norm_hash"))
      .agg(max_by(col(idCol), key).as("kept_doc_id"),
        count(lit(1)).as("n_variants"),
        max(col(scoreCol).cast("long")).as("best_score"))
  }

  /** [[keepBest]] returning the full SURVIVING ROWS (id + the
    * `carry` columns of each group's winner) instead of the group
    * summary — the form a pipeline composes with: gate → keepBestRows
    * → downstream, corpus scanned once. The winner's payload rides the
    * aggregation buffer (`max_by` of the row struct — one candidate
    * row per group per partial buffer, map-side combine absorbs dup
    * groups), so no join back against a second scan. */
  def keepBestRows(df: DataFrame, idCol: String, textCol: String,
      scoreCol: String, carry: Seq[String]): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", ""), " +", " "))
    val key = bestKey(col(scoreCol), col(idCol))
    df.groupBy(md5(norm).as("__norm_hash"))
      .agg(max_by(struct(col(idCol) +: carry.map(col): _*), key).as("__r"))
      .select(col("__r.*"))
  }

  /** Identical-token-set groups (Jaccard = 1.0 tier): canonical sorted
    * distinct-token digest. */
  def wordSetGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__w", expr(
        s"array_sort(array_distinct(filter(split($textCol, ' '), x -> length(x) > 0)))"))
      .groupBy(md5(concat_ws(" ", col("__w"))).as("set_hash"))
      .agg(min(col(idCol)).as("kept_doc_id"), count(lit(1)).as("n_members"))

  /** MinHash+LSH near-dedup: returns the KEPT ids (a doc is dropped when
    * a verified near-duplicate with a smaller id exists).
    *
    * @param shingleN   word n-gram shingle size
    * @param perms      MinHash permutations (bands * rowsPerBand)
    * @param bands      LSH bands (candidate recall knob)
    * @param threshold  verification Jaccard in tenths (9 = 0.9)
    */
  def minhashKept(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2, perms: Int = 32, bands: Int = 8,
      threshold: Int = 9): DataFrame = {
    require(perms % bands == 0, s"perms ($perms) must divide into bands ($bands)")
    require(threshold >= 1 && threshold <= 10, "threshold is in tenths (1..10)")
    val rows = perms / bands
    val base = df.select(col(idCol).as("doc_id"),
      expr(s"filter(split($textCol, ' '), x -> length(x) > 0)").as("toks"))
    val sigs = base.withColumn("sig",
      expr(s"minhash_shingle(toks, $shingleN, $perms)"))
      .select("doc_id", "sig")
    val bandCols = (1 to rows)
      .map(r => s"element_at(sig, b*$rows+$r)").mkString(", ")
    // Pinned: the banding self-join below plants this relation twice —
    // unpinned, the minhash_shingle signature pass (the expensive
    // projection here) runs once per side.
    val bandsDf = Pin(sigs.select(col("doc_id"), explode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> struct(b as band, xxhash64($bandCols) as bucket))"))
      .as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket")))
    val cand = bandsDf.as("x").join(bandsDf.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    // Pinned like jaccardPairs' t: both verify sides fetch from it.
    val payload = Pin(base
      .withColumn("w", expr(
        s"array_sort(array_distinct(transform(word_ngrams(toks, $shingleN), " +
          "x -> xxhash64(x))))"))
      .withColumn("nw", size(col("w")).cast("bigint"))
      .select("doc_id", "w", "nw"))
    // Verification fetches payloads by id through SHUFFLE equi-joins: at
    // corpus scale the payload relation IS the corpus (every doc's shingle
    // set), so broadcasting it would OOM the driver at broadcast build.
    // Candidates are the small side after banding — shuffle-hash keeps the
    // big side streamed and unsorted. Shingles travel as sorted 64-bit
    // hashes; the exact-Jaccard check is a codegen sorted-merge count.
    val verified = cand
      .join(payload.as("pa").hint("shuffle_hash"), col("id_a") === col("pa.doc_id"))
      .join(payload.as("pb").hint("shuffle_hash"), col("id_b") === col("pb.doc_id"))
      .withColumn("inter", expr("sorted_intersect_count(pa.w, pb.w)"))
      .withColumn("uni", col("pa.nw") + col("pb.nw") - col("inter"))
      .filter(col("inter") * 10 >= col("uni") * threshold)
      .select(col("id_b")).distinct()
    df.select(col(idCol).as("doc_id"))
      .join(verified, col("doc_id") === col("id_b"), "left_anti")
  }

  /** SimHash near-dedup: kept ids + their 64-bit signature.
    * Candidates from `bandBits`-bit band buckets; Hamming <= maxHamming
    * confirms a duplicate. */
  def simhashKept(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // Pinned: the banding self-join + the final anti-join plant this
    // three times; the signature projection runs once.
    val docs = Pin(df.select(col(idCol).as("doc_id"),
        expr(s"array_distinct(filter(split($textCol, ' '), x -> length(x) > 0))").as("w"))
      .withColumn("hs", expr("transform(w, t -> xxhash64(t))"))
      .withColumn("simhash", expr("simhash64(hs)"))
      .select("doc_id", "simhash"))
    val bandsDf = docs.select(col("doc_id"), col("simhash"), explode(expr(
        "transform(sequence(0, 3), k -> struct(k as band, shiftright(simhash, k*16) & 65535 as bucket))"))
      .as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val dups = bandsDf.as("x").join(bandsDf.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(expr(s"bit_count(x.simhash ^ y.simhash) <= $maxHamming"))
      .select(col("y.doc_id").as("dup_id")).distinct()
    docs.join(dups, col("doc_id") === col("dup_id"), "left_anti")
      .select("doc_id", "simhash")
  }

  /** Duplicate clustering: connected components over an undirected
    * similar-pair graph (e.g. [[jaccardPairs]] output) by min-label
    * propagation — every node ends up labeled with the smallest doc id
    * reachable from it, so "keep one per cluster" = keep rows where
    * doc_id = cluster_id. Returns (doc_id, cluster_id) for every node
    * with at least one edge.
    *
    * Iterative: each round joins labels across edges and takes the
    * neighborhood minimum, converging in O(component diameter) rounds
    * (dup clusters are shallow — near-dup graphs converge in a handful).
    * Labels are pinned ([[Pin]]) per round to truncate lineage (the
    * label table is O(nodes in the dup graph), the standard iterative-
    * graph trade also made by k-means/GraphX); the convergence probe is
    * an aggregate count, not a data collect. */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50): DataFrame = {
    // Edges partitioned ONCE on the lookup key: every iteration's join
    // exchanges only the (small, freshly-aggregated) label side.
    // Symmetrize by exploding each pair into both directions rather than
    // unioning two selects over `pairs` — a union would plant the (often
    // expensive — e.g. a jaccardPairs verify join) upstream plan twice,
    // and Spark does not dedupe common subtrees.
    val sym = Pin(pairs
      .select(explode(array(
        struct(col(aCol).as("a"), col(bCol).as("b")),
        struct(col(bCol).as("a"), col(aCol).as("b"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .repartition(col("b")))
    // Seed labels with min(node, min neighbor) — the same aggregation a
    // plain distinct() would cost, but it folds the first propagation
    // round into initialization (one fewer iteration of the loop's
    // join+jump choreography). The seed's Σ lbl probe rides the
    // pin job itself ([[Pin.observed]]), as does every round's below:
    // one driver-scheduled job per round, probe included.
    val lblSumMetric =
      sum(col("lbl").cast("decimal(38,0)"))
    var (labels, seedSum) = Pin.observed(
      sym.groupBy(col("a").as("node"))
        .agg(least(col("a"), min(col("b"))).as("lbl")),
      lblSumMetric)
    // This loop both multiplies (edge join) and squares (the jump
    // self-join) its size estimate; each round's pin resets it to the
    // size measured ([[Pin]]), so the estimate never compounds.
    // Each round folds the edge relax AND the pointer jump into ONE
    // min-aggregate by treating the jump as an extra edge set: the
    // label graph lbl(v) → v contributes lbl(lbl(v)) to v exactly like
    // an in-neighbor contributes its label. Soundness: labels are
    // monotone non-increasing and lbl(u) ≤ u, so with u = lbl(v),
    // lbl(lbl(v)) ≤ lbl(v) — the aggregate can only keep or lower a
    // label, and every v owns a jump edge, so the aggregate is total
    // (no left-join back onto labels needed). This halves the round's
    // exchange count versus the former relax-join → left-join →
    // self-join chain (one pin per round instead of two, and no
    // join-shaped convergence probe — see below). Under AQE each
    // exchange materializes as its own driver-scheduled job, and on an
    // iterative operator those per-round barriers ARE the cost (guide
    // §1.1: scheduler delay, measured by the job counts in Bench's
    // `profile` map).
    //
    // Convergence probe without a join, a moved flag, OR its own job:
    // labels only ever decrease, so Σ lbl (exact, DECIMAL(38,0) — no
    // overflow below 10^19 rows) is strictly decreasing until fixpoint;
    // "sum unchanged" ⟺ "no label changed". The sum is observed during
    // the round's own pin ([[Pin.observed]]), so a round is ONE
    // driver-scheduled job chain with no trailing probe.
    var prevSum = Pin.asDecimal(seedSum)
    var changed = true
    var iter = 0
    while (changed && iter < maxIters) {
      val relax = sym
        .join(labels.select(col("node").as("b"), col("lbl")).hint("shuffle_hash"),
          Seq("b"))
        .select(col("a").as("node"), col("lbl"))
      val jump = labels.select(col("lbl").as("jsrc"), col("node"))
        .join(labels.select(col("node").as("jsrc"), col("lbl"))
          .hint("shuffle_hash"), Seq("jsrc"))
        .select(col("node"), col("lbl"))
      val (next, sRaw) = Pin.observed(
        relax.unionAll(jump).groupBy("node").agg(min("lbl").as("lbl")),
        lblSumMetric)
      val s = Pin.asDecimal(sRaw)
      changed = s.compareTo(prevSum) != 0
      prevSum = s
      labels = next
      iter += 1
    }
    labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Exact token-set Jaccard pairs above `threshold` tenths, blocked by
    * (strata, token-count bucket), candidates by PREFIX FILTERING:
    *
    * A pair with J ≥ t must share a token among each doc's first
    * `nw - ceil(t·nw) + 1` tokens under any common total order (the
    * prefix-filtering principle of the AllPairs/PPJoin family — with
    * uni ≥ nw, J ≥ t forces inter ≥ ceil(t·nw), and a prefix that long
    * cannot miss every shared token). Ordering tokens by ascending
    * global document frequency puts the RAREST tokens in the prefix, so
    * the inverted-index self-join fans out on low-df words only — hot
    * stopwords never generate candidates. Verification then fetches the
    * full token sets by id (shuffle equi-joins, never broadcast) and
    * computes exact inter/uni.
    *
    * Memory is bounded: per-row state is O(document tokens); nothing
    * scales with corpus-wide vocabulary (the previous formulation carried
    * a |vocab|/64-long bitmask per doc, unbounded on open-web text). */
  def jaccardPairs(df: DataFrame, idCol: String, strataCol: String,
      textCol: String, threshold: Int = 9): DataFrame = {
    // Tokens travel as 64-bit hashes from here on: the index, the window,
    // the joins, and the verification intersect all run on fixed-width
    // longs instead of strings (distinct-token hashing keeps inter/uni
    // exact — the token sets are what is intersected, and xxhash64 is
    // injective for any realistic vocabulary).
    // Tokenized once, pinned: this relation feeds the inverted index,
    // the document-frequency aggregate, BOTH payload sides of the
    // verify join, and the empty-doc tier — six plan plants without the
    // pin (Spark does not dedupe common subtrees), i.e. six
    // split/hash/sort tokenization passes over the corpus per run.
    // O(corpus tokens) storage for a 6× scan/compute saving is the same
    // trade the candidate relation in [[Density.dbscan2D]] makes.
    val t = Pin(df.select(col(idCol).as("doc_id"), col(strataCol).as("lang"),
        expr(s"array_sort(array_distinct(transform(filter(split($textCol, ' '), " +
          "x -> length(x) > 0), x -> xxhash64(x))))").as("w"))
      .withColumn("nw", size(col("w")).cast("bigint"))
      .withColumn("bucket", floor(col("nw") / 8).cast("bigint")))
    val tokens = t.select(col("doc_id"), col("lang"), col("bucket"),
      col("nw"), explode(col("w")).as("word"))
    val freq = tokens.groupBy("word").agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("word"))
    // Pinned: the candidate SELF-join below would otherwise plant (and
    // run) the df-join + per-doc rarity window twice, once per side.
    val prefixes = Pin(tokens.join(freq, "word")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <=
        col("nw") - ceil(col("nw") * threshold / lit(10.0)) + 1)
      .select("doc_id", "lang", "bucket", "word"))
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a.lang") === col("b.lang") && col("a.bucket") === col("b.bucket") &&
          col("a.word") === col("b.word") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"))
      .distinct()
    val payload = t.select(col("doc_id"), col("w"), col("nw"))
    val pairs = cand
      .join(payload.as("pa").hint("shuffle_hash"),
        col("doc_id_a") === col("pa.doc_id"))
      .join(payload.as("pb").hint("shuffle_hash"),
        col("doc_id_b") === col("pb.doc_id"))
      // sorted-merge intersect (codegen, allocation-free): the verify
      // kernel runs once per candidate pair — the hot loop of the op
      .withColumn("inter", expr("sorted_intersect_count(pa.w, pb.w)"))
      .withColumn("uni", col("pa.nw") + col("pb.nw") - col("inter"))
      .filter(col("inter") * 10 >= col("uni") * threshold)
      .select(col("doc_id_a"), col("doc_id_b"), col("inter"), col("uni"))
    // Zero-token docs never enter the index; a pair of them is an exact
    // duplicate (inter = uni = 0 satisfies any threshold), kept for parity
    // with the all-pairs-in-block semantics.
    val empties = t.filter(col("nw") === 0).select("doc_id", "lang")
    val emptyPairs = empties.as("a").join(empties.as("b"),
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"),
        lit(0L).as("inter"), lit(0L).as("uni"))
    pairs.unionByName(emptyPairs)
  }

  /** Cross-corpus dedup — the incremental-crawl shape: flag each
    * `incoming` doc that already exists in `reference`, EXACTLY
    * (identical text — content-digest semi-join, no text comparison) or
    * NEARLY (token-set Jaccard ≥ threshold/10 against any same-stratum,
    * same-size-bucket reference doc — the continual-pretraining "have we
    * already trained on this" gate). Emits one row per incoming doc:
    * (doc_id, exact_dup, n_near, near_dup).
    *
    * Near-tier semantics mirror [[jaccardPairs]] (blocking by (strata,
    * token-count bucket) is part of the contract; an oracle replicates
    * it): candidates come from the same PREFIX-FILTERING construction,
    * but the inverted-index join is STRICTLY incoming × reference — the
    * reference side is never self-joined, so a small crawl against a
    * 100 TB reference costs candidates proportional to the CRAWL.
    * Token df for the shared prefix order is computed over the union of
    * both corpora (any common total order preserves the no-miss
    * guarantee; rarity-ordering is the fan-out optimization). Zero-token
    * incoming docs near-match zero-token same-stratum reference docs
    * (inter = uni = 0), as in [[jaccardPairs]].
    *
    * Scale shape: digests and 64-bit token hashes on every exchange —
    * never text; payload fetch by id via shuffle-hash joins; per-doc
    * near counts by hash aggregation. */
  def crossDedup(incoming: DataFrame, reference: DataFrame, idCol: String,
      strataCol: String, textCol: String, threshold: Int = 9): DataFrame = {
    require(threshold >= 1 && threshold <= 10,
      s"crossDedup: threshold in tenths must be in [1, 10], got $threshold")
    // Pinned like [[jaccardPairs]]' t: each side feeds the digest tier,
    // the df aggregate, the inverted index, a payload join side, and
    // the empty-doc tier — five tokenization plants per side without
    // the pin.
    def prep(df: DataFrame) = Pin(df.select(col(idCol).as("doc_id"),
        col(strataCol).as("lang"), md5(col(textCol)).as("digest"),
        expr(s"array_sort(array_distinct(transform(filter(split($textCol, ' '), " +
          "x -> length(x) > 0), x -> xxhash64(x))))").as("w"))
      .withColumn("nw", size(col("w")).cast("bigint"))
      .withColumn("bucket", floor(col("nw") / 8).cast("bigint")))
    val inc = prep(incoming)
    val ref = prep(reference)
    val exact = inc.select("doc_id", "digest")
      .join(ref.select("digest").distinct(), Seq("digest"), "left_semi")
      .select(col("doc_id"), lit(true).as("exact_dup"))
    def tokens(t: DataFrame) = t.select(col("doc_id"), col("lang"),
      col("bucket"), col("nw"), explode(col("w")).as("word"))
    val freq = tokens(inc).select("word").unionAll(tokens(ref).select("word"))
      .groupBy("word").agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("word"))
    def prefixes(t: DataFrame) = tokens(t).join(freq, "word")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <=
        col("nw") - ceil(col("nw") * threshold / lit(10.0)) + 1)
      .select("doc_id", "lang", "bucket", "word")
    val cand = prefixes(inc).as("a").join(prefixes(ref).as("b"),
        col("a.lang") === col("b.lang") && col("a.bucket") === col("b.bucket") &&
          col("a.word") === col("b.word"))
      .select(col("a.doc_id").as("inc_id"), col("b.doc_id").as("ref_id"))
      .distinct()
    val near = cand
      .join(inc.select(col("doc_id").as("inc_id"), col("w").as("wa"),
        col("nw").as("na")).hint("shuffle_hash"), Seq("inc_id"))
      .join(ref.select(col("doc_id").as("ref_id"), col("w").as("wb"),
        col("nw").as("nb")).hint("shuffle_hash"), Seq("ref_id"))
      .withColumn("inter", expr("sorted_intersect_count(wa, wb)"))
      .filter(col("inter") * 10 >= (col("na") + col("nb") - col("inter"))
        * threshold)
      .groupBy("inc_id").agg(count(lit(1)).as("n_near"))
    val emptyNear = inc.filter(col("nw") === 0).select("doc_id", "lang")
      .join(ref.filter(col("nw") === 0)
        .groupBy("lang").agg(count(lit(1)).as("n_near")), Seq("lang"))
      .select(col("doc_id").as("inc_id"), col("n_near"))
    val nearAll = near.unionByName(emptyNear)
    inc.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(nearAll.select(col("inc_id").as("doc_id"), col("n_near")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        (coalesce(col("n_near"), lit(0L)) > 0).as("near_dup"))
  }

  /** Containment join — the ASYMMETRIC near-dup: probe doc A is
    * "contained" in corpus doc B when |A∩B| ≥ (threshold/10)·|A| over
    * distinct token sets. Jaccard misses this family by construction
    * (a quote inside a 100× longer page has tiny Jaccard but full
    * containment) — it is how quote-inclusion, boilerplate embedding,
    * and excerpt plagiarism are actually found.
    *
    * Blocking: prefix filtering applies ONLY to the probe side (A's
    * |A|−⌈t·|A|/10⌉+1 rarest tokens must overlap any container), while
    * the container side indexes ALL its tokens — inherent to
    * containment, which places no upper bound on |B|; the size guard
    * |B| ≥ ⌈t·|A|/10⌉ prunes candidates before the verify. Candidates
    * are (probe-prefix × posting list) equi-join rows; payloads (the
    * sorted token-hash arrays) are fetched by id afterwards and
    * verified with the codegen sorted-merge intersect. Probes scale
    * the cost: checking a small batch against a 100 TB corpus costs
    * the batch's postings, never corpus×corpus. Emits one row per
    * ordered contained pair (doc_id_a, doc_id_b, inter, nw_a).
    * Zero-token probes are excluded (vacuous containment). */
  def containedIn(probes: DataFrame, corpus: DataFrame, idCol: String,
      strataCol: String, textCol: String, threshold: Int = 9): DataFrame = {
    require(threshold >= 1 && threshold <= 10,
      s"containedIn: threshold must be in [1, 10] tenths, got $threshold")
    def tokenSets(df: DataFrame) =
      df.select(col(idCol).as("doc_id"), col(strataCol).as("lang"),
          expr(s"array_sort(array_distinct(transform(filter(split($textCol, ' '), " +
            "x -> length(x) > 0), x -> xxhash64(x))))").as("w"))
        .withColumn("nw", size(col("w")).cast("bigint"))
        .filter(col("nw") > 0)
    val pa = tokenSets(probes)
    val pb = tokenSets(corpus)
    val corpusTokens = pb.select(col("doc_id"), col("lang"), col("nw"),
      explode(col("w")).as("word"))
    // rarity order from the CORPUS df — the side whose postings the
    // prefix tokens probe
    val freq = corpusTokens.groupBy("word").agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("word"))
    val probePrefix = pa
      .select(col("doc_id"), col("lang"), col("nw"), explode(col("w")).as("word"))
      .join(freq, Seq("word"), "left") // probe-only tokens: df null →
      .na.fill(0L, Seq("df"))          // rarest, harmless (no postings)
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <=
        col("nw") - ceil(col("nw") * threshold / lit(10.0)) + 1)
      .select(col("doc_id").as("a"), col("lang"), col("nw").as("nwa"),
        col("word"))
    val cand = probePrefix.join(
        corpusTokens.select(col("doc_id").as("b"), col("lang"),
          col("nw").as("nwb"), col("word")),
        Seq("lang", "word"))
      .filter(col("a") =!= col("b") &&
        col("nwb") * 10 >= col("nwa") * threshold)
      .select("a", "b").distinct()
    cand
      .join(pa.select(col("doc_id").as("a"), col("w").as("wa"),
        col("nw").as("nw_a")).hint("shuffle_hash"), Seq("a"))
      .join(pb.select(col("doc_id").as("b"), col("w").as("wb"))
        .hint("shuffle_hash"), Seq("b"))
      .withColumn("inter", expr("sorted_intersect_count(wa, wb)"))
      .filter(col("inter") * 10 >= col("nw_a") * threshold)
      .select(col("a").as("doc_id_a"), col("b").as("doc_id_b"),
        col("inter"), col("nw_a"))
  }
}
