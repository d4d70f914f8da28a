package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, GraphOps, Layout, Pin, Privacy, Profile, PublicSuffix, Similarity, Stats, TextOps, Tokenizer, WebOps}

/** LLM-training-data pipeline operators (BASELINE.json north_star; SURVEY §7.5
  * item 5) — thin oracle-graded wrappers over the public library surface in
  * `graft.ops` (Dedup / Similarity / TextOps / Multimodal / SkewJoin).
  *
  * Scale design (100 TB) in docs/DESIGN.md: every candidate-generation step
  * is an equi-join on a small derived key (band bucket, length bucket, LSH
  * signature) — never an unblocked cross join; verification joins fetch
  * payloads by id afterwards, so wide columns are not shuffled through
  * candidate generation. Hash-based signatures use xxhash64 (codegen'd,
  * seed-stable); queries whose oracle must be DuckDB-reproducible stick to
  * md5/sha-based or hash-free logic.
  */
object PipelineOps {

  /** [[QueryDef.views]] for the SQL-catalog entries: `f` gets a run's
    * session carrying the graft catalog `catalog` over the run's own
    * warehouse, and that warehouse's path. */
  private def catalogEntry(name: String, catalog: String, oracle: String)(
      f: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)
      : QueryDef =
    QueryDef.views(name, oracle) { spark =>
      StreamRun(spark, name.takeWhile(_ != '_')) { run =>
        f(run.catalogSession(catalog), run.path("wh"))
      }
    }

  /** qc1's trained classifier: micro-unit coefficients over the corpus
    * vocabulary (positive = quality evidence). ONE definition feeds both
    * the Spark map literal and the oracle's VALUES list — parity by
    * construction. Deterministic order (Seq, not Map iteration). */
  private val qcModel: Seq[(String, Long)] = Seq(
    "query" -> 180000L, "fast" -> 150000L, "vector" -> 120000L,
    "merge" -> 90000L, "sort" -> 60000L, "spark" -> 40000L,
    "slow" -> -140000L, "scan" -> -110000L, "batch" -> -70000L,
    "the" -> -20000L, "dup" -> -250000L)
  private val qcBias = 50000L
  private val qcThreshold = 200000L

  /** wp1's oracle — shared verbatim by st16, the streaming run of the
    * same five-op crawl pipeline: identical expected output is exactly
    * the claim (stateless curation ops lift onto micro-batches
    * unchanged). */
  private def wpOracleSql: String =
    s"""WITH w(term, wt) AS (VALUES
      |    ${qcModel.map { case (t, w) => s"('$t', ${w}::BIGINT)" }
          .mkString(",\n    ")}),
      |  t AS (SELECT doc_id,
      |          unnest(list_filter(string_split(text, ' '),
      |            x -> len(x) > 0)) AS tok
      |        FROM documents),
      |  ev AS (SELECT t.doc_id, CAST(sum(w.wt) AS BIGINT) AS evid
      |         FROM t JOIN w ON t.tok = w.term GROUP BY t.doc_id),
      |  b AS (SELECT d.doc_id,
      |    CASE WHEN d.doc_id % 4 = 0 THEN 'blocked.example'
      |         ELSE d.source || '.example.com' END AS host,
      |    CAST($qcBias + coalesce(ev.evid, 0) AS BIGINT) AS score_micro
      |  FROM documents d LEFT JOIN ev ON d.doc_id = ev.doc_id)
      |SELECT doc_id, host, true AS warc_ok,
      |  host != 'blocked.example' AS url_ok, score_micro,
      |  score_micro >= $qcThreshold AS keep
      |FROM b ORDER BY doc_id""".stripMargin

  /** qc2's training hyperparameters — ONE definition feeds the Spark
    * trainer and the oracle generator below. Label: lang = 'en' (the
    * weak-supervision bootstrap — distill the tag into a classifier). */
  private val qc2Vocab = Seq("group", "hash", "scan", "customer",
    "slow", "query", "merge", "vector")
  private val qc2Iters = 3
  private val (qc2LrNum, qc2LrDen) = (1L, 2L)
  /** Gate operating point on the logit axis — tuned, like every
    * production quality gate (p >= 1/2 is degenerate under the corpus'
    * class imbalance + weak per-term signal). */
  private val qc2ThresholdMicro = -300000L

  /** Unrolled-CTE oracle for qc2: DuckDB replays the EXACT training
    * computation — presence features, per-iteration sigmoid/gradient/
    * update, final scoring — iteration k's weights are a one-row CTE
    * crossed into iteration k+1. Integer throughout except the shared
    * rounded sigmoid; `//` truncates toward zero exactly like the
    * trainer's Long division. */
  private def qc2OracleSql: String = {
    val js = qc2Vocab.indices
    def sig(z: String) =
      s"CAST(round(CAST(1000000 AS DOUBLE) / (CAST(1 AS DOUBLE) + " +
        s"exp(CAST($z AS DOUBLE) / CAST(-1000000 AS DOUBLE)))) AS BIGINT)"
    def zOf(w: String) =
      (s"$w.w_b" +: js.map(j => s"$w.w$j * f.x$j")).mkString(" + ")
    val xCols = qc2Vocab.zipWithIndex.map { case (t, j) =>
      s"CAST(list_contains(string_split(text, ' '), '$t') AS BIGINT) AS x$j"
    }.mkString(",\n           ")
    val w0 = ("CAST(0 AS BIGINT) AS w_b" +:
      js.map(j => s"CAST(0 AS BIGINT) AS w$j")).mkString(", ")
    val iterCtes = (1 to qc2Iters).map { k =>
      val pw = s"w${k - 1}"
      val gSums = ("CAST(sum(p - y * 1000000) AS BIGINT) AS gb" +:
        js.map(j => s"CAST(sum((p - y * 1000000) * x$j) AS BIGINT) AS g$j"))
        .mkString(",\n           ")
      val wUpd = (s"$pw.w_b - ($qc2LrNum * g$k.gb) // ($qc2LrDen * nn.n) AS w_b" +:
        js.map(j =>
          s"$pw.w$j - ($qc2LrNum * g$k.g$j) // ($qc2LrDen * nn.n) AS w$j"))
        .mkString(",\n           ")
      s"""  s$k AS (SELECT f.*, ${zOf(pw)} AS z FROM f CROSS JOIN $pw),
         |  p$k AS (SELECT *, ${sig("z")} AS p FROM s$k),
         |  g$k AS (SELECT $gSums
         |          FROM p$k),
         |  w$k AS (SELECT $wUpd
         |          FROM $pw CROSS JOIN g$k CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH f AS (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS y,
       |           $xCols
       |           FROM documents),
       |  nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
       |  w0 AS (SELECT $w0),
       |$iterCtes,
       |  fin AS (SELECT f.doc_id, ${zOf(s"w$qc2Iters")} AS z
       |          FROM f CROSS JOIN w$qc2Iters)
       |SELECT doc_id, z AS z_micro, ${sig("z")} AS p_micro,
       |       z >= CAST($qc2ThresholdMicro AS BIGINT) AS keep
       |FROM fin ORDER BY doc_id""".stripMargin
  }

  /** qc3's oracle: the same unrolled training, but the gate's operating
    * point comes from the logit DISTRIBUTION (percentile_disc — stays
    * in exact BIGINTs, no interpolation) instead of a fixed constant. */
  private def qc3OracleSql: String = {
    val trainPrefix = qc2OracleSql.split("\nSELECT doc_id, z AS z_micro")(0)
    s"""$trainPrefix,
       |  thr AS (SELECT percentile_disc(${qc3Quantile}) WITHIN GROUP
       |            (ORDER BY z) AS t
       |          FROM fin)
       |SELECT fin.doc_id, fin.z AS z_micro,
       |       fin.z >= thr.t AS keep,
       |       CAST(thr.t AS BIGINT) AS threshold_micro
       |FROM fin CROSS JOIN thr ORDER BY doc_id""".stripMargin
  }
  private val qc3Quantile = "0.37"

  /** Shared CTE for the evaluation entries (au1/au2): qc1's model
    * scores every document (same VALUES-list scoring as qc1's oracle)
    * and the qc2 weak label rides along — `sc(doc_id, s, y)`. */
  private def qcScoredCte: String =
    s"""WITH w(term, wt) AS (VALUES
       |    ${qcModel.map { case (t, w) => s"('$t', ${w}::BIGINT)" }
              .mkString(",\n    ")}),
       |  t AS (SELECT doc_id,
       |          unnest(list_filter(string_split(text, ' '),
       |            x -> len(x) > 0)) AS tok
       |        FROM documents),
       |  ev AS (SELECT t.doc_id, CAST(sum(w.wt) AS BIGINT) AS evid
       |         FROM t JOIN w ON t.tok = w.term GROUP BY t.doc_id),
       |  sc AS (SELECT d.doc_id,
       |           CAST($qcBias + coalesce(ev.evid, 0) AS BIGINT) AS s,
       |           CAST(d.lang = 'en' AS BIGINT) AS y
       |         FROM documents d LEFT JOIN ev ON d.doc_id = ev.doc_id)""".stripMargin

  /** km1's oracle: DuckDB replays the EXACT integer k-means the operator
    * runs ([[graft.ops.Similarity.kmeansAssign]]) — micro-unit
    * quantization, then `iters` unrolled assign/recenter rounds, then
    * the final assignment. Assignment argmin uses (distance, cluster)
    * ordering (ties to the smaller id, mirroring the struct-min);
    * recenter floors sum/count via the sign-safe positive-mod identity,
    * matching `(s - pmod(s, n)) div n` exactly. */
  private def km1Ctes(k: Int, iters: Int): String = {
    // argmin assignment of every vector against centroid CTE `c`
    def assignCte(a: String, c: String) =
      s"""  $a AS (SELECT vec_id, cluster FROM (
         |    SELECT i.vec_id, c.cluster,
         |           row_number() OVER (PARTITION BY i.vec_id ORDER BY
         |             list_sum(list_transform(range(1, len(i.v) + 1),
         |               j -> (i.v[j] - c.cv[j]) * (i.v[j] - c.cv[j]))) ASC,
         |             c.cluster ASC) AS rn
         |    FROM iv i CROSS JOIN $c c) WHERE rn = 1)""".stripMargin
    // floored integer mean per (cluster, dim), reassembled in dim order
    def recenterCte(c: String, a: String) =
      s"""  $c AS (SELECT cluster, list(m ORDER BY dim) AS cv FROM (
         |    SELECT a.cluster, t.dim,
         |           (sum(i.v[t.dim]) - ((sum(i.v[t.dim]) % count(*)) + count(*)) % count(*))
         |             // count(*) AS m
         |    FROM $a a JOIN iv i USING (vec_id),
         |         UNNEST(generate_series(1, len(i.v))) AS t(dim)
         |    GROUP BY a.cluster, t.dim) GROUP BY cluster)""".stripMargin
    val rounds = (1 to iters).flatMap(r =>
      Seq(assignCte(s"a${r - 1}", s"c${r - 1}"), recenterCte(s"c$r", s"a${r - 1}")))
    (Seq(
      s"""iv AS (SELECT vec_id, list_transform(embedding,
         |            x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         |        FROM embeddings)""".stripMargin,
      s"""  c0 AS (SELECT CAST(vec_id AS INT) AS cluster, v AS cv
         |         FROM iv WHERE vec_id < $k)""".stripMargin) ++
      rounds :+ assignCte("fin", s"c$iters")).mkString(",\n")
  }

  private def km1OracleSql(k: Int, iters: Int): String =
    s"""WITH ${km1Ctes(k, iters)}
       |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster
       |FROM fin ORDER BY vec_id""".stripMargin

  /** rp1's projection matrix: 8 output components × 64 input dims, every
    * entry k/16 with k ∈ [-9, 9] — exact in binary FP AND in the oracle's
    * 4-decimal literal, so the only doubles in the chain are the shared
    * sequential dot-product fold both engines run identically. */
  private val rpMatrix: Seq[Seq[Double]] = Seq.tabulate(8)(j =>
    Seq.tabulate(64)(i => (((7 * j + 11 * i + 3) % 19) - 9) / 16.0))

  private def rpMatrixSql: String = rpMatrix.zipWithIndex.map {
    case (row, j) => s"($j, [${row.mkString(", ")}]::DOUBLE[])"
  }.mkString(",\n        ")

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup: hash-groupBy on content digest, keep smallest doc_id.
    QueryDef.views("d1_dedup_exact",
      """SELECT md5(text) AS content_hash, min(doc_id) AS kept_doc_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY kept_doc_id""".stripMargin) { spark =>
      Dedup.exactGroups(spark.table("documents"), "doc_id", "text")
        .orderBy("kept_doc_id")
    },

    // MinHash + LSH near-dedup over word-bigram shingles; kept docs.
    // No DuckDB oracle (xxhash64 not available there) → rows-only check.
    QueryDef("d2_dedup_minhash", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      Dedup.minhashKept(spark.table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, None),

    // SimHash near-dedup (Hamming <= 3 in 16-bit bands). Rows-only.
    QueryDef("d3_dedup_simhash", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      Dedup.simhashKept(spark.table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, None),

    // N-gram (word-set) Jaccard dedup candidates with integer-only output
    // (inter/uni sizes — exact on both engines).
    QueryDef.views("d4_ngram_jaccard",
      """WITH t AS (SELECT doc_id, lang,
        |             list_distinct(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS w
        |           FROM documents),
        |     tt AS (SELECT doc_id, lang, w, CAST(len(w) AS BIGINT) AS nw,
        |                   CAST(floor(len(w) / 8) AS BIGINT) AS bucket FROM t)
        |SELECT doc_id_a, doc_id_b, inter, uni FROM (
        |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |         CAST(len(list_intersect(a.w, b.w)) AS BIGINT) AS inter,
        |         a.nw + b.nw - CAST(len(list_intersect(a.w, b.w)) AS BIGINT) AS uni
        |  FROM tt a JOIN tt b
        |    ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        |WHERE inter * 10 >= uni * 9
        |ORDER BY doc_id_a, doc_id_b""".stripMargin) { spark =>
      Dedup.jaccardPairs(spark.table("documents"), "doc_id", "lang", "text")
        .orderBy("doc_id_a", "doc_id_b")
    },

    // Duplicate clustering: connected components over the exact-Jaccard
    // pair graph (min-reachable-id labels). Oracle = recursive CTE over
    // the identical edge set — DuckDB walks the graph, Spark label-
    // propagates; both must land on the same component minima.
    QueryDef.views("cc1_dup_clusters",
      """WITH RECURSIVE
        |  t AS (SELECT doc_id, lang,
        |          list_distinct(list_filter(string_split(text, ' '),
        |                                    x -> len(x) > 0)) AS w
        |        FROM documents),
        |  tt AS (SELECT doc_id, lang, w, CAST(len(w) AS BIGINT) AS nw,
        |           CAST(floor(len(w) / 8) AS BIGINT) AS bucket FROM t),
        |  p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |          CAST(len(list_intersect(a.w, b.w)) AS BIGINT) AS inter,
        |          a.nw + b.nw AS s
        |        FROM tt a JOIN tt b ON a.lang = b.lang
        |          AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |  pairs AS (SELECT da, db FROM p WHERE inter * 10 >= (s - inter) * 9),
        |  edges AS (SELECT da AS a, db AS b FROM pairs
        |            UNION SELECT db, da FROM pairs),
        |  walk(node, lbl) AS (
        |    SELECT a, a FROM (SELECT DISTINCT a FROM edges) base
        |    UNION
        |    SELECT e.a, w2.lbl FROM edges e JOIN walk w2 ON e.b = w2.node)
        |SELECT node AS doc_id, min(lbl) AS cluster_id
        |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin) { spark =>
      val pairs = Dedup.jaccardPairs(spark.table("documents"),
        "doc_id", "lang", "text")
      Dedup.dupClusters(pairs, "doc_id_a", "doc_id_b")
        .orderBy("doc_id")
    },

    // Cross-corpus dedup ([[graft.ops.Dedup.crossDedup]]) — the
    // incremental-crawl gate: odd-id docs (the "new crawl") flagged
    // against even-id docs (the "already-trained reference"), exact by
    // content digest and near by same-(lang, size-bucket) token-set
    // Jaccard >= 0.9. The oracle replicates the blocking contract and
    // the empty-doc rule on raw tokens (the Spark side intersects
    // xxhash64 token sets — injective on any realistic vocabulary, same
    // argument d4 grades under).
    // Containment join ([[graft.ops.Dedup.containedIn]]): the
    // asymmetric near-dup Jaccard misses by construction — a probe doc
    // ≥90%-token-contained in a (possibly much longer) corpus doc.
    // Probes = every 20th doc; output is the per-probe audit (container
    // count + smallest container id, 0/-1 when free), so the entry is
    // non-empty at every SF regardless of hit density. The oracle
    // brute-forces probe × same-lang corpus with list_intersect over
    // raw token strings — a different enumeration AND a different
    // token representation (Spark intersects sorted xxhash64 sets)
    // agreeing exactly.
    QueryDef.views("ct1_containment",
      """WITH t AS (SELECT doc_id, lang,
        |             list_sort(list_distinct(list_filter(
        |               string_split(text, ' '), x -> len(x) > 0))) AS s
        |           FROM documents),
        |     g AS (SELECT doc_id, lang, s, CAST(len(s) AS BIGINT) AS ns
        |           FROM t WHERE len(s) > 0),
        |     p AS (SELECT * FROM g WHERE doc_id % 20 = 0),
        |     hits AS (SELECT p.doc_id AS a, g.doc_id AS b
        |              FROM p JOIN g ON p.lang = g.lang
        |                AND g.doc_id <> p.doc_id
        |              WHERE CAST(len(list_intersect(p.s, g.s)) AS BIGINT) * 10
        |                    >= p.ns * 9),
        |     agg AS (SELECT a, count(*) AS n, min(b) AS mn
        |             FROM hits GROUP BY a)
        |SELECT p.doc_id AS doc_id,
        |       CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_containers,
        |       CAST(COALESCE(agg.mn, -1) AS BIGINT) AS best_container
        |FROM p LEFT JOIN agg ON p.doc_id = agg.a
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val probes = docs.filter(col("doc_id") % 20 === 0)
      val pairs = Dedup.containedIn(probes, docs, "doc_id", "lang", "text",
        threshold = 9)
      val agg = pairs.groupBy(col("doc_id_a").as("doc_id"))
        .agg(count(lit(1)).as("n"), min(col("doc_id_b")).as("mn"))
      // probe census mirrors the op's zero-token exclusion
      probes
        .filter(size(expr("filter(split(text, ' '), x -> length(x) > 0)")) > 0)
        .select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).as("n_containers"),
          coalesce(col("mn"), lit(-1L)).as("best_container"))
        .orderBy("doc_id")
    },

    QueryDef.views("xd1_cross_dedup",
      """WITH inc AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
        |     ref AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
        |     it AS (SELECT doc_id, lang,
        |              list_sort(list_distinct(list_filter(string_split(text, ' '),
        |                x -> len(x) > 0))) AS w
        |            FROM inc),
        |     rt AS (SELECT doc_id, lang,
        |              list_sort(list_distinct(list_filter(string_split(text, ' '),
        |                x -> len(x) > 0))) AS w
        |            FROM ref),
        |     itb AS (SELECT doc_id, lang, w, CAST(len(w) AS BIGINT) AS nw,
        |               CAST(len(w) // 8 AS BIGINT) AS bucket FROM it),
        |     rtb AS (SELECT doc_id, lang, w, CAST(len(w) AS BIGINT) AS nw,
        |               CAST(len(w) // 8 AS BIGINT) AS bucket FROM rt),
        |     nearm AS (SELECT i.doc_id, count(*) AS n_near
        |               FROM itb i JOIN rtb r
        |                 ON i.lang = r.lang AND i.bucket = r.bucket
        |                 AND CAST(len(list_intersect(i.w, r.w)) AS BIGINT) * 10
        |                     >= (i.nw + r.nw
        |                         - CAST(len(list_intersect(i.w, r.w)) AS BIGINT)) * 9
        |               GROUP BY 1)
        |SELECT inc.doc_id,
        |  inc.doc_id IN (SELECT i2.doc_id FROM inc i2
        |                 WHERE md5(i2.text) IN (SELECT md5(text) FROM ref))
        |    AS exact_dup,
        |  COALESCE(nearm.n_near, 0) AS n_near,
        |  COALESCE(nearm.n_near, 0) > 0 AS near_dup
        |FROM inc LEFT JOIN nearm ON inc.doc_id = nearm.doc_id
        |ORDER BY inc.doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents")
      Dedup.crossDedup(docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "lang", "text")
        .orderBy("doc_id")
    },

    // Word-set dedup groups (Jaccard = 1.0 tier).
    QueryDef.views("d5_wordset_dedup",
      """SELECT md5(array_to_string(list_sort(list_distinct(
        |         list_filter(string_split(text, ' '), x -> len(x) > 0))), ' ')) AS set_hash,
        |       min(doc_id) AS kept_doc_id, count(*) AS n_members
        |FROM documents GROUP BY 1 ORDER BY kept_doc_id""".stripMargin) { spark =>
      Dedup.wordSetGroups(spark.table("documents"), "doc_id", "text")
        .orderBy("kept_doc_id")
    },

    // Embedding-cosine nearest neighbor per vector + near-dup flag —
    // graded via the EXACT path (the oracle is all-pairs); the library
    // default nearestNeighbors(blocked = true) is the scale path, pinned
    // by OpsApiSpec's recall test against this baseline.
    QueryDef.views("e1_embed_nn",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |     en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |     p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nn,
        |                  list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cs
        |           FROM en a JOIN en b ON a.vec_id != b.vec_id),
        |     r AS (SELECT vec_id, nn, cs, row_number() OVER
        |             (PARTITION BY vec_id ORDER BY cs DESC, nn) AS rn FROM p)
        |SELECT vec_id, nn AS nn_id, CAST(round(cs * 10000) AS BIGINT) AS sim_bp,
        |       cs >= 0.4 AS near_dup
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin) { spark =>
      Similarity.bruteNearestNeighbors(spark.table("embeddings"), "vec_id", "embedding")
        .orderBy("vec_id")
    },

    // Embedding near-dup clustering (SemDeDup shape): connected
    // components over the cosine >= 0.4 pair graph. Graded via the exact
    // pair set (the oracle is all-pairs + a recursive CTE); the library
    // default cosinePairs(blocked = true) is the scale path, recall
    // spec-pinned in OpsApiSpec.
    QueryDef.views("ec1_embed_dup_clusters",
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
        |SELECT node AS vec_id, min(lbl) AS cluster_id
        |FROM walk GROUP BY node ORDER BY vec_id""".stripMargin) { spark =>
      // exact pair set + clustering ride the session-scoped
      // GradeFixtures cache shared with e1x/ec1x — the O(n²) diagnostic
      // runs once per verify/bench run, not once per consumer query
      GradeFixtures.exactClusters(spark).orderBy("vec_id")
    },

    // Brute-force cosine top-k ANN baseline (broadcast query side).
    QueryDef.views("s1_ann_topk",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |     en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |     p AS (SELECT q.vec_id AS q_vec_id, b.vec_id AS nn,
        |                  list_dot_product(q.v, b.v) / (q.nrm * b.nrm) AS cs
        |           FROM en q JOIN en b ON q.vec_id != b.vec_id
        |           WHERE q.vec_id < 20),
        |     r AS (SELECT q_vec_id, nn, row_number() OVER
        |             (PARTITION BY q_vec_id ORDER BY cs DESC, nn) AS rn FROM p)
        |SELECT q_vec_id, CAST(rn AS BIGINT) AS rnk, nn AS nn_id
        |FROM r WHERE rn <= 10 ORDER BY q_vec_id, rnk""".stripMargin) { spark =>
      val emb = spark.table("embeddings")
      Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 10)
        .orderBy("q_vec_id", "rnk")
    },

    // mnn1 — mutual-nearest-neighbor pairing across the label-parity
    // split (the bitext/alignment mining op): reciprocal best cosine
    // matches only — one-directional argmax keeps hub vectors, the
    // mutuality filter kills them. Pair scores computed once, two
    // max_by aggregates, deterministic id tiebreaks; the oracle
    // replays both ranked directions and intersects. The query side is
    // a FIXED id slice (s1's discipline) so the exact pair table grows
    // linearly with the corpus — the sf1 scale run caught the
    // unbounded form at |A|·|B| = 100× per 10× data; mining the whole
    // of A is a sharded sweep of this query, and the corpus-scale
    // candidate path is blocked SRP (e1x) feeding the same argmaxes.
    QueryDef.views("mnn1_mutual_nearest",
      """WITH e AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |     en AS (SELECT vec_id, label, v,
        |              sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |     p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cs
        |           FROM en a JOIN en b
        |             ON a.label % 2 = 0 AND a.vec_id < 200
        |               AND b.label % 2 = 1),
        |     ab AS (SELECT a_id, b_id FROM (SELECT *, row_number() OVER
        |              (PARTITION BY a_id ORDER BY cs DESC, b_id) AS rn
        |            FROM p) WHERE rn = 1),
        |     ba AS (SELECT a_id, b_id FROM (SELECT *, row_number() OVER
        |              (PARTITION BY b_id ORDER BY cs DESC, a_id) AS rn
        |            FROM p) WHERE rn = 1)
        |SELECT ab.a_id, ab.b_id FROM ab JOIN ba USING (a_id, b_id)
        |ORDER BY a_id""".stripMargin) { spark =>
      Similarity.mutualNearest(spark.table("embeddings"), "vec_id",
          "embedding", sideA = col("label") % 2 === 0,
          queryPred = col("vec_id") < 200)
        .orderBy("a_id")
    },

    // km1 — deterministic integer k-means over the embeddings: the
    // clustering operator behind domain mixing / curriculum bucketing.
    // Fully oracle-graded PER VECTOR (not an invariant twin): because
    // the operator quantizes to integer micro-units and floors the
    // recenter, DuckDB can replay the exact Lloyd iterations as
    // unrolled CTEs — qc2's determinism trick applied to clustering —
    // and every one of the n final assignments must match bit-for-bit.
    QueryDef.views("km1_kmeans_assign", km1OracleSql(k = 8, iters = 2)) {
      spark =>
        Similarity.kmeansAssign(spark.table("embeddings"), "vec_id",
            "embedding", k = 8, iters = 2)
          .orderBy("vec_id")
    },

    // hn1 — hard-negative mining, the contrastive-training data op:
    // for each query vector, the 5 most-similar vectors OUTSIDE its
    // own cluster (km1's deterministic integer k-means supplies the
    // labels, so the WHOLE chain — Lloyd iterations → label-mismatch
    // candidate filter → cosine ranking — is replayed exactly by the
    // oracle: km1's unrolled CTEs feeding s1's pairwise ranking).
    // Random negatives are too easy to teach anything; same-cluster
    // candidates are likely false negatives; this keeps the band
    // between.
    QueryDef.views("hn1_hard_negatives",
      s"""WITH ${km1Ctes(k = 8, iters = 2)},
         |  en AS (SELECT vec_id, list_transform(embedding,
         |           x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |  enn AS (SELECT e.vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
         |                 f.cluster
         |          FROM en e JOIN fin f USING (vec_id)),
         |  p AS (SELECT q.vec_id AS q_vec_id, b.vec_id AS neg_id,
         |               list_dot_product(q.v, b.v) / (q.nrm * b.nrm) AS cs
         |        FROM enn q JOIN enn b
         |          ON q.vec_id != b.vec_id AND q.cluster != b.cluster
         |        WHERE q.vec_id < 20),
         |  r AS (SELECT q_vec_id, neg_id, row_number() OVER
         |          (PARTITION BY q_vec_id ORDER BY cs DESC, neg_id) AS rn
         |        FROM p)
         |SELECT q_vec_id, CAST(rn AS BIGINT) AS rnk, neg_id
         |FROM r WHERE rn <= 5 ORDER BY q_vec_id, rnk""".stripMargin) { spark =>
      val emb = spark.table("embeddings")
      val labels = Similarity.kmeansAssign(emb, "vec_id", "embedding",
        k = 8, iters = 2)
      Similarity.hardNegatives(emb, "vec_id", "embedding", labels,
          "vec_id", "cluster", col("vec_id") < 20, k = 5)
        .withColumnRenamed("nn_id", "neg_id")
        .orderBy("q_vec_id", "rnk")
    },

    // sil1 — simplified (centroid) silhouette of km1's clustering: the
    // cluster-quality readout. Per point a = d² to its own (nearest)
    // centroid, b = d² to the nearest other; s = (b−a)/max(a,b) as an
    // exact ppm integer (the ×10⁶ product staged through HUGEINT /
    // DECIMAL — µ-unit d² reaches ~10¹⁵). The Spark side folds the k
    // distances inside one codegen'd array_sort over a literal — no
    // join, no window; the oracle replays the same Lloyd iterations
    // (km1's CTEs) and the same (d, cluster) ordering.
    QueryDef.views("sil1_kmeans_silhouette",
      s"""WITH ${km1Ctes(k = 8, iters = 2)},
         |  dd AS (SELECT i.vec_id, c.cluster,
         |           list_sum(list_transform(range(1, len(i.v) + 1),
         |             j -> (i.v[j] - c.cv[j]) * (i.v[j] - c.cv[j]))) AS d
         |         FROM iv i CROSS JOIN c2 c),
         |  r AS (SELECT vec_id, cluster, d, row_number() OVER
         |          (PARTITION BY vec_id ORDER BY d, cluster) AS rn
         |        FROM dd),
         |  ab AS (SELECT a.vec_id, a.cluster, a.d AS da, b.d AS db
         |         FROM r a JOIN r b
         |           ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2),
         |  sp AS (SELECT vec_id, cluster,
         |           CASE WHEN greatest(da, db) = 0 THEN 0
         |                ELSE (CAST(db - da AS HUGEINT) * 1000000)
         |                     // greatest(da, db) END AS s
         |         FROM ab)
         |SELECT CAST(cluster AS BIGINT) AS cluster,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(s) // count(*) AS BIGINT) AS mean_sil_ppm
         |FROM sp GROUP BY 1 ORDER BY cluster""".stripMargin) { spark =>
      Similarity.kmeansSilhouette(spark.table("embeddings"), "vec_id",
          "embedding", k = 8, iters = 2)
        .orderBy("cluster")
    },

    // kc1 — k-center greedy coreset (farthest-point traversal, k = 6):
    // the diverse-subset selector next to km1 (partition), hn1
    // (contrast) and sm* (sample) — "representative AND spread out"
    // for active-learning coresets and eval-set seeding. Exact micro-
    // fixed integer distances, argmax ties to the smaller id, so the
    // oracle replays the greedy pick-for-pick (round CTEs MATERIALIZED
    // — each feeds the next round AND its own argmax). dist_sq is the
    // marginal-gain curve: each pick's distance to everything before
    // it.
    QueryDef.views("kc1_kcenter_coreset", {
      // distance via per-row list arithmetic against the ONE picked
      // center (sil1's shape) — a long-form dimension self-join here
      // made DuckDB build the i-keyed cross product before filtering
      // to the center (minutes at sf0.1); this form is milliseconds
      def round(i: Int) =
        s"""  c$i AS MATERIALIZED (SELECT vec_id AS id, mind FROM (
           |    SELECT vec_id, mind, row_number() OVER
           |      (ORDER BY mind DESC, vec_id) AS rn FROM m${i - 1})
           |    WHERE rn = 1),
           |  v$i AS (SELECT v AS cv FROM q JOIN c$i ON q.vec_id = c$i.id),
           |  m$i AS MATERIALIZED (SELECT m.vec_id,
           |      least(m.mind, CAST(list_sum(list_transform(
           |        range(1, len(q.v) + 1),
           |        j -> (q.v[j] - c.cv[j]) * (q.v[j] - c.cv[j])))
           |        AS BIGINT)) AS mind
           |    FROM m${i - 1} m JOIN q USING (vec_id) CROSS JOIN v$i c)"""
          .stripMargin
      s"""WITH q AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
         |             x -> CAST(floor(CAST(x AS DOUBLE) * 1000000)
         |               AS BIGINT)) AS v
         |           FROM embeddings),
         |  c0 AS (SELECT min(vec_id) AS id FROM q),
         |  v0 AS (SELECT v AS cv FROM q JOIN c0 ON q.vec_id = c0.id),
         |  m0 AS MATERIALIZED (SELECT q.vec_id,
         |      CAST(list_sum(list_transform(range(1, len(q.v) + 1),
         |        j -> (q.v[j] - c.cv[j]) * (q.v[j] - c.cv[j])))
         |        AS BIGINT) AS mind
         |    FROM q CROSS JOIN v0 c),
         |${(1 to 5).map(round).mkString(",\n")}
         |SELECT CAST(center_idx AS BIGINT) AS center_idx, vec_id,
         |       CAST(dist_sq AS BIGINT) AS dist_sq FROM (
         |  SELECT 0 AS center_idx, id AS vec_id, 0 AS dist_sq FROM c0
         |${(1 to 5).map(i =>
            s"  UNION ALL SELECT $i, id, mind FROM c$i").mkString("\n")})
         |ORDER BY center_idx""".stripMargin
    }) { spark =>
      Similarity.kCenterGreedy(spark.table("embeddings"), "vec_id",
          "embedding", k = 6)
        .orderBy("center_idx")
    },

    // LSH-bucketed ANN (scale path). Rows-only.
    QueryDef("s2_ann_lsh", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      Similarity.lshTopK(spark.table("embeddings"), "vec_id", "embedding",
          queryPred = col("vec_id") < 20, k = 5)
        .orderBy("q_vec_id", "rnk")
    }, None),

    // IVF ANN (coarse quantizer + probe + rerank). Rows-only.
    QueryDef("ivf1_ann", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      Similarity.ivfTopK(spark.table("embeddings"), "vec_id", "embedding",
          queryPred = col("vec_id") < 20, k = 5)
        .orderBy("q_vec_id", "rnk")
    }, None),

    // Product-quantized ANN (per-subspace codebooks + ADC scan + exact
    // rerank). Rows-only; the exact-head containment twin is pq1x.
    QueryDef("pq1_ann", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      Similarity.pqTopK(spark.table("embeddings"), "vec_id", "embedding",
          queryPred = col("vec_id") < 20, k = 5)
        .orderBy("q_vec_id", "rnk")
    }, None),

    // IVF+PQ (IVFADC): coarse probe prunes the rows scanned, PQ codes
    // shrink their cost, exact rerank restores precision. Rows-only;
    // containment twin is pq2x.
    QueryDef("pq2_ivfadc", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      Similarity.ivfPqTopK(spark.table("embeddings"), "vec_id", "embedding",
          queryPred = col("vec_id") < 20, k = 5)
        .orderBy("q_vec_id", "rnk")
    }, None),

    // Language-ID by marker-token scoring, deterministic argmax.
    QueryDef.views("x1_lang_id",
      """WITH tk AS (SELECT doc_id, lang,
        |              list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |            FROM documents),
        |     s AS (SELECT doc_id, lang,
        |    CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','in'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(toks, x -> x IN ('el','la','los','de','que'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(toks, x -> x IN ('le','les','et','des','une'))) AS BIGINT) AS s_fr
        |  FROM tk)
        |SELECT doc_id, s_en, s_es, s_de, s_fr,
        |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |       WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang,
        |  (CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |        WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |        WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END) = lang AS is_match
        |FROM s ORDER BY doc_id""".stripMargin) { spark =>
      TextOps.langId(spark.table("documents"), "doc_id", "text", "lang",
          Seq("en" -> Seq("the", "and", "of", "to", "in"),
            "es" -> Seq("el", "la", "los", "de", "que"),
            "de" -> Seq("der", "die", "und", "das", "ein"),
            "fr" -> Seq("le", "les", "et", "des", "une")))
        .orderBy("doc_id")
    },

    // Quality scoring: length / punctuation / stopword-ratio signals.
    QueryDef.views("x2_quality",
      """SELECT doc_id, n_chars,
        |  CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
        |  CAST(len(regexp_extract_all(text, '\b(the|and|of|to|a|in|is)\b')) AS BIGINT) AS n_stop,
        |  (CAST(len(regexp_extract_all(text, '\b(the|and|of|to|a|in|is)\b')) AS BIGINT) * 100)
        |    // CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS stop_pct,
        |  n_chars >= 100 AND
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) >= 20 AS quality_ok
        |FROM documents ORDER BY doc_id""".stripMargin) { spark =>
      TextOps.quality(spark.table("documents"), "doc_id", "text", "n_chars",
          Seq("the", "and", "of", "to", "a", "in", "is"))
        .orderBy("doc_id")
    },

    // Token counting: whitespace tokens + a BPE-ish regex tokenizer.
    QueryDef.views("x3_tokens",
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS BIGINT) AS bpe_tokens,
        |  n_chars // CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin) { spark =>
      TextOps.tokenCounts(spark.table("documents"), "doc_id", "text", "n_chars")
        .orderBy("doc_id")
    },

    // Document fingerprinting: normalized digest + bigram shingle sketch.
    QueryDef.views("x4_fingerprint",
      """WITH t AS (SELECT doc_id, lower(text) AS lt,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  bg AS (SELECT doc_id, lt,
        |           CASE WHEN len(w) >= 2
        |                THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
        |                ELSE NULL END AS bgs
        |         FROM t)
        |SELECT doc_id, substring(md5(lt), 1, 16) AS fp16,
        |  CASE WHEN bgs IS NULL THEN 0
        |       ELSE CAST(len(list_distinct(bgs)) AS BIGINT) END AS n_bigrams,
        |  CASE WHEN bgs IS NULL THEN NULL
        |       ELSE list_min(list_transform(bgs, b -> md5(b))) END AS min_bigram_md5
        |FROM bg ORDER BY doc_id""".stripMargin) { spark =>
      TextOps.fingerprint(spark.table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Multimodal decode, graded end-to-end through REAL byte parsing:
    // image payloads are constructed PNG bytes (signature + IHDR, public
    // spec) and the Spark side recovers width/height by PARSING the
    // binary in Multimodal.decode — the oracle predicts the same
    // geometry from the document columns the construction used. DuckDB
    // computes everything independently; a broken signature check, a
    // wrong endianness, or an off-by-one in the header offsets all
    // surface as value mismatches. Audio payloads are canonical WAV and
    // must parse to the constructed sample rate / channels / PCM frame
    // count (little-endian RIFF walk — the endianness complement of the
    // image formats); video payloads have no codec in this container
    // and must come back ok=false with zero dims.
    QueryDef("m1_multimodal_meta", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      graft.ops.Multimodal.metadataTable(spark, dir)
        .select(col("asset_id"), col("modality"), col("byte_len"),
          col("sha16"), col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"),
          col("n_frames").cast("bigint").as("n_frames"), col("ok"))
        .orderBy("asset_id")
    }, Option(
      """SELECT doc_id AS asset_id,
        |  CASE WHEN n_chars % 3 = 0 THEN 'image'
        |       WHEN n_chars % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(octet_length(CAST(text AS BLOB))
        |       + CASE WHEN n_chars % 3 = 0
        |              THEN CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 39 END
        |              WHEN n_chars % 3 = 1 THEN 44
        |              ELSE 404 + 4 * (1 + n_chars % 240) END AS BIGINT) AS byte_len,
        |  substring(sha256(text), 1, 16) AS sha16,
        |  CAST(CASE WHEN n_chars % 3 = 1 THEN 8000 * (1 + doc_id % 3)
        |       ELSE 64 + octet_length(CAST(text AS BLOB)) % 512
        |       END AS BIGINT) AS width,
        |  CAST(CASE WHEN n_chars % 3 = 1 THEN 1 + doc_id % 2
        |       ELSE 64 + n_chars % 512 END AS BIGINT) AS height,
        |  CAST(CASE WHEN n_chars % 3 = 0 THEN 1
        |       WHEN n_chars % 3 = 1
        |       THEN octet_length(CAST(text AS BLOB))
        |            // ((1 + doc_id % 2) * 2)
        |       ELSE 1 + n_chars % 240 END AS BIGINT) AS n_frames,
        |  true AS ok
        |FROM documents ORDER BY asset_id""".stripMargin)),

    // Multimodal frame sampling + resize targets (brief: "decode /
    // feature-extract / resize / frame-sample"): every 10th frame of
    // multi-frame assets with aspect-preserving thumbnail dims. Fake
    // metadata is pure arithmetic (oracle-exact); the hash-derived
    // variant lives in graft.ops.Multimodal.frameSample + its spec.
    QueryDef.views("m2_frame_sample",
      """WITH meta AS (
        |  SELECT doc_id AS asset_id,
        |         CASE WHEN n_chars % 3 = 0 THEN 'image'
        |              WHEN n_chars % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        |         64 + CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) % 512 AS width,
        |         64 + n_chars % 512 AS height,
        |         CASE WHEN n_chars % 3 = 2 THEN 1 + n_chars % 240 ELSE 1 END AS n_frames
        |  FROM documents)
        |SELECT asset_id, modality,
        |       CAST(unnest(range(0, n_frames, 10)) AS BIGINT) AS frame_idx,
        |       CAST(64 AS BIGINT) AS thumb_w,
        |       (height * 64) // width AS thumb_h
        |FROM meta
        |ORDER BY asset_id, frame_idx""".stripMargin) { spark =>
      val meta = spark.table("documents").select(
        col("doc_id").as("asset_id"),
        when(col("n_chars") % 3 === 0, "image")
          .when(col("n_chars") % 3 === 1, "audio")
          .otherwise("video").as("modality"),
        (lit(64) + octet_length(col("text")).cast("bigint") % 512).as("width"),
        (lit(64) + col("n_chars") % 512).as("height"),
        when(col("n_chars") % 3 === 2, lit(1) + col("n_chars") % 240)
          .otherwise(lit(1)).as("n_frames"))
      graft.ops.Multimodal.frameSample(meta, stride = 10, thumbWidth = 64)
        .select(col("asset_id"), col("modality"),
          col("frame_idx").cast("bigint").as("frame_idx"),
          col("thumb_w").cast("bigint").as("thumb_w"),
          col("thumb_h").cast("bigint").as("thumb_h"))
        .orderBy("asset_id", "frame_idx")
    },

    // m3 — content decode, not container geometry: every 16-bit LE PCM
    // sample in each WAV asset's data chunk is decoded and folded into
    // exact integer statistics (count, Σ|s|, Σs², peak). The oracle
    // rebuilds the identical sample stream from the document text bytes
    // (the PCM body) byte-pair by byte-pair in SQL, so a green row pins
    // the full chain: payload synthesis → RIFF chunk walk → sample
    // decode → reduction. Assets without a full frame are skipped on
    // both sides. At scale the shape is the decode seam's: payloads
    // stay put, |assets| tiny stat rows come out.
    QueryDef("m3_audio_pcm_decode", (spark, dir) => {
      val assets = graft.ops.Multimodal.assetsFromDocuments(spark, dir)
        .filter(col("modality") === "audio")
      graft.ops.Multimodal.decodePcm(assets).toDF()
        .select(col("asset_id"), col("n_samples"), col("sum_abs"),
          col("sum_sq"), col("peak"))
        .orderBy("asset_id")
    }, Option(
      """WITH a AS (SELECT doc_id, encode(text) AS b,
        |                  2 * (1 + doc_id % 2) AS ba
        |           FROM documents WHERE n_chars % 3 = 1),
        |     s AS (SELECT doc_id,
        |                  ('0x' || substr(hex(b), 4*j-3, 2))::INT
        |                  + 256 * ('0x' || substr(hex(b), 4*j-1, 2))::INT AS u
        |           FROM a, UNNEST(generate_series(
        |                  1, (octet_length(b) // ba) * ba // 2)) AS t(j)),
        |     v AS (SELECT doc_id,
        |                  CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS smp
        |           FROM s)
        |SELECT doc_id AS asset_id,
        |       CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
        |       CAST(sum(smp * smp) AS BIGINT) AS sum_sq,
        |       CAST(max(abs(smp)) AS BIGINT) AS peak
        |FROM v GROUP BY doc_id ORDER BY asset_id""".stripMargin)),

    // m4 — image pixel decode: the image half of the two-layer decode
    // seam (m3 is audio). P6 PPM payloads (public Netpbm spec —
    // uncompressed, so pixels need no codec) are synthesized from the
    // image-modality documents as a pure codegen projection, the ASCII
    // header is parsed back and the full RGB raster walked on the
    // mapPartitions seam, and each asset reduces to exact integer
    // channel sums + BT.601 integer luma. The oracle rebuilds the same
    // raster bytes from the documents table (UTF-8 text prefix) and
    // folds the identical integer statistics — a green row proves
    // header construction, ASCII parse, raster walk, and the per-pixel
    // arithmetic, byte-for-byte.
    QueryDef("m4_image_pixel_decode", (spark, dir) => {
      val assets = graft.ops.Multimodal.ppmAssetsFromDocuments(spark, dir)
      graft.ops.Multimodal.decodePixels(assets).toDF()
        .select(col("asset_id"), col("width"), col("height"),
          col("n_pixels"), col("sum_r"), col("sum_g"), col("sum_b"),
          col("sum_luma"))
        .orderBy("asset_id")
    }, Option(
      """WITH a AS (SELECT doc_id, encode(text) AS b,
        |                  4 + (doc_id % 5) * 2 AS w
        |           FROM documents WHERE n_chars % 3 = 0),
        |     d AS (SELECT doc_id, w,
        |                  octet_length(b) // (3 * w) AS h, b
        |           FROM a WHERE octet_length(b) >= 3 * w),
        |     p AS (SELECT doc_id, w, h,
        |                  ('0x' || substr(hex(b), 6*j-5, 2))::INT AS r,
        |                  ('0x' || substr(hex(b), 6*j-3, 2))::INT AS g,
        |                  ('0x' || substr(hex(b), 6*j-1, 2))::INT AS bl
        |           FROM d, UNNEST(generate_series(1, w * h)) AS t(j))
        |SELECT doc_id AS asset_id,
        |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(count(*) AS BIGINT) AS n_pixels,
        |       CAST(sum(r) AS BIGINT) AS sum_r,
        |       CAST(sum(g) AS BIGINT) AS sum_g,
        |       CAST(sum(bl) AS BIGINT) AS sum_b,
        |       CAST(sum(299*r + 587*g + 114*bl) AS BIGINT) AS sum_luma
        |FROM p GROUP BY doc_id, w, h ORDER BY asset_id""".stripMargin)),

    // mh1 — perceptual image hashing over DECODED pixels ([[graft.ops
    // .Multimodal.imageDHash]]): the content-space near-dup key for
    // the image modality (simhash's analog — identical rasters
    // collide, small edits flip few bits, the banded machinery applies
    // unchanged). Nearest-neighbor 9×8 resize by pure integer index
    // math + integer BT.601 luma + adjacent-pair bits, so the oracle
    // replays EVERY pixel pick, luma, comparison and bit position from
    // the raw raster bytes — all 64 bits of every asset's hash are
    // load-bearing.
    QueryDef("mh1_image_dhash", (spark, dir) => {
      val assets = graft.ops.Multimodal.ppmAssetsFromDocuments(spark, dir)
      graft.ops.Multimodal.imageDHash(assets).toDF()
        .select(col("asset_id"), col("width"), col("height"),
          col("dhash_hi"), col("dhash_lo"))
        .orderBy("asset_id")
    }, Option(
      """WITH a AS (SELECT doc_id, encode(text) AS b,
        |                  4 + (doc_id % 5) * 2 AS w
        |           FROM documents WHERE n_chars % 3 = 0),
        |  d AS (SELECT doc_id, w, octet_length(b) // (3 * w) AS h, b
        |        FROM a WHERE octet_length(b) >= 3 * w),
        |  cells AS (SELECT doc_id, r, c,
        |      299 * ('0x' || substr(hex(b),
        |        6 * (((r * h) // 8) * w + (c * w) // 9) + 1, 2))::BIGINT
        |    + 587 * ('0x' || substr(hex(b),
        |        6 * (((r * h) // 8) * w + (c * w) // 9) + 3, 2))::BIGINT
        |    + 114 * ('0x' || substr(hex(b),
        |        6 * (((r * h) // 8) * w + (c * w) // 9) + 5, 2))::BIGINT
        |      AS gray
        |    FROM d, UNNEST(range(0, 8)) AS t1(r),
        |            UNNEST(range(0, 9)) AS t2(c)),
        |  bits AS (SELECT l.doc_id, l.r * 8 + l.c AS k,
        |             CASE WHEN l.gray > rr.gray THEN 1 ELSE 0 END AS bit
        |           FROM cells l JOIN cells rr
        |             ON l.doc_id = rr.doc_id AND l.r = rr.r
        |            AND rr.c = l.c + 1
        |           WHERE l.c < 8),
        |  hh AS (SELECT doc_id,
        |           CAST(sum(CASE WHEN k >= 32
        |             THEN bit * (CAST(1 AS BIGINT) << (k - 32))
        |             ELSE 0 END) AS BIGINT) AS dhash_hi,
        |           CAST(sum(CASE WHEN k < 32
        |             THEN bit * (CAST(1 AS BIGINT) << k)
        |             ELSE 0 END) AS BIGINT) AS dhash_lo
        |         FROM bits GROUP BY doc_id)
        |SELECT d.doc_id AS asset_id, CAST(w AS BIGINT) AS width,
        |       CAST(h AS BIGINT) AS height, dhash_hi, dhash_lo
        |FROM d JOIN hh ON d.doc_id = hh.doc_id
        |ORDER BY asset_id""".stripMargin)),

    // mh3 — perceptual duplicate CLUSTERS: mh2's banded pair graph
    // through [[graft.ops.Dedup.dupClusters]] (min-label + pointer
    // jumping) — SemDeDup's composition for the image modality, the
    // keep-one-per-cluster step a 100 TB image corpus actually runs.
    // The oracle walks the brute-force pair graph with a recursive
    // CTE (wc1's formulation), so the banded candidates, the hamming
    // verify AND the clustering must all agree with the exhaustive
    // answer.
    QueryDef("mh3_image_dup_clusters", (spark, dir) => {
      val hashes = graft.ops.Multimodal.imageDHash(
        graft.ops.Multimodal.ppmAssetsFromDocuments(spark, dir))
      val pairs = graft.ops.Multimodal.imageDHashPairs(hashes, 7)
        .select(col("a"), col("b"))
      graft.ops.Dedup.dupClusters(pairs, "a", "b")
        .select(col("doc_id").as("asset_id"),
          col("cluster_id").cast("bigint").as("cluster_id"))
        .orderBy("asset_id")
    }, Option(
      """WITH RECURSIVE a AS (SELECT doc_id, encode(text) AS b,
        |                  4 + (doc_id % 5) * 2 AS w
        |           FROM documents WHERE n_chars % 3 = 0),
        |  d AS (SELECT doc_id, w, octet_length(b) // (3 * w) AS h, b
        |        FROM a WHERE octet_length(b) >= 3 * w),
        |  cells AS (SELECT doc_id, r, c,
        |      299 * ('0x' || substr(hex(b),
        |        6 * (((r * h) // 8) * w + (c * w) // 9) + 1, 2))::BIGINT
        |    + 587 * ('0x' || substr(hex(b),
        |        6 * (((r * h) // 8) * w + (c * w) // 9) + 3, 2))::BIGINT
        |    + 114 * ('0x' || substr(hex(b),
        |        6 * (((r * h) // 8) * w + (c * w) // 9) + 5, 2))::BIGINT
        |      AS gray
        |    FROM d, UNNEST(range(0, 8)) AS t1(r),
        |            UNNEST(range(0, 9)) AS t2(c)),
        |  bits AS (SELECT l.doc_id, l.r * 8 + l.c AS k,
        |             CASE WHEN l.gray > rr.gray THEN 1 ELSE 0 END AS bit
        |           FROM cells l JOIN cells rr
        |             ON l.doc_id = rr.doc_id AND l.r = rr.r
        |            AND rr.c = l.c + 1
        |           WHERE l.c < 8),
        |  hh AS (SELECT doc_id,
        |           CAST(sum(CASE WHEN k >= 32
        |             THEN bit * (CAST(1 AS BIGINT) << (k - 32))
        |             ELSE 0 END) AS BIGINT) AS hi,
        |           CAST(sum(CASE WHEN k < 32
        |             THEN bit * (CAST(1 AS BIGINT) << k)
        |             ELSE 0 END) AS BIGINT) AS lo
        |         FROM bits GROUP BY doc_id),
        |  pairs AS (SELECT p.doc_id AS x, q.doc_id AS y
        |            FROM hh p JOIN hh q ON p.doc_id < q.doc_id
        |            WHERE bit_count(xor(p.hi, q.hi))
        |                + bit_count(xor(p.lo, q.lo)) <= 7),
        |  edges AS (SELECT x AS s, y AS t FROM pairs
        |            UNION SELECT y, x FROM pairs),
        |  walk(node, lbl) AS (
        |    SELECT s, s FROM (SELECT DISTINCT s FROM edges) base
        |    UNION
        |    SELECT e.s, w2.lbl FROM edges e JOIN walk w2 ON e.t = w2.node)
        |SELECT node AS asset_id, min(lbl) AS cluster_id
        |FROM walk GROUP BY node ORDER BY asset_id""".stripMargin)),

    // ah1 — acoustic fingerprinting over DECODED PCM ([[graft.ops
    // .Multimodal.audioFingerprint]]): the audio member of the
    // perceptual family. 64 contiguous energy bins (Σ|s| per slice,
    // slice index = j·64 div n) + 63 sign-of-delta bits = the energy
    // envelope's shape as a bandable key. The oracle rebuilds the
    // sample stream byte-pair by byte-pair (m3's machinery), re-bins,
    // and re-derives every bit — fingerprint exact per asset.
    QueryDef("ah1_audio_fingerprint", (spark, dir) => {
      val assets = graft.ops.Multimodal.assetsFromDocuments(spark, dir)
        .filter(col("modality") === "audio")
      graft.ops.Multimodal.audioFingerprint(assets).toDF()
        .select(col("asset_id"), col("n_samples"),
          col("fp_hi"), col("fp_lo"))
        .orderBy("asset_id")
    }, Option(
      """WITH a AS (SELECT doc_id, encode(text) AS b,
        |                  2 * (1 + doc_id % 2) AS ba
        |           FROM documents WHERE n_chars % 3 = 1),
        |  na AS (SELECT doc_id,
        |           (octet_length(b) // ba) * ba // 2 AS n
        |         FROM a WHERE (octet_length(b) // ba) * ba // 2 >= 1),
        |  s AS (SELECT a.doc_id, j,
        |          ('0x' || substr(hex(b), 4*j-3, 2))::INT
        |          + 256 * ('0x' || substr(hex(b), 4*j-1, 2))::INT AS u
        |        FROM a, UNNEST(generate_series(
        |          1, (octet_length(b) // ba) * ba // 2)) AS t(j)),
        |  v AS (SELECT s.doc_id, ((j - 1) * 64) // na.n AS bin,
        |          abs(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END)
        |            AS am
        |        FROM s JOIN na ON s.doc_id = na.doc_id),
        |  bins AS (SELECT doc_id, bin, CAST(sum(am) AS BIGINT) AS e
        |           FROM v GROUP BY doc_id, bin),
        |  grid0 AS (SELECT na.doc_id, t.k
        |            FROM na, UNNEST(range(0, 63)) AS t(k)),
        |  grid AS (SELECT g.doc_id, g.k,
        |             coalesce(b1.e, 0) AS e1, coalesce(b2.e, 0) AS e2
        |           FROM grid0 g
        |           LEFT JOIN bins b1
        |             ON b1.doc_id = g.doc_id AND b1.bin = g.k
        |           LEFT JOIN bins b2
        |             ON b2.doc_id = g.doc_id AND b2.bin = g.k + 1),
        |  fp AS (SELECT doc_id,
        |           CAST(sum(CASE WHEN e1 > e2 AND k >= 32
        |             THEN CAST(1 AS BIGINT) << (k - 32)
        |             ELSE 0 END) AS BIGINT) AS fp_hi,
        |           CAST(sum(CASE WHEN e1 > e2 AND k < 32
        |             THEN CAST(1 AS BIGINT) << k
        |             ELSE 0 END) AS BIGINT) AS fp_lo
        |         FROM grid GROUP BY doc_id)
        |SELECT na.doc_id AS asset_id, CAST(na.n AS BIGINT) AS n_samples,
        |       fp.fp_hi, fp.fp_lo
        |FROM na JOIN fp ON na.doc_id = fp.doc_id
        |ORDER BY asset_id""".stripMargin)),

    // mh2 — perceptual near-dup detection through the BANDED plan
    // ([[graft.ops.Multimodal.imageDHashPairs]]): simhash's machinery
    // applied to pixels — 8×8-bit bands make an equi-join complete for
    // Hamming ≤ 7, exact bit_count verify on candidates only. Graded
    // per asset (neighbor count, zeros included) against an oracle
    // that rebuilds every hash from raw raster bytes and brute-forces
    // ALL pairs — the banded path must find exactly the pairs the
    // exhaustive one does.
    QueryDef("mh2_image_neardup", (spark, dir) => {
      val hashes = graft.ops.Multimodal.imageDHash(
        graft.ops.Multimodal.ppmAssetsFromDocuments(spark, dir))
      val pairs = graft.ops.Multimodal.imageDHashPairs(hashes, 7)
      val sides = pairs.select(col("a").as("v"))
        .unionAll(pairs.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("n"))
      hashes.toDF().select(col("asset_id"))
        .join(sides, col("asset_id") === col("v"), "left")
        .select(col("asset_id"),
          coalesce(col("n"), lit(0L)).as("n_neardups"))
        .orderBy("asset_id")
    }, Option(
      """WITH a AS (SELECT doc_id, encode(text) AS b,
        |                  4 + (doc_id % 5) * 2 AS w
        |           FROM documents WHERE n_chars % 3 = 0),
        |  d AS (SELECT doc_id, w, octet_length(b) // (3 * w) AS h, b
        |        FROM a WHERE octet_length(b) >= 3 * w),
        |  cells AS (SELECT doc_id, r, c,
        |      299 * ('0x' || substr(hex(b),
        |        6 * (((r * h) // 8) * w + (c * w) // 9) + 1, 2))::BIGINT
        |    + 587 * ('0x' || substr(hex(b),
        |        6 * (((r * h) // 8) * w + (c * w) // 9) + 3, 2))::BIGINT
        |    + 114 * ('0x' || substr(hex(b),
        |        6 * (((r * h) // 8) * w + (c * w) // 9) + 5, 2))::BIGINT
        |      AS gray
        |    FROM d, UNNEST(range(0, 8)) AS t1(r),
        |            UNNEST(range(0, 9)) AS t2(c)),
        |  bits AS (SELECT l.doc_id, l.r * 8 + l.c AS k,
        |             CASE WHEN l.gray > rr.gray THEN 1 ELSE 0 END AS bit
        |           FROM cells l JOIN cells rr
        |             ON l.doc_id = rr.doc_id AND l.r = rr.r
        |            AND rr.c = l.c + 1
        |           WHERE l.c < 8),
        |  hh AS (SELECT doc_id,
        |           CAST(sum(CASE WHEN k >= 32
        |             THEN bit * (CAST(1 AS BIGINT) << (k - 32))
        |             ELSE 0 END) AS BIGINT) AS hi,
        |           CAST(sum(CASE WHEN k < 32
        |             THEN bit * (CAST(1 AS BIGINT) << k)
        |             ELSE 0 END) AS BIGINT) AS lo
        |         FROM bits GROUP BY doc_id),
        |  pairs AS (SELECT p.doc_id AS x, q.doc_id AS y
        |            FROM hh p JOIN hh q ON p.doc_id < q.doc_id
        |            WHERE bit_count(xor(p.hi, q.hi))
        |                + bit_count(xor(p.lo, q.lo)) <= 7),
        |  cnt AS (SELECT v, CAST(count(*) AS BIGINT) AS n FROM
        |            (SELECT x AS v FROM pairs
        |             UNION ALL SELECT y FROM pairs) GROUP BY v)
        |SELECT d.doc_id AS asset_id,
        |       coalesce(cnt.n, 0) AS n_neardups
        |FROM d LEFT JOIN cnt ON d.doc_id = cnt.v
        |ORDER BY asset_id""".stripMargin)),

    // m5 — the video SAMPLE TABLE read back ([[graft.ops.Multimodal
    // .videoSampleStats]]): m1 grades what the video looks like (tkhd
    // dims, mvhd ticks); THIS grades where each frame's bytes are —
    // stsz per-sample sizes, the stco chunk offset, stts agreement —
    // the layer a real frame extractor seeks through. The builder
    // splits the text bytes into n near-equal samples (base = len div
    // n, first len mod n get one extra byte); the oracle re-derives
    // that rule in SQL, INCLUDING the md5 of the middle sample's bytes
    // located purely through the parsed table — a wrong size or offset
    // anywhere shifts the byte window and breaks the hash.
    QueryDef("m5_video_sample_table", (spark, dir) => {
      val assets = graft.ops.Multimodal.assetsFromDocuments(spark, dir)
        .filter(col("modality") === "video")
      graft.ops.Multimodal.videoSampleStats(assets).toDF()
        .select(col("asset_id"), col("n_samples"), col("sum_bytes"),
          col("chunk_offset"), col("max_sample"), col("mid_md5"))
        .orderBy("asset_id")
    }, Option(
      """WITH v AS (SELECT doc_id,
        |             CAST(1 + n_chars % 240 AS BIGINT) AS n,
        |             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS len,
        |             text
        |           FROM documents WHERE n_chars % 3 = 2),
        |  s AS (SELECT doc_id, n, len, text,
        |          len // n AS base, len % n AS rem, n // 2 AS mid
        |        FROM v)
        |SELECT doc_id AS asset_id, n AS n_samples, len AS sum_bytes,
        |       404 + 4 * n AS chunk_offset,
        |       base + CASE WHEN rem > 0 THEN 1 ELSE 0 END AS max_sample,
        |       md5(substr(text, CAST(base * mid + least(mid, rem) AS INT) + 1,
        |                  CAST(base + CASE WHEN mid < rem THEN 1 ELSE 0 END
        |                       AS INT))) AS mid_md5
        |FROM s ORDER BY asset_id""".stripMargin)),

    // Text normalization digest.
    QueryDef.views("x5_normalize",
      """SELECT doc_id,
        |       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                ' +', ' ', 'g'))) AS norm_hash,
        |       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                ' +', ' ', 'g'))) AS BIGINT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin) { spark =>
      TextOps.normalize(spark.table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Unicode canonical composition ([[graft.functions.NfcNormalize]]
    // — a native codegen expression): crawls mix composed and
    // decomposed encodings of the same visible text, which fragments
    // exact dedup / decontamination / tokenizer lookups. The fixture
    // appends a deterministic decomposed tail (combining acute/grave/
    // tilde/diaeresis plus an already-composed é) to every document;
    // both engines implement UAX #15 (java.text.Normalizer here,
    // utf8proc's nfc_normalize in DuckDB), so the composed length AND
    // the normalized bytes' md5 must hash-match. NFKC (compatibility
    // folding — what tokenizer pipelines actually deploy) has no
    // DuckDB twin; UnicodeNormalizeSpec pins it.
    QueryDef.views("un1_unicode_nfc", {
      val tail = " e\u0301 A\u0300 n\u0303 o\u0308 \u00e9"
      s"""SELECT doc_id,
         |  CAST(length(s) AS BIGINT) AS n_raw,
         |  CAST(length(nfc_normalize(s)) AS BIGINT) AS n_nfc,
         |  md5(nfc_normalize(s)) AS h
         |FROM (SELECT doc_id, substr(text, 1, 24) || '$tail' AS s
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    }) { spark =>
      val tail = " e\u0301 A\u0300 n\u0303 o\u0308 \u00e9"
      spark.table("documents")
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 24), lit(tail)).as("s"))
        .select(col("doc_id"),
          length(col("s")).cast("bigint").as("n_raw"),
          length(expr("nfc_normalize(s)")).cast("bigint").as("n_nfc"),
          md5(expr("nfc_normalize(s)").cast("binary")).as("h"))
        .orderBy("doc_id")
    },

    // Gopher-style repetition signals: duplicate-word and top-bigram
    // coverage as floor per-mille (integer-exact cross-engine).
    QueryDef.views("x6_repetition",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  b AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n,
        |          CAST(len(list_distinct(w)) AS BIGINT) AS nd,
        |          CASE WHEN len(w) >= 2
        |               THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
        |               ELSE NULL END AS bgs
        |        FROM t),
        |  s AS (SELECT doc_id, n, nd,
        |          CASE WHEN bgs IS NULL THEN 0
        |               ELSE CAST(list_max(list_transform(list_distinct(bgs),
        |                      g -> len(list_filter(bgs, x -> x = g)))) AS BIGINT) END AS top
        |        FROM b)
        |SELECT doc_id, n AS n_tokens, nd AS n_distinct,
        |  ((n - nd) * 1000) // n AS dup_pml,
        |  top AS top_bigram_n,
        |  (top * 2 * 1000) // n AS top_bigram_pml,
        |  (((n - nd) * 1000) // n > 700 OR (top * 2 * 1000) // n > 180) AS repetitive
        |FROM s ORDER BY doc_id""".stripMargin) { spark =>
      TextOps.repetitionStats(spark.table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Eval-set decontamination: training docs sharing any word 5-gram
    // with the deterministic eval split (doc_id % 97 = 0) are flagged;
    // n_shared counts distinct shared grams.
    // Overlap-FRACTION decontam (dc1's graded sibling): per train doc,
    // total distinct 5-grams, benchmark-shared count, and the overlap
    // in basis points — the quantity real policies threshold on. Same
    // doc split and gram derivation as dc1, so the two entries pin the
    // same pipeline at two decision granularities.
    QueryDef.views("dc4_overlap_fraction",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  g AS (SELECT doc_id, unnest(list_distinct(
        |           CASE WHEN len(w) >= 5
        |                THEN list_transform(range(1, len(w) - 3),
        |                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
        |                ELSE [] END)) AS gram
        |        FROM t),
        |  ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |  tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0),
        |  agg AS (SELECT tr.doc_id, count(*) AS n_grams,
        |            count(ev.gram) AS n_shared
        |          FROM tr LEFT JOIN ev ON tr.gram = ev.gram
        |          GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(COALESCE(agg.n_grams, 0) AS BIGINT) AS n_grams,
        |       CAST(COALESCE(agg.n_shared, 0) AS BIGINT) AS n_shared,
        |       CAST(CASE WHEN COALESCE(agg.n_grams, 0) = 0 THEN 0
        |            ELSE agg.n_shared * 10000 // agg.n_grams END AS BIGINT)
        |         AS overlap_bp
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents")
      TextOps.decontamOverlap(
          docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(97)) === 0),
          "doc_id", "text", n = 5)
        .orderBy("doc_id")
    },

    QueryDef.views("dc1_decontam",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  g AS (SELECT doc_id, unnest(list_distinct(
        |           CASE WHEN len(w) >= 5
        |                THEN list_transform(range(1, len(w) - 3),
        |                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
        |                ELSE [] END)) AS gram
        |        FROM t),
        |  ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |  sh AS (SELECT g.doc_id, count(*) AS n_shared
        |         FROM g JOIN ev USING (gram) WHERE g.doc_id % 97 <> 0
        |         GROUP BY 1)
        |SELECT d.doc_id, COALESCE(sh.n_shared, 0) AS n_shared,
        |       COALESCE(sh.n_shared, 0) = 0 AS keep
        |FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id
        |WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents")
      TextOps.decontaminate(
          docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(97)) === 0),
          "doc_id", "text", n = 5)
        .orderBy("doc_id")
    },

    // Span-level exact substring dedup (Lee et al. shape): consecutive
    // 16-token spans, first occurrence corpus-wide survives; per-doc
    // kept-content digest graded exactly (md5s are portable).
    QueryDef.views("sd1_span_dedup",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  s AS (SELECT doc_id, w,
        |          unnest(range(0, CAST(ceil(len(w) / 16.0) AS BIGINT))) AS span_idx
        |        FROM t),
        |  sp AS (SELECT doc_id, span_idx,
        |           array_to_string(w[span_idx * 16 + 1 : span_idx * 16 + 16], ' ')
        |             AS span_text
        |         FROM s),
        |  r AS (SELECT doc_id, span_idx, span_text, row_number() OVER
        |          (PARTITION BY span_text ORDER BY doc_id, span_idx) AS rn
        |        FROM sp),
        |  agg AS (SELECT doc_id, count(*) AS n_spans,
        |            CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |            md5(coalesce(string_agg(CASE WHEN rn = 1 THEN span_text END,
        |                                    ' ' ORDER BY span_idx), '')) AS kept_md5
        |          FROM r GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(agg.n_spans, 0) AS n_spans,
        |       COALESCE(agg.n_kept, 0) AS n_kept,
        |       COALESCE(agg.kept_md5, md5('')) AS kept_md5
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin) { spark =>
      TextOps.spanDedup(spark.table("documents"), "doc_id", "text", span = 16)
        .orderBy("doc_id")
    },

    // Corpus-frequency boilerplate removal (CCNet/RefinedWeb rule):
    // 16-token spans occurring in >= 3 distinct docs are dropped from
    // EVERY doc (vs sd1's keep-first). Same exact grading shape as sd1:
    // per-doc span counts + kept-content digest.
    QueryDef.views("bp1_boilerplate_strip",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  s AS (SELECT doc_id, w,
        |          unnest(range(0, CAST(ceil(len(w) / 16.0) AS BIGINT))) AS span_idx
        |        FROM t),
        |  sp AS (SELECT doc_id, span_idx,
        |           array_to_string(w[span_idx * 16 + 1 : span_idx * 16 + 16], ' ')
        |             AS span_text
        |         FROM s),
        |  hot AS (SELECT span_text FROM sp
        |          GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
        |  k AS (SELECT sp.doc_id, sp.span_idx, sp.span_text
        |        FROM sp ANTI JOIN hot USING (span_text)),
        |  agg AS (SELECT doc_id,
        |            CAST(count(*) AS BIGINT) AS n_kept,
        |            md5(string_agg(span_text, ' ' ORDER BY span_idx))
        |              AS kept_md5
        |          FROM k GROUP BY doc_id),
        |  ns AS (SELECT doc_id,
        |           CAST(ceil(len(w) / 16.0) AS BIGINT) AS n_spans
        |         FROM t)
        |SELECT d.doc_id, ns.n_spans,
        |       COALESCE(agg.n_kept, 0) AS n_kept,
        |       COALESCE(agg.kept_md5, md5('')) AS kept_md5
        |FROM documents d
        |JOIN ns ON d.doc_id = ns.doc_id
        |LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin) { spark =>
      TextOps.boilerplateStrip(spark.table("documents"), "doc_id", "text",
        span = 16, minDocs = 3).orderBy("doc_id")
    },

    // URL canonicalization + registrable-domain extraction (WebOps):
    // a deterministic URL is derived per doc (mixed-case scheme/host,
    // trailing slashes, utm_*/ref tracking params, fragments — the
    // derivation is mirrored verbatim in the oracle, the cdc1 pattern),
    // then canonicalized; every doc's canonical form, host, and domain
    // are graded exactly, row by row.
    QueryDef.views("u1_url_canon",
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 5 = 0 THEN 'HTTPS://' ELSE 'https://' END)
        |    || source || '.Example.com/' || lang || '/article-'
        |    || CAST(doc_id AS VARCHAR)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 0
        |             THEN '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
        |                  || '&sec=' || CAST(doc_id % 7 AS VARCHAR)
        |             WHEN doc_id % 3 = 0
        |             THEN '?id=' || CAST(doc_id % 50 AS VARCHAR) || '&ref=rss'
        |             ELSE '' END)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |  c AS (SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([^:]+://[^/?#]+)', 1)) AS scheme_host,
        |    regexp_extract(url, '^[^:]+://[^/?#]+([^?#]*)', 1) AS raw_path,
        |    list_sort(list_filter(
        |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |      p -> len(p) > 0 AND NOT starts_with(p, 'utm_')
        |        AND NOT list_contains(['ref','fbclid','gclid','msclkid'],
        |                              string_split(p, '=')[1]))) AS params,
        |    lower(regexp_extract(url, '^[^:]+://([^/?#:]+)', 1)) AS host
        |  FROM u),
        |  f AS (SELECT doc_id,
        |    scheme_host
        |    || (CASE WHEN len(raw_path) > 1 AND ends_with(raw_path, '/')
        |             THEN substring(raw_path, 1, len(raw_path) - 1)
        |             ELSE raw_path END)
        |    || (CASE WHEN len(params) > 0
        |             THEN '?' || array_to_string(params, '&')
        |             ELSE '' END) AS canon_url,
        |    host,
        |    array_to_string(
        |      string_split(host, '.')[greatest(len(string_split(host, '.')) - 1, 1)
        |                              : len(string_split(host, '.'))],
        |      '.') AS domain
        |  FROM c)
        |SELECT doc_id, canon_url, host, domain FROM f
        |ORDER BY doc_id""".stripMargin) { spark =>
      val urls = spark.table("documents").select(col("doc_id"), expr(
        """concat(
          |  CASE WHEN doc_id % 5 = 0 THEN 'HTTPS://' ELSE 'https://' END,
          |  source, '.Example.com/', lang, '/article-',
          |  CAST(doc_id AS STRING),
          |  CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
          |  CASE WHEN doc_id % 2 = 0
          |       THEN concat('?utm_source=feed&id=',
          |                   CAST(doc_id % 50 AS STRING),
          |                   '&sec=', CAST(doc_id % 7 AS STRING))
          |       WHEN doc_id % 3 = 0
          |       THEN concat('?id=', CAST(doc_id % 50 AS STRING), '&ref=rss')
          |       ELSE '' END,
          |  CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)"""
          .stripMargin).as("url"))
      WebOps.canonicalize(urls, "url")
        .select("doc_id", "canon_url", "host", "domain")
        .orderBy("doc_id")
    },

    // Public-suffix registrable domains (PublicSuffix): hosts derived to
    // cover all nine PSL tiers — multi-label ccTLD registries (co.uk /
    // com.au / org.uk), private-registry suffixes (github.io), wildcard
    // (*.ck) + exception (!www.ck) rules, the *.kawasaki.jp / !city
    // exception pair, unknown TLDs (default rule *), and a host that IS
    // a public suffix (no registrable domain). The oracle replays the
    // publicsuffix.org algorithm in SQL over the SAME bundled rule table
    // (interpolated as VALUES from the parsed resource), so both sides
    // grade rule parsing AND the prevailing-rule argmax.
    QueryDef.views("u2_psl_domain", {
      val ruleValues = graft.ops.PublicSuffix.defaultRules
        .map(r => s"('${r.key}', ${r.labels}, ${r.kind})").mkString(",\n")
      s"""WITH rules(rule_key, rule_labels, rule_kind) AS (VALUES
         |$ruleValues),
         |h AS (SELECT doc_id,
         |  CASE doc_id % 9
         |    WHEN 0 THEN source || '.news.co.uk'
         |    WHEN 1 THEN 'www.' || source || '.com'
         |    WHEN 2 THEN 'blog.' || source || '.github.io'
         |    WHEN 3 THEN source || '.shop.com.au'
         |    WHEN 4 THEN CASE WHEN doc_id % 2 = 0 THEN 'www.ck'
         |                     ELSE source || '.b.ck' END
         |    WHEN 5 THEN 'co.uk'
         |    WHEN 6 THEN source || '.site.unknowntld'
         |    WHEN 7 THEN CASE WHEN doc_id % 2 = 0 THEN 'city.kawasaki.jp'
         |                     ELSE source || '.x.kawasaki.jp' END
         |    ELSE 'deep.' || lang || '.' || source || '.org.uk'
         |  END AS host
         |  FROM documents),
         |hl AS (SELECT doc_id, host, string_split(host, '.') AS ls,
         |              len(string_split(host, '.')) AS n FROM h),
         |cand AS (SELECT doc_id, n, ls,
         |                unnest(range(1, n + 1)) AS i FROM hl),
         |cand2 AS (SELECT doc_id, n,
         |                 array_to_string(ls[i:n], '.') AS c, n - i + 1 AS L
         |          FROM cand),
         |m AS (SELECT c2.doc_id,
         |        CASE r.rule_kind
         |          WHEN 2 THEN r.rule_labels - 1
         |          WHEN 1 THEN CASE WHEN c2.n >= c2.L + 1 THEN c2.L + 1 END
         |          WHEN 0 THEN c2.L END AS ps,
         |        r.rule_kind AS kind
         |      FROM cand2 c2 JOIN rules r ON r.rule_key = c2.c),
         |p AS (SELECT doc_id,
         |        max(CASE WHEN kind = 2 THEN 1000000 + ps ELSE ps END) AS bk
         |      FROM m WHERE ps IS NOT NULL GROUP BY doc_id),
         |f AS (SELECT hl.doc_id, hl.host, hl.ls, hl.n,
         |        CASE WHEN p.bk IS NULL THEN 1
         |             WHEN p.bk >= 1000000 THEN p.bk - 1000000
         |             ELSE p.bk END AS ps
         |      FROM hl LEFT JOIN p USING (doc_id))
         |SELECT doc_id, host,
         |  array_to_string(ls[n - ps + 1 : n], '.') AS public_suffix,
         |  COALESCE(CASE WHEN n >= ps + 1
         |                THEN array_to_string(ls[n - ps : n], '.') END, '')
         |    AS domain
         |FROM f ORDER BY doc_id""".stripMargin
    }) { spark =>
      val hosts = spark.table("documents").select(col("doc_id"), expr(
        """CASE doc_id % 9
          |  WHEN 0 THEN concat(source, '.news.co.uk')
          |  WHEN 1 THEN concat('www.', source, '.com')
          |  WHEN 2 THEN concat('blog.', source, '.github.io')
          |  WHEN 3 THEN concat(source, '.shop.com.au')
          |  WHEN 4 THEN CASE WHEN doc_id % 2 = 0 THEN 'www.ck'
          |                   ELSE concat(source, '.b.ck') END
          |  WHEN 5 THEN 'co.uk'
          |  WHEN 6 THEN concat(source, '.site.unknowntld')
          |  WHEN 7 THEN CASE WHEN doc_id % 2 = 0 THEN 'city.kawasaki.jp'
          |                   ELSE concat(source, '.x.kawasaki.jp') END
          |  ELSE concat('deep.', lang, '.', source, '.org.uk')
          |END""".stripMargin).as("host"))
      PublicSuffix.withRegistrableDomain(hosts, "host",
          PublicSuffix.rulesDf(spark))
        .select(col("doc_id"), col("host"), col("public_suffix"),
          coalesce(col("domain"), lit("")).as("domain"))
        .orderBy("doc_id")
    },

    // Epoch planner (mixture up-sampling): per-doc repeat counts that
    // hit per-language token targets (weights en=500/zh=200/de=150/
    // fr=100/es=50 per-mille of a 60k-token budget) — whole epochs by
    // integer division, the fractional epoch as a deterministic
    // doc-id-hash per-mille slice. Down-sampling (full_epochs = 0) and
    // multi-epoch up-sampling both occur at this weight/budget choice.
    QueryDef.views("ep1_epoch_plan",
      s"""WITH base AS (SELECT doc_id, lang AS stratum,
         |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0))
         |      AS BIGINT) AS n_tokens
         |  FROM documents),
         |  tot AS (SELECT stratum, sum(n_tokens) AS t_total
         |          FROM base GROUP BY 1 HAVING sum(n_tokens) > 0),
         |  plan AS (SELECT stratum, t_total,
         |    (CAST(CASE stratum WHEN 'en' THEN 500 WHEN 'zh' THEN 200
         |                       WHEN 'de' THEN 150 WHEN 'fr' THEN 100
         |                       WHEN 'es' THEN 50 ELSE 0 END AS BIGINT)
         |     * 60000) // 1000 AS target
         |    FROM tot),
         |  p2 AS (SELECT stratum, target // t_total AS full_epochs,
         |           ((target % t_total) * 1000) // t_total AS frac_pm
         |         FROM plan)
         |SELECT b.doc_id, b.stratum, b.n_tokens,
         |  CAST(full_epochs + (CASE WHEN
         |    ${TextOps.pmBucketSql("md5(CAST(b.doc_id AS VARCHAR))")} < frac_pm
         |    THEN 1 ELSE 0 END) AS BIGINT) AS repeats
         |FROM base b JOIN p2 USING (stratum)
         |ORDER BY b.doc_id""".stripMargin) { spark =>
      TextOps.epochPlan(spark.table("documents"), "doc_id", "text", "lang",
        Map("en" -> 500, "zh" -> 200, "de" -> 150, "fr" -> 100, "es" -> 50),
        budget = 60000L).orderBy("doc_id")
    },

    // Temperature-based mixture weighting ([[graft.ops.TextOps
    // .alphaMixture]]): per-language size^0.5 smoothing — the
    // multilingual sampling rule that up-weights small strata — turned
    // into integer budget shares. ep1 consumes hand-set per-mille
    // weights; this DERIVES them from the corpus. One hash aggregate →
    // |strata| rows; the only double op is exp(α·ln n), micro-rounded
    // (exp/ln are bit-identical across engines, the qc2 discipline),
    // then pure integer normalization against the broadcast total.
    QueryDef.views("as1_alpha_mixture",
      """WITH s AS (SELECT lang AS stratum, CAST(sum(n_chars) AS BIGINT)
        |             AS n_size
        |           FROM documents GROUP BY 1),
        |w AS (SELECT stratum, n_size,
        |        CAST(round(exp(0.5 * ln(CAST(n_size AS DOUBLE))) * 1000000)
        |          AS BIGINT) AS w_micro
        |      FROM s WHERE n_size > 0),
        |t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS w_tot FROM w)
        |SELECT w.stratum, w.n_size, w.w_micro,
        |       CAST((1000000000 * w.w_micro) // t.w_tot AS BIGINT)
        |         AS target_size
        |FROM w, t ORDER BY stratum""".stripMargin) { spark =>
      TextOps.alphaMixture(spark.table("documents"), "lang", "n_chars",
          alphaNum = 1, alphaDen = 2, budget = 1000000000L)
        .orderBy("stratum")
    },

    // Composition: alphaMixture-DERIVED weights drive the epoch planner
    // end to end — the full "decide the mix, then realize it as per-doc
    // repeats" path a pretraining assembly runs. The |strata|-row
    // mixture is collected to the planner's weight map (bounded by
    // distinct langs, the same plan-side smallness epochPlan already
    // assumes); the oracle recomputes BOTH stages as one CTE chain, so
    // a drift anywhere — smoothing, per-mille conversion, epoch split,
    // fractional hash slice — breaks the hash on some doc.
    QueryDef.views("am1_alpha_epoch_plan",
      s"""WITH s AS (SELECT lang AS stratum, CAST(sum(n_chars) AS BIGINT)
         |             AS n_size
         |           FROM documents GROUP BY 1),
         |w AS (SELECT stratum, n_size,
         |        CAST(round(exp(0.5 * ln(CAST(n_size AS DOUBLE))) * 1000000)
         |          AS BIGINT) AS w_micro
         |      FROM s WHERE n_size > 0),
         |t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS w_tot FROM w),
         |pm AS (SELECT w.stratum,
         |         CAST((1000 * w.w_micro) // t.w_tot AS BIGINT) AS w_pm
         |       FROM w, t),
         |base AS (SELECT doc_id, lang AS stratum,
         |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0))
         |      AS BIGINT) AS n_tokens
         |  FROM documents),
         |tot AS (SELECT stratum, sum(n_tokens) AS t_total
         |        FROM base GROUP BY 1 HAVING sum(n_tokens) > 0),
         |plan AS (SELECT tot.stratum, t_total,
         |    (pm.w_pm * 60000) // 1000 AS target
         |  FROM tot JOIN pm USING (stratum)),
         |p2 AS (SELECT stratum, target // t_total AS full_epochs,
         |         ((target % t_total) * 1000) // t_total AS frac_pm
         |       FROM plan)
         |SELECT b.doc_id, b.stratum, b.n_tokens,
         |  CAST(full_epochs + (CASE WHEN
         |    ${TextOps.pmBucketSql("md5(CAST(b.doc_id AS VARCHAR))")} < frac_pm
         |    THEN 1 ELSE 0 END) AS BIGINT) AS repeats
         |FROM base b JOIN p2 USING (stratum)
         |ORDER BY b.doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val mix = TextOps.alphaMixture(docs, "lang", "n_chars", 1, 2,
        budget = 1000000000L)
      val wTot = mix.agg(sum("w_micro")).head().getLong(0)
      val weightsPm = mix.select("stratum", "w_micro").collect()
        .map(r => r.getString(0) ->
          ((1000L * r.getLong(1)) / wTot).toInt).toMap
      TextOps.epochPlan(docs, "doc_id", "text", "lang", weightsPm,
        budget = 60000L).orderBy("doc_id")
    },

    // PageRank authority prior over a deterministic link graph (doc i
    // links to (i*7 + k²) mod N for k = 1..1+i%3): all-integer mass
    // arithmetic makes 3 supersteps bit-identical across engines — the
    // oracle unrolls the same three iterations as CTEs. Bench-relevant:
    // iterative edge-join + contribution hash-agg is a plan family
    // (Pregel-as-DataFrames) nothing else in the suite exercises.
    QueryDef.views("pr1_pagerank", {
      val S = "1000000000000"
      val iterCtes = (1 to 3).map { i =>
        s"""  c$i AS (SELECT e.dst AS v,
           |    CAST(sum((p.pr * 850 // 1000) // d.outdeg) AS BIGINT) AS m
           |    FROM e JOIN p${i - 1} p ON e.src = p.v
           |    JOIN deg d ON d.src = e.src GROUP BY 1),
           |  p$i AS (SELECT nodes.v,
           |    CAST(($S * 150 // 1000) // n.n + COALESCE(c$i.m, 0) AS BIGINT)
           |      AS pr
           |    FROM nodes LEFT JOIN c$i ON nodes.v = c$i.v, n)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT count(*) AS ndoc FROM documents),
         |  ks AS (SELECT doc_id AS src,
         |           unnest(range(1, 2 + doc_id % 3)) AS k
         |         FROM documents),
         |  e AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
         |        FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
         |  nodes AS (SELECT DISTINCT v FROM
         |    (SELECT src AS v FROM e UNION SELECT dst AS v FROM e)),
         |  n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |  deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |          FROM e GROUP BY 1),
         |  p0 AS (SELECT v, CAST($S // n.n AS BIGINT) AS pr FROM nodes, n),
         |$iterCtes
         |SELECT v, pr FROM p3 ORDER BY v""".stripMargin
    }) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
      GraphOps.pageRank(edges, "src", "dst", iterations = 3).orderBy("v")
    },

    // Multi-query BM25 retrieval: inverted-index join + mergeable
    // topk_pairs head (never a corpus-wide window). Per-term scores
    // round to ppm BIGINTs before the cross-term sum (exact integer
    // addition, order-free), so the DuckDB mirror — which selects the
    // head with a row_number window, fine at oracle scale — must agree
    // bit-for-bit on scores AND (score desc, doc_id asc) ranking.
    // BM25 from a PERSISTED inverted index
    // ([[graft.ops.TextOps.buildBm25Index]] →
    // [[graft.ops.TextOps.bm25ServeFromIndex]]): the build-once /
    // serve-many deployment split. The index is written to parquet
    // sorted by token and read back; the serve plan's only corpus-
    // shaped input is the postings table filtered by the query terms —
    // on parquet the IN-list pushes into the scan, so queries read the
    // matching postings lists, not the corpus. Graded against rt1's
    // EXACT oracle: the persisted-index path must reproduce the direct
    // path bit-for-bit (same ppm scores, same tie-breaks).
    QueryDef("rt2_bm25_from_index", (spark, sfDir) => {
      graft.Tables.registerAll(spark, sfDir)
      val docs = spark.table("documents")
      val base = StreamRun.fixture(spark, "bm25idx", "bm25idxv1", sfDir,
          "documents") { build =>
        TextOps.buildBm25Index(docs, "doc_id", "text")
          .sortWithinPartitions("token") // row-group stats carry token
          .write.mode("overwrite").parquet(s"$build/postings")
        TextOps.bm25IndexStats(docs, "text")
          .write.mode("overwrite").parquet(s"$build/stats")
      }
      TextOps.bm25ServeFromIndex(
        spark.read.parquet(s"$base/postings"),
        spark.read.parquet(s"$base/stats"),
        Seq(0 -> Seq("scan", "merge", "join"),
          1 -> Seq("window", "hash"),
          2 -> Seq("stream", "batch", "spark"),
          3 -> Seq("dup", "sort")),
        k = 5).orderBy("query_id", "rank")
    }, Some(
      """WITH d AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |          CAST(sum(len(w)) AS BIGINT) AS sum_dl FROM d),
        |  p AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |          unnest(w) AS token FROM d),
        |  pt AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
        |         FROM p
        |         WHERE token IN ('scan','merge','join','window','hash',
        |                         'stream','batch','spark','dup','sort')
        |         GROUP BY 1, 2, 3),
        |  dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |          FROM pt GROUP BY 1),
        |  q AS (SELECT * FROM (VALUES (0,'scan'),(0,'merge'),(0,'join'),
        |          (1,'window'),(1,'hash'),
        |          (2,'stream'),(2,'batch'),(2,'spark'),
        |          (3,'dup'),(3,'sort')) AS t(query_id, token)),
        |  sc AS (SELECT q.query_id, pt.doc_id,
        |           CAST(sum(CAST(round(
        |             (((n_docs - df) + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
        |             * (tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |             / (tf + CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
        |                 + CAST(0.75 AS DOUBLE) * dl / (sum_dl / n_docs)))
        |             * 1000000) AS BIGINT)) AS BIGINT) AS score_ppm
        |         FROM pt JOIN q USING (token) JOIN dfq USING (token)
        |         CROSS JOIN s GROUP BY 1, 2),
        |  r AS (SELECT query_id, doc_id, score_ppm,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY score_ppm DESC, doc_id) AS rank
        |        FROM sc)
        |SELECT CAST(query_id AS BIGINT) AS query_id,
        |       CAST(rank AS BIGINT) AS rank, doc_id, score_ppm
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    QueryDef.views("rt1_bm25_retrieval",
      """WITH d AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |          CAST(sum(len(w)) AS BIGINT) AS sum_dl FROM d),
        |  p AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |          unnest(w) AS token FROM d),
        |  pt AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
        |         FROM p
        |         WHERE token IN ('scan','merge','join','window','hash',
        |                         'stream','batch','spark','dup','sort')
        |         GROUP BY 1, 2, 3),
        |  dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |          FROM pt GROUP BY 1),
        |  q AS (SELECT * FROM (VALUES (0,'scan'),(0,'merge'),(0,'join'),
        |          (1,'window'),(1,'hash'),
        |          (2,'stream'),(2,'batch'),(2,'spark'),
        |          (3,'dup'),(3,'sort')) AS t(query_id, token)),
        |  sc AS (SELECT q.query_id, pt.doc_id,
        |           CAST(sum(CAST(round(
        |             (((n_docs - df) + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
        |             * (tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |             / (tf + CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
        |                 + CAST(0.75 AS DOUBLE) * dl / (sum_dl / n_docs)))
        |             * 1000000) AS BIGINT)) AS BIGINT) AS score_ppm
        |         FROM pt JOIN q USING (token) JOIN dfq USING (token)
        |         CROSS JOIN s GROUP BY 1, 2),
        |  r AS (SELECT query_id, doc_id, score_ppm,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY score_ppm DESC, doc_id) AS rank
        |        FROM sc)
        |SELECT CAST(query_id AS BIGINT) AS query_id,
        |       CAST(rank AS BIGINT) AS rank, doc_id, score_ppm
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { spark =>
      TextOps.bm25Retrieve(spark.table("documents"), "doc_id", "text",
        Seq(0 -> Seq("scan", "merge", "join"),
          1 -> Seq("window", "hash"),
          2 -> Seq("stream", "batch", "spark"),
          3 -> Seq("dup", "sort")),
        k = 5).orderBy("query_id", "rank")
    },

    // Hybrid retrieval: BM25 relevance fused with PageRank authority by
    // reciprocal-rank fusion ([[graft.ops.TextOps.hybridRerank]]) — the
    // quality-aware rerank a search/RAG stack runs over its candidate
    // list. Everything is exact integer arithmetic (ppm BM25 scores,
    // integer PageRank mass, 10⁶ div (60+rank) fusion), so the oracle —
    // rt1's retrieval CTEs composed with pr1's unrolled PageRank CTEs
    // plus the same fusion — must agree bit-for-bit on scores AND
    // ranking. The rerank windows partition into ≤20 candidates per
    // query: |queries|·k work regardless of corpus size.
    QueryDef.views("hy1_hybrid_rrf", {
      val S = "1000000000000"
      val iterCtes = (1 to 3).map { i =>
        s"""  c$i AS (SELECT e.dst AS v,
           |    CAST(sum((p.pr * 850 // 1000) // d.outdeg) AS BIGINT) AS m
           |    FROM e JOIN p${i - 1} p ON e.src = p.v
           |    JOIN deg d ON d.src = e.src GROUP BY 1),
           |  p$i AS (SELECT nodes.v,
           |    CAST(($S * 150 // 1000) // n.n + COALESCE(c$i.m, 0) AS BIGINT)
           |      AS pr
           |    FROM nodes LEFT JOIN c$i ON nodes.v = c$i.v, n)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS (SELECT doc_id,
         |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
         |           FROM documents),
         |  s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |          CAST(sum(len(w)) AS BIGINT) AS sum_dl FROM d),
         |  p AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
         |          unnest(w) AS token FROM d),
         |  pt AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
         |         FROM p
         |         WHERE token IN ('scan','merge','join','window','hash',
         |                         'stream','batch','spark','dup','sort')
         |         GROUP BY 1, 2, 3),
         |  dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
         |          FROM pt GROUP BY 1),
         |  q AS (SELECT * FROM (VALUES (0,'scan'),(0,'merge'),(0,'join'),
         |          (1,'window'),(1,'hash'),
         |          (2,'stream'),(2,'batch'),(2,'spark'),
         |          (3,'dup'),(3,'sort')) AS t(query_id, token)),
         |  sc AS (SELECT q.query_id, pt.doc_id,
         |           CAST(sum(CAST(round(
         |             (((n_docs - df) + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
         |             * (tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         |             / (tf + CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
         |                 + CAST(0.75 AS DOUBLE) * dl / (sum_dl / n_docs)))
         |             * 1000000) AS BIGINT)) AS BIGINT) AS score_ppm
         |         FROM pt JOIN q USING (token) JOIN dfq USING (token)
         |         CROSS JOIN s GROUP BY 1, 2),
         |  r AS (SELECT query_id, doc_id, score_ppm,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY score_ppm DESC, doc_id) AS rank
         |        FROM sc),
         |  nn AS (SELECT count(*) AS ndoc FROM documents),
         |  ks AS (SELECT doc_id AS src,
         |           unnest(range(1, 2 + doc_id % 3)) AS k
         |         FROM documents),
         |  e AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
         |        FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
         |  nodes AS (SELECT DISTINCT v FROM
         |    (SELECT src AS v FROM e UNION SELECT dst AS v FROM e)),
         |  n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |  deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |          FROM e GROUP BY 1),
         |  p0 AS (SELECT v, CAST($S // n.n AS BIGINT) AS pr FROM nodes, n),
         |$iterCtes,
         |  cand AS (SELECT query_id, doc_id, rank AS rank_lex FROM r
         |           WHERE rank <= 20),
         |  au AS (SELECT c.query_id, c.doc_id, c.rank_lex,
         |           row_number() OVER (PARTITION BY c.query_id
         |             ORDER BY p3.pr DESC, c.doc_id) AS rank_auth
         |         FROM cand c JOIN p3 ON c.doc_id = p3.v),
         |  f AS (SELECT query_id, doc_id,
         |          CAST(1000000 // (60 + rank_lex)
         |             + 1000000 // (60 + rank_auth) AS BIGINT) AS fused_ppm
         |        FROM au),
         |  rr AS (SELECT query_id, doc_id, fused_ppm,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY fused_ppm DESC, doc_id) AS rank
         |         FROM f)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |       CAST(rank AS BIGINT) AS rank, doc_id, fused_ppm
         |FROM rr WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }) { spark =>
      val docs = spark.table("documents")
      val retrieved = TextOps.bm25Retrieve(docs, "doc_id", "text",
        Seq(0 -> Seq("scan", "merge", "join"),
          1 -> Seq("window", "hash"),
          2 -> Seq("stream", "batch", "spark"),
          3 -> Seq("dup", "sort")),
        k = 20)
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
      val auth = GraphOps.pageRank(edges, "src", "dst", iterations = 3)
        .withColumnRenamed("v", "doc_id")
      TextOps.hybridRerank(retrieved, auth, "pr", rrfK = 60, topK = 5)
        .orderBy("query_id", "rank")
    },

    // ndcg1 — NDCG@10 of the rt1 BM25 run against graded relevance
    // (grade = how many of the query's terms the doc contains, 1..3):
    // the eval loop that closes the retrieval tier (rt1 produces a run,
    // THIS scores it). Gains 2^g−1 and a pre-rounded ppb discount TABLE
    // ([[graft.ops.Stats.ndcgDiscountsPpb]] — no engine evaluates log2
    // at query time) keep DCG/IDCG exact integers; the ideal ranking is
    // grade-count interval arithmetic, never a sort of the judged pool.
    QueryDef.views("ndcg1_retrieval_eval", {
      val discRows = Stats.ndcgDiscountsPpb
        .map { case (r, d) => s"($r, ${d})" }.mkString(", ")
      s"""WITH d AS (SELECT doc_id,
         |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
         |           FROM documents),
         |  s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |          CAST(sum(len(w)) AS BIGINT) AS sum_dl FROM d),
         |  p AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
         |          unnest(w) AS token FROM d),
         |  pt AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
         |         FROM p
         |         WHERE token IN ('scan','merge','join','window','hash',
         |                         'stream','batch','spark','dup','sort')
         |         GROUP BY 1, 2, 3),
         |  dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
         |          FROM pt GROUP BY 1),
         |  q AS (SELECT * FROM (VALUES (0,'scan'),(0,'merge'),(0,'join'),
         |          (1,'window'),(1,'hash'),
         |          (2,'stream'),(2,'batch'),(2,'spark'),
         |          (3,'dup'),(3,'sort')) AS t(query_id, token)),
         |  sc AS (SELECT q.query_id, pt.doc_id,
         |           CAST(sum(CAST(round(
         |             (((n_docs - df) + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
         |             * (tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         |             / (tf + CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
         |                 + CAST(0.75 AS DOUBLE) * dl / (sum_dl / n_docs)))
         |             * 1000000) AS BIGINT)) AS BIGINT) AS score_ppm
         |         FROM pt JOIN q USING (token) JOIN dfq USING (token)
         |         CROSS JOIN s GROUP BY 1, 2),
         |  r AS (SELECT query_id, doc_id,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY score_ppm DESC, doc_id) AS rank
         |        FROM sc),
         |  jm AS (SELECT q.query_id, dt.doc_id, count(*) AS g
         |         FROM (SELECT doc_id, unnest(list_distinct(w)) AS token
         |               FROM d) dt
         |         JOIN q USING (token) GROUP BY 1, 2),
         |  disc AS (SELECT * FROM (VALUES $discRows) AS t(rk, disc_ppb)),
         |  dcg AS (SELECT r.query_id,
         |            CAST(sum(((1 << COALESCE(jm.g, 0)) - 1) * disc_ppb)
         |              AS BIGINT) AS dcg_ppb
         |          FROM r JOIN disc ON r.rank = disc.rk
         |          LEFT JOIN jm ON jm.query_id = r.query_id
         |            AND jm.doc_id = r.doc_id
         |          WHERE r.rank <= 10 GROUP BY 1),
         |  bg AS (SELECT query_id, g, count(*) AS n FROM jm GROUP BY 1, 2),
         |  ivl AS (SELECT query_id, g,
         |            sum(n) OVER (PARTITION BY query_id ORDER BY g DESC) AS hi,
         |            sum(n) OVER (PARTITION BY query_id ORDER BY g DESC) - n AS lo
         |          FROM bg),
         |  idcg AS (SELECT ivl.query_id,
         |             CAST(sum(((1 << g) - 1) * disc_ppb) AS BIGINT) AS idcg_ppb
         |           FROM ivl JOIN disc ON disc.rk > ivl.lo AND disc.rk <= ivl.hi
         |           GROUP BY 1)
         |SELECT CAST(dcg.query_id AS BIGINT) AS query_id, dcg_ppb, idcg_ppb,
         |       CAST(dcg_ppb * 1000000 // idcg_ppb AS BIGINT) AS ndcg_ppm
         |FROM dcg LEFT JOIN idcg ON dcg.query_id = idcg.query_id
         |ORDER BY query_id""".stripMargin
    }) { spark =>
      import spark.implicits._
      val terms = Seq(0 -> Seq("scan", "merge", "join"),
        1 -> Seq("window", "hash"),
        2 -> Seq("stream", "batch", "spark"),
        3 -> Seq("dup", "sort"))
      val docs = spark.table("documents")
      val run = TextOps.bm25Retrieve(docs, "doc_id", "text", terms, k = 10)
      val qt = terms.flatMap { case (q, ts) => ts.map(t => (q.toLong, t)) }
        .toDF("query_id", "token")
      // graded relevance: distinct query terms present in the doc —
      // one tokenize scan, broadcast term list, (query, doc) hash agg
      val judged = docs.select(col("doc_id"), explode(array_distinct(
          filter(split(col("text"), " "), t => length(t) > 0))).as("token"))
        .join(broadcast(qt), "token")
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("grade"))
      Stats.ndcgAtK(run, "query_id", "doc_id", "rank",
        judged, "query_id", "doc_id", "grade", k = 10)
        .orderBy("query_id")
    },

    // ir1 — precision/recall/reciprocal-rank@10 of the same run and
    // judgments as ndcg1 ([[graft.ops.Stats.binaryRetrievalEval]]): the
    // binary-relevance eval triple (grade ≥ 1 = relevant) in exact
    // ppm integers. One run⋈judgments left join + two hash aggs.
    QueryDef.views("ir1_retrieval_pr",
      s"""WITH d AS (SELECT doc_id,
         |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
         |           FROM documents),
         |  s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |          CAST(sum(len(w)) AS BIGINT) AS sum_dl FROM d),
         |  p AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
         |          unnest(w) AS token FROM d),
         |  pt AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
         |         FROM p
         |         WHERE token IN ('scan','merge','join','window','hash',
         |                         'stream','batch','spark','dup','sort')
         |         GROUP BY 1, 2, 3),
         |  dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
         |          FROM pt GROUP BY 1),
         |  q AS (SELECT * FROM (VALUES (0,'scan'),(0,'merge'),(0,'join'),
         |          (1,'window'),(1,'hash'),
         |          (2,'stream'),(2,'batch'),(2,'spark'),
         |          (3,'dup'),(3,'sort')) AS t(query_id, token)),
         |  sc AS (SELECT q.query_id, pt.doc_id,
         |           CAST(sum(CAST(round(
         |             (((n_docs - df) + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
         |             * (tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         |             / (tf + CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
         |                 + CAST(0.75 AS DOUBLE) * dl / (sum_dl / n_docs)))
         |             * 1000000) AS BIGINT)) AS BIGINT) AS score_ppm
         |         FROM pt JOIN q USING (token) JOIN dfq USING (token)
         |         CROSS JOIN s GROUP BY 1, 2),
         |  r AS (SELECT query_id, doc_id,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY score_ppm DESC, doc_id) AS rank
         |        FROM sc),
         |  jm AS (SELECT q.query_id, dt.doc_id, count(*) AS g
         |         FROM (SELECT doc_id, unnest(list_distinct(w)) AS token
         |               FROM d) dt
         |         JOIN q USING (token) GROUP BY 1, 2),
         |  h AS (SELECT r.query_id, r.rank,
         |          CASE WHEN jm.g IS NOT NULL THEN 1 ELSE 0 END AS rel
         |        FROM r LEFT JOIN jm ON jm.query_id = r.query_id
         |          AND jm.doc_id = r.doc_id
         |        WHERE r.rank <= 10),
         |  nj AS (SELECT query_id, count(*) AS njud FROM jm GROUP BY 1),
         |  a AS (SELECT query_id, sum(rel) AS n_rel,
         |          min(CASE WHEN rel = 1 THEN rank END) AS frst
         |        FROM h GROUP BY 1)
         |SELECT CAST(a.query_id AS BIGINT) AS query_id,
         |       CAST(n_rel AS BIGINT) AS n_rel,
         |       CAST(n_rel * 1000000 // 10 AS BIGINT) AS precision_ppm,
         |       CAST(n_rel * 1000000 // njud AS BIGINT) AS recall_ppm,
         |       CAST(COALESCE(1000000 // frst, 0) AS BIGINT) AS rr_ppm
         |FROM a LEFT JOIN nj USING (query_id)
         |ORDER BY query_id""".stripMargin) { spark =>
      import spark.implicits._
      val terms = Seq(0 -> Seq("scan", "merge", "join"),
        1 -> Seq("window", "hash"),
        2 -> Seq("stream", "batch", "spark"),
        3 -> Seq("dup", "sort"))
      val docs = spark.table("documents")
      val run = TextOps.bm25Retrieve(docs, "doc_id", "text", terms, k = 10)
      val qt = terms.flatMap { case (q, ts) => ts.map(t => (q.toLong, t)) }
        .toDF("query_id", "token")
      val judged = docs.select(col("doc_id"), explode(array_distinct(
          filter(split(col("text"), " "), t => length(t) > 0))).as("token"))
        .join(broadcast(qt), "token")
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("grade"))
      Stats.binaryRetrievalEval(run, "query_id", "doc_id", "rank",
        judged, "query_id", "doc_id", "grade", k = 10)
        .orderBy("query_id")
    },

    // Composition: host authority = page-level integer PageRank (pr1's
    // graph) rolled up by the canonicalized host (WebOps extraction) —
    // the crawl-curation quality prior at the granularity per-site
    // filtering actually uses. Docs absent from the link graph
    // contribute nothing (inner join, mirrored in the oracle).
    QueryDef.views("da1_domain_authority", {
      val S = "1000000000000"
      val iterCtes = (1 to 3).map { i =>
        s"""  c$i AS (SELECT e.dst AS v,
           |    CAST(sum((p.pr * 850 // 1000) // d.outdeg) AS BIGINT) AS m
           |    FROM e JOIN p${i - 1} p ON e.src = p.v
           |    JOIN deg d ON d.src = e.src GROUP BY 1),
           |  p$i AS (SELECT nodes.v,
           |    CAST(($S * 150 // 1000) // n.n + COALESCE(c$i.m, 0) AS BIGINT)
           |      AS pr
           |    FROM nodes LEFT JOIN c$i ON nodes.v = c$i.v, n)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT count(*) AS ndoc FROM documents),
         |  ks AS (SELECT doc_id AS src,
         |           unnest(range(1, 2 + doc_id % 3)) AS k
         |         FROM documents),
         |  e AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
         |        FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
         |  nodes AS (SELECT DISTINCT v FROM
         |    (SELECT src AS v FROM e UNION SELECT dst AS v FROM e)),
         |  n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |  deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |          FROM e GROUP BY 1),
         |  p0 AS (SELECT v, CAST($S // n.n AS BIGINT) AS pr FROM nodes, n),
         |$iterCtes,
         |  dom AS (SELECT doc_id,
         |    'src' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host
         |    FROM documents)
         |SELECT dom.host, CAST(count(*) AS BIGINT) AS n_pages,
         |       CAST(sum(p3.pr) AS BIGINT) AS authority
         |FROM dom JOIN p3 ON dom.doc_id = p3.v
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
      val ranks = GraphOps.pageRank(edges, "src", "dst", iterations = 3)
      // a URL per page, sharded over 7 hosts; WebOps extracts the domain
      val urls = docs.select(col("doc_id"), expr(
        "concat('https://src', CAST(doc_id % 7 AS STRING), " +
          "'.Example.com/p/', CAST(doc_id AS STRING), '?utm_source=x')")
        .as("url"))
      WebOps.canonicalize(urls, "url")
        .select(col("doc_id"), col("host"))
        .join(ranks, col("doc_id") === col("v"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"), sum("pr").as("authority"))
        .orderBy("host")
    },

    // Weakly-connected components of the pr1 link graph through the
    // public graph API (GraphOps.connectedComponents → the cc1
    // clustering engine): grades the same min-label machinery on a
    // DENSE structured graph (≈2 directed edges/node, one giant
    // component) rather than cc1's sparse near-dup pairs.
    QueryDef.views("wc1_link_components",
      """WITH RECURSIVE
        |  nn AS (SELECT count(*) AS ndoc FROM documents),
        |  ks AS (SELECT doc_id AS src,
        |           unnest(range(1, 2 + doc_id % 3)) AS k
        |         FROM documents),
        |  e AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
        |        FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
        |  edges AS (SELECT src AS a, dst AS b FROM e
        |            UNION SELECT dst, src FROM e),
        |  walk(node, lbl) AS (
        |    SELECT a, a FROM (SELECT DISTINCT a FROM edges) base
        |    UNION
        |    SELECT e2.a, w2.lbl FROM edges e2 JOIN walk w2 ON e2.b = w2.node)
        |SELECT node AS v, min(lbl) AS component
        |FROM walk GROUP BY node ORDER BY v""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      GraphOps.connectedComponents(edges, "src", "dst").orderBy("v")
    },

    // Incremental connected components
    // ([[graft.ops.GraphOps.connectedComponentsIncremental]]): the link
    // graph split into an accumulated history (~94% of edges, labeled
    // first) and today's small crawl delta (~6%), merged in via
    // yesterday's labels as star edges — the historical edge set is
    // never re-read. The split ratio mirrors the real workload AND the
    // engine's convergence behavior: min-label rounds track component
    // diameter, so labeling a DENSE history is fast (few rounds, like
    // wc1) where an artificially sparse half-graph of long chains
    // would multiply rounds — the daily-delta shape is exactly the
    // case where incremental wins. Because CC canonicalizes to minimum
    // member id, the incremental result must be BIT-IDENTICAL to a
    // full recompute — which is exactly what the oracle computes (the
    // recursive min-label CTE over the FULL edge set, wc1's mirror).
    QueryDef.views("wc2_incremental_components",
      """WITH RECURSIVE
        |  nn AS (SELECT count(*) AS ndoc FROM documents),
        |  ks AS (SELECT doc_id AS src,
        |           unnest(range(1, 2 + doc_id % 3)) AS k
        |         FROM documents),
        |  e AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
        |        FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
        |  edges AS (SELECT src AS a, dst AS b FROM e
        |            UNION SELECT dst, src FROM e),
        |  walk(node, lbl) AS (
        |    SELECT a, a FROM (SELECT DISTINCT a FROM edges) base
        |    UNION
        |    SELECT e2.a, w2.lbl FROM edges e2 JOIN walk w2 ON e2.b = w2.node)
        |SELECT node AS v, min(lbl) AS component
        |FROM walk GROUP BY node ORDER BY v""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val history = edges.filter((col("src") * 31 + col("dst")) % 16 =!= 0)
      val today = edges.filter((col("src") * 31 + col("dst")) % 16 === 0)
      val yesterday = GraphOps.connectedComponents(history, "src", "dst")
      GraphOps.connectedComponentsIncremental(yesterday, "v", "component",
        today, "src", "dst").orderBy("v")
    },

    // Strongly-connected components
    // ([[graft.ops.GraphOps.stronglyConnectedComponents]]) — the
    // DIRECTED sibling of wc1 (mutual reachability: link cliques /
    // redirect rings, where weak components over-merge everything a
    // hub touches). Graph: blocks of 8 consecutive doc_ids closed into
    // directed rings (each ring = one SCC, diameter 8 by construction)
    // plus a condensation edge from every EVEN block's minimum to the
    // next block's minimum — a depth-1 DAG between SCCs, so the
    // engine's min-pivot forward/backward peel needs exactly 2 peels
    // (even-block SCCs certify minF = minB on peel 1; odd blocks see a
    // smaller even-block id in minF until their predecessor leaves).
    // The oracle never peels: it materializes forward and backward
    // reachability closures (bounded — ≤ 2 rings per node) and takes
    // min over their intersection, i.e. the DEFINITION of "min u with
    // u reaches v and v reaches u" — agreement is a two-strategy proof
    // of the same canonical labels, wc1's pattern directed.
    QueryDef.views("scc1_strong_components",
      """WITH RECURSIVE
        |  nn AS (SELECT count(*) AS n FROM documents),
        |  ring AS (SELECT doc_id AS src,
        |             CASE WHEN (doc_id + 1) % 8 = 0 OR doc_id + 1 = nn.n
        |                  THEN 8 * (doc_id // 8) ELSE doc_id + 1
        |             END AS dst
        |           FROM documents, nn),
        |  cr AS (SELECT doc_id AS src, doc_id + 8 AS dst
        |         FROM documents, nn
        |         WHERE doc_id % 16 = 0 AND doc_id + 8 < nn.n),
        |  e AS MATERIALIZED (
        |    SELECT DISTINCT src, dst FROM
        |      (SELECT src, dst FROM ring UNION ALL SELECT src, dst FROM cr)
        |    WHERE src <> dst),
        |  nodes AS MATERIALIZED (SELECT DISTINCT v FROM
        |    (SELECT src AS v FROM e UNION SELECT dst FROM e)),
        |  wf(node, lbl) AS (
        |    SELECT v, v FROM nodes
        |    UNION
        |    SELECT e.dst, w.lbl FROM e JOIN wf w ON e.src = w.node),
        |  wb(node, lbl) AS (
        |    SELECT v, v FROM nodes
        |    UNION
        |    SELECT e.src, w.lbl FROM e JOIN wb w ON e.dst = w.node)
        |SELECT f.node AS v, min(f.lbl) AS scc
        |FROM wf f JOIN wb b ON f.node = b.node AND f.lbl = b.lbl
        |GROUP BY f.node ORDER BY v""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("n"))
      val base = docs.crossJoin(broadcast(nn))
      val ring = base.selectExpr("doc_id AS src",
        "CASE WHEN (doc_id + 1) % 8 = 0 OR doc_id + 1 = n " +
          "THEN 8 * (doc_id div 8) ELSE doc_id + 1 END AS dst")
      val crossE = base
        .filter(expr("doc_id % 16 = 0 AND doc_id + 8 < n"))
        .selectExpr("doc_id AS src", "doc_id + 8 AS dst")
      GraphOps.stronglyConnectedComponents(
        ring.unionByName(crossE), "src", "dst", maxPeels = 4)
        .orderBy("v")
    },

    // Multi-source BFS hop distance ([[graft.ops.GraphOps.shortestPaths]])
    // on the same link graph — seed-proximity (distance from trusted
    // seeds is a crawl-quality prior). Spark runs level-synchronous
    // frontier relaxation (per-round exchanges carry node ids + one
    // BIGINT, edges partitioned once); the oracle re-derives the same
    // distances with a hop-bounded recursive CTE and min(d) — a
    // completely different evaluation strategy over the same graph.
    QueryDef.views("bf1_bfs_distance",
      """WITH RECURSIVE
        |  nn AS (SELECT count(*) AS ndoc FROM documents),
        |  ks AS (SELECT doc_id AS src,
        |           unnest(range(1, 2 + doc_id % 3)) AS k
        |         FROM documents),
        |  e AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
        |        FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
        |  s AS (SELECT doc_id AS v FROM documents WHERE doc_id % 250 = 0),
        |  walk(v, d) AS (
        |    SELECT v, 0 FROM s
        |    UNION
        |    SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.v
        |    WHERE w.d < 8)
        |SELECT v, CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY v ORDER BY v""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
      val sources = docs.filter(col("doc_id") % 250 === 0)
      GraphOps.shortestPaths(edges, "src", "dst", sources, "doc_id",
        maxHops = 8).orderBy("v")
    },

    // Per-node triangle counts ([[graft.ops.GraphOps.triangleCounts]])
    // on the same dense link graph — the local-clustering signal
    // (link-farm detection). Spark runs degree-ordered compact-forward
    // (every triangle found once, at its minimum-(deg,id) apex; hub
    // in-links produce no wedges); the oracle brute-forces the ordered
    // 3-clique join x<y<z and explodes each triangle to its corners —
    // same multiset by a completely different enumeration.
    QueryDef.views("tc1_triangles",
      """WITH nn AS (SELECT count(*) AS ndoc FROM documents),
        |  ks AS (SELECT doc_id AS src,
        |           unnest(range(1, 2 + doc_id % 3)) AS k
        |         FROM documents),
        |  e AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
        |        FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
        |  ue AS (SELECT DISTINCT least(src, dst) AS a,
        |                greatest(src, dst) AS b FROM e),
        |  tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |          FROM ue e1
        |          JOIN ue e2 ON e2.a = e1.b
        |          JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b),
        |  corners AS (SELECT x AS v FROM tri
        |              UNION ALL SELECT y FROM tri
        |              UNION ALL SELECT z FROM tri)
        |SELECT v, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM corners GROUP BY v ORDER BY v""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      GraphOps.triangleCounts(edges, "src", "dst").orderBy("v")
    },

    // lcc1 — local clustering coefficient per node over tc1's graph:
    // the community-density signal (link farms cluster, organic hubs
    // don't). Exact ppm from triangle counts + degrees; the oracle
    // re-enumerates triangles by the independent 3-clique join.
    QueryDef.views("lcc1_local_clustering",
      """WITH nn AS (SELECT count(*) AS ndoc FROM documents),
        |  ks AS (SELECT doc_id AS src,
        |           unnest(range(1, 2 + doc_id % 3)) AS k
        |         FROM documents),
        |  e AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
        |        FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
        |  ue AS (SELECT DISTINCT least(src, dst) AS a,
        |                greatest(src, dst) AS b FROM e),
        |  tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |          FROM ue e1
        |          JOIN ue e2 ON e2.a = e1.b
        |          JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b),
        |  corners AS (SELECT x AS v FROM tri
        |              UNION ALL SELECT y FROM tri
        |              UNION ALL SELECT z FROM tri),
        |  tcnt AS (SELECT v, CAST(count(*) AS BIGINT) AS t
        |           FROM corners GROUP BY v),
        |  dg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM
        |           (SELECT a AS v FROM ue UNION ALL SELECT b FROM ue)
        |         GROUP BY 1)
        |SELECT dg.v, deg, coalesce(t, 0) AS n_triangles,
        |       CAST(CASE WHEN deg >= 2 THEN
        |           (2000000 * coalesce(t, 0)) // (deg * (deg - 1)) END
        |         AS BIGINT) AS lcc_ppm
        |FROM dg LEFT JOIN tcnt USING (v) ORDER BY v""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      GraphOps.clusteringCoefficient(edges, "src", "dst").orderBy("v")
    },

    // asr1 — degree assortativity of the same graph: Pearson over the
    // symmetric endpoint-degree pairs, assembled from ols1's exact
    // integer moments (on a symmetric pair set the fit's slope IS the
    // correlation) — one labels-only degree join + a 1-row moment fold.
    QueryDef.views("asr1_degree_assortativity",
      """WITH nn AS (SELECT count(*) AS ndoc FROM documents),
        |  ks AS (SELECT doc_id AS src,
        |           unnest(range(1, 2 + doc_id % 3)) AS k
        |         FROM documents),
        |  e AS (SELECT DISTINCT src, (src * 7 + k * k) % nn.ndoc AS dst
        |        FROM ks, nn WHERE (src * 7 + k * k) % nn.ndoc <> src),
        |  ue AS (SELECT DISTINCT least(src, dst) AS a,
        |                greatest(src, dst) AS b FROM e),
        |  dg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM
        |           (SELECT a AS v FROM ue UNION ALL SELECT b FROM ue)
        |         GROUP BY 1),
        |  wd AS (SELECT d1.deg AS da, d2.deg AS db
        |         FROM ue JOIN dg d1 ON d1.v = ue.a
        |         JOIN dg d2 ON d2.v = ue.b),
        |  p AS (SELECT da AS x, db AS y FROM wd
        |        UNION ALL SELECT db, da FROM wd),
        |  m AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
        |          sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx
        |        FROM p)
        |SELECT CAST(n AS BIGINT) AS n_pairs,
        |       CAST(CASE WHEN n*sxx - sx*sx <> 0 THEN
        |           (1000000*(n*sxy - sx*sy)) // (n*sxx - sx*sx) END
        |         AS BIGINT) AS r_ppm
        |FROM m""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val nn = docs.agg(count(lit(1)).as("ndoc"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(expr("sequence(1, CAST(1 + doc_id % 3 AS INT))")).as("k"),
          col("ndoc"))
        .select(col("src"), expr("(src * 7 + k * k) % ndoc").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      GraphOps.degreeAssortativity(edges, "src", "dst")
    },

    // Bloom-accelerated decontamination: Spark's runtime-filter bloom
    // (bloom_filter_agg scalar subquery + might_contain inside the train
    // scan) pre-filters grams before the exact confirm join — results
    // are IDENTICAL to the exact op (no false negatives; positives are
    // exact-confirmed), so the oracle is the plain exact SQL. Different
    // eval split (% 89) than dc1 so the two entries grade different
    // row sets.
    QueryDef.views("dc2_decontam_bloom",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  g AS (SELECT doc_id, unnest(list_distinct(
        |           CASE WHEN len(w) >= 5
        |                THEN list_transform(range(1, len(w) - 3),
        |                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
        |                ELSE [] END)) AS gram
        |        FROM t),
        |  ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 89 = 0),
        |  sh AS (SELECT g.doc_id, count(*) AS n_shared
        |         FROM g JOIN ev USING (gram) WHERE g.doc_id % 89 <> 0
        |         GROUP BY 1)
        |SELECT d.doc_id, COALESCE(sh.n_shared, 0) AS n_shared,
        |       COALESCE(sh.n_shared, 0) = 0 AS keep
        |FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id
        |WHERE d.doc_id % 89 <> 0 ORDER BY d.doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents")
      TextOps.decontaminateBloom(
          docs.filter(pmod(col("doc_id"), lit(89)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(89)) === 0),
          "doc_id", "text", n = 5)
        .orderBy("doc_id")
    },

    // Concat-and-chunk sequence packing: token cumsum per (lang, shard)
    // stream cut into 256-token windows; a doc may straddle windows.
    QueryDef.views("pk1_pack",
      """WITH t AS (SELECT doc_id, lang, CAST(doc_id % 8 AS BIGINT) AS shard,
        |             CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |           FROM documents)
        |SELECT doc_id, lang, shard, n_tokens, tok_offset,
        |  tok_offset // 256 AS first_window,
        |  (tok_offset + greatest(n_tokens, 1) - 1) // 256 AS last_window
        |FROM (SELECT doc_id, lang, shard, n_tokens,
        |        CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard
        |          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          0) AS BIGINT) AS tok_offset
        |      FROM t)
        |ORDER BY doc_id""".stripMargin) { spark =>
      TextOps.packSequences(spark.table("documents"), "doc_id", "text",
          "lang", budget = 256, shards = 8)
        .orderBy("doc_id")
    },

    // BM25 relevance to a seed term set (log-free rational idf — every
    // arithmetic step is an IEEE basic op in the same order on both
    // engines, so score_ppm is integer-exact cross-engine). 'dup' is the
    // rare term (df ~5%), the others are common — exercises both idf
    // regimes.
    QueryDef.views("bm1_bm25",
      """WITH d AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  p AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
        |          CAST(len(list_filter(w, x -> x = 'dup')) AS BIGINT) AS tf_dup,
        |          CAST(len(list_filter(w, x -> x = 'scan')) AS BIGINT) AS tf_scan,
        |          CAST(len(list_filter(w, x -> x = 'merge')) AS BIGINT) AS tf_merge
        |        FROM d),
        |  s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |          CAST(sum(dl) AS BIGINT) AS sum_dl,
        |          CAST(sum(CASE WHEN tf_dup > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_dup,
        |          CAST(sum(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_scan,
        |          CAST(sum(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_merge
        |        FROM p)
        |SELECT doc_id, dl, tf_dup, tf_scan, tf_merge,
        |  CAST(round((
        |    (((n_docs - df_dup) + CAST(0.5 AS DOUBLE)) / (df_dup + CAST(0.5 AS DOUBLE)))
        |      * (tf_dup * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |      / (tf_dup + CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
        |          + CAST(0.75 AS DOUBLE) * dl / (sum_dl / n_docs)))
        |    + (((n_docs - df_scan) + CAST(0.5 AS DOUBLE)) / (df_scan + CAST(0.5 AS DOUBLE)))
        |      * (tf_scan * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |      / (tf_scan + CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
        |          + CAST(0.75 AS DOUBLE) * dl / (sum_dl / n_docs)))
        |    + (((n_docs - df_merge) + CAST(0.5 AS DOUBLE)) / (df_merge + CAST(0.5 AS DOUBLE)))
        |      * (tf_merge * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |      / (tf_merge + CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
        |          + CAST(0.75 AS DOUBLE) * dl / (sum_dl / n_docs)))
        |  ) * 1000000) AS BIGINT) AS score_ppm
        |FROM p CROSS JOIN s ORDER BY doc_id""".stripMargin) { spark =>
      TextOps.bm25(spark.table("documents"), "doc_id", "text",
          Seq("dup", "scan", "merge"))
        .orderBy("doc_id")
    },

    // Pattern redaction (PII-style scrub): stopword-class tags replaced
    // with [TAG]; digests + per-tag counts exact cross-engine (RE2-safe
    // patterns; DuckDB needs the 'g' flag Spark implies).
    QueryDef.views("rd1_redact",
      """SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(text, '\b(the|and|of)\b', '[STOP]', 'g'),
        |      '[0-9]+', '[NUM]', 'g')) AS redacted_md5,
        |  CAST(len(regexp_extract_all(text, '\b(the|and|of)\b', 0)) AS BIGINT) AS n_stop,
        |  CAST(len(regexp_extract_all(text, '[0-9]+', 0)) AS BIGINT) AS n_num
        |FROM documents ORDER BY doc_id""".stripMargin) { spark =>
      TextOps.redact(spark.table("documents"), "doc_id", "text",
          Seq("stop" -> "\\b(the|and|of)\\b", "num" -> "[0-9]+"))
        .select(col("doc_id"), md5(col("redacted_text")).as("redacted_md5"),
          col("n_stop"), col("n_num"))
        .orderBy("doc_id")
    },

    // Content-hash train/val/test assignment (900/50/50 per-mille): the
    // bucket formula is dialect-portable (instr + substring over the md5
    // hex), so the oracle runs the very same expression.
    QueryDef.views("sp1_split_assign",
      s"""SELECT doc_id, ${TextOps.pmBucketSql("md5(text)")} AS pm_bucket,
         |  CASE WHEN ${TextOps.pmBucketSql("md5(text)")} < 900 THEN 'train'
         |       WHEN ${TextOps.pmBucketSql("md5(text)")} < 950 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin) { spark =>
      TextOps.assignSplit(spark.table("documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Group-coherent (leakage-safe) split: bucket hashed from the
    // GROUP (source), so same-site/near-dup members can never straddle
    // train/test. Same portable bucket formula as sp1.
    QueryDef.views("sp2_split_by_group",
      s"""SELECT doc_id, source AS group_key,
         |  ${TextOps.pmBucketSql("md5(source)")} AS pm_bucket,
         |  CASE WHEN ${TextOps.pmBucketSql("md5(source)")} < 600 THEN 'train'
         |       WHEN ${TextOps.pmBucketSql("md5(source)")} < 800 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin) { spark =>
      TextOps.assignSplitByGroup(spark.table("documents"), "doc_id",
          "source", trainPm = 600, valPm = 200)
        .orderBy("doc_id")
    },

    // Deterministic content-hash sampling.
    QueryDef.views("sm1_det_sample",
      """SELECT doc_id, lang FROM documents
        |WHERE ascii(substring(md5(text), 1, 1)) % 4 = 0
        |ORDER BY doc_id""".stripMargin) { spark =>
      TextOps.sampleDeterministic(spark.table("documents"), "text", 4, 0)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // Deterministic mixture sampling (domain-weighting/data-recipe step):
    // per-source per-mille keep rates decided by the portable content-
    // hash bucket — scan-local, no per-stratum pass; the oracle runs the
    // very same bucket expression.
    // ny1 — Neyman (optimal) stratified-sampling allocation: a 1000-doc
    // eval budget split across languages ∝ N_h·S_h = √(n·Σx²−(Σx)²)
    // (one exact bigint per stratum; the only float op is IEEE sqrt,
    // micro-rounded back to ℤ), with integer largest-remainder rounding
    // so Σ allocations == 1000 EXACTLY. Uniform and size-proportional
    // splits both over-sample homogeneous strata; this is the
    // variance-minimizing split sampling theory actually prescribes —
    // and the statistic-to-allocation chain is bit-stable, so the same
    // corpus always yields the same eval set sizes.
    QueryDef.views("ny1_neyman_allocation",
      """WITH m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |             sum(n_chars) AS s1, sum(n_chars*n_chars) AS s2
        |           FROM documents GROUP BY lang),
        |     w AS (SELECT lang, n,
        |             CAST(floor(sqrt(CAST(n*s2 - s1*s1 AS DOUBLE)) * 1000000)
        |               AS BIGINT) AS w
        |           FROM m),
        |     t AS (SELECT sum(w) AS wtot FROM w),
        |     f AS (SELECT lang, n, w, 1000*w // wtot AS alloc_fl,
        |             1000*w - (1000*w // wtot)*wtot AS rem
        |           FROM w, t),
        |     r AS (SELECT *, sum(alloc_fl) OVER () AS used,
        |             row_number() OVER (ORDER BY rem DESC, lang) AS rn
        |           FROM f)
        |SELECT lang, n, w,
        |       CAST(alloc_fl + CASE WHEN rn <= 1000 - used THEN 1 ELSE 0 END
        |         AS BIGINT) AS alloc
        |FROM r ORDER BY lang""".stripMargin) { spark =>
      graft.ops.Weighted.neymanAllocation(
          spark.table("documents"), "lang", "n_chars", budget = 1000L)
        .orderBy("lang")
    },

    QueryDef.views("sm3_mixture_sample",
      s"""SELECT doc_id, source FROM documents
         |WHERE ${TextOps.pmBucketSql("md5(text)")} <
         |  CASE WHEN source = 'src0' THEN 900
         |       WHEN source = 'src1' THEN 500
         |       WHEN source = 'src2' THEN 250
         |       ELSE 100 END
         |ORDER BY doc_id""".stripMargin) { spark =>
      TextOps.mixtureSample(spark.table("documents"), "source", "text",
          Map("src0" -> 900, "src1" -> 500, "src2" -> 250),
          defaultPm = 100)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // Stratified quota sampling: top-N per language by length.
    QueryDef.views("sm2_quota_per_lang",
      """SELECT lang, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars, row_number() OVER
        |    (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 50 ORDER BY lang, doc_id""".stripMargin) { spark =>
      TextOps.quotaPerStratum(spark.table("documents"), "lang", "n_chars",
          "doc_id", 50)
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    },

    // Per-label embedding centroid sums (integer-exact cross-engine; the
    // typed-API twin is graft.functions.VectorMeanAggregator).
    QueryDef.views("v1_label_centroid",
      """SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim,
        |       CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT)) AS BIGINT) AS sum_scaled,
        |       count(*) AS n
        |FROM embeddings, generate_series(1, 64) AS t(i)
        |GROUP BY 1, 2 ORDER BY label, dim""".stripMargin) { spark =>
      spark.table("embeddings")
        .select(col("label").cast("bigint").as("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(sum(floor(col("x").cast("double") * 1048576).cast("bigint"))
          .as("sum_scaled"), count(lit(1)).as("n"))
        .select(col("label"), col("dim").cast("bigint").as("dim"),
          col("sum_scaled"), col("n"))
        .orderBy("label", "dim")
    },

    // Context-window chunking (size=256 chars, overlap=32): the packing
    // step before tokenization. Integer chunk geometry + chunk md5 are
    // exact on both engines.
    QueryDef.views("ch1_chunk_docs",
      """WITH d AS (SELECT doc_id, text, CAST(len(text) AS BIGINT) AS n
        |           FROM documents),
        |     c AS (SELECT doc_id, text, n,
        |             CASE WHEN n <= 256 THEN CAST(1 AS BIGINT)
        |                  ELSE 1 + (n - 256 + 223) // 224 END AS nc
        |           FROM d),
        |     e AS (SELECT doc_id, text, n,
        |             unnest(range(0, nc)) AS i FROM c)
        |SELECT doc_id, i AS chunk_idx, i * 224 + 1 AS chunk_start,
        |       least(CAST(256 AS BIGINT), n - i * 224) AS chunk_len,
        |       md5(substring(text, i * 224 + 1, 256)) AS chunk_md5
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin) { spark =>
      TextOps.chunk(spark.table("documents"), "doc_id", "text",
          size = 256, overlap = 32)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
          col("chunk_len"), md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },

    // sft1 — chat-template assembly offsets for SFT loss masking
    // ([[graft.ops.TextOps.sftTurnOffsets]]): docs become alternating
    // 8-word user/assistant turns; the output says where each turn's
    // content lands (0-based char offsets) in the assembled
    // `<|user|>…<|assistant|>…` string, so role='assistant' rows ARE
    // the loss mask. Pure length arithmetic + a per-doc running-sum
    // window (partitions bounded by turns-per-doc); the md5 pins the
    // content each span points at.
    QueryDef.views("sft1_turn_mask_offsets",
      """WITH w AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '),
        |               x -> len(x) > 0) AS w
        |           FROM documents),
        |  t AS (SELECT doc_id,
        |          unnest(range(0, 1 + (len(w) - 1) // 8)) AS turn_idx,
        |          w
        |        FROM w WHERE len(w) > 0),
        |  c AS (SELECT doc_id, turn_idx,
        |          array_to_string(list_slice(w, turn_idx * 8 + 1,
        |            turn_idx * 8 + 8), ' ') AS content,
        |          CASE WHEN turn_idx % 2 = 0 THEN 'user'
        |               ELSE 'assistant' END AS role,
        |          CASE WHEN turn_idx % 2 = 0 THEN 8 ELSE 13 END AS tag_len
        |        FROM t),
        |  o AS (SELECT doc_id, turn_idx, role, content, tag_len,
        |          COALESCE(sum(len(content) + tag_len) OVER (
        |            PARTITION BY doc_id ORDER BY turn_idx
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |            0) + tag_len AS start_off
        |        FROM c)
        |SELECT doc_id, CAST(turn_idx AS BIGINT) AS turn_idx, role,
        |       CAST(start_off AS BIGINT) AS start_off,
        |       CAST(start_off + len(content) AS BIGINT) AS end_off,
        |       md5(content) AS content_md5
        |FROM o ORDER BY doc_id, turn_idx""".stripMargin) { spark =>
      TextOps.sftTurnOffsets(spark.table("documents"), "doc_id", "text",
          wordsPerTurn = 8)
        .orderBy("doc_id", "turn_idx")
    },

    // Token-weighted median document length per language: the
    // unweighted median answers "the typical document", this answers
    // "the typical TOKEN's document" — the statistic that actually
    // predicts what a trained model sees. Weighted.weightedMedian is
    // one exchange on the group key + a cumulative-sum window in exact
    // integer weights (the boundary row is a threshold decision, so ℤ
    // keeps it bit-identical across engines — ts1's argument).
    QueryDef.views("wm1_weighted_median",
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |             CAST(len(list_filter(string_split(text, ' '),
        |               x -> len(x) > 0)) AS BIGINT) AS w
        |           FROM documents),
        |     t AS (SELECT lang, n_chars, w,
        |             sum(w) OVER (PARTITION BY lang
        |               ORDER BY n_chars, doc_id) AS cumw,
        |             sum(w) OVER (PARTITION BY lang) AS totw
        |           FROM d)
        |SELECT lang, CAST(min(n_chars) AS BIGINT) AS wmedian
        |FROM t WHERE 2*cumw >= totw
        |GROUP BY lang ORDER BY lang""".stripMargin) { spark =>
      val d = spark.table("documents").select(col("doc_id"), col("lang"),
        col("n_chars"),
        expr("CAST(size(filter(split(text, ' '), x -> length(x) > 0)) AS BIGINT)")
          .as("w"))
      graft.ops.Weighted.weightedMedian(d, Seq("lang"), "n_chars", "w",
          "doc_id")
        .orderBy("lang")
    },

    // Nucleus (top-p) selection per language: keep the smallest head of
    // documents (heaviest first) carrying 90% of the language's token
    // mass — the mass-bounded variant of top-k that a mixing stage
    // wants (a row-count bound keeps wildly different mass per group).
    // Exactly one row straddles the boundary; the keep rule
    // (mass-before-row < target) is evaluated in exact integer ppm.
    QueryDef.views("np1_nucleus_select",
      """WITH d AS (SELECT doc_id, lang,
        |             CAST(len(list_filter(string_split(text, ' '),
        |               x -> len(x) > 0)) AS BIGINT) AS w
        |           FROM documents),
        |     t AS (SELECT lang, doc_id, w,
        |             sum(w) OVER (PARTITION BY lang
        |               ORDER BY w DESC, doc_id) AS cumw,
        |             sum(w) OVER (PARTITION BY lang) AS totw
        |           FROM d)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
        |       CAST(sum(w) AS BIGINT) AS kept_mass,
        |       CAST(min(totw) AS BIGINT) AS total_mass
        |FROM t WHERE (cumw - w)*1000000 < 900000*totw
        |GROUP BY lang ORDER BY lang""".stripMargin) { spark =>
      val d = spark.table("documents").select(col("doc_id"), col("lang"),
        expr("CAST(size(filter(split(text, ' '), x -> length(x) > 0)) AS BIGINT)")
          .as("w"))
      val kept = graft.ops.Weighted.nucleusSelect(d, Seq("lang"), "w",
          "doc_id", 900000L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum(col("w")).as("kept_mass"))
      val tot = d.groupBy("lang").agg(sum(col("w")).as("total_mass"))
      kept.join(tot, "lang").orderBy("lang")
    },

    // Int8 embedding quantization: per-vector symmetric scale, integer
    // codes exact cross-engine (identical IEEE division + half-away
    // rounding); scale emitted as the 2^20-scaled integer per the
    // determinism contract.
    QueryDef.views("qz1_quantize_int8",
      """WITH v AS (SELECT vec_id,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |     s AS (SELECT vec_id, v,
        |             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |           FROM v),
        |     e AS (SELECT vec_id, scale, unnest(v) AS x,
        |             generate_subscripts(v, 1) AS dim FROM s)
        |SELECT vec_id, CAST(dim - 1 AS BIGINT) AS dim,
        |       CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
        |            ELSE CAST(round(x / scale) AS BIGINT) END AS q,
        |       CAST(floor(scale * 1048576) AS BIGINT) AS scale_scaled
        |FROM e ORDER BY vec_id, dim""".stripMargin) { spark =>
      // posexplode_outer + null-guard ≡ posexplode, but dodges
      // InferFiltersFromGenerate's size(q) > 0 pre-filter, which would
      // re-evaluate the whole quantization transform chain per row (the
      // guard runs on the generate's OUTPUT attribute — cheap)
      Similarity.quantizeInt8(spark.table("embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          posexplode_outer(col("q")).as(Seq("dim", "q")))
        .filter(col("dim").isNotNull)
        .select(col("vec_id"), col("dim").cast("bigint").as("dim"), col("q"),
          floor(col("scale") * 1048576).cast("bigint").as("scale_scaled"))
        .orderBy("vec_id", "dim")
    },

    // Z-order (Morton) clustering key over (user_id, floor(value)) —
    // the multi-dimensional data-layout step ([[graft.ops.Layout]]):
    // the SAME dialect-portable bit-interleave fragment runs on both
    // engines (power-of-two floor division is exact in binary FP), so
    // the oracle grades the key bit-for-bit. The layout write itself
    // (range-partition + sort by z_value) is spec-pinned in LayoutSpec.
    QueryDef.views("z1_zorder",
      s"""SELECT event_id, CAST(user_id AS BIGINT) AS x,
         |  CAST(floor(value) AS BIGINT) AS y,
         |  ${Layout.zValueSql(Seq("user_id", "floor(value)"), 11)} AS z_value
         |FROM events ORDER BY event_id""".stripMargin) { spark =>
      Layout.zorder(spark.table("events")
          .select(col("event_id"), col("user_id").cast("bigint").as("x"),
            floor(col("value")).cast("bigint").as("y")),
          Seq("x", "y"), bits = 11)
        .orderBy("event_id")
    },

    // Hilbert layout key ([[graft.ops.Layout.hilbert]]): the
    // space-filling curve whose consecutive cells are always grid
    // NEIGHBORS (unit Manhattan step — HilbertSpec proves it
    // exhaustively), so contiguous key ranges are compact blobs and
    // per-file min/max prunes rectangle queries tighter than Morton's
    // Z-jumps. The oracle CTE chain is generated from the SAME
    // hilbertSteps definition the operator folds into its projection —
    // parity by construction (the km1/qc2 discipline) — and every
    // arithmetic step is integer-exact in both engines.
    QueryDef.views("hb1_hilbert", {
      val steps = Layout.hilbertSteps("x", "y", 8)
      def sel(trio: Seq[(String, String)]) =
        trio.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")
      val c0 = s"c0 AS (SELECT *,\n    ${sel(steps.take(3))}\n  FROM " +
        "(SELECT event_id, CAST(user_id % 256 AS BIGINT) AS x, " +
        "CAST(event_id % 256 AS BIGINT) AS y FROM events))"
      val chain = steps.drop(3).grouped(3).toSeq.zipWithIndex.map {
        case (trio, i) =>
          s"c${i + 1} AS (SELECT *,\n    ${sel(trio.toSeq)}\n  FROM c$i)"
      }
      s"""WITH $c0,
         |${chain.mkString(",\n")}
         |SELECT event_id, x, y, __hd8 AS h_value
         |FROM c8 ORDER BY event_id""".stripMargin
    }) { spark =>
      Layout.hilbert(spark.table("events")
          .select(col("event_id"),
            (col("user_id") % 256).cast("bigint").as("x"),
            (col("event_id") % 256).cast("bigint").as("y")),
          "x", "y", bits = 8)
        .orderBy("event_id")
    },

    // Compaction ([[graft.ops.Layout.compactTo]] — the small-files
    // remedy): events rewritten to ~3000-row files, graded three ways
    // at once: every row read back bit-exact (content survives the
    // rewrite), the file count equals ceil(n/target) (the write really
    // splits at the target), and per-file sort-key ranges are disjoint
    // (range partitioning preserved min/max pruning). File geometry has
    // no DuckDB twin, so the layout facts ride every row as constants —
    // n_files from the deterministic ceil, overlaps pinned at zero.
    QueryDef("z2_compact", (spark, sfDir) => {
      graft.Tables.registerAll(spark, sfDir)
      val slim = spark.table("events").select(
        col("event_id"), col("user_id").cast("bigint").as("user_id"),
        col("event_type"),
        floor(col("value")).cast("bigint").as("value_floor"))
      val compacted = Layout.compactTo(slim, "event_id",
        StreamRun.dir(spark, "z2"), 3000L)
      // file-metadata rows only (~n_files) — constant partition
      val w = Window.partitionBy(lit(1)).orderBy("lo")
      val layout = Layout.fileRanges(compacted, "event_id")
        .select(col("lo"), lag(col("hi"), 1).over(w).as("prev_hi"))
        .agg(count(lit(1)).cast("bigint").as("n_files"),
          sum(when(col("prev_hi") >= col("lo"), 1L).otherwise(0L))
            .cast("bigint").as("n_overlaps"))
      compacted.crossJoin(broadcast(layout)).orderBy("event_id")
    }, Some(
      """SELECT event_id, CAST(user_id AS BIGINT) AS user_id, event_type,
        |       CAST(floor(value) AS BIGINT) AS value_floor,
        |       (SELECT CAST(ceil(count(*) / 3000.0) AS BIGINT)
        |        FROM events) AS n_files,
        |       CAST(0 AS BIGINT) AS n_overlaps
        |FROM events ORDER BY event_id""".stripMargin)),

    // INCREMENTAL compaction ([[graft.ops.Layout.compactSmallFiles]]):
    // z2 fixes a small-file layout by rewriting everything; a corpus
    // under continuous ingest needs the steady-state form — rewrite
    // ONLY the small-file tail, leave settled fat files untouched (at
    // 100 TB the difference is a tail-sized pass vs a corpus-sized
    // one). Fixture: one fat file (70% of events) plus 20 small
    // appended files (30%); compaction with target just over half the
    // tail must merge the 20 into exactly 2 and not touch the fat one
    // → 3 files total, every row intact — both facts graded (the
    // untouched-fat byte-identity is spec-pinned, file geometry having
    // no DuckDB twin rides as the n_files constant).
    QueryDef("z3_compact_incremental", (spark, sfDir) => {
      import spark.implicits._
      graft.Tables.registerAll(spark, sfDir)
      val slim = spark.table("events").select(
        col("event_id"), col("user_id").cast("bigint").as("user_id"),
        col("event_type"),
        floor(col("value")).cast("bigint").as("value_floor"))
      val dir = StreamRun.fixture(spark, "z3", "z3v1", sfDir, "events") {
          build =>
        slim.filter(col("event_id") % 10 >= 3).orderBy("event_id")
          .coalesce(1)
          .write.mode("overwrite").parquet(build.toString)
        slim.filter(col("event_id") % 10 < 3).repartition(20)
          .write.mode("append").parquet(build.toString)
        val smallRows = slim.filter(col("event_id") % 10 < 3).count()
        Layout.compactSmallFiles(spark, build.toString, "event_id",
          smallRows / 2 + 1)
      }
      val back = spark.read.parquet(dir)
      val nFiles = back.select(input_file_name()).distinct().count()
      back.crossJoin(broadcast(Seq(nFiles).toDF("n_files")))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value_floor"), col("n_files"))
        .orderBy("event_id")
    }, Some(
      """SELECT event_id, CAST(user_id AS BIGINT) AS user_id, event_type,
        |       CAST(floor(value) AS BIGINT) AS value_floor,
        |       CAST(3 AS BIGINT) AS n_files
        |FROM events ORDER BY event_id""".stripMargin)),

    // Bucketed co-located join ([[graft.ops.Layout.bucketedWrite]]):
    // customer and orders written bucketed by custkey with the same
    // bucket count, then joined and rolled up by market segment — the
    // shuffle-once-at-write-time layout. Values graded exactly against
    // the plain join; the ZERO-EXCHANGE plan property is pinned in
    // LayoutSpec (broadcast disabled there so the bucket metadata, not
    // a small-table special case, is what eliminates the shuffle).
    QueryDef("bk1_bucketed_join", (spark, sfDir) => {
      graft.Tables.registerAll(spark, sfDir)
      val base = StreamRun.dir(spark, "bk1")
      val c = Layout.bucketedWrite(spark.table("customer"), "c_custkey",
        s"graft_bk_customer", s"$base/customer", buckets = 8)
      val o = Layout.bucketedWrite(spark.table("orders"), "o_custkey",
        s"graft_bk_orders", s"$base/orders", buckets = 8)
      c.join(o, col("c_custkey") === col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total_price"))
        .orderBy("c_mktsegment")
    }, Some(
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_price
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Data-quality expectations ([[graft.ops.Profile.rowChecks]] /
    // uniqueCheck / fkCheck — the Deequ/dbt-tests shape): a named
    // check suite over the warehouse tables reported as one violation
    // census — five per-row predicates folded into ONE lineitem pass
    // (a conditional count per rule in a single aggregate), key
    // uniqueness as one hash agg, referential integrity as one
    // left-anti join. quantity_le_10 is deliberately violated so the
    // counting path itself is load-bearing (all-zeros would also pass
    // a broken counter); NULL predicates count as violations on both
    // sides (CASE WHEN pred THEN 0 ELSE 1).
    QueryDef.views("dq1_expectations",
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
        |  rc AS (
        |    SELECT 'discount_unit' AS chk,
        |      CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END) AS BIGINT) AS v
        |    FROM lineitem
        |    UNION ALL SELECT 'price_positive',
        |      CAST(sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem
        |    UNION ALL SELECT 'quantity_in_range',
        |      CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem
        |    UNION ALL SELECT 'quantity_le_10',
        |      CAST(sum(CASE WHEN l_quantity <= 10 THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem
        |    UNION ALL SELECT 'shipdate_known',
        |      CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem),
        |  rows_rc AS (SELECT chk AS "check", n.n AS n_rows, v AS n_violations
        |              FROM rc CROSS JOIN n),
        |  u1 AS (SELECT 'unique_orderkey' AS "check",
        |           CAST(count(*) AS BIGINT) AS n_rows,
        |           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
        |         FROM orders),
        |  u2 AS (SELECT 'unique_lineitem_key',
        |           CAST(count(*) AS BIGINT),
        |           CAST(count(*) - (SELECT count(*) FROM
        |             (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS BIGINT)
        |         FROM lineitem),
        |  f1 AS (SELECT 'fk_lineitem_orders',
        |           (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |            LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |              ON l.l_orderkey = o.o_orderkey
        |            WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL)),
        |  f2 AS (SELECT 'fk_orders_customer',
        |           (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |           (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |            LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |              ON o.o_custkey = c.c_custkey
        |            WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL))
        |SELECT "check", n_rows, n_violations, n_violations = 0 AS passed
        |FROM (SELECT * FROM rows_rc UNION ALL SELECT * FROM u1
        |      UNION ALL SELECT * FROM u2 UNION ALL SELECT * FROM f1
        |      UNION ALL SELECT * FROM f2)
        |ORDER BY "check"""".stripMargin) { spark =>
      val li = spark.table("lineitem")
      val o = spark.table("orders")
      val c = spark.table("customer")
      Profile.rowChecks(li, Seq(
          "discount_unit" -> col("l_discount").between(0, 1),
          "price_positive" -> (col("l_extendedprice") > 0),
          "quantity_in_range" -> col("l_quantity").between(1, 50),
          "quantity_le_10" -> (col("l_quantity") <= 10),
          "shipdate_known" -> col("l_shipdate").isNotNull))
        .unionByName(Profile.uniqueCheck(o, "unique_orderkey",
          Seq("o_orderkey")))
        .unionByName(Profile.uniqueCheck(li, "unique_lineitem_key",
          Seq("l_orderkey", "l_linenumber")))
        .unionByName(Profile.fkCheck(li, "l_orderkey", o, "o_orderkey",
          "fk_lineitem_orders"))
        .unionByName(Profile.fkCheck(o, "o_custkey", c, "c_custkey",
          "fk_orders_customer"))
        .orderBy("check")
    },

    // Padding-waste report ([[graft.ops.TextOps.paddingStats]]): the
    // arithmetic behind length-bucketed batch assembly — at batch
    // size 32, pad-to-batch-max burns N tokens under arrival-order
    // batching vs length-sorted batching, and the saving (per-mille)
    // is the number a trainer infra review asks for. Both strategies
    // are exact integer window+agg chains the oracle replays.
    QueryDef.views("pd1_padding_stats",
      """WITH t AS (SELECT doc_id AS id,
        |             CAST(len(list_filter(string_split(text, ' '),
        |               x -> len(x) > 0)) AS BIGINT) AS len
        |           FROM documents),
        |  a AS (SELECT len, row_number() OVER (ORDER BY id) AS rn FROM t),
        |  ab AS (SELECT (rn - 1) // 32 AS b,
        |           CAST(count(*) * max(len) - sum(len) AS BIGINT) AS pad
        |         FROM a GROUP BY 1),
        |  s AS (SELECT len, row_number() OVER (ORDER BY len, id) AS rn
        |        FROM t),
        |  sb AS (SELECT (rn - 1) // 32 AS b,
        |           CAST(count(*) * max(len) - sum(len) AS BIGINT) AS pad
        |         FROM s GROUP BY 1),
        |  tot AS (SELECT CAST(count(*) AS BIGINT) AS n_seqs,
        |            CAST(sum(len) AS BIGINT) AS n_tokens FROM t),
        |  aa AS (SELECT CAST(sum(pad) AS BIGINT) AS arrival_pad_tokens
        |         FROM ab),
        |  ss AS (SELECT CAST(sum(pad) AS BIGINT) AS sorted_pad_tokens
        |         FROM sb)
        |SELECT n_seqs, n_tokens, CAST(32 AS BIGINT) AS batch_size,
        |  arrival_pad_tokens, sorted_pad_tokens,
        |  CASE WHEN arrival_pad_tokens > 0
        |       THEN ((arrival_pad_tokens - sorted_pad_tokens) * 1000)
        |            // arrival_pad_tokens END AS saving_pm
        |FROM tot, aa, ss""".stripMargin) { spark =>
      val lens = spark.table("documents").select(col("doc_id"),
        size(expr("filter(split(text, ' '), x -> length(x) > 0)"))
          .cast("bigint").as("n_tokens"))
      TextOps.paddingStats(lens, "doc_id", "n_tokens", batchSize = 32)
    },

    // Corpus CHANGELOG export (dd1): the corpus as a CDC *source* for
    // downstream consumers — snapshot diff ([[graft.ops.Layout
    // .diffSnapshots]]) becomes c/u/d envelopes, BATCH-produced into
    // the topic boundary (`format("graft-topic")` batch write — the
    // new backfill path next to K1's streaming produce), batch-read
    // back and JSON-decoded. Grades the full export loop: diff → op
    // mapping → wire JSON → broker append → read-back → decode; the
    // oracle re-derives every (id, op, digest) straight from the
    // version-mutation rules.
    QueryDef.views("dd1_corpus_changelog",
      """WITH base AS (SELECT doc_id, text FROM documents),
        |  ch AS (SELECT doc_id, md5(text || ' UPDATED') AS digest
        |         FROM base WHERE doc_id % 17 = 5),
        |  rm AS (SELECT doc_id FROM base WHERE doc_id % 17 = 3),
        |  ad AS (SELECT doc_id + 1000000 AS doc_id,
        |                md5('NEW ' || text) AS digest
        |         FROM base WHERE doc_id % 17 = 7)
        |SELECT doc_id, 'u' AS op, digest FROM ch
        |UNION ALL SELECT doc_id, 'd', NULL FROM rm
        |UNION ALL SELECT doc_id, 'c', digest FROM ad
        |ORDER BY doc_id""".stripMargin) { spark =>
      val v1 = spark.table("documents").select("doc_id", "text")
      val v2 = v1.filter(col("doc_id") % 17 =!= 3)
        .withColumn("text", when(col("doc_id") % 17 === 5,
          concat(col("text"), lit(" UPDATED"))).otherwise(col("text")))
        .unionByName(v1.filter(col("doc_id") % 17 === 7)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("NEW "), col("text")).as("text")))
      val diff = Layout.diffSnapshots(v1, v2, "doc_id", "text",
        includeUnchanged = false)
      val env = diff.select(
        col("doc_id").cast("string").as("key"),
        to_json(struct(col("doc_id"),
          when(col("status") === "added", "c")
            .when(col("status") === "removed", "d")
            .otherwise("u").as("op"),
          col("new_digest").as("digest"))).as("value"))
      val topicName =
        "dd1_" + java.util.UUID.randomUUID().toString.replace("-", "")
      env.write.format("graft-topic").option("topic", topicName)
        .mode("append").save()
      spark.read.format("graft-topic").option("topic", topicName).load()
        .select(from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, op STRING, digest STRING")).as("j"))
        .select("j.doc_id", "j.op", "j.digest")
        .orderBy("doc_id")
    },

    // Corpus snapshot diff ([[graft.ops.Layout.diffSnapshots]]): the
    // incremental-update primitive — classify every doc id across two
    // corpus versions as added / removed / changed / unchanged by
    // digest, so a refresh recurates only the delta. Old = ids not
    // divisible by 10; new = ids not divisible by 7, with every 5th
    // doc's text revised — exercising all four statuses plus ids
    // absent from both sides. ONE narrow (id, digest) full-outer join;
    // payloads never move.
    // Snapshot-committed table with TIME TRAVEL
    // ([[graft.ops.Layout.commitSnapshot]]/readSnapshot/snapshots): the
    // minimal lakehouse commit protocol — immutable data files + a
    // manifest whose atomic rename is the commit; readers resolve
    // latest or AS OF an id. Graded end to end: two commits (the even
    // half, then the full corpus; file counts pinned by range
    // repartition), then the HISTORY relation joined with aggregates
    // read through each snapshot — the oracle predicts every cell from
    // the raw table, so manifest bookkeeping, as-of resolution, and
    // the per-snapshot file sets must all be right for the hash to
    // match. Vacuum/retention (incl. crashed-commit orphan removal and
    // the loud read of a vacuumed id) is LayoutSpec territory — it
    // deletes state, which an oracle can't observe.
    QueryDef.views("tt1_time_travel",
      """WITH e AS (SELECT count(*) AS c, sum(n_chars) AS s
        |           FROM documents WHERE doc_id % 2 = 0),
        |     a AS (SELECT count(*) AS c, sum(n_chars) AS s
        |           FROM documents)
        |SELECT 1 AS snapshot_id, CAST(2 AS BIGINT) AS n_files,
        |       CAST(e.c AS BIGINT) AS n_rows,
        |       CAST(e.c AS BIGINT) AS n_docs_read,
        |       CAST(e.s AS BIGINT) AS sum_chars FROM e
        |UNION ALL
        |SELECT 2, CAST(3 AS BIGINT), CAST(a.c AS BIGINT),
        |       CAST(a.c AS BIGINT), CAST(a.s AS BIGINT) FROM a
        |ORDER BY snapshot_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt1")
      val s1 = Layout.commitSnapshot(
        docs.filter(col("doc_id") % 2 === 0)
          .repartitionByRange(2, col("doc_id")), t)
      val s2 = Layout.commitSnapshot(
        docs.repartitionByRange(3, col("doc_id")), t)
      val reads = Seq(s1, s2).map { id =>
        Layout.readSnapshot(spark, t, id)
          .agg(count(lit(1)).as("n_docs_read"),
            sum("n_chars").as("sum_chars"))
          .withColumn("snapshot_id", lit(id.toLong))
      }.reduce(_ unionByName _)
      Layout.snapshots(spark, t).join(reads, "snapshot_id")
        .select(col("snapshot_id"), col("n_files"), col("n_rows"),
          col("n_docs_read"), col("sum_chars"))
        .orderBy("snapshot_id")
    },

    // MERGE INTO the snapshot table ([[graft.ops.Layout.mergeSnapshot]]):
    // deletes (doc_id ≡ 0 mod 10), whole-row updates (≡ 1: n_chars
    // + 1000), and inserts (new ids 10⁶ + doc_id for ≡ 2) applied as
    // ONE merge producing snapshot 2 — copy-on-write, so the pre-merge
    // snapshot stays readable (graded implicitly: the merge reads it).
    // The graded output is the ENTIRE post-merge table, so the anti
    // join, the op routing, and the commit bookkeeping must all be
    // right for any row to hash-match; the oracle predicts the merged
    // relation directly from the raw table.
    QueryDef.views("tt2_merge_snapshot",
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 10 NOT IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, lang, CAST(n_chars + 1000 AS BIGINT)
        |  FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, CAST(n_chars AS BIGINT)
        |  FROM documents WHERE doc_id % 10 = 2)
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt2")
      Layout.commitSnapshot(docs.repartitionByRange(3, col("doc_id")), t)
      val changes =
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("op", lit("d"))
        .unionByName(docs.filter(col("doc_id") % 10 === 1)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("op", lit("u")))
        .unionByName(docs.filter(col("doc_id") % 10 === 2)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("op", lit("c")))
      Layout.mergeSnapshot(spark, t, changes, "doc_id", "op")
      Layout.readSnapshot(spark, t).orderBy("doc_id")
    },

    // Change data feed between two snapshots — the lakehouse CDF
    // surface, composed from the table's own primitives: time travel
    // to both ids ([[graft.ops.Layout.readSnapshot]]) and the narrow
    // (id, digest) diff ([[graft.ops.Layout.diffSnapshots]], delta-only
    // mode). Same merge fixture as tt2, so the feed must report
    // exactly the deletes as `removed`, the whole-row updates as
    // `changed`, and the inserts as `added` — predicted directly by
    // the oracle. Payloads never move: the diff joins digests only.
    QueryDef.views("tt3_change_feed",
      """SELECT doc_id, status FROM (
        |  SELECT doc_id, 'removed' AS status FROM documents
        |  WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, 'changed' FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'added' FROM documents
        |  WHERE doc_id % 10 = 2)
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt3")
      Layout.commitSnapshot(docs.repartitionByRange(3, col("doc_id")), t)
      val changes =
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("op", lit("d"))
        .unionByName(docs.filter(col("doc_id") % 10 === 1)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("op", lit("u")))
        .unionByName(docs.filter(col("doc_id") % 10 === 2)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("op", lit("c")))
      Layout.mergeSnapshot(spark, t, changes, "doc_id", "op")
      def content(asOf: Int) = Layout.readSnapshot(spark, t, asOf)
        .withColumn("content",
          concat_ws("|", col("lang"), col("n_chars")))
      Layout.diffSnapshots(content(1), content(2), "doc_id", "content",
          includeUnchanged = false)
        .select(col("doc_id"), col("status"))
        .orderBy("doc_id")
    },

    // Manifest-stats pruned read ([[graft.ops.Layout.readSnapshotPruned]]):
    // scan planning from the snapshot table's own data-skipping index —
    // commit records per-file [min, max] of the stats column from the
    // parquet footers it already opens for row counts, and a range read
    // consults the MANIFEST (driver-side, |files|-bounded) to hand the
    // reader only overlapping files, exact row filter on top. The
    // graded result must equal the plain filtered table — skipping can
    // only change I/O, never answers; the file-count behavior itself is
    // pinned in LayoutSpec where per-file ranges are constructed
    // explicitly.
    QueryDef.views("tt4_stats_pruned_read",
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id BETWEEN 100 AND 249
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt4")
      Layout.commitSnapshot(
        docs.repartitionByRange(5, col("doc_id")), t,
        statsCol = "doc_id")
      Layout.readSnapshotPruned(spark, t, "doc_id", 100L, 249L)
        .orderBy("doc_id")
    },

    // Incremental snapshot consumption
    // ([[graft.ops.Layout.readSnapshotChanges]]): the rows introduced
    // between two snapshot ids as the manifests' FILE-SET difference —
    // Delta-startingVersion / Iceberg-incremental-scan semantics, the
    // batch primitive a tail-the-table consumer calls per poll. Three
    // appends partition documents by doc_id % 3; reading changes since
    // snapshot 1 must return EXACTLY the second and third appends'
    // rows — predicted by the oracle from the raw table — and reading
    // since the head must return nothing (graded via the n_since_head
    // scalar). Scan cost is the fresh files only; history never
    // re-reads.
    QueryDef.views("tt5_incremental_read",
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |  (SELECT CAST(0 AS BIGINT)) AS n_since_head
        |FROM documents WHERE doc_id % 3 <> 0
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt5")
      (0 to 2).foreach { k =>
        Layout.appendSnapshot(docs.filter(col("doc_id") % 3 === k), t,
          tag = s"part-$k")
      }
      val sinceHead = Layout.readSnapshotChanges(spark, t, fromId = 3)
        .agg(count(lit(1)).as("n_since_head"))
      Layout.readSnapshotChanges(spark, t, fromId = 1)
        .crossJoin(broadcast(sinceHead)) // one-row scalar
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("n_since_head"))
        .orderBy("doc_id")
    },

    // Concurrent-writer commit ([[graft.ops.Layout.appendSnapshot]]'s
    // optimistic claim): two appenders stage simultaneously and race
    // the manifest CAS; the loser re-bases (re-reads the winner's file
    // lines) and retries, so BOTH commits land and the head is the
    // union — the Delta/Iceberg optimistic-concurrency rule. Graded on
    // the full post-race table plus the history length: whatever the
    // interleaving, the result must be exactly all documents with two
    // linear snapshots, predicted by the oracle from the raw table.
    // The stale-merge abort half (a rewrite must NOT re-base) is
    // LayoutSpec territory — it grades a thrown exception.
    QueryDef.views("tt6_concurrent_append",
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |  (SELECT CAST(2 AS BIGINT)) AS n_snapshots
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt6")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        import scala.jdk.CollectionConverters._
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        pool.invokeAll(Seq(0, 1).map { k =>
          new java.util.concurrent.Callable[Int] {
            def call(): Int = {
              barrier.await()
              Layout.appendSnapshot(
                docs.filter(col("doc_id") % 2 === k), t)
            }
          }
        }.asJava).asScala.foreach(_.get()) // surface either side's failure
      } finally pool.shutdown()
      val nSnaps = Layout.snapshots(spark, t)
        .agg(count(lit(1)).as("n_snapshots"))
      Layout.readSnapshot(spark, t)
        .crossJoin(broadcast(nSnaps)) // one-row scalar
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("n_snapshots"))
        .orderBy("doc_id")
    },

    // Vacuum/retention graded OBSERVABLY
    // ([[graft.ops.Layout.vacuum]]): three commits, retain only the
    // head — history must show exactly the trim (1 manifest row), the
    // survivor must still hash-match the full corpus read through the
    // kept manifest's file set, and time travel to a vacuumed id must
    // throw. The thrown read and the dropped/deleted counts are graded
    // as columns the oracle predicts: 2 manifests dropped, ≥2 data
    // files deleted (booleanized — file counts below the head are
    // layout-dependent), vacuumed read loud = 1.
    QueryDef.views("tt7_vacuum_retention",
      """WITH h AS (SELECT count(*) AS c FROM documents)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |  (SELECT CAST(1 AS BIGINT)) AS n_snapshots_left,
        |  (SELECT CAST(2 AS BIGINT)) AS n_manifests_dropped,
        |  (SELECT CAST(1 AS BIGINT)) AS orphans_deleted,
        |  (SELECT CAST(1 AS BIGINT)) AS vacuumed_read_is_loud
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt7")
      Layout.commitSnapshot(
        docs.filter(col("doc_id") % 2 === 0), t)       // id 1
      Layout.appendSnapshot(
        docs.filter(col("doc_id") % 2 === 1), t)       // id 2
      Layout.commitSnapshot(docs, t)                   // id 3 (rewrite)
      val (droppedManifests, deletedFiles) = Layout.vacuum(spark, t, 1)
      val loud =
        try { Layout.readSnapshot(spark, t, asOf = 1); 0L }
        catch { case _: IllegalArgumentException => 1L }
      val nSnaps = Layout.snapshots(spark, t)
        .agg(count(lit(1)).as("n_snapshots_left"))
      Layout.readSnapshot(spark, t)
        .crossJoin(broadcast(nSnaps)) // one-row scalar
        .withColumn("n_manifests_dropped", lit(droppedManifests.toLong))
        .withColumn("orphans_deleted",
          lit(if (deletedFiles >= 2) 1L else 0L))
        .withColumn("vacuumed_read_is_loud", lit(loud))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("n_snapshots_left"), col("n_manifests_dropped"),
          col("orphans_deleted"), col("vacuumed_read_is_loud"))
        .orderBy("doc_id")
    },

    // OPTIMIZE / bin-pack ([[graft.ops.Layout.optimizeSnapshot]]): the
    // small-files cure for a streaming-ingested snapshot table — four
    // appends land 8 tiny files; the optimize rewrites them into the
    // bin-packed 2 and commits a CONTENT-IDENTICAL snapshot, history
    // intact. Graded on the full post-optimize table (any lost or
    // duplicated row breaks the hash) plus the file counts before and
    // after (deterministic by construction: 4 × repartition(2) staged,
    // ceil(n / (n/2)) = 2 target) and the history length — the oracle
    // predicts every cell from the raw table. The conflict rules
    // (re-base over concurrent appends, abort on interleaved merges)
    // grade thrown exceptions and are LayoutSpec territory.
    QueryDef.views("tt8_optimize_files",
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |  (SELECT CAST(8 AS BIGINT)) AS files_before,
        |  (SELECT CAST(2 AS BIGINT)) AS files_after,
        |  (SELECT CAST(5 AS BIGINT)) AS n_snapshots
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt8")
      (0 to 3).foreach { k =>
        Layout.appendSnapshot(
          docs.filter(col("doc_id") % 4 === k).repartition(2), t)
      }
      val filesBefore = Layout.readSnapshot(spark, t)
        .select(input_file_name()).distinct().count()
      val rows = Layout.readSnapshot(spark, t).count()
      Layout.optimizeSnapshot(spark, t,
        targetRowsPerFile = (rows + 1) / 2, statsCol = "doc_id")
      val filesAfter = Layout.readSnapshot(spark, t)
        .select(input_file_name()).distinct().count()
      val nSnaps = Layout.snapshots(spark, t)
        .agg(count(lit(1)).as("n_snapshots"))
      Layout.readSnapshot(spark, t)
        .crossJoin(broadcast(nSnaps)) // one-row scalar
        .withColumn("files_before", lit(filesBefore))
        .withColumn("files_after", lit(filesAfter))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("files_before"), col("files_after"), col("n_snapshots"))
        .orderBy("doc_id")
    },

    // Append-time schema evolution ([[graft.ops.Layout.unionSchema]] +
    // the recorded-schema read): the even half commits (doc_id,
    // n_chars), the odd half appends WITH a new `lang` column, and a
    // third batch appends MISSING `n_chars` — the head must read as the
    // union layout with files null-filling columns they predate (or
    // omit), exactly what the oracle predicts per id class from the
    // raw table. A type change aborting loudly is graded as a scalar
    // the oracle pins to 1; pre-evolution time travel keeping the
    // original two-column layout is LayoutSpec territory (schema
    // shape, not row values).
    QueryDef.views("tt9_schema_evolution",
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  CASE WHEN doc_id % 2 = 1 THEN lang END AS lang,
        |  (SELECT CAST(1 AS BIGINT)) AS type_change_is_loud
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000, NULL, lang, 1
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt9")
      Layout.appendSnapshot(
        docs.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "n_chars"), t)
      Layout.appendSnapshot(
        docs.filter(col("doc_id") % 2 === 1)
          .select("doc_id", "n_chars", "lang"), t)
      Layout.appendSnapshot(
        docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang")),
        t)
      val loud =
        try {
          Layout.appendSnapshot(docs
            .select(col("doc_id"), col("lang").as("n_chars")), t)
          0L
        } catch { case _: IllegalArgumentException => 1L }
      Layout.readSnapshot(spark, t)
        .withColumn("type_change_is_loud", lit(loud))
        .select(col("doc_id"), col("n_chars"), col("lang"),
          col("type_change_is_loud"))
        .orderBy("doc_id")
    },

    // DSv2 filter pushdown on the snapshot source
    // ([[graft.sources.GraftSnapshotScanBuilder]]): three contiguous
    // doc_id chunks committed with stats on doc_id, then a range read
    // through `format("graft-snapshot")` — the pushed bound must plan
    // exactly ONE input partition from the manifest's [min, max] index
    // (graded: partitions_planned is a column the oracle pins to 1, so
    // a pushdown regression to read-everything breaks the hash), while
    // the row content stays exact because every filter remains
    // residual. The column-identity and no-stats degradation rules are
    // LayoutSpec/GraftSnapshotSpec territory.
    QueryDef.views("tt10_source_pruned_read",
      """WITH b AS (SELECT max(doc_id) // 3 AS b1 FROM documents)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |  (SELECT CAST(1 AS BIGINT)) AS partitions_planned
        |FROM documents, b WHERE doc_id < b.b1
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt10")
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val (b1, b2) = (maxId / 3, 2 * maxId / 3)
      Layout.appendSnapshot(docs.filter(col("doc_id") < b1)
        .coalesce(1), t, statsCol = "doc_id")
      Layout.appendSnapshot(docs.filter(col("doc_id") >= b1 &&
        col("doc_id") < b2).coalesce(1), t, statsCol = "doc_id")
      Layout.appendSnapshot(docs.filter(col("doc_id") >= b2)
        .coalesce(1), t, statsCol = "doc_id")
      val pruned = spark.read.format("graft-snapshot").load(t)
        .filter(col("doc_id") < b1)
      val planned = pruned.rdd.getNumPartitions.toLong
      pruned
        .withColumn("partitions_planned", lit(planned))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("partitions_planned"))
        .orderBy("doc_id")
    },

    // Aggregate pushdown on the snapshot source
    // ([[graft.sources.GraftSnapshotScanBuilder.pushAggregation]]):
    // count(*) answered by the manifest's recorded row count, min/max
    // of the stats column by the extremes of the per-file range index —
    // driver-side metadata, zero data files opened (proved in
    // GraftSnapshotSpec by deleting the files; here the VALUES are
    // graded against DuckDB computing the same aggregates from the raw
    // table). The second aggregate (sum) is NOT pushable, so the same
    // entry also grades the fallback scan path agreeing with the
    // metadata path on one relation.
    QueryDef.views("tt11_metadata_agg",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       min(doc_id) AS min_id, max(doc_id) AS max_id,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt11")
      Layout.appendSnapshot(docs.filter(col("doc_id") % 2 === 0)
        .repartition(2), t, statsCol = "doc_id")
      Layout.appendSnapshot(docs.filter(col("doc_id") % 2 === 1)
        .repartition(2), t, statsCol = "doc_id")
      val src = spark.read.format("graft-snapshot").load(t)
      val meta = src.agg(count(lit(1)).as("n_rows"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      val scanned = src.agg(sum("n_chars").as("sum_chars"))
      meta.crossJoin(broadcast(scanned))
        .select(col("n_rows"), col("min_id"), col("max_id"),
          col("sum_chars"))
    },

    // RESTORE ([[graft.ops.Layout.restoreSnapshot]]): roll the table
    // back to a pre-merge image as a NEW metadata-only commit — the
    // bad-deploy undo (Delta RESTORE / Iceberg rollback). tt2's merge
    // plays the bad write; the restore must bring back EXACTLY the
    // original corpus (any resurrected merge row or lost original
    // breaks the hash), history must grow to 3 linear snapshots (the
    // bad head stays time-travelable), and the restored head must
    // reference the ORIGINAL files — pinned here as a zero-readback
    // scalar the oracle predicts: rows read through the restored head
    // minus rows of the raw table = 0.
    QueryDef.views("tt12_restore_snapshot",
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |  (SELECT CAST(3 AS BIGINT)) AS n_snapshots
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt12")
      Layout.commitSnapshot(docs.repartitionByRange(3, col("doc_id")), t)
      val changes =
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("op", lit("d"))
        .unionByName(docs.filter(col("doc_id") % 10 === 1)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("op", lit("u")))
      Layout.mergeSnapshot(spark, t, changes, "doc_id", "op") // bad
      Layout.restoreSnapshot(spark, t, 1)                     // undo
      val nSnaps = Layout.snapshots(spark, t)
        .agg(count(lit(1)).as("n_snapshots"))
      Layout.readSnapshot(spark, t)
        .crossJoin(broadcast(nSnaps)) // one-row scalar
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("n_snapshots"))
        .orderBy("doc_id")
    },

    // SQL catalog surface ([[graft.sources.GraftCatalog]]): the
    // reference's DDL-first entry point (CustomJob.java:156-193
    // defines every table in SQL before records move) over the
    // engine's own snapshot format — CREATE NAMESPACE / CREATE TABLE
    // (zero-file schema commit, statsCol table property) / two INSERT
    // INTO appends / VERSION AS OF time travel, all through pure
    // `spark.sql`. Graded on the full post-insert table joined with
    // the VERSION AS OF 2 aggregate (evens only — so as-of resolution
    // through the catalog must pin the right manifest) and the
    // VERSION AS OF 1 row count (the empty schema commit readable as
    // a table). Each run gets its own session, catalog and warehouse
    // ([[StreamRun.catalogSession]]), so bench re-runs start empty.
    catalogEntry("sql2_catalog_ddl", "gsql2",
      """SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
        |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents
        |   WHERE doc_id % 2 = 0) AS even_chars,
        |  (SELECT CAST(0 AS BIGINT)) AS v1_rows
        |FROM documents d
        |ORDER BY doc_id""".stripMargin) { (spark, wh) =>
      spark.sql(
        """CREATE TABLE gsql2.db.docs
          |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
          |USING `graft-snapshot`
          |TBLPROPERTIES ('statsCol' = 'doc_id')""".stripMargin)
      spark.sql(
        """INSERT INTO gsql2.db.docs
          |SELECT doc_id, lang, CAST(n_chars AS BIGINT)
          |FROM documents WHERE doc_id % 2 = 0""".stripMargin)
      spark.sql(
        """INSERT INTO gsql2.db.docs
          |SELECT doc_id, lang, CAST(n_chars AS BIGINT)
          |FROM documents WHERE doc_id % 2 = 1""".stripMargin)
      spark.sql(
        """SELECT d.doc_id, d.lang, d.n_chars,
          |  (SELECT CAST(sum(n_chars) AS BIGINT)
          |   FROM gsql2.db.docs VERSION AS OF 2) AS even_chars,
          |  (SELECT count(*)
          |   FROM gsql2.db.docs VERSION AS OF 1) AS v1_rows
          |FROM gsql2.db.docs d
          |ORDER BY doc_id""".stripMargin)
    },

    // SQL MERGE INTO ([[graft.sources.GraftRowLevelOperation]]):
    // tt13's file-pruned copy-on-write through pure SQL — Spark's
    // group-based row-level protocol rewrites the statement into a
    // replace-data plan, runtime `_file` group filtering narrows the
    // rewrite to files actually holding matched keys, and the commit
    // drops exactly those files conditional on the scanned snapshot.
    // Three one-file chunk inserts (REPARTITION(1) hints), a delta
    // touching only the first chunk plus out-of-range inserts; graded
    // on the full post-merge table WITH files_rewritten=1 /
    // files_carried=2 pinned in the hash — if group filtering ever
    // stops engaging, the counts flip to 3/0 and the hash breaks.
    catalogEntry("sql3_merge_into", "gsql3",
      """WITH b AS (SELECT max(doc_id) // 3 AS b1 FROM documents)
        |SELECT doc_id, lang, n_chars,
        |  (SELECT CAST(1 AS BIGINT)) AS files_rewritten,
        |  (SELECT CAST(2 AS BIGINT)) AS files_carried
        |FROM (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents, b
        |  WHERE NOT (doc_id < b.b1 AND doc_id % 10 IN (0, 1))
        |  UNION ALL
        |  SELECT doc_id, lang, CAST(n_chars + 1000 AS BIGINT)
        |  FROM documents, b WHERE doc_id < b.b1 AND doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, CAST(n_chars AS BIGINT)
        |  FROM documents, b WHERE doc_id < b.b1 AND doc_id % 10 = 2)
        |ORDER BY doc_id""".stripMargin) { (spark, wh) =>
      spark.sql(
        """CREATE TABLE gsql3.db.docs
          |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
          |USING `graft-snapshot`
          |TBLPROPERTIES ('statsCol' = 'doc_id')""".stripMargin)
      val maxId = spark.table("documents").agg(max("doc_id"))
        .head().getLong(0)
      val (b1, b2) = (maxId / 3, 2 * maxId / 3)
      Seq(s"doc_id < $b1", s"doc_id >= $b1 AND doc_id < $b2",
          s"doc_id >= $b2").foreach { cond =>
        spark.sql(
          s"""INSERT INTO gsql3.db.docs
             |SELECT /*+ REPARTITION(1) */
             |  doc_id, lang, CAST(n_chars AS BIGINT)
             |FROM documents WHERE $cond""".stripMargin)
      }
      spark.sql(
        s"""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           |  CASE WHEN doc_id % 10 = 0 THEN 'd'
           |       WHEN doc_id % 10 = 1 THEN 'u' END AS op
           |FROM documents WHERE doc_id < $b1 AND doc_id % 10 IN (0, 1)
           |UNION ALL
           |SELECT doc_id + 1000000, lang, CAST(n_chars AS BIGINT), 'c'
           |FROM documents WHERE doc_id < $b1 AND doc_id % 10 = 2"""
          .stripMargin).createOrReplaceTempView("sql3_src")
      val tablePath = s"$wh/db/docs"
      val baseFiles =
        graft.ops.Layout.snapshotInfo(spark, tablePath).get.files.toSet
      spark.sql(
        """MERGE INTO gsql3.db.docs t USING sql3_src s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED AND s.op = 'd' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 1000
          |WHEN NOT MATCHED THEN
          |  INSERT (doc_id, lang, n_chars)
          |  VALUES (s.doc_id, s.lang, s.n_chars)""".stripMargin)
      val headFiles =
        graft.ops.Layout.snapshotInfo(spark, tablePath).get.files.toSet
      spark.sql("SELECT doc_id, lang, n_chars FROM gsql3.db.docs")
        .withColumn("files_rewritten",
          lit((baseFiles -- headFiles).size.toLong))
        .withColumn("files_carried",
          lit((baseFiles & headFiles).size.toLong))
        .orderBy("doc_id")
    },

    // SQL MAINTENANCE surface ([[graft.sources.GraftCatalog]]'s
    // ProcedureCatalog + metadata tables): tt8's optimize fixture
    // driven ENTIRELY through SQL — four unhinted INSERTs land 4
    // small files (one each: the sink's required ordering + AQE
    // geometry, observed via the `.files` metadata table), `CALL
    // graft.system.optimize` bin-packs them to 2 (the returned
    // snapshot id and the post-state both graded), and `.history`
    // pins the 6-commit linear history. The oracle predicts every
    // cell from the raw table; a procedure that stops running, a
    // metadata table that drifts from the manifests, or an optimize
    // that loses a row all break the hash.
    catalogEntry("sql4_procedures", "gsql4",
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |  (SELECT CAST(4 AS BIGINT)) AS files_before,
        |  (SELECT CAST(2 AS BIGINT)) AS files_after,
        |  (SELECT CAST(6 AS BIGINT)) AS n_snapshots,
        |  (SELECT CAST(6 AS BIGINT)) AS optimize_returned
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (spark, wh) =>
      spark.sql(
        """CREATE TABLE gsql4.db.docs
          |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
          |USING `graft-snapshot`
          |TBLPROPERTIES ('statsCol' = 'doc_id')""".stripMargin)
      (0 until 4).foreach { k =>
        spark.sql(
          s"""INSERT INTO gsql4.db.docs
             |SELECT doc_id, lang, CAST(n_chars AS BIGINT)
             |FROM documents WHERE doc_id % 4 = $k""".stripMargin)
      }
      val filesBefore = spark.sql(
        "SELECT count(*) FROM gsql4.db.docs.files").head().getLong(0)
      val n = spark.sql("SELECT count(*) FROM gsql4.db.docs")
        .head().getLong(0)
      val optId = spark.sql(
        s"CALL gsql4.system.optimize('db.docs', ${(n + 1) / 2})")
        .head().getLong(0)
      val filesAfter = spark.sql(
        "SELECT count(*) FROM gsql4.db.docs.files").head().getLong(0)
      val nSnaps = spark.sql(
        "SELECT count(*) FROM gsql4.db.docs.history").head().getLong(0)
      spark.sql("SELECT doc_id, lang, n_chars FROM gsql4.db.docs")
        .withColumn("files_before", lit(filesBefore))
        .withColumn("files_after", lit(filesAfter))
        .withColumn("n_snapshots", lit(nSnaps))
        .withColumn("optimize_returned", lit(optId))
        .orderBy("doc_id")
    },

    // SCHEMA EVOLUTION via column mapping ([[graft.sources
    // .GraftCatalog.alterTable]] — round 13): RENAME / DROP / WIDEN
    // are METADATA-ONLY commits — data files keep their physical
    // column names and narrow types, `colmap:` manifest lines connect
    // logical to physical, readers alias and upcast. Through pure
    // SQL: rename lang→language, drop a junk column, widen n_chars
    // INT→BIGINT, then a post-evolution INSERT interleaves with the
    // pre-evolution files. `alters_metadata_only` pins n_files
    // IDENTICAL across all three ALTERs (a regression to
    // rewrite-on-alter flips it), and the full two-generation
    // relation is graded row-exact — old files must read under the
    // new name and the wide type, the dropped column's values must
    // never resurface.
    catalogEntry("sql5_schema_evolution", "gsql5",
      """SELECT doc_id, language, n_chars,
        |  (SELECT CAST(1 AS BIGINT)) AS alters_metadata_only
        |FROM (
        |  SELECT doc_id, lang AS language,
        |         CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang,
        |         CAST(n_chars + 7 AS BIGINT)
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (spark, wh) =>
      spark.sql(
        """CREATE TABLE gsql5.db.docs
          |  (doc_id BIGINT, lang STRING, n_chars INT, junk INT)
          |USING `graft-snapshot`
          |TBLPROPERTIES ('statsCol' = 'doc_id')""".stripMargin)
      spark.sql(
        """INSERT INTO gsql5.db.docs
          |SELECT doc_id, lang, CAST(n_chars AS INT), CAST(0 AS INT)
          |FROM documents""".stripMargin)
      val tablePath = s"$wh/db/docs"
      def nFiles: Long =
        Layout.snapshotInfo(spark, tablePath).get.files.size.toLong
      val filesBefore = nFiles
      spark.sql("ALTER TABLE gsql5.db.docs RENAME COLUMN lang TO language")
      spark.sql("ALTER TABLE gsql5.db.docs DROP COLUMN junk")
      spark.sql(
        "ALTER TABLE gsql5.db.docs ALTER COLUMN n_chars TYPE BIGINT")
      val metadataOnly = if (nFiles == filesBefore) 1L else 0L
      // a post-evolution generation through the sink (writes the
      // physical names + wide type) interleaves with the old files
      spark.sql(
        """INSERT INTO gsql5.db.docs
          |SELECT doc_id + 1000000, lang, CAST(n_chars + 7 AS BIGINT)
          |FROM documents""".stripMargin)
      spark.sql(
        "SELECT doc_id, language, n_chars FROM gsql5.db.docs")
        .withColumn("alters_metadata_only", lit(metadataOnly))
        .orderBy("doc_id")
    },

    // UNHINTED INSERT GEOMETRY ([[graft.sources.SnapshotWrite]]
    // implementing RequiresDistributionAndOrdering with the stats
    // columns — round 13): sql3's whole fixture with every
    // /*+ REPARTITION */ hint REMOVED. The table itself now requests
    // a global order on its indexed column (range partition + sort,
    // AQE coalescing the small shuffle to one file per INSERT), so
    // pure-SQL inserts produce the same pruned geometry the hinted
    // ones did — files_rewritten=1 / files_carried=2 pinned
    // identically: if the sink stops requesting its geometry, the
    // chunk inserts stop being range-disjoint single files and the
    // counts flip.
    catalogEntry("sql6_unhinted_insert", "gsql6",
      """WITH b AS (SELECT max(doc_id) // 3 AS b1 FROM documents)
        |SELECT doc_id, lang, n_chars,
        |  (SELECT CAST(1 AS BIGINT)) AS files_rewritten,
        |  (SELECT CAST(2 AS BIGINT)) AS files_carried
        |FROM (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents, b
        |  WHERE NOT (doc_id < b.b1 AND doc_id % 10 IN (0, 1))
        |  UNION ALL
        |  SELECT doc_id, lang, CAST(n_chars + 1000 AS BIGINT)
        |  FROM documents, b WHERE doc_id < b.b1 AND doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, CAST(n_chars AS BIGINT)
        |  FROM documents, b WHERE doc_id < b.b1 AND doc_id % 10 = 2)
        |ORDER BY doc_id""".stripMargin) { (spark, wh) =>
      spark.sql(
        """CREATE TABLE gsql6.db.docs
          |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
          |USING `graft-snapshot`
          |TBLPROPERTIES ('statsCol' = 'doc_id')""".stripMargin)
      val maxId = spark.table("documents").agg(max("doc_id"))
        .head().getLong(0)
      val (b1, b2) = (maxId / 3, 2 * maxId / 3)
      Seq(s"doc_id < $b1", s"doc_id >= $b1 AND doc_id < $b2",
          s"doc_id >= $b2").foreach { cond =>
        // NO hints: the sink's required distribution/ordering is the
        // only thing shaping the files
        spark.sql(
          s"""INSERT INTO gsql6.db.docs
             |SELECT doc_id, lang, CAST(n_chars AS BIGINT)
             |FROM documents WHERE $cond""".stripMargin)
      }
      spark.sql(
        s"""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           |  CASE WHEN doc_id % 10 = 0 THEN 'd'
           |       WHEN doc_id % 10 = 1 THEN 'u' END AS op
           |FROM documents WHERE doc_id < $b1 AND doc_id % 10 IN (0, 1)
           |UNION ALL
           |SELECT doc_id + 1000000, lang, CAST(n_chars AS BIGINT), 'c'
           |FROM documents WHERE doc_id < $b1 AND doc_id % 10 = 2"""
          .stripMargin).createOrReplaceTempView("sql6_src")
      val tablePath = s"$wh/db/docs"
      val baseFiles =
        graft.ops.Layout.snapshotInfo(spark, tablePath).get.files.toSet
      spark.sql(
        """MERGE INTO gsql6.db.docs t USING sql6_src s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED AND s.op = 'd' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 1000
          |WHEN NOT MATCHED THEN
          |  INSERT (doc_id, lang, n_chars)
          |  VALUES (s.doc_id, s.lang, s.n_chars)""".stripMargin)
      val headFiles =
        graft.ops.Layout.snapshotInfo(spark, tablePath).get.files.toSet
      spark.sql("SELECT doc_id, lang, n_chars FROM gsql6.db.docs")
        .withColumn("files_rewritten",
          lit((baseFiles -- headFiles).size.toLong))
        .withColumn("files_carried",
          lit((baseFiles & headFiles).size.toLong))
        .orderBy("doc_id")
    },

    // TYPED COLUMNS through the SQL catalog (round 14 — the first
    // thing any analytics user creates): a table with DATE, TIMESTAMP
    // and DECIMAL(12,2) columns, created by DDL, filled by three
    // unhinted INSERTs (the sink's RequiresDistributionAndOrdering
    // geometry), updated by MERGE (whose Layout staging pins
    // TIMESTAMP_MICROS so no INT96 file can ever enter the table),
    // and range-scanned with pruning pinned on BOTH a decimal and a
    // date bound (partitions_price=1 / partitions_date=1, AS OF the
    // pre-merge snapshot whose chunks are range-disjoint). Dates ride
    // the integral index as epoch days, decimals as unscaled cents
    // (Layout.DecRange); timestamps surface as whole-second strings
    // per the oracle-parity rules.
    catalogEntry("sql7_typed_columns", "gsql7",
      """WITH b AS (SELECT max(doc_id) // 3 AS b1 FROM documents),
        |     k AS (SELECT doc_id AS id FROM documents)
        |SELECT id, DATE '2020-01-01' + CAST(id AS INT) AS d,
        |  strftime(TIMESTAMP '2021-06-01 00:00:00'
        |    + to_minutes(CAST(id % 100000 AS BIGINT)),
        |    '%Y-%m-%d %H:%M:%S') AS ts,
        |  id * 25 + delta_cents AS price_cents,
        |  (SELECT CAST(1 AS BIGINT)) AS files_rewritten,
        |  (SELECT CAST(2 AS BIGINT)) AS files_carried,
        |  (SELECT CAST(1 AS BIGINT)) AS partitions_price,
        |  (SELECT CAST(1 AS BIGINT)) AS partitions_date
        |FROM (
        |  SELECT id, CAST(0 AS BIGINT) AS delta_cents FROM k, b
        |  WHERE NOT (id < b.b1 AND id % 10 IN (0, 1))
        |  UNION ALL
        |  SELECT id, CAST(1 AS BIGINT) FROM k, b
        |  WHERE id < b.b1 AND id % 10 = 1
        |  UNION ALL
        |  SELECT id + 1000000, CAST(-25000000 AS BIGINT) FROM k, b
        |  WHERE id < b.b1 AND id % 10 = 2)
        |ORDER BY id""".stripMargin) { (spark, wh) =>
      spark.sql(
        """CREATE TABLE gsql7.db.t
          |  (id BIGINT, d DATE, ts TIMESTAMP, price DECIMAL(12,2))
          |USING `graft-snapshot`
          |TBLPROPERTIES ('statsCol' = 'id,price,d')""".stripMargin)
      val maxId = spark.table("documents").agg(max("doc_id"))
        .head().getLong(0)
      val (b1, b2) = (maxId / 3, 2 * maxId / 3)
      Seq(s"doc_id < $b1", s"doc_id >= $b1 AND doc_id < $b2",
          s"doc_id >= $b2").foreach { cond =>
        spark.sql(
          s"""INSERT INTO gsql7.db.t
             |SELECT doc_id, DATE'2020-01-01' + CAST(doc_id AS INT),
             |  TIMESTAMP'2021-06-01 00:00:00'
             |    + make_interval(0,0,0,0,0, CAST(doc_id AS INT), 0),
             |  CAST(doc_id * 0.25 AS DECIMAL(12,2))
             |FROM documents WHERE $cond""".stripMargin)
      }
      val tablePath = s"$wh/db/t"
      val baseFiles =
        Layout.snapshotInfo(spark, tablePath).get.files.toSet
      val preMergeId = Layout.headId(spark, tablePath)
      // typed pruning AS OF the pre-merge image: a decimal interval
      // inside chunk 2 and a date interval inside chunk 1, one file
      // planned each
      def cents(v: Long) =
        new java.math.BigDecimal(v).movePointLeft(2)
      val preSnap = spark.read.format("graft-snapshot")
        .option("asOfSnapshot", preMergeId.toString).load(tablePath)
      val pPrice = preSnap
        .filter(col("price") >= cents(b1 * 25 + 25) &&
          col("price") <= cents((b1 + (b2 - b1) / 2) * 25))
        .rdd.getNumPartitions.toLong
      val pDate = preSnap
        .filter(col("d") < java.sql.Date.valueOf(
          java.time.LocalDate.of(2020, 1, 1).plusDays(b1)))
        .rdd.getNumPartitions.toLong
      // MERGE: delete ≡0, +0.01 price ≡1 (stays inside chunk 1's
      // price envelope), insert far-out ids — exactly chunk 1 rewrites
      spark.sql(
        s"""SELECT doc_id AS id,
           |  DATE'2020-01-01' + CAST(doc_id + 1000000 AS INT) AS d,
           |  TIMESTAMP'2021-06-01 00:00:00' + make_interval(0,0,0,0,0,
           |    CAST((doc_id + 1000000) % 100000 AS INT), 0) AS ts,
           |  CAST(0 AS DECIMAL(12,2)) AS price,
           |  CASE WHEN doc_id % 10 = 0 THEN 'd' ELSE 'u' END AS op
           |FROM documents WHERE doc_id < $b1 AND doc_id % 10 IN (0, 1)
           |UNION ALL
           |SELECT doc_id + 1000000,
           |  DATE'2020-01-01' + CAST(doc_id + 1000000 AS INT),
           |  TIMESTAMP'2021-06-01 00:00:00' + make_interval(0,0,0,0,0,
           |    CAST((doc_id + 1000000) % 100000 AS INT), 0),
           |  CAST(doc_id * 0.25 AS DECIMAL(12,2)), 'c'
           |FROM documents WHERE doc_id < $b1 AND doc_id % 10 = 2"""
          .stripMargin).createOrReplaceTempView("sql7_src")
      spark.sql(
        """MERGE INTO gsql7.db.t t USING sql7_src s ON t.id = s.id
          |WHEN MATCHED AND s.op = 'd' THEN DELETE
          |WHEN MATCHED THEN
          |  UPDATE SET price = t.price + CAST(0.01 AS DECIMAL(12,2))
          |WHEN NOT MATCHED THEN INSERT (id, d, ts, price)
          |  VALUES (s.id, s.d, s.ts, s.price)""".stripMargin)
      val headFiles =
        Layout.snapshotInfo(spark, tablePath).get.files.toSet
      spark.sql(
        """SELECT id, d, date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS ts,
          |  CAST(price * 100 AS BIGINT) AS price_cents
          |FROM gsql7.db.t""".stripMargin)
        .withColumn("files_rewritten",
          lit((baseFiles -- headFiles).size.toLong))
        .withColumn("files_carried",
          lit((baseFiles & headFiles).size.toLong))
        .withColumn("partitions_price", lit(pPrice))
        .withColumn("partitions_date", lit(pDate))
        .orderBy("id")
    },

    // FILE-PRUNED copy-on-write MERGE
    // ([[graft.ops.Layout.mergeSnapshot]]'s scale path): three
    // contiguous doc_id chunks committed as separate files indexed on
    // doc_id; the delta touches only the FIRST chunk's key range
    // (deletes ≡0, updates ≡1 below b1) plus inserts beyond every
    // range — so the merge must rewrite EXACTLY one file and carry the
    // other two forward by reference. Both counts are pinned in the
    // hash (the tt10 partitions_planned pattern): a regression to the
    // whole-table rewrite flips files_carried to 0 and breaks the
    // hash, while the full post-merge table is simultaneously graded
    // row-exact against the oracle's predicted relation.
    QueryDef.views("tt13_pruned_merge",
      """WITH b AS (SELECT max(doc_id) // 3 AS b1 FROM documents)
        |SELECT doc_id, lang, n_chars,
        |  (SELECT CAST(1 AS BIGINT)) AS files_rewritten,
        |  (SELECT CAST(2 AS BIGINT)) AS files_carried
        |FROM (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents, b
        |  WHERE NOT (doc_id < b.b1 AND doc_id % 10 IN (0, 1))
        |  UNION ALL
        |  SELECT doc_id, lang, CAST(n_chars + 1000 AS BIGINT)
        |  FROM documents, b WHERE doc_id < b.b1 AND doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, CAST(n_chars AS BIGINT)
        |  FROM documents, b WHERE doc_id < b.b1 AND doc_id % 10 = 2)
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt13")
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val (b1, b2) = (maxId / 3, 2 * maxId / 3)
      Layout.appendSnapshot(docs.filter(col("doc_id") < b1)
        .coalesce(1), t, statsCol = "doc_id")
      Layout.appendSnapshot(docs.filter(col("doc_id") >= b1 &&
        col("doc_id") < b2).coalesce(1), t, statsCol = "doc_id")
      Layout.appendSnapshot(docs.filter(col("doc_id") >= b2)
        .coalesce(1), t, statsCol = "doc_id")
      val lo = docs.filter(col("doc_id") < b1)
      val changes =
        lo.filter(col("doc_id") % 10 === 0)
          .withColumn("op", lit("d"))
        .unionByName(lo.filter(col("doc_id") % 10 === 1)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("op", lit("u")))
        .unionByName(lo.filter(col("doc_id") % 10 === 2)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("op", lit("c")))
      val baseFiles = Layout.snapshotInfo(spark, t, 3).get.files.toSet
      Layout.mergeSnapshot(spark, t, changes, "doc_id", "op")
      val headFiles = Layout.snapshotInfo(spark, t).get.files.toSet
      Layout.readSnapshot(spark, t)
        .withColumn("files_rewritten",
          lit((baseFiles -- headFiles).size.toLong))
        .withColumn("files_carried",
          lit((baseFiles & headFiles).size.toLong))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("files_rewritten"), col("files_carried"))
        .orderBy("doc_id")
    },

    // PARTITIONED snapshot writes ([[graft.sources.SnapshotWrite]]
    // honoring `partitionBy`): the sink requires a clustered
    // distribution on the partition columns, so each lang lands in
    // exactly ONE task → one file per lang under its Hive-style
    // `lang=<value>/` directory, with partition values recorded in
    // the manifest file paths. An equality read prunes DIRECTORIES
    // from the manifest before stats — partitions_planned pinned to 1
    // in the hash — and files_total is pinned to the distinct-lang
    // count (one file per value, the layout contract). Values stay in
    // the files too, so the residual filter keeps answers exact.
    QueryDef.views("tt14_partitioned_write",
      """WITH m AS (SELECT min(lang) AS l FROM documents)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |  (SELECT CAST(1 AS BIGINT)) AS partitions_planned,
        |  (SELECT CAST(count(DISTINCT lang) AS BIGINT)
        |   FROM documents) AS files_total
        |FROM documents, m WHERE lang = m.l
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt14")
      docs.write.format("graft-snapshot").partitionBy("lang")
        .option("statsCol", "doc_id").mode("append").save(t)
      val minLang = docs.agg(min("lang")).head().getString(0)
      val pruned = spark.read.format("graft-snapshot").load(t)
        .filter(col("lang") === minLang)
      val planned = pruned.rdd.getNumPartitions.toLong
      val filesTotal =
        Layout.snapshotInfo(spark, t).get.files.size.toLong
      pruned
        .withColumn("partitions_planned", lit(planned))
        .withColumn("files_total", lit(filesTotal))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("partitions_planned"), col("files_total"))
        .orderBy("doc_id")
    },

    // MULTI-COLUMN data-skipping index (statsCol = "doc_id,n_chars"):
    // per-file [min, max] is recorded POSITIONALLY for every indexed
    // column, so pushdown prunes on whichever column a predicate
    // names. Three chunks contiguous in n_chars (the SECOND indexed
    // column); a source read filtered on n_chars must plan exactly ONE
    // partition (pinned in the hash — a regression that only consults
    // the first column flips it to 3), while min/max of BOTH columns
    // are answered by the manifest's metadata aggregate and graded
    // against DuckDB computing them from the raw table.
    QueryDef.views("tt15_multicol_stats",
      """WITH m AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi
        |           FROM documents),
        |     b AS (SELECT lo + (hi - lo) // 3 AS t1,
        |                  lo + 2 * ((hi - lo) // 3) AS t2 FROM m)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |  (SELECT CAST(1 AS BIGINT)) AS partitions_planned,
        |  (SELECT CAST(min(doc_id) AS BIGINT) FROM documents) AS min_id,
        |  (SELECT CAST(max(n_chars) AS BIGINT) FROM documents)
        |    AS max_chars
        |FROM documents, b WHERE n_chars < b.t1
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt15")
      val mm = docs.agg(min("n_chars"), max("n_chars")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
      Layout.appendSnapshot(docs.filter(col("n_chars") < t1)
        .coalesce(1), t, statsCol = "doc_id,n_chars")
      Layout.appendSnapshot(docs.filter(col("n_chars") >= t1 &&
        col("n_chars") < t2).coalesce(1), t,
        statsCol = "doc_id,n_chars")
      Layout.appendSnapshot(docs.filter(col("n_chars") >= t2)
        .coalesce(1), t, statsCol = "doc_id,n_chars")
      val pruned = spark.read.format("graft-snapshot").load(t)
        .filter(col("n_chars") < t1)
      val planned = pruned.rdd.getNumPartitions.toLong
      val meta = spark.read.format("graft-snapshot").load(t)
        .agg(min("doc_id").as("min_id"), max("n_chars").as("max_chars"))
      pruned
        .withColumn("partitions_planned", lit(planned))
        .crossJoin(broadcast(meta)) // one-row manifest-served scalars
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("partitions_planned"), col("min_id"), col("max_chars"))
        .orderBy("doc_id")
    },

    // Z-ORDER OPTIMIZE ([[graft.ops.Layout.optimizeSnapshot]] with
    // `zorderBy` — Delta's ZORDER BY): rewrite the table clustered by
    // the Morton interleave of (a, b) so every file covers a tight
    // rectangle in BOTH dimensions and the multi-column index prunes
    // predicates on EITHER. Graded against the decisive contrast: the
    // same data range-sorted by `a` alone records wide-open b-ranges,
    // so its b-filter reads every file. Three booleans pinned in the
    // hash — z-clustering prunes on a AND on b; single-sort does NOT
    // prune on b — plus the exact filtered relation.
    QueryDef.views("tt16_zorder_optimize",
      """WITH d AS (SELECT doc_id, doc_id % 32 AS a,
        |                  (doc_id // 32) % 32 AS b FROM documents)
        |SELECT doc_id, a, b,
        |  (SELECT CAST(1 AS BIGINT)) AS z_a_prunes,
        |  (SELECT CAST(1 AS BIGINT)) AS z_b_prunes,
        |  (SELECT CAST(0 AS BIGINT)) AS sorted_b_prunes
        |FROM d WHERE a < 8
        |ORDER BY doc_id""".stripMargin) { spark =>
      val d = spark.table("documents").select(col("doc_id"),
        (col("doc_id") % 32).as("a"),
        ((col("doc_id") / 32).cast("long") % 32).as("b"))
      val t = StreamRun.dir(spark, "tt16")
      val n = d.count()
      Layout.appendSnapshot(d.repartition(8), t, statsCol = "a,b")
      Layout.optimizeSnapshot(spark, t,
        targetRowsPerFile = (n + 7) / 8, zorderBy = Seq("a", "b"))
      val t2 = StreamRun.dir(spark, "tt16s")
      Layout.appendSnapshot(
        d.repartitionByRange(8, col("a")).sortWithinPartitions("a"),
        t2, statsCol = "a,b")
      def files(tbl: String, c: String): Long =
        Layout.readSnapshotPruned(spark, tbl, c, 0L, 7L)
          .select(input_file_name()).distinct().count()
      val total = Layout.snapshotInfo(spark, t).get.files.size.toLong
      Layout.readSnapshotPruned(spark, t, "a", 0L, 7L)
        .withColumn("z_a_prunes",
          lit(if (files(t, "a") < total) 1L else 0L))
        .withColumn("z_b_prunes",
          lit(if (files(t, "b") < total) 1L else 0L))
        .withColumn("sorted_b_prunes",
          lit(if (files(t2, "b") < 8L) 1L else 0L))
        .select(col("doc_id"), col("a"), col("b"),
          col("z_a_prunes"), col("z_b_prunes"),
          col("sorted_b_prunes"))
        .orderBy("doc_id")
    },

    // STRING data-skipping stats ([[graft.ops.Layout.ColRange]] —
    // round 13): the manifest records Iceberg-style TRUNCATED min/max
    // for string index columns (lo = 16-codepoint prefix, hi = prefix
    // with last code point incremented), so the most common real
    // merge keys — UUIDs, URLs, zero-padded ids — get the same
    // file-pruned merge and file-skipping scans the integral index
    // gives. Same fixture discipline as tt13, keyed on a STRING:
    // three contiguous key chunks as separate files; the delta
    // touches only the first chunk's range (plus inserts beyond every
    // range), so the merge must rewrite EXACTLY one file and carry
    // two — both counts pinned in the hash — while a string-range
    // scan inside the second chunk must plan exactly ONE partition
    // (also pinned). The full post-merge relation is simultaneously
    // graded row-exact against the oracle.
    QueryDef.views("tt17_string_stats",
      """WITH k AS (SELECT doc_id,
        |            'doc-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
        |            lang, CAST(n_chars AS BIGINT) AS n_chars
        |          FROM documents),
        |     b AS (SELECT max(doc_id) // 3 AS b1 FROM documents)
        |SELECT key, lang, n_chars,
        |  (SELECT CAST(1 AS BIGINT)) AS files_rewritten,
        |  (SELECT CAST(2 AS BIGINT)) AS files_carried,
        |  (SELECT CAST(1 AS BIGINT)) AS partitions_planned
        |FROM (
        |  SELECT key, lang, n_chars FROM k, b
        |  WHERE NOT (doc_id < b.b1 AND doc_id % 10 IN (0, 1))
        |  UNION ALL
        |  SELECT key, lang, n_chars + 1000 FROM k, b
        |  WHERE doc_id < b.b1 AND doc_id % 10 = 1
        |  UNION ALL
        |  SELECT 'doc-' || lpad(CAST(doc_id + 90000000 AS VARCHAR), 8, '0'),
        |         lang, n_chars
        |  FROM k, b WHERE doc_id < b.b1 AND doc_id % 10 = 2)
        |ORDER BY key""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        concat(lit("doc-"),
          lpad(col("doc_id").cast("string"), 8, "0")).as("key"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt17")
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val (b1, b2) = (maxId / 3, 2 * maxId / 3)
      def chunk(cond: org.apache.spark.sql.Column) =
        docs.filter(cond).select("key", "lang", "n_chars").coalesce(1)
      Layout.appendSnapshot(chunk(col("doc_id") < b1), t,
        statsCol = "key")
      Layout.appendSnapshot(
        chunk(col("doc_id") >= b1 && col("doc_id") < b2), t,
        statsCol = "key")
      Layout.appendSnapshot(chunk(col("doc_id") >= b2), t,
        statsCol = "key")
      val lo = docs.filter(col("doc_id") < b1)
      val changes =
        lo.filter(col("doc_id") % 10 === 0)
          .select(col("key"), col("lang"), col("n_chars"))
          .withColumn("op", lit("d"))
        .unionByName(lo.filter(col("doc_id") % 10 === 1)
          .select(col("key"), col("lang"),
            (col("n_chars") + 1000L).as("n_chars"))
          .withColumn("op", lit("u")))
        .unionByName(lo.filter(col("doc_id") % 10 === 2)
          .select(concat(lit("doc-"),
              lpad((col("doc_id") + 90000000L).cast("string"), 8, "0"))
              .as("key"),
            col("lang"), col("n_chars"))
          .withColumn("op", lit("c")))
      val baseFiles = Layout.snapshotInfo(spark, t, 3).get.files.toSet
      Layout.mergeSnapshot(spark, t, changes, "key", "op")
      val headFiles = Layout.snapshotInfo(spark, t).get.files.toSet
      // string-range scan pinned to the second chunk's interior, AS OF
      // the pre-merge snapshot (whose three files have disjoint key
      // ranges — the merged rewrite legitimately spans chunk 1 plus
      // the out-of-range inserts): the DSv2 pushdown must plan exactly
      // the one covering file
      val (k1, k2) = (f"doc-$b1%08d", f"doc-${b1 + (b2 - b1) / 2}%08d")
      val planned = spark.read.format("graft-snapshot")
        .option("asOfSnapshot", "3").load(t)
        .filter(col("key") >= k1 && col("key") <= k2)
        .rdd.getNumPartitions.toLong
      Layout.readSnapshot(spark, t)
        .withColumn("files_rewritten",
          lit((baseFiles -- headFiles).size.toLong))
        .withColumn("files_carried",
          lit((baseFiles & headFiles).size.toLong))
        .withColumn("partitions_planned", lit(planned))
        .select(col("key"), col("lang"), col("n_chars"),
          col("files_rewritten"), col("files_carried"),
          col("partitions_planned"))
        .orderBy("key")
    },

    // MERGE-ON-READ deletion vectors ([[graft.ops.Layout.mergeSnapshot]]
    // `dvThreshold` — Delta deletion vectors / Iceberg v2 deletes,
    // keyed): a SPARSE delta (2% of keys) into a one-file table writes
    // a delete SIDECAR plus the small upsert file instead of rewriting
    // the gigabyte — files_rewritten=0 and dv_files=1 are pinned in
    // the hash (a regression to copy-on-write flips them), the graded
    // relation is read through the DSv2 source AT the sidecarred
    // snapshot (so the reader-side mask application is in the hash),
    // and a subsequent OPTIMIZE must materialize the sidecar away
    // (dv_after_optimize=0, also pinned) with the image unchanged.
    QueryDef.views("tt18_deletion_vectors",
      """SELECT doc_id, lang, n_chars,
        |  (SELECT CAST(0 AS BIGINT)) AS files_rewritten,
        |  (SELECT CAST(1 AS BIGINT)) AS dv_files,
        |  (SELECT CAST(0 AS BIGINT)) AS dv_after_optimize
        |FROM (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 100 NOT IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, lang, CAST(n_chars + 1000 AS BIGINT)
        |  FROM documents WHERE doc_id % 100 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, CAST(n_chars AS BIGINT)
        |  FROM documents WHERE doc_id % 100 = 2)
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt18")
      Layout.appendSnapshot(docs.coalesce(1), t, statsCol = "doc_id")
      val changes =
        docs.filter(col("doc_id") % 100 === 0)
          .withColumn("op", lit("d"))
        .unionByName(docs.filter(col("doc_id") % 100 === 1)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("op", lit("u")))
        .unionByName(docs.filter(col("doc_id") % 100 === 2)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("op", lit("c")))
      val baseFiles = Layout.snapshotInfo(spark, t, 1).get.files.toSet
      val mergedId = Layout.mergeSnapshot(spark, t, changes, "doc_id",
        "op", dvThreshold = 0.1) // ~2% masked, well under
      val info = Layout.snapshotInfo(spark, t, mergedId).get
      val rewritten = (baseFiles -- info.files.toSet).size.toLong
      val dvFiles = info.dv.map(_.dvFile).distinct.size.toLong
      val n = info.rows
      Layout.optimizeSnapshot(spark, t, targetRowsPerFile = n,
        statsCol = "doc_id")
      val dvAfter = Layout.snapshotInfo(spark, t).get
        .dv.map(_.dvFile).distinct.size.toLong
      // graded through the DSv2 reader AT the sidecarred snapshot:
      // the mask is applied row-level by SnapshotFileReaderFactory
      spark.read.format("graft-snapshot")
        .option("asOfSnapshot", mergedId.toString).load(t)
        .withColumn("files_rewritten", lit(rewritten))
        .withColumn("dv_files", lit(dvFiles))
        .withColumn("dv_after_optimize", lit(dvAfter))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("files_rewritten"), col("dv_files"),
          col("dv_after_optimize"))
        .orderBy("doc_id")
    },

    // POSITIONAL deletion vectors ([[graft.ops.Layout.deleteWhere]] —
    // round 14; Iceberg positional deletes): a predicate DELETE whose
    // condition the stats key CANNOT express (lang/n_chars are not
    // indexed) masks matched rows by (file, physical row ordinal)
    // instead of rewriting every matched file — files_rewritten=0 and
    // dvp_files=2 pinned in the hash (the pre-round-14 behavior was a
    // full rewrite per delete, flipping both), the graded relation is
    // read through the DSv2 source AT the sidecarred snapshot (the
    // reader-side ordinal mask is in the hash), and OPTIMIZE must
    // materialize the positional sidecars away (dv_after_optimize=0)
    // with the image unchanged. Two chained deletes prove masks
    // compose; thresholds and conflicts are spec'd in
    // LayoutPositionalDvSpec.
    QueryDef.views("tt21_positional_deletes",
      """SELECT doc_id, lang, n_chars,
        |  (SELECT CAST(0 AS BIGINT)) AS files_rewritten,
        |  (SELECT CAST(2 AS BIGINT)) AS dvp_files,
        |  (SELECT CAST(0 AS BIGINT)) AS dv_after_optimize
        |FROM (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |      FROM documents
        |      WHERE NOT (doc_id % 50 = 0)
        |        AND NOT (lang = 'de' AND n_chars % 10 = 3))
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt21")
      Layout.appendSnapshot(docs.coalesce(1), t, statsCol = "doc_id")
      val baseFiles = Layout.snapshotInfo(spark, t, 1).get.files.toSet
      Layout.deleteWhere(spark, t, "doc_id % 50 = 0",
        dvThreshold = 0.1)
      val sidecarId = Layout.deleteWhere(spark, t,
        "lang = 'de' AND n_chars % 10 = 3", dvThreshold = 0.1)
      val info = Layout.snapshotInfo(spark, t, sidecarId).get
      val rewritten = (baseFiles -- info.files.toSet).size.toLong
      val dvpFiles = info.dvp.map(_.dvFile).distinct.size.toLong
      Layout.optimizeSnapshot(spark, t, targetRowsPerFile = info.rows,
        statsCol = "doc_id")
      val dvAfter = Layout.snapshotInfo(spark, t).get
        .dvp.map(_.dvFile).distinct.size.toLong
      // graded through the DSv2 reader AT the sidecarred snapshot:
      // the physical-ordinal mask application is in the hash
      spark.read.format("graft-snapshot")
        .option("asOfSnapshot", sidecarId.toString).load(t)
        .withColumn("files_rewritten", lit(rewritten))
        .withColumn("dvp_files", lit(dvpFiles))
        .withColumn("dv_after_optimize", lit(dvAfter))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("files_rewritten"), col("dvp_files"),
          col("dv_after_optimize"))
        .orderBy("doc_id")
    },

    // DECIMAL data-skipping stats ([[graft.ops.Layout.DecRange]] —
    // round 14): a DECIMAL(12,2) price column indexes as SCALED
    // INTEGRALS (unscaled cents, scale recorded in the stats field),
    // so the TPC-H-shaped price-range scan prunes files and a
    // price-KEYED merge rewrites only the touched chunk. Three
    // price-disjoint chunks; the delta hits chunk 1's range only —
    // files_rewritten=1 / files_carried=2 pinned (a regression to
    // rangeless decimals flips carried to 0), and a price interval
    // inside chunk 2 pins partitions_planned=1 through the DSv2
    // pushdown (Layout.DecRange overlap + boundOf's conservative
    // literal rounding).
    QueryDef.views("tt19_decimal_stats",
      """WITH k AS (SELECT doc_id, doc_id * 25 AS cents, lang,
        |            CAST(n_chars AS BIGINT) AS n_chars
        |          FROM documents),
        |     b AS (SELECT max(doc_id) // 3 AS b1 FROM documents)
        |SELECT cents AS price_cents, lang, n_chars,
        |  (SELECT CAST(1 AS BIGINT)) AS files_rewritten,
        |  (SELECT CAST(2 AS BIGINT)) AS files_carried,
        |  (SELECT CAST(1 AS BIGINT)) AS partitions_planned
        |FROM (
        |  SELECT cents, lang, n_chars FROM k, b
        |  WHERE NOT (doc_id < b.b1 AND doc_id % 10 IN (0, 1))
        |  UNION ALL
        |  SELECT cents, lang, n_chars + 1000 FROM k, b
        |  WHERE doc_id < b.b1 AND doc_id % 10 = 1
        |  UNION ALL
        |  SELECT (doc_id + 1000000) * 25, lang, n_chars
        |  FROM k, b WHERE doc_id < b.b1 AND doc_id % 10 = 2)
        |ORDER BY price_cents""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        expr("CAST(doc_id * 0.25 AS DECIMAL(12,2))").as("price"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt19")
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val (b1, b2) = (maxId / 3, 2 * maxId / 3)
      def chunk(cond: org.apache.spark.sql.Column) =
        docs.filter(cond).select("price", "lang", "n_chars").coalesce(1)
      Layout.appendSnapshot(chunk(col("doc_id") < b1), t,
        statsCol = "price")
      Layout.appendSnapshot(
        chunk(col("doc_id") >= b1 && col("doc_id") < b2), t,
        statsCol = "price")
      Layout.appendSnapshot(chunk(col("doc_id") >= b2), t,
        statsCol = "price")
      val lo = docs.filter(col("doc_id") < b1)
      val changes =
        lo.filter(col("doc_id") % 10 === 0)
          .select(col("price"), col("lang"), col("n_chars"))
          .withColumn("op", lit("d"))
        .unionByName(lo.filter(col("doc_id") % 10 === 1)
          .select(col("price"), col("lang"),
            (col("n_chars") + 1000L).as("n_chars"))
          .withColumn("op", lit("u")))
        .unionByName(lo.filter(col("doc_id") % 10 === 2)
          .select(expr(
            "CAST((doc_id + 1000000) * 0.25 AS DECIMAL(12,2))")
            .as("price"), col("lang"), col("n_chars"))
          .withColumn("op", lit("c")))
      val baseFiles = Layout.snapshotInfo(spark, t, 3).get.files.toSet
      Layout.mergeSnapshot(spark, t, changes, "price", "op")
      val headFiles = Layout.snapshotInfo(spark, t).get.files.toSet
      // decimal interval inside chunk 2, AS OF the pre-merge snapshot
      // (disjoint per-file price ranges): exactly one file planned
      def cents(v: Long) =
        new java.math.BigDecimal(v).movePointLeft(2)
      val planned = spark.read.format("graft-snapshot")
        .option("asOfSnapshot", "3").load(t)
        .filter(col("price") >= cents(b1 * 25 + 25) &&
          col("price") <= cents((b1 + (b2 - b1) / 2) * 25))
        .rdd.getNumPartitions.toLong
      Layout.readSnapshot(spark, t)
        .withColumn("price_cents",
          (col("price") * 100).cast("bigint"))
        .withColumn("files_rewritten",
          lit((baseFiles -- headFiles).size.toLong))
        .withColumn("files_carried",
          lit((baseFiles & headFiles).size.toLong))
        .withColumn("partitions_planned", lit(planned))
        .select(col("price_cents"), col("lang"), col("n_chars"),
          col("files_rewritten"), col("files_carried"),
          col("partitions_planned"))
        .orderBy("price_cents")
    },

    // Per-file NULL COUNTS ([[graft.ops.Layout.statsOfFull]] — round
    // 14): the third stats field makes three things provable from the
    // manifest alone, each pinned in the hash:
    //  - an IS NULL scan plans ONLY files that may hold nulls
    //    (partitions_isnull=1 — chunks 1-2 are proven null-free);
    //  - an IS NOT NULL scan skips the proven ALL-null chunk
    //    (partitions_notnull=2);
    //  - count(col) is answered from manifest metadata (count_k rides
    //    every row, graded against the oracle's own count);
    // and a merge keyed on the nullable column SKIPS the all-null
    // chunk instead of rewriting it on every delta —
    // files_carried=2 pinned (pre-round-14 rangeless semantics
    // rewrote it, flipping carried to 1).
    QueryDef.views("tt20_null_stats",
      """WITH b AS (SELECT max(doc_id) // 3 AS b1,
        |            2 * (max(doc_id) // 3) AS b2 FROM documents),
        |     k AS (SELECT doc_id,
        |            CASE WHEN doc_id >= b.b2 THEN NULL
        |                 ELSE doc_id END AS k,
        |            lang, CAST(n_chars AS BIGINT) AS n_chars
        |          FROM documents, b)
        |SELECT doc_id, k, lang, n_chars,
        |  (SELECT CAST(1 AS BIGINT)) AS partitions_isnull,
        |  (SELECT CAST(2 AS BIGINT)) AS partitions_notnull,
        |  (SELECT CAST(count(k) AS BIGINT) FROM k) AS count_k,
        |  (SELECT CAST(1 AS BIGINT)) AS files_rewritten,
        |  (SELECT CAST(2 AS BIGINT)) AS files_carried
        |FROM (
        |  SELECT doc_id, k, lang, n_chars FROM k, b
        |  WHERE NOT (doc_id < b.b1 AND doc_id % 10 = 0)
        |    AND NOT (doc_id < b.b1 AND doc_id % 10 = 1)
        |  UNION ALL
        |  SELECT doc_id, k, lang, n_chars + 1000 FROM k, b
        |  WHERE doc_id < b.b1 AND doc_id % 10 = 1)
        |ORDER BY doc_id""".stripMargin) { spark =>
      val b = spark.table("documents").agg(max("doc_id")).head()
        .getLong(0)
      val (b1, b2) = (b / 3, 2 * (b / 3))
      val docs = spark.table("documents").select(col("doc_id"),
        when(col("doc_id") >= b2, lit(null).cast("long"))
          .otherwise(col("doc_id")).as("k"),
        col("lang"), col("n_chars").cast("bigint").as("n_chars"))
      val t = StreamRun.dir(spark, "tt20")
      def chunk(cond: org.apache.spark.sql.Column) =
        docs.filter(cond).coalesce(1)
      Layout.appendSnapshot(chunk(col("doc_id") < b1), t,
        statsCol = "k")
      Layout.appendSnapshot(
        chunk(col("doc_id") >= b1 && col("doc_id") < b2), t,
        statsCol = "k")
      // chunk 3 is ALL NULL in k (the indexed column)
      Layout.appendSnapshot(chunk(col("doc_id") >= b2), t,
        statsCol = "k")
      val base = spark.read.format("graft-snapshot").load(t)
      val pIsNull = base.filter(col("k").isNull)
        .rdd.getNumPartitions.toLong
      val pNotNull = base.filter(col("k").isNotNull)
        .rdd.getNumPartitions.toLong
      // count(k) — served by the manifest's null counts (rows − Σn)
      val countK = base.agg(count(col("k"))).head().getLong(0)
      val lo = docs.filter(col("doc_id") < b1)
      val changes =
        lo.filter(col("doc_id") % 10 === 0).withColumn("op", lit("d"))
        .unionByName(lo.filter(col("doc_id") % 10 === 1)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("op", lit("u")))
      val baseFiles = Layout.snapshotInfo(spark, t, 3).get.files.toSet
      Layout.mergeSnapshot(spark, t, changes, "k", "op")
      val headFiles = Layout.snapshotInfo(spark, t).get.files.toSet
      Layout.readSnapshot(spark, t)
        .withColumn("partitions_isnull", lit(pIsNull))
        .withColumn("partitions_notnull", lit(pNotNull))
        .withColumn("count_k", lit(countK))
        .withColumn("files_rewritten",
          lit((baseFiles -- headFiles).size.toLong))
        .withColumn("files_carried",
          lit((baseFiles & headFiles).size.toLong))
        .select(col("doc_id"), col("k"), col("lang"), col("n_chars"),
          col("partitions_isnull"), col("partitions_notnull"),
          col("count_k"), col("files_rewritten"),
          col("files_carried"))
        .orderBy("doc_id")
    },

    QueryDef.views("sn1_snapshot_diff",
      """WITH o AS (SELECT doc_id, md5(text) AS old_digest
        |           FROM documents WHERE doc_id % 10 <> 0),
        |     n AS (SELECT doc_id,
        |             md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
        |                      ELSE text END) AS new_digest
        |           FROM documents WHERE doc_id % 7 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       o.old_digest, n.new_digest,
        |       CASE WHEN o.old_digest IS NULL THEN 'added'
        |            WHEN n.new_digest IS NULL THEN 'removed'
        |            WHEN o.old_digest <> n.new_digest THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Layout.diffSnapshots(oldSnap, newSnap, "doc_id", "text")
        .select("doc_id", "old_digest", "new_digest", "status")
        .orderBy("doc_id")
    },

    // Incremental recuration ([[graft.ops.Layout.diffSnapshots]] put to
    // work): quality-gate ONLY the added∪changed delta of the new
    // snapshot and carry prior results for unchanged docs — then grade
    // the stitched output BIT-EXACT against curating the new corpus
    // from scratch (the oracle). A stale carried row, a doc missed in
    // the delta, or a removed doc leaking through all break the hash.
    // This is the 100 TB operating mode: a crawl refresh touches a few
    // percent, so curation cost tracks the delta, not the corpus.
    QueryDef.views("in1_incremental_curation",
      """WITH nw AS (SELECT doc_id,
        |        CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text,
        |        n_chars + CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 0 END AS n_chars
        |      FROM documents WHERE doc_id % 7 <> 0)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  n_chars >= 100 AND
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) >= 20 AS quality_ok,
        |  CASE WHEN doc_id % 10 <> 0 AND doc_id % 5 <> 0 THEN 'prior'
        |       ELSE 'delta' END AS curated_from
        |FROM nw ORDER BY doc_id""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val stop = Seq("the", "and", "of", "to", "a", "in", "is")
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .withColumn("n_chars", col("n_chars") +
          when(col("doc_id") % 5 === 0, 3L).otherwise(0L))
      // the diff output is tiny (id + status) but feeds two consumers;
      // materialize it once or the digest join re-scans both corpus
      // versions per consumer (exchange reuse cannot be relied on
      // across the two differently-filtered subtrees)
      val diff = Pin(Layout.diffSnapshots(oldSnap, newSnap, "doc_id", "text")
        .select("doc_id", "status"))
      val carried = TextOps.quality(oldSnap, "doc_id", "text", "n_chars", stop)
        .join(diff.filter(col("status") === "unchanged").select("doc_id"),
          "doc_id")
        .withColumn("curated_from", lit("prior"))
      val fresh = TextOps.quality(
          newSnap.join(diff.filter(col("status").isin("added", "changed"))
            .select("doc_id"), "doc_id"),
          "doc_id", "text", "n_chars", stop)
        .withColumn("curated_from", lit("delta"))
      carried.unionByName(fresh)
        .select("doc_id", "n_chars", "n_tokens", "quality_ok", "curated_from")
        .orderBy("doc_id")
    },

    // Sketch aggregation: built-in HLL + graft's native KMV sketch
    // (TypedImperativeAggregate, graft.functions.KmvDistinct) side by
    // side with the exact count. Rows-only (engine-specific sketches).
    //
    // Dedup-first shape: pre-aggregating to distinct (event_type,
    // user_id) keeps every agg on the hash-aggregate fast path. Mixing
    // countDistinct with other aggs would plan an Expand (input
    // duplicated per distinct/non-distinct branch) — measured 6x slower
    // here, and at corpus scale Expand doubles map-side shuffle volume.
    // Sketches are duplicate-insensitive, so results are bit-identical
    // and exact becomes a plain count.
    QueryDef("hll1_approx_distinct", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      spark.table("events").select("event_type", "user_id").distinct()
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
          expr("kmv_distinct(user_id, 256)").as("kmv_users"),
          count(col("user_id")).as("exact_users"))
        .orderBy("event_type")
    }, None),

    // CCNet-style bigram-LM quality scoring ([[graft.ops.TextOps.lmScore]]):
    // add-1 bigram model trained on the corpus, per-doc cross-entropy in
    // micro-nats, head/middle/tail tiers. Per-bigram log-probs round to
    // BIGINT micro-nats immediately; everything downstream is exact
    // integer arithmetic, so the oracle grades values bit-for-bit.
    QueryDef.views("lm1_bigram_lm",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  g AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
        |            THEN list_transform(range(1, len(w)),
        |              i -> struct_pack(w1 := w[i], w2 := w[i + 1]))
        |            ELSE [] END) AS bg
        |        FROM t),
        |  b AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM g),
        |  db AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS n
        |         FROM b GROUP BY 1, 2, 3),
        |  c2 AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c2 FROM db GROUP BY 1, 2),
        |  c1 AS (SELECT w1, CAST(sum(n) AS BIGINT) AS c1 FROM db GROUP BY 1),
        |  vv AS (SELECT CAST(count(DISTINCT w1) AS BIGINT) AS v FROM c2),
        |  sc AS (SELECT db.doc_id, db.n,
        |           CAST(round(ln((c2.c2 + CAST(1 AS DOUBLE))
        |             / (c1.c1 + CAST(vv.v AS DOUBLE))) * 1000000) AS BIGINT) AS lp
        |         FROM db JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv),
        |  pd AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |           CAST(-sum(n * lp) AS BIGINT) AS xent_sum_micro
        |         FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(pd.xent_sum_micro, 0) AS xent_sum_micro,
        |  pd.xent_sum_micro // pd.n_bigrams AS xent_micro,
        |  CASE WHEN pd.xent_sum_micro // pd.n_bigrams <= 3340000 THEN 'head'
        |       WHEN pd.xent_sum_micro // pd.n_bigrams <= 3420000 THEN 'middle'
        |       WHEN pd.xent_sum_micro IS NOT NULL THEN 'tail' END AS tier
        |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
        |ORDER BY d.doc_id""".stripMargin) { spark =>
      TextOps.lmScore(spark.table("documents"), "doc_id", "text",
          headMaxMicro = 3340000L, middleMaxMicro = 3420000L)
        .orderBy("doc_id")
    },

    // The capped-broadcast LM path ([[graft.ops.TextOps.lmScore]] with
    // maxContexts): model capped to the top-16 contexts by count and
    // broadcast; bigrams outside it score with the uniform ln(1/V)
    // backoff. This is the 100 TB shape (the corpus never shuffles for
    // scoring) graded against an oracle that replicates the cap exactly.
    QueryDef.views("lm2_bigram_lm_capped",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  g AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
        |            THEN list_transform(range(1, len(w)),
        |              i -> struct_pack(w1 := w[i], w2 := w[i + 1]))
        |            ELSE [] END) AS bg
        |        FROM t),
        |  b AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM g),
        |  db AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS n
        |         FROM b GROUP BY 1, 2, 3),
        |  c2 AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c2 FROM db GROUP BY 1, 2),
        |  c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        |  vv AS (SELECT CAST(count(DISTINCT w1) AS BIGINT) AS v FROM c2),
        |  kept AS (SELECT w1, c1 FROM c1 ORDER BY c1 DESC, w1 LIMIT 16),
        |  sc AS (SELECT db.doc_id, db.n,
        |           CASE WHEN kept.w1 IS NULL
        |             THEN CAST(round(ln(CAST(1.0 AS DOUBLE)
        |               / CAST(vv.v AS DOUBLE)) * 1000000) AS BIGINT)
        |             ELSE CAST(round(ln((c2.c2 + CAST(1 AS DOUBLE))
        |               / (kept.c1 + CAST(vv.v AS DOUBLE))) * 1000000) AS BIGINT)
        |           END AS lp
        |         FROM db
        |         LEFT JOIN c2 USING (w1, w2)
        |         LEFT JOIN kept USING (w1)
        |         CROSS JOIN vv),
        |  pd AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |           CAST(-sum(n * lp) AS BIGINT) AS xent_sum_micro
        |         FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(pd.xent_sum_micro, 0) AS xent_sum_micro,
        |  pd.xent_sum_micro // pd.n_bigrams AS xent_micro,
        |  CASE WHEN pd.xent_sum_micro // pd.n_bigrams <= 3340000 THEN 'head'
        |       WHEN pd.xent_sum_micro // pd.n_bigrams <= 3420000 THEN 'middle'
        |       WHEN pd.xent_sum_micro IS NOT NULL THEN 'tail' END AS tier
        |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
        |ORDER BY d.doc_id""".stripMargin) { spark =>
      TextOps.lmScore(spark.table("documents"), "doc_id", "text",
          headMaxMicro = 3340000L, middleMaxMicro = 3420000L,
          maxContexts = 16)
        .orderBy("doc_id")
    },

    // The TRIMMED capped path: maxPerContext bounds the broadcast model
    // at maxContexts·maxPerContext rows (top continuations per kept
    // context); an evicted bigram scores as unseen (c2 → 0 + add-1
    // smoothing). Oracle replicates the cap AND the trim exactly, so
    // the eviction backoff arithmetic — not just the keep-everything
    // parity the unit tests pin — is graded independently.
    QueryDef.views("lm3_bigram_lm_trimmed",
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  g AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
        |            THEN list_transform(range(1, len(w)),
        |              i -> struct_pack(w1 := w[i], w2 := w[i + 1]))
        |            ELSE [] END) AS bg
        |        FROM t),
        |  b AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM g),
        |  db AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS n
        |         FROM b GROUP BY 1, 2, 3),
        |  c2 AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c2 FROM db GROUP BY 1, 2),
        |  c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        |  vv AS (SELECT CAST(count(DISTINCT w1) AS BIGINT) AS v FROM c2),
        |  kept AS (SELECT w1, c1 FROM c1 ORDER BY c1 DESC, w1 LIMIT 16),
        |  c2k AS (SELECT c2.w1, c2.w2, c2.c2,
        |            row_number() OVER (PARTITION BY c2.w1
        |                               ORDER BY c2.c2 DESC, c2.w2) AS rk
        |          FROM c2 JOIN kept USING (w1)),
        |  c2b AS (SELECT w1, w2, c2 FROM c2k WHERE rk <= 2),
        |  sc AS (SELECT db.doc_id, db.n,
        |           CASE WHEN kept.w1 IS NULL
        |             THEN CAST(round(ln(CAST(1.0 AS DOUBLE)
        |               / CAST(vv.v AS DOUBLE)) * 1000000) AS BIGINT)
        |             ELSE CAST(round(ln((COALESCE(c2b.c2, 0) + CAST(1 AS DOUBLE))
        |               / (kept.c1 + CAST(vv.v AS DOUBLE))) * 1000000) AS BIGINT)
        |           END AS lp
        |         FROM db
        |         LEFT JOIN c2b USING (w1, w2)
        |         LEFT JOIN kept USING (w1)
        |         CROSS JOIN vv),
        |  pd AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |           CAST(-sum(n * lp) AS BIGINT) AS xent_sum_micro
        |         FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(pd.xent_sum_micro, 0) AS xent_sum_micro,
        |  pd.xent_sum_micro // pd.n_bigrams AS xent_micro,
        |  CASE WHEN pd.xent_sum_micro // pd.n_bigrams <= 3340000 THEN 'head'
        |       WHEN pd.xent_sum_micro // pd.n_bigrams <= 3420000 THEN 'middle'
        |       WHEN pd.xent_sum_micro IS NOT NULL THEN 'tail' END AS tier
        |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
        |ORDER BY d.doc_id""".stripMargin) { spark =>
      TextOps.lmScore(spark.table("documents"), "doc_id", "text",
          headMaxMicro = 3340000L, middleMaxMicro = 3420000L,
          maxContexts = 16, maxPerContext = 2)
        .orderBy("doc_id")
    },

    // Sorted-neighborhood fuzzy dedup (merge/purge;
    // [[graft.ops.TextOps.fuzzyNeighborPairs]]): block-partitioned sort
    // by normalized signature, Levenshtein verify within a 4-row
    // neighborhood — the edit-distance complement to the MinHash /
    // SimHash / SRP families. Integers end to end; oracle exact.
    QueryDef.views("fz1_fuzzy_neighbors",
      """WITH s AS (SELECT doc_id,
        |    substring(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), 1, 40) AS sig
        |  FROM documents),
        |  r AS (SELECT doc_id, sig, substring(sig, 1, 6) AS blk,
        |          row_number() OVER (PARTITION BY substring(sig, 1, 6)
        |                             ORDER BY sig, doc_id) AS rn
        |        FROM s),
        |  p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |          CAST(levenshtein(a.sig, b.sig) AS BIGINT) AS dist
        |        FROM r a JOIN r b
        |          ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 4)
        |SELECT a_id, b_id, dist FROM p WHERE dist <= 6
        |ORDER BY a_id, b_id""".stripMargin) { spark =>
      TextOps.fuzzyNeighborPairs(spark.table("documents"), "doc_id", "text",
          blockLen = 6, sigLen = 40, window = 4, maxDist = 6)
        .orderBy("a_id", "b_id")
    },

    // Entity resolution end-to-end — the merge/purge GOLDEN RECORD:
    // fz1's sorted-neighborhood fuzzy pairs → connected components
    // (every record assigned a cluster, singletons their own) → one
    // survivor row per entity with consensus attributes (majority
    // lang, ties to the lexicographic minimum — derived by max-count
    // join + min, a formulation both engines state identically — and
    // max n_chars as the "richest member" field). The composition is
    // what's graded: blocking, verify, transitive closure, and
    // consensus must all agree with the oracle's independent recursive
    // walk for any row to hash-match. Scale shape: pairs are
    // blocked-window only (never corpus²), components exchange labels
    // only, consensus is two hash aggregates on (cluster, lang).
    QueryDef.views("er1_golden_record",
      """WITH RECURSIVE
        |  s AS MATERIALIZED (SELECT doc_id,
        |    substring(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), 1, 40) AS sig
        |  FROM documents),
        |  r AS MATERIALIZED (SELECT doc_id, sig,
        |          substring(sig, 1, 6) AS blk,
        |          row_number() OVER (PARTITION BY substring(sig, 1, 6)
        |                             ORDER BY sig, doc_id) AS rn
        |        FROM s),
        |  p AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |        FROM r a JOIN r b
        |          ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 4
        |        WHERE levenshtein(a.sig, b.sig) <= 6),
        |  edges AS MATERIALIZED (SELECT a_id AS a, b_id AS b FROM p
        |          UNION SELECT b_id, a_id FROM p),
        |  walk(node, lbl) AS (
        |    SELECT a, a FROM (SELECT DISTINCT a FROM edges) base
        |    UNION
        |    SELECT e.a, w2.lbl FROM edges e JOIN walk w2 ON e.b = w2.node),
        |  lbls AS MATERIALIZED (
        |    SELECT node, min(lbl) AS cluster FROM walk GROUP BY node),
        |  asg AS MATERIALIZED (
        |    SELECT d.doc_id, d.lang, d.n_chars,
        |           COALESCE(l.cluster, d.doc_id) AS cluster
        |    FROM documents d LEFT JOIN lbls l ON d.doc_id = l.node),
        |  g AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
        |          CAST(max(n_chars) AS BIGINT) AS max_chars
        |        FROM asg GROUP BY 1),
        |  lc AS MATERIALIZED (
        |    SELECT cluster, lang, count(*) AS c FROM asg GROUP BY 1, 2),
        |  mx AS (SELECT cluster, max(c) AS maxc FROM lc GROUP BY 1),
        |  gl AS (SELECT lc.cluster, min(lc.lang) AS lang_golden
        |         FROM lc JOIN mx ON lc.cluster = mx.cluster
        |           AND lc.c = mx.maxc
        |         GROUP BY 1)
        |SELECT g.cluster AS cluster_id, g.n_members, gl.lang_golden,
        |       g.max_chars
        |FROM g JOIN gl ON g.cluster = gl.cluster
        |ORDER BY cluster_id""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val pairs = TextOps.fuzzyNeighborPairs(docs, "doc_id", "text",
        blockLen = 6, sigLen = 40, window = 4, maxDist = 6)
      val comp = Dedup.dupClusters(pairs, "a_id", "b_id")
      val asg = docs
        .join(comp.select(col("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster"))
      val g = asg.groupBy("cluster")
        .agg(count(lit(1)).as("n_members"),
          max(col("n_chars").cast("bigint")).as("max_chars"))
      val lc = asg.groupBy("cluster", "lang").agg(count(lit(1)).as("c"))
      val mx = lc.groupBy("cluster").agg(max("c").as("maxc"))
      val gl = lc.join(mx, "cluster")
        .filter(col("c") === col("maxc"))
        .groupBy("cluster").agg(min("lang").as("lang_golden"))
      g.join(gl, "cluster")
        .select(col("cluster").as("cluster_id"), col("n_members"),
          col("lang_golden"), col("max_chars"))
        .orderBy("cluster_id")
    },

    // Deterministic weighted sampling without replacement (Efraimidis–
    // Spirakis A-ES; [[graft.ops.TextOps.weightedSample]]): priority
    // ln(u)/w from a portable 48-bit md5 uniform, micro-rounded, top-100
    // by exact-integer TakeOrdered. Oracle runs the same formula.
    QueryDef.views("ws1_weighted_sample", {
      val hex48 = TextOps.hex48Sql("md5(CAST(doc_id AS STRING))")
      s"""SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
         |  CAST(round(ln(($hex48 + 1) / 281474976710657.0)
         |    / CAST(n_chars AS DOUBLE) * 1000000) AS BIGINT) AS key_micro
         |FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
         |ORDER BY key_micro DESC, doc_id LIMIT 100""".stripMargin
    }) { spark =>
      TextOps.weightedSample(spark.table("documents"), "doc_id", "n_chars",
        n = 100)
    },

    // DSIR-style importance resampling ([[graft.ops.TextOps.dsirSelect]]):
    // raw (non-en) docs scored by Σ n(w)·[ln p_target(w) − ln p_raw(w)]
    // with target = the English subset; top-100 selected. Micro-nat
    // integer weights; selection rank has a total (weight, id) tiebreak,
    // so the oracle grades the flag exactly.
    QueryDef.views("ds1_dsir_select",
      """WITH t AS (SELECT doc_id, lang = 'en' AS is_t,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  dt AS (SELECT doc_id, is_t, unnest(w) AS w FROM t),
        |  dn AS (SELECT doc_id, is_t, w, CAST(count(*) AS BIGINT) AS n
        |         FROM dt GROUP BY 1, 2, 3),
        |  ct AS (SELECT w, CAST(sum(n) AS BIGINT) AS ct FROM dn WHERE is_t GROUP BY 1),
        |  cr AS (SELECT w, CAST(sum(n) AS BIGINT) AS cr FROM dn WHERE NOT is_t GROUP BY 1),
        |  st AS (SELECT CAST(sum(CASE WHEN is_t THEN n ELSE 0 END) AS BIGINT) AS nt,
        |           CAST(sum(CASE WHEN NOT is_t THEN n ELSE 0 END) AS BIGINT) AS nr,
        |           CAST(count(DISTINCT w) AS BIGINT) AS v
        |         FROM dn),
        |  sc AS (SELECT dn.doc_id, dn.n,
        |           CAST(round(ln((COALESCE(ct.ct, 0) + CAST(1 AS DOUBLE))
        |             / (st.nt + CAST(st.v AS DOUBLE))) * 1000000) AS BIGINT) AS lt,
        |           CAST(round(ln((cr.cr + CAST(1 AS DOUBLE))
        |             / (st.nr + CAST(st.v AS DOUBLE))) * 1000000) AS BIGINT) AS lr
        |         FROM dn LEFT JOIN ct USING (w) JOIN cr USING (w) CROSS JOIN st
        |         WHERE NOT dn.is_t),
        |  pd AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_toks,
        |           CAST(sum(n * (lt - lr)) AS BIGINT) AS w_micro
        |         FROM sc GROUP BY 1),
        |  sco AS (SELECT d.doc_id, COALESCE(pd.n_toks, 0) AS n_toks,
        |            COALESCE(pd.w_micro, 0) AS w_micro
        |          FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
        |          WHERE d.lang <> 'en'),
        |  pick AS (SELECT doc_id FROM sco
        |           ORDER BY w_micro DESC, doc_id LIMIT 100)
        |SELECT sco.doc_id, sco.n_toks, sco.w_micro,
        |  pick.doc_id IS NOT NULL AS selected
        |FROM sco LEFT JOIN pick ON sco.doc_id = pick.doc_id
        |ORDER BY sco.doc_id""".stripMargin) { spark =>
      TextOps.dsirSelect(spark.table("documents"), "doc_id", "text",
          targetPred = col("lang") === "en", quota = 100)
        .orderBy("doc_id")
    },

    // The capped-vocab DSIR path (maxVocab > 0 — the 100 TB shape: both
    // distributions trimmed to the top tokens by combined count and
    // BROADCAST; an out-of-model token contributes zero evidence, its
    // two uniform backoffs cancelling in the log-ratio). Oracle
    // replicates the cap exactly, grading the eviction arithmetic the
    // unit tests only check at keep-everything settings.
    QueryDef.views("ds2_dsir_capped",
      """WITH t AS (SELECT doc_id, lang = 'en' AS is_t,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |           FROM documents),
        |  dt AS (SELECT doc_id, is_t, unnest(w) AS w FROM t),
        |  dn AS (SELECT doc_id, is_t, w, CAST(count(*) AS BIGINT) AS n
        |         FROM dt GROUP BY 1, 2, 3),
        |  ct AS (SELECT w, CAST(sum(n) AS BIGINT) AS ct FROM dn WHERE is_t GROUP BY 1),
        |  cr AS (SELECT w, CAST(sum(n) AS BIGINT) AS cr FROM dn WHERE NOT is_t GROUP BY 1),
        |  st AS (SELECT CAST(sum(CASE WHEN is_t THEN n ELSE 0 END) AS BIGINT) AS nt,
        |           CAST(sum(CASE WHEN NOT is_t THEN n ELSE 0 END) AS BIGINT) AS nr,
        |           CAST(count(DISTINCT w) AS BIGINT) AS v
        |         FROM dn),
        |  call AS (SELECT w, CAST(sum(n) AS BIGINT) AS call FROM dn GROUP BY 1),
        |  kept AS (SELECT w FROM call ORDER BY call DESC, w LIMIT 64),
        |  ctk AS (SELECT ct.w, ct.ct FROM ct JOIN kept USING (w)),
        |  crk AS (SELECT cr.w, cr.cr FROM cr JOIN kept USING (w)),
        |  sc AS (SELECT dn.doc_id, dn.n,
        |           CASE WHEN crk.cr IS NULL THEN CAST(0 AS BIGINT)
        |             ELSE CAST(round(ln((COALESCE(ctk.ct, 0) + CAST(1 AS DOUBLE))
        |                    / (st.nt + CAST(st.v AS DOUBLE))) * 1000000) AS BIGINT)
        |                - CAST(round(ln((crk.cr + CAST(1 AS DOUBLE))
        |                    / (st.nr + CAST(st.v AS DOUBLE))) * 1000000) AS BIGINT)
        |           END AS d
        |         FROM dn LEFT JOIN ctk USING (w) LEFT JOIN crk USING (w)
        |         CROSS JOIN st
        |         WHERE NOT dn.is_t),
        |  pd AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_toks,
        |           CAST(sum(n * d) AS BIGINT) AS w_micro
        |         FROM sc GROUP BY 1),
        |  sco AS (SELECT d2.doc_id, COALESCE(pd.n_toks, 0) AS n_toks,
        |            COALESCE(pd.w_micro, 0) AS w_micro
        |          FROM documents d2 LEFT JOIN pd ON d2.doc_id = pd.doc_id
        |          WHERE d2.lang <> 'en'),
        |  pick AS (SELECT doc_id FROM sco
        |           ORDER BY w_micro DESC, doc_id LIMIT 100)
        |SELECT sco.doc_id, sco.n_toks, sco.w_micro,
        |  pick.doc_id IS NOT NULL AS selected
        |FROM sco LEFT JOIN pick ON sco.doc_id = pick.doc_id
        |ORDER BY sco.doc_id""".stripMargin) { spark =>
      TextOps.dsirSelect(spark.table("documents"), "doc_id", "text",
          targetPred = col("lang") === "en", quota = 100, maxVocab = 64)
        .orderBy("doc_id")
    },

    // Recursive CTE (Spark 4's WITH RECURSIVE): transitive closure over
    // TREE edges inside each word-set duplicate group (parent of member
    // rn is max(rn div 16, 1)) — every recursion level is a full
    // distributed iteration, so the edge layout must bound the depth: a
    // 16-ary tree closes a 248-member group in 2 levels where a chain
    // (rn -> rn+1) recurses group-size times (measured 97s chain vs 7s
    // binary vs ~2s 16-ary at sf0.1). Acyclic, single path per node.
    QueryDef("rc1_recursive_closure", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      // The recursive CTE's loop body replants every relation it
      // references ON EACH LEVEL — unpinned, the md5-over-sorted-tokens
      // corpus pass (`g`) and the rank self-join (`e`) re-executed per
      // recursion depth. Pin `m` and `e` once ([[Pin]] — the
      // dedup-family playbook, computed inside the timed query), so each
      // level joins the frontier against a materialized edge list.
      // `m` additionally fuses the former dup-join (g ⋈ groupBy-having)
      // into one windowed pass: rn + group count share the PARTITION BY
      // h exchange, and `cnt > 1` keeps exactly the dup groups. Output
      // relations are identical; the oracle text is unchanged.
      Pin(spark.sql(
        """WITH g AS (SELECT doc_id, md5(array_join(array_sort(array_distinct(
          |        filter(split(text, ' '), x -> length(x) > 0))), ' ')) AS h
          |      FROM documents),
          |w AS (SELECT doc_id, h,
          |        row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn,
          |        count(*) OVER (PARTITION BY h) AS cnt
          |      FROM g)
          |SELECT doc_id, h, rn FROM w WHERE cnt > 1""".stripMargin))
        .createOrReplaceTempView("rc1_m")
      Pin(spark.sql(
        """SELECT a.doc_id AS src, b.doc_id AS dst
          |FROM rc1_m a JOIN rc1_m b ON a.h = b.h AND b.rn >= 2
          |  AND a.rn = greatest(b.rn div 16, 1)""".stripMargin))
        .createOrReplaceTempView("rc1_e")
      spark.sql(
        """WITH RECURSIVE
          |r(node, root) AS (
          |  SELECT doc_id AS node, doc_id AS root FROM rc1_m WHERE rn = 1
          |  UNION ALL
          |  SELECT e.dst, r.root FROM r JOIN rc1_e e ON e.src = r.node)
          |SELECT root, CAST(count(*) AS BIGINT) AS n_members,
          |  CAST(max(node) AS BIGINT) AS max_member
          |FROM r GROUP BY root ORDER BY root""".stripMargin)
    }, Option(
      """WITH RECURSIVE
        |g AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
        |        list_filter(string_split(text, ' '), x -> len(x) > 0))), ' ')) AS h
        |      FROM documents),
        |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
        |m AS (SELECT g.doc_id, g.h,
        |        row_number() OVER (PARTITION BY g.h ORDER BY g.doc_id) AS rn
        |      FROM g JOIN dup USING (h)),
        |e AS (SELECT a.doc_id AS src, b.doc_id AS dst
        |      FROM m a JOIN m b ON a.h = b.h AND b.rn >= 2
        |        AND a.rn = greatest(b.rn // 16, 1)),
        |r(node, root) AS (
        |  SELECT doc_id, doc_id FROM m WHERE rn = 1
        |  UNION ALL
        |  SELECT e.dst, r.root FROM r JOIN e ON e.src = r.node)
        |SELECT root, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(max(node) AS BIGINT) AS max_member
        |FROM r GROUP BY root ORDER BY root""".stripMargin)),

    // End-to-end curation pipeline in ONE query — the ops compose:
    // quality gate (x2's criteria) → exact dedup keep-first → per-lang
    // quota → per-lang stats with an id-set digest. Every stage is
    // deterministic, so the oracle grades the whole pipeline bit-exact.
    QueryDef.views("cp1_curation_pipeline",
      """WITH gated AS (SELECT doc_id, lang, text, n_chars FROM documents
        |    WHERE n_chars >= 100 AND
        |      CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) >= 20),
        |  dedup AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
        |  kept AS (SELECT g.doc_id, g.lang, g.n_chars
        |           FROM gated g JOIN dedup d ON g.doc_id = d.doc_id),
        |  quota AS (SELECT doc_id, lang, n_chars,
        |              row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |            FROM kept)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS ids_md5
        |FROM quota WHERE rn <= 40
        |GROUP BY lang ORDER BY lang""".stripMargin) { spark =>
      // single corpus scan: passthrough gate, keep-first winner rides
      // the dedup aggregate buffer (same shape as tp1)
      val docs = spark.table("documents")
      val gated = TextOps.quality(docs, "doc_id", "text", "n_chars",
          Seq("the", "and", "of", "to", "a", "in", "is"),
          passthrough = Seq("text", "lang"))
        .filter(col("quality_ok"))
      val kept = gated.groupBy(md5(col("text")).as("__h"))
        .agg(min_by(struct(col("doc_id"), col("lang"), col("n_chars")),
          col("doc_id")).as("r"))
        .select(col("r.doc_id"), col("r.lang"), col("r.n_chars"))
      kept
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy("doc_id")))
        .filter(col("rn") <= 40)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("sum_chars"),
          // numeric sort FIRST, then stringify — a lexical sort of id
          // strings would diverge from the oracle's ORDER BY doc_id
          sort_array(collect_list(col("doc_id"))).as("__ids"))
        .select(col("lang"), col("n_docs"), col("sum_chars"),
          md5(concat_ws(",",
            expr("transform(__ids, x -> cast(x as string))"))).as("ids_md5"))
        .orderBy("lang")
    },

    // TF-IDF top-k terms per doc ([[graft.ops.TextOps.tfidfTopK]]):
    // idf rounds to micro-nats once, weight = tf·idf_micro is exact
    // integer arithmetic, top-k via a doc-partitioned window with a
    // total (weight desc, term) tiebreak — bit-exact oracle.
    QueryDef.views("ti1_tfidf_topk",
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |             x -> len(x) > 0)) AS w
        |           FROM documents),
        |  dt AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        |         FROM t GROUP BY 1, 2),
        |  dft AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY 1),
        |  nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM dt),
        |  sc AS (SELECT dt.doc_id, dt.w, dt.tf,
        |           dt.tf * CAST(round(ln(CAST(nn.n AS DOUBLE)
        |             / CAST(dft.df AS DOUBLE)) * 1000000) AS BIGINT) AS weight_micro
        |         FROM dt JOIN dft USING (w) CROSS JOIN nn),
        |  rk AS (SELECT doc_id, w, tf, weight_micro,
        |           CAST(row_number() OVER (PARTITION BY doc_id
        |             ORDER BY weight_micro DESC, w) AS BIGINT) AS rk
        |         FROM sc)
        |SELECT doc_id, rk, w, tf, weight_micro FROM rk WHERE rk <= 5
        |ORDER BY doc_id, rk""".stripMargin) { spark =>
      TextOps.tfidfTopK(spark.table("documents"), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rk")
    },

    // Corpus rank-frequency diagnostics ([[graft.ops.TextOps.zipfStats]]):
    // type/token/hapax counts + Zipf log-log slope over the top-100
    // tokens. ln(rank)/ln(count) round to micro-nat BIGINTs first; the
    // least-squares fit is exact integer sums + one final double
    // division, bit-identical across engines.
    QueryDef.views("cs1_zipf",
      """WITH t AS (SELECT unnest(list_filter(string_split(text, ' '),
        |             x -> len(x) > 0)) AS w
        |           FROM documents),
        |  c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
        |  tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |            CAST(count(*) AS BIGINT) AS n_types,
        |            CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |          FROM c),
        |  top AS (SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank
        |          FROM c ORDER BY cnt DESC, w LIMIT 100),
        |  xy AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
        |           CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS y
        |         FROM top),
        |  reg AS (SELECT CAST(count(*) AS BIGINT) AS n_ranks,
        |            CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |            CAST(sum(x * y) AS BIGINT) AS sxy,
        |            CAST(sum(x * x) AS BIGINT) AS sxx
        |          FROM xy)
        |SELECT n_tokens, n_types, n_hapax, n_ranks,
        |  CAST(round(CAST(n_ranks * sxy - sx * sy AS DOUBLE)
        |    / CAST(n_ranks * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT) AS slope_ppm,
        |  CAST(round((CAST(sy AS DOUBLE) - CAST(n_ranks * sxy - sx * sy AS DOUBLE)
        |    / CAST(n_ranks * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    / CAST(n_ranks AS DOUBLE)) AS BIGINT) AS intercept_micro
        |FROM reg CROSS JOIN tot""".stripMargin) { spark =>
      TextOps.zipfStats(spark.table("documents"), "text",
        topRanks = 100)
    },

    // Model-based quality gate ([[graft.ops.TextOps.classifierScore]]):
    // FineWeb-Edu/DCLM-style bag-of-words classifier inference. The
    // model is a broadcast map literal → scoring is scan-local with
    // zero shuffle; arithmetic is all-integer (micro-unit weights,
    // OOV terms contribute exactly zero), so the oracle — the same
    // model as a VALUES list, evidence via unnest+join — matches
    // bit-for-bit.
    QueryDef.views("qc1_classifier_gate",
      s"""WITH w(term, wt) AS (VALUES
        |    ${qcModel.map { case (t, w) => s"('$t', ${w}::BIGINT)" }
            .mkString(",\n    ")}),
        |  t AS (SELECT doc_id,
        |          unnest(list_filter(string_split(text, ' '),
        |            x -> len(x) > 0)) AS tok
        |        FROM documents),
        |  ev AS (SELECT t.doc_id, CAST(sum(w.wt) AS BIGINT) AS evid
        |         FROM t JOIN w ON t.tok = w.term GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |  CAST($qcBias + coalesce(ev.evid, 0) AS BIGINT) AS score_micro,
        |  ($qcBias + coalesce(ev.evid, 0)) >= $qcThreshold AS keep
        |FROM documents d LEFT JOIN ev ON d.doc_id = ev.doc_id
        |ORDER BY d.doc_id""".stripMargin) { spark =>
      TextOps.classifierScore(spark.table("documents"), "doc_id", "text",
          weightsMicro = qcModel.toMap, biasMicro = qcBias,
          thresholdMicro = qcThreshold)
        .orderBy("doc_id")
    },

    // In-engine classifier TRAINING ([[graft.ops.TextOps
    // .trainLogistic]]): full-batch logistic regression by distributed
    // gradient descent — the fastText/DCLM bootstrap where a weak label
    // (here the lang tag) is distilled into a reusable linear gate.
    // Each iteration is one BIGINT aggregate over a narrow presence-
    // feature projection; the only double op is the per-row sigmoid,
    // rounded to micro units immediately. The oracle UNROLLS the whole
    // training loop as CTEs and must land on bit-identical weights,
    // logits, probabilities, and gate decisions.
    QueryDef.views("qc2_classifier_train", qc2OracleSql) { spark =>
      val docs = spark.table("documents")
      val model = TextOps.trainLogistic(docs, "text",
        col("lang") === "en", qc2Vocab, qc2Iters, qc2LrNum, qc2LrDen)
      TextOps.scoreLogistic(docs, "doc_id", "text", model,
          thresholdMicro = qc2ThresholdMicro)
        .orderBy("doc_id")
    },

    // Quantile-derived gate: the trained classifier's operating point
    // picked from the logit distribution (keep the top 63%) rather
    // than a hand-tuned constant — how production gates actually set
    // thresholds (target a keep RATE, read the threshold off the score
    // distribution). percentile_disc stays in exact BIGINTs; the 1-row
    // threshold broadcasts back over the scores.
    QueryDef.views("qc3_gate_at_quantile", qc3OracleSql) { spark =>
      val docs = spark.table("documents")
      val model = TextOps.trainLogistic(docs, "text",
        col("lang") === "en", qc2Vocab, qc2Iters, qc2LrNum, qc2LrDen)
      val scored = TextOps.scoreLogistic(docs, "doc_id", "text", model)
        .select("doc_id", "z_micro")
      val thr = scored.agg(expr(
        s"percentile_disc($qc3Quantile) WITHIN GROUP (ORDER BY z_micro)")
        .as("t"))
      scored.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("z_micro"),
          (col("z_micro") >= col("t")).as("keep"),
          col("t").cast("bigint").as("threshold_micro"))
        .orderBy("doc_id")
    },

    // Exact ROC-AUC ([[graft.ops.TextOps.classifierAuc]]): the
    // evaluation leg of the classifier triangle — qc1's handed-in gate
    // measured against qc2's weak label on the ranking axis. Mann-
    // Whitney on floor-bucketed scores (ties count half), so the
    // corpus reduces to ONE hash aggregate over |buckets| rows before
    // the window; the pair numerator is exact DECIMAL(38,0) (P·N
    // overflows BIGINT past ~3e9 per class) and the single double op
    // is the final ppm ratio. The oracle replays bucket, cumulative,
    // numerator and ratio exactly.
    QueryDef.views("au1_classifier_auc", qcScoredCte +
      s"""
        |, b AS (SELECT (s - ((s % 1000) + 1000) % 1000) // 1000 AS bucket,
        |               CAST(sum(y) AS BIGINT) AS np,
        |               CAST(sum(1 - y) AS BIGINT) AS nn
        |        FROM sc GROUP BY 1),
        |  c AS (SELECT bucket, np, nn,
        |          CAST(coalesce(sum(nn) OVER (ORDER BY bucket
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |            0) AS BIGINT) AS cumneg
        |        FROM b),
        |  f AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |          CAST(sum(nn) AS BIGINT) AS n_neg,
        |          CAST(count(*) AS BIGINT) AS n_buckets,
        |          sum(CAST(np AS HUGEINT) * 2 * CAST(cumneg AS HUGEINT)
        |            + CAST(np AS HUGEINT) * CAST(nn AS HUGEINT)) AS num2
        |        FROM c)
        |SELECT n_pos, n_neg, n_buckets,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    CAST(round(CAST(num2 AS DOUBLE) * 1000000.0 /
        |      (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)))
        |      AS BIGINT)
        |  END AS auc_ppm
        |FROM f""".stripMargin) { spark =>
      val scored = TextOps.classifierScore(spark.table("documents"),
          "doc_id", "text", weightsMicro = qcModel.toMap,
          biasMicro = qcBias, thresholdMicro = qcThreshold,
          passthrough = Seq("lang"))
        .withColumn("y", (col("lang") === "en").cast("bigint"))
      TextOps.classifierAuc(scored, "score_micro", "y",
        bucketMicro = 1000L)
    },

    // Brier score ([[graft.ops.TextOps.brierScore]]): the strictly-
    // proper scoring rule completing the classifier-eval family — au1
    // ranks (AUC), au2 calibrates, au3 confuses, br1 scores the
    // PROBABILITIES. The sigmoid micro-rounding is qc2's oracle-pinned
    // formulation, so the mean squared error is cross-engine exact.
    QueryDef.views("br1_brier_score", qcScoredCte +
      """
        |, pr AS (SELECT y,
        |    CAST(round(CAST(1000000 AS DOUBLE) / (CAST(1 AS DOUBLE) +
        |      exp(CAST(s AS DOUBLE) / CAST(-1000000 AS DOUBLE))))
        |      AS BIGINT) AS p
        |  FROM sc)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(y) AS BIGINT) AS n_pos,
        |       CAST(sum(CAST((p - 1000000 * y) AS HUGEINT)
        |                * (p - 1000000 * y))
        |            // (CAST(count(*) AS HUGEINT) * 1000000) AS BIGINT)
        |         AS brier_micro
        |FROM pr""".stripMargin) { spark =>
      val scored = TextOps.classifierScore(spark.table("documents"),
          "doc_id", "text", weightsMicro = qcModel.toMap,
          biasMicro = qcBias, thresholdMicro = qcThreshold,
          passthrough = Seq("lang"))
        .withColumn("y", (col("lang") === "en").cast("bigint"))
      TextOps.brierScore(scored, "score_micro", "y")
    },

    // Calibration / reliability table ([[graft.ops.TextOps
    // .calibrationTable]]): per 0.1-logit bucket the observed positive
    // rate and truncated mean score — the artifact an operating point
    // is read off (qc3 picks a quantile; a human picks a bucket from
    // THIS table). All-integer (`div` ≡ `//`), one hash aggregate.
    QueryDef.views("au2_calibration", qcScoredCte +
      """
        |SELECT (s - ((s % 100000) + 100000) % 100000) // 100000 AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(y) AS BIGINT) AS n_pos,
        |       CAST((sum(y) * 1000) // count(*) AS BIGINT) AS pos_rate_pm,
        |       CAST(sum(s) // count(*) AS BIGINT) AS mean_score_micro
        |FROM sc GROUP BY 1 ORDER BY bucket""".stripMargin) { spark =>
      val scored = TextOps.classifierScore(spark.table("documents"),
          "doc_id", "text", weightsMicro = qcModel.toMap,
          biasMicro = qcBias, thresholdMicro = qcThreshold,
          passthrough = Seq("lang"))
        .withColumn("y", (col("lang") === "en").cast("bigint"))
      TextOps.calibrationTable(scored, "score_micro", "y",
          bucketMicro = 100000L)
        .orderBy("bucket")
    },

    // Operating-point metrics ([[graft.ops.TextOps
    // .confusionAtThreshold]]): the deployed gate's dashboard numbers
    // — confusion counts at qc1's threshold plus integer-div ppm
    // precision/recall/F1, every value re-derived by the oracle from
    // the same scoring CTE. Closes the evaluation family: au1 ranks
    // (threshold-free), au2 calibrates (pick the threshold), au3
    // reports (live the threshold).
    QueryDef.views("au3_confusion", qcScoredCte +
      s"""
        |, cf AS (SELECT
        |    CAST(sum(CASE WHEN s >= $qcThreshold AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN s >= $qcThreshold AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN s < $qcThreshold AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN s < $qcThreshold AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM sc),
        |  pr AS (SELECT tp, fp, fn, tn,
        |    CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) END AS precision_ppm,
        |    CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn) END AS recall_ppm
        |  FROM cf)
        |SELECT tp, fp, fn, tn, precision_ppm, recall_ppm,
        |  CASE WHEN coalesce(precision_ppm, 0) + coalesce(recall_ppm, 0) > 0
        |       THEN (2 * precision_ppm * recall_ppm)
        |            // (precision_ppm + recall_ppm) END AS f1_ppm
        |FROM pr""".stripMargin) { spark =>
      val scored = TextOps.classifierScore(spark.table("documents"),
          "doc_id", "text", weightsMicro = qcModel.toMap,
          biasMicro = qcBias, thresholdMicro = qcThreshold,
          passthrough = Seq("lang"))
        .withColumn("y", (col("lang") === "en").cast("bigint"))
      TextOps.confusionAtThreshold(scored, "score_micro", "y",
        thresholdMicro = qcThreshold)
    },

    // Embedding dimension reduction ([[graft.ops.Similarity
    // .projectVectors]]): dense 64→8 projection through a broadcast
    // matrix — the pre-index compression step. Pure scan-local
    // projection; each component is one sequential dot-product fold
    // (vec_dot ≡ list_dot_product) rounded to micro BIGINT.
    QueryDef.views("rp1_project_vectors",
      s"""WITH m(j, mv) AS (VALUES
        |    $rpMatrixSql),
        |  e AS (SELECT vec_id, list_transform(embedding,
        |          x -> CAST(x AS DOUBLE)) AS v
        |        FROM embeddings)
        |SELECT e.vec_id, CAST(m.j AS BIGINT) AS out_dim,
        |  CAST(round(list_dot_product(e.v, m.mv) * 1000000) AS BIGINT)
        |    AS out_micro
        |FROM e CROSS JOIN m
        |ORDER BY vec_id, out_dim""".stripMargin) { spark =>
      Similarity.projectVectors(spark.table("embeddings"), "vec_id",
          "embedding", rpMatrix)
        .select(col("vec_id"),
          posexplode(col("proj_micro")).as(Seq("out_dim", "out_micro")))
        .select(col("vec_id"), col("out_dim").cast("bigint").as("out_dim"),
          col("out_micro"))
        .orderBy("vec_id", "out_dim")
    },

    // JSONL corpus ingestion: the documents table round-trips through
    // real JSONL files (Spark-native sharded write → schema'd json
    // read), graded field-for-field against the parquet original —
    // the interchange path every public text corpus arrives through.
    // Schema'd read, no inference pass: at 100 TB, schema inference
    // would be a second full scan. The JSONL write is Spark-native
    // (executors write shards; nothing funnels through the driver) and
    // cached like the CDC WAL.
    QueryDef("js1_jsonl_roundtrip", (spark, sfDir) => {
      graft.Tables.registerAll(spark, sfDir)
      val docs = spark.table("documents")
      val fix = StreamRun.fixture(spark, "jsonl", "jsonlv1", sfDir,
          "documents") { build =>
        docs.write.mode("overwrite").json(build.toString)
      }
      spark.read.schema(docs.schema).json(fix)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }, Some("""SELECT doc_id, text, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin)),

    // ORC round-trip: the second columnar interchange format next to
    // parquet (warehouse migrations routinely hand a Spark pipeline ORC
    // inputs). Spark-native executor-parallel write, fixture-cached
    // like the JSONL twin; the oracle grades the read-back against the
    // source-of-truth table, so type fidelity (BIGINT/UTF-8 round-trip)
    // is what's being hashed.
    QueryDef("or1_orc_roundtrip", (spark, sfDir) => {
      graft.Tables.registerAll(spark, sfDir)
      val dir = StreamRun.fixture(spark, "orc", "orcv1", sfDir,
          "documents") { build =>
        spark.table("documents").write.mode("overwrite").orc(build.toString)
      }
      spark.read.orc(dir)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }, Some("""SELECT doc_id, text, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin)),

    // CSV round-trip: the third interchange format (crawl manifests and
    // metadata exports routinely arrive as CSV). Spark-native quoted
    // write → schema'd PERMISSIVE read (no inference — at 100 TB the
    // inference pass is a second full scan). The null sentinel is set
    // explicitly on both directions because CSV's classic ambiguity
    // (empty string vs null both serializing to nothing) silently
    // corrupts string columns on read-back; with `\N` as the sentinel
    // the round trip is bijective. multiLine stays false — embedded
    // newlines would force whole-file (unsplittable) parsing, so
    // payloads with newlines belong in JSONL/parquet, not CSV
    // (CsvIngestSpec pins the quoted-comma path and the malformed-row
    // quarantine: PERMISSIVE parks broken lines in _corrupt_record
    // instead of killing the 1000-executor job at hour three).
    QueryDef("cv1_csv_roundtrip", (spark, sfDir) => {
      graft.Tables.registerAll(spark, sfDir)
      val dir = StreamRun.fixture(spark, "csv", "csvv1", sfDir,
          "documents") { build =>
        spark.table("documents").write.mode("overwrite")
          .option("header", "true").option("nullValue", "\\N")
          .csv(build.toString)
      }
      spark.read.schema(spark.table("documents").schema)
        .option("header", "true").option("nullValue", "\\N")
        .option("mode", "PERMISSIVE")
        .csv(dir)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }, Some("""SELECT doc_id, text, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin)),

    // Hive-style partitioned layout: corpus written `partitionBy(lang)`
    // (the standard curation layout — language is the first thing every
    // downstream query filters on), read back with a partition-column
    // filter. The filter resolves against the DIRECTORY LISTING, not
    // the data: at 100 TB a lang='en' read plans only the lang=en
    // files — zero footers opened, zero bytes scanned for the other
    // partitions (PartitionPruneSpec pins `selectedPartitions` = 1 and
    // an empty data filter). Round-trip graded field-for-field; the
    // partition column itself survives the directory encoding (it is
    // reconstructed from the path, a distinct code path from column
    // storage — worth grading).
    QueryDef("pt1_partition_pruning", (spark, sfDir) => {
      graft.Tables.registerAll(spark, sfDir)
      val dir = StreamRun.fixture(spark, "part", "partv1", sfDir,
          "documents") { build =>
        spark.table("documents").write.mode("overwrite")
          .partitionBy("lang").parquet(build.toString)
      }
      spark.read.parquet(dir)
        .filter(col("lang") === "en")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }, Some("""SELECT doc_id, text, lang, source, n_chars
      |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin)),

    // Dynamic partition pruning: pt1's static prune needs the literal
    // in the query; the production star-join shape ("this quarter's
    // facts") filters a DIM table instead, and the fact partitions
    // that matter only become known at RUNTIME from the dim's
    // broadcast result. Fixture: events re-laid-out partitionBy(day)
    // (30 daily partitions) + a tiny date-dim; the query joins
    // through dim.dom <= 7, and Spark's DPP turns the dim broadcast
    // into a partition filter on the fact scan — 7 of 30 directories
    // read, nothing static in the plan says so (PartitionPruneSpec
    // pins the dynamicpruning expression and the pruned scan). The
    // oracle computes the same week straight off the events table.
    QueryDef("pt2_dynamic_pruning", (spark, sfDir) => {
      graft.Tables.registerAll(spark, sfDir)
      val dir = StreamRun.fixture(spark, "dpp", "dppv1", sfDir, "events") {
          build =>
        val ev = spark.table("events")
          .withColumn("day", col("ts").cast("date"))
        ev.write.mode("overwrite").partitionBy("day")
          .parquet(s"$build/fact")
        ev.select(col("day")).distinct()
          .withColumn("dom", dayofmonth(col("day")).cast("bigint"))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$build/dim")
      }
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
        .filter(col("dom") <= 7)
      fact.join(dim, "day")
        .groupBy("day")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("total_value"))
        .orderBy("day")
    }, Some(
      """SELECT CAST(ts AS DATE) AS day,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,2)))
        |            AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM events
        |WHERE EXTRACT(day FROM CAST(ts AS DATE)) <= 7
        |GROUP BY 1 ORDER BY day""".stripMargin)),

    // Fuzzy edit-distance join ([[graft.ops.TextOps.fuzzyMatch]]):
    // SymSpell/FastSS deletion-neighborhood blocking + exact
    // levenshtein verify — the spell-correction / crawl-noise-
    // normalization operator. Fixture: the corpus vocabulary as the
    // dictionary, its complete single-deletion set as the queries
    // (every "typo" one deletion away, including ''), so dist-0 hits
    // (a deletion that lands on another word) and dist-1 hits both
    // occur. The oracle brute-forces the tiny vocabulary with
    // DuckDB's levenshtein — the Spark side must find exactly the
    // same pairs through the blocked plan (no cross join, pinned in
    // FuzzyMatchSpec).
    QueryDef.views("fz2_fuzzy_match",
      """WITH d AS (SELECT DISTINCT unnest(list_filter(
        |             string_split(text, ' '), x -> len(x) > 0)) AS w
        |           FROM documents),
        |  q AS (SELECT DISTINCT q FROM (
        |          SELECT unnest(list_transform(range(1, len(w) + 1),
        |                   i -> substr(w, 1, i - 1) || substr(w, i + 1)))
        |                 AS q
        |          FROM d))
        |SELECT q.q, d.w, CAST(levenshtein(q.q, d.w) AS BIGINT) AS dist
        |FROM q CROSS JOIN d
        |WHERE levenshtein(q.q, d.w) <= 1
        |ORDER BY q, w""".stripMargin) { spark =>
      val d = spark.table("documents")
        .select(explode(expr(
          "filter(split(text, ' '), x -> length(x) > 0)")).as("w"))
        .distinct()
      val q = d.select(explode(expr(
          "transform(sequence(1, length(w)), i -> " +
            "concat(substring(w, 1, i - 1), substring(w, i + 1)))"))
          .as("q"))
        .distinct()
      TextOps.fuzzyMatch(q, "q", d, "w", maxDist = 1)
        .orderBy("q", "w")
    },

    // Compression-ratio quality signal ([[graft.ops.TextOps
    // .compressionStats]]): deflate has no DuckDB twin, so the graded
    // output is invariant-style (the hll1x pattern) — DuckDB pins the
    // doc count while the violation counters must be zero: deflate
    // never beats the stored-block bound (n_bytes + 64), and
    // compressing text||text must exploit the self-similarity
    // (<= 2·deflate(text) + 32) — the property that makes the ratio a
    // repetition signal at all.
    QueryDef.views("x7_compression",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(0 AS BIGINT) AS n_overhead_violations,
        |  CAST(0 AS BIGINT) AS n_doubling_violations
        |FROM documents""".stripMargin) { spark =>
      val cs = TextOps.compressionStats(spark.table("documents"),
        "doc_id", "text")
      val dbl = spark.table("documents").select(
        expr("deflate_size(text)").as("c1"),
        expr("deflate_size(concat(text, text))").as("c2"))
      cs.agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("deflate_bytes") > col("n_bytes") + 64, 1L)
            .otherwise(0L)).cast("bigint").as("n_overhead_violations"))
        .crossJoin(dbl.agg(
          sum(when(col("c2") > col("c1") * 2 + 32, 1L).otherwise(0L))
            .cast("bigint").as("n_doubling_violations")))
    },

    // rb1 — robots.txt compliance gate, the one legally-loaded web op a
    // crawl pipeline cannot skip: per-host robots.txt text is ASSEMBLED
    // deterministically from the table (cdc1's derived-fixture style —
    // comments, blank lines, mixed-case fields, an ignorable
    // crawl-delay, a multi-group layout with a bot-specific override
    // group for 'de'), parsed back by WebOps.robotsRules (real
    // sequential RFC 9309 parsing of the text bytes), and every
    // document URL is gated by WebOps.robotsAllowed (group selection →
    // longest-prefix match → allow-wins-ties, no match → allowed). The
    // oracle never parses text: it derives the SAME rules relationally
    // and replays the decision logic, so any parser defect — group
    // state, case, comment handling, precedence — breaks the hash.
    // Plan: rules are control data (broadcast); decisions are one
    // partial-aggregatable max_by per probe.
    QueryDef.views("rb1_robots_gate",
      """WITH srcs AS (SELECT DISTINCT lang AS host, source,
        |         CAST(substr(source, 4) AS INT) AS n FROM documents),
        |rules AS (
        |  SELECT host, '*' AS agent, false AS allow,
        |         '/s' || source || '/' AS prefix
        |  FROM srcs WHERE n % 3 = 0
        |  UNION ALL
        |  SELECT host, '*', true, '/s' || source || '/ok'
        |  FROM srcs WHERE n % 3 = 0 AND n % 2 = 0
        |  UNION ALL
        |  SELECT DISTINCT lang, 'graftbot', false, '/'
        |  FROM documents WHERE lang = 'de'),
        |hosts AS (SELECT host, bool_or(agent = 'graftbot') AS has_spec
        |          FROM rules GROUP BY host),
        |chosen AS (SELECT r.* FROM rules r JOIN hosts h USING (host)
        |  WHERE (h.has_spec AND r.agent = 'graftbot')
        |     OR (NOT h.has_spec AND r.agent = '*')),
        |probes AS (SELECT doc_id, lang AS host,
        |    '/s' || source || '/' ||
        |    (CASE WHEN doc_id % 5 = 0 THEN 'ok-' ELSE 'p-' END) ||
        |    CAST(doc_id AS VARCHAR) AS path
        |  FROM documents),
        |m AS (SELECT p.doc_id, p.host, c.allow, len(c.prefix) AS plen
        |  FROM probes p LEFT JOIN chosen c
        |    ON p.host = c.host AND starts_with(p.path, c.prefix)),
        |d AS (SELECT doc_id, host, coalesce(allow, true) AS allowed,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY plen DESC NULLS LAST, allow DESC) AS rn
        |      FROM m)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_probes,
        |       CAST(count(CASE WHEN NOT allowed THEN 1 END) AS BIGINT)
        |         AS n_blocked,
        |       CAST(coalesce(sum(CASE WHEN NOT allowed THEN doc_id END), 0)
        |         AS BIGINT) AS sum_blocked_ids
        |FROM d WHERE rn = 1
        |GROUP BY host ORDER BY host""".stripMargin) { spark =>
      val docs = spark.table("documents")
      val srcs = docs.select(col("lang").as("host"), col("source")).distinct()
        .withColumn("n", expr("CAST(substr(source, 4) AS INT)"))
      // Assemble each host's robots.txt: fixed header noise + data-
      // derived rule lines, line order pinned by an explicit ordinal.
      val headerLines = srcs.select(col("host")).distinct().select(
        col("host"), array(
          struct(lit(0).as("ord"), concat(lit("# robots for "), col("host")).as("line")),
          struct(lit(1).as("ord"), lit("").as("line")),
          struct(lit(2).as("ord"), lit("User-agent: *").as("line")),
          struct(lit(3).as("ord"), lit("crawl-delay: 2").as("line"))).as("ls"))
        .select(col("host"), explode(col("ls")).as("l"))
      val disallowLines = srcs.filter(col("n") % 3 === 0)
        .select(col("host"), struct((col("n") + 10).as("ord"),
          concat(lit("Disallow: /s"), col("source"), lit("/")).as("line")).as("l"))
      val allowLines = srcs.filter(col("n") % 3 === 0 && col("n") % 2 === 0)
        .select(col("host"), struct((col("n") + 40).as("ord"),
          concat(lit("Allow: /s"), col("source"), lit("/ok")).as("line")).as("l"))
      val botGroup = srcs.filter(col("host") === "de")
        .select(col("host")).distinct().select(
          col("host"), array(
            struct(lit(100).as("ord"), lit("").as("line")),
            struct(lit(101).as("ord"), lit("User-Agent: graftbot").as("line")),
            struct(lit(102).as("ord"), lit("Disallow: /").as("line"))).as("ls"))
        .select(col("host"), explode(col("ls")).as("l"))
      val robotsTxt = headerLines.unionByName(disallowLines)
        .unionByName(allowLines).unionByName(botGroup)
        .groupBy("host")
        .agg(concat_ws("\n",
          expr("transform(array_sort(collect_list(l)), x -> x.line)"))
          .as("text"))
      val rules = graft.ops.WebOps.robotsRules(robotsTxt, "host", "text")
      val probes = docs.select(col("doc_id"), col("lang").as("host"),
        concat(lit("/s"), col("source"), lit("/"),
          when(col("doc_id") % 5 === 0, "ok-").otherwise("p-"),
          col("doc_id").cast("string")).as("path"))
      graft.ops.WebOps.robotsAllowed(probes, "doc_id", "host", "path",
          rules, "graftbot")
        .groupBy("host")
        .agg(count(lit(1)).as("n_probes"),
          count(when(!col("allowed"), 1)).as("n_blocked"),
          coalesce(sum(when(!col("allowed"), col("doc_id"))), lit(0L))
            .cast("long").as("sum_blocked_ids"))
        .orderBy("host")
    },

    // WARC crawl-record round trip ([[graft.ops.WebOps.warcResponse]] /
    // [[WebOps.parseWarc]]): every document serializes to a REAL ISO
    // 28500 response record (version line, headers, Content-Length,
    // CRLF framing) and parses back with pure codegen string
    // expressions — both directions scan-local. The oracle predicts
    // every extracted field directly from the table, so a framing or
    // header-parse defect anywhere in the pair fails the hash.
    QueryDef.views("wa1_warc_parse",
      """SELECT doc_id, 'response' AS warc_type,
        |  'https://example.org/doc/' || CAST(doc_id AS VARCHAR)
        |    AS target_uri,
        |  CAST(length(text) AS BIGINT) AS content_length,
        |  md5(text) AS payload_md5, true AS warc_ok
        |FROM documents ORDER BY doc_id""".stripMargin) { spark =>
      val staged = spark.table("documents").select(col("doc_id"),
        concat(lit("https://example.org/doc/"),
          col("doc_id").cast("string")).as("url"),
        lit("2026-01-01T00:00:00Z").as("wdate"), col("text"))
      val recs = staged.select(col("doc_id"),
        WebOps.warcResponse("url", "wdate", "text").as("rec"))
      WebOps.parseWarc(recs, "rec")
        .select(col("doc_id"), col("warc_type"), col("target_uri"),
          col("content_length"), md5(col("payload")).as("payload_md5"),
          col("warc_ok"))
        .orderBy("doc_id")
    },

    // URL blocklist gate ([[graft.ops.WebOps.urlFilter]]): RefinedWeb-
    // style crawl filtering — blocked domains match the host exactly or
    // as a parent suffix (www.src3… hits src3.example.com), blocked
    // substrings catch path patterns, domain hits win precedence. The
    // synthetic URL derives from (source, lang, doc_id) in both
    // engines; the gate itself is a scan-local literal predicate.
    QueryDef.views("wf1_url_filter",
      """WITH u AS (SELECT doc_id,
        |    'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
        |    || source || '.example.com/' || lang || '/article-'
        |    || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |  h AS (SELECT doc_id, url,
        |    lower(regexp_extract(url, '^[^:]+://([^/?#:]+)', 1)) AS host
        |  FROM u),
        |  b AS (SELECT doc_id, host,
        |    CASE WHEN host = 'src3.example.com'
        |           OR ends_with(host, '.src3.example.com')
        |           OR host = 'src7.example.com'
        |           OR ends_with(host, '.src7.example.com')
        |           OR host = 'src12.example.com'
        |           OR ends_with(host, '.src12.example.com')
        |         THEN 'domain'
        |         WHEN contains(lower(url), '/zh/') THEN 'pattern'
        |         ELSE NULL END AS block_reason
        |  FROM h)
        |SELECT doc_id, host, block_reason, block_reason IS NULL AS url_ok
        |FROM b ORDER BY doc_id""".stripMargin) { spark =>
      val staged = spark.table("documents").select(col("doc_id"),
        concat(lit("https://"),
          when(col("doc_id") % 3 === 0, "www.").otherwise(""),
          col("source"), lit(".example.com/"), col("lang"),
          lit("/article-"), col("doc_id").cast("string")).as("url"))
      WebOps.urlFilter(staged, "url",
          blockedDomains = Seq("src3.example.com", "src7.example.com",
            "src12.example.com"),
          blockedPatterns = Seq("/zh/"))
        .select("doc_id", "host", "block_reason", "url_ok")
        .orderBy("doc_id")
    },

    // HTML → text extraction ([[graft.ops.WebOps.htmlToText]]): each
    // document wraps into a full synthetic page — title, a script block
    // whose body contains a bare '<' (why script-stripping must precede
    // tag-stripping), a style block, heading, paragraph, comment — and
    // the extraction chain recovers exactly title + heading + body
    // text, which the oracle predicts directly from the table. The
    // chain is scan-local codegen regexp/replace; no DOM, no UDF.
    QueryDef.views("ht1_html_extract",
      """SELECT doc_id,
        |  'Doc ' || CAST(doc_id AS VARCHAR) || ' Doc '
        |    || CAST(doc_id AS VARCHAR) || ' ' || text AS extracted_text
        |FROM documents ORDER BY doc_id""".stripMargin) { spark =>
      val pages = spark.table("documents").select(col("doc_id"),
        concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title><script type=\"text/javascript\">var lt = 1 < 2;" +
            "</script><style>p { margin: 0; }</style></head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><p>"), col("text"),
          lit("</p><!-- footer --></body></html>")).as("html"))
      WebOps.htmlToText(pages, "html")
        .select("doc_id", "extracted_text")
        .orderBy("doc_id")
    },

    // The composed web pipeline, graded end to end (the cp1 pattern for
    // the crawl tier): document → synthetic HTML page → REAL WARC
    // record → parseWarc → htmlToText → URL blocklist → classifier
    // gate, ONE linear scan-local plan (classifierScore's passthrough
    // keeps host/validity columns so nothing re-joins its own lineage).
    // The oracle predicts every output — host, validity, score, keep —
    // straight from the documents table: any framing, extraction,
    // gating, or scoring defect anywhere in the five-op chain breaks
    // the hash. Title/heading tokens ('Doc', the id) are OOV to the
    // model, so the classifier evidence equals qc1's.
    QueryDef.views("wp1_web_pipeline", wpOracleSql) { spark =>
      val staged = spark.table("documents").select(col("doc_id"),
        concat(lit("https://"),
          when(col("doc_id") % 4 === 0, "blocked.example")
            .otherwise(concat(col("source"), lit(".example.com"))),
          lit("/doc/"), col("doc_id").cast("string")).as("url"),
        lit("2026-01-01T00:00:00Z").as("wdate"),
        concat(lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title></head><body><h1>Doc "), col("doc_id").cast("string"),
          lit("</h1><p>"), col("text"), lit("</p></body></html>")).as("html"))
      val recs = staged.select(col("doc_id"),
        WebOps.warcResponse("url", "wdate", "html").as("rec"))
      val parsed = WebOps.parseWarc(recs, "rec")
      val extracted = WebOps.htmlToText(parsed, "payload")
      val gated = WebOps.urlFilter(extracted, "target_uri",
        blockedDomains = Seq("blocked.example"), blockedPatterns = Nil)
      TextOps.classifierScore(gated, "doc_id", "extracted_text",
          weightsMicro = qcModel.toMap, biasMicro = qcBias,
          thresholdMicro = qcThreshold,
          passthrough = Seq("host", "warc_ok", "url_ok"))
        .orderBy("doc_id")
    },

    // st16 — the SAME five-op crawl pipeline as wp1, run as REAL
    // micro-batches: the documents table becomes genuine WARC/1.1
    // archive files (three chunk files by doc_id mod 3), a streaming
    // text read with lineSep = the WARC version magic delivers one
    // record per row and one ARCHIVE per trigger (maxFilesPerTrigger=1
    // — the crawl-firehose cadence), and parse → extract → URL gate →
    // classifier gate lift onto the stream UNCHANGED because every op
    // is a stateless scan-local projection. Each batch lands through
    // the K2 upsert writer (exactly-once ledger keyed by doc_id) into
    // the MemoryDb grading seam; doc_id is recovered from the record's
    // own WARC-Target-URI, not carried out-of-band — the stream sees
    // only bytes a real crawler would emit. Graded against wp1's
    // oracle VERBATIM: identical output is the lift claim. Fixture
    // files are built once per (dir, parquet fingerprint) via a
    // driver-side collect of the rendered records — a grading seam
    // bounded by the fixture corpus, not a production path (production
    // archives come from the crawler).
    QueryDef("st16_stream_crawl_ingest", (spark, dir) => {
      import spark.implicits._
      graft.Tables.registerAll(spark, dir)
      val fix = StreamRun.fixture(spark, "st16", "st16v1", dir, "documents") {
          run =>
        val staged = spark.table("documents").select(col("doc_id"),
          concat(lit("https://"),
            when(col("doc_id") % 4 === 0, "blocked.example")
              .otherwise(concat(col("source"), lit(".example.com"))),
            lit("/doc/"), col("doc_id").cast("string")).as("url"),
          lit("2026-01-01T00:00:00Z").as("wdate"),
          concat(lit("<html><head><title>Doc "),
            col("doc_id").cast("string"),
            lit("</title></head><body><h1>Doc "),
            col("doc_id").cast("string"),
            lit("</h1><p>"), col("text"),
            lit("</p></body></html>")).as("html"))
        val recs = staged.select(col("doc_id"),
          WebOps.warcResponse("url", "wdate", "html").as("rec"))
        (0 until 3).foreach { k =>
          val txt = recs.filter(pmod(col("doc_id"), lit(3)) === k)
            .orderBy("doc_id").select("rec")
            .collect().map(_.getString(0)).mkString("")
          StreamRun.stamp(java.nio.file.Files.write(
            run.resolve(s"chunk-$k.warc"), txt.getBytes("UTF-8")), k)
        }
      }
      val sink = StreamRun(spark, "st16") { run =>
        val sink = graft.cdc.Sinks.MemoryDb.table(run.id, "crawl")
        val writer = new graft.cdc.Sinks.UpsertWriter("crawl", "doc_id",
          Seq("doc_id", "host", "warc_ok", "url_ok", "score_micro", "keep"),
          runId = run.id)
        val factory = graft.cdc.Sinks.MemoryDb.factory(run.id)
        val stream = run.session().readStream
          .option("lineSep", "WARC/1.1\r\n")
          .option("maxFilesPerTrigger", "1")
          .text(fix)
          .filter(length(col("value")) > 0)
        val parsed = WebOps.parseWarc(stream, "value")
          .withColumn("doc_id", expr(
            "CAST(regexp_extract(target_uri, '/doc/([0-9]+)$', 1) AS BIGINT)"))
        val extracted = WebOps.htmlToText(parsed, "payload")
        val gated = WebOps.urlFilter(extracted, "target_uri",
          blockedDomains = Seq("blocked.example"), blockedPatterns = Nil)
        val scored = TextOps.classifierScore(gated, "doc_id",
          "extracted_text", weightsMicro = qcModel.toMap,
          biasMicro = qcBias, thresholdMicro = qcThreshold,
          passthrough = Seq("host", "warc_ok", "url_ok"))
        run.drain(scored.writeStream
          .outputMode("append")
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
              writer.writeBatch(batch.select(col("doc_id"), col("host"),
                col("warc_ok"), col("url_ok"), col("score_micro"),
                col("keep")), factory, batchId)
          })
        sink
      }
      sink.snapshot.values.toSeq.map(r =>
        (r("doc_id").toString.toLong, r("host").toString,
          r("warc_ok").toString.toBoolean, r("url_ok").toString.toBoolean,
          r("score_micro").toString.toLong, r("keep").toString.toBoolean))
        .toDF("doc_id", "host", "warc_ok", "url_ok", "score_micro", "keep")
        .orderBy("doc_id")
    }, Some(wpOracleSql)),

    // Column profiling census: one wide partial+final aggregate pass,
    // unpivoted to a row per column. Exact distincts here (gradeable);
    // the 100 TB knob is exactDistinct=false (HLL, error graded hll1x).
    // Parquet aggregate pushdown: COUNT/MIN/MAX answered from parquet
    // FOOTER STATISTICS through the DSv2 reader (PushedAggregation in
    // the scan) — at 100 TB the difference between reading row-group
    // metadata and scanning the table. Scoped to a CHILD session (own
    // conf, shared context), so every other entry keeps planning
    // against the default V1 path; AggPushdownSpec pins both the
    // pushdown firing here and the parent session staying V1.
    QueryDef("ap1_agg_pushdown", (spark, sfDir) => {
      graft.Tables.registerAll(spark, sfDir)
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.sources.useV1SourceList", "")
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      s2.read.parquet(s"$sfDir/lineitem.parquet")
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_orderkey"),
          max(col("l_orderkey")).as("max_orderkey"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
    }, Some(
      """SELECT count(*) AS n_rows,
        |       min(l_orderkey) AS min_orderkey,
        |       max(l_orderkey) AS max_orderkey,
        |       min(l_quantity) AS min_qty,
        |       max(l_quantity) AS max_qty
        |FROM lineitem""".stripMargin)),

    // Partition-overwrite backfill: the day-partitioned events table is
    // written once, then three days are RECOMPUTED (values doubled) and
    // spliced in with dynamic partition overwrite — Spark replaces only
    // the partitions present in the incoming write, the standard
    // reprocess-a-window maintenance op (static overwrite mode would
    // silently truncate the other 27 days; partitionOverwriteMode=
    // dynamic is exactly the difference under grade). The read-back
    // census must show doubled sums on the backfilled days and
    // untouched originals elsewhere — which the oracle recomputes from
    // the source directly.
    QueryDef("ov1_partition_backfill", (spark, sfDir) => {
      graft.Tables.registerAll(spark, sfDir)
      val src = spark.table("events")
        .select(col("event_id"), col("user_id"),
          col("value").cast("decimal(18,2)").as("value"),
          col("ts").cast("date").as("day"))
      val base = StreamRun.fixture(spark, "backfill", "backfillv1", sfDir,
          "events") { build =>
        val tab = s"$build/events_by_day"
        src.write.partitionBy("day").mode("overwrite").parquet(tab)
        // backfill: recompute days 10-12 with corrected (doubled) values
        src.filter(col("day").between("2024-01-10", "2024-01-12"))
          .withColumn("value", (col("value") * 2).cast("decimal(18,2)"))
          .write.partitionBy("day").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").parquet(tab)
      }
      spark.read.parquet(s"$base/events_by_day")
        .groupBy("day")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value")).cast("double").as("sum_value"))
        .orderBy("day")
    }, Some(
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        |       CAST(sum(CASE WHEN CAST(ts AS DATE)
        |                          BETWEEN DATE '2024-01-10'
        |                              AND DATE '2024-01-12'
        |                     THEN CAST(value AS DECIMAL(18,2)) * 2
        |                     ELSE CAST(value AS DECIMAL(18,2)) END)
        |            AS DOUBLE) AS sum_value
        |FROM events GROUP BY day ORDER BY day""".stripMargin)),

    // Materialized-view rewrite ([[graft.plans.MaterializedViews]] +
    // [[graft.plans.RewriteToMv]]): a rollup of orders at (status,
    // priority) granularity is built once and REGISTERED; the entry's
    // coarser status-level aggregate is then served by the optimizer
    // rule from the |groups|-row rollup (count → Σcnt, sum → Σsum,
    // cast back to the original result type), never the fact table —
    // the classic MV answer path, value-preserving by construction
    // (exact decimal/long re-aggregation). The oracle computes the
    // query directly on orders, so a wrong rollup build or a wrong
    // re-aggregation both fail the grade; MaterializedViewsSpec pins
    // that the rewrite actually fires (plan scans the MV, not the
    // base) and that DISTINCT/filters/unregistered measures stay on
    // the base table.
    QueryDef("mv1_rollup_rewrite", (spark, sfDir) => {
      graft.Tables.registerAll(spark, sfDir)
      val src = s"$sfDir/orders.parquet"
      val base = StreamRun.fixture(spark, "mv", "mvv1", sfDir, "orders") {
          build =>
        graft.plans.MaterializedViews.build(spark, src, s"$build/mv",
          Seq("o_orderstatus", "o_orderpriority"),
          Seq("CAST(o_totalprice AS DECIMAL(18,2))"))
      }
      graft.plans.MaterializedViews.register(spark, src, s"$base/mv",
        Seq("o_orderstatus", "o_orderpriority"),
        Seq("o_totalprice:DECIMAL(18,2)"))
      graft.plans.MaterializedViews.install(spark)
      spark.read.parquet(src)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total_price"))
        .orderBy("o_orderstatus")
    }, Some(
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    // Pairwise correlation profile ([[graft.ops.Profile.correlations]])
    // over the lineitem measures — ONE wide aggregate of exact integer
    // (cents) sums, report as sqrt-free r² ppm + sign so nothing in
    // the statistic is libm-dependent. The oracle replays the identity
    // from its own exact HUGEINT/DECIMAL sums: two engines, one
    // formula, identical doubles.
    QueryDef.views("cr1_correlations",
      """WITH b AS (SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
        |             CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
        |             CAST(round(l_discount * 100) AS BIGINT) AS d,
        |             CAST(round(l_tax * 100) AS BIGINT) AS t
        |           FROM lineitem),
        |  a AS (SELECT count(*) AS n,
        |          sum(q) AS s_q, sum(p) AS s_p, sum(d) AS s_d, sum(t) AS s_t,
        |          sum(CAST(q*q AS DECIMAL(38,0))) AS ss_q,
        |          sum(CAST(p*p AS DECIMAL(38,0))) AS ss_p,
        |          sum(CAST(d*d AS DECIMAL(38,0))) AS ss_d,
        |          sum(CAST(t*t AS DECIMAL(38,0))) AS ss_t,
        |          sum(CAST(q*p AS DECIMAL(38,0))) AS sp_qp,
        |          sum(CAST(q*d AS DECIMAL(38,0))) AS sp_qd,
        |          sum(CAST(q*t AS DECIMAL(38,0))) AS sp_qt,
        |          sum(CAST(p*d AS DECIMAL(38,0))) AS sp_pd,
        |          sum(CAST(p*t AS DECIMAL(38,0))) AS sp_pt,
        |          sum(CAST(d*t AS DECIMAL(38,0))) AS sp_dt
        |        FROM b),
        |  rows_ AS (
        |    SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
        |           CAST(sp_qp AS DOUBLE) AS sp, CAST(s_q AS DOUBLE) AS sa,
        |           CAST(s_p AS DOUBLE) AS sb, CAST(ss_q AS DOUBLE) AS sa2,
        |           CAST(ss_p AS DOUBLE) AS sb2, CAST(n AS DOUBLE) AS nd
        |    FROM a
        |    UNION ALL SELECT 'l_quantity', 'l_discount',
        |      CAST(sp_qd AS DOUBLE), CAST(s_q AS DOUBLE), CAST(s_d AS DOUBLE),
        |      CAST(ss_q AS DOUBLE), CAST(ss_d AS DOUBLE), CAST(n AS DOUBLE)
        |    FROM a
        |    UNION ALL SELECT 'l_quantity', 'l_tax',
        |      CAST(sp_qt AS DOUBLE), CAST(s_q AS DOUBLE), CAST(s_t AS DOUBLE),
        |      CAST(ss_q AS DOUBLE), CAST(ss_t AS DOUBLE), CAST(n AS DOUBLE)
        |    FROM a
        |    UNION ALL SELECT 'l_extendedprice', 'l_discount',
        |      CAST(sp_pd AS DOUBLE), CAST(s_p AS DOUBLE), CAST(s_d AS DOUBLE),
        |      CAST(ss_p AS DOUBLE), CAST(ss_d AS DOUBLE), CAST(n AS DOUBLE)
        |    FROM a
        |    UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |      CAST(sp_pt AS DOUBLE), CAST(s_p AS DOUBLE), CAST(s_t AS DOUBLE),
        |      CAST(ss_p AS DOUBLE), CAST(ss_t AS DOUBLE), CAST(n AS DOUBLE)
        |    FROM a
        |    UNION ALL SELECT 'l_discount', 'l_tax',
        |      CAST(sp_dt AS DOUBLE), CAST(s_d AS DOUBLE), CAST(s_t AS DOUBLE),
        |      CAST(ss_d AS DOUBLE), CAST(ss_t AS DOUBLE), CAST(n AS DOUBLE)
        |    FROM a)
        |SELECT col_x, col_y,
        |       CAST(sign(nd * sp - sa * sb) AS BIGINT) AS sign,
        |       CAST(round((nd * sp - sa * sb) * (nd * sp - sa * sb)
        |                  * 1000000.0
        |                  / nullif((nd * sa2 - sa * sa)
        |                           * (nd * sb2 - sb * sb), 0.0))
        |            AS BIGINT) AS r2_ppm
        |FROM rows_ ORDER BY col_x, col_y""".stripMargin) { spark =>
      Profile.correlations(spark.table("lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    },

    // Distribution drift ([[graft.ops.Profile.driftTvd]]) between the
    // two halves of the event month, for a categorical key and a binned
    // numeric — the retrain/alert monitor of an ML data pipeline. TVD
    // instead of PSI/KL: the statistic reduces to exact BIGINT
    // arithmetic (Σ|cᵃ·n_b − cᵇ·n_a|, one division at the end), so the
    // ppm output is bit-stable across engines where a per-bin ln()
    // would be libm-dependent.
    QueryDef.views("dr1_drift_tvd",
      """WITH a AS (SELECT event_type,
        |             CAST(floor(value / 50) AS BIGINT) AS bin FROM events
        |           WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
        |     b AS (SELECT event_type,
        |             CAST(floor(value / 50) AS BIGINT) AS bin FROM events
        |           WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'),
        |     na AS (SELECT count(*) AS n_a FROM a),
        |     nb AS (SELECT count(*) AS n_b FROM b),
        |     t AS (
        |       SELECT 'event_type' AS column_name, n_a, n_b,
        |              (SELECT sum(abs(COALESCE(ca, 0) * n_b
        |                            - COALESCE(cb, 0) * n_a))
        |               FROM (SELECT event_type AS k, count(*) AS ca
        |                     FROM a GROUP BY 1) x
        |               FULL OUTER JOIN
        |                    (SELECT event_type AS k, count(*) AS cb
        |                     FROM b GROUP BY 1) y USING (k)) AS num
        |       FROM na, nb
        |       UNION ALL
        |       SELECT 'value_bin', n_a, n_b,
        |              (SELECT sum(abs(COALESCE(ca, 0) * n_b
        |                            - COALESCE(cb, 0) * n_a))
        |               FROM (SELECT bin AS k, count(*) AS ca
        |                     FROM a GROUP BY 1) x
        |               FULL OUTER JOIN
        |                    (SELECT bin AS k, count(*) AS cb
        |                     FROM b GROUP BY 1) y USING (k))
        |       FROM na, nb)
        |SELECT column_name, n_a, n_b,
        |       CAST(round((num * 1000000.0)
        |                  / ((n_a * 1.0) * n_b * 2.0)) AS BIGINT) AS tvd_ppm
        |FROM t ORDER BY column_name""".stripMargin) { spark =>
      val ev = spark.table("events").select(col("event_type"),
        expr("CAST(floor(value / 50) AS BIGINT)").as("bin"), col("ts"))
      val aH = ev.filter(col("ts") < expr("TIMESTAMP '2024-01-16 00:00:00'"))
      val bH = ev.filter(col("ts") >= expr("TIMESTAMP '2024-01-16 00:00:00'"))
      val byType = Profile.driftTvd(aH, bH, "event_type")
        .select(lit("event_type").as("column_name"),
          col("n_a"), col("n_b"), col("tvd_ppm"))
      val byBin = Profile.driftTvd(aH, bH, "bin")
        .select(lit("value_bin").as("column_name"),
          col("n_a"), col("n_b"), col("tvd_ppm"))
      byType.unionByName(byBin).orderBy("column_name")
    },

    // k-anonymity publish gate ([[graft.ops.Privacy.kAnonymous]]): rows
    // whose quasi-identifier combination has fewer than k peers are
    // withheld (suppression). Graded as the per-group audit every
    // privacy review wants: group size + published flag for ALL quasi
    // groups, the flag derived from the operator's actual row-level
    // output (left join of full groups against the survivors), so the
    // semi-join path itself is under grade. k=8 spans the fixture
    // regimes: at sf0.001 every group suppresses, at sf0.1 every group
    // publishes, sf0.01 mixes — all three stay graded.
    QueryDef.views("pv1_k_anonymity",
      """WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n_rows
        |           FROM customer GROUP BY c_nationkey, c_mktsegment)
        |SELECT c_nationkey, c_mktsegment, n_rows,
        |       CAST(CASE WHEN n_rows >= 8 THEN 1 ELSE 0 END AS BIGINT)
        |         AS published
        |FROM g ORDER BY c_nationkey, c_mktsegment""".stripMargin) { spark =>
      val cust = spark.table("customer")
      val quasi = Seq("c_nationkey", "c_mktsegment")
      val kept = Privacy.kAnonymous(cust, quasi, k = 8)
        .groupBy(quasi.map(col): _*)
        .agg(count(lit(1)).as("n_kept"))
      cust.groupBy(quasi.map(col): _*)
        .agg(count(lit(1)).as("n_rows"))
        .join(kept, quasi, "left")
        .select(col("c_nationkey"), col("c_mktsegment"), col("n_rows"),
          when(col("n_kept").isNotNull, 1L).otherwise(0L).as("published"))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // pv3 — l-diversity ([[graft.ops.Privacy.lDiverse]]): pv1's
    // suppression strengthened against the homogeneity attack — a
    // quasi-group must have ≥ 8 rows AND ≥ 8 distinct sensitive values
    // (acctbal-cents signed decile, 19 possible) to publish — both
    // conditions genuinely split the fixture's groups at sf0.01. Audited per group like
    // pv1 so the oracle checks the gate's decision everywhere, not
    // just the surviving rows.
    QueryDef.views("pv3_l_diversity",
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |             count(*) AS n_rows,
        |             count(DISTINCT CAST(floor(c_acctbal * 100)
        |               AS BIGINT) % 10) AS n_sens
        |           FROM customer GROUP BY c_nationkey, c_mktsegment)
        |SELECT c_nationkey, c_mktsegment, n_rows,
        |       CAST(n_sens AS BIGINT) AS n_sens,
        |       CAST(CASE WHEN n_rows >= 8 AND n_sens >= 8
        |            THEN 1 ELSE 0 END AS BIGINT) AS published
        |FROM g ORDER BY c_nationkey, c_mktsegment""".stripMargin) { spark =>
      val quasi = Seq("c_nationkey", "c_mktsegment")
      val cust = spark.table("customer").withColumn("sens",
        expr("CAST(floor(c_acctbal * 100) AS BIGINT) % 10"))
      val kept = Privacy.lDiverse(cust, quasi, "sens", k = 8, l = 8)
        .groupBy(quasi.map(col): _*)
        .agg(count(lit(1)).as("n_kept"))
      cust.groupBy(quasi.map(col): _*)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("sens")).as("n_sens"))
        .join(kept, quasi, "left")
        .select(col("c_nationkey"), col("c_mktsegment"), col("n_rows"),
          col("n_sens"),
          when(col("n_kept").isNotNull, 1L).otherwise(0L).as("published"))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // pv4 — t-closeness ([[graft.ops.Privacy.tCloseness]]): the third
    // rung after pv1/pv3 — a group can be large AND diverse yet leak by
    // SKEW (90% of it holds a value the population holds at 1%), so the
    // gate bounds the ordered-EMD between the group's sensitive
    // distribution and the corpus-wide one. Same quasi/sensitive layout
    // as pv3; exact integer EMD (prefix sums of g_i·N − c_i·n_g in
    // 38-digit decimals, floored to ppm) so the oracle reproduces every
    // digit; t = 0.065 splits the sf0.01 groups near the median (55/70). The audit
    // relation (n_rows, emd_ppm, published) is what's graded — the
    // row-level gate is the usual semi-join against published groups.
    QueryDef.views("pv4_t_closeness",
      """WITH fact AS MATERIALIZED (
        |    SELECT c_nationkey, c_mktsegment,
        |           CAST(floor(c_acctbal * 100) AS BIGINT) % 10 AS v
        |    FROM customer),
        |  gdist AS MATERIALIZED (
        |    SELECT v, count(*) AS c FROM fact GROUP BY v),
        |  nn AS MATERIALIZED (
        |    SELECT CAST(count(*) AS HUGEINT) AS n FROM fact),
        |  mm AS MATERIALIZED (SELECT count(*) AS m FROM gdist),
        |  grp AS MATERIALIZED (
        |    SELECT c_nationkey, c_mktsegment, count(*) AS ng
        |    FROM fact GROUP BY 1, 2),
        |  cells AS MATERIALIZED (
        |    SELECT c_nationkey, c_mktsegment, v, count(*) AS g
        |    FROM fact GROUP BY 1, 2, 3),
        |  pref AS (
        |    SELECT grp.c_nationkey, grp.c_mktsegment, grp.ng,
        |      sum(CAST(COALESCE(cells.g, 0) AS HUGEINT) * nn.n
        |          - CAST(gdist.c AS HUGEINT) * grp.ng)
        |        OVER (PARTITION BY grp.c_nationkey, grp.c_mktsegment
        |              ORDER BY gdist.v) AS d
        |    FROM grp CROSS JOIN gdist
        |    LEFT JOIN cells ON cells.c_nationkey = grp.c_nationkey
        |      AND cells.c_mktsegment = grp.c_mktsegment
        |      AND cells.v = gdist.v, nn),
        |  agg AS (
        |    SELECT c_nationkey, c_mktsegment, ng, sum(abs(d)) AS num
        |    FROM pref GROUP BY 1, 2, 3),
        |  scored AS (
        |    SELECT c_nationkey, c_mktsegment, ng,
        |      (num * 1000000) // ((mm.m - 1) * ng * nn.n) AS emd
        |    FROM agg, mm, nn)
        |SELECT c_nationkey, c_mktsegment, CAST(ng AS BIGINT) AS n_rows,
        |  CAST(emd AS BIGINT) AS emd_ppm,
        |  CAST(CASE WHEN emd <= 65000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS published
        |FROM scored
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin) { spark =>
      val cust = spark.table("customer").withColumn("sens",
        expr("CAST(floor(c_acctbal * 100) AS BIGINT) % 10"))
      Privacy.tCloseness(cust, Seq("c_nationkey", "c_mktsegment"),
          "sens", tPpm = 65000L)
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // gd1 — right-to-be-forgotten cascade audit
    // ([[graft.ops.Privacy.deletionCascade]]): erase-requests for
    // customers with custkey ≡ 0 (mod 97) walked through the FK chain
    // customer → orders → lineitem, reporting per table how many rows
    // leave — the numbers a compliance review signs off on before the
    // anti-join rewrite runs. Per level one ids-only semi join +
    // count aggregates.
    QueryDef.views("gd1_deletion_cascade",
      """WITH vc AS (SELECT c_custkey FROM customer
        |            WHERE c_custkey % 97 = 0),
        |  vo AS (SELECT o_orderkey FROM orders
        |         WHERE o_custkey IN (SELECT c_custkey FROM vc)),
        |  vl AS (SELECT count(*) AS n FROM lineitem
        |         WHERE l_orderkey IN (SELECT o_orderkey FROM vo))
        |SELECT tbl, n_rows, n_removed, n_rows - n_removed AS n_kept
        |FROM (
        |  SELECT 'customer' AS tbl,
        |         CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_rows,
        |         CAST((SELECT count(*) FROM vc) AS BIGINT) AS n_removed
        |  UNION ALL
        |  SELECT 'orders',
        |         CAST((SELECT count(*) FROM orders) AS BIGINT),
        |         CAST((SELECT count(*) FROM vo) AS BIGINT)
        |  UNION ALL
        |  SELECT 'lineitem',
        |         CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |         CAST((SELECT n FROM vl) AS BIGINT))
        |ORDER BY tbl""".stripMargin) { spark =>
      val requests = spark.table("customer")
        .filter(expr("c_custkey % 97 = 0")).select("c_custkey")
      Privacy.deletionCascade(
          "customer", spark.table("customer"), "c_custkey",
          requests, "c_custkey",
          Seq(
            Privacy.CascadeLevel("orders", spark.table("orders"),
              fkCol = "o_custkey", pkCol = "o_orderkey"),
            Privacy.CascadeLevel("lineitem", spark.table("lineitem"),
              fkCol = "l_orderkey", pkCol = "l_linenumber")))
        .orderBy("tbl")
    },

    // ε-DP-shaped noised counts ([[graft.ops.Privacy.dpNoisyCount]]),
    // graded as a property: the deterministic Laplace noise (inverse-
    // CDF of a hash-derived uniform, scale 1/ε) must keep every group's
    // released count within 15/ε of truth — a bound each group misses
    // with probability e⁻¹⁵, so zero violations is the pinned outcome
    // on the fixed corpus. The oracle recomputes the group count
    // independently; the noise itself is hash-seeded (rows-only in
    // DuckDB terms) which is exactly why the entry grades the BOUND,
    // not the values.
    QueryDef.views("pv2x_dp_noise_bound",
      """SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(0 AS BIGINT) AS n_bound_violations
        |FROM (SELECT event_type, CAST(ts AS DATE) AS day FROM events
        |      GROUP BY event_type, CAST(ts AS DATE)) g""".stripMargin) { spark =>
      val ev = spark.table("events")
        .select(col("event_type"), col("ts").cast("date").as("day"))
      val eps = 0.1
      Privacy.dpNoisyCount(ev, Seq("event_type", "day"), epsilon = eps)
        .agg(count(lit(1)).as("n_groups"),
          sum(when(abs(col("noisy_count") - col("true_count")) >
            15.0 / eps, 1L).otherwise(0L)).as("n_bound_violations"))
    },

    QueryDef.views("pf1_profile",
      """WITH p AS (
        |  SELECT 'doc_id' AS column_name, count(doc_id) AS n_values,
        |         count(*) - count(doc_id) AS n_nulls,
        |         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |         CAST(min(doc_id) AS VARCHAR) AS min_value,
        |         CAST(max(doc_id) AS VARCHAR) AS max_value
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(lang), count(*) - count(lang),
        |         CAST(count(DISTINCT lang) AS BIGINT),
        |         CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(n_chars), count(*) - count(n_chars),
        |         CAST(count(DISTINCT n_chars) AS BIGINT),
        |         CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', count(source), count(*) - count(source),
        |         CAST(count(DISTINCT source) AS BIGINT),
        |         CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'text', count(text), count(*) - count(text),
        |         CAST(count(DISTINCT text) AS BIGINT),
        |         CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR)
        |  FROM documents)
        |SELECT * FROM p ORDER BY column_name""".stripMargin) { spark =>
      graft.ops.Profile.profile(spark.table("documents"),
        Seq("doc_id", "lang", "n_chars", "source", "text"))
    },

    // Profiling, HLL path (exactDistinct = false — the 100 TB plan: no
    // Expand, one partial+final aggregate). The sketch estimate has no
    // DuckDB twin, so the grade is the hll1x pattern: exact counts /
    // nulls / min / max grade bit-for-bit, and the HLL estimate must
    // sit within ±5% of the exact distinct count (rsd 0.01 → 5 sigma),
    // computed by running both profile paths and comparing — which
    // also pins that the approx plan produces the same row set.
    QueryDef.views("pf2_profile_hll",
      """WITH p AS (
        |  SELECT 'doc_id' AS column_name, count(doc_id) AS n_values,
        |         count(*) - count(doc_id) AS n_nulls,
        |         CAST(min(doc_id) AS VARCHAR) AS min_value,
        |         CAST(max(doc_id) AS VARCHAR) AS max_value
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(lang), count(*) - count(lang),
        |         CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(n_chars), count(*) - count(n_chars),
        |         CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', count(source), count(*) - count(source),
        |         CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'text', count(text), count(*) - count(text),
        |         CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR)
        |  FROM documents)
        |SELECT column_name, n_values, n_nulls, min_value, max_value,
        |       true AS nd_within_5pct
        |FROM p ORDER BY column_name""".stripMargin) { spark =>
      val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
      val docs = spark.table("documents")
      // both distinct counts from ONE corpus pass (profileDual) — the
      // former two-profile join scanned documents twice
      graft.ops.Profile.profileDual(docs, cols)
        .select(col("column_name"), col("n_values"), col("n_nulls"),
          col("min_value"), col("max_value"),
          (abs(col("nd_approx") - col("nd_exact")) * 100 <=
            col("nd_exact") * 5).as("nd_within_5pct"))
        .orderBy("column_name")
    },

    // Quality-aware dedup: normalization-digest groups keep the
    // highest-n_chars member (ties → smallest id) via the portable
    // round(score·10³)·10⁹−id argmax key — one hash aggregate, no window.
    QueryDef.views("d6_dedup_keep_best",
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash,
        |       arg_max(doc_id, CAST(round(n_chars * 1000) AS BIGINT)
        |               * 1000000000 - doc_id) AS kept_doc_id,
        |       count(*) AS n_variants,
        |       CAST(max(n_chars) AS BIGINT) AS best_score
        |FROM documents GROUP BY 1 ORDER BY kept_doc_id""".stripMargin) { spark =>
      graft.ops.Dedup.keepBest(spark.table("documents"),
          "doc_id", "text", "n_chars")
        .orderBy("kept_doc_id")
    },

    // BPE tokenization, trained and applied on the corpus in the same
    // plan: train = ONE word-frequency aggregate + driver-local merge
    // loop on the bounded type lexicon; apply = scan-local codegen
    // kernel with the merge table as a reference object. Token ids are
    // model-internal (no DuckDB twin) → rows-only; the graded twin is
    // tk1x's lossless-roundtrip invariant.
    QueryDef("tk1_bpe_tokenize", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      val docs = spark.table("documents")
      val model = Tokenizer.trainBpe(docs, "text",
        numMerges = 200, maxWordTypes = 20000)
      Tokenizer.tokenize(docs, "doc_id", "text", model)
        .select(col("doc_id"),
          size(col("tokens")).cast("bigint").as("n_tokens"),
          md5(concat_ws("", col("tokens"))).as("tokens_md5"))
        .orderBy("doc_id")
    }, None),

    // The tokenizer's graded invariant: BPE is LOSSLESS — stripping the
    // </w> markers from the concatenated tokens reconstructs exactly
    // the lowercased word stream, and the word count survives encoding
    // (</w> rides in each word's final token). DuckDB recomputes both
    // from raw text with the same segmentation regex; any defect in
    // training, the merge table, or the apply kernel breaks the hash.
    QueryDef("tk1x_bpe_roundtrip", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      val docs = spark.table("documents")
      val model = Tokenizer.trainBpe(docs, "text",
        numMerges = 200, maxWordTypes = 20000)
      Tokenizer.tokenize(docs, "doc_id", "text", model)
        .select(col("doc_id"),
          md5(expr("replace(concat_ws('', tokens), '</w>', '')"))
            .as("detok_md5"),
          size(filter(col("tokens"), t => t.endsWith(lit("</w>"))))
            .cast("bigint").as("n_words"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]') AS w
        |  FROM documents)
        |SELECT doc_id, md5(array_to_string(w, '')) AS detok_md5,
        |       CAST(len(w) AS BIGINT) AS n_words
        |FROM t ORDER BY doc_id""".stripMargin)),

    // The composed PRETRAINING pipeline, graded end to end (cp1/wp1's
    // pattern for the training-batch tier): quality gate → keep-best
    // normalization dedup → per-shard packed-sequence assembly, window
    // contents hashed. DuckDB independently rebuilds every stage —
    // a defect in any gate, the argmax key, the survivor set, the
    // shard layout, or the window reassembly breaks the hash. Word
    // granularity so the oracle can rebuild windows; swapping in the
    // BPE-id tokens column is the same plan (TokenizerSpec).
    QueryDef.views("tp1_pretrain_pipeline",
      """WITH gated AS (SELECT doc_id, text, n_chars FROM documents
        |    WHERE n_chars >= 100 AND
        |      CAST(len(list_filter(string_split(text, ' '),
        |        x -> len(x) > 0)) AS BIGINT) >= 20),
        |  best AS (SELECT arg_max(doc_id,
        |             CAST(round(n_chars * 1000) AS BIGINT)
        |             * 1000000000 - doc_id) AS doc_id
        |           FROM gated
        |           GROUP BY md5(trim(regexp_replace(regexp_replace(
        |             lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))),
        |  kept AS (SELECT g.doc_id, g.text
        |           FROM gated g JOIN best b ON g.doc_id = b.doc_id),
        |  d AS (SELECT doc_id, doc_id % 8 AS shard,
        |          list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
        |        FROM kept),
        |  n AS (SELECT doc_id, shard, w, CAST(len(w) AS BIGINT) AS n FROM d),
        |  o AS (SELECT doc_id, shard, w, n,
        |          COALESCE(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |            0) AS off
        |        FROM n),
        |  e AS (SELECT doc_id, shard, off,
        |          unnest(list_transform(w, (x, i) -> {'tok': x, 'i': i})) AS u
        |        FROM o),
        |  f AS (SELECT doc_id, shard, off + u.i - 1 AS gpos, u.tok AS tok
        |        FROM e)
        |SELECT shard, CAST(gpos // 64 AS BIGINT) AS window_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  md5(string_agg(tok, ' ' ORDER BY gpos)) AS seq_md5,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { spark =>
      // ONE corpus scan: passthrough gate (scan-local filter), then the
      // keep-best winner rows ride the dedup aggregate's buffer — no
      // semi-join back against a second scan (at 100 TB the gated id
      // set is corpus-sized: un-broadcastable, so id-join gating would
      // cost two extra shuffles and two extra scans)
      val docs = spark.table("documents")
      val gated = TextOps.quality(docs, "doc_id", "text", "n_chars",
          Seq("the", "and", "of", "to", "a", "in", "is"),
          passthrough = Seq("text"))
        .filter(col("quality_ok"))
      val kept = graft.ops.Dedup.keepBestRows(gated, "doc_id", "text",
        "n_chars", carry = Seq("text"))
      val words = kept.select(col("doc_id"),
        expr("filter(split(text, ' '), x -> length(x) > 0)").as("words"))
      TextOps.assembleSequences(words, "doc_id", "words",
          budget = 64, shards = 8)
        .select(col("shard"), col("window_id"), col("n_tokens"),
          md5(concat_ws(" ", col("tokens"))).as("seq_md5"),
          size(col("doc_ids")).cast("bigint").as("n_docs"))
        .orderBy("shard", "window_id")
    },

    // Packed-sequence assembly graded content-for-content: documents
    // laid head-to-tail per shard, cut into 64-token windows, window
    // contents md5'd in order plus the doc-boundary metadata. Word
    // granularity here so DuckDB can rebuild every window
    // independently; the BPE-id production path is the same op
    // (structure spec-pinned in TokenizerSpec).
    QueryDef.views("bt1_batch_assembly",
      """WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
        |             list_filter(string_split(text, ' '),
        |               x -> len(x) > 0) AS w
        |           FROM documents),
        |  n AS (SELECT doc_id, shard, w, CAST(len(w) AS BIGINT) AS n FROM d),
        |  o AS (SELECT doc_id, shard, w, n,
        |          COALESCE(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |            0) AS off
        |        FROM n),
        |  e AS (SELECT doc_id, shard, off,
        |          unnest(list_transform(w, (x, i) -> {'tok': x, 'i': i})) AS u
        |        FROM o),
        |  f AS (SELECT doc_id, shard, off + u.i - 1 AS gpos, u.tok AS tok
        |        FROM e)
        |SELECT shard, CAST(gpos // 64 AS BIGINT) AS window_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  md5(string_agg(tok, ' ' ORDER BY gpos)) AS seq_md5,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { spark =>
      val docs = spark.table("documents").select(col("doc_id"),
        expr("filter(split(text, ' '), x -> length(x) > 0)").as("words"))
      TextOps.assembleSequences(docs, "doc_id", "words",
          budget = 64, shards = 8)
        .select(col("shard"), col("window_id"), col("n_tokens"),
          md5(concat_ws(" ", col("tokens"))).as("seq_md5"),
          size(col("doc_ids")).cast("bigint").as("n_docs"))
        .orderBy("shard", "window_id")
    },

    // Binary shard sink/source roundtrip (`format("graft-shards")`,
    // [[graft.sources.ShardFiles]]): the trainer interchange boundary —
    // packed sequences hashed to token ids, written through the DSv2
    // two-phase-commit binary writer (4 files, fixture-cached), read
    // back file-parallel, and full-outer-compared against the directly
    // computed packed table. n_mismatch must be ZERO (any id, record,
    // or key lost or reordered by the binary encode/decode breaks it);
    // the oracle pins seq/token totals independently — windows are
    // dense per shard, so n_seqs = Σ_shards ceil(tokens/budget) without
    // replaying the packing.
    QueryDef("sh1_shard_roundtrip", (spark, sfDir) => {
      graft.Tables.registerAll(spark, sfDir)
      val docs = spark.table("documents").select(col("doc_id"),
        expr("filter(split(text, ' '), x -> length(x) > 0)").as("words"))
      val packed = TextOps.assembleSequences(docs, "doc_id", "words",
          budget = 64, shards = 8)
        .select(col("shard"), col("window_id"), expr(
          "transform(tokens, t -> CAST(xxhash64(t) & 2147483647 AS INT))")
          .as("token_ids"))
      val dir = StreamRun.fixture(spark, "shards", "shardsv1", sfDir,
          "documents") { build =>
        graft.sources.ShardFiles.write(
          packed.repartition(4, col("shard")), build.toString)
      }
      val back = graft.sources.ShardFiles.read(spark, dir)
      val nFiles = graft.sources.ShardFiles.listCommitted(
        java.nio.file.Paths.get(dir)).size.toLong
      packed.as("a")
        .join(back.as("b"), Seq("shard", "window_id"), "full_outer")
        .agg(count(lit(1)).cast("bigint").as("n_seqs"),
          sum(size(col("b.token_ids"))).cast("bigint").as("n_tokens"),
          lit(nFiles).cast("bigint").as("n_files"),
          sum(when(col("a.token_ids") <=> col("b.token_ids"), 0L)
            .otherwise(1L)).cast("bigint").as("n_mismatch"))
    }, Some(
      """WITH d AS (SELECT doc_id % 8 AS shard,
        |             CAST(len(list_filter(string_split(text, ' '),
        |               x -> len(x) > 0)) AS BIGINT) AS n
        |           FROM documents),
        |  s AS (SELECT shard, CAST(sum(n) AS BIGINT) AS tok
        |        FROM d GROUP BY 1)
        |SELECT CAST(sum((tok + 63) // 64) AS BIGINT) AS n_seqs,
        |       CAST(sum(tok) AS BIGINT) AS n_tokens,
        |       CAST(4 AS BIGINT) AS n_files,
        |       CAST(0 AS BIGINT) AS n_mismatch
        |FROM s""".stripMargin)),

    // The id-space roundtrip: tokens → deterministic vocab ids →
    // tokens → detokenized text. Grades the vocab BIJECTION on top of
    // tk1x's merge-table invariant (an id collision, OOV leak, or
    // off-by-one in the id codec breaks the hash or the flag).
    QueryDef("tk2_bpe_ids", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      val docs = spark.table("documents")
      val model = Tokenizer.trainBpe(docs, "text",
        numMerges = 200, maxWordTypes = 20000)
      val ids = Tokenizer.encodeIds(
          Tokenizer.tokenize(docs, "doc_id", "text", model),
          "doc_id", "tokens", model)
        .withColumn("has_oov", array_contains(col("token_ids"), 0))
        .drop("tokens")
      Tokenizer.decodeIds(ids, "doc_id", "token_ids", model)
        .select(col("doc_id"),
          md5(expr("replace(concat_ws('', tokens), '</w>', '')"))
            .as("detok_md5"),
          col("has_oov"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]') AS w
        |  FROM documents)
        |SELECT doc_id, md5(array_to_string(w, '')) AS detok_md5,
        |       false AS has_oov
        |FROM t ORDER BY doc_id""".stripMargin)),

    // Unigram-LM (SentencePiece-family) tokenization — the second
    // industry-standard tokenizer family, same scalable shape as BPE:
    // lexicon aggregate → driver EM → scan-local Viterbi kernel.
    // Piece ids are model-internal → rows-only; graded twin is ug1x.
    QueryDef("ug1_unigram_tokenize", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      val docs = spark.table("documents")
      val model = Tokenizer.trainUnigram(docs, "text", vocabSize = 2000)
      Tokenizer.tokenizeUnigram(docs, "doc_id", "text", model)
        .select(col("doc_id"),
          size(col("tokens")).cast("bigint").as("n_pieces"),
          md5(concat_ws("", col("tokens"))).as("pieces_md5"))
        .orderBy("doc_id")
    }, None),

    // Unigram losslessness + structural bounds, graded: concat(pieces)
    // must reconstruct the lowercased word stream exactly (Viterbi is
    // total — chars never pruned, OOV floor), and the piece count must
    // sit inside [ceil(chars/8), chars]. DuckDB recomputes the stream
    // and the bounds from raw text.
    QueryDef("ug1x_unigram_roundtrip", (spark, dir) => {
      graft.Tables.registerAll(spark, dir)
      val docs = spark.table("documents")
      val model = Tokenizer.trainUnigram(docs, "text", vocabSize = 2000)
      Tokenizer.tokenizeUnigram(docs, "doc_id", "text", model)
        .select(col("doc_id"),
          md5(concat_ws("", col("tokens"))).as("detok_md5"),
          (size(col("tokens")).cast("bigint") <=
            length(concat_ws("", col("tokens"))).cast("bigint") &&
           size(col("tokens")).cast("bigint") * 8 >=
            length(concat_ws("", col("tokens"))).cast("bigint"))
            .as("bounds_ok"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]') AS w
        |  FROM documents)
        |SELECT doc_id, md5(array_to_string(w, '')) AS detok_md5,
        |       true AS bounds_ok
        |FROM t ORDER BY doc_id""".stripMargin)),

    // Semantic decontamination: max cosine of each corpus vector
    // against the benchmark subset (vec_id % 50 = 0), flag ≥ 0.25 —
    // scan-local greatest-of-vec_dot literals, zero shuffle; the
    // embedding sibling of dc1/dc2.
    QueryDef.views("dc3_semantic_decontam",
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |             x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |  en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        |         FROM e),
        |  b AS (SELECT * FROM en WHERE vec_id % 50 = 0),
        |  c AS (SELECT * FROM en WHERE vec_id % 50 != 0 AND nrm > 0),
        |  s AS (SELECT c.vec_id,
        |          max(list_dot_product(c.v, b.v) / (c.nrm * b.nrm)) AS mx
        |        FROM c CROSS JOIN b GROUP BY c.vec_id)
        |SELECT vec_id, CAST(round(mx * 10000) AS BIGINT) AS max_sim_bp,
        |       mx >= 0.25 AS contaminated
        |FROM s ORDER BY vec_id""".stripMargin) { spark =>
      val emb = spark.table("embeddings")
      Similarity.semanticDecontam(
          emb.filter(col("vec_id") % 50 =!= 0),
          emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", minCos = 0.25)
        .orderBy("vec_id")
    }
  )
}
