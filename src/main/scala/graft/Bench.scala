package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line of steady-state totals plus a
  * full-precision per-query artifact (bench_last.json).
  *
  * Measurement protocol (round 9): one unmeasured WARMUP PASS over every
  * query (whole-stage-codegen compilation + JIT + grading-fixture
  * population happen there), then TWO full timed passes with the
  * per-query MIN taken across passes. The two samples of any query are
  * minutes apart, so a transient contended window on the host (the
  * round-8 gate rerun inflated the alphabetically-first queries 3–8×
  * because both back-to-back measured runs landed inside the same busy
  * first minutes) can spoil at most one of them — the min survives.
  * Steady-state is the honest comparison against a long-running engine:
  * on a real cluster a query's generated code is compiled once and
  * reused across its lifetime, while the work measured here (scans,
  * shuffles, joins, state) scales with data. Queries hold no per-query
  * state between runs — with ONE deliberate exception: the similarity
  * GRADING queries share the session-scoped GradeFixtures cache (the
  * O(n²) exact diagnostic is materialized once per run, not once per
  * consumer), so their measured numbers are cache-warm. They are tagged
  * in the output under "cached" so round-over-round comparisons never
  * credit the cache as a plan improvement. Everything else recomputes
  * fully on every run.
  *
  * Stdout contract (round 8: the 315-key per-query map grew the line to
  * ~6 KB and the driver's ~2 KB tail harvest truncated it mid-line —
  * BENCH_r08 arrived `parsed: null`): stdout carries the COMPACT summary
  * only — total, counts, errors/failed/cached, and the 20 slowest
  * queries (the ones a reviewer compares round-over-round). The complete
  * per-query map at full precision lives in bench_last.json, which the
  * "detail" field points at.
  *
  * Failure contract (round 7: a broken table reader made all 145 queries
  * throw and this main still printed a plausible all-green line and exited
  * 0): a table preflight runs first, per-query failures are counted into
  * an "errors" field plus a "failed" list, and any failure → exit != 0.
  * A failure in ANY pass disqualifies the query (a thrown plan's elapsed
  * time measures nothing).
  */
object Bench {
  /** Host load (1-min loadavg) — recorded at start and end of the run
    * so a reviewer can tell contention from regression MECHANICALLY:
    * round 11's +14% uniform drift on unchanged queries was host
    * noise, but nothing in the artifact could prove it. "na" off
    * Linux. */
  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ").head
    catch { case _: Throwable => "na" }

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    val loadStart = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def short(k: String): String = k.takeWhile(_ != '_')
    def fmt(v: Double): String = "%.2f".format(v)
    val sfTag = sfDir.split('/').lastOption.getOrElse(sfDir)

    // Preflight: one loud named error per broken table beats 145 opaque
    // per-query failures (round 7's events.ts parquet-type drift).
    val drift = Tables.preflight(spark, sfDir)
    if (drift.nonEmpty) {
      drift.foreach(e => System.err.println(s"[bench] PREFLIGHT FAILED — $e"))
      val failed = drift.map(e => "\"" + e.takeWhile(_ != ':') + "\"").mkString("[", ",", "]")
      spark.stop()
      println(s"""{"metric":"total","value":0.00,"unit":"sec","queries":{},"sf":"$sfTag","method":"noop_write","keys":"short","errors":${drift.size},"failed":$failed,"stage":"preflight"}""")
      sys.exit(2)
    }

    // Dev loop: SPARK_GRAFT_ONLY=<substring,substring> restricts the set.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }

    // Consume through a noop write, not count(): under count(1) Catalyst
    // prunes every column, so projection-only queries would be timed as
    // bare parquet scans. The noop sink pulls fully materialized rows —
    // every output expression evaluates — with no I/O and no driver
    // funnel, and unlike a hash-the-row probe it handles map-typed
    // columns (the CDC envelopes).
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val cachedQueries = scala.collection.mutable.ArrayBuffer.empty[String]
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[String] =
      try { consume(fn(spark, sfDir)); None } catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    // Warmup pass: codegen + JIT + grading-fixture population, untimed.
    // Cache detection happens here — a query that touches GradeFixtures
    // during its first execution is fixture-cached for the timed passes.
    // The same pass profiles each query: its jobs — micro-batch triggers
    // included — run under its QueryProfile tag, and the listener goes
    // before the timed passes, which it would otherwise observe.
    val profile = QueryProfile.attach(spark.sparkContext)
    picked.foreach { case (name, fn) =>
      val fixturesBefore = graft.queries.GradeFixtures.accesses.get()
      QueryProfile.tagged(spark.sparkContext, name)(run(fn)).foreach { e =>
        System.err.println(s"[bench] $name FAILED (warmup) — $e")
        errors += name -> e
      }
      if (graft.queries.GradeFixtures.accesses.get() > fixturesBefore)
        cachedQueries += name
    }
    val work = profile.byTag
    profile.detach()
    // Two INTERLEAVED timed passes (all queries once, then all again),
    // per-query min: the min over samples minutes apart is robust both
    // to GC/compilation noise AND to a multi-minute contended window on
    // a shared host, which back-to-back repeats are not.
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (_ <- 1 to 2; (name, fn) <- picked if !errors.contains(name)) {
      val t0 = System.nanoTime()
      run(fn) match {
        case Some(e) =>
          System.err.println(s"[bench] $name FAILED — $e")
          errors += name -> e
          best.remove(name)
        case None =>
          val sec = (System.nanoTime() - t0) / 1e9
          best(name) = best.get(name).fold(sec)(math.min(_, sec))
      }
    }
    val results = picked.collect {
      case (name, _) if best.contains(name) => name -> best(name)
    }
    // The stdout line must fit the harvester's ~2000-char tail window:
    // full-precision doubles + full names pushed past it in rounds 1-4
    // (truncated mid-line, unparseable), and even 2-decimal SHORT keys
    // overflowed it at 315 queries in round 8 (BENCH_r08 parsed:null).
    // So stdout is a COMPACT summary: total + counts + errors/failed/
    // cached + only the 20 SLOWEST queries (short keys — each name up
    // to the first '_', unique across the inventory; "keys":"short"
    // announces the convention). The complete per-query map at full
    // precision is in bench_last.json ("detail" points there).
    require(results.map(r => short(r._1)).distinct.size == results.size,
      "short-key collision: a new query name breaks the prefix convention")
    val slowest = results.sortBy(-_._2).take(20)
    val qs = slowest.map { case (k, v) => "\"" + short(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // "method" documents the consumption strategy: rounds measured with
    // count() (r1-r3) under-reported projection/sketch work (Catalyst
    // pruning), so totals are not comparable across the change.
    val cachedJson = cachedQueries.map(n => "\"" + short(n) + "\"").mkString("[", ",", "]")
    val failedJson = errors.keys.map(n => "\"" + short(n) + "\"").mkString("[", ",", "]")
    // Load telemetry: loadavg at entry and exit plus this main's wall
    // time. With local[32] saturating the box a loadavg near the run's
    // own parallelism is expected; a loadStart well above ~1 means the
    // host was ALREADY busy and totals are not comparable round-over-
    // round (tools/BENCH_METHOD.md).
    val loadEnd = loadavg()
    val wallSec = (System.nanoTime() - benchT0) / 1e9
    val telemetry =
      s""""load_start":"$loadStart","load_end":"$loadEnd",""" +
        s""""bench_wall_sec":${fmt(wallSec)}"""
    // A/B ratio vs the previous round's commit (tools/bench_ab.sh):
    // the only cross-round-comparable number — absolute totals drift
    // with the host week-over-week (tools/BENCH_METHOD.md). Embedded
    // compactly (commits + totals + ratio) when the artifact exists;
    // full per-query maps stay in tools/AB_latest.json.
    val abJson = (if (only.isDefined) None else
      try {
        val txt = scala.io.Source.fromFile("tools/AB_latest.json")
          .mkString
        def field(k: String): Option[String] = {
          val m = ("\"" + k + "\"\\s*:\\s*(\"[^\"]*\"|[0-9.]+)").r
            .findFirstMatchIn(txt)
          m.map(_.group(1))
        }
        for {
          p <- field("prev_commit"); h <- field("head_commit")
          tp <- field("total_prev"); th <- field("total_head")
          r <- field("ratio")
        } yield s""""ab":{"prev_commit":$p,"head_commit":$h,""" +
          s""""total_prev":$tp,"total_head":$th,"ratio":$r,""" +
          s""""detail":"tools/AB_latest.json"},"""
      } catch { case _: Throwable => None }).getOrElse("")
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfTag","method":"noop_write","keys":"short","n_queries":${results.size},"queries_listed":${slowest.size},"detail":"bench_last.json","errors":${errors.size},"failed":$failedJson,"cached":$cachedJson,$abJson$telemetry}"""
    // Full-precision copy survives in the repo even if stdout is clipped.
    // Restricted dev runs (SPARK_GRAFT_ONLY) go to bench_restricted.json:
    // overwriting bench_last.json with a 5-query subset would silently
    // replace the committed full-run artifact round comparisons read.
    val outName =
      if (only.isDefined) "bench_restricted.json" else "bench_last.json"
    try {
      val w = new java.io.PrintWriter(outName)
      try {
        val full = results.map { case (k, v) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}")
        val fullFailed = errors.map { case (k, v) =>
          "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
            .replaceAll("[\\x00-\\x1f]", " ") + "\"" }.mkString("{", ",", "}")
        val fullCached = cachedQueries.map(n => "\"" + n + "\"").mkString("[", ",", "]")
        // profile: per-query Spark work from the warmup pass
        val fullProfile = picked.map { case (k, _) =>
          "\"" + k + "\":" + work.getOrElse(k, QueryProfile.Work()).json }
          .mkString("{", ",", "}")
        // same "method" label as the stdout line — see
        // tools/BENCH_METHOD.md for the label/method history
        w.println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$full,"profile":$fullProfile,"sf":"$sfDir","method":"noop_write","errors":$fullFailed,"cached":$fullCached,$telemetry}""")
      } finally w.close()
    } catch { case _: Throwable => () }
    // Stop BEFORE printing: shutdown warnings must not land after the JSON
    // line and push it out of the harvester's tail window.
    spark.stop()
    println(line)
    if (errors.nonEmpty) sys.exit(1)
  }
}
