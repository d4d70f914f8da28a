package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.TimestampNTZType

import graft.ops.Pin

/** Batch analogs of the reference's operator inventory (SURVEY.md §2).
  *
  * Naming maps 1:1 onto the §2 ids: tN_* = transform operators T1-T7,
  * s3_* = upsert/changelog source semantics S3, k1_* = keyed-JSON sink wire
  * format K1/E3, j/w/o/set/f/cd/a = the operator categories §2.2 lists as
  * absent-in-reference but required of our engine (joins, windows, sorts,
  * set ops, scalar functions, distinct aggregation).
  *
  * Scale notes are inline per query; the common rules: dimension tables are
  * broadcast, aggregations rely on partial (map-side) aggregation, every
  * scan carries a projection so parquet column pruning applies.
  */
object Relational {

  private def dec2(c: String) = col(c).cast("decimal(18,2)")

  val defs: Seq[QueryDef] = Seq(

    // T1 union — merge two same-schema streams (reference: StreamingJob.java:78-79).
    QueryDef.views("t1_union",
      """SELECT event_id, user_id, event_type FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, user_id, event_type FROM events WHERE event_type = 'view'
        |ORDER BY event_id""".stripMargin) { spark =>
      val ev = spark.table("events").select("event_id", "user_id", "event_type")
      val clicks = ev.filter(col("event_type") === "click")
      val views = ev.filter(col("event_type") === "view")
      clicks.unionByName(views).orderBy("event_id")
    },

    // T2 keyBy + per-key aggregation (reference keyBy: CustomJob.java:83).
    // Scale: partial agg before the shuffle on user_id; exact DECIMAL sums.
    QueryDef.views("t2_keyby_agg",
      """SELECT user_id, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { spark =>
      spark.table("events")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(dec2("value")).cast("double").as("sum_value"))
        .orderBy("user_id")
    },

    // T3 demux/side-outputs — route one stream into typed substreams by tag
    // (reference: MyProcessFunction side outputs, CustomJob.java:204-218).
    // Spark has no side outputs; the idiomatic mapping is filtered derivative
    // streams of one scan — here materialized as a tagged union.
    QueryDef.views("t3_demux_routes",
      """SELECT event_type AS route, event_id, user_id,
        |       event_type || '|' || CAST(user_id AS VARCHAR) AS key
        |FROM events WHERE event_type IN ('purchase','signup')
        |ORDER BY route, event_id""".stripMargin) { spark =>
      spark.table("events")
        .filter(col("event_type").isin("purchase", "signup"))
        .select(col("event_type").as("route"), col("event_id"), col("user_id"),
          concat_ws("|", col("event_type"), col("user_id")).as("key"))
        .orderBy("route", "event_id")
    },

    // T4 typed projection — selective field extraction from a JSON payload +
    // synthetic key (reference deserializer: CustomJob.java:221-272, key :284).
    QueryDef.views("t4_typed_projection",
      """SELECT event_id, user_id,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |       event_type || '|' || CAST(user_id AS VARCHAR) AS key
        |FROM events ORDER BY event_id""".stripMargin) { spark =>
      spark.table("events")
        .select(col("event_id"), col("user_id"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k_val"),
          concat_ws("|", col("event_type"), col("user_id")).as("key"))
        .orderBy("event_id")
    },

    // S3 changelog/upsert view — latest record per key (the core custom piece
    // of the reference's upsert-pulsar source, CustomJob.java:156-174).
    // Batch form = window row_number; streaming form lives in graft.cdc.
    QueryDef.views("s3_changelog_latest",
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
        |       value AS last_value
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin) { spark =>
      // latest-per-key as max_by aggregation (not a window sort): partial
      // aggregation reduces each map partition to one row per key before
      // the shuffle — the formulation that survives 100 TB of events.
      // Identical result to the oracle's row_number()=1 (argmax by
      // (ts, event_id) desc).
      spark.table("events")
        .groupBy("user_id")
        .agg(max_by(
          struct(col("event_id"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"))
        .select(col("user_id"), col("last.event_id").as("last_event_id"),
          col("last.event_type").as("last_event_type"),
          col("last.value").as("last_value"))
        .orderBy("user_id")
    },

    // T5 flagship — continuous COUNT over the compacted changelog
    // (reference: CustomJob.java:194 `SELECT schema, COUNT(1) GROUP BY schema`).
    QueryDef.views("t5_changelog_count",
      """SELECT event_type, count(*) AS live_users
        |FROM (SELECT user_id, event_type, row_number() OVER
        |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 GROUP BY event_type ORDER BY event_type""".stripMargin) { spark =>
      // two-stage hash aggregation (compact per key, then count) — no
      // window sort; both stages get map-side partial aggregation.
      spark.table("events")
        .groupBy("user_id")
        .agg(max_by(col("event_type"), struct(col("ts"), col("event_id")))
          .as("event_type"))
        .groupBy("event_type").agg(count(lit(1)).as("live_users"))
        .orderBy("event_type")
    },

    // T6 flatMap word count (reference Splitter: StreamingJob.java:105-112).
    QueryDef.views("t6_flatmap_wordcount",
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE len(word) > 0 GROUP BY word ORDER BY word""".stripMargin) { spark =>
      spark.table("documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy("word")
    },

    // T7 tumbling window aggregation (reference: StreamingJob.java:94-100).
    // Event-time 5-minute windows; start emitted as string (NTZ-safe).
    QueryDef.views("t7_window_tumbling",
      """SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { spark =>
      spark.table("events")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec2("value")).cast("double").as("sum_value"))
        .select(col("window.start").cast("string").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type")
    },

    // Sliding (hopping) event-time window — the overlapping-assignment
    // twin of t7 (size 10 min, slide 5: every event lands in exactly two
    // windows; Spark plans the expansion as a Generate/Expand before the
    // hash aggregate). Oracle expands each event to both window starts.
    QueryDef.views("t8_window_sliding",
      """WITH e AS (SELECT ts, event_type, value,
        |             time_bucket(INTERVAL '5 minutes', ts) AS b FROM events),
        |  x AS (SELECT event_type, value,
        |          unnest([b, b - INTERVAL '5 minutes']) AS ws FROM e)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { spark =>
      spark.table("events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec2("value")).cast("double").as("sum_value"))
        .select(col("window.start").cast("string").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type")
    },

    // K1/E3 keyed JSON wire format (reference Pulsar sink serialization:
    // CustomJob.java:93-104, key extractor :95).
    QueryDef.views("k1_keyed_json",
      """SELECT event_id, event_type || '|' || CAST(user_id AS VARCHAR) AS key,
        |       to_json(struct_pack(event_id := event_id, event_type := event_type,
        |                           user_id := user_id)) AS value_json
        |FROM events ORDER BY event_id""".stripMargin) { spark =>
      spark.table("events")
        .select(col("event_id"),
          concat_ws("|", col("event_type"), col("user_id")).as("key"),
          to_json(struct(col("event_id"), col("event_type"), col("user_id")))
            .as("value_json"))
        .orderBy("event_id")
    },

    // Joins (absent in reference, §2.2 — required of our engine).
    // 3-way fact-dim join; customer is broadcast (dim ≪ fact at any SF).
    QueryDef.views("j1_join_agg",
      """SELECT c_mktsegment,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { spark =>
      val li = spark.table("lineitem")
        .select(col("l_orderkey"), dec2("l_extendedprice").as("price"),
          col("l_discount").cast("decimal(4,2)").as("disc"))
      val o = spark.table("orders").select("o_orderkey", "o_custkey")
      val c = spark.table("customer").select("c_custkey", "c_mktsegment")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(col("price") * (lit(1) - col("disc"))).cast("double")
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("c_mktsegment")
    },

    // Semi/anti joins (EXISTS / NOT EXISTS).
    QueryDef.views("j2_semi_anti",
      """SELECT 'has_orders' AS tag, c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'no_orders' AS tag, c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY tag, c_custkey""".stripMargin) { spark =>
      val c = spark.table("customer").select("c_custkey")
      // the join side is only the distinct key column — broadcast it
      val o = broadcast(spark.table("orders").select("o_custkey"))
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(lit("has_orders").as("tag"), col("c_custkey"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(lit("no_orders").as("tag"), col("c_custkey"))
      semi.unionByName(anti).orderBy("tag", "c_custkey")
    },

    // 4-way join: fully-broadcast dim chain onto the fact scan — the plan
    // shape that survives 100×: no shuffle until the final small group-by.
    QueryDef.views("j3_join_4way",
      """SELECT r_name, n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { spark =>
      val li = spark.table("lineitem")
        .select(col("l_suppkey"), dec2("l_extendedprice").as("price"),
          col("l_discount").cast("decimal(4,2)").as("disc"))
      val s = spark.table("supplier").select("s_suppkey", "s_nationkey")
      val n = spark.table("nation").select("n_nationkey", "n_regionkey", "n_name")
      val r = spark.table("region").select("r_regionkey", "r_name")
      li.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(col("price") * (lit(1) - col("disc"))).cast("double")
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    },

    // Ranking window function: top-3 suppliers by balance per nation.
    QueryDef.views("w1_topk_per_group",
      """SELECT n_name, CAST(rk AS BIGINT) AS rnk, s_suppkey, s_name,
        |       CAST(s_acctbal AS DECIMAL(18,2)) AS acctbal
        |FROM (SELECT n_name, s_suppkey, s_name, s_acctbal,
        |             row_number() OVER (PARTITION BY n_name
        |                                ORDER BY s_acctbal DESC, s_suppkey) AS rk
        |      FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        |WHERE rk <= 3 ORDER BY n_name, rnk""".stripMargin) { spark =>
      val s = spark.table("supplier")
      val n = spark.table("nation").select("n_nationkey", "n_name")
      val w = Window.partitionBy("n_name")
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      s.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("n_name"), col("rk").cast("bigint").as("rnk"),
          col("s_suppkey"), col("s_name"), col("s_acctbal").as("acctbal"))
        .orderBy("n_name", "rnk")
    },

    // Analytic window functions: lag / lead / ntile / rank over ordered
    // partitions (deterministic ordering with unique tiebreak).
    QueryDef.views("w2_analytic",
      """SELECT o_orderkey, o_orderstatus,
        |       lag(o_totalprice) OVER w AS prev_price,
        |       lead(o_totalprice) OVER w AS next_price,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       CAST(rank() OVER w AS BIGINT) AS rnk
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderstatus, rnk""".stripMargin) { spark =>
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      spark.table("orders").select(
          col("o_orderkey"), col("o_orderstatus"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"),
          ntile(4).over(w).cast("bigint").as("quartile"),
          rank().over(w).cast("bigint").as("rnk"))
        .orderBy("o_orderstatus", "rnk")
    },

    // RANGE-frame window over event time: per user, how many of their
    // events fall in the trailing 24 hours at each event — the rate-
    // limit / burst-detection window. ROWS frames count a fixed row
    // budget; this is a VALUE frame (all peers within the interval,
    // however many rows that is). Spark's rangeBetween needs a numeric
    // order key, so the frame runs over unix seconds; DuckDB states the
    // same frame as RANGE INTERVAL 24 HOURS over the timestamp —
    // different spellings, identical frame semantics (bounds inclusive,
    // ties are peers). One shuffle on user_id + per-partition sort.
    QueryDef.views("w3_range_window",
      """SELECT user_id, event_id,
        |       CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts
        |         RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
        |               AND CURRENT ROW) AS BIGINT) AS n_24h
        |FROM events
        |ORDER BY user_id, event_id""".stripMargin) { spark =>
      // unix MICROS, not seconds: the interval bound must compare at
      // the timestamp's full precision or events exactly 24h plus a
      // fraction apart land inside the Spark frame but outside DuckDB's
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"))
        .rangeBetween(-86400000000L, Window.currentRow)
      spark.table("events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_24h"))
        .orderBy("user_id", "event_id")
    },

    // Global sort + limit (TakeOrderedAndProject — no full sort at scale).
    QueryDef.views("o1_sort_limit",
      """SELECT o_orderkey, o_totalprice AS total,
        |       CAST(o_orderdate AS DATE) AS order_date
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin) { spark =>
      spark.table("orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey"), col("o_totalprice").as("total"),
          col("o_orderdate").cast("date").as("order_date"))
    },

    // Set operations: INTERSECT / EXCEPT / DISTINCT.
    QueryDef.views("set1_setops",
      """SELECT 'both' AS tag, nationkey FROM (
        |  SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |  INTERSECT SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier)
        |UNION ALL
        |SELECT 'customer_only' AS tag, nationkey FROM (
        |  SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |  EXCEPT SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier)
        |UNION ALL
        |SELECT 'supplier_only' AS tag, nationkey FROM (
        |  SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
        |  EXCEPT SELECT DISTINCT CAST(c_nationkey AS BIGINT) FROM customer)
        |ORDER BY tag, nationkey""".stripMargin) { spark =>
      val cn = spark.table("customer")
        .select(col("c_nationkey").cast("bigint").as("nationkey")).distinct()
      val sn = spark.table("supplier")
        .select(col("s_nationkey").cast("bigint").as("nationkey")).distinct()
      cn.intersect(sn).select(lit("both").as("tag"), col("nationkey"))
        .unionByName(cn.except(sn)
          .select(lit("customer_only").as("tag"), col("nationkey")))
        .unionByName(sn.except(cn)
          .select(lit("supplier_only").as("tag"), col("nationkey")))
        .orderBy("tag", "nationkey")
    },

    // Scalar function library: date/string/math (absent in reference §2.2).
    QueryDef.views("f1_scalar_funcs",
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |       CAST(month(o_orderdate) AS BIGINT) AS order_month,
        |       upper(o_orderpriority) AS prio_upper,
        |       substring(o_orderpriority, 3, 6) AS prio_word,
        |       CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
        |       o_orderkey % 7 AS key_mod,
        |       CAST(round(o_totalprice) AS BIGINT) AS total_round,
        |       o_orderstatus || '-' || o_orderpriority AS combo
        |FROM orders ORDER BY o_orderkey""".stripMargin) { spark =>
      spark.table("orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("bigint").as("order_year"),
        month(col("o_orderdate")).cast("bigint").as("order_month"),
        upper(col("o_orderpriority")).as("prio_upper"),
        substring(col("o_orderpriority"), 3, 6).as("prio_word"),
        length(col("o_orderpriority")).cast("bigint").as("prio_len"),
        (col("o_orderkey") % 7).as("key_mod"),
        round(col("o_totalprice")).cast("bigint").as("total_round"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("combo"))
        .orderBy("o_orderkey")
    },

    // Exact distinct aggregation per group.
    QueryDef.views("cd1_count_distinct",
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_custs,
        |       count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { spark =>
      spark.table("orders")
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
    },

    // TPC-H Q3-shaped shipping-priority query: date-filtered 3-way join,
    // grouped revenue, top-10 — the classic scan-prune + broadcast probe.
    QueryDef.views("q3_shipping_priority",
      """SELECT l_orderkey,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |       CAST(o_orderdate AS DATE) AS order_date
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { spark =>
      val c = spark.table("customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = spark.table("orders")
        .filter(col("o_orderdate") <
          lit("1998-03-15 00:00:00").cast(TimestampNTZType))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = spark.table("lineitem")
        .filter(col("l_shipdate") >
          lit("1998-03-15 00:00:00").cast(TimestampNTZType))
        .select(col("l_orderkey"), dec2("l_extendedprice").as("price"),
          col("l_discount").cast("decimal(4,2)").as("disc"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum(col("price") * (lit(1) - col("disc"))).cast("double")
          .as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          col("o_orderdate").cast("date").as("order_date"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // TPC-H Q5-shaped local-supplier revenue: 5-way join where supplier
    // and customer must share a nation, date-range filter on orders.
    QueryDef.views("q5_local_supplier",
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { spark =>
      val c = spark.table("customer").select("c_custkey", "c_nationkey")
      val o = spark.table("orders")
        .filter(col("o_orderdate") >=
          lit("1996-01-01 00:00:00").cast(TimestampNTZType) &&
          col("o_orderdate") <
            lit("1997-01-01 00:00:00").cast(TimestampNTZType))
        .select("o_orderkey", "o_custkey")
      val li = spark.table("lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          dec2("l_extendedprice").as("price"),
          col("l_discount").cast("decimal(4,2)").as("disc"))
      val s = spark.table("supplier").select("s_suppkey", "s_nationkey")
      val n = spark.table("nation").select("n_nationkey", "n_name")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(col("price") * (lit(1) - col("disc"))).cast("double")
          .as("revenue"))
        .orderBy("n_name")
    },

    // TPC-H Q4 shape (order-priority checking): correlated EXISTS with
    // an extra correlated predicate (a lineitem shipped > 30 days
    // after ordering) over a date-windowed fact scan — the existence
    // join Catalyst rewrites to a left-semi with the correlation as
    // the join condition; counts grouped by priority. Expressed as
    // SQL text (the E1 surface) so the subquery-rewrite path itself
    // is under grade.
    QueryDef.views("q4_order_priority",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { spark =>
      spark.sql(
        """SELECT o_orderpriority, count(*) AS order_count
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey
          |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    },

    // TPC-H Q7 shape (volume shipping): five-table join where the
    // nation pair is a DISJUNCTIVE predicate — (A,B) or (B,A) — that
    // no single equi-key expresses, plus a derived group key
    // (year(l_shipdate)). The two nation dims broadcast; the
    // disjunction stays a residual filter on the joined row, NOT a
    // fallback to a nested-loop join (both nation joins remain
    // equi-joins on the keys; the pair constraint prunes after).
    QueryDef.views("q7_volume_shipping",
      """SELECT supp_nation, cust_nation, l_year,
        |       CAST(sum(volume) AS DOUBLE) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |        CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
        |        CAST(l_extendedprice AS DECIMAL(18,2))
        |          * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume
        |      FROM supplier, lineitem, orders, customer,
        |           nation n1, nation n2
        |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |        AND c_custkey = o_custkey
        |        AND s_nationkey = n1.n_nationkey
        |        AND c_nationkey = n2.n_nationkey
        |        AND ((n1.n_nationkey % 5 = 1 AND n2.n_nationkey % 5 = 2)
        |          OR (n1.n_nationkey % 5 = 2 AND n2.n_nationkey % 5 = 1))) t
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { spark =>
      val li = spark.table("lineitem").select(col("l_orderkey"),
        col("l_suppkey"),
        year(col("l_shipdate")).cast("bigint").as("l_year"),
        dec2("l_extendedprice").as("price"),
        col("l_discount").cast("decimal(4,2)").as("disc"))
      val o = spark.table("orders").select("o_orderkey", "o_custkey")
      val c = spark.table("customer").select("c_custkey", "c_nationkey")
      val s = spark.table("supplier").select("s_suppkey", "s_nationkey")
      val n = spark.table("nation").select("n_nationkey", "n_name")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n.select(col("n_nationkey").as("sk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("sk"))
        .join(broadcast(n.select(col("n_nationkey").as("ck"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("ck"))
        .filter((col("s_nationkey") % 5 === 1 &&
            col("c_nationkey") % 5 === 2) ||
          (col("s_nationkey") % 5 === 2 &&
            col("c_nationkey") % 5 === 1))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(sum(col("price") * (lit(1) - col("disc"))).cast("double")
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // TPC-H Q10 shape (returned-item reporting): revenue lost to
    // returns per customer over a quarter, top 20. The returnflag and
    // date filters push into the scans, dims broadcast, and the final
    // ORDER BY revenue LIMIT 20 compiles to TakeOrderedAndProject —
    // no global sort crosses the cluster (o1's guarantee on a 4-way
    // join output). Tie-break on c_custkey for a total order.
    QueryDef.views("q10_returned_items",
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
        |         AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |GROUP BY c.c_custkey, c.c_name, n.n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { spark =>
      val li = spark.table("lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), dec2("l_extendedprice").as("price"),
          col("l_discount").cast("decimal(4,2)").as("disc"))
      val o = spark.table("orders")
        .filter(col("o_orderdate") >=
          lit("1996-01-01 00:00:00").cast(TimestampNTZType) &&
          col("o_orderdate") <
            lit("1996-10-01 00:00:00").cast(TimestampNTZType))
        .select("o_orderkey", "o_custkey")
      val c = spark.table("customer")
        .select("c_custkey", "c_name", "c_nationkey")
      val n = spark.table("nation").select("n_nationkey", "n_name")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(col("price") * (lit(1) - col("disc"))).cast("double")
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // NOT IN vs NOT EXISTS under NULLs — the classic three-valued-
    // logic trap, graded: a probe list seeded with NULLs (every 97th
    // order key) makes `NOT IN` return ZERO rows (x <> NULL is
    // unknown, so no row can prove membership-absence), while
    // NOT EXISTS — equi-semantics — returns the intuitive count, equal
    // to NOT IN over the null-stripped list. Spark plans the first as
    // a null-aware anti join (BroadcastHashJoin LeftAnti with
    // isNullAwareAntiJoin) — an engine that "optimizes" it to a plain
    // anti join silently returns wrong answers on nullable keys; this
    // entry pins all three counts against DuckDB implementing the
    // same SQL standard independently.
    QueryDef.views("nn1_null_aware_anti",
      """WITH probe AS (SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
        |                           ELSE o_custkey END AS k FROM orders
        |               WHERE o_orderkey % 3 = 0)
        |SELECT
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey NOT IN (SELECT k FROM probe)) AS n_not_in,
        |  (SELECT count(*) FROM customer c
        |   WHERE NOT EXISTS (SELECT 1 FROM probe p
        |                     WHERE p.k = c.c_custkey)) AS n_not_exists,
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey NOT IN (SELECT k FROM probe
        |                           WHERE k IS NOT NULL)) AS n_not_in_nonull""".stripMargin) { spark =>
      spark.sql(
        """WITH probe AS (SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
          |                           ELSE o_custkey END AS k FROM orders
          |               WHERE o_orderkey % 3 = 0)
          |SELECT
          |  (SELECT count(*) FROM customer
          |   WHERE c_custkey NOT IN (SELECT k FROM probe)) AS n_not_in,
          |  (SELECT count(*) FROM customer c
          |   WHERE NOT EXISTS (SELECT 1 FROM probe p
          |                     WHERE p.k = c.c_custkey)) AS n_not_exists,
          |  (SELECT count(*) FROM customer
          |   WHERE c_custkey NOT IN (SELECT k FROM probe
          |                           WHERE k IS NOT NULL)) AS n_not_in_nonull""".stripMargin)
    },

    // Correlated scalar subquery (per-row dependent aggregate).
    QueryDef.views("sq1_scalar_subquery",
      """SELECT c_custkey,
        |       (SELECT max(o_totalprice) FROM orders
        |        WHERE o_custkey = c_custkey) AS max_order
        |FROM customer ORDER BY c_custkey""".stripMargin) { spark =>
      spark.sql(
        """SELECT c_custkey,
          |       (SELECT max(o_totalprice) FROM orders
          |        WHERE o_custkey = c_custkey) AS max_order
          |FROM customer ORDER BY c_custkey""".stripMargin)
    },

    // UNPIVOT / melt: wide measure columns to long (measure, value) rows.
    QueryDef.views("up1_unpivot",
      """SELECT o_orderkey, measure, value FROM (
        |  UNPIVOT (SELECT o_orderkey, o_totalprice,
        |                  CAST(o_custkey AS DOUBLE) AS custkey_d FROM orders)
        |  ON o_totalprice, custkey_d
        |  INTO NAME measure VALUE value)
        |ORDER BY o_orderkey, measure""".stripMargin) { spark =>
      spark.table("orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_custkey").cast("double").as("custkey_d"))
        .unpivot(Array(col("o_orderkey")),
          Array(col("o_totalprice"), col("custkey_d")),
          "measure", "value")
        .orderBy("o_orderkey", "measure")
    },

    // Gap-based sessionization (batch form of the streaming
    // session_window spec): Spark's native session_window vs the
    // gaps-and-islands SQL formulation — identical semantics (a gap of
    // >= 5 minutes starts a new session). Integer-only output.
    QueryDef.views("ses1_sessionize",
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN ts - lag(ts) OVER
        |                (PARTITION BY user_id ORDER BY ts, event_id)
        |              >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |     islands AS (
        |  SELECT user_id, event_id,
        |         sum(new_session) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, CAST(min(event_id) AS BIGINT) AS first_event_id,
        |       count(*) AS n_events
        |FROM islands GROUP BY user_id, sid
        |ORDER BY user_id, first_event_id""".stripMargin) { spark =>
      spark.table("events")
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(min("event_id").cast("bigint").as("first_event_id"),
          count(lit(1)).as("n_events"))
        .select("user_id", "first_event_id", "n_events")
        .orderBy("user_id", "first_event_id")
    },

    // Dynamic-gap sessionization: the gap is a PER-EVENT expression
    // (clicks keep a session alive 2 minutes, errors 10, everything
    // else 5) — the real-world form of ses1, where different activity
    // kinds have different idle tolerances. Each event contributes the
    // interval [ts, ts+gap(e)); sessions are the transitive merge of
    // overlapping intervals. The oracle states that as running-max
    // islands: a new session starts exactly when an event's ts clears
    // the max window-end of every earlier event in the group —
    // lag(ts) (ses1's rule) would be WRONG here, since a long-gap
    // event can bridge over a short-gap successor.
    QueryDef.views("ses2_dynamic_gap",
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |         ts + CASE event_type WHEN 'click' THEN INTERVAL 2 MINUTE
        |                              WHEN 'error' THEN INTERVAL 10 MINUTE
        |                              ELSE INTERVAL 5 MINUTE END AS wend
        |  FROM events),
        |  f AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN max(wend) OVER
        |                (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |              <= ts THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |  islands AS (
        |  SELECT user_id, event_id,
        |         sum(new_session) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, CAST(min(event_id) AS BIGINT) AS first_event_id,
        |       count(*) AS n_events
        |FROM islands GROUP BY user_id, sid
        |ORDER BY user_id, first_event_id""".stripMargin) { spark =>
      spark.table("events")
        .groupBy(session_window(col("ts"),
          when(col("event_type") === "click", "2 minutes")
            .when(col("event_type") === "error", "10 minutes")
            .otherwise("5 minutes")), col("user_id"))
        .agg(min("event_id").cast("bigint").as("first_event_id"),
          count(lit(1)).as("n_events"))
        .select("user_id", "first_event_id", "n_events")
        .orderBy("user_id", "first_event_id")
    },

    // Funnel analysis — ordered step conversion (view → click →
    // purchase, strictly increasing event time per user): the product-
    // analytics staple next to sessionization. Each step is ONE
    // conditional min-aggregate plus one equi-join on user_id carrying
    // (user_id, timestamp) only — never a per-user event sort, never a
    // window over the raw stream; at 100 TB the step relations shrink
    // monotonically (step k+1 probes only step-k converters), so the
    // chain costs three narrow key-partitioned joins. Counts come out
    // as one row.
    QueryDef.views("fn1_funnel_steps",
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |     s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |            JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        |            WHERE e.event_type = 'click' GROUP BY e.user_id),
        |     s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |            JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        |            WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM s1) AS n_step_view,
        |       (SELECT count(*) FROM s2) AS n_step_click,
        |       (SELECT count(*) FROM s3) AS n_step_purchase""".stripMargin) { spark =>
      val ev = spark.table("events").select("user_id", "event_type", "ts")
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      s1.agg(count(lit(1)).as("n_step_view"))
        .crossJoin(s2.agg(count(lit(1)).as("n_step_click")))
        .crossJoin(s3.agg(count(lit(1)).as("n_step_purchase")))
    },

    // Cohort retention — users grouped by first-activity week, counted
    // again in each later week they return: the second product-
    // analytics staple. Two scans (first-event per user, distinct
    // user-weeks), one key-partitioned join, grouped counts; the
    // retention matrix is |cohorts| × |weeks| rows no matter the event
    // volume. Week bucketing via date_trunc('week') — ISO Monday start
    // in both engines — and the offset in whole weeks via exact
    // integer day arithmetic.
    QueryDef.views("co1_cohort_retention",
      """WITH f AS (SELECT user_id,
        |             CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
        |           FROM events GROUP BY user_id),
        |     a AS (SELECT DISTINCT user_id,
        |             CAST(date_trunc('week', ts) AS DATE) AS wk
        |           FROM events)
        |SELECT cohort, CAST((wk - cohort) // 7 AS BIGINT) AS week_offset,
        |       count(*) AS n_active
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY cohort, week_offset
        |ORDER BY cohort, week_offset""".stripMargin) { spark =>
      val ev = spark.table("events").select("user_id", "ts")
      val f = ev.groupBy("user_id")
        .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort"))
      val a = ev.select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk")).distinct()
      a.join(f, "user_id")
        .groupBy(col("cohort"),
          expr("CAST(datediff(wk, cohort) div 7 AS BIGINT)")
            .as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy("cohort", "week_offset")
    },

    // Markov transition counts — the (prev event_type → event_type)
    // bigram census per user stream, the behavioral-modeling staple
    // (session path analysis, next-action priors for curriculum
    // mining). ONE window pass (lag over the user's ordered stream) +
    // a grouped count whose output is |types|² rows no matter the
    // event volume — the same shuffle the sessionizer already pays,
    // nothing quadratic.
    QueryDef.views("pa1_transition_counts",
      """WITH t AS (SELECT user_id, event_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id) AS prev_type
        |           FROM events)
        |SELECT prev_type AS from_type, event_type AS to_type,
        |       CAST(count(*) AS BIGINT) AS n_transitions
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { spark =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      spark.table("events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type").as("from_type"),
          col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
        .orderBy("from_type", "to_type")
    },

    // Marketing-style attribution: every purchase credited to the
    // user's FIRST touch (first event_type ever) and LAST touch (most
    // recent non-purchase event strictly before it — ao1's
    // ignore-nulls running last_value). Both signals fall out of the
    // SAME single window pass over the user-partitioned stream; the
    // result is a |types|² attribution matrix.
    QueryDef.views("at1_attribution",
      """WITH o AS (SELECT event_id, event_type,
        |    first_value(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS first_touch,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |                    THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_touch
        |  FROM events)
        |SELECT first_touch, coalesce(last_touch, '(none)') AS last_touch,
        |       CAST(count(*) AS BIGINT) AS n_purchases
        |FROM o WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { spark =>
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val prior = byUser.rowsBetween(Window.unboundedPreceding, -1)
      spark.table("events")
        .withColumn("first_touch", first(col("event_type"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("last_touch",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(prior))
        .filter(col("event_type") === "purchase")
        .groupBy(col("first_touch"),
          coalesce(col("last_touch"), lit("(none)")).as("last_touch"))
        .agg(count(lit(1)).as("n_purchases"))
        .orderBy("first_touch", "last_touch")
    },

    // Quantile normalization — rank → uniform grid per stratum, the
    // feature-engineering transform that makes heterogeneous score
    // columns comparable before mixing/weighting. Emitted in exact
    // integer ppm (floor((rn−1)·10⁶ / (n−1))) rather than
    // percent_rank's double division, so the output is bit-identical
    // across engines and re-runs (the same reproducibility argument as
    // ts1). One exchange per stratum + in-partition sort; the grid is
    // assigned per row with O(1) state.
    QueryDef.views("qn1_quantile_normalize",
      """WITH t AS (SELECT event_id,
        |             row_number() OVER (PARTITION BY event_type
        |               ORDER BY value, event_id) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS n
        |           FROM events)
        |SELECT event_id, CAST((rn - 1)*1000000 // (n - 1) AS BIGINT) AS qn_ppm
        |FROM t WHERE n > 1 ORDER BY event_id""".stripMargin) { spark =>
      val byType = Window.partitionBy("event_type")
      spark.table("events")
        .withColumn("rn", row_number()
          .over(byType.orderBy(col("value"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(byType))
        .filter(col("n") > 1)
        .select(col("event_id"),
          expr("CAST((rn - 1)*1000000L div (n - 1) AS BIGINT)").as("qn_ppm"))
        .orderBy("event_id")
    },

    // Event-time lateness census — per user, how often events arrive
    // out of event-time order and by how much at worst. This is the
    // measurement that DRIVES watermark selection for every streaming
    // entry (t7/t8, st*, iv2): the delay bound is a quantile of exactly
    // this distribution. The synthetic events happen to arrive
    // perfectly ordered, so (cdc1's derived-WAL style) event time is
    // arrival time minus a deterministic per-event client skew: a
    // Knuth multiplicative hash of event_id mod 86400s. It must be a
    // HASH — ids are assigned in time order, so any monotone skew
    // preserves order against the ~7h median per-user gap — and a day
    // deep so it clears that gap; ~27% of events land out of order. Running-max
    // window over arrival order, lateness in exact µs, grouped census;
    // HAVING keeps only users that ever saw disorder.
    QueryDef.views("la1_lateness_census",
      """WITH s AS (SELECT user_id, event_id, ts,
        |             epoch_us(ts) - ((event_id * 2654435761) % 86400)*1000000 AS ev_us
        |           FROM events),
        |     t AS (SELECT user_id, ev_us,
        |             max(ev_us) OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |               AS max_prior
        |           FROM s)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(CASE WHEN ev_us < max_prior THEN 1 END) AS BIGINT)
        |         AS n_out_of_order,
        |       CAST(coalesce(max(CASE WHEN ev_us < max_prior
        |           THEN max_prior - ev_us END), 0) AS BIGINT)
        |         AS max_lateness_us
        |FROM t GROUP BY user_id
        |HAVING count(CASE WHEN ev_us < max_prior THEN 1 END) > 0
        |ORDER BY user_id""".stripMargin) { spark =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      spark.table("events")
        .withColumn("ev_us",
          expr("unix_micros(cast(ts as timestamp)) - ((event_id * 2654435761L) % 86400)*1000000L"))
        .withColumn("max_prior", max(col("ev_us")).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          count(when(col("ev_us") < col("max_prior"), 1)).as("n_out_of_order"),
          coalesce(max(when(col("ev_us") < col("max_prior"),
              col("max_prior") - col("ev_us"))), lit(0L))
            .cast("long").as("max_lateness_us"))
        .filter(col("n_out_of_order") > 0)
        .orderBy("user_id")
    },

    // A/B experiment readout — Welch's two-sample t over a fixed-point
    // metric (arms = user_id parity, metric = event value in milli-
    // units). Per-arm moments are exact order-free bigint sums; the
    // statistic is pure scalar IEEE arithmetic on one row with a fixed
    // operation order, so t AND the significance decision are
    // bit-identical across engines, partitionings, and re-runs — the
    // reproducibility an experiment readout needs (Profile.welchT).
    QueryDef.views("ab1_welch_t",
      """WITH s AS (SELECT user_id % 2 AS arm,
        |             CAST(floor(value*1000) AS BIGINT) AS v FROM events),
        |     g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(v) AS BIGINT) AS s1,
        |             CAST(sum(v*v) AS BIGINT) AS s2
        |           FROM s GROUP BY arm),
        |     p AS (SELECT
        |             max(CASE WHEN arm = 0 THEN n END) AS na,
        |             max(CASE WHEN arm = 0 THEN s1 END) AS s1a,
        |             max(CASE WHEN arm = 0 THEN s2 END) AS s2a,
        |             max(CASE WHEN arm = 1 THEN n END) AS nb,
        |             max(CASE WHEN arm = 1 THEN s1 END) AS s1b,
        |             max(CASE WHEN arm = 1 THEN s2 END) AS s2b
        |           FROM g),
        |     q AS (SELECT na, nb, s1a, s1b,
        |             (CAST(s1a AS DOUBLE)/na - CAST(s1b AS DOUBLE)/nb) /
        |             sqrt(((CAST(na AS DOUBLE)*CAST(s2a AS DOUBLE)
        |                     - CAST(s1a AS DOUBLE)*CAST(s1a AS DOUBLE))
        |                    / (CAST(na AS DOUBLE)*(CAST(na AS DOUBLE)-1))) / na
        |                + ((CAST(nb AS DOUBLE)*CAST(s2b AS DOUBLE)
        |                     - CAST(s1b AS DOUBLE)*CAST(s1b AS DOUBLE))
        |                    / (CAST(nb AS DOUBLE)*(CAST(nb AS DOUBLE)-1))) / nb)
        |               AS t_stat
        |           FROM p)
        |SELECT na AS n_a, nb AS n_b, s1a AS s1_a, s1b AS s1_b, t_stat,
        |       abs(t_stat) * 1000 > 1960 AS significant
        |FROM q""".stripMargin) { spark =>
      graft.ops.Profile.welchT(
        spark.table("events").select((col("user_id") % 2).as("arm"),
          expr("CAST(floor(value*1000) AS BIGINT)").as("v")),
        "arm", "v")
    },

    // E1 SQL entry surface made concrete: the flagship expressed as SQL
    // text over the registered temp views (same Catalyst plan as the
    // DataFrame form — parse → analyze → optimize → HashAggregate).
    QueryDef.views("sql1_flagship_sql",
      """SELECT event_type, count(*) AS live_users
        |FROM (SELECT user_id, event_type, row_number() OVER
        |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 GROUP BY event_type ORDER BY event_type""".stripMargin) { spark =>
      spark.sql(
        """SELECT event_type, count(*) AS live_users
          |FROM (SELECT user_id, event_type, row_number() OVER
          |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          |      FROM events)
          |WHERE rn = 1 GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    // As-of join composed from built-ins (preference order (a) of the
    // brief): for each purchase, the most recent prior click by the same
    // user — one window pass over the unioned event stream, no self-join.
    // At scale this is a single shuffle on user_id + per-partition sort,
    // vs. the O(pairs) range self-join formulation.
    QueryDef.views("ao1_asof_join",
      """SELECT event_id, user_id, prior_click_event_id FROM (
        |  SELECT event_id, user_id, event_type,
        |         last_value(CASE WHEN event_type = 'click' THEN event_id END
        |                    IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS prior_click_event_id
        |  FROM events)
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin) { spark =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      spark.table("events")
        .withColumn("prior_click_event_id",
          last(when(col("event_type") === "click", col("event_id")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "prior_click_event_id")
        .orderBy("event_id")
    },

    // Interval join (the range-join twin of ao1, and the batch form of
    // the watermarked stream-stream join spec-pinned in StreamJoinSpec):
    // for each error event, the count and value sum of the same user's
    // clicks in the preceding 5 minutes. Plans as a hash join on
    // user_id with the time band as residual — at scale one shuffle on
    // the join key, no O(pairs) blow-up beyond each user's band. Value
    // sum in DECIMAL per the determinism contract.
    QueryDef.views("iv1_interval_join",
      """SELECT e.event_id AS err_id,
        |       CAST(count(c.ts) AS BIGINT) AS n_clicks,
        |       CAST(CAST(coalesce(sum(CAST(c.value AS DECIMAL(18,2))), 0)
        |            AS DECIMAL(18,2)) AS DOUBLE) AS click_value
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'error') e
        |LEFT JOIN (SELECT user_id, ts, value FROM events
        |           WHERE event_type = 'click') c
        |  ON e.user_id = c.user_id
        | AND c.ts >= e.ts - INTERVAL 5 MINUTE AND c.ts < e.ts
        |GROUP BY e.event_id ORDER BY err_id""".stripMargin) { spark =>
      val ev = spark.table("events")
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts").as("err_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("value"))
      errs.join(clicks,
          errs("user_id") === clicks("user_id") &&
            col("click_ts") >= col("err_ts") - expr("INTERVAL 5 MINUTE") &&
            col("click_ts") < col("err_ts"), "left")
        .groupBy("err_id")
        .agg(count(col("click_ts")).as("n_clicks"),
          coalesce(sum(col("value").cast("decimal(18,2)")), lit(0))
            .cast("decimal(18,2)").cast("double").as("click_value"))
        .orderBy("err_id")
    },

    // Range join with NO equi key (the shape iv1 can't cover): for each
    // purchase, the count and id-sum of ALL users' clicks in the hour
    // after it. Naively this is a BroadcastNestedLoopJoin — O(|P|·|C|)
    // comparisons no matter how narrow the band. RangeJoin.pointInRange
    // rewrites it as a hash join on a 1-hour bin id (plan-guarded in
    // RangeJoinSpec: no BNLJ, no CartesianProduct), so candidate volume
    // tracks the true match count and the join survives 100× on both
    // sides. Micros via unix_micros(cast ntz→ts) ≡ DuckDB epoch_us under
    // the session's UTC timezone.
    QueryDef.views("rj1_range_join_binned",
      """SELECT p.event_id AS purchase_id,
        |       CAST(count(*) AS BIGINT) AS n_clicks,
        |       CAST(sum(c.event_id) AS BIGINT) AS sum_click_ids
        |FROM (SELECT event_id, epoch_us(ts) AS us FROM events
        |      WHERE event_type = 'purchase') p
        |JOIN (SELECT event_id, epoch_us(ts) AS us FROM events
        |      WHERE event_type = 'click') c
        |  ON c.us >= p.us AND c.us < p.us + 3600000000
        |GROUP BY 1 ORDER BY purchase_id""".stripMargin) { spark =>
      val ev = spark.table("events")
      val us = expr("unix_micros(cast(ts as timestamp))")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), us.as("c_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), us.as("lo"))
        .withColumn("hi", col("lo") + lit(3600000000L))
      graft.ops.RangeJoin
        .pointInRange(clicks, "c_us", purchases, "lo", "hi", 3600000000L)
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_clicks"),
          sum(col("click_id")).as("sum_click_ids"))
        .orderBy("purchase_id")
    },

    // Interval-overlap join, again with no equi key: error windows vs
    // purchase windows (each 30 minutes wide), count + id-sum of
    // overlapping purchase windows per error. Both sides explode across
    // covered bins; the later-start bin guard keeps each overlapping
    // pair exactly once (RangeJoinSpec pins pair-exactness against the
    // naive quadratic join).
    QueryDef.views("rj2_interval_overlap",
      """SELECT e.event_id AS err_id,
        |       CAST(count(*) AS BIGINT) AS n_overlaps,
        |       CAST(sum(p.event_id) AS BIGINT) AS sum_purchase_ids
        |FROM (SELECT event_id, epoch_us(ts) AS us FROM events
        |      WHERE event_type = 'error') e
        |JOIN (SELECT event_id, epoch_us(ts) AS us FROM events
        |      WHERE event_type = 'purchase') p
        |  ON e.us < p.us + 1800000000 AND p.us < e.us + 1800000000
        |GROUP BY 1 ORDER BY err_id""".stripMargin) { spark =>
      val ev = spark.table("events")
      val us = expr("unix_micros(cast(ts as timestamp))")
      val win = 1800000000L
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), us.as("e_lo"))
        .withColumn("e_hi", col("e_lo") + lit(win))
      val purs = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), us.as("p_lo"))
        .withColumn("p_hi", col("p_lo") + lit(win))
      graft.ops.RangeJoin
        .intervalOverlap(errs, "e_lo", "e_hi", purs, "p_lo", "p_hi", win)
        .groupBy("err_id")
        .agg(count(lit(1)).as("n_overlaps"),
          sum(col("p_id")).as("sum_purchase_ids"))
        .orderBy("err_id")
    },

    // Point-in-range lookup against a BROADCAST-SIZED dimension — the
    // third member of the range-join family (iv1: equi key + band; rj1:
    // two large sides, binned; lk1: huge fact × small disjoint-range
    // dim). Spark's planner turns the naive BETWEEN join into a
    // BroadcastNestedLoopJoin — O(|dim|) comparisons per fact row — so
    // BroadcastLookup collects the (lo,hi) pairs once, embeds them as
    // ONE sorted boundary array literal, binary-searches it per row in
    // whole-stage codegen (range_bucket, O(log|dim|)), and attaches the
    // payload with a broadcast HASH join on the found ordinal. Zero
    // exchanges on the fact side (PlanningOpsSpec pins: no BNLJ, no
    // shuffle before the aggregate). Tier boundaries are irregular
    // quadratic-width bands derived from nation, with real gaps between
    // them (the gap path drops rows — inner semantics, graded here).
    QueryDef.views("lk1_broadcast_range_lookup",
      """WITH tiers AS (SELECT n_nationkey AS tier,
        |         CAST(n_nationkey AS BIGINT)*n_nationkey*100000 AS lo,
        |         CAST(n_nationkey AS BIGINT)*n_nationkey*100000
        |           + (2*n_nationkey + 1)*90000 AS hi
        |       FROM nation),
        |     pts AS (SELECT CAST(floor(o_totalprice*100) AS BIGINT) AS cents
        |             FROM orders)
        |SELECT tier, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM pts JOIN tiers ON cents >= lo AND cents < hi
        |GROUP BY tier ORDER BY tier""".stripMargin) { spark =>
      val k = col("n_nationkey").cast("long")
      val tiers = spark.table("nation").select(
        col("n_nationkey").as("tier"),
        (k * k * lit(100000L)).as("lo"),
        (k * k * lit(100000L) + (k * 2 + 1) * lit(90000L)).as("hi"))
      val pts = spark.table("orders")
        .select(expr("CAST(floor(o_totalprice*100) AS BIGINT)").as("cents"))
      graft.ops.BroadcastLookup.pointLookup(pts, "cents", tiers, "lo", "hi")
        .groupBy("tier")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("sum_cents"))
        .orderBy("tier")
    },

    // Rolling-window anomaly detection — each event's value judged
    // against the mean/σ of the same user's previous 20 values, the
    // metric-alerting staple. The flag is a THRESHOLD on window
    // aggregates, and float window sums are association-order-dependent
    // (Spark's running frame vs DuckDB's segment tree), so a borderline
    // row could flip on a 1-ulp difference: TimeSeries.rollingAnomalies
    // therefore works in fixed-point ℤ (milli-units), where
    // |v−mean| > 3σ becomes the exact integer comparison
    // dev² > 9·(cnt·Σv² − (Σv)²). One hash exchange on user_id +
    // in-partition sort; O(lookback) frame state per key, so a skewed
    // user costs O(1) memory at 100 TB.
    QueryDef.views("ts1_rolling_anomaly",
      """WITH s AS (SELECT event_id, user_id, ts,
        |             CAST(floor(value*1000) AS BIGINT) AS v
        |           FROM events),
        |     w AS (SELECT event_id, user_id, v,
        |             count(v) OVER win AS w_cnt,
        |             sum(v)   OVER win AS w_sum,
        |             sum(v*v) OVER win AS s2
        |           FROM s
        |           WINDOW win AS (PARTITION BY user_id
        |             ORDER BY ts, event_id
        |             ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, w_cnt,
        |       CAST(v*w_cnt - w_sum AS BIGINT) AS dev
        |FROM w
        |WHERE w_cnt >= 10
        |  AND (v*w_cnt - w_sum)*(v*w_cnt - w_sum)
        |        > 9*(w_cnt*s2 - w_sum*w_sum)
        |ORDER BY event_id""".stripMargin) { spark =>
      val scaled = spark.table("events")
        .select(col("event_id"), col("user_id"), col("ts"),
          expr("CAST(floor(value*1000) AS BIGINT)").as("v"))
      graft.ops.TimeSeries.rollingAnomalies(scaled, "user_id",
          Seq("ts", "event_id"), "v", lookback = 20, minPoints = 10,
          sigmas = 3)
        .filter(col("is_anomaly"))
        .select(col("event_id"), col("user_id"), col("w_cnt"), col("dev"))
        .orderBy("event_id")
    },

    // Time-series resampling with gap fill: per user, one row per DAY
    // from their first to last purchase, zero-filled where no purchases
    // happened — the regularization step before any window/trend
    // computation (Spark has no native gap fill; the grid is a bounded
    // per-key sequence explode). The daily aggregate is pinned
    // because BOTH the grid derivation and the join probe read it —
    // without it the corpus is scanned twice (lambda subtrees defeat
    // exchange reuse). Grid size is bounded by span/day per key, never
    // by the raw event count; day ids stay in integer space (div ≡ //
    // on non-negative micros).
    QueryDef.views("rs1_resample_gapfill",
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |         count(*) AS n
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |mm AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |       FROM daily GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day
        |         FROM mm)
        |SELECT g.user_id, CAST(g.day AS BIGINT) AS day,
        |       CAST(coalesce(d.n, 0) AS BIGINT) AS n_purchases
        |FROM grid g LEFT JOIN daily d USING (user_id, day)
        |ORDER BY user_id, day""".stripMargin) { spark =>
      val daily = Pin(spark.table("events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("day"))
        .groupBy("user_id", "day").agg(count(lit(1)).as("n")))
      val grid = daily.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .withColumn("day", explode(sequence(col("d0"), col("d1"))))
        .drop("d0", "d1")
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n"), lit(0L)).cast("bigint").as("n_purchases"))
        .orderBy("user_id", "day")
    },

    // JSON scalar functions over the props payload column: typed path
    // extraction + predicate + aggregation on the extracted value (the
    // semi-structured half of the scalar library; the reference's
    // envelopes are JSON, so payload-field extraction is a first-class
    // need). get_json_object (Spark) and json_extract (DuckDB) agree on
    // integer-typed leaves cast to BIGINT.
    //
    // Parse discipline: the extracted value is PROJECTED ONCE and the
    // group key / aggregate read the column. Reusing the raw parse
    // expression in filter+groupBy+sum re-parses the JSON three times
    // per row (measured 2× slower); the filter's own parse is the one
    // unavoidable copy — the optimizer substitutes it below the
    // projection so the scan can prune rows before the project runs.
    QueryDef.views("f4_json_funcs",
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
        |       count(*) AS n,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |         AS sum_k
        |FROM events
        |WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 10
        |GROUP BY 1 ORDER BY k_mod""".stripMargin) { spark =>
      val k = get_json_object(col("props"), "$.k").cast("bigint")
      spark.table("events")
        .select(k.as("kv"))
        .filter(col("kv") >= 10)
        .groupBy((col("kv") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("kv")).as("sum_k"))
        .orderBy("k_mod")
    },

    // Exact percentile statistics (median / p90 via linear interpolation —
    // identical definition in both engines) + exact extrema.
    QueryDef.views("p1_percentiles",
      """SELECT l_returnflag,
        |       quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS median_qty,
        |       quantile_cont(CAST(l_quantity AS DOUBLE), 0.9) AS p90_qty,
        |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { spark =>
      spark.table("lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // Left outer join preserving unmatched rows (zero-order customers).
    // count(o_orderkey) counts non-null only → 0 for customers without
    // orders, identically on both engines.
    QueryDef.views("j4_left_outer",
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { spark =>
      val c = spark.table("customer").select("c_custkey")
      val o = spark.table("orders").select("o_custkey", "o_orderkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    },

    // Ordered string aggregation (collect_set + sort — deterministic form
    // of the nondeterministic list aggregation).
    QueryDef.views("f2_string_agg",
      """SELECT user_id,
        |       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { spark =>
      spark.table("events")
        .groupBy("user_id")
        .agg(concat_ws(",", array_sort(collect_set(col("event_type"))))
          .as("types"))
        .orderBy("user_id")
    },

    // Date arithmetic library: datediff / trunc / extraction.
    QueryDef.views("f3_date_funcs",
      """SELECT l_orderkey, l_linenumber,
        |       CAST(datediff('day', DATE '1995-01-01', l_shipdate) AS BIGINT) AS days_since_epoch_start,
        |       CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        |       CAST(dayofmonth(l_shipdate) AS BIGINT) AS ship_dom,
        |       CAST(quarter(l_shipdate) AS BIGINT) AS ship_quarter
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { spark =>
      spark.table("lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate"), lit("1995-01-01").cast("date"))
            .cast("bigint").as("days_since_epoch_start"),
          date_trunc("month", col("l_shipdate")).cast("date").as("ship_month"),
          dayofmonth(col("l_shipdate")).cast("bigint").as("ship_dom"),
          quarter(col("l_shipdate")).cast("bigint").as("ship_quarter"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ROLLUP hierarchy totals (multi-level aggregation in one pass).
    // NULLS FIRST pinned in the oracle (DuckDB defaults NULLS LAST;
    // Spark ascending default is NULLS FIRST).
    // Distribution-family window functions — the analytic surface w2
    // doesn't reach: dense_rank / percent_rank / cume_dist over a
    // TIE-HEAVY ordering (per-status order year only — ranks are pure
    // functions of the key VALUE, so ties make dense/percent/cume
    // genuinely diverge from w2's rank while staying deterministic),
    // plus running nth_value and lead-IGNORE-NULLS over the fully
    // ordered twin window. percent_rank/cume_dist are IEEE divisions
    // of the same small integers on both engines — bit-identical.
    QueryDef.views("w4_distribution",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(dense_rank() OVER wt AS BIGINT) AS dr,
        |  percent_rank() OVER wt AS pr,
        |  cume_dist() OVER wt AS cd,
        |  nth_value(o_orderkey, 3) OVER wf AS nv3,
        |  lead(CASE WHEN o_orderkey % 5 = 0 THEN NULL
        |            ELSE o_orderkey END IGNORE NULLS) OVER wf AS lnn
        |FROM orders
        |WINDOW
        |  wt AS (PARTITION BY o_orderstatus ORDER BY year(o_orderdate)),
        |  wf AS (PARTITION BY o_orderstatus
        |         ORDER BY year(o_orderdate), o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { spark =>
      val wt = Window.partitionBy("o_orderstatus")
        .orderBy(year(col("o_orderdate")))
      val wf = Window.partitionBy("o_orderstatus")
        .orderBy(year(col("o_orderdate")), col("o_orderkey"))
      spark.table("orders").select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("bigint").as("yr"),
          dense_rank().over(wt).cast("bigint").as("dr"),
          percent_rank().over(wt).as("pr"),
          cume_dist().over(wt).as("cd"),
          nth_value(col("o_orderkey"), 3).over(wf).as("nv3"),
          lead(when(col("o_orderkey") % 5 === 0, lit(null))
            .otherwise(col("o_orderkey")), 1, null, true)
            .over(wf).as("lnn"))
        .orderBy("o_orderkey")
    },

    // Array higher-order functions as the graded surface (transform /
    // filter / aggregate / zip_with — the codegen'd lambda family the
    // similarity tier leans on, graded here in isolation): per order a
    // derived 1..n integer array, sum of squares via
    // aggregate∘transform, even-count via filter, and the palindromic
    // dot product via zip_with against the reversed array. The oracle
    // derives the same numbers INDEPENDENTLY from closed forms
    // (Σi² = n(n+1)(2n+1)/6; Σ i·(n+1−i) = n(n+1)(n+2)/6) — the
    // engine computes with lambdas what number theory predicts.
    QueryDef.views("f5_array_hof",
      """SELECT o_orderkey, n,
        |  n * (n + 1) * (2 * n + 1) // 6 AS sumsq,
        |  n // 2 AS n_even,
        |  n * (n + 1) * (n + 2) // 6 AS zp
        |FROM (SELECT o_orderkey,
        |        CAST(2 + o_orderkey % 6 AS BIGINT) AS n FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { spark =>
      spark.table("orders")
        .select(col("o_orderkey"),
          expr("sequence(1L, 2 + o_orderkey % 6)").as("arr"))
        .select(col("o_orderkey"),
          size(col("arr")).cast("bigint").as("n"),
          expr("aggregate(transform(arr, x -> x * x), 0L, " +
            "(a, x) -> a + x)").as("sumsq"),
          expr("CAST(size(filter(arr, x -> x % 2 = 0)) AS BIGINT)")
            .as("n_even"),
          expr("aggregate(zip_with(arr, reverse(arr), " +
            "(a, b) -> a * b), 0L, (a, x) -> a + x)").as("zp"))
        .orderBy("o_orderkey")
    },

    // Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL): multiplicity
    // arithmetic — min(m_a, m_b) and m_a - m_b copies respectively —
    // where set1's DISTINCT variants collapse counts. Spark plans both
    // as a count-aggregated join (no row-by-row anti semantics at
    // scale); the probe multisets overlap on nationkey with differing
    // multiplicities, so the ALL/DISTINCT difference is material.
    QueryDef.views("set2_bag_ops",
      """SELECT 'inter_all' AS tag, nationkey, count(*) AS m FROM (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |  INTERSECT ALL
        |  SELECT CAST(s_nationkey AS BIGINT) FROM supplier)
        |GROUP BY nationkey
        |UNION ALL
        |SELECT 'except_all' AS tag, nationkey, count(*) AS m FROM (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |  EXCEPT ALL
        |  SELECT CAST(s_nationkey AS BIGINT) FROM supplier)
        |GROUP BY nationkey
        |ORDER BY tag, nationkey""".stripMargin) { spark =>
      val cn = spark.table("customer")
        .select(col("c_nationkey").cast("bigint").as("nationkey"))
      val sn = spark.table("supplier")
        .select(col("s_nationkey").cast("bigint").as("nationkey"))
      cn.intersectAll(sn).groupBy("nationkey").agg(count(lit(1)).as("m"))
        .select(lit("inter_all").as("tag"), col("nationkey"), col("m"))
        .unionByName(cn.exceptAll(sn).groupBy("nationkey")
          .agg(count(lit(1)).as("m"))
          .select(lit("except_all").as("tag"), col("nationkey"), col("m")))
        .orderBy("tag", "nationkey")
    },

    // LATERAL correlated-subquery join: per-nation top-2 customers by
    // balance, expressed as the SQL-standard LATERAL form on BOTH
    // engines (Catalyst decorrelates it into a ranked join; DuckDB
    // executes the dependent scan) — the per-group-top-k plan family
    // w1 reaches via window functions, reached here through the
    // correlated-subquery surface instead.
    QueryDef.views("lj1_lateral_topk",
      """SELECT n.n_nationkey, t.c_custkey,
        |       CAST(CAST(t.c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
        |FROM nation n,
        |  LATERAL (SELECT c_custkey, c_acctbal FROM customer
        |           WHERE c_nationkey = n.n_nationkey
        |           ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n.n_nationkey, t.c_custkey""".stripMargin) { spark =>
      spark.sql(
        """SELECT n.n_nationkey, t.c_custkey,
          |       CAST(CAST(t.c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
          |FROM nation n
          |JOIN LATERAL (SELECT c_custkey, c_acctbal FROM customer
          |              WHERE c_nationkey = n.n_nationkey
          |              ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
          |ORDER BY n.n_nationkey, t.c_custkey""".stripMargin)
    },

    // Native pivot API (wide one-column-per-value layout): explicit
    // value list so the plan is ONE hash aggregate with PivotFirst —
    // no values-discovery scan job, deterministic schema (the contract
    // a 100 TB pivot needs; an implicit .pivot(col) would add a
    // distinct scan and data-dependent columns). Oracle = conditional
    // aggregation, the relational reading of the same table.
    QueryDef.views("pvt1_pivot",
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS f_total,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS o_total,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p_total
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin) { spark =>
      spark.table("orders")
        .withColumn("yr", year(col("o_orderdate")).cast("bigint"))
        .groupBy("yr")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(dec2("o_totalprice")).cast("double"))
        .select(col("yr"), col("F").as("f_total"), col("O").as("o_total"),
          col("P").as("p_total"))
        .orderBy("yr")
    },

    QueryDef.views("r1_rollup",
      """SELECT order_year, o_orderstatus,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       count(*) AS n
        |FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |             o_orderstatus, o_totalprice FROM orders)
        |GROUP BY ROLLUP(order_year, o_orderstatus)
        |ORDER BY order_year NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin) { spark =>
      spark.table("orders")
        .select(year(col("o_orderdate")).cast("bigint").as("order_year"),
          col("o_orderstatus"), col("o_totalprice"))
        .rollup("order_year", "o_orderstatus")
        .agg(sum(dec2("o_totalprice")).cast("double").as("total"),
          count(lit(1)).as("n"))
        .orderBy(col("order_year").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)
    },

    // Conditional aggregation (pivot shape): one scan, per-status revenue
    // columns — the CASE-based pivot both engines express identically.
    QueryDef.views("ca1_conditional_pivot",
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS f_total,
        |  CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS o_total,
        |  CAST(coalesce(sum(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS p_total
        |FROM orders GROUP BY 1 ORDER BY order_year""".stripMargin) { spark =>
      def statusTotal(s: String) =
        coalesce(sum(when(col("o_orderstatus") === s, dec2("o_totalprice"))),
          lit(0)).cast("double")
      spark.table("orders")
        .groupBy(year(col("o_orderdate")).cast("bigint").as("order_year"))
        .agg(statusTotal("F").as("f_total"), statusTotal("O").as("o_total"),
          statusTotal("P").as("p_total"))
        .orderBy("order_year")
    },

    // TPC-H Q1-shaped pricing summary — partial-agg-dominated scan; the
    // canonical "does map-side combine happen" probe at 100 TB.
    QueryDef.views("a1_lineitem_pricing",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |                * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { spark =>
      spark.table("lineitem")
        .filter(col("l_shipdate") <=
          lit("1998-09-02 00:00:00").cast(TimestampNTZType))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec2("l_quantity")).cast("double").as("sum_qty"),
          sum(dec2("l_extendedprice")).cast("double").as("sum_base"),
          sum(dec2("l_extendedprice") *
            (lit(1) - col("l_discount").cast("decimal(4,2)")))
            .cast("double").as("sum_disc"),
          sum(dec2("l_extendedprice") *
            (lit(1) - col("l_discount").cast("decimal(4,2)")) *
            (lit(1) + col("l_tax").cast("decimal(4,2)")))
            .cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // TPC-H Q18 shape (large-volume customer): HAVING-filtered aggregate
    // semi-joins back into a 3-table join, then a distributed top-k
    // (TakeOrdered, never a global sort). The big-orders set is
    // aggregate-reduced BEFORE any join, so the expensive fact-fact join
    // runs on the filtered keys only.
    QueryDef.views("q18_large_orders",
      """WITH big AS (SELECT l_orderkey FROM lineitem
        |             GROUP BY l_orderkey
        |             HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 200)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |  CAST(o.o_orderdate AS DATE) AS order_date, o.o_totalprice,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders o
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY o.o_totalprice DESC, order_date, o.o_orderkey
        |LIMIT 100""".stripMargin) { spark =>
      val li = spark.table("lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(sum(dec2("l_quantity")).as("sq"))
        .filter(col("sq") > 200).select("l_orderkey")
      spark.table("orders")
        .join(big, col("o_orderkey") === big("l_orderkey"), "left_semi")
        .join(spark.table("customer"), col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === li("l_orderkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("order_date"),
          col("o_totalprice"))
        .agg(sum(dec2("l_quantity")).cast("double").as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("order_date"),
          col("o_orderkey"))
        .limit(100)
    },

    // CUBE completes the multi-granularity family (ROLLUP r1, GROUPING
    // SETS gs1): all four granularities of (status, priority) in one
    // Expand+aggregate pass.
    QueryDef.views("cb1_cube",
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin) { spark =>
      spark.table("orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(grouping_id().cast("bigint").as("gid"),
          count(lit(1)).as("n"),
          sum(dec2("o_totalprice")).cast("double").as("total"))
        .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
          col("n"), col("total"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    // GROUPING SETS with grouping_id: the multi-granularity aggregate
    // surface beyond ROLLUP (r1) — per-status, per-priority, and grand
    // totals in one Expand+aggregate pass; both engines emit the same
    // grouping bitmask (argument-order bits).
    QueryDef.views("gs1_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin) { spark =>
      spark.table("orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")),
            Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("bigint").as("gid"),
          count(lit(1)).as("n"),
          sum(dec2("o_totalprice")).cast("double").as("total"))
        .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
          col("n"), col("total"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }
  )
}
