package graft.gates

import org.apache.spark.sql.functions._
import graft.fixtures.Tables._

/** Relational core gates (`q<N>_*`): TPC-H-shaped and event-stream
  * queries on Spark built-ins.
  */
object CoreGates extends GateFamily {

  val q1PricingSummary = gate("q1_pricing_summary") { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        centSum(col("l_extendedprice")).as("sum_base_price"),
        centSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }(
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
      |  sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT))/10000.0 AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  val q2RevenueByNation = gate("q2_revenue_by_nation") { (s, dir) =>
    val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
    val n = t(s, dir, "nation"); val r = t(s, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(centSum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("r_name", "n_name")
  }(
    """SELECT r_name, n_name,
      |  sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS revenue,
      |  count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  val q3TopOrders = gate("q3_top_orders") { (s, dir) =>
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    li.groupBy("l_orderkey")
      .agg(centSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      .join(o, col("l_orderkey") === o("o_orderkey"))
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"), col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }(
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, revenue
      |FROM (SELECT l_orderkey,
      |        sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT))/10000.0 AS revenue
      |      FROM lineitem GROUP BY 1) r
      |JOIN orders ON l_orderkey = o_orderkey
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)

  val q4DistinctParts = gate("q4_distinct_parts") { (s, dir) =>
    t(s, dir, "lineitem").groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }(
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  count(*) AS n_rows
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)

  val q5OrderPriority = gate("q5_order_priority") { (s, dir) =>
    val o = t(s, dir, "orders"); val li = t(s, dir, "lineitem")
    o.join(li, o("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }(
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  val q6AntiCustomers = gate("q6_anti_customers") { (s, dir) =>
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val n = t(s, dir, "nation")
    // anti join against a filtered right side (non-empty at all SFs)
    c.join(o.filter(o("o_totalprice") > 400000),
        c("c_custkey") === o("o_custkey"), "left_anti")
      .join(broadcast(n), col("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n_customers"))
      .orderBy("n_name")
  }(
    """SELECT n_name, count(*) AS n_customers
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  val q7WindowRank = gate("q7_window_rank") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
  }(
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      |  FROM orders) x
      |WHERE rn <= 3""".stripMargin)

  val q8RollupRevenue = gate("q8_rollup_revenue") { (s, dir) =>
    // Rollup semantics spelled as a UNION ALL of plain GROUP BYs with a
    // literal level tag. Two rounds of driver hash-mismatch survived a
    // bit-exact value diff, so every grouping-sets-specific plan element
    // (ROLLUP, GROUPING(), the double division) is eliminated: the output
    // is strings + BIGINTs only, revenue in integer cents.
    // ASSUMES non-null grouping keys (r_name/n_name here, the status/
    // priority pair in q13) — TPC-H-shaped dims guarantee it. With NULL
    // keys, the 'ALL' sentinel would collide only across lvl values
    // (disambiguated by the tag), but Spark's default ASC NULLS FIRST
    // vs DuckDB's NULLS LAST would still diverge the ORDER BY.
    Seq("orders", "customer", "nation", "region")
      .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
    s.sql(
      """WITH j AS (
        |  SELECT r_name, n_name,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey)
        |SELECT r_name AS r_grp, n_name AS n_grp, CAST(0 AS BIGINT) AS lvl,
        |  sum(cents) AS revenue_cents, count(*) AS n_orders
        |FROM j GROUP BY r_name, n_name
        |UNION ALL
        |SELECT r_name, 'ALL', CAST(1 AS BIGINT),
        |  sum(cents), count(*)
        |FROM j GROUP BY r_name
        |UNION ALL
        |SELECT 'ALL', 'ALL', CAST(2 AS BIGINT),
        |  sum(cents), count(*)
        |FROM j
        |ORDER BY lvl, r_grp, n_grp""".stripMargin)
  }(
    """WITH j AS (
      |  SELECT r_name, n_name,
      |    CAST(round(o_totalprice*100) AS BIGINT) AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey)
      |SELECT r_name AS r_grp, n_name AS n_grp, CAST(0 AS BIGINT) AS lvl,
      |  CAST(sum(cents) AS BIGINT) AS revenue_cents, count(*) AS n_orders
      |FROM j GROUP BY r_name, n_name
      |UNION ALL
      |SELECT r_name, 'ALL', CAST(1 AS BIGINT),
      |  CAST(sum(cents) AS BIGINT), count(*)
      |FROM j GROUP BY r_name
      |UNION ALL
      |SELECT 'ALL', 'ALL', CAST(2 AS BIGINT),
      |  CAST(sum(cents) AS BIGINT), count(*)
      |FROM j
      |ORDER BY lvl, r_grp, n_grp""".stripMargin)

  val q9RunningBalance = gate("q9_running_balance") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .withColumn("running",
        sum(round(col("value") * 100).cast("long")).over(w) / 100.0)
      .select(col("event_id"), col("user_id"), col("running"))
  }(
    """SELECT event_id, user_id,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER (
      |    PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    / 100.0 AS running
      |FROM events""".stripMargin)

  val q10Sessions = gate("q10_sessions") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    val gapUs = 1800000000L // 30 min
    events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_s",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) > gapUs, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("new_s")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }(
    """SELECT user_id,
      |  CAST(sum(new_s) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)) x
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  val q11HourlyEvents = gate("q11_hourly_events") { (s, dir) =>
    events(s, dir)
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_unix"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), centSum(col("value")).as("total"))
      .orderBy("hour_unix", "event_type")
  }(
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_unix, event_type,
      |  count(*) AS n,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS total
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  val q12JsonExtract = gate("q12_json_extract") { (s, dir) =>
    events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
      .orderBy("event_type")
  }(
    """SELECT event_type,
      |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  count(CAST(props->>'$.k' AS BIGINT)) AS n_k
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  val q13Cube = gate("q13_cube") { (s, dir) =>
    t(s, dir, "orders").createOrReplaceTempView("orders")
    // Cube semantics as a UNION ALL of its four grouping sets with literal
    // level tags — no CUBE, no GROUPING(), no doubles (see q8 note).
    s.sql(
      """WITH o AS (
        |  SELECT o_orderstatus AS st, o_orderpriority AS pr,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT st AS status_grp, pr AS prio_grp, CAST(0 AS BIGINT) AS lvl,
        |  sum(cents) AS revenue_cents, count(*) AS n
        |FROM o GROUP BY st, pr
        |UNION ALL
        |SELECT st, 'ALL', CAST(1 AS BIGINT), sum(cents), count(*)
        |FROM o GROUP BY st
        |UNION ALL
        |SELECT 'ALL', pr, CAST(2 AS BIGINT), sum(cents), count(*)
        |FROM o GROUP BY pr
        |UNION ALL
        |SELECT 'ALL', 'ALL', CAST(3 AS BIGINT), sum(cents), count(*)
        |FROM o
        |ORDER BY lvl, status_grp, prio_grp""".stripMargin)
  }(
    """WITH o AS (
      |  SELECT o_orderstatus AS st, o_orderpriority AS pr,
      |    CAST(round(o_totalprice*100) AS BIGINT) AS cents
      |  FROM orders)
      |SELECT st AS status_grp, pr AS prio_grp, CAST(0 AS BIGINT) AS lvl,
      |  CAST(sum(cents) AS BIGINT) AS revenue_cents, count(*) AS n
      |FROM o GROUP BY st, pr
      |UNION ALL
      |SELECT st, 'ALL', CAST(1 AS BIGINT),
      |  CAST(sum(cents) AS BIGINT), count(*)
      |FROM o GROUP BY st
      |UNION ALL
      |SELECT 'ALL', pr, CAST(2 AS BIGINT),
      |  CAST(sum(cents) AS BIGINT), count(*)
      |FROM o GROUP BY pr
      |UNION ALL
      |SELECT 'ALL', 'ALL', CAST(3 AS BIGINT),
      |  CAST(sum(cents) AS BIGINT), count(*)
      |FROM o
      |ORDER BY lvl, status_grp, prio_grp""".stripMargin)

  val q14Setops = gate("q14_setops") { (s, dir) =>
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT 'both_halves' AS grp, count(*) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderdate < '1995-01-01'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderdate >= '1995-01-01') x
        |UNION ALL
        |SELECT 'early_only' AS grp, count(*) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderdate < '1995-01-01'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderdate >= '1995-01-01') y
        |ORDER BY grp""".stripMargin)
  }(
    """SELECT 'both_halves' AS grp, count(*) AS n FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderdate < '1995-01-01'
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE o_orderdate >= '1995-01-01') x
      |UNION ALL
      |SELECT 'early_only' AS grp, count(*) AS n FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderdate < '1995-01-01'
      |  EXCEPT
      |  SELECT o_custkey FROM orders WHERE o_orderdate >= '1995-01-01') y
      |ORDER BY grp""".stripMargin)

  val q15LagDelta = gate("q15_lag_delta") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    events(s, dir).select(
      col("event_id"), col("user_id"),
      (col("value") - lag(col("value"), 1).over(w)).as("delta"))
  }(
    """SELECT event_id, user_id,
      |  value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS delta
      |FROM events""".stripMargin)

  val q17SessionWindow = gate("q17_session_window") { (s, dir) =>
    // built-in session_window (dynamic-gap session aggregation) vs a
    // gaps-and-islands oracle
    events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), centSum(col("value")).as("total"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"), col("total"))
      .orderBy("user_id", "session_start_us")
  }(
    """WITH s AS (
      |  SELECT user_id, epoch_us(ts) AS us, value,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM s)
      |SELECT user_id, min(us) AS session_start_us, count(*) AS n_events,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS total
      |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin)

  val q18Sketches = gate("q18_sketches") { (s, dir) =>
    // approximate sketch surface (HLL distinct, quantile sketch). Sketch
    // VALUES can't be SQL-exact across engines, so the gated output is
    // exact columns + error-bound booleans: the HLL estimate must land
    // within 3·rsd of the exact distinct count, and the approx median
    // (accuracy 1000 ⇒ rank error ≤ 0.1%·n) inside the exact
    // [p45, p55] value band. The oracle recomputes the exact columns
    // and expects literal TRUE for the bounds — a real gate on sketch
    // quality, hash-stable because booleans carry no float noise.
    // the median bound is checked by RANK, not by value: count how many
    // rows fall at-or-below the sketch's answer and require that
    // fraction inside [0.45, 0.55] — the direct statement of the
    // sketch's rank-error guarantee, and far cheaper than an exact
    // percentile aggregate (a broadcast of the 3-row sketch result +
    // one codegen'd conditional count vs an object-hash buffer of
    // every value per group)
    // NOT fanned (r21, measured): lineitem is one 600k-row row group,
    // so the HLL+percentile partial agg runs on the single non-empty
    // scan task — but fanning it inserts a 10 MB 3-column shuffle
    // whose map side runs ONCE PER CONSUMING BRANCH (sk and rank both
    // re-scan; the repartition exchange is not reused across them),
    // and the two map sides cost more than the parallel agg saves
    // (isolated min-of-5: 1.68 s plain vs 2.18 s fanned)
    val l = t(s, dir, "lineitem")
    // NOT persisted: the sketch aggregate feeds both the broadcast rank
    // pass and the final join, but its shuffle exchange sits below the
    // differing parent projections and is shared via ReuseExchange, so
    // the lineitem scan+partial-agg runs once either way — and an A/B
    // measurement showed a persist here is 2.3x SLOWER (5.2s vs 2.2s at
    // sf0.1): the cache boundary blocks the broadcast on full
    // materialization and cuts whole-stage pipelining
    val sk = l.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      countDistinct(col("l_partkey")).as("exact_parts"),
      approx_count_distinct(col("l_partkey"), rsd = 0.02).as("_ap"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("_am"))
    val rank = l.select("l_returnflag", "l_extendedprice")
      .join(broadcast(sk.select("l_returnflag", "_am")), "l_returnflag")
      .groupBy("l_returnflag").agg(
        sum(when(col("l_extendedprice") <= col("_am"), 1L).otherwise(0L)).as("_le"),
        sum(when(col("l_extendedprice") < col("_am"), 1L).otherwise(0L)).as("_lt"))
    sk.join(rank, "l_returnflag")
      .select(col("l_returnflag"), col("n"), col("exact_parts"),
        (abs(col("_ap") - col("exact_parts"))
          <= col("exact_parts").cast("double") * (3 * 0.02)).as("parts_ok"),
        (col("_le").cast("double") >= col("n") * 0.45 &&
          col("_lt").cast("double") <= col("n") * 0.55).as("median_ok"))
      .orderBy("l_returnflag")
  }(
    // partial oracle for the sketch surface: exact columns recomputed,
    // error-bound booleans expected TRUE (the Spark side computes the
    // sketches and checks them against its own exact values — see the
    // q18 query comment). Upgrades q18 from rows-only to a full gate.
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |  TRUE AS parts_ok, TRUE AS median_ok
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)

  val q19SlidingWindow = gate("q19_sliding_window") { (s, dir) =>
    // sliding (hopping) event-time windows: 2-hour windows every hour,
    // so each event lands in exactly two — Spark's window(ts, dur,
    // slide) generates them at the scan (a bounded 2× row expansion
    // before the aggregation, no self-join); the oracle unnests the
    // same two aligned starts per event
    events(s, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), centSum(col("value")).as("total"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("total"))
      .orderBy("win_start_us", "event_type")
  }(
    // every event belongs to the two 2h/1h hop windows whose starts
    // are its hour floor and the hour before — unnest both, then the
    // q11 cent-exact aggregation
    """WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
      |w AS (SELECT unnest([
      |    (us // 3600000000) * 3600000000,
      |    (us // 3600000000) * 3600000000 - 3600000000]) AS win_start_us,
      |  event_type, value FROM e)
      |SELECT win_start_us, event_type, count(*) AS n,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS total
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  val q20Funnel = gate("q20_funnel") { (s, dir) =>
    // ordered conversion funnel (the ClickHouse-windowFunnel shape):
    // view → click → purchase with STRICTLY increasing timestamps per
    // user. Each stage is one hash aggregation plus an equi-join on
    // user_id against the previous stage's first-completion time — no
    // windows, no per-user sort, no session collect: three shuffles
    // on the funnel key at any scale. Output: per-stage converted
    // users and the total latency from first view (exact micros).
    val ev = events(s, dir).select("user_id", "event_type", "ts")
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("t1"))
    val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(unix_micros(col("ts")) > col("t1"))
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("t2"), min("t1").as("t1"))
    val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(unix_micros(col("ts")) > col("t2"))
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("t3"), min("t1").as("t1"))
    s1.select(lit("1_view").as("stage"), lit(0L).as("lat_us"))
      .unionByName(s2.select(lit("2_click").as("stage"),
        (col("t2") - col("t1")).as("lat_us")))
      .unionByName(s3.select(lit("3_purchase").as("stage"),
        (col("t3") - col("t1")).as("lat_us")))
      .groupBy("stage").agg(count(lit(1)).as("users"),
        sum("lat_us").as("sum_latency_us"))
      .orderBy("stage")
  }(
    // funnel replay: each stage joins the previous stage's
    // first-completion time; s1/s2 are multi-referenced, so they
    // MATERIALIZE (the standing DuckDB CTE-inlining rule)
    """WITH s1 AS MATERIALIZED (
      |  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS MATERIALIZED (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS t2, min(s1.t1) AS t1
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS t3, min(s2.t1) AS t1
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
      |  GROUP BY e.user_id),
      |u AS (
      |  SELECT '1_view' AS stage, CAST(0 AS BIGINT) AS lat_us FROM s1
      |  UNION ALL SELECT '2_click', t2 - t1 FROM s2
      |  UNION ALL SELECT '3_purchase', t3 - t1 FROM s3)
      |SELECT stage, CAST(count(*) AS BIGINT) AS users,
      |  CAST(sum(lat_us) AS BIGINT) AS sum_latency_us
      |FROM u GROUP BY stage ORDER BY stage""".stripMargin)

  val q16Median = gate("q16_median") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val cents = round(col("o_totalprice") * 100).cast("long")
    val w = Window.partitionBy("o_orderstatus")
    val x = t(s, dir, "orders")
      .select(col("o_orderstatus"), cents.as("c"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w.orderBy(col("c"), col("o_orderkey"))))
      .withColumn("n", count(lit(1)).over(w))
    x.filter(col("rn") === expr("(n+1) div 2") || col("rn") === expr("(n+2) div 2"))
      .groupBy("o_orderstatus")
      .agg((sum(col("c")).cast("double") / count(lit(1)) / 100.0).as("median_price"))
      .orderBy("o_orderstatus")
  }(
    """WITH x AS (
      |  SELECT o_orderstatus, CAST(round(o_totalprice*100) AS BIGINT) AS c,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |      ORDER BY round(o_totalprice*100), o_orderkey) AS rn,
      |    count(*) OVER (PARTITION BY o_orderstatus) AS n
      |  FROM orders)
      |SELECT o_orderstatus,
      |  CAST(sum(c) AS DOUBLE) / count(*) / 100.0 AS median_price
      |FROM x WHERE rn = (n+1)//2 OR rn = (n+2)//2
      |GROUP BY 1 ORDER BY 1""".stripMargin)
}
