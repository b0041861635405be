package graft.gates

import org.apache.spark.sql.functions._
import graft.ops.{AsOfJoin, Resample, SkewJoin, Timeseries}
import graft.fixtures.Tables._
import graft.fixtures.Staging._

/** Join and time-series gates (`qj_*`): as-of, interval, range,
  * bucketed and skew-salted joins, resampling and lagged correlation.
  */
object QjGates extends GateFamily {

  val asof = gate("qj_asof") { (s, dir) =>
    // as-of join: each event's most recent prior purchase by the same user
    val ev = events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    AsOfJoin.backward(
        ev.select("event_id", "user_id", "ts"), purchases,
        key = "user_id", ts = "ts", payload = Seq("purchase_id", "purchase_value"))
      .select("event_id", "user_id", "prev_purchase_id", "prev_purchase_value")
  }(
    """SELECT e.event_id, e.user_id,
      |  p.event_id AS prev_purchase_id, p.value AS prev_purchase_value
      |FROM events e
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON e.user_id = p.user_id AND e.ts > p.ts""".stripMargin)

  val asofForward = gate("qj_asof_forward") { (s, dir) =>
    // forward as-of: each event's NEXT purchase by the same user
    val ev = events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    AsOfJoin.forward(
        ev.select("event_id", "user_id", "ts"), purchases,
        key = "user_id", ts = "ts", payload = Seq("purchase_id", "purchase_value"))
      .select("event_id", "user_id", "next_purchase_id", "next_purchase_value")
  }(
    """SELECT e.event_id, e.user_id,
      |  p.event_id AS next_purchase_id, p.value AS next_purchase_value
      |FROM events e
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON e.user_id = p.user_id AND e.ts < p.ts""".stripMargin)

  val asofTolerance = gate("qj_asof_tolerance") { (s, dir) =>
    // tolerance-bounded as-of: most recent prior purchase ONLY if it is
    // at most 10 minutes old — staleness nulls out at projection time
    // on the same single-shuffle plan (the matched ts rides the
    // payload struct)
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    AsOfJoin.backwardWithin(ev.select("event_id", "user_id", "us"),
        purchases, key = "user_id", ts = "us",
        payload = Seq("purchase_id", "purchase_value"),
        tolerance = 600000000L)
      .select("event_id", "user_id", "prev_purchase_id", "prev_purchase_value")
  }(
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
      |p AS (SELECT user_id, epoch_us(ts) AS us, event_id, value FROM events
      |  WHERE event_type = 'purchase')
      |SELECT e.event_id, e.user_id,
      |  CASE WHEN e.us - p.us <= 600000000 THEN p.event_id END AS prev_purchase_id,
      |  CASE WHEN e.us - p.us <= 600000000 THEN p.value END AS prev_purchase_value
      |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.us > p.us""".stripMargin)

  val resampleLerp = gate("qj_resample_lerp") { (s, dir) =>
    // fixed-grid resampling with linear interpolation: each user's
    // value series evaluated on a 6-hour grid inside that user's own
    // [min, max] span; cent-unit integer lerp (truncating division —
    // identical on both engines) between the surrounding samples from
    // one backward + one forward as-of pass — see Resample.lerpGrid
    val e = events(s, dir).select(col("user_id"),
      unix_micros(col("ts")).as("t_us"),
      expr("CAST(round(value*100) AS BIGINT)").as("v_cent"))
    Resample.lerpGrid(e, "user_id", "t_us", "v_cent", 21600000000L)
      .orderBy("user_id", "tick_us")
  }(
    // grid ticks by integer ceil/floor alignment, surrounding samples
    // via DuckDB's native ASOF (non-strict both directions), the same
    // truncating-division lerp; ts-colliding samples collapse to min
    """WITH s AS MATERIALIZED (SELECT user_id, epoch_us(ts) AS t,
      |    min(CAST(round(value*100) AS BIGINT)) AS v
      |  FROM events GROUP BY 1, 2),
      |ext AS (SELECT user_id,
      |    min(t) + (((-min(t)) % 21600000000 + 21600000000) % 21600000000) AS g0,
      |    max(t) - (((max(t)) % 21600000000 + 21600000000) % 21600000000) AS g1
      |  FROM s GROUP BY 1),
      |grid AS MATERIALIZED (SELECT user_id,
      |    unnest(range(g0, g1 + 1, 21600000000)) AS tick
      |  FROM ext WHERE g0 <= g1),
      |pj AS (SELECT g.user_id, g.tick, s.t AS pt, s.v AS pv
      |  FROM grid g ASOF JOIN s ON g.user_id = s.user_id AND g.tick >= s.t),
      |nj AS (SELECT g.user_id, g.tick, s.t AS nt, s.v AS nv
      |  FROM grid g ASOF JOIN s ON g.user_id = s.user_id AND g.tick <= s.t)
      |SELECT pj.user_id, pj.tick AS tick_us,
      |  CASE WHEN nt = pt THEN pv
      |       ELSE pv + ((nv - pv) * (pj.tick - pt)) // (nt - pt) END AS v_cent
      |FROM pj JOIN nj ON pj.user_id = nj.user_id AND pj.tick = nj.tick
      |ORDER BY 1, 2""".stripMargin)

  val asofNearest = gate("qj_asof_nearest") { (s, dir) =>
    // nearest as-of: each event's CLOSEST purchase by |Δt| on either
    // side (ties prefer the past — the telemetry convention);
    // backward ∘ forward union+window folds, one key-shuffle each —
    // see AsOfJoin.nearest
    val ev = events(s, dir)
    val e = ev.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id").as("purchase_id"))
    AsOfJoin.nearest(e, purchases, key = "user_id", ts = "us",
        payload = Seq("us", "purchase_id"), tsPayload = "us")
      .select(col("event_id"), col("user_id"),
        col("nearest_purchase_id"), col("nearest_us"))
      .orderBy("event_id")
  }(
    // nearest = backward ∘ forward ASOF with the same strict bounds
    // and past-wins tie; e and p are multi-referenced → MATERIALIZED
    """WITH e AS MATERIALIZED (
      |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
      |p AS MATERIALIZED (
      |  SELECT user_id, epoch_us(ts) AS us, event_id AS pid
      |  FROM events WHERE event_type = 'purchase'),
      |b AS (SELECT e.event_id, e.user_id, e.us,
      |    p.us AS pus, p.pid AS ppid
      |  FROM e ASOF LEFT JOIN p
      |    ON e.user_id = p.user_id AND e.us > p.us),
      |f AS (SELECT e.event_id, p.us AS nus, p.pid AS npid
      |  FROM e ASOF LEFT JOIN p
      |    ON e.user_id = p.user_id AND e.us < p.us)
      |SELECT b.event_id, b.user_id,
      |  CASE WHEN b.pus IS NOT NULL
      |         AND (f.nus IS NULL OR b.us - b.pus <= f.nus - b.us)
      |       THEN b.ppid ELSE f.npid END AS nearest_purchase_id,
      |  CASE WHEN b.pus IS NOT NULL
      |         AND (f.nus IS NULL OR b.us - b.pus <= f.nus - b.us)
      |       THEN b.pus ELSE f.nus END AS nearest_us
      |FROM b JOIN f USING (event_id)
      |ORDER BY b.event_id""".stripMargin)

  val lagXcov = gate("qj_lag_xcov") { (s, dir) =>
    // cross-signal lag alignment ("does purchase volume track click
    // volume, shifted by how much?"): both series bucketed to a
    // 1-minute grid in exact cent units, then the co-moment
    // Σ a(t)·b(t+k) and overlap count per lag k ∈ [0,5] — bigint
    // product-sums are order-independent, so the answer is
    // partition-invariant; see Timeseries.lagCoMoment
    val ev = events(s, dir)
    def series(tpe: String) = ev.filter(col("event_type") === tpe)
      // `div`, not `/`: Column `/` is double division and would put
      // the grid on fractional buckets the lag shift can never hit
      .groupBy(expr("unix_micros(ts) div 60000000").as("bucket"))
      .agg(sum(round(col("value") * 100).cast("long")).as("v"))
    Timeseries.lagCoMoment(series("click"), series("purchase"),
      maxLag = 5)
  }(
    """WITH c AS MATERIALIZED (
      |  SELECT epoch_us(ts) // 60000000 AS bucket,
      |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v
      |  FROM events WHERE event_type = 'click' GROUP BY 1),
      |p AS (
      |  SELECT epoch_us(ts) // 60000000 AS bucket,
      |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |j AS (SELECT l.lag_k, c.v AS va, p.v AS vb
      |  FROM c CROSS JOIN (SELECT unnest([0,1,2,3,4,5]) AS lag_k) l
      |  JOIN p ON p.bucket = c.bucket + l.lag_k)
      |SELECT lag_k, CAST(sum(va * vb) AS BIGINT) AS co_moment,
      |  CAST(count(*) AS BIGINT) AS n_overlap
      |FROM j GROUP BY lag_k ORDER BY lag_k""".stripMargin)

  val interval = gate("qj_interval") { (s, dir) =>
    // interval-overlap join with bucket-OWNERSHIP dedup (each pair
    // belongs to the bucket holding its overlap start — no DISTINCT
    // pass): purchase 1-hour windows x click 1-hour windows per user
    val hourUs = 3600000000L
    val ev = events(s, dir)
    val pv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ps"),
        (unix_micros(col("ts")) + hourUs).as("pe"),
        col("event_id").as("purchase_id"))
    val cv = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("cs"),
        (unix_micros(col("ts")) + hourUs).as("ce"),
        col("event_id").as("click_id"))
    graft.ops.RangeJoin.intervalOverlap(pv, cv, "ps", "pe", "cs", "ce",
        Seq("user_id"), bucketWidth = hourUs)
      .select("purchase_id", "click_id")
      .orderBy("purchase_id", "click_id")
  }(
    """WITH pv AS (SELECT user_id, epoch_us(ts) AS ps,
      |    epoch_us(ts) + 3600000000 AS pe, event_id AS purchase_id
      |  FROM events WHERE event_type = 'purchase'),
      |cv AS (SELECT user_id, epoch_us(ts) AS cs,
      |    epoch_us(ts) + 3600000000 AS ce, event_id AS click_id
      |  FROM events WHERE event_type = 'click')
      |SELECT purchase_id, click_id
      |FROM pv JOIN cv ON pv.user_id = cv.user_id
      |  AND ps <= ce AND cs <= pe
      |ORDER BY 1, 2""".stripMargin)

  val range = gate("qj_range") { (s, dir) =>
    // bucketized range join: events falling inside any 1-hour
    // post-purchase window of the same user (bucket width = interval
    // length → ≤2 replicas per interval, hash equi-join, no nested loop)
    val hourUs = 3600000000L
    val ev = events(s, dir)
    val points = ev.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("us"))
    val intervals = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"),
        unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) + hourUs).as("end_us"),
        col("event_id").as("purchase_id"))
    graft.ops.RangeJoin.pointInInterval(points, intervals,
        "us", "start_us", "end_us", Seq("user_id"), bucketWidth = hourUs)
      .select("event_id", "purchase_id")
      .orderBy("event_id", "purchase_id")
  }(
    """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
      |iv AS (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 3600000000 AS e,
      |    event_id AS purchase_id
      |  FROM events WHERE event_type = 'purchase')
      |SELECT ev.event_id, iv.purchase_id
      |FROM ev JOIN iv ON ev.user_id = iv.user_id
      |  AND ev.us >= iv.s AND ev.us <= iv.e
      |ORDER BY 1, 2""".stripMargin)

  val skewSalted = gate("qj_skew_salted") { (s, dir) =>
    // salted join result must equal the plain join (oracle is unsalted)
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    SkewJoin.saltedInner(li, o, "l_orderkey", "o_orderkey", salts = 8)
      .groupBy("o_orderpriority")
      .agg(centSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }(
    """SELECT o_orderpriority,
      |  sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT))/10000.0 AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  val bucketed = gate("qj_bucketed") { (s, dir) =>
    // co-located fact⋈fact join over BucketedLayout tables: both sides
    // bucketed by their orderkey into the SAME count, so the join plans
    // with zero shuffle on either side (plan-asserted in
    // BucketedJoinSpec) — the write-side shuffle is paid once per
    // layout and amortized across every later join. Layout-invariant
    // results: shares a plain-join oracle.
    import graft.ops.BucketedLayout
    val key = java.lang.Integer.toHexString(dir.hashCode)
    val o = BucketedLayout.ensure(s, s"graft_bkt_orders_$key",
      stagedPath("bkt_orders", dir), "o_orderkey", 8)(t(s, dir, "orders"))
    val li = BucketedLayout.ensure(s, s"graft_bkt_lineitem_$key",
      stagedPath("bkt_lineitem", dir), "l_orderkey", 8)(t(s, dir, "lineitem"))
    o.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        centSum(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderpriority")
  }(
    """SELECT o_orderpriority, count(*) AS n_items,
      |  sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin)
}
