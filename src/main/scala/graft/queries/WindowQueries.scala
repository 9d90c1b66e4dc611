package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Windows, sorts, limits, time series and event streams: frames, ranks,
  * as-of and interval joins, sessionization, gap-fill, funnels and cohorts. */
object WindowQueries extends Family {
  import Helpers._

  /** J6 — banded interval self-join. The naive shape (equi-join on user_id,
    * then the time predicate as a post-filter) builds every within-user pair
    * first — quadratic in events-per-user, and a heavy user becomes a
    * straggler at scale. Because the window length (1 min) equals the band
    * width, `b_ts ∈ [a_ts, a_ts+1min]` implies `bucket(b) - bucket(a) ∈
    * {0,1}`, so replicating the right side into its own and the previous
    * minute bucket and equi-joining on (user_id, bucket) yields each
    * candidate pair exactly once and caps the blow-up at the events that
    * share a two-minute span — the standard banded range-join rewrite
    * (same family as the PBSM grid in SpatialJoin).
    */
  query("j6_range_join") { (s, d) =>
    val bktWidthUs = 60L * 1000000L
    val a = Tables.events(s, d).select(col("user_id"), col("ts").as("a_ts"))
      .withColumn("bkt", expr(s"unix_micros(a_ts) div $bktWidthUs"))
    val b = Tables.events(s, d).select(col("user_id"), col("ts").as("b_ts"))
      .withColumn("bkt", expr(s"unix_micros(b_ts) div $bktWidthUs"))
    val bRep = b.unionByName(b.withColumn("bkt", col("bkt") - 1))
    a.join(bRep, Seq("user_id", "bkt"))
      .filter(col("b_ts").between(col("a_ts"), col("a_ts") + expr("INTERVAL 1 MINUTE")))
      .agg(count(lit(1)).as("n_pairs"))
  }("""SELECT count(*) AS n_pairs FROM events a JOIN events b
      |ON a.user_id = b.user_id AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 1 MINUTE""".stripMargin)

  /** J10 — as-of join: for each error event, the user's most recent prior
    * (or simultaneous) click. One window pass (carry-forward last match via
    * IGNORE NULLS) — no range join, no per-key loop; the scalable as-of
    * formulation.
    */
  query("j10_asof") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("click_id"))
      .orderBy("event_id")
  }("""SELECT event_id, user_id, click_id FROM (
      |  SELECT event_id, user_id, event_type,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
      |  FROM events) t WHERE event_type = 'error' ORDER BY event_id""".stripMargin)

  /** J14 — FORWARD as-of with tolerance (the pandas merge_asof direction
    * surface): each purchase attaches the EARLIEST subsequent click value
    * within 10 minutes. The right side is pre-aggregated per (user, ts)
    * so the carried value is deterministic under ties.
    */
  query("j14_asof_forward") { (s, d) =>
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(min(col("value")).as("value"))
    operators.AsOf.asofJoin(purchases, clicks, "user_id", "ts", Seq("value"),
        direction = "forward", toleranceSec = Some(600))
      .select(col("event_id"), col("user_id"), col("asof_value").as("next_click_val"))
      .orderBy("event_id")
  }(
    // j14/j15: the direction surface against a min/max-aggregation mirror —
    // deduped right side makes the matched value deterministic.
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts, min(value) AS value FROM events
      |  WHERE event_type = 'click' GROUP BY 1, 2),
      |m AS (SELECT p.event_id, p.user_id, p.ts, min(c.ts) AS m_ts
      |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts >= p.ts
      |  GROUP BY 1, 2, 3)
      |SELECT m.event_id, m.user_id,
      |  CASE WHEN m.m_ts IS NOT NULL
      |        AND epoch_us(m.m_ts) - epoch_us(m.ts) <= 600000000
      |       THEN c.value END AS next_click_val
      |FROM m LEFT JOIN c ON c.user_id = m.user_id AND c.ts = m.m_ts
      |ORDER BY event_id""".stripMargin)

  /** J15 — NEAREST as-of (closer of the two directions, ties prefer
    * backward — pandas semantics) with a 15-minute tolerance.
    */
  query("j15_asof_nearest") { (s, d) =>
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(min(col("value")).as("value"))
    operators.AsOf.asofJoin(purchases, clicks, "user_id", "ts", Seq("value"),
        direction = "nearest", toleranceSec = Some(900))
      .select(col("event_id"), col("user_id"), col("asof_value").as("near_click_val"))
      .orderBy("event_id")
  }("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts, min(value) AS value FROM events
      |  WHERE event_type = 'click' GROUP BY 1, 2),
      |m AS (SELECT p.event_id, p.user_id, p.ts,
      |    max(CASE WHEN c.ts <= p.ts THEN c.ts END) AS b_ts,
      |    min(CASE WHEN c.ts >= p.ts THEN c.ts END) AS f_ts
      |  FROM p LEFT JOIN c ON c.user_id = p.user_id
      |  GROUP BY 1, 2, 3),
      |pick AS (SELECT event_id, user_id, ts,
      |    CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
      |          OR epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts))
      |         THEN b_ts ELSE f_ts END AS m_ts
      |  FROM m)
      |SELECT pick.event_id, pick.user_id,
      |  CASE WHEN pick.m_ts IS NOT NULL
      |        AND abs(epoch_us(pick.m_ts) - epoch_us(pick.ts)) <= 900000000
      |       THEN c.value END AS near_click_val
      |FROM pick LEFT JOIN c ON c.user_id = pick.user_id AND c.ts = pick.m_ts
      |ORDER BY event_id""".stripMargin)

  /** TRAJ1 — per-user trajectory statistics over the event stream: order
    * each user's derived lon/lat points by (ts, event_id), sum the
    * per-step great-circle distances (per-row fixed-point floors so the
    * sum is an integer aggregation — order-proof), measure net
    * displacement first→last (lexicographic min/max struct — no second
    * window), and the visited bbox. The moving-object analytics a
    * spatial event pipeline runs (total distance vs displacement =
    * tortuosity; bbox = coverage). One window + one aggregation, both
    * partitioned by user — no global sort anywhere.
    */
  query("traj1_user_paths") { (s, d) =>
    import graft.functions.SpatialOps
    val ev = col("event_id")
    val pts = Tables.events(s, d).select(col("user_id"), col("ts"), ev,
      ((ev * 37 % 3000).cast("double") / lit(100.0) - lit(15.0)).as("lon"),
      ((ev * 53 % 2000).cast("double") / lit(100.0) + lit(40.0)).as("lat"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    pts
      .withColumn("plon", lag("lon", 1).over(w))
      .withColumn("plat", lag("lat", 1).over(w))
      .withColumn("step_fp", when(col("plon").isNull, lit(0L)).otherwise(
        floor(SpatialOps.pointDistGeodesic(col("plon"), col("plat"), col("lon"), col("lat"))
          * lit(1024.0)).cast("long")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_points"),
        sum(col("step_fp")).as("path_fp"),
        min(struct(col("ts"), col("event_id"), col("lon"), col("lat"))).as("__f"),
        max(struct(col("ts"), col("event_id"), col("lon"), col("lat"))).as("__l"),
        min(col("lon")).as("lon_min"), max(col("lon")).as("lon_max"),
        min(col("lat")).as("lat_min"), max(col("lat")).as("lat_max"))
      .select(col("user_id"), col("n_points"), col("path_fp"),
        floor(SpatialOps.pointDistGeodesic(col("__f.lon"), col("__f.lat"),
          col("__l.lon"), col("__l.lat")) * lit(1024.0)).cast("long").as("disp_fp"),
        col("lon_min"), col("lon_max"), col("lat_min"), col("lat_max"))
      .orderBy("user_id")
  } {
    // traj1: the same lag window, the g12 haversine chain per step
    // (per-row fixed-point floors → integer sums), first/last via
    // deterministic row_number ranks (≡ the min/max struct pick — the
    // (ts, event_id) key is a total order).
    val d2r = math.Pi / 180.0
    val r2 = 2.0 * functions.SpatialOps.Wgs84AuthalicRadius
    def hav(xa: String, ya: String, xb: String, yb: String) =
      s"$r2 * asin(sqrt(sin(($yb * $d2r - $ya * $d2r) / 2.0) * " +
        s"sin(($yb * $d2r - $ya * $d2r) / 2.0) + cos($ya * $d2r) * cos($yb * $d2r) * " +
        s"sin(($xb * $d2r - $xa * $d2r) / 2.0) * sin(($xb * $d2r - $xa * $d2r) / 2.0)))"
    s"""WITH pts AS (SELECT user_id, ts, event_id,
       |  (CAST((event_id * 37) % 3000 AS DOUBLE) / 100.0) - 15.0 AS lon,
       |  (CAST((event_id * 53) % 2000 AS DOUBLE) / 100.0) + 40.0 AS lat FROM events),
       |seg AS (SELECT user_id, ts, event_id, lon, lat,
       |  lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon,
       |  lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat,
       |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a,
       |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
       |  FROM pts),
       |st AS (SELECT user_id, lon, lat, rn_a, rn_d,
       |  CASE WHEN plon IS NULL THEN 0
       |       ELSE CAST(floor((${hav("plon", "plat", "lon", "lat")}) * 1024.0) AS BIGINT)
       |  END AS step_fp FROM seg),
       |agg AS (SELECT user_id, count(*) AS n_points,
       |  CAST(sum(step_fp) AS BIGINT) AS path_fp,
       |  min(lon) AS lon_min, max(lon) AS lon_max,
       |  min(lat) AS lat_min, max(lat) AS lat_max FROM st GROUP BY user_id)
       |SELECT a.user_id, a.n_points, a.path_fp,
       |  CAST(floor((${hav("f.lon", "f.lat", "l.lon", "l.lat")}) * 1024.0) AS BIGINT) AS disp_fp,
       |  a.lon_min, a.lon_max, a.lat_min, a.lat_max
       |FROM agg a
       |JOIN st f ON f.user_id = a.user_id AND f.rn_a = 1
       |JOIN st l ON l.user_id = a.user_id AND l.rn_d = 1
       |ORDER BY a.user_id""".stripMargin
  }

  query("w1_frame_avg") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id")).rowsBetween(-2, 2)
    Tables.events(s, d)
      .select(col("event_id"), round(avg(col("value")).over(w), 6).as("avg5"))
      .orderBy("event_id")
  }("""SELECT event_id, round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS avg5 FROM events ORDER BY event_id""".stripMargin)

  /** W2 — running offset (sequential id offsets,
    * image_segmentation.py:150) through the scale-safe two-pass
    * partition-offset prefix sum (GlobalOrder.prefixSum): range-partition
    * on the order key, per-partition exact partials → broadcast
    * cumulative offsets → per-partition running add. No single-task
    * window anywhere; the oracle's global-window SQL is the semantics,
    * this plan is how it survives 100×.
    */
  query("w2_running_sum") { (s, d) =>
    operators.GlobalOrder.prefixSum(
        Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
        Seq(col("o_orderkey")), col("o_totalprice").cast(D2), "run_total")
      .select(col("o_orderkey"), col("run_total").cast("double").as("run_total"))
      .orderBy("o_orderkey")
  }("""SELECT o_orderkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
      |FROM orders ORDER BY o_orderkey""".stripMargin)

  query("w3_rank_top1") { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey")
  }("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin)

  query("o1_ordered_limit") { (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("o_orderdate", "o_orderkey")
      .limit(20)
  }("SELECT o_orderkey, o_orderdate, o_totalprice FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 20")

  query("o2_limit") { (s, d) =>
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber")
      .limit(100)
  }("SELECT l_orderkey, l_linenumber FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100")

  /** w8 — COUNT(DISTINCT) OVER, which Spark does not support directly,
    * rewritten as max(dense_rank) over the same partition — the standard
    * two-window workaround, hash-checked against the grouped distinct.
    */
  query("w8_window_distinct") { (s, d) =>
    val byPart = Window.partitionBy("l_partkey")
    Tables.lineitem(s, d)
      .withColumn("__dr", dense_rank().over(byPart.orderBy("l_suppkey")))
      .withColumn("n_supp", max(col("__dr")).over(byPart))
      .select(col("l_partkey"), col("n_supp"))
      .distinct()
      .orderBy("l_partkey")
  }(
    // w8: the oracle is the plain grouped distinct — the window rewrite
    // must be semantically identical to COUNT(DISTINCT) per key.
    """SELECT l_partkey, count(DISTINCT l_suppkey) AS n_supp
      |FROM lineitem GROUP BY l_partkey ORDER BY l_partkey""".stripMargin)

  query("st1_tumbling") { (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_val"))
      .orderBy("hour_start", "event_type")
  }("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type, count(*) AS n,
      |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
      |FROM events GROUP BY hour_start, event_type ORDER BY hour_start, event_type""".stripMargin)

  /** W11 — Spark's NATIVE session_window (batch form): the built-in
    * gap-merge session operator next to st3's custom flatMapGroupsWithState
    * sessionizer — one keyed aggregation, sessions = maximal event chains
    * with < 10-minute gaps. The oracle rebuilds sessions with the
    * lag-break + running-sum spelling.
    */
  query("w11_session_window") { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_val"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("n"), col("sum_val"))
      .orderBy("user_id", "sess_start")
  }(
    // w11: sessions as lag-break + running-sum; Spark's session window is
    // [start, last+gap), so a gap of EXACTLY the threshold breaks (>=).
    """WITH e AS (SELECT user_id, ts, value,
      |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |       OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 600000000
      |       THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |s AS (SELECT user_id, ts, value,
      |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM e)
      |SELECT user_id, min(ts) AS sess_start, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
      |FROM s GROUP BY user_id, sess ORDER BY user_id, sess_start""".stripMargin)

  /** ST2 — sliding windows (1 h window, 15 min slide) as a batch query:
    * each event lands in 4 windows; oracled via epoch arithmetic.
    */
  query("st2_sliding") { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      .orderBy("window_start", "event_type")
  }("""SELECT make_timestamp(CAST((CAST(floor(epoch(ts)/900) AS BIGINT) - i) * 900 * 1000000 AS BIGINT)) AS window_start,
      |event_type, count(*) AS n
      |FROM events CROSS JOIN (SELECT unnest([0,1,2,3]) AS i) s
      |GROUP BY window_start, event_type ORDER BY window_start, event_type""".stripMargin)

  /** W4 — event-time RANGE frame (trailing 5 minutes per user): the frame
    * extent is data-driven (µs range), not a row count — the other half of
    * the window surface next to w1's ROWS frame.
    */
  query("w4_range_frame") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-300000000L, 0L)
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("w_avg", round(avg(col("value")).over(w), 6))
      .select(col("user_id"), col("event_id"), col("w_avg"))
      .orderBy("user_id", "event_id", "w_avg")
  }("""SELECT user_id, event_id, round(avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW), 6) AS w_avg
      |FROM events ORDER BY user_id, event_id, w_avg""".stripMargin)

  /** ST3 — sessionization (30 min inactivity gap). Batch gaps-and-islands
    * form here (oracled); EventStreamSpec proves the streaming
    * flatMapGroupsWithState twin emits the same closed sessions.
    */
  query("st3_sessionize") { (s, d) =>
    streaming.EventStream.sessionizeBatch(Tables.events(s, d), gapSec = 1800)
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .orderBy("user_id", "session_start", "session_end", "n_events")
  }("""WITH l AS (SELECT user_id, ts, event_id,
      |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |       OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
      |  THEN 1 ELSE 0 END AS new_s FROM events),
      |s AS (SELECT user_id, ts,
      |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM l)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events
      |FROM s GROUP BY user_id, session_idx
      |ORDER BY user_id, session_start, session_end, n_events""".stripMargin)

  /** st4 — event-time interval join, batch twin of the watermarked
    * stream-stream join (EventStreamSpec proves stream ≡ this frame).
    */
  query("st4_interval_join") { (s, d) =>
    val ev = Tables.events(s, d)
    streaming.EventStream.intervalJoinBatch(ev, ev, horizonSec = 300)
      .select("l_id", "r_id")
      .orderBy("l_id", "r_id")
  }("""SELECT l.event_id AS l_id, r.event_id AS r_id
      |FROM events l JOIN events r ON l.user_id = r.user_id
      |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 300 SECOND
      |ORDER BY l_id, r_id""".stripMargin)

  /** st6 — LEFT OUTER interval join, batch twin of the watermarked
    * stream-stream outer join: purchases paired with same-user clicks in
    * the following 5 minutes, purchases with none surviving null-padded
    * (EventStreamSpec proves the streaming twin emits the same frame).
    */
  query("st6_outer_interval_join") { (s, d) =>
    val ev = Tables.events(s, d)
    streaming.EventStream.intervalJoinOuterBatch(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"), horizonSec = 300)
      .select(col("l_id"), col("r_id"))
      .orderBy(col("l_id"), col("r_id").asc_nulls_first)
  }("""SELECT l.event_id AS l_id, r.event_id AS r_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
      |  ON l.user_id = r.user_id
      |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 300 SECOND
      |ORDER BY l_id, r_id NULLS FIRST""".stripMargin)

  /** ST7 — stream-static enrichment: the broadcast dimension join +
    * default-fill every streaming pipeline runs before aggregating
    * (`EventStream.enrichStream` — identical code path batch and
    * streaming; the dim misses users ≥ 120, exercising the coalesce
    * default). Segment-level rollup makes the whole enrichment hashable.
    */
  query("st7_enrich") { (s, d) =>
    val dim = Tables.customer(s, d)
      .groupBy((col("c_custkey") % 120).as("user_id"))
      .agg(min(col("c_mktsegment")).as("segment"))
    streaming.EventStream.enrichStream(
        Tables.events(s, d), dim, Seq("user_id"),
        defaults = Map("segment" -> lit("UNKNOWN")))
      .groupBy("segment", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_val"))
      .orderBy("segment", "event_type")
  }(
    // st7: broadcast-dim enrichment with the UNKNOWN default, rolled up.
    """WITH dim AS (SELECT c_custkey % 120 AS user_id, min(c_mktsegment) AS segment
      |  FROM customer GROUP BY 1)
      |SELECT coalesce(segment, 'UNKNOWN') AS segment, event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
      |FROM events e LEFT JOIN dim USING (user_id)
      |GROUP BY 1, 2 ORDER BY segment, event_type""".stripMargin)

  /** ts1 — time-series regularization: per-user hourly resample of event
    * values (decimal-exact hour sums), densified onto each user's
    * [first, last] hour grid with forward fill — the dense-grid step any
    * windowed model needs. Per-key windows only; grid bounded by
    * span/step per key.
    */
  /** TS2 — truncated-FIR exponential smoothing per user: the scale-safe
    * spelling of EWMA (bounded ROWS window instead of the sequential
    * recursion), tap constants shared bit-exactly with the oracle.
    */
  query("ts2_ewma") { (s, d) =>
    // fixed-point output, not round(,6): the engines' round() implementations
    // disagree on decimal boundaries even for bit-identical doubles
    // (observed once in 14k rows at sf0.1); floor of the 2^20-scaled value
    // is deterministic whenever the doubles match
    operators.TimeSeries.ewmaSmooth(
        Tables.events(s, d).select("user_id", "event_id", "ts", "value"),
        "user_id", "ts", "event_id", "value", alpha = 0.3, taps = 8)
      .select(col("user_id"), col("event_id"),
        floor(col("ewma") * lit(1048576L)).cast("long").as("ewma_fp"))
      .orderBy("user_id", "event_id")
  } {
    // ts2: the same tap constants (interpolated from the same Scala
    // doubles) in the same left-to-right addition chain.
    val terms = (0 until 8).map { k =>
      val c = 0.3 * math.pow(0.7, k)
      val x = if (k == 0) "value" else s"lag(value, $k) OVER w"
      s"$c * coalesce($x, 0.0)"
    }.mkString(" + ")
    s"""SELECT user_id, event_id,
       |  CAST(floor(($terms) * 1048576) AS BIGINT) AS ewma_fp
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY user_id, event_id""".stripMargin
  }

  /** FUNNEL1 — strict-order conversion funnel view → click → purchase per
    * user: stage times chain keyed aggregations (stage k prunes to keys
    * that completed k−1), depth = completed stages.
    */
  query("funnel1_conversion") { (s, d) =>
    operators.Funnel.stageTimes(Tables.events(s, d),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .orderBy("user_id")
  }(
    // funnel1: the same chained stage aggregations.
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1)
      |SELECT s1.user_id, t1, t2, t3,
      |  CAST(1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
      |         + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS depth
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      |ORDER BY user_id""".stripMargin)

  query("ts1_gapfill_resample") { (s, d) =>
    operators.TimeSeries.resampleCarryForward(
        Tables.events(s, d).filter(col("user_id") <= 20),
        "user_id", "ts", "value", unit = "hour")
      .orderBy("user_id", "bucket")
  }(
    // ts1: generate_series densifies each user's hour span; the forward
    // fill is last_value IGNORE NULLS over the identical frame. Hour sums
    // are decimal-exact before the double cast, so carried values match
    // bit-for-bit.
    """WITH h AS (SELECT user_id, date_trunc('hour', ts) AS bucket,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hour_sum
      |  FROM events WHERE user_id <= 20 GROUP BY user_id, bucket),
      |sp AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM h GROUP BY user_id),
      |grid AS (SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket FROM sp),
      |j AS (SELECT g.user_id, g.bucket, h.hour_sum
      |  FROM grid g LEFT JOIN h ON g.user_id = h.user_id AND g.bucket = h.bucket)
      |SELECT user_id, CAST(bucket AS TIMESTAMP) AS bucket,
      |  last_value(hour_sum IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS filled_sum,
      |  hour_sum IS NULL AS is_gap
      |FROM j ORDER BY user_id, bucket""".stripMargin)

  /** w10 — value-window family: first/last/nth over an explicit
    * UNBOUNDED..UNBOUNDED rows frame (last_value over the default frame
    * is the classic silent-wrong-answer; the explicit frame is the
    * correct idiom and what the oracle pins).
    */
  query("w10_value_windows") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        first(col("value")).over(w).as("first_v"),
        last(col("value")).over(w).as("last_v"),
        nth_value(col("value"), 2).over(w).as("second_v"))
      .orderBy("user_id", "event_id")
  }("""SELECT user_id, event_id,
      |first_value(value) OVER w AS first_v,
      |last_value(value) OVER w AS last_v,
      |nth_value(value, 2) OVER w AS second_v
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY user_id, event_id""".stripMargin)

  /** o4 — keyset (seek-method) pagination: the scalable replacement for
    * OFFSET (which scans and discards the skip — O(offset) per page).
    * The composite-key seek is written as `date >= D AND (date > D OR
    * key > K)` so the prefix conjunct reaches the parquet scan; the
    * residual disjunction finishes the tuple compare.
    */
  query("o4_keyset_page") { (s, d) =>
    val dk = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= dk &&
        (col("o_orderdate") > dk || col("o_orderkey") > 5000L))
      .orderBy("o_orderdate", "o_orderkey")
      .limit(100)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
  }("""SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |AND (o_orderdate > TIMESTAMP '1997-01-01' OR o_orderkey > 5000)
      |ORDER BY o_orderdate, o_orderkey LIMIT 100""".stripMargin)

  /** O3 — top-3 orders by value per customer through the custom
    * TopKPerKey physical operator (graft.plans): bounded heaps map-side,
    * at most k rows per key per partition cross the exchange, no window
    * sort of the full table. Hash-checked against DuckDB row_number —
    * the oracle validates the custom SparkPlan end-to-end.
    */
  query("o3_topk_per_key") { (s, d) =>
    plans.TopK.perKey(
      Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
      .orderBy("o_custkey", "o_orderkey")
  }("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin)

  /** W5 — lag/lead frame: per-user event-to-event value delta and the next
    * event type (change-point shape). The window partitions by user, so at
    * scale each user sorts independently — no global sort.
    */
  query("w5_lag_delta") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        round(col("value") - lag(col("value"), 1).over(w), 6).as("delta"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .orderBy("user_id", "event_id")
  }("""SELECT user_id, event_id,
      |  round(value - lag(value, 1) OVER w, 6) AS delta,
      |  lead(event_type, 1) OVER w AS next_type
      |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin)

  /** W6 — ntile quartiles of order value within each priority class. */
  query("w6_ntile") { (s, d) =>
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"))
      .orderBy("o_orderkey")
  }("""SELECT o_orderkey, o_orderpriority,
      |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS quartile
      |FROM orders ORDER BY o_orderkey""".stripMargin)

  /** w9 — relative-rank window family (percent_rank / cume_dist): both
    * are integer-ratio doubles over a deterministic ordering, so the
    * values are engine-exact.
    */
  query("w9_relative_rank") { (s, d) =>
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderpriority"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy("o_orderkey")
  }("""SELECT o_orderkey, o_orderpriority,
      |round(percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey), 6) AS pr,
      |round(cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey), 6) AS cd
      |FROM orders ORDER BY o_orderkey""".stripMargin)

  /** cohort1 — retention-cohort matrix over the event log: users keyed by
    * first-activity day, counted per (cohort, day offset), with exact
    * integer retention (parts-per-million). The full matrix is hash-exact
    * — integer keys, integer counts, integer division.
    */
  query("cohort1_retention") { (s, d) =>
    operators.TimeSeries.retentionCohorts(Tables.events(s, d))
      .orderBy("cohort_day", "day_offset")
  }(
    // cohort1: integer day keys, integer counts, integer division — the
    // whole retention matrix is hash-exact with no float anywhere.
    """WITH pd AS (SELECT user_id AS u, CAST(ts AS DATE) AS day, count(*) AS n_events
      |  FROM events GROUP BY u, day),
      |f AS (SELECT u, min(day) AS cohort_day FROM pd GROUP BY u),
      |s AS (SELECT cohort_day, date_diff('day', cohort_day, day) AS day_offset,
      |    count(*) AS n_active, CAST(sum(n_events) AS BIGINT) AS n_events
      |  FROM pd JOIN f ON pd.u = f.u GROUP BY cohort_day, day_offset),
      |w AS (SELECT cohort_day, day_offset, n_active, n_events,
      |    max(CASE WHEN day_offset = 0 THEN n_active END)
      |      OVER (PARTITION BY cohort_day) AS cohort_size FROM s)
      |SELECT cohort_day, day_offset, n_active, n_events, cohort_size,
      |  n_active * CAST(1000000 AS BIGINT) // cohort_size AS retention_ppm
      |FROM w ORDER BY cohort_day, day_offset""".stripMargin)
}
