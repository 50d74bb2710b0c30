package graft
package gated

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Fixtures.{table, cents}

/** Relational gates (q): Catalyst built-ins over the driver tables
  * (TPC-H-style `lineitem`/`orders`/`customer`, `events`, `documents`).
  * Each oracle is the same query written in DuckDB SQL over the same
  * parquet files. */
object RelationalGates {

  val gated: Seq[GatedQuery] = Seq(
    GatedQuery("q1_lineitem_agg", (s, dir) => {
      import s.implicits._
      table(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity").as("sum_qty"),
          sum(cents($"l_extendedprice")).as("sum_price_cents"),
          sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("rev_cents"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        | CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
        | count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    GatedQuery("q2_top_orders", (s, dir) => {
      import s.implicits._
      val l = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val rev = l.groupBy($"l_orderkey")
        .agg(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("rev_cents"))
      rev.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"c_name", $"rev_cents",
          unix_millis($"o_orderdate".cast("timestamp")).as("order_epoch"))
        .orderBy($"rev_cents".desc, $"o_orderkey")
        .limit(10)
    },
      """WITH rev AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT o.o_orderkey, c.c_name, rev.rev_cents,
        |  epoch_ms(o.o_orderdate) AS order_epoch
        |FROM rev JOIN orders o ON rev.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY rev.rev_cents DESC, o.o_orderkey LIMIT 10""".stripMargin),

    GatedQuery("q3_events_window", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      table(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("prev_event", lag($"event_id", 1).over(w))
        .filter($"rn" <= 3)
        .select($"user_id", $"rn", $"event_id",
          unix_millis($"ts".cast("timestamp")).as("ts_epoch"), $"prev_event")
        .orderBy($"user_id", $"rn")
    },
      """WITH w AS (
        |  SELECT user_id, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event
        |  FROM events)
        |SELECT user_id, CAST(rn AS INT) AS rn, event_id,
        |  epoch_ms(ts) AS ts_epoch, prev_event
        |FROM w WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin),

    GatedQuery("q4_sessionize", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      table(s, dir, "events")
        .withColumn("gap", unix_millis($"ts".cast("timestamp")) - lag(unix_millis($"ts".cast("timestamp")), 1).over(w))
        .withColumn("new_sess", when($"gap".isNull || $"gap" > 1800000, 1L).otherwise(0L))
        .withColumn("sess", sum($"new_sess")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id")
        .agg(max($"sess").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy($"user_id")
    },
      """WITH g AS (
        |  SELECT user_id, event_id,
        |    epoch_ms(ts)
        |      - lag(epoch_ms(ts))
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap,
        |    ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |c AS (
        |  SELECT user_id,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
        |  FROM s)
        |SELECT user_id, max(sess) AS n_sessions, count(*) AS n_events
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin),

    // native Catalyst expressions (doGenCode): cell_of / cell_parent in SQL
    GatedQuery("q5_cell_functions", (s, _) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      s.range(5000)
        .selectExpr("id % 300 AS row", "(id * 7) % 280 AS col")
        .selectExpr("cell_of(row, col, 6) AS cell")
        .selectExpr("cell", "cell_parent(cell) AS parent")
        .groupBy($"cell", $"parent")
        .agg(count(lit(1)).as("n"))
        .orderBy($"cell")
    },
    {
      // Morton interleave replicated in pure bit-op SQL: a CTE chain of the
      // 5-step spread over 4 lanes (cx/cy at res 6 and 7)
      val masks = Seq(
        (16, 281470681808895L), (8, 71777214294589695L),
        (4, 1085102592571150095L), (2, 3689348814741910323L),
        (1, 6148914691236517205L))
      val lanes = Seq("x6", "y6", "x7", "y7")
      val steps = masks.zipWithIndex.map { case ((sh, m), k) =>
        val cols = lanes.map(l => s"(($l | ($l << $sh)) & $m) AS $l").mkString(", ")
        s"s${k + 1} AS (SELECT $cols FROM s$k)"
      }.mkString(",\n")
      val res6 = 6L << 58
      val res7 = 7L << 58
      s"""WITH px AS (SELECT (i % 300) AS row, ((i * 7) % 280) AS col FROM range(5000) t(i)),
         |s0 AS (SELECT (col >> 6) & 536870911 AS x6, (row >> 6) & 536870911 AS y6,
         |  (col >> 7) & 536870911 AS x7, (row >> 7) & 536870911 AS y7 FROM px),
         |$steps,
         |cells AS (SELECT (x6 | (y6 << 1) | $res6) AS cell,
         |  (x7 | (y7 << 1) | $res7) AS parent FROM s5)
         |SELECT cell, parent, CAST(count(*) AS BIGINT) AS n
         |FROM cells GROUP BY 1, 2 ORDER BY 1""".stripMargin
    }),

    // semi-structured: JSON props extraction + conditional agg
    GatedQuery("q6_json_props", (s, dir) => {
      import s.implicits._
      table(s, dir, "events")
        .withColumn("k", get_json_object($"props", "$.k").cast("long"))
        .groupBy($"event_type")
        .agg(count($"k").as("n"), sum($"k").as("sum_k"),
          sum(when($"k" > 50, 1L).otherwise(0L)).as("n_gt50"))
        .orderBy($"event_type")
    },
      """SELECT event_type,
        |  CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_gt50
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Backward AS-OF join (click -> most recent prior view by the same
    // user): the temporal operator Spark lacks natively, built as ONE
    // key-shuffle + a streaming last(ignoreNulls) window frame — a hot
    // user key costs linear work in one task, never the O(l x r) of the
    // naive inequality-join + row_number formulation
    GatedQuery("q7_asof_join", (s, dir) => {
      import s.implicits._
      val ev = table(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", $"ts")
      val views = ev.filter($"event_type" === "view")
        .select($"event_id", $"user_id", $"ts")
      graft.operators.AsOfJoin.asOf(clicks, views, "user_id", "ts", "ts",
          rightCols = Seq("event_id", "ts"), rightPrefix = "view_")
        .withColumn("gap_sec",
          (unix_micros($"ts".cast("timestamp")) - unix_micros($"view_ts".cast("timestamp"))) / 1000000.0)
        .orderBy($"event_id")
    },
      // q7: as-of semantics spelled explicitly (LEFT JOIN + row_number)
      // rather than DuckDB's native ASOF, to pin the deterministic
      // (ts DESC, event_id DESC) tie-break the engine uses
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |j AS (SELECT c.event_id, c.user_id, c.ts,
        |    v.event_id AS view_event_id, v.ts AS view_ts,
        |    row_number() OVER (PARTITION BY c.event_id
        |      ORDER BY v.ts DESC, v.event_id DESC) AS rn
        |  FROM c LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts)
        |SELECT event_id, user_id, ts, view_event_id, view_ts,
        |  (epoch_us(ts) - epoch_us(view_ts)) / 1000000.0 AS gap_sec
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin),

    // Tolerance range join (click <-> error by the same user within 2h):
    // right side exploded to its 3 tolerance buckets -> EQUI-join on
    // (user, bucket) + exact |dt| filter — shuffle is 3x the descriptor
    // volume, never the inequality-join cartesian
    GatedQuery("q8_range_join", (s, dir) => {
      import s.implicits._
      val ev = table(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
      val errors = ev.filter($"event_type" === "error")
      graft.operators.AsOfJoin.rangeJoin(clicks, errors, "user_id",
          "ts", "ts", tolSec = 7200L,
          leftCols = Seq("event_id"), rightCols = Seq("event_id"),
          rightPrefix = "err_")
        .orderBy($"event_id", $"err_event_id")
    },
      // q8: the inequality join DuckDB can afford at oracle scale; the
      // engine's bucketed equi-join must produce the identical pair set
      """SELECT c.event_id AS event_id, e.event_id AS err_event_id,
        |  (epoch_us(e.ts) - epoch_us(c.ts)) / 1000000.0 AS dt_sec
        |FROM events c JOIN events e ON c.user_id = e.user_id
        |WHERE c.event_type = 'click' AND e.event_type = 'error'
        |  AND abs(epoch_us(e.ts) - epoch_us(c.ts)) <= 7200000000
        |ORDER BY event_id, err_event_id""".stripMargin),

    // SQL analytic windows (built-in WindowExec — listed in SURVEY §2.5 as
    // free from Spark; gated here so the claim is evidence, not assertion):
    // per-user ordered running stats over the event stream.
    // EVERY value column rides as exact integer cents (the q1 trick, end to
    // end): the cent conversion is floor(value*100 + 0.5), pure IEEE
    // multiply/add/floor on the same double bits in both engines — round()
    // is banned here because Spark rounds the SHORTEST-DECIMAL BigDecimal
    // HALF_UP while DuckDB rounds the binary double, and a *.x5 boundary
    // row flips the hash (r4 regression, VERDICT r4 #1).
    GatedQuery("q9_window_analytics", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val wm = w.rowsBetween(-2, 0)
      table(s, dir, "events")
        .withColumn("value_c", floor($"value" * 100 + 0.5).cast("long"))
        .select($"event_id", $"user_id", $"value_c",
          lag($"value_c", 1).over(w).as("prev_value_c"),
          sum($"value_c").over(wm).as("mov_sum_c3"),
          max($"value_c").over(wm).as("mov_max_c3"),
          row_number().over(w).cast("long").as("seq"))
        .orderBy($"event_id")
    },
      // q9: identical window spec; ALL value columns are exact integer cents
      // via floor(value*100 + 0.5) — IEEE-deterministic, unlike round()
      """WITH ev AS (SELECT *, CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_c
        |  FROM events)
        |SELECT event_id, user_id, value_c,
        |  lag(value_c, 1) OVER w AS prev_value_c,
        |  sum(value_c) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_sum_c3,
        |  max(value_c) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_max_c3,
        |  CAST(row_number() OVER w AS BIGINT) AS seq
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),

    // grouping sets / rollup (built-in Expand) over event day x type
    GatedQuery("q10_rollup", (s, dir) => {
      import s.implicits._
      table(s, dir, "events")
        .withColumn("day", to_date($"ts"))
        .rollup($"day", $"event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor($"value" * 100 + lit(0.5)).cast("long")).as("sum_c"),
          grouping_id($"day", $"event_type").cast("long").as("lvl"))
        .orderBy($"lvl", $"day", $"event_type")
    },
      // q10: ROLLUP with GROUPING bits (first arg = MSB in both engines)
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_c,
        |  CAST(GROUPING(CAST(ts AS DATE), event_type) AS BIGINT) AS lvl
        |FROM events
        |GROUP BY ROLLUP(CAST(ts AS DATE), event_type)
        |ORDER BY lvl, day, event_type""".stripMargin),

    // PIVOT (built-in conditional-agg rewrite): per-user event-type
    // matrix — Spark compiles the pivot to one partial/final hash agg
    // with CASE projections, never a per-type pass
    GatedQuery("q11_pivot", (s, dir) => {
      import s.implicits._
      table(s, dir, "events")
        .groupBy($"user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select($"user_id", $"click".as("n_click"), $"error".as("n_error"),
          $"purchase".as("n_purchase"), $"signup".as("n_signup"),
          $"view".as("n_view"))
        .orderBy($"user_id")
    },
      // q11: the pivot as conditional counts
      """SELECT user_id,
        |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
        |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
        |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
        |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // SET operations (INTERSECT / EXCEPT built-ins, SURVEY §2.7): the
    // audience-segmentation shape — users who both clicked and purchased
    // vs users who clicked but never purchased. Both compile to
    // hash-aggregate + shuffle-on-user_id plans (left-semi / left-anti
    // after dedup), no driver-side set math.
    GatedQuery("q12_set_ops", (s, dir) => {
      import s.implicits._
      val ev = table(s, dir, "events")
      val clickers = ev.filter($"event_type" === "click").select($"user_id")
      val buyers = ev.filter($"event_type" === "purchase" && $"value" >= 90)
        .select($"user_id")
      clickers.intersect(buyers).withColumn("grp", lit("both"))
        .unionByName(
          clickers.except(buyers).withColumn("grp", lit("click_only")))
        .select($"grp", $"user_id")
        .orderBy($"grp", $"user_id")
    },
      // q12: INTERSECT / EXCEPT with the same labels
      """SELECT 'both' AS grp, user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'purchase' AND value >= 90)
        |UNION ALL
        |SELECT 'click_only' AS grp, user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'purchase' AND value >= 90)
        |ORDER BY grp, user_id""".stripMargin),

    // CUBE (all 4 grouping levels through one Expand, SURVEY §2.4): the
    // day-of-week x type traffic matrix with both margins and the grand
    // total in ONE partial/final hash agg — never 4 passes over events
    GatedQuery("q13_cube", (s, dir) => {
      import s.implicits._
      table(s, dir, "events")
        .withColumn("dow", dayofweek($"ts").cast("long"))
        .cube($"dow", $"event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor($"value" * 100 + lit(0.5)).cast("long")).as("sum_c"),
          grouping_id($"dow", $"event_type").cast("long").as("lvl"))
        .orderBy($"lvl", $"dow", $"event_type")
    },
      // q13: CUBE with DuckDB's 0-based dayofweek shifted to Spark's
      // 1-based (both Sunday-first); GROUPING bit order matches q10
      """SELECT dayofweek(ts) + 1 AS dow, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_c,
        |  CAST(GROUPING(dayofweek(ts) + 1, event_type) AS BIGINT) AS lvl
        |FROM events
        |GROUP BY CUBE(dayofweek(ts) + 1, event_type)
        |ORDER BY lvl, dow, event_type""".stripMargin),

    // approx_count_distinct (HyperLogLog++) next to the exact count —
    // the cardinality-estimation op a 100 TB profile pass runs where
    // exact DISTINCT would shuffle every value: the sketch is a
    // fixed-size mergeable partial (bytes per partition, not rows). The
    // gate is the INVARIANT row: the exact count is cross-checked
    // hash-exact and hll_ok asserts the sketch landed within its
    // documented rsd envelope (5% config -> test at 3x = 15%).
    GatedQuery("q14_approx_distinct", (s, dir) => {
      import s.implicits._
      table(s, dir, "events")
        .groupBy($"event_type")
        .agg(countDistinct($"user_id").as("n_exact"),
          approx_count_distinct($"user_id", rsd = 0.05).as("n_hll"))
        .select($"event_type", $"n_exact",
          (abs($"n_hll" - $"n_exact") <=
            round($"n_exact" * 0.15, 0).cast("long") + 1).as("hll_ok"))
        .orderBy($"event_type")
    },
      // q14: the exact count is the hash gate; hll_ok is the invariant the
      // sketch must satisfy by construction (HLL++ rsd 0.05, asserted at
      // 3x + 1 slack) — a wild sketch flips it and fails the hash
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS hll_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // OHLC time bars — the resample-to-bars op (metrics/time-series
    // rollup): per user x hour, open/close by arg_min/arg_max on the
    // (ts, event_id) order key (deterministic under duplicate
    // timestamps), high/low/volume in exact cents. One partial/final
    // hash agg, one shuffle on the bar key.
    GatedQuery("q15_ohlc_bars", (s, dir) => {
      import s.implicits._
      val cents = floor($"value" * 100 + lit(0.5)).cast("long")
      table(s, dir, "events")
        .select($"user_id", date_trunc("hour", $"ts").as("bar"),
          $"ts", $"event_id", cents.as("c"))
        .groupBy($"user_id", $"bar")
        .agg(min_by($"c", struct($"ts", $"event_id")).as("open_c"),
          max_by($"c", struct($"ts", $"event_id")).as("close_c"),
          max($"c").as("high_c"), min($"c").as("low_c"),
          count(lit(1)).as("n"), sum($"c").as("vol_c"))
        .orderBy($"user_id", $"bar")
    },
      // q15: Spark's min_by/max_by on the composite (ts, event_id) key
      // expressed as first/last row ranks (DuckDB arg_min takes no
      // struct keys) — same deterministic tie-break
      """WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bar, ts, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
        |o AS (SELECT user_id, bar, c,
        |    row_number() OVER (PARTITION BY user_id, bar
        |      ORDER BY ts, event_id) AS rf,
        |    row_number() OVER (PARTITION BY user_id, bar
        |      ORDER BY ts DESC, event_id DESC) AS rl
        |  FROM b)
        |SELECT user_id, bar,
        |  max(CASE WHEN rf = 1 THEN c END) AS open_c,
        |  max(CASE WHEN rl = 1 THEN c END) AS close_c,
        |  max(c) AS high_c, min(c) AS low_c,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS vol_c
        |FROM o GROUP BY user_id, bar ORDER BY user_id, bar""".stripMargin),

    // PIVOT — long-to-wide reshape (RelationalGroupedDataset.pivot), the
    // report/feature-matrix shape: day-of-week x event-type revenue grid
    // in exact cents. The pivot VALUES are passed explicitly — without
    // them Spark runs an extra blocking distinct-scan job over 100 TB to
    // discover them, and the column set becomes data-dependent (schema
    // drift on a new event type). Compiles to ONE partial/final hash agg
    // on dow with conditional sums — same plan as the CASE-WHEN oracle,
    // no per-value shuffle.
    GatedQuery("q16_pivot", (s, dir) => {
      import s.implicits._
      table(s, dir, "events")
        .withColumn("dow", dayofweek($"ts").cast("long"))
        .select($"dow", $"event_type", cents($"value").as("c"))
        .groupBy($"dow")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum($"c"))
        .orderBy($"dow")
    },
      // q16: conditional-aggregation replica of the pivot grid (DuckDB's
      // PIVOT statement can't run inside a plain SELECT compare)
      """SELECT dayofweek(ts) + 1 AS dow,
        |  sum(CASE WHEN event_type = 'click' THEN c END) AS click,
        |  sum(CASE WHEN event_type = 'error' THEN c END) AS error,
        |  sum(CASE WHEN event_type = 'purchase' THEN c END) AS purchase,
        |  sum(CASE WHEN event_type = 'signup' THEN c END) AS signup,
        |  sum(CASE WHEN event_type = 'view' THEN c END) AS view
        |FROM (SELECT ts, event_type,
        |        CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // EXACT grouped quantiles via VALUE-HISTOGRAM rank selection — the
    // 100 TB-safe exact form (d23 documents approx_percentile as the
    // sketch form; this is its exact sibling). Spark's percentile() agg
    // buffers every value per group in executor memory, and a global-sort
    // row_number collapses to one partition — both scale traps. Here the
    // shuffle key is (group, value): a distinct-value histogram + one
    // window pass over DISTINCT values (50 quantities, not 60k rows)
    // locates the two order-statistic taps per quantile, and the
    // interpolation is exact integer arithmetic (x4 fixed-point: the
    // rank fraction is always a quarter). Holds whenever distinct values
    // << rows — prices, quantities, scores; the d23 sketch covers the
    // unbounded-cardinality case.
    GatedQuery("q17_exact_quantiles", (s, dir) => {
      import s.implicits._
      val li = table(s, dir, "lineitem")
        .select($"l_returnflag".as("flag"), $"l_quantity".cast("long").as("v"))
      val hist = li.groupBy($"flag", $"v").agg(count(lit(1)).as("c"))
      val n = li.groupBy($"flag").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"flag").orderBy($"v")
      // 0-based rank interval [rank_lo, rank_hi) of each distinct value
      val cum = hist.withColumn("rank_hi", sum($"c").over(w))
        .withColumn("rank_lo", $"rank_hi" - $"c")
      val ps = Seq(1L, 2L, 3L).toDF("p4") // p = p4/4: quartiles
      val taps = cum.join(n, "flag").join(broadcast(ps))
        // floor tap index — floor()+cast because Spark's `/` on longs is
        // DOUBLE division (a bare `/ 4` would carry a .25/.5/.75 tail)
        .withColumn("i0", floor(($"p4" * ($"n" - 1)) / 4).cast("long"))
        .withColumn("f4", ($"p4" * ($"n" - 1)) % 4) // quarter fraction
        .withColumn("contrib",
          when($"rank_lo" <= $"i0" && $"i0" < $"rank_hi",
            (lit(4L) - $"f4") * $"v").otherwise(0L) +
          when($"f4" > 0 && $"rank_lo" <= $"i0" + 1 && $"i0" + 1 < $"rank_hi",
            $"f4" * $"v").otherwise(0L))
      taps.groupBy($"flag", $"n").pivot("p4", Seq("1", "2", "3"))
        .agg(sum($"contrib"))
        .withColumnRenamed("1", "q25_x4")
        .withColumnRenamed("2", "q50_x4")
        .withColumnRenamed("3", "q75_x4")
        .orderBy($"flag")
    },
      // q17: rank selection replicated with a plain row_number (the oracle
      // MAY global-sort — it is DuckDB at sf0.01, not the 100 TB plan);
      // same x4 fixed-point interpolation in pure integer arithmetic
      """WITH v AS (SELECT l_returnflag AS flag,
        |    CAST(l_quantity AS BIGINT) AS v FROM lineitem),
        |r AS (SELECT flag, v,
        |    row_number() OVER (PARTITION BY flag ORDER BY v) - 1 AS i FROM v),
        |n AS (SELECT flag, count(*) AS n FROM v GROUP BY 1),
        |q AS (SELECT r.flag, p.p4, sum(
        |    CASE WHEN r.i = (p.p4 * (n.n - 1)) // 4
        |      THEN (4 - (p.p4 * (n.n - 1)) % 4) * r.v ELSE 0 END
        |    + CASE WHEN (p.p4 * (n.n - 1)) % 4 > 0
        |        AND r.i = (p.p4 * (n.n - 1)) // 4 + 1
        |      THEN ((p.p4 * (n.n - 1)) % 4) * r.v ELSE 0 END) AS qx4
        |  FROM r JOIN n USING (flag),
        |    (SELECT unnest([1, 2, 3]) AS p4) p
        |  GROUP BY 1, 2)
        |SELECT q.flag AS flag, CAST(n.n AS BIGINT) AS n,
        |  CAST(max(CASE WHEN p4 = 1 THEN qx4 END) AS BIGINT) AS q25_x4,
        |  CAST(max(CASE WHEN p4 = 2 THEN qx4 END) AS BIGINT) AS q50_x4,
        |  CAST(max(CASE WHEN p4 = 3 THEN qx4 END) AS BIGINT) AS q75_x4
        |FROM q JOIN n ON q.flag = n.flag
        |GROUP BY 1, 2 ORDER BY flag""".stripMargin),

    // FORWARD-FILL gap imputation (time-series LOCF) — carry each user's
    // last observed non-view amount forward across view-event gaps: the
    // sensor/price imputation every feature pipeline runs before
    // windowed training. ONE hashpartitioning(user_id) exchange feeding
    // a running last(ignoreNulls) frame — per-user streaming state, no
    // self-join, no driver; leading gaps keep a -1 sentinel. Cents stay
    // exact (the q1 floor rule) so the gate is integer.
    GatedQuery("q19_gap_fill", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, dir, "events")
        .withColumn("c", when($"event_type" =!= "view", cents($"value")))
        .withColumn("filled", last($"c", ignoreNulls = true).over(w))
        .select($"user_id", $"event_id", $"c".isNull.as("was_gap"),
          coalesce($"filled", lit(-1L)).as("filled_cents"))
        .orderBy($"user_id", $"event_id")
    },
      // q19: the same running frame via DuckDB's IGNORE NULLS last_value;
      // cents by the shared floor(x*100 + 0.5) rule
      """SELECT user_id, event_id, (c IS NULL) AS was_gap,
        |  coalesce(last_value(c IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
        |    AS filled_cents
        |FROM (SELECT user_id, event_id, ts,
        |    CASE WHEN event_type <> 'view'
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END AS c
        |  FROM events)
        |ORDER BY user_id, event_id""".stripMargin)
  )
}
