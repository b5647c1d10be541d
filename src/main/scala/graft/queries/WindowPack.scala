package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, QueryPack, Tables}

/** Window-function coverage (SURVEY.md §2.5): the reference's LAG (W1) lives
  * in the flagship MetricsView; this pack adds sequential ids (W2), ranking,
  * and running frames.
  *
  * Scale: every window here partitions by a real key (custkey / nation) so
  * WindowExec runs after a hash exchange, never single-partition — except
  * q_seq_id which is the documented small-data parity mode of the
  * reference's global sequential id (main.py:696); the scalable variant is
  * graft.ops.Consolidate.withSequentialId (per-partition offsets), spec-tested.
  */
object WindowPack extends QueryPack {

  def queries: Map[String, QueryDef] = Map(

    // Grouped top-k through the typed bounded Aggregator
    // (ext/TopKAggregator) instead of a window: partial buffers hold at
    // most k (score, id) pairs and merge map-side, so the shuffle
    // carries |groups|×k rows and NO per-partition sort runs — the
    // scale alternative to row_number() ≤ k, which sorts every group's
    // full candidate set. The oracle IS the window formulation, so the
    // hash gate proves the aggregator's (score desc, id asc) tie-break
    // is exactly the window's ordering.
    "q_topk_aggregator" -> QueryDef(
      "Top-3 orders by price per priority via the typed bounded top-k Aggregator",
      (s, dir) => {
        import s.implicits._
        val agg = new graft.ext.TopKAggregator(3)
        Tables.orders(s, dir)
          .select(col("o_orderpriority"), col("o_orderkey"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
          .as[(String, Long, Long)]
          .groupByKey(_._1)
          .mapValues(t => (t._2, t._3.toDouble))
          .agg(agg.toColumn.name("top"))
          .flatMap { case (p, top) =>
            top.zipWithIndex.map { case ((score, id), i) =>
              (p, (i + 1).toLong, id, score.toLong) }
          }
          .toDF("o_orderpriority", "rk", "o_orderkey", "cents")
          .orderBy("o_orderpriority", "rk")
      },
      Some("""SELECT o_orderpriority, rk, o_orderkey, cents FROM (
             |  SELECT o_orderpriority, o_orderkey,
             |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
             |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |      ORDER BY ROUND(o_totalprice * 100, 0) DESC, o_orderkey ASC) AS rk
             |  FROM orders)
             |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin)),

    // EWMA (exponential smoothing) per user over the trailing 8-event
    // frame: s' = α·x + (1−α)·s seeded with the frame's first value.
    // There is no closed-form window aggregate for EWMA, so the frame is
    // collected in ORDER BY order and folded left — Spark's
    // aggregate(slice, head, merge) and DuckDB's list_reduce are the
    // SAME left fold (seed = first element), so the recursion replays
    // bit-for-bit. The frame is 8 rows, so the per-row list is bounded
    // (the reason a trailing-k EWMA scales where an unbounded one needs
    // streaming state — EventStream owns that shape).
    "q_ewma" -> QueryDef(
      "Per-user EWMA (alpha=0.3) of event values over the trailing 8-event frame",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wFrame = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(-7, Window.currentRow)
        val wLast = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        val ewma = graft.ops.Folds.ewma(col("arr"), alpha = 0.3)
        Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .withColumn("arr", collect_list(col("value")).over(wFrame))
          .withColumn("rd", row_number().over(wLast))
          .filter(col("rd") === 1)
          .select(col("user_id"), size(col("arr")).cast("long").as("n_window"),
            round(ewma, 6).as("ewma_last"))
          .orderBy("user_id")
      },
      Some("""WITH o AS (
             |  SELECT user_id,
             |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS arr,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |                       ORDER BY ts DESC, event_id DESC) AS rd
             |  FROM events WHERE value IS NOT NULL)
             |SELECT user_id, CAST(len(arr) AS BIGINT) AS n_window,
             |  ROUND(list_reduce(arr, (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS ewma_last
             |FROM o WHERE rd = 1 ORDER BY user_id""".stripMargin)),

    // Full-history EWMA per user — batch twin of the streaming
    // EventStream.ewmaPerUser (EventStreamSpec proves stream ≡ batch).
    // The batch form must collect each user's WHOLE ordered history to
    // fold the recursion (bounded here: ≤ ~200 events/user; unbounded
    // history is exactly why the streaming form with one (ewma, n) state
    // pair per user is the scale path). Fold order is pinned by
    // sort_array over (ts, event_id, value) structs = the oracle's
    // list(value ORDER BY ts, event_id).
    "q_ewma_all" -> QueryDef(
      "Per-user full-history EWMA (alpha=0.3) — batch twin of the streaming state op",
      (s, dir) => {
        Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .groupBy("user_id")
          .agg(transform(sort_array(collect_list(
            struct(col("ts"), col("event_id"), col("value")))),
            e => e.getField("value")).as("vals"))
          .select(col("user_id"), size(col("vals")).cast("long").as("n_events"),
            round(graft.ops.Folds.ewma(col("vals"), alpha = 0.3), 6).as("ewma"))
          .orderBy("user_id")
      },
      Some("""WITH o AS (
             |  SELECT user_id, list(value ORDER BY ts, event_id) AS arr
             |  FROM events WHERE value IS NOT NULL GROUP BY user_id)
             |SELECT user_id, CAST(len(arr) AS BIGINT) AS n_events,
             |  ROUND(list_reduce(arr, (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS ewma
             |FROM o ORDER BY user_id""".stripMargin)),

    // Holt's linear-trend smoothing (double exponential) per user — the
    // forecasting step up from EWMA: a coupled (level, trend) recursion
    //   l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
    //   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    // seeded l₂ = x₂, b₂ = x₂ − x₁, plus the h-step-ahead forecast
    // l_n + h·b_n. The Spark fold carries a STRUCT accumulator through
    // `aggregate`; the oracle replays the recursion as a RECURSIVE CTE
    // stepping an (i, l, b) row per user — NOT list_reduce, whose
    // composite-accumulator folds silently corrupt the accumulator from
    // the second step onward in DuckDB 1.0 (verified: struct and list
    // accumulators both return wrong values where a 1-step fold and a
    // manual lambda application are correct). Identical left-to-right
    // double arithmetic either way, so the engines agree bit-for-bit.
    // Same collect-bounded posture as q_ewma_all: ≤ ~200 events/user
    // here; unbounded history belongs to the streaming state op.
    "q_holt_linear" -> QueryDef(
      "Per-user Holt linear trend (alpha=0.5, beta=0.3) + 3-step forecast",
      (s, dir) => {
        val a = 0.5; val b = 0.3
        val vals = col("vals")
        val seed = struct(
          element_at(vals, 2).as("l"),
          (element_at(vals, 2) - element_at(vals, 1)).as("b"))
        val st = aggregate(
          slice(vals, lit(3), greatest(size(vals) - 2, lit(0))),
          seed,
          (acc, x) => {
            val l2 = lit(a) * x + lit(1 - a) * (acc.getField("l") + acc.getField("b"))
            struct(l2.as("l"),
              (lit(b) * (l2 - acc.getField("l")) + lit(1 - b) * acc.getField("b")).as("b"))
          })
        Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .groupBy("user_id")
          .agg(transform(sort_array(collect_list(
            struct(col("ts"), col("event_id"), col("value")))),
            e => e.getField("value")).as("vals"))
          .filter(size(vals) >= 2)
          .withColumn("st", st)
          .select(col("user_id"), size(vals).cast("long").as("n_events"),
            round(col("st").getField("l"), 6).as("level"),
            round(col("st").getField("b"), 6).as("trend"),
            round(col("st").getField("l") + lit(3) * col("st").getField("b"), 6)
              .as("forecast_3"))
          .orderBy("user_id")
      },
      Some("""WITH RECURSIVE o AS (
             |  SELECT user_id, list(value ORDER BY ts, event_id) AS arr
             |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
             |base AS (SELECT user_id, arr, len(arr) AS n FROM o WHERE len(arr) >= 2),
             |rec AS (
             |  SELECT user_id, arr, n, 2 AS i, arr[2] AS l, arr[2] - arr[1] AS b
             |  FROM base
             |  UNION ALL
             |  SELECT user_id, arr, n, i + 1,
             |    0.5 * arr[i + 1] + 0.5 * (l + b),
             |    0.3 * ((0.5 * arr[i + 1] + 0.5 * (l + b)) - l) + 0.7 * b
             |  FROM rec WHERE i < n)
             |SELECT user_id, CAST(n AS BIGINT) AS n_events,
             |  ROUND(l, 6) AS level, ROUND(b, 6) AS trend,
             |  ROUND(l + 3 * b, 6) AS forecast_3
             |FROM rec WHERE i = n ORDER BY user_id""".stripMargin)),

    // Exact sliding median — no native windowed percentile in a frame;
    // the bounded trailing frame is collected, sorted, and the middle
    // element(s) read out. The (n+1)/2 and n/2+1 indices coincide for
    // odd n, so one expression covers both parities; sorting makes the
    // result order-insensitive, no fold pinning needed.
    "q_window_median" -> QueryDef(
      "Exact median of event values over the trailing 9-event frame (last event per user)",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wFrame = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(-8, Window.currentRow)
        val wLast = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        val sorted = array_sort(col("arr"))
        val n = size(col("arr"))
        // explicit floor: Spark's `/` is double division and DuckDB's
        // int cast ROUNDS, so `(n+1)/2` alone diverges between engines
        val idx1 = floor((n + 1) / lit(2.0)).cast("int")
        val idx2 = floor(n / lit(2.0)).cast("int") + 1
        val median = (element_at(sorted, idx1) + element_at(sorted, idx2)) / 2.0
        Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .withColumn("arr", collect_list(col("value")).over(wFrame))
          .withColumn("rd", row_number().over(wLast))
          .filter(col("rd") === 1)
          .select(col("user_id"), n.cast("long").as("n_window"),
            round(median, 6).as("median_value"))
          .orderBy("user_id")
      },
      Some("""WITH o AS (
             |  SELECT user_id,
             |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS arr,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |                       ORDER BY ts DESC, event_id DESC) AS rd
             |  FROM events WHERE value IS NOT NULL)
             |SELECT user_id, CAST(len(arr) AS BIGINT) AS n_window,
             |  ROUND((list_sort(arr)[CAST(floor((len(arr) + 1) / 2.0) AS INT)]
             |       + list_sort(arr)[CAST(floor(len(arr) / 2.0) AS INT) + 1]) / 2.0, 6) AS median_value
             |FROM o WHERE rd = 1 ORDER BY user_id""".stripMargin)),

    // Sliding DISTINCT count — no native windowed COUNT(DISTINCT) in
    // either engine, so the trailing frame is collected and deduped per
    // row (bounded: 10 values). Set size is order-insensitive, so unlike
    // q_ewma no fold-order pinning is needed.
    "q_window_distinct" -> QueryDef(
      "Distinct event types per user over the trailing 10-event frame (last event per user)",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wFrame = Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(-9, Window.currentRow)
        val wLast = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables.events(s, dir)
          .filter(col("event_type").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("arr", collect_list(col("event_type")).over(wFrame))
          .withColumn("rd", row_number().over(wLast))
          .filter(col("rd") === 1)
          .select(col("user_id"),
            size(col("arr")).cast("long").as("n_window"),
            size(array_distinct(col("arr"))).cast("long").as("n_distinct_types"))
          .orderBy("user_id")
      },
      Some("""WITH o AS (
             |  SELECT user_id,
             |    list(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS arr,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |                       ORDER BY ts DESC, event_id DESC) AS rd
             |  FROM events WHERE event_type IS NOT NULL)
             |SELECT user_id, CAST(len(arr) AS BIGINT) AS n_window,
             |  CAST(len(list_distinct(arr)) AS BIGINT) AS n_distinct_types
             |FROM o WHERE rd = 1 ORDER BY user_id""".stripMargin)),

    // W2 — global sequential id, parity mode (single-partition window).
    "q_seq_id" -> QueryDef(
      "row_number over a canonical total order = reference's 1..N id (main.py:696)",
      (s, dir) =>
        Tables.orders(s, dir)
          .filter(col("o_totalprice") > 400000.0)
          .select("o_orderkey", "o_totalprice")
          .withColumn("id", row_number().over(Window.orderBy(col("o_orderkey"))))
          .orderBy("id"),
      Some("""SELECT o_orderkey, o_totalprice,
             |  ROW_NUMBER() OVER (ORDER BY o_orderkey) AS id
             |FROM orders WHERE o_totalprice > 400000.0
             |ORDER BY id""".stripMargin)),

    // W2 — global sequential id, SCALE mode: range-partitioned sort +
    // per-partition offsets (ops.RowPositions: one lightweight count job
    // over the same sorted rows it numbers, none on one partition) —
    // no single-partition window anywhere. Same contract as q_seq_id
    // (contiguous 1..N in a canonical total order), now oracle-gated:
    // the two modes are interchangeable and both hash-exact.
    "q_seq_id_scale" -> QueryDef(
      "Contiguous 1..N id via range-sort + per-partition offsets (scale mode, no global window)",
      (s, dir) =>
        graft.ops.Consolidate.withSequentialId(
          Tables.orders(s, dir)
            .filter(col("o_totalprice") > 400000.0)
            .select("o_orderkey", "o_totalprice"),
          Seq(col("o_orderkey")), "id")
          .select("o_orderkey", "o_totalprice", "id")
          .orderBy("id"),
      Some("""SELECT o_orderkey, o_totalprice,
             |  ROW_NUMBER() OVER (ORDER BY o_orderkey) AS id
             |FROM orders WHERE o_totalprice > 400000.0
             |ORDER BY id""".stripMargin)),

    // Ranking per group + filter (top-3 per nation).
    "q_window_rank" -> QueryDef(
      "rank per partition + filter: top-3 customers by balance per nation",
      (s, dir) => {
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        Tables.customer(s, dir)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select("c_nationkey", "rk", "c_custkey", "c_name", "c_acctbal")
          .orderBy("c_nationkey", "rk")
      },
      Some("""SELECT c_nationkey, rk, c_custkey, c_name, c_acctbal
             |FROM (SELECT c_nationkey, c_custkey, c_name, c_acctbal,
             |        ROW_NUMBER() OVER (PARTITION BY c_nationkey
             |                           ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
             |      FROM customer)
             |WHERE rk <= 3
             |ORDER BY c_nationkey, rk""".stripMargin)),

    // Running sum with an explicit rows frame.
    "q_window_running" -> QueryDef(
      "running total per customer (rowsBetween unboundedPreceding..current)",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, dir)
          .filter(col("o_custkey") % 100 === 0)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
          .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
             |  ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
             |        ORDER BY o_orderdate ASC, o_orderkey ASC
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
             |FROM orders WHERE o_custkey % 100 = 0
             |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    // Ranking-family coverage beyond row_number: dense_rank + ntile.
    "q_window_dense_ntile" -> QueryDef(
      "dense_rank over order price ties + ntile(4) quartiles per priority",
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, dir)
          .filter(col("o_custkey") % 50 === 0)
          .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
            dense_rank().over(w).as("drk"),
            ntile(4).over(w).as("quartile"))
          .orderBy("o_orderpriority", "drk", "o_orderkey")
      },
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice,
             |  DENSE_RANK() OVER (PARTITION BY o_orderpriority
             |                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS drk,
             |  NTILE(4) OVER (PARTITION BY o_orderpriority
             |                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS quartile
             |FROM orders WHERE o_custkey % 50 = 0
             |ORDER BY o_orderpriority, drk, o_orderkey""".stripMargin)),

    // Distribution ranks: percent_rank + cume_dist (identical definitions
    // in DuckDB), completing the ranking family.
    "q_window_pct_rank" -> QueryDef(
      "percent_rank and cume_dist of account balances per nation",
      (s, dir) => {
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
        Tables.customer(s, dir)
          .filter(col("c_custkey") % 20 === 0)
          .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
          .orderBy("c_nationkey", "c_acctbal", "c_custkey")
      },
      Some("""SELECT c_nationkey, c_custkey, c_acctbal,
             |  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
             |  ROUND(CUME_DIST() OVER w, 6) AS cume
             |FROM customer WHERE c_custkey % 20 = 0
             |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)
             |ORDER BY c_nationkey, c_acctbal, c_custkey""".stripMargin)),

    // RANGE frame: value-based window (trailing 30-day spend) — the
    // other frame type beside ROWS (q_window_running).
    "q_window_range_frame" -> QueryDef(
      "Trailing-30-day spend per customer via RANGE BETWEEN on epoch days",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("day_num"))
          .rangeBetween(-30, Window.currentRow)
        Tables.orders(s, dir)
          .filter(col("o_custkey") % 100 === 0)
          .withColumn("day_num", datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01"))))
          .select(col("o_custkey"), col("o_orderkey"), col("day_num"),
            round(sum(col("o_totalprice")).over(w), 2).as("spend_30d"))
          .orderBy("o_custkey", "day_num", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, day_num,
             |  ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY day_num
             |        RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS spend_30d
             |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             |        datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day_num
             |      FROM orders WHERE o_custkey % 100 = 0)
             |ORDER BY o_custkey, day_num, o_orderkey""".stripMargin)),

    // first_value / last_value with explicit full-partition frame.
    "q_window_first_last" -> QueryDef(
      "First and latest order price per customer alongside each order",
      (s, dir) => {
        val base = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        val full = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, dir)
          .filter(col("o_custkey") % 100 === 0)
          .select(col("o_custkey"), col("o_orderkey"),
            first(col("o_totalprice")).over(full).as("first_price"),
            last(col("o_totalprice")).over(full).as("latest_price"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  FIRST_VALUE(o_totalprice) OVER w AS first_price,
             |  LAST_VALUE(o_totalprice) OVER w AS latest_price
             |FROM orders WHERE o_custkey % 100 = 0
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // LEAD companion to the flagship's LAG.
    "q_window_lead" -> QueryDef(
      "lead(next order date) per customer; gap in days",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        Tables.orders(s, dir)
          .filter(col("o_custkey") % 100 === 0)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            lead(col("o_orderdate"), 1).over(w).as("next_orderdate"))
          .withColumn("gap_days", datediff(to_date(col("next_orderdate")), to_date(col("o_orderdate"))))
          .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate, next_orderdate,
             |  datediff('day', CAST(o_orderdate AS DATE), CAST(next_orderdate AS DATE)) AS gap_days
             |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
             |        LEAD(o_orderdate, 1) OVER (PARTITION BY o_custkey
             |             ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_orderdate
             |      FROM orders WHERE o_custkey % 100 = 0)
             |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    // Pareto / 80-20 concentration analysis: customers in descending
    // revenue order, running revenue share vs running customer share,
    // and the concentration flag (is this customer inside the head that
    // carries 80% of revenue?). Exact integer cents throughout. The
    // running sum is a DISTRIBUTED prefix sum
    // (ops.Consolidate.withRunningTotal: range-partitioned sort +
    // per-partition offsets) — no unpartitioned window, so the curve
    // stays many-task even when the per-customer rollup is hundreds of
    // millions of rows at 100 TB (decimated to every 25th rank to keep
    // the published curve small).
    "q_pareto_curve" -> QueryDef(
      "Revenue concentration: running share curve over customers ranked by spend",
      (s, dir) => {
        val per = Tables.orders(s, dir).groupBy("o_custkey")
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
        val tot = per.agg(sum("cents").as("tot_cents"), count(lit(1)).as("n_cust"))
        graft.ops.Consolidate
          .withRunningTotal(per, Seq(col("cents").desc, col("o_custkey").asc),
            "cents", idCol = "rk", runCol = "run_cents")
          .filter(pmod(col("rk"), lit(25L)) === 0)
          .crossJoin(broadcast(tot))
          .select(col("rk"),
            round(col("rk").cast("double") / col("n_cust"), 6).as("cust_share"),
            round(col("run_cents").cast("double") / col("tot_cents"), 6)
              .as("rev_share"),
            (col("run_cents").cast("double") / col("tot_cents") <= 0.8)
              .as("in_head80"))
          .orderBy("rk")
      },
      Some("""WITH per AS (
             |  SELECT o_custkey,
             |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             |      AS cents
             |  FROM orders GROUP BY o_custkey),
             |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot_cents,
             |               COUNT(*) AS n_cust FROM per),
             |r AS (
             |  SELECT cents,
             |    ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey ASC) AS rk,
             |    CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS run_cents
             |  FROM per)
             |SELECT rk,
             |  ROUND(rk * 1.0 / n_cust, 6) AS cust_share,
             |  ROUND(run_cents * 1.0 / tot_cents, 6) AS rev_share,
             |  run_cents * 1.0 / tot_cents <= 0.8 AS in_head80
             |FROM r, tot WHERE rk % 25 = 0 ORDER BY rk""".stripMargin)),

    // Equi-width histogram via width_bucket — the one-pass value-
    // distribution profile (10 bins over [0, 500] per event type); both
    // engines share the same bucket arithmetic, so edges land
    // identically — including OUT-OF-RANGE values: width_bucket clamps
    // to bins 0 and 11, and the oracle applies the same
    // GREATEST/LEAST clamp, so parity holds for any value domain, not
    // just the current fixture's. Map-side bucket assignment + one
    // grouped count.
    "q_histogram" -> QueryDef(
      "10-bin equi-width value histogram per event type",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("event_type"),
            width_bucket(col("value"), lit(0.0), lit(500.0), lit(10)).as("bin"))
          .agg(count(lit(1)).as("n"),
            round(min("value"), 2).as("bin_min"), round(max("value"), 2).as("bin_max"))
          .orderBy("event_type", "bin"),
      Some("""SELECT event_type,
             |  GREATEST(LEAST(CAST(FLOOR((value - 0.0) / 50.0) AS BIGINT) + 1, 11), 0)
             |    AS bin, COUNT(*) AS n,
             |  ROUND(MIN(value), 2) AS bin_min, ROUND(MAX(value), 2) AS bin_max
             |FROM events GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin)),

    // Gaps-and-islands: longest consecutive-day activity streak per
    // user — the classic SQL-interview shape, productionized: distinct
    // (user, day) first (partial aggs absorb the fact table), then the
    // island key day − row_number() inside each user's date-ordered
    // window (consecutive days share it), one grouped count per island,
    // and a per-user argmax (longest, tie → earliest start). Both
    // windows partition BY USER — embarrassingly parallel, no global
    // sort; per-user state is bounded by the date domain.
    "q_streaks" -> QueryDef(
      "Longest consecutive-day activity streak per user (gaps-and-islands)",
      (s, dir) => {
        val days = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val islands = days
          .withColumn("grp", expr("date_sub(day, row_number() OVER " +
            "(PARTITION BY user_id ORDER BY day))"))
          .groupBy("user_id", "grp")
          .agg(count(lit(1)).as("len"), min("day").as("streak_start"))
        val best = Window.partitionBy("user_id")
          .orderBy(col("len").desc, col("streak_start").asc)
        islands
          .withColumn("rk", row_number().over(best))
          .filter(col("rk") === 1)
          .join(days.groupBy("user_id").agg(count(lit(1)).as("n_active_days")), "user_id")
          .select(col("user_id"), col("n_active_days"),
            col("len").as("longest_streak"), col("streak_start"))
          .orderBy("user_id")
      },
      Some("""WITH d AS (
             |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
             |i AS (
             |  SELECT user_id,
             |    day - CAST(ROW_NUMBER() OVER
             |      (PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp,
             |    day
             |  FROM d),
             |s AS (
             |  SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS streak_start
             |  FROM i GROUP BY user_id, grp),
             |b AS (
             |  SELECT user_id, len, streak_start,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY len DESC, streak_start ASC) AS rk
             |  FROM s),
             |n AS (SELECT user_id, COUNT(*) AS n_active_days FROM d GROUP BY user_id)
             |SELECT b.user_id, n_active_days, len AS longest_streak, streak_start
             |FROM b JOIN n ON n.user_id = b.user_id
             |WHERE rk = 1 ORDER BY b.user_id""".stripMargin)),

    // Cumulative-distinct curve (new vs returning users per day) — the
    // growth-analytics staple that naive SQL writes as COUNT(DISTINCT)
    // OVER an expanding window (state grows with history; unusable at
    // scale). The scale identity: a user is DISTINCT-NEW exactly once,
    // on their first day — so one groupBy(user).min(day) absorbs the
    // fact table, the per-day new-user counts are a date-bounded
    // series, and the cumulative count is the engine's distributed
    // prefix sum (Consolidate.withRunningTotal — no single-partition
    // window). Returning = that day's active minus its new.
    "q_cumulative_distinct" -> QueryDef(
      "Daily active/new/returning users + cumulative distinct-user curve",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"), to_date(col("ts")).as("day"))
        val firstDay = ev.groupBy("user_id").agg(min("day").as("day"))
        val newPerDay = firstDay.groupBy("day").agg(count(lit(1)).as("new_users"))
        val activePerDay = ev.distinct().groupBy("day").agg(count(lit(1)).as("active_users"))
        graft.ops.Consolidate.withRunningTotal(
            activePerDay.join(newPerDay, Seq("day"), "left")
              .withColumn("new_users", coalesce(col("new_users"), lit(0L))),
            Seq(col("day").asc), "new_users", idCol = "day_idx", runCol = "cum_users")
          .select(col("day"), col("active_users"), col("new_users"),
            (col("active_users") - col("new_users")).as("returning_users"),
            col("cum_users"))
          .orderBy("day")
      },
      Some("""WITH f AS (
             |  SELECT user_id, MIN(CAST(ts AS DATE)) AS day
             |  FROM events GROUP BY user_id),
             |n AS (SELECT day, COUNT(*) AS new_users FROM f GROUP BY day),
             |a AS (
             |  SELECT day, COUNT(*) AS active_users FROM (
             |    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
             |  GROUP BY day)
             |SELECT a.day AS day, active_users,
             |  COALESCE(new_users, 0) AS new_users,
             |  active_users - COALESCE(new_users, 0) AS returning_users,
             |  CAST(SUM(COALESCE(new_users, 0))
             |    OVER (ORDER BY a.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |    AS cum_users
             |FROM a LEFT JOIN n ON n.day = a.day
             |ORDER BY a.day""".stripMargin)),

    // EQUI-DEPTH histogram — q_histogram's complement (equal COUNT per
    // bin, not equal width): interior boundaries are the exact
    // interpolated octiles, broadcast as one 7-element array; bucket
    // assignment is a map-side "how many boundaries sit below me"
    // array scan. TWO linear passes, no global window — the naive
    // ntile() formulation is an unpartitioned sort of the whole fact
    // table through one task, precisely the single-partition hazard
    // q_pareto_curve's prefix sum removed. Boundaries interpolate over
    // INTEGER CENTS at DYADIC fractions (k/8): lo + (hi−lo)·frac is
    // then exact in ANY evaluation order (integers × 2⁻³ powers, no
    // rounding), so both engines compute bit-identical boundaries and
    // a tie packet sitting ON a boundary lands on the same side —
    // interpolating the raw doubles failed the sf0.001 gate by one ulp.
    "q_histogram_equidepth" -> QueryDef(
      "8-bin equi-depth value histogram off exact octile boundaries (no global sort)",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("cents", round(col("value") * 100, 0).cast("long"))
        val bounds = ev.agg(expr(
          "percentile(cents, array(0.125D, 0.25D, 0.375D, 0.5D, 0.625D, 0.75D, 0.875D))")
          .as("bs"))
        ev.crossJoin(broadcast(bounds))
          .groupBy((size(expr("filter(bs, b -> cents > b)")) + 1).as("bin"))
          .agg(count(lit(1)).as("n"),
            round(min("value"), 2).as("bin_min"), round(max("value"), 2).as("bin_max"))
          .orderBy("bin")
      },
      Some("""WITH e AS (
             |  SELECT value, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
             |  FROM events),
             |b AS (
             |  SELECT quantile_cont(cents,
             |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
             |  FROM e)
             |SELECT len(list_filter(bs, x -> cents > x)) + 1 AS bin,
             |  COUNT(*) AS n,
             |  ROUND(MIN(value), 2) AS bin_min, ROUND(MAX(value), 2) AS bin_max
             |FROM e, b GROUP BY 1 ORDER BY bin""".stripMargin)),

    // Per-user event-type transition matrix (first-order Markov): LEAD
    // over each user's event-time order pairs every event with its
    // successor, one grouped count per (from, to), and the row-normalized
    // probability via a partition-sum window over the tiny matrix. The
    // behavioral-analytics staple (what follows a view? does error
    // precede churn?). One keyed exchange for the LEAD, one for the
    // 25-row matrix — at 100 TB the per-user sequence pass dominates and
    // is embarrassingly parallel by user.
    "q_event_transitions" -> QueryDef(
      "Event-type transition counts + row-normalized probabilities per user sequence",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        val pairs = Tables.events(s, dir)
          .select(col("user_id"), col("event_type").as("from_type"),
            lead(col("event_type"), 1).over(w).as("to_type"))
          .filter(col("to_type").isNotNull)
        val m = pairs.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        val wRow = Window.partitionBy("from_type")
        m.withColumn("p", round(col("n").cast("double") / sum("n").over(wRow), 6))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH pairs AS (
             |  SELECT event_type AS from_type,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |                           ORDER BY ts ASC, event_id ASC) AS to_type
             |  FROM events),
             |m AS (
             |  SELECT from_type, to_type, COUNT(*) AS n FROM pairs
             |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, n,
             |  ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 6) AS p
             |FROM m ORDER BY from_type, to_type""".stripMargin)),

    // Rolling z-score anomaly flags over daily per-type totals — the
    // monitoring query every ingest pipeline runs over its own volume
    // metrics. Moments ride EXACT integer cents (sx, sxx as BIGINTs over
    // a trailing 7-row frame, current row excluded), so mean/var/z are
    // identical doubles in any engine — no windowed STDDEV whose
    // accumulation order could drift. One keyed exchange: the daily
    // aggregate and the frame share the event_type partitioning; at
    // 100 TB this is a per-series scan of an already-tiny rollup.
    "q_anomaly_rolling" -> QueryDef(
      "Trailing-7-day z-score anomaly detection on daily per-type cents",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
        val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
        daily
          .select(col("event_type"), col("day"), col("cents"),
            count(col("cents")).over(w).as("n_w"),
            sum(col("cents")).over(w).cast("double").as("sx"),
            sum(col("cents") * col("cents")).over(w).cast("double").as("sxx"))
          .filter(col("n_w") === 7)
          .withColumn("mean_c", col("sx") / 7)
          .withColumn("var_c", (col("sxx") - col("sx") * col("sx") / 7) / 6)
          .select(col("event_type"), col("day"), col("cents"),
            round(col("mean_c"), 2).as("roll_mean"),
            when(col("var_c") > 0,
              round((col("cents") - col("mean_c")) / sqrt(col("var_c")), 4))
              .otherwise(lit(0.0)).as("z"),
            (col("var_c") > 0 &&
              abs(col("cents") - col("mean_c")) > lit(3) * sqrt(col("var_c")))
              .as("is_anomaly"))
          .orderBy("event_type", "day")
      },
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |  FROM events GROUP BY 1, 2),
             |f AS (
             |  SELECT event_type, day, cents,
             |    COUNT(cents) OVER w AS n_w,
             |    CAST(SUM(cents) OVER w AS DOUBLE) AS sx,
             |    CAST(SUM(cents * cents) OVER w AS DOUBLE) AS sxx
             |  FROM daily
             |  WINDOW w AS (PARTITION BY event_type ORDER BY day
             |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
             |m AS (
             |  SELECT event_type, day, cents, sx / 7 AS mean_c,
             |         (sxx - sx * sx / 7) / 6 AS var_c
             |  FROM f WHERE n_w = 7)
             |SELECT event_type, day, cents,
             |  ROUND(mean_c, 2) AS roll_mean,
             |  CASE WHEN var_c > 0
             |       THEN ROUND((cents - mean_c) / SQRT(var_c), 4) ELSE 0.0 END AS z,
             |  var_c > 0 AND ABS(cents - mean_c) > 3 * SQRT(var_c) AS is_anomaly
             |FROM m ORDER BY event_type, day""".stripMargin)),

    // Kaplan–Meier survival for time-to-first-purchase under 48-hour
    // administrative censoring — the time-to-event family (retention
    // counts cohorts; this estimates the survival FUNCTION under
    // right-censoring): duration = whole hours from a user's first
    // event to their first purchase; each user is followed for a fixed
    // 48 h study window, so later (or absent) purchases censor at 48 —
    // the standard fixed-follow-up design. The fact table reduces to
    // one (first_ts, first_purchase_ts) row per user FIRST; everything
    // after — per-hour death/censor counts, the at-risk ladder
    // n_t = Σ_{u≥t} leavers (a window over the ≤49-row duration table,
    // constant-sized at any SF), and the KM product Π(1 − d/n) folded
    // in duration order — is horizon-bounded. Terms are one double
    // division per duration from exact integers; the fold replays in
    // DuckDB as list_reduce over the same ordered list (SCALAR double
    // accumulator — safe; the composite-acc bug is documented at
    // q_holt_linear), seeded by list_prepend(1.0, …). Hours come from
    // FLOOR'd epoch seconds on both sides: DuckDB's epoch() is a
    // DOUBLE whose bare BIGINT cast ROUNDS where Spark's
    // timestamp→long cast truncates.
    "q_survival_km" -> QueryDef(
      "Kaplan-Meier time-to-first-purchase, 48h administrative censoring",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val per = Tables.events(s, dir)
          .groupBy("user_id")
          .agg(min(col("ts")).as("ft"),
            min(when(col("event_type") === "purchase", col("ts"))).as("pt"))
        val tbl = per
          .withColumn("diff_s",
            Tables.epochSeconds(col("pt")) - Tables.epochSeconds(col("ft")))
          .withColumn("h", expr("diff_s DIV 3600"))
          .select(
            (col("pt").isNotNull && col("h") <= 48).as("observed"),
            col("h"))
          .select(when(col("observed"), col("h")).otherwise(48L).as("dur"),
            col("observed"))
        val byT = tbl.groupBy("dur")
          .agg(count(when(col("observed"), 1)).as("d"), count(lit(1)).as("leavers"))
        // at-risk ladder: a single-partition window is FINE here — its
        // input is the per-duration table, calendar-bounded (≤ |days|
        // rows) at any SF, not data-sized like the customer rollup that
        // made q_pareto_curve's global window a scale bug
        val ladder = byT
          .withColumn("n_at_risk", sum(col("leavers")).over(
            Window.orderBy(col("dur").asc)
              .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
          .select(col("dur"), col("d"), col("n_at_risk"))
        def surv(h: Int) = round(aggregate(
          filter(col("arr"), e => e.getField("dur") <= h),
          lit(1.0),
          (acc, e) => acc * (lit(1.0) -
            e.getField("d").cast("double") / e.getField("n").cast("double"))), 6)
        ladder
          .agg(sum(col("d")).as("n_deaths"),
            sort_array(collect_list(struct(col("dur"),
              col("d"), col("n_at_risk").as("n")))).as("arr"))
          .select(
            size(col("arr")).cast("long").as("n_durations"),
            col("n_deaths"),
            surv(6).as("s6"), surv(12).as("s12"),
            surv(24).as("s24"), surv(48).as("s48"))
      },
      Some("""WITH per AS (
             |  SELECT user_id, MIN(ts) AS ft,
             |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS pt
             |  FROM events GROUP BY user_id),
             |t AS (
             |  SELECT CASE WHEN observed THEN h ELSE 48 END AS dur, observed
             |  FROM (SELECT h, pt IS NOT NULL AND h <= 48 AS observed
             |        FROM (SELECT (CAST(FLOOR(epoch(pt)) AS BIGINT) -
             |                      CAST(FLOOR(epoch(ft)) AS BIGINT)) // 3600 AS h, pt
             |              FROM per))),
             |byt AS (
             |  SELECT dur, COUNT(*) FILTER (WHERE observed) AS d,
             |    COUNT(*) AS leavers
             |  FROM t GROUP BY dur),
             |ladder AS (
             |  SELECT dur, d,
             |    SUM(leavers) OVER (ORDER BY dur
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
             |  FROM byt),
             |arr AS (
             |  SELECT CAST(SUM(d) AS BIGINT) AS n_deaths, COUNT(*) AS n_durations,
             |    list({'dur': dur, 'd': d, 'n': n} ORDER BY dur) AS a
             |  FROM ladder)
             |SELECT n_durations, n_deaths,
             |  ROUND(list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
             |    list_transform(list_filter(a, e -> e.dur <= 6),
             |      e -> 1.0 - CAST(e.d AS DOUBLE) / CAST(e.n AS DOUBLE))),
             |    (acc, x) -> acc * x), 6) AS s6,
             |  ROUND(list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
             |    list_transform(list_filter(a, e -> e.dur <= 12),
             |      e -> 1.0 - CAST(e.d AS DOUBLE) / CAST(e.n AS DOUBLE))),
             |    (acc, x) -> acc * x), 6) AS s12,
             |  ROUND(list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
             |    list_transform(list_filter(a, e -> e.dur <= 24),
             |      e -> 1.0 - CAST(e.d AS DOUBLE) / CAST(e.n AS DOUBLE))),
             |    (acc, x) -> acc * x), 6) AS s24,
             |  ROUND(list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
             |    list_transform(list_filter(a, e -> e.dur <= 48),
             |      e -> 1.0 - CAST(e.d AS DOUBLE) / CAST(e.n AS DOUBLE))),
             |    (acc, x) -> acc * x), 6) AS s48
             |FROM arr""".stripMargin)),

    // Lag-k AUTOCORRELATION of the daily-revenue series — the
    // seasonality probe every time-series pipeline runs before picking
    // forecast features. The fact table reduces to one BIGINT-cents row
    // per day FIRST (partial aggs absorb the events scan; everything
    // after is date-bounded, ≤ |days| rows), then each lag's (x_t,
    // x_{t+L}) pairs come from a date-shifted self-join of that tiny
    // series. Pearson r rides EXACT decimal moment sums (n·Σxy − ΣxΣy
    // etc. in DECIMAL(38,0) — bit-identical in any engine and under any
    // partitioning); doubles appear only in the final sqrt/divide of
    // two exact scalars, so the rounded r is deterministic.
    "q_autocorr" -> QueryDef(
      "Lag 1-7 autocorrelation of daily total cents (exact moment sums)",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("x"))
        val dec = "decimal(38,0)"
        val pairs = (1 to 7).map { lag =>
          daily.select(col("day"), col("x").as("xa"))
            .join(daily.select(col("day").as("day_b"), col("x").as("xb")),
              col("day_b") === date_add(col("day"), lag))
            .select(lit(lag).as("lag"), col("xa"), col("xb"))
        }.reduce(_ unionByName _)
        pairs.groupBy("lag")
          .agg(count(lit(1)).cast(dec).as("n"),
            sum(col("xa").cast(dec)).as("sx"), sum(col("xb").cast(dec)).as("sy"),
            // cast BEFORE multiplying: long*long would overflow first at
            // ~1e10 daily cents; decimal products can't
            sum(col("xa").cast(dec) * col("xa").cast(dec)).as("sxx"),
            sum(col("xb").cast(dec) * col("xb").cast(dec)).as("syy"),
            sum(col("xa").cast(dec) * col("xb").cast(dec)).as("sxy"))
          .select(col("lag"), col("n").cast("long").as("n_pairs"),
            round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
                sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 4)
              .as("r"))
          .orderBy("lag")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
             |  FROM events GROUP BY 1),
             |pairs AS (
             |  SELECT l.lag, a.x AS xa, b.x AS xb
             |  FROM (SELECT unnest(range(1, 8)) AS lag) l
             |  JOIN daily a ON TRUE
             |  JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)),
             |m AS (
             |  SELECT lag, COUNT(*) AS n,
             |    SUM(CAST(xa AS HUGEINT)) AS sx, SUM(CAST(xb AS HUGEINT)) AS sy,
             |    SUM(CAST(xa AS HUGEINT) * xa) AS sxx,
             |    SUM(CAST(xb AS HUGEINT) * xb) AS syy,
             |    SUM(CAST(xa AS HUGEINT) * xb) AS sxy
             |  FROM pairs GROUP BY lag)
             |SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
             |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
             |    (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
             |     SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 4) AS r
             |FROM m ORDER BY lag""".stripMargin)),

    // CUSUM change-point detection over the daily-revenue series — the
    // regime-shift probe next to q_anomaly_rolling (point outliers) and
    // q_autocorr (seasonality): the detected change point is the day k
    // maximizing |Σ_{i≤k}(x_i − x̄)|, the classic cumulative-sum
    // statistic. The argmax runs on EXACT integers: n·S_k = n·cum_k −
    // k·total in DECIMAL(38,0), so ties and orderings cannot drift
    // between engines; doubles appear only in the reported magnitudes.
    // Scale: the fact table reduces to one BIGINT-cents row per day
    // FIRST — the unpartitioned cumulative window after that runs over
    // the ≤|days| series (date-bounded state, the q_autocorr posture),
    // never over facts.
    "q_changepoint_cusum" -> QueryDef(
      "CUSUM change point of daily total cents: argmax |n*cum_k - k*total| (exact integers)",
      (s, dir) => {
        val dec = "decimal(38,0)"
        val daily = Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
        val w = Window.orderBy("day")
        val tot = daily.agg(count(lit(1)).cast(dec).as("n"),
          sum(col("cents").cast(dec)).as("total"))
        daily
          .select(col("day"),
            row_number().over(w).cast(dec).as("k"),
            sum(col("cents").cast(dec))
              .over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cum"))
          .crossJoin(broadcast(tot))
          .withColumn("m", col("n") * col("cum") - col("k") * col("total"))
          .orderBy(abs(col("m")).desc, col("day").asc)
          .limit(1)
          .select(
            col("n").cast("long").as("n_days"),
            col("day").as("cp_day"),
            round(col("m").cast("double") / col("n").cast("double"), 4)
              .as("cusum_cents"),
            round(col("cum").cast("double") / col("k").cast("double"), 4)
              .as("mean_before"),
            // nullif: a change point AT the last day (all-zero series)
            // has no "after" side — NULL, not a divide-by-zero
            round((col("total") - col("cum")).cast("double") /
              nullif((col("n") - col("k")).cast("double"), lit(0.0)), 4)
              .as("mean_after"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |  FROM events GROUP BY 1),
             |cw AS (
             |  SELECT day,
             |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS HUGEINT) AS k,
             |    SUM(CAST(cents AS HUGEINT)) OVER (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM daily),
             |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             |               SUM(CAST(cents AS HUGEINT)) AS total FROM daily),
             |m AS (
             |  SELECT day, k, cum, n, total, n * cum - k * total AS m
             |  FROM cw CROSS JOIN tot)
             |SELECT CAST(n AS BIGINT) AS n_days, day AS cp_day,
             |  ROUND(CAST(m AS DOUBLE) / CAST(n AS DOUBLE), 4) AS cusum_cents,
             |  ROUND(CAST(cum AS DOUBLE) / CAST(k AS DOUBLE), 4) AS mean_before,
             |  ROUND(CAST(total - cum AS DOUBLE) /
             |    NULLIF(CAST(n - k AS DOUBLE), 0.0), 4) AS mean_after
             |FROM m ORDER BY ABS(m) DESC, day ASC LIMIT 1""".stripMargin)),

    // Multiplicative day-of-week seasonal index — the decomposition step
    // between q_autocorr (detects weekly structure) and q_holt_linear
    // (forecasts the level): per weekday, the mean daily revenue as a
    // ratio to the overall daily mean, plus each weekday's peak day
    // (rank by cents DESC, day ASC — deterministic ties). All divisions
    // are double ops on identical exact-integer inputs in both engines.
    // Scale: same fact-once shape — one partial+final reduce to the
    // day series, then everything is ≤|days| rows; the seasonal table
    // itself is exactly 7 rows at any SF.
    "q_seasonal_index" -> QueryDef(
      "Day-of-week multiplicative seasonal index of daily cents + per-dow peak day",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
          .withColumn("dow", dayofweek(col("day")) - 1)
        val tot = daily.agg(count(lit(1)).as("n_all"), sum("cents").as("sum_all"))
        val peak = Window.partitionBy("dow").orderBy(col("cents").desc, col("day").asc)
        daily
          .withColumn("pk", row_number().over(peak))
          .groupBy("dow")
          .agg(count(lit(1)).as("n_days"),
            sum("cents").as("sum_cents"),
            max(when(col("pk") === 1, col("day"))).as("peak_day"),
            max(when(col("pk") === 1, col("cents"))).as("peak_cents"))
          .crossJoin(broadcast(tot))
          .select(col("dow"), col("n_days"),
            round(col("sum_cents").cast("double") / col("n_days").cast("double"), 4)
              .as("avg_cents"),
            round((col("sum_cents").cast("double") / col("n_days").cast("double")) /
              (col("sum_all").cast("double") / col("n_all").cast("double")), 6)
              .as("seasonal_index"),
            col("peak_day"), col("peak_cents"))
          .orderBy("dow")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |  FROM events GROUP BY 1),
             |d AS (SELECT day, cents, dayofweek(day) AS dow,
             |        ROW_NUMBER() OVER (PARTITION BY dayofweek(day)
             |                           ORDER BY cents DESC, day ASC) AS pk
             |      FROM daily),
             |tot AS (SELECT COUNT(*) AS n_all, SUM(cents) AS sum_all FROM daily),
             |g AS (
             |  SELECT dow, COUNT(*) AS n_days, SUM(cents) AS sum_cents,
             |    MAX(CASE WHEN pk = 1 THEN day END) AS peak_day,
             |    MAX(CASE WHEN pk = 1 THEN cents END) AS peak_cents
             |  FROM d GROUP BY dow)
             |SELECT CAST(dow AS INT) AS dow, n_days,
             |  ROUND(CAST(sum_cents AS DOUBLE) / CAST(n_days AS DOUBLE), 4) AS avg_cents,
             |  ROUND((CAST(sum_cents AS DOUBLE) / CAST(n_days AS DOUBLE)) /
             |    (CAST(sum_all AS DOUBLE) / CAST(n_all AS DOUBLE)), 6) AS seasonal_index,
             |  peak_day, CAST(peak_cents AS BIGINT) AS peak_cents
             |FROM g CROSS JOIN tot ORDER BY dow""".stripMargin)),

    // IGNORE NULLS lag: carry the most recent HIGH-value order's price
    // past any number of low-value orders — the sparse-series lookup
    // shape (sensor last-reading, last-known-price) that a plain lag(1)
    // cannot express.
    "q_window_lag_ignore_nulls" -> QueryDef(
      "lag(high-value price IGNORE NULLS): last prior high order per customer",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        Tables.orders(s, dir)
          .filter(col("o_custkey") % 100 === 0)
          .withColumn("high_price", when(col("o_totalprice") >= 200000, col("o_totalprice")))
          .select(col("o_custkey"), col("o_orderkey"),
            lag(col("high_price"), 1, null, ignoreNulls = true).over(w).as("prev_high_price"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  LAG(CASE WHEN o_totalprice >= 200000 THEN o_totalprice END, 1 IGNORE NULLS)
             |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
             |    AS prev_high_price
             |FROM orders WHERE o_custkey % 100 = 0
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // SCD2 history build (gaps-and-islands): collapse each customer's
    // order stream into priority "versions" — a new version starts
    // whenever o_orderpriority differs from the previous order's — and
    // emit effective ranges [eff_from, eff_to) with the open version
    // flagged current. This is the warehouse type-2 dimension build from
    // a change stream: two windows over the same (custkey) partitioning
    // (Catalyst plans ONE exchange; the version re-window rides the same
    // hash partitioning), then a per-version aggregate. At 100 TB the
    // customer key partitions the work; nothing is global.
    "q_scd2_history" -> QueryDef(
      "Type-2 effective-dated priority history per customer (islands + LEAD)",
      (s, dir) => scd2History(s, dir).orderBy("o_custkey", "version"),
      Some("""WITH v AS (
             |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             |    CASE WHEN LAG(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
             |         THEN 1 ELSE 0 END AS chg
             |  FROM orders WHERE o_custkey % 50 = 0
             |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)),
             |n AS (
             |  SELECT o_custkey, o_orderdate, o_orderpriority,
             |    CAST(SUM(chg) OVER (PARTITION BY o_custkey
             |                        ORDER BY o_orderdate ASC, o_orderkey ASC
             |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
             |  FROM v),
             |g AS (
             |  SELECT o_custkey, version, o_orderpriority,
             |    MIN(o_orderdate) AS eff_from, COUNT(*) AS n_orders
             |  FROM n GROUP BY o_custkey, version, o_orderpriority)
             |SELECT o_custkey, version, o_orderpriority, eff_from, n_orders,
             |  LEAD(eff_from) OVER (PARTITION BY o_custkey ORDER BY version) AS eff_to,
             |  LEAD(eff_from) OVER (PARTITION BY o_custkey ORDER BY version) IS NULL
             |    AS is_current
             |FROM g ORDER BY o_custkey, version""".stripMargin)),

    // Temporal (point-in-time) join: every order of the sliced customers
    // looked up against the SCD2 history at its own order date — the
    // consumption side of q_scd2_history's build, driven through the
    // NATIVE partitioned as-of operator (backward on eff_from, version
    // as the tie-break so a same-day flip resolves to the latest
    // version, exactly the row_number-DESC pick the oracle makes).
    // n_self counts lookups whose resolved dimension value equals the
    // fact's own attribute — the reconciliation number a warehouse
    // backfill audit watches. At 100 TB both sides hash-partition on
    // the customer key; the history is version-compressed, so the
    // as-of build side is orders-of-magnitude smaller than the facts.
    "q_temporal_join" -> QueryDef(
      "Point-in-time lookup of facts against SCD2 validity ranges (native as-of)",
      (s, dir) => {
        val hist = scd2History(s, dir)
          .select(col("o_custkey"), col("version"),
            col("o_orderpriority").as("dim_priority"),
            col("eff_from").as("pit"))
        val facts = Tables.orders(s, dir)
          .filter(col("o_custkey") % 50 === 0)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
            col("o_orderdate").as("pit"))
        graft.ops.AsOfJoin.leftAsOfPartitioned(
          facts, hist,
          keyCol = "o_custkey", tsCol = "pit",
          valueCols = Seq("dim_priority"), rightTieBreak = "version")
          .groupBy(col("asof_dim_priority").as("dim_priority"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("asof_dim_priority") === col("o_orderpriority"), 1L)
              .otherwise(0L)).as("n_self"))
          .orderBy("dim_priority")
      },
      Some("""WITH v AS (
             |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             |    CASE WHEN LAG(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
             |         THEN 1 ELSE 0 END AS chg
             |  FROM orders WHERE o_custkey % 50 = 0
             |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)),
             |n AS (
             |  SELECT o_custkey, o_orderdate, o_orderpriority,
             |    CAST(SUM(chg) OVER (PARTITION BY o_custkey
             |                        ORDER BY o_orderdate ASC, o_orderkey ASC
             |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
             |  FROM v),
             |hist AS (
             |  SELECT o_custkey, version, o_orderpriority AS dim_priority,
             |    MIN(o_orderdate) AS eff_from
             |  FROM n GROUP BY o_custkey, version, dim_priority),
             |pick AS (
             |  SELECT o.o_orderkey, o.o_orderpriority, h.dim_priority,
             |    ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
             |                       ORDER BY h.eff_from DESC, h.version DESC) AS rk
             |  FROM (SELECT * FROM orders WHERE o_custkey % 50 = 0) o
             |  JOIN hist h ON h.o_custkey = o.o_custkey AND h.eff_from <= o.o_orderdate)
             |SELECT dim_priority, COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN dim_priority = o_orderpriority THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_self
             |FROM pick WHERE rk = 1
             |GROUP BY dim_priority ORDER BY dim_priority""".stripMargin))
  )

  /** Shared SCD2 build for q_scd2_history and q_temporal_join: collapse
    * each customer's order stream into effective-dated priority versions
    * (gaps-and-islands; both windows ride ONE custkey exchange).
    */
  private def scd2History(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val versioned = Tables.orders(s, dir)
      .filter(col("o_custkey") % 50 === 0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("o_orderpriority"), 1L)
          .otherwise(0L))
      .withColumn("version", sum("chg").over(w))
    val wv = Window.partitionBy("o_custkey").orderBy("version")
    versioned
      .groupBy("o_custkey", "version", "o_orderpriority")
      .agg(min("o_orderdate").as("eff_from"), count(lit(1)).as("n_orders"))
      .withColumn("eff_to", lead(col("eff_from"), 1).over(wv))
      .withColumn("is_current", col("eff_to").isNull)
  }
}
