package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, QueryPack, Tables}

/** Join coverage (SURVEY.md §2.3: absent in the reference, required of the
  * engine) over the star schema.
  *
  * Strategy notes for 100 TB: dimension tables (region/nation/supplier/
  * customer/part) are broadcast — no shuffle of the fact side; fact-fact
  * joins (lineitem ⋈ orders) shuffle on the join key and stay sort-merge,
  * with AQE free to convert to broadcast when the build side turns out
  * small. Semi/anti joins are expressed as join types (not IN-subquery
  * collects) so Catalyst plans them as broadcast/shuffled hash semi-joins.
  */
object JoinPack extends QueryPack {

  /** Source dir whose bucketed ingest tables are current. Bucketing is
    * pay-once-at-ingest; this memo makes repeat invocations over the
    * same dir (bench passes, verify) reuse the written buckets, while a
    * dir change (scale trend's amplified copies) re-ingests.
    */
  @volatile private var bucketedFor: Option[String] = None

  /** One warehouse dir per JVM, overwritten on re-ingest — a fresh temp
    * dir per dir-switch would orphan the previous bucketed copies
    * (DROP TABLE on a path-based table leaves its files).
    */
  private lazy val bucketedWarehouse: String =
    java.nio.file.Files.createTempDirectory("graft-bucketed").toString

  private def ensureBucketedTables(s: org.apache.spark.sql.SparkSession, dir: String): Unit =
    synchronized {
      val stale = !bucketedFor.contains(dir) ||
        !s.catalog.tableExists("graft_bucketed_lineitem") ||
        !s.catalog.tableExists("graft_bucketed_orders")
      if (stale) {
        val buckets = 8
        val wh = bucketedWarehouse
        val l = Tables.lineitem(s, dir)
          .filter(col("l_orderkey") % 4 === 0)
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
          .repartition(buckets, col("l_orderkey"))
        val o = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 4 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .repartition(buckets, col("o_orderkey"))
        s.sql("DROP TABLE IF EXISTS graft_bucketed_lineitem")
        s.sql("DROP TABLE IF EXISTS graft_bucketed_orders")
        l.write.mode("overwrite").option("path", s"$wh/lineitem")
          .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable("graft_bucketed_lineitem")
        o.write.mode("overwrite").option("path", s"$wh/orders")
          .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable("graft_bucketed_orders")
        bucketedFor = Some(dir)
      }
    }

  def queries: Map[String, QueryDef] = Map(

    // Broadcast dim-chain join: customer ⋈ nation ⋈ region.
    "q_join_broadcast_dims" -> QueryDef(
      "Customer rollup by region via two broadcast joins (no fact shuffle)",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val n = broadcast(Tables.nation(s, dir))
        val r = broadcast(Tables.region(s, dir))
        c.join(n, c("c_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_customers"), round(avg("c_acctbal"), 4).as("avg_acctbal"))
          .orderBy("r_name")
      },
      Some("""SELECT r_name, COUNT(*) AS n_customers, ROUND(AVG(c_acctbal), 4) AS avg_acctbal
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // Fact-fact shuffle join: lineitem ⋈ orders on the shared key.
    "q_join_fact_fact" -> QueryDef(
      "lineitem ⋈ orders revenue per priority; sort-merge on l_orderkey/o_orderkey",
      (s, dir) => {
        val l = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |  COUNT(*) AS n_items
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Manual salted join under deliberate key skew: 90% of lineitem rows
    // are remapped onto ONE hot order key, the classic straggler shape.
    // The big side is sub-split by a deterministic row hash, the small
    // side replicated per salt, and the join runs on (key, salt) — the
    // hot key's rows spread across `salts` tasks instead of one. This is
    // the MANUAL mitigation for when AQE's skew split can't apply (it
    // only rewrites shuffle-stage equi joins it can see; derived keys
    // behind expansions, or aggregation skew, need the compose). The
    // oracle is the plain unsalted join — salting must be invisible in
    // the result.
    "q_skew_join_salted" -> QueryDef(
      "Hot-key (90%-skewed) lineitem join via salted sub-split keys, per-priority rollup",
      (s, dir) => {
        val salts = 8
        val big = Tables.lineitem(s, dir)
          .select(
            when(col("l_orderkey") % 10 =!= 0, lit(1L))
              .otherwise(col("l_orderkey")).as("k"),
            col("l_quantity"), col("l_partkey"))
          .withColumn("_salt", pmod(hash(col("l_partkey")), lit(salts)))
        val sml = Tables.orders(s, dir)
          .select(col("o_orderkey").as("k"), col("o_orderpriority"))
          .withColumn("_salt", graft.ops.Salting.explodeSalts(salts))
        // shuffle_hash, explicitly: Catalyst sizes the join from the
        // PRE-explode file stats, so at larger SFs it would broadcast
        // the ×salts-replicated side (measured at ×16: a 9.8 GiB
        // broadcast attempt / 15-26 s; the hinted shuffle join runs in
        // 2.7 s with the hot key spread across the salt buckets).
        big.join(sml.hint("shuffle_hash"), Seq("k", "_salt"))
          .groupBy("o_orderpriority")
          .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n_items"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH big AS (
             |  SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 1 ELSE l_orderkey END AS k,
             |         l_quantity
             |  FROM lineitem)
             |SELECT o_orderpriority, ROUND(SUM(l_quantity), 2) AS sum_qty,
             |  COUNT(*) AS n_items
             |FROM big JOIN orders ON k = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Left-semi join (EXISTS).
    "q_join_semi" -> QueryDef(
      "Orders having a high-discount line (left_semi = EXISTS, no row duplication)",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir).filter(col("l_discount") >= 0.09)
        o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS sum_price
             |FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_discount >= 0.09)
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Left-anti join (NOT EXISTS). Orders restricted to a recent window so
    // the anti side is non-empty at every scale factor.
    "q_join_anti" -> QueryDef(
      "Customers with no orders since 2001 (left_anti = NOT EXISTS)",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"), round(avg("c_acctbal"), 4).as("avg_acctbal"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_customers, ROUND(AVG(c_acctbal), 4) AS avg_acctbal
             |FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey
             |                    AND o_orderdate >= TIMESTAMP '2001-01-01')
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Left-outer join preserving unmatched left rows.
    "q_join_outer" -> QueryDef(
      "Order line-counts including zero-line orders (left outer + count of right key)",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        o.join(l, o("o_orderkey") === l("l_orderkey"), "left_outer")
          .groupBy("o_orderkey")
          .agg(count(col("l_linenumber")).as("n_lines"))
          .groupBy("n_lines")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("n_lines")
      },
      Some("""SELECT n_lines, COUNT(*) AS n_orders
             |FROM (SELECT o_orderkey, COUNT(l_linenumber) AS n_lines
             |      FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
             |      GROUP BY o_orderkey)
             |GROUP BY n_lines ORDER BY n_lines""".stripMargin)),

    // TPC-H Q3 shape: segment filter + 3-way join + grouped revenue + top-k.
    "q_shipping_priority" -> QueryDef(
      "TPC-H Q3-like: filter customer segment, join orders+lineitem, top-10 revenue",
      (s, dir) => {
        val c = broadcast(Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING"))
        val o = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        c.join(o, c("c_custkey") === o("o_custkey"))
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM customer
             |JOIN orders   ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-01-01'
             |  AND l_shipdate  > TIMESTAMP '1998-01-01'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey ASC
             |LIMIT 10""".stripMargin)),

    // As-of (point-in-time) join: composed union+window (ops/AsOfJoin),
    // oracled against DuckDB's native ASOF JOIN.
    "q_asof_join" -> QueryDef(
      "For each error event, the user's most recent click at-or-before it",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val errors = ev.filter(col("event_type") === "error")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        graft.ops.AsOfJoin.leftAsOf(
          errors, clicks,
          keyCol = "user_id", tsCol = "ts",
          valueCols = Seq("click_id"), rightTieBreak = "click_id")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_click_id").as("prev_click_id"))
          .orderBy("event_id")
      },
      Some("""SELECT a.event_id, a.user_id, a.ts, b.event_id AS prev_click_id
             |FROM (SELECT * FROM events WHERE event_type = 'error') a
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b
             |  ON a.user_id = b.user_id AND b.ts <= a.ts
             |ORDER BY a.event_id""".stripMargin)),

    // Forward (look-ahead) as-of: earliest right row AT-OR-AFTER each
    // left row — next-event attribution ("which click followed this
    // error"). Same union+window construction as backward, scanning the
    // mirrored ts order; oracle = DuckDB ASOF with b.ts >= a.ts.
    "q_asof_forward" -> QueryDef(
      "For each error event, the user's next click at-or-after it (forward as-of)",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val errors = ev.filter(col("event_type") === "error")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        graft.ops.AsOfJoin.leftAsOf(
          errors, clicks,
          keyCol = "user_id", tsCol = "ts",
          valueCols = Seq("click_id"), rightTieBreak = "click_id",
          direction = "forward")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_click_id").as("next_click_id"))
          .orderBy("event_id")
      },
      Some("""SELECT a.event_id, a.user_id, a.ts, b.event_id AS next_click_id
             |FROM (SELECT * FROM events WHERE event_type = 'error') a
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b
             |  ON a.user_id = b.user_id AND b.ts >= a.ts
             |ORDER BY a.event_id""".stripMargin)),

    // Same as-of semantics through the native whole-operator path:
    // AsOfJoinPlan → AsOfJoinStrategy → BroadcastAsOfJoinExec (the (c)
    // tier of the custom-operator ladder). Clicks are the broadcast-built
    // side; errors (probe) never move.
    "q_asof_native" -> QueryDef(
      "As-of join via the native broadcast operator (custom SparkStrategy)",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val errors = ev.filter(col("event_type") === "error")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        graft.ops.AsOfJoin.leftAsOfBroadcast(
          errors, clicks,
          keyCol = "user_id", tsCol = "ts",
          valueCols = Seq("click_id"), rightTieBreak = "click_id")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_click_id").as("prev_click_id"))
          .orderBy("event_id")
      },
      Some("""SELECT a.event_id, a.user_id, a.ts, b.event_id AS prev_click_id
             |FROM (SELECT * FROM events WHERE event_type = 'error') a
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b
             |  ON a.user_id = b.user_id AND b.ts <= a.ts
             |ORDER BY a.event_id""".stripMargin)),

    // Same as-of semantics through the PARTITIONED native operator:
    // AsOfJoinPlan → SortMergeAsOfJoinExec. Both sides hash-partition on
    // user_id and merge per partition — the fact-fact path with no driver
    // collect, proving the non-broadcast native operator end-to-end
    // against the same DuckDB ASOF oracle.
    "q_asof_partitioned" -> QueryDef(
      "As-of join via the native partitioned (sort-merge) operator",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val errors = ev.filter(col("event_type") === "error")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        graft.ops.AsOfJoin.leftAsOfPartitioned(
          errors, clicks,
          keyCol = "user_id", tsCol = "ts",
          valueCols = Seq("click_id"), rightTieBreak = "click_id")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_click_id").as("prev_click_id"))
          .orderBy("event_id")
      },
      Some("""SELECT a.event_id, a.user_id, a.ts, b.event_id AS prev_click_id
             |FROM (SELECT * FROM events WHERE event_type = 'error') a
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b
             |  ON a.user_id = b.user_id AND b.ts <= a.ts
             |ORDER BY a.event_id""".stripMargin)),

    // Non-equi (range) theta join on a bounded slice: pairs of orders by
    // the same customer placed within 7 days of each other.
    "q_join_range" -> QueryDef(
      "Same-customer order pairs within 7 days (non-equi range join)",
      (s, dir) => {
        val o = Tables.orders(s, dir).filter(col("o_custkey") % 100 === 0)
          .select(col("o_custkey"), col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
        val a = o.select(col("o_custkey"), col("o_orderkey").as("k_a"), col("d").as("d_a"))
        val b = o.select(col("o_custkey").as("ck_b"), col("o_orderkey").as("k_b"), col("d").as("d_b"))
        a.join(b,
          col("o_custkey") === col("ck_b") && col("k_a") < col("k_b") &&
            abs(datediff(col("d_a"), col("d_b"))) <= 7)
          .select(col("o_custkey"), col("k_a"), col("k_b"),
            datediff(col("d_b"), col("d_a")).as("gap_days"))
          .orderBy("o_custkey", "k_a", "k_b")
      },
      Some("""SELECT a.o_custkey, a.o_orderkey AS k_a, b.o_orderkey AS k_b,
             |  datediff('day', CAST(a.o_orderdate AS DATE), CAST(b.o_orderdate AS DATE)) AS gap_days
             |FROM orders a JOIN orders b
             |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
             |  AND abs(datediff('day', CAST(b.o_orderdate AS DATE), CAST(a.o_orderdate AS DATE))) <= 7
             |WHERE a.o_custkey % 100 = 0
             |ORDER BY a.o_custkey, k_a, k_b""".stripMargin)),

    // PURE non-equi band join (no equality key at all): Spark's native
    // plan is a BroadcastNestedLoopJoin — O(n·m); ops/BandJoin turns it
    // into a shuffle-parallel equi join on floor-bucket ids (candidates
    // meet only through same/adjacent buckets). Oracle = the plain theta
    // join, so the bucketing must be invisible in the result.
    "q_band_join" -> QueryDef(
      "Order pairs within $100 total price of each other (pure band join, bucketed)",
      (s, dir) => {
        val o = Tables.orders(s, dir).filter(col("o_custkey") % 50 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
        graft.ops.BandJoin.selfPairs(o, "o_orderkey", "o_totalprice", width = 100.0)
          .select(col("k_a"), col("k_b"),
            round(abs(col("v_a") - col("v_b")), 2).as("price_gap"))
          .orderBy("k_a", "k_b")
      },
      Some("""SELECT a.o_orderkey AS k_a, b.o_orderkey AS k_b,
             |  ROUND(abs(a.o_totalprice - b.o_totalprice), 2) AS price_gap
             |FROM orders a JOIN orders b
             |  ON a.o_orderkey < b.o_orderkey
             | AND abs(a.o_totalprice - b.o_totalprice) <= 100.0
             |WHERE a.o_custkey % 50 = 0 AND b.o_custkey % 50 = 0
             |ORDER BY k_a, k_b""".stripMargin)),

    // TPC-H Q5 shape: full star join, revenue per nation.
    "q_local_revenue" -> QueryDef(
      "TPC-H Q5-like: customer+orders+lineitem+supplier+nation star join, broadcast dims",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        val sup = broadcast(Tables.supplier(s, dir))
        val n = broadcast(Tables.nation(s, dir))
        c.join(o, c("c_custkey") === o("o_custkey"))
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(n, sup("s_nationkey") === n("n_nationkey"))
          .groupBy("n_name")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name,
             |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |  COUNT(*) AS n_items
             |FROM customer
             |JOIN orders   ON c_custkey  = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |JOIN supplier ON l_suppkey  = s_suppkey
             |JOIN nation   ON s_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // CDC snapshot diff: classify every key across two snapshots of the
    // same derived table (per-customer revenue at two cutoffs, the newer
    // one also dropping 'F'-status orders so deletes genuinely occur) as
    // insert / update / delete / unchanged via ONE full-outer join. This
    // is the change-capture primitive behind incremental loads and audit
    // diffs. Both snapshots aggregate before joining, so the join sides
    // are key-cardinality, not fact-cardinality; the full-outer join
    // shuffles both sides on the SAME key Catalyst already partitioned
    // the aggregates by — at 100 TB the exchanges reuse.
    "q_snapshot_diff" -> QueryDef(
      "CDC classify (insert/update/delete/unchanged) between two revenue snapshots",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        // classification compares EXACT decimal sums (order-independent in
        // both engines); the rounded-double rev is display-only, so a sum
        // landing on a rounding boundary can't flip update vs unchanged
        def snap(pred: org.apache.spark.sql.Column) =
          o.filter(pred).groupBy("o_custkey")
            .agg(
              round(sum("o_totalprice"), 2).as("rev"),
              sum(col("o_totalprice").cast("decimal(12,2)")).as("revx"))
        val a = snap(year(col("o_orderdate")) < 1997)
          .select(col("o_custkey").as("k"), col("rev").as("rev_a"), col("revx").as("revx_a"))
        val b = snap(year(col("o_orderdate")) < 1999 && col("o_orderstatus") =!= "F")
          .select(col("o_custkey").as("k"), col("rev").as("rev_b"), col("revx").as("revx_b"))
        a.join(b, Seq("k"), "full_outer")
          .withColumn("op",
            when(col("revx_a").isNull, "insert")
              .when(col("revx_b").isNull, "delete")
              .when(col("revx_a") =!= col("revx_b"), "update")
              .otherwise("unchanged"))
          .groupBy("op")
          .agg(
            count(lit(1)).as("n_keys"),
            round(sum(coalesce(col("rev_b"), lit(0.0))), 2).as("sum_rev_new"))
          .orderBy("op")
      },
      Some("""WITH a AS (
             |  SELECT o_custkey AS k, ROUND(SUM(o_totalprice), 2) AS rev_a,
             |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS revx_a
             |  FROM orders WHERE year(o_orderdate) < 1997 GROUP BY o_custkey),
             |b AS (
             |  SELECT o_custkey AS k, ROUND(SUM(o_totalprice), 2) AS rev_b,
             |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS revx_b
             |  FROM orders
             |  WHERE year(o_orderdate) < 1999 AND o_orderstatus <> 'F'
             |  GROUP BY o_custkey),
             |d AS (
             |  SELECT COALESCE(a.k, b.k) AS k, rev_a, rev_b,
             |    CASE WHEN revx_a IS NULL THEN 'insert'
             |         WHEN revx_b IS NULL THEN 'delete'
             |         WHEN revx_a <> revx_b THEN 'update'
             |         ELSE 'unchanged' END AS op
             |  FROM a FULL OUTER JOIN b ON a.k = b.k)
             |SELECT op, COUNT(*) AS n_keys,
             |  ROUND(SUM(COALESCE(rev_b, 0.0)), 2) AS sum_rev_new
             |FROM d GROUP BY op ORDER BY op""".stripMargin)),

    // Bucketed co-located fact-fact join. Both fact slices are written as
    // bucketed tables on the join key (same bucket count, one file per
    // bucket via repartition-before-write, sortBy for on-disk clustering),
    // then joined table-to-table: the per-query Exchange a plain fact-fact
    // join pays vanishes — PlanSpec asserts the join subtree has zero
    // shuffle. This is the pay-once pattern for 100 TB:
    // bucket at ingest, and every later join/agg on the key reads
    // co-located buckets instead of reshuffling the fact table each
    // query. The ingest write is memoized per source dir (pay-ONCE is
    // the semantics — a bench's repeat passes measure the co-located
    // read join, not re-ingest). The oracle is the plain join over the
    // original parquet — bucketing must be invisible in the result.
    "q_bucketed_join" -> QueryDef(
      "Fact-fact join over same-bucketed tables: shuffle-free below the join",
      (s, dir) => {
        ensureBucketedTables(s, dir)
        val bl = s.table("graft_bucketed_lineitem")
        val bo = s.table("graft_bucketed_orders")
        // merge hint: at test SF both sides fit the broadcast threshold,
        // but the pattern being demonstrated is the 100 TB fact-fact case
        // where neither side broadcasts — force the sort-merge path the
        // bucketing exists to serve.
        bl.hint("merge").join(bo, bl("l_orderkey") === bo("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            (sum(round(col("l_extendedprice") * 100, 0).cast("long")) / 100.0)
              .as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_items,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_orderkey % 4 = 0 AND o_orderkey % 4 = 0
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Insert-only incremental maintenance of a JOIN view — the join
    // sibling of q_incremental_agg's mergeable-state refresh: the
    // enriched view (facts ⋈ dims) is materialized from the base batch,
    // and a delta batch joins ONLY its own rows against the (broadcast)
    // dims before appending — the view's history is never re-joined or
    // rewritten. At 100 TB this is how a denormalized serving table
    // tracks an append-only fact stream: refresh cost rides the delta.
    // The oracle is the full join recomputed from scratch — the hash
    // gate is the refresh ≡ rebuild proof.
    "q_ivm_join" -> QueryDef(
      "Join-view IVM: base materialize + delta-only join append == full rebuild",
      (s, dir) => {
        val mv = graft.io.IndexCatalog.resolve(
          s, "ivm-join", s"$dir/lineitem.parquet") { tmp =>
          def enrich(even: Boolean) = Tables.lineitem(s, dir)
            .filter(pmod(col("l_orderkey"), lit(2L)) === (if (even) 0L else 1L))
            .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
            .join(broadcast(Tables.orders(s, dir)
              .select(col("o_orderkey"), col("o_orderpriority"))),
              col("l_orderkey") === col("o_orderkey"))
            .select(col("l_orderkey"), col("qty"), col("o_orderpriority"))
          enrich(even = true).write.mode("overwrite").parquet(s"$tmp/mv")
          enrich(even = false).write.mode("append").parquet(s"$tmp/mv")
        }
        Tables.read(s, s"$mv/mv")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("qty").as("sum_qty"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Interval OVERLAP join — the two-sided generalization of the range
    // join: view windows [ts, ts+1h) against purchase windows
    // [ts, ts+30m) for the same user, pairs where the intervals
    // intersect. The scale shape is the canonical BUCKETED interval
    // join: each interval explodes into the (≤2) hour buckets it
    // touches, the join is EQUI on (user, bucket) — never a nested
    // loop (PlanSpec-asserted) — the exact overlap predicate filters
    // residually, and DISTINCT collapses pairs that met in two buckets.
    // The oracle is the plain theta-join; the hash gate proves the
    // bucketed decomposition finds exactly the same pairs.
    "q_interval_join" -> QueryDef(
      "Bucketed interval-overlap join: view windows x purchase windows per user",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        def side(t: String, durSec: Long, p: String) =
          ev.filter(col("event_type") === t)
            .select(col("user_id"), col("event_id").as(s"${p}_id"),
              Tables.epochSeconds(col("ts")).as(s"${p}_s"))
            .withColumn(s"${p}_e", col(s"${p}_s") + durSec)
        val vb = side("view", 3600L, "v")
          .withColumn("bk", explode(expr("sequence(v_s DIV 3600, (v_e - 1) DIV 3600)")))
        val pb = side("purchase", 1800L, "p")
          .withColumn("bk", explode(expr("sequence(p_s DIV 3600, (p_e - 1) DIV 3600)")))
        vb.join(pb, Seq("user_id", "bk"))
          .filter(col("v_s") < col("p_e") && col("p_s") < col("v_e"))
          .select("user_id", "v_id", "p_id").distinct()
          .agg(count(lit(1)).as("n_pairs"),
            count_distinct(col("user_id")).as("n_users"),
            min("v_id").as("min_view_id"), max("p_id").as("max_purchase_id"))
      },
      Some("""WITH v AS (
             |  SELECT user_id, event_id AS v_id,
             |    epoch(ts) AS v_s, epoch(ts) + 3600 AS v_e
             |  FROM events WHERE event_type = 'view'),
             |p AS (
             |  SELECT user_id, event_id AS p_id,
             |    epoch(ts) AS p_s, epoch(ts) + 1800 AS p_e
             |  FROM events WHERE event_type = 'purchase'),
             |pr AS (
             |  SELECT DISTINCT v.user_id, v_id, p_id
             |  FROM v JOIN p ON v.user_id = p.user_id
             |    AND v.v_s < p.p_e AND p.p_s < v.v_e)
             |SELECT COUNT(*) AS n_pairs, COUNT(DISTINCT user_id) AS n_users,
             |  MIN(v_id) AS min_view_id, MAX(p_id) AS max_purchase_id
             |FROM pr""".stripMargin)),

    // Bucket PRUNING off the same bucketed layout: an equality predicate
    // on the bucket column hashes to exactly one bucket, so the scan
    // reads 1 of 8 bucket file groups (SelectedBucketsCount in the plan,
    // PlanSpec-asserted) — the deterministic-layout complement of
    // q_fileskip_bloom's probabilistic skipping: same point-lookup
    // problem, zero index to maintain, the table layout IS the index.
    "q_bucket_prune" -> QueryDef(
      "Equality filter on the bucket column reads 1 of 8 buckets",
      (s, dir) => {
        ensureBucketedTables(s, dir)
        s.table("graft_bucketed_lineitem")
          .filter(col("l_orderkey") === 1000L)
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("sum_qty"))
      },
      Some("""SELECT COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM lineitem
             |WHERE l_orderkey = 1000 AND l_orderkey % 4 = 0""".stripMargin)),

    // Ordered CDC-log replay (ops/ChangeCapture.applyLog): a change log
    // with MULTIPLE ops per key — insert, then update for every third
    // key, then delete for every fifth — compacted to final state by
    // last-writer-wins on the log sequence number. No sort and no
    // per-key window: one hash shuffle with map-side partial max_by,
    // |log| scan + |keys| state at any scale. The fixture ops are key
    // arithmetic, so the oracle computes the final state directly —
    // a replay that resurrects a deleted key, misses an update, or
    // picks a stale version fails the hash gate.
    "q_cdc_apply" -> QueryDef(
      "CDC log (I then U then D per key) replayed last-writer-wins == direct final state",
      (s, dir) => {
        val o = Tables.orders(s, dir).select(col("o_orderkey"),
          col("o_orderpriority"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        def batch(seq: Long, op: String) = Seq(lit(seq).as("seq"), lit(op).as("op"))
        val ins = o.select(
          col("o_orderkey") +: batch(1L, "I") :+ col("cents") :+ col("o_orderpriority"): _*)
        val upd = o.filter(pmod(col("o_orderkey"), lit(3L)) === 0L).select(
          col("o_orderkey") +: batch(2L, "U") :+
            (col("cents") + 1000L).as("cents") :+ col("o_orderpriority"): _*)
        val del = o.filter(pmod(col("o_orderkey"), lit(5L)) === 0L).select(
          col("o_orderkey") +: batch(3L, "D") :+
            lit(null).cast("long").as("cents") :+ col("o_orderpriority"): _*)
        graft.ops.ChangeCapture.applyLog(
            ins.unionByName(upd).unionByName(del), Seq("o_orderkey"), "seq")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN o_orderkey % 3 = 0
             |    THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) + 1000
             |    ELSE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) END)
             |    AS BIGINT) AS sum_cents
             |FROM orders WHERE o_orderkey % 5 <> 0
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Full MERGE application (the lakehouse MERGE INTO shape): one pass
    // applies a change feed carrying updates, inserts, AND deletes to a
    // target — FULL OUTER on the key, then per-row resolution: delete
    // flag drops the row, a matched source row wins whole-row (NULLs
    // included — MERGE INTO ... UPDATE SET semantics), an unmatched
    // target survives. The derived change feed is
    // deterministic (key arithmetic), so the merged result is fully
    // SQL-replayable. One shuffle on the merge key at any scale; the
    // same resolution works as a foreachBatch upsert stage in streaming.
    "q_merge_apply" -> QueryDef(
      "MERGE with updates, inserts, and deletes applied in one full-outer pass",
      (s, dir) => {
        val target = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        // change feed: every 21st key is deleted, every other 14th key
        // gets its price doubled, and shifted ids arrive as inserts
        val deletes = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 21 === 0)
          .select(col("o_orderkey").as("k"), lit(null).cast("string").as("prio"),
            lit(null).cast("long").as("cents"), lit(true).as("is_delete"))
        val upd = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 14 === 0 && col("o_orderkey") % 21 =!= 0)
          .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
            (round(col("o_totalprice") * 100, 0).cast("long") * 2).as("cents"),
            lit(false).as("is_delete"))
        val ins = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 35 === 0)
          .select((col("o_orderkey") + 1000000000L).as("k"),
            col("o_orderpriority").as("prio"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
            lit(false).as("is_delete"))
        val source = deletes.unionByName(upd).unionByName(ins)
        val merged = graft.ops.ChangeCapture.applyMerge(target, source, keyCol = "k")
        merged.groupBy("prio")
          .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
          .orderBy("prio")
      },
      Some("""WITH target AS (
             |  SELECT o_orderkey AS k, o_orderpriority AS prio,
             |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
             |  FROM orders WHERE o_orderkey % 7 = 0),
             |src AS (
             |  SELECT o_orderkey AS k, CAST(NULL AS VARCHAR) AS prio,
             |    CAST(NULL AS BIGINT) AS cents, TRUE AS is_delete
             |  FROM orders WHERE o_orderkey % 21 = 0
             |  UNION ALL
             |  SELECT o_orderkey, o_orderpriority,
             |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) * 2, FALSE
             |  FROM orders WHERE o_orderkey % 14 = 0 AND o_orderkey % 21 <> 0
             |  UNION ALL
             |  SELECT o_orderkey + 1000000000, o_orderpriority,
             |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT), FALSE
             |  FROM orders WHERE o_orderkey % 35 = 0),
             |merged AS (
             |  SELECT COALESCE(s.k, t.k) AS k,
             |    CASE WHEN s.is_delete IS NOT NULL THEN s.prio ELSE t.prio END AS prio,
             |    CASE WHEN s.is_delete IS NOT NULL THEN s.cents ELSE t.cents END AS cents
             |  FROM target t FULL OUTER JOIN src s ON t.k = s.k
             |  WHERE COALESCE(s.is_delete, FALSE) = FALSE)
             |SELECT prio, COUNT(*) AS n_rows,
             |  CAST(SUM(cents) AS BIGINT) AS sum_cents
             |FROM merged GROUP BY prio ORDER BY prio""".stripMargin)),

    // Null-safe equi join (<=> / IS NOT DISTINCT FROM): NULL keys match
    // each other instead of vanishing — the semantics joins on derived /
    // sentinel-bearing keys need (a plain = join silently drops every
    // NULL-keyed row from both sides). Still hash-joinable: <=> is an
    // equi comparison, so it plans like any key join, no nested loop.
    "q_join_nullsafe" -> QueryDef(
      "Null-safe join of two rollups on a NULLIF-derived key (NULL matches NULL)",
      (s, dir) => {
        val k = nullif(col("o_orderpriority"), lit("1-URGENT"))
        val a = Tables.orders(s, dir)
          .groupBy(k.as("k")).agg(count(lit(1)).as("n_all"))
        val b = Tables.orders(s, dir)
          .filter(col("o_totalprice") > 150000)
          .groupBy(k.as("k")).agg(count(lit(1)).as("n_big"))
        a.join(b, a("k") <=> b("k"), "left")
          .select(coalesce(a("k"), lit("(urgent)")).as("prio"),
            col("n_all"), coalesce(col("n_big"), lit(0L)).as("n_big"))
          .orderBy("prio")
      },
      Some("""WITH a AS (
             |  SELECT NULLIF(o_orderpriority, '1-URGENT') AS k, COUNT(*) AS n_all
             |  FROM orders GROUP BY 1),
             |b AS (
             |  SELECT NULLIF(o_orderpriority, '1-URGENT') AS k, COUNT(*) AS n_big
             |  FROM orders WHERE o_totalprice > 150000 GROUP BY 1)
             |SELECT COALESCE(a.k, '(urgent)') AS prio, n_all,
             |  COALESCE(n_big, 0) AS n_big
             |FROM a LEFT JOIN b ON a.k IS NOT DISTINCT FROM b.k
             |ORDER BY prio""".stripMargin)),

    // Runtime bloom-filter join: Catalyst's InjectRuntimeFilter builds a
    // bloom filter over the selectively-filtered build side's join keys
    // and pre-filters the probe-side SCAN with might_contain BEFORE the
    // shuffle — at 100 TB this is the difference between shuffling the
    // whole fact table and shuffling only the ~1/5 of rows that can
    // possibly match. The thresholds that gate injection are sized for
    // clusters (10 GB probe scan), so they're lowered on a CHILD SESSION
    // (newSession: shared SparkContext/catalog, own SQLConf) — nothing
    // outside this query can observe the changed confs, even under
    // concurrent planning. PlanSpec asserts both halves
    // (bloom_filter_agg build, might_contain probe).
    "q_bloom_join" -> QueryDef(
      "Fact-fact join with runtime bloom filter pre-filtering the probe scan",
      (s, dir) => {
        val s2 = s.newSession()
        s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        // injection skips joins that would broadcast; at 100 TB neither
        // fact side broadcasts, so model that here
        s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val l = Tables.lineitem(s2, dir)
        val o = Tables.orders(s2, dir).filter(col("o_orderpriority") === "1-URGENT")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |  COUNT(*) AS n_items
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))
  )
}
