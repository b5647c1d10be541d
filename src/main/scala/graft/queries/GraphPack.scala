package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.Graph
import graft.{QueryDef, QueryPack, Tables}

/** Graph analytics over a relationally-derived graph: the co-purchase
  * graph (parts appearing in the same order) built from `lineitem`, then
  * exact triangle counting via degree orientation and the degree
  * histogram. Complements the iterative graph ops elsewhere in the engine
  * (PageRank in `train_domain_rank`, connected components in
  * `dedup_cc_clusters`) with the one-shot join-shaped family.
  *
  * The `l_orderkey % 20` slice is a fixture dial: it keeps the DuckDB
  * oracle replay tractable while leaving a graph dense enough to carry
  * triangles (~6k edges / 8k triangles at sf0.01). The ALGORITHM is
  * slice-free — pair fanout is bounded by order size (≤7 items), and the
  * oriented wedge join is O(m^1.5) regardless of slice.
  */
object GraphPack extends QueryPack {

  /** Undirected, deduplicated (s < d) co-purchase edges. The self-join on
    * the order key has bounded fanout (order size), so at 100 TB this is
    * a shuffle on l_orderkey with per-key work ≤ C(7,2) — no hub blowup.
    */
  private def coPurchaseEdges(s: org.apache.spark.sql.SparkSession, dir: String) =
    coPurchaseEdgesWhere(s, dir, pmod(col("l_orderkey"), lit(20L)) === 0)

  private def coPurchaseEdgesWhere(
      s: org.apache.spark.sql.SparkSession, dir: String,
      keyFilter: org.apache.spark.sql.Column) = {
    val li = Tables.lineitem(s, dir)
      .filter(keyFilter)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("p")).distinct()
    val a = li.select(col("k"), col("p").as("p1"))
    val b = li.select(col("k"), col("p").as("p2"))
    a.join(b, "k").filter(col("p1") < col("p2"))
      .select(col("p1").as("s"), col("p2").as("d")).distinct()
  }

  /** Materialized graph index: oriented edges + degree table written ONCE
    * per (JVM, sfDir) and served from parquet. The oriented list is
    * consumed four times by the triangle pass and the edge derivation is
    * a fact-table self-join — without materialization the whole
    * derivation subtree re-executes per consumer (measured: 47 file
    * scans in the composed plan vs 10 here). Same standing-index pattern
    * as the LSH/IVF ANN tables.
    */
  private def graphIndexDir(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.io.IndexCatalog.resolve(s, "graph", s"$dir/lineitem.parquet") { tmp =>
      val edges = coPurchaseEdges(s, dir)
      Graph.orient(edges).write.mode("overwrite").parquet(s"$tmp/oriented")
      Graph.degrees(edges).write.mode("overwrite").parquet(s"$tmp/degrees")
    }

  private val edgeCte =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS k, l_partkey AS p
      |  FROM lineitem WHERE l_orderkey % 20 = 0),
      |e AS (
      |  SELECT DISTINCT a.p AS s, b.p AS d
      |  FROM li a JOIN li b ON a.k = b.k AND a.p < b.p),
      |deg AS (
      |  SELECT v, COUNT(*) AS dg
      |  FROM (SELECT s AS v FROM e UNION ALL SELECT d AS v FROM e)
      |  GROUP BY v)""".stripMargin

  def queries: Map[String, QueryDef] = Map(

    // Exact triangle count with degree orientation (Suri–Vassilvitskii):
    // wedges enumerate only at each triangle's minimum-(deg,id) vertex —
    // max oriented out-degree is O(√m), so the wedge join never explodes
    // on a hub the way an unoriented self-join would. One row out:
    // graph size, the orientation bound made visible (max_outdeg ≪
    // max_degree), wedge/triangle counts, global clustering coefficient.
    "graph_triangles" -> QueryDef(
      "Degree-oriented exact triangle count + clustering on the co-purchase graph",
      (s, dir) => {
        val idx = graphIndexDir(s, dir)
        Graph.triangleStatsFrom(
          Tables.read(s, s"$idx/oriented"), Tables.read(s, s"$idx/degrees"))
      },
      Some(s"""$edgeCte,
             |rk AS (SELECT v, dg * 1000000000000 + v AS r FROM deg),
             |o AS (
             |  SELECT CASE WHEN rs.r < rd.r THEN e.s ELSE e.d END AS u,
             |         CASE WHEN rs.r < rd.r THEN e.d ELSE e.s END AS w,
             |         CASE WHEN rs.r < rd.r THEN rd.r ELSE rs.r END AS wr
             |  FROM e JOIN rk rs ON e.s = rs.v JOIN rk rd ON e.d = rd.v),
             |wedge AS (
             |  SELECT a.w AS x, b.w AS y FROM o a JOIN o b ON a.u = b.u AND a.wr < b.wr),
             |tri AS (
             |  SELECT COUNT(*) AS n_triangles
             |  FROM wedge JOIN o ON wedge.x = o.u AND wedge.y = o.w),
             |degagg AS (
             |  SELECT CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges,
             |         MAX(dg) AS max_degree, COUNT(*) AS n_nodes FROM deg),
             |od AS (
             |  SELECT MAX(c) AS max_outdeg
             |  FROM (SELECT u, COUNT(*) AS c FROM o GROUP BY u)),
             |ne AS (SELECT COUNT(*) AS n_edges FROM e)
             |SELECT n_nodes, n_edges, max_degree, max_outdeg, n_wedges, n_triangles,
             |       ROUND(3.0 * n_triangles / n_wedges, 6) AS clustering
             |FROM degagg, od, tri, ne""".stripMargin)),

    // Link prediction by common-neighbor Jaccard — the classic
    // "customers who bought X also bought Y" recommender primitive:
    // for every NON-edge pair sharing neighbors, score = cn / (deg_a +
    // deg_b − cn), top-10. Wedges enumerate at every center (unoriented
    // — common-neighbor COUNTS need all centers, so the triangle
    // trick's min-rank dedup does not apply) through
    // Graph.commonNeighborCounts, whose HUB CAP bounds per-center
    // fanout: exact below the degree threshold, deterministic
    // hash-sampled above it. The threshold here (1024) exceeds any
    // degree this co-purchase graph produces (≤43 at sf0.1), so the
    // result is exact and oracle-gated; a power-law corpus dials it
    // down to its skew budget (GraphSpec proves the bound on a planted
    // hub). Served from the SAME standing adjacency index as the
    // triangle pass.
    "graph_link_prediction" -> QueryDef(
      "Top-10 predicted co-purchase links by common-neighbor Jaccard",
      (s, dir) => {
        val idx = graphIndexDir(s, dir)
        val o = Tables.read(s, s"$idx/oriented")
        val deg = Tables.read(s, s"$idx/degrees")
        val und = o.select(col("u").as("n"), col("w").as("v"))
          .unionAll(o.select(col("w").as("n"), col("u").as("v")))
        val cn = Graph.commonNeighborCounts(
          und, deg, hubThreshold = 1024L, sampleK = 64L)
        val existing = o.select(
          least(col("u"), col("w")).as("x"), greatest(col("u"), col("w")).as("y"))
        val cand = cn.join(existing, Seq("x", "y"), "left_anti")
          .join(deg.select(col("v").as("x"), col("deg").as("dx")), "x")
          .join(deg.select(col("v").as("y"), col("deg").as("dy")), "y")
          .withColumn("jaccard",
            round(col("cn").cast("double") / (col("dx") + col("dy") - col("cn")), 6))
        cand.orderBy(col("jaccard").desc, col("cn").desc, col("x").asc, col("y").asc)
          .limit(10)
          .select(col("x"), col("y"), col("cn"), col("jaccard"))
      },
      Some(s"""$edgeCte,
             |und AS (
             |  SELECT s AS n, d AS v FROM e UNION ALL SELECT d AS n, s AS v FROM e),
             |cn AS (
             |  SELECT a.v AS x, b.v AS y, COUNT(*) AS cn
             |  FROM und a JOIN und b ON a.n = b.n AND a.v < b.v
             |  GROUP BY a.v, b.v),
             |cand AS (
             |  SELECT cn.x, cn.y, cn.cn,
             |    ROUND(cn.cn * 1.0 / (dx.dg + dy.dg - cn.cn), 6) AS jaccard
             |  FROM cn
             |  LEFT JOIN e ON e.s = cn.x AND e.d = cn.y
             |  JOIN deg dx ON dx.v = cn.x
             |  JOIN deg dy ON dy.v = cn.y
             |  WHERE e.s IS NULL)
             |SELECT x, y, cn, jaccard FROM cand
             |ORDER BY jaccard DESC, cn DESC, x ASC, y ASC LIMIT 10""".stripMargin)),

    // Degree histogram — two narrow map-side-combinable aggregates; the
    // standard first diagnostic on any derived graph (and the skew probe
    // that justifies the orientation above).
    "graph_degrees" -> QueryDef(
      "Degree distribution of the co-purchase graph",
      (s, dir) => Tables.read(s, s"${graphIndexDir(s, dir)}/degrees")
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("deg"),
      Some(s"""$edgeCte
             |SELECT dg AS deg, COUNT(*) AS n_nodes FROM deg
             |GROUP BY dg ORDER BY deg""".stripMargin)),

    // Incremental edge admission — the graph index joins the standing-
    // index refresh family (LSH / IVF / inverted / skip index): the
    // standing structure is the DISTINCT edge set (the fact self-join +
    // distinct is the expensive derivation); a delta order batch derives
    // its edges from ONLY the arriving slice, anti-joins the standing
    // set (edge-set-sized, never fact-sized) and lands the genuinely
    // new rows as REPLAY-IDEMPOTENT batch files (graft.io.BatchFiles —
    // a retried admission replaces its own files; a reader racing it
    // sees whole batch files, never a partial append). Degrees — and,
    // downstream, orientation — recompute from the edge table, whose
    // size is graph- not corpus-bound, which is why the admission unit
    // is the raw edge set and not the oriented form (new edges change
    // degrees, and degree changes can flip the orientation of OLD edges
    // — orienting at admission time would be wrong; the maintained
    // oriented index is graph_triangles_refresh). Oracle = the
    // full-build degree distribution: the driver hash gate IS the
    // refresh ≡ rebuild proof.
    "graph_degrees_refresh" -> QueryDef(
      "Degree distribution off an incrementally admitted edge set: refresh == rebuild",
      (s, dir) => {
        val idx = graft.io.IndexCatalog.resolve(
          s, "graph-refresh", s"$dir/lineitem.parquet") { tmp =>
          coPurchaseEdgesWhere(s, dir, pmod(col("l_orderkey"), lit(40L)) === 0)
            .write.mode("overwrite").parquet(s"$tmp/edges")
          val standing = Tables.read(s, s"$tmp/edges")
          graft.io.BatchFiles.land(
            coPurchaseEdgesWhere(s, dir, pmod(col("l_orderkey"), lit(40L)) === 20)
              .join(standing, Seq("s", "d"), "left_anti"),
            s"$tmp/edges", batchId = 1L)
        }
        Graph.degrees(Tables.read(s, s"$idx/edges"))
          .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
          .orderBy("deg")
      },
      Some(s"""$edgeCte
             |SELECT dg AS deg, COUNT(*) AS n_nodes FROM deg
             |GROUP BY dg ORDER BY deg""".stripMargin)),

    // Incremental maintenance of the standing ORIENTED adjacency — the
    // genuinely non-trivial admission the raw-edge refresh above defers:
    // orientation ranks on GLOBAL (degree, id), so admitting a batch can
    // FLIP old edges' orientation. Graph.refreshOrientedIndex keeps
    // untouched rows verbatim (their endpoints' degrees are provably
    // unchanged) and re-orients ONLY the victim set (standing edges
    // touching a degree-changed endpoint — batch-endpoint-bounded) plus
    // the new edges, against the updated degrees pruned to their
    // endpoints. Standing = orders %40==0, batch = %40==20, so the
    // maintained index covers exactly the %20==0 graph — the oracle IS
    // graph_triangles' full-rebuild replay, and the driver hash gate IS
    // the refresh ≡ rebuild proof (wedge counts, orientation bound, and
    // the triangle count all ride the maintained oriented table).
    "graph_triangles_refresh" -> QueryDef(
      "Triangle stats over an incrementally maintained oriented adjacency: refresh == rebuild",
      (s, dir) => {
        val idx = graft.io.IndexCatalog.resolve(
          s, "graph-tri-refresh", s"$dir/lineitem.parquet") { tmp =>
          coPurchaseEdgesWhere(s, dir, pmod(col("l_orderkey"), lit(40L)) === 0)
            .write.mode("overwrite").parquet(s"$tmp/edges")
          val e0 = Tables.read(s, s"$tmp/edges")
          Graph.degrees(e0).write.mode("overwrite").parquet(s"$tmp/degrees")
          Graph.orient(e0).write.mode("overwrite").parquet(s"$tmp/oriented")
          Graph.refreshOrientedIndex(s, tmp,
            coPurchaseEdgesWhere(s, dir, pmod(col("l_orderkey"), lit(40L)) === 20),
            batchId = 1L)
        }
        Graph.triangleStatsFrom(
          Tables.read(s, s"$idx/oriented"), Tables.read(s, s"$idx/degrees"))
      },
      Some(s"""$edgeCte,
             |rk AS (SELECT v, dg * 1000000000000 + v AS r FROM deg),
             |o AS (
             |  SELECT CASE WHEN rs.r < rd.r THEN e.s ELSE e.d END AS u,
             |         CASE WHEN rs.r < rd.r THEN e.d ELSE e.s END AS w,
             |         CASE WHEN rs.r < rd.r THEN rd.r ELSE rs.r END AS wr
             |  FROM e JOIN rk rs ON e.s = rs.v JOIN rk rd ON e.d = rd.v),
             |wedge AS (
             |  SELECT a.w AS x, b.w AS y FROM o a JOIN o b ON a.u = b.u AND a.wr < b.wr),
             |tri AS (
             |  SELECT COUNT(*) AS n_triangles
             |  FROM wedge JOIN o ON wedge.x = o.u AND wedge.y = o.w),
             |degagg AS (
             |  SELECT CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges,
             |         MAX(dg) AS max_degree, COUNT(*) AS n_nodes FROM deg),
             |od AS (
             |  SELECT MAX(c) AS max_outdeg
             |  FROM (SELECT u, COUNT(*) AS c FROM o GROUP BY u)),
             |ne AS (SELECT COUNT(*) AS n_edges FROM e)
             |SELECT n_nodes, n_edges, max_degree, max_outdeg, n_wedges, n_triangles,
             |       ROUND(3.0 * n_triangles / n_wedges, 6) AS clustering
             |FROM degagg, od, tri, ne""".stripMargin)),

    // Retraction from the standing ORIENTED adjacency — the deletion
    // half of graph_triangles_refresh's admission, and the same
    // non-triviality: dropping a node decrements its surviving
    // neighbors' degrees, and ranks are GLOBAL (degree, id), so old
    // edges far from the retracted node's can FLIP orientation (and
    // max_outdeg is orientation-dependent — tombstones can't express
    // this). Graph.retractNodesFromOrientedIndex drops the incident
    // edges, keeps untouched oriented rows verbatim, and re-orients
    // ONLY the two-hop victim set against the survivor degrees. The
    // oracle replays a FULL REBUILD over the survivor graph (every
    // node ≡ 0 mod 17 retracted) — the driver hash gate IS the
    // retract ≡ rebuild proof, wedge counts, orientation bound and
    // triangle count all riding the maintained table.
    "graph_triangles_retract" -> QueryDef(
      "Triangle stats after node retraction from the maintained oriented adjacency: retract == rebuild",
      (s, dir) => {
        val idx = graft.io.IndexCatalog.resolve(
          s, "graph-tri-retract", s"$dir/lineitem.parquet") { tmp =>
          val e0 = coPurchaseEdges(s, dir)
          e0.write.mode("overwrite").parquet(s"$tmp/edges")
          val landed = Tables.read(s, s"$tmp/edges")
          Graph.degrees(landed).write.mode("overwrite").parquet(s"$tmp/degrees")
          Graph.orient(landed).write.mode("overwrite").parquet(s"$tmp/oriented")
          Graph.retractNodesFromOrientedIndex(s, tmp,
            Tables.read(s, s"$tmp/degrees")
              .filter(pmod(col("v"), lit(17L)) === 0).select("v"))
        }
        Graph.triangleStatsFrom(
          Tables.read(s, s"$idx/oriented"), Tables.read(s, s"$idx/degrees"))
      },
      Some(s"""$edgeCte,
             |e2 AS (SELECT s, d FROM e WHERE s % 17 != 0 AND d % 17 != 0),
             |deg2 AS (
             |  SELECT v, COUNT(*) AS dg
             |  FROM (SELECT s AS v FROM e2 UNION ALL SELECT d AS v FROM e2)
             |  GROUP BY v),
             |rk AS (SELECT v, dg * 1000000000000 + v AS r FROM deg2),
             |o AS (
             |  SELECT CASE WHEN rs.r < rd.r THEN e2.s ELSE e2.d END AS u,
             |         CASE WHEN rs.r < rd.r THEN e2.d ELSE e2.s END AS w,
             |         CASE WHEN rs.r < rd.r THEN rd.r ELSE rs.r END AS wr
             |  FROM e2 JOIN rk rs ON e2.s = rs.v JOIN rk rd ON e2.d = rd.v),
             |wedge AS (
             |  SELECT a.w AS x, b.w AS y FROM o a JOIN o b ON a.u = b.u AND a.wr < b.wr),
             |tri AS (
             |  SELECT COUNT(*) AS n_triangles
             |  FROM wedge JOIN o ON wedge.x = o.u AND wedge.y = o.w),
             |degagg AS (
             |  SELECT CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges,
             |         MAX(dg) AS max_degree, COUNT(*) AS n_nodes FROM deg2),
             |od AS (
             |  SELECT MAX(c) AS max_outdeg
             |  FROM (SELECT u, COUNT(*) AS c FROM o GROUP BY u)),
             |ne AS (SELECT COUNT(*) AS n_edges FROM e2)
             |SELECT n_nodes, n_edges, max_degree, max_outdeg, n_wedges, n_triangles,
             |       ROUND(3.0 * n_triangles / n_wedges, 6) AS clustering
             |FROM degagg, od, tri, ne""".stripMargin)),

    // BFS reachability layers from the minimum-id node — the traversal
    // primitive the join-shaped family lacked. Three UNROLLED frontier
    // expansions (the Pregel-in-SQL shape: each round is ONE join of the
    // previous distinct layer against the adjacency + a distinct), then
    // min-dist per node; no visited anti-join is needed because the
    // min() collapse assigns every node its first-reached depth. Scale:
    // every round's intermediate is ≤ |V| after distinct and the join
    // fanout is degree-bounded; rounds are a fixed constant, so the
    // whole query is k joins over the standing adjacency index — never
    // path-enumerating (which is why the layers are deduped BEFORE the
    // next expansion).
    "graph_bfs_layers" -> QueryDef(
      "BFS layers (depth<=3) from the min-id node: nodes reached per depth",
      (s, dir) => {
        val idx = graphIndexDir(s, dir)
        val o = Tables.read(s, s"$idx/oriented")
        val und = o.select(col("u").as("n"), col("w").as("v"))
          .unionAll(o.select(col("w").as("n"), col("u").as("v")))
        val deg = Tables.read(s, s"$idx/degrees")
        val l0 = deg.agg(min(col("v")).as("v")).select(col("v"), lit(0L).as("dist"))
        val layers = (1 to 3).foldLeft(Seq(l0)) { (ls, d) =>
          val next = ls.last.select(col("v").as("fv"))
            .join(und, col("fv") === col("n"))
            .select(col("v")).distinct()
            .select(col("v"), lit(d.toLong).as("dist"))
          ls :+ next
        }
        layers.reduce(_ unionByName _)
          .groupBy("v").agg(min(col("dist")).as("dist"))
          .groupBy("dist")
          .agg(count(lit(1)).as("n_nodes"), sum(col("v")).as("sum_node_ids"),
            min(col("v")).as("min_node"), max(col("v")).as("max_node"))
          .orderBy("dist")
      },
      Some(s"""$edgeCte,
             |und AS (
             |  SELECT s AS n, d AS v FROM e UNION ALL SELECT d AS n, s AS v FROM e),
             |l0 AS (SELECT MIN(v) AS v, CAST(0 AS BIGINT) AS dist FROM deg),
             |l1 AS (SELECT DISTINCT und.v, CAST(1 AS BIGINT) AS dist
             |       FROM l0 JOIN und ON und.n = l0.v),
             |l2 AS (SELECT DISTINCT und.v, CAST(2 AS BIGINT) AS dist
             |       FROM l1 JOIN und ON und.n = l1.v),
             |l3 AS (SELECT DISTINCT und.v, CAST(3 AS BIGINT) AS dist
             |       FROM l2 JOIN und ON und.n = l2.v),
             |m AS (
             |  SELECT v, MIN(dist) AS dist FROM (
             |    SELECT * FROM l0 UNION ALL SELECT * FROM l1
             |    UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3)
             |  GROUP BY v)
             |SELECT dist, COUNT(*) AS n_nodes, CAST(SUM(v) AS BIGINT) AS sum_node_ids,
             |  MIN(v) AS min_node, MAX(v) AS max_node
             |FROM m GROUP BY dist ORDER BY dist""".stripMargin)),

    // Synchronous label propagation (Raghavan 2007), 3 rounds — community
    // detection, the partner analytic to the CC clusters in dedup_cc_*:
    // labels init to node ids and every round each node adopts its
    // neighbors' MODE label (count desc, then smallest label — a total
    // tie-break, so the sync update is deterministic and both engines
    // replay it). Each round is one (adjacency ⋈ labels) join, a
    // (node, label) count, and the argmax — encoded as max(c, −lab), the
    // partial-aggregable form labelPropagationConverged measured in for
    // the same tie-break (count desc, label asc), so no per-round
    // WindowExec sort. The adjacency is checkpointed ONCE pre-partitioned
    // on the join key (the labelPropagationConverged posture) instead of
    // re-deriving scan+union per round. All integer, all V/E-bounded,
    // fixed round count: the same iterate-small posture as
    // train_domain_rank (the fact table is touched once to derive the
    // edges; iterations never rescan it).
    "graph_label_propagation" -> QueryDef(
      "Top-20 communities after 3 synchronous label-propagation rounds",
      (s, dir) => {
        val idx = graphIndexDir(s, dir)
        val o = Tables.read(s, s"$idx/oriented")
        val und = o.select(col("u").as("n"), col("w").as("v"))
          .unionAll(o.select(col("w").as("n"), col("u").as("v")))
          .repartition(col("v")).localCheckpoint()
        val deg = Tables.read(s, s"$idx/degrees")
        val lp3 = (1 to 3).foldLeft(deg.select(col("v"), col("v").as("lab"))) {
          (labels, _) =>
            und.join(labels, "v")
              .groupBy("n", "lab").agg(count(lit(1)).as("c"))
              .groupBy("n")
              .agg(max(struct(col("c").as("c"), (-col("lab")).as("nl"))).as("m"))
              .select(col("n").as("v"), (-col("m.nl")).as("lab"))
        }
        lp3.groupBy(col("lab").as("community"))
          .agg(count(lit(1)).as("n_members"), min(col("v")).as("min_member"))
          .orderBy(col("n_members").desc, col("community").asc)
          .limit(20)
      },
      Some(lpUnrolledOracle(3))),

    // The CONVERGENCE-GATED variant — the fixed 3-round form above is
    // correct for its gate but silently truncated on deeper graphs;
    // here the engine iterates until NO label changes (capped at 8,
    // rounds-used surfaced to the spec, which asserts the fixture
    // reaches a true fixpoint inside the cap). The oracle is the SAME
    // sync update unrolled to the cap: a converged run's labels are a
    // fixpoint, so every post-convergence round is the identity and
    // fixed-unroll-to-cap replays stop-at-convergence exactly — with
    // the cap itself covering the (bipartite 2-cycle) non-converging
    // case, where both engines deterministically run all 8 rounds.
    "graph_label_propagation_converged" -> QueryDef(
      "Top-20 communities at the label-propagation fixpoint (converged, cap 8)",
      (s, dir) => {
        val idx = graphIndexDir(s, dir)
        val o = Tables.read(s, s"$idx/oriented")
        val und = o.select(col("u").as("n"), col("w").as("v"))
          .unionAll(o.select(col("w").as("n"), col("u").as("v")))
        val (labels, _) = Graph.labelPropagationConverged(und, maxRounds = 8)
        labels.groupBy(col("lab").as("community"))
          .agg(count(lit(1)).as("n_members"), min(col("v")).as("min_member"))
          .orderBy(col("n_members").desc, col("community").asc)
          .limit(20)
      },
      Some(lpUnrolledOracle(8))),

    // k-core: the degeneracy-ordering classic (dense-subgraph mining,
    // spam-cluster detection) — iterative peeling with the cascade
    // (removing a leaf can drop its neighbor below k next round), run to
    // a detected fixpoint under the same cap-with-unrolled-oracle
    // contract as the converged LP above. Each round shrinks the edge
    // set, so rounds get CHEAPER as peeling proceeds; served from the
    // standing adjacency index, the fact table untouched.
    "graph_kcore" -> QueryDef(
      "5-core of the co-purchase graph: per-node within-core degree (converged peel, cap 8)",
      (s, dir) => {
        val idx = graphIndexDir(s, dir)
        val o = Tables.read(s, s"$idx/oriented")
        val und = o.select(col("u").as("n"), col("w").as("v"))
          .unionAll(o.select(col("w").as("n"), col("u").as("v")))
        val (core, _) = Graph.kCoreConverged(und, k = 5, maxRounds = 8)
        core.select(col("n").as("v"), col("core_deg")).orderBy("v")
      },
      Some(kCoreOracle(5, 8))))

  /** The synchronous label-propagation oracle, unrolled to `rounds`:
    * shared by the fixed-round gate (3) and the converged gate (8 = the
    * cap; see graph_label_propagation_converged for why fixed-unroll
    * replays stop-at-convergence exactly).
    */
  /** Iterative peel unrolled to the cap — a converged engine run equals
    * it because peeling is monotone (post-fixpoint rounds are the
    * identity). The peel CTEs reference their predecessor THREE times
    * (degree count + both endpoint semi-joins), so they are forced
    * MATERIALIZED: DuckDB would otherwise inline the references and
    * re-evaluate the chain 3^rounds times.
    */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    def peel(t: Int): String =
      s"""k$t AS MATERIALIZED (
         |  SELECT n FROM (SELECT n, COUNT(*) AS c FROM p${t - 1} GROUP BY n) x
         |  WHERE c >= $k),
         |p$t AS MATERIALIZED (
         |  SELECT p.n, p.v FROM p${t - 1} p
         |  JOIN k$t a ON p.n = a.n JOIN k$t b ON p.v = b.n)""".stripMargin
    s"""$edgeCte,
       |und AS MATERIALIZED (
       |  SELECT s AS n, d AS v FROM e UNION ALL SELECT d AS n, s AS v FROM e),
       |p0 AS MATERIALIZED (SELECT n, v FROM und),
       |${(1 to rounds).map(peel).mkString(",\n")}
       |SELECT n AS v, COUNT(*) AS core_deg FROM p$rounds
       |GROUP BY n ORDER BY v""".stripMargin
  }

  private def lpUnrolledOracle(rounds: Int): String = {
    def lpCte(t: Int): String =
      s"""lp$t AS (
         |  SELECT n AS v, lab FROM (
         |    SELECT u.n, l.lab,
         |      ROW_NUMBER() OVER (PARTITION BY u.n
         |                         ORDER BY COUNT(*) DESC, l.lab ASC) AS rk
         |    FROM und u JOIN lp${t - 1} l ON u.v = l.v
         |    GROUP BY u.n, l.lab)
         |  WHERE rk = 1)""".stripMargin
    s"""$edgeCte,
       |und AS (
       |  SELECT s AS n, d AS v FROM e UNION ALL SELECT d AS n, s AS v FROM e),
       |lp0 AS (SELECT v, v AS lab FROM deg),
       |${(1 to rounds).map(lpCte).mkString(",\n")}
       |SELECT lab AS community, COUNT(*) AS n_members, MIN(v) AS min_member
       |FROM lp$rounds GROUP BY lab
       |ORDER BY n_members DESC, community ASC LIMIT 20""".stripMargin
  }
}
