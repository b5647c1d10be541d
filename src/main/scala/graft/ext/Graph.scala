package graft.ext

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics beyond the PageRank ([[Curation.domainRank]])
  * and connected-components ([[Dedup.connectedComponents]]) ops: exact
  * triangle counting with degree orientation — the MapReduce-classic bound
  * (Suri & Vassilvitskii, WWW'11): orient every undirected edge from its
  * lower-(degree, id) endpoint to the higher, enumerate wedges only at the
  * LOW-rank center, and close them with one equi-join. Out-degrees are
  * bounded by O(√m), so the wedge join is O(m^1.5) total work spread across
  * the cluster — never the Θ(Σ deg²) of an unoriented self-join on a hub.
  * Each triangle is found exactly once (at its minimum-rank vertex), so the
  * count needs no /3 or /6 correction.
  */
object Graph {

  /** Encode the orientation rank (degree, then node id as the tie-break)
    * into one sortable BIGINT: deg·10¹² + id. Exact while ids stay below
    * 10¹² and degrees below ~9.2·10⁶ — both hold for any per-batch graph
    * this engine materializes; the encoding (vs a struct compare) keeps the
    * join keys primitive-typed for codegen and lets the DuckDB oracle
    * replay the identical arithmetic.
    */
  private val RankBase = 1000000000000L

  /** Synchronous label propagation (Raghavan 2007) run to FIXPOINT —
    * the convergence-gated upgrade over a fixed unrolled round count,
    * which silently truncates on deeper graphs: labels init to node
    * ids; every round each node adopts its neighbors' MODE label
    * (count desc, then smallest label — a total tie-break, so the
    * sync update is deterministic); iteration stops when NO label
    * changed (next(labels) = labels is a true fixpoint of the sync
    * update — every later round is the identity, which is what lets a
    * fixed-unroll oracle replay a converged run exactly) or at
    * `maxRounds`. Returns (labels, roundsUsed); `roundsUsed <
    * maxRounds` proves convergence (logged by the spec the way
    * [[Dedup.connectedComponents]]'s round cap is).
    *
    * `und` is the symmetric adjacency (n, v): both orientations
    * present. Each round is ONE job: the (adjacency ⋈ labels) join, a
    * (node, label) count, a map-side-combinable struct-max argmax
    * (count desc, label asc — encoded as max(c, −lab), identical
    * tie-break to the windowed rank but no per-partition sort), and the
    * node's own previous label joined back IN THE SAME PASS to emit a
    * `changed` flag — so the convergence probe is a scan of the
    * checkpointed round output, not the second V-sized join + action an
    * earlier formulation paid per round. All V/E-bounded, never
    * corpus-bounded; `localCheckpoint` truncates lineage so plan size
    * stays constant across rounds. Note sync LP can 2-cycle on
    * bipartite-ish structure — the cap is the documented guard, and the
    * capped output is still deterministic (exactly `maxRounds` rounds).
    */
  def labelPropagationConverged(und: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    // Materialize the STATIC adjacency once, pre-partitioned on the
    // label-join key: every round then reads it back from the checkpoint
    // with partitioning intact instead of re-deriving it (scan + union)
    // and re-exchanging it per round — the shared-exchange discipline
    // (a localCheckpoint's LogicalRDD keeps outputPartitioning, so the
    // per-round join sees the v-hash layout and plans no Exchange on
    // this side). The node init reuses the same layout for its distinct
    // (und is symmetric, so the v column carries the full node set).
    val undP = und.repartition(col("v")).localCheckpoint()
    var cur = undP.select(col("v")).distinct()
      .select(col("v"), col("v").as("lab")).localCheckpoint()
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // max(struct(c, -lab)) = highest count, then LOWEST label — the
      // same total tie-break as a (c desc, lab asc) rank-1 window, but
      // a partial-aggregable max instead of a WindowExec sort
      // LAZY checkpoint + count probe: the changed-count action is the
      // job that materializes the checkpoint, so each round pays ONE job
      // (the eager-checkpoint + isEmpty form paid two — measured −20%
      // on the 8-round gate; the count scans the same checkpointed rows
      // the probe scanned, so nothing is computed twice)
      val next = undP.join(cur, "v")
        .groupBy("n", "lab").agg(count(lit(1)).as("c"))
        .groupBy("n")
        .agg(max(struct(col("c").as("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("n").as("v"), (-col("m.nl")).as("lab"))
        .join(cur.select(col("v"), col("lab").as("prev")), "v")
        .select(col("v"), col("lab"), (col("lab") =!= col("prev")).as("changed"))
        .localCheckpoint(false)
      converged = next.filter(col("changed")).count() == 0L
      cur = next.select("v", "lab")
      rounds += 1
    }
    (cur.select("v", "lab"), rounds)
  }

  /** k-CORE decomposition by iterative peeling run to FIXPOINT: delete
    * every node of degree < k, recompute degrees on the surviving
    * subgraph, repeat until a round deletes nothing (or `maxRounds`).
    * Returns (per-node degree WITHIN the core, roundsUsed). The classic
    * cascades are covered: removing a leaf can drop its neighbor below
    * k next round. Each round is one degree aggregate + two semi-shaped
    * joins on the shrinking edge set — E-bounded, never fact-bounded —
    * with `localCheckpoint` truncating lineage (the
    * [[labelPropagationConverged]] posture). Peeling is monotone, so a
    * converged run is a true fixpoint: every later round is the
    * identity, which lets a fixed-unroll-to-cap oracle replay a
    * converged run exactly.
    */
  def kCoreConverged(und: DataFrame, k: Int, maxRounds: Int): (DataFrame, Int) = {
    // n-partitioned from the start: the per-round degree aggregate and
    // the first semi-join both key on n, so they reuse the checkpoint's
    // layout (no Exchange) — only the v-side membership join re-keys
    val edges0 = und.select("n", "v").repartition(col("n")).localCheckpoint()
    var edges = edges0
    var m = edges.count()
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val keep = edges.groupBy("n").agg(count(lit(1)).as("c"))
        .filter(col("c") >= k).select("n")
      // lazy checkpoint: the surviving-edge count is the materializing
      // job, so each peel round is ONE job instead of two (the
      // labelPropagationConverged probe-fusion, measured −21%)
      val next = edges
        .join(keep, Seq("n"))
        .join(keep.select(col("n").as("v")), Seq("v"))
        .select("n", "v").localCheckpoint(false)
      val m2 = next.count()
      converged = m2 == m
      edges = next; m = m2; rounds += 1
    }
    (edges.groupBy("n").agg(count(lit(1)).as("core_deg")), rounds)
  }

  /** Per-node degree of an undirected, deduplicated (s < d) edge list. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("s").as("v"))
      .unionAll(edges.select(col("d").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))

  /** Orient each (s, d) edge from its lower-rank endpoint `u` to the
    * higher-rank `w`; carries `wr` (= rank of `w`) so wedge enumeration can
    * order the two far endpoints without another join.
    */
  def orient(edges: DataFrame): DataFrame = orientWith(edges, degrees(edges))

  /** [[orient]] against an EXPLICIT degree table — what the incremental
    * index maintenance needs: ranks must come from the post-admission
    * GLOBAL degrees, not from the (victim-sliced) edge subset being
    * re-oriented. `deg` needs rows only for the endpoints `edges`
    * actually touches (callers prune it map-side to stay batch-bounded).
    */
  def orientWith(edges: DataFrame, deg: DataFrame): DataFrame = {
    val rk = deg.select(col("v"), (col("deg") * RankBase + col("v")).as("r"))
    edges
      .join(rk.select(col("v").as("s"), col("r").as("sr")), "s")
      .join(rk.select(col("v").as("d"), col("r").as("dr")), "d")
      .select(
        when(col("sr") < col("dr"), col("s")).otherwise(col("d")).as("u"),
        when(col("sr") < col("dr"), col("d")).otherwise(col("s")).as("w"),
        greatest(col("sr"), col("dr")).as("wr"))
  }

  /** Incremental maintenance of the STANDING oriented-adjacency index —
    * the genuinely non-trivial part of admitting edges into the graph
    * family's serving tables (layout: `edges/` raw s<d distinct,
    * `degrees/`, `oriented/`): orientation ranks on GLOBAL (degree, id),
    * so an admitted batch does not just append oriented rows — a degree
    * change at either endpoint can FLIP the orientation (or shift the
    * carried `wr` rank) of OLD edges. The victim set is exactly the
    * standing edges touching a degree-changed endpoint: bounded by
    * Σ deg over the batch's endpoints (the [[Dedup.incrementalSpans]]
    * touched-set posture), never the graph.
    *
    * Per admission: the batch anti-joins the standing edge set
    * (edge-set-keyed, never fact-sized) to find genuinely new edges,
    * which land as replay-idempotent batch files
    * ([[graft.io.BatchFiles]]) keyed by `batchId`; degrees recompute
    * from the landed edge table (graph-bound, never fact-bound — the
    * graph_degrees_refresh posture, and what makes a REPLAY converge:
    * every derived table is a function of the post-land edge set, and a
    * replayed batch replaces its own files exactly) and swap in
    * ([[graft.io.DirSwap]]); untouched oriented rows — pair-anti-joined
    * against the broadcast victim ∪ new set, so both their endpoints'
    * degrees, hence both ranks and the flip comparison, are provably
    * unchanged — are kept verbatim, and only victims ∪ new edges
    * re-orient, against the updated degree table pruned map-side to
    * their endpoints. Serving ([[triangleStatsFrom]], LP, k-core) sees
    * refresh ≡ rebuild — the gate's hash proves it.
    *
    * The standing edge set is read EXCLUDING this `batchId`'s own files
    * when deriving "new", so a replayed admission recomputes the same
    * new-edge set, re-lands the same files, and re-derives the same
    * degrees and oriented rows — idempotence by recomputation, the
    * [[graft.streaming.SpanMaskIngest]] contract.
    */
  def refreshOrientedIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      batch: DataFrame,
      batchId: Long): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    // standing edges, this batch's own (possibly replayed) files excluded
    val ownPrefix = f"batch$batchId%06d_"
    val standingFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/edges"))
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith(ownPrefix))
      .map(_.toString)
    require(standingFiles.nonEmpty,
      s"refreshOrientedIndex: no standing edge table under $dir/edges — build the index first")
    val edges0 = Tables.read(spark, standingFiles.toIndexedSeq: _*)
    val oriented0 = Tables.read(spark, s"$dir/oriented")
    // genuinely new edges; batch-bounded and consumed repeatedly
    val newEdges = batch.select("s", "d").distinct()
      .join(edges0, Seq("s", "d"), "left_anti")
      .localCheckpoint()
    graft.io.BatchFiles.land(newEdges, s"$dir/edges", batchId)
    // degrees from the post-land edge table: graph-bound aggregate,
    // idempotent under replay by construction
    degrees(Tables.read(spark, s"$dir/edges"))
      .write.mode("overwrite").parquet(s"$dir/degrees.next")
    graft.io.DirSwap.swapInto(fs,
      new org.apache.hadoop.fs.Path(s"$dir/degrees.next"),
      new org.apache.hadoop.fs.Path(s"$dir/degrees"))
    val degNew = Tables.read(spark, s"$dir/degrees")
    // victims: standing edges touching an endpoint whose degree changed
    val touched = newEdges.select(col("s").as("v"))
      .unionAll(newEdges.select(col("d").as("v"))).distinct()
    val victims = edges0
      .join(broadcast(touched.select(col("v").as("s"))), Seq("s"), "left_semi")
      .unionByName(edges0
        .join(broadcast(touched.select(col("v").as("d"))), Seq("d"), "left_semi"))
      .distinct()
    val toOrient = victims.unionByName(newEdges).localCheckpoint()
    // untouched rows keep orientation AND rank: their pair is not in
    // the victim set, so neither endpoint's degree moved (map-side
    // broadcast pair-anti-join; edges are stored s < d)
    val kept = oriented0
      .select(least(col("u"), col("w")).as("s"), greatest(col("u"), col("w")).as("d"),
        col("u"), col("w"), col("wr"))
      .join(broadcast(toOrient), Seq("s", "d"), "left_anti")
      .select("u", "w", "wr")
    // ranks only for the endpoints the re-orientation touches
    val ends = toOrient.select(col("s").as("v"))
      .unionAll(toOrient.select(col("d").as("v"))).distinct()
    val degSlice = degNew.join(broadcast(ends), Seq("v"), "left_semi")
    kept.unionByName(orientWith(toOrient, degSlice))
      .write.mode("overwrite").parquet(s"$dir/oriented.next")
    graft.io.DirSwap.swapInto(fs,
      new org.apache.hadoop.fs.Path(s"$dir/oriented.next"),
      new org.apache.hadoop.fs.Path(s"$dir/oriented"))
  }

  /** RETRACT nodes from the standing oriented-adjacency index — the
    * deletion half of the lifecycle [[refreshOrientedIndex]] opened
    * (right-to-be-forgotten over graph state: a user/part leaves, every
    * edge it touches must stop serving). Like admission, retraction is
    * NOT append-shaped on the oriented table: dropping a node
    * decrements its surviving neighbors' degrees, and orientation ranks
    * are GLOBAL (degree, id), so old edges nowhere near the retracted
    * node's edges can FLIP. Tombstones cannot express that (a
    * merge-on-read anti join fixes membership but not the orientation
    * of surviving rows, and [[triangleStatsFrom]]'s max_outdeg is
    * orientation-dependent), so retraction is a physical victim-bounded
    * rewrite — the [[Dedup.retractSpans]] posture for derived state.
    *
    * The victim set is the retraction's TWO-HOP neighborhood: dropped
    * edges (incident to a retracted node — Σ deg over the request),
    * then surviving edges touching a dropped edge's surviving endpoint
    * (exactly the rows whose flip comparison could have moved — Σ deg
    * over the touched neighbors). Untouched oriented rows — pair-anti-
    * joined against the broadcast dropped ∪ re-orient set, so both
    * their endpoints' degrees are provably unchanged — keep orientation
    * AND rank verbatim. Degrees recompute graph-bound from the
    * survivor edge set and every table lands by checked tmp-dir swap
    * ([[graft.io.DirSwap]]). Single-writer contract as the compactors
    * document. Serving over the maintained index ≡ a full rebuild over
    * the survivor graph — the gate's hash proves it.
    *
    * Crash recovery: the three tables swap SEQUENTIALLY (edges, then
    * degrees, then oriented), so each individual swap is atomic but the
    * index as a whole has a cross-table window — a reader between swaps
    * can see survivor edges next to not-yet-rewritten oriented rows,
    * and a crash in that window leaves them persisted. That is why the
    * victim sets below derive from BOTH `edges0` and the pairs present
    * in `oriented0`: after a partial failure the swapped edge table has
    * no incident edges left, but the stale oriented rows still name the
    * retracted nodes, so a RE-RUN of the same retraction still finds
    * them, drops them, and re-orients their neighborhoods against the
    * recomputed degrees. Re-running the retraction (after success or
    * after any partial failure) therefore converges to the same index —
    * idempotent by recomputation, with repair.
    */
  def retractNodesFromOrientedIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      nodes: DataFrame): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val vic = nodes.select("v").distinct().localCheckpoint()
    val edges0 = Tables.read(spark, s"$dir/edges")
    val oriented0 = Tables.read(spark, s"$dir/oriented")
    // edges incident to a retracted node: dropped entirely. Derived from
    // BOTH the edge table and the oriented table's pairs — on a healthy
    // index they agree, but after a crash between the edges swap and the
    // oriented swap only the oriented table still holds the victim
    // pairs, and deriving from edges alone would find nothing and leave
    // the stale rows serving forever (see the docstring's crash-recovery
    // contract). Each table is victim-pruned MAP-SIDE (broadcast
    // semi-joins) before anything unions, so the only distinct runs on
    // the victim-sized incident set — a unioned-pairs-then-prune form
    // measured a graph-sized distinct shuffle (0.6 → 3.0 s at the ×64
    // amplification) for the same answer.
    def incident(pairs: DataFrame): DataFrame = pairs
      .join(broadcast(vic.select(col("v").as("s"))), Seq("s"), "left_semi")
      .unionByName(pairs
        .join(broadcast(vic.select(col("v").as("d"))), Seq("d"), "left_semi"))
    val dropped = incident(edges0.select("s", "d"))
      .unionByName(incident(oriented0.select(
        least(col("u"), col("w")).as("s"), greatest(col("u"), col("w")).as("d"))))
      .distinct().localCheckpoint()
    // surviving endpoints of dropped edges: their degree decremented,
    // so every standing edge they touch must re-orient
    val touched = dropped.select(col("s").as("v"))
      .unionAll(dropped.select(col("d").as("v"))).distinct()
      .join(broadcast(vic), Seq("v"), "left_anti").localCheckpoint()
    // survivor edge set lands by swap (E-bounded map-side anti scan)
    edges0
      .join(broadcast(vic.select(col("v").as("s"))), Seq("s"), "left_anti")
      .join(broadcast(vic.select(col("v").as("d"))), Seq("d"), "left_anti")
      .write.mode("overwrite").parquet(s"$dir/edges.next")
    graft.io.DirSwap.swapInto(fs,
      new org.apache.hadoop.fs.Path(s"$dir/edges.next"),
      new org.apache.hadoop.fs.Path(s"$dir/edges"))
    val edgesNew = Tables.read(spark, s"$dir/edges")
    degrees(edgesNew).write.mode("overwrite").parquet(s"$dir/degrees.next")
    graft.io.DirSwap.swapInto(fs,
      new org.apache.hadoop.fs.Path(s"$dir/degrees.next"),
      new org.apache.hadoop.fs.Path(s"$dir/degrees"))
    val degNew = Tables.read(spark, s"$dir/degrees")
    // survivor edges needing re-orientation: those touching a
    // degree-changed endpoint (two-hop-bounded, never the graph)
    val reorient = edgesNew
      .join(broadcast(touched.select(col("v").as("s"))), Seq("s"), "left_semi")
      .unionByName(edgesNew
        .join(broadcast(touched.select(col("v").as("d"))), Seq("d"), "left_semi"))
      .distinct().localCheckpoint()
    val gone = dropped.unionByName(reorient)
    val kept = oriented0
      .select(least(col("u"), col("w")).as("s"), greatest(col("u"), col("w")).as("d"),
        col("u"), col("w"), col("wr"))
      .join(broadcast(gone), Seq("s", "d"), "left_anti")
      .select("u", "w", "wr")
    val ends = reorient.select(col("s").as("v"))
      .unionAll(reorient.select(col("d").as("v"))).distinct()
    val degSlice = degNew.join(broadcast(ends), Seq("v"), "left_semi")
    kept.unionByName(orientWith(reorient, degSlice))
      .write.mode("overwrite").parquet(s"$dir/oriented.next")
    graft.io.DirSwap.swapInto(fs,
      new org.apache.hadoop.fs.Path(s"$dir/oriented.next"),
      new org.apache.hadoop.fs.Path(s"$dir/oriented"))
  }

  /** [[triangleStats]] over PRE-MATERIALIZED oriented edges and degrees —
    * the form a production run uses. The oriented edge list is consumed
    * four times (both wedge sides, the closing semi-join, the out-degree
    * probe) and the degree table twice; serving them from a materialized
    * table means the edge-derivation subtree (often a join over a fact
    * table) executes ONCE, not once per consumer. At 100 TB the oriented
    * adjacency IS the index: build it in one pass, run every analysis
    * against it — the same standing-table pattern the engine's LSH/IVF
    * ANN indexes use.
    */
  def triangleStatsFrom(o: DataFrame, deg: DataFrame): DataFrame = {
    val a = o.select(col("u"), col("w").as("x"), col("wr").as("xr"))
    val b = o.select(col("u"), col("w").as("y"), col("wr").as("yr"))
    val wedges = a.join(b, "u").filter(col("xr") < col("yr"))
    val closed = wedges.join(
      o.select(col("u").as("x"), col("w").as("y")), Seq("x", "y"), "left_semi")
    val wedgeTotal = deg.agg(
      // deg·(deg−1) is even, so integer DIV is exact — and the sum stays
      // in BIGINT instead of accumulating a double that loses integer
      // precision past 2^53 on a large graph
      sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"),
      max("deg").as("max_degree"), count(lit(1)).as("n_nodes"))
    val outdeg = o.groupBy("u").agg(count(lit(1)).as("od"))
      .agg(max("od").as("max_outdeg"))
    val tri = closed.agg(count(lit(1)).as("n_triangles"))
    val e = o.agg(count(lit(1)).as("n_edges"))
    wedgeTotal.crossJoin(outdeg).crossJoin(tri).crossJoin(e)
      .select(
        col("n_nodes"), col("n_edges"), col("max_degree"), col("max_outdeg"),
        col("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("clustering"))
  }

  /** One-row whole-graph summary: nodes, edges, max oriented out-degree
    * (the √m bound made visible), wedge count, exact triangle count, and
    * the global clustering coefficient 3·Δ/wedges. Wedges are enumerated
    * by the oriented self-join on the center `u` and closed by ONE
    * equi-join: rank(x) < rank(y) means a closing edge can only be
    * oriented x→y, so no symmetric OR-join is needed.
    *
    * Compositional form (re-derives `o`/`deg` from the edge list — fine
    * for an in-memory graph); anything that derives edges from a big
    * relation should materialize first and call [[triangleStatsFrom]].
    */
  def triangleStats(edges: DataFrame): DataFrame =
    triangleStatsFrom(orient(edges), degrees(edges))

  /** Common-neighbor pair counts `(x, y, cn)` over an undirected
    * adjacency `und` (center `n`, neighbor `v`) with HUB CAPPING — the
    * link-prediction wedge enumeration made power-law-safe. Unlike the
    * triangle pass, common-neighbor COUNTS need wedges at EVERY center
    * (the min-rank orientation dedup does not apply), so per-center
    * fanout is C(deg, 2): one hub of degree 10⁶ alone would emit ~5·10¹¹
    * wedge rows. The cap: centers with `deg ≤ hubThreshold` enumerate
    * exactly; hotter centers admit each (center, neighbor) incidence
    * with probability `sampleK/deg` via deterministic hash admission
    * (`xxhash64(n, v) mod deg < sampleK`) — expected fanout per hub is
    * then C(sampleK, 2) regardless of its true degree, the same
    * bounded-hot-key discipline as the engine's salted joins and
    * hot-shingle caps. Admission is per-incidence and keyed on (n, v),
    * so the same pair of neighbors is judged consistently at a given
    * center across runs: the result is deterministic, exact below the
    * threshold, and an unbiased-per-center subsample above it.
    *
    * `deg` is the full degree table (v, deg); pass
    * `hubThreshold >= max degree` for an exact result (what the oracle
    * gate runs); production at 100 TB dials it to the skew budget.
    */
  def commonNeighborCounts(
      und: DataFrame, deg: DataFrame,
      hubThreshold: Long, sampleK: Long): DataFrame = {
    val admitted = und
      .join(deg.select(col("v").as("n"), col("deg").as("ndeg")), "n")
      .filter(col("ndeg") <= hubThreshold ||
        pmod(xxhash64(col("n"), col("v")), col("ndeg")) < sampleK)
      .select("n", "v")
    val a = admitted.select(col("n"), col("v").as("x"))
    val b = admitted.select(col("n"), col("v").as("y"))
    a.join(b, "n").filter(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cn"))
  }
}
