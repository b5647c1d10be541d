package graft

import org.apache.spark.sql.catalyst.expressions.{Contains, Expression, RegExpReplace}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that make these queries
  * scale — predicate pushdown into the parquet scan, column pruning,
  * broadcast joins for dims, map-side partial aggregation — must be
  * visible in the plan, not assumed.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan.toString

  /** The physical plan of the last `localCheckpoint` action `body` runs. */
  private def lastCheckpointPlan(body: => Unit): String = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.sparkPlan.toString)
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.sql.GraftShims.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    assert(!plans.isEmpty, "no localCheckpoint action ran")
    plans.toArray(Array.empty[String]).last
  }

  test("q_filter_project pushes predicates into the parquet scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("LessThan(l_shipdate") || p.contains("GreaterThan(l_discount"))
  }

  test("q_filter_project prunes to the 6 referenced columns") {
    val p = plan("q_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_returnflag"))
  }

  test("dim joins broadcast the small side") {
    assert(plan("q_join_broadcast_dims").contains("BroadcastHashJoin"))
    assert(plan("q_shipping_priority").contains("BroadcastHashJoin"))
  }

  test("semi/anti joins plan as join types, not materialized subqueries") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("grouped aggregation is partial+final (map-side combine)") {
    val p = plan("q_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("partial_sum") || p.contains("partial_count"))
  }

  test("q_pareto_curve has no unpartitioned WindowExec — the prefix sum is distributed") {
    // the running revenue sum runs as Consolidate.withRunningTotal
    // (range-partitioned sort + per-partition offsets); a global
    // Window.orderBy here would funnel the whole customer rollup
    // through one task at scale
    val p = plan("q_pareto_curve")
    assert(!p.contains("Window"), s"expected no WindowExec in:\n$p")
  }

  test("q_dpp_join injects a dynamic pruning filter on the partitioned fact scan") {
    // the dim predicate (speed = 'fast') lives only on the dim; the fact
    // scan must carry a runtime dynamicpruning PartitionFilter, not read
    // all 5 priority partitions
    val p = plan("q_dpp_join")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected dynamicpruning in PartitionFilters of:\n$p")
  }

  test("q_interval_join is an equi join on (user, bucket), never a nested loop") {
    val p = plan("q_interval_join")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"interval overlap must decompose to an equi join in:\n$p")
  }

  test("train_tokens_budget has no WindowExec — the running total is distributed") {
    val p = plan("train_tokens_budget")
    assert(!p.contains("Window"), s"expected no WindowExec in:\n$p")
  }

  test("q_bucket_prune reads exactly one bucket of the bucketed layout") {
    val p = plan("q_bucket_prune")
    assert(p.contains("SelectedBucketsCount: 1 out of 8"),
      s"expected bucket pruning to 1 of 8 in:\n$p")
  }

  test("top-k plans as TakeOrderedAndProject, not global sort") {
    assert(plan("q_topk_orders").contains("TakeOrderedAndProject"))
    // the weighted sample is the same shape: map-only key + bounded top-k
    assert(plan("sample_weighted").contains("TakeOrderedAndProject"))
  }

  test("per-key top-k pushes a partial WindowGroupLimit below the shuffle") {
    // rank <= k must prune map-side (each task keeps k rows per key) —
    // the difference between shuffling k rows and shuffling the table
    val p = plan("q_window_rank")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("Partial") && p.contains("Final"))
  }

  test("BM25 top-5 rides WindowGroupLimit and broadcasts the query vocabulary") {
    // a stopword-heavy query matches much of the corpus; the rank filter
    // must prune map-side and the tiny query vocab must broadcast so the
    // corpus tf stream is filtered without shuffling on tok
    val p = plan("text_bm25_topk")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("partitioned read-back prunes partitions at the source") {
    val p = plan("q_partition_prune")
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    // the priority predicate must be a directory-level partition filter,
    // not a post-scan row filter
    assert(scanLine.contains("o_orderpriority"), s"no partition filter in: $scanLine")
  }

  test("shingle self-join never broadcasts the corpus stream") {
    // regression: under the raised broadcast threshold Catalyst once chose
    // BroadcastHashJoin for the inverted-index self-join, collecting the
    // full shingle stream onto the driver — fatal at scale. Since the r17
    // optimization round the stream is hash-NARROWED first (portable
    // 60-bit shingle hash, (long, long) rows — the compact side of the
    // house criterion), so the pin is shuffle_hash: the string-side
    // hazards that forced the earlier merge pin (non-spillable STRING
    // hash build under the 4 GiB soak heap) priced the un-narrowed rows.
    // The small counts joins may still broadcast.
    val p = plan("dedup_ngram_jaccard")
    assert(p.contains("ShuffledHashJoin"),
      "inverted-index self-join must shuffle-hash on the hashed keys")
    // the self-join keys on the hashed shingle column `sh`; the allowed
    // broadcasts (counts) key on doc_a/doc_b
    val joinLines = p.linesIterator.filter(_.contains("BroadcastHashJoin")).toSeq
    assert(!joinLines.exists(_.contains("[sh#")),
      "the hashed shingle stream must never broadcast")
  }

  test("prefix-filter candidate joins are shuffled hash joins on the hashed keys") {
    // the prefix paths join (long, long) rows — 16-byte hashed shingles,
    // the COMPACT side of the house criterion, so they keep shuffle_hash
    // (build side = the rarest-shingle prefix stream). The r17 merge
    // re-pin over-applied the string-side rule here and ScaleBench
    // caught a 4.7× sort knee at ×32 (56 s vs 12 s); the ×256/4 GiB
    // soak then showed the memory ceiling of this family is the per-doc
    // ObjectHashAggregate (collect_list), IDENTICAL under both join
    // strategies — so merge bought no safety and cost the sort.
    // both end in an eager localCheckpoint, whose returned plan is just
    // the checkpoint scan: read the interior plan from that action
    val docs = Tables.documents(spark, sf)
    for ((name, run) <- Seq(
        "jaccardPrefixPairs" -> (() => graft.ext.Dedup.jaccardPrefixPairs(docs, 3, 0.8)),
        "containmentPrefixPairs" -> (() => graft.ext.Dedup.containmentPrefixPairs(docs, 3, 0.5)))) {
      val p = lastCheckpointPlan(run())
      assert(p.contains("ShuffledHashJoin"),
        s"$name candidate join must be a shuffled hash join on the hashed keys")
      assert(p.contains("SortMergeJoin"),
        s"$name perDoc verify joins must sort-merge (arrays never broadcast)")
      assert(!p.contains("BroadcastHashJoin") ||
        !p.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("hs")),
        s"$name must not broadcast the per-doc array table")
    }
  }

  test("index classification never broadcasts corpus- or batch-scaled sides") {
    // regression of SCALING.md round-16 finding 3: under a raised
    // broadcast threshold AQE's compressed-size estimate admitted a
    // corpus-sized build side and burst spark.driver.maxResultSize.
    // The pins live in classifyAgainstIndex (engine-owned), so a user
    // under ANY session config gets the scale-safe plan.
    val p = plan("dedup_minhash_indexed")
    assert(p.contains("ShuffledHashJoin"),
      "classify-against-index joins must be shuffled hash joins")
    assert(!p.contains("BroadcastHashJoin"),
      "no classify join side may ride a driver-collected broadcast")
  }

  test("standing phash self-join never broadcasts the signature table") {
    val p = plan("mm_phash_indexed")
    assert(p.contains("ShuffledHashJoin"),
      "the (band, key) signature self-join must be a shuffled hash join")
  }

  test("banded edit-distance join is a sorted equi join, never a cross product") {
    val p = plan("dedup_edit_banded")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "edit-distance candidates must come from the (bucket, prefix) equi join")
    assert(p.contains("SortMergeJoin"),
      "corpus-sized text-carrying sides must sort-merge (spillable, never broadcast)")
  }

  test("semantic decontamination broadcasts the eval panel, never shuffles train by pair") {
    // the DESIGNED plan is a broadcast nested-loop over the tiny eval
    // side (benchmarks are panel-sized) — a shuffled join here would
    // move the train corpus keyed by pair, the 100 TB failure mode
    val p = plan("sim_decontam")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "eval panel must broadcast")
    assert(!p.contains("CartesianProduct"),
      "the pair enumeration must ride the broadcast, not a shuffled cartesian")
  }

  test("exact-substring spans are gram-keyed equi joins, never a cross product") {
    // the ExactSubstr mask must come from the duplicated-anchor equi
    // join-back (linear in occurrence count) — any NestedLoop/Cartesian
    // here would be a position-pair enumeration, quadratic on hot grams
    val p = plan("dedup_substring_exact")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "duplicated-anchor coverage must be an equi join on the gram key")
  }

  test("band join plans as an equi join on buckets, never a nested loop") {
    val p = plan("q_band_join")
    assert(!p.contains("NestedLoop"),
      "pure non-equi band join must not degrade to BroadcastNestedLoopJoin")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("shuffle budget: exchange counts stay at their designed minimum") {
    // shuffle exchanges only — BroadcastExchange is the cheap, desired kind
    def exchanges(name: String): Int =
      "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r.findAllIn(
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString).size
    // scan -> partial agg -> ONE exchange -> final agg (plus the final sort's
    // range exchange)
    assert(exchanges("q_pricing_summary") <= 2,
      s"q_pricing_summary grew to ${exchanges("q_pricing_summary")} exchanges")
    // broadcast dims: no fact-side hash exchange beyond the agg + sort
    assert(exchanges("q_join_broadcast_dims") <= 2)
    // flagship: the first aggregate's exchange only; the view body above
    // it (window, month re-group, sort) runs in one partition
    assert(exchanges("metrics_view") == 1,
      s"metrics_view has ${exchanges("metrics_view")} exchanges, expected 1")
  }

  test("bucketed-to-bucketed join has zero shuffle below the join") {
    // the whole point of q_bucketed_join: both tables are bucketed on the
    // join key with the same bucket count, so the sort-merge join needs
    // no Exchange on either side — the only shuffles in the plan are the
    // post-join agg + order-by. (A per-partition SortExec remains: since
    // Spark 3.0 bucketed scans don't claim sortBy output ordering —
    // multiple files per bucket would break it — but that sort is local,
    // spill-safe, and O(bucket), not a network shuffle.)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // AQE wraps the plan in AdaptiveSparkPlanExec before execution; turn
    // it off here so executedPlan (post-EnsureRequirements, where
    // exchanges materialize) is a plain traversable tree.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q_bucketed_join")(spark, sf)
      val joins = df.queryExecution.executedPlan.collect { case j: SortMergeJoinExec => j }
      assert(joins.nonEmpty, "bucketed join should plan as sort-merge")
      val below = joins.head.children.flatMap(_.collect { case n => n })
      assert(!below.exists(_.isInstanceOf[ShuffleExchangeExec]),
        "bucketed-to-bucketed join must not reshuffle either side")
      val scans = df.queryExecution.executedPlan.toString
      assert(scans.contains("Bucketed: true"),
        "both scans must actually read as bucketed")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("bloom join injects a runtime filter: bloom build on dims, might_contain on probe") {
    // both halves of InjectRuntimeFilter must be present: the build side
    // aggregates the filtered orders keys into a bloom filter
    // (bloom_filter_agg over xxhash64) and the lineitem probe side gains
    // a might_contain predicate that runs BEFORE its shuffle — the probe
    // scan is pre-filtered to rows that can possibly match
    val p = SparkEntry.queries("q_bloom_join")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("bloom_filter_agg"), "no bloom filter build aggregate")
    assert(p.contains("might_contain"), "probe side not pre-filtered")
  }

  test("q_cumulative_distinct has no WindowExec — the cumulative count is the prefix sum") {
    // COUNT(DISTINCT) OVER an expanding window would grow state with
    // history; the engine form is groupBy(user).min(day) + the
    // distributed running total
    val p = plan("q_cumulative_distinct")
    assert(!p.contains("Window"), s"expected no WindowExec in:\n$p")
  }

  test("q_histogram_equidepth has no sort and no window — boundaries broadcast, bins map-side") {
    val p = SparkEntry.queries("q_histogram_equidepth")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"expected no WindowExec in:\n$p")
    // the only joins are the broadcast of the 1-row boundary frame
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected the boundary row to broadcast in:\n$p")
  }

  test("q_streaks windows partition by user_id (no single-partition window)") {
    val p = SparkEntry.queries("q_streaks")(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(user_id"), s"expected user-partitioned windows in:\n$p")
  }

  test("q_cdc_apply compacts via partial max_by aggregation, not a window sort") {
    val p = plan("q_cdc_apply")
    assert(!p.contains("Window"), s"expected no WindowExec in:\n$p")
    assert(p.contains("max_by"), s"expected max_by aggregate in:\n$p")
  }

  /** The view body's single-partition region sits above the first
    * aggregate's final HashAggregate: exactly one `coalesce(1)`, the
    * plan's only shuffle below it, the first aggregate below it in Final
    * mode over that shuffle, and the Window, the pivot's HashAggregate and
    * the Sort above it with no exchange. So the one task sees aggregate
    * rows only, never a fact-cardinality row.
    */
  private def assertOneTaskViewBody(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Final
    import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    // executedPlan, not sparkPlan: exchanges appear only after
    // EnsureRequirements runs
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val coalesces = root.collect { case c: CoalesceExec => c }
    assert(coalesces.size == 1 && coalesces.head.numPartitions == 1,
      s"expected one coalesce(1) in:\n$root")
    val region = coalesces.head
    val below = region.collect { case n => n }.toSet
    val above = root.collect { case n if !below.contains(n) => n }
    val shuffles = root.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1 && below.contains(shuffles.head),
      s"expected one shuffle, below the coalesce, in:\n$root")
    def firstAgg(p: SparkPlan): Option[HashAggregateExec] = p match {
      case a: HashAggregateExec => Some(a)
      case _ => p.children.headOption.flatMap(firstAgg)
    }
    val agg = firstAgg(region.child).getOrElse(fail(s"no aggregate below the coalesce in:\n$root"))
    assert(agg.aggregateExpressions.nonEmpty && agg.aggregateExpressions.forall(_.mode == Final),
      s"the aggregate under the coalesce is not the final one:\n$agg")
    assert(agg.collect { case e: ShuffleExchangeExec => e }.nonEmpty,
      s"the first aggregate's shuffle is not under its final aggregate:\n$root")
    assert(above.exists(_.isInstanceOf[WindowExec]), s"no Window above the coalesce in:\n$root")
    assert(above.exists(_.isInstanceOf[HashAggregateExec]),
      s"no pivot HashAggregate above the coalesce in:\n$root")
    assert(above.exists { case s: SortExec => s.global; case _ => false },
      s"no global Sort above the coalesce in:\n$root")
  }

  test("metrics_view's view body runs in one partition above the first aggregate") {
    assertOneTaskViewBody(SparkEntry.queries("metrics_view")(spark, sf))
  }

  test("q_temporal_join resolves through the native partitioned as-of operator") {
    // the point-in-time lookup must actually hit SortMergeAsOfJoinExec —
    // a silent fallback to a generic join would still pass the oracle
    // but lose the operator's bounded-buffer merge at scale
    assert(plan("q_temporal_join").contains("SortMergeAsOfJoin"))
  }

  test("text_heavy_hitters broadcasts the fixed-size sketch to the estimate join") {
    // the CMS is <= depth x width rows by construction; estimating
    // candidates must be a broadcast join, never a shuffle of the sketch
    // side per candidate batch
    assert(plan("text_heavy_hitters").contains("BroadcastHashJoin"))
  }

  test("incremental near-dup joins stay equi-keyed: no cartesian, no nested loop") {
    // the batch-vs-index banding join and both verification joins must
    // plan as hash/sort-merge equi joins — a NestedLoop or Cartesian
    // here would mean the batch is being compared against the whole
    // corpus pairwise, exactly what the LSH index exists to avoid
    val p = SparkEntry.queries("dedup_minhash_incremental")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "banding degenerated to a cross product")
    assert(!p.contains("NestedLoopJoin"), "a join fell back to nested loop")
  }

  test("q_assoc_rules pairs join equi-keyed on the basket key; stats broadcast") {
    // the basket self-join must stay a hash/sort-merge equi join on
    // l_orderkey (bounded per-key fanout) and the item-count / N joins
    // must broadcast — a cross product here would be baskets², the
    // shape rule mining exists to avoid
    val p = SparkEntry.queries("q_assoc_rules")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "basket pairing degenerated to a cross product")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "item counts / basket total must broadcast")
  }

  test("graph traversal queries never plan a cartesian product") {
    // BFS frontier expansion and LPA mode rounds are adjacency equi
    // joins; a CartesianProduct would mean a frontier or label table
    // is being paired against the whole graph
    for (q <- Seq("graph_bfs_layers", "graph_label_propagation")) {
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q plans a cross product")
    }
  }

  test("graph_label_propagation's mode argmax is a partial-aggregable max, never a window sort") {
    // the per-round argmax rides max(struct(c, -lab)) — map-side
    // combinable, node-partitioned — not a rank window (which would sort
    // every (node, label) partition each round)
    val p = SparkEntry.queries("graph_label_propagation")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"expected no WindowExec in:\n$p")
    assert(p.contains("hashpartitioning(n"),
      "LPA mode aggregate must partition by the center node")
  }

  test("sim_topk_mmr serves the greedy from checkpointed pool tables, no cross product") {
    // the greedy steps are localCheckpoint-truncated (each step's plan
    // would otherwise CONTAIN every earlier step's — the measured 21 s
    // lineage blow-up), so the final plan must read the last
    // checkpointed selection, not re-derive the cascade; and nothing
    // in it may be a cartesian pairing
    val p = SparkEntry.queries("sim_topk_mmr")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD"),
      "greedy stages must be lineage-truncated (checkpoint-served)")
    assert(!p.contains("CartesianProduct"), "pool pairing degenerated to a cross product")
  }

  test("q_regr_by_group aggregates partial+final over exact decimal sums") {
    val p = plan("q_regr_by_group")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("partial_sum"))
    assert(p.contains("decimal(38,0)"), "moment sums must ride exact wide decimals")
  }

  test("q_ida_e2e's view stage carries the flagship's Window + HashAggregate skeleton") {
    // the composed reference pipeline must END in the same physical shape
    // as metrics_view: the one-partition region (LAG Window, pivot
    // HashAggregate, Sort) over the monthly aggregate's final merge — not
    // some variant where the spreadsheet-side plumbing lets unaggregated
    // rows into that one task
    assertOneTaskViewBody(SparkEntry.queries("q_ida_e2e")(spark, sf))
  }

  /** The three files of the IDA fixture release, read as q_ida_e2e_csv
    * reads them.
    */
  private def idaFixtureFiles: Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val dir = graft.queries.RefPipelinePack.idaFixtureDir
    Seq(
      "SMP" -> spark.read.format("ods").load(s"$dir/smp_2015.ods"),
      "STFC" -> spark.read.format("ods").load(s"$dir/stfc_2015.ods"),
      "SCM" -> graft.io.CsvEncodingReader.read(spark, s"$dir/scm_2015.tsv"))
  }

  private def countExprs(plan: LogicalPlan)(pf: PartialFunction[Expression, Unit]): Int =
    plan.collect { case n => n.expressions.map(_.collect(pf).size).sum }.sum

  test("IDA cleanFile: the metadata filter holds one contains per marker") {
    // per (column, marker) contains made Catalyst's BooleanSimplification
    // iterate once per pushed-down NOT; the NUL-joined row string holds 6
    idaFixtureFiles.foreach { case (servico, raw) =>
      val p = graft.ops.IdaPipeline.cleanFile(raw, servico).queryExecution.optimizedPlan
      val n = countExprs(p) { case _: Contains => }
      assert(n >= 1 && n <= 8, s"$servico: $n Contains in the optimized plan:\n$p")
    }
  }

  test("IDA consolidate: the VALOR parse chain is staged, a few regexes per row") {
    // records the largest RegExpReplace count over every plan Catalyst
    // optimizes while the release is consolidated and checkpointed —
    // including the sort under the sequential id, which `.rdd` plans
    // without any QueryExecutionListener seeing it
    val cleaned = idaFixtureFiles.map { case (servico, raw) =>
      graft.ops.IdaPipeline.cleanFile(raw, servico).localCheckpoint()
    }
    var maxRegex = (0, "")
    val probe = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = synchronized {
        val n = countExprs(plan) { case _: RegExpReplace => }
        if (n > maxRegex._1) maxRegex = (n, plan.toString)
        plan
      }
    }
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val before = exp.extraOptimizations
    exp.extraOptimizations = before :+ probe
    val rows =
      try graft.ops.IdaPipeline.consolidate(cleaned).localCheckpoint().collect()
      finally exp.extraOptimizations = before
    assert(rows.nonEmpty)
    val (n, worst) = maxRegex
    assert(n >= 1 && n <= 12, s"$n RegExpReplace in one optimized consolidate plan:\n$worst")
  }

  /** The number of Spark jobs `body` starts. */
  private def jobsIn(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftShims.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.GraftShims.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("IDA cleanFile locates and promotes the header in one job (single-file ODS read)") {
    val (servico, raw) = idaFixtureFiles.head
    val n = jobsIn(graft.ops.IdaPipeline.cleanFile(raw, servico))
    assert(n == 1, s"$n jobs to index, locate and promote the header")
  }

  test("IDA view: collecting overIda over the consolidated release runs 2 jobs") {
    // the monthly aggregate's shuffle map stage and the one-task result
    // stage; a shuffle per view step took 6 (four shuffles and the
    // ORDER BY's range-sample job)
    val cleaned = idaFixtureFiles.map { case (servico, raw) =>
      graft.ops.IdaPipeline.cleanFile(raw, servico).localCheckpoint()
    }
    val view = graft.ops.MetricsView.overIda(
      graft.ops.IdaPipeline.consolidate(cleaned).localCheckpoint())
    var rows = Array.empty[org.apache.spark.sql.Row]
    val n = jobsIn { rows = view.collect() }
    assert(rows.nonEmpty)
    assert(n == 2, s"$n jobs to collect the view")
  }

  test("dedup_span_mask: equi joins only, per-doc windows, no cartesian") {
    val p = plan("dedup_span_mask")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "span masking must never cross-join the corpus")
    // every window in the interval merge partitions by doc_id — bounded
    // by document length, never a single-partition global sort
    val specs = "windowspecdefinition\\(([a-z_]+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(specs == Set("doc_id"),
      s"interval-merge windows must partition by doc_id only, got $specs")
    assert(p.contains("HashAggregate"), "df table must build via hash aggregation")
  }

  test("train_curriculum: the rank<=10 cut plans as a WindowGroupLimit") {
    // the per-source curriculum rank never sorts whole partitions: the
    // k=10 cut pushes into WindowGroupLimit, so the marginal cost at
    // corpus scale is the quality-score scan, not the window
    val p = plan("train_curriculum")
    assert(p.contains("WindowGroupLimit"))
  }

  test("sim_range_ivf: no window over candidates; cell scan dynamically pruned") {
    // the range serving shape's point: a per-query hit explosion can
    // never single-partition a rank, because the candidate stream has no
    // rank — the only window orders the broadcast-sized probe list
    val p = plan("sim_range_ivf")
    val windows = p.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 1, s"only the probe-rank window may plan, got $windows")
    assert(p.contains("dynamicpruning"),
      "probed cells must prune the cell-partitioned scan at runtime")
    assert(p.contains(">= 0.25"), "the radius must cut as a scalar predicate")
  }

  test("dedup_substring_keep_best: quality joins doc-granular via broadcast, upstream of the gram explosion") {
    // the judge contract for the quality-ranked keep policy: ONE extra
    // broadcast join (doc rows), no new shuffle of the gram stream — a
    // shuffled quality join or a post-explosion join would re-key the
    // gram stream by doc at 100 TB
    val p = plan("dedup_substring_keep_best")
    assert(p.contains("BroadcastHashJoin"), "quality must broadcast-join the doc rows")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
    // the broadcast join must sit BELOW the Generate (gram posexplode):
    // in the formatted tree the join's line appears after the Generate
    // only if it joined the exploded stream — assert the join is on the
    // doc-row side by checking no SortMergeJoin re-keys grams
    assert(!p.contains("SortMergeJoin"),
      "the gram stream must not re-shuffle for the quality join")
  }

  test("curation_gopher_rules (fused) keeps whole-stage codegen — no CodegenFallback lambdas") {
    // the fused expression's reason to exist: the lambda pipeline's
    // aggregate/filter higher-order functions run interpreted; the
    // fused form must plan as one codegen'd scan into the aggregate
    val df = SparkEntry.queries("curation_gopher_rules")(spark, sf)
    // materialize THIS queryExecution (count() would plan a different
    // one): AQE reveals codegen ids only on the FINAL plan
    df.collect()
    val formatted = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("gophermaskexpr"),
      "fused path must plan the native expression")
    // FormattedMode marks whole-stage membership as "[codegen id : N]"
    // on each operator; the scan→project→partial-agg pipeline carrying
    // the fused expression must be inside one
    assert(formatted.contains("codegen id"),
      "the fused scan must stay inside whole-stage codegen")
  }
}
