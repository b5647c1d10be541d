package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Developer tools, one main, every subcommand under the shared session
  * posture of [[GraftSession.builder]]:
  *
  *  - `time <sfDir> <name>[,<name>…]` — times catalog queries with the
  *    Bench protocol ([[Bench.timeQueries]]: warm-up, min of two passes).
  *  - `plans <sfDir> <outDir> <suffix> <name>[,<name>…]` — writes each
  *    query's `explain("formatted")` to `<outDir>/<name>_<suffix>.txt`,
  *    before/after plan evidence from the posture the bench measures.
  *  - `plandoc <sfDir>` — writes PLANS.md (the representative plans).
  *  - `fingerprint <sfDir>` — writes PLAN_FINGERPRINTS.json
  *    ([[PlanFingerprint]]).
  *  - `shuffle <sfDir>` — writes SHUFFLE.md (measured data movement).
  *
  * Run: sbt "runMain graft.Dev <subcommand> <args>…"
  */
object Dev {

  private val Usage =
    "usage: graft.Dev time <sfDir> <names> | plans <sfDir> <outDir> <suffix> <names>" +
      " | plandoc <sfDir> | fingerprint <sfDir> | shuffle <sfDir>"

  def main(args: Array[String]): Unit = {
    val tool: SparkSession => Unit = args.toSeq match {
      case Seq("time", sf, names) => time(_, sf, names.split(",").toSeq)
      case Seq("plans", sf, outDir, suffix, names) =>
        plans(_, sf, outDir, suffix, names.split(",").toSeq)
      case Seq("plandoc", sf) => plandoc(_, sf)
      case Seq("fingerprint", sf) => fingerprint(_, sf)
      case Seq("shuffle", sf) => shuffle(_, sf)
      case _ => System.err.println(Usage); sys.exit(2)
    }
    // the committed plan artifacts pin local[4]: shuffle parallelism
    // prints into every Exchange, so the host's core count would
    // otherwise churn them
    val builder =
      if (Set("plandoc", "fingerprint")(args(0))) GraftSession.builder("local[4]", 4)
      else GraftSession.builder()
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try tool(spark) finally spark.stop()
  }

  private def time(spark: SparkSession, sf: String, names: Seq[String]): Unit =
    Bench.timeQueries(spark, sf, names.map(n => n -> SparkEntry.queries(n)))
      .foreach { case (name, t, failed) =>
        println(f"[time] $name%-32s $t%8.3f s" + (if (failed) " FAILED" else "")) }

  private def plans(spark: SparkSession, sf: String, outDir: String, suffix: String,
      names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
        df.queryExecution.explainString(FormattedMode))
      println(s"[plans] wrote $name ($suffix)")
    }
  }

  /** PLANS.md: formatted physical plans of representative queries — the
    * evidence behind SCALING.md's claims (pushdown, pruning, broadcast,
    * partial aggregation, exchange placement).
    */
  private val PlanDocPicks = Seq(
    "q_filter_project" -> "predicate pushdown + column pruning at the scan",
    "q_pricing_summary" -> "partial+final aggregation, single hash exchange",
    "q_join_broadcast_dims" -> "broadcast dim joins, no fact shuffle",
    "q_shipping_priority" -> "filtered star join with broadcast + TakeOrdered",
    "metrics_view" -> "flagship: agg -> keyed window -> re-agg -> sort",
    "dedup_minhash_lsh" -> "LSH banded self-join on ids only + verification",
    "sim_topk_bruteforce" -> "broadcast queries, native codegen dot, rank window",
    "sim_topk_ivf" -> "IVF: map-side centroid argmax (no assignment shuffle), broadcast probes",
    "q_window_sliding" -> "sliding ROWS frame over a keyed window, single exchange",
    "dedup_ngram_jaccard" -> "map-only shingles + shuffle-hash inverted-index self-join",
    "sample_stratified" -> "deterministic hash sample: map-only filter before the agg",
    "q_gap_fill" -> "dense-grid generate + left join + forward-fill window",
    "q_asof_native" -> "native BroadcastAsOfJoinExec: probe side has no Exchange/Sort",
    "q_asof_partitioned" -> "native SortMergeAsOfJoinExec: one exchange + sort per side, no driver collect",
    "q_user_activity" -> "streaming twin: windowed count + exact distinct, partial+final over one exchange",
    "q_partition_prune" -> "partitioned layout: the filter becomes PartitionFilters at the scan",
    "sample_exact_k" -> "exact-k per stratum: Partial WindowGroupLimit below the shuffle",
    "q_skew_join_salted" -> "manual skew mitigation: salted (key, salt) equi join, hot key sub-split",
    "dedup_edit_banded" -> "edit-distance candidates from (length-bucket, prefix) equi join, no cross product",
    "text_contamination" -> "decontamination: eval 5-gram set broadcast, corpus scan map-side",
    "q_scd2_history" -> "SCD2 islands: LAG + running SUM + LEAD share one custkey exchange",
    "dedup_incremental" -> "batch-vs-corpus dedup: fp-index join + batch window, corpus text never rescanned",
    "q_lateral_topk" -> "correlated LATERAL decorrelated into a partitioned window limit",
    "q_bucketed_join" -> "bucketed co-located fact-fact join: sort-merge with zero shuffle below",
    "q_bloom_join" -> "runtime bloom filter: bloom_filter_agg build + might_contain at the probe scan",
    "sim_topk_pq" -> "PQ ANN: map-side code assignment (literal codebooks), ADC scan, re-rank window",
    "sample_weighted" -> "weighted A-ES sample: map-only key + TakeOrderedAndProject top-k",
    "dedup_minhash_incremental" -> "batch-vs-index near-dup: (band, key) join + hashed-shingle verification, corpus text never rescanned",
    "q_ida_e2e" -> "composed reference system: spreadsheet plumbing feeding the flagship's Window + partial/final HashAggregate skeleton",
    "q_avro_roundtrip" -> "own Avro DSv2: pruned-readSchema BatchScan (per-file parallel) under partial+final aggregation",
    "quality_constraints" -> "constraint suite: ALL checks in one partial+final aggregate; RI as a left-semi count",
    "q_approx_rewrite" -> "optimizer-rule APX: hinted COUNT(DISTINCT) planned as approx_count_distinct (HLL++), exact twin keeps two-phase distinct",
    "sketch_hll_rollup" -> "mergeable HLL: per-type sketch agg + union agg to the global row, no distinct expand on the sketch path",
    "graph_triangles" -> "triangles off the materialized oriented index: wedge self-join + left-semi close, no fact-table re-derivation",
    "q_fileskip_prune" -> "file-skip index: pruned file-list scan + exact residual filter under one aggregate",
    "q_pareto_curve" -> "distributed prefix sum: rank + running revenue from per-partition offsets — NO WindowExec anywhere",
    "graph_link_prediction" -> "hub-capped common-neighbor join off the materialized adjacency, left-anti vs existing edges",
    "retrieval_bm25_refresh" -> "BM25 off the incrementally refreshed index: standing tf/df/dlen scans, broadcast query vocab",
    "q_dpp_join" -> "dynamic partition pruning: dim predicate becomes a runtime dynamicpruning PartitionFilter on the fact scan",
    "q_fileskip_bloom" -> "per-file Bloom point lookup: candidate-file scan + exact residual equality, no corpus scan",
    "curation_domain_quota" -> "per-domain quota: broadcast counts, hash-threshold pre-prune, window only over the bounded slice",
    "q_audience_overlap" -> "overlap matrix: distinct-by-user then MAP-SIDE pair explode, no audience self-join",
    "q_interval_join" -> "interval overlap as a bucketed equi join + residual predicate — no nested loop",
    "train_tokens_budget" -> "token-budget selection: rank histogram + boundary-stratum prefix, no corpus sort, no WindowExec",
    "sketch_bitmap_distinct" -> "EXACT mergeable distinct: map-side bitmap_construct partials, OR-merge second aggregate over bitmaps — ids never shuffle twice",
    "q_delete_vectors" -> "position deletes: broadcast left-anti on (_metadata.file_path, row_index), data files unrewritten",
    "dedup_span_mask" -> "span masking: df-filtered gram join-back (linear in df), per-doc lag+running-sum interval merge",
    "sim_range_ivf" -> "IVF range search: broadcast probes dynamically prune the cell-partitioned index scan; scalar radius filter, no candidate-stream window",
    "dedup_substring_exact" -> "exact-substring mask: ONE gram-keyed shuffle (full-partition count window) — no groupBy+join-back double shuffle, no pair enumeration",
    "mm_phash_lifecycle" -> "standing mm index serve: band equi self-join over compacted signature files, hamming verify on collisions only — payloads never scanned",
    "curation_gopher_rules" -> "Gopher suite, FUSED: one native one-pass expression (GopherMask inside whole-stage codegen) into one partial+final aggregate + 6-row stack — zero pre-aggregate shuffles, no CodegenFallback lambdas",
    "dedup_substring_keep_best" -> "quality-ranked keep policy: doc-granular broadcast quality join UPSTREAM of the gram explosion — the gram stream still pays exactly one shuffle",
    "sim_recall_sweep" -> "IVF nProbe sweep: one pinned cell assignment reused by every setting; per-setting cost is the broadcast-probe candidate join only")

  private def plandoc(spark: SparkSession, sf: String): Unit = {
    val sfName = sf.split('/').last
    val out = new StringBuilder
    out.append(s"# PLANS — formatted physical plans (generated by graft.Dev plandoc at $sfName)\n")
    out.append(s"\nRegenerate: `sbt \"runMain graft.Dev plandoc <testdata>/$sfName\"`. Plan-property\n")
    out.append("assertions live in PlanSpec; this file is the full evidence.\n")
    PlanDocPicks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sf)
      out.append(s"\n## $name — $why\n\n```\n")
      // normalized like the fingerprints, plus source line numbers, so a
      // regeneration with no plan change rewrites nothing
      out.append(PlanFingerprint.normalize(df.queryExecution.explainString(FormattedMode).trim)
        .replaceAll("\\.scala:\\d+", ".scala:_"))
      out.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), out.toString)
    println(s"wrote PLANS.md (${PlanDocPicks.size} plans)")
  }

  private def fingerprint(spark: SparkSession, sf: String): Unit = {
    import PlanFingerprint._
    val entries = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val planStr =
        try fn(spark, sf).queryExecution.executedPlan.toString
        catch { case e: Exception => s"PLAN_ERROR ${e.getClass.getName}" }
      val norm = normalize(planStr)
      (name, md5(norm), skeleton(norm))
    }
    val json = new StringBuilder("{\n")
    entries.zipWithIndex.foreach { case ((name, hash, skel), i) =>
      json.append(s"""  "$name": {\n    "hash": "$hash",\n    "skeleton": [\n""")
      json.append(skel.map(l => s"""      "${l.replace("\\", "\\\\")}"""").mkString(",\n"))
      json.append("\n    ]\n  }")
      json.append(if (i < entries.length - 1) ",\n" else "\n")
    }
    json.append("}\n")
    Files.writeString(Paths.get("PLAN_FINGERPRINTS.json"), json.toString)
    println(s"[planfp] wrote PLAN_FINGERPRINTS.json (${entries.length} queries)")
  }

  /** SHUFFLE.md: runs every catalog query under [[graft.ops.QueryMetrics]]
    * and records, per query, the MEASURED input and shuffle volumes. The
    * plan says what should move; this records what did. A query whose
    * shuffle-write volume rivals its input volume reshuffles its whole
    * input (fine once, fatal per-query at 100 TB); the broadcast/bucketed/
    * pre-aggregated designs show up directly as shuffle ≪ input.
    */
  private def shuffle(spark: SparkSession, sf: String): Unit = {
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        // noop sink, not count(): count() lets Catalyst prune unused
        // stages (a window query's whole exchange disappears), which
        // would audit a plan nobody runs. noop forces every output row.
        val (_, m) = ops.QueryMetrics.measure(spark) {
          fn(spark, sf).write.format("noop").mode("overwrite").save()
        }
        Some((name, m))
      } catch {
        case e: Exception =>
          System.err.println(
            s"[shuffle] $name failed: ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(160))
          None
      }
    }

    val sfName = sf.split('/').last
    val sb = new StringBuilder
    sb ++= "# SHUFFLE — measured per-query data movement "
    sb ++= s"(graft.Dev shuffle at $sfName, ${spark.sparkContext.master})\n\n"
    sb ++= "Task-metric totals per query (one noop-sink write each). Rows are\n"
    sb ++= "the economy basis — parquet `bytesRead` under-reports on local\n"
    sb ++= "files in this Spark build, but record counts are exact.\n"
    sb ++= "`w/input` = shuffle-written rows / input rows: ≪ 1 means the\n"
    sb ++= "query shuffles a REDUCED form of its input (map-side combine,\n"
    sb ++= "broadcast, pre-filter, bucketing); ≥ 1 means the input itself —\n"
    sb ++= "or an expansion of it (explodes, salting, multi-stage flows) —\n"
    sb ++= "crosses the network, which sorts/writes/dedups do by design and\n"
    sb ++= "is what their SCALING.md entries argue about. `shuffle_w MB` is\n"
    sb ++= "the byte cost of that movement (accurately metered).\n"
    sb ++= s"Regenerate: `sbt \"runMain graft.Dev shuffle <testdata>/$sfName\"`.\n\n"
    sb ++= "| query | input rows | shuffle_w rows | shuffle_w MB | w/input |\n"
    sb ++= "|---|---|---|---|---|\n"
    rows.sortBy { case (_, m) => -m.shuffleWriteBytes }.foreach { case (n, m) =>
      val ratio =
        if (m.inputRecords == 0) "—"
        else f"${m.shuffleWriteRecords.toDouble / m.inputRecords}%.2f"
      sb ++= s"| $n | ${m.inputRecords} | ${m.shuffleWriteRecords} | ${mb(m.shuffleWriteBytes)} | $ratio |\n"
    }
    val skipped = SparkEntry.queries.keySet -- rows.map(_._1).toSet
    if (skipped.nonEmpty)
      sb ++= s"\n${skipped.size} queries FAILED to run and are missing above: " +
        skipped.toSeq.sorted.mkString(", ") + "\n"
    val totalIn = rows.map(_._2.inputRecords).sum
    val totalSw = rows.map(_._2.shuffleWriteRecords).sum
    val totalSb = rows.map(_._2.shuffleWriteBytes).sum
    sb ++= s"| **total** | $totalIn | $totalSw | ${mb(totalSb)} | ${f"${totalSw.toDouble / totalIn}%.2f"} |\n"
    Files.writeString(Paths.get("SHUFFLE.md"), sb.toString)
    println(s"[shuffle] wrote SHUFFLE.md (${rows.size} queries)")
  }
}
