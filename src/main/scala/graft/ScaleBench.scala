package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-trend benchmark: runs the most expensive queries
  * against amplified copies of the base SF directory (×2 … ×16) and
  * reports per-query wall time vs scale, so the "≲ linear growth"
  * claim in SCALING.md is measured rather than argued.
  *
  * Amplification is union-replication with per-replica perturbation —
  * NOT byte-identical copies, which would be pathological inputs for
  * the near-dup family (k identical copies of every doc ⇒ k² genuine
  * near-dup pairs, a property of degenerate data, not of the
  * operators). Each replica instead simulates *new* data:
  *  - documents: ids offset; every token prefixed with a replica tag
  *    (disjoint shingle/token space per replica ⇒ near-dup pair count
  *    and vocabulary grow linearly, as they would with real new data);
  *  - embeddings: ids offset; vectors rotated by `r` positions
  *    (norm-preserving, decorrelates replicas so LSH/IVF buckets fill
  *    the way genuinely new vectors would);
  *  - lineitem/orders: order keys offset (join structure preserved,
  *    key space grows);
  *  - dimensions are copied unchanged — at 100 TB the facts grow while
  *    dims stay dimension-sized, so that is the honest scaling shape.
  *
  * Usage: runMain graft.ScaleBench [baseSfDir] [scalesCsv] [subsetCsv|families]
  * (default subset: the ENTIRE catalog; "families" = curated
  * representatives). Output: one JSON line per (scale, query) plus a
  * final markdown table (pasted into SCALING.md) with the time ratios
  * against the first scale run.
  */
object ScaleBench {

  /** Family representatives whose input is the full (un-sliced) corpus
    * or fact tables — the ones whose cost can actually track the scale.
    * Retained as the CHEAP sweep (`--families` / 3rd arg `families`);
    * since round 7 the DEFAULT sweep is the entire catalog, so every
    * new query joins the trend without editing this file. Slice-bounded
    * queries (doc_id/vec_id caps, fixture round trips) measure FLAT by
    * design — a flat trend is the empirical proof of their boundedness,
    * which is exactly what SCALING.md wants pinned.
    */
  val ScaleQueries: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_minhash_incremental",
    "dedup_ngram_jaccard", "dedup_edit_banded", "dedup_semantic",
    "text_chargrams", "text_langid_ngram", "text_vocab_stats",
    "text_contamination", "text_chunk_dedup", "text_rare_tokens",
    "sim_topk_bruteforce", "sim_topk_ivf", "sim_topk_lsh", "sim_topk_sq8",
    "q_join_fact_fact", "q_local_revenue", "q_skew_join_salted",
    // windows / sessions (events), set ops (orders), as-of (events),
    // train (documents), streaming twin (events)
    "q_scd2_history", "q_window_sliding", "q_sessionize",
    "q_except", "q_intersect",
    "q_asof_join", "q_asof_partitioned",
    "train_pack_sequences", "train_mixture", "train_upsample",
    "q_user_activity",
    // round-6 curation additions (documents)
    "text_lm_bits", "dedup_source_overlap", "text_freq_spectrum",
    "text_bm25_topk",
    // round-6 scale-pattern additions: co-located/bloom joins, sorted
    // write, PQ ANN, k-means profile, weighted sampling, entropy
    // scoring, EWMA, column profiling
    "q_bucketed_join", "q_bloom_join", "q_global_sort",
    "sim_topk_pq", "sim_kmeans_profile", "sample_weighted",
    "text_entropy", "q_ewma", "q_profile_columns",
    "q_asof_forward", "q_ewma_all", "q_window_median",
    "q_window_distinct", "q_join_nullsafe",
    "q_merge_apply", "q_quality_report", "q_pseudonymize",
    "q_csv_malformed", "q_csv_gzip")

  /** Bench-only variants (no oracle, so not in the catalog) measuring a
    * production scale dial the oracled form must keep fixed.
    *
    * `dedup_semantic_scaledk`: the oracled dedup_semantic pins
    * nCentroids=16 because the DuckDB oracle replays training with those
    * seeds — but fixed k means cell population grows ∝ n and the
    * within-cell self-join does Σ cell² ≈ n²/k work (measured: 3.1× at
    * the ×16→×32 doubling). Production SemDeDup raises k with n to hold
    * cell width constant; this variant derives k from the corpus count
    * (width ≈ 256) and shows the SAME operator turning linear, so the
    * super-linearity is the fixed-model artifact, not the operator.
    */
  val ExtraQueries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    "dedup_semantic_scaledk" -> ((s: SparkSession, dir: String) => {
      val e = Tables.embeddings(s, dir)
      val k = math.max(16L, e.count() / 256L).toInt
      graft.ext.Similarity.semanticDupPairs(
        e, threshold = 0.45, nCentroids = k, trainCap = math.max(256L, 4L * k))
    }))

  /** Id offset between replicas: replica r's ids are the source's + r·IdOffset. */
  private[graft] val IdOffset = 100000000L

  /** k perturbed replicas of `df` unioned together; replica 0 is the
    * original frame bit-for-bit.
    */
  private def amplify(df: DataFrame, k: Int)(perturb: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until k).map(r => if (r == 0) df else perturb(df, r)).reduce(_.union(_))

  /** ×k `documents`: ids offset per replica, every token tagged. Also
    * the amplifier of [[SoakBench]].
    */
  private[graft] def amplifiedDocuments(spark: SparkSession, baseDir: String, k: Int): DataFrame =
    amplify(Tables.documents(spark, baseDir), k) { (d, r) =>
      d.select(
        (col("doc_id") + lit(r * IdOffset)).as("doc_id"),
        // SUFFIX every token with a replica tag: replica shingle/token
        // spaces are disjoint, so near-dup pairs stay intra-replica —
        // and the text's PREFIX keeps its original entropy. (A prefix
        // tag measured wrong: "r14group r14..." spent the edit-banded
        // query's 12-char prefix band on the tag + first token alone,
        // collapsing every "group ..." doc of a replica into one band
        // bucket — a quadratic artifact of the amplifier, not the
        // operator. Genuinely new data keeps first-k-char diversity.)
        regexp_replace(col("text"), "(\\S+)", s"$$1r$r").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }

  /** ×k `embeddings`: ids offset per replica, vectors rotated. Also the
    * amplifier of [[SoakBench]].
    */
  private[graft] def amplifiedEmbeddings(spark: SparkSession, baseDir: String, k: Int): DataFrame =
    amplify(Tables.embeddings(spark, baseDir), k) { (d, r) =>
      val rot = r % 64
      d.select(
        (col("vec_id") + lit(r * IdOffset)).as("vec_id"),
        // rotate the vector by r positions: norm-preserving but
        // decorrelated from the source replica
        concat(slice(col("embedding"), rot + 1, 64 - rot),
          slice(col("embedding"), 1, rot)).as("embedding"),
        col("label"))
    }

  def materialize(spark: SparkSession, baseDir: String, outDir: String, k: Int): Unit = {
    val fs = new java.io.File(outDir)
    if (new java.io.File(fs, "_DONE").exists()) return
    fs.mkdirs()

    amplifiedDocuments(spark, baseDir, k).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    amplifiedEmbeddings(spark, baseDir, k).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    amplify(Tables.lineitem(spark, baseDir), k) { (d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(r * IdOffset))
    }.write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    amplify(Tables.orders(spark, baseDir), k) { (d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(r * IdOffset))
    }.write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    // events: each replica is a disjoint user/event-id space with the
    // same per-user timelines — sessions, windows and as-of probes grow
    // in NUMBER (the honest shape for more traffic), not in depth.
    // Written with the micros timestamp Tables.events normalizes to,
    // which its schema check reads back unchanged.
    amplify(Tables.events(spark, baseDir), k) { (d, r) =>
      d.withColumn("event_id", col("event_id") + lit(r * IdOffset))
        .withColumn("user_id", col("user_id") + lit(r * IdOffset))
    }.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      Tables.load(spark, baseDir, t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    new java.io.File(fs, "_DONE").createNewFile()
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val scales = args.lift(1).getOrElse("1,2,4,8,16").split(",").map(_.trim.toInt).toSeq
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // DEFAULT: the whole catalog — every query (new ones included) gets
    // a trend row without registration. 3rd arg: "families" = the
    // curated representative list (cheap sweep), or a comma-separated
    // subset (rerun one family cheaply).
    require(ScaleQueries.forall(SparkEntry.queries.contains),
      s"stale family list: ${ScaleQueries.filterNot(SparkEntry.queries.contains).mkString(",")}")
    val only: Option[Set[String]] = args.lift(2).map {
      case "families" => ScaleQueries.toSet
      case csv => csv.split(",").map(_.trim).toSet
    }
    val queries = (SparkEntry.queries.toSeq ++ ExtraQueries).sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    val dirs: Seq[(Int, String)] = scales.map { k =>
      if (k == 1) k -> baseDir
      else {
        val d = s"target/scalebench/x$k"
        materialize(spark, baseDir, d, k)
        k -> d
      }
    }

    // one untimed warm-up pass at the smallest scale (JIT + codegen +
    // parquet footers), then min-of-2 timed passes per scale
    queries.foreach { case (_, fn) => fn(spark, dirs.head._2).count() }
    val results: Seq[(Int, Seq[(String, Double)])] = dirs.map { case (k, dir) =>
      def pass(): Seq[(String, Double)] = queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        name -> (System.nanoTime() - t0) / 1e9
      }
      val (p1, p2) = (pass(), pass())
      val mins = p1.zip(p2).map { case ((n, a), (_, b)) => n -> math.min(a, b) }
      mins.foreach { case (n, t) =>
        println(f"""{"scale":$k,"query":"$n","sec":$t%.3f}""")
      }
      k -> mins
    }

    // markdown table: rows = queries, columns = scales, cells = sec.
    // Ratios are against the FIRST scale actually run (results.head), and
    // labeled as such — a scales list of "2,8" reports ×8/×2, not a
    // mislabeled ×1.
    val baseK = results.head._1
    val base = results.head._2.toMap
    println()
    val lastK = results.last._1
    println("| query | " + results.map { case (k, _) => s"×$k" }.mkString(" | ") +
      s" | ×$lastK/×$baseK |")
    println("|---|" + results.map(_ => "---|").mkString + "---|")
    queries.map(_._1).foreach { q =>
      val cells = results.map { case (k, m) =>
        val t = m.toMap.apply(q)
        if (k == baseK) f"$t%.2f s" else f"$t%.2f s (${t / base(q)}%.1f×)"
      }
      val last = results.last._2.toMap.apply(q) / base(q)
      println(s"| $q | " + cells.mkString(" | ") + f" | $last%.1f |")
    }
    val totals = results.map { case (k, m) => k -> m.map(_._2).sum }
    println("| **total** | " + totals.map { case (k, t) =>
      if (k == baseK) f"$t%.2f s" else f"$t%.2f s (${t / totals.head._2}%.1f×)"
    }.mkString(" | ") + f" | ${totals.last._2 / totals.head._2}%.1f |")
    spark.stop()
  }
}
