package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.{DataFiles, StandingIndex}

/** Deduplication operators for a training-data pipeline: exact
  * (fingerprint group-by), MinHash+LSH banded near-dup, SimHash, and
  * n-gram Jaccard. Embedding-cosine near-dup lives in [[Similarity]].
  *
  * Scale design (100 TB): nothing here compares all pairs globally —
  * exact dedup is one hash shuffle on the fingerprint; MinHash-LSH
  * shuffles (band_id, band_key) so only same-bucket docs ever meet in the
  * self-join; the exact-Jaccard verification runs on candidate pairs only.
  * The all-pairs `ngramJaccardPairs` is the small-data oracle/verification
  * variant, which LSH candidates are checked against in the specs.
  */
object Dedup {

  /** Distinct whitespace tokens of the casefolded text. */
  def tokenSet(text: Column): Column = array_distinct(TextAnalysis.tokens(text))

  /** Distinct word n-gram shingles (space-joined) of the casefolded text.
    * element_at is 1-based, matching the DuckDB list indexing its oracle
    * uses; docs shorter than n yield an empty set.
    */
  /** Shingle set from an ALREADY-MATERIALIZED token array column.
    * Callers must bind `toks` to a real column (project it, or use the
    * `explode(array(...))` barrier like [[shingleRows]]): if `toks` is
    * the split expression itself, the interpreted higher-order lambda
    * re-evaluates the whole split once per element_at — measured 13 s
    * vs 1 s over the sf0.1 corpus for the same logical result.
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    // Guarded: sequence(1, 0) would generate a DESCENDING sequence in
    // Spark, so short docs must short-circuit to an empty set.
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))))

  /** Column-form shingle set straight from text — convenient for specs
    * and single-doc fixtures; for corpus-scale scans prefer
    * [[shingleRows]] (see the re-evaluation warning on
    * [[shinglesFromTokens]]).
    */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(TextAnalysis.tokens(text), n)

  /** Exact-duplicate groups: fingerprint → (n copies, keeper = min id). */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper_id"))

  /** Incremental (batch-vs-corpus) exact dedup — the daily-ingest shape:
    * the standing corpus is represented ONLY by its fingerprint index
    * (16-byte md5 per doc, never the text), so admitting a new batch
    * costs one fp-keyed join against the index plus one window over the
    * batch itself; the corpus text is never rescanned. Each incoming doc
    * is classified `dup_corpus` (fingerprint already indexed),
    * `dup_batch` (a smaller id in THIS batch has the same fingerprint),
    * or `kept` (enters the corpus, and its fp joins the index).
    */
  def incrementalDedup(corpusFps: DataFrame, incoming: DataFrame): DataFrame = {
    val idx = corpusFps.select(col("fp"), lit(true).as("in_corpus")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("doc_id")
    incoming
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("rk", row_number().over(w))
      .join(idx, Seq("fp"), "left")
      .withColumn("status",
        when(col("in_corpus").isNotNull, "dup_corpus")
          .when(col("rk") > 1, "dup_batch")
          .otherwise("kept"))
      .drop("in_corpus", "rk")
  }

  /** The fingerprint index a standing corpus contributes to
    * [[incrementalDedup]] — what a 100 TB deployment would keep
    * materialized between ingest runs.
    */
  def fingerprintIndex(corpus: DataFrame, textCol: String = "text"): DataFrame =
    corpus.select(TextAnalysis.fingerprint(col(textCol)).as("fp")).distinct()

  /** MATERIALIZED fingerprint index with full lifecycle — the exact-dedup
    * family's standing artifact gets the verbs every other index carries,
    * but deletion here cannot be a tombstone: a fingerprint is SHARED by
    * every doc with the same normalized text, so retracting one copy must
    * DECREMENT the fp's count and the fp only stops matching when its
    * last copy leaves. The layout is therefore a delta log of (fp, n)
    * POSITIVE partial counts (`fp/`, the [[graft.streaming.RetrievalIngest]]
    * df-log posture) from build and refresh, plus a distinct
    * `(fp, doc_id)` RETRACTION LEDGER (`retract/`): serving keeps
    * admitted − distinct-retracted > 0, and compaction squashes both
    * physically while CARRYING the ledger. The ledger (not a signed −n
    * delta) is what makes retraction doc-idempotent — see
    * [[retractFromFingerprintIndex]]. Every landing is a
    * replay-idempotent batch file ([[graft.io.BatchFiles]]), so
    * refresh/retract replays replace their own files exactly.
    */
  def writeFingerprintIndex(corpus: DataFrame, dir: String, textCol: String = "text"): Unit =
    graft.io.BatchFiles.land(fpCounts(corpus, textCol), s"$dir/fp", batchId = 0L)

  private def fpCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n"))

  /** Admit new docs: their (fp, +n) partials land as one batch file set.
    * Same new-doc_ids-only admission contract as every standing index.
    */
  def refreshFingerprintIndex(
      newDocs: DataFrame, dir: String, batchId: Long, textCol: String = "text"): Unit =
    graft.io.BatchFiles.land(fpCounts(newDocs, textCol), s"$dir/fp", batchId)

  /** Retract docs: distinct `(fp, doc_id)` rows land as a RETRACTION
    * LEDGER batch (`retract/`) — NOT a negative count delta. The caller
    * passes the RETRACTED DOCS (text needed to recompute their
    * fingerprints, id needed for the ledger; retraction requests carry
    * the doc). The ledger form is what makes retraction idempotent at
    * DOC granularity, not just batch granularity: retracting the same
    * doc again under a NEW batchId re-lands the same `(fp, doc_id)` row
    * and the distinct serving view absorbs it (a signed −n delta would
    * double-decrement and could kill a fingerprint that still has
    * surviving copies), and replaying a pre-compaction retraction
    * batchId AFTER [[compactFingerprintIndex]] is absorbed FOR
    * FINGERPRINTS LIVE AT COMPACTION because the compacted layout
    * CARRIES their ledger rows (the signed form folded deltas into the
    * compacted row, so the replayed files double-applied). For a fp
    * DEAD at compaction the ledger rows are dropped with it, so the
    * retraction replay-idempotence window closes at compaction exactly
    * like the refresh window: a dead-fp retraction batch replayed
    * post-compaction re-lands its `(fp, doc_id)` rows, and if the same
    * normalized text is later re-admitted under a NEW doc_id those
    * stale rows suppress the reborn fingerprint until the next
    * compaction purges them. Contract: `doc_id` is an immutable identity —
    * re-admitting a previously retracted doc_id as new content is
    * outside it (the ledger would still count the old retraction).
    * A fingerprint shared with surviving copies keeps a positive served
    * count and continues to match; the last copy's retraction drops it.
    */
  def retractFromFingerprintIndex(
      docs: DataFrame, dir: String, batchId: Long, textCol: String = "text",
      idCol: String = "doc_id"): Unit =
    graft.io.BatchFiles.land(
      docs.select(TextAnalysis.fingerprint(col(textCol)).as("fp"),
          col(idCol).cast("long").as("doc_id")).distinct(),
      s"$dir/retract", batchId)

  /** The live fingerprint set: per-fp admitted count minus DISTINCT
    * retracted docs > 0. Index-table cost (|distinct fp| · batch-files
    * rows plus the ledger), never corpus cost.
    */
  private[graft] def liveFingerprints(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val admitted = Tables.read(spark, s"$dir/fp")
      .groupBy("fp").agg(sum("n").as("n"))
    val net =
      if (DataFiles.exists(spark, s"$dir/retract")) {
        val retracted = Tables.read(spark, s"$dir/retract")
          .select("fp", "doc_id").distinct()
          .groupBy("fp").agg(count(lit(1)).as("r"))
        admitted.join(retracted, Seq("fp"), "left")
          .select(col("fp"), (col("n") - coalesce(col("r"), lit(0L))).as("n"))
      } else admitted
    net.filter(col("n") > 0).select("fp")
  }

  /** Squash the delta log to one (fp, n) gross-count row per LIVE
    * fingerprint, CARRYING the retraction ledger (restricted to kept
    * fps, squashed to one distinct file set) so post-compaction replays
    * of old retraction batches stay absorbed ([[StandingIndex.compact]]);
    * serving before and after is identical. The residual hazard is
    * replay past the fold: a pre-compaction REFRESH batchId
    * replayed after compaction double-counts its +n partials (the
    * original files were folded) — admissions carry no per-doc ledger —
    * and a pre-compaction RETRACTION batchId replayed after compaction
    * is only absorbed for fps that were LIVE at compaction (dead fps'
    * ledger rows were dropped, so the replay re-lands rows that would
    * suppress a later same-text re-admission). The replay-idempotence
    * window for BOTH verbs closes at compaction, same as every
    * batch-file index here; see [[retractFromFingerprintIndex]].
    */
  def compactFingerprintIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    StandingIndex.compact(spark, dir) { tmp =>
      val live = liveFingerprints(spark, dir).localCheckpoint()
      Tables.read(spark, s"$dir/fp")
        .groupBy("fp").agg(sum("n").as("n"))
        .join(live, Seq("fp"), "left_semi")
        .write.parquet(s"$tmp/fp")
      if (DataFiles.exists(spark, s"$dir/retract"))
        Tables.read(spark, s"$dir/retract")
          .select("fp", "doc_id").distinct()
          .join(live, Seq("fp"), "left_semi")
          .write.parquet(s"$tmp/retract")
    }

  /** [[incrementalDedup]] served from the MATERIALIZED signed-log index:
    * identical verdicts to the inline form over the corpus the live set
    * represents (build ∪ refreshes − retractions).
    */
  def incrementalDedupIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      incoming: DataFrame): DataFrame =
    incrementalDedup(liveFingerprints(spark, indexDir), incoming)

  /** Jaccard similarity of two pre-deduplicated arrays as a Column. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Distinct (doc_id, shingle) ROWS — [[shingles]] exploded, entirely
    * MAP-SIDE: the token array is materialized as an attribute behind an
    * explode(array(...)) barrier, so the transform() lambda reads
    * element_at(toks, i) instead of re-running the tokenizer per element
    * (the naive lambda form measured 10 s at sf0.1 for that reason), and
    * array_distinct gives per-doc distinctness — which IS global
    * (doc_id, sh) distinctness — without any shuffle. An earlier
    * formulation (posexplode → per-doc window leads → distinct) was
    * whole-stage-codegen but paid two full shuffles of the token stream;
    * this one pays zero. Short docs (< n tokens) produce no rows.
    */
  def shingleRows(docs: DataFrame, n: Int = 3, keyCol: String = "doc_id"): DataFrame = {
    // the explode(array(...)) barrier materializes the token split ONCE
    // per doc: a transform lambda that references the split SUBTREE
    // instead of a bound column re-evaluates the whole split per
    // element_at — measured 13 s vs 1 s on the sf0.1 corpus
    val toked = docs.select(col(keyCol),
      explode(array(TextAnalysis.tokens(col("text")))).as("toks"))
    toked.select(col(keyCol), explode(shinglesFromTokens(col("toks"), n)).as("sh"))
  }

  /** POSITIONED n-gram rows (doc_id, pos, gram): like [[shingleRows]]
    * but keeping every occurrence with its 0-based start position and
    * WITHOUT the distinct — the stream [[duplicateSpans]] needs, since
    * masking has to know WHERE a duplicated n-gram sits, not just that
    * the doc contains it. Same explode(array(...)) tokenize-once
    * barrier; docs shorter than n produce no rows.
    */
  def positionedShingleRows(docs: DataFrame, n: Int, keyCol: String = "doc_id",
      carry: Seq[String] = Nil): DataFrame = {
    val keep = col(keyCol) +: carry.map(col)
    val toked = docs.select(keep :+
      explode(array(TextAnalysis.tokens(col("text")))).as("toks"): _*)
    toked
      .filter(size(col("toks")) >= n)
      .select(keep :+ posexplode(
        transform(
          sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(col("toks"), i + k)): _*))): _*)
      .select(keep ++ Seq(col("pos").cast("long").as("pos"), col("col").as("gram")): _*)
  }

  /** Duplicate n-gram SPAN MASKING — the sub-document exact-substring
    * dedup a training pipeline runs before tokenization (the shape of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better": repeated substrings are removed, not whole documents):
    * every token position covered by a width-`n` n-gram that appears in
    * ≥ `minDf` DISTINCT documents is "masked", and runs of masked
    * positions coalesce into maximal spans (doc_id, span_start,
    * span_end, span_len) — the byte ranges a cleaner would cut.
    *
    * Plan shape: one n-gram-keyed shuffle computes the df table; df ≥
    * minDf grams join back to the positioned stream (a duplicated gram
    * in d docs contributes d rows here — LINEAR in df, never the d² of
    * the pair-join family, so no hot-shingle valve is needed); interval
    * coalescing is a per-doc window (lag + running sum — bounded by
    * document length, never corpus size) over the COVERED positions
    * only, a stream already shrunk to the duplicated fraction of the
    * corpus. Since all intervals share width n, the classic
    * running-max-end merge reduces to a lag: a new span starts exactly
    * when pos > prev_pos + n (the previous n-gram's coverage
    * [prev, prev+n−1] can no longer touch [pos, pos+n−1]).
    *
    * At 100 TB the gram key would be its 8-byte hash; kept textual here
    * so the DuckDB oracle replays byte-identically (the text_chunk_dedup
    * convention). Within-doc repeats of a corpus-unique gram do NOT mask
    * (df counts distinct docs) — the cross-document notion of duplication,
    * matching the dedup family's semantics.
    */
  def duplicateSpans(docs: DataFrame, n: Int, minDf: Long = 2L,
      materializeGrams: Boolean = false): DataFrame = {
    // Gram identity = the portable 60-bit hash — the SAME identity the
    // standing span index stores in its postings (`writeSpanIndex`), so
    // the inline path shuffles 8-byte keys instead of ~40-byte 5-gram
    // strings, and the DuckDB oracle replays the identical hash.
    // materializeGrams runs the tokenize+posexplode+md5 pass ONCE for
    // the df aggregate and the join-back (lazily, each consumer re-runs
    // the whole text pass) — measured −27% when the caller consumes the
    // full span set, but a LOSS when the caller's action lets Catalyst
    // prune (the eager checkpoint defeats that pruning), so it is
    // opt-in, not the default.
    val g0 = positionedShingleRows(docs, n)
      .select(col("doc_id"), col("pos"),
        Hashing.portableTokenHash60(col("gram")).as("gram"))
    val g = if (materializeGrams) g0.localCheckpoint() else g0
    val dup = g.groupBy("gram").agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDf)
      .select("gram")
    val covered = g.join(dup, Seq("gram")).select(col("doc_id"), col("pos"))
    spansFromCovered(covered, n)
  }

  /** The interval-merge stage shared by [[duplicateSpans]] and
    * [[incrementalSpans]]: coalesce covered start positions (each
    * covering [pos, pos+n−1]) into maximal spans. Equal widths reduce
    * the classic running-max-end merge to a lag: a new span starts
    * exactly when pos > prev + n.
    */
  private[graft] def spansFromCovered(covered: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    covered
      .withColumn("prev", lag("pos", 1).over(byPos))
      .withColumn("new_span",
        when(col("prev").isNull || col("pos") > col("prev") + n, 1L).otherwise(0L))
      .withColumn("span_id", sum("new_span").over(byPos))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min("pos").as("span_start"), (max(col("pos")) + (n - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_len"))
  }

  /** EXACT repeated-substring spans of length ≥ `minLen` — the canonical
    * training-data dedup of Lee et al. 2022's ExactSubstr tool, which
    * single-node builds a corpus suffix array and cuts every byte range
    * lying inside a substring that occurs ≥ 2 times. This is the
    * DISTRIBUTED formulation of the SAME set, exactly:
    *
    *   position p lies inside some occurrence of a duplicated substring
    *   of length ≥ L  ⟺  some length-L window containing p occurs ≥ 2
    *   times in the corpus.
    *
    * (⟸ a duplicated L-window IS a duplicated substring of length L;
    * ⟹ an occurrence of duplicated S with |S| ≥ L contains, around any
    * of its positions, at least one full L-window of S, and every
    * L-window of S occurs wherever S does.) So the suffix array — whose
    * only role in the single-node tool is to bring equal substrings
    * adjacent so duplicates surface as runs — is replaced by the
    * gram-keyed shuffle, which realizes the same adjacency as hash
    * grouping: group the positioned L-gram stream by the EXACT gram
    * text (not a lossy hash — the comparison the suffix sort would do),
    * keep groups with ≥ 2 occurrences, and coalesce the covered
    * positions per doc ([[spansFromCovered]] — the adjacent-run
    * extension: consecutive duplicated anchors chain into the maximal
    * masked region). No suffix array, no driver-side state, no pair
    * join: a gram occurring m times contributes m rows (linear, never
    * the m² of the pair family).
    *
    * Semantics vs [[duplicateSpans]]: that operator thresholds on
    * DISTINCT DOCS (df ≥ minDf), so a passage repeated ten times inside
    * ONE doc — boilerplate headers, generation loops, the classic
    * within-doc degeneracy Lee et al. call out — never masks. Here the
    * anchor condition is TOTAL OCCURRENCES ≥ 2 anywhere in the corpus,
    * the ExactSubstr definition: within-doc repeats mask too. Both
    * occurrences of a duplicated substring are reported (the caller
    * picks a keep-one policy; the tool's default cuts all but one —
    * compose with a keeper rank over span identity for that).
    *
    * Scale: one gram-keyed shuffle (the dominant movement, same as any
    * corpus tokenize-and-count), one linear join-back, one per-doc
    * window bounded by document length. The gram key is textual so the
    * DuckDB oracle replays byte-identically; at 100 TB the key would be
    * the gram's 128-bit content hash (collision-free in the same sense
    * as the exact-dedup md5 fingerprint) — the plan is unchanged.
    *
    * Standing-state form: [[writeSpanMaskIndex]] with
    * `byOccurrence = true` materializes these semantics as the span
    * family's index (60-bit hashed gram keys — the at-scale trade), and
    * the whole lifecycle (admission, retraction, stream ingest,
    * compaction) serves them; this one-shot operator is the exactness
    * reference the gates replay.
    */
  def exactSubstringSpans(docs: DataFrame, minLen: Int): DataFrame = {
    val g = positionedShingleRows(docs, minLen)
    // ONE shuffle of the positioned gram stream, keyed on the gram: the
    // full-partition count window surfaces duplicated anchors in place.
    // Measured at the ×32 amplification (sf0.1 base): groupBy(gram) +
    // join-back paid a SECOND full shuffle of the gram strings (28.4 s);
    // an xxhash64 prefilter with string verification still re-shuffled
    // the string stream for the join (26.7 s); the single sorted window
    // pass is 17.1 s — the string shuffle is the irreducible cost, so
    // pay it exactly once
    val w = org.apache.spark.sql.expressions.Window.partitionBy("gram")
    val covered = g
      .withColumn("occ", count(lit(1)).over(w))
      .filter(col("occ") >= 2L)
      .select("doc_id", "pos")
    spansFromCovered(covered, minLen)
  }

  /** [[exactSubstringSpans]] with the KEEP-ONE policy: the canonical
    * ExactSubstr cut removes EVERY occurrence of a duplicated substring;
    * real pipelines usually want to keep one copy (drop the text from
    * the duplicates, not from the canonical holder — the Lee et al.
    * "leave one occurrence" discussion). Here the kept copy of each
    * duplicated L-window is its GLOBAL FIRST occurrence in (doc_id,
    * pos) order — deterministic, layout-invariant, and replayable —
    * and coverage excludes it, so the first holder's positions mask
    * only where some OTHER duplicated window (one whose first
    * occurrence lies elsewhere) covers them. Keep-one is inherently
    * window-granular: overlapping duplicated windows with different
    * first-holders can still cover parts of a kept region — the same
    * caveat the single-node tool documents.
    *
    * Plan shape: the SAME single gram-keyed shuffle as the cut-all
    * form; the rank that marks the kept copy rides the window that was
    * already counting occurrences.
    */
  def exactSubstringSpansKeepFirst(docs: DataFrame, minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = positionedShingleRows(docs, minLen)
    // rn > 1 alone IS the whole predicate: a unique gram only ever has
    // rn = 1, so "non-first occurrence" and "duplicated and not the
    // kept copy" are the same set — one ranked window, no count needed
    val byFirst = Window.partitionBy("gram").orderBy("doc_id", "pos")
    val covered = g
      .withColumn("rn", row_number().over(byFirst))
      .filter(col("rn") > 1L)
      .select("doc_id", "pos")
    spansFromCovered(covered, minLen)
  }

  /** [[exactSubstringSpansKeepFirst]] with a QUALITY-RANKED keep policy:
    * the kept copy of each duplicated L-window lives in the
    * HIGHEST-QUALITY document holding it (ties broken by (doc_id, pos)
    * for determinism) — what a real pipeline runs when it has a per-doc
    * quality verdict (e.g. [[Curation.gopherQuality]], the Gopher-rule
    * pass count): drop the repeated passage from the low-quality
    * holders, keep it where the surrounding document is best.
    *
    * `quality` is `(doc_id, q)`, higher is better. It joins at DOC
    * granularity BEFORE the gram explosion — a broadcast hash join on
    * the doc rows, so the positioned gram stream still pays its ONE
    * gram-keyed shuffle (now carrying one extra long) and nothing new
    * shuffles. At 100 TB the per-doc score table is corpus-row-sized;
    * the same plan holds with the broadcast swapped for a doc-keyed
    * sort-merge join (still doc-granular, still upstream of the gram
    * explosion), or the score computed inline as a doc column (zero
    * join) when it is expression-derivable like the Gopher flags.
    * Window-granularity caveat as [[exactSubstringSpansKeepFirst]].
    */
  def exactSubstringSpansKeepBest(
      docs: DataFrame, minLen: Int, quality: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs.join(broadcast(quality.select("doc_id", "q")), Seq("doc_id"))
    val g = positionedShingleRows(scored, minLen, carry = Seq("q"))
    val byBest = Window.partitionBy("gram")
      .orderBy(col("q").desc, col("doc_id"), col("pos"))
    val covered = g
      .withColumn("rn", row_number().over(byBest))
      .filter(col("rn") > 1L)
      .select("doc_id", "pos")
    spansFromCovered(covered, minLen)
  }

  /** DECONTAMINATION spans: maximal token spans of `train` docs covered
    * by a width-`n` n-gram that appears ANYWHERE in the evaluation
    * benchmark set — the surgical alternative to dropping every
    * contaminated document (text_contamination's verdict): cut the
    * leaked span, keep the doc. Same coverage→merge machinery as
    * [[duplicateSpans]], but the duplicated-gram table is replaced by
    * the EVAL gram set — benchmark suites are tiny, so the set
    * broadcasts and the train pass is one map-side join + per-doc
    * window: no train-keyed shuffle of gram rows at all.
    */
  def overlapSpans(train: DataFrame, evalDocs: DataFrame, n: Int): DataFrame = {
    val evalGrams = positionedShingleRows(evalDocs, n).select("gram").distinct()
    val covered = positionedShingleRows(train, n)
      .join(broadcast(evalGrams), Seq("gram"))
      .select("doc_id", "pos")
    spansFromCovered(covered, n)
  }

  /** Materialize the standing SPAN-MASK serving index over a corpus:
    * `postings/` — one (doc_id, pos, g) row per n-gram occurrence, the
    * gram collapsed to its portable 60-bit hash (8-byte keys, the
    * [[incrementalNearDup]] economy; the DuckDB oracle replays the
    * identical md5-derived hash) — plus `df/` (gram → weight) and
    * `spans/` (the current one-shot span output). Built once per corpus
    * version; every arriving batch is then admitted by
    * [[incrementalSpans]] without rescanning corpus text.
    *
    * `byOccurrence` selects the family's TWO masking semantics, both
    * served by the same layout (the stored column is named `df` in
    * either mode — one layout, one set of lifecycle verbs):
    *  - false (default): weight = DISTINCT DOCS holding the gram — the
    *    cross-document [[duplicateSpans]] semantics.
    *  - true: weight = TOTAL OCCURRENCES anywhere in the corpus — the
    *    ExactSubstr semantics of [[exactSubstringSpans]] (within-doc
    *    repeats mask). Both weights are ADDITIVE over disjoint doc
    *    sets, which is exactly why one delta-log/partial-sum lifecycle
    *    (admission, retraction, stream ingest, compaction) serves both.
    */
  def writeSpanMaskIndex(corpus: DataFrame, dir: String, n: Int, minDf: Long = 2L,
      byOccurrence: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    positionedShingleRows(corpus, n)
      .select(col("doc_id"), col("pos"), Hashing.portableTokenHash60(col("gram")).as("g"))
      .write.mode("overwrite").parquet(s"$dir/postings")
    val postings = Tables.read(spark, s"$dir/postings")
    val weight = if (byOccurrence) count(lit(1)) else countDistinct("doc_id")
    postings.groupBy("g").agg(weight.as("df"))
      .write.mode("overwrite").parquet(s"$dir/df")
    val dfT = Tables.read(spark, s"$dir/df")
    spansFromCovered(
      postings.join(dfT.filter(col("df") >= minDf).select("g"), Seq("g"))
        .select("doc_id", "pos"), n)
      .write.mode("overwrite").parquet(s"$dir/spans")
  }

  /** RETRACT documents from span masking — the inverse of
    * [[incrementalSpans]] and the direction whole-doc dedup indexes
    * never face: deleting a doc DECREMENTS its grams' document
    * frequencies, and any gram falling below `minDf` must retroactively
    * UN-mask the surviving docs that hold it (their spans shrink or
    * vanish — a right-to-be-forgotten pass over derived state, not just
    * the raw rows). Serving shape mirrors admission: the victim set is
    * deletion-request-sized; one postings scan keyed by gram finds the
    * down-flipped grams, one keyed by doc pulls only the touched
    * survivors' occurrence rows; untouched survivors serve their
    * standing `spans/` unchanged. Returns the post-retraction span
    * table ≡ [[duplicateSpans]] over the survivors (the gate's hash
    * proves it).
    */
  def retractSpans(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      docIds: DataFrame,
      n: Int,
      minDf: Long = 2L,
      byOccurrence: Boolean = false): DataFrame = {
    val postings = Tables.read(spark, s"$indexDir/postings")
    val df0 = Tables.read(spark, s"$indexDir/df")
    val spans0 = Tables.read(spark, s"$indexDir/spans")
    val victims = docIds.select(col(docIds.columns.head).as("doc_id")).distinct()
    val victimPostings = postings.join(broadcast(victims), Seq("doc_id"))
    // per-gram weight decrement = #victim docs holding the gram
    // (distinct-doc mode) or the victims' occurrence count (ExactSubstr
    // mode — must match the build's counting or the flip test drifts)
    val delta =
      if (byOccurrence) victimPostings.groupBy("g").agg(count(lit(1)).as("dd"))
      else victimPostings.select("g", "doc_id").distinct()
        .groupBy("g").agg(count(lit(1)).as("dd"))
    val merged = delta.join(df0, Seq("g"))
      .select(col("g"), col("df").as("of"), (col("df") - col("dd")).as("nf"))
    val flippedDown = merged
      .filter(col("of") >= minDf && col("nf") < minDf).select("g")
    // surviving docs whose masking changes = survivors holding a
    // down-flipped gram
    val touchedDocs = postings.join(broadcast(flippedDown), Seq("g"))
      .join(broadcast(victims), Seq("doc_id"), "left_anti")
      .select("doc_id").distinct()
    // still-duplicated grams = df >= minDf minus the down-flipped set
    val dupNow = df0.filter(col("df") >= minDf).select("g")
      .join(broadcast(flippedDown), Seq("g"), "left_anti")
    val recomputed = spansFromCovered(
      postings.join(broadcast(touchedDocs), Seq("doc_id"))
        .join(dupNow, Seq("g"))
        .select("doc_id", "pos"), n)
    spans0
      .join(broadcast(victims), Seq("doc_id"), "left_anti")
      .join(broadcast(touchedDocs), Seq("doc_id"), "left_anti")
      .select("doc_id", "span_start", "span_end", "span_len")
      .union(recomputed)
  }

  /** Incremental (batch-vs-corpus) SPAN MASKING — [[duplicateSpans]]'s
    * admission shape, with the property that makes it non-trivial:
    * duplication is RETROACTIVE. A batch doc quoting a previously-unique
    * corpus passage flips that passage's grams to duplicated, so the
    * masking of the OLD document changes too — whole-doc dedup never
    * propagates backwards like this, span masking must. The standing
    * corpus participates only through its materialized artifacts
    * ([[writeSpanMaskIndex]]): corpus text is never rescanned.
    *
    * Cost model per batch: one batch tokenize pass; a batch-VOCABULARY-
    * sized join against `df/` finds the merged counts and the FLIPPED
    * grams (old df < minDf ≤ new df); two postings scans — one keyed by
    * gram to find the touched old docs (join side is the flipped set,
    * batch-bounded), one keyed by doc to pull only the touched docs'
    * occurrence rows; the interval merge re-runs over touched + batch
    * docs only. Untouched docs serve their standing `spans/` rows
    * unchanged. Admission therefore rides |batch| + |touched|, never
    * corpus size — and since df never DECREASES on admission, old spans
    * can only grow, exactly what the recompute covers. Returns the full
    * post-admission span table (≡ [[duplicateSpans]] over corpus ∪
    * batch — the gate's hash proves it).
    *
    * PRECONDITION (same admission contract as every standing index,
    * and ASSERTED here because violating it corrupts silently): `batch`
    * doc_ids must be genuinely NEW — a doc_id already in the standing
    * index would keep its stale `spans0` rows (unless it happened to be
    * "touched") while its recomputed batch spans union in, yielding
    * duplicate and contradictory span rows for the same document. The
    * probe is one postings scan pruned map-side by the broadcast batch
    * id set (the [[incrementalComponents]] min-label-assert posture),
    * so admission cost stays batch-scoped. Re-admitting a changed doc
    * is retract-then-admit: [[retractSpans]] first.
    */
  def incrementalSpans(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      batch: DataFrame,
      n: Int,
      minDf: Long = 2L,
      byOccurrence: Boolean = false): DataFrame = {
    val postings = Tables.read(spark, s"$indexDir/postings")
    val df0 = Tables.read(spark, s"$indexDir/df")
    val spans0 = Tables.read(spark, s"$indexDir/spans")
    val clash = postings
      .join(broadcast(batch.select("doc_id").distinct()), Seq("doc_id"), "left_semi")
      .select("doc_id").limit(1).collect()
    require(clash.isEmpty,
      s"incrementalSpans: batch doc_id ${clash.headOption.map(_.get(0)).getOrElse("?")} " +
        "already exists in the standing index — admission is new-doc_ids-only " +
        "(retractSpans first, or dedup upstream)")
    // batch-sized and consumed three times (counts, coverage, output):
    // checkpoint so the tokenize pass runs once
    val bp = positionedShingleRows(batch, n)
      .select(col("doc_id"), col("pos"), Hashing.portableTokenHash60(col("gram")).as("g"))
      .localCheckpoint()
    // the batch's weight contribution — same counting as the build (in
    // ExactSubstr mode a gram repeated WITHIN one batch doc can flip to
    // duplicated all by itself, which is the semantics, not a bug)
    val db =
      if (byOccurrence) bp.groupBy("g").agg(count(lit(1)).as("db"))
      else bp.groupBy("g").agg(countDistinct("doc_id").as("db"))
    // merged df for every gram the batch touches (batch-vocabulary-sized)
    val touchedGrams = db.join(df0, Seq("g"), "left")
      .select(col("g"), coalesce(col("df"), lit(0L)).as("of"),
        (coalesce(col("df"), lit(0L)) + col("db")).as("nf"))
    val flipped = touchedGrams
      .filter(col("of") < minDf && col("nf") >= minDf).select("g")
    // old docs whose masking changes = docs holding a flipped gram
    val touchedDocs = postings.join(broadcast(flipped), Seq("g"))
      .select("doc_id").distinct()
    // recompute coverage for touched old docs over ALL now-duplicated
    // grams they hold (previously-duplicated ∪ flipped)
    val dupAll = df0.filter(col("df") >= minDf).select("g")
      .union(flipped).distinct()
    val oldCovered = postings.join(broadcast(touchedDocs), Seq("doc_id"))
      .join(dupAll, Seq("g"))
      .select("doc_id", "pos")
    val batchCovered = bp
      .join(touchedGrams.filter(col("nf") >= minDf).select("g"), Seq("g"))
      .select("doc_id", "pos")
    val recomputed = spansFromCovered(oldCovered.union(batchCovered), n)
    spans0.join(broadcast(touchedDocs), Seq("doc_id"), "left_anti")
      .select("doc_id", "span_start", "span_end", "span_len")
      .union(recomputed)
  }

  /** Jaccard of two docs' shingle sets from per-doc set sizes and the
    * pair's intersection size — plain integer/double arithmetic.
    */
  private def jaccardFromCounts(nInter: Column, nA: Column, nB: Column): Column =
    nInter.cast("double") / (nA + nB - nInter)

  /** All-pairs n-gram Jaccard ≥ threshold via an inverted-index
    * similarity join: pairs meet ONLY through shared shingles (a pair
    * with an empty intersection has jaccard 0 and can never pass), so the
    * O(n²) cross join never materializes — the cost is Σ per-shingle
    * bucket², which stays near-linear when shingles are discriminative.
    *
    * `maxShingleDf` is the hot-shingle skew valve for 100 TB corpora: a
    * shingle appearing in d documents contributes d² join work, so
    * boilerplate shingles (stopword runs, headers) dominate cost while
    * contributing least similarity signal. Capping drops shingles with
    * document frequency > cap from the CANDIDATE join only; surviving
    * candidate pairs are then re-verified with the EXACT per-doc
    * intersection (map-side array_intersect over doc-bounded shingle
    * arrays — the [[jaccardPrefixPairs]] verify stage), so every
    * emitted row carries its true Jaccard, never a capped lower bound.
    * What the cap trades is RECALL alone: a pair whose every shared
    * shingle is hot never becomes a candidate — the capped output is a
    * no-false-positive, exact-valued subset of the exact pairs. None =
    * exact (the oracled default).
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      maxShingleDf: Option[Long] = None): DataFrame = maxShingleDf match {
    case None =>
      // ONE pass over the corpus text derives the HASHED shingle rows
      // (portable 60-bit md5 hash — 8-byte keys, replayed exactly by the
      // DuckDB oracle; distinct per doc because the source shingle sets
      // are, so no re-distinct is needed) and checkpoints them: the
      // counts aggregate and BOTH self-join sides read the checkpoint
      // instead of re-running tokenize+shingle+md5 per consumer (3×, the
      // measured dominant cost). The self-join moves (long, long) rows —
      // the COMPACT side of the house criterion, so shuffle_hash is the
      // scale-safe pin (the string-side hazards that forced the r17
      // merge pin — the non-spillable STRING hash build under the 4 GiB
      // soak heap — priced the un-narrowed rows this path no longer
      // shuffles; merge measured EQUAL at sf0.1 on the hashed longs,
      // SHJ avoids the ×32 sort knee the prefix family measured).
      val all = shingleRows(docs, n)
        .select(col("doc_id"), Hashing.portableTokenHash60(col("sh")).as("sh"))
        .localCheckpoint()
      val counts = all.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val inter = all.select(col("doc_id").as("doc_a"), col("sh"))
        .join(all.select(col("doc_id").as("doc_b"), col("sh")).hint("shuffle_hash"), Seq("sh"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
        .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
        .withColumn("jac", jaccardFromCounts(col("n_inter"), col("n_a"), col("n_b")))
        .filter(col("jac") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
    case Some(cap) =>
      // capped path materializes the shingle stream once: the df
      // aggregate, both candidate-join sides, and the per-doc verify
      // arrays all read it
      val all = shingleRows(docs, n).localCheckpoint()
      val hot = all.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > cap).select("sh")
      val s = all.join(hot, Seq("sh"), "left_anti")
      val cand = s.select(col("doc_id").as("doc_a"), col("sh"))
        .join(s.select(col("doc_id").as("doc_b"), col("sh")).hint("merge"), Seq("sh"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      // exact verify over candidates only: the per-doc FULL shingle
      // array (doc-bounded) intersects map-side, so surviving pairs
      // report the true Jaccard — hot shingles count toward it even
      // though they never joined
      val perDoc = all.groupBy("doc_id").agg(collect_list("sh").as("shs"))
      // merge: perDoc carries doc-bounded STRING ARRAYS (corpus text
      // scale) — never broadcastable AND too big for a non-spillable
      // hash build (see minHashLshPairs' verification pin)
      cand
        .join(perDoc.select(col("doc_id").as("doc_a"), col("shs").as("sa"))
          .hint("merge"), Seq("doc_a"))
        .join(perDoc.select(col("doc_id").as("doc_b"), col("shs").as("sb"))
          .hint("merge"), Seq("doc_b"))
        .withColumn("jac", jaccardFromCounts(
          size(array_intersect(col("sa"), col("sb"))), size(col("sa")), size(col("sb"))))
        .filter(col("jac") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
  }

  /** ASYMMETRIC containment pairs — |A ∩ B| / |A| ≥ threshold, the
    * sub-document duplication detector Jaccard structurally misses: a
    * short doc quoted whole inside a long one has containment ≈ 1 while
    * Jaccard ≈ |A|/|B| ≈ 0 (the union is dominated by the container).
    * Same inverted-index discipline as [[ngramJaccardPairs]] — pairs
    * meet only through shared shingles (containment > 0 requires one),
    * per-doc set sizes join from the counts table — but DIRECTED:
    * (inner, outer) and (outer, inner) are distinct rows with their own
    * score.
    *
    * `maxShingleDf` is the same hot-shingle valve as
    * [[ngramJaccardPairs]]'s: shingles with document frequency above
    * the cap are dropped from the CANDIDATE join only, and surviving
    * candidate pairs re-verify with the EXACT per-doc intersection
    * (map-side array_intersect, doc-bounded arrays) — so emitted
    * containment scores are true values, never capped lower bounds,
    * and the recall trade is confined to pairs whose every shared
    * shingle is hot (no false positives; None = exact, the oracled
    * default). The LOSSLESS scale path is [[containmentPrefixPairs]].
    */
  def containmentPairs(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      maxShingleDf: Option[Long] = None): DataFrame = maxShingleDf match {
    case None =>
      // one-pass checkpointed hashed-rows form — see [[ngramJaccardPairs]]
      // for the measured rationale (one tokenize+shingle+md5 pass serving
      // all three consumers; compact (long, long) rows keep the
      // self-join on the shuffle_hash side of the house criterion)
      val all = shingleRows(docs, n)
        .select(col("doc_id"), Hashing.portableTokenHash60(col("sh")).as("sh"))
        .localCheckpoint()
      val counts = all.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val inter = all.select(col("doc_id").as("doc_inner"), col("sh"))
        .join(all.select(col("doc_id").as("doc_outer"), col("sh")).hint("shuffle_hash"),
          Seq("sh"))
        .filter(col("doc_inner") =!= col("doc_outer"))
        .groupBy("doc_inner", "doc_outer")
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(counts.select(col("doc_id").as("doc_inner"), col("n_sh").as("n_a")),
          Seq("doc_inner"))
        .withColumn("containment", col("n_inter").cast("double") / col("n_a"))
        .filter(col("containment") >= threshold)
        .select(col("doc_inner"), col("doc_outer"),
          round(col("containment"), 4).as("containment"))
    case Some(cap) =>
      // capped path materializes the shingle stream once (the df
      // aggregate, both candidate sides, and the verify arrays read it)
      val all = shingleRows(docs, n).localCheckpoint()
      val hot = all.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > cap).select("sh")
      val s = all.join(hot, Seq("sh"), "left_anti")
      val cand = s.select(col("doc_id").as("doc_inner"), col("sh"))
        .join(s.select(col("doc_id").as("doc_outer"), col("sh")).hint("merge"),
          Seq("sh"))
        .filter(col("doc_inner") =!= col("doc_outer"))
        .select("doc_inner", "doc_outer").distinct()
      val perDoc = all.groupBy("doc_id").agg(collect_list("sh").as("shs"))
      // merge: perDoc carries doc-bounded STRING ARRAYS (corpus text
      // scale) — never broadcastable AND too big for a non-spillable
      // hash build (see minHashLshPairs' verification pin)
      cand
        .join(perDoc.select(col("doc_id").as("doc_inner"), col("shs").as("sa"))
          .hint("merge"), Seq("doc_inner"))
        .join(perDoc.select(col("doc_id").as("doc_outer"), col("shs").as("sb"))
          .hint("merge"), Seq("doc_outer"))
        .withColumn("containment",
          size(array_intersect(col("sa"), col("sb"))).cast("double") / size(col("sa")))
        .filter(col("containment") >= threshold)
        .select(col("doc_inner"), col("doc_outer"),
          round(col("containment"), 4).as("containment"))
  }

  /** Prefix-filtered DIRECTED containment — the asymmetric analogue of
    * [[jaccardPrefixPairs]], LOSSLESS unlike the `maxShingleDf` valve:
    * containment(A→B) ≥ τ means |A ∩ B| ≥ ⌈τ·|A|⌉, so at most
    * |A| − ⌈τ·|A|⌉ of A's shingles lie outside B — among A's first
    * |A| − ⌈τ·|A|⌉ + 1 shingles in ANY fixed order, at least one is
    * shared with B. Ordering by ascending global document frequency
    * makes that prefix A's RAREST shingles, so the candidate join never
    * rides the hot boilerplate keys that dominate Σ df². The filter is
    * one-sided by necessity: only the CONTAINED side's intersection is
    * lower-bounded by τ, so the inner side joins its prefix while the
    * outer side exposes its full (hashed, 8-byte) shingle rows — any of
    * B's shingles can witness the pair. Exact verification intersects
    * the two per-doc hashed-set arrays map-side, making the output
    * IDENTICAL to [[containmentPairs]] over the same hashed sets
    * (DuckDB replays the md5-derived hash, so parity is bit-exact).
    */
  def containmentPrefixPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame =
    prefixPairs(docs, n, threshold) { (rows, perDoc) =>
      val prefix = perDoc.select(col("doc_id"), explode(col("pre")).as("sh"))
      // shuffle_hash, build side = the PREFIX stream (the rarest-shingle
      // slices — strictly smaller than the full hashed stream it joins):
      // these rows are (long, long) — 16 bytes, the compact shape the
      // house criterion keeps on SHJ. The r17 merge re-pin over-applied
      // the string-side rule here and ScaleBench caught the sort knee
      // (×32: 56 s merge vs ~14 s SHJ — sorting the full hashed stream
      // is the dominant cost the hash build avoids).
      val cand = prefix.select(col("doc_id").as("doc_inner"), col("sh"))
        .hint("shuffle_hash")
        .join(rows.select(col("doc_id").as("doc_outer"), col("sh")), Seq("sh"))
        .filter(col("doc_inner") =!= col("doc_outer"))
        .select("doc_inner", "doc_outer").distinct()
      cand
        .join(perDoc.select(col("doc_id").as("doc_inner"), col("hs").as("hs_a"))
          .hint("merge"), Seq("doc_inner"))
        .join(perDoc.select(col("doc_id").as("doc_outer"), col("hs").as("hs_b"))
          .hint("merge"), Seq("doc_outer"))
        .withColumn("containment",
          size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") / size(col("hs_a")))
        .filter(col("containment") >= threshold)
        .select(col("doc_inner"), col("doc_outer"),
          round(col("containment"), 4).as("containment"))
    }

  /** Prefix-filtered n-gram Jaccard ≥ threshold — the SSJoin/PPJoin
    * family's candidate generator (Chaudhuri et al., ICDE'06), LOSSLESS
    * unlike LSH banding: order every doc's shingles by ascending global
    * document frequency and self-join only on each doc's PREFIX of
    * length |x| − ⌈τ·|x|⌉ + 1. Any pair with Jaccard ≥ τ shares at
    * least ⌈τ·|x|⌉ shingles, and at most ⌈τ·|x|⌉ − 1 of a doc's
    * shingles lie outside its prefix — so every qualifying pair meets
    * on some prefix shingle, and the exact-Jaccard verify pass makes
    * the output IDENTICAL to [[ngramJaccardPairs]].
    *
    * Why this matters at 100 TB: the inverted-index join's cost is
    * Σ df² over the shingles it joins on. Prefix filtering joins on
    * each doc's RAREST shingles only — the hot boilerplate keys that
    * dominate Σ df² are exactly the ones the frequency ordering pushes
    * OUT of every prefix — so bucket widths collapse without the
    * recall loss of [[ngramJaccardPairs]]'s `maxShingleDf` valve. The
    * per-doc ordering window partitions by doc_id (bounded by document
    * length, never corpus size); the verify join touches only
    * candidate pairs.
    */

  def jaccardPrefixPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame =
    prefixPairs(docs, n, threshold) { (_, perDoc) =>
      val prefix = perDoc.select(col("doc_id"), explode(col("pre")).as("sh"))
      // shuffle_hash: the prefix self-join moves (long, long) rows —
      // 16 bytes, compact per the house criterion (the r17 merge
      // re-pin over-applied the string-side rule; ScaleBench caught
      // the ×32 sort knee and SHJ restored the r13-era curve)
      val cand = prefix.select(col("doc_id").as("doc_a"), col("sh"))
        .join(prefix.select(col("doc_id").as("doc_b"), col("sh")).hint("shuffle_hash"), Seq("sh"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      cand
        .join(perDoc.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
          .hint("merge"), Seq("doc_a"))
        .join(perDoc.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
          .hint("merge"), Seq("doc_b"))
        .withColumn("jac", jaccardFromCounts(
          size(array_intersect(col("hs_a"), col("hs_b"))),
          size(col("hs_a")), size(col("hs_b"))))
        .filter(col("jac") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
    }

  /** The frames both prefix filters share, handed to `pairs` as
    * (rows, perDoc): `rows` are the distinct (doc_id, sh) hashed shingle
    * rows; `perDoc` holds each doc's rarity-sorted hashed set `hs` and
    * its prefix slice `pre`, the |x| − ⌈τ·|x|⌉ + 1 rarest shingles that
    * both the symmetric and the directed bound need.
    *
    * Shingles collapse to the portable 60-bit hash FIRST (8-byte keys
    * through every shuffle instead of ~30-byte strings; the oracle
    * replays the identical md5-derived hash, so parity stays
    * bit-exact). ONE tokenize+shingle+md5 pass is checkpointed: the df
    * window, the perDoc build AND containment's outer side all read it
    * back (un-checkpointed, each consumer re-ran the whole text pass —
    * the measured dominant cost of this family). The per-(doc, hash)
    * distinct is folded into the perDoc collect_set (equal (df, sh)
    * structs collapse there for free); df counts may shift only under a
    * 60-bit hash collision, and df only feeds the PREFIX ORDERING — the
    * filter is lossless under ANY consistent global order, and
    * verification is exact, so the output is unchanged.
    *
    * The pairs `pairs` returns are checkpointed eagerly, which consumes
    * the perDoc cache HERE (the output is pair-set-sized —
    * dup-density-bounded, tiny beside the per-doc arrays), so perDoc
    * unpersists before returning instead of lingering token-scale in
    * the executor store. Its verify joins hint merge on the perDoc
    * sides: corpus-scaled ARRAY payloads must never broadcast — the
    * ×64/4 GiB soak caught the static planner admitting perDoc for
    * broadcast under the default threshold ("Not enough memory to build
    * and broadcast"); sort-merge keys on the already-hash-partitioned
    * doc_id, so the arrays stay in place.
    */
  private def prefixPairs(docs: DataFrame, n: Int, threshold: Double)(
      pairs: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val rows = shingleRows(docs, n)
      .select(col("doc_id"), Hashing.portableTokenHash60(col("sh")).as("sh"))
      .localCheckpoint()
    // df via a full-partition count WINDOW over the sh-keyed stream — the
    // exactSubstringSpans shape, already the family's measured-optimal
    // form at ×32: ONE exchange of the hashed rows replaces the r17
    // agg+join (which exchanged the stream for the df aggregate AND
    // again for the join-back). The window sorts 8-byte keys within
    // partitions; identical df values by construction (rows are distinct
    // per (doc, sh), so the partition count IS the document frequency).
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy("sh")
    // ONE doc-keyed shuffle builds everything per-doc: the full hashed
    // set (bounded by document length) rarity-SORTED (df asc, sh asc —
    // ties broken by the hash so the candidate set is deterministic
    // under any parallelism; a doc-bounded array sort run ONCE, the
    // prefix slicing the sorted hs)
    val perDoc = rows.withColumn("df", count(lit(1)).over(wDf))
      .groupBy("doc_id")
      .agg(collect_set(struct(col("df"), col("sh"))).as("a"))
      .select(col("doc_id"), expr("transform(array_sort(a), x -> x.sh)").as("hs"))
      .select(col("doc_id"), col("hs"),
        expr(s"slice(hs, 1, size(hs) - ceil($threshold * size(hs)) + 1)").as("pre"))
      .cache()
    try pairs(rows, perDoc).localCheckpoint()
    finally perDoc.unpersist()
  }

  /** Banded MinHash signatures from shingle ROWS: (doc_id, band, key) —
    * the standing LSH INDEX a 100 TB deployment keeps materialized
    * between ingest runs (a few dozen bytes per doc, text never kept).
    * Signature via hash + 16 min-aggregates, every step whole-stage
    * codegen, md5 evaluated once per shingle.
    */
  def bandedSignatures(shingleRows: DataFrame, rowsPerBand: Int = 4): DataFrame =
    bandExplode(minHashSigFrame(shingleRows), rowsPerBand)

  /** The 16-column MinHash signature frame (doc_id, h0..h15) — factored
    * so [[lshBandSweep]] computes it ONCE and re-bands it per geometry.
    */
  private[graft] def minHashSigFrame(shingleRows: DataFrame): DataFrame =
    minHashSigFromX(shingleRows.withColumn("x", Hashing.portableTokenHash(col("sh"))))

  /** [[minHashSigFrame]] over a frame that already carries the hashed
    * token column `x` — lets a caller that needs BOTH minhash inputs and
    * verification hashes derive them in one pass over the text.
    */
  private[graft] def minHashSigFromX(hashed: DataFrame): DataFrame =
    hashed
      .groupBy("doc_id")
      .agg(
        min(Hashing.minHashFn(0)(col("x"))).as("h0"),
        Hashing.MinHashParams.indices.drop(1)
          .map(i => min(Hashing.minHashFn(i)(col("x"))).as(s"h$i")): _*)

  /** Re-band a signature frame into (doc_id, band, key) rows under a
    * band geometry: 16/rowsPerBand bands of rowsPerBand minhashes each.
    */
  private[graft] def bandExplode(sig: DataFrame, rowsPerBand: Int): DataFrame = {
    val nBands = Hashing.MinHashParams.size / rowsPerBand
    sig.select(
      col("doc_id"),
      explode(array((0 until nBands).map { bIdx =>
        struct(
          lit(bIdx).as("band"),
          concat_ws("_",
            (0 until rowsPerBand).map(r => col(s"h${bIdx * rowsPerBand + r}")): _*)
            .as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
  }

  /** BAND-GEOMETRY parameter sweep of the MinHash LSH candidate filter —
    * the dedup twin of [[Similarity.ivfSweep]]/[[Similarity.binarySweep]]:
    * for each (bands × rowsPerBand) split of the 16-hash signature,
    * recall and precision of the banded candidates against the EXACT
    * Jaccard ≥ τ pair set, plus the candidate count the geometry pays —
    * the curve that decides banding before pointing LSH at a corpus
    * (more rows per band ⇒ fewer, more precise candidates; fewer rows ⇒
    * higher recall at quadratically more verification work).
    *
    * The signature frame is computed ONCE and pinned; each geometry
    * pays only its re-band + candidate self-join. `truth` is the exact
    * pair table (a standing artifact — built once per corpus version).
    * One row per geometry: (bands, rows_per_band, n_true, n_candidates,
    * n_verified, recall, cand_precision).
    */
  def lshBandSweep(
      docs: DataFrame,
      truth: DataFrame,
      rowsPerBandSettings: Seq[Int],
      shingleN: Int = 3): DataFrame = {
    require(rowsPerBandSettings.nonEmpty &&
        rowsPerBandSettings.forall(r => r > 0 && Hashing.MinHashParams.size % r == 0),
      s"each rows-per-band setting must divide ${Hashing.MinHashParams.size}")
    val sig = minHashSigFrame(shingleRows(docs, shingleN)).localCheckpoint()
    val t = truth.select("doc_a", "doc_b").localCheckpoint()
    val nTrue = t.agg(count(lit(1)).as("n_true"))
    // BAND NESTING collapses the sweep to ONE self-join at the finest
    // geometry: with the aligned band layout (band k of width r covers
    // signature rows [k·r, (k+1)·r)), a pair collides at width r iff
    // some aligned r-block of its single-hash agreement bits is fully
    // set — equal concat keys ⟺ equal hash tuples ⟺ all width-1 bits of
    // the block set. So the rpb=1 self-join (whose Σ bucket² work
    // DOMINATED the old 5-geometry union join anyway — coarser keys
    // have strictly smaller buckets) surfaces every pair any geometry
    // can candidate, one bit_or aggregate builds each pair's 16-bit
    // agreement mask, and per-geometry candidate/verified counts are
    // map-side mask tests — no geometry-tagged row explosion, no
    // 5×-tagged dropDuplicates, one truth join instead of per-geometry.
    // shuffle_hash: corpus-sized signature self-join, same engine pin
    // as minHashLshPairs (the round-16 broadcast-estimate hazard).
    val banded1 = bandExplode(sig, 1)
    val pairMask = banded1
      .select(col("band"), col("key"), col("doc_id").as("doc_a"))
      .join(banded1
        .select(col("band"), col("key"), col("doc_id").as("doc_b"))
        .hint("shuffle_hash"), Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(band AS INT))")).as("mask"))
    val flagged = pairMask
      .join(t.withColumn("__tr", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .select(col("mask"), coalesce(col("__tr"), lit(0L)).as("tr"))
    // collides at width r ⟺ some aligned r-block fully agreed
    def collidesAt(r: Int): Column =
      (0 until Hashing.MinHashParams.size / r).map { k =>
        val bm = ((1L << r) - 1L) << (k * r)
        col("mask").bitwiseAND(lit(bm)) === lit(bm)
      }.reduce(_ || _)
    val aggCols = rowsPerBandSettings.flatMap(r => Seq(
      sum(when(collidesAt(r), 1L).otherwise(0L)).as(s"nc_$r"),
      sum(when(collidesAt(r) && col("tr") === 1L, 1L).otherwise(0L)).as(s"nv_$r")))
    val counts = flagged.agg(aggCols.head, aggCols.tail: _*)
    counts
      .select(explode(array(rowsPerBandSettings.map { r =>
        struct(
          lit((Hashing.MinHashParams.size / r).toLong).as("bands"),
          lit(r.toLong).as("rpb"),
          coalesce(col(s"nc_$r"), lit(0L)).as("n_candidates"),
          coalesce(col(s"nv_$r"), lit(0L)).as("n_verified"))
      }: _*)).as("g"))
      .select(col("g.bands").as("bands"), col("g.rpb").as("rpb"),
        col("g.n_candidates").as("n_candidates"), col("g.n_verified").as("n_verified"))
      .crossJoin(broadcast(nTrue))
      .select(
        col("bands"), col("rpb").as("rows_per_band"), col("n_true"),
        col("n_candidates"), col("n_verified"),
        round(col("n_verified").cast("double") /
          nullif(col("n_true").cast("double"), lit(0.0)), 6).as("recall"),
        round(col("n_verified").cast("double") /
          nullif(col("n_candidates").cast("double"), lit(0.0)), 6)
          .as("cand_precision"))
  }

  /** Incremental (batch-vs-corpus) NEAR-dup — [[incrementalDedup]]'s
    * fuzzy sibling, the shape that matters at 100 TB: the standing
    * corpus participates only through its materialized LSH artifacts —
    * [[bandedSignatures]] (the candidate filter) and hashed shingle rows
    * (8 bytes/shingle, the verifier) — so admitting a batch costs one
    * (band, key) join + exact-Jaccard verification of the candidates,
    * and the corpus TEXT is never rescanned. Each incoming doc returns
    * with its best verified corpus match (highest Jaccard, smallest
    * corpus_id on ties) as `status` 'near_dup', or 'novel' when no
    * corpus doc reaches `threshold` (including short docs that shingle
    * to nothing). Jaccard is computed over hashed shingles — a 60-bit
    * space whose collisions are both negligible and replayed exactly by
    * the DuckDB oracle.
    */
  def incrementalNearDup(
      corpus: DataFrame,
      incoming: DataFrame,
      threshold: Double,
      rowsPerBand: Int = 4,
      shingleN: Int = 3): DataFrame = {
    // one shingle pass feeds BOTH corpus artifacts; the production
    // serving shape reads them back materialized instead — see
    // [[writeNearDupIndex]] / [[incrementalNearDupIndexed]]
    val corpusShRows = shingleRows(corpus, shingleN)
    val corpusSh = corpusShRows
      .select(col("doc_id").as("corpus_id"), Hashing.portableTokenHash60(col("sh")).as("h"))
    val corpusBands = bandedSignatures(corpusShRows, rowsPerBand)
      .select(col("band"), col("key"), col("doc_id").as("corpus_id"))
    classifyAgainstIndex(corpusSh, corpusBands, incoming, threshold, rowsPerBand, shingleN)
  }

  /** Materialize the standing corpus's LSH serving artifacts as parquet
    * tables: `bands/` — the (band, key, corpus_id) candidate filter —
    * and `shingles/` — the (corpus_id, h) 8-byte hashed shingle rows
    * the verifier joins. Built ONCE per corpus (rebuilt on compaction),
    * then every arriving batch is classified against the files without
    * ever rescanning corpus text: this is the 100 TB serving shape the
    * inline [[incrementalNearDup]] demos. Both tables are written
    * bucket-friendly small-and-wide; at cluster scale `bands` would be
    * bucketed by (band, key) so batch admission joins shuffle only the
    * batch side.
    */
  def writeNearDupIndex(
      corpus: DataFrame,
      dir: String,
      rowsPerBand: Int = 4,
      shingleN: Int = 3): Unit = {
    val corpusShRows = shingleRows(corpus, shingleN)
    corpusShRows
      .select(col("doc_id").as("corpus_id"), Hashing.portableTokenHash60(col("sh")).as("h"))
      .write.mode("overwrite").parquet(s"$dir/shingles")
    bandedSignatures(corpusShRows, rowsPerBand)
      .select(col("band"), col("key"), col("doc_id").as("corpus_id"))
      .write.mode("overwrite").parquet(s"$dir/bands")
  }

  /** Classify an arriving batch against a MATERIALIZED corpus index
    * ([[writeNearDupIndex]]) — identical verdicts to
    * [[incrementalNearDup]], but the corpus side is two parquet scans
    * of the standing artifacts, so the measured cost is what a
    * production ingest pays per batch: shingle the batch, join the
    * band files, verify against the shingle files.
    *
    * Under tombstones ([[retractFromNearDupIndex]]) the band table is
    * filtered merge-on-read — a retracted corpus doc stops generating
    * candidates, so it can never be anyone's match; verification only
    * ever touches candidate corpus_ids, so the dead doc's shingle rows
    * are unreachable until [[compactNearDupIndex]] drops them
    * physically. Verdicts under tombstones ≡ an index built over the
    * survivors (oracle-gated).
    */
  def incrementalNearDupIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      incoming: DataFrame,
      threshold: Double,
      rowsPerBand: Int = 4,
      shingleN: Int = 3): DataFrame = {
    val bands = Tables.read(spark, s"$indexDir/bands")
    val liveBands = StandingIndex.dropRetracted(bands,
      StandingIndex.tombstones(spark, indexDir, "corpus_id"), "corpus_id")
    classifyAgainstIndex(
      Tables.read(spark, s"$indexDir/shingles"),
      liveBands,
      incoming, threshold, rowsPerBand, shingleN)
  }

  /** Incremental admission into the near-dup LSH index — the last
    * standing index family without lifecycle verbs gets the
    * [[graft.ext.Similarity.refreshBinaryIndex]] posture: band rows and
    * hashed shingle rows are PER-DOC (no cross-doc state — df lives in
    * no LSH artifact), so admission is the batch's own shingle + minhash
    * pass landed as REPLAY-IDEMPOTENT batch files
    * ([[graft.io.BatchFiles]], same `batchId` for both tables so the
    * candidate filter and the verifier stay row-consistent; a retried
    * admission replaces its own files). The standing corpus is never
    * rescanned; a refreshed index classifies exactly as a full rebuild
    * over (corpus ∪ batch). Same new-doc_ids-only admission contract as
    * every standing index.
    */
  def refreshNearDupIndex(
      newDocs: DataFrame,
      dir: String,
      batchId: Long,
      rowsPerBand: Int = 4,
      shingleN: Int = 3): Unit = {
    val shRows = shingleRows(newDocs, shingleN)
    graft.io.BatchFiles.land(
      shRows.select(col("doc_id").as("corpus_id"),
        Hashing.portableTokenHash60(col("sh")).as("h")),
      s"$dir/shingles", batchId)
    graft.io.BatchFiles.land(
      bandedSignatures(shRows, rowsPerBand)
        .select(col("band"), col("key"), col("doc_id").as("corpus_id")),
      s"$dir/bands", batchId)
  }

  /** RETRACT corpus documents from the near-dup LSH index as
    * [[StandingIndex]] tombstones: [[incrementalNearDupIndexed]] applies
    * them at the CANDIDATE filter — a deleted doc stops being reported
    * as anyone's near-dup match the moment the tombstone lands.
    * [[compactNearDupIndex]] later applies them physically.
    */
  def retractFromNearDupIndex(docIds: DataFrame, dir: String): Unit =
    StandingIndex.retract(docIds.select(col("doc_id").cast("long").as("corpus_id")), dir)

  /** Squash the near-dup index ([[StandingIndex.compact]]): `bands/` and
    * `shingles/` drop tombstoned rows, also collapsing any
    * [[refreshNearDupIndex]] batch files into one file set each.
    */
  def compactNearDupIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    StandingIndex.compact(spark, dir) { tmp =>
      val tombs = StandingIndex.tombstones(spark, dir, "corpus_id")
      // explicit selects: the USING join moves corpus_id first, and a
      // compacted file set must keep the canonical writeNearDupIndex
      // column order (readers match by name, but one layout is one schema)
      Seq("bands" -> Seq("band", "key", "corpus_id"), "shingles" -> Seq("corpus_id", "h"))
        .foreach { case (t, cols) =>
          StandingIndex.dropRetracted(Tables.read(spark, s"$dir/$t"), tombs, "corpus_id")
            .select(cols.map(col): _*)
            .write.parquet(s"$tmp/$t")
        }
    }

  private def classifyAgainstIndex(
      corpusSh: DataFrame,
      corpusBands: DataFrame,
      incoming: DataFrame,
      threshold: Double,
      rowsPerBand: Int,
      shingleN: Int): DataFrame = {
    val incShRows = shingleRows(incoming, shingleN)
    val incSh = incShRows
      .select(col("doc_id"), Hashing.portableTokenHash60(col("sh")).as("h"))
    val incBands = bandedSignatures(incShRows, rowsPerBand)

    // Strategy-pinned, ENGINE-owned (not session-config-owned): every
    // corpus- or incoming-scaled side below is hinted shuffle_hash, so
    // AQE's compressed-size broadcast estimate can never admit a
    // corpus-sized build side onto the driver — the round-16 ×256 soak
    // burst spark.driver.maxResultSize exactly this way when a raised
    // broadcast threshold met a flattering compressed-size estimate
    // (SCALING.md round 16, finding 3). Neither side of these joins is
    // bounded by contract (classification is a full new crawl against a
    // full index at 100 TB), and both sides hash-partition on the join
    // key with no sort needed, so shuffled-hash IS the plan a
    // 1000-executor run wants — same pin as minHashLshPairs' shingle
    // joins above.
    val candidates = incBands
      .join(corpusBands.hint("shuffle_hash"), Seq("band", "key"))
      .select("doc_id", "corpus_id")
      .dropDuplicates("doc_id", "corpus_id")

    val incCounts = incSh.groupBy("doc_id").agg(count(lit(1)).as("n_inc"))
    val corpusCounts = corpusSh.groupBy("corpus_id").agg(count(lit(1)).as("n_cor"))
    val nInter = candidates
      .join(incSh.hint("shuffle_hash"), Seq("doc_id"))
      .join(corpusSh.hint("shuffle_hash"), Seq("corpus_id", "h"))
      .groupBy("doc_id", "corpus_id")
      .agg(count(lit(1)).as("n_inter"))
    val verified = nInter
      .join(incCounts.hint("shuffle_hash"), Seq("doc_id"))
      .join(corpusCounts.hint("shuffle_hash"), Seq("corpus_id"))
      .withColumn("jac", jaccardFromCounts(col("n_inter"), col("n_inc"), col("n_cor")))
      .filter(col("jac") >= threshold)
    // best match per incoming doc: highest Jaccard, then smallest id —
    // ordered on the UNROUNDED value so rounding can't reorder ties
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("jac").desc, col("corpus_id").asc)
    val best = verified
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("corpus_id").as("match_id"),
        round(col("jac"), 4).as("jaccard"))

    // best is incoming-scaled (≤ one row per classified doc) — pinned
    // for the same reason as above: a big classification batch must
    // never ride a driver-collected broadcast
    incoming.select("doc_id")
      .join(best.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("status", when(col("match_id").isNotNull, "near_dup").otherwise("novel"))
      .select("doc_id", "status", "match_id", "jaccard")
  }

  /** MinHash-LSH near-duplicate detection over n-gram SHINGLE sets:
    * signature → bands → bucket self-join on ids only → exact-Jaccard
    * verification of candidate pairs. Returns verified pairs
    * (doc_a < doc_b, jaccard ≥ threshold that LSH surfaced). Bands of
    * `rowsPerBand` signature rows; a pair is a candidate iff it collides
    * in ≥ 1 band.
    *
    * Shingles, not unigrams, on purpose: unigram token sets over a small
    * vocabulary collide massively (on this corpus one band bucket held
    * half the docs → the LSH join degenerated to all-pairs). Shingle
    * similarity is sharply bimodal, so buckets stay tiny and the
    * candidate set is ~linear. The self-join also carries ONLY
    * (band, key, doc_id) — shingle arrays are re-attached afterwards for
    * the verification step, keeping the shuffle narrow.
    */
  def minHashLshPairs(
      docs: DataFrame,
      threshold: Double,
      rowsPerBand: Int = 4,
      shingleN: Int = 3): DataFrame = {
    // ONE pass over the corpus text derives BOTH hash families (the
    // 32-bit minhash input and the 60-bit verification hash — md5 is
    // shared, so codegen's subexpression elimination computes it once
    // per shingle) and checkpoints the compact (long, long, long) rows;
    // the signature aggregate, both verification sides, and the counts
    // all read the checkpoint instead of re-tokenizing the corpus (4×).
    val hashed = shingleRows(docs, shingleN)
      .select(col("doc_id"),
        Hashing.portableTokenHash(col("sh")).as("x"),
        Hashing.portableTokenHash60(col("sh")).as("h"))
      .localCheckpoint()
    val banded = bandExplode(minHashSigFromX(hashed), rowsPerBand)

    val l = banded.select(col("band"), col("key"), col("doc_id").as("doc_a"))
    val r = banded.select(col("band"), col("key"), col("doc_id").as("doc_b"))
    // shuffle_hash, engine-pinned: both sides are the corpus-sized
    // banded-signature table (15 rows per doc of compressible longs —
    // exactly the shape whose COMPRESSED size flatters AQE's broadcast
    // estimate; the round-16 ×256 soak under the default 64 MiB
    // threshold collected one side onto the driver and burst
    // spark.driver.maxResultSize at 1045 MiB). Never broadcastable at
    // scale; both sides hash-partition on (band, key) with no sort.
    val candidates = l.join(r.hint("shuffle_hash"), Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b") // collide in ≥1 band, count once

    // Exact-Jaccard verification of the candidate set, again as a
    // relational intersection count: candidates → their HASHED shingle
    // rows → matching hashes → counts. LSH pruned first, so this touches
    // only candidate docs' shingles. Verification runs over the portable
    // 60-bit hash — the [[incrementalNearDup]] / [[classifyAgainstIndex]]
    // identity, replayed exactly by the DuckDB oracle — so the join rows
    // are (long, long): 16 bytes, the COMPACT side of the house
    // criterion, which keeps shuffle_hash safe (the r17 merge pin was
    // measured against the ~30-byte STRING rows this path no longer
    // shuffles; the string-side hazards — the static planner's eager
    // driver collect, the non-spillable string hash build under the
    // 4 GiB soak heap — priced the un-narrowed shape).
    val hs = hashed.select(col("doc_id"), col("h"))
    val counts = hs.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val nInter = candidates
      .join(hs.select(col("doc_id").as("doc_a"), col("h")).hint("shuffle_hash"), Seq("doc_a"))
      .join(hs.select(col("doc_id").as("doc_b"), col("h")).hint("shuffle_hash"),
        Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    nInter
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("jac", jaccardFromCounts(col("n_inter"), col("n_a"), col("n_b")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
  }

  /** 60-bit SimHash of the unigram token set: per bit j, tokens vote
    * +1/-1 by bit j of their portable 60-bit hash; simhash bit j is 1 when
    * votes are positive. Bit extraction is shiftright(x, j) & 1 with a
    * literal shift — DuckDB mirrors it as (x >> j) & 1; both operate on
    * non-negative 60-bit values so sign never interferes.
    *
    * Column-level form (interpreted aggregate lambda — fine for slices);
    * [[simHashRows]] is the codegen'd scale formulation.
    */
  def simHash(text: Column): Column = {
    val toks = tokenSet(text)
    val terms = (0 until 60).map { j =>
      val votes = aggregate(
        toks,
        lit(0L),
        (acc, t) =>
          acc + when(shiftright(Hashing.portableTokenHash60(t), j).bitwiseAND(lit(1L)) === 1L, 1L)
            .otherwise(-1L))
      when(votes > 0, lit(1L << j)).otherwise(lit(0L))
    }
    terms.reduce(_ + _)
  }

  /** Relational SimHash: explode distinct tokens once, hash once, then 60
    * codegen'd vote SUM aggregates per doc (one shuffle of pre-aggregated
    * votes) — identical output to [[simHash]], linear and uncapped at
    * scale.
    */
  def simHashRows(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hashed = docs
      .select(col(idCol), explode(tokenSet(col(textCol))).as("t"))
      .withColumn("h", Hashing.portableTokenHash60(col("t")))
    val voteAggs = (0 until 60).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"v$j")
    }
    val simhash = (0 until 60)
      .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    hashed
      .groupBy(col(idCol))
      .agg(voteAggs.head, voteAggs.tail: _*)
      .select(col(idCol), simhash.as("simhash"))
  }

  /** Hamming distance between two SimHash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Edit-distance near-dup pairs at scale: `levenshtein` runs on
    * CANDIDATES only — the O(n²·len²) cross product of the naive form
    * (kept as the bounded-slice oracle, `dedup_edit_distance`) never
    * materializes. Candidates come from two relational bands:
    *
    *  - '''Length band (sound)''': ed(a,b) ≤ d ⇒ |len(a)−len(b)| ≤ d, so
    *    [[graft.ops.BandJoin]]'s bucket expansion applies — bucket =
    *    floor(len/(d+1)), one side replicated to its 3 adjacent buckets,
    *    equi-join on the bucket id. Every qualifying pair meets exactly
    *    once; the plan is a shuffled equi join, never a nested loop.
    *  - '''Prefix band (precision dial)''': candidates must agree on
    *    their first `prefixLen` characters. An edit inside that prefix
    *    escapes the band — a documented recall trade exactly like
    *    `ngramJaccardPairs(maxShingleDf)`: the result is a
    *    no-false-positive SUBSET of the exact pairs. `prefixLen = 0`
    *    disables it, making the candidate set complete and the result
    *    exact (spec-asserted against the all-pairs form).
    *
    * Verification uses the threshold variant `levenshtein(a, b, d)`,
    * which abandons DP rows that exceed d (returns −1, filtered out):
    * per-candidate cost is O(d·min(len)) instead of O(len²).
    *
    * The join is hinted `merge` (sort-merge): both sides are
    * corpus-sized AND carry full text columns, so the raised broadcast
    * threshold must not pull one onto the driver and a non-spillable
    * shuffled-hash build would die under memory pressure (the round-17
    * 4 GiB soak's finding on string-heavy build sides); the shuffle
    * still distributes the per-pair DP work across partitions (the
    * filter runs post-join, inside the shuffle stage). 100 TB shape:
    * one 3×-replicated shuffle on (bucket, prefix) + Σ bucket² DP work
    * on survivors — the prefix band is the valve that keeps buckets
    * narrow on real corpora.
    */
  def editDistancePairs(
      docs: DataFrame,
      maxDist: Int,
      prefixLen: Int = 0,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val w = maxDist + 1
    def pfx(c: Column) = substring(c, 1, prefixLen)
    val a = docs.select(
      col(idCol).as("doc_a"), col(textCol).as("ta"),
      length(col(textCol)).as("len_a"))
      .withColumn("bucket", floor(col("len_a") / w))
      .withColumn("pfx", pfx(col("ta")))
    val b0 = floor(col("len_b") / w)
    val b = docs.select(
      col(idCol).as("doc_b"), col(textCol).as("tb"),
      length(col(textCol)).as("len_b"))
      .select(col("doc_b"), col("tb"), col("len_b"),
        explode(array(b0 - 1, b0, b0 + 1)).as("bucket"))
      .withColumn("pfx", pfx(col("tb")))
    val joinKeys = if (prefixLen > 0) Seq("bucket", "pfx") else Seq("bucket")
    a.hint("merge").join(b, joinKeys)
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("dist", levenshtein(col("ta"), col("tb"), maxDist))
      // the threshold variant marks "above maxDist" as -1
      .filter(col("dist") >= 0)
      .select("doc_a", "doc_b", "dist")
  }

  /** Connected components over a near-duplicate pair list by iterative
    * min-label propagation: every node's label converges to the smallest
    * doc_id in its component, which is the canonical "keeper" of the
    * dup cluster. Returns (doc_id, cluster) for every node that appears
    * in at least one pair.
    *
    * Scale design, SIZE-ADAPTIVE like broadcast-vs-shuffle joins: the
    * near-dup edge list is dup-density-bounded, normally orders of
    * magnitude smaller than the corpus, so when it fits comfortably on
    * the driver (`driverEdgeLimit`, counted after dedup) a union-find
    * with path compression labels it in one collect — O(E α(E)), no
    * per-round job overhead. Above the limit, alternating
    * large-star/small-star contraction ([[starLabels]]): rounds grow
    * with log of component size, NOT diameter, so adversarial
    * long-chain graphs (a 10k-node path) converge in ~a dozen rounds
    * where plain min-label propagation needs 10k. Both paths compute
    * the same deterministic fixpoint (min id per component),
    * independent of round count and path choice — which is what lets a
    * DuckDB recursive-CTE oracle check either exactly.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 50,
      driverEdgeLimit: Long = 4000000L): DataFrame = {
    val edges = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(pairs.select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .distinct()
      .localCheckpoint()
    // one job decides AND fetches: collect up to limit+1 one-direction
    // edges (src <= dst keeps self-loops); a spill past the limit means
    // "too big for the driver" and we fall through to the iterative path
    if (driverEdgeLimit >= 0) {
      val sample = edges.filter(col("src") <= col("dst"))
        .limit(math.min(driverEdgeLimit, Int.MaxValue - 1).toInt + 1).collect()
      if (sample.length <= driverEdgeLimit)
        return unionFindLabels(pairs.sparkSession, sample)
    }
    starLabels(edges, maxIter)
  }

  /** INCREMENTAL component maintenance — admit a batch of new edges
    * into a STANDING label table without re-running global CC: labels
    * are a lossless connectivity summary (every member connects to its
    * representative), so the only graph that needs solving is the
    * CONTRACTED one — new edges with both endpoints mapped to their
    * current representative (unlabeled endpoints represent themselves).
    * That graph is ≤ 2·|batch| nodes regardless of corpus size; its CC
    * labels (min representative id = min member id of the merged
    * component, since each representative is already its component's
    * min) relabel the standing table through ONE broadcast join —
    * the standing labels never shuffle and the historical edge list is
    * never revisited. Output = exactly a full rebuild over
    * (old graph ∪ batch), spec- and oracle-gated.
    *
    * PRECONDITION (the contracted-graph argument depends on it): every
    * `cluster` value in `labels` must be the component's MINIMUM member
    * id — i.e. a table produced by [[connectedComponents]] or by a prior
    * call to this method. A table under any other labeling silently
    * diverges from a rebuild, so the method ASSERTS the invariant on
    * exactly the clusters the batch touches: min(member id) over each
    * touched cluster must equal its label. The probe is one pass over
    * the standing table pruned map-side by the broadcast touched-rep
    * set (untouched rows never shuffle; the aggregate output is
    * batch-sized), so admission cost stays batch-scoped.
    */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val reps = labels.select(col("doc_id"), col("cluster"))
    val a = newPairs.select(col(aCol).cast("long").as("doc_id")).distinct()
      .join(reps, Seq("doc_id"), "left")
      .select(col("doc_id").as("ea"), coalesce(col("cluster"), col("doc_id")).as("ra"))
    val b = newPairs.select(col(bCol).cast("long").as("doc_id")).distinct()
      .join(reps, Seq("doc_id"), "left")
      .select(col("doc_id").as("eb"), coalesce(col("cluster"), col("doc_id")).as("rb"))
    // min-label invariant assert (see scaladoc): over every cluster the
    // batch touches, min(member id) must equal the label — catches
    // max-labeled and arbitrarily-relabeled tables (whose reps can
    // still be self-consistent). The broadcast semi-join prunes the
    // scan map-side; the aggregate is touched-cluster-sized.
    val touched = a.select(col("ra").as("rep")).union(b.select(col("rb").as("rep"))).distinct()
    val violation = labels
      .join(broadcast(touched), labels("cluster") === touched("rep"), "left_semi")
      .groupBy("cluster").agg(min("doc_id").as("mn"))
      .filter(col("mn") =!= col("cluster"))
      .limit(1).collect()
    require(violation.isEmpty,
      "incrementalComponents: standing labels violate the min-label invariant " +
        s"(cluster ${violation.headOption.map(_.get(0)).getOrElse("?")} is labeled " +
        s"above its minimum member ${violation.headOption.map(_.get(1)).getOrElse("?")}); " +
        "feed a table produced by connectedComponents/incrementalComponents")
    val contracted = newPairs
      .join(a, newPairs(aCol).cast("long") === col("ea"))
      .join(b, newPairs(bCol).cast("long") === col("eb"))
      .select(col("ra").as("doc_a"), col("rb").as("doc_b"))
    // contracted CC labels: (rep, newRep) — batch-sized by construction
    val relabel = connectedComponents(contracted)
      .select(col("doc_id").as("cluster"), col("cluster").as("new_cluster"))
    // standing members relabel through the broadcast map; reps untouched
    // by the batch keep their label
    val updatedOld = labels.join(broadcast(relabel), Seq("cluster"), "left")
      .select(col("doc_id"), coalesce(col("new_cluster"), col("cluster")).as("cluster"))
    // batch endpoints that were not in the standing table join as new rows
    val newNodes = a.select(col("ea").as("doc_id"), col("ra").as("rep"))
      .union(b.select(col("eb").as("doc_id"), col("rb").as("rep")))
      .distinct()
      .join(reps.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(broadcast(relabel.select(col("cluster").as("rep"), col("new_cluster"))),
        Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("new_cluster"), col("rep")).as("cluster"))
    updatedOld.unionByName(newNodes)
  }

  /** DECREMENTAL component maintenance — retract documents from a
    * STANDING label table without re-running global CC, the deletion
    * half of the lifecycle [[incrementalComponents]] opened. Cluster
    * labels are DERIVED state: deleting a node can change OTHER nodes'
    * labels (the cluster's min member leaves, or the node was a cut
    * vertex and the cluster SPLITS), so tombstones cannot express the
    * retraction — the same argument that makes [[retractSpans]] a
    * recompute rather than a filter. What bounds the recompute is the
    * split-confinement theorem: removing nodes can only split clusters,
    * never merge them, and every split stays INSIDE the old cluster —
    * so clusters containing no retracted member keep their labels
    * verbatim (their induced subgraphs and minima are untouched), and
    * only the AFFECTED clusters (those holding a retracted doc —
    * request-bounded, near-dup clusters are small by nature) re-solve
    * CC over their surviving members' edges.
    *
    * Per retraction: the affected-cluster set broadcasts (one
    * label-keyed semi probe); untouched labels never shuffle (broadcast
    * anti join); the standing edge table scans ONCE, pruned map-side by
    * the broadcast affected-member set, so only affected clusters'
    * surviving edges enter the CC solve; survivors isolated by the
    * retraction drop from the table (a rebuild over the survivor edges
    * would not see them — matching it is the contract). Output =
    * exactly [[connectedComponents]] over (pairs minus any edge
    * touching a retracted doc), spec- and oracle-gated.
    *
    * PRECONDITIONS: `labels` must satisfy the min-label invariant
    * (ASSERTED on the affected clusters, the [[incrementalComponents]]
    * posture), and `pairs` must be the edge set `labels` was built
    * from — the maintained table diverges from a rebuild under any
    * other edge source. Retracting an unclustered or unknown doc_id is
    * a no-op for every other row.
    */
  def retractComponents(labels: DataFrame, pairs: DataFrame, retractIds: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val vic = retractIds.select(col("doc_id").cast("long").as("doc_id"))
      .distinct().localCheckpoint()
    val affected = labels.join(broadcast(vic), Seq("doc_id"), "left_semi")
      .select("cluster").distinct().localCheckpoint()
    // min-label invariant assert on exactly the clusters the retraction
    // touches (see incrementalComponents — same divergence hazard)
    val violation = labels
      .join(broadcast(affected), Seq("cluster"), "left_semi")
      .groupBy("cluster").agg(min("doc_id").as("mn"))
      .filter(col("mn") =!= col("cluster"))
      .limit(1).collect()
    require(violation.isEmpty,
      "retractComponents: standing labels violate the min-label invariant " +
        s"(cluster ${violation.headOption.map(_.get(0)).getOrElse("?")} is labeled " +
        s"above its minimum member ${violation.headOption.map(_.get(1)).getOrElse("?")}); " +
        "feed a table produced by connectedComponents/incrementalComponents")
    // untouched clusters keep their labels verbatim — map-side anti join
    // (the USING join moves `cluster` first; restore the (doc_id,
    // cluster) contract positionally, not just by name)
    val kept = labels.join(broadcast(affected), Seq("cluster"), "left_anti")
      .select("doc_id", "cluster")
    // affected clusters' members (affected-cluster-bounded)
    val members = labels.join(broadcast(affected), Seq("cluster"), "left_semi")
      .select("doc_id").localCheckpoint()
    // the affected subgraph's surviving edges: edges never span
    // clusters, so one endpoint's membership prunes the scan map-side
    val sub = pairs
      .select(col(aCol).cast("long").as("doc_a"), col(bCol).cast("long").as("doc_b"))
      .join(broadcast(members.select(col("doc_id").as("doc_a"))), Seq("doc_a"), "left_semi")
      .join(broadcast(vic.select(col("doc_id").as("doc_a"))), Seq("doc_a"), "left_anti")
      .join(broadcast(vic.select(col("doc_id").as("doc_b"))), Seq("doc_b"), "left_anti")
    kept.unionByName(connectedComponents(sub))
  }

  /** Distributed component labels by alternating large-star/small-star
    * contraction (the MapReduce CC algorithm of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): each
    * round rewires every node's strictly-larger neighbors (large-star),
    * then its smaller neighbors (small-star), onto the local minimum —
    * component depth roughly halves per round, so convergence is
    * O(log²) in component size rather than O(diameter). Every round is
    * two narrow groupBy-join passes over the edge list plus a distinct;
    * `localCheckpoint` truncates lineage so plan size stays constant.
    *
    * Input: symmetric directed edges (both orientations present; self
    * loops allowed). Output: (doc_id, cluster = component min id) for
    * every node in the input, the identical fixpoint union-find
    * produces.
    */
  private def starLabels(edges: DataFrame, maxIter: Int): DataFrame = {
    // every input node, including self-loop-only ones (the symmetric
    // input guarantees src alone covers them)
    val allNodes = edges.select(col("src").as("node")).distinct().localCheckpoint()
    // canonical undirected working set (lo < hi), self-loops dropped
    var cur = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct()
      .localCheckpoint()
    var iter = 0
    var done = cur.isEmpty
    while (!done && iter < maxIter) {
      val sym = cur.select(col("lo").as("src"), col("hi").as("dst"))
        .union(cur.select(col("hi").as("src"), col("lo").as("dst")))
      // large-star: each strictly-larger neighbor v of u attaches to
      // m(u) = min(Γ(u) ∪ {u}); m ≤ u < v so (m, v) is canonical
      val m1 = sym.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      val large = sym.join(m1, Seq("src"))
        .filter(col("dst") > col("src"))
        .select(col("m").as("lo"), col("dst").as("hi"))
        .distinct()
      // small-star on the larger endpoint: all smaller neighbors of u
      // (and u itself) attach to m(u) = min of the smaller neighbors
      val m2 = large.groupBy("hi").agg(min(col("lo")).as("m"))
      val joined = large.join(m2, Seq("hi"))
      val next = joined.filter(col("lo") =!= col("m"))
        .select(col("m").as("lo"), col("lo").as("hi"))
        .union(joined.select(col("m").as("lo"), col("hi")))
        .distinct()
        .localCheckpoint()
      done = next.count() == cur.count() && next.except(cur).isEmpty
      cur = next
      iter += 1
    }
    require(done, s"connectedComponents did not converge in $maxIter rounds")
    // at the star fixpoint every node's component min is
    // min(Γ(node) ∪ {node}); nodes with only self-loops label themselves
    val sym = cur.select(col("lo").as("src"), col("hi").as("dst"))
      .union(cur.select(col("hi").as("src"), col("lo").as("dst")))
    val labeled = sym.groupBy("src").agg(min(col("dst")).as("mn"))
      .select(col("src").as("node"), least(col("src"), col("mn")).as("cluster"))
    allNodes.join(labeled, Seq("node"), "left")
      .select(col("node").as("doc_id"), coalesce(col("cluster"), col("node")).as("cluster"))
  }

  /** Driver-side labeling of a small (already collected, one-direction)
    * edge list: union-find with path compression + union by attachment to
    * the smaller root id, then a second pass mapping every root to the
    * component MINIMUM id — the identical fixpoint the iterative path
    * converges to.
    */
  private def unionFindLabels(
      spark: org.apache.spark.sql.SparkSession,
      es: Array[org.apache.spark.sql.Row]): DataFrame = {
    import scala.collection.mutable
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val p = parent(c); parent(c) = r; c = p }
      r
    }
    es.foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    val nodes = mutable.LongMap.empty[Long] // node -> root
    es.foreach { r => nodes(r.getLong(0)) = 0L; nodes(r.getLong(1)) = 0L }
    nodes.keys.foreach(n => nodes(n) = find(n))
    val minOfRoot = mutable.LongMap.empty[Long]
    nodes.foreach { case (n, root) =>
      minOfRoot(root) = math.min(minOfRoot.getOrElse(root, n), n)
    }
    val rows = nodes.toSeq.map { case (n, root) => (n, minOfRoot(root)) }
    import spark.implicits._
    rows.toDF("doc_id", "cluster")
  }
}
