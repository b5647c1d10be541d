package graft.ext

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{DataFiles, DirSwap, StandingIndex}

/** The persisted INVERTED INDEX behind the engine's lexical retrieval —
  * what a search stack actually serves from: per-(doc, token) term
  * frequencies, per-token document frequencies, per-doc lengths, and the
  * corpus stats row, each a standing parquet table built in ONE
  * tokenize+aggregate pass over the corpus. Queries (BM25, hybrid
  * fusion) then touch the index tables only — the corpus text is never
  * re-tokenized per query, which is the difference between a retrieval
  * engine and a grep at 100 TB.
  *
  * Same standing-table pattern as the LSH near-dup index
  * ([[Dedup.writeNearDupIndex]]), the IVF ANN index
  * ([[Similarity.writeIvfIndex]]), and the graph adjacency
  * (queries.GraphPack): build once per corpus version, serve every
  * downstream query.
  */
object Retrieval {

  /** One materialized index per (JVM, corpus CONTENT version), shared by
    * every lexical query (BM25 top-k, hybrid fusion) — built on first
    * use, invalidated through [[graft.io.IndexCatalog]] when the corpus
    * files change (compaction, new arrivals).
    */
  def indexFor(sfDir: String, docs: => DataFrame): String = {
    val d = docs
    graft.io.IndexCatalog.resolve(
      d.sparkSession, "invidx", s"$sfDir/documents.parquet")(
      tmp => writeInvertedIndex(d, tmp))
  }

  /** Build the four index tables under `dir`: tf/, dlen/, df/, stats/. */
  def writeInvertedIndex(docs: DataFrame, dir: String): Unit = {
    val toked = docs.select(col("doc_id"),
      explode(array(TextAnalysis.tokens(col("text")))).as("toks"))
    val tf = toked.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    tf.write.mode("overwrite").parquet(s"$dir/tf")
    deriveFromTf(docs.sparkSession, dir)
  }

  /** df/dlen/stats ALL derive from a materialized tf — the corpus is
    * tokenized exactly once: df = per-token row count, dlen = per-doc
    * SUM(tf) (total tokens, identical to the raw token-array length).
    * Shared by the one-shot build and [[compactIndex]].
    */
  private def deriveFromTf(spark: SparkSession, dir: String): Unit = {
    val tfBack = Tables.read(spark, s"$dir/tf")
    tfBack.groupBy("tok").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$dir/df")
    tfBack.groupBy("doc_id").agg(sum("tf").as("len"))
      .write.mode("overwrite").parquet(s"$dir/dlen")
    Tables.read(spark, s"$dir/dlen")
      .agg(count(lit(1)).as("n_docs"), avg("len").as("avg_len"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** RETRACT documents from the index — deletion propagated to retrieval
    * (the right-to-be-forgotten path) as [[StandingIndex]] tombstones:
    * [[bm25From]] filters the query-token tf slice and decrements df for
    * exactly that slice, and [[compactIndex]] later applies tombstones
    * physically. Scores served under tombstones are EXACTLY a rebuild
    * over the surviving documents (oracle-gated).
    */
  def retractFromIndex(docIds: DataFrame, dir: String): Unit =
    StandingIndex.retract(docIds.select("doc_id"), dir)

  /** Squash the index back to the canonical compacted layout
    * ([[StandingIndex.compact]]): tf drops tombstoned docs, df/dlen/stats
    * re-derive from the surviving tf (also collapsing a streaming df
    * DELTA LOG — [[graft.streaming.RetrievalIngest]] — back to one row
    * per token), and a positional table sharing the root compacts under
    * the same tombstones, so the whole index moves in one swap.
    */
  def compactIndex(spark: SparkSession, dir: String): Unit =
    StandingIndex.compact(spark, dir) { tmp =>
      val tombs = StandingIndex.tombstones(spark, dir, "doc_id")
      StandingIndex.dropRetracted(Tables.read(spark, s"$dir/tf"), tombs, "doc_id")
        .write.parquet(s"$tmp/tf")
      deriveFromTf(spark, tmp)
      if (DataFiles.exists(spark, s"$dir/pos"))
        StandingIndex.dropRetracted(Tables.read(spark, s"$dir/pos"), tombs, "doc_id")
          .write.parquet(s"$tmp/pos")
    }

  /** Incremental index admission — the delta-refresh posture of the
    * LSH near-dup index ([[Dedup.incrementalNearDupIndexed]]) and the
    * skip index ([[graft.io.FileSkipIndex.refresh]]) applied to
    * retrieval: `newDocs` (and ONLY them — the standing corpus is never
    * re-tokenized) are tokenized once; their (doc, tok, tf) and (doc,
    * len) rows APPEND to tf/dlen; df merges as a delta (old df table +
    * delta df, one |vocab|-sized aggregate — never a rescan of tf); and
    * stats re-aggregates the dlen table (|docs| index rows, not corpus
    * text), which makes the refreshed stats EXACTLY equal a full
    * rebuild's. df/stats land by checked tmp-dir swap
    * ([[DirSwap.replace]]). At 100 TB/day ingest the refresh cost is
    * the day's documents plus two index-table aggregates.
    *
    * `newDocs` must be genuinely new doc_ids (the same admission
    * contract as the LSH index: dedup upstream decides identity).
    */
  def refreshInvertedIndex(newDocs: DataFrame, dir: String): Unit = {
    val spark = newDocs.sparkSession
    val delta = newDocs.select(col("doc_id"),
      explode(array(TextAnalysis.tokens(col("text")))).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .persist()
    try {
      delta.write.mode("append").parquet(s"$dir/tf")
      delta.groupBy("doc_id").agg(sum("tf").as("len"))
        .write.mode("append").parquet(s"$dir/dlen")
      DirSwap.replace(spark, s"$dir/df") { next =>
        Tables.read(spark, s"$dir/df")
          .unionByName(delta.groupBy("tok").agg(count(lit(1)).as("df")))
          .groupBy("tok").agg(sum("df").as("df"))
          .write.mode("overwrite").parquet(next)
      }
      DirSwap.replace(spark, s"$dir/stats") { next =>
        Tables.read(spark, s"$dir/dlen")
          .agg(count(lit(1)).as("n_docs"), avg("len").as("avg_len"))
          .coalesce(1).write.mode("overwrite").parquet(next)
      }
    } finally delta.unpersist()
  }

  /** POSITIONAL index table: one (doc_id, tok, pos) row per token
    * occurrence (0-based position) — what phrase and proximity queries
    * consume, the standard upgrade over the tf-only postings. Built in
    * the same one-tokenize pass discipline as [[writeInvertedIndex]]
    * (posexplode on the bound token array); at 100 TB the positions
    * table is the corpus's token stream at 16 bytes/row, partitioned by
    * the lake layout like tf.
    */
  def writePositionalIndex(docs: DataFrame, dir: String): Unit =
    positionRows(docs).write.mode("overwrite").parquet(s"$dir/pos")

  /** The (doc_id, pos, tok) occurrence rows of a document batch — the
    * one tokenize pass every positional maintainer shares (one-shot
    * build, incremental refresh, streaming ingest).
    */
  private[graft] def positionRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(array(TextAnalysis.tokens(col("text")))).as("toks"))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))

  /** Incremental admission into the positional index — the
    * [[refreshInvertedIndex]] posture: `newDocs` (and ONLY them) are
    * tokenized once and their occurrence rows land as
    * REPLAY-IDEMPOTENT batch files ([[graft.io.BatchFiles]], keyed by
    * `batchId`) — a retried refresh replaces its own files instead of
    * double-counting, and a reader racing the admission sees whole
    * batch files, never a partial `mode("append")` file set. The
    * standing corpus is never re-tokenized, and the refreshed index
    * serves exactly what a full rebuild over (corpus ∪ batch) would
    * (positions are per-doc, so admission has no cross-doc state to
    * merge — no df-style delta needed). Same new-doc_ids-only
    * admission contract as every other standing index; `batchId` must
    * be unique per ADMISSION (reusing one replaces that admission —
    * that is the replay semantics).
    */
  def refreshPositionalIndex(newDocs: DataFrame, dir: String, batchId: Long): Unit =
    graft.io.BatchFiles.land(positionRows(newDocs), s"$dir/pos", batchId)

  /** RETRACT documents from the positional index as [[StandingIndex]]
    * tombstones: phrase/proximity serving drops dead docs from each
    * term's index-pruned posting slice, and [[compactPositionalIndex]]
    * later applies them physically. Without this, a deleted document
    * kept serving phrase hits.
    */
  def retractFromPositionalIndex(docIds: DataFrame, dir: String): Unit =
    StandingIndex.retract(docIds.select("doc_id"), dir)

  /** Squash the positional index ([[StandingIndex.compact]]):
    * occurrence rows of tombstoned docs drop, also collapsing
    * refresh/stream append deltas into one file set.
    *
    * A COMBINED layout (pos/ sharing the root with tf/dlen/df —
    * what [[graft.streaming.RetrievalIngest]] lands with
    * `withPositions = true`) routes through [[compactIndex]], which
    * rewrites ALL the tables under one swap: compacting only pos/ and
    * swapping the root would delete the sibling tables with it, and
    * BM25 served from the dir afterwards would fail on missing parquet.
    */
  def compactPositionalIndex(spark: SparkSession, dir: String): Unit =
    if (DataFiles.exists(spark, s"$dir/tf")) compactIndex(spark, dir)
    else StandingIndex.compact(spark, dir) { tmp =>
      StandingIndex.dropRetracted(Tables.read(spark, s"$dir/pos"),
          StandingIndex.tombstones(spark, dir, "doc_id"), "doc_id")
        .write.parquet(s"$tmp/pos")
    }

  /** The live positional view: the occurrence table with tombstoned
    * docs dropped merge-on-read (the tombstone set broadcasts; the
    * anti join prunes AFTER each term's tok filter, so its cost rides
    * the query-pruned slice, never the full table).
    */
  private def livePositions(spark: SparkSession, dir: String): DataFrame =
    StandingIndex.dropRetracted(Tables.read(spark, s"$dir/pos"),
      StandingIndex.tombstones(spark, dir, "doc_id"), "doc_id")

  /** Exact PHRASE match over the positional index: occurrences are
    * positions p where term i of the phrase sits at p + i for every i —
    * the classic adjacency join on postings. Each phrase term pulls ONLY
    * its own posting slice (query-vocab-sized, index-pruned by the tok
    * filter), the first term's slice anchors the join, and every
    * subsequent term joins on (doc_id, pos + i) — so work is bounded by
    * the RAREST prefix's occurrence count, never the corpus. Returns
    * per-doc occurrence counts, rank-ordered (count DESC, doc_id ASC).
    */
  def phraseTopK(spark: SparkSession, dir: String, phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val pos = livePositions(spark, dir)
    val anchor = pos.filter(col("tok") === phrase.head)
      .select(col("doc_id"), col("pos").as("p0"))
    val matched = phrase.zipWithIndex.tail.foldLeft(anchor) { case (acc, (t, i)) =>
      acc.join(
        pos.filter(col("tok") === t)
          .select(col("doc_id"), (col("pos") - i).as("p0")),
        Seq("doc_id", "p0"))
    }
    matched.groupBy("doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("doc_id").asc)
      .limit(k)
  }

  /** PROXIMITY search over the positional index: documents where both
    * terms co-occur within `window` token positions, scored by the pair
    * count and the MINIMUM absolute distance (the tightest co-occurrence
    * — what proximity ranking boosts). Same posting-slice discipline as
    * [[phraseTopK]]: each term pulls only its own index-pruned slice,
    * and the position join is a doc-keyed band join |pa − pb| ≤ window —
    * bounded by per-doc occurrence counts of the two terms, never doc
    * length.
    */
  def proximityTopK(spark: SparkSession, dir: String, termA: String, termB: String,
      window: Int, k: Int): DataFrame = {
    val pos = livePositions(spark, dir)
    val a = pos.filter(col("tok") === termA).select(col("doc_id"), col("pos").as("pa"))
    val b = pos.filter(col("tok") === termB).select(col("doc_id"), col("pos").as("pb"))
    a.join(b, Seq("doc_id"))
      .filter(abs(col("pa") - col("pb")) <= window)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        // long: posexplode positions are ints, the oracle's are BIGINT
        min(abs(col("pa") - col("pb"))).cast("long").as("min_dist"))
      .orderBy(col("min_dist").asc, col("n_pairs").desc, col("doc_id").asc)
      .limit(k)
  }

  /** K-TERM windowed proximity — the general query shape
    * [[proximityTopK]]'s two-term form special-cases: documents where
    * ALL `terms` co-occur within `window` token positions, scored by
    * the TIGHTEST span (max − min position over one occurrence of each
    * term) and the number of qualifying occurrence combinations. Each
    * term pulls only its own index-pruned posting slice; the k-way join
    * is doc-keyed with the span bound applied PROGRESSIVELY — after
    * every join the running (min, max) envelope is checked, and since a
    * tuple's span only grows as terms are added, early pruning is
    * lossless while keeping intermediate fanout at the pruned size
    * rather than the raw occurrence product. Cost is bounded by per-doc
    * occurrence counts of the query terms, never doc length or corpus
    * size.
    */
  def proximityKTermTopK(spark: SparkSession, dir: String, terms: Seq[String],
      window: Int, k: Int): DataFrame = {
    require(terms.size >= 2, "need at least two terms")
    require(terms.distinct.size == terms.size,
      "terms must be distinct (a repeated term would pair an occurrence with itself)")
    val pos = livePositions(spark, dir)
    val anchor = pos.filter(col("tok") === terms.head)
      .select(col("doc_id"), col("pos").as("lo"), col("pos").as("hi"))
    val matched = terms.tail.foldLeft(anchor) { (acc, t) =>
      acc.join(
          pos.filter(col("tok") === t).select(col("doc_id"), col("pos").as("p")),
          Seq("doc_id"))
        .select(col("doc_id"),
          least(col("lo"), col("p")).as("lo"),
          greatest(col("hi"), col("p")).as("hi"))
        .filter(col("hi") - col("lo") <= window)
    }
    matched.groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        // long: posexplode positions are ints, the oracle's are BIGINT
        min(col("hi") - col("lo")).cast("long").as("min_span"))
      .orderBy(col("min_span").asc, col("n_windows").desc, col("doc_id").asc)
      .limit(k)
  }

  /** BM25 (k1=1.2, b=0.75) per-(query, doc) scores served from the
    * standing index: the query token set broadcasts, every other input
    * is an index table. `qtoks` must be (query_id, tok) distinct rows.
    */
  def bm25Scores(spark: SparkSession, dir: String, qtoks: DataFrame): DataFrame = {
    val dlen = Tables.read(spark, s"$dir/dlen")
    StandingIndex.tombstones(spark, dir, "doc_id") match {
      case None =>
        bm25From(
          Tables.read(spark, s"$dir/tf"),
          Tables.read(spark, s"$dir/df"),
          dlen,
          Tables.read(spark, s"$dir/stats"),
          qtoks)
      case Some(t) =>
        // merge-on-read under tombstones: stats re-derive from the LIVE
        // doc lengths (|docs| index rows) so n_docs/avg_len are exactly
        // a rebuild's; tf filtering and df decrements happen inside
        // bm25From on the query-token slice only
        val dlenLive = StandingIndex.dropRetracted(dlen, Some(t), "doc_id")
        bm25From(
          Tables.read(spark, s"$dir/tf"),
          Tables.read(spark, s"$dir/df"),
          dlenLive,
          dlenLive.agg(count(lit(1)).as("n_docs"), avg("len").as("avg_len")),
          qtoks, Some(t))
    }
  }

  /** The BM25 scoring core over explicit index tables — shared by the
    * compacted layout ([[bm25Scores]]) and the streaming delta-log
    * layout ([[graft.streaming.RetrievalIngest.bm25]], which aggregates
    * its per-batch df deltas and derives stats before calling in).
    *
    * With `tombstones`, scoring applies retractions merge-on-read: the
    * tombstone set broadcasts (it is small until [[compactIndex]]
    * absorbs it), dead docs drop from the already-query-filtered tf
    * slice, and df decrements by the dead docs' contribution to exactly
    * the query tokens — computed from that same slice, so the
    * correction costs one extra aggregate over candidate rows, never an
    * index rescan. `dlen`/`stats` must already be the live view (the
    * layout entry points handle that).
    */
  def bm25From(
      tf: DataFrame, dfTab: DataFrame, dlen: DataFrame, stats: DataFrame,
      qtoks: DataFrame, tombstones: Option[DataFrame] = None): DataFrame = {
    val tfq = tf.join(broadcast(qtoks), Seq("tok"))
    val (tfLive, dfLive) = tombstones match {
      case None => (tfq, dfTab)
      case Some(t) =>
        // count DISTINCT docs: tfq carries one row per (doc, tok,
        // QUERY), so a token shared by two query vocabularies would
        // otherwise decrement df twice per dead doc
        val dec = tfq.join(broadcast(t), Seq("doc_id"))
          .groupBy("tok").agg(count_distinct(col("doc_id")).as("__ddf"))
        (StandingIndex.dropRetracted(tfq, tombstones, "doc_id"),
          dfTab.join(dec, Seq("tok"), "left")
            .select(col("tok"),
              (col("df") - coalesce(col("__ddf"), lit(0L))).as("df"))
            .filter(col("df") > 0))
    }
    tfLive
      .join(dfLive, Seq("tok"))
      .join(dlen, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("s",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") / (col("tf") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("len") / col("avg_len"))))
      .groupBy("query_id", "doc_id")
      .agg(round(sum("s"), 6).as("score"))
  }
}
