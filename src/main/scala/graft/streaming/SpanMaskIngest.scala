package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.{Dedup, Hashing}
import graft.io.{BatchFiles, StandingIndex}

/** Streaming maintenance of the SPAN-MASK index — the
  * [[RetrievalIngest]] contract applied to sub-document dedup: each
  * micro-batch of documents is shingled ONCE and its contributions
  * land as replay-idempotent batch files ([[graft.io.BatchFiles]]) in
  * the index's table directories.
  *
  * Layout difference vs the batch index ([[Dedup.writeSpanMaskIndex]]):
  * `postings/` is append-only there too, but `df/` and `spans/` are
  * kept COMPACTED. A streaming maintainer cannot read-merge-overwrite a
  * table it is also the only writer of and stay replay-idempotent, so
  * the streaming layout keeps `df/` as a DELTA LOG (one per-batch
  * partial-count file set, summed at serve time) and does not
  * materialize `spans/` at all — the span table is a SERVE-TIME VIEW
  * over postings ⋈ (Σdf ≥ minDf), which is the only honest choice for
  * this operator: duplication is retroactive, so ANY batch can change
  * ANY earlier doc's spans, and a materialized per-batch span delta
  * would be invalidated by later batches. Replaying a batch replaces
  * its own files exactly, so the served spans converge — the LSM
  * posture ([[compactToBatchLayout]] squashes the log into the batch
  * layout, after which [[Dedup.incrementalSpans]]/[[Dedup.retractSpans]]
  * serve from the compacted tables).
  */
object SpanMaskIngest {

  /** Land one batch of documents' span-index contributions. Directly
    * callable for replay testing — a second call with the same batchId
    * replaces the first call's files exactly. `byOccurrence` selects
    * the [[Dedup.writeSpanMaskIndex]] counting mode (distinct docs vs
    * total occurrences — the ExactSubstr semantics); BOTH weights are
    * additive over disjoint doc sets, so the delta-log partial-sum
    * serving below is exact in either mode. One mode per index
    * directory — the landed partials don't record which counting
    * produced them, same single-semantics contract as the batch build.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, indexDir: String, n: Int,
      byOccurrence: Boolean = false): Unit = {
    val p = Dedup.positionedShingleRows(batch, n)
      .select(col("doc_id"), col("pos"),
        Hashing.portableTokenHash60(col("gram")).as("g"))
      .persist()
    try {
      BatchFiles.land(p, s"$indexDir/postings", batchId)
      val partial =
        if (byOccurrence) p.groupBy("g").agg(count(lit(1)).as("df"))
        else p.select("g", "doc_id").distinct()
          .groupBy("g").agg(count(lit(1)).as("df"))
      BatchFiles.land(partial, s"$indexDir/df", batchId)
    } finally p.unpersist()
  }

  /** Start the index-maintaining ingest on a stream of (doc_id, text)
    * rows. New doc_ids only — the same admission contract as
    * [[Dedup.incrementalSpans]] (dedup upstream decides identity).
    * `trigger` selects the micro-batch schedule (e.g.
    * `Trigger.AvailableNow()` for drain-then-stop backfills); default is
    * the engine's as-fast-as-possible processing trigger.
    */
  def start(stream: DataFrame, indexDir: String, checkpointDir: String,
      n: Int, byOccurrence: Boolean = false,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None): StreamingQuery = {
    val w = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) =>
        ingestBatch(b, id, indexDir, n, byOccurrence))
    trigger.fold(w)(w.trigger).start()
  }

  /** The CURRENT span table from the stream-maintained layout: df sums
    * its per-batch partials (index-table cost, not corpus cost), then
    * the same coverage → interval-merge as the batch build — so served
    * spans equal [[Dedup.duplicateSpans]] over every document ingested
    * so far, including the retroactive re-masking of early docs by
    * later arrivals.
    *
    * Works unchanged over a COMPACTED layout ([[compactToBatchLayout]]):
    * the compacted df table is just "one big partial", and summing one
    * partial is the identity — which is also what lets the stream
    * RESUME into a compacted index (new batch files land beside the
    * compacted file set and the sums stay exact).
    */
  def servedSpans(spark: SparkSession, indexDir: String, n: Int,
      minDf: Long = 2L): DataFrame = {
    val postings = spark.read.parquet(s"$indexDir/postings")
    val dup = spark.read.parquet(s"$indexDir/df")
      .groupBy("g").agg(sum("df").as("df"))
      .filter(col("df") >= minDf).select("g")
    Dedup.spansFromCovered(
      postings.join(dup, Seq("g")).select("doc_id", "pos"), n)
  }

  /** Squash the stream-maintained delta log into
    * [[Dedup.writeSpanMaskIndex]]'s BATCH layout — the LSM promise the
    * layout doc makes, now a verb: postings batch files coalesce into
    * one compacted file set; the df delta log collapses to one row per
    * gram (summing per-batch partials is EXACT because batches are
    * disjoint doc sets — the new-doc_ids-only admission contract); and
    * `spans/`, a serve-time VIEW in the streaming layout, MATERIALIZES
    * from the compacted tables. The new layout replaces the old through
    * [[StandingIndex.compact]]. After compaction the index serves
    * through the batch-layout paths — [[Dedup.incrementalSpans]],
    * [[Dedup.retractSpans]], the standing `spans/` table — and
    * [[servedSpans]] keeps working (one-partial df), so the stream can
    * resume into it.
    */
  def compactToBatchLayout(spark: SparkSession, indexDir: String, n: Int,
      minDf: Long = 2L): Unit =
    StandingIndex.compact(spark, indexDir) { tmp =>
      spark.read.parquet(s"$indexDir/postings").write.parquet(s"$tmp/postings")
      spark.read.parquet(s"$indexDir/df")
        .groupBy("g").agg(sum("df").as("df"))
        .write.parquet(s"$tmp/df")
      val postings = spark.read.parquet(s"$tmp/postings")
      val dup = spark.read.parquet(s"$tmp/df")
        .filter(col("df") >= minDf).select("g")
      Dedup.spansFromCovered(
        postings.join(dup, Seq("g")).select("doc_id", "pos"), n)
        .write.parquet(s"$tmp/spans")
    }
}
