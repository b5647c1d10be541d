package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.{Retrieval, TextAnalysis}
import graft.io.{BatchFiles, StandingIndex}

/** Streaming maintenance of the INVERTED INDEX — the
  * [[IndexedIngest]] contract applied to retrieval: each micro-batch of
  * documents is tokenized ONCE and its index contributions land as
  * replay-idempotent batch files ([[graft.io.BatchFiles]]) in the
  * index's table directories, so BM25 serving stays continuously
  * current as documents arrive, without a nightly rebuild and without
  * the corpus text ever being re-tokenized.
  *
  * Layout difference vs the batch index ([[Retrieval.writeInvertedIndex]]):
  * tf and dlen are append-only there too, but df/stats are kept
  * COMPACTED (merged on refresh). A streaming maintainer cannot
  * read-merge-overwrite a table it is also the only writer of and stay
  * replay-idempotent — a replayed batch would re-merge its own delta
  * and double-count df. So the streaming layout keeps df as a DELTA
  * LOG: one tiny per-batch partial-count file set, aggregated at serve
  * time (`GROUP BY tok SUM(df)` over |vocab|·batches rows — index-table
  * cost, not corpus cost), and stats derive from dlen at serve time
  * (one aggregate over |docs| rows). Replaying any batch then converges
  * every table to the same file set — the LSM posture: writers append
  * immutable segments, readers merge, compaction is a separate offline
  * concern ([[Retrieval.compactIndex]] squashes the log back to the
  * batch layout).
  */
object RetrievalIngest {

  /** Land one batch of documents' index contributions. Directly
    * callable for replay testing — a second call with the same batchId
    * replaces the first call's files exactly. With `withPositions` the
    * batch's (doc_id, pos, tok) occurrence rows ALSO land as batch
    * files in `pos/` — the positional table gets the same replay-
    * idempotent stream maintenance as tf/dlen/df, so phrase/proximity
    * serving ([[Retrieval.phraseTopK]] reads `pos/` flat) stays
    * continuously current. Still one tokenize pass: positions become
    * the root table and tf derives from them by aggregation.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, indexDir: String,
      withPositions: Boolean = false): Unit =
    if (withPositions) {
      val pos = Retrieval.positionRows(batch).persist()
      try {
        BatchFiles.land(pos, s"$indexDir/pos", batchId)
        landTfFamily(
          pos.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")), batchId, indexDir)
      } finally pos.unpersist()
    } else
      // tokenize the batch once; tf is the root every other table
      // derives from (dlen = per-doc SUM(tf), df delta = per-token doc
      // count)
      landTfFamily(
        batch.select(col("doc_id"),
          explode(array(TextAnalysis.tokens(col("text")))).as("toks"))
          .select(col("doc_id"), explode(col("toks")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")),
        batchId, indexDir)

  private def landTfFamily(tf0: DataFrame, batchId: Long, indexDir: String): Unit = {
    val tf = tf0.persist()
    try {
      BatchFiles.land(tf, s"$indexDir/tf", batchId)
      BatchFiles.land(
        tf.groupBy("doc_id").agg(sum("tf").as("len")), s"$indexDir/dlen", batchId)
      BatchFiles.land(
        tf.groupBy("tok").agg(count(lit(1)).as("df")), s"$indexDir/df", batchId)
    } finally tf.unpersist()
  }

  /** Start the index-maintaining ingest on a stream of (doc_id, text)
    * rows. New doc_ids only — the same admission contract as
    * [[Retrieval.refreshInvertedIndex]] (dedup upstream decides
    * identity).
    */
  def start(stream: DataFrame, indexDir: String, checkpointDir: String,
      withPositions: Boolean = false): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => ingestBatch(b, id, indexDir, withPositions))
      .start()

  /** BM25 served from the streaming delta-log layout: df aggregates its
    * per-batch partials, stats derive from dlen, then the scoring core
    * is [[Retrieval.bm25From]] — identical arithmetic to the compacted
    * index, so results equal a full batch build over the same documents.
    */
  def bm25(spark: SparkSession, indexDir: String, qtoks: DataFrame): DataFrame = {
    val dlen = spark.read.parquet(s"$indexDir/dlen")
    // retraction composes with the log layout: stats derive from the
    // LIVE doc lengths and bm25From applies the tombstones merge-on-read
    val tombs = StandingIndex.tombstones(spark, indexDir, "doc_id")
    val dlenLive = StandingIndex.dropRetracted(dlen, tombs, "doc_id")
    Retrieval.bm25From(
      spark.read.parquet(s"$indexDir/tf"),
      spark.read.parquet(s"$indexDir/df").groupBy("tok").agg(sum("df").as("df")),
      dlenLive,
      dlenLive.agg(count(lit(1)).as("n_docs"), avg("len").as("avg_len")),
      qtoks, tombs)
  }
}
