package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.{Dedup, TextAnalysis}

/** The TRAINING-DATA ingestion pipeline as ONE stream — the verb chain a
  * real pretraining deployment runs continuously, composed from the
  * engine's own gated primitives:
  *
  *   quality gate → fingerprint/dedup admission → standing curated store
  *   → (served) sequence packing,
  *
  * each micro-batch crossing the whole chain inside one `foreachBatch`.
  * The batch twins of every stage are oracle-gated queries
  * (`train_pipeline_e2e`'s gate+dedup, `train_pack_sequences`'s packing),
  * and TrainIngestSpec drives this object through Spark's REAL streaming
  * engine (`Trigger.AvailableNow`, one file per trigger, checkpoint
  * restart) asserting end-state ≡ the batch pipeline.
  *
  * Design for stream ≡ batch equality at any slicing:
  *  - The quality gate and the per-doc projection (fingerprint, token
  *    count, quality score) are STATELESS — replayable row functions.
  *  - Landed rows are REPLAY-IDEMPOTENT batch files
  *    ([[graft.io.BatchFiles]]): a retried micro-batch replaces its own
  *    files exactly.
  *  - Cross-batch DEDUP is decided at SERVE time (keep min doc_id per
  *    fingerprint over the standing rows), not at admission — admission
  *    order can never flip which copy survives, so the streamed
  *    end-state equals the one-shot batch pipeline REGARDLESS of how
  *    the corpus was sliced into micro-batches, and a replayed batch
  *    cannot re-classify itself against its own earlier landing (the
  *    hazard an admit-time classify would carry).
  *  - The standing FINGERPRINT INDEX ([[Dedup.refreshFingerprintIndex]],
  *    batch-keyed, fuzz-proven) is maintained in the same foreachBatch,
  *    so downstream duplicate-classification serving
  *    ([[Dedup.incrementalDedupIndexed]]) stays continuously current.
  *
  * PACKING is a serving view over the curated store, not an incremental
  * sink: packs are global bin assignments over the canonical (source,
  * doc_id) order, so packing incrementally per micro-batch would weld
  * batch boundaries into the training artifact. A real deployment packs
  * per training run from the curated table — exactly what
  * [[servedPack]] computes, and why stream ≡ batch holds for it.
  *
  * 100 TB shape: the gate and projection are map-side expressions; the
  * landing appends batch files; the dedup serve is one hash shuffle of
  * (fp, id)-keyed rows; the pack serve windows per-source shards. No
  * stage rescans the standing corpus at admission.
  */
object TrainIngest {

  /** Land one micro-batch: quality-gate, project the per-doc curation
    * columns, append as batch files, refresh the fingerprint index.
    * Directly callable for replay testing — a second call with the same
    * batchId replaces the first call's files exactly.
    */
  def ingestBatch(
      batch: DataFrame, batchId: Long, dir: String, minQuality: Double): Unit = {
    val gated = batch
      .withColumn("q", TextAnalysis.qualityScore(col("text")))
      .filter(col("q") >= minQuality)
    val rows = gated.select(
      col("doc_id"), col("source"), col("lang"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      col("q"))
    // persist once: the curated landing and the fp-index refresh both
    // consume the gated stream — without it the source micro-batch
    // would re-read (and re-gate) per consumer
    rows.persist()
    try {
      graft.io.BatchFiles.land(rows, s"$dir/kept", batchId)
      Dedup.refreshFingerprintIndex(
        gated.select(col("doc_id"), col("text")), s"$dir/fp", batchId)
    } finally rows.unpersist()
  }

  /** Start the pipeline on a stream of document rows (doc_id, source,
    * lang, text). Landing ids are the stream's micro-batch ids offset
    * by +1 — the [[MmIngest.start]] convention, keeping batch 0 as the
    * builder's slot so a batch-built store can hand over to the stream.
    * (Same checkpoint-compatibility note as MmIngest: the offset is
    * part of the sink's identity — do not resume a checkpoint created
    * by a differently-keyed sink.)
    */
  def start(
      stream: DataFrame,
      dir: String,
      checkpointDir: String,
      minQuality: Double = 0.2,
      trigger: Option[Trigger] = None): StreamingQuery = {
    val w = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => ingestBatch(b, id + 1, dir, minQuality))
    trigger.fold(w)(w.trigger).start()
  }

  /** The curated corpus served from the standing store: quality
    * survivors, exact-deduplicated keep-first (min doc_id per
    * fingerprint — batch-boundary-invariant by construction).
    */
  def servedKept(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("fp").orderBy("doc_id")
    Tables.read(spark, s"$dir/kept")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .drop("rk")
  }

  /** Sequence packing served from the curated store — the
    * train_pack_sequences shape (per-SOURCE token stream in canonical
    * id order, cut into fixed `budget`-token bins) over the deduped
    * survivors.
    */
  def servedPack(spark: SparkSession, dir: String, budget: Int): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    servedKept(spark, dir)
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("pack_id", floor((col("cum") - col("n_tokens")) / lit(budget)))
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
      .withColumn("fill_pct", round(col("pack_tokens") * 100.0 / budget, 2))
  }
}
