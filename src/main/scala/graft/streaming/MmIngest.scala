package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Multimodal

/** Streaming maintenance of the MULTIMODAL dedup index — the
  * [[AnnIngest]] contract applied to the media side, closing the last
  * standing-index family without a stream maintainer: each micro-batch
  * of asset rows crosses the codec boundary once (batched perceptual
  * hashing + content digests) and lands its banded phash signatures and
  * content-hash rows as REPLAY-IDEMPOTENT batch files (the foreachBatch
  * `batchId` keys [[Multimodal.refreshMmIndex]]'s
  * [[graft.io.BatchFiles]] landing directly — a replayed batch replaces
  * its own files, so the sink is exactly-once without a transactional
  * store). [[Multimodal.phashNearDupIndexed]] and
  * [[Multimodal.contentDedupIndexed]] stay continuously current as
  * assets arrive, with no nightly rebuild — and the stream never ships
  * payload bytes downstream of the codec pass: the landed rows are
  * 8-byte hashes and 16-byte digests.
  *
  * Signatures are PER-ASSET (no cross-asset state), so the streamed
  * layout IS the batch layout and every batch verb (retraction
  * tombstones, [[Multimodal.compactMmIndex]]) composes with the stream
  * unchanged. Same new-asset_ids-only admission contract as every
  * standing index. Writer/compactor exclusion as documented on
  * [[graft.io.StandingIndex]].
  */
object MmIngest {

  /** Land one micro-batch of asset rows (the [[Multimodal.Asset]]
    * schema). Directly callable for replay testing — a second call with
    * the same batchId replaces the first call's files exactly.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, indexDir: String): Unit = {
    import batch.sparkSession.implicits._
    Multimodal.refreshMmIndex(batch.as[Multimodal.Asset], indexDir, batchId)
  }

  /** Start the index-maintaining ingest on a stream of asset rows.
    *
    * Landing batch ids are the stream's micro-batch ids OFFSET BY +1:
    * [[Multimodal.writeMmIndex]] seeds a built index at batch 0, and
    * Structured Streaming micro-batch ids also start at 0, so an
    * un-offset stream attached to a builder-seeded directory would have
    * its first micro-batch delete and replace the build's batch-0
    * sigs/chash files. The offset is a fixed function of the
    * checkpointed micro-batch id, so replay idempotence is untouched (a
    * replayed micro-batch still replaces exactly its own files) — it
    * just keeps batch 0 as the builder's slot. Streams that own their
    * directory from scratch are unaffected (ids 1.. instead of 0..).
    *
    * CHECKPOINT COMPATIBILITY: the offset changes the micro-batch-id →
    * landing-batch-id mapping, so a checkpoint created by the
    * PRE-OFFSET version of this sink must not be resumed under this
    * one — the replayed in-flight micro-batch would land under the
    * shifted id while its already-landed files remain under the old
    * id, double-counting those rows (exactly the hazard the offset
    * exists to prevent at batch 0). Replay idempotence holds for
    * streams whose checkpoints were CREATED on this version; resuming
    * an older checkpoint requires retracting that stream's landed
    * batches (or starting a fresh checkpoint + index compaction)
    * first.
    */
  def start(stream: DataFrame, indexDir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => ingestBatch(b, id + 1, indexDir))
      .start()
}
