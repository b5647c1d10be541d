package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Similarity

/** Streaming maintenance of the BINARY (1-bit) ANN index — the
  * [[RetrievalIngest]] contract applied to the embedding side, closing
  * the one index family that had batch lifecycle verbs but no stream
  * maintainer: each micro-batch of (vec_id, embedding) rows lands its
  * sign signatures + band keys and its normalized vectors as
  * REPLAY-IDEMPOTENT batch files (the foreachBatch `batchId` keys
  * [[Similarity.refreshBinaryIndex]]'s [[graft.io.BatchFiles]] landing
  * directly — a replayed batch replaces its own files, so the sink is
  * exactly-once without a transactional store), and
  * [[Similarity.binaryTopKIndexed]] serves band-pruned lookups that are
  * continuously current as vectors arrive, with no nightly rebuild.
  *
  * Signatures and band keys are PER-VECTOR (no cross-vector state), so
  * unlike the inverted index there is no df-style delta log to merge at
  * serve time — the streaming layout IS the batch layout, and every
  * batch verb (retraction tombstones, [[Similarity.compactBinaryIndex]])
  * composes with the stream unchanged. The IVF family deliberately has
  * no stream maintainer: its admission routes through a TRAINED centroid
  * model (`mode("append")` into cell partitions — retrain rarely
  * offline, admit in controlled batches via
  * [[Similarity.refreshIvfIndex]]); the model-free 1-bit index is the
  * honest continuously-ingesting rung of the quantization ladder.
  *
  * Same new-ids-only admission contract as every standing index (dedup
  * upstream decides identity). Writer/compactor exclusion as documented
  * on [[graft.io.StandingIndex]].
  */
object AnnIngest {

  /** Land one micro-batch. Directly callable for replay testing — a
    * second call with the same batchId replaces the first call's files
    * exactly.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, indexDir: String): Unit =
    Similarity.refreshBinaryIndex(batch, indexDir, batchId)

  /** Start the index-maintaining ingest on a stream of
    * (vec_id, embedding) rows.
    */
  def start(stream: DataFrame, indexDir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => ingestBatch(b, id, indexDir))
      .start()
}
