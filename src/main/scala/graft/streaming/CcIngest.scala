package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Dedup

/** Streaming maintenance of the STANDING CLUSTER-LABEL table — the
  * near-dup pipeline's terminal state (doc_id → component min id) kept
  * continuously current as edge batches arrive: each micro-batch of
  * (doc_a, doc_b) near-dup pairs folds into the labels through
  * [[Dedup.incrementalComponents]] (CC solved on the CONTRACTED
  * representative graph — ≤ 2·|batch| nodes regardless of corpus size;
  * the standing table relabels through one broadcast join and the
  * historical edge list is never revisited), and the updated table
  * lands by checked tmp-dir swap ([[graft.io.DirSwap]]) so a reader
  * sees the old labels or the new ones, never a mix.
  *
  * Replay safety comes from the OPERATOR's own algebra, not from batch
  * files: edge admission into connected components is IDEMPOTENT —
  * re-admitting edges whose endpoints are already connected contracts
  * to self-loops and relabels nothing — so a replayed micro-batch
  * converges to the same table without any delta-log machinery (the
  * property CcIngestSpec pins). This is the same reason
  * [[Dedup.incrementalComponents]]'s hash gate can equal a full
  * rebuild: labels are a lossless connectivity summary.
  *
  * Downstream, the maintained table is exactly what the batch verbs
  * consume: [[Dedup.retractComponents]] for deletions,
  * dedup_survivors / dedup_keep_best / train_split_dedup_aware for
  * serving. Single-writer contract on the label dir (the stream IS the
  * writer; run retractions only with the stream stopped or between
  * batches — the usual writer/compactor exclusion).
  */
object CcIngest {

  /** Fold one micro-batch of pairs into the standing label table.
    * Directly callable for replay testing — re-delivering a batch
    * converges by the idempotence of edge admission.
    */
  def ingestBatch(pairs: DataFrame, labelDir: String): Unit = {
    val spark = pairs.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(labelDir), spark.sparkContext.hadoopConfiguration)
    val labelsPath = new org.apache.hadoop.fs.Path(s"$labelDir/labels")
    val updated =
      if (fs.exists(labelsPath))
        Dedup.incrementalComponents(Tables.read(spark, labelsPath.toString), pairs)
      else
        Dedup.connectedComponents(pairs)
    updated.write.mode("overwrite").parquet(s"$labelDir/labels.next")
    graft.io.DirSwap.swapInto(fs,
      new org.apache.hadoop.fs.Path(s"$labelDir/labels.next"), labelsPath)
  }

  /** Start the label-maintaining ingest on a stream of (doc_a, doc_b)
    * pair rows.
    */
  def start(stream: DataFrame, labelDir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, _: Long) => ingestBatch(b, labelDir))
      .start()

  /** The served label table. */
  def labels(spark: SparkSession, labelDir: String): DataFrame =
    Tables.read(spark, s"$labelDir/labels")
}
