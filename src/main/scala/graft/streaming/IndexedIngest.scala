package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.io.FileSkipIndex

/** Streaming ingest that MAINTAINS the table's skip index as data lands:
  * each micro-batch appends its rows as deterministically-named parquet
  * files and then refreshes the standing [[FileSkipIndex]] to cover
  * exactly the new files — so range queries against the table keep their
  * file-skipping behavior continuously, without a nightly index rebuild.
  * This is the lake-format contract (every commit updates the manifest)
  * expressed with the engine's own primitives.
  *
  * Idempotence: batch files are named `batch<id>_<n>.parquet` and a
  * replayed batch first deletes its own files, so a retry converges to
  * the same file set (the [[EventStream.writeBatchIdempotent]] contract);
  * the index refresh is a listing diff, so it follows the file set. The
  * refreshed index lands by write-tmp-then-rename — a reader sees the
  * old or the new index, never a partial one (and the index is only ever
  * BEHIND the data, which is safe: an unindexed file is simply not
  * skipped... it is unknown to pruned reads served strictly through the
  * index, which is why the refresh runs in the same foreachBatch, before
  * the batch is acknowledged to the checkpoint).
  */
object IndexedIngest {

  /** Append one batch's rows + refresh the index. Also directly callable
    * for replay testing.
    */
  def ingestBatch(
      batch: DataFrame, batchId: Long, tableDir: String, indexDir: String,
      keys: Seq[String], measures: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(tableDir), conf)
    // replay-safe deterministic batch files, staged on the table's own
    // FileSystem (graft.io.BatchFiles — the landing contract shared
    // with RetrievalIngest)
    graft.io.BatchFiles.land(batch, tableDir, batchId)
    // refresh the standing index over the new file set and swap it in
    val idxPath = new org.apache.hadoop.fs.Path(indexDir)
    graft.io.DirSwap.recoverInterrupted(fs, idxPath, ".old")
    val existing =
      if (fs.exists(idxPath)) Tables.read(spark, indexDir)
      else FileSkipIndex.build(Tables.read(spark, tableDir), keys, measures).limit(0)
    val refreshed = FileSkipIndex.refresh(spark, tableDir, existing, keys, measures)
    val idxTmp = indexDir.stripSuffix("/") + ".tmp"
    fs.delete(new org.apache.hadoop.fs.Path(idxTmp), true)
    refreshed.coalesce(1).write.mode("overwrite").parquet(idxTmp)
    graft.io.DirSwap.swapInto(fs, new org.apache.hadoop.fs.Path(idxTmp), idxPath, ".old")
  }

  /** Start the maintained-index ingest on a stream. */
  def start(
      stream: DataFrame, tableDir: String, indexDir: String, checkpointDir: String,
      keys: Seq[String], measures: Seq[String] = Nil): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) =>
        ingestBatch(b, id, tableDir, indexDir, keys, measures))
      .start()
}
