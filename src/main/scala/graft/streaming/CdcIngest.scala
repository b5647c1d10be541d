package graft.streaming

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.ChangeCapture

/** Continuous CDC application: a stream of change rows (key, seq, op,
  * payload…) folds into a standing STATE table — the streaming twin of
  * q_cdc_apply's one-shot replay, and the missing piece between
  * [[graft.ops.ChangeCapture.applyLog]] (batch compaction) and a live
  * replication pipeline.
  *
  * Semantics per micro-batch: compact the batch to one winning row per
  * key ([[ChangeCapture.compactLog]]), then merge into the state under
  * the LATE-EVENT GUARD ([[ChangeCapture.seqMerge]]): a row wins only
  * with a strictly higher log sequence number. Deleted keys persist as
  * TOMBSTONES (op='D' + winning seq) so a late lower-seq update cannot
  * resurrect them; [[servedState]] filters tombstones for readers.
  * Consequences, both spec-pinned:
  *  - batches may arrive OUT OF ORDER and the final state still equals
  *    the one-shot replay of the whole log;
  *  - replaying a batch is a no-op (idempotent by the seq guard), so
  *    foreachBatch retries after a crash converge.
  *
  * State lands by write-tmp-then-rename ([[graft.io.DirSwap]]): readers
  * see the old or the new state, never a partial write. Maintenance
  * cost per batch is |batch| + |state| keys through one shuffle — the
  * log history is never rescanned; at 100 TB the state would be
  * key-partitioned parquet and the merge a co-partitioned join.
  */
object CdcIngest {

  /** Apply one CDC batch to the standing state directory. Directly
    * callable for replay / out-of-order testing.
    */
  def applyBatch(
      batch: DataFrame, stateDir: String,
      keyCols: Seq[String], seqCol: String): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statePath = new Path(stateDir)
    graft.io.DirSwap.recoverInterrupted(fs, statePath, ".old")
    val compacted = ChangeCapture.compactLog(batch, keyCols, seqCol)
    val merged =
      if (fs.exists(statePath))
        ChangeCapture.seqMerge(Tables.read(spark, stateDir), compacted, keyCols, seqCol)
      else compacted
    val tmp = stateDir.stripSuffix("/") + ".tmp"
    fs.delete(new Path(tmp), true)
    // the merge reads the same directory the swap replaces: materialize
    // to tmp BEFORE the swap so no reader-under-writer race exists
    merged.write.mode("overwrite").parquet(tmp)
    graft.io.DirSwap.swapInto(fs, new Path(tmp), statePath, ".old")
  }

  /** Start folding a CDC stream into `stateDir`. */
  def start(
      stream: DataFrame, stateDir: String, checkpointDir: String,
      keyCols: Seq[String], seqCol: String = "seq"): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, _: Long) => applyBatch(b, stateDir, keyCols, seqCol))
      .start()

  /** The reader view: standing state minus tombstones, log columns
    * dropped — exactly [[ChangeCapture.applyLog]]'s output shape.
    */
  def servedState(
      spark: SparkSession, stateDir: String,
      seqCol: String = "seq", opCol: String = "op"): DataFrame =
    Tables.read(spark, stateDir)
      .filter(col(opCol) =!= "D")
      .drop(opCol, seqCol)
}
