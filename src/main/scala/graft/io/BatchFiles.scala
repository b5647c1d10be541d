package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Replay-idempotent micro-batch file landing — the write discipline
  * shared by every streaming maintainer of a standing table
  * ([[graft.streaming.IndexedIngest]] for fact files + skip index,
  * [[graft.streaming.RetrievalIngest]] for the inverted-index tables):
  * a batch's rows land as deterministically-named files
  * (`batch<id>_<n>.parquet`) inside the destination directory, and a
  * REPLAYED batch first deletes its own previous files — so a retry
  * converges to the same file set instead of double-counting. Files are
  * staged in a sibling dot-dir on the SAME FileSystem as the
  * destination (a cross-filesystem rename returns false; unchecked,
  * that silently lands zero files while the batch is acked to the
  * checkpoint — rows lost), and every rename is checked via
  * [[DirSwap.renameOrFail]].
  */
object BatchFiles {

  /** Land one batch's rows into `destDir` under its deterministic batch
    * file names, replacing any files a previous attempt of the same
    * batch left behind.
    */
  def land(df: DataFrame, destDir: String, batchId: Long): Unit = {
    val fs = DataFiles.fs(df.sparkSession, destDir)
    fs.mkdirs(new Path(destDir))
    fs.globStatus(new Path(f"$destDir/batch$batchId%06d_*.parquet"))
      .foreach(st => fs.delete(st.getPath, false))
    val tmp = f"${destDir.stripSuffix("/")}%s.staging-batch$batchId%06d"
    fs.delete(new Path(tmp), true) // stale replay staging
    df.write.mode("overwrite").parquet(tmp)
    val parts = fs.globStatus(new Path(s"$tmp/part-*.parquet"))
    parts.zipWithIndex.foreach { case (st, i) =>
      DirSwap.renameOrFail(fs, st.getPath,
        new Path(f"$destDir/batch$batchId%06d_$i%03d.parquet"))
    }
    fs.delete(new Path(tmp), true)
  }
}
