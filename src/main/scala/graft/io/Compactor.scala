package graft.io

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the lake-maintenance pass every long-lived
  * table needs: streaming sinks and incremental loads leave thousands of
  * tiny files whose per-file open/footer/task overhead eventually
  * dominates scans (a million 1 MB files is a scheduling problem, not a
  * data problem). Compaction rewrites a directory into `numFiles`
  * range-sorted files: fewer, bigger, CLUSTERED — so the rewrite also
  * tightens [[FileSkipIndex]] envelopes and restores skipping efficiency
  * that fragmentation destroyed.
  *
  * The rewrite lands in a fresh directory and the swap is
  * directory-rename-based via [[DirSwap.swapInto]] (write tmp → rename
  * old away → rename tmp in, every rename CHECKED): readers racing the
  * swap see the old or the new complete layout — or, in the instant
  * between the two renames, a not-found they retry — never a mix of
  * files, and no failure mode deletes the only remaining copy (the old
  * layout is removed only after the new one is verified in place; a
  * crash between the renames is recovered on the next run). At cluster
  * scale the same shape runs per partition directory.
  */
object Compactor {

  /** One-row stats of a compaction run. */
  final case class CompactStats(filesBefore: Long, filesAfter: Long, rows: Long)

  private def parquetFiles(
      spark: SparkSession, dir: String): Seq[org.apache.hadoop.fs.Path] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet")).toIndexedSeq
  }

  /** Compact `dir` in place into `numFiles` range-sorted files. The swap
    * is fail-safe: a crashed prior run is recovered first, the rewrite
    * lands in a fresh tmp dir, and [[DirSwap.swapInto]] checks every
    * rename — the old layout is deleted only after the new one is
    * verified at `dir`.
    */
  def compact(
      spark: SparkSession, dir: String, numFiles: Int, sortCols: Column*): CompactStats = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    DirSwap.recoverInterrupted(fs, dirPath, ".compact-old")
    val before = parquetFiles(spark, dir)
    val df = Tables.read(spark, dir)
    val rows = df.count()
    val tmp = dir.stripSuffix("/") + ".compact-tmp"
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true) // stale tmp from a crash
    RangeSortedSink.write(df, tmp, numFiles, sortCols: _*)
    DirSwap.swapInto(fs, new org.apache.hadoop.fs.Path(tmp), dirPath, ".compact-old")
    CompactStats(before.size.toLong, parquetFiles(spark, dir).size.toLong, rows)
  }
}
