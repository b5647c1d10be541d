package graft.io

import graft.Tables
import org.apache.spark.sql.{Column, SparkSession}

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
  * directory-rename-based via [[DirSwap.replace]] (write tmp → rename
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

  /** Compact `dir` in place into `numFiles` range-sorted files through
    * [[DirSwap.replace]]: a crashed prior run is recovered first, the
    * rewrite lands in `dir.next`, and the checked swap deletes the old
    * layout only after the new one is verified at `dir`.
    */
  def compact(
      spark: SparkSession, dir: String, numFiles: Int, sortCols: Column*): CompactStats = {
    val (filesBefore, rows) = DirSwap.replace(spark, dir) { next =>
      val df = Tables.read(spark, dir)
      val rows = df.count()
      val filesBefore = DataFiles.list(spark, dir).size.toLong
      RangeSortedSink.write(df, next, numFiles, sortCols: _*)
      (filesBefore, rows)
    }
    CompactStats(filesBefore, DataFiles.list(spark, dir).size.toLong, rows)
  }
}
