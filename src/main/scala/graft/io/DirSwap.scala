package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Checked directory-swap primitives shared by the engine's
  * write-then-swap state directories. Every one is replaced through
  * [[replace]] (written into `dir.next`) except the standing-index
  * compaction ([[StandingIndex.compact]], written into `dir.compact`,
  * swapped with a guard); a swap's retired copy is always
  * `dir.swap-old`. Hadoop's `FileSystem.rename` reports failure by
  * returning `false` rather than throwing — an unchecked rename is how a
  * swap silently loses the only copy of a table (rename tmp→dir fails,
  * the data sits in the retired copy, and an unconditional delete
  * removes it). Every rename here is checked, and the swap aborts with
  * the previous state intact on any failure.
  */
object DirSwap {

  /** Replace the directory `dir`: recover a swap that a crash interrupted
    * between its renames ([[recoverInterrupted]]) BEFORE `write` runs, so
    * a `write` that reads `dir` sees its recovered state; delete a stale
    * `dir.next`; call `write(dir.next)`; then swap `dir.next` into `dir`
    * with the checked [[swapInto]]. Returns what `write` returns.
    */
  def replace[A](spark: SparkSession, dir: String)(write: String => A): A = {
    val fs = DataFiles.fs(spark, dir)
    val dest = new Path(dir)
    recoverInterrupted(fs, dest)
    val next = new Path(dir.stripSuffix("/") + ".next")
    fs.delete(next, true)
    val out = write(next.toString)
    swapInto(fs, next, dest)
    out
  }

  /** `fs.rename` with the boolean checked — failure is an exception, not
    * a silent no-op.
    */
  def renameOrFail(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(
        s"rename failed: $from -> $to (exists(from)=${fs.exists(from)}, " +
          s"exists(to)=${fs.exists(to)})")

  /** Swap the freshly-written `tmp` directory into `dest`:
    * `dest` → `dest.swap-old` → delete, `tmp` → `dest`. Every step is
    * checked; on failure the previous `dest` content survives (either
    * still at `dest`, or intact under `dest.swap-old`, which the caller's
    * retry can recover via [[recoverInterrupted]]). The retired copy is
    * deleted only AFTER the new directory is verified in place, so no
    * point of failure loses both copies. There remains a brief window
    * between the two renames where `dest` does not exist — readers racing
    * the swap see old, new, or (rarely) not-found, never a mix of files.
    *
    * `checkRetired` sees the retired layout's path (which does not exist
    * if `dest` did not) after the new one is in place; if it throws, the
    * swap rolls back — the new layout returns to `tmp`, the old one to
    * `dest` — and the exception propagates.
    */
  def swapInto(fs: FileSystem, tmp: Path, dest: Path,
      checkRetired: Path => Unit = _ => ()): Unit = {
    val old = retired(dest)
    // a crashed prior run: if it stopped BETWEEN the renames, dest's
    // content lives only in old and is recovered; otherwise old is
    // superseded garbage, cleared so the rename below has a free target
    recoverInterrupted(fs, dest)
    fs.delete(old, true)
    if (fs.exists(dest)) renameOrFail(fs, dest, old)
    try renameOrFail(fs, tmp, dest)
    catch {
      case e: java.io.IOException =>
        // roll back so the table is not left missing
        if (fs.exists(old) && !fs.exists(dest)) renameOrFail(fs, old, dest)
        throw e
    }
    if (!fs.exists(dest))
      throw new java.io.IOException(s"swap left no directory at $dest")
    try checkRetired(old)
    catch {
      case e: Exception =>
        renameOrFail(fs, dest, tmp)
        if (fs.exists(old)) renameOrFail(fs, old, dest)
        throw e
    }
    fs.delete(old, true)
  }

  /** Recover a destination from a swap interrupted between its two
    * renames (dest missing, `dest.swap-old` present). Returns true if a
    * recovery rename was performed.
    */
  def recoverInterrupted(fs: FileSystem, dest: Path): Boolean = {
    val old = retired(dest)
    if (!fs.exists(dest) && fs.exists(old)) { renameOrFail(fs, old, dest); true }
    else false
  }

  private def retired(dest: Path): Path = new Path(dest.toString.stripSuffix("/") + ".swap-old")
}
