package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}

/** Checked directory-swap primitives shared by the engine's
  * write-tmp-then-swap sinks ([[Compactor]], [[StandingIndex]],
  * [[IndexedIngest]], the inverted-index refresh in
  * [[graft.ext.Retrieval]]). Hadoop's
  * `FileSystem.rename` reports failure by returning `false` rather than
  * throwing — an unchecked rename is how a swap silently loses the only
  * copy of a table (rename tmp→dir fails, the data sits in `.old`, and an
  * unconditional delete removes it). Every rename here is checked, and
  * the swap aborts with the previous state intact on any failure.
  */
object DirSwap {

  /** `fs.rename` with the boolean checked — failure is an exception, not
    * a silent no-op.
    */
  def renameOrFail(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(
        s"rename failed: $from -> $to (exists(from)=${fs.exists(from)}, " +
          s"exists(to)=${fs.exists(to)})")

  /** Swap the freshly-written `tmp` directory into `dest`:
    * `dest` → `dest+oldSuffix` → delete, `tmp` → `dest`. Every step is
    * checked; on failure the previous `dest` content survives (either
    * still at `dest`, or intact under the `.old` path, which the caller's
    * retry can recover via [[recoverInterrupted]]). The `.old` copy is
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
  def swapInto(fs: FileSystem, tmp: Path, dest: Path, oldSuffix: String = ".swap-old",
      checkRetired: Path => Unit = _ => ()): Unit = {
    val old = new Path(dest.toString.stripSuffix("/") + oldSuffix)
    // leftover .old from a crashed prior run: dest still exists, so the
    // old copy is superseded garbage — clear it so the rename below has
    // a free target
    if (fs.exists(old)) {
      if (!fs.exists(dest))
        // crashed BETWEEN the renames: dest's content lives only in old
        renameOrFail(fs, old, dest)
      else fs.delete(old, true)
    }
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
    * renames (dest missing, `.old` present). Returns true if a recovery
    * rename was performed.
    */
  def recoverInterrupted(fs: FileSystem, dest: Path, oldSuffix: String = ".swap-old"): Boolean = {
    val old = new Path(dest.toString.stripSuffix("/") + oldSuffix)
    if (!fs.exists(dest) && fs.exists(old)) { renameOrFail(fs, old, dest); true }
    else false
  }
}
