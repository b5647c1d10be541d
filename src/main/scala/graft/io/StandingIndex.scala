package graft.io

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The deletion-and-compaction protocol every standing index shares
  * (inverted and positional index, IVF and binary ANN, near-dup LSH,
  * multimodal, fingerprint and span-mask indexes). This is the only code
  * that knows the layout:
  *
  *   - RETRACTION lands the retracted ids as a TOMBSTONE table
  *     (`dir/deleted`, |batch| rows, nothing rescanned; duplicate
  *     retracts are absorbed by the distinct read), and serving drops
  *     them merge-on-read with a broadcast left-anti join — the
  *     deletion-vector contract of the lake formats, at index
  *     granularity. The tombstone set is deletion-request-sized until a
  *     compaction absorbs it.
  *   - COMPACTION rewrites the index tables into `dir.compact` and swaps
  *     the new layout in with ONE root-dir swap — the single commit
  *     point: a reader racing it sees the old layout (tombstones and
  *     batch files, merge-on-read) or the new one, never a mix.
  *
  * Both race directions are guarded. The tombstone listing and the
  * content listing of `dir` are snapshotted before the rewrite reads
  * anything. A retraction landing during the rewrite fails the
  * tombstone guard, or — landing later still — is found in the retired
  * layout after the rename and ROLLS the swap back. An admission batch
  * landing during the rewrite fails the content guard; without it the
  * swap would silently destroy the batch with the old root. Every
  * failure is an `IOException` that leaves the prior layout serving;
  * re-run the compaction.
  *
  * Writer/compactor exclusion: run compaction only while no writer of
  * the index is active and no ingest checkpoint can REPLAY a
  * pre-compaction batch id — a replay after compaction finds none of
  * its original batch files (they were squashed) and lands its rows a
  * second time. The guards turn a violation into a loud failure only
  * while the compaction computes; a write interleaving with the renames
  * themselves stays uncovered, as in every log-structured store.
  */
object StandingIndex {

  /** Retract: the distinct ids of `ids` (one column, named as the
    * index's tombstone key) append to `dir/deleted`.
    */
  def retract(ids: DataFrame, dir: String): Unit =
    ids.distinct().write.mode("append").parquet(s"$dir/deleted")

  /** The distinct tombstone set, if any retraction has happened: one
    * `exists` call and no listing when there is none.
    */
  def tombstones(spark: SparkSession, dir: String, key: String): Option[DataFrame] =
    if (DataFiles.exists(spark, s"$dir/deleted"))
      Some(Tables.read(spark, s"$dir/deleted").select(key).distinct())
    else None

  /** `df` without the rows whose `key` is tombstoned. */
  def dropRetracted(df: DataFrame, tombs: Option[DataFrame], key: String): DataFrame =
    tombs.fold(df)(t => df.join(broadcast(t), Seq(key), "left_anti"))

  /** `df` without the rows whose `key` equals a tombstoned `tombKey`
    * (the ANN indexes key rows by `neighbor_id`, tombstones by `vec_id`).
    */
  def dropRetracted(
      df: DataFrame, tombs: Option[DataFrame], key: String, tombKey: String): DataFrame =
    tombs.fold(df)(t => df.join(broadcast(t), df(key) === t(tombKey), "left_anti"))

  /** Compact `dir`: `rewrite` writes the new layout's tables under the
    * staging dir it is handed, then the guarded swap replaces `dir`
    * with it (see the object doc for the guards). The new layout has no
    * `deleted/` table — `rewrite` applies the tombstones it reads.
    */
  def compact(spark: SparkSession, dir: String)(rewrite: String => Unit): Unit = {
    val tmp = dir.stripSuffix("/") + ".compact"
    DataFiles.fs(spark, dir).delete(new Path(tmp), true)
    val tombSnap = tombstoneVersion(spark, dir)
    val contentSnap = IndexCatalog.contentVersion(spark, dir)
    rewrite(tmp)
    guardTombstonesUnchanged(spark, dir, tombSnap)
    if (IndexCatalog.contentVersion(spark, dir) != contentSnap)
      throw new java.io.IOException(
        s"compaction aborted: files under $dir changed during the compaction " +
          "(concurrent refresh) — re-run the compaction")
    guardedSwapInto(spark, tmp, dir, tombSnap)
  }

  /** Listing fingerprint of the tombstone table ([[DataFiles.version]]).
    * It is path-independent: the post-swap re-check compares the RETIRED
    * layout's tombstones (renamed to `dir.swap-old/deleted`) against a
    * snapshot taken at `dir/deleted`.
    */
  private[graft] def tombstoneVersion(spark: SparkSession, dir: String): String =
    DataFiles.version(spark, s"$dir/deleted")

  /** Fail if a retraction landed since `snapshot` was taken. Early
    * detection only: the authoritative check is [[guardedSwapInto]]'s
    * re-check of the retired layout.
    */
  private[graft] def guardTombstonesUnchanged(
      spark: SparkSession, dir: String, snapshot: String): Unit =
    if (tombstoneVersion(spark, dir) != snapshot)
      throw new java.io.IOException(
        s"compaction aborted: tombstones under $dir/deleted changed since the " +
          "snapshot read (concurrent retraction) — re-run the compaction")

  /** [[DirSwap.swapInto]] that re-fingerprints the retired layout's
    * `deleted/` before deleting it: a retraction that landed any time
    * after `snapshot` sits there, so the swap rolls back (new layout
    * back to `tmp`, old layout back to serve) and fails.
    */
  private[graft] def guardedSwapInto(
      spark: SparkSession, tmp: String, dir: String, snapshot: String): Unit = {
    DirSwap.swapInto(DataFiles.fs(spark, dir), new Path(tmp), new Path(dir), checkRetired = old =>
      if (tombstoneVersion(spark, old.toString) != snapshot)
        throw new java.io.IOException(
          s"compaction aborted: a retraction landed under $dir/deleted during the " +
            "compaction (detected in the retired layout); the swap was rolled " +
            "back — re-run the compaction"))
  }
}
