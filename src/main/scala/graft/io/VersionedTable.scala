package graft.io

import graft.Tables
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Commit-log table versioning — snapshot isolation and time travel on
  * plain parquet, the minimal table-format core (Delta/Iceberg shape)
  * the engine's maintenance family was converging on: [[DirSwap]] gave
  * single-version atomicity, [[IndexCatalog]] gave content-version
  * invalidation, this gives HISTORY.
  *
  * Layout under the table root:
  * {{{
  *   data/c00001-<uuid>/part-*.parquet   -- files written by commit 1
  *   data/c00002-<uuid>/part-*.parquet
  *   _log/v00001.manifest                -- newline list of LIVE data dirs
  *   _log/v00002.manifest
  * }}}
  *
  * Each manifest is the COMPLETE list of live data directories at that
  * version (checkpoint style — O(commits) lines, no log replay needed to
  * resolve a snapshot). A commit writes its data into a fresh uniquely
  * named directory FIRST, then publishes the manifest with a
  * write-temp-then-rename ([[DirSwap.renameOrFail]]): readers resolve a
  * version by reading ONE manifest file, so they see a commit entirely
  * or not at all — a writer crash before the rename leaves an orphan
  * data dir (invisible to every reader) and no manifest, which the next
  * commit simply supersedes.
  *
  * Append vs overwrite: `append` publishes previous-live + new dirs;
  * `overwrite` publishes only the new dirs — old versions keep their
  * manifests, so time travel still resolves them until [[vacuum]]
  * deletes data dirs no retained version references.
  *
  * 100 TB posture: manifests are metadata (bytes per commit); resolving
  * a snapshot costs one small file read, the same price every table
  * format pays; data files are immutable so concurrent readers at
  * different versions never interfere; and the scan a version resolves
  * to is a plain multi-dir parquet read — pushdown, pruning, and the
  * [[FileSkipIndex]] all compose unchanged.
  */
object VersionedTable {

  private def manifestPath(tableDir: String, v: Int): Path =
    new Path(s"$tableDir/_log/v${"%05d".format(v)}.manifest")

  /** Highest published version, 0 if the table has no commits yet. */
  def latestVersion(spark: SparkSession, tableDir: String): Int = {
    val f = DataFiles.fs(spark, tableDir)
    val log = new Path(s"$tableDir/_log")
    if (!f.exists(log)) return 0
    f.listStatus(log).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(n => n.stripPrefix("v").stripSuffix(".manifest").toInt)
      .foldLeft(0)(math.max)
  }

  private def liveDirs(spark: SparkSession, tableDir: String, v: Int): Seq[String] = {
    val f = DataFiles.fs(spark, tableDir)
    val p = manifestPath(tableDir, v)
    require(f.exists(p), s"version $v does not exist under $tableDir")
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.filter(_.nonEmpty)
    finally in.close()
  }

  /** Publish `df` as the next version. Returns the new version number. */
  def commit(spark: SparkSession, tableDir: String, df: DataFrame,
      overwrite: Boolean = false): Int =
    commitTagged(spark, tableDir, df, overwrite,
      java.util.UUID.randomUUID().toString)

  /** Exactly-once APPEND commit keyed by a replayable batch id (the
    * foreachBatch contract): if the latest manifest already references
    * this batch's data dir, the commit is a no-op returning the current
    * version — so a micro-batch retry converges instead of duplicating
    * rows. The commit point is the manifest rename; a crash after the
    * data write but before it leaves an orphan dir the replay simply
    * overwrites (it was never visible). The guarantee covers append-only
    * ingest — an interleaved OVERWRITE commit drops prior batch dirs
    * from the live set, after which their ids read as uncommitted.
    */
  def commitBatch(spark: SparkSession, tableDir: String, df: DataFrame,
      batchId: Long): Int = {
    val prev = latestVersion(spark, tableDir)
    if (prev > 0 &&
      liveDirs(spark, tableDir, prev).exists(_.endsWith(s"-batch$batchId")))
      return prev
    commitTagged(spark, tableDir, df, overwrite = false, s"batch$batchId")
  }

  /** Write-audit-publish: stage `df` as an (invisible) data dir, run
    * `audit` against the STAGED files — the exact bytes readers would
    * see, so the gate also catches write-path surprises, not just
    * logical ones — and publish the manifest only if it passes. An
    * aborted commit returns None and leaves the staged dir orphaned
    * (invisible to every reader; [[vacuum]] collects it), so bad data
    * can never become a resolvable snapshot — the quality gate moved
    * from "alert after serving" to "never serve". Compose with
    * [[graft.ext.Quality.constraintReport]] for the declarative form
    * (`q_wap_commit`).
    */
  def commitAudited(spark: SparkSession, tableDir: String, df: DataFrame,
      overwrite: Boolean = false)(audit: DataFrame => Boolean): Option[Int] = {
    val f = DataFiles.fs(spark, tableDir)
    val prev = latestVersion(spark, tableDir)
    val next = prev + 1
    val dataDir =
      s"$tableDir/data/c${"%05d".format(next)}-audit-${java.util.UUID.randomUUID()}"
    df.write.mode("error").parquet(dataDir)
    if (!audit(Tables.read(spark, dataDir))) return None
    val live =
      if (overwrite || prev == 0) Seq(dataDir)
      else liveDirs(spark, tableDir, prev) :+ dataDir
    publish(f, tableDir, next, live)
    Some(next)
  }

  private def commitTagged(spark: SparkSession, tableDir: String, df: DataFrame,
      overwrite: Boolean, tag: String): Int = {
    val f = DataFiles.fs(spark, tableDir)
    val prev = latestVersion(spark, tableDir)
    val next = prev + 1
    val dataDir = s"$tableDir/data/c${"%05d".format(next)}-$tag"
    // overwrite: a crashed predecessor's orphan dir with this tag was
    // never published, so replacing it is safe; fresh tags never collide
    df.write.mode("overwrite").parquet(dataDir)
    val live =
      if (overwrite || prev == 0) Seq(dataDir)
      else liveDirs(spark, tableDir, prev) :+ dataDir
    publish(f, tableDir, next, live)
    next
  }

  /** Atomically publish `live` as version `next`: write-temp-then-rename
    * of the manifest — the single commit point of every write path. The
    * rename goes through `FileContext` with `Rename.NONE` (no-overwrite)
    * so it doubles as the COMPARE-AND-SWAP for concurrent writers: two
    * racers computing the same `next` cannot both win — POSIX
    * `rename(2)` silently replaces an existing destination, which would
    * lose the first writer's commit, while the no-overwrite contract
    * turns the race into a [[FileAlreadyExistsException]] the loser can
    * retry from (the log-store discipline Delta uses on HDFS).
    */
  private def publish(f: FileSystem, tableDir: String, next: Int,
      live: Seq[String]): Unit = {
    val tmp = new Path(s"$tableDir/_log/.v${"%05d".format(next)}.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write((live.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      tmp.toUri, f.getConf)
    try fc.rename(tmp, manifestPath(tableDir, next),
      org.apache.hadoop.fs.Options.Rename.NONE)
    catch { case e: Throwable => f.delete(tmp, false); throw e }
  }

  /** Minor compaction as a COMMIT: merge the `maxDirs` smallest live
    * data dirs (the fragments a per-batch streaming ingest accumulates)
    * into one range-sorted dir and publish the swap as the next version.
    * Unlike a directory-rename compaction ([[Compactor]]), the commit
    * point is one manifest rename — concurrent readers always resolve a
    * complete snapshot, with no between-renames not-found instant — and
    * the PRE-compaction version remains time-travelable until [[vacuum]]
    * expires it. Cost rides only the merged dirs' bytes, so fragmented
    * histories compact incrementally: untouched dirs are carried into
    * the new manifest by reference. Returns the new version (or the
    * current one when there is nothing to merge).
    */
  def compactCommits(spark: SparkSession, tableDir: String, numFiles: Int,
      sortCols: org.apache.spark.sql.Column*): Int =
    compactCommits(spark, tableDir, numFiles, Int.MaxValue, sortCols: _*)

  def compactCommits(spark: SparkSession, tableDir: String, numFiles: Int,
      maxDirs: Int, sortCols: org.apache.spark.sql.Column*): Int = {
    val f = DataFiles.fs(spark, tableDir)
    val prev = latestVersion(spark, tableDir)
    require(prev > 0, s"no committed version under $tableDir")
    val live = liveDirs(spark, tableDir, prev)
    if (live.size <= 1) return prev
    val sized = live.map { d =>
      d -> f.getContentSummary(new Path(d)).getLength
    }.sortBy(_._2)
    val merge = sized.take(maxDirs).map(_._1)
    if (merge.size <= 1) return prev
    val keep = live.filterNot(merge.toSet)
    val next = prev + 1
    val dataDir = s"$tableDir/data/c${"%05d".format(next)}-compact"
    f.delete(new Path(dataDir), true) // orphan from a crashed prior run
    RangeSortedSink.write(Tables.read(spark, merge: _*), dataDir,
      numFiles, sortCols: _*)
    publish(f, tableDir, next, keep :+ dataDir)
    next
  }

  /** Read the table at `version` (default: latest). */
  def readAt(spark: SparkSession, tableDir: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, tableDir))
    Tables.read(spark, liveDirs(spark, tableDir, v): _*)
  }

  /** Row-level MERGE published as the next version — the UPDATE/UPSERT/
    * DELETE leg of the table's CRUD surface (INSERT = [[commit]],
    * position DELETE = [[DeletionVectors]], history = [[readAt]]):
    * `updates` rows replace same-key rows and insert new keys; merged
    * rows matching `delete` drop (a predicate, not a key list — a 100 TB
    * delete set never collects to the driver). One full-outer join on
    * the key (the q_upsert shape — at 100 TB this shuffles both sides on
    * the key, or prunes to touched partitions first), written as an
    * OVERWRITE commit so the merge is atomic and the pre-merge table
    * remains time-travelable. Column sets of the table and `updates`
    * must match.
    */
  def merge(spark: SparkSession, tableDir: String, updates: DataFrame,
      key: String, delete: Option[Column] = None): Int = {
    import org.apache.spark.sql.functions._
    val base = readAt(spark, tableDir)
    val cols = base.columns.toSeq
    require(updates.columns.toSeq.sorted == cols.sorted,
      s"updates schema ${updates.columns.toSeq} != table schema $cols")
    val u = updates.select(cols.map(c =>
      org.apache.spark.sql.functions.col(c).as(s"__u_$c")): _*)
    val merged = base
      .join(u, base(key) === u(s"__u_$key"), "full_outer")
      .select(cols.map(c =>
        coalesce(org.apache.spark.sql.functions.col(s"__u_$c"),
          org.apache.spark.sql.functions.col(c)).as(c)): _*)
    val kept = delete.fold(merged)(d => merged.filter(!d))
    commit(spark, tableDir, kept, overwrite = true)
  }

  /** Drop history: delete manifests below `keepFrom` and every data dir
    * no retained manifest references. Returns (manifests, dataDirs)
    * removed. Same caveat as every snapshot-expiry GC: an in-flight
    * reader that already resolved an expired version may still be
    * scanning its files.
    */
  def vacuum(spark: SparkSession, tableDir: String, keepFrom: Int): (Int, Int) = {
    val f = DataFiles.fs(spark, tableDir)
    val latest = latestVersion(spark, tableDir)
    require(keepFrom <= latest, s"keepFrom=$keepFrom > latest=$latest")
    val retained = (keepFrom to latest)
      .flatMap(v => liveDirs(spark, tableDir, v)).toSet
    var (nm, nd) = (0, 0)
    (1 until keepFrom).foreach { v =>
      val p = manifestPath(tableDir, v)
      if (f.exists(p)) { f.delete(p, false); nm += 1 }
    }
    val dataRoot = new Path(s"$tableDir/data")
    if (f.exists(dataRoot)) {
      f.listStatus(dataRoot).foreach { st =>
        val dir = st.getPath.toString
        if (!retained.exists(r => new Path(r).getName == st.getPath.getName)) {
          f.delete(st.getPath, true); nd += 1
        }
      }
    }
    (nm, nd)
  }
}
