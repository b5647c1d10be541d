package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The engine's one rule for which files of a directory are data, and
  * its one Hadoop `FileSystem` lookup.
  *
  * The rule is Spark's own listing filter, applied RELATIVE TO EACH READ
  * ROOT: below the root, a `_*` name (except a `_k=v` partition dir), a
  * `.*` name or an in-flight `*._COPYING_` name is not data, and neither
  * is anything under it. The components of the root itself are never
  * tested, so a table under a hidden ancestor (`/work/.build/t`) lists
  * the same files as one under a visible one. Globs in a root are
  * expanded; directories are walked recursively.
  */
object DataFiles {

  /** The `FileSystem` that holds `path` (the default one for a path
    * without a scheme).
    */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether `path` exists: one metadata call, no listing. */
  def exists(spark: SparkSession, path: String): Boolean = fs(spark, path).exists(new Path(path))

  /** Every data file under `paths` (see the object doc); a missing path
    * lists nothing.
    */
  def list(spark: SparkSession, paths: String*): Seq[FileStatus] =
    paths.flatMap(roots(spark, _)).flatMap { case (f, root) => files(f, root) }

  /** Fingerprint of the data files under `dir`: an MD5 over the
    * root-relative path, length and modification time of each. Relative
    * paths make it independent of where `dir` sits, so a directory
    * renamed whole (a swap's retired copy) keeps its version.
    */
  def version(spark: SparkSession, dir: String): String = {
    val lines = roots(spark, dir).flatMap { case (f, root) =>
      val base = root.getPath.toUri.getPath
      files(f, root).map(st =>
        s"${st.getPath.toUri.getPath.stripPrefix(base)}|${st.getLen}|${st.getModificationTime}")
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.sorted.foreach(l => md.update(l.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The read roots `p` names: its glob matches, each with its FileSystem. */
  private def roots(spark: SparkSession, p: String): Seq[(FileSystem, FileStatus)] = {
    val f = fs(spark, p)
    Option(f.globStatus(new Path(p))).toSeq.flatten.map(f -> _)
  }

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def files(f: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else f.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName))
      .flatMap(files(f, _))
}
