package graft.io

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The checked swap must never leave a state where both copies of a
  * directory are gone: failures abort with the previous content intact,
  * leftover `.old` dirs from crashed runs are recovered or cleared, and
  * a successful swap removes the old copy only after the new one is
  * verified in place.
  */
class DirSwapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)

  private def mkDir(root: String, name: String, marker: String): Path = {
    val p = new Path(s"$root/$name")
    fs.mkdirs(p)
    val out = fs.create(new Path(p, marker))
    out.close()
    p
  }
  private def has(p: Path, marker: String): Boolean = fs.exists(new Path(p, marker))

  test("swapInto replaces dest and deletes old only after success") {
    val root = java.nio.file.Files.createTempDirectory("dirswap").toString
    val dest = mkDir(root, "t", "v1")
    val tmp = mkDir(root, "t.tmp", "v2")
    DirSwap.swapInto(fs, tmp, dest)
    assert(has(dest, "v2") && !has(dest, "v1"))
    assert(!fs.exists(new Path(s"$root/t.swap-old")), "old copy must be cleaned up")
  }

  test("leftover .old beside a live dest is superseded garbage and is cleared") {
    val root = java.nio.file.Files.createTempDirectory("dirswap").toString
    val dest = mkDir(root, "t", "v1")
    mkDir(root, "t.swap-old", "v0") // crashed prior run, already superseded
    val tmp = mkDir(root, "t.tmp", "v2")
    DirSwap.swapInto(fs, tmp, dest)
    assert(has(dest, "v2"))
    assert(!fs.exists(new Path(s"$root/t.swap-old")))
  }

  test("a crash between the two renames is recoverable: .old holds the only copy") {
    val root = java.nio.file.Files.createTempDirectory("dirswap").toString
    // simulate: dest was renamed away, then the process died
    mkDir(root, "t.swap-old", "v1")
    val dest = new Path(s"$root/t")
    assert(DirSwap.recoverInterrupted(fs, dest))
    assert(has(dest, "v1"), "recovery must restore the old content")
    assert(!DirSwap.recoverInterrupted(fs, dest), "recovery is idempotent")
  }

  test("swapInto with the same interrupted state recovers dest before swapping") {
    val root = java.nio.file.Files.createTempDirectory("dirswap").toString
    mkDir(root, "t.swap-old", "v1") // interrupted prior swap, no dest
    val tmp = mkDir(root, "t.tmp", "v2")
    val dest = new Path(s"$root/t")
    DirSwap.swapInto(fs, tmp, dest)
    assert(has(dest, "v2"))
  }

  test("renameOrFail surfaces rename failure instead of returning false") {
    val root = java.nio.file.Files.createTempDirectory("dirswap").toString
    val missing = new Path(s"$root/nope")
    intercept[java.io.IOException] {
      DirSwap.renameOrFail(fs, missing, new Path(s"$root/dst"))
    }
  }
}
