package graft

import org.scalatest.funsuite.AnyFunSuite

import SourceScan.occurrences

/** One directory protocol: which listed files are data, which
  * `FileSystem` holds a path, and how a state directory is replaced are
  * each decided in one place in src/main (`graft.io.DataFiles` and
  * `graft.io.DirSwap`), so the hidden-file rule and crash recovery cannot
  * drift apart between callers.
  */
class DirectoryProtocolSpec extends AnyFunSuite {

  test("the hidden-name test on listed names occurs only in DataFiles") {
    assert(occurrences("""startsWith\("[_.]"\)""".r).distinct == Seq("DataFiles.scala"))
  }

  test("FileSystem lookups occur only in DataFiles and the Avro reader") {
    assert(occurrences("""FileSystem\.get\(|getFileSystem\(""".r).distinct.sorted ==
      Seq("AvroDataSource.scala", "DataFiles.scala"))
  }

  test("swapInto is called only from DirSwap.replace and StandingIndex's guarded swap") {
    assert(occurrences("""(?<!def )\bswapInto\(""".r).sorted ==
      Seq("DirSwap.scala", "StandingIndex.scala"))
  }
}
