package graft

import org.scalatest.funsuite.AnyFunSuite

import SourceScan.occurrences

/** One row-position primitive: every global row position in graft.ops
  * (row index, sequential id, running total) comes from
  * ops.RowPositions, whose offsets and rows come from one execution, so
  * no second copy can count one execution and number another.
  */
class RowPositionSpec extends AnyFunSuite {
  private val ops = "src/main/scala/graft/ops"

  test("graft.ops makes no RDD[Row] round trip through createDataFrame") {
    assert(occurrences("""\.rdd\b""".r, ops).isEmpty)
    assert(occurrences("""createDataFrame\(""".r, ops).isEmpty)
  }

  test("graft.ops maps partitions only in RowPositions") {
    assert(occurrences("""mapPartitions""".r, ops).distinct == Seq("RowPositions.scala"))
    assert(occurrences("""mapPartitionsWithIndex""".r, ops) == Seq("RowPositions.scala"))
  }
}
