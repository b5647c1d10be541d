package graft

import org.scalatest.funsuite.AnyFunSuite

import SourceScan.occurrences

/** One schema-less parquet read path: every `read.parquet(` in src/main
  * goes through Tables' schema map, so no read re-infers a footer that
  * the map already holds. Reads that name their own schema
  * (`read.schema(s).parquet(`) are not schema-less and stay where they are.
  */
class ReadPathSpec extends AnyFunSuite {

  test("src/main reads parquet without a schema only inside Tables") {
    assert(occurrences("read.parquet(").distinct == Seq("Tables.scala"))
  }
}
