package graft

import org.scalatest.funsuite.AnyFunSuite

import SourceScan.occurrences

/** One session posture: every main builds its session through
  * GraftSession.builder, so the core count, broadcast ceiling, AQE and
  * extensions cannot drift between the bench, the oracle dump and the
  * dev tools.
  */
class SessionPostureSpec extends AnyFunSuite {

  test("src/main builds a SparkSession in exactly one place: GraftSession.builder") {
    assert(occurrences("SparkSession.builder(") == Seq("GraftSession.scala"))
  }

  test("SPARK_GRAFT_CPUS is read in exactly one place: GraftSession") {
    assert(occurrences("\"SPARK_GRAFT_CPUS\"") == Seq("GraftSession.scala"))
  }
}
