package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** A query that throws must not pass silently as a fast query: the bench
  * protocol names it and its root cause on stderr.
  */
class BenchSpec extends AnyFunSuite {

  test("timeQueries reports a failing query with its root cause on stderr") {
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new RuntimeException("wrapper", new IllegalStateException("inner"))
    val err = new ByteArrayOutputStream
    val saved = System.err
    System.setErr(new PrintStream(err, true, "UTF-8"))
    val times =
      try Bench.timeQueries(TestSpark.spark, "unused", Seq("boom" -> boom))
      finally System.setErr(saved)
    assert(times.map(_._1) == Seq("boom"))
    assert(err.toString("UTF-8").contains(
      "[bench] boom failed: java.lang.IllegalStateException: inner"))
  }
}
