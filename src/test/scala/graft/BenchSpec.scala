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

  test("a failing query is named in the full line and counted in the summary line") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF()
    val boom: (SparkSession, String) => DataFrame = (_, _) => throw new IllegalStateException("x")
    val saved = System.err
    System.setErr(new PrintStream(new ByteArrayOutputStream, true, "UTF-8"))
    val times =
      try Bench.timeQueries(TestSpark.spark, "unused", Seq("boom" -> boom, "ok" -> ok))
      finally System.setErr(saved)
    assert(times.map(t => (t._1, t._3)) == Seq("boom" -> true, "ok" -> false))
    val (line, summary) = Bench.jsonLines(times, 1.0, 2.0, "0.1")
    def keys(json: String) = "\"([a-z_]+)\":".r.findAllMatchIn(json).map(_.group(1)).toSeq
    assert(line.contains("\"failed\":[\"boom\"]"))
    assert(keys(line).filterNot(Set("boom", "ok")) == Seq("queries", "failed",
      "calib_sec", "calib_mt_sec", "metric", "value", "unit", "sf"))
    assert(summary.endsWith("\"n_queries\":2,\"n_failed\":1}"))
    assert(keys(summary) == Seq("metric", "value", "unit", "sf",
      "calib_sec", "calib_mt_sec", "n_queries", "n_failed"))
    val (clean, cleanSummary) = Bench.jsonLines(times.filter(_._1 == "ok"), 1.0, 2.0, "0.1")
    assert(clean.contains("\"failed\":[]") && cleanSummary.contains("\"n_failed\":0"))
  }
}
