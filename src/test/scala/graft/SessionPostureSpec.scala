package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session posture: every main builds its session through
  * GraftSession.builder, so the core count, broadcast ceiling, AQE and
  * extensions cannot drift between the bench, the oracle dump and the
  * dev tools.
  */
class SessionPostureSpec extends AnyFunSuite {

  /** The file name of every occurrence of `needle` under src/main. */
  private def occurrences(needle: String): Seq[String] = {
    val pattern = java.util.regex.Pattern.quote(needle).r
    Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { (p: Path) =>
        val n = pattern.findAllMatchIn(Files.readString(p)).size
        Seq.fill(n)(p.getFileName.toString)
      }
  }

  test("src/main builds a SparkSession in exactly one place: GraftSession.builder") {
    assert(occurrences("SparkSession.builder(") == Seq("GraftSession.scala"))
  }

  test("SPARK_GRAFT_CPUS is read in exactly one place: GraftSession") {
    assert(occurrences("\"SPARK_GRAFT_CPUS\"") == Seq("GraftSession.scala"))
  }
}
