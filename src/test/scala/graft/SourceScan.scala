package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source-text scans for the structural guard specs. */
object SourceScan {

  /** The file name of every match of `pattern` under `root`. */
  def occurrences(pattern: Regex, root: String = "src/main"): Seq[String] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { (p: Path) =>
        val n = pattern.findAllMatchIn(Files.readString(p)).size
        Seq.fill(n)(p.getFileName.toString)
      }

  /** The file name of every occurrence of `needle` under src/main. */
  def occurrences(needle: String): Seq[String] =
    occurrences(java.util.regex.Pattern.quote(needle).r)
}
