package graft

/** Generates the user-facing operator index (OPERATORS.md) straight from
  * [[Catalog.packs]], so the published surface can never drift from the
  * code: OperatorIndexSpec asserts the checked-in file equals [[render]].
  * Regenerate with `sbt "runMain graft.OperatorIndex"`.
  */
object OperatorIndex {

  private def oracleMark(q: QueryDef): String =
    if (q.oracle.isDefined) "oracle" else "rows-only"

  def render: String = {
    val sb = new StringBuilder
    val total = Catalog.all.size
    val oracled = Catalog.all.values.count(_.oracle.isDefined)
    sb ++= "# Operator index\n\n"
    sb ++= "One line per query in the engine's driver-checked surface — what it\n"
    sb ++= "computes and whether the driver gate hash-compares it against a DuckDB\n"
    sb ++= "oracle (`oracle`) or checks rows only (`rows-only`, used where the\n"
    sb ++= "semantics aren't ANSI-SQL-expressible). GENERATED from `Catalog.packs`\n"
    sb ++= "by `graft.OperatorIndex` — edit query docs in the packs, not here.\n\n"
    sb ++= s"$total queries, $oracled DuckDB-oracle-checked.\n\n"
    sb ++= "The flagship query (`SparkEntry.entry`) is `metrics_view`, listed under RefPipelinePack.\n\n"
    Catalog.packs.foreach { pack =>
      sb ++= s"## ${pack.name} (${pack.queries.size})\n\n"
      sb ++= "| query | check | what it computes |\n|---|---|---|\n"
      pack.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
        sb ++= s"| `$name` | ${oracleMark(q)} | ${q.doc} |\n"
      }
      sb ++= "\n"
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("OPERATORS.md")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), render)
    println(s"wrote $out")
  }
}
