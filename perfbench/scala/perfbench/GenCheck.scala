package perfbench

/** Self-test of the IDA release generator: the same (seed, operation)
  * gives identical releases (cell values, spreadsheet rows and TSV bytes)
  * and a different seed gives a different one. Prints "ok" or the failure.
  *
  * Usage: perfbench.GenCheck
  */
object GenCheck {
  def main(args: Array[String]): Unit = {
    val shape = IdaRelease.Shape(years = 1, groups = 4, variables = 3, dupRows = 1)
    val a = IdaRelease.generate(11, 0, shape)
    val b = IdaRelease.generate(11, 0, shape)
    val c = IdaRelease.generate(12, 0, shape)
    def tsv(r: IdaRelease.Release) = r.files.filterNot(_.ods).map(f => IdaRelease.tsvBytes(f).toSeq)
    val problems = Seq(
      (a.cells != b.cells || a.files != b.files || tsv(a) != tsv(b)) -> "same seed gave different releases",
      (a.cells == c.cells) -> "different seeds gave the same release").collect { case (true, m) => m }
    println(if (problems.isEmpty) "ok" else problems.mkString("; "))
    if (problems.nonEmpty) sys.exit(1)
  }
}
