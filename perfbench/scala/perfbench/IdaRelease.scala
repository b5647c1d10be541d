package perfbench

import java.math.{BigDecimal => BD, MathContext, RoundingMode}

/** A generated ANATEL-shaped IDA release: one spreadsheet per (service,
  * year), SMP and STFC as `.ods`, SCM as a latin-1 TSV, with the shapes the
  * reference pipeline has to clean: metadata preambles, a header buried
  * below them (or at row 0), timestamp-formatted or plain month names,
  * pt-BR and multi-dot numbers, `ND`/`-`/empty markers, a blank and a
  * trailing metadata row inside the data, and exact duplicate rows.
  *
  * Every cell value is drawn as an exact count of cents, so the expected
  * consolidacao view is computed here in exact decimal arithmetic, without
  * the engine: [[expectedView]].
  */
object IdaRelease {
  val Ida = "Indicador de Desempenho no Atendimento (IDA)"
  val Groups: Seq[String] =
    Seq("ALGAR", "CLARO", "NEXTEL", "OI", "SERCOMTEL", "SKY", "TIM", "VIVO")
  private val OtherVariables: Seq[String] = Seq(
    "Taxa de Resolvidas em 5 dias úteis", "Quantidade de Solicitações",
    "Quantidade de Reclamações", "Taxa de Reabertas", "Taxa de Respondidas",
    "Quantidade de Acessos em Serviço", "Taxa de Reclamações no Período",
    "Quantidade de Reclamações Reabertas", "Taxa de Resolvidas no Prazo",
    "Quantidade de Atendimentos", "Taxa de Satisfação", "Quantidade de Usuários",
    "Taxa de Cancelamentos", "Quantidade de Pedidos de Informação",
    "Taxa de Resolvidas em 10 dias úteis", "Quantidade de Ouvidorias",
    "Taxa de Retorno", "Quantidade de Recursos")
  val Services: Seq[String] = Seq("SMP", "STFC", "SCM")

  /** One long cell after unpivot: `cents` is the parsed value (None for an
    * invalid marker or empty cell).
    */
  final case class Cell(group: String, variable: String, month: String, servico: String,
      raw: String, cents: Option[Long])

  final case class SourceFile(name: String, servico: String, ods: Boolean, rows: Seq[Seq[String]])

  final case class Release(files: Seq[SourceFile], cells: Seq[Cell]) {
    /** Long rows the engine unions before its whole-row distinct. */
    def longRows: Int = cells.size
    def distinctRows: Int = cells.distinct.size
  }

  /** Sizes of one release. */
  final case class Shape(years: Int, groups: Int, variables: Int, dupRows: Int)

  def generate(seed: Long, op: Long, shape: Shape): Release = {
    val rng = new scala.util.Random(seed * 1000003L + op)
    val groups = Groups.take(shape.groups)
    val variables = Ida +: OtherVariables.take(shape.variables - 1)
    val files = Seq.newBuilder[SourceFile]
    val cells = Seq.newBuilder[Cell]
    // The layout of every file (header style, preamble) is fixed by its
    // position, so every release has the same plan shapes; the seed picks
    // the cell values, duplicate rows and row order.
    for (((servico, y), i) <- Services.flatMap(s => (0 until shape.years).map(s -> _)).zipWithIndex) {
      val year = 2015 + y
      val months = (1 to 12).map(m => f"$year%04d-$m%02d")
      val timestampHeader = i % 2 == 0
      val header = Seq("GRUPO ECONÔMICO", "VARIAVEL") ++
        (if (timestampHeader) months.map(_ + "-01 00:00:00") else months)
      val width = header.size
      def pad(r: Seq[String]): Seq[String] = r ++ Seq.fill(width - r.size)(null)
      val data = for (g <- groups; v <- variables) yield {
        val level = if (v == Ida) 40 + rng.nextInt(60) else 10 + rng.nextInt(5000)
        val vals = months.map(m => value(rng, level))
        (Seq(g, v) ++ vals.map(_._1),
          months.zip(vals).map { case (m, (raw, cents)) => Cell(g, v, m, servico, raw, cents) })
      }
      val dups = Seq.fill(shape.dupRows)(data(rng.nextInt(data.size)))
      (data ++ dups).foreach(d => cells ++= d._2)
      val body = rng.shuffle((data ++ dups).map(_._1))
      val ods = servico != "SCM"
      val preamble =
        if (!ods) Seq(pad(Seq(s"SERVIÇO: $servico", s"PERÍODO: $year", "FONTE: ANATEL")))
        else if (i % 2 == 0) Seq(
          pad(Seq("ÍNDICE DE DESEMPENHO NO ATENDIMENTO (IDA)")),
          pad(Seq(s"SERVIÇO: $servico", s"PERÍODO: $year", "FONTE: ANATEL")),
          pad(Nil))
        else Nil
      val (before, after) = body.splitAt(body.size / 2)
      val rows = preamble ++ Seq(header) ++ before ++ Seq(pad(Nil)) ++ after ++
        Seq(pad(Seq("PARA MAIORES INFORMAÇÕES, ACESSE WWW.ANATEL.GOV.BR")))
      files += SourceFile(
        f"${servico.toLowerCase}_$year%04d.${if (ods) "ods" else "tsv"}", servico, ods, rows)
    }
    Release(files.result(), cells.result())
  }

  /** One cell: a raw string in one of the spreadsheet number formats and
    * its parsed value in cents (the locale parse the pipeline applies).
    */
  private def value(rng: scala.util.Random, level: Int): (String, Option[Long]) = {
    val p = rng.nextDouble()
    if (p < 0.04) return (Seq("ND", "-", "", null)(rng.nextInt(4)), None)
    if (p < 0.05) return ("0,00", Some(0L))
    val cents = math.max(1L, (level * 100L * (0.8 + 0.4 * rng.nextDouble())).toLong)
    val (whole, frac) = (cents / 100, cents % 100)
    val f2 = f"$frac%02d"
    rng.nextInt(5) match {
      case 0 if whole >= 1000 => // thousands dot + decimal comma
        (f"${whole / 1000}%d.${whole % 1000}%03d,$f2", Some(cents))
      case 1 if whole >= 1000 && frac != 0 => // lossy multi-dot: digits concat
        (f"${whole / 1000}%d.${whole % 1000}%03d.$f2", Some(cents * 100))
      case 2 => (s"$whole.$f2", Some(cents))
      case 3 if frac == 0 => (s"$whole", Some(cents))
      case _ => (s"$whole,$f2", Some(cents))
    }
  }

  /** Bytes of the TSV files: latin-1, tab-separated, null cells empty. */
  def tsvBytes(f: SourceFile): Array[Byte] =
    f.rows.map(_.map(c => Option(c).getOrElse("")).mkString("\t")).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  /** A view cell: null, or a 1-decimal value known to lie in
    * [lo, hi] tenths. lo < hi only where the exact pre-rounding value sits
    * on (or within 1e-9 of) a rounding tie, where float summation order
    * may legitimately round either way.
    */
  final case class Tenths(lo: Long, hi: Long)
  final case class ViewRow(month: String, cells: Seq[Option[Tenths]])
  final case class View(columns: Seq[String], rows: Seq[ViewRow])

  private val MC = new MathContext(40)
  private val Eps = new BD("1e-9")
  private val Half = new BD("0.5")

  private def tenths(x: BD): Tenths = Tenths(
    x.subtract(Half).subtract(Eps).setScale(0, RoundingMode.CEILING).longValueExact,
    x.add(Half).add(Eps).setScale(0, RoundingMode.FLOOR).longValueExact)

  /** The consolidacao view over the release (MetricsView.overIda
    * semantics): whole-row distinct, IDA rows only, monthly average per
    * group, LAG month-over-month % change rounded to 1 decimal (rows with a
    * null or zero previous value dropped), then per month the rounded
    * average and one pivot column per group (missing → 0.0), keeping
    * months with at least two groups.
    */
  def expectedView(r: Release): View = {
    val ida = r.cells.distinct.filter(_.variable == Ida)
    val groups = ida.map(_.group).distinct.sorted
    val monthly: Map[String, Seq[(String, Option[BD])]] =
      ida.groupBy(c => (c.group, c.month)).toSeq.map { case ((g, m), cs) =>
        val vs = cs.flatMap(_.cents)
        g -> (m -> (if (vs.isEmpty) None
          else Some(new BD(vs.sum).divide(new BD(100L * vs.size), MC))))
      }.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).sortBy(_._1) }
    // (month, group) -> taxa interval (None = null taxa on a kept row)
    val taxa: Seq[(String, String, Option[Tenths])] = monthly.toSeq.flatMap { case (g, series) =>
      series.zip(series.drop(1)).collect {
        case ((_, Some(prev)), (m, cur)) if prev.signum != 0 =>
          (m, g, cur.map(c => tenths(c.subtract(prev).divide(prev, MC).multiply(new BD(1000)))))
      }
    }
    val rows = taxa.groupBy(_._1).toSeq.filter(_._2.map(_._2).distinct.size >= 2).map {
      case (m, ts) =>
        val vals = ts.flatMap(_._3)
        val avg =
          if (vals.isEmpty) None
          else {
            val n = new BD(vals.size)
            val lo = new BD(vals.map(_.lo).sum).divide(n, MC)
            val hi = new BD(vals.map(_.hi).sum).divide(n, MC)
            Some(Tenths(tenths(lo).lo, tenths(hi).hi))
          }
        val byGroup = ts.map(t => t._2 -> t._3).toMap
        ViewRow(m, avg +: groups.map(g => Some(byGroup.get(g).flatten.getOrElse(Tenths(0, 0)))))
    }.sortBy(_.month)(Ordering[String].reverse)
    View(Seq("mes_referencia", "taxa_variacao_media") ++ groups.map("taxa_" + _), rows)
  }

  /** Compares the engine's collected view against [[expectedView]];
    * returns the row count.
    */
  def compare(columns: Seq[String], rows: Seq[org.apache.spark.sql.Row], want: View): Int = {
    if (columns != want.columns)
      throw new Check.Mismatch(s"columns differ: got $columns want ${want.columns}")
    if (rows.size != want.rows.size)
      throw new Check.Mismatch(s"row count differs: got ${rows.size} want ${want.rows.size}")
    rows.zip(want.rows).foreach { case (got, exp) =>
      val month = got.getDate(0).toLocalDate.toString.take(7)
      if (month != exp.month)
        throw new Check.Mismatch(s"month differs: got $month want ${exp.month}")
      exp.cells.zipWithIndex.foreach { case (cell, i) =>
        val v = got.get(i + 1)
        val ok = (v, cell) match {
          case (null, None) => true
          case (d: java.lang.Double, Some(t)) =>
            val x = d * 10
            val n = math.round(x)
            math.abs(x - n) < 1e-6 && n >= t.lo && n <= t.hi
          case _ => false
        }
        if (!ok) throw new Check.Mismatch(
          s"$month ${columns(i + 1)}: got $v want ${cell.map(t => s"[${t.lo / 10.0}, ${t.hi / 10.0}]")}")
      }
    }
    rows.size
  }
}
