package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Header-in-data handling and wide→long reshaping (SURVEY.md §2.2 P2-P5,
  * §2.8 F3, §2.9 R1/R3): the reference's messy-spreadsheet cleaning
  * (/root/reference/main.py:202-257, 398-428, 482-518) re-expressed on
  * DataFrames.
  *
  * Row order: spreadsheet semantics need file order, which Spark does not
  * guarantee after shuffles — so the first step stamps an explicit row index
  * ([[withRowIndex]], contiguous in partition order; file order for a
  * single-file narrow read) and everything downstream keys off that column,
  * never off physical order.
  */
object Reshape {

  /** Contiguous 0-based row index in partition order (file order for a
    * freshly-read single file), from [[RowPositions]]: the counts and the
    * rows come from one execution of `df`, so the index is exactly
    * 0..n-1 over any shuffle below it. One count job on more than one
    * partition, none on one. The index is taken before any later filter
    * drops a row: the indexed frame is a scan of those rows, and no
    * predicate moves below it. An input that is nondeterministic without
    * a shuffle (a `rand()` over a scan) is recomputed for the rows, as
    * under `zipWithIndex`.
    */
  def withRowIndex(df: DataFrame, idxCol: String = "_row_idx"): DataFrame =
    RowPositions.append(df, idxCol, base = 0L)

  /** A column by its exact name: a promoted header is spreadsheet text,
    * so a name such as "15.00" must not parse as a nested field.
    */
  private[ops] def quoted(name: String): String = "`" + name.replace("`", "``") + "`"
  private[ops] def cell(name: String): Column = col(quoted(name))

  /** The first row whose concatenated cells contain any marker
    * (case-insensitive) — the reference's header scan (main.py:202-218) —
    * as its row index and its data cells. One action (a top-1 by index
    * over the matching rows), so the caller can promote the header
    * without reading the file again. None when no row matches.
    */
  def findHeaderRow(
      df: DataFrame,
      markers: Seq[String] = Seq("GRUPO ECONÔMICO", "GRUPO_ECON"),
      idxCol: String = "_row_idx"): Option[(Long, Seq[Any])] = {
    val dataCols = df.columns.filter(_ != idxCol)
    val concat = upper(concat_ws(" ", dataCols.map(c => coalesce(cell(c).cast("string"), lit(""))): _*))
    val pred = markers.map(m => concat.contains(m.toUpperCase)).reduce(_ || _)
    df.filter(pred)
      .orderBy(col(idxCol))
      .limit(1)
      .select(col(idxCol) +: dataCols.map(cell): _*)
      .collect()
      .headOption
      .map(r => (r.getLong(0), r.toSeq.tail))
  }

  /** Promote row `headerIdx` to column names and keep only later rows
    * (main.py:229-237). The header row itself (one row) is collected.
    * Null/blank header cells become _c&lt;i&gt;; duplicates are suffixed.
    */
  def promoteHeader(df: DataFrame, headerIdx: Long, idxCol: String = "_row_idx"): DataFrame = {
    val dataCols = df.columns.filter(_ != idxCol)
    val cells = df.filter(col(idxCol) === headerIdx).select(dataCols.map(cell): _*).collect()(0).toSeq
    promoteCells(df, headerIdx, cells, idxCol)
  }

  /** [[promoteHeader]] with the header cells already in hand (from
    * [[findHeaderRow]]): no action.
    */
  private[ops] def promoteCells(
      df: DataFrame, headerIdx: Long, cells: Seq[Any], idxCol: String = "_row_idx"): DataFrame = {
    val dataCols = df.columns.filter(_ != idxCol)
    val raw = cells.map(v => Option(v).map(_.toString.trim).getOrElse(""))
    val named = raw.zipWithIndex.map { case (n, i) => if (n.isEmpty) s"_c$i" else n }
    val deduped = named.zipWithIndex.map { case (n, i) =>
      if (named.indexOf(n) == i) n else s"${n}_$i"
    }
    df.filter(col(idxCol) > headerIdx)
      .select(dataCols.map(cell) :+ col(idxCol): _*)
      .toDF(deduped :+ idxCol: _*)
  }

  /** Reference metadata markers (main.py:240-251). */
  val MetadataMarkers: Seq[String] = Seq(
    "SERVIÇO:", "PERÍODO:", "FONTE:", "PARA MAIORES INFORMAÇÕES",
    "ÍNDICE DE DESEMPENHO NO ATENDIMENTO", "ANATEL")

  /** Drop rows where ANY column contains ANY marker, case-insensitive
    * (main.py:240-251) — pure Catalyst predicates, no UDF.
    *
    * The markers are tested against ONE string per row: the upper-cased
    * cells joined by NUL, so the filter holds one `contains` per marker
    * instead of one per (column, marker) pair. That is exact, not an
    * approximation: `upper` maps each character on its own, so the
    * upper-cased join is the join of the upper-cased cells, and a marker
    * holds no NUL (none of the reference's does), so no match can straddle
    * two cells. The predicate is
    * written as a conjunction of negations, leaving BooleanSimplification
    * no NOT to push down one optimizer pass at a time.
    */
  def dropMetadataRows(
      df: DataFrame,
      markers: Seq[String] = MetadataMarkers,
      idxCol: String = "_row_idx"): DataFrame = {
    val dataCols = df.columns.filter(_ != idxCol)
    val row = upper(concat_ws("\u0000", dataCols.map(c => coalesce(cell(c).cast("string"), lit(""))): _*))
    df.filter(markers.map(m => !row.contains(m.toUpperCase)).reduce(_ && _))
  }

  /** dropna(how='all') on the data columns (main.py:254). */
  def dropAllNullRows(df: DataFrame, idxCol: String = "_row_idx"): DataFrame = {
    val dataCols = df.columns.filter(_ != idxCol)
    df.na.drop("all", dataCols.map(quoted))
  }

  /** Normalize month column NAMES: 'YYYY-MM-DD HH:MM:SS' → 'YYYY-MM';
    * 'YYYY-MM' kept (main.py:398-428). Driver-side — names are metadata.
    */
  def normalizeDateColumnNames(df: DataFrame): DataFrame = {
    val Timestamped = "^(\\d{4})-(\\d{2})-\\d{2}[ T].*$".r
    val renames = df.columns.collect {
      case c @ Timestamped(y, m) => c -> s"$y-$m"
    }.toMap
    if (renames.isEmpty) df else df.withColumnsRenamed(renames)
  }

  /** Reference id-column candidates for the melt (main.py:494-499). */
  val IdColumns: Seq[String] = Seq("GRUPO_ECONOMICO", "GRUPO ECONÔMICO", "VARIAVEL", "OPERADORA")
  private val MonthCol = "^\\d{4}-\\d{2}$"

  /** Wide→long unpivot of all 'YYYY-MM' columns (main.py:482-518, Spark 4
    * `Dataset.unpivot`). Fallback parity (main.py:505-508): when either the
    * id side or the value side is empty the frame is returned unchanged —
    * the caller tags and unions it like the reference does.
    */
  def unpivotMonths(
      df: DataFrame,
      varName: String = "REFERENCIA_MES",
      valName: String = "VALOR",
      idxCol: String = "_row_idx"): DataFrame = {
    val ids = df.columns.filter(c => IdColumns.contains(c))
    val values = df.columns.filter(_.matches(MonthCol))
    if (ids.isEmpty || values.isEmpty) df
    else df.unpivot(ids.map(col), values.map(col), varName, valName)
  }

  /** Constant source-tag column (main.py:507, 528, 589). */
  def withServiceTag(df: DataFrame, servico: String, colName: String = "SERVICO"): DataFrame =
    df.withColumn(colName, lit(servico))
}
