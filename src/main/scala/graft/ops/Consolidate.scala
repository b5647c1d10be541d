package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.LongType

/** Consolidation stage (SURVEY.md §2.7 U1, §2.4 A5, §2.5 W2, §2.8 F7/F8):
  * union of heterogeneous per-file frames, whole-row dedup, canonical
  * renames, and the sequential 1..N id (/root/reference/main.py:644-704,
  * connect_postgre.py:199-205).
  */
object Consolidate {

  /** pd.concat(ignore_index=True) parity (main.py:644): aligns by NAME and
    * null-fills missing columns — `unionByName(allowMissingColumns=true)`,
    * NOT positional `union` (SURVEY.md §2.7).
    */
  def unionAll(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionAll of zero frames")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Whole-row distinct (main.py:647). */
  def distinctRows(df: DataFrame): DataFrame = df.dropDuplicates()

  /** Contiguous 1..N id in a caller-chosen canonical order (main.py:696),
    * selected first.
    *
    * Scale design (SURVEY.md §7.4 #2): `sort` range-partitions, then
    * [[RowPositions]] numbers the sorted rows with per-partition offsets
    * counted in the same execution that yields them, so the range bounds
    * are sampled once and the ids follow the sort order exactly, over
    * any input: the sort's shuffle lies below the numbering. No
    * single-partition window. The reference's id order is its
    * nondeterministic concat order; our contract requires an explicit sort.
    * For small-data oracle parity, `row_number` over a global window is the
    * documented alternative (queries.WindowPack.q_seq_id).
    */
  def withSequentialId(df: DataFrame, sortCols: Seq[Column], idCol: String = "id"): DataFrame =
    RowPositions.append(df.sort(sortCols: _*), idCol, base = 1L)
      .select((idCol +: df.columns).map(Reshape.cell): _*)

  /** [[withSequentialId]] generalized to a MEASURE: appends the global
    * rank `idCol` (1..N in the sort order) and the inclusive running sum
    * `runCol` of `valueCol` — the distributed prefix sum. `sort`
    * range-partitions and [[RowPositions]] carries each partition's
    * partial sum beside its row count in its one stats job (|partitions|
    * rows, driver-cheap at any scale; none on one partition), then adds
    * the exclusive prefixes in one pass over the same sorted rows. NO
    * single-partition window anywhere: an unpartitioned
    * `sum(...).over(Window.orderBy(...))` funnels the whole input
    * through one task, which is exactly the hazard this replaces
    * (running totals over hundreds of millions of ranked rows at 100 TB).
    *
    * `valueCol` must be LongType (exact associative partial sums; use
    * integer cents, not doubles, for money); a null adds 0.
    */
  def withRunningTotal(
      df: DataFrame, sortCols: Seq[Column], valueCol: String,
      idCol: String = "rk", runCol: String = "run"): DataFrame = {
    val sorted = df.sort(sortCols: _*)
    val vIdx = sorted.schema.fieldIndex(valueCol)
    require(sorted.schema(vIdx).dataType == LongType,
      s"withRunningTotal needs a LongType measure; '$valueCol' is " +
        sorted.schema(vIdx).dataType.sql)
    RowPositions.append(sorted, idCol, base = 1L, sumOf = Some((vIdx, runCol)))
  }

  /** Canonical output renames (main.py:672-692). */
  val CanonicalRenames: Map[String, String] = Map(
    "GRUPO_ECONOMICO" -> "grupo_economico",
    "GRUPO ECONÔMICO" -> "grupo_economico",
    "VARIAVEL" -> "servico",
    "REFERENCIA_MES" -> "mes_referencia",
    "VALOR" -> "valor",
    "SERVICO" -> "tipo_servico")

  /** Positional toDF, not withColumnsRenamed: renaming VARIAVEL→servico
    * while SERVICO still exists would trip Spark's case-insensitive
    * ambiguous-reference check mid-rename.
    */
  def renameCanonical(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(c => CanonicalRenames.getOrElse(c, c)): _*)

  /** Preferred column order with extras appended (main.py:698-704). */
  def reorder(df: DataFrame, preferred: Seq[String]): DataFrame = {
    val first = preferred.filter(df.columns.contains)
    val rest = df.columns.filterNot(first.contains)
    df.select((first ++ rest).map(df.col): _*)
  }
}
