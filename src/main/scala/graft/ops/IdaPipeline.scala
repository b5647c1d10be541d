package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.fn.{CleanValues, LocaleNumber}

/** The reference's full extract/transform pipeline
  * (/root/reference/main.py:372-704) as one composable flow over raw
  * all-string frames (from OdsReader / CsvEncodingReader):
  *
  * per file: row-index → header locate+promote → metadata-row drop →
  * all-null-row drop → trailing-zero cell trim → date-column-name
  * normalize → unpivot months → service tag;
  * consolidated: unionByName → distinct → locale-parse VALOR → month
  * parse → canonical renames → sequential id → column order.
  */
object IdaPipeline {

  /** One raw file → cleaned long frame. `servico` tags the source file's
    * service (main.py:507, 528).
    */
  def cleanFile(raw: DataFrame, servico: String): DataFrame = {
    val indexed = Reshape.withRowIndex(raw)
    val (headerIdx, headerCells) = Reshape.findHeaderRow(indexed).getOrElse(
      throw new IllegalArgumentException("no header row found"))
    val table = Reshape.dropAllNullRows(
      Reshape.dropMetadataRows(
        Reshape.promoteCells(indexed, headerIdx, headerCells)))
    val trimmed = trimDecimalCells(table.drop("_row_idx"))
    val normalized = Reshape.normalizeDateColumnNames(trimmed)
    Reshape.withServiceTag(Reshape.unpivotMonths(normalized), servico)
  }

  /** Trailing-zero trim on every non-id column (main.py:431-479 applies
    * it to all value cells; id columns are text anyway so the dotted-
    * decimal guard makes it a no-op there).
    */
  def trimDecimalCells(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => CleanValues.trimTrailingZeros(col(c)).as(c)): _*)

  /** Consolidate cleaned per-file frames into the canonical typed output
    * (main.py:644-704 + the load-stage coercions).
    *
    * The `VALOR` chain parse → trim → parse → cast is staged: one
    * projection per step, each reading the column the step before wrote.
    * Every step refers to its input several times, so the same chain
    * written as one nested Column expands to hundreds of regex nodes per
    * row (each copy of the inner step evaluated again). Catalyst's
    * CollapseProject does not inline a non-trivial expression into a
    * projection that refers to it more than once, so the stages survive
    * optimization and each step runs once per row.
    */
  def consolidate(frames: Seq[DataFrame]): DataFrame = {
    val unioned = Consolidate.distinctRows(Consolidate.unionAll(frames))
    val parsed = unioned
      .withColumn("VALOR", LocaleNumber.parse(col("VALOR")))
      .withColumn("VALOR", CleanValues.trimTrailingZeros(col("VALOR")))
      .withColumn("VALOR", LocaleNumber.parseToDouble(col("VALOR")))
      .withColumn("REFERENCIA_MES",
        to_date(concat(col("REFERENCIA_MES"), lit("-01")), "yyyy-MM-dd"))
    val renamed = Consolidate.renameCanonical(parsed)
    val withId = Consolidate.withSequentialId(
      renamed,
      Seq(col("grupo_economico").asc, col("servico").asc,
        col("mes_referencia").asc, col("tipo_servico").asc))
    Consolidate.reorder(withId,
      Seq("id", "grupo_economico", "servico", "mes_referencia", "valor", "tipo_servico"))
  }
}
