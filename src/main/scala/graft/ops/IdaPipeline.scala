package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.fn.{CleanValues, LocaleNumber}

/** The reference's full extract/transform pipeline
  * (/root/reference/main.py:372-704) as one composable flow over raw
  * all-string frames (from OdsReader / CsvEncodingReader):
  *
  * per file: row-index → header locate+promote → metadata-row drop →
  * all-null-row drop → date-column-name normalize → unpivot months →
  * trailing-zero cell trim → service tag;
  * consolidated: per-file canonical renames → unionByName → distinct →
  * locale-parse valor → month parse → sequential id → column order.
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
    val normalized = Reshape.normalizeDateColumnNames(table.drop("_row_idx"))
    val long = Reshape.unpivotMonths(normalized)
    // the trim works cell by cell, so trimming the unpivoted cells equals
    // unpivoting trimmed cells, at one trim chain per id column plus VALOR
    // instead of one per wide column
    Reshape.withServiceTag(trimDecimalCells(long), servico)
  }

  /** Trailing-zero trim on every column (main.py:431-479 applies it to all
    * value cells; id columns and REFERENCIA_MES's 'YYYY-MM' names are text
    * anyway so the dotted-decimal guard makes it a no-op there).
    */
  def trimDecimalCells(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => CleanValues.trimTrailingZeros(Reshape.cell(c)).as(c)): _*)

  /** Consolidate cleaned per-file frames into the canonical typed output
    * (main.py:644-704 + the load-stage coercions).
    *
    * The `valor` chain parse → trim → parse → cast is staged: one
    * projection per step, each reading the column the step before wrote.
    * Every step refers to its input several times, so the same chain
    * written as one nested Column expands to hundreds of regex nodes per
    * row (each copy of the inner step evaluated again). Catalyst's
    * CollapseProject does not inline a non-trivial expression into a
    * projection that refers to it more than once, so the stages survive
    * optimization and each step runs once per row.
    */
  def consolidate(frames: Seq[DataFrame]): DataFrame = {
    // canonical names per frame, before the union: two spellings of one
    // column ("GRUPO ECONÔMICO", "GRUPO_ECONOMICO") in two files then
    // align by name instead of surviving the union as two columns that
    // the rename would give one name
    val unioned = Consolidate.distinctRows(
      Consolidate.unionAll(frames.map(Consolidate.renameCanonical)))
    val parsed = unioned
      .withColumn("valor", LocaleNumber.parse(col("valor")))
      .withColumn("valor", CleanValues.trimTrailingZeros(col("valor")))
      .withColumn("valor", LocaleNumber.parseToDouble(col("valor")))
      .withColumn("mes_referencia",
        to_date(concat(col("mes_referencia"), lit("-01")), "yyyy-MM-dd"))
    val withId = Consolidate.withSequentialId(
      parsed,
      Seq(col("grupo_economico").asc, col("servico").asc,
        col("mes_referencia").asc, col("tipo_servico").asc))
    Consolidate.reorder(withId,
      Seq("id", "grupo_economico", "servico", "mes_referencia", "valor", "tipo_servico"))
  }
}
