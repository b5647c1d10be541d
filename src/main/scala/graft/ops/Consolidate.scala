package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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

  /** Contiguous 1..N id in a caller-chosen canonical order (main.py:696).
    *
    * Scale design (SURVEY.md §7.4 #2): `sort` range-partitions, then
    * `zipWithIndex` assigns globally contiguous indices with per-partition
    * offsets — no single-partition window. The reference's id order is its
    * nondeterministic concat order; our contract requires an explicit sort.
    * For small-data oracle parity, `row_number` over a global window is the
    * documented alternative (queries.WindowPack.q_seq_id).
    */
  def withSequentialId(df: DataFrame, sortCols: Seq[Column], idCol: String = "id"): DataFrame = {
    val sorted = df.sort(sortCols: _*)
    val schema = StructType(StructField(idCol, LongType, nullable = false) +: sorted.schema.fields)
    val rdd = sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq((i + 1L) +: r.toSeq) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** [[withSequentialId]] generalized to a MEASURE: appends the global
    * rank `idCol` (1..N in the sort order) and the inclusive running sum
    * `runCol` of `valueCol` — the distributed prefix sum. `sort`
    * range-partitions; a first lightweight job collects per-partition
    * (row count, partial sum) — |partitions| rows, driver-cheap at any
    * scale — whose exclusive prefix becomes each partition's offsets;
    * the second pass streams every partition once adding offsets. NO
    * single-partition window anywhere: an unpartitioned
    * `sum(...).over(Window.orderBy(...))` funnels the whole input
    * through one task, which is exactly the hazard this replaces
    * (running totals over hundreds of millions of ranked rows at 100 TB).
    *
    * `valueCol` must be LongType (exact associative partial sums; use
    * integer cents, not doubles, for money) and non-null.
    */
  def withRunningTotal(
      df: DataFrame, sortCols: Seq[Column], valueCol: String,
      idCol: String = "rk", runCol: String = "run"): DataFrame = {
    val sorted = df.sort(sortCols: _*)
    val vIdx = sorted.schema.fieldIndex(valueCol)
    require(sorted.schema(vIdx).dataType == LongType,
      s"withRunningTotal needs a LongType measure; '$valueCol' is " +
        sorted.schema(vIdx).dataType.sql)
    val rdd = sorted.rdd
    // pass 1: per-partition (rows, sum) — the same count job zipWithIndex
    // runs, carrying the partial sum alongside
    val stats = rdd.mapPartitionsWithIndex { case (pid, it) =>
      var c = 0L; var s = 0L
      it.foreach { r => c += 1L; s += r.getLong(vIdx) }
      Iterator((pid, (c, s)))
    }.collect().toMap
    val nPart = rdd.getNumPartitions
    val rowOff = new Array[Long](nPart)
    val sumOff = new Array[Long](nPart)
    var cr = 0L; var cs = 0L
    (0 until nPart).foreach { p =>
      rowOff(p) = cr; sumOff(p) = cs
      val (c, s) = stats.getOrElse(p, (0L, 0L)); cr += c; cs += s
    }
    val schema = StructType(sorted.schema.fields :+
      StructField(idCol, LongType, nullable = false) :+
      StructField(runCol, LongType, nullable = false))
    val out = rdd.mapPartitionsWithIndex { case (pid, it) =>
      var rk = rowOff(pid); var run = sumOff(pid)
      it.map { r => rk += 1L; run += r.getLong(vIdx); Row.fromSeq(r.toSeq :+ rk :+ run) }
    }
    df.sparkSession.createDataFrame(out, schema)
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
