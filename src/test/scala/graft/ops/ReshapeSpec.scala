package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Drives the messy-spreadsheet path on the FIXTURES.md A1 shape: metadata
  * preamble, buried header, timestamp-named month columns, unpivot, and the
  * unmelted fallback (/root/reference/main.py:202-518).
  */
class ReshapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val rawRows = Seq(
    Seq("ÍNDICE DE DESEMPENHO NO ATENDIMENTO", null, null, null),
    Seq("SERVIÇO: SMP", "PERÍODO: 2015", "FONTE: ANATEL", null),
    Seq(null, null, null, null),
    Seq("GRUPO ECONÔMICO", "VARIAVEL", "2015-01-01 00:00:00", "2015-02-01 00:00:00"),
    Seq("CLARO", "IDA", "87,50", "90.00"),
    Seq("VIVO", "IDA", "1.234,56", "ND"))

  private def rawDf = {
    val schema = StructType((0 until 4).map(i => StructField(s"_c$i", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rawRows.map(r => Row.fromSeq(r)), numSlices = 1),
      schema)
  }

  test("full clean path: index, locate header, promote, drop metadata/null rows") {
    val indexed = Reshape.withRowIndex(rawDf)
    val header = Reshape.findHeaderRow(indexed)
    assert(header.map(_._1).contains(3L))
    assert(header.map(_._2).contains(
      Seq("GRUPO ECONÔMICO", "VARIAVEL", "2015-01-01 00:00:00", "2015-02-01 00:00:00")))

    val promoted = Reshape.promoteHeader(indexed, 3L)
    assert(promoted.columns.take(4).toSeq ==
      Seq("GRUPO ECONÔMICO", "VARIAVEL", "2015-01-01 00:00:00", "2015-02-01 00:00:00"))
    assert(promoted.count() == 2)

    val clean = Reshape.dropAllNullRows(Reshape.dropMetadataRows(promoted))
    assert(clean.count() == 2) // data rows survive the marker filter
  }

  test("metadata rows are dropped case-insensitively from any column") {
    val indexed = Reshape.withRowIndex(rawDf)
    assert(Reshape.dropMetadataRows(indexed).count() == 4) // 2 marker rows gone
  }

  test("findHeaderRow: None when no row matches") {
    val indexed = Reshape.withRowIndex(rawDf)
    assert(Reshape.findHeaderRow(indexed, markers = Seq("NO SUCH HEADER")).isEmpty)
  }

  /** The per-cell metadata filter `dropMetadataRows` replaced, kept here
    * as the reference: drop a row when any cell, upper-cased, contains
    * any upper-cased marker.
    */
  private def perCellReference(df: DataFrame, markers: Seq[String] = Reshape.MetadataMarkers): DataFrame = {
    val dataCols = df.columns.filter(_ != "_row_idx")
    val hit = (for { c <- dataCols; m <- markers }
      yield upper(coalesce(col(c).cast("string"), lit(""))).contains(m.toUpperCase))
      .reduce(_ || _)
    df.filter(!hit)
  }

  private def indexedRows(rows: Seq[Seq[String]], nCols: Int, parts: Int = 2): DataFrame = {
    val schema = StructType((0 until nCols).map(i => StructField(s"_c$i", StringType)))
    Reshape.withRowIndex(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row.fromSeq(r)), numSlices = parts), schema))
  }

  private def keptIdx(df: DataFrame): Seq[Long] =
    df.select("_row_idx").collect().map(_.getLong(0)).toSeq.sorted

  test("metadata filter: a marker split across two cells is kept, like the per-cell reference") {
    val df = indexedRows(Seq(
      Seq("SERVI", "ÇO: SMP", null),
      Seq("ANA", "TEL", "x"),
      Seq("PARA MAIORES", " INFORMAÇÕES", null)), 3)
    assert(keptIdx(Reshape.dropMetadataRows(df)) == Seq(0L, 1L, 2L))
    assert(keptIdx(perCellReference(df)) == Seq(0L, 1L, 2L))
  }

  test("metadata filter: a marker in any cell, in any letter case, drops the row") {
    val df = indexedRows(Seq(
      Seq("serviço: smp", null, null),
      Seq(null, "Fonte: Anatel", null),
      Seq(null, null, "período: 2015"),
      Seq("CLARO", "IDA", "anatel"),
      Seq("CLARO", "IDA", "87,50")), 3)
    assert(keptIdx(Reshape.dropMetadataRows(df)) == Seq(4L))
    assert(keptIdx(perCellReference(df)) == Seq(4L))
  }

  test("metadata filter: null cells never match and never hide a match") {
    val df = indexedRows(Seq(
      Seq(null, null, null),
      Seq(null, null, "ANATEL"),
      Seq("", null, "")), 3)
    assert(keptIdx(Reshape.dropMetadataRows(df)) == Seq(0L, 2L))
    assert(keptIdx(perCellReference(df)) == Seq(0L, 2L))
  }

  test("metadata filter agrees with the per-cell reference on seeded random rows") {
    // cells are drawn from marker fragments (so markers split across
    // cells often), whole markers in random letter case, plain text,
    // empty strings and nulls
    val rnd = new scala.util.Random(20150101L)
    val fragments = Reshape.MetadataMarkers.flatMap { m =>
      val cut = 1 + rnd.nextInt(m.length - 1)
      Seq(m.take(cut), m.drop(cut))
    } ++ Seq("CLARO", "87,50", "IDA", " ", "", ":")
    def randomCase(s: String) =
      s.map(ch => if (rnd.nextBoolean()) ch.toLower else ch.toUpper)
    def cell(): String = rnd.nextInt(10) match {
      case 0 => null
      case 1 => randomCase(Reshape.MetadataMarkers(rnd.nextInt(Reshape.MetadataMarkers.size)))
      case 2 => randomCase(fragments(rnd.nextInt(fragments.size)) + fragments(rnd.nextInt(fragments.size)))
      case _ => randomCase(fragments(rnd.nextInt(fragments.size)))
    }
    val nCols = 5
    val df = indexedRows(Seq.fill(400)(Seq.fill(nCols)(cell())), nCols)
    val expected = keptIdx(perCellReference(df))
    assert(expected.size > 40 && expected.size < 360, s"degenerate sample: ${expected.size} kept")
    assert(keptIdx(Reshape.dropMetadataRows(df)) == expected)
  }

  test("date column names normalize to YYYY-MM and unpivot goes long") {
    val indexed = Reshape.withRowIndex(rawDf)
    val table = Reshape.normalizeDateColumnNames(Reshape.promoteHeader(indexed, 3L))
    assert(table.columns.take(4).toSeq == Seq("GRUPO ECONÔMICO", "VARIAVEL", "2015-01", "2015-02"))

    val long = Reshape.unpivotMonths(table.drop("_row_idx"))
    assert(long.columns.toSeq == Seq("GRUPO ECONÔMICO", "VARIAVEL", "REFERENCIA_MES", "VALOR"))
    assert(long.count() == 4)
    val claro = long.filter(long("REFERENCIA_MES") === "2015-01" && long("GRUPO ECONÔMICO") === "CLARO")
      .select("VALOR").collect().map(_.getString(0)).toSeq
    assert(claro == Seq("87,50"))
  }

  test("unmelted fallback: no month columns -> frame unchanged (main.py:505-508)") {
    import spark.implicits._
    val wide = Seq(("CLARO", "IDA")).toDF("GRUPO_ECONOMICO", "nota")
    val out = Reshape.unpivotMonths(wide)
    assert(out.columns.toSeq == wide.columns.toSeq)
    assert(Reshape.withServiceTag(out, "SMP").columns.contains("SERVICO"))
  }

  test("withRowIndex is 0..n-1 in input order on one partition and on three") {
    val rows = (0 until 25).map(i => Seq(i.toString))
    Seq(1, 3).foreach { parts =>
      val indexed = indexedRows(rows, 1, parts)
      assert(indexed.rdd.getNumPartitions == parts)
      val got = indexed.select(col("_row_idx"), col("_c0")).collect()
        .map(r => (r.getLong(0), r.getString(1).toLong)).toSeq
      assert(got.map(_._1) == (0L until 25L), s"$parts partitions")
      assert(got.forall { case (i, v) => i == v }, s"$parts partitions: $got")
    }
    // an empty partition takes no index
    val sparse = indexedRows(Seq(Seq("a"), Seq("b")), 1, 3)
    assert(sparse.select("_row_idx").collect().map(_.getLong(0)).toSeq == Seq(0L, 1L))
    // hash-partitioned into 8 by a nondeterministic key: a second
    // execution of the shuffle would deal the rows out differently, so
    // counts and rows must come from one execution
    val n = 2000
    val key = udf(() => scala.util.Random.nextInt(1000)).asNondeterministic()
    val dealt = spark.range(n).toDF("v").repartition(8, key())
    val byIdx = Reshape.withRowIndex(dealt).select(col("_row_idx"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(byIdx.map(_._1).toSeq == (0L until n.toLong), "8 shuffled partitions")
    assert(byIdx.map(_._2).sorted.toSeq == (0L until n.toLong))
  }
}
