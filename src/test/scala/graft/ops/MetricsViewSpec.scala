package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

class MetricsViewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("dynamic variant equals the fixed-list form when the data has exactly the known types") {
    val events = Tables.events(spark, sf)
    val fixed = MetricsView(events).collect().map(_.toSeq)
    val dyn = MetricsView.dynamic(events).collect().map(_.toSeq)
    assert(dyn.toSeq == fixed.toSeq)
  }

  test("flagship smoke: non-empty with the canonical schema") {
    val out = MetricsView(Tables.events(spark, sf))
    assert(out.count() > 0)
    assert(out.columns.take(2).toSeq == Seq("dia", "taxa_media"))
    assert(out.columns.count(_.startsWith("taxa_")) == 6) // media + 5 types
    assert(out.columns.count(_.startsWith("dif_")) == 5)
  }

  test("overIda: a NULL-group series gets no pivot column but enters the average") {
    import java.sql.Date
    import org.apache.spark.sql.types._
    val months = Seq("2015-01-01", "2015-02-01", "2015-03-01").map(Date.valueOf)
    def series(g: String, vs: Seq[Double]) = months.zip(vs).map { case (m, v) =>
      org.apache.spark.sql.Row(g, "IDA", m, v)
    }
    val rows = series("A", Seq(100, 110, 121)) ++ series("B", Seq(200, 180, 198)) ++
      series(null, Seq(50, 60, 66))
    val ida = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("grupo_economico", StringType), StructField("servico", StringType),
      StructField("mes_referencia", DateType), StructField("valor", DoubleType))))
    val view = MetricsView.overIda(ida, indicador = "IDA")
    assert(view.columns.toSeq ==
      Seq("mes_referencia", "taxa_variacao_media", "taxa_A", "taxa_B"))
    // Feb: A +10 %, B -10 %, NULL +20 % -> mean 6.7, two named groups;
    // Mar: all three +10 %
    assert(view.collect().map(_.toSeq).toSeq == Seq(
      Seq(Date.valueOf("2015-03-01"), 10.0, 10.0, 10.0),
      Seq(Date.valueOf("2015-02-01"), 6.7, 10.0, -10.0)))
  }
}
