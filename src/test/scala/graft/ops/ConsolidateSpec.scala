package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Union/dedup/sequential-id/rename parity
  * (/root/reference/main.py:644-704, connect_postgre.py:199-205).
  */
class ConsolidateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("unionAll aligns by name and null-fills missing columns (pd.concat parity)") {
    val a = Seq(("CLARO", 1.0)).toDF("GRUPO_ECONOMICO", "VALOR")
    val b = Seq(("VIVO", "SMP")).toDF("GRUPO_ECONOMICO", "SERVICO")
    val u = Consolidate.unionAll(Seq(a, b))
    assert(u.count() == 2)
    assert(u.columns.toSet == Set("GRUPO_ECONOMICO", "VALOR", "SERVICO"))
    val vivo = u.filter(col("GRUPO_ECONOMICO") === "VIVO").collect()(0)
    assert(vivo.isNullAt(vivo.fieldIndex("VALOR")))
  }

  test("distinctRows = whole-row dedup (main.py:647)") {
    val df = Seq(("a", 1), ("a", 1), ("a", 2)).toDF("k", "v")
    assert(Consolidate.distinctRows(df).count() == 2)
  }

  /** `df`'s rows dealt into 8 partitions by a nondeterministic key, in a
    * session that keeps the sort after it at 4 shuffle partitions (no AQE
    * coalescing): a second execution would deal and range-bound the rows
    * differently.
    */
  private def shuffled(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val key = udf(() => scala.util.Random.nextInt(1000)).asNondeterministic()
    s.createDataFrame(df.collect().toSeq.asJava, df.schema).repartition(8, key())
  }

  test("withSequentialId: contiguous 1..N in canonical sort order, multi-partition safe") {
    val df = spark.sparkContext.parallelize((1 to 1000).reverse, numSlices = 8).toDF("v")
    Seq(df, shuffled(df)).foreach { input =>
      val withId = Consolidate.withSequentialId(input, Seq(col("v").asc))
      val rows = withId.collect().map(r => (r.getLong(0), r.getInt(1)))
      assert(rows.map(_._1).toSeq.sorted == (1L to 1000L))
      // id order must follow the sort order: id k <-> value k
      assert(rows.forall { case (id, v) => id == v.toLong })
    }
  }

  test("withRunningTotal: distributed prefix sum equals the single-task running sum") {
    // 10k rows over 16 partitions, descending sort with tie-break —
    // the q_pareto_curve shape
    val df = spark.sparkContext
      .parallelize((1 to 10000).map(i => (i.toLong, ((i * 37) % 500 + 1).toLong)), 16)
      .toDF("k", "cents")
    // reference: driver-side scan in the same order
    val ref = (1 to 10000).map(i => (i.toLong, ((i * 37) % 500 + 1).toLong))
      .sortBy { case (k, c) => (-c, k) }
    Seq(df, shuffled(df)).foreach { input =>
      val got = Consolidate
        .withRunningTotal(input, Seq(col("cents").desc, col("k").asc), "cents")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._3)
      var run = 0L
      ref.zipWithIndex.foreach { case ((k, c), i) =>
        run += c
        val (gk, gc, grk, grun) = got(i)
        assert(gk == k && gc == c && grk == i + 1L && grun == run,
          s"mismatch at rank ${i + 1}: got ($gk,$gc,$grk,$grun), want ($k,$c,${i + 1},$run)")
      }
    }
  }

  test("withRunningTotal rejects non-long measures") {
    val df = Seq((1, 1.5)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Consolidate.withRunningTotal(df, Seq(col("v").desc), "v")
    }
  }

  test("renameCanonical + reorder produce the canonical output schema") {
    val df = Seq(("CLARO", "IDA", "2015-01", "87.5", "SMP"))
      .toDF("GRUPO_ECONOMICO", "VARIAVEL", "REFERENCIA_MES", "VALOR", "SERVICO")
    val out = Consolidate.reorder(
      Consolidate.renameCanonical(df),
      Seq("id", "grupo_economico", "servico", "mes_referencia", "valor", "tipo_servico"))
    assert(out.columns.toSeq ==
      Seq("grupo_economico", "servico", "mes_referencia", "valor", "tipo_servico"))
  }
}
