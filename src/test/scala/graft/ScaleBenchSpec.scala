package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ×k amplifier ScaleBench and SoakBench share: replica 0 is the
  * source, every other replica is a disjoint id space of the same size.
  */
class ScaleBenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def check(source: DataFrame, amplified: DataFrame, id: String): Unit = {
    val off = ScaleBench.IdOffset
    val src = source.orderBy(id).collect().toSeq
    assert(src.nonEmpty)
    assert(amplified.filter(col(id) < off).orderBy(id).collect().toSeq == src,
      "replica 0 differs from the source")
    assert(amplified.count() == 2L * src.length)
    assert(amplified.select(id).distinct().count() == 2L * src.length, s"$id overlaps across replicas")
    val replica1 = amplified.filter(col(id) >= off).select((col(id) - off).as(id))
      .orderBy(id).collect().map(_.getLong(0)).toSeq
    assert(replica1 == src.map(_.getAs[Long](id)))
  }

  test("x2 documents: replica 0 is the source bit for bit, ids disjoint, rows double") {
    check(Tables.documents(spark, sf), ScaleBench.amplifiedDocuments(spark, sf, 2), "doc_id")
  }

  test("x2 embeddings: replica 0 is the source bit for bit, ids disjoint, rows double") {
    check(Tables.embeddings(spark, sf), ScaleBench.amplifiedEmbeddings(spark, sf, 2), "vec_id")
  }
}
