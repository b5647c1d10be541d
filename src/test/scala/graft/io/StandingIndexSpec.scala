package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.occurrences
import graft.TestSpark
import graft.ext.Retrieval

/** The standing-index lifecycle lives in one module: every compactor
  * runs through [[StandingIndex.compact]], so each one gets both race
  * guards, and no other file knows the `deleted/`, `.compact` or
  * `.swap-old` layout.
  */
class StandingIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("compaction aborts when a batch lands mid-compaction (concurrent refresh); the prior layout keeps serving") {
    val session = spark
    import session.implicits._
    val docs = (1L to 40L)
      .map(i => (i, s"the slow fox $i jumps over the slow dog ${i % 7}"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("standing-race").toString
    Retrieval.writePositionalIndex(docs.filter(col("doc_id") <= 30), dir)
    Retrieval.retractFromPositionalIndex(docs.filter(col("doc_id") === 3).select("doc_id"), dir)
    def hits(d: String) = Retrieval.phraseTopK(spark, d, Seq("the", "slow"), 50)
      .collect().map(_.toSeq).toSeq
    def posRows(d: String) = spark.read.parquet(s"$d/pos").count()

    val e = intercept[java.io.IOException] {
      StandingIndex.compact(spark, dir) { tmp =>
        StandingIndex.dropRetracted(spark.read.parquet(s"$dir/pos"),
            StandingIndex.tombstones(spark, dir, "doc_id"), "doc_id")
          .write.parquet(s"$tmp/pos")
        // the race: an admission batch lands after the compactor's snapshot
        BatchFiles.land(
          Retrieval.positionRows(docs.filter(col("doc_id") > 30)), s"$dir/pos", 1L)
      }
    }
    assert(e.getMessage.contains("concurrent refresh"))

    // the prior layout is intact (tombstones still unapplied, the landed
    // batch kept) and serves exactly a rebuild over the survivors
    val survivors = java.nio.file.Files.createTempDirectory("standing-race-ref").toString
    Retrieval.writePositionalIndex(docs.filter(col("doc_id") =!= 3), survivors)
    assert(new java.io.File(s"$dir/deleted").exists())
    assert(!new java.io.File(s"$dir.swap-old").exists())
    assert(posRows(dir) == spark.read.parquet(s"$survivors/pos").count() +
      Retrieval.positionRows(docs.filter(col("doc_id") === 3)).count())
    assert(hits(dir) == hits(survivors) && hits(dir).nonEmpty)

    // a re-run from a fresh snapshot succeeds and keeps the batch
    Retrieval.compactPositionalIndex(spark, dir)
    assert(!new java.io.File(s"$dir/deleted").exists())
    assert(posRows(dir) == posRows(survivors))
    assert(hits(dir) == hits(survivors))
  }

  test("src/main knows the standing-index layout in one place: StandingIndex") {
    def onlyInStandingIndex(files: Seq[String]) =
      files.nonEmpty && files.forall(_ == "StandingIndex.scala")
    assert(onlyInStandingIndex(occurrences("/deleted")))
    assert(onlyInStandingIndex(occurrences("\".compact\"")))
    assert(onlyInStandingIndex(occurrences(".swap-old").filterNot(_ == "DirSwap.scala")))
    // a broadcast tombstone fold: `df.join(broadcast(t), …, "left_anti")`
    assert(onlyInStandingIndex(occurrences(
      "\\.join\\(\\s*broadcast\\(t\\),[^\\n]*(\\n[^\\n]*)?\"left_anti\"".r)))
  }
}
