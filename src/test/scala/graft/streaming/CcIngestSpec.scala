package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.Dedup

/** The stream-maintained cluster-label table must equal a one-shot CC
  * over every pair ingested so far — including batches that MERGE
  * components formed by earlier batches — converge on a replayed batch
  * (edge admission is idempotent: re-admitted edges contract to
  * self-loops), and compose with the batch retraction verb.
  */
class CcIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("streamed labels == one-shot CC; merging batch relabels; replay converges; retraction composes") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ingest").toString
    // batch 0 forms {1,2,3} and {10,11}; batch 1 merges them via (3,10)
    // and attaches a new node; batch 2 REPLAYS batch 1
    val b0 = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val b1 = Seq((3L, 10L), (11L, 40L)).toDF("doc_a", "doc_b")
    CcIngest.ingestBatch(b0, dir)
    assert(asMap(CcIngest.labels(spark, dir)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    CcIngest.ingestBatch(b1, dir)
    val merged = asMap(CcIngest.labels(spark, dir))
    assert(merged == asMap(Dedup.connectedComponents(b0.unionAll(b1))))
    assert(merged(40L) == 1L && merged(11L) == 1L, "merge must take the global min label")
    // replayed batch: already-connected endpoints contract to self-loops
    CcIngest.ingestBatch(b1, dir)
    assert(asMap(CcIngest.labels(spark, dir)) == merged)
    // a real stream over the corpus pair table equals the one-shot build
    val pairs = Dedup.ngramJaccardPairs(
      graft.Tables.documents(spark, sf), n = 3, threshold = 0.3)
      .select("doc_a", "doc_b")
    val src = java.nio.file.Files.createTempDirectory("cc-ingest-src").toString
    pairs.write.parquet(s"$src/p0")
    val sdir = java.nio.file.Files.createTempDirectory("cc-ingest-labels").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cc-ingest-ckpt").toString
    val stream = spark.readStream.schema(pairs.schema)
      .option("recursiveFileLookup", "true").parquet(src)
    val q = CcIngest.start(stream, sdir, ckpt)
    try q.processAllAvailable()
    finally q.stop()
    val streamed = asMap(CcIngest.labels(spark, sdir))
    assert(streamed == asMap(Dedup.connectedComponents(pairs)) && streamed.nonEmpty)
    // the batch retraction verb runs against the maintained table
    val vic = graft.Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(3L)) === 0).select("doc_id")
    val got = asMap(Dedup.retractComponents(CcIngest.labels(spark, sdir), pairs, vic))
    val survivors = pairs
      .filter(pmod(col("doc_a"), lit(3L)) =!= 0 && pmod(col("doc_b"), lit(3L)) =!= 0)
    assert(got == asMap(Dedup.connectedComponents(survivors)))
  }

  test("a label swap interrupted between its renames is recovered before the next batch reads it") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ingest-crash").toString
    val b0 = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val b1 = Seq((3L, 10L), (11L, 40L)).toDF("doc_a", "doc_b")
    CcIngest.ingestBatch(b0, dir)
    // the crash window of a swap: labels renamed to its retired name, the
    // new copy not yet in place
    assert(new java.io.File(s"$dir/labels")
      .renameTo(new java.io.File(s"$dir/labels.swap-old")))
    CcIngest.ingestBatch(b1, dir)
    assert(asMap(CcIngest.labels(spark, dir)) ==
      asMap(Dedup.connectedComponents(b0.unionAll(b1))))
    assert(!new java.io.File(s"$dir/labels.swap-old").exists())
  }
}
