package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

/** The inverted index's incremental admission contract: building over a
  * base corpus and refreshing with a delta must equal a full rebuild
  * over (base ∪ delta) — table for table — and BM25 served from either
  * index must be identical.
  */
class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def canon(dir: String, table: String): Seq[Seq[Any]] =
    spark.read.parquet(s"$dir/$table").collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq

  test("refresh(delta) over base index equals full rebuild, all four tables") {
    val docs = Tables.documents(spark, sf)
    val isDelta = pmod(col("doc_id"), lit(4)) === 1

    val refreshed = java.nio.file.Files.createTempDirectory("retr-refresh").toString
    Retrieval.writeInvertedIndex(docs.filter(!isDelta), refreshed)
    Retrieval.refreshInvertedIndex(docs.filter(isDelta), refreshed)

    val rebuilt = java.nio.file.Files.createTempDirectory("retr-rebuild").toString
    Retrieval.writeInvertedIndex(docs, rebuilt)

    Seq("tf", "df", "dlen", "stats").foreach { t =>
      assert(canon(refreshed, t) == canon(rebuilt, t),
        s"index table '$t' diverges between refresh and rebuild")
    }

    // and the served scores are identical
    val qtoks = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"),
        explode(slice(TextAnalysis.tokens(col("text")), 1, 6)).as("tok"))
      .distinct()
    val a = Retrieval.bm25Scores(spark, refreshed, qtoks)
      .orderBy("query_id", "doc_id").collect().map(_.toSeq).toSeq
    val b = Retrieval.bm25Scores(spark, rebuilt, qtoks)
      .orderBy("query_id", "doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("retract serves exactly a rebuild over survivors; duplicate retracts are absorbed") {
    val docs = Tables.documents(spark, sf)
    val dead = pmod(col("doc_id"), lit(5)) === 2

    val dir = java.nio.file.Files.createTempDirectory("retr-retract").toString
    Retrieval.writeInvertedIndex(docs, dir)
    Retrieval.retractFromIndex(docs.filter(dead).select("doc_id"), dir)
    // a replayed retraction of the same ids must not change anything
    Retrieval.retractFromIndex(docs.filter(dead).select("doc_id"), dir)

    val survivors = java.nio.file.Files.createTempDirectory("retr-survivors").toString
    Retrieval.writeInvertedIndex(docs.filter(!dead), survivors)

    // 3 query docs × 8 leading tokens: the vocabularies OVERLAP, which
    // pins the df decrement to distinct dead docs (a per-(doc,tok,query)
    // count would double-decrement shared tokens — caught here)
    val qtoks = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"),
        explode(slice(TextAnalysis.tokens(col("text")), 1, 8)).as("tok"))
      .distinct()
    def scores(d: String) = Retrieval.bm25Scores(spark, d, qtoks)
      .orderBy("query_id", "doc_id").collect().map(_.toSeq).toSeq
    val got = scores(dir)
    assert(got == scores(survivors) && got.nonEmpty)
    // no retracted doc is ever served
    assert(!got.exists(r => r(1).asInstanceOf[Long] % 5 == 2))

    // compaction applies tombstones physically: tables equal the
    // survivors-only rebuild, the tombstone dir is gone, and serving
    // (now the fast path) is unchanged
    Retrieval.compactIndex(spark, dir)
    assert(!new java.io.File(s"$dir/deleted").exists())
    Seq("tf", "df", "dlen", "stats").foreach { t =>
      assert(canon(dir, t) == canon(survivors, t),
        s"compacted table '$t' diverges from the survivors-only rebuild")
    }
    assert(scores(dir) == got)
  }

  test("compaction collapses a streaming df delta log to the batch layout") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("retr-log-compact").toString
    (0L to 2L).foreach { b =>
      graft.streaming.RetrievalIngest.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === b).select("doc_id", "text"), b, dir)
    }
    Retrieval.compactIndex(spark, dir)
    val batch = java.nio.file.Files.createTempDirectory("retr-log-batch").toString
    Retrieval.writeInvertedIndex(docs, batch)
    Seq("tf", "df", "dlen", "stats").foreach { t =>
      assert(canon(dir, t) == canon(batch, t),
        s"compacted log table '$t' diverges from the one-shot build")
    }
  }

  test("positional lifecycle: retract/refresh/stream/compact all serve the survivor rebuild") {
    val docs = Tables.documents(spark, sf)
    val dead = pmod(col("doc_id"), lit(5)) === 2
    // phrase common enough in the fixture corpus to return hits
    val phrase = Seq("the", "slow")
    def hits(d: String) = Retrieval.phraseTopK(spark, d, phrase, k = 20)
      .collect().map(_.toSeq).toSeq

    val survivors = java.nio.file.Files.createTempDirectory("pos-survivors").toString
    Retrieval.writePositionalIndex(docs.filter(!dead), survivors)
    val want = hits(survivors)
    assert(want.nonEmpty, "fixture phrase should match")

    // tombstoned merge-on-read; duplicate retracts absorbed
    val dir = java.nio.file.Files.createTempDirectory("pos-retract").toString
    Retrieval.writePositionalIndex(docs, dir)
    assert(hits(dir) != want, "retraction must change something for the test to mean anything")
    Retrieval.retractFromPositionalIndex(docs.filter(dead).select("doc_id"), dir)
    Retrieval.retractFromPositionalIndex(docs.filter(dead).select("doc_id"), dir)
    assert(hits(dir) == want)
    // k-term proximity serves under the same tombstones
    val kt = Retrieval.proximityKTermTopK(spark, dir, Seq("the", "slow"), 6, 20)
      .collect().map(_.toSeq).toSeq
    val ktWant = Retrieval.proximityKTermTopK(spark, survivors, Seq("the", "slow"), 6, 20)
      .collect().map(_.toSeq).toSeq
    assert(kt == ktWant && kt.nonEmpty)

    // compaction applies tombstones physically and serving is unchanged
    Retrieval.compactPositionalIndex(spark, dir)
    assert(!new java.io.File(s"$dir/deleted").exists())
    assert(canon(dir, "pos") == canon(survivors, "pos"))
    assert(hits(dir) == want)

    // refresh ≡ rebuild: base 4/5 of the survivors + delta 1/5
    val isDelta = pmod(col("doc_id"), lit(4)) === 1
    val refreshed = java.nio.file.Files.createTempDirectory("pos-refresh").toString
    Retrieval.writePositionalIndex(docs.filter(!dead && !isDelta), refreshed)
    Retrieval.refreshPositionalIndex(docs.filter(!dead && isDelta), refreshed, batchId = 0L)
    assert(hits(refreshed) == want)
    // a REPLAYED refresh batch replaces its own files exactly: same
    // file names, same rows, same serving — never a double-count
    def posFiles = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(s"$refreshed/pos"))
      try l.toArray.map(_.toString).filter(_.endsWith(".parquet")).toSet finally l.close()
    }
    val firstLand = posFiles
    Retrieval.refreshPositionalIndex(docs.filter(!dead && isDelta), refreshed, batchId = 0L)
    assert(posFiles == firstLand, "replay must converge to the same file set")
    assert(canon(refreshed, "pos") == canon(survivors, "pos"))
    assert(hits(refreshed) == want)

    // stream-maintained (3 batches, one REPLAYED) ≡ one-shot build
    val streamed = java.nio.file.Files.createTempDirectory("pos-stream").toString
    (0L to 2L).foreach { b =>
      graft.streaming.RetrievalIngest.ingestBatch(
        docs.filter(!dead && pmod(col("doc_id"), lit(3)) === b).select("doc_id", "text"),
        b, streamed, withPositions = true)
    }
    graft.streaming.RetrievalIngest.ingestBatch(
      docs.filter(!dead && pmod(col("doc_id"), lit(3)) === 1L).select("doc_id", "text"),
      1L, streamed, withPositions = true)
    assert(canon(streamed, "pos") == canon(survivors, "pos"))
    assert(hits(streamed) == want)
  }

  test("compaction aborts loudly when a retraction races it") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("pos-race").toString
    Retrieval.writePositionalIndex(docs, dir)
    Retrieval.retractFromPositionalIndex(
      docs.filter(col("doc_id") < 5).select("doc_id"), dir)
    // simulate the race: a retraction lands AFTER the compactor's
    // snapshot; the guard must refuse the swap (prior layout intact)
    val snap = graft.io.StandingIndex.tombstoneVersion(spark, dir)
    Retrieval.retractFromPositionalIndex(
      docs.filter(col("doc_id") === 7).select("doc_id"), dir)
    val e = intercept[java.io.IOException] {
      graft.io.StandingIndex.guardTombstonesUnchanged(spark, dir, snap)
    }
    assert(e.getMessage.contains("concurrent retraction"))
    // an unchanged tombstone set passes
    graft.io.StandingIndex.guardTombstonesUnchanged(
      spark, dir, graft.io.StandingIndex.tombstoneVersion(spark, dir))
  }

  test("combined-layout compaction keeps the sibling tables: BM25 and phrase both serve after it") {
    // stream ingest with positions lands tf/dlen/df AND pos under ONE
    // root — compacting "the positional index" must not destroy the
    // BM25 tables with the root swap (routes through compactIndex)
    val docs = Tables.documents(spark, sf)
    val dead = pmod(col("doc_id"), lit(5)) === 2
    val dir = java.nio.file.Files.createTempDirectory("pos-combined").toString
    (0L to 1L).foreach { b =>
      graft.streaming.RetrievalIngest.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(2)) === b).select("doc_id", "text"),
        b, dir, withPositions = true)
    }
    Retrieval.retractFromPositionalIndex(docs.filter(dead).select("doc_id"), dir)
    Retrieval.compactPositionalIndex(spark, dir)

    val survivors = java.nio.file.Files.createTempDirectory("pos-combined-ref").toString
    Retrieval.writeInvertedIndex(docs.filter(!dead), survivors)
    Retrieval.writePositionalIndex(docs.filter(!dead), survivors)

    // every sibling table survived the swap and equals the rebuild
    Seq("tf", "df", "dlen", "stats", "pos").foreach { t =>
      assert(canon(dir, t) == canon(survivors, t),
        s"combined-layout compaction lost or corrupted sibling table '$t'")
    }
    // and both serving paths still run against the compacted root
    val qtoks = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"),
        explode(slice(TextAnalysis.tokens(col("text")), 1, 6)).as("tok"))
      .distinct()
    def bm25(d: String) = Retrieval.bm25Scores(spark, d, qtoks)
      .orderBy("query_id", "doc_id").collect().map(_.toSeq).toSeq
    assert(bm25(dir) == bm25(survivors) && bm25(dir).nonEmpty)
    def hits(d: String) = Retrieval.phraseTopK(spark, d, Seq("the", "slow"), 20)
      .collect().map(_.toSeq).toSeq
    assert(hits(dir) == hits(survivors) && hits(dir).nonEmpty)
  }

  test("guarded swap rolls back when a retraction lands during the compaction compute") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("pos-swap-race").toString
    Retrieval.writePositionalIndex(docs, dir)
    Retrieval.retractFromPositionalIndex(
      docs.filter(col("doc_id") < 5).select("doc_id"), dir)
    val snap = graft.io.StandingIndex.tombstoneVersion(spark, dir)
    // the compaction's rewrite, computed under the snapshot
    val tmp = dir.stripSuffix("/") + ".compact"
    val tombs = spark.read.parquet(s"$dir/deleted").select("doc_id").distinct()
    spark.read.parquet(s"$dir/pos")
      .join(broadcast(tombs), Seq("doc_id"), "left_anti")
      .write.parquet(s"$tmp/pos")
    // the race: a retraction lands AFTER the snapshot (and after the
    // pre-swap guard would have passed), DURING the compute
    Retrieval.retractFromPositionalIndex(
      docs.filter(col("doc_id") === 7).select("doc_id"), dir)
    val before = canon(dir, "deleted")
    val e = intercept[java.io.IOException] {
      graft.io.StandingIndex.guardedSwapInto(spark, tmp, dir, snap)
    }
    assert(e.getMessage.contains("rolled back"))
    // the rollback restored the PRE-swap layout: all tombstones intact
    // (including the racing one), positions readable, tmp back in place
    assert(canon(dir, "deleted") == before)
    assert(spark.read.parquet(s"$dir/pos").count() > 0)
    assert(new java.io.File(s"$tmp/pos").exists())
    assert(!new java.io.File(s"$dir.swap-old").exists())
    // re-running the compaction from a FRESH snapshot now succeeds
    Retrieval.compactPositionalIndex(spark, dir)
    assert(!new java.io.File(s"$dir/deleted").exists())
    val served = Retrieval.phraseTopK(spark, dir, Seq("the", "slow"), 20)
      .collect().map(_.toSeq).toSeq
    val survivors = java.nio.file.Files.createTempDirectory("pos-swap-ref").toString
    Retrieval.writePositionalIndex(
      docs.filter(col("doc_id") >= 5 && col("doc_id") =!= 7), survivors)
    assert(served == Retrieval.phraseTopK(spark, survivors, Seq("the", "slow"), 20)
      .collect().map(_.toSeq).toSeq)
  }

  test("k-term proximity: spans and counts on a hand-built doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a x b x x c"), // one (a,b,c) combo, span 5
      (2L, "a b c a"), // combos: (0,1,2) s2, (3,1,2) s2 -> 2 windows, min 2
      (3L, "a b x x x x x x x c") // span 9 > window 6: no hit
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("pos-kterm").toString
    Retrieval.writePositionalIndex(docs, dir)
    val got = Retrieval.proximityKTermTopK(spark, dir, Seq("a", "b", "c"), 6, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((2L, 2L, 2L), (1L, 1L, 5L)))
    // two-term form stays consistent with the k=2 general form
    val two = Retrieval.proximityTopK(spark, dir, "a", "b", 6, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gen2 = Retrieval.proximityKTermTopK(spark, dir, Seq("a", "b"), 6, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(two == gen2)
    // repeated terms are rejected (an occurrence would pair with itself)
    intercept[IllegalArgumentException] {
      Retrieval.proximityKTermTopK(spark, dir, Seq("a", "a"), 6, 10)
    }
  }

  test("refresh tokenizes only the delta: base tf rows are untouched files") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("retr-admission").toString
    Retrieval.writeInvertedIndex(docs.filter(col("doc_id") % 4 =!= 1), dir)
    def tfFiles: Set[String] = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/tf"))
      try l.toArray.map(_.toString).filter(_.endsWith(".parquet")).toSet finally l.close()
    }
    val before = tfFiles
    Retrieval.refreshInvertedIndex(docs.filter(col("doc_id") % 4 === 1), dir)
    assert(before.subsetOf(tfFiles), "refresh must APPEND to tf, never rewrite it")
    assert(tfFiles.size > before.size, "the delta must land as new files")
  }

  test("refresh heals a df swap interrupted between its renames and serves the rebuild's BM25 top-k") {
    val docs = Tables.documents(spark, sf)
    val isDelta = pmod(col("doc_id"), lit(4)) === 1
    val dir = java.nio.file.Files.createTempDirectory("retr-crash").toString
    Retrieval.writeInvertedIndex(docs.filter(!isDelta), dir)
    // the crash window of a swap: df renamed to its retired name, the new
    // copy not yet in place
    assert(new java.io.File(s"$dir/df").renameTo(new java.io.File(s"$dir/df.swap-old")))
    Retrieval.refreshInvertedIndex(docs.filter(isDelta), dir)
    assert(!new java.io.File(s"$dir/df.swap-old").exists())

    val rebuilt = java.nio.file.Files.createTempDirectory("retr-crash-rebuild").toString
    Retrieval.writeInvertedIndex(docs, rebuilt)
    val qtoks = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"),
        explode(slice(TextAnalysis.tokens(col("text")), 1, 6)).as("tok"))
      .distinct()
    val rank = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    def topK(d: String) = Retrieval.bm25Scores(spark, d, qtoks)
      .withColumn("rk", row_number().over(rank)).filter(col("rk") <= 5)
      .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    assert(topK(dir) == topK(rebuilt) && topK(dir).nonEmpty)
  }
}
