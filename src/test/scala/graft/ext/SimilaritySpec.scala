package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("cosine of a vector with itself is 1") {
    val e = Tables.embeddings(spark, sf).limit(5)
      .select(col("embedding").cast("array<double>").as("v"))
    val cos = e.select(Similarity.cosine(col("v"), col("v")).as("c"))
      .collect().map(_.getDouble(0))
    assert(cos.forall(c => math.abs(c - 1.0) < 1e-12))
  }

  test("brute-force top-k: k rows per query, rank 1 is the max cosine, no self") {
    val e = Tables.embeddings(spark, sf)
    val topk = Similarity.bruteForceTopK(e.filter(col("vec_id") < 4), e, k = 5).collect()
    assert(topk.length == 20)
    val byQuery = topk.groupBy(_.getLong(0))
    byQuery.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to 5))
      assert(rows.forall(_.getLong(2) != q))
      val cosines = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cosines.toSeq == cosines.sorted.reverse.toSeq) // descending by rank
    }
  }

  test("LSH top-k achieves reasonable recall@5 against brute force") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 16)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, k = 5))
    val approx = pairs(Similarity.lshTopK(q, e, k = 5, dim = 64))
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"LSH recall@5 = $recall") // 8 planes x 3 tables on random data
  }

  test("IVF top-k achieves reasonable recall@5 against brute force") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 16)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, k = 5))
    val ivf = pairs(Similarity.ivfTopK(q, e, k = 5))
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall@5 = $recall") // 16 cells, probe 4, unclustered data
  }

  test("Lloyd training improves the k-means objective; recall stays comparable") {
    val e = Tables.embeddings(spark, sf)
    // cell cohesion (mean best-cell cosine of the training slice) is the
    // spherical-k-means objective Lloyd provably does not decrease —
    // the guarantee training gives. Recall at a FIXED probe budget is
    // data-dependent (on near-uniform vectors it can dip slightly), so
    // it gets a bounded-regression sanity check, not an improvement bar.
    val train = Similarity.normalizedVectors(e, cap = 256)
    val c0 = Similarity.ivfModel(e, lloydIters = 0)
    val c2 = Similarity.ivfModel(e, lloydIters = 2)
    val (coh0, coh2) = (Similarity.cellCohesion(train, c0), Similarity.cellCohesion(train, c2))
    assert(coh2 > coh0, s"training did not tighten cells: $coh0 -> $coh2")

    val q = e.filter(col("vec_id") < 16)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, k = 5))
    def recall(iters: Int) = {
      val got = pairs(Similarity.ivfTopK(q, e, k = 5, lloydIters = iters))
      (exact intersect got).size.toDouble / exact.size
    }
    val (standIn, trained) = (recall(0), recall(2))
    assert(trained >= standIn - 0.1,
      s"training collapsed recall: stand-in $standIn vs trained $trained")
  }

  test("SQ8 top-k achieves near-perfect recall@5 against brute force") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 16)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, k = 5))
    val sq8 = pairs(Similarity.sq8TopK(q, e, k = 5))
    val recall = (exact intersect sq8).size.toDouble / exact.size
    // int8 error is tiny relative to cosine gaps; top-50 re-rank should
    // recover essentially all true top-5
    assert(recall >= 0.9, s"SQ8 recall@5 = $recall")
  }

  test("PQ top-k achieves reasonable recall@5 against brute force") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 16)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, k = 5))
    val pq = pairs(Similarity.pqTopK(q, e, k = 5))
    val recall = (exact intersect pq).size.toDouble / exact.size
    // 4 subspaces x 16 sampled (untrained) codes is a coarse quantizer on
    // random data; the top-50 re-rank does the heavy lifting
    assert(recall >= 0.3, s"PQ recall@5 = $recall")
  }

  test("PQ on an empty corpus returns the contract-schema empty frame") {
    val e = Tables.embeddings(spark, sf)
    val none = e.filter(col("vec_id") < 0)
    val out = Similarity.pqTopK(none, none, k = 5)
    assert(out.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "cosine"))
    assert(out.count() == 0)
  }

  test("IVF-PQ achieves reasonable recall@5 and returns well-formed ranks") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 16)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, e, k = 5))
    val got = Similarity.ivfpqTopK(q, e, k = 5).collect()
    got.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length))
      assert(rows.forall(_.getLong(2) != qid))
    }
    val recall = (exact intersect got.map(r => (r.getLong(0), r.getLong(2))).toSet)
      .size.toDouble / exact.size
    // cell pruning (probe 4 of 16) stacked on the coarse sampled
    // codebooks — the intersection of IVF's and PQ's recall losses
    assert(recall >= 0.25, s"IVF-PQ recall@5 = $recall")
  }

  test("IVF-PQ with nProbe = nCentroids degenerates to plain PQ exactly") {
    // probing every cell removes the pruning, leaving codes + ADC +
    // re-rank — which must be bit-identical to pqTopK (same sampled
    // codebooks, same order-pinned argmin/sum/tie-breaks). Pins the
    // composition against its parent: a drift in either the cell join
    // or the shared code path breaks equality, not just recall.
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 8)
    val full = Similarity.ivfpqTopK(q, e, k = 5, nCentroids = 16, nProbe = 16)
      .collect().map(_.toSeq).toSet
    val pq = Similarity.pqTopK(q, e, k = 5)
      .collect().map(_.toSeq).toSet
    assert(full == pq)
  }

  test("IVF-PQ scans only probed cells: every neighbor lies in a probed cell of its query") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 8)
    val centroids = Similarity.ivfModel(e)
    // replicate the operator's own assignment + probe math
    val cellOf: Map[Long, Long] =
      Similarity.withNormalized(e.select(col("vec_id"), col("embedding")), "embedding", "nv")
        .select(col("vec_id"), Similarity.cellArgmax(centroids, col("nv")).as("cell"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probed: Map[Long, Set[Long]] =
      Similarity.normalizedVectors(q, Long.MaxValue).map { case (qid, qv) =>
        qid -> centroids
          .map { case (cid, w) => (cid, w.zip(qv).map { case (a, b) => a * b }.sum) }
          .sortBy { case (cid, d) => (-d, cid) }.take(4).map(_._1).toSet
      }.toMap
    val out = Similarity.ivfpqTopK(q, e, k = 5).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (qid, nid) = (r.getLong(0), r.getLong(2))
      assert(probed(qid).contains(cellOf(nid)),
        s"neighbor $nid (cell ${cellOf(nid)}) returned for query $qid outside probed ${probed(qid)}")
    }
  }

  test("semantic dedup: no false positives vs the exact all-pairs form") {
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 500)
    val exact = Similarity.cosineNearDupPairs(e, threshold = 0.45)
      .select("vec_a", "vec_b", "cosine")
      .collect().map(_.toSeq).toSet
    val semantic = Similarity.semanticDupPairs(e, threshold = 0.45)
      .select("vec_a", "vec_b", "cosine")
      .collect().map(_.toSeq).toSet
    // within-cell pairs are a subset of all pairs, with IDENTICAL cosines
    // (same normalized vectors, same fold order); cross-cell dups are the
    // documented recall trade
    assert(semantic.subsetOf(exact), (semantic -- exact).take(3).toString)
    assert(semantic.nonEmpty)
    // the self-join must stay a shuffled equi join on the cell id
    val p = Similarity.semanticDupPairs(e, 0.45).queryExecution.sparkPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("large-k cell assignment: literal argmax ≡ broadcast+max_by join ≡ native expression, incl. ties") {
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
    val c = Similarity.withNormalized(
      e.select(col("vec_id"), col("embedding")), "embedding", "nv")
      .select(col("vec_id").as("vid"), col("nv"))
    // k = 80 > LiteralArgmaxMaxK: the size the operators route to the
    // native CellArgmaxExpr; compare all three paths on one model
    val model = Similarity.ivfModel(e, nCentroids = 80, lloydIters = 2, trainCap = 256L)
    val viaLiteral = c.withColumn("cell", Similarity.cellArgmax(model, col("nv")))
      .select("vid", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaJoin = Similarity.assignCellsJoin(c, model)
      .select("vid", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaNative = c.withColumn("cell",
        graft.plans.VectorExpressions.cellArgmax(col("nv"), model))
      .select("vid", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaJoin == viaLiteral && viaJoin.size == 300)
    assert(viaNative == viaLiteral)
    // and the whole operators take the native path above the threshold:
    // no giant literal chain, no k-fold expansion aggregate — one
    // generated k×d loop per row
    val p = Similarity.semanticDupPairs(e, 0.45, nCentroids = 80, trainCap = 320L)
      .queryExecution.sparkPlan.toString
    assert(p.contains("cellargmaxexpr"), p.take(2000))
    assert(!p.contains("max_by"), p.take(2000))
    val ivf = Similarity.ivfTopK(
      e.filter(col("vec_id") < 4), e, k = 5, nCentroids = 80, nProbe = 16, trainCap = 320L)
    assert(ivf.queryExecution.sparkPlan.toString.contains("cellargmaxexpr"))
    val rows = ivf.collect()
    assert(rows.length == 4 * 5 && rows.forall(_.getInt(1) <= 5))
  }

  test("IVF degenerate inputs: single-vector corpus works, bad ids fail loudly") {
    val e = Tables.embeddings(spark, sf)
    // exactly one centroid (greatest() needs >= 2 args — single cell path)
    val one = e.filter(col("vec_id") === 0)
    assert(Similarity.ivfTopK(one, one, k = 5).count() == 0) // only self
    // a populated corpus with no ids < nCentroids is a misconfiguration,
    // not an empty result
    val high = e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    intercept[IllegalArgumentException] {
      Similarity.ivfTopK(high.limit(2), high, k = 5).count()
    }
  }

  test("materialized IVF index serves identical top-k to the inline form") {
    val e = Tables.embeddings(spark, sf)
    val idx = java.nio.file.Files.createTempDirectory("ivf-idx-spec").toString
    Similarity.writeIvfIndex(e, idx)
    // cells/ really is cell-partitioned: probe scans prune to directories
    val cellDirs = new java.io.File(s"$idx/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val queries = e.filter(col("vec_id") < 8)
    val inline = rows(Similarity.ivfTopK(queries, e, k = 5))
    val indexed = rows(Similarity.ivfTopKIndexed(spark, idx, queries, k = 5))
    assert(indexed == inline && indexed.nonEmpty)
  }

  test("exact limit: unpruned re-rank and IVF top-k equal brute force") {
    // 200 vectors plus an exact duplicate of each (id + 1000): every
    // neighbor has a twin at an identical cosine, so ranks inside each
    // twin pair are decided by the shared neighbor_id tie-break alone
    val base = Tables.embeddings(spark, sf).filter(col("vec_id") < 200)
    val corpus = base.unionByName(base.withColumn("vec_id", col("vec_id") + 1000L))
    val queries = corpus.filter(col("vec_id") < 8)
    val n = corpus.count().toInt
    assert(corpus.filter(aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")) === 0.0).isEmpty,
      "zero-norm vectors are covered by their own test")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val exact = rows(Similarity.bruteForceTopK(queries, corpus, k = 5))
    assert(exact.length == 8 * 5)
    assert(exact.groupBy(r => (r(0), r(3))).exists(_._2.size > 1),
      "the fixture must put tied cosines inside the top-k")
    val idx = java.nio.file.Files.createTempDirectory("ivf-exact-limit").toString
    Similarity.writeIvfIndex(corpus, idx)
    val cannotPrune = Seq(
      "sq8TopK rerank >= n" -> Similarity.sq8TopK(queries, corpus, k = 5, rerank = n),
      "binaryTopK rerank >= n" -> Similarity.binaryTopK(queries, corpus, k = 5, rerank = n),
      "pqTopK rerank >= n" -> Similarity.pqTopK(queries, corpus, k = 5, rerank = n),
      "ivfTopK nProbe = nCentroids" ->
        Similarity.ivfTopK(queries, corpus, k = 5, nCentroids = 16, nProbe = 16),
      "ivfTopKIndexed nProbe = nCentroids" ->
        Similarity.ivfTopKIndexed(spark, idx, queries, k = 5, nProbe = 16),
      "ivfpqTopK nProbe = nCentroids, rerank >= n" ->
        Similarity.ivfpqTopK(queries, corpus, k = 5, nCentroids = 16, nProbe = 16, rerank = n))
    cannotPrune.foreach { case (name, df) => assert(rows(df) == exact, name) }
    // the default cut keeps signatures useful: top-1 survives hamming
    // preselection on this corpus (sign-LSH at 64 planes is tight)
    val single = base.filter(col("vec_id") < 8)
    assert(rows(Similarity.binaryTopK(single, base, k = 1)) ==
      rows(Similarity.bruteForceTopK(single, base, k = 1)))
  }

  test("binary signatures reject non-64-dim vectors loudly") {
    import spark.implicits._
    // a 32-dim vector would silently sign-extend nulls to 0-bits (wrong
    // candidates, no error) — the signature asserts the width instead
    val corpus = Seq(
      (1L, Array.fill(64)(0.5)),
      (2L, Array.fill(32)(0.5))).toDF("vec_id", "embedding")
    val queries = Seq((0L, Array.fill(64)(1.0))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.binaryTopK(queries, corpus, k = 2).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("64 dimensions")), msgs.mkString(" | "))
  }

  test("indexed binary ANN: band candidates are COMPLETE at radius<=3 (== the radius-bounded scan)") {
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
    val idx = java.nio.file.Files.createTempDirectory("binary-idx-spec").toString
    Similarity.writeBinaryIndex(e, idx)
    // perturbed probes: each corpus vector with dim 1 sign-flipped is
    // hamming ~1 from its source; id offset so the source isn't
    // self-excluded
    val probes = e.filter(col("vec_id") < 8).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      concat(array(-element_at(col("embedding"), 1)),
        slice(col("embedding"), 2, 63)).as("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val indexed = rows(Similarity.binaryTopKIndexed(spark, idx, probes, k = 5))
    assert(indexed.nonEmpty, "every perturbed probe must find its source")
    // ground truth: the radius-bounded SCAN over all signatures,
    // computed inline from the same index tables
    val sigs = spark.read.parquet(s"$idx/sigs")
    val q = Similarity.withNormalized(
      probes.select(col("vec_id").as("query_id"), col("embedding")), "embedding", "qv")
    val qsig = spark.read.parquet(s"$idx/sigs") // corpus sigs for source lookup
    // scan: hamming of every (query, corpus) signature pair
    val qRows = q.collect().map(r => (r.getLong(0), r.getSeq[Double](2).toArray))
    val sigRows = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val vecs = spark.read.parquet(s"$idx/vecs").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    def sig64(v: Array[Double]): Long =
      (0 until 63).map(i => if (v(i) > 0) 1L << i else 0L).sum +
        (if (v(63) > 0) Long.MinValue else 0L)
    val want = qRows.flatMap { case (qid, qv) =>
      val qs = sig64(qv)
      val cands = sigRows
        .map { case (nid, sg) => (nid, java.lang.Long.bitCount(sg ^ qs)) }
        .filter(_._2 <= 3)
        .sortBy { case (nid, ham) => (ham, nid) }
        .take(50)
      cands
        .map { case (nid, _) =>
          val cos = qv.zip(vecs(nid)).map { case (a, b) => a * b }.sum
          (nid, cos)
        }
        .sortBy { case (nid, cos) => (-cos, nid) }
        .take(5).zipWithIndex
        .map { case ((nid, cos), i) => (qid, (i + 1).toLong, nid, cos) }
    }.sortBy(t => (t._1, t._2)).toSeq
    // ids and ranks exactly; cosine within float-fold tolerance (the
    // engine's dot may fold in a different order than the driver zip)
    assert(indexed.map(r => (r(0), r(1).asInstanceOf[Int].toLong, r(2))) ==
      want.map(t => (t._1, t._2, t._3)))
    indexed.zip(want).foreach { case (got, w) =>
      assert(math.abs(got(3).asInstanceOf[Double] - w._4) < 1e-5)
    }
    assert(qsig.count() == e.count())
    // the 1-bit MIH regime is enforced: radius 8 needs 2-bit enumeration
    intercept[IllegalArgumentException] {
      Similarity.binaryTopKIndexed(spark, idx, probes, k = 5, radius = 8)
    }
  }

  test("MIH key enumeration: radius-6 lookups are complete where exact band lookups provably miss") {
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
    val idx = java.nio.file.Files.createTempDirectory("binary-mih-spec").toString
    Similarity.writeBinaryIndex(e, idx)
    // five sign dims flipped: the planted source sits at hamming ~5 —
    // past the exact-lookup guarantee, inside the 1-bit enumeration's
    val probes = e.filter(col("vec_id") < 8).select(
      (col("vec_id") + 2000000L).as("vec_id"),
      concat(transform(slice(col("embedding"), 1, 5), x => -x),
        slice(col("embedding"), 6, 59)).as("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val mih = rows(Similarity.binaryTopKIndexed(spark, idx, probes, k = 5, radius = 6))
    assert(mih.nonEmpty, "enumerated probes must find the hamming-5 sources")
    // ground truth: the radius-6 scan over all signatures
    val sigRows = spark.read.parquet(s"$idx/sigs").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val vecs = spark.read.parquet(s"$idx/vecs").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val q = Similarity.withNormalized(
      probes.select(col("vec_id").as("query_id"), col("embedding")), "embedding", "qv")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](2).toArray))
    def sig64(v: Array[Double]): Long =
      (0 until 63).map(i => if (v(i) > 0) 1L << i else 0L).sum +
        (if (v(63) > 0) Long.MinValue else 0L)
    val want = q.flatMap { case (qid, qv) =>
      val qs = sig64(qv)
      sigRows.map { case (nid, sg) => (nid, java.lang.Long.bitCount(sg ^ qs)) }
        .filter(_._2 <= 6).sortBy { case (nid, ham) => (ham, nid) }.take(50)
        .map { case (nid, _) => (nid, qv.zip(vecs(nid)).map { case (a, b) => a * b }.sum) }
        .sortBy { case (nid, cos) => (-cos, nid) }
        .take(5).zipWithIndex
        .map { case ((nid, cos), i) => (qid, (i + 1).toLong, nid, cos) }
    }.sortBy(t => (t._1, t._2)).toSeq
    assert(mih.map(r => (r(0), r(1).asInstanceOf[Int].toLong, r(2))) ==
      want.map(t => (t._1, t._2, t._3)))
    // insufficiency of the exact-lookup regime on this fixture: at
    // radius 3 the hamming-5 sources are out of scope by construction
    val exact3 = rows(Similarity.binaryTopKIndexed(spark, idx, probes, k = 5, radius = 3))
    assert(exact3.size < mih.size,
      "fixture must sit past the exact-lookup radius for the MIH case to be non-vacuous")
  }

  test("binary index lifecycle: refresh == rebuild, tombstones == survivor build, compaction read-invisible") {
    import org.apache.spark.sql.functions.pmod
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
    val probes = e.filter(col("vec_id") < 8).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      concat(array(-element_at(col("embedding"), 1)),
        slice(col("embedding"), 2, 63)).as("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    def serve(dir: String) = rows(Similarity.binaryTopKIndexed(spark, dir, probes, k = 5))
    // rebuild tower over the full slice
    val full = java.nio.file.Files.createTempDirectory("binary-full").toString
    Similarity.writeBinaryIndex(e, full)
    // lifecycle index: build the evens, admit the odds as a batch
    val idx = java.nio.file.Files.createTempDirectory("binary-life").toString
    Similarity.writeBinaryIndex(e.filter(pmod(col("vec_id"), lit(2L)) === 0), idx)
    Similarity.refreshBinaryIndex(
      e.filter(pmod(col("vec_id"), lit(2L)) === 1), idx, batchId = 1L)
    val refreshed = serve(idx)
    assert(refreshed == serve(full) && refreshed.nonEmpty)
    // a REPLAYED admission replaces its own files exactly
    Similarity.refreshBinaryIndex(
      e.filter(pmod(col("vec_id"), lit(2L)) === 1), idx, batchId = 1L)
    assert(serve(idx) == refreshed)
    assert(spark.read.parquet(s"$idx/sigs").count() == e.count())
    // retraction: merge-on-read serving == an index BUILT over survivors
    val surv = java.nio.file.Files.createTempDirectory("binary-surv").toString
    Similarity.writeBinaryIndex(e.filter(pmod(col("vec_id"), lit(5L)) =!= 0), surv)
    Similarity.retractFromBinaryIndex(
      e.filter(pmod(col("vec_id"), lit(5L)) === 0).select("vec_id"), idx)
    val retracted = serve(idx)
    assert(retracted == serve(surv))
    assert(retracted != refreshed,
      "fixture must be non-vacuous: retraction removes planted neighbors")
    // duplicate retracts are absorbed by the distinct tombstone view
    Similarity.retractFromBinaryIndex(
      e.filter(pmod(col("vec_id"), lit(5L)) === 0).select("vec_id"), idx)
    assert(serve(idx) == retracted)
    // physical compaction: serving unchanged, tombstones applied for real
    Similarity.compactBinaryIndex(spark, idx)
    assert(serve(idx) == retracted)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/deleted")))
    assert(spark.read.parquet(s"$idx/sigs").count() ==
      e.filter(pmod(col("vec_id"), lit(5L)) =!= 0).count())
  }

  test("IVF range search: equals unbounded top-k cut by the radius, respects tombstones") {
    val e = Tables.embeddings(spark, sf)
    val idx = java.nio.file.Files.createTempDirectory("ivf-range-spec").toString
    Similarity.writeIvfIndex(e, idx)
    val queries = e.filter(col("vec_id") < 8)
    val tau = 0.3
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cosine")
        .orderBy("query_id", "neighbor_id").collect().map(_.toSeq).toSeq
    // k far above any probed-cell population: top-k becomes "all
    // candidates ranked", so range == that set cut at the radius
    val unbounded = Similarity.ivfTopKIndexed(spark, idx, queries, k = 1000000)
      .filter(col("cosine") >= tau)
    val range = Similarity.ivfRangeIndexed(spark, idx, queries, minCosine = tau)
    val before = rows(range)
    assert(before == rows(unbounded) && before.nonEmpty)
    // retraction: tombstoned neighbors drop from range hits too
    val victimId = before.map(_(1).asInstanceOf[Long]).min
    import spark.implicits._
    Similarity.retractFromIvfIndex(Seq(victimId).toDF("vec_id"), idx)
    val after = rows(Similarity.ivfRangeIndexed(spark, idx, queries, minCosine = tau))
    assert(!after.exists(_(1) == victimId))
    assert(after == before.filterNot(_(1) == victimId))
  }

  test("IVF refresh: base build + delta admission equals a full rebuild") {
    val e = Tables.embeddings(spark, sf)
    val refreshed = java.nio.file.Files.createTempDirectory("ivf-refresh-spec").toString
    // base = exactly the training slice, so the persisted model matches
    // the full build's; the other 244 vectors arrive as a delta
    Similarity.writeIvfIndex(e.filter(col("vec_id") < 256), refreshed)
    val cellsBefore = spark.read.parquet(s"$refreshed/cells").count()
    Similarity.refreshIvfIndex(e.filter(col("vec_id") >= 256), refreshed)

    val rebuilt = java.nio.file.Files.createTempDirectory("ivf-rebuild-spec").toString
    Similarity.writeIvfIndex(e, rebuilt)

    // member-for-member identical cell assignments...
    def cells(dir: String) = spark.read.parquet(s"$dir/cells")
      .select(col("neighbor_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(cellsBefore == 256 && cells(refreshed) == cells(rebuilt))

    // ...and identical served top-k
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val queries = e.filter(col("vec_id") < 8)
    assert(rows(Similarity.ivfTopKIndexed(spark, refreshed, queries, k = 5)) ==
      rows(Similarity.ivfTopKIndexed(spark, rebuilt, queries, k = 5)))
  }

  test("IVF retraction: tombstoned serving equals the same model over survivors, compaction applies it physically") {
    val e = Tables.embeddings(spark, sf)
    val idx = java.nio.file.Files.createTempDirectory("ivf-retract-spec").toString
    Similarity.writeIvfIndex(e, idx)
    val dead = e.filter(col("vec_id") % 10 === 7).select("vec_id")
    val nDead = dead.count()
    Similarity.retractFromIvfIndex(dead, idx)
    // duplicate retraction is absorbed by the distinct tombstone view
    Similarity.retractFromIvfIndex(dead, idx)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val queries = e.filter(col("vec_id") < 8)
    val served = rows(Similarity.ivfTopKIndexed(spark, idx, queries, k = 5))

    // ground truth: an index whose cells were built over survivors only,
    // under the SAME centroid model (copy centroids, rebuild cells) —
    // the membership-level contract retraction pins
    val truth = java.nio.file.Files.createTempDirectory("ivf-retract-truth").toString
    spark.read.parquet(s"$idx/centroids").write.parquet(s"$truth/centroids")
    spark.read.parquet(s"$idx/cells").withColumn("cell", col("cell").cast("long"))
      .filter(col("neighbor_id") % 10 =!= 7)
      .write.partitionBy("cell").parquet(s"$truth/cells")
    assert(served == rows(Similarity.ivfTopKIndexed(spark, truth, queries, k = 5)))
    assert(served.nonEmpty)
    // the retraction is not vacuous: retracted members still sit in the
    // physical cells (merge-on-read) yet none is served
    assert(spark.read.parquet(s"$idx/cells").filter(col("neighbor_id") % 10 === 7).count() > 0)
    assert(!served.exists(r => r(2).asInstanceOf[Long] % 10 == 7))

    // compaction: physical drop, tombstone dir gone, served results unchanged
    Similarity.compactIvfIndex(spark, idx)
    assert(!new java.io.File(s"$idx/deleted").exists())
    assert(spark.read.parquet(s"$idx/cells").filter(col("neighbor_id") % 10 === 7).count() == 0)
    assert(spark.read.parquet(s"$idx/cells").count() == e.count() - nDead)
    assert(rows(Similarity.ivfTopKIndexed(spark, idx, queries, k = 5)) == served)
  }

  test("IVF refresh into an untrained (empty) index fails loudly") {
    val e = Tables.embeddings(spark, sf)
    val idx = java.nio.file.Files.createTempDirectory("ivf-refresh-empty").toString
    Similarity.writeIvfIndex(e.filter(col("vec_id") < 0), idx) // empty corpus: no model
    val err = intercept[IllegalArgumentException] {
      Similarity.refreshIvfIndex(e.filter(col("vec_id") < 10), idx)
    }
    assert(err.getMessage.contains("no trained centroids"))
  }

  test("centroid drift: identical halves drift zero, a planted shift measures exactly") {
    import spark.implicits._
    // label 0: both halves sit at (1,1) -> drift 0
    // label 1: A half at (0,0), B half at (3,4) -> drift 5 (the 3-4-5 triangle)
    val rows = Seq(
      (0L, 0, Array(1.0f, 1.0f)), (1L, 0, Array(1.0f, 1.0f)),
      (2L, 0, Array(1.0f, 1.0f)), (3L, 0, Array(1.0f, 1.0f)),
      (10L, 1, Array(0.0f, 0.0f)), (12L, 1, Array(0.0f, 0.0f)),
      (11L, 1, Array(3.0f, 4.0f)), (13L, 1, Array(3.0f, 4.0f))
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidDrift(rows, col("vec_id") % 2 === 0)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(0) == ((2L, 2L, 0.0)))
    assert(got(1) == ((2L, 2L, 5.0)))
  }

  test("semantic decontamination: planted paraphrase flags with its source; distant vectors don't; ties take the lowest eval id") {
    import spark.implicits._
    // eval panel: two orthogonal axis vectors; train: a near-copy of
    // eval 100 (cos ~0.9988), an orthogonal-ish far vector, and a
    // vector EQUIDISTANT from both eval items (tie)
    val evalSet = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (200L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Array(1.0f, 0.05f, 0.0f, 0.0f)), // paraphrase of 100
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f)),  // orthogonal to both
      (3L, Array(1.0f, 1.0f, 0.0f, 0.0f))   // tie: cos 1/sqrt2 to both
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontam(train, evalSet, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 3L), "the orthogonal vector must not flag")
    assert(got(1L)._1 == 100L && got(1L)._2 > 0.99)
    assert(got(3L)._1 == 100L, "equal-cosine tie must resolve to the lowest eval id")
    assert(math.abs(got(3L)._2 - 1.0 / math.sqrt(2)) < 1e-6)
  }

  test("LSH buckets are deterministic across invocations") {
    val e = Tables.embeddings(spark, sf).limit(20)
    val b1 = e.select(Similarity.lshBucket(col("embedding"), 64).as("b")).collect().map(_.getLong(0))
    val b2 = e.select(Similarity.lshBucket(col("embedding"), 64).as("b")).collect().map(_.getLong(0))
    assert(b1.toSeq == b2.toSeq)
  }

  test("zero-norm vector normalizes to NULL and never crashes or ranks") {
    // Cosine against the zero vector is undefined. DuckDB's division by
    // zero yields NULL; ANSI Spark THROWS — one degenerate embedding row
    // (a failed embedder emits zeros) must not kill a 100 TB job. The
    // when-guard in withNormalized nulls the normalized vector instead:
    // downstream cosines go null, rank windows sort it last, thresholds
    // drop it. Found by scripts/differential_fuzz.py (round 17).
    import spark.implicits._
    val vecs = Seq(
      (0L, Array.fill(4)(0.0f)),          // zero norm
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val n = Similarity.withNormalized(vecs, "embedding", "nv").collect()
      .map(r => r.getLong(0) -> r.isNullAt(2)).toMap
    assert(n(0L) && !n(1L) && !n(2L), s"only the zero vector nulls: $n")
    // end-to-end: brute-force top-k over a corpus containing the zero
    // vector completes, and the zero vector's cosine is null (ranked
    // after every real neighbor)
    val topk = Similarity.bruteForceTopK(vecs.filter(col("vec_id") === 1L), vecs, k = 2)
      .collect().sortBy(_.getInt(1))
    assert(topk.length == 2)
    assert(topk.head.getLong(2) == 2L && !topk.head.isNullAt(3))
    assert(topk.last.getLong(2) == 0L && topk.last.isNullAt(3),
      "zero vector must rank last with NULL cosine")
  }
}
