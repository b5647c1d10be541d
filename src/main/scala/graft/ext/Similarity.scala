package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.{DataFiles, StandingIndex}

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Vector math is higher-order expressions (`zip_with` + `aggregate`) over
  * the arrays cast to double — element order is preserved, so the
  * left-to-right double summation is bit-identical to the DuckDB oracle's
  * `list_dot_product(CAST(... AS DOUBLE[]))`, letting cosine ranks compare
  * exactly.
  *
  * Scale design (100 TB): brute force is the correctness baseline —
  * queries are broadcast so the corpus never shuffles, and per-query top-k
  * is a window over (query, cosine) with rank pruning. The scale path is
  * sign-LSH ([[lshBuckets]]): hyperplanes derived from the portable hash
  * (no stored model), bucket join instead of full cross product; recall is
  * spec-tested against brute force.
  *
  * Serving spine: each top-k entry point owns only its CANDIDATE STAGE
  * (brute-force cross join, LSH buckets, IVF probes, SQ8 codes, sign
  * signatures, MIH bands, PQ codes) and hands it to the same shared
  * steps — the approximate pre-cut to `rerank` candidates per query
  * ([[rerankCut]]: approximate score, then neighbor_id ascending), the
  * full-precision re-rank join ([[rescore]]) and the exact cut
  * ([[topK]]). The ranking contract is written once, in [[topK]], and
  * is what every DuckDB oracle replays: per query (and per sweep
  * setting), exact cosine descending, ties to the smaller neighbor_id,
  * rank ≤ k, cosine reported rounded to 6 dp.
  */
object Similarity {

  /** Native codegen dot product (graft.plans.DotProductExpr); identical
    * left-to-right double summation to the higher-order
    * aggregate(zip_with) spelling it replaced, ~order-of-magnitude faster
    * on pairwise workloads.
    */
  def dot(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Unit-normalize `vecCol` (as array&lt;double&gt;) into `outCol` with the
    * norm evaluated once per ROW, not once per element. The plain
    * two-`withColumn` spelling does NOT guarantee that: CollapseProject
    * inlines a once-referenced alias into the transform lambda, and the
    * interpreted higher-order transform then re-evaluates
    * `sqrt(dot(v,v))` PER ELEMENT — a d× blow-up (measured 38 s of a
    * 44 s query at the ×32 corpus, where the same work bound to a real
    * attribute is ~1 s). The explode(array(...)) barrier is the house
    * rule for exactly this hazard (see Dedup.shingleRows): a Generate
    * node materializes `_nrm` as an attribute no optimizer rule will
    * substitute back into the lambda. array(norm) always has one
    * element (possibly null), so the row count is preserved.
    *
    * A zero-norm vector normalizes to NULL (the `when` guard): cosine
    * against it is undefined, downstream dots go null, and every rank /
    * threshold predicate drops it — in BOTH engines (DuckDB's division
    * by zero yields NULL; Spark's ANSI mode would THROW here, killing
    * the job on one degenerate row at 100 TB). Zero vectors therefore
    * never enter an index cell or a top-k: null cells fail the equi
    * join's isnotnull inference, null cosines sort last and fail `>=`.
    * Found by scripts/differential_fuzz.py (zero-vector corpus), r17.
    */
  def withNormalized(df: DataFrame, vecCol: String, outCol: String): DataFrame =
    df.withColumn("_nrm", explode(array(norm(col(vecCol).cast("array<double>")))))
      .withColumn(outCol, when(col("_nrm") > 0,
        transform(col(vecCol).cast("array<double>"), x => x / col("_nrm"))))
      .drop("_nrm")

  /** (`id`, `vec`): the unit-normalized vectors of `df` keyed by id. Two
    * spellings stay because they plan differently: renaming the id
    * BEFORE the normalize (the brute-force, LSH, SQ8 and binary paths)
    * leaves a Project under the Generate barrier, renaming it AFTER
    * (`renameFirst = false`, the IVF and PQ paths) folds the rename into
    * the projection above it.
    */
  private def unitVectors(
      df: DataFrame, idCol: String, vecCol: String, id: String, vec: String,
      renameFirst: Boolean): DataFrame =
    if (renameFirst)
      withNormalized(df.select(col(idCol).as(id), col(vecCol)), vecCol, vec).select(id, vec)
    else
      withNormalized(df.select(col(idCol), col(vecCol)), vecCol, vec)
        .select(col(idCol).as(id), col(vec))

  /** (query_id, qv): the normalized query side every entry point scores. */
  private def queryVectors(
      queries: DataFrame, idCol: String, vecCol: String, renameFirst: Boolean = true): DataFrame =
    unitVectors(queries, idCol, vecCol, "query_id", "qv", renameFirst)

  /** (neighbor_id, cv): the normalized corpus side every entry point scores. */
  private def corpusVectors(
      corpus: DataFrame, idCol: String, vecCol: String, renameFirst: Boolean = true): DataFrame =
    unitVectors(corpus, idCol, vecCol, "neighbor_id", "cv", renameFirst)

  /** (carry…, query_id, neighbor_id, cos): exact cosine of each pair
    * row carrying both unit vectors. Projected BEFORE any rank window, so
    * the top-k shuffle/sort carries (id, id, cos), never two 64-double
    * vectors per row.
    */
  private def cosines(pairs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    pairs.select(carry.map(col) ++
      Seq(col("query_id"), col("neighbor_id"), dot(col("qv"), col("cv")).as("cos")): _*)

  /** The exact cut — the ranking contract of the object doc, written
    * once: per (settings…, query_id), `row_number` by cos desc then
    * neighbor_id asc, keep rank ≤ k, report round(cos, 6) AS cosine.
    * `settings` are the parameter columns a sweep ranks each setting
    * under (nprobe, radius); top-k outputs pass none.
    */
  private def topK(scored: DataFrame, k: Int, settings: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy((settings :+ "query_id").map(col): _*)
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(settings.map(col) ++ Seq(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine")): _*)
  }

  /** The approximate pre-cut: per (settings…, query_id) keep the `rerank`
    * best candidates by the approximate `score` ordering (`ascore` desc
    * or `ham` asc), ties to the smaller neighbor_id. Output: (settings…,
    * query_id, neighbor_id) — the slice [[rescore]] re-scores exactly.
    */
  private def rerankCut(
      scored: DataFrame, score: Column, rerank: Int, settings: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy((settings :+ "query_id").map(col): _*)
      .orderBy(score, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= rerank)
      .select((settings ++ Seq("query_id", "neighbor_id")).map(col): _*)
  }

  /** The full-precision re-rank join: candidates ⋈ corpus vectors
    * (neighbor_id, cv) ⋈ query vectors (query_id, qv) → [[cosines]].
    * `broadcastCandidates` keeps lshTopK's shape: its bucket-join
    * candidate set is queries × few, so it broadcasts into the corpus
    * side instead of the corpus joining into it.
    */
  private def rescore(
      cand: DataFrame, cv: DataFrame, qv: DataFrame,
      settings: Seq[String] = Nil, broadcastCandidates: Boolean = false): DataFrame = {
    val withCv =
      if (broadcastCandidates) cv.join(broadcast(cand), Seq("neighbor_id"))
      else cand.join(cv, Seq("neighbor_id"))
    cosines(withCv.join(qv, Seq("query_id")), settings)
  }

  /** The contract-schema empty top-k frame an empty corpus (or index)
    * degrades to; each caller keeps its own non-empty guard.
    */
  private def emptyTopK(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Int, Long, Double)].toDF("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Exact top-k neighbors by cosine for each query vector (self excluded).
    * `queries` and `corpus` both have (idCol, vecCol); queries are
    * broadcast. Output: query_id, rank, neighbor_id, cosine.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queryVectors(queries, idCol, vecCol))
    val c = corpusVectors(corpus, idCol, vecCol)
    topK(cosines(c.join(q, col("query_id") =!= col("neighbor_id"))), k)
  }

  /** Deterministic pseudo-random hyperplane weight for (plane p, dim d) in
    * [-1, 1): (md5_32("p_d") mod 2001 - 1000) / 1000 — computed on the
    * driver (plain Java md5, same derivation any engine can replay) and
    * embedded as an array literal, so the bucket expression is one zip_with
    * per plane instead of a 64-term md5 expression tree per plane (which
    * bloated task binaries to ~6 MiB).
    */
  def planeWeights(p: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { d =>
      val hex = md.digest(s"${p}_$d".getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
    }.toArray
  }

  /** Sign-LSH bucket key from `nPlanes` hyperplanes: bit p = sign of the
    * projection onto plane p. Vectors in the same bucket are ANN
    * candidates. No stored model — planes are pure functions of (p, dim).
    */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int = 4): Column =
    lshBucketForTable(vec, dim, nPlanes, table = 0)

  /** ANN top-k via sign-LSH: candidates share a bucket with the query in at
    * least one of `nTables` plane-sets, then exact cosine re-ranks the
    * candidates. Recall < 1 by construction; spec-tested against
    * [[bruteForceTopK]]. Defaults (4 planes × 6 tables) target ~50%+
    * recall@5 on weakly-clustered data — raise planes for clustered
    * corpora where neighbors are truly close.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      dim: Int,
      nPlanes: Int = 4,
      nTables: Int = 6,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    def bucketed(df: DataFrame, id: String, vec: String) =
      withNormalized(df.select(col(idCol).as(id), col(vecCol)), vecCol, vec)
        .select(
          col(id), col(vec),
          explode(array((0 until nTables).map { t =>
            struct(lit(t).as("tbl"),
              lshBucketForTable(col(vec), dim, nPlanes, t).as("bucket"))
          }: _*)).as("bk"))
        .select(col(id), col(vec), col("bk.tbl"), col("bk.bucket"))

    // Bucket join carries ONLY (tbl, bucket, id) — vectors re-attach after
    // candidate dedup. The candidate set is queries×few, so it broadcasts
    // into both re-attach joins and the corpus never shuffles.
    val q = broadcast(bucketed(queries, "query_id", "qv"))
    val c = bucketed(corpus, "neighbor_id", "cv")
    val cand = c.select("neighbor_id", "tbl", "bucket")
      .join(q.select("query_id", "tbl", "bucket"), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    topK(rescore(cand, corpusVectors(corpus, idCol, vecCol),
      broadcast(queryVectors(queries, idCol, vecCol)), broadcastCandidates = true), k)
  }

  /** Per-table variant of [[lshBucket]] — table index salts the plane id. */
  def lshBucketForTable(vec: Column, dim: Int, nPlanes: Int, table: Int): Column = {
    val v = vec.cast("array<double>")
    val bits = (0 until nPlanes).map { p =>
      val w = typedLit(planeWeights(table * 1000 + p, dim))
      when(dot(v, w) > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Left-to-right driver-side dot — the identical summation order to
    * the codegen'd DotProductExpr and DuckDB's list_dot_product, so
    * driver-trained model values replay exactly in both engines.
    */
  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** `lloydIters` rounds of spherical k-means over the (vec_id-sorted)
    * training vectors, seeded with the current centroids. Every step is
    * order-pinned so any engine replays it bit-for-bit: assignment
    * iterates centroids in cent_id order keeping the first maximum
    * (= ROW_NUMBER ... ORDER BY dot DESC, cent_id ASC); per-dimension
    * means fold members in vec_id order starting from 0.0 (= DuckDB
    * list_reduce over list(val ORDER BY vec_id)); the mean is then
    * re-normalized with the same left-to-right norm. Empty or
    * degenerate (zero-norm) cells keep their previous centroid.
    */
  private def lloyd(
      train: Array[(Long, Array[Double])],
      init: Array[(Long, Array[Double])],
      lloydIters: Int): Array[(Long, Array[Double])] = {
    // no seeds (caller handles the misconfiguration/empty contract) or
    // nothing to train on: the seeds ARE the model
    if (init.isEmpty || train.isEmpty) return init
    var cents = init
    for (_ <- 0 until lloydIters) {
      val members = Array.fill(cents.length)(scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
      train.foreach { case (_, v) =>
        var best = 0
        var bestDot = Double.NegativeInfinity
        var ci = 0
        while (ci < cents.length) {
          val d = dotSeq(v, cents(ci)._2)
          if (d > bestDot) { bestDot = d; best = ci }
          ci += 1
        }
        members(best) += v
      }
      cents = cents.zipWithIndex.map { case ((cid, old), ci) =>
        val m = members(ci)
        if (m.isEmpty) (cid, old)
        else {
          val mu = Array.tabulate(old.length) { d =>
            m.foldLeft(0.0)((acc, v) => acc + v(d)) / m.size
          }
          val nrm = math.sqrt(mu.foldLeft(0.0)((acc, x) => acc + x * x))
          if (nrm == 0.0) (cid, old) else (cid, mu.map(_ / nrm))
        }
      }
    }
    cents
  }

  /** Driver-collected unit vectors with id &lt; `cap`, sorted by id —
    * identical arithmetic to [[withNormalized]] (left-to-right norm over
    * the widened doubles, then x/nrm per element). Zero-norm vectors are
    * EXCLUDED, mirroring withNormalized's NULL guard: they cannot be
    * unit-normalized, and an unguarded divide would seed NaN centroids
    * that poison every k-means assignment downstream.
    */
  def normalizedVectors(
      df: DataFrame,
      cap: Long,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[(Long, Array[Double])] =
    df.filter(col(idCol) < cap).select(col(idCol), col(vecCol))
      .collect()
      .map { r =>
        val id = r.get(0) match { case l: Long => l; case i: Int => i.toLong }
        val raw = r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray
        val nrm = math.sqrt(raw.foldLeft(0.0)((acc, x) => acc + x * x))
        (id, nrm, raw)
      }
      .collect { case (id, nrm, raw) if nrm > 0 => (id, raw.map(_ / nrm)) }
      .sortBy(_._1)

  /** The IVF index model: the first `nCentroids` corpus vectors refined
    * by [[lloyd]] over the id &lt; `trainCap` training slice.
    */
  def ivfModel(
      corpus: DataFrame,
      nCentroids: Int = 16,
      lloydIters: Int = 2,
      trainCap: Long = 256L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[(Long, Array[Double])] = {
    val train = normalizedVectors(corpus, trainCap, idCol, vecCol)
    lloyd(train, train.filter(_._1 < nCentroids), lloydIters)
  }

  /** Mean best-cell cosine of the training slice under `cents` — the
    * spherical-k-means objective; [[lloyd]] is non-decreasing in it.
    */
  def cellCohesion(
      train: Array[(Long, Array[Double])],
      cents: Array[(Long, Array[Double])]): Double =
    if (train.isEmpty || cents.isEmpty) 0.0
    else train.map { case (_, v) => cents.map(c => dotSeq(v, c._2)).max }.sum / train.length

  /** Map-side nearest-centroid assignment: argmax over
    * struct(cdot, -cent_id) — max dot, ties to the SMALLEST cent_id,
    * matching the oracle's ROW_NUMBER() (dot DESC, cent_id ASC).
    * `greatest()` evaluates each child ONCE; a when-chain reduce would
    * copy the accumulated subtree per level (2^16 literal copies →
    * codegen OOM). The centroids ride along as literals, so assignment
    * is a single scan pass with zero shuffle.
    */
  private[graft] def cellArgmax(centroids: Array[(Long, Array[Double])], vec: Column): Column = {
    val scored = centroids.map { case (cid, w) =>
      struct(dot(vec, typedLit(w)).as("cdot"), lit(-cid).as("negid"))
    }
    // greatest() requires >= 2 args; one centroid means one cell
    if (scored.length == 1) -scored.head.getField("negid")
    else -greatest(scored.toIndexedSeq: _*).getField("negid")
  }

  /** Above this many centroids the literal-argmax expression leaves
    * whole-stage codegen (method size) and interpretation makes the
    * map-side assignment the bottleneck — measured 7× WORSE than the
    * fixed-k artifact it was meant to fix at k=128. The join form below
    * takes over there.
    */
  private[graft] val LiteralArgmaxMaxK = 64

  /** Cell-assignment column behind the same explode(array(...)) barrier
    * as [[withNormalized]]: a downstream equi join on `cell` infers
    * `isnotnull(cell)` and, without the barrier, pushes it below the
    * projection by SUBSTITUTING the whole argmax(+normalize) subtree
    * into a scan-level Filter — every vector then pays assignment (and
    * the lambda normalize) twice per side. With the Generate node the
    * null filter lands on the materialized attribute instead. Literal
    * chain while it stays codegen-sized, the native
    * [[graft.plans.CellArgmaxExpr]] loop beyond (bit-equal by
    * construction; spec-asserted).
    */
  private[graft] def withCell(
      c: DataFrame, centroids: Array[(Long, Array[Double])], vecName: String): DataFrame = {
    val cellExpr =
      if (centroids.length <= LiteralArgmaxMaxK) cellArgmax(centroids, col(vecName))
      else graft.plans.VectorExpressions.cellArgmax(col(vecName), centroids)
    c.withColumn("cell", explode(array(cellExpr)))
  }

  /** Cell assignment for LARGE centroid sets (k > [[LiteralArgmaxMaxK]]):
    * the centroids become a broadcast TABLE instead of literals — corpus
    * crossJoin(broadcast(centroids)) scores one native codegen dot per
    * (vector, centroid) and a `max_by` aggregate keyed by the vector id
    * picks the cell. The k-fold row expansion exists only BEFORE the
    * partial aggregate (map-side combine collapses it to one row per
    * vector, so the shuffle carries corpus cardinality, never corpus×k).
    * Tie-break identical to [[cellArgmax]]: highest dot, then lowest
    * centroid id (spec-asserted equal on the same model).
    */
  private[graft] def assignCellsJoin(
      c: DataFrame, centroids: Array[(Long, Array[Double])],
      idName: String = "vid", vecName: String = "nv"): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val cents = spark.createDataset(centroids.toSeq).toDF("cent_id", "centv")
    // the k-fold expansion carries ONLY (id, cent_id, score) — the
    // vector is consumed by the dot and dropped before the aggregate
    // (an earlier first(vec) carry pushed the full embedding through
    // every expanded row and a wide aggregate state: ~20× the bytes
    // for k=250/d=64); the winning cell re-attaches to the vector by
    // one id-keyed join of two corpus-cardinality sides
    val cells = c.crossJoin(broadcast(cents))
      .select(col(idName), col("cent_id"),
        struct(dot(col(vecName), col("centv")).as("cdot"),
          (-col("cent_id")).as("negid")).as("score"))
      .groupBy(idName)
      .agg(max_by(col("cent_id"), col("score")).as("cell"))
    c.join(cells, idName)
      .select(col(idName), col(vecName), col("cell"))
  }

  /** SemDeDup-style semantic deduplication: embeddings are assigned
    * map-side to their nearest trained-centroid cell ([[ivfModel]] +
    * [[cellArgmax]] — embedded literals, zero assignment shuffle), and
    * candidate pairs form ONLY within a cell, so the all-pairs cosine
    * matrix never materializes. Within-cell pairs with cosine ≥
    * `threshold` are the semantic duplicates (cell id included in the
    * output: it is the semantic cluster the pair collided in).
    *
    * Scale: cells play the role LSH bands play for MinHash — per-cell
    * width is corpus/nCentroids in expectation, so join work is
    * Σ cell² ≪ n². Cross-cell near-dups are the documented recall trade
    * (SemDeDup accepts it; raise nCentroids to tighten cells, lower it
    * to raise recall). The self-join is hinted shuffle_hash: both sides
    * are corpus-sized and must never broadcast.
    */
  /** SEMANTIC decontamination — the embedding-space counterpart of the
    * n-gram eval-overlap detectors (text_contamination / overlapSpans):
    * flag every train vector within cosine `threshold` of ANY eval
    * vector, with its best-matching benchmark item. Paraphrased leaks
    * share no n-grams, so the gram detectors structurally miss them;
    * embedding proximity is the standard second net (the semantic-dedup
    * observation applied across the train/eval boundary).
    *
    * Scale shape: benchmarks are TINY next to a pretraining corpus, so
    * the eval side BROADCASTS (the [[Dedup.overlapSpans]] economy moved
    * to vectors) and the train pass is map-side — |eval| codegen'd dots
    * per train vector, no train-keyed shuffle of anything but the
    * per-vector best-match row feeding the final aggregate. No cell
    * pruning and therefore NO recall trade: unlike the SemDeDup
    * self-join (where cells keep the n² self-pair matrix at bay),
    * train×eval is linear in the corpus with a small constant, so
    * exactness costs nothing structural.
    *
    * Ties (equal cosine to two eval items) resolve to the LOWEST eval
    * id via the lexicographic struct max — order-independent, so the
    * result is partition-layout-invariant and the oracle replays it.
    */
  def semanticDecontam(
      train: DataFrame,
      evalSet: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val ev = withNormalized(evalSet.select(col(idCol), col(vecCol)), vecCol, "env")
      .select(col(idCol).as("eval_id"), col("env"))
    val tr = withNormalized(train.select(col(idCol), col(vecCol)), vecCol, "tnv")
      .select(col(idCol), col("tnv"))
    tr.crossJoin(broadcast(ev))
      .select(col(idCol), col("eval_id"), dot(col("tnv"), col("env")).as("cos"))
      .groupBy(idCol)
      .agg(max(struct(col("cos"), (-col("eval_id")).as("neg"))).as("m"))
      .filter(col("m.cos") >= threshold)
      .select(col(idCol), (-col("m.neg")).as("matched_eval"),
        round(col("m.cos"), 6).as("cosine"))
  }

  def semanticDupPairs(
      embeddings: DataFrame,
      threshold: Double,
      nCentroids: Int = 16,
      lloydIters: Int = 2,
      trainCap: Long = 256L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(trainCap >= nCentroids, "training slice must cover the centroid seeds")
    val c = withNormalized(embeddings.select(col(idCol), col(vecCol)), vecCol, "nv")
      .select(col(idCol).as("vid"), col("nv"))
    val centroids = ivfModel(embeddings, nCentroids, lloydIters, trainCap, idCol, vecCol)
    if (centroids.isEmpty) {
      require(c.isEmpty,
        s"semanticDupPairs: corpus is non-empty but has no ids < $nCentroids to seed centroids")
      import c.sparkSession.implicits._
      return Seq.empty[(Long, Long, Long, Double)].toDF("vec_a", "vec_b", "cell", "cosine")
    }
    val assigned = withCell(c, centroids, "nv")
    val a = assigned.select(col("vid").as("vec_a"), col("nv").as("nv_a"), col("cell"))
    val b = assigned.select(col("vid").as("vec_b"), col("nv").as("nv_b"), col("cell"))
    a.hint("shuffle_hash").join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("cell"),
        dot(col("nv_a"), col("nv_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cell"), round(col("cos"), 6).as("cosine"))
  }

  /** IVF (inverted-file) ANN: corpus vectors are assigned to their
    * nearest centroid cell; a query probes only its `nProbe` closest
    * cells and exact-re-ranks the candidates. Centroids are seeded with
    * the first `nCentroids` corpus vectors and refined with
    * `lloydIters` deterministic spherical-k-means rounds over the
    * vec_id &lt; `trainCap` slice ([[lloyd]]) — a real trained index, yet
    * still fully order-pinned, so DuckDB can replay the whole path
    * (training included) and hash-check the result exactly.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      lloydIters: Int = 2,
      trainCap: Long = 256L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(trainCap >= nCentroids, "training slice must cover the centroid seeds")
    val c = corpusVectors(corpus, idCol, vecCol, renameFirst = false)

    // The centroid set IS the index's small model — train it on the
    // driver (trainCap rows, the standard train-then-broadcast shape)
    // and embed as literals, so cell assignment is a single map-side
    // pass over the corpus (16 codegen'd dots + an argmax) instead of a
    // corpus×centroids cross join ranked through a window (which
    // shuffled every vector 16×).
    val centroids: Array[(Long, Array[Double])] =
      ivfModel(corpus, nCentroids, lloydIters, trainCap, idCol, vecCol)

    if (centroids.isEmpty) {
      // no centroid ids in [0, nCentroids): legitimate ONLY when the
      // corpus itself is empty (degrade to the contract-schema empty
      // frame). A populated corpus with no low ids is a caller
      // misconfiguration — fail loudly rather than silently return
      // zero recall.
      require(c.isEmpty,
        s"ivfTopK: corpus is non-empty but has no ids < $nCentroids to seed centroids")
      return emptyTopK(c.sparkSession)
    }

    // same large-k switchover as semanticDupPairs: literal argmax while
    // the expression stays codegen-sized, broadcast-table + max_by above
    val assigned = withCell(c, centroids, "cv")
    topK(ivfCandidates(assigned, centroids, queries, nProbe, idCol, vecCol), k)
  }

  /** The IVF probe list (query_id, qv, cell, prk): each query's `nProbe`
    * nearest cells by (qdot desc, cent_id asc), `prk` the probe rank.
    * Queries are few, so the window runs over a broadcast-sized frame.
    */
  private def probeList(
      q: DataFrame, centroids: Array[(Long, Array[Double])], nProbe: Int): DataFrame = {
    val cents = broadcast(q.sparkSession.createDataFrame(centroids.toSeq).toDF("cent_id", "centv"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("qdot").desc, col("cent_id").asc)
    q.crossJoin(cents)
      .withColumn("qdot", dot(col("qv"), col("centv")))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nProbe)
      .select(col("query_id"), col("qv"), col("cent_id").as("cell"), col("prk"))
  }

  /** The probed-candidate stream (query_id, neighbor_id, cos) every IVF
    * serving shape cuts from: [[ivfTopK]] and [[ivfTopKIndexed]] rank it
    * to top-k, [[ivfRangeIndexed]] filters it by a cosine radius.
    * Candidates are exact cosines over the probed cells' members only.
    */
  private def ivfCandidates(
      assigned: DataFrame,
      centroids: Array[(Long, Array[Double])],
      queries: DataFrame,
      nProbe: Int,
      idCol: String,
      vecCol: String,
      // carry the probed cell's rank per candidate row — lets ivfSweep
      // derive EVERY smaller-nProbe candidate set from one maxed probe
      // pass (membership at np is prk <= np), instead of re-joining the
      // assignment table once per setting
      carryProbeRank: Boolean = false): DataFrame = {
    val probes = probeList(
      broadcast(queryVectors(queries, idCol, vecCol, renameFirst = false)), centroids, nProbe)
    // candidates = corpus vectors in probed cells; exact scoring. Project
    // to (ids, cos) before any downstream shuffle — no vectors move.
    cosines(assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id")),
      if (carryProbeRank) Seq("prk") else Nil)
  }

  /** The persisted centroid model of a materialized IVF index, in
    * cent_id order.
    */
  private def readCentroids(spark: SparkSession, indexDir: String): Array[(Long, Array[Double])] =
    Tables.read(spark, s"$indexDir/centroids")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** The live members (neighbor_id, cv, cell) of a materialized IVF
    * index. Partition-column inference reads cell=N directories as int,
    * so the assignment's long type is restored for the probe join; then
    * merge-on-read tombstones ([[retractFromIvfIndex]]) drop retracted
    * members via a broadcast anti join — the tombstone set is
    * deletion-request-sized, never corpus-sized.
    */
  private def liveCells(spark: SparkSession, indexDir: String): DataFrame =
    StandingIndex.dropRetracted(
      Tables.read(spark, s"$indexDir/cells").withColumn("cell", col("cell").cast("long")),
      StandingIndex.tombstones(spark, indexDir, "vec_id"), "neighbor_id", "vec_id")

  /** RANGE (radius) search from the MATERIALIZED IVF index: every corpus
    * vector within the probed cells whose exact cosine to the query is
    * ≥ `minCosine` — the "all matches above a similarity floor" serving
    * shape (dedup candidate pulls, near-duplicate audits, RAG recall
    * floors) that top-k cannot express because the hit count per query
    * is data-dependent. Same trained model, tombstone merge-on-read and
    * cell-pruned scan as [[ivfTopKIndexed]]; the only difference is the
    * cut: a scalar threshold instead of a rank window, so NO window ever
    * touches the candidate stream (the single remaining window ranks the
    * broadcast-sized probe list — |queries| × nCentroids rows) and a
    * per-query hit explosion can never single-partition a rank.
    * Approximate in the same sense as top-k (recall bounded by the
    * probed cells); exactly replayed by the DuckDB oracle.
    */
  def ivfRangeIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      minCosine: Double,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val centroids = readCentroids(spark, indexDir)
    if (centroids.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double)]
        .toDF("query_id", "neighbor_id", "cosine")
    }
    ivfCandidates(liveCells(spark, indexDir), centroids, queries, nProbe, idCol, vecCol)
      .filter(col("cos") >= minCosine)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 6).as("cosine"))
  }

  /** Parameter-sweep evaluation of the IVF probe count: for each
    * `nProbes` setting, recall@k of the probed search against the exact
    * brute-force top-k over the same corpus, plus the CANDIDATE COUNT
    * the setting paid (exact cosines scored) — the recall/cost curve a
    * user reads to pick nProbe at their scale, produced by the engine's
    * own operators so the whole sweep is oracle-replayable.
    *
    * One row per setting: (nprobe, n_candidates, n_hit, recall).
    * recall = n_hit / |exact top-k rows| (the panel's attainable truth).
    *
    * Cost shape: the model trains ONCE and the cell assignment is
    * computed once and pinned (localCheckpoint — corpus-sized but
    * column-pruned to (id, vector, cell)); each setting then pays only
    * its probe-sized candidate join. Ground truth is ONE brute-force
    * pass. At 100 TB this runs on a sampled query panel (the eval
    * contract of sim_recall_eval) — sweep cost is panel-sized per
    * setting, never corpus × settings.
    */
  def ivfSweep(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nProbes: Seq[Int],
      nCentroids: Int = 16,
      lloydIters: Int = 2,
      trainCap: Long = 256L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nProbes.nonEmpty, "ivfSweep needs at least one nProbe setting")
    val c = corpusVectors(corpus, idCol, vecCol, renameFirst = false)
    val centroids: Array[(Long, Array[Double])] =
      ivfModel(corpus, nCentroids, lloydIters, trainCap, idCol, vecCol)
    if (centroids.isEmpty) {
      // the ivfTopK empty-corpus contract: legitimate ONLY when the
      // corpus itself is empty — degrade to the contract-schema empty
      // sweep; a populated corpus without seed ids is a caller error
      require(c.isEmpty,
        s"ivfSweep: corpus is non-empty but has no ids < $nCentroids to seed centroids")
      import c.sparkSession.implicits._
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("nprobe", "n_candidates", "n_hit", "recall")
    }
    // shared by every setting: assign cells once, pin the result
    val assigned = withCell(c, centroids, "cv").localCheckpoint()
    val exact = bruteForceTopK(queries, corpus, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    // ONE nProbe-tagged pipeline instead of a subplan per setting: the
    // candidate pass runs ONCE at max(nProbes) carrying each row's probe
    // rank (membership at np is prk <= np — smaller settings are nested
    // prefixes of the maxed probe list), each candidate row explodes
    // into the settings it belongs to, and the rank window partitions by
    // (nprobe, query_id) — identical ordering keys, identical per-setting
    // top-k. Counts fall out of grouped aggregates instead of one
    // assignment re-join plus single-row aggregates per setting. Same
    // rows, including the degenerate empty-exact-panel guard.
    val candAll = ivfCandidates(assigned, centroids, queries, nProbes.max,
      idCol, vecCol, carryProbeRank = true)
    val npArr = array(nProbes.map(v => lit(v.toLong)): _*)
    val tagged = candAll.withColumn("nprobe",
      explode(filter(npArr, v => col("prk") <= v)))
    val nCand = tagged.groupBy("nprobe").agg(count(lit(1)).as("n_candidates"))
    val top = topK(tagged, k, Seq("nprobe")).select("nprobe", "query_id", "neighbor_id")
    val hits = exact.join(top, Seq("query_id", "neighbor_id"))
      .groupBy("nprobe").agg(count(lit(1)).as("n_hit"))
    val nTruth = exact.agg(count(lit(1)).as("n_truth"))
    import assigned.sparkSession.implicits._
    recallReport(nProbes.map(_.toLong).toDF("nprobe"), nCand, "n_candidates", hits,
      Seq(nTruth))
  }

  /** The recall report both sweeps share: each setting (the one column of
    * `settings`) left-joined to its `countCol` count and its `n_hit`, and
    * crossed with the single-row `totals` (the exact panel's `n_truth`,
    * plus any count reported as is). A degenerate corpus can leave the
    * exact panel EMPTY (one vector, self excluded): the oracle's hits CTE
    * then has no rows, so no row survives `n_truth > 0`, and nothing
    * divides by the zero. Columns: the setting, the reported totals,
    * `countCol`, `n_hit`, `recall` (6 dp).
    */
  private def recallReport(settings: DataFrame, counts: DataFrame, countCol: String,
      hits: DataFrame, totals: Seq[DataFrame]): DataFrame = {
    val key = settings.columns.head
    val joined = settings
      .join(broadcast(counts), Seq(key), "left")
      .join(broadcast(hits), Seq(key), "left")
    val reported = totals.flatMap(_.columns).filterNot(_ == "n_truth")
    val nHit = coalesce(col("n_hit"), lit(0L))
    totals.foldLeft(joined)((df, t) => df.crossJoin(broadcast(t)))
      .filter(col("n_truth") > 0)
      .select((key +: reported).map(col) ++ Seq(
        coalesce(col(countCol), lit(0L)).as(countCol),
        nHit.as("n_hit"),
        round(nHit.cast("double") / col("n_truth"), 6).as("recall")): _*)
  }

  /** Materialize the IVF index: `centroids/` (the trained model, tiny)
    * and `cells/` — the corpus's normalized vectors PARTITIONED BY their
    * cell assignment, so a probe of `nProbe` cells is a partition-pruned
    * scan touching only those directories. Built once per corpus (the
    * train + assign cost [[ivfTopK]] pays inline on every call);
    * serving then pays only the probe: this is the offline-build /
    * online-serve split every production ANN deployment runs.
    */
  def writeIvfIndex(
      corpus: DataFrame,
      dir: String,
      nCentroids: Int = 16,
      lloydIters: Int = 2,
      trainCap: Long = 256L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    require(trainCap >= nCentroids, "training slice must cover the centroid seeds")
    val centroids = ivfModel(corpus, nCentroids, lloydIters, trainCap, idCol, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    // centroids.toSeq through the encoder keeps the (cent_id, centv)
    // schema even when the corpus — and therefore the model — is empty
    spark.createDataset(centroids.toSeq).toDF("cent_id", "centv")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    val c = corpusVectors(corpus, idCol, vecCol)
    if (centroids.isEmpty) {
      require(c.isEmpty,
        s"writeIvfIndex: corpus is non-empty but has no ids < $nCentroids to seed centroids")
      return // empty model: no cells to write, probes return empty
    }
    withCell(c, centroids, "cv")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** Incremental admission into a MATERIALIZED IVF index — the
    * delta-refresh posture of the LSH index
    * ([[Dedup.incrementalNearDupIndexed]]) and the inverted index
    * ([[Retrieval.refreshInvertedIndex]]) applied to ANN: the batch is
    * assigned against the PERSISTED centroid model (the model is NOT
    * retrained — the production IVF contract: retrain rarely offline,
    * admit continuously) and its normalized vectors APPEND into the
    * cell-partitioned layout, so the refresh cost is the batch's own
    * normalize + argmax + append. The standing corpus is never
    * rescanned, and probes ([[ivfTopKIndexed]]) see old and new members
    * of a cell identically. When the batch lies outside the training
    * slice, a refreshed index serves the exact results of a full
    * rebuild (same model, same member set — spec- and oracle-gated).
    */
  def refreshIvfIndex(
      newVecs: DataFrame,
      indexDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val centroids = readCentroids(newVecs.sparkSession, indexDir)
    val c = corpusVectors(newVecs, idCol, vecCol)
    if (centroids.isEmpty) {
      // an empty model has no cells to route into — admitting an empty
      // batch is a no-op (the empty-corpus degrade writeIvfIndex
      // established), but a real batch must fail loudly: dropping it
      // silently would hide it from every future probe
      require(c.isEmpty,
        "refreshIvfIndex: index has no trained centroids — rebuild with writeIvfIndex instead")
      return
    }
    withCell(c, centroids, "cv")
      .write.mode("append").partitionBy("cell").parquet(s"$indexDir/cells")
  }

  /** RETRACT vectors from a MATERIALIZED IVF index — deletion propagated
    * to ANN serving as [[StandingIndex]] tombstones: [[ivfTopKIndexed]]
    * anti-joins the probed cell slice against them. No cell partition is
    * rewritten and the centroid MODEL is untouched (the production IVF
    * contract: retrain rarely offline, admit and retract continuously).
    * Probes served under tombstones are EXACTLY the full-build model
    * over the surviving members (oracle-gated); [[compactIvfIndex]]
    * later applies the tombstones physically.
    */
  def retractFromIvfIndex(vecIds: DataFrame, indexDir: String, idCol: String = "vec_id"): Unit =
    StandingIndex.retract(vecIds.select(col(idCol).as("vec_id")), indexDir)

  /** Squash the IVF index ([[StandingIndex.compact]]): cells drop
    * tombstoned members (also collapsing any [[refreshIvfIndex]] append
    * deltas into one file set per cell), and centroids carry over
    * unchanged (compaction is membership-level — the model retrains
    * only via a full [[writeIvfIndex]] rebuild).
    */
  def compactIvfIndex(spark: SparkSession, indexDir: String): Unit =
    StandingIndex.compact(spark, indexDir) { tmp =>
      Tables.read(spark, s"$indexDir/centroids")
        .coalesce(1).write.parquet(s"$tmp/centroids")
      // an empty-corpus index has a centroid table but no cells
      // directory (writeIvfIndex's empty-model degrade) — compaction
      // then only clears tombstones
      if (DataFiles.exists(spark, s"$indexDir/cells"))
        liveCells(spark, indexDir).write.partitionBy("cell").parquet(s"$tmp/cells")
    }

  /** Probe a MATERIALIZED IVF index ([[writeIvfIndex]]) — identical
    * results to [[ivfTopK]] on the same parameters (the centroid model
    * is persisted, not retrained), but the measured cost is the online
    * serving path only: rank cells for each query against the tiny
    * centroid table, then scan just the probed cell partitions.
    */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val centroids = readCentroids(spark, indexDir)
    // empty index (built over an empty corpus): same degrade as ivfTopK
    if (centroids.isEmpty) return emptyTopK(spark)
    topK(ivfCandidates(liveCells(spark, indexDir), centroids, queries, nProbe, idCol, vecCol), k)
  }

  /** ANN top-k via SQ8 scalar quantization: the candidate scan runs over
    * per-vector affine int8 codes (smallint column — 4× smaller than
    * float32 at rest and in shuffle, the memory-scale lever emb_quantize
    * measures the error of), scoring candidates with the DEQUANTIZED
    * approximate cosine; the top `rerank` per query are re-scored with
    * full-precision vectors. Every step is deterministic (affine code
    * map, left-to-right folds), so a DuckDB oracle replays the whole
    * path — approximate operator, exactly checked.
    */
  def sq8TopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      rerank: Int = 50,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queryVectors(queries, idCol, vecCol))
    val c = corpusVectors(corpus, idCol, vecCol)

    // quantize: per-vector (mn, scale) + smallint codes. The explode
    // barrier keeps mn/scale evaluated once (not re-inlined per lambda).
    val quant = c.select(col("neighbor_id"), explode(array(struct(
        col("cv").as("cv"),
        array_min(col("cv")).as("mn"),
        ((array_max(col("cv")) - array_min(col("cv"))) / 255.0).as("scale")))).as("b"))
      .select(col("neighbor_id"), col("b.mn").as("mn"), col("b.scale").as("scale"),
        transform(col("b.cv"), x =>
          coalesce(
            round((x - col("b.mn")) /
              when(col("b.scale") === 0.0, lit(null).cast("double")).otherwise(col("b.scale")), 0),
            lit(0.0)).cast("smallint")).as("codes"))

    // approximate scan over the quantized table only
    val cand = rerankCut(quant.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("qv"),
          transform(col("codes"), cd => col("mn") + cd.cast("double") * col("scale"))).as("ascore")),
      col("ascore").desc, rerank)

    // full-precision re-rank of the candidate slice
    topK(rescore(cand, c, q), k)
  }

  /** The 64-bit SIGN signature of a normalized 64-dim vector: bit i set
    * iff component i > 0. Bit 63 is the BIGINT sign bit — Spark's
    * shiftleft(1L, 63) wraps to Long.MinValue but DuckDB raises on
    * `1::BIGINT << 63`, so BOTH sides special-case the last dimension
    * as an explicit Long.MinValue addend (the sum stays in range:
    * MIN_VALUE + at most 2⁶³−1 = −1). Shared by [[binaryTopK]]'s corpus
    * and query sides so signatures are engine-identical.
    *
    * The width is a hard contract, ENFORCED row-side: for a shorter
    * vector `element_at` returns null and bits would silently drop to
    * 0, and dimensions past 64 would silently not vote — either way a
    * wrong signature with no error — so any non-64-dim row raises
    * instead of producing wrong candidates.
    */
  private def signSignature(vec: Column): Column = {
    val low = aggregate(
      transform(sequence(lit(0), lit(62)),
        i => when(element_at(vec, i + 1) > 0d,
          call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (a, x) => a + x)
    val sig = low + when(element_at(vec, 64) > 0d, lit(Long.MinValue)).otherwise(lit(0L))
    when(size(vec) === 64, sig).otherwise(
      raise_error(concat(
        lit("signSignature requires exactly 64 dimensions, got "),
        size(vec).cast("string"))).cast("long"))
  }

  /** ANN top-k via BINARY (1-bit) quantization — the last rung of the
    * quantization ladder (float32 → SQ8 → PQ → 1 bit): each normalized
    * 64-dim vector collapses to ONE BIGINT of sign bits (64× smaller
    * than float64 at rest and in every shuffle), candidates rank by
    * HAMMING distance (bit_count(xor) — two codegen'd integer ops per
    * pair, the cheapest possible scan), and the top `rerank` per query
    * re-score with full-precision cosine. Sign-of-component is the
    * random-hyperplane LSH limit case (axis-aligned planes), so hamming
    * approximates angle; the exact re-rank restores precision where it
    * matters. Deterministic end to end (integer hamming, then the shared
    * cut), so the DuckDB oracle replays every bit.
    */
  def binaryTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      rerank: Int = 50,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = signedQueries(queries, idCol, vecCol)
    val c = corpusVectors(corpus, idCol, vecCol)
    val sigs = c.select(col("neighbor_id"), signSignature(col("cv")).as("sg"))

    // hamming scan over 8-byte signatures only — vectors stay out of it
    val cand = rerankCut(sigs.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), hamming.as("ham")),
      col("ham").asc, rerank)

    // full-precision re-rank of the candidate slice
    topK(rescore(cand, c, q.select(col("query_id"), col("qv"))), k)
  }

  /** Broadcast (query_id, qv, qs): normalized queries with their sign
    * signature — the query side of every binary entry point.
    */
  private def signedQueries(queries: DataFrame, idCol: String, vecCol: String): DataFrame =
    broadcast(queryVectors(queries, idCol, vecCol)
      .select(col("query_id"), col("qv"), signSignature(col("qv")).as("qs")))

  /** Hamming distance between the corpus signature `sg` and the query's `qs`. */
  private def hamming: Column = bit_count(col("sg").bitwiseXOR(col("qs")))

  /** The 4 × 16-bit MULTI-INDEX band keys of a 64-bit sign signature
    * (Norouzi et al., "Fast Search in Hamming Space with Multi-Index
    * Hashing"): band i = bits [16i, 16i+16). Arithmetic shiftright
    * sign-extends past bit 63, but the & 0xFFFF mask discards the
    * extension, so band 3 is exact despite the signature's sign bit.
    */
  private def sigBand(sig: Column, i: Int): Column =
    shiftright(sig, 16 * i).bitwiseAND(lit(0xFFFFL))

  /** Materialize the BINARY (1-bit) ANN index — the indexed sibling of
    * the [[binaryTopK]] scan: `sigs/` holds one row per corpus vector
    * with its 64-bit sign signature AND the signature split into
    * 4 × 16-bit multi-index band keys b0..b3 (at cluster scale each
    * band is bucketed by its key, so a probe is a bucket-pruned
    * lookup); `vecs/` holds the normalized vectors the exact re-rank
    * fetches. ~40 bytes/vector total beside the corpus.
    */
  def writeBinaryIndex(
      corpus: DataFrame,
      dir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val c = corpusVectors(corpus, idCol, vecCol)
    bandedSigs(c).write.mode("overwrite").parquet(s"$dir/sigs")
    c.write.mode("overwrite").parquet(s"$dir/vecs")
  }

  /** The `sigs/` rows of the binary index: (neighbor_id, sg, b0..b3) —
    * each vector's sign signature and its 4 multi-index band keys.
    */
  private def bandedSigs(c: DataFrame): DataFrame =
    c.select(col("neighbor_id"), signSignature(col("cv")).as("sg"))
      .select(col("neighbor_id") +: col("sg") +:
        (0 until 4).map(i => sigBand(col("sg"), i).as(s"b$i")): _*)

  /** Incremental admission into the binary band index — the
    * [[refreshIvfIndex]] posture without a trained model to respect:
    * signatures and band keys are PER-VECTOR (no cross-vector state, so
    * admission needs no df-style delta merge), which makes the refresh
    * exactly the batch's own normalize + sign + band-split, landed as
    * REPLAY-IDEMPOTENT batch files ([[graft.io.BatchFiles]], keyed by
    * `batchId` — a retried admission replaces its own files, and a
    * reader racing it sees whole batch files, never a partial append).
    * `sigs/` and `vecs/` land under the same batchId so the rerank
    * fetch stays row-consistent with the candidate generator. Same
    * new-ids-only admission contract as every standing index; a
    * refreshed index serves exactly a full rebuild over
    * (corpus ∪ batch).
    */
  def refreshBinaryIndex(
      newVecs: DataFrame,
      indexDir: String,
      batchId: Long,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val c = corpusVectors(newVecs, idCol, vecCol)
    graft.io.BatchFiles.land(bandedSigs(c), s"$indexDir/sigs", batchId)
    graft.io.BatchFiles.land(c, s"$indexDir/vecs", batchId)
  }

  /** RETRACT vectors from the binary band index as [[StandingIndex]]
    * tombstones: [[binaryTopKIndexed]] anti-joins the band-collision
    * candidate slice, never the full signature table, so serving cost
    * still rides the collisions. Probes under tombstones are EXACTLY a
    * rebuild over the survivors (oracle-gated); [[compactBinaryIndex]]
    * applies the tombstones physically.
    */
  def retractFromBinaryIndex(
      vecIds: DataFrame, indexDir: String, idCol: String = "vec_id"): Unit =
    StandingIndex.retract(vecIds.select(col(idCol).as("vec_id")), indexDir)

  /** Squash the binary index ([[StandingIndex.compact]]): `sigs/` and
    * `vecs/` drop tombstoned rows, also collapsing any
    * [[refreshBinaryIndex]] batch files into one file set.
    */
  def compactBinaryIndex(spark: SparkSession, indexDir: String): Unit =
    StandingIndex.compact(spark, indexDir) { tmp =>
      val tombs = StandingIndex.tombstones(spark, indexDir, "vec_id")
      Seq("sigs", "vecs").foreach { t =>
        StandingIndex.dropRetracted(
            Tables.read(spark, s"$indexDir/$t"), tombs, "neighbor_id", "vec_id")
          .write.parquet(s"$tmp/$t")
      }
    }

  /** Radius-bounded binary ANN served from the MATERIALIZED band index
    * — the indexed twin the unpruned [[binaryTopK]] scan lacked:
    * candidates come from 4 band equi-joins, hamming-verified against
    * the full signature, pre-cut by hamming to the top `rerank` and
    * re-scored with exact cosine. The serving shape of 1-bit
    * near-duplicate lookup: "find what this slightly-edited embedding
    * is a copy of".
    *
    * Completeness by pigeonhole, per the MIH paper (Norouzi et al.):
    * ≤ `radius` differing bits spread over 4 disjoint 16-bit bands
    * leave at least one band with ≤ ⌊radius/4⌋ errors. At radius ≤ 3
    * that band is IDENTICAL, so candidates come from exact key lookups;
    * at radius 4–7 it is within ONE bit, so each query probes each band
    * with its key plus the 16 single-bit flips (17 keys/band, 68 probe
    * rows per query — full multi-index hashing key enumeration, still
    * never a recall trade). Radii past 7 would need 2-bit enumeration
    * (137 keys/band); this entry point stops at the 1-bit regime.
    *
    * Scale: each band join touches only rows colliding on a 16-bit
    * key (expected corpus/65536 per key — ×17 keys at the enumerated
    * radii, still collision-bounded, vs the scan's every-signature
    * row); candidates and everything after ride the collision set.
    * Queries broadcast; vectors join only for the rerank slice.
    */
  def binaryTopKIndexed(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int,
      radius: Int = 3,
      rerank: Int = 50,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(radius >= 0 && radius <= 7,
      s"radius $radius outside the 1-bit MIH regime: 4 disjoint bands with " +
        "single-bit key enumeration guarantee completeness only for radius <= 7 " +
        "(larger radii need multi-bit key enumeration)")
    val q = signedQueries(queries, idCol, vecCol)
    // band collisions, hamming-verified within radius, distinct once —
    // the radius filter runs BEFORE the distinct so the dedup shuffle
    // carries only in-radius rows (the serving-path cost shape; the
    // sweep's pricing helper dedups the unfiltered stream instead)
    val cand = bandCollisions(spark, indexDir, q, radius)
      .filter(col("ham") <= radius)
      .distinct()
    // merge-on-read tombstones ([[retractFromBinaryIndex]]): retracted
    // members drop from the band-collision candidate slice via a
    // broadcast anti join — deletion-request-sized, never corpus-sized
    val live = StandingIndex.dropRetracted(cand,
      StandingIndex.tombstones(spark, indexDir, "vec_id"), "neighbor_id", "vec_id")
    topK(rescore(rerankCut(live, col("ham").asc, rerank),
      Tables.read(spark, s"$indexDir/vecs"), q.select(col("query_id"), col("qv"))), k)
  }

  /** The raw band-collision stream (query_id, neighbor_id, ham) of the
    * 1-bit MIH probe — 4 band equi-joins (exact keys at radius ≤ 3, the
    * key + its 16 one-bit flips above), self-pairs dropped, hamming
    * computed, NOT deduped and NOT radius-filtered: [[binaryTopKIndexed]]
    * filters-then-dedups it (serving), [[binarySweep]] dedups the
    * unfiltered stream to PRICE what each radius setting verifies.
    */
  private def bandCollisions(
      spark: SparkSession, indexDir: String, q: DataFrame, radius: Int): DataFrame = {
    val sigs = Tables.read(spark, s"$indexDir/sigs")
    (0 until 4).map { i =>
      val probes =
        if (radius <= 3)
          q.select(col("query_id"), col("qs"), sigBand(col("qs"), i).as("bk"))
        else
          // 1-bit MIH enumeration: the key itself + its 16 one-bit flips
          q.select(col("query_id"), col("qs"),
            explode(array((lit(0L) +: (0 until 16).map(b => lit(1L << b)))
              .map(m => sigBand(col("qs"), i).bitwiseXOR(m)): _*)).as("bk"))
      sigs.select(col("neighbor_id"), col("sg"), col(s"b$i").as("bk"))
        .join(probes, Seq("bk"))
        .select("query_id", "neighbor_id", "qs", "sg")
    }.reduce(_ unionAll _)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), hamming.as("ham"))
  }

  /** Radius parameter sweep of the banded binary index — the MIH twin of
    * [[ivfSweep]]: for each radius, recall@k of the indexed search
    * against the exact-cosine top-k over the index's own vectors, plus
    * the two costs the setting pays: `n_verified` — distinct band-
    * collision pairs hamming-verified (steps only at the enumeration
    * boundary: exact keys ≤ 3, 17-key 1-bit enumeration at 4–7, the MIH
    * completeness regimes) — and `n_in_radius`, the verified pairs
    * inside the hamming ball that feed the rerank window. One row per
    * setting: (radius, n_verified, n_in_radius, n_hit, recall).
    *
    * Collision pairs are computed ONCE PER REGIME and pinned
    * (localCheckpoint), radii within a regime reuse them; ground truth
    * is one exact pass of the query panel against `vecs/`. Panel-sized
    * eval, corpus-independent — the [[ivfSweep]] contract.
    */
  def binarySweep(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int,
      radii: Seq[Int],
      rerank: Int = 50,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(radii.nonEmpty, "binarySweep needs at least one radius setting")
    require(radii.forall(r => r >= 0 && r <= 7),
      "binarySweep radii must stay in the 1-bit MIH regime (0..7)")
    val q = signedQueries(queries, idCol, vecCol)
    val qv = q.select(col("query_id"), col("qv"))
    // one collision table per enumeration regime, shared across radii
    val regime: Map[Boolean, DataFrame] = radii.map(_ > 3).distinct.map { enum =>
      enum -> bandCollisions(spark, indexDir, q, if (enum) 7 else 3)
        .distinct().localCheckpoint()
    }.toMap
    val vecs = Tables.read(spark, s"$indexDir/vecs")
    // exact tower over the index's stored (already normalized) vectors
    val exact = topK(cosines(vecs.join(qv, col("query_id") =!= col("neighbor_id"))), k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    // ONE radius-tagged pipeline per enumeration regime instead of a
    // subplan per radius: each collision row explodes into the radii it
    // qualifies for (map-side, panel-sized), the two rank windows
    // partition by (radius, query_id) — identical ordering keys, so
    // identical per-radius selections — and the counts fall out of
    // grouped aggregates instead of three single-row aggregates and two
    // crossJoins per radius. Same rows, including the degenerate
    // empty-exact-panel guard (n_truth > 0) and zero-hit radii.
    val nTruth = exact.agg(count(lit(1)).as("n_truth"))
    radii.groupBy(_ > 3).toSeq.sortBy(_._1).map { case (enum, rs) =>
      val pairs = regime(enum)
      val nVerified = pairs.agg(count(lit(1)).as("n_verified"))
      val rsArr = array(rs.map(r => lit(r.toLong)): _*)
      val poolAll = pairs.withColumn("radius",
        explode(filter(rsArr, rv => col("ham") <= rv)))
      val nPool = poolAll.groupBy("radius").agg(count(lit(1)).as("n_in_radius"))
      val radius = Seq("radius")
      val top = topK(rescore(rerankCut(poolAll, col("ham").asc, rerank, radius),
          vecs, qv, radius), k, radius)
        .select("radius", "query_id", "neighbor_id")
      val hits = exact.join(top, Seq("query_id", "neighbor_id"))
        .groupBy("radius").agg(count(lit(1)).as("n_hit"))
      import pairs.sparkSession.implicits._
      recallReport(rs.map(_.toLong).toDF("radius"), nPool, "n_in_radius", hits,
        Seq(nVerified, nTruth))
    }.reduce(_ unionByName _)
  }

  /** ANN top-k via product quantization (PQ): the vector space is split
    * into `m` subspaces; each subspace has a 16-entry codebook (the
    * sub-vectors of the first 16 corpus vectors — a sampled codebook,
    * trained like [[ivfModel]]'s seeds are: driver-side, deterministic);
    * every corpus vector compresses to `m` small codes chosen by nearest
    * sub-centroid. Queries score candidates with asymmetric distance
    * computation (ADC): approx dot = Σ_j dot(query_sub_j, codebook_j[code_j]),
    * summed in fixed subspace order so the double result is reproducible.
    * The top `rerank` per query re-score with full-precision vectors.
    *
    * Scale: codes are m bytes instead of dim floats (16× smaller at
    * m=4/dim=64) — the candidate scan touches only codes plus a literal
    * codebook, the memory-bound regime PQ exists for. Code assignment is
    * one map-side pass (codebooks ride as literals, zero shuffle); the
    * candidate scan is a broadcast-query cross join like [[bruteForceTopK]]
    * but over compressed rows. Every step is order-pinned (argmin iterates
    * codes in order keeping the first minimum; ADC sums left-to-right), so
    * a DuckDB oracle replays the whole path — approximate operator,
    * exactly checked.
    */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      m: Int = 4,
      dim: Int = 64,
      rerank: Int = 50,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    // sampled codebooks: normalized sub-vectors of the first 16 corpus
    // vectors, collected driver-side (16 rows) and embedded as literals
    val seeds = normalizedVectors(corpus, 16L, idCol, vecCol)
    val c = corpusVectors(corpus, idCol, vecCol, renameFirst = false)
    if (seeds.isEmpty) {
      require(c.isEmpty,
        "pqTopK: corpus is non-empty but has no ids < 16 to seed codebooks")
      return emptyTopK(c.sparkSession)
    }
    val codebooks = pqCodebooks(seeds, m, subDim)
    val coded = pqCodes(c, Seq("neighbor_id"), codebooks, subDim)

    // ADC scan: queries broadcast with pre-sliced subvectors
    val qv = queryVectors(queries, idCol, vecCol)
    val q = broadcast(qv.select(col("query_id") +: subSlices(col("qv"), "qs", m, subDim): _*))
    val cand = rerankCut(coded.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adcScore(codebooks).as("ascore")),
      col("ascore").desc, rerank)

    // full-precision re-rank of the candidate slice
    topK(rescore(cand, c, broadcast(qv)), k)
  }

  /** PQ codebooks: codebooks(j)(t) = the subspace-j slice of seed vector t
    * (code = t+1, 1-based to match array_position / SQL list_position).
    */
  private def pqCodebooks(
      seeds: Array[(Long, Array[Double])], m: Int, subDim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m) { j =>
      seeds.map { case (_, v) => v.slice(j * subDim, (j + 1) * subDim) }
    }

  /** The `m` subspace slices of `vec`, named `<prefix>0` … `<prefix>{m-1}`. */
  private def subSlices(vec: Column, prefix: String, m: Int, subDim: Int): Seq[Column] =
    (0 until m).map(j => slice(vec, j * subDim + 1, subDim).as(s"$prefix$j"))

  /** Map-side PQ code assignment over (`keep`…, cv) rows → (`keep`…,
    * code0 … code{m-1}): per subspace, argmin over the distance surrogate
    * ||c||² - 2·(sv·c) (the sv self-dot is constant per row and dropped on
    * BOTH engines), first minimum on ties = lowest code. Two explode
    * barriers: the first materializes each subvector slice ONCE (instead
    * of 16 re-slices per subspace inside the interpreted dist
    * expressions), the second materializes codes once, not re-inlined per
    * query. [[ivfpqTopK]] keeps `cell` through both, so the index build
    * (cell + m codes per vector) never shuffles the corpus.
    */
  private def pqCodes(
      c: DataFrame, keep: Seq[String], codebooks: Array[Array[Array[Double]]],
      subDim: Int): DataFrame = {
    val m = codebooks.length
    val sliced = c.select(keep.map(col) :+
        explode(array(struct(subSlices(col("cv"), "sv", m, subDim): _*))).as("s"): _*)
      .select(keep.map(col) ++ (0 until m).map(j => col(s"s.sv$j")): _*)
    def codeCol(j: Int): Column = {
      val dists = array(codebooks(j).map { cw =>
        lit(dotSeq(cw, cw)) - lit(2.0) * dot(col(s"sv$j"), typedLit(cw))
      }.toIndexedSeq: _*)
      array_position(dists, array_min(dists))
    }
    sliced.select(keep.map(col) :+
        explode(array(struct((0 until m).map(j => codeCol(j).as(s"code$j")): _*))).as("cd"): _*)
      .select(keep.map(col) ++ (0 until m).map(j => col(s"cd.code$j")): _*)
  }

  /** The ADC approximate score Σ_j dot(qs_j, codebook_j[code_j]), summed
    * in fixed subspace order so the double result is reproducible.
    */
  private def adcScore(codebooks: Array[Array[Array[Double]]]): Column =
    codebooks.indices.map { j =>
      dot(col(s"qs$j"), element_at(typedLit(codebooks(j).map(_.toSeq).toSeq), col(s"code$j").cast("int")))
    }.reduceLeft(_ + _)

  /** ANN top-k via IVF-PQ: [[ivfTopK]]'s trained-cell pruning composed in
    * front of [[pqTopK]]'s ADC scan — the standard large-batch ANN shape.
    * Plain PQ's candidate scan is corpus × queries (fine for small query
    * batches over compressed rows); here each query scores only the
    * corpus vectors in its `nProbe` nearest cells, so candidate cost is
    * per-cell (Σ probed-cell sizes ≈ corpus·nProbe/nCentroids per query)
    * and the two compression levers stack: cells bound WHICH rows are
    * touched, codes bound what each touched row COSTS (m bytes + a
    * literal codebook lookup, no full vector).
    *
    * Codes quantize the raw normalized vector (faiss's
    * `by_residual=false` regime), so the codebooks are exactly
    * [[pqTopK]]'s and the oracle replays cells AND codebooks unchanged.
    * Every step is order-pinned the same way (argmin keeps the first
    * minimum, ADC sums left-to-right, probe ties break on ascending cell
    * id) — approximate operator, hash-checked exactly.
    */
  def ivfpqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      m: Int = 4,
      dim: Int = 64,
      rerank: Int = 50,
      lloydIters: Int = 2,
      trainCap: Long = 256L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    require(trainCap >= nCentroids, "training slice must cover the centroid seeds")
    val subDim = dim / m
    val c = corpusVectors(corpus, idCol, vecCol, renameFirst = false)

    val centroids = ivfModel(corpus, nCentroids, lloydIters, trainCap, idCol, vecCol)
    val seeds = normalizedVectors(corpus, 16L, idCol, vecCol)
    if (centroids.isEmpty || seeds.isEmpty) {
      // no low-id seed vectors: legitimate ONLY for an empty corpus
      // (same contract as ivfTopK/pqTopK — fail loudly otherwise)
      require(c.isEmpty,
        "ivfpqTopK: corpus is non-empty but lacks the low ids that seed centroids/codebooks")
      return emptyTopK(c.sparkSession)
    }
    val codebooks = pqCodebooks(seeds, m, subDim)

    // map-side cell assignment + PQ code assignment in ONE corpus pass
    val coded = pqCodes(withCell(c, centroids, "cv"), Seq("neighbor_id", "cell"), codebooks, subDim)

    // probe list with the sub-sliced query vectors riding along for the
    // ADC scan
    val q = queryVectors(queries, idCol, vecCol, renameFirst = false)
    val probes = broadcast(probeList(broadcast(q), centroids, nProbe)
      .select(col("query_id") +: col("cell") +: subSlices(col("qv"), "qs", m, subDim): _*))

    // ADC scan over probed cells only: each corpus vector lives in
    // exactly one cell, so the cell join yields each (query, candidate)
    // pair at most once — no distinct needed (unlike LSH buckets)
    val cand = rerankCut(coded.join(probes, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adcScore(codebooks).as("ascore")),
      col("ascore").desc, rerank)

    // full-precision re-rank of the candidate slice
    topK(rescore(cand, c, broadcast(q)), k)
  }

  /** All-pairs cosine near-duplicates ≥ threshold — the exact verification
    * variant, deliberately bounded to ids &lt; `idCap` (O(n²) pairs do not
    * scale; the slice keeps the oracle meaningful at every SF while LSH
    * buckets are the scale path).
    */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double, idCap: Long = 500): DataFrame = {
    val e = withNormalized(
      embeddings.filter(col("vec_id") < idCap).select("vec_id", "embedding"),
      "embedding", "v").select("vec_id", "v")
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
  }

  /** Embedding-space drift monitor: per label, the L2 distance between the
    * mean (raw, un-normalized) embedding of two corpus halves — the
    * quality_drift idea lifted from scalar columns to the embedding space
    * (an encoder re-run, a pipeline change or a domain shift moves the
    * per-class centroid even when scalar profiles look stable).
    *
    * Deterministic to the bit AND scale-safe: per-dim sums fold in a
    * fixed TWO-LEVEL order — values fold vec_id-ascending WITHIN a
    * `vec_id DIV 4096` bucket, bucket sums fold bucket-ascending — so
    * no collected list ever exceeds 4096 elements no matter how large
    * the corpus grows (the flat single-level fold measured 3.2× for a
    * 2× corpus at ×32 amplification: per-cell arrays grew with the
    * corpus; the bucketed form pins both the order and the memory).
    * The L2 folds over dim-ordered squared diffs (the q_ewma
    * order-pinning pattern). An oracle replays both levels exactly.
    *
    * @param half boolean column over the input marking the A half
    */
  def centroidDrift(embeddings: DataFrame, half: Column): DataFrame = {
    val vals = embeddings
      .select(col("label"), col("vec_id"), half.as("in_a"),
        posexplode(col("embedding")).as(Seq("d", "v")))
      .select(col("label"), col("vec_id"), col("in_a"), col("d"),
        col("v").cast("double").as("v"))
    val bucketSums = vals
      .groupBy(col("label"), col("in_a"), col("d"),
        expr("vec_id DIV 4096").as("bk"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("xs"),
        count(lit(1)).as("bn"))
      .withColumn("bsum",
        expr("aggregate(xs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.v)"))
      .select("label", "in_a", "d", "bk", "bsum", "bn")
    val mus = bucketSums.groupBy(col("label"), col("in_a"), col("d"))
      .agg(sort_array(collect_list(struct(col("bk"), col("bsum")))).as("bs"),
        sum("bn").as("n"))
      .withColumn("mu",
        expr("aggregate(bs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.bsum)") / col("n"))
      .select("label", "in_a", "d", "mu")
    val sq = mus.filter(col("in_a")).select(col("label"), col("d"), col("mu").as("ma"))
      .join(mus.filter(!col("in_a")).select(col("label"), col("d"), col("mu").as("mb")),
        Seq("label", "d"))
      .select(col("label"), col("d"),
        ((col("ma") - col("mb")) * (col("ma") - col("mb"))).as("sqd"))
    val counts = embeddings.groupBy("label")
      .agg(sum(when(half, 1L).otherwise(0L)).as("n_a"),
        sum(when(half, 0L).otherwise(1L)).as("n_b"))
    sq.groupBy("label")
      .agg(sort_array(collect_list(struct(col("d"), col("sqd")))).as("qs"))
      .withColumn("l2",
        sqrt(expr("aggregate(qs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.sqd)")))
      .join(counts, Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"), round(col("l2"), 6).as("drift_l2"))
  }
}
