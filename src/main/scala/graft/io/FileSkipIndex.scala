package graft.io

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data skipping: a standing min/max/count index over the files
  * of a parquet table — the same metadata a table format (Iceberg/Delta)
  * keeps in its manifest, built here as a tiny relational table the engine
  * owns. A range predicate consults the index FIRST (the index is
  * thousands of rows where the table is billions), then reads only the
  * files whose [min,max] envelope intersects — on a 100 TB range-sorted
  * or Z-ordered table that turns a full scan into a handful of file
  * reads, entirely driver-cheap.
  *
  * Complements the engine's other layout ops: `q_partition_prune`
  * (directory-level pruning), [[RangeSortedSink]] (1-D clustering that
  * makes the envelopes tight), [[ZOrderSink]] (multi-dim). Parquet's own
  * row-group stats filter WITHIN a file after it is opened; this index
  * skips files without opening them — at cluster scale that is the
  * difference between listing+footer-reading a million objects and
  * reading a 4 MB index.
  */
object FileSkipIndex {

  /** Build the index with ONE distributed pass over the table: group by
    * `input_file_name()` and aggregate min/max/count of each key column —
    * plus, optionally, per-file SUMS of integral measure columns, which
    * turn the index into an aggregation source (see [[metadataRangeAgg]]).
    * The shuffle is |files| rows wide — negligible. Result schema:
    * `file, n_rows, <k>_min, <k>_max [, <m>_sum...]`.
    */
  def build(table: DataFrame, keys: Seq[String], measures: Seq[String] = Nil): DataFrame = {
    val aggs = keys.flatMap(k =>
      Seq(min(col(k)).as(s"${k}_min"), max(col(k)).as(s"${k}_max"))) ++
      measures.map(m => sum(col(m)).as(s"${m}_sum")) :+
      count(lit(1)).as("n_rows")
    table
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental index maintenance: stat ONLY the files that arrived since
    * the index was built (listing diff against the indexed file set) and
    * union their rows in — the standing index never re-scans indexed
    * data, the same admission posture as the engine's incremental dedup
    * and ANN index paths. On a 100 TB table with daily arrivals the
    * refresh cost is the new files, not the corpus.
    *
    * The refresh is also SUBTRACTIVE: index rows whose file is no longer
    * in the listing (compaction rewrote it, a replayed ingest emitted
    * fewer parts) are dropped — a stale row would make
    * [[metadataRangeAgg]] silently count nonexistent data and
    * [[prunedRead]] fail on a missing path.
    */
  def refresh(
      spark: SparkSession, dataDir: String, index: DataFrame,
      keys: Seq[String], measures: Seq[String] = Nil): DataFrame = {
    def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val stored = index.select("file").collect().map(_.getString(0))
    val indexed = stored.map(norm).toSet
    val all = DataFiles.list(spark, dataDir).map(_.getPath.toString)
    val live = all.map(norm).toSet
    val fresh = all.filterNot(p => indexed.contains(norm(p)))
    val keepStored = stored.filter(s => live.contains(norm(s)))
    val kept =
      if (keepStored.length == stored.length) index
      else index.filter(col("file").isin(keepStored.toIndexedSeq: _*))
    if (fresh.isEmpty) kept
    else kept.unionByName(build(Tables.read(spark, fresh.toIndexedSeq: _*), keys, measures))
  }

  /** Files whose [min,max] envelope intersects [lo, hi] on `key`. The
    * index is small: this runs as a local filter + collect of file paths.
    */
  def candidateFiles(index: DataFrame, key: String, lo: Any, hi: Any): Seq[String] =
    index
      .filter(col(s"${key}_max") >= lit(lo) && col(s"${key}_min") <= lit(hi))
      .select("file").collect().map(_.getString(0)).toSeq

  /** Metadata-only range aggregation (the manifest-aggregation trick):
    * COUNT and SUM(measure) over `key BETWEEN lo AND hi` answered from
    * the INDEX for every file whose envelope lies fully inside the range
    * — zero data reads — and from the data only for the BOUNDARY files
    * that straddle an edge. On a range-sorted layout the boundary is at
    * most two files regardless of table size, so a 100 TB range rollup
    * costs a driver-side index filter plus two file reads. Exact by
    * construction (integral measures only — per-file long sums compose
    * associatively; never use this with doubles, where per-file partial
    * order would change the rounding).
    */
  def metadataRangeAgg(
      spark: SparkSession, index: DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      key: String, lo: Any, hi: Any, measure: String): DataFrame = {
    // fail loudly instead of rounding differently per file order: the
    // exactness argument (per-file partial sums compose associatively)
    // holds only for integral measures
    val mField = schema.fields.find(_.name == measure).getOrElse(
      throw new IllegalArgumentException(s"measure '$measure' not in table schema"))
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(
      Set[org.apache.spark.sql.types.DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(mField.dataType),
      s"metadataRangeAgg needs an integral measure; '$measure' is ${mField.dataType.sql} " +
        "(floating sums depend on per-file accumulation order)")
    val inRange = index.filter(col(s"${key}_max") >= lit(lo) && col(s"${key}_min") <= lit(hi))
    val covered = inRange.filter(col(s"${key}_min") >= lit(lo) && col(s"${key}_max") <= lit(hi))
      .agg(coalesce(sum("n_rows"), lit(0L)).as("n"),
        coalesce(sum(s"${measure}_sum"), lit(0L)).as("s"))
    val boundaryFiles = inRange
      .filter(col(s"${key}_min") < lit(lo) || col(s"${key}_max") > lit(hi))
      .select("file").collect().map(_.getString(0)).toSeq
    val boundary =
      if (boundaryFiles.isEmpty)
        covered.select(lit(0L).as("n"), lit(0L).as("s")).limit(1)
      else
        spark.read.schema(schema).parquet(boundaryFiles: _*)
          .filter(col(key) >= lit(lo) && col(key) <= lit(hi))
          .agg(coalesce(count(lit(1)), lit(0L)).as("n"),
            coalesce(sum(measure), lit(0L)).as("s"))
    covered.unionAll(boundary)
      .agg(sum("n").as("n_rows"), sum("s").as(s"sum_$measure"))
  }

  /** Range-read through the index: prune to candidate files, read only
    * those, and re-apply the predicate exactly (the envelope test is
    * necessary, not sufficient — boundary files carry rows outside the
    * range). Returns an empty frame with the right schema when nothing
    * intersects.
    */
  def prunedRead(
      spark: SparkSession, index: DataFrame, schema: org.apache.spark.sql.types.StructType,
      key: String, lo: Any, hi: Any): DataFrame = {
    val files = candidateFiles(index, key, lo, hi)
    val base =
      if (files.isEmpty) spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else spark.read.schema(schema).parquet(files: _*)
    base.filter(col(key) >= lit(lo) && col(key) <= lit(hi))
  }

  /** The two Bloom bit positions of a key value: independent xxhash64
    * draws (the second salted), reduced mod `bits`. Shared by build and
    * probe so the probe recomputes exactly the bits the build set.
    */
  private def bloomPositions(key: org.apache.spark.sql.Column, bits: Int) = Seq(
    pmod(xxhash64(key), lit(bits.toLong)),
    pmod(xxhash64(key, lit(0x9e3779b9L)), lit(bits.toLong)))

  /** Per-file BLOOM membership index — the point-lookup complement of the
    * min/max envelope index: on a hash-distributed (unsorted) layout the
    * envelopes of every file span the whole key domain and range skipping
    * prunes nothing, but a per-file Bloom filter answers "could file F
    * contain key = v?" from `bits` bits per file. Two hash functions, no
    * false negatives by construction (every row sets both its bits in its
    * file's words); false positives only cost a wasted file read that the
    * residual filter discards.
    *
    * Build is ONE distributed pass: each row explodes to its two
    * (word, mask) pairs and `bit_or` folds them per (file, word) — the
    * shuffle is at most |files|·(bits/64) rows, metadata-sized. Result
    * schema: `file, w, word` (only words with at least one set bit are
    * stored — absent word ⇒ all-zero). At 100 TB with 4096-bit filters
    * the index is 64 longs per file: a million-object table carries a
    * ~500 MB index that replaces a full-corpus scan per point lookup.
    */
  def buildBloom(table: DataFrame, key: String, bits: Int = 4096): DataFrame = {
    require(bits > 0 && bits % 64 == 0, s"bits must be a positive multiple of 64, got $bits")
    val pairs = bloomPositions(col(key), bits).map(p =>
      struct((p / 64).cast("int").as("w"),
        call_function("shiftleft", lit(1L), pmod(p, lit(64L)).cast("int")).as("m")))
    table
      .select(input_file_name().as("file"), explode(array(pairs: _*)).as("b"))
      .groupBy(col("file"), col("b.w").as("w"))
      .agg(bit_or(col("b.m")).as("word"))
  }

  /** Files that MAY contain `value`: both probe bits set in the file's
    * Bloom words. The index is metadata-sized, so the probe is two local
    * filters + a driver intersect.
    */
  def bloomCandidateFiles(bloom: DataFrame, value: Any, bits: Int = 4096): Seq[String] = {
    val spark = bloom.sparkSession
    val ps = spark.range(1).select(bloomPositions(lit(value), bits): _*).head()
    val perBit = (0 until ps.length).map { i =>
      val p = ps.getLong(i)
      val w = (p / 64).toInt
      val m = 1L << (p % 64).toInt
      bloom.filter(col("w") === w && col("word").bitwiseAND(lit(m)) =!= 0L)
        .select("file").collect().map(_.getString(0)).toSet
    }
    perBit.reduce(_ intersect _).toSeq.sorted
  }

  /** Point lookup through the Bloom index: read ONLY the candidate files
    * and re-apply the exact equality (false positives fall out here).
    * Empty candidate set ⇒ empty frame with the right schema, no read.
    */
  def bloomPointRead(
      spark: SparkSession, bloom: DataFrame, schema: org.apache.spark.sql.types.StructType,
      key: String, value: Any, bits: Int = 4096): DataFrame = {
    val files = bloomCandidateFiles(bloom, value, bits)
    val base =
      if (files.isEmpty) spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else spark.read.schema(schema).parquet(files: _*)
    base.filter(col(key) === lit(value))
  }
}
