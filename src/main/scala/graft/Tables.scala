package graft

import graft.io.DataFiles
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_millis}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the harness parquet tables (TESTDATA.md), and
  * the engine's one schema-less parquet read path.
  *
  * Every `SparkEntry.queries` entry receives an `sfDir` pointing at one of
  * the `/root/testdata/sf*` directories; these helpers are the single place
  * that maps a logical table name to its parquet file.
  *
  * Every parquet read that does not name its own schema goes through
  * [[read]] (or [[schemaOf]]). A bare `spark.read.parquet(dir)` infers the
  * schema from one footer in a Spark job on every call; [[read]] keeps the
  * inferred schemas in a bounded map and hands the cached one to
  * `spark.read.schema(s)`, so a repeated read of an unchanged table or a
  * grown standing-index directory starts no job before its action. The
  * map holds `StructType`s only, never rows. Its key is what Spark's
  * inference reads (with `mergeSchema` off, the first data file of the
  * read by path, assuming all files agree): that file's qualified path,
  * length and modification time, plus the session values of the parquet
  * confs that change what a footer infers to ([[inferenceConfs]]). A
  * directory that only gains files keeps its key; a rewritten or
  * compacted table gets a new file, length or mtime, and misses.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val schemas =
    new java.util.LinkedHashMap[String, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StructType]): Boolean = size > 256
    }

  /** `spark.read.parquet(paths: _*)`, with the data schema taken from the
    * metadata map (one footer job on a miss, none on a hit). Partition
    * columns stay with Spark's partition discovery, which lists but runs
    * no job. A read that finds no data file (an empty or missing
    * directory) leaves the map alone and takes the bare reader, so
    * Spark's own error stands.
    */
  def read(spark: SparkSession, paths: String*): DataFrame =
    // the file Spark's inference reads: the first data file by qualified path
    DataFiles.list(spark, paths: _*).minByOption(_.getPath.toString) match {
      case None => spark.read.parquet(paths: _*)
      case Some(f) =>
        val key = (Seq(f.getPath.toString, f.getLen, f.getModificationTime) ++
          inferenceConfs.map(spark.conf.getOption(_).getOrElse(""))).mkString("|")
        val schema = schemas.synchronized(Option(schemas.get(key))).getOrElse {
          // infer outside the lock: concurrent misses may infer twice
          val s = spark.read.parquet(f.getPath.toString).schema
          schemas.synchronized(schemas.put(key, s))
          s
        }
        spark.read.schema(schema).parquet(paths: _*)
    }

  /** The schema a read of `paths` resolves to, partition columns included. */
  def schemaOf(spark: SparkSession, paths: String*): StructType =
    read(spark, paths: _*).schema

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  /** The harness has shipped `events.ts` under several parquet encodings
    * across regenerations — TIMESTAMP(NANOS) (which Spark 4 refuses by
    * default, hence the nanosAsLong conf + long branch) and
    * TIMESTAMP_NTZ(micros). Normalize them all to session-TZ
    * `TimestampType` in ONE place so every query/stream sees one type.
    * The engine session is pinned to UTC, so the NTZ→TZ cast is
    * value-exact and matches how the DuckDB oracle reads the same file.
    */
  def normalizeTs(df: DataFrame, column: String = "ts"): DataFrame =
    df.schema(column).dataType match {
      case LongType =>
        // nanos-as-long: truncate to micros with integer DIV (a double
        // division would lose precision on int64 nano values), matching
        // DuckDB's TIMESTAMP_NS→TIMESTAMP truncation so oracles line up
        df.withColumn(column, timestamp_micros(expr(s"$column DIV 1000")))
      case TimestampNTZType =>
        df.withColumn(column, col(column).cast(TimestampType))
      case _ => df
    }

  /** NTZ-tolerant epoch seconds: routes through TimestampType first so the
    * expression analyzes whether or not [[normalizeTs]] already ran
    * (a bare `cast(ntz AS BIGINT)` is an analysis error).
    */
  def epochSeconds(c: Column): Column = c.cast(TimestampType).cast(LongType)

  /** NTZ-tolerant epoch milliseconds (see [[epochSeconds]]). */
  def epochMillis(c: Column): Column = unix_millis(c.cast(TimestampType))

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(spark, dir, "events"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
