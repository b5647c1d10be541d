package graft.streaming

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming data-quality gate: every micro-batch is classified row-by-row
  * against a fixed rule set, valid rows flow to the main sink, violating
  * rows are QUARANTINED (with the list of failed rules attached) instead
  * of poisoning the corpus, and a per-batch audit report row is appended.
  * This is the streaming face of [[graft.ext.Quality]] — the batch suite
  * validates a standing table; this gate validates data in motion, which
  * is where a 100 TB/day ingest actually wants the check (reject at the
  * door, not after the bad rows are live).
  *
  * Scale shape: classification is one map-side expression per rule (no
  * shuffle); the batch is persisted once inside `foreachBatch` because
  * three consumers read it (valid sink, quarantine sink, report
  * aggregate) — without the persist the source micro-batch would be
  * re-read per consumer. Sinks are batch-id-deterministic directories,
  * so replayed batches overwrite instead of duplicating (the same
  * idempotence contract as [[EventStream.writeBatchIdempotent]]).
  */
object QualityGate {

  /** One row-level rule: `pred` TRUE means the row passes. A null
    * predicate result counts as a violation (unknown is not valid).
    */
  final case class RowCheck(name: String, pred: Column)

  /** The engine's standard event rules — shared by the streaming gate and
    * the batch twin so the driver's oracle pins the same semantics the
    * stream enforces.
    */
  def eventChecks: Seq[RowCheck] = Seq(
    RowCheck("value_in_range", col("value") >= 0 && col("value") <= 400),
    RowCheck("known_type",
      col("event_type").isin("click", "view", "purchase", "signup", "error")),
    RowCheck("user_present", col("user_id").isNotNull))

  /** Attach `violations: array<string>` (failed rule names, empty = valid).
    * Pure projection — codegen, no shuffle.
    */
  def classify(df: DataFrame, checks: Seq[RowCheck]): DataFrame =
    df.withColumn("violations",
      array_compact(array(checks.map(c =>
        when(!coalesce(c.pred, lit(false)), lit(c.name))): _*)))

  /** Per-check violation counts in ONE aggregate pass over a classified
    * frame, plus the `__any__` row (rows quarantined = failing ≥1 rule).
    */
  def report(classified: DataFrame, checks: Seq[RowCheck]): DataFrame = {
    val aggs =
      checks.map(c => sum(when(array_contains(col("violations"), c.name), 1L)
        .otherwise(0L)).as(s"__v_${c.name}")) :+
        sum(when(size(col("violations")) > 0, 1L).otherwise(0L)).as("__v___any__") :+
        count(lit(1)).as("__n")
    classified.agg(aggs.head, aggs.tail: _*)
      .select(explode(array((checks.map(_.name) :+ "__any__").map { n =>
        struct(lit(n).as("check_name"), col("__n").as("n_rows"),
          col(s"__v_$n").as("n_violations"),
          round(col(s"__v_$n").cast("double") / col("__n"), 6).as("violation_rate"))
      }: _*)).as("r"))
      .select(col("r.check_name").as("check_name"), col("r.n_rows").as("n_rows"),
        col("r.n_violations").as("n_violations"),
        col("r.violation_rate").as("violation_rate"))
  }

  /** The micro-batch gate body (also directly unit-testable on a batch
    * frame): split valid/quarantined into deterministic per-batch dirs and
    * append the audit rows.
    */
  def gateBatch(
      batch: DataFrame, batchId: Long, checks: Seq[RowCheck], outDir: String): Unit = {
    val classified = classify(batch, checks).persist()
    try {
      classified.filter(size(col("violations")) === 0).drop("violations")
        .write.mode("overwrite").parquet(f"$outDir/valid/batch_id=$batchId%06d")
      classified.filter(size(col("violations")) > 0)
        .withColumn("violations", concat_ws(",", col("violations")))
        .write.mode("overwrite").parquet(f"$outDir/quarantine/batch_id=$batchId%06d")
      report(classified, checks).withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").parquet(f"$outDir/report/batch_id=$batchId%06d")
    } finally classified.unpersist()
  }

  /** Start the gate on a parquet file stream of events. */
  def monitor(
      spark: SparkSession, eventsDir: String, outDir: String,
      checkpointDir: String, checks: Seq[RowCheck] = eventChecks): StreamingQuery = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = Tables.schemaOf(spark, eventsDir)
    val src = Tables.normalizeTs(
      spark.readStream.schema(fileSchema).parquet(eventsDir))
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => gateBatch(b, id, checks, outDir))
      .start()
  }
}
