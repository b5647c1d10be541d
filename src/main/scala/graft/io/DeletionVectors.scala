package graft.io

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Position-delete read path — DELETE without rewriting data files.
  *
  * The reference's only delete is DROP-and-recreate
  * (`/root/reference/connect_postgre.py:240`); at 100 TB, rewriting a
  * table to remove 0.1% of its rows is the single most expensive way to
  * delete. The lakehouse answer (Iceberg position deletes, Delta deletion
  * vectors) is to record WHICH rows died — `(file, row position)` — and
  * anti-join them back at read time; data files are immutable until a
  * compaction folds the tombstones in.
  *
  * This module is that shape on plain parquet, Spark-native:
  *   - [[delete]] scans the table once with the hidden
  *     `_metadata.file_path` / `_metadata.row_index` columns (generated
  *     by the parquet reader itself — no synthetic id, no zipWithIndex
  *     single-partition hazard, stable under any partitioning because it IS
  *     the physical position), filters the doomed rows, and APPENDS their
  *     positions to the deletion-vector directory. Cost rides the
  *     matched predicate, not table size; repeated calls accumulate
  *     commits like a delete log.
  *   - [[read]] left-anti joins the live scan against the accumulated
  *     positions. The tombstone side is broadcast — deletes are assumed
  *     small relative to the table (the regime where deletion vectors
  *     beat rewriting at all); a delete set too big to broadcast is the
  *     signal to compact instead ([[Compactor]] folds tombstones away by
  *     rewriting survivors, after which [[delete]]'s log starts empty).
  *
  * At cluster scale the production refinement is per-file roaring bitmaps
  * shipped into the scan (skip dead rows before they decode); the
  * broadcast anti-join on `(file, pos)` is the composable Spark
  * equivalent with identical semantics, and the oracle gate
  * (`q_delete_vectors`) pins those semantics bit-for-bit.
  */
object DeletionVectors {

  /** Record positions of rows matching `predicate` as a new delete
    * commit under `dvDir`. Returns the number of positions appended.
    * The scan prunes to `_metadata` plus the predicate's columns —
    * nothing else is read or written.
    */
  def delete(spark: SparkSession, tableDir: String, dvDir: String,
      predicate: Column): Long = {
    val doomed = Tables.read(spark, tableDir)
      .filter(predicate)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("row_index"))
    doomed.write.mode("append").parquet(dvDir)
    doomed.count()
  }

  /** The table minus every position any delete commit recorded.
    * Duplicate tombstones (two commits matching the same row) are
    * harmless: anti-join semantics are idempotent.
    */
  def read(spark: SparkSession, tableDir: String, dvDir: String): DataFrame = {
    val base = Tables.read(spark, tableDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dvDir), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dvDir))) return base
    val live = base
      .withColumn("__dv_file", col("_metadata.file_path"))
      .withColumn("__dv_pos", col("_metadata.row_index"))
    val dv = Tables.read(spark, dvDir)
      .select(col("file_path").as("__dv_file"), col("row_index").as("__dv_pos"))
    live.join(broadcast(dv), Seq("__dv_file", "__dv_pos"), "left_anti")
      .drop("__dv_file", "__dv_pos")
  }
}
