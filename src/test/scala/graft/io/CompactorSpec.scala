package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

/** Compaction must be read-invisible (same rows before and after), must
  * actually shrink the file count, must leave a CLUSTERED layout (tight,
  * low-overlap FileSkipIndex envelopes), and the incremental index
  * refresh must stat only new files yet equal a full rebuild.
  */
class CompactorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("compact: 32 fragments -> 4 sorted files, rows identical, clustered") {
    val tmp = java.nio.file.Files.createTempDirectory("compactor-spec").toString
    val slice = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
    slice.repartition(32).write.mode("overwrite").parquet(s"$tmp/t")
    val before = spark.read.parquet(s"$tmp/t")
      .orderBy("l_orderkey", "qty").collect()

    val stats = Compactor.compact(spark, s"$tmp/t", numFiles = 4, col("l_orderkey"))
    assert(stats.filesBefore == 32 && stats.filesAfter == 4)
    assert(stats.rows == before.length)

    val after = spark.read.parquet(s"$tmp/t")
      .orderBy("l_orderkey", "qty").collect()
    assert(after.map(_.toSeq).toSeq == before.map(_.toSeq).toSeq,
      "compaction changed the data")

    // clustering: per-file key envelopes barely overlap after the sorted
    // rewrite (range boundaries may duplicate a single key value)
    val idx = FileSkipIndex.build(spark.read.parquet(s"$tmp/t"), Seq("l_orderkey"))
      .orderBy("l_orderkey_min").collect()
    idx.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("l_orderkey_min") >= a.getAs[Long]("l_orderkey_max"),
          "compacted files must be range-disjoint (up to the shared boundary key)")
      case _ => ()
    }
  }

  test("index refresh stats only new files and equals a full rebuild") {
    val tmp = java.nio.file.Files.createTempDirectory("refresh-spec").toString
    val slice = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
    slice.filter(col("l_orderkey") % 2 === 0).coalesce(2)
      .write.mode("overwrite").parquet(s"$tmp/t")
    val initial = FileSkipIndex.build(spark.read.parquet(s"$tmp/t"), Seq("l_orderkey"))
      .collect()

    // late-arriving data: more files land in the directory
    slice.filter(col("l_orderkey") % 2 === 1).coalesce(2)
      .write.mode("append").parquet(s"$tmp/t")
    def nFiles: Int = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/t"))
      try l.filter(_.toString.endsWith(".parquet")).count().toInt finally l.close()
    }
    val totalFiles = nFiles
    val initialDf = spark.createDataFrame(
      spark.sparkContext.parallelize(initial.toIndexedSeq),
      FileSkipIndex.build(spark.read.parquet(s"$tmp/t"), Seq("l_orderkey")).schema)
    val refreshed = FileSkipIndex.refresh(spark, s"$tmp/t", initialDf, Seq("l_orderkey"))

    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (new org.apache.hadoop.fs.Path(r.getAs[String]("file")).toUri.getPath,
        r.getAs[Long]("l_orderkey_min"), r.getAs[Long]("l_orderkey_max"),
        r.getAs[Long]("n_rows"))).sortBy(_._1).toSeq
    val full = FileSkipIndex.build(spark.read.parquet(s"$tmp/t"), Seq("l_orderkey"))
    assert(canon(refreshed.collect()) == canon(full.collect()),
      "incremental refresh must equal a full rebuild")
    assert(refreshed.count() == totalFiles && initial.length < totalFiles)

    // a second refresh with nothing new is a no-op
    assert(FileSkipIndex.refresh(spark, s"$tmp/t", refreshed, Seq("l_orderkey"))
      .count() == refreshed.count())
  }

  test("refresh drops index rows for files that vanished (post-compaction)") {
    val tmp = java.nio.file.Files.createTempDirectory("refresh-drop-spec").toString
    val slice = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
    slice.repartition(8).write.mode("overwrite").parquet(s"$tmp/t")
    val idx = FileSkipIndex.build(spark.read.parquet(s"$tmp/t"), Seq("l_orderkey"))
      .cache()
    assert(idx.count() == 8)

    // compaction rewrites the directory: every indexed file vanishes
    Compactor.compact(spark, s"$tmp/t", numFiles = 2, col("l_orderkey"))
    val refreshed = FileSkipIndex.refresh(spark, s"$tmp/t", idx, Seq("l_orderkey"))
    assert(refreshed.count() == 2, "stale pre-compaction rows must be dropped")
    // and the refreshed index serves exact reads (no missing-path failure)
    val data = spark.read.parquet(s"$tmp/t")
    val keys = data.agg(min("l_orderkey"), max("l_orderkey")).first()
    val pruned = FileSkipIndex.prunedRead(
      spark, refreshed, data.schema, "l_orderkey", keys.getLong(0), keys.getLong(1))
    assert(pruned.count() == data.count())
    idx.unpersist()
  }

  test("compact recovers a run that crashed between the swap renames") {
    val tmp = java.nio.file.Files.createTempDirectory("compact-crash-spec").toString
    val slice = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
    slice.repartition(4).write.mode("overwrite").parquet(s"$tmp/t")
    val expect = spark.read.parquet(s"$tmp/t").count()
    // simulate the crash window: dir renamed away, tmp never renamed in
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$tmp/t"),
      new org.apache.hadoop.fs.Path(s"$tmp/t.swap-old")))
    val stats = Compactor.compact(spark, s"$tmp/t", numFiles = 2, col("l_orderkey"))
    assert(stats.rows == expect, "recovery must restore the full table before compacting")
    assert(spark.read.parquet(s"$tmp/t").count() == expect)
  }
}
