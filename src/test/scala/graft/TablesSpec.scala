package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShims, Row}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.read` against the bare `spark.read.parquet` it replaces: the
  * same schema and rows after a rewrite, a grown directory and a
  * partitioned layout, the same error on an empty directory, and no
  * footer job on a repeated read.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def assertSameAsBare(path: String): Unit = {
    val bare = spark.read.parquet(path)
    val cached = Tables.read(spark, path)
    assert(cached.schema == bare.schema)
    assert(rows(cached) == rows(bare))
  }

  /** Jobs started by `body`, counted once the listener bus has drained. */
  private def jobsDuring(body: => Any): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftShims.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftShims.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  /** A TIMESTAMP(NANOS) `ts` file, which Spark cannot write itself. */
  private def writeNanosEvents(file: Path, nanos: Seq[Long]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(schema).build()
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally w.close()
  }

  test("a rewritten events file is re-inferred, and normalizeTs follows its new ts type") {
    val dir = tmp("tables-events")
    val table = dir.resolve("events.parquet")
    Files.createDirectories(table)
    val part = table.resolve("part-0.parquet")
    val base = 1735689600000000000L // 2025-01-01 UTC
    writeNanosEvents(part, Seq(base + 123L, base + 86400000000789L))

    val v1 = Tables.events(spark, dir.toString)
    assert(Tables.read(spark, table.toString).schema("ts").dataType == LongType)
    assert(v1.schema == Tables.normalizeTs(spark.read.parquet(table.toString)).schema)
    assert(v1.schema("ts").dataType == TimestampType)
    assert(rows(v1) == rows(Tables.normalizeTs(spark.read.parquet(table.toString))))
    assert(rows(v1.select("ts")).map(_.getTimestamp(0).toInstant.toString) ==
      Seq("2025-01-01T00:00:00Z", "2025-01-02T00:00:00Z"))

    // the same file name rewritten as TIMESTAMP_NTZ micros, one second later
    val staged = dir.resolve("staged").toString
    Seq((0L, "2025-01-01 00:00:01"), (1L, "2025-01-02 00:00:01"))
      .toDF("event_id", "t").select(col("event_id"), expr("CAST(t AS TIMESTAMP_NTZ)").as("ts"))
      .coalesce(1).write.parquet(staged)
    val written = Files.list(Path.of(staged)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.deleteIfExists(table.resolve(".part-0.parquet.crc"))
    Files.move(written, part, StandardCopyOption.REPLACE_EXISTING)

    assert(Tables.read(spark, table.toString).schema("ts").dataType == TimestampNTZType)
    val v2 = Tables.events(spark, dir.toString)
    assert(v2.schema("ts").dataType == TimestampType)
    assert(rows(v2) == rows(Tables.normalizeTs(spark.read.parquet(table.toString))))
    assert(rows(v2.select("ts")).map(_.getTimestamp(0).toInstant.toString) ==
      Seq("2025-01-01T00:00:01Z", "2025-01-02T00:00:01Z"))
  }

  test("a directory that gains a batch file returns the new rows") {
    val dir = tmp("tables-grow").resolve("tf").toString
    graft.io.BatchFiles.land(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "tok"), dir, 0L)
    assert(Tables.read(spark, dir).count() == 2)
    graft.io.BatchFiles.land(Seq((3L, "c")).toDF("doc_id", "tok"), dir, 1L)
    assert(Tables.read(spark, dir).count() == 3)
    assertSameAsBare(dir)
  }

  test("a partitioned directory keeps its partition column and type") {
    val dir = tmp("tables-cells").resolve("cells").toString
    spark.range(20).select(col("id").as("vec_id"), (col("id") % 3).as("cell"))
      .write.partitionBy("cell").parquet(dir)
    assertSameAsBare(dir)
    assert(Tables.read(spark, dir).schema.fieldNames.toSeq == Seq("vec_id", "cell"))
    assertSameAsBare(s"$dir/cell=1")
  }

  test("an empty or missing directory throws what a bare read throws") {
    val empty = tmp("tables-empty").toString
    for (p <- Seq(empty, s"$empty/missing")) {
      val bare = intercept[Exception](spark.read.parquet(p))
      val viaTables = intercept[Exception](Tables.read(spark, p))
      assert(viaTables.getClass == bare.getClass)
      assert(viaTables.getMessage == bare.getMessage)
    }
  }

  test("a repeated read of an unchanged table or a grown directory starts no job") {
    val root = tmp("tables-jobs")
    val table = root.resolve("orders.parquet").toString
    spark.range(100).select(col("id").as("o_orderkey")).write.parquet(table)
    // the control: a bare read runs its footer job every time
    assert(jobsDuring(spark.read.parquet(table)) == 1)
    Tables.load(spark, root.toString, "orders")
    assert(jobsDuring(Tables.load(spark, root.toString, "orders")) == 0)

    val dir = root.resolve("dlen").toString
    graft.io.BatchFiles.land(Seq((1L, 5L)).toDF("doc_id", "len"), dir, 0L)
    Tables.read(spark, dir)
    graft.io.BatchFiles.land(Seq((2L, 7L)).toDF("doc_id", "len"), dir, 1L)
    assert(jobsDuring(spark.read.parquet(dir)) == 1)
    assert(jobsDuring(Tables.read(spark, dir)) == 0)
  }
}
