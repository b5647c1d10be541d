package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** What one operation measured: the time to build its DataFrame and the
  * time of its action, `collect()` of the full output. `check` compares the
  * collected rows with the expected result after the timer stopped (returns
  * the row count); traced runs also time `result` into the noop sink and as
  * a `count()` for the count-vs-full-output table.
  */
final case class Outcome(buildS: Double, execS: Double, check: () => Int, result: DataFrame)

/** One operation whose inputs are already written; `run` is the timed part. */
trait Prepared {
  def run(): Outcome
  def cleanup(): Unit = ()
}

/** A workload: the operations of each round and how to prepare each. */
trait Workload {
  /** Operation names of round `r`; round -1 is the warm-up. */
  def round(r: Int): Seq[String]
  /** Whether the generated inputs cover one more whole round. */
  def hasRound: Boolean = true
  def prepare(name: String, op: Long): Prepared
  /** Layer metrics only this workload produces (traced runs). */
  def report(tr: Tracer): Map[String, Double] = Map.empty
}

object Workloads {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The timed action: the full output, collected. */
  def collect(tr: Tracer, df: DataFrame): Seq[org.apache.spark.sql.Row] =
    tr.span("exec", "collect")(df.collect().toSeq)

  def apply(plan: JsonNode, spark: SparkSession, tr: Tracer): Workload = {
    val seed = plan.get("seed").asLong
    val work = plan.get("work_dir").asText
    plan.get("workload").asText match {
      case "catalog_sql" => new CatalogWorkload(plan, spark, tr, new IngestWorkload(plan, spark, tr, work))
      case "ida_etl" =>
        val s = plan.get("ida")
        new IdaWorkload(spark, tr, seed, s"$work/ida", IdaRelease.Shape(
          s.get("years").asInt, s.get("groups").asInt, s.get("variables").asInt,
          s.get("dup_rows").asInt), plan.path("corrupt").asBoolean(false))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}

import Workloads.{collect, secs}

/** `catalog_sql`: one interactive session over a generated table
  * directory whose `documents` table is a curation corpus. Each round runs,
  * in a seed-shuffled order, the catalog queries of the plan (the dedup
  * kernels among them traced as layer `ext`, the rest as `queries`) plus
  * one `ingest_serve` operation of the standing index. Every query result
  * is checked against its DuckDB oracle's result, computed by `run.py`
  * before the JVM started.
  */
final class CatalogWorkload(plan: JsonNode, spark: SparkSession, tr: Tracer, ingest: IngestWorkload)
    extends Workload {
  private val dir = plan.get("data_dir").asText
  private val seed = plan.get("seed").asLong
  private val expected: Seq[(String, Check.Expected)] = {
    val it = plan.get("ops").elements()
    val b = Seq.newBuilder[(String, Check.Expected)]
    while (it.hasNext) {
      val o = it.next()
      b += o.get("name").asText -> Check.readExpected(o.get("expected").asText)
    }
    b.result()
  }
  private val want = expected.toMap
  private val extOps = plan.get("ext_ops").elements().asScala.map(_.asText).toSet
  private val queries = graft.SparkEntry.queries
  private val names = expected.map(_._1) :+ IngestWorkload.Op

  def round(r: Int): Seq[String] =
    if (r < 0) names else new scala.util.Random(seed * 7919L + r).shuffle(names)

  override def hasRound: Boolean = ingest.remaining > 0

  def prepare(name: String, op: Long): Prepared =
    if (name == IngestWorkload.Op) ingest.prepare()
    else () => {
      val layer = if (extOps(name)) "ext" else "queries"
      val t0 = System.nanoTime()
      val df = tr.span(layer, name)(queries(name)(spark, dir))
      val build = secs(t0)
      val t1 = System.nanoTime()
      val rows = collect(tr, df)
      Outcome(build, secs(t1), () => Check.compare(df.columns.toSeq, rows, want(name)), df)
    }

  override def report(tr: Tracer): Map[String, Double] = {
    // direct probe of Tables.load, once per table, after the timed loop
    val probe = graft.Tables.names.map { t =>
      val t0 = System.nanoTime()
      tr.span("tables", "load")(graft.Tables.load(spark, dir, t))
      secs(t0)
    }
    Map("tables.load_s" -> probe.sum) ++ ingest.report()
  }
}

/** `ida_etl`: one generated IDA release per operation through the whole
  * reference pipeline, composed as `q_ida_e2e_load` composes it: read
  * (ODS data source / latin-1 TSV reader) → clean each file → checkpoint →
  * consolidate → checkpoint → typed JDBC table (in-memory Derby) → read
  * back → consolidacao view. Files are cleaned one after another, in
  * release order, so each layer call is its own span.
  */
final class IdaWorkload(spark: SparkSession, tr: Tracer, seed: Long, dir: String,
    shape: IdaRelease.Shape, corrupt: Boolean) extends Workload {
  private val url = "jdbc:derby:memory:perfbench;create=true"
  var longRows = 0L
  var distinctRows = 0L

  def round(r: Int): Seq[String] = Seq("ida_release")

  def prepare(name: String, op: Long): Prepared = {
    val rel = IdaRelease.generate(seed, op, shape)
    val opDir = s"$dir/op$op"
    Files.createDirectories(Paths.get(opDir))
    rel.files.foreach { f =>
      val path = s"$opDir/${f.name}"
      if (f.ods) graft.io.OdsWriter.write(f.rows, path)
      else Files.write(Paths.get(path), IdaRelease.tsvBytes(f))
    }
    val exp0 = IdaRelease.expectedView(rel)
    val exp = if (!corrupt) exp0 else exp0.copy(rows = exp0.rows.map(r =>
      r.copy(cells = r.cells.map(_.map(t => IdaRelease.Tenths(t.lo + 5, t.hi + 5))))))
    if (op >= 0) { longRows += rel.longRows; distinctRows += rel.distinctRows }
    new Prepared {
      def run(): Outcome = {
        val t0 = System.nanoTime()
        val cleaned = rel.files.map { f =>
          val path = s"$opDir/${f.name}"
          val raw =
            if (f.ods) tr.span("io", "ods_read")(spark.read.format("ods").load(path))
            else tr.span("io", "tsv_read")(graft.io.CsvEncodingReader.read(spark, path))
          val c = tr.span("ops", "clean")(graft.ops.IdaPipeline.cleanFile(raw, f.servico))
          tr.span("exec", "checkpoint")(c.localCheckpoint())
        }
        val consolidated = tr.span("ops", "consolidate")(graft.ops.IdaPipeline.consolidate(cleaned))
        val cp = tr.span("exec", "checkpoint")(consolidated.localCheckpoint())
        tr.span("io", "jdbc_write") {
          graft.io.JdbcSink.ensureDatabase(url)
          graft.io.JdbcSink.write(cp, url, "ida_consolidada", stringSql = "VARCHAR(255)")
        }
        val back = tr.span("io", "jdbc_read")(
          spark.read.jdbc(url, "ida_consolidada", new java.util.Properties()))
        val view = tr.span("ops", "view")(graft.ops.MetricsView.overIda(back))
        val build = secs(t0)
        val t1 = System.nanoTime()
        val rows = collect(tr, view)
        Outcome(build, secs(t1), () => IdaRelease.compare(view.columns.toSeq, rows, exp), view)
      }
      override def cleanup(): Unit = Main.deleteTree(Paths.get(opDir))
    }
  }

  override def report(tr: Tracer): Map[String, Double] = Map(
    "io.jdbc_rows" -> distinctRows.toDouble,
    "ops.rows_long" -> longRows.toDouble,
    "ops.rows_distinct" -> distinctRows.toDouble)
}

/** The standing-index operation of `catalog_sql`: one generated
  * micro-batch of documents per operation lands through
  * `RetrievalIngest.ingestBatch` into a standing index directory, then
  * `RetrievalIngest.bm25` serves a fixed query set (top 10 per query) from
  * the same directory. The expected top 10 after batch k is BM25 over
  * batches 0..k computed in DuckDB by `run.py`.
  */
final class IngestWorkload(plan: JsonNode, spark: SparkSession, tr: Tracer, work: String) {
  private val cfg = plan.get("ingest")
  private val batches = cfg.get("batches_dir").asText
  private val expectedDir = cfg.get("expected_dir").asText
  private val nBatches = cfg.get("batches").asInt
  private val index = s"$work/index"
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val qtoks = spark.read
    .schema(StructType(Seq(StructField("query_id", LongType), StructField("tok", StringType))))
    .parquet(cfg.get("queries").asText)
  private var next = 0

  def remaining: Int = nBatches - next

  private def batchPath(k: Int) = f"$batches/b$k%04d.parquet"

  private def topK(scores: DataFrame): DataFrame =
    scores.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rank") <= 10)
      .select("query_id", "rank", "doc_id", "score")

  def prepare(): Prepared = {
    val k = next
    if (k >= nBatches) throw new IllegalStateException(s"only $nBatches batches were generated")
    next += 1
    () => {
      val t0 = System.nanoTime()
      val batch = spark.read.schema(docSchema).parquet(batchPath(k))
      tr.span("streaming", "ingest")(graft.streaming.RetrievalIngest.ingestBatch(batch, k, index))
      val served = tr.span("streaming", "serve")(topK(graft.streaming.RetrievalIngest.bm25(spark, index, qtoks)))
      val build = secs(t0)
      val t1 = System.nanoTime()
      val rows = collect(tr, served)
      Outcome(build, secs(t1), () => Check.compare(served.columns.toSeq, rows,
        Check.readExpected(f"$expectedDir/k$k%04d.json")), served)
    }
  }

  def report(): Map[String, Double] = {
    if (!Files.exists(Paths.get(index))) return Map.empty
    val files = Files.walk(Paths.get(index))
    try Map("streaming.index_files" ->
      files.filter(p => p.toString.endsWith(".parquet")).count().toDouble)
    finally files.close()
  }
}

object IngestWorkload {
  val Op = "ingest_serve"
}
