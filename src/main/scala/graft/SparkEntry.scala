package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` has one entry per implemented operator (SURVEY.md §2 plus the
  * extension suite); `oracleSql` carries the DuckDB-runnable equivalent for
  * every SQL-expressible query. Keys and result column names MUST match
  * between the two maps — the driver sorts columns by name and hash-compares
  * values. Both maps are plain views of [[Catalog.all]]; the flagship
  * pair (`metrics_view`, `metrics_view_dynamic`) is registered in
  * RefPipelinePack like every other query.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.MetricsView(Tables.events(spark, "/root/testdata/sf0.001"))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map { case (name, q) => name -> q.fn }

  def oracleSql: Map[String, String] =
    Catalog.all.collect { case (name, QueryDef(_, _, Some(sql))) => name -> sql }
}
