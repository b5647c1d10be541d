package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Flagship query: the reference's one analytical view
  * (`consolidacao_de_metricas`, /root/reference/README.md:119-219)
  * re-expressed over the harness `events` table.
  *
  * Reference shape: filter → group-avg per (period, group) → LAG over the
  * period within each group → pct-change rounded to 1dp with NULLIF guard →
  * re-group per period with AVG + manual CASE-WHEN pivot per group +
  * COALESCE(...,0.0) + per-group diff-vs-mean → HAVING COUNT(DISTINCT group)
  * >= 2 → ORDER BY period DESC.
  *
  * Mapping onto `events`: period = calendar day of `ts` (the testdata spans a
  * single month, so day-granularity is what gives the LAG a real series);
  * group = `event_type`; metric = `value`.
  *
  * Scale notes (100 TB): the first aggregation reduces the fact table to
  * (days × types) rows — partial aggregation happens map-side, so the one
  * shuffle carries only pre-aggregated groups (at most map tasks × days ×
  * types rows, never fact rows). Everything after it — the final merge of
  * that aggregate, the LAG window, the pivot aggregate, HAVING and the
  * ORDER BY — runs as ONE task over the (days × types) rows: that count
  * is bounded by the calendar and the group domain, not by the fact
  * table, so one task stays as small at 100 TB as at 1 GB, while a
  * shuffle per step would cost a stage (and, for the ORDER BY, a sample
  * job) each for a few hundred rows.
  */
object MetricsView {

  /** Pivot list kept explicit (reference hardcodes its 6 economic groups,
    * README.md:167-182); a dynamic variant would need a two-pass collect of
    * distinct groups. Sorted for deterministic column order.
    */
  val eventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Oracle-parity form: the fixed group list (reference hardcodes its 6
    * economic groups).
    */
  def apply(events: DataFrame): DataFrame = buildView(events, eventTypes)

  /** Dynamic variant (SURVEY.md §7.4 #5): pivot groups collected from the
    * data (two-pass) — the engine-API form. A collected set that differs
    * from the fixed [[eventTypes]] list is logged loudly: the
    * metrics_view_dynamic driver gate shares metrics_view's oracle, which
    * is only sound while the data's type domain equals the fixed list.
    */
  def dynamic(events: DataFrame): DataFrame = {
    val types = groupsOf(events, "event_type")
    if (types != eventTypes)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dynamic pivot collected event_type domain $types != fixed $eventTypes; " +
          "the shared metrics_view oracle no longer applies to this data")
    buildView(events, types)
  }

  /** The sorted distinct non-NULL values of `group`: the pivot columns of
    * a dynamic view. A NULL group cannot name a column, so it gets none;
    * its rates still enter the period average, as in the reference's SQL.
    */
  private def groupsOf(df: DataFrame, group: String): Seq[String] =
    df.select(group).filter(col(group).isNotNull).distinct()
      .collect().map(_.getString(0)).sorted.toSeq

  /** Stage 1 — the per-(day, type) aggregate, kept as decomposable
    * sum+count (NOT avg) so a stream can maintain it incrementally:
    * streaming state merges sums and counts; `avg` happens only in stage
    * 2. Spark's own Average evaluates as sum/count at the end, so the
    * split is value-identical to the fused form.
    */
  def dailyAggregate(events: DataFrame): DataFrame =
    events
      .filter(col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("dia"), col("event_type"))
      .agg(sum(col("value")).as("sum_value"), count(lit(1)).as("n_value"))

  /** Stage 2 — the view over a maintained stage-1 aggregate (batch or the
    * compacted output of [[graft.streaming.EventStream.maintainedDaily]]).
    * Everything here runs on (days × types) rows, never fact cardinality.
    */
  def fromDailyAggregate(daily: DataFrame, types: Seq[String]): DataFrame = {
    val rows = daily.select(col("dia"), col("event_type"),
      (col("sum_value") / col("n_value")).as("valor_atual"))
    val diffCols = types.map(t => round(col(s"taxa_$t") - col("taxa_media"), 1).as(s"dif_$t"))
    view(rows, "dia", "event_type", "taxa_media", types)
      .select(col("*") +: diffCols: _*)
      .orderBy(col("dia").desc)
  }

  private def buildView(events: DataFrame, types: Seq[String]): DataFrame =
    fromDailyAggregate(dailyAggregate(events), types)

  /** The view in its ORIGINAL shape (README.md:119-219): over the
    * canonical IDA table (grupo_economico, servico, mes_referencia,
    * valor), filtered to the IDA indicator, month-granularity LAG,
    * dynamic group list — composes directly onto [[IdaPipeline]] output
    * for the full reference-system path (raw spreadsheet → view).
    */
  def overIda(
      ida: DataFrame,
      indicador: String = "Indicador de Desempenho no Atendimento (IDA)"): DataFrame = {
    val filtered = ida.filter(col("servico") === indicador)
    val monthly = filtered
      .groupBy(col("mes_referencia"), col("grupo_economico"))
      .agg(avg(col("valor")).as("valor_atual"))
    view(monthly, "mes_referencia", "grupo_economico", "taxa_variacao_media",
      groupsOf(filtered, "grupo_economico"))
      .orderBy(col("mes_referencia").desc)
  }

  /** The view body over rows of (`period`, `group`, `valor_atual`): LAG
    * over the period within each group, the % change rounded to 1 dp
    * (NULLIF guard), then per period the rounded average as `mean`, one
    * `taxa_<g>` pivot column per group, and HAVING COUNT(DISTINCT group)
    * >= 2. Unordered; each form sorts its own output.
    *
    * `rows` is always an aggregate's output, one row per (period, group),
    * so the body runs in one partition (`coalesce(1)`, no exchange): one
    * partition satisfies the window's and the pivot's clustering and the
    * caller's global sort, and the whole body becomes one task instead of
    * a shuffle per step. The caller must keep it that way: never hand this
    * fact-cardinality rows.
    */
  private def view(
      rows: DataFrame, period: String, group: String, mean: String,
      groups: Seq[String]): DataFrame = {
    val w = Window.partitionBy(group).orderBy(period)
    val taxa = rows.coalesce(1)
      .withColumn("valor_anterior", lag(col("valor_atual"), 1).over(w))
      .filter(col("valor_anterior").isNotNull && col("valor_anterior") =!= 0)
      .withColumn("taxa_var",
        round((col("valor_atual") - col("valor_anterior")) /
          when(col("valor_anterior") === 0, lit(null)).otherwise(col("valor_anterior")) * 100, 1))
    val pivotCols = groups.map { g =>
      coalesce(round(avg(when(col(group) === g, col("taxa_var"))), 1), lit(0.0)).as(s"taxa_$g")
    }
    taxa
      .groupBy(period)
      .agg(round(avg(col("taxa_var")), 1).as(mean),
        pivotCols :+ countDistinct(col(group)).as("n_grupos"): _*)
      .filter(col("n_grupos") >= 2)
      .drop("n_grupos")
  }

  /** The oracles' SQL form of [[view]]: over a CTE `from` of (`period`,
    * `group`, valor_atual) rows, the CTEs `lagged`, `taxa` and `pivoted`
    * (period, mean, taxa_<g>…). The caller opens the WITH and selects
    * from `pivoted`. DuckDB dialect, ANSI enough for `spark.sql` too.
    */
  private[graft] def oracleBody(
      from: String, period: String, group: String, mean: String,
      groups: Seq[String]): String = {
    val pivot = groups.map { g =>
      s"COALESCE(ROUND(AVG(CASE WHEN $group = '$g' THEN taxa_var END), 1), 0.0) AS taxa_$g"
    }.mkString(",\n         ")
    s"""lagged AS (
       |  SELECT $period, $group, valor_atual,
       |         LAG(valor_atual) OVER (PARTITION BY $group ORDER BY $period) AS valor_anterior
       |  FROM $from
       |), taxa AS (
       |  SELECT $period, $group,
       |         ROUND((valor_atual - valor_anterior) / NULLIF(valor_anterior, 0) * 100, 1) AS taxa_var
       |  FROM lagged
       |  WHERE valor_anterior IS NOT NULL AND valor_anterior <> 0
       |), pivoted AS (
       |  SELECT $period, ROUND(AVG(taxa_var), 1) AS $mean,
       |         $pivot
       |  FROM taxa
       |  GROUP BY $period
       |  HAVING COUNT(DISTINCT $group) >= 2
       |)""".stripMargin
  }

  /** DuckDB-dialect equivalent (ANSI; shared with PostgreSQL semantics). */
  val oracle: String = {
    val diffs = eventTypes.map(t => s"ROUND(taxa_$t - taxa_media, 1) AS dif_$t").mkString(", ")
    s"""WITH base AS (
       |  SELECT CAST(ts AS DATE) AS dia, event_type, AVG(value) AS valor_atual
       |  FROM events WHERE value IS NOT NULL
       |  GROUP BY 1, 2
       |), ${oracleBody("base", "dia", "event_type", "taxa_media", eventTypes)}
       |SELECT *, $diffs
       |FROM pivoted
       |ORDER BY dia DESC""".stripMargin
  }
}
