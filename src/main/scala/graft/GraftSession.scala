package graft

import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** One-call entry point for using the engine as a library — the "switch
  * from the reference" story: where the reference wires a Python script to
  * a PostgreSQL view (`main.py` → `connect_postgre.py` →
  * `consolidacao_de_metricas`), a user here gets a SparkSession with the
  * engine's extensions installed and every corpus table reachable from
  * both the DataFrame API (`graft.Tables`) and SQL text.
  *
  * {{{
  * val spark = GraftSession.builder().getOrCreate()
  * GraftSession.attach(spark, "/data/sf0.01")
  * spark.sql("SELECT graft_dot(a.embedding, b.embedding) ...")
  * graft.SparkEntry.queries("metrics_view")(spark, "/data/sf0.01")
  * }}}
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else every processor. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Builder with the engine's extensions (native expressions, the as-of
    * join strategy, the approx-distinct rewrite) and the session posture
    * every engine main runs under: UTC, AQE on, shuffle parallelism =
    * cores, 64 MB broadcast ceiling (testdata dims at sf0.1 ≈ 15 MB must
    * broadcast; a 64 MB dim broadcast is still the right plan on a
    * cluster), UI off. This is the only place a session is built.
    */
  def builder(
      master: String = s"local[$cpus]",
      shufflePartitions: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)

  /** Install the engine on a LIVE session (the builder path can't change
    * an already-started JVM-wide session): registers every harness table
    * as a temp view (`events` through Tables.normalizeTs), the SQL
    * functions, and the as-of planner strategy. Idempotent.
    */
  def attach(spark: SparkSession, sfDir: String): Unit = {
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, sfDir) else Tables.load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
    GraftShims.registerFunction(spark, "graft_dot",
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot(arrayA, arrayB) takes 2 arguments")
        graft.plans.DotProductExpr(children.head, children(1))
      })
    GraftShims.registerFunction(spark, "graft_approx_hint",
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_approx_hint(c) takes 1 argument")
        graft.plans.ApproxDistinctHint(children.head)
      })
    GraftShims.addStrategy(spark, graft.plans.AsOfJoinStrategy)
    graft.plans.ApproxDistinct.install(spark)
  }
}
