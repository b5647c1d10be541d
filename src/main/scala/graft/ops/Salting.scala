package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for aggregations: two-phase salted aggregation.
  *
  * A hot group key sends all its rows to one reducer; salting splits each
  * key into `salts` sub-keys for the heavy partial phase, then a second,
  * tiny aggregation merges the sub-results. Correct for any
  * associative-decomposable aggregate (sum/count/min/max; avg via
  * sum+count). At 100 TB this is the manual fallback when AQE's skew
  * handling cannot help (it only splits join partitions, not aggregation
  * keys).
  */
object Salting {

  /** sum/count aggregation of `valueCol` by `keyCols`, salted. Returns
    * (keyCols..., sum_value, n_rows).
    */
  def saltedSumCount(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      salts: Int = 16): DataFrame = {
    val keyed = df.withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val partial = keyed
      .groupBy((keyCols.map(col) :+ col("_salt")): _*)
      .agg(sum(col(valueCol)).as("_psum"), count(lit(1)).as("_pcnt"))
    partial
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("_psum")).as("sum_value"), sum(col("_pcnt")).as("n_rows"))
  }

  /** Salt replication for skewed JOINS: explode the small side into one
    * row per salt `0 until salts`, then join on (key, salt).
    */
  def explodeSalts(salts: Int): Column =
    explode(sequence(lit(0), lit(salts - 1)))
}
