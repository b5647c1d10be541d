package graft.ops

import org.apache.spark.sql.{DataFrame, GraftShims, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.LongType

/** The one row-position primitive behind [[Reshape.withRowIndex]],
  * [[Consolidate.withSequentialId]] and [[Consolidate.withRunningTotal]]:
  * global position = rows of the partitions before + position in the
  * partition.
  *
  * It takes `df`'s physical rows once (`queryExecution.toRdd`), counts
  * them per partition in one job over that RDD (no job on one partition),
  * appends the positions in one pass over the same RDD, and lifts the
  * result back into Catalyst as a `LogicalRDD`, the bridge checkpoints
  * use. The offsets and the rows therefore come from one execution: the
  * same partitions and the same shuffle files, so a sort's range bounds
  * or a nondeterministic shuffle key are not drawn a second time (the
  * `zipWithIndex` guarantee). As with `zipWithIndex`, an input that is
  * nondeterministic without a shuffle below it (a `rand()` over a file
  * scan) is recomputed by the second pass and may disagree with its own
  * counts.
  */
private[ops] object RowPositions {

  /** `df` with `posCol` appended: `base`, `base` + 1, … in partition
    * order. With `sumOf = Some((i, runCol))` it also appends `runCol`,
    * the inclusive running sum of the LongType column at index `i` (a
    * null adds 0), whose per-partition partial sums ride in the same
    * stats job as the row counts.
    */
  def append(
      df: DataFrame, posCol: String, base: Long,
      sumOf: Option[(Int, String)] = None): DataFrame = {
    val qe = df.queryExecution
    val output = qe.analyzed.output
    val rows = qe.toRdd
    val measure = sumOf.fold(-1)(_._1)
    val stats =
      if (rows.getNumPartitions <= 1) Array.empty[(Long, Long)]
      else rows.mapPartitions { it =>
        var n = 0L; var sum = 0L
        it.foreach { r =>
          n += 1L
          if (measure >= 0 && !r.isNullAt(measure)) sum += r.getLong(measure)
        }
        Iterator((n, sum))
      }.collect()
    val offsets = stats.scanLeft((0L, 0L)) { case ((n0, s0), (n, s)) => (n0 + n, s0 + s) }
    val added = (posCol +: sumOf.map(_._2).toSeq).map(AttributeReference(_, LongType, nullable = false)())
    val types = (output ++ added).map(_.dataType).toArray
    val width = added.size
    val positioned = rows.mapPartitionsWithIndex[InternalRow] { (pid, it) =>
      val project = UnsafeProjection.create(types)
      val extra = new GenericInternalRow(width)
      val joined = new JoinedRow
      var pos = base + offsets(pid)._1
      var run = offsets(pid)._2
      it.map { r =>
        extra.setLong(0, pos)
        pos += 1L
        if (measure >= 0) {
          if (!r.isNullAt(measure)) run += r.getLong(measure)
          extra.setLong(1, run)
        }
        project(joined(r, extra))
      }
    }
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    GraftShims.ofRows(session,
      LogicalRDD(output ++ added, positioned)(session, originStats = Some(qe.optimizedPlan.stats)))
  }
}
