package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's own calls into each layer of the engine.
  *
  * A span has a name, a layer, start and end (ns), a parent span and an
  * operation id. Spans stay in memory and are written out at the end of a
  * traced run. Jobs, stages and tasks are attributed to the innermost open
  * span through a Spark local property, which Spark copies into every job
  * the calling thread submits.
  *
  * When disabled, [[span]] only runs its body: untraced runs register no
  * listener and record nothing.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  final case class Span(id: Int, name: String, layer: String, op: Long, parent: Int,
      start: Long, var end: Long)

  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  @volatile var op: Long = -1L

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, layer, op, open.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), 0L)
      spans += s
      open = s :: open
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProp, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Self time per layer over the spans of timed operations (op >= 0): a
    * span's duration minus the part its child spans cover. The root span
    * of each operation has layer "unattributed".
    */
  def selfTimes: Map[String, Double] = {
    val timed = spans.filter(_.op >= 0)
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    timed.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    timed.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.end - s.start - childNs(s.id)).sum / 1e9
    }
  }

  def layerOf(spanId: Int): String = if (spanId >= 0 && spanId < spans.size) spans(spanId).layer else "none"
  def opOf(spanId: Int): Long = if (spanId >= 0 && spanId < spans.size) spans(spanId).op else -1L
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Execution statistics from a SparkListener the benchmark registers,
  * plus Catalyst phase times of every executed query from a
  * QueryExecutionListener. Totals cover timed operations only (the span
  * attached to the job belongs to an operation with id >= 0).
  */
final class ExecStats(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private def timed(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toInt)
      .filter(id => tracer.opOf(id) >= 0)

  val jobsByLayer = mutable.Map[String, Int]().withDefaultValue(0)
  val jobsByName = mutable.Map[String, Int]().withDefaultValue(0)
  var stages = 0
  var tasks = 0L
  var failedTasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskQueueMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var peakExecMem = 0L
  private val stageSpan = mutable.Map[Int, Int]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val stageMaxTask = mutable.Map[Int, Long]().withDefaultValue(0L)
  private val stageSumTask = mutable.Map[Int, Long]().withDefaultValue(0L)
  var largestTaskMs = 0L
  var stageTaskMs = 0L
  /** Jobs of timed operations whose call site is `graft.Tables` (parquet
    * schema inference on `Tables.load`).
    */
  var tablesJobs = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    timed(e.properties).foreach { id =>
      jobsByLayer(tracer.layerOf(id)) += 1
      jobsByName(tracer.spans(id).name) += 1
      // a stage is named after its job's call site, e.g. "parquet at Tables.scala:19"
      if (e.stageInfos.headOption.exists(_.name.contains("Tables.scala"))) tablesJobs += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    timed(e.properties).foreach { id =>
      stageSpan(e.stageInfo.stageId) = id
      stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val sid = e.stageInfo.stageId
    if (stageSpan.contains(sid)) {
      stages += 1
      if (e.stageInfo.numTasks > 1) {
        largestTaskMs += stageMaxTask(sid)
        stageTaskMs += stageSumTask(sid)
      }
      stageSpan -= sid; stageSubmit -= sid; stageMaxTask -= sid; stageSumTask -= sid
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageSpan.contains(e.stageId)) {
      tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) failedTasks += 1
      stageSubmit.get(e.stageId).foreach(s => taskQueueMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        input += m.inputMetrics.bytesRead
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
        stageMaxTask(e.stageId) = math.max(stageMaxTask(e.stageId), m.executorRunTime)
        stageSumTask(e.stageId) += m.executorRunTime
      }
    }
  }

  // Catalyst phases of executed queries. These events arrive on the
  // listener bus; the harness drains the bus before it changes
  // `tracer.op`, so the operation id read here is the one that ran them.
  val phaseMs = mutable.Map[String, Long]().withDefaultValue(0L)

  private def phases(qe: QueryExecution): Unit = synchronized {
    if (tracer.op >= 0)
      qe.tracker.phases.foreach { case (p, s) => phaseMs(p) += s.durationMs }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

object ExecStats {
  def register(spark: SparkSession, tracer: Tracer): ExecStats = {
    val s = new ExecStats(tracer)
    spark.sparkContext.addSparkListener(s)
    spark.listenerManager.register(s)
    s
  }
}
