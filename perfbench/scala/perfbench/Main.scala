package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The benchmark's JVM side: one run of one workload, as described by the
  * plan file `perfbench/run.py` writes.
  *
  * One session with the posture of the repo's `Bench` main, then one
  * closed-loop client with one operation in flight: the plan's warm-up
  * rounds (untimed), then whole rounds until `seconds` have passed and at
  * least `min_rounds` rounds have run.
  * Every operation's inputs are written before its timer starts, its
  * full output is collected, and the collected rows are checked after the
  * timer stops. A failed, timed-out or mismatching operation counts
  * as failed and is never reported as a time.
  *
  * Usage: perfbench.Main <plan.json>; writes the plan's `out` file.
  */
object Main {
  /** Generated classes the session caches (Spark's default is 100). */
  val CodegenCacheEntries = 2000

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  private def rootCause(t: Throwable): String = {
    var c = t
    while (c.getCause != null && c.getCause != c) c = c.getCause
    s"${c.getClass.getName}: ${Option(c.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}"
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Calibration loops of the repo's Bench: a fixed single-thread integer
    * loop and the same loop on every core at once (host context, not a
    * metric of the engine). Returns the last of `passes` timings.
    */
  private def calib(threads: Int, passes: Int): Double = {
    def loop(): Long = {
      var (x, i) = (0x9E3779B97F4A7C15L, 0)
      while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 33; i += 1 }
      x
    }
    def pass(): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until threads).map(_ => new Thread(() => { if (loop() == 42L) println("") }))
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    (1 to passes).map(_ => pass()).last
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mapper = new ObjectMapper()
    val plan = mapper.readTree(new java.io.File(args(0)))
    val seconds = plan.get("seconds").asDouble
    val minRounds = plan.get("min_rounds").asInt
    val traced = plan.get("trace").asBoolean
    val opTimeoutS = plan.get("op_timeout_s").asInt
    val cpus = Runtime.getRuntime.availableProcessors()
    System.setProperty("derby.stream.error.file", s"${plan.get("work_dir").asText}/derby.log")

    // the session posture of graft.Bench
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      // Spark's generated-class cache holds 100 classes by default. One IDA
      // release and one catalog round each need more, so with the default
      // every operation recompiles part of its code, and how much differs
      // from JVM to JVM: of two long IDA runs, one settled near 4 s an
      // operation and the other near 6.5 s. A cache that holds every class
      // the run generates gives each run the same steady state.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.local.dir", s"${plan.get("work_dir").asText}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tr = new Tracer(traced, sc)
    val stats = if (traced) Some(ExecStats.register(spark, tr)) else None
    def drain(): Unit = if (traced) org.apache.spark.sql.GraftShims.drainListenerBus(spark)
    val wl = Workloads(plan, spark, tr)

    final case class Rec(name: String, ok: Boolean, s: Double, build: Double, exec: Double,
        noop: Double, count: Double, rows: Int, error: String)
    val timer = new java.util.Timer(true)
    // Janino compiles, their time and GC time inside timed operations only
    var codegenNs = 0L
    var compiles = 0L
    var gcOpMs = 0L

    def runOp(name: String, op: Long): Rec = {
      val group = s"perfbench-op$op"
      try {
        val p = wl.prepare(name, op)
        try {
          tr.op = op
          sc.setJobGroup(group, name, interruptOnCancel = true)
          val cancel = new java.util.TimerTask { def run(): Unit = sc.cancelJobGroup(group) }
          timer.schedule(cancel, opTimeoutS * 1000L)
          val (cg0, n0, gc0) =
            (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount, gcMs())
          val t0 = System.nanoTime()
          val out =
            try tr.span("unattributed", name)(p.run())
            finally { cancel.cancel(); sc.clearJobGroup() }
          val s = (System.nanoTime() - t0) / 1e9
          if (op >= 0) {
            codegenNs += CodeGenerator.compileTime - cg0
            compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
            gcOpMs += gcMs() - gc0
          }
          drain()
          tr.op = -1
          // warm-up results (op < 0) are not reported, so only timed ones are checked
          val rows = if (op >= 0) out.check() else 0
          def timed(body: => Unit): Double = { val c0 = System.nanoTime(); body; (System.nanoTime() - c0) / 1e9 }
          val (noopS, countS) =
            if (!traced) (0.0, 0.0)
            else (timed(tr.span("exec", "noop")(out.result.write.format("noop").mode("overwrite").save())),
              timed(tr.span("exec", "count")(out.result.count())))
          drain()
          if (s > opTimeoutS) throw new java.util.concurrent.TimeoutException(s"operation took $s s")
          Rec(name, ok = true, s, out.buildS, out.execS, noopS, countS, rows, null)
        } finally { tr.op = -1; p.cleanup() }
      } catch {
        case t: Throwable =>
          val cause = rootCause(t)
          System.err.println(s"[perfbench] FAILED $name (op $op): $cause")
          Rec(name, ok = false, 0, 0, 0, 0, 0, 0, cause)
      }
    }

    val warmNames = Seq.fill(plan.get("warmup_rounds").asInt)(wl.round(-1)).flatten
    val warm = warmNames.zipWithIndex.map { case (n, i) => runOp(n, -1L - i) }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val recs = mutable.ArrayBuffer[Rec]()
    val loop0 = System.nanoTime()
    var r = 0
    while (((System.nanoTime() - loop0) / 1e9 < seconds || r < minRounds) && wl.hasRound) {
      wl.round(r).foreach(n => recs += runOp(n, recs.size.toLong))
      r += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val storage = sc.getRDDStorageInfo
    val residentMb = storage.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val persisted = sc.getPersistentRDDs.size

    val out = new java.util.LinkedHashMap[String, Any]()
    def opsJson(rs: Seq[Rec]) = rs.map { x =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("name", x.name); m.put("ok", x.ok); m.put("s", x.s); m.put("build_s", x.build)
      m.put("exec_s", x.exec); m.put("noop_s", x.noop); m.put("count_s", x.count); m.put("rows", x.rows)
      m.put("error", x.error)
      m
    }.asJava
    out.put("setup_s", setupS)
    out.put("session_s", sessionS)
    out.put("rounds", r)
    out.put("loop_s", loopS)
    out.put("inputs_exhausted", !wl.hasRound && (loopS < seconds || r < minRounds))
    out.put("warmup", opsJson(warm.toSeq))
    out.put("ops", opsJson(recs.toSeq))
    out.put("resident_mb_end", residentMb)
    out.put("persisted_rdds_end", persisted)
    out.put("gc_s", gcOpMs / 1e3)
    out.put("codegen_compile_s", codegenNs / 1e9)
    out.put("codegen_compiles", compiles)
    out.put("cpus", cpus)
    out.put("heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    out.put("spark_version", spark.version)
    if (traced) {
      val module = wl.report(tr)
      drain()
      val st = stats.get
      val t = new java.util.LinkedHashMap[String, Any]()
      st.synchronized {
        t.put("self_s", tr.selfTimes.asJava)
        t.put("jobs_by_layer", st.jobsByLayer.toMap.asJava)
        t.put("jobs_by_span", st.jobsByName.toMap.asJava)
        t.put("tables_schema_jobs", st.tablesJobs)
        t.put("phase_ms", st.phaseMs.toMap.asJava)
        t.put("stages", st.stages); t.put("tasks", st.tasks); t.put("failed_tasks", st.failedTasks)
        t.put("task_run_s", st.taskRunMs / 1e3); t.put("task_cpu_s", st.taskCpuNs / 1e9)
        t.put("task_queue_s", st.taskQueueMs / 1e3)
        t.put("max_task_share", if (st.stageTaskMs > 0) st.largestTaskMs.toDouble / st.stageTaskMs else 0.0)
        t.put("shuffle_write_mb", st.shuffleWrite / 1048576.0)
        t.put("shuffle_read_mb", st.shuffleRead / 1048576.0)
        t.put("spill_mb", st.spill / 1048576.0)
        t.put("input_mb", st.input / 1048576.0)
        t.put("peak_exec_mem_mb", st.peakExecMem / 1048576.0)
      }
      val spanSums = tr.spans.filter(_.op >= 0).groupBy(s => s"${s.layer}.${s.name}")
        .map { case (k, ss) => k -> ss.map(s => s.end - s.start).sum / 1e9 }
      t.put("span_s", spanSums.asJava)
      t.put("module", module.asJava)
      out.put("trace", t)
      val spans = tr.spans.map { s =>
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("id", s.id); m.put("name", s.name); m.put("layer", s.layer); m.put("op", s.op)
        m.put("parent", s.parent); m.put("start_ns", s.start); m.put("end_ns", s.end)
        m
      }.asJava
      mapper.writeValue(new java.io.File(plan.get("spans_out").asText), spans)
    }
    // the single-thread passes warm the loop up for the all-core one
    out.put("calib_sec", calib(1, passes = 2))
    out.put("calib_mt_sec", calib(cpus, passes = 1))
    out.put("peak_rss_mb", peakRssMb())
    mapper.writeValue(new java.io.File(plan.get("out").asText), out)
    timer.cancel()
    spark.stop()
  }
}
