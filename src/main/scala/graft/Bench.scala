package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: one JSON line with per-query and total seconds
  * over SPARK_GRAFT_SF_DIR (default sf0.1).
  *
  * Three passes in sorted name order: an untimed warm-up (JIT, codegen
  * compilation, parquet footer caches — the first query otherwise
  * absorbs ~5s of one-time JVM cost), then TWO timed passes with the
  * per-query minimum reported; "total" is the sum of minima (steady-state
  * throughput), not the wall time of any single pass.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val results = timeQueries(spark, sfDir, SparkEntry.queries.toSeq.sortBy(_._1))
    // Host-speed calibration: the same jar + protocol measured 57.4 s
    // and 86.8 s TOTAL on two boots of the same box (median per-query
    // ratio 1.51, uniform — zero plan changes between the runs), so a
    // round-over-round total is only interpretable alongside the host's
    // own speed. This probe times a fixed single-threaded CPU loop
    // (pure JVM arithmetic, no Spark, no IO — the same work every run
    // by construction); divide query seconds by (calib_sec / the
    // baseline's calib_sec) before calling a delta a regression.
    // BENCH_BASELINE.json records the probe for its own run.
    val calib = {
      def pass(): Double = {
        val t0 = System.nanoTime()
        var (x, i) = (0x9E3779B97F4A7C15L, 0)
        while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 33; i += 1 }
        if (x == 42L) println("") // keep the loop live
        (System.nanoTime() - t0) / 1e9
      }
      pass(); math.min(pass(), pass()) // warm JIT, then min-of-2
    }
    // Parallel complement to the single-thread probe: the same loop on
    // every core at once. Round 9 measured a uniform 1.34× query-time
    // swing between two runs at near-IDENTICAL single-thread calib —
    // multicore contention (co-tenants, thermal clamp-down under
    // all-core load) is invisible to a 1-thread probe. Whichever probe
    // moved explains a total's move: calib_sec → per-core speed,
    // calib_mt_sec → parallel capacity.
    val calibMt = {
      val n = Runtime.getRuntime.availableProcessors()
      def pass(): Double = {
        val t0 = System.nanoTime()
        val threads = (0 until n).map { _ =>
          new Thread(() => {
            var (x, i) = (0x9E3779B97F4A7C15L, 0)
            while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 33; i += 1 }
            if (x == 42L) println("")
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        (System.nanoTime() - t0) / 1e9
      }
      pass(); math.min(pass(), pass())
    }
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0.1")
    val (line, summary) = jsonLines(results, calib, calibMt, sfNum)
    println(line)
    println(summary)
    // The COMPLETE per-query artifact, self-emitted: the driver's
    // BENCH_r{N}.json capture retains only a bounded stdout tail (r12
    // kept 76 of 263 per-query numbers), so cross-round per-query
    // regression diffing must never depend on it. Every run also lands
    // the full line at a stable path (the round snapshot commits it as
    // BENCH_SELF_r{N}.json).
    val selfPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SELF", "BENCH_SELF.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(selfPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] self-artifact write failed: $e") }
    spark.stop()
  }

  /** The full line (also the self-artifact) and the closing summary line.
    *
    * Keep the full line compact (3-decimal seconds, numeric sf): the
    * driver captures only a bounded TAIL of stdout, and with 100+ queries
    * the line exceeds that window — so the headline total/unit/sf go
    * LAST, guaranteeing the captured tail always ends with them even when
    * the front of the per-query map is cut off. `failed` names every
    * query that threw in any pass; its time is not a query time.
    *
    * The summary is a totals-only line printed LAST: the driver's tail
    * window is ~2 KiB, so the full per-query line never parses there
    * (BENCH_r15/r16 recorded "parsed": null). This compact line always
    * lands whole inside the tail; the complete per-query map lives in the
    * self-artifact.
    */
  def jsonLines(
      results: Seq[(String, Double, Boolean)],
      calib: Double,
      calibMt: Double,
      sfNum: String): (String, String) = {
    def fmt(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, true) => k }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val line = s"""{"queries":$qs,"failed":$failedJson,"calib_sec":${fmt(calib)},"calib_mt_sec":${fmt(calibMt)},"metric":"total","value":${fmt(total)},"unit":"sec","sf":$sfNum}"""
    val summary = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":$sfNum,""" +
      s""""calib_sec":${fmt(calib)},"calib_mt_sec":${fmt(calibMt)},""" +
      s""""n_queries":${results.size},"n_failed":${failed.size}}"""
    (line, summary)
  }

  /** The bench protocol over `queries`, in order: one untimed warm-up
    * pass, then two timed passes, per-query minimum. A query that throws
    * is reported on stderr, keeps its elapsed time and is flagged failed
    * (the third field) if it threw in any pass.
    */
  def timeQueries(
      spark: SparkSession,
      sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, Double, Boolean)] = {
    val failed = scala.collection.mutable.Set[String]()
    def run(name: String, fn: (SparkSession, String) => DataFrame): Unit =
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name failed: ${Verify.rootCause(e)}") }
    queries.foreach { case (name, fn) => run(name, fn) }

    // Two timed passes, min per query: single-pass numbers showed ±45%
    // run-to-run swings from transient host stalls (one 0.4s query
    // spiking to 11s); min-of-2 after warm-up measures steady-state
    // throughput, which is what the baseline comparison is about.
    def timedPass(): Seq[(String, Double)] = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      run(name, fn)
      name -> (System.nanoTime() - t0) / 1e9
    }
    val (p1, p2) = (timedPass(), timedPass())
    p1.zip(p2).map { case ((name, a), (_, b)) => (name, math.min(a, b), failed(name)) }
  }
}
