package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Memory-pressure soak of the flagship dedup paths: runs the chosen
  * queries against a ×k-amplified `documents` table inside a
  * DELIBERATELY SMALL heap (launch with `java -Xmx4g …`, NOT through
  * sbt) so the gram-stream shuffles genuinely exceed execution memory
  * and must spill — the behavior the ordinary amplified runs
  * (SCALING.md) never reach on a 128 GiB host. Per query it reports
  * wall time plus the executor spill metrics (in-memory bytes spilled,
  * disk bytes spilled, the largest per-stage peak execution memory),
  * one JSON line each:
  *
  *   {"soak":"dedup_substring_exact","factor":256,"sec":…,
  *    "spill_mem_mb":…, "spill_disk_mb":…, "peak_exec_mb":…,
  *    "heap_mb":…}
  *
  * The claim under test is NOT speed — a spilling run is slower by
  * construction — but survival and shape: no OOM, no stage failure,
  * and wall time that stays near-linear in k even when the sort spills
  * to disk. Amplification reuses the ScaleBench perturbation (disjoint
  * replica token spaces) but materializes ONLY `documents`, so ×256/×512
  * stay disk-cheap.
  *
  * Usage: java -Xmx4g <add-opens…> -cp <classes:sparkjars> \
  *   graft.SoakBench <baseSfDir> <factorCsv> <queryCsv>
  */
object SoakBench {

  /** Spill/peak collector: stage-level task metrics summed per query
    * window (reset between queries). Peak execution memory is reported
    * as the MAX over stages of the stage's summed task peaks — the
    * "how much execution memory did the hungriest stage want" number.
    */
  private final class SpillListener extends SparkListener {
    @volatile var memSpilled = 0L
    @volatile var diskSpilled = 0L
    @volatile var peakExec = 0L
    def reset(): Unit = { memSpilled = 0L; diskSpilled = 0L; peakExec = 0L }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        memSpilled += m.memoryBytesSpilled
        diskSpilled += m.diskBytesSpilled
        peakExec = math.max(peakExec, m.peakExecutionMemory)
      }
    }
  }

  /** ×k replication of `documents` and `embeddings` only — the
    * ScaleBench amplifiers ([[ScaleBench.amplifiedDocuments]],
    * [[ScaleBench.amplifiedEmbeddings]]), cached under target/soak with
    * per-table done flags so the dedup-only caches from earlier rounds
    * stay valid.
    */
  private def materializeDocs(
      spark: SparkSession, baseDir: String, outDir: String, k: Int): Unit = {
    val root = new java.io.File(outDir)
    root.mkdirs()
    if (!new java.io.File(root, "_DONE").exists()) {
      ScaleBench.amplifiedDocuments(spark, baseDir, k)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      new java.io.File(root, "_DONE").createNewFile()
    }
    if (!new java.io.File(root, "_DONE_EMB").exists()) {
      ScaleBench.amplifiedEmbeddings(spark, baseDir, k)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      new java.io.File(root, "_DONE_EMB").createNewFile()
    }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = args.lift(1).getOrElse("256").split(",").map(_.trim.toInt).toSeq
    val queryNames = args.lift(2)
      .getOrElse("dedup_substring_exact,dedup_minhash_lsh,dedup_substring_indexed")
      .split(",").map(_.trim).toSeq
    // "prep" materializes the amplified dirs and exits — run it with the
    // NORMAL heap (32 concurrent parquet writers buffer row groups; a
    // 4g driver OOMs in the write, which is not the claim under test),
    // then run the soak itself with the constrained heap.
    val prepOnly = args.lift(3).contains("prep")
    val spark = GraftSession.builder()
      // the memory-constrained profile scales its BROADCAST budget with
      // the heap, as a real cluster config must: the round-16 ×256 soak
      // under the bench default (64 MiB) failed LOUDLY when AQE's
      // compressed-size estimate admitted a build side whose
      // row-serialized results exceeded spark.driver.maxResultSize
      // (1045 MiB > 1 GiB) — the estimate-gap hazard this soak exists
      // to surface. 8 MiB keeps the big joins as sort-merge (spillable).
      // SOAK_BROADCAST_MB overrides (e.g. 64 = the bench default), used
      // to prove the hazard is now ENGINE-owned: round 17 pinned every
      // corpus-scaled join by the house criterion — string-/array-heavy
      // sides pin merge (never-broadcast AND spillable; a SHJ string
      // build died under this profile's 4 GiB heap), compact long-row
      // sides pin shuffle_hash — so the ×256 cells complete under the
      // default threshold too.
      .config("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SOAK_BROADCAST_MB", "8").toInt * 1024 * 1024)
      // spill READ-AHEAD allocates a 1 MiB heap buffer per spill file at
      // merge time — with tens of GB spilled across 32 concurrent tasks
      // that is hundreds of MB of pure buffering, and it is what OOMs
      // first at the frontier (the r17 prefix-family cells died in
      // "read-ahead" threads). A memory-constrained profile trades the
      // sequential-read overlap for survival, exactly like the broadcast
      // budget above. SOAK_READAHEAD=true restores the default.
      .config("spark.unsafe.sorter.spill.read.ahead.enabled",
        sys.env.getOrElse("SOAK_READAHEAD", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SOAK_LOG", "WARN"))
    val listener = new SpillListener
    spark.sparkContext.addSparkListener(listener)
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)

    val queries = queryNames.map(n => n -> SparkEntry.queries(n))
    factors.foreach { k =>
      val dir =
        if (k == 1) baseDir
        else {
          val d = s"target/soak/x$k"
          materializeDocs(spark, baseDir, d, k)
          d
        }
      if (prepOnly) println(s"""{"soak_prep":"$dir","factor":$k}""")
      else queries.foreach { case (name, fn) =>
        // standing-index queries (IndexCatalog) cache per JVM, so each
        // SoakBench invocation rebuilds its indexes fresh under the
        // constrained heap — the build cost is part of what's soaked
        listener.reset()
        val t0 = System.nanoTime()
        val n = fn(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"soak":"$name","factor":$k,"rows":$n,"sec":$sec%.1f,""" +
          f""""spill_mem_mb":${listener.memSpilled / (1024 * 1024)},""" +
          f""""spill_disk_mb":${listener.diskSpilled / (1024 * 1024)},""" +
          f""""peak_exec_mb":${listener.peakExec / (1024 * 1024)},""" +
          f""""heap_mb":$heapMb}""")
      }
    }
    spark.stop()
  }
}
