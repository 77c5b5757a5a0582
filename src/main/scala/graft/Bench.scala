package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * A full untimed warmup pass precedes the timed pass so JVM/codegen
  * warmup and first-touch parquet footer reads don't land on whichever
  * query happens to run first — reported numbers are steady-state.
  *
  * Attribution (round-12 verdict task 1): the detail artifact carries,
  * per query, the executor CPU seconds (TaskMetrics) and /proc/self/io
  * rchar/wchar deltas of the pass that produced the reported wall
  * time, plus MID-RUN calibration samples (every ~30 queries, both the
  * CPU and the disk probe — `cal_samples` / `cal_disk_samples`), so a
  * reader can compute cpu-normalized per-query ratios across windows
  * and see intra-window contention bursts that endpoint minima hide.
  */
object Bench {
  /** One representative query per operator family for the compact
    * stdout line (the full per-query map goes to BENCH_DETAIL.json).
    * Spec-guarded to stay a subset of SparkEntry.queries. */
  val headline: Vector[String] = Vector(
    "v1_knn_topk", "v4_two_stage", "v6_rrf_fusion", "v8_multiquery_merge",
    "ann_bruteforce_batch", "ann_ivf_topk", "dd_exact", "dd_minhash_lsh",
    "dd_lsh_verify", "ta_simhash", "ta_quality_score", "t1_chunk_fixed",
    "x1_index_pipeline", "x2_standard_qa", "x5_clustering_job",
    "c7_hierarchical", "a1_system_stats", "a7_rollup", "j1_join_enrich",
    "j3_full_outer", "w2_top_per_group", "w6_topk_agg", "st_sessionize",
    "st_window_agg", "aj_asof_join", "rj_range_bucketed",
    "eval_retrieval_metrics", "skew_salted_agg", "curate_corpus",
    "ann_rp_lsh", "pp_token_budget", "v1_knn_768", "ann_rp_lsh_768",
    "emb_batched", "c2h_hdbscan_eom", "ann_ivf_sampled",
    "st_index_incremental", "l11_response_cache", "ann_pq_topk",
    "ann_batch_topk", "curate_corpus_v2", "dd_shared_spans", "ts_bpe_train")

  /** One query's one-pass measurement. */
  private case class Sample(wall: Double, cpu: Double, readB: Long,
                            writeB: Long, nJobs: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cpuL = new BenchProbe.CpuListener
    spark.sparkContext.addSparkListener(cpuL)
    // SPARK_GRAFT_ONLY=a,b,c limits the run (local iteration only; the
    // driver never sets it).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // Caches created inside a query (persisted multi-consumer
    // relations) are intra-query optimizations — clear between queries
    // so entries don't accumulate across 2×N runs and squeeze memory.
    // SPARK_GRAFT_PROGRESS=1 prints each query name to stderr before it
    // runs (local warning-attribution only; the driver never sets it,
    // keeping its parsed tail free of extra lines).
    val progress = sys.env.contains("SPARK_GRAFT_PROGRESS")
    def run(n: String, recordFailure: Boolean): Unit = {
      if (progress) System.err.println(s"[bench] >> $n")
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch {
        case e: Throwable =>
          if (recordFailure) failed += n
          System.err.println(s"[bench] $n FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      finally spark.catalog.clearCache()
    }
    // Calibration probes (round-9 task 1, round-12 tasks 1+8): the
    // fixed CPU+shuffle probe and the disk write/fsync probe — both
    // corpus- and engine-code-independent, so they measure only the
    // BOX (contention, thermal, disk weather). Every artifact carries
    // the min as `calibration`/`calibration_disk` plus EVERY sample
    // (endpoints AND mid-run, every ~30 queries) so a contention burst
    // inside the window is visible, not averaged away. Commit policy:
    // the committed artifact's calibration must be within ~1.2× of the
    // best same-day run.
    val calSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val calDiskSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def probe(): Unit = {
      calSamples += BenchProbe.calibrate(spark)
      calDiskSamples += BenchProbe.calibrateDisk()
    }
    // warmup pass (untimed)
    BenchProbe.calibrate(spark); BenchProbe.calibrateDisk()
    names.foreach(run(_, recordFailure = false))
    // Two timed passes, report the per-query MIN: the driver invokes
    // Bench right after the test-suite JVM and single-pass numbers
    // carried 2-8× box-contention noise in rounds 2-3 (PERF.md) — the
    // min of two spaced samples is a steady-state estimate that
    // survives a contended box without needing a standalone rerun.
    def timedPass(): Seq[(String, Sample)] = names.zipWithIndex.map { case (n, i) =>
      if (i > 0 && i % 30 == 0) probe() // mid-run weather samples
      BenchProbe.drainListenerBus(spark)
      val cpu0 = cpuL.cpuNanos.get()
      val jobs0 = cpuL.jobs.get()
      val (r0, w0) = BenchProbe.procIo()
      val t0 = System.nanoTime()
      run(n, recordFailure = true)
      val wall = (System.nanoTime() - t0) / 1e9
      BenchProbe.drainListenerBus(spark)
      val (r1, w1) = BenchProbe.procIo()
      n -> Sample(wall, (cpuL.cpuNanos.get() - cpu0) / 1e9, r1 - r0, w1 - w0,
        cpuL.jobs.get() - jobs0)
    }
    probe()
    val p1 = timedPass()
    probe()
    val p2 = timedPass()
    probe()
    // min of the spaced samples, same steady-state logic as queries
    val calibration = calSamples.min
    val calibrationDisk = calDiskSamples.min
    // per query: the min-wall pass wins, and its cpu/io ride along so
    // the reported tuple is internally consistent (one pass's story)
    val results = p1.zip(p2).map { case ((n, a), (_, b)) =>
      n -> (if (a.wall <= b.wall) a else b) }
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def jsonMap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val total = results.map(_._2.wall).sum
    // Per-mode attribution for the eval grid (round-9 verdict task 6):
    // extra `eval_retrieval_metrics__*` entries in the DETAIL artifact
    // only — not headline queries, not counted in total/nqueries.
    val evalStages =
      if (only.isEmpty)
        try graft.evaluation.RetrievalEval.evaluateModeTimings(spark, sfDir)
        finally spark.catalog.clearCache()
      else Seq.empty
    val failedJson =
      if (failed.isEmpty) ""
      else failed.distinct.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    val walls = results.map { case (n, s) => n -> s.wall }
    val metricsJson = results.map { case (n, s) =>
      "\"" + n + "\":{\"cpu_sec\":" + f3(s.cpu) +
        ",\"read_mb\":" + f3(s.readB / 1048576.0) +
        ",\"write_mb\":" + f3(s.writeB / 1048576.0) +
        ",\"n_jobs\":" + s.nJobs + "}"
    }.mkString("{", ",", "}")
    def jsonArr(vs: Seq[Double]): String = vs.map(f3).mkString("[", ",", "]")
    // Full per-query detail goes to a file; the stdout line must stay SHORT.
    // The driver parses the JSON line from a bounded tail (~2.9 KB) of the
    // sbt output: round-1 AND round-2 both produced parsed:null because the
    // all-queries map (~90 entries, ~3 KB) started before the tail window.
    // Print the headline queries (~28 entries, <1 KB line) plus the
    // all-queries total.
    val detail = s"""{"metric":"total","value":${f3(total)},"unit":"sec","calibration":${f3(calibration)},"calibration_disk":${f3(calibrationDisk)},"cal_samples":${jsonArr(calSamples.toSeq)},"cal_disk_samples":${jsonArr(calDiskSamples.toSeq)},"nqueries":${results.size},"queries":${jsonMap(walls ++ evalStages)},"query_metrics":$metricsJson$failedJson,"sf":"$sfDir"}"""
    // Clobber guard (round-12 verdict task 2): the driver reruns Bench
    // at round close IN A DIFFERENT WEATHER WINDOW and used to
    // overwrite the committed quote-window artifact, turning the
    // working-tree drift gate red. If an artifact already exists whose
    // calibration differs >1.2× from this run's, keep BOTH windows on
    // disk: the existing file stays, this run lands in
    // BENCH_DETAIL.rerun.json, and the stdout line names which file
    // carries this run's detail. The rerun slot itself is GITIGNORED
    // (round-13 verdict task 2: the closing run used to clobber the
    // committed rerun sibling, dirtying the tree) — a rerun window
    // worth keeping is frozen by hand as BENCH_DETAIL.rerun_rN.json.
    val detailFile = {
      val main = java.nio.file.Paths.get("BENCH_DETAIL.json")
      val existingCal =
        if (!java.nio.file.Files.exists(main)) None
        else """"calibration":([0-9.]+)""".r
          .findFirstMatchIn(new String(java.nio.file.Files.readAllBytes(main),
            java.nio.charset.StandardCharsets.UTF_8))
          .map(_.group(1).toDouble)
      existingCal match {
        case Some(c) if c > 0 &&
          math.max(calibration / c, c / calibration) > 1.2 =>
          System.err.println(s"[bench] calibration ${f3(calibration)} vs " +
            s"existing artifact's ${f3(c)} (> 1.2x apart): preserving the " +
            "committed window, writing this run to BENCH_DETAIL.rerun.json")
          "BENCH_DETAIL.rerun.json"
        case _ => "BENCH_DETAIL.json"
      }
    }
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailFile),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    val headlined = walls.filter(r => headline.contains(r._1))
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","calibration":${f3(calibration)},"calibration_disk":${f3(calibrationDisk)},"detail_file":"$detailFile","nqueries":${results.size},"queries":${jsonMap(headlined)}$failedJson,"sf":"$sfDir"}"""
    // The identical line also lands in BENCH_LINE.json: the stdout line
    // travels through sbt (whose [info] prefix broke the driver's parse
    // in r15/r16 — see build.sbt's outputStrategy fix), so a known file
    // with the exact bytes is the robust machine-readable channel.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_LINE.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] line write failed: $e") }
    println(line)
    spark.stop()
  }
}
