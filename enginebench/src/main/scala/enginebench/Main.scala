package enginebench

import org.apache.spark.sql.SparkSession

/** One run of one workload:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --workdir <dir>
  *
  * Prints the result as one JSON object on the last stdout line,
  * prefixed `ENGINEBENCH_RESULT `. `--trace 0` reports the end-to-end
  * metrics; `--trace 1` registers the attribution listener and reports
  * the per-layer metrics instead. */
object Main {

  /** The per-layer metrics every traced run reports, per operation
    * unless the README says otherwise. */
  val ModuleMetrics: Seq[String] =
    (Trace.Modules :+ "other").flatMap(m =>
      Seq("jobs", "job_ms", "cpu_ms", "shuffle_mb").map(k => s"$m.$k"))
  val OpMetrics = Seq("op.jobs", "op.driver_ms", "op.construct_ms", "op.action_ms",
    "op.executor_cpu_ms", "op.tasks", "op.gc_ms", "op.spill_mb", "op.wall_ms",
    "op.job_union_ms")
  val ExtraMetrics = Seq("op.p50_ms", "op.p90_ms", "op.samples", "op.attributed_frac",
    "ByidStore.segments_mean", "ByidStore.tombstones_mean",
    "cdc.compact_epoch_ms", "cdc.plain_epoch_ms", "cdc.compact_epoch_jobs",
    "cdc.plain_epoch_jobs", "cdc.cycle_epochs",
    "store.write_amp", "curate.kept_frac")

  def unitOf(name: String): String = name match {
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_frac") || n.endsWith("write_amp") => "ratio"
    case _ => "count"
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args.getOrElse("trace", "0") == "1"
    val workDir = args("workdir")
    Refs.selfTest()

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"enginebench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      def phase(name: String): Unit =
        System.err.println(f"[enginebench] $name at ${(System.nanoTime() - t0) / 1e9}%.2f s")
      phase("session up")
      val h = new Harness(spark, traced, workDir)
      val w = Workload(workload, seed)
      w.setup(h)
      phase("inputs and stores ready")
      w.warmup(h)
      val setupS = (System.nanoTime() - t0) / 1e9
      phase("warm-up done")
      w.measure(h, seconds)
      phase(s"timed window done (${h.attempted} operations)")
      val finalOk = w.finish(h)
      val lat = h.latMs.toSeq
      val n = math.max(1, h.attempted)
      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_ms", Harness.quantile(lat, 0.5), "ms"),
          ("items_per_s", h.items / (h.timedNs / 1e9), "1/s"),
          ("recall_at_10", w.recallAt10, "frac"),
          ("store_bytes_per_input_byte", w.storeBytesPerInputByte, "ratio"),
          ("peak_rss_mb", Harness.procField("status", "VmHWM") / 1024.0, "MB"))
        else {
          val per = h.layers.sums.map { case (k, v) => k -> v / n }
          val attributed = per.collect { case (k, v) if k.endsWith(".job_ms") => v }.sum +
            per("op.driver_ms")
          val extra = w.layerExtras ++ Map(
            "op.p50_ms" -> Harness.quantile(lat, 0.5),
            "op.p90_ms" -> Harness.quantile(lat, 0.9),
            "op.samples" -> h.attempted.toDouble,
            "op.attributed_frac" -> attributed / per("op.wall_ms"))
          (OpMetrics ++ ModuleMetrics ++ ExtraMetrics).map { k =>
            (k, extra.getOrElse(k, per.getOrElse(k, 0.0)), unitOf(k))
          }
        }
      val body = metrics.map { case (k, v, u) =>
        val num = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
        s""""$k": {"value": $num, "unit": "$u"}"""
      }.mkString(", ")
      println(s"""ENGINEBENCH_RESULT {"correct": $finalOk, "attempted": ${h.attempted}, """ +
        s""""failed": ${h.failed}, "metrics": {$body}}""")
    } finally spark.stop()
  }
}
