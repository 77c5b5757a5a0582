package enginebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Outside-in attribution for traced runs: a listener the benchmark
  * registers, which files every Spark job, its tasks' CPU and its
  * shuffle bytes under the engine module that launched it.
  *
  * The module is the file of the innermost engine frame (a class in
  * package `graft`) of, in order: the job's own call site; the call
  * site of the SQL execution the job belongs to; and failing both
  * (broadcast and AQE stage jobs, or an action the benchmark itself
  * calls) the module of the innermost open harness span, which the
  * span publishes as a local property. */
object Trace {
  val SpanProp = "enginebench.module"
  val EnginePrefix = "graft."

  /** One finished job. Times are wall-clock milliseconds. */
  final case class Job(id: Int, group: String, module: String, start: Long,
                       var end: Long = -1L, var tasks: Int = 0, var cpuNs: Long = 0L,
                       var gcMs: Long = 0L,
                       var shuffleBytes: Long = 0L, var spillBytes: Long = 0L)

  /** The engine module named by a call stack, innermost frame first:
    * "graft.operators.ByidStore$.applyCdc(ByidStore.scala:301)" →
    * ByidStore. */
  def engineModule(stack: String): Option[String] =
    Option(stack).iterator.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith(EnginePrefix))
      .flatMap { f =>
        val open = f.lastIndexOf('('); val dot = f.indexOf(".scala", open)
        if (open >= 0 && dot > open) Some(f.substring(open + 1, dot)) else None
      }

  final class Listener extends SparkListener {
    private val sqlModule = new ConcurrentHashMap[Long, String]()
    private val stageJob = new ConcurrentHashMap[Int, Job]()
    private val open = new ConcurrentHashMap[Int, Job]()
    private val done = new ConcurrentHashMap[Int, Job]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        engineModule(s.details).foreach(m => sqlModule.put(s.executionId, m))
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // the result stage is created last, with the job's call site
      val result = e.stageInfos.sortBy(_.stageId).lastOption
      val module = result.flatMap(s => engineModule(s.details))
        .orElse(prop("spark.sql.execution.id")
          .flatMap(id => Option(sqlModule.get(id.toLong))))
        .orElse(prop(SpanProp))
        .getOrElse("harness")
      val job = Job(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
        module, e.time)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, job))
      open.put(e.jobId, job)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (job != null && m != null) job.synchronized {
        job.tasks += 1
        job.cpuNs += m.executorCpuTime
        job.gcMs += m.jvmGCTime
        job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        job.spillBytes += m.diskBytesSpilled
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val job = open.remove(e.jobId)
      if (job != null) {
        job.synchronized(job.end = e.time)
        if (job.group == MarkerGroup) markers.incrementAndGet()
        else done.put(e.jobId, job)
      }
    }

    private val markers = new java.util.concurrent.atomic.AtomicInteger()

    /** Every finished job of `group`, once the bus has delivered them
      * all: a marker job submitted after the group's last job ends
      * last, and each listener sees events in the order posted. */
    def drain(sc: SparkContext, group: String, timeoutMs: Long = 60000L): Seq[Job] = {
      val seen = markers.get()
      sc.setJobGroup(MarkerGroup, "listener-bus marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val until = System.currentTimeMillis() + timeoutMs
      while (markers.get() == seen && System.currentTimeMillis() < until)
        Thread.sleep(1)
      require(markers.get() != seen, "listener bus never delivered the marker job")
      val jobs = done.values().toArray(Array.empty[Job]).filter(_.group == group)
      done.clear()
      require(open.values().toArray(Array.empty[Job]).forall(_.group != group),
        s"jobs of $group still running after the operation returned")
      jobs.sortBy(_.id).toSeq
    }
  }

  val MarkerGroup = "enginebench-marker"

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Per-operation layer figures, summed over the timed operations
    * (the report divides by their count). */
  final class Totals {
    val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = sums(k) += v
  }

  /** The modules the report names: those the workloads call, and those
    * their calls launch jobs from. An engine file outside this list
    * (Serving, Search, Tables, Embedder, ...) counts as `other`. */
  val Modules = Seq("ProductQuantization", "ByidStore", "Layout", "StreamingOps",
    "Dedup", "TextAnalysis", "IndexPipeline")

  def moduleKey(m: String): String =
    if (Modules.contains(m) || m == "harness") m else "other"

  /** File one operation's jobs into `t`. `startMs`/`endMs` bound the
    * operation's wall; returns the operation's union job time. */
  def account(t: Totals, jobs: Seq[Job], startMs: Long, endMs: Long): Long = {
    val clip = jobs.map(j => (math.max(j.start, startMs), math.min(j.end, endMs)))
    val busy = unionMs(clip)
    t.add("op.jobs", jobs.size)
    t.add("op.tasks", jobs.map(_.tasks).sum)
    t.add("op.executor_cpu_ms", jobs.map(_.cpuNs).sum / 1e6)
    t.add("op.gc_ms", jobs.map(_.gcMs).sum)
    t.add("op.spill_mb", jobs.map(_.spillBytes).sum / 1e6)
    t.add("op.driver_ms", (endMs - startMs) - busy)
    jobs.groupBy(j => moduleKey(j.module)).foreach { case (m, js) =>
      t.add(s"$m.jobs", js.size)
      t.add(s"$m.job_ms", unionMs(js.map(j =>
        (math.max(j.start, startMs), math.min(j.end, endMs)))))
      t.add(s"$m.cpu_ms", js.map(_.cpuNs).sum / 1e6)
      t.add(s"$m.shuffle_mb", js.map(_.shuffleBytes).sum / 1e6)
    }
    busy
  }

  def install(sc: SparkContext): Listener = {
    val l = new Listener
    sc.addSparkListener(l)
    l
  }
}
