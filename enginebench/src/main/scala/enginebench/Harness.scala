package enginebench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** The closed-loop client: times operations, runs their checks after
  * the clock stops, counts attempts and failures, releases the
  * caller-owned caches after every operation, and in a traced run
  * wraps each public call in a span and files the operation's Spark
  * jobs by module. */
final class Harness(val spark: SparkSession, val traced: Boolean,
                    val workDir: String) {
  private val sc = spark.sparkContext
  private val listener = if (traced) Some(Trace.install(sc)) else None

  val layers = new Trace.Totals
  val latMs = mutable.ArrayBuffer.empty[Double]
  var items = 0L
  var attempted = 0
  var failed = 0
  var timedNs = 0L
  /** Spark jobs of the last operation (traced runs only). */
  var lastOpJobs = 0
  private var opIdx = 0
  private var inTimedOp = false

  /** A span around one public engine call. `kind` is `construct` (the
    * call that returns a DataFrame) or `action` (the collect or write
    * that runs it); `module` is where jobs without an engine call site
    * are filed. */
  def span[T](module: String, kind: String)(body: => T): T =
    if (!traced) body
    else {
      val prev = sc.getLocalProperty(Trace.SpanProp)
      sc.setLocalProperty(Trace.SpanProp, module)
      val t0 = System.nanoTime()
      try body
      finally {
        if (inTimedOp) layers.add(s"op.${kind}_ms", (System.nanoTime() - t0) / 1e6)
        sc.setLocalProperty(Trace.SpanProp, prev)
      }
    }

  /** One operation. `body` does the work and returns the number of
    * work items it completed plus its check, which runs after the
    * clock stops and throws on a wrong output. A timed operation is
    * one latency sample; an operation that throws or fails its check
    * counts as failed. Returns the latency in ms. */
  def op(timed: Boolean)(body: => (Long, () => Unit)): Double = {
    val group = s"enginebench-op-$opIdx"
    opIdx += 1
    if (traced) sc.setJobGroup(group, group)
    inTimedOp = timed
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = Try(body)
    val ns = System.nanoTime() - t0
    val wall1 = System.currentTimeMillis()
    inTimedOp = false
    listener.foreach { l =>
      sc.clearJobGroup()
      val jobs = l.drain(sc, group)
      lastOpJobs = jobs.size
      jobs.foreach(j => System.err.println(
        s"[enginebench]   job ${j.id} ${j.module} ${j.end - j.start} ms ${j.tasks} tasks"))
      if (timed) {
        val busy = Trace.account(layers, jobs, wall0, wall1)
        layers.add("op.wall_ms", (wall1 - wall0).toDouble)
        layers.add("op.job_union_ms", busy.toDouble)
      }
    }
    // the caller contract: operators persist slices only the caller
    // releases
    spark.catalog.clearCache()
    val ok = res.flatMap { case (n, check) => Try(check()).map(_ => n) }
    ok match {
      case Success(n) => if (timed) items += n
      case Failure(e) =>
        System.err.println(s"[enginebench] operation ${opIdx - 1} failed: $e")
        e.printStackTrace()
        if (!timed) throw e
    }
    if (timed) {
      attempted += 1
      if (ok.isFailure) failed += 1
      latMs += ns / 1e6
      timedNs += ns
    }
    System.err.println(f"[enginebench] operation ${opIdx - 1}: ${ns / 1e6}%.1f ms")
    ns / 1e6
  }

  def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(what)
}

object Harness {
  /** Bytes on disk under `path`. */
  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  /** A field of /proc/self/status or /proc/self/io, or -1 where the
    * platform has none. */
  def procField(file: String, key: String): Long = Try {
    Files.readAllLines(Paths.get("/proc/self", file)).toArray(Array.empty[String])
      .collectFirst { case l if l.startsWith(key + ":") =>
        l.substring(key.length + 1).trim.split("\\s+")(0).toLong }
      .getOrElse(-1L)
  }.getOrElse(-1L)

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}
