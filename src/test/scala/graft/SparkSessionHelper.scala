package graft

import org.apache.spark.sql.SparkSession

object SparkSessionHelper {
  // One session for every suite (never stopped mid-run: suites share
  // the JVM-wide SparkContext). Built with GraftExtensions so the
  // SQL-function registration is exercised by the shared session.
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  /** Run `body` under its own job group and return the descriptions
    * of the jobs it launched (stage names). Counting only this group
    * keeps the guard exact on the shared SparkContext, where an
    * unfiltered listener would count concurrent suites' jobs. */
  def jobsOf(what: String)(body: => Unit): Seq[String] = {
    val group = s"jobs-of-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (g == group)
          jobs.add(js.stageInfos.map(_.name).mkString(" | ")): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, what)
      body
      graft.BenchProbe.drainListenerBus(spark)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.toArray.map(_.toString).toSeq
  }
}
