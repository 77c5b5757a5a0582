package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * At 100 TB these reads become partitioned-parquet scans over object
  * storage; all queries in this library filter/project before any
  * shuffle so Catalyst pushes predicates + column pruning into the
  * scan (verify with `.explain("formatted")` → `PushedFilters`,
  * `ReadSchema`).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  /** The events table's `ts` physical type has varied across testdata
    * generations: parquet TIMESTAMP(NANOS) (readable only as a long via
    * `spark.sql.legacy.parquet.nanosAsLong=true`), and parquet
    * timestamp[us] (which Spark 4 reads as TIMESTAMP_NTZ when
    * isAdjustedToUTC=false). Normalize both to one contract:
    * `ts` is always a micros-precision TimestampType and `ts_ns` is
    * always exact epoch nanos. Sessions pin UTC, so the NTZ→LTZ cast
    * is an identity on the underlying micros value — and never use
    * `cast(ts as long)` (illegal for NTZ, epoch-*seconds* for LTZ).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", F.col("ts"))
          .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", F.col("ts").cast("timestamp"))
          .withColumn("ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000L))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Fan a NARROW scan out to the session's parallelism before an
    * expensive per-row pass (guide §2.5, input skew: a single small
    * parquet file — one row group — is one unsplittable scan
    * partition, so a heavy projection over it runs on ONE core no
    * matter how many the session has; measured: the 20-gram explode
    * of dd_substring_exact and the md5-bigram pass of
    * pp_importance_resample ran 1-wide under local[32], cpu/wall ≈ 1).
    * GATED: inputs already at/above the session parallelism pass
    * through untouched — at production scale a table arrives as many
    * files/partitions and this adds no shuffle; the repartition only
    * fires in the small-file regime where the shuffled bytes are by
    * definition small. Round-robin repartition is deterministic under
    * retries (sortBeforeRepartition, guide §2.5). A plan with an
    * exchange passes through untouched: AQE plans it adaptively (here
    * or under a cached relation), so its partition count is known only
    * once its stages have run, and counting would run them while the
    * DataFrame is being built. */
  def fanOut(df: DataFrame): DataFrame = {
    def adaptive(plan: SparkPlan): Boolean = plan.exists {
      case _: AdaptiveSparkPlanExec => true
      case m: InMemoryTableScanExec => adaptive(m.relation.cachedPlan)
      case _ => false
    }
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (adaptive(df.queryExecution.executedPlan) || df.rdd.getNumPartitions >= p) df
    else df.repartition(p)
  }
}
