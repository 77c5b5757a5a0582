package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, UnionExec}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{BatchEmbed, BatchEmbedExec, Embedder, EmbedderBackend,
  EmbedderHandle, HashEmbedder}
import graft.pipelines.IndexPipeline

/** Accumulator-instrumented backend: counts handle opens/closes, batch
  * calls, rows, and oversize batches so the spec can assert the
  * per-partition batch shape the runner promises. */
final class CountingBackend(val dim: Int, opens: LongAccumulator,
                            closes: LongAccumulator, batches: LongAccumulator,
                            rows: LongAccumulator, oversize: LongAccumulator,
                            batchSize: Int) extends EmbedderBackend {
  private val inner = new HashEmbedder(dim)
  def open(): EmbedderHandle = {
    opens.add(1)
    new EmbedderHandle {
      def embedBatch(texts: Array[String]): Array[Array[Double]] = {
        batches.add(1)
        rows.add(texts.length)
        if (texts.length > batchSize) oversize.add(1)
        texts.map(inner.embed)
      }
      override def close(): Unit = closes.add(1)
    }
  }
}

class BatchEmbedSpec extends AnyFunSuite {
  lazy val spark = SparkSessionHelper.spark
  private val d = "/root/testdata/sf0.001"

  private def scalarRows(df: DataFrame, emb: Embedder, cols: String*): Set[Seq[Any]] = {
    val embedUdf = udf((t: String) => emb.embed(t))
    df.select(cols.map(col) :+ embedUdf(col("text")).as("embedding"): _*)
      .collect().map(_.toSeq).toSet
  }

  test("batched path produces bit-identical vectors to the scalar UDF path") {
    val emb = new HashEmbedder(64)
    val cols = Seq("doc_id", "text", "source", "n_chars")
    val docs = Tables.documents(spark, d).select(cols.map(col): _*)
    val batched = BatchEmbed.embedColumn(docs, "text", emb)
    assert(batched.columns.toSeq == cols :+ "embedding")
    val got = batched.collect().map(_.toSeq).toSet
    assert(got.size == docs.count())
    assert(got == scalarRows(docs, emb, cols: _*),
      "batched rows must equal the per-row scalar UDF rows, every column included")
  }

  test("pruned and filtered reads through the node return the scalar-UDF rows") {
    val emb = new HashEmbedder(64)
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val embedded = BatchEmbed.embedColumn(docs, "text", emb)
    val pruned = embedded.select("doc_id", "source", "embedding")
    assert(pruned.collect().map(_.toSeq).toSet == scalarRows(docs, emb, "doc_id", "source"))
    // ColumnPruning reaches through the node: n_chars is never read
    val node = pruned.queryExecution.optimizedPlan.collectFirst { case b: BatchEmbed => b }
    assert(node.exists(!_.child.output.exists(_.name == "n_chars")),
      s"n_chars not pruned below the node:\n${pruned.queryExecution.optimizedPlan}")
    val filtered = embedded.filter(col("n_chars") > 100).select("doc_id", "embedding")
    val expected = scalarRows(docs.filter(col("n_chars") > 100), emb, "doc_id")
    assert(expected.nonEmpty && filtered.collect().map(_.toSeq).toSet == expected)
  }

  test("an embedded frame joins with itself") {
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val v = BatchEmbed.embedColumn(docs, "text", new HashEmbedder(8))
    val j = v.as("a").join(v.as("b"), col("a.doc_id") === col("b.doc_id"))
      .filter(col("a.embedding") === col("b.embedding"))
    assert(j.count() == docs.count())
  }

  test("a missing or non-string textCol fails when embedColumn is called") {
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val emb = new HashEmbedder(8)
    intercept[IllegalArgumentException](BatchEmbed.embedColumn(docs, "no_such_col", emb))
    val e = intercept[IllegalArgumentException](BatchEmbed.embedColumn(docs, "doc_id", emb))
    assert(e.getMessage.contains("not a string"), e.getMessage)
  }

  test("handle opened once per non-empty partition, closed once, batches ≤ batchSize") {
    val sc = spark.sparkContext
    val opens = sc.longAccumulator("opens")
    val closes = sc.longAccumulator("closes")
    val batches = sc.longAccumulator("batches")
    val rows = sc.longAccumulator("rows")
    val oversize = sc.longAccumulator("oversize")
    val batchSize = 32
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).repartition(4)
    val backend = new CountingBackend(64, opens, closes, batches, rows,
      oversize, batchSize)
    val out = BatchEmbed.embedColumn(docs, "text", backend, batchSize)
    val n = out.count()
    assert(n == docs.count())
    assert(rows.value == n, "every row must flow through embedBatch")
    assert(oversize.value == 0, "no batch may exceed batchSize")
    // one handle per partition (all 4 are non-empty after repartition);
    // mapPartitions runs once per partition per action — a single
    // count() action means exactly one open (and one close) each.
    assert(opens.value == 4, s"expected 4 handle opens, got ${opens.value}")
    assert(closes.value == opens.value, "every opened handle must be closed")
    // batching really amortizes: ceil(rows_p/32) calls per partition,
    // which for n rows over 4 partitions is ≤ n/32 + 4 calls total.
    assert(batches.value <= n / batchSize + 4,
      s"${batches.value} batch calls for $n rows is not batched")
    // handle reuse: far fewer opens than batch calls (model loaded per
    // partition, not per batch).
    assert(batches.value > opens.value, "expected multiple batches per handle")
  }

  test("buildIndex through BatchEmbed matches the legacy scalar-UDF construction") {
    val emb = new HashEmbedder(64)
    val docs = Tables.documents(spark, d).filter(col("doc_id") < 60)
    val batched = IndexPipeline.buildIndex(docs, emb)
      .select("doc_id", "vtype", "chunk_index", "total_chunks", "chunk_text", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)) ->
        (r.getInt(3), r.getString(4), r.getSeq[Double](5)))
      .toMap
    // legacy shape: per-row embed UDF + post-explode window count
    val chunkU = udf((t: String) => graft.functions.TextOps.chunkText(t, 462, 50))
    val sumU = udf((fn: String, txt: String) =>
      graft.functions.TextOps.buildSummaryText(fn,
        graft.functions.TextOps.smartTruncate(txt, 256), Seq.empty, Seq.empty,
        Seq.empty, "text"))
    val embedUdf = udf((t: String) => emb.embed(t))
    val base = docs.select(col("doc_id"), col("source").as("owner"), col("text"))
    val legacySumm = base
      .withColumn("chunk_text", sumU(concat(lit("doc_"), col("doc_id")), col("text")))
      .select(col("doc_id"), lit("summary").as("vtype"), lit(0).as("chunk_index"),
        lit(1).as("total_chunks"), col("chunk_text"))
    val legacyChunks = base
      .select(col("doc_id"),
        posexplode(chunkU(col("text"))).as(Seq("chunk_index", "chunk_text")))
      .withColumn("total_chunks", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")).cast("int"))
      .select(col("doc_id"), lit("chunk").as("vtype"), col("chunk_index"),
        col("total_chunks"), col("chunk_text"))
    val legacy = legacySumm.unionByName(legacyChunks)
      .withColumn("embedding", embedUdf(col("chunk_text")))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)) ->
        (r.getInt(3), r.getString(4), r.getSeq[Double](5)))
      .toMap
    assert(batched.keySet == legacy.keySet)
    batched.foreach { case (k, v) =>
      assert(v == legacy(k), s"row $k diverged from the legacy construction")
    }
  }

  test("buildIndex plans ZERO shuffle Exchange (map-only pipeline)") {
    val plan = IndexPipeline.buildIndex(Tables.documents(spark, d))
      .queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"),
      s"buildIndex must be map-only; plan:\n$plan")
    // the real plan, not an RDD scan: the union and the chunk explode
    // sit below the embedding node
    val node = plan.collectFirst { case e: BatchEmbedExec => e }
    assert(node.exists(n => n.child.exists(_.isInstanceOf[UnionExec]) &&
      n.child.exists(_.isInstanceOf[GenerateExec])), s"plan:\n$plan")
  }

  test("buildIndex over an exchange launches no Spark job while it is built") {
    val docs = Tables.documents(spark, d).groupBy("doc_id", "source")
      .agg(max("text").as("text"))
    var vecs: DataFrame = null
    val jobs = SparkSessionHelper.jobsOf("buildIndex over groupBy") {
      vecs = IndexPipeline.buildIndex(docs, new HashEmbedder(16))
    }
    assert(jobs.isEmpty, s"building the frame ran jobs: ${jobs.mkString("; ")}")
    assert(vecs.filter(col("vtype") === "summary").count() == docs.count())
  }
}
