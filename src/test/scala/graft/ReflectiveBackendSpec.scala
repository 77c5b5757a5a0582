package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{BatchEmbed, EmbedderBackend, EmbedderHandle, HashEmbedder}
import graft.pipelines.IndexPipeline

/** A model-shaped fake with NO compile-time reference from main
  * sources: only `EmbedderBackend.resolve` can reach it, through the
  * same `Class.forName` path an ONNX jar drop-in would take
  * (EMBEDDING.md). Deterministic formula so vectors are assertable. */
class FakeReflectiveBackend(tag: String, d: Int) extends EmbedderBackend {
  def dim: Int = d
  def open(): EmbedderHandle = new EmbedderHandle {
    def embedBatch(texts: Array[String]): Array[Array[Double]] =
      texts.map { t =>
        val base = (if (t == null) 0 else t.length) + tag.length
        Array.tabulate(d)(i => (base + i).toDouble)
      }
  }
}

/** Machine-checks EMBEDDING.md's "swap the backend, keep every query"
  * claim (round-9 verdict task 3): the deploy recipe's configured
  * backend travels the reflective factory into `buildIndex` with zero
  * source changes, and every mis-configuration fails loudly. */
class ReflectiveBackendSpec extends AnyFunSuite {
  lazy val spark = SparkSessionHelper.spark
  import spark.implicits._

  private def docs = Seq((1L, "alpha beta", "t1"), (2L, "gamma", "t1"))
    .toDF("doc_id", "text", "source")

  test("class:FQCN?args constructs through reflection and embeds") {
    val b = EmbedderBackend.resolve("class:graft.FakeReflectiveBackend?xy,4")
    assert(b.dim == 4)
    val out = BatchEmbed.embedColumn(docs, "text", b)
      .select($"doc_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // "alpha beta".length=10, tag "xy".length=2 -> base 12
    assert(out(1L) == Seq(12.0, 13.0, 14.0, 15.0))
    assert(out(2L) == Seq(7.0, 8.0, 9.0, 10.0))
  }

  test("hash:<dim> resolves to the deterministic double, bit-identical") {
    val b = EmbedderBackend.resolve("hash:16")
    val viaFactory = b.open().embedBatch(Array("hello world"))
    val direct = new HashEmbedder(16).embed("hello world")
    assert(viaFactory.head.toSeq == direct.toSeq)
  }

  test("driver-side graft.embedder property reroutes buildIndex with zero code changes") {
    System.setProperty("graft.embedder", "class:graft.FakeReflectiveBackend?q,3")
    try {
      val vecs = IndexPipeline.buildIndex(docs) // untouched call site
      val summary = vecs.filter($"vtype" === "summary" && $"doc_id" === 2)
        .select($"embedding", length($"chunk_text")).head()
      val base = summary.getInt(1) + 1 // chunk_text length + tag "q".length
      assert(summary.getSeq[Double](0) == Seq(base.toDouble, base + 1.0, base + 2.0))
      assert(vecs.select(size($"embedding")).distinct().as[Int].collect().toSeq == Seq(3))
    } finally System.clearProperty("graft.embedder")
    // property cleared -> back to the hash double
    val after = IndexPipeline.buildIndex(docs)
    assert(after.select(size($"embedding")).distinct().as[Int].collect().toSeq == Seq(64))
  }

  test("mis-configuration fails loudly, not silently") {
    val noClass = intercept[ClassNotFoundException](
      EmbedderBackend.resolve("class:graft.NoSuchBackend"))
    assert(noClass.getMessage.contains("NoSuchBackend"))
    val notABackend = intercept[IllegalArgumentException](
      EmbedderBackend.resolve("class:graft.functions.HashEmbedder?8"))
    assert(notABackend.getMessage.contains("does not implement"))
    val wrongArity = intercept[IllegalArgumentException](
      EmbedderBackend.resolve("class:graft.FakeReflectiveBackend?onlyone"))
    assert(wrongArity.getMessage.contains("constructor"))
  }
}
