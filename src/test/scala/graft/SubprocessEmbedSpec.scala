package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{BatchEmbed, SubprocessEmbedderBackend}

/** Drives `SubprocessEmbedderBackend` end-to-end through a REAL child
  * process per partition — a plain-python worker (stdlib only) whose
  * toy embedding math is bit-identical cross-language (integer-derived
  * doubles, same fold order, hex-float transport), so the spec proves
  * the protocol, batching, per-partition lifecycle and lossless float
  * round-trip without any model runtime. Swapping the script for one
  * that loads the reference's sentence-transformers model is the
  * deployment story (`docs/REAL_EMBEDDER.md`, recipe B). */
class SubprocessEmbedSpec extends AnyFunSuite {
  lazy val spark = SparkSessionHelper.spark
  private val Dim = 16

  // toy embedding, defined identically here and in the python worker:
  // v[j] = (len(text)·31 + j) mod 97, L2-normalized. All inputs are
  // small integers, both languages fold ascending with IEEE doubles →
  // bit-identical.
  private def refEmb(t: String, dim: Int): Array[Double] = {
    val s = if (t == null) "" else t
    val v = Array.tabulate(dim)(j => ((s.length * 31 + j) % 97).toDouble)
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }

  private def workerScript: java.nio.file.Path = {
    val py =
      """import sys, base64, math
        |dim = int(sys.argv[1])
        |def emb(t):
        |    v = [float((len(t) * 31 + j) % 97) for j in range(dim)]
        |    n = math.sqrt(sum(x * x for x in v))
        |    return [x / n for x in v] if n > 0 else v
        |while True:
        |    line = sys.stdin.readline()
        |    if not line or line.strip() == 'q':
        |        break
        |    n = int(line.strip())
        |    out = []
        |    for _ in range(n):
        |        pl = sys.stdin.readline().strip()
        |        t = '' if pl == '-' else base64.b64decode(pl).decode('utf-8')
        |        out.append(' '.join(x.hex() for x in emb(t)))
        |    sys.stdout.write('\n'.join(out) + '\n')
        |    sys.stdout.flush()
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft_embed_worker_", ".py")
    java.nio.file.Files.write(f, py.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f
  }

  test("subprocess backend: bit-identical vectors through a real python child") {
    val script = workerScript
    val backend = new SubprocessEmbedderBackend(
      Seq("python3", script.toString, Dim.toString), Dim)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).repartition(3)
    val got = BatchEmbed.embedColumn(docs, "text", backend, batchSize = 8)
      .select("doc_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val exp = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> refEmb(r.getString(1), Dim).toSeq).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (id, v) =>
      assert(v == exp(id), s"doc $id: subprocess vector != reference math")
    }
    java.nio.file.Files.deleteIfExists(script)
  }

  test("subprocess backend: unicode + null + empty survive the wire") {
    val script = workerScript
    val backend = new SubprocessEmbedderBackend(
      Seq("python3", script.toString, Dim.toString), Dim)
    val s = spark
    import s.implicits._
    val rows = Seq((1L, "héllo wörld 東京"), (2L, null: String), (3L, ""),
      (4L, "line\nbreak and, commas"))
      .toDF("id", "text")
    val got = BatchEmbed.embedColumn(rows, "text", backend, batchSize = 2)
      .select("id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // python len() counts code points; String.length counts UTF-16
    // units — all fixture chars are BMP so the two agree here
    Seq(1L -> "héllo wörld 東京", 2L -> null, 3L -> "", 4L -> "line\nbreak and, commas")
      .foreach { case (id, t) =>
        assert(got(id) == refEmb(t, Dim).toSeq, s"row $id diverged")
      }
    java.nio.file.Files.deleteIfExists(script)
  }

  test("worker death surfaces as a clear error, not a hang") {
    val f = java.nio.file.Files.createTempFile("graft_embed_dead_", ".py")
    java.nio.file.Files.write(f, "import sys; sys.exit(3)\n".getBytes)
    val backend = new SubprocessEmbedderBackend(
      Seq("python3", f.toString, Dim.toString), Dim)
    val h = backend.open()
    val e = intercept[java.io.IOException] {
      h.embedBatch(Array("some text"))
    }
    assert(e.getMessage.contains("died"), e.getMessage)
    h.close()
    java.nio.file.Files.deleteIfExists(f)
  }
}
