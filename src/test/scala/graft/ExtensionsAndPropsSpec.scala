package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.functions.TextOps

class ExtensionsAndPropsSpec extends AnyFunSuite {

  test("driver contract: oracle keys and bench headline resolve to real queries") {
    val qkeys = SparkEntry.queries.keySet
    val orphanOracles = SparkEntry.oracleSql.keySet -- qkeys
    assert(orphanOracles.isEmpty,
      s"oracleSql entries without a query (typo?): $orphanOracles")
    // and the reverse: every query is oracle-gated, so a gate can only
    // leave together with the query it gates
    val ungated = qkeys -- SparkEntry.oracleSql.keySet
    assert(ungated.isEmpty, s"queries without oracle SQL: $ungated")
    val orphanHeadline = Bench.headline.toSet -- qkeys
    assert(orphanHeadline.isEmpty,
      s"Bench.headline entries without a query (rename?): $orphanHeadline")
    // the stdout line must stay inside the driver's ~2.9 KB tail window —
    // assert the actual byte budget (name + `":":0.000,` per entry + ~120 B
    // wrapper, with slack for 4-digit seconds and a failed:[] list)
    val estLine = Bench.headline.map(_.length + 10).sum + 200
    assert(estLine <= 2000, s"headline stdout line ~$estLine B risks the tail window")
  }

  test("GraftExtensions registers dot_product / l2_normalize for SQL") {
    // the shared test session is built withExtensions(new GraftExtensions)
    val spark = SparkSessionHelper.spark
    val r = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
        "l2_normalize(array(3.0D, 4.0D)) AS n")
      .head()
    assert(r.getDouble(0) == 11.0)
    val n = r.getSeq[Double](1)
    assert(math.abs(n(0) - 0.6) < 1e-12 && math.abs(n(1) - 0.8) < 1e-12)
  }

  test("SqlFunctions registers the text pipeline vocabulary for SQL") {
    val spark = SparkSessionHelper.spark
    graft.functions.SqlFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT size(graft_chunk('one two three. four five six seven', 15, 3)) AS n_chunks, " +
        "graft_truncate('a short sentence. and a longer tail here', 20) AS t, " +
        "size(graft_embed('hello world')) AS dim")
      .head()
    assert(r.getInt(0) == TextOps.chunkText("one two three. four five six seven", 15, 3).size)
    assert(r.getString(1) == TextOps.smartTruncate("a short sentence. and a longer tail here", 20))
    assert(r.getInt(2) == 64)
  }

  // seeded random text: alphanumerics, spaces, CJK, sentence enders
  private def randomText(rnd: scala.util.Random): String = {
    val n = rnd.nextInt(2000)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    (0 until n).map { _ =>
      rnd.nextInt(27) match {
        case k if k < 20 => alphabet(rnd.nextInt(alphabet.length))
        case k if k < 24 => ' '
        case 24 => "。！？.!?" (rnd.nextInt(6))
        case _ => "中文字éß" (rnd.nextInt(5))
      }
    }.mkString
  }

  test("property: chunker covers the text and terminates for any input") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 300) {
      val text = randomText(rnd)
      val chunks = TextOps.chunkText(text, chunkSize = 100, overlap = 20)
      assert(chunks.forall(_.trim.nonEmpty))
      // bounded size: chunkSize + boundary-search window
      assert(chunks.forall(_.length <= 150), s"oversized chunk for len=${text.length}")
      // coverage: overlap duplicates chars, trim only drops whitespace,
      // so total non-space chars in chunks >= in text
      val nonSpace = text.count(!_.isWhitespace)
      assert(chunks.map(_.count(!_.isWhitespace)).sum >= nonSpace)
    }
  }

  test("property: smartTruncate bounds and passthrough") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 300) {
      val text = randomText(rnd)
      val maxLen = 10 + rnd.nextInt(290)
      val r = TextOps.smartTruncate(text, maxLen)
      assert(r.length <= maxLen + 3)
      if (text.length <= maxLen) assert(r == text)
    }
  }

  test("property: chunk+overlap reconstruction — prefix of each next chunk overlaps prior text") {
    val rnd = new scala.util.Random(11)
    for (_ <- 0 until 100) {
      val text = randomText(rnd)
      val chunks = TextOps.chunkText(text, 120, 30)
      // every chunk is a substring of the original (trimmed window)
      chunks.foreach(c => assert(text.contains(c)))
    }
  }
}
