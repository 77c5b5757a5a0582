package enginebench

import java.util.SplittableRandom

import scala.collection.immutable.ArraySeq

/** Input generators. Every input is a pure function of the workload
  * seed (and an item's id), so the same seed gives the same inputs and
  * the benchmark's own copy of the data is computed apart from the
  * engine's. */
object Data {

  val Dim = 768

  /** splitmix64 finalizer over a combination of two longs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = Refs.norm(v)
    var i = 0
    while (i < v.length) { v(i) /= n; i += 1 }
    v
  }

  private def gauss(rng: SplittableRandom, d: Int): Array[Double] =
    Array.fill(d)(rng.nextGaussian())

  /** A 768-d unit-vector corpus with planted two-level clusters per
    * tenant: tenant `id % tenants` has `clusters` random unit centers,
    * each with `subs` sub-centers (center plus Gaussian noise of
    * expected norm `subSpread`, normalized); a vector is a random
    * sub-center of its tenant plus noise of expected norm `noise`,
    * normalized. A query's true top-10 sits in its own sub-cluster,
    * whose members the lossy tiers must still order by fine noise.
    * Version v of an id is an update's postimage: same tenant, a
    * fresh draw. */
  final class Corpus(seed: Long, val tenants: Int, clusters: Int, subs: Int,
                     subSpread: Double, noise: Double) extends Serializable {
    private def perturbed(base: Array[Double], rng: SplittableRandom,
                          spread: Double): Array[Double] = {
      val s = spread / math.sqrt(Dim.toDouble)
      unit(Array.tabulate(Dim)(i => base(i) + s * rng.nextGaussian()))
    }

    private val centers: Array[Array[Array[Double]]] =
      Array.tabulate(tenants, clusters * subs) { (t, cs) =>
        val c = cs / subs
        val center = unit(gauss(new SplittableRandom(mix(seed, 1000003L * (t + 1) + c)), Dim))
        perturbed(center, new SplittableRandom(mix(seed, 7777777L * (t + 1) + cs)), subSpread)
      }

    def tenantOf(id: Long): String = s"t${java.lang.Math.floorMod(id, tenants.toLong)}"

    def vec(id: Long, version: Int): Array[Double] = {
      val rng = new SplittableRandom(mix(mix(seed, id), version + 1L))
      val t = java.lang.Math.floorMod(id, tenants.toLong).toInt
      perturbed(centers(t)(rng.nextInt(clusters * subs)), rng, noise)
    }

    def vecSeq(id: Long, version: Int): Seq[Double] =
      ArraySeq.unsafeWrapArray(vec(id, version))
  }

  /** Query ids live far above every corpus id; query j of tenant t is
    * drawn like a corpus member of t. */
  def queryId(corpus: Corpus, t: Int, j: Int): Long =
    (1L << 40) + j.toLong * corpus.tenants + t

  // ---- documents ------------------------------------------------------

  /** One generated document. `group` is the planted exact-duplicate
    * group (the id of the group's original), or -1. */
  final case class Doc(id: Long, source: String, text: String, group: Long)

  private val syllables = Array("ka", "lo", "mi", "ren", "sta", "vor", "pel",
    "dri", "on", "tas", "gul", "fen", "bra", "qui", "zel", "mar", "tor",
    "len", "sin", "ope", "ul", "cre", "dax", "ni")
  private val stopWords = Array("the", "of", "and", "to", "with", "that", "have", "be")
  private val cjk = "数据处理系统检索向量文档索引模型服务分析查询结果用户内容结构语义相似度更新"
  val boilerplate = Seq("subscribe to our newsletter for weekly updates",
    "all rights reserved by the publisher worldwide",
    "cookie policy accepted by continuing to browse")

  /** A batch of `n` documents with ids base .. base+n-1:
    *  - ~70% English-like prose (pseudo-words plus stop words), 60-140
    *    words in 6-14 sentences;
    *  - 10% of docs carry one CJK sentence inside English prose, 5% are
    *    whole CJK docs (the reference corpus is Chinese-language);
    *  - 25% open or close with a boilerplate sentence shared across
    *    the batch (the curation funnel's sentence-level clean removes
    *    it);
    *  - 10% are exact copies of an earlier doc of the batch (planted
    *    duplicate groups);
    *  - 4% quote a passage of an eval doc (decontamination removes
    *    them). */
  def docs(seed: Long, batch: Int, n: Int, evalDocs: Seq[Doc]): Seq[Doc] = {
    val rng = new SplittableRandom(mix(seed, 7919L * (batch + 1)))
    val base = batch.toLong * 100000L
    val vocab = Array.tabulate(400) { i =>
      val r = new SplittableRandom(mix(seed, 31L * i + 5))
      (0 until 2 + r.nextInt(2)).map(_ => syllables(r.nextInt(syllables.length))).mkString
    }
    def sentence(): String = {
      val n = 8 + rng.nextInt(9)
      (0 until n).map { _ =>
        if (rng.nextInt(5) == 0) stopWords(rng.nextInt(stopWords.length))
        else vocab(rng.nextInt(vocab.length))
      }.mkString(" ")
    }
    def cjkSentence(): String =
      (0 until 12 + rng.nextInt(20)).map(_ => cjk.charAt(rng.nextInt(cjk.length))).mkString + "。"
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    for (j <- 0 until n) {
      val id = base + j
      val source = s"t${rng.nextInt(4)}"
      val kind = rng.nextInt(100)
      val doc =
        if (kind < 10 && out.nonEmpty) {
          val orig = out(rng.nextInt(out.size))
          val g = if (orig.group >= 0) orig.group else orig.id
          if (orig.group < 0) out(out.indexOf(orig)) = orig.copy(group = g)
          Doc(id, source, orig.text, g)
        } else if (kind < 15) {
          Doc(id, source, (0 until 3 + rng.nextInt(4)).map(_ => cjkSentence()).mkString, -1)
        } else {
          val sents = scala.collection.mutable.ArrayBuffer.fill(6 + rng.nextInt(9))(sentence())
          if (kind < 25) sents.insert(1 + rng.nextInt(sents.size - 1), cjkSentence())
          if (kind >= 25 && kind < 50) {
            val b = boilerplate(rng.nextInt(boilerplate.size))
            if (rng.nextBoolean()) sents.prepend(b) else sents.append(b)
          }
          if (kind >= 50 && kind < 54 && evalDocs.nonEmpty) {
            val e = evalDocs(rng.nextInt(evalDocs.size)).text.split(" ")
            sents.insert(sents.size / 2, e.slice(4, 24).mkString(" "))
          }
          Doc(id, source, sents.mkString(". "), -1)
        }
      out += doc
    }
    out.toSeq
  }

  /** The decontamination eval set: long prose docs with ids that are
    * multiples of 97 (the curation funnel's eval-window rule), in an
    * id range no batch uses. */
  def evalDocs(seed: Long): Seq[Doc] =
    docs(seed ^ 0x5DEECE66DL, 0, 40, Nil).zipWithIndex.collect {
      case (d, i) if d.text.split(" ").length >= 40 && d.group < 0 &&
          !d.text.contains("。") && !boilerplate.exists(d.text.contains) =>
        Doc(97L * (1000000L + i), "eval", d.text, -1)
    }
}
