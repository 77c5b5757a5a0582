package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.RandomHyperplane
import graft.operators.TextAnalysis

/** Invariants for the corpus-curation batch ops added in round 4:
  * RP-LSH ANN (recall + pruning), SemDeDup (exactly the injected
  * copies dropped), token-budget selection (two-phase == naive global
  * window), domain mixing (weights bind), split assignment
  * (partition + ratio). All on the fixed sf0.001 tables, so every
  * assertion is deterministic.
  */
class CurationOpsSpec extends AnyFunSuite {
  lazy val spark = SparkSessionHelper.spark
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  private def qv: Seq[Double] =
    Tables.embeddings(spark, d).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)

  test("dd_sentence strips exactly the injected boilerplate, bodies intact") {
    val res = SparkEntry.queries("dd_sentence")(spark, d)
      .select("doc_id", "n_sent", "n_dropped", "kept_digest")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val origDigest = Tables.documents(spark, d).filter(col("n_chars") > 0)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(res.nonEmpty)
    res.foreach { case (id, nSent, nDropped, digest) =>
      val expDropped = if (id % 5 == 0) 2L else if (id % 7 == 0) 1L else 0L
      assert(nDropped == expDropped, s"doc $id dropped $nDropped != $expDropped")
      assert(nSent == expDropped + 1, s"doc $id n_sent $nSent")
      // what survives the corpus-wide pass is EXACTLY the original body
      assert(digest == origDigest(id), s"doc $id body mutated by dedup")
    }
  }

  test("dd_shared_spans finds every injected 16-token passage pair") {
    // bounded sub-corpus so every tagged pair fits under the top-100
    // cap; passage tokens can't collide with body words
    val passage = (0 until 16).map(i => f"zq$i%02d").mkString(" ")
    val base = Tables.documents(spark, d)
      .filter(col("n_chars") > 0 && col("doc_id") < 130)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" " + passage)))
          .otherwise(col("text")))
    val rows = graft.operators.Dedup.sharedSpans(base, k = 5, minSpan = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    val tagged = base.filter(col("doc_id") % 13 === 0)
      .select("doc_id").as[Long].collect().sorted
    assert(tagged.length >= 3)
    for (a <- tagged; b <- tagged if a < b) {
      assert(rows.exists { case (da, db, st) => da == a && db == b && st >= 16 },
        s"injected pair ($a, $b) missing a >= 16-token span")
    }
    // and the driver query itself fills its cap with real spans
    val q = SparkEntry.queries("dd_shared_spans")(spark, d).collect()
    assert(q.nonEmpty && q.forall(_.getLong(4) >= 8))
  }

  test("substringDedupSpans finds exactly the injected cross-doc substring with exact boundaries") {
    import graft.operators.Dedup
    // two docs share one long exact passage at different offsets; a
    // third doc is all-unique. Only the shared passage may surface,
    // with exact [start, len] in each doc and matching content md5.
    val passage = ('a' to 'z').mkString("", "", "") * 3 // 78 unique-ish chars
    val docs = Seq(
      (1L, "PREFIX_ONE_0123456789 " + passage + " SUFFIX_ONE"),
      (2L, "x " + passage + " TAIL_TWO_DIFFERENT_9876543210"),
      (3L, "completely unique content with no twenty char repeats at all, 0011223344556677889900")
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedupSpans(docs, "doc_id", "text", k = 20,
        minLen = 50)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    // expected: the maximal covered island is " " + passage + " " —
    // the flanking SPACES are shared too (a gram ending at either
    // space matches across both docs), anything past them differs.
    // 1-based starts: doc 1 at the prefix's trailing space (position
    // 22), doc 2 at position 2; length 1 + 78 + 1 = 80 in both.
    assert(got.length == 2)
    val Array(s1, s2) = got
    assert(s1._1 == 1L && s2._1 == 2L)
    assert(s1._3 == 80 && s2._3 == 80)
    assert(s1._4 == s2._4, "span content digests must match across docs")
    assert(s1._2 == 22 && s2._2 == 2)
  }

  test("sharedSpans maxGramDf drops ubiquitous grams, keeps rare pairs") {
    // one 12-token boilerplate span on EVERY doc (df = corpus size)
    // plus the rare %13 passage: with the cap below corpus size, only
    // the rare pairs may surface; with the cap at corpus size, the
    // boilerplate floods every pair. Also pins that the default cap
    // (1000) is inert at reference scale: identical to uncapped.
    val boiler = (0 until 12).map(i => f"bp$i%02d").mkString(" ")
    val passage = (0 until 16).map(i => f"zq$i%02d").mkString(" ")
    val base = Tables.documents(spark, d)
      .filter(col("n_chars") > 0 && col("doc_id") < 130)
      .withColumn("text", concat(col("text"), lit(" " + boiler)))
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" " + passage)))
          .otherwise(col("text")))
    val nDocs = base.count()
    val tagged = base.filter(col("doc_id") % 13 === 0)
      .select("doc_id").as[Long].collect().sorted
    // cap sits between the rare-passage df (|tagged|) and corpus df
    val cap = tagged.length + 2L
    assert(cap < nDocs)
    val capped = graft.operators.Dedup
      .sharedSpans(base, k = 5, minSpan = 8, maxGramDf = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    // boilerplate grams (df = nDocs > cap) are pruned: surfaced pairs
    // are exactly the corpus's genuine dup pairs (present WITHOUT the
    // boilerplate) plus the tagged pairs — the all-pairs flood is gone
    val baselinePairs = graft.operators.Dedup
      .sharedSpans(
        Tables.documents(spark, d).filter(col("n_chars") > 0 && col("doc_id") < 130),
        k = 5, minSpan = 8, maxGramDf = nDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val taggedPairs = (for (a <- tagged; b <- tagged if a < b) yield (a, b)).toSet
    assert(capped.nonEmpty)
    assert(capped.forall { case (a, b, _) =>
      baselinePairs.contains((a, b)) || taggedPairs.contains((a, b)) },
      "hot-gram boilerplate pair leaked past the df cap")
    for (a <- tagged; b <- tagged if a < b)
      assert(capped.exists { case (da, db, st) => da == a && db == b && st >= 16 },
        s"rare pair ($a, $b) lost to the df cap")
    // and without the cap the boilerplate floods every doc pair
    val flood = graft.operators.Dedup
      .sharedSpans(base, k = 5, minSpan = 8, maxGramDf = nDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flood.exists(p => !baselinePairs.contains(p) && !taggedPairs.contains(p)),
      "uncapped run should show boilerplate-only pairs")
    // default cap is inert where no gram exceeds it
    val dflt = graft.operators.Dedup
      .sharedSpans(base, k = 5, minSpan = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    val uncapped = graft.operators.Dedup
      .sharedSpans(base, k = 5, minSpan = 8, maxGramDf = nDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    assert(dflt.sameElements(uncapped), "default df cap changed reference-scale results")
  }

  test("curate_corpus_v2 funnel: every leg bites, rewrite stage keeps ids") {
    val st = SparkEntry.queries("curate_corpus_v2")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getString(4)))
      .sortBy(_._1)
    assert(st.length == 5)
    val counts = st.map(_._2)
    // cleaning rewrites text without dropping docs; later stages drop
    assert(counts(0) == counts(1) && st(0)._3 == st(1)._3, "stage 1 must keep ids")
    assert(st(0)._4 != st(1)._4, "stage 1 must rewrite content")
    assert(counts(1) > counts(2) && counts(2) >= counts(3) && counts(3) >= counts(4))
    assert(counts(2) > counts(4), "dedup+decontamination must drop something")
  }

  test("ta_gopher_quality signals are bounded and the pass flag is the conjunction") {
    val rows = SparkEntry.queries("ta_gopher_quality")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nWords, mwl, fa, nStop) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))
      val (top2, dup5, passes) = (r.getDouble(5), r.getDouble(6), r.getInt(7))
      // top2_frac uses the (occurrences × gram length)/n_chars convention
      // shared with the oracle; overlapping repeated 2-grams can push it
      // past 1.0 (e.g. "a a a a" → 9/7), so only the lower bound is an
      // invariant.
      assert(fa >= 0.0 && fa <= 1.0 && top2 >= 0.0 && dup5 >= 0.0)
      val expect = nWords >= 50 && nWords <= 100000 && mwl >= 3.0 && mwl <= 10.0 &&
        fa >= 0.8 && nStop >= 2 && top2 <= 0.2 && dup5 <= 0.15
      assert(passes == (if (expect) 1 else 0), s"doc ${r.getLong(0)} flag mismatch")
    }
    // the gate discriminates on this corpus: both outcomes occur
    val flags = rows.map(_.getInt(7)).toSet
    assert(flags == Set(0, 1), s"degenerate gate: $flags")
  }

  test("ann_rp_lsh prunes the scan and keeps recall vs brute force") {
    val res = SparkEntry.queries("ann_rp_lsh")(spark, d).collect()
    assert(res.length == 10)
    val qcode = RandomHyperplane.codeOf(qv)
    // every hit comes from a probed bucket (Hamming <= 2 of the query code)
    res.foreach { r =>
      val ham = java.lang.Long.bitCount(r.getAs[Long]("code") ^ qcode)
      assert(ham <= 2, s"vec ${r.getLong(0)} from bucket at Hamming $ham")
    }
    // the bucket filter genuinely prunes (scans < half the corpus)
    val probes = RandomHyperplane.multiprobe(qcode, 2)
    val corpus = Tables.embeddings(spark, d)
    val nCand = corpus
      .withColumn("code", RandomHyperplane.codeCol(col("embedding")))
      .filter(col("code").isin(probes: _*)).count()
    assert(nCand < corpus.count() / 2, s"candidates $nCand not a pruned scan")
    // recall vs exact brute-force top-10 (0.6 on this data; random
    // embeddings are LSH's worst case, so the floor is conservative)
    val brute = operators.Search.knn(corpus, qv, 10, -1.0)
      .select("vec_id").as[Long].collect().toSet
    val got = res.map(_.getLong(0)).toSet
    assert(brute.intersect(got).size >= 5, s"recall ${brute.intersect(got).size}/10")
  }

  test("dd_semdedup drops exactly the injected copies, keeping the originals") {
    val rows = SparkEntry.queries("dd_semdedup")(spark, d).collect()
    val expected = Tables.embeddings(spark, d)
      .filter(col("vec_id") % 50 === 0).select("vec_id").as[Long]
      .collect().map(_ + 10000).toSet
    assert(rows.map(_.getAs[Long]("dropped_id")).toSet == expected)
    rows.foreach { r =>
      assert(r.getAs[Long]("keeper_id") == r.getAs[Long]("dropped_id") - 10000)
      assert(r.getAs[Long]("n_near") == 1L)
    }
  }

  test("dd_semdedup_sketch is row-identical to the exact dd_semdedup") {
    // The Hamming prefilter may only shed pairs the exact verify would
    // reject anyway; compare full rows, not just the drop set.
    val exact = SparkEntry.queries("dd_semdedup")(spark, d)
      .collect().map(_.toSeq).toSet
    val sketch = SparkEntry.queries("dd_semdedup_sketch")(spark, d)
      .collect().map(_.toSeq).toSet
    assert(sketch == exact,
      s"sketch-prefiltered semdedup diverged: ${sketch.size} vs ${exact.size} rows")
  }

  test("pp_token_budget two-phase selection equals the naive global window") {
    val base = TextAnalysis.withQualityScore(
      Tables.documents(spark, d)
        .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))).cast("long"))
        .filter(col("n_tokens") > 0))
    val budget = base.agg(sum("n_tokens")).head().getLong(0) / 10
    val naive = base
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.orderBy(col("quality_score").desc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= budget)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toSet
    val twoPhase = SparkEntry.queries("pp_token_budget")(spark, d)
      .as[(Long, Long)].collect().toSet
    // pp_token_budget persists its scored relation; honor the
    // SparkEntry caller clearCache contract so the cached RDD doesn't
    // leak into the shared suite session.
    spark.catalog.clearCache()
    assert(twoPhase == naive)
    assert(twoPhase.nonEmpty)
  }

  test("pp_domain_mix downsamples toward the target weights") {
    val rows = SparkEntry.queries("pp_domain_mix")(spark, d).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_in"), r.getAs[Long]("n_kept")))
    assert(rows.nonEmpty)
    rows.foreach { case (src, nIn, nKept) =>
      assert(nKept <= nIn, s"$src upsampled: $nKept > $nIn")
    }
    // weight = src-index % 4 + 1: w=4 sources must keep a higher
    // fraction than w=1 sources (4x the target share)
    def rate(w: Int): Double = {
      val sel = rows.filter { case (src, _, _) => src.drop(3).toInt % 4 + 1 == w }
      sel.map(_._3).sum.toDouble / sel.map(_._2).sum
    }
    assert(rate(4) > rate(1) * 2, s"w=4 rate ${rate(4)} vs w=1 rate ${rate(1)}")
  }

  test("ann_lsh_knn_join ranks only same-bucket pairs and stays sub-quadratic") {
    val res = SparkEntry.queries("ann_lsh_knn_join")(spark, d).collect()
    assert(res.nonEmpty)
    val codeOf = Tables.embeddings(spark, d)
      .select(col("vec_id"), RandomHyperplane.codeCol(col("embedding")).as("code"))
      .as[(Long, Long)].collect().toMap
    res.foreach { r =>
      assert(codeOf(r.getAs[Long]("id_a")) == codeOf(r.getAs[Long]("neighbor_id")),
        s"pair ${r.getLong(0)}/${r.getAs[Long]("neighbor_id")} crosses buckets")
    }
    // per-vector ranks are 1..n<=3 with non-increasing sims
    res.groupBy(_.getAs[Long]("id_a")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val sims = sorted.map(_.getAs[Double]("sim")).toSeq
      assert(sims.zip(sims.drop(1)).forall { case (a, b) => a >= b })
    }
    // blocking keeps the join far below all-pairs
    val n = Tables.embeddings(spark, d).count()
    assert(res.length < n * (n - 1) / 10, s"${res.length} pairs is not pruned")
  }

  test("pp_domain_upmix hits every target count exactly") {
    val rows = SparkEntry.queries("pp_domain_upmix")(spark, d).collect()
      .map(r => (r.getString(0), r.getAs[Long]("target_n"), r.getAs[Long]("n_out"),
        r.getAs[Long]("n_distinct"), r.getAs[Long]("max_copies")))
    assert(rows.nonEmpty)
    val nIn = Tables.documents(spark, d).groupBy("source").count()
      .as[(String, Long)].collect().toMap
    rows.foreach { case (src, target, nOut, nDistinct, maxCopies) =>
      assert(nOut == target, s"$src missed target: $nOut != $target")
      assert(nDistinct <= nIn(src))
      val w = src.drop(3).toInt % 4 + 1
      if (w == 4) assert(maxCopies >= 2, s"$src (w=4) not upsampled")
      if (w == 1) assert(maxCopies == 1, s"$src (w=1) should only downsample")
    }
    // the overall mixture is preserved in total size (Σ needed ≈ N)
    val totalOut = rows.map(_._3).sum
    val totalIn = nIn.values.sum
    assert(math.abs(totalOut - totalIn) <= rows.length,
      s"total $totalOut drifted from corpus size $totalIn")
  }

  test("pp_epoch_shuffle reshuffles between epochs but is rerun-deterministic") {
    val run1 = SparkEntry.queries("pp_epoch_shuffle")(spark, d).collect()
      .map(r => ((r.getInt(0), r.getAs[Long]("shard")),
        (r.getAs[Long]("n_docs"), r.getString(3))))
    val run2 = SparkEntry.queries("pp_epoch_shuffle")(spark, d).collect()
      .map(r => ((r.getInt(0), r.getAs[Long]("shard")),
        (r.getAs[Long]("n_docs"), r.getString(3))))
    assert(run1.toSeq == run2.toSeq) // pure function of (epoch, doc_id)
    val byEpoch = run1.groupBy(_._1._1)
    val total = Tables.documents(spark, d).count()
    byEpoch.values.foreach(rows => assert(rows.map(_._2._1).sum == total))
    // the two epochs deal/order differently somewhere
    val heads = byEpoch.map { case (e, rows) =>
      e -> rows.sortBy(_._1._2).map(_._2._2).mkString("|")
    }
    assert(heads(0) != heads(1), "epochs produced identical shuffles")
  }

  test("ta_entropy is bounded by ln(n_distinct) and exact for all-distinct docs") {
    val rows = SparkEntry.queries("ta_entropy")(spark, d).collect()
    assert(rows.nonEmpty)
    var allDistinct = 0
    rows.foreach { r =>
      val h = r.getAs[Double]("entropy")
      val n = r.getAs[Long]("n_tokens")
      val nd = r.getAs[Long]("n_distinct")
      assert(h >= -1e-12 && h <= math.log(nd.toDouble) + 1e-12,
        s"doc ${r.getLong(0)}: H=$h outside [0, ln($nd)]")
      // all tokens distinct → every c=1 → Σ c·ln(c) = 0 → H == ln(n) EXACTLY
      if (n == nd) {
        assert(h == graft.operators.TextAnalysis.lnTable(n.toInt - 1))
        allDistinct += 1
      }
    }
    assert(allDistinct > 0, "no all-distinct doc exercised the exactness branch")
  }

  test("pp_split_assign partitions the corpus at ~80/10/10") {
    val rows = SparkEntry.queries("pp_split_assign")(spark, d).collect()
      .map(r => (r.getString(1), r.getAs[Long]("n_docs")))
    val total = rows.map(_._2).sum
    assert(total == Tables.documents(spark, d).count())
    val bySplit = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    val trainFrac = bySplit("train").toDouble / total
    assert(trainFrac > 0.7 && trainFrac < 0.9, s"train fraction $trainFrac")
  }

  test("quality classifier: seed-discriminative lr and score-ordered keeps on a planted corpus") {
    val docs = Seq(
      (1L, "good clean prose words", "seed"),
      (2L, "good clean prose words", "seed"),
      (3L, "spam spam click here", "web"),
      (4L, "good clean words mixed spam", "web"),
      (5L, "click spam spam spam", "web")
    ).toDF("doc_id", "text", "source")
    val model = TextAnalysis.qualityModel(docs, Seq("seed"), vocabSize = 16)
    val lr = model.collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // seed-only tokens score above 1, background-only tokens below
    assert(lr("prose") > lr("good") && lr("good") > 1.0, s"lr=$lr")
    assert(lr("spam") < lr("click") && lr("click") < 1.0, s"lr=$lr")
    // hand check: 8 seed tokens, 13 background tokens, V = 16 ⇒
    // lr(good) = ((2+1)/(8+16)) / ((1+1)/(13+16)) = (3/24)/(2/29) = 1.8125
    assert(math.abs(lr("good") - 1.8125) < 1e-12)
    val out = TextAnalysis.qualityClassify(docs, model)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    // every token of every doc is in the 16-token vocab
    assert(out.values.forall(_._1 > 0))
    // pure seed > mixed > pure spam, and the LR boundary splits them
    assert(out(1L)._2 > out(4L)._2 && out(4L)._2 > out(3L)._2)
    assert(out(1L)._3 == 1L && out(2L)._3 == 1L, "seed-like docs must pass keep")
    assert(out(3L)._3 == 0L && out(5L)._3 == 0L, "spam docs must fail keep")
    // stochastic keep admits every hard-keep doc whose score clears the
    // ramp ceiling (score >= 2 means probability 1 regardless of u)
    out.foreach { case (id, (_, score, _, sk)) =>
      if (score >= 2.0) assert(sk == 1L, s"doc $id score $score must sample_keep")
      if (score == 0.0) assert(sk == 0L, s"doc $id score 0 cannot sample_keep")
    }
  }

  test("pp_diversity_sample: per-bucket quotas are even and exactly filled") {
    val rows = SparkEntry.queries("pp_diversity_sample")(spark, d)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (code, nIn, quota, nKept, _) =>
      assert(nKept == quota, s"bucket $code kept $nKept != quota $quota")
      assert(quota <= nIn, s"bucket $code quota $quota > occupancy $nIn")
    }
    // total comes from the CORPUS, not the output: buckets whose quota
    // rounded to zero are absent from the result by construction
    val total = Tables.embeddings(spark, d).count()
    val kept = rows.map(_._4).sum
    assert(kept <= total / 5, s"kept $kept exceeds the ${total / 5} target")
    // every bucket that could fill got base or base+1 — the flattening
    // property that makes this a DIVERSITY sample
    val uncapped = rows.filter(r => r._3 < r._2).map(_._3)
    if (uncapped.nonEmpty)
      assert(uncapped.max - uncapped.min <= 1,
        s"uncapped quotas uneven: ${uncapped.min}..${uncapped.max}")
    if (rows.forall(r => r._3 <= r._2))
      assert(kept == math.min(total / 5, rows.map(_._3).sum),
        "every emitted bucket must fill its quota exactly")
  }

  test("property: QcScore scoring equals a driver-side reference fold on random corpora") {
    // guards the custom expression against refactors: same hash-map
    // lookups, same left-fold order, EXACT double equality expected
    val rnd = new scala.util.Random(99)
    val vocabWords = (0 until 30).map(i => s"w$i")
    val docsSeq = (0 until 200).map { id =>
      val words = (0 until rnd.nextInt(40)).map(_ =>
        if (rnd.nextBoolean()) vocabWords(rnd.nextInt(30)) else s"oov${rnd.nextInt(50)}")
      (id.toLong, words.mkString(" "), if (id % 3 == 0) "seed" else "web")
    }
    val docs = docsSeq.toDF("doc_id", "text", "source")
    val model = TextAnalysis.qualityModel(docs, Seq("seed"), vocabSize = 20)
    val lr = model.collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val got = TextAnalysis.qualityClassify(docs, model)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    docsSeq.foreach { case (id, text, _) =>
      var n = 0L
      var s = 0.0
      text.split(" ").filter(_.nonEmpty)
        .foreach(t => lr.get(t).foreach { v => n += 1; s += v })
      val score = if (n > 0) s / n else 0.0
      assert(got(id)._1 == n, s"doc $id n_invocab: got ${got(id)._1}, expected $n")
      assert(got(id)._2 == score, s"doc $id score: got ${got(id)._2}, expected $score")
    }
  }

  test("pp_domain_cap: aggregator cap equals the window form, <= 10 per source") {
    val got = SparkEntry.queries("pp_domain_cap")(spark, d)
      .select("source", "rnk", "doc_id").as[(String, Long, Long)].collect().toSeq
    spark.catalog.clearCache()
    got.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.size <= 10, s"source $src kept ${rows.size} > 10") }
    val win = Tables.documents(spark, d)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("source").orderBy($"n_chars".desc, $"doc_id".asc)).cast("long"))
      .filter($"rnk" <= 10)
      .select("source", "rnk", "doc_id").as[(String, Long, Long)]
      .collect().toSeq.sorted
    assert(got.sorted == win)
  }

  test("ts_rm3_expansion: deterministic, expansion differs from plain bm25") {
    val run1 = SparkEntry.queries("ts_rm3_expansion")(spark, d).collect().toSeq
    spark.catalog.clearCache()
    val run2 = SparkEntry.queries("ts_rm3_expansion")(spark, d).collect().toSeq
    spark.catalog.clearCache()
    assert(run1 == run2, "feedback term selection must be rerun-deterministic")
    assert(run1.size == 10)
    val plain = TextAnalysis.bm25Scores(
        Tables.documents(spark, d), Seq("join", "vector", "dup"))
      .orderBy($"bm25".desc, $"doc_id".asc).limit(10).collect().toSeq
    // expansion must actually change scoring: some doc matches more
    // terms than the 3-seed query can, or the ranking moved
    assert(run1.map(r => (r.getLong(0), r.getDouble(1))) !=
      plain.map(r => (r.getLong(0), r.getDouble(1))),
      "expanded ranking identical to seed-only bm25 — expansion had no effect")
  }

  test("ts_bm25_maxscore: lossless vs exhaustive bm25, and the prune actually bites") {
    val ms = SparkEntry.queries("ts_bm25_maxscore")(spark, d).collect().toSeq
    spark.catalog.clearCache()
    val exact = SparkEntry.queries("ts_bm25")(spark, d).collect().toSeq
    spark.catalog.clearCache()
    // rank-for-rank identical top-20: (doc_id, bm25, n_terms)
    assert(ms.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))) ==
      exact.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))),
      "pruned top-k diverged from exhaustive scoring — MaxScore must be lossless")
    val (nCand, nScored, nPruned) =
      (ms.head.getLong(3), ms.head.getLong(4), ms.head.getLong(5))
    assert(nCand == nScored + nPruned)
    assert(nScored >= 20, "survivors must cover the top-k")
    // the point of the operator: most candidates never get fully scored
    // (measured 433/458 pruned on the sf0.001 fixture)
    assert(nPruned > nCand / 2, s"pruned $nPruned of $nCand — bound too weak")
  }

  test("bm25MaxScore: no query term in the corpus returns empty, not a crash") {
    val out = TextAnalysis.bm25MaxScore(
      Tables.documents(spark, d).select("doc_id", "text"),
      Seq("zzqx_not_in_corpus", "zzqy_also_absent"), 10).collect().toSeq
    spark.catalog.clearCache()
    assert(out.isEmpty, s"expected no rows for absent terms, got ${out.size}")
  }

  test("ts_spell_correct: every planted typo resolves to a distance-1 vocab term") {
    val rows = SparkEntry.queries("ts_spell_correct")(spark, d).collect().toSeq
    spark.catalog.clearCache()
    assert(rows.size == 5)
    val vocab = Tables.documents(spark, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
      .distinct().as[String].collect().toSet
    rows.foreach { r =>
      val (typo, corrected, dist) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(vocab.contains(corrected), s"$corrected not in vocab")
      assert(!vocab.contains(typo), s"planted typo $typo collides with vocab")
      assert(dist == 1, s"$typo -> $corrected dist $dist")
      // the deletion-variant join really found the deleted-char parent
      assert(corrected.length == typo.length + 1)
    }
    // deterministic rerun
    val again = SparkEntry.queries("ts_spell_correct")(spark, d).collect().toSeq
    spark.catalog.clearCache()
    assert(rows == again)
  }

  test("dd_setjoin_prefix: lossless vs brute-force all-pairs; prefix filter prunes hard") {
    val got = SparkEntry.queries("dd_setjoin_prefix")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nCand = SparkEntry.queries("dd_setjoin_prefix")(spark, d)
      .select("n_candidates").head().getLong(0)
    spark.catalog.clearCache()
    // brute force: all doc pairs' shingle-set Jaccard >= 1/2
    val shUdf = udf((text: String) => {
      val t = text.split(" ").filter(_.nonEmpty)
      if (t.length < 3) Seq.empty[String]
      else t.sliding(3).map(_.mkString(" ")).toSeq.distinct
    })
    val sets = Tables.documents(spark, d)
      .select(col("doc_id"), shUdf(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    spark.catalog.clearCache()
    val brute = (for {
      (ida, sa) <- sets; (idb, sb) <- sets
      if ida < idb && sa.nonEmpty
      inter = (sa & sb).size
      uni = sa.size + sb.size - inter
      if uni > 0 && 2 * inter >= uni
    } yield (ida, idb, inter.toLong, uni.toLong)).toSet
    assert(got.toSet == brute,
      s"prefix join ${got.length} pairs vs brute ${brute.size}")
    // the filter's whole point: candidates << all pairs (1,139 vs
    // 124,750 measured at sf0.001)
    val n = sets.length.toLong
    assert(nCand < n * (n - 1) / 2 / 10, s"$nCand candidates of ${n * (n - 1) / 2}")
  }

  test("pp_priority_sample: top-k by priority, estimator tracks the corpus total") {
    val rows = SparkEntry.queries("pp_priority_sample")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    spark.catalog.clearCache()
    assert(rows.length == 50)
    val tau = rows.head._4
    rows.foreach { case (_, w, q, t, est) =>
      assert(t == tau)
      assert(q >= tau, s"sampled priority $q below threshold $tau")
      assert(est == math.max(w.toDouble, tau), "estimator must be max(w, tau)")
    }
    // single-draw subset-sum accuracy: measured +8.5% at sf0.001
    // (sigma ~ 1/sqrt(k) = 14%); 35% = 2.5 sigma
    val total = Tables.documents(spark, d)
      .agg(sum(col("n_chars"))).head().getLong(0).toDouble
    val estSum = rows.map(_._5).sum
    assert(math.abs(estSum / total - 1.0) < 0.35, s"est $estSum vs total $total")
    val again = SparkEntry.queries("pp_priority_sample")(spark, d).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    spark.catalog.clearCache()
    assert(rows.map(r => (r._1, r._3)).sameElements(again))
  }

  test("dd_url_canonical: surface variants 0-1 collapse, param-bearing classes stay distinct") {
    val rows = SparkEntry.queries("dd_url_canonical")(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getBoolean(4)))
    spark.catalog.clearCache()
    assert(rows.length == 500)
    val byCanon = rows.groupBy(_._3)
    // plain (class 0) and UPPER+trailing-slash (class 1) forms of the
    // same page share a canonical even though raw strings differ
    val c0 = rows.find(_._1 == 0).get  // class 0: doc 0
    val c1 = rows.find(_._1 == 20).get // class 1: doc 20, same host/slug
    assert(c0._2 != c1._2, "raw urls must differ")
    assert(c0._3 == c1._3, s"canonicals must collapse: ${c0._3} vs ${c1._3}")
    // utm_source is stripped but the real param survives, sorted
    val c2 = rows.find(_._1 == 40).get // class 2
    assert(c2._3.endsWith("?x=1") && !c2._3.contains("utm_"), c2._3)
    val c3 = rows.find(_._1 == 60).get // class 3
    assert(c3._3.endsWith("?a=1&b=2") && !c3._3.contains("#"), c3._3)
    // class 2/3 canonicals differ from the collapsed 0/1 group
    assert(Set(c0._3, c2._3, c3._3).size == 3)
    // exactly one representative per canonical group, the min doc_id
    byCanon.foreach { case (_, g) =>
      assert(g.count(_._5) == 1)
      assert(g.filter(_._5).head._1 == g.map(_._1).min)
      assert(g.forall(_._4 == g.length.toLong))
    }
  }

  test("dd_bloom_prefilter: no false negatives, exact result, prefilter bites") {
    val docs = Tables.documents(spark, d).withColumn("h", md5($"text"))
    val base = docs.filter($"doc_id" % 3 =!= 0).select("h")
    val batch = docs.filter($"doc_id" % 2 === 0).select("doc_id", "h")
    val (defNew, maybe) = graft.operators.Dedup.bloomSplit(spark, batch, base, "h")
    // no false negatives: a row routed past the join must truly be new
    assert(defNew.join(base.distinct(), Seq("h"), "left_semi").count() == 0,
      "bloom claimed a present key was absent")
    // the split partitions the batch
    assert(defNew.count() + maybe.count() == batch.count())
    // every true dup is in `maybe` (so the exact join sees it)
    val trueDups = batch.join(base.distinct(), Seq("h"), "left_semi")
    assert(maybe.join(trueDups.select("doc_id"), Seq("doc_id"), "left_semi").count()
      == trueDups.count())
    // gated query output == plain anti-join
    val got = SparkEntry.queries("dd_bloom_prefilter")(spark, d)
      .select("doc_id").as[Long].collect().toSeq
    spark.catalog.clearCache()
    val exp = batch.join(base.distinct(), Seq("h"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == exp)
  }

  test("pp_importance_resample: systematic resampler fills exactly k slots ∝ weight") {
    val rows = SparkEntry.queries("pp_importance_resample")(spark, d)
      .select("doc_id", "score", "w", "n_samples").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    spark.catalog.clearCache()
    val k = 64L
    // Σ n_samples telescopes to exactly k — the resampler's defining
    // invariant (floor((2Wk+W)/2W) − floor(W/2W) = k)
    assert(rows.map(_._4).sum == k, s"slots = ${rows.map(_._4).sum}")
    // only positive-weight docs are sampled, each at least once
    assert(rows.forall(r => r._3 > 0 && r._4 >= 1))
    // low-variance proportionality: slot counts are floor(w·k/W) or
    // one more, so counts are monotone in weight up to ±1 — a
    // strictly heavier doc never trails a lighter one by 2+ slots
    for ((_, _, wi, ni) <- rows; (_, _, wj, nj) <- rows if wi >= wj)
      assert(ni >= nj - 1, s"monotonicity: w=$wi got $ni slots, w=$wj got $nj")
    // determinism: a rerun is bit-identical
    val again = SparkEntry.queries("pp_importance_resample")(spark, d)
      .select("doc_id", "score", "w", "n_samples").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    spark.catalog.clearCache()
    assert(rows.sameElements(again))
  }

  test("ta_langid_trained: held-out accuracy >= 0.9 on the planted signal, deterministic") {
    val rows = SparkEntry.queries("ta_langid_trained")(spark, d)
      .select("doc_id", "lang", "pred_lang", "dist", "correct").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    spark.catalog.clearCache()
    assert(rows.nonEmpty)
    // exactly the held-out split, one prediction per doc
    assert(rows.forall(_._1 % 5 == 0) && rows.map(_._1).distinct.length == rows.length)
    val acc = rows.map(_._5).sum.toDouble / rows.length
    assert(acc >= 0.9, s"held-out accuracy $acc")
    // correct is derived, dist is a genuine out-of-place sum (>= 0)
    rows.foreach { case (_, a, p, dist, c) =>
      assert((c == 1L) == (a == p) && dist >= 0)
    }
    val again = SparkEntry.queries("ta_langid_trained")(spark, d).collect()
    spark.catalog.clearCache()
    assert(again.length == rows.length)
  }

  test("pp_pack_bfd: feasible bins, every doc packed once, beats-or-ties greedy") {
    val bfd = SparkEntry.queries("pp_pack_bfd")(spark, d)
      .select("source", "bin_id", "n_docs", "fill").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    spark.catalog.clearCache()
    val greedy = SparkEntry.queries("pp_sequence_pack")(spark, d)
      .select("source", "pack_id", "n_docs", "n_tokens").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    spark.catalog.clearCache()
    assert(bfd.nonEmpty)
    // feasibility: a bin over budget can only be a single oversize doc
    bfd.foreach { case (src, bin, nd, fill) =>
      assert(fill <= 1024 || nd == 1, s"$src bin $bin: $nd docs, fill $fill")
    }
    // partition: same doc universe as the greedy packer
    assert(bfd.map(_._3).sum == greedy.map(_._3).sum)
    assert(bfd.map(_._4).sum == greedy.map(_._4).sum)
    // the quality claim: per shard, BFD never uses more bins than the
    // arrival-order greedy walk
    val bfdBins = bfd.groupBy(_._1).view.mapValues(_.length).toMap
    val greedyBins = greedy.groupBy(_._1).view.mapValues(_.length).toMap
    bfdBins.foreach { case (src, nb) =>
      assert(nb <= greedyBins(src), s"$src: BFD $nb bins vs greedy ${greedyBins(src)}")
    }
  }

  test("pp_span_corruption: every full 10-token block masks exactly one 3-span") {
    val rows = SparkEntry.queries("pp_span_corruption")(spark, d)
      .select("doc_id", "n_tokens", "n_masked", "input_md5", "target_md5").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
    spark.catalog.clearCache()
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, m, inp, tgt) =>
      val fullBlocks = n / 10
      // offsets are ≤ 7, so a full block always fits its whole 3-span;
      // the tail partial block contributes 0..3 masked tokens
      assert(m >= 3 * fullBlocks && m <= 3 * fullBlocks + 3,
        s"doc $id: n=$n masked=$m outside [${3 * fullBlocks}, ${3 * fullBlocks + 3}]")
      assert(inp.length == 32 && tgt.length == 32)
    }
    val again = SparkEntry.queries("pp_span_corruption")(spark, d)
      .select("doc_id", "n_tokens", "n_masked", "input_md5", "target_md5").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
    spark.catalog.clearCache()
    assert(rows.sameElements(again))
  }

  test("dd_span_rewrite: later docs lose exactly the shared span, earlier/unique docs untouched, overlaps union") {
    import graft.operators.Dedup
    val p = (1 to 10).map(i => s"p$i").mkString(" ")
    val docsDf = Seq(
      (1L, s"u1 u2 u3 u4 u5 $p"),   // earliest owner: keeps its copy
      (2L, s"v1 v2 v3 v4 v5 $p"),   // later: must lose the 10 tokens
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8"), // unique: untouched
      (6L, s"$p z1 z2 z3 z4 z5")    // pairs with BOTH 1 and 2 → same
                                     // range twice → removed ONCE
    ).toDF("doc_id", "text")
    val res = Dedup.spanRewrite(docsDf, Dedup.sharedSpans(docsDf, k = 5, minSpan = 8))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def h(s: String): String =
      spark.sql(s"SELECT md5('$s')").head().getString(0)
    assert(res(1L) == ((15L, 0L, h(s"u1 u2 u3 u4 u5 $p"))))
    assert(res(2L) == ((15L, 10L, h("v1 v2 v3 v4 v5"))))
    assert(res(3L) == ((8L, 0L, h("w1 w2 w3 w4 w5 w6 w7 w8"))))
    assert(res(6L) == ((15L, 10L, h("z1 z2 z3 z4 z5"))))
  }

  test("qlog8: monotone eighth-bit log2, exact at powers of two, within one bit of 8*log2") {
    import graft.operators.Perplexity.qlog8
    val xs = (1L to 4096L) ++ Seq(1L << 20, (1L << 20) + 7, (1L << 40) - 1, 1L << 40)
    xs.sliding(2).foreach { case Seq(a, b) =>
      assert(qlog8(a) <= qlog8(b), s"qlog8 not monotone at $a -> $b")
    }
    for (k <- 0 to 40) assert(qlog8(1L << k) == 8L * k)
    xs.foreach { x =>
      val t = 8.0 * math.log(x.toDouble) / math.log(2.0)
      assert(qlog8(x) <= t + 1e-9 && qlog8(x) >= t - 8.0,
        s"qlog8($x)=${qlog8(x)} vs 8*log2=$t")
    }
  }

  test("pp_perplexity_filter: BigramNll == driver reference fold; seed-fluent scores below gibberish") {
    import graft.operators.Perplexity
    val docs = Tables.documents(spark, d).filter(col("n_chars") > 0)
    val model = Perplexity.perplexityModel(docs, Seq("src0", "src1", "src2", "src3"))
    // reference fold: recompute a doc's nll driver-side from the model arrays
    val bg = model.bgV.indices.map(i => (model.bgV(i), model.bgW(i)) -> model.bgQ(i)).toMap
    val cx = model.ctxK.zip(model.ctxQ).toMap
    val vs = model.vocab.toSet
    def refNll(text: String): (Long, Long) = {
      val toks = text.split(" ").filter(_.nonEmpty).map(t => if (vs(t)) t else "<unk>")
      var prev = "<s>"; var s = 0L
      toks.foreach { m => s += cx(prev) - bg.getOrElse((prev, m), 0L); prev = m }
      (toks.length.toLong, s)
    }
    val sample = docs.select("doc_id", "text").limit(20).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val scored = Perplexity.perplexityScore(docs, model)
      .filter(col("doc_id").isin(sample.keys.toSeq: _*))
      .select("doc_id", "n_tokens", "nll_q").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(scored.length == sample.size)
    scored.foreach { case (id, n, nll) =>
      val (en, enll) = refNll(sample(id))
      assert(n == en && nll == enll, s"doc $id: engine ($n,$nll) != ref ($en,$enll)")
    }
    // discrimination: a doc of common seed tokens must sit well below
    // a doc of never-seen tokens (every bigram OOV-context+unseen)
    val fluent = model.vocab.take(30).mkString(" ")
    val gibberish = (0 until 30).map(i => f"zzqx$i%03d").mkString(" ")
    val two = Perplexity.perplexityScore(
      Seq((1L, fluent, "xx"), (2L, gibberish, "xx"))
        .toDF("doc_id", "text", "lang"), model)
      .select("doc_id", "xent8").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(two(1L) < two(2L),
      s"fluent ${two(1L)} not below gibberish ${two(2L)}")
  }

  test("pp_perplexity_filter: buckets ordered head<=middle<=tail per lang, rerun-deterministic") {
    val rows = SparkEntry.queries("pp_perplexity_filter")(spark, d)
      .select("lang", "xent8", "ppl_bucket").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
    spark.catalog.clearCache()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (lang, g) =>
      def rng(b: String) = g.filter(_._3 == b).map(_._2)
      for (b <- Seq("head", "middle", "tail")) assert(rng(b).nonEmpty, s"$lang missing $b")
      assert(rng("head").max <= rng("middle").min + 1e-12, s"$lang head>middle")
      assert(rng("middle").max <= rng("tail").min + 1e-12, s"$lang middle>tail")
    }
    val again = SparkEntry.queries("pp_perplexity_filter")(spark, d)
      .select("lang", "xent8", "ppl_bucket").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
    spark.catalog.clearCache()
    assert(rows.sameElements(again))
  }

  test("dd_sorted_neighborhood: two-phase rank pairs == naive global-sort replay") {
    val res = SparkEntry.queries("dd_sorted_neighborhood")(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    spark.catalog.clearCache()
    assert(res.nonEmpty, "fixture near-dups must surface pairs")
    // driver-side naive replay: ONE global sort per pass, window w=4,
    // exact shingle Jaccard >= 0.2 — the single-partition form the
    // two-phase rank provably equals
    val docs = Tables.documents(spark, d).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
    def toks(t: String) = t.split(" ").filter(_.nonEmpty)
    def shs(t: String) = {
      val ts = toks(t)
      if (ts.length < 3) Set.empty[String]
      else ts.sliding(3).map(_.mkString(" ")).toSet
    }
    val keys = Map(
      "raw" -> docs.map { case (id, t) => id -> t.take(24) }.toMap,
      "canon" -> docs.map { case (id, t) =>
        id -> toks(t).distinct.sorted.mkString(" ").take(24) }.toMap)
    val naive = scala.collection.mutable.Map[(Long, Long), Set[String]]()
    for ((pname, km) <- keys) {
      val order = docs.map(_._1).sortBy(id => (km(id), id))
      for (i <- order.indices; j <- (i + 1) until math.min(i + 4, order.length)) {
        val (lo, hi) = (math.min(order(i), order(j)), math.max(order(i), order(j)))
        naive((lo, hi)) = naive.getOrElse((lo, hi), Set.empty[String]) + pname
      }
    }
    val shsMap = docs.map { case (id, t) => id -> shs(t) }.toMap
    val expected = naive.toSeq.flatMap { case ((a, b), ps) =>
      val (sa, sb) = (shsMap(a), shsMap(b))
      val inter = (sa & sb).size.toLong
      val uni = sa.size + sb.size - inter
      if (uni > 0 && inter * 5 >= uni)
        Some((a, b) -> (inter, uni, inter * 10000 / uni, ps.toSeq.sorted.mkString(",")))
      else None
    }.toMap
    assert(res == expected)
    // passes column is the sorted distinct pass set (which passes found
    // each pair is corpus-dependent; the equality above pins it exactly)
    assert(res.values.map(_._4).toSet.subsetOf(Set("canon", "raw", "canon,raw")))
  }

  test("ta_collocations: counts and scores match an exact driver recount, true top-100") {
    val rows = SparkEntry.queries("ta_collocations")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    spark.catalog.clearCache()
    assert(rows.nonEmpty && rows.length <= 100)
    val texts = Tables.documents(spark, d).select("text").collect()
      .map(r => Option(r.getString(0)).getOrElse(""))
    val toks = texts.map(_.split(" ").filter(_.nonEmpty))
    val uni = scala.collection.mutable.Map[String, Long]()
    val bi = scala.collection.mutable.Map[(String, String), Long]()
    toks.foreach { ts =>
      ts.foreach(w => uni(w) = uni.getOrElse(w, 0L) + 1)
      ts.sliding(2).filter(_.length == 2).foreach { p =>
        val k = (p(0), p(1)); bi(k) = bi.getOrElse(k, 0L) + 1
      }
    }
    val n = uni.values.sum
    def scoreOf(k: (String, String)) =
      ((bi(k) - 5L) * n).toDouble / (uni(k._1) * uni(k._2)).toDouble
    rows.foreach { case (w1, w2, cab, ca, cb, sc) =>
      assert(bi((w1, w2)) == cab && uni(w1) == ca && uni(w2) == cb)
      assert(cab > 5)
      assert(sc == scoreOf((w1, w2)), s"$w1 $w2") // bit-exact: one division
    }
    // the reported rows ARE the global top-100 under (score desc, w1, w2)
    val expTop = bi.keys.filter(bi(_) > 5).toSeq
      .sortBy(k => (-scoreOf(k), k._1, k._2)).take(100)
    assert(rows.map(r => (r._1, r._2)).toSeq == expTop)
  }

  test("x11_corpus_to_batches: stage chain consistent with its standalone stages") {
    val rows = SparkEntry.queries("x11_corpus_to_batches")(spark, d)
      .collect().map(r => r.getString(1) ->
        (r.getLong(2), r.getString(3), r.getString(4))).toMap
    spark.catalog.clearCache()
    assert(rows.keySet ==
      Set("0_quality", "1_split_train", "2_packed", "3_epoch0"))
    val (nQ, _, _) = rows("0_quality")
    val (nTr, trIds, _) = rows("1_split_train")
    // the split keeps a strict subset (204/256 expected buckets)
    assert(nTr < nQ && nTr > 0)
    // the shuffle stage permutes exactly the split survivors
    assert(rows("3_epoch0")._1 == nTr)
    // pack stage: replay the split + per-shard BFD walk on the driver
    // and require the identical bin count (the full composition digest
    // is pinned by the DuckDB oracle; this pins the walk against an
    // independent in-process replay)
    val docs = Tables.documents(spark, d)
      .filter(size(TextAnalysis.tokens(col("text"))) > 0)
    val tr = TextAnalysis.withQualityScore(docs)
      .filter(col("quality_score") >= 0.6)
      .filter(expr("""(CASE WHEN ascii(substring(md5(concat('split:', cast(doc_id as string))), 1, 1)) >= 97
          THEN ascii(substring(md5(concat('split:', cast(doc_id as string))), 1, 1)) - 87
          ELSE ascii(substring(md5(concat('split:', cast(doc_id as string))), 1, 1)) - 48 END) * 16 +
        (CASE WHEN ascii(substring(md5(concat('split:', cast(doc_id as string))), 2, 1)) >= 97
          THEN ascii(substring(md5(concat('split:', cast(doc_id as string))), 2, 1)) - 87
          ELSE ascii(substring(md5(concat('split:', cast(doc_id as string))), 2, 1)) - 48 END) < 204"""))
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tr.length.toLong == nTr)
    val nBins = tr.groupBy(t => t._1 % 8).values.map { g =>
      val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
      g.toSeq.sortBy(t => (-t._2, t._1)).foreach { case (_, n) =>
        val fits = loads.zipWithIndex.filter(_._1 + n <= 1024L)
        if (fits.isEmpty) loads += n
        else loads(fits.maxBy(_._1)._2) += n
      }
      loads.length
    }.sum
    assert(rows("2_packed")._1.toLong == nBins.toLong)
  }
}
