package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ProductQuantization => PQ, Search, Serving}
import graft.operators.Serving._

/** The stats-driven tier router: the decision matrix is pinned per
  * index state (mirroring v10_route_strategy's logical-router gate),
  * and every tier's routed output must equal the direct tier call
  * under the router's normalized (q_id, rank, id, sim, tier) schema. */
class ServingSpec extends AnyFunSuite {
  lazy val spark = SparkSessionHelper.spark
  private val d = "/root/testdata/sf0.01"

  private lazy val e = Tables.embeddings(spark, d)
    .select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    .withColumn("tenant", lit("all"))
  private lazy val n = e.count()
  private lazy val cents =
    Search.ivfTrainSampled(e, "tenant", "vec_id", "embedding", 16, sampleCap = 256)
  private lazy val assigned =
    Search.ivfAssign(e, "tenant", "vec_id", "embedding", cents)
  private lazy val books =
    PQ.pqTrainSampled(e, "tenant", "vec_id", "embedding", 4, 8, 256)
  private lazy val enc =
    PQ.pqEncode(e, "tenant", "vec_id", "embedding", books)
  private lazy val encCells = enc
    .join(assigned.select(col("tenant"), col("id"), col("cell")), Seq("tenant", "id"))
  private lazy val words =
    Serving.signPackAll(e, "tenant", "vec_id", "embedding", 64)
  private lazy val qs = {
    val ids = Seq(0L, 1L, 2L)
    ids.zip(ids.map(i => e.filter(col("vec_id") === i)
      .head().getSeq[Double](1).toSeq))
  }

  private def st(centroidsOn: Boolean = false, cellsOn: Boolean = false,
                 codesOn: Boolean = false, withCells: Boolean = false,
                 wordsOn: Boolean = false): IndexState =
    IndexState(vectors = e, corpusSize = n,
      centroids = if (centroidsOn) Some(cents) else None,
      cells = if (cellsOn) Some(assigned) else None,
      codebooks = if (codesOn) Some(books) else None,
      encoded = if (codesOn) Some(if (withCells) encCells else enc) else None,
      encodedHasCells = withCells,
      signWords = if (wordsOn) Some(words) else None,
      idCol = "vec_id", embCol = "embedding")

  test("routing decision matrix") {
    // full state → IVF-PQ; partial states walk the ladder
    assert(route(st(centroidsOn = true, cellsOn = true, codesOn = true,
      withCells = true), bruteForceCeiling = 0) == IvfPqTier)
    assert(route(st(centroidsOn = true, cellsOn = true, codesOn = true),
      bruteForceCeiling = 0) == IvfTier) // codes without cells don't compound
    assert(route(st(centroidsOn = true, cellsOn = true),
      bruteForceCeiling = 0) == IvfTier)
    assert(route(st(codesOn = true), bruteForceCeiling = 0) == PqTier)
    assert(route(st(wordsOn = true), bruteForceCeiling = 0) == HammingTier)
    assert(route(st(), bruteForceCeiling = 0) == BruteForceTier)
    // small corpus → brute even with every asset present
    assert(route(st(centroidsOn = true, cellsOn = true, codesOn = true,
      withCells = true), bruteForceCeiling = n) == BruteForceTier)
    // exact recall contract → brute regardless of assets
    assert(route(st(centroidsOn = true, cellsOn = true, codesOn = true,
      withCells = true), recallFloor = 1.0, bruteForceCeiling = 0) == BruteForceTier)
    // encoded carrying its own cell column serves IVF-PQ with NO
    // separate cells frame (ADVICE r14: no silent brute-force cliff)
    assert(route(IndexState(vectors = e, corpusSize = n,
      centroids = Some(cents), codebooks = Some(books),
      encoded = Some(encCells), encodedHasCells = true,
      idCol = "vec_id", embCol = "embedding"),
      bruteForceCeiling = 0) == IvfPqTier)
  }

  test("calibrated routing honors intermediate recall floors from stored curves (r14 task 3)") {
    val full = st(centroidsOn = true, cellsOn = true, codesOn = true,
      withCells = true)
    val curve = Seq(
      RecallPoint("ivf_pq", 4, 50, 0.72),
      RecallPoint("ivf_pq", 8, 100, 0.85),
      RecallPoint("ivf", 8, 0, 0.93),
      RecallPoint("pq", 0, 200, 0.95))
    val cal = full.copy(recallCurve = curve)
    // floor 0: the cost ladder at the CALLER's params (unchanged)
    assert(routeCalibrated(cal, 0.0, 0, 4, 50) == Decision(IvfPqTier, 4, 50))
    // floor 0.8: cheapest stored config meeting it — ivf_pq @ (8,100),
    // overriding the caller's (4,50)
    assert(routeCalibrated(cal, 0.8, 0, 4, 50) == Decision(IvfPqTier, 8, 100))
    // floor 0.9: no ivf_pq point reaches it; next rung that does is ivf
    assert(routeCalibrated(cal, 0.9, 0, 4, 50) == Decision(IvfTier, 8, 0))
    // floor 0.999: the exact contract — brute, curves irrelevant
    assert(routeCalibrated(cal, 0.999, 0, 4, 50).tier == BruteForceTier)
    // floor above every stored point: brute, never silently unmet
    assert(routeCalibrated(cal, 0.96, 0, 4, 50).tier == BruteForceTier)
    // no stored curve at all + intermediate floor: unverifiable → brute
    assert(routeCalibrated(full, 0.9, 0, 4, 50).tier == BruteForceTier)
    // stored points for tiers the state cannot serve are ignored
    val ivfOnly = st(centroidsOn = true, cellsOn = true)
      .copy(recallCurve = curve)
    assert(routeCalibrated(ivfOnly, 0.8, 0, 4, 50) == Decision(IvfTier, 8, 0))
    // staleness guard (round 16): a curve measured against a corpus
    // the state has since drifted >1.5× away from (grown OR shrunk)
    // no longer certifies intermediate floors — brute, same as
    // no-curve; recallMeasuredAt ≤ 0 = measured against this state
    val nc = cal.corpusSize
    assert(routeCalibrated(cal.copy(recallMeasuredAt = nc), 0.8, 0, 4, 50)
      == Decision(IvfPqTier, 8, 100))
    // exactly 1.5× drift in either direction: still fresh (boundary)
    assert(routeCalibrated(cal.copy(corpusSize = 3 * nc,
      recallMeasuredAt = 2 * nc), 0.8, 0, 4, 50) == Decision(IvfPqTier, 8, 100))
    assert(routeCalibrated(cal.copy(corpusSize = 2 * nc,
      recallMeasuredAt = 3 * nc), 0.8, 0, 4, 50) == Decision(IvfPqTier, 8, 100))
    // beyond 1.5×: stale → brute, never a silently-unmet floor
    assert(routeCalibrated(cal.copy(corpusSize = 2 * nc,
      recallMeasuredAt = 5 * nc), 0.8, 0, 4, 50).tier == BruteForceTier)
    assert(routeCalibrated(cal.copy(corpusSize = 5 * nc,
      recallMeasuredAt = 2 * nc), 0.8, 0, 4, 50).tier == BruteForceTier)
    // floor 0 is untouched by staleness: recall was never required
    assert(routeCalibrated(cal.copy(corpusSize = 5 * nc,
      recallMeasuredAt = 2 * nc), 0.0, 0, 4, 50) == Decision(IvfPqTier, 4, 50))
  }

  private lazy val docsAll =
    Tables.documents(spark, d).withColumn("tenant", lit("all"))
  private lazy val postings =
    Serving.buildPostings(docsAll, "tenant", "doc_id", "text")
  private lazy val lexStats = Serving.lexStatsOf(docsAll, "tenant", "text")

  test("hybrid routing matrix: text + lexical assets → hybrid; otherwise the vector path (r14 task 4)") {
    val full = st(centroidsOn = true, cellsOn = true, codesOn = true,
      withCells = true)
    val lexed = full.copy(postings = Some(postings), lexStats = lexStats)
    assert(routeCalibrated(lexed, 0, 0, 4, 50, hasText = true).tier == HybridTier)
    // no text: the vector ladder, lexical assets irrelevant
    assert(routeCalibrated(lexed, 0, 0, 4, 50).tier == IvfPqTier)
    // text but no postings: the vector ladder, text ignored
    assert(routeCalibrated(full, 0, 0, 4, 50, hasText = true).tier == IvfPqTier)
    // the exact-recall contract trumps fusion
    assert(routeCalibrated(lexed, 0.999, 0, 4, 50, hasText = true).tier ==
      BruteForceTier)
    // ANY positive floor trumps fusion (ADVICE r15): the fused output
    // has no stored recall point, so an intermediate floor with text
    // takes the CALIBRATED VECTOR path — brute when no curve is
    // stored (unverifiable floors are served exactly) ...
    assert(routeCalibrated(lexed, 0.5, 0, 4, 50, hasText = true).tier ==
      BruteForceTier)
    // ... and the cheapest stored vector config when one meets it
    val calLexed = lexed.copy(recallCurve =
      Seq(RecallPoint("ivf_pq", 8, 100, 0.97)))
    assert(routeCalibrated(calLexed, 0.9, 0, 4, 50, hasText = true) ==
      Decision(IvfPqTier, 8, 100))
    // searchBatchText with empty term lists serves the vector decision
    val v = searchBatchText(lexed, "all", qs.map(q => (q._1, q._2, Nil)),
      k = 5, bruteForceCeiling = 0)
    assert(v.select("tier").distinct().head().getString(0) == "ivf_pq")
  }

  test("hybrid serve equals the manual BM25 ∥ vector RRF composition") {
    import graft.operators.TextAnalysis
    val terms = Seq("join", "vector", "dup")
    val lexed = st(centroidsOn = true, cellsOn = true, codesOn = true,
      withCells = true).copy(postings = Some(postings), lexStats = lexStats)
    val got = searchBatchText(lexed, "all",
        Seq((0L, qs.head._2, terms)), k = 10, nProbe = 4, rescoreK = 50,
        bruteForceCeiling = 0)
      .select("q_id", "rank", "id", "sim", "tier").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getString(4))).toSeq
    // manual composition: from-text BM25 top-20 ∥ the routed IVF-PQ
    // vector arm top-20, RRF-folded in plain Scala
    val kw = TextAnalysis.bm25Scores(docsAll, terms)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(20)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
      .zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    val vec = searchBatch(st(centroidsOn = true, cellsOn = true,
        codesOn = true, withCells = true), "all", Seq((0L, qs.head._2)),
        k = 20, nProbe = 4, rescoreK = 50, bruteForceCeiling = 0)
      .select("rank", "id").collect()
      .map(r => r.getLong(1) -> r.getInt(0)).toMap
    val want = (kw.keySet ++ vec.keySet).toSeq.map { id =>
      val s = kw.get(id).map(r => 0.5 / (60 + r)).getOrElse(0.0) +
        vec.get(id).map(r => 0.5 / (60 + r)).getOrElse(0.0)
      (id, s)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
      .zipWithIndex.map { case ((id, s), i) => (i + 1, id, s, "hybrid") }
    assert(got == want)
  }

  test("hybrid RRF weights are per-request (r15 task 4: reference config 2.0/1.0)") {
    import graft.operators.TextAnalysis
    val terms = Seq("join", "vector", "dup")
    val lexed = st(centroidsOn = true, cellsOn = true, codesOn = true,
      withCells = true).copy(postings = Some(postings), lexStats = lexStats)
    val got = searchBatchText(lexed, "all",
        Seq((0L, qs.head._2, terms)), k = 10, nProbe = 4, rescoreK = 50,
        bruteForceCeiling = 0, wLex = 2.0, wVec = 1.0)
      .select("rank", "id", "sim").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val kw = TextAnalysis.bm25Scores(docsAll, terms)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(20)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
      .zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    val vec = searchBatch(st(centroidsOn = true, cellsOn = true,
        codesOn = true, withCells = true), "all", Seq((0L, qs.head._2)),
        k = 20, nProbe = 4, rescoreK = 50, bruteForceCeiling = 0)
      .select("rank", "id").collect()
      .map(r => r.getLong(1) -> r.getInt(0)).toMap
    val want = (kw.keySet ++ vec.keySet).toSeq.map { id =>
      val s = kw.get(id).map(r => 2.0 / (60 + r)).getOrElse(0.0) +
        vec.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (id, s)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
      .zipWithIndex.map { case ((id, s), i) => (i + 1, id, s) }
    assert(got == want)
  }

  test("batched lexical arm: a multi-query hybrid batch equals the single-query serves (r15 task 1)") {
    val lexed = st(centroidsOn = true, cellsOn = true, codesOn = true,
      withCells = true).copy(postings = Some(postings), lexStats = lexStats)
    val termSets = Seq(Seq("join", "vector", "dup"),
      Seq("scan", "merge", "sort"), Seq("window", "group", "agg"))
    val batchQs = qs.zip(termSets).map { case ((qid, v), ts) => (qid, v, ts) }
    def rows(df: DataFrame): Set[(Long, Int, Long, Double)] =
      df.select("q_id", "rank", "id", "sim").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val batched = rows(searchBatchText(lexed, "all", batchQs, k = 10,
      bruteForceCeiling = 0))
    val singles = batchQs.map(q => rows(searchBatchText(lexed, "all",
      Seq(q), k = 10, bruteForceCeiling = 0))).reduce(_ ++ _)
    assert(batched == singles)
    assert(batched.size == 30)
    // the single-query convenience is the batch of one, q_id dropped
    val one = Serving.searchText(lexed, "all", batchQs.head._2,
        batchQs.head._3, k = 10, bruteForceCeiling = 0)
      .select("rank", "id", "sim").collect()
      .map(r => (batchQs.head._1, r.getInt(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(one == rows(searchBatchText(lexed, "all", Seq(batchQs.head),
      k = 10, bruteForceCeiling = 0)))
  }

  test("batched lexical arm launches a flat job count in Q (r15 task 1)") {
    // the per-query form launched one bm25 job chain + one idf collect
    // PER QUERY; the batched arm's job count must not grow with the
    // batch — count Spark jobs for a 1-query and an 8-query serve over
    // the same state (brute vector arm so the vector side is one
    // batched scan in both)
    val lexed = st().copy(postings = Some(postings), lexStats = lexStats)
    val termSets = Vector(Seq("join", "vector", "dup"),
      Seq("scan", "merge", "sort"), Seq("window", "group", "agg"),
      Seq("table", "row", "column"), Seq("stream", "batch", "filter"),
      Seq("key", "value", "query"), Seq("fast", "slow", "small"),
      Seq("spark", "data", "line"))
    def countJobs(nq: Int): Long = {
      val batch = (0 until nq).map(i => (i.toLong, qs.head._2, termSets(i)))
      // start cold: an earlier serve's persisted postings slice would
      // otherwise make one count run partially cached and skew the pair
      spark.catalog.clearCache()
      SparkSessionHelper.jobsOf(s"hybrid serve Q=$nq") {
        searchBatchText(lexed, "all", batch, k = 10,
          bruteForceCeiling = Long.MaxValue).count(): Unit
      }.size.toLong
    }
    val j1 = countJobs(1)
    val j8 = countJobs(8)
    assert(j8 <= j1 + 1, s"hybrid serve jobs grew with Q: $j1 @ Q=1 vs $j8 @ Q=8")
  }

  test("applyLexCdc maintains the doc-keyed lex store + counters O(churn) (r15 task 2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lexcdc-").toString
    val docs = docsAll.select(col("tenant"), col("doc_id"), col("text"))
    val v1 = docs.filter(col("doc_id") % 9 =!= 0)
    graft.operators.ByidStore.init(
      Serving.lexDocVectors(v1, "tenant", "doc_id", "text"), "id",
      s"$dir/lex")
    var counters = Serving.lexCountersOf(v1, "tenant", "text")
    val ups = v1.filter(col("doc_id") % 7 === 0)
      .withColumn("text", concat(lit("freshly updated revision: "), col("text")))
    val adds = ups.unionByName(docs.filter(col("doc_id") % 9 === 0))
    val delIds = v1.filter(col("doc_id") % 13 === 0 && col("doc_id") % 7 =!= 0)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSeq
    val upIds = ups.select(col("doc_id").cast("long"))
      .collect().map(_.getLong(0)).toSeq
    counters = Serving.applyLexCdc(spark, s"$dir/lex", delIds ++ upIds,
      adds, counters, "tenant", "doc_id", "text")
    // the fully-churned corpus, rebuilt from scratch
    val churned = docs
      .filter(!(col("doc_id") % 9 =!= 0 && col("doc_id") % 13 === 0 &&
        col("doc_id") % 7 =!= 0))
      .withColumn("text",
        when(col("doc_id") % 9 =!= 0 && col("doc_id") % 7 === 0,
          concat(lit("freshly updated revision: "), col("text")))
          .otherwise(col("text")))
    // counters match the from-scratch integers exactly (and hence
    // avgdl bit-exactly)
    assert(counters == Serving.lexCountersOf(churned, "tenant", "text"))
    assert(Serving.lexStatsFromCounters(counters) ==
      Serving.lexStatsOf(churned, "tenant", "text"))
    // the postings VIEW over the maintained store equals a from-
    // scratch buildPostings of the churned corpus, row for row
    def prows(df: DataFrame): Set[(String, String, Long, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val got = prows(Serving.postingsFromDocVectors(
      graft.operators.ByidStore.readAll(spark, s"$dir/lex", "id").drop("seg")))
    val want = prows(Serving.buildPostings(churned, "tenant", "doc_id", "text"))
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("measureRecallCurve: exhaustive probing measures 1.0 and searchBatch serves the calibrated config") {
    val full = st(centroidsOn = true, cellsOn = true, codesOn = true,
      withCells = true)
    // nProbe 16 probes every cell → IVF candidate set is exact
    val curve = Serving.measureRecallCurve(full, "all", qs, k = 10,
      grid = Seq((IvfTier, 16, 0)))
    assert(curve == Seq(RecallPoint("ivf", 16, 0, 1.0)))
    val cal = full.copy(recallCurve = curve)
    // caller asks floor 0.95 with nProbe 4 — the router must serve the
    // STORED config (ivf @ nProbe 16), not the caller's parameters
    val got = searchBatch(cal, "all", qs, k = 5, nProbe = 4,
      rescoreK = 50, recallFloor = 0.95, bruteForceCeiling = 0)
    assert(got.select("tier").distinct().head().getString(0) == "ivf")
    val want = Search.ivfSearchBatch(assigned, cents, "all", qs, 5, 16)
    assert(rows(got) == rows(want))
  }

  private def rows(df: DataFrame): Seq[(Long, Int, Long)] =
    df.select(col("q_id"), col("rank").cast("int"), col("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1, t._2))

  test("routed brute force equals knnBatch; schema is normalized") {
    val got = searchBatch(st(), "all", qs, k = 5, bruteForceCeiling = 0)
    assert(got.columns.toSeq == Seq("q_id", "rank", "id", "sim", "tier"))
    assert(got.select("tier").distinct().head().getString(0) == "brute_force")
    val want = Search.knnBatch(e, qs, 5, 0.0, "vec_id", "embedding")
      .select(col("q_id"), col("rank"), col("vec_id").as("id"))
    assert(rows(got) == rows(want.withColumn("rank", col("rank"))))
  }

  test("routed IVF equals ivfSearchBatch") {
    val got = searchBatch(st(centroidsOn = true, cellsOn = true), "all", qs,
      k = 5, nProbe = 4, bruteForceCeiling = 0)
    assert(got.select("tier").distinct().head().getString(0) == "ivf")
    val want = Search.ivfSearchBatch(assigned, cents, "all", qs, 5, 4)
    assert(rows(got) == rows(want))
  }

  test("routed PQ equals pqSearchBatch") {
    val got = searchBatch(st(codesOn = true), "all", qs, k = 5,
      rescoreK = 50, bruteForceCeiling = 0)
    assert(got.select("tier").distinct().head().getString(0) == "pq")
    val want = PQ.pqSearchBatch(enc, e, books, "all", qs, 5, 50,
        idCol = "vec_id", embCol = "embedding")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("id").asc)))
    assert(rows(got) == rows(want))
  }

  test("routed IVF-PQ equals ivfpqSearchBatch") {
    val got = searchBatch(st(centroidsOn = true, cellsOn = true,
      codesOn = true, withCells = true), "all", qs, k = 5, nProbe = 4,
      rescoreK = 50, bruteForceCeiling = 0)
    assert(got.select("tier").distinct().head().getString(0) == "ivf_pq")
    val want = PQ.ivfpqSearchBatch(encCells, e, books, cents, "all", qs, 5, 50, 4,
        idCol = "vec_id", embCol = "embedding")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("id").asc)))
    assert(rows(got) == rows(want))
  }

  test("residual codes route to the IVFADC scorer, never the flat PQ scan") {
    val cents = Search.ivfTrainSampled(e, "tenant", "vec_id", "embedding", 16,
      sampleCap = 256)
    val rBooks = PQ.pqTrainResidualSampled(e, "tenant", "vec_id", "embedding",
      cents, 4, 8, 256)
    val encR = PQ.pqEncodeResidual(e, "tenant", "vec_id", "embedding", cents, rBooks)
    // residual codes WITHOUT centroids cannot be scored — route must
    // not pick the flat PQ tier
    val noCents = IndexState(vectors = e, corpusSize = n,
      codebooks = Some(rBooks), encoded = Some(encR), residualCodes = true,
      idCol = "vec_id", embCol = "embedding")
    assert(route(noCents, bruteForceCeiling = 0) == BruteForceTier)
    // full residual state → IVF-PQ tier, served by ivfadcSearchBatch
    val full = IndexState(vectors = e, corpusSize = n,
      centroids = Some(cents), cells = Some(assigned),
      codebooks = Some(rBooks), encoded = Some(encR),
      encodedHasCells = true, residualCodes = true,
      idCol = "vec_id", embCol = "embedding")
    val got = searchBatch(full, "all", qs, k = 5, nProbe = 4, rescoreK = 50,
      bruteForceCeiling = 0)
    assert(got.select("tier").distinct().head().getString(0) == "ivf_pq")
    val want = PQ.ivfadcSearchBatch(encR, e, rBooks, cents, "all", qs, 5, 50, 4,
        idCol = "vec_id", embCol = "embedding")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("id").asc)))
    assert(rows(got) == rows(want))
  }

  test("hamming tier: exact self-hit at rank 1, k rows per query, exact rescored sims") {
    val got = searchBatch(st(wordsOn = true), "all", qs, k = 5,
      rescoreK = 50, bruteForceCeiling = 0)
    assert(got.select("tier").distinct().head().getString(0) == "hamming")
    val byQ = got.collect().groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    // each query vector is in the corpus: Hamming 0 to itself → the
    // coarse pass must surface it and the exact rescore ranks it first
    qs.foreach { case (qid, _) =>
      val top = byQ(qid).minBy(_.getInt(1))
      assert(top.getLong(2) == qid, s"query $qid self-hit missing")
      assert(byQ(qid).length == 5)
    }
    // sims are EXACT dots (rescored), not sketch approximations
    val sim00 = byQ(0L).minBy(_.getInt(1)).getDouble(3)
    val want = qs.head._2.map(x => x * x).sum
    assert(math.abs(sim00 - want) < 1e-9)
  }

  test("single-query search equals a batch of one") {
    val state = st(centroidsOn = true, cellsOn = true, codesOn = true,
      withCells = true)
    val got = Serving.search(state, "all", qs.head._2, k = 5,
        nProbe = 4, bruteForceCeiling = 0)
      .select("rank", "id").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val want = searchBatch(state, "all", Seq((0L, qs.head._2)), k = 5,
        nProbe = 4, bruteForceCeiling = 0)
      .select("rank", "id").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == want && got.size == 5)
  }

  test("signPackLocal matches signPackAll on corpus rows") {
    val packed = words.filter(col("id") < 5).orderBy("id").collect()
      .map(r => r.getLong(1) -> r.getSeq[Long](2).toSeq).toMap
    (0L until 5L).foreach { i =>
      val v = e.filter(col("vec_id") === i).head().getSeq[Double](1).toSeq
      assert(Serving.signPackLocal(v) == packed(i), s"row $i")
    }
  }
}
