package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.{ProductQuantization => PQ}

/** One stats-driven batch-serving entry point (round-13 verdict
  * task 3): the PHYSICAL twin of the reference's V10 logical strategy
  * router (`enhanced_search_service.py:12-41` picks semantic vs hybrid
  * vs traditional from query shape; this picks the ANN TIER from
  * stored index state).
  *
  * The engine grew five parallel batch entry points — brute
  * (`Search.knnBatch`), IVF (`Search.ivfSearchBatch`), PQ-ADC
  * (`PQ.pqSearchBatch`), IVF-PQ (`PQ.ivfpqSearchBatch`) and the
  * binary-Hamming coarse tier — each with its own signature, leaving
  * tier choice to the caller the way BENCHVEC reasons by hand.
  * [[searchBatch]] folds them behind one call: [[route]] inspects
  * [[IndexState]] (which index assets exist, corpus size vs the
  * brute-force ceiling, the caller's recall floor) and every tier
  * returns the same normalized (q_id, rank, id, sim, tier) frame, so
  * swapping tiers is a stats change, not a code change.
  *
  * Routing order mirrors the cost ladder the BENCHVEC measurements
  * established at 500k × 768-d:
  *  1. exactness wins when it is cheap or demanded — corpus at or
  *     under `bruteForceCeiling` rows, or `recallFloor` ≥ 0.999
  *     (exact contract), routes brute force: one scan, zero index
  *     dependencies, recall 1.0;
  *  2. cells + codes compound → IVF-PQ (probe-pruned scan at
  *     m/(8·dim) of the bytes — the lowest measured bytes of any
  *     full-path leg);
  *  3. cells alone → IVF (probe-pruned full-width scan);
  *  4. codes alone → PQ-ADC (full-corpus compressed scan);
  *  5. sign-sketch alone → binary Hamming (8-byte coarse scan +
  *     exact rescore);
  *  6. nothing → brute force.
  * Every lossy tier ends in the exact rescore of its candidates, so
  * the router trades recall/bytes, never result EXACTNESS on the
  * returned rows' scores.
  */
object Serving {

  sealed trait Tier { def name: String }
  case object BruteForceTier extends Tier { val name = "brute_force" }
  case object IvfTier extends Tier { val name = "ivf" }
  case object PqTier extends Tier { val name = "pq" }
  case object IvfPqTier extends Tier { val name = "ivf_pq" }
  case object HammingTier extends Tier { val name = "hamming" }
  case object HybridTier extends Tier { val name = "hybrid" }

  private val tiersByName: Map[String, Tier] =
    Seq(BruteForceTier, IvfTier, PqTier, IvfPqTier, HammingTier)
      .map(t => t.name -> t).toMap

  /** One measured point of an index asset's recall curve —
    * recall@k of (tier, nProbe, rescoreK) against brute-force ground
    * truth on a probe batch, measured at state-build time
    * ([[measureRecallCurve]]) and persisted in the ServingState
    * manifest. The router consults these so an intermediate
    * `recallFloor` is a CONTRACT, not a comment (r14 verdict task 3). */
  final case class RecallPoint(tier: String, nProbe: Int, rescoreK: Int,
                               recall: Double)

  /** A full routing decision: the tier plus the tier parameters that
    * meet the caller's recall floor (or the caller's own parameters
    * when no floor binds). */
  final case class Decision(tier: Tier, nProbe: Int, rescoreK: Int)

  /** Everything the router consults: the uncompressed corpus plus
    * whatever derived index assets the serving deployment maintains
    * (all optional — the CDC-maintained set: cells via x17, codes via
    * x19, byid layout via x20). `corpusSize` comes from store stats
    * (a manifest row count at scale), not a scan. Column contract:
    * `cells` is `Search.ivfAssign` output (tenant, id, embedding,
    * cell); `encoded` is `PQ.pqEncode` output (tenant, id, codes),
    * joined with the cell column when `encodedHasCells`; `signWords`
    * carries (tenant, id, words) from [[signPack]]. */
  final case class IndexState(
      vectors: DataFrame,
      corpusSize: Long,
      centroids: Option[Map[String, Array[Array[Double]]]] = None,
      cells: Option[DataFrame] = None,
      codebooks: Option[Map[String, PQ.Codebooks]] = None,
      encoded: Option[DataFrame] = None,
      encodedHasCells: Boolean = false,
      residualCodes: Boolean = false,
      signWords: Option[DataFrame] = None,
      byidPath: Option[String] = None,
      byidRange: Option[(Int, Int)] = None,
      recallCurve: Seq[RecallPoint] = Nil,
      recallMeasuredAt: Long = -1L,
      postings: Option[DataFrame] = None,
      lexStats: Map[String, (Long, Double)] = Map.empty,
      tenantCol: String = "tenant",
      idCol: String = "id",
      embCol: String = "embedding")

  /** Which lossy tiers the state's assets can serve. An encoded table
    * carrying its own cell column serves IVF-PQ with NO separate
    * cells frame — both probe-pruned scorers read only encodedCells
    * (ADVICE r14: a residual state without a cells frame must not
    * fall off a silent brute-force cost cliff). */
  private def available(state: IndexState): Set[Tier] = {
    val ivfpq = state.centroids.isDefined && state.codebooks.isDefined &&
      state.encoded.isDefined && state.encodedHasCells
    val ivf = state.centroids.isDefined && state.cells.isDefined
    // residual codes are meaningless without the centroids their
    // decomposition references — never route them to the flat PQ scan
    val pq = state.codebooks.isDefined && state.encoded.isDefined &&
      !state.residualCodes
    Set[Option[Tier]](
      if (ivfpq) Some(IvfPqTier) else None,
      if (ivf) Some(IvfTier) else None,
      if (pq) Some(PqTier) else None,
      if (state.signWords.isDefined) Some(HammingTier) else None).flatten
  }

  /** The routing decision alone — pure function of the state and the
    * caller's requirements, so specs pin the full decision matrix.
    * Three regimes:
    *  - floor ≥ 0.999 or corpus under the ceiling → brute force
    *    (exactness demanded or cheap);
    *  - floor ≤ 0 → the measured cost ladder (ivf_pq > ivf > pq >
    *    hamming > brute) at the CALLER's tier parameters — recall is
    *    explicitly not a requirement;
    *  - 0 < floor < 0.999 → CALIBRATED: pick the cheapest stored
    *    [[RecallPoint]] whose tier the state can serve and whose
    *    measured recall meets the floor (ladder order, then smallest
    *    nProbe, then smallest rescoreK — cheapest config first);
    *    when NO stored point reaches the floor — including a state
    *    with no stored curve at all, or a curve measured against a
    *    corpus the state has since drifted >1.5× away from
    *    (`recallMeasuredAt`, persisted as the manifest's `recall_at`)
    *    — fall back to brute force: an unverifiable floor is served
    *    exactly, never silently unmet (r14 verdict task 3 closed the
    *    two-level-semantics gap; the staleness guard is round 16). */
  def routeCalibrated(state: IndexState, recallFloor: Double = 0.0,
                      bruteForceCeiling: Long = 10000L,
                      nProbe: Int = 4, rescoreK: Int = 50,
                      hasText: Boolean = false): Decision = {
    val avail = available(state)
    val ladder: Seq[Tier] = Seq(IvfPqTier, IvfTier, PqTier, HammingTier)
    // a query carrying TEXT routes hybrid when the lexical assets
    // exist (the reference's V10 logical rule: keyword-bearing
    // queries take the fused path, enhanced_search_service.py) —
    // but ONLY under floor ≤ 0: a positive recallFloor is a CONTRACT
    // on vector recall, and the fused RRF output has no stored recall
    // point (lexical hits displace vector hits, so even a brute
    // vector arm cannot certify the fold) — an unverifiable floor is
    // never served silently (ADVICE r15), so floored text queries
    // drop the lexical channel and serve the calibrated vector path
    // below (brute when the floor is exact or unmet by the curve)
    if (hasText && recallFloor <= 0.0 && state.postings.isDefined &&
        state.lexStats.nonEmpty)
      Decision(HybridTier, nProbe, rescoreK)
    else if (recallFloor >= 0.999 || state.corpusSize <= bruteForceCeiling)
      Decision(BruteForceTier, nProbe, rescoreK)
    else if (recallFloor <= 0.0)
      Decision(ladder.find(avail).getOrElse(BruteForceTier), nProbe, rescoreK)
    else {
      // staleness guard: a stored point certifies the floor only for
      // (approximately) the corpus it was measured on. A maintain
      // loop that threads an old manifest's curve into a state whose
      // corpus has since drifted >1.5× in either direction is serving
      // an unverifiable number — fall back to brute, the same rule as
      // no-curve (recallMeasuredAt ≤ 0 = measured against THIS state
      // by construction, the measureRecallCurve caller contract)
      val curveFresh = state.recallMeasuredAt <= 0L ||
        2L * math.max(state.corpusSize, state.recallMeasuredAt) <=
          3L * math.min(state.corpusSize, state.recallMeasuredAt)
      val meeting = if (!curveFresh) Nil
      else state.recallCurve.filter(p =>
        p.recall >= recallFloor &&
          tiersByName.get(p.tier).exists(avail))
      if (meeting.isEmpty) Decision(BruteForceTier, nProbe, rescoreK)
      else {
        val best = meeting.minBy(p =>
          (ladder.indexOf(tiersByName(p.tier)), p.nProbe, p.rescoreK))
        Decision(tiersByName(best.tier), best.nProbe, best.rescoreK)
      }
    }
  }

  /** Tier choice only — the r13 router surface, preserved for the
    * decision-matrix spec and the `ann_auto_topk` gate (floor-0
    * routing is unchanged by calibration). */
  def route(state: IndexState, recallFloor: Double = 0.0,
            bruteForceCeiling: Long = 10000L): Tier =
    routeCalibrated(state, recallFloor, bruteForceCeiling).tier

  /** Route + serve: one call, one normalized output schema
    * (q_id, rank, id, sim, tier) across every tier. With an
    * intermediate `recallFloor` (0 < floor < 0.999) the CALIBRATED
    * decision's tier parameters override the caller's `nProbe` /
    * `rescoreK` — the stored curve measured THOSE parameters, so they
    * are the ones the floor certifies. */
  def searchBatch(state: IndexState, tenant: String,
                  queries: Seq[(Long, Seq[Double])], k: Int,
                  nProbe: Int = 4, rescoreK: Int = 50,
                  threshold: Double = 0.0, recallFloor: Double = 0.0,
                  bruteForceCeiling: Long = 10000L): DataFrame = {
    val d = routeCalibrated(state, recallFloor, bruteForceCeiling,
      nProbe, rescoreK)
    serveTier(state, d.tier, tenant, queries, k, d.nProbe, d.rescoreK,
      threshold).withColumn("tier", lit(d.tier.name))
  }

  /** Serve a batch through ONE explicit tier — the execution half of
    * [[searchBatch]]; also the probe harness [[measureRecallCurve]]
    * drives per grid point. */
  private[operators] def serveTier(state: IndexState, tier: Tier,
                  tenant: String, queries: Seq[(Long, Seq[Double])], k: Int,
                  nProbe: Int, rescoreK: Int,
                  threshold: Double): DataFrame = {
    // with a CDC-maintained byid store (x20) present, candidate
    // rescore point-reads go THROUGH it (base + delta segments +
    // tombstones, pinned to the state's snapshot range when one is
    // set) — a stale `vectors` frame can never serve old bytes, and a
    // pinned state can never serve bytes newer than its assets
    val fetch: Option[Seq[Long] => DataFrame] = state.byidPath.map { p =>
      (ids: Seq[Long]) =>
        ByidStore.fetch(state.vectors.sparkSession, p, ids, state.idCol,
          state.byidRange)
    }
    val raw = tier match {
      case BruteForceTier =>
        Search.knnBatch(
            state.vectors.filter(col(state.tenantCol) === tenant),
            queries, k, threshold, state.idCol, state.embCol)
          .select(col("q_id"), col("rank"), col("vec_id").as("id"), col("sim"))
      case IvfTier =>
        Search.ivfSearchBatch(state.cells.get, state.centroids.get, tenant,
            queries, k, nProbe, threshold)
          .select("q_id", "rank", "id", "sim")
      case PqTier =>
        ranked(PQ.pqSearchBatch(state.encoded.get, state.vectors,
          state.codebooks.get, tenant, queries, k, rescoreK, threshold,
          state.tenantCol, state.idCol, state.embCol, fetch))
      case IvfPqTier =>
        // a residual codes table (pqEncodeResidual) MUST be scored by
        // the decomposed IVFADC path — running the raw ADC scorer over
        // residual codes silently drops the dot(q, centroid) term, a
        // wrong-RANKING trap the state flag closes
        if (state.residualCodes)
          ranked(PQ.ivfadcSearchBatch(state.encoded.get, state.vectors,
            state.codebooks.get, state.centroids.get, tenant, queries, k,
            rescoreK, nProbe, threshold, state.tenantCol, state.idCol,
            state.embCol, fetch))
        else
          ranked(PQ.ivfpqSearchBatch(state.encoded.get, state.vectors,
            state.codebooks.get, state.centroids.get, tenant, queries, k,
            rescoreK, nProbe, threshold, state.tenantCol, state.idCol,
            state.embCol, fetch))
      case HammingTier =>
        ranked(hammingSearchBatch(state.signWords.get, state.vectors, tenant,
          queries, k, rescoreK, threshold, state.tenantCol, state.idCol,
          state.embCol, fetch))
      case HybridTier =>
        throw new IllegalArgumentException(
          "hybrid tier needs query text — serve through searchBatchText")
    }
    raw
  }

  // ---- hybrid lexical+dense tier (r14 verdict task 4) -------------- //

  /** Build the inverted-index serving asset: one row per (tenant,
    * term, doc) posting — (tenant, term, id, tf, dl), with the doc
    * length denormalized onto each posting so BM25 scoring is a
    * single scan of the term-filtered postings (no doc-length join).
    * Tokenization is `TextAnalysis.tokens` (whitespace split, empties
    * dropped) — the SAME function the batch BM25 oracle family uses,
    * so the persisted index scores identically to the from-text path.
    * Scale posture: the classic sharded-postings layout — at 100 TB
    * this relation is term-range bucketed so a query's ≤ |terms|
    * partition-pruned scans replace any full pass; df is computed per
    * query from the pruned slice, never stored stale. This builder is
    * the O(corpus) BOOTSTRAP form; an upsert-churned deployment keeps
    * per-doc term vectors in a doc-keyed ByidStore instead
    * ([[lexDocVectors]] + [[applyLexCdc]], r15 verdict task 2) and
    * serves postings as [[postingsFromDocVectors]] of the resolved
    * view — O(churn) per refresh, gated `x23_cdc_lex_maintain`. */
  def buildPostings(docs: DataFrame, tenantCol: String, idCol: String,
                    textCol: String): DataFrame =
    docs.select(col(tenantCol).cast("string").as("tenant"),
        col(idCol).cast("long").as("id"),
        TextAnalysis.tokens(col(textCol)).as("_toks"))
      .withColumn("dl", size(col("_toks")).cast("long"))
      .select(col("tenant"), col("id"), col("dl"),
        explode(col("_toks")).as("term"))
      .groupBy("tenant", "term", "id", "dl")
      .agg(count(lit(1)).as("tf"))
      .select("tenant", "term", "id", "tf", "dl")

  /** The catalog counters BM25 needs per tenant: (nDocs, avgdl) —
    * measured once at asset-build time, persisted in the ServingState
    * manifest, injected as literals at serve time (zero stats jobs
    * per query). avgdl = Σdl / n in the exact IEEE order the batch
    * BM25 path uses. */
  def lexStatsOf(docs: DataFrame, tenantCol: String,
                 textCol: String): Map[String, (Long, Double)] =
    docs.groupBy(col(tenantCol).cast("string").as("tenant"))
      .agg(count(lit(1)).as("n"),
        sum(size(TextAnalysis.tokens(col(textCol))).cast("long")).as("sdl"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2).toDouble / r.getLong(1).toDouble))
      .toMap

  // ---- O(churn) CDC maintenance of the lexical assets (r15 task 2) -- //

  /** Per-doc lexical vectors — the CDC-MAINTAINABLE form of the
    * inverted index: one row per doc carrying its term vector
    * (term-sorted (term, tf) structs) and token length. Postings are
    * a pure EXPLODE of this relation ([[postingsFromDocVectors]]), so
    * keeping these rows in a doc-keyed [[ByidStore]] gives the
    * lexical tier the same O(churn) maintenance every other serving
    * asset already has (cells x17, codes x19, byid x20): an upsert
    * rewrites ONE doc row, a delete tombstones it, and the postings
    * view is always `explode(resolved view)` — no delta-postings
    * segments, no doc-granular posting tombstones, the same
    * invariants as every other store. Zero-token docs keep an empty
    * `terms` array (they carry no postings but still count in the
    * per-tenant nDocs the way [[lexStatsOf]] counts them). */
  def lexDocVectors(docs: DataFrame, tenantCol: String, idCol: String,
                    textCol: String): DataFrame =
    docs.select(col(tenantCol).cast("string").as("tenant"),
        col(idCol).cast("long").as("id"),
        TextAnalysis.tokens(col(textCol)).as("_toks"))
      .withColumn("dl", size(col("_toks")).cast("long"))
      .select(col("tenant"), col("id"), col("dl"),
        explode_outer(col("_toks")).as("term"))
      .groupBy("tenant", "id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .groupBy("tenant", "id", "dl")
      .agg(array_sort(collect_list(when(col("term").isNotNull,
        struct(col("term"), col("tf"))))).as("terms"))

  /** The postings relation ([[buildPostings]]'s exact schema —
    * (tenant, term, id, tf, dl)) as a view over the doc-keyed lexical
    * store's resolved rows: one explode, no aggregation — the
    * downstream BM25 scan groups by term anyway, so materializing a
    * term-keyed copy buys nothing the scan doesn't already do. */
  def postingsFromDocVectors(lexDocs: DataFrame): DataFrame =
    lexDocs.select(col("tenant"), col("id"), col("dl"),
        explode(col("terms")).as("t"))
      .select(col("tenant"), col("t.term").as("term"), col("id"),
        col("t.tf").as("tf"), col("dl"))

  /** Bootstrap counters for [[applyLexCdc]]: per-tenant
    * (nDocs, Σdl) — the INTEGER pair, maintained exactly under churn
    * (longs add losslessly; avgdl is derived at serve time with the
    * same one division [[lexStatsOf]] performs, so maintained stats
    * are bit-identical to rebuilt ones). One O(corpus) aggregate,
    * paid at init like every store bootstrap. */
  def lexCountersOf(docs: DataFrame, tenantCol: String,
                    textCol: String): Map[String, (Long, Long)] =
    docs.groupBy(col(tenantCol).cast("string").as("tenant"))
      .agg(count(lit(1)).as("n"),
        sum(size(TextAnalysis.tokens(col(textCol))).cast("long")).as("sdl"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  /** Derive the [[IndexState]]-shaped lexStats map from maintained
    * counters — Σdl/n in the exact IEEE order [[lexStatsOf]] divides. */
  def lexStatsFromCounters(counters: Map[String, (Long, Long)])
      : Map[String, (Long, Double)] =
    counters.map { case (t, (n, sdl)) => t -> (n, sdl.toDouble / n.toDouble) }

  /** ONE CDC batch applied to the doc-keyed lexical store + the
    * incremental per-tenant (nDocs, Σdl) counters (r15 verdict
    * task 2 — postings/lexstats were the only serving assets still
    * rebuilt O(corpus) per snapshot). O(churn) end to end:
    *
    *  - the PREIMAGE lengths of removed docs come from one bounded
    *    point-fetch through the store (page-pruned to the removal
    *    ids) BEFORE the apply — a doc that is not live subtracts
    *    nothing, so delete-of-absent and insert-vs-update resolve
    *    themselves: counters' delta is additions(+1, +dl) −
    *    live-preimages(+1, +dl), which nets to (0, dl_new − dl_old)
    *    for an update, (+1, +dl) for an insert, (−1, −dl) for a live
    *    delete;
    *  - the additions' term vectors are built once ([[lexDocVectors]]
    *    over the batch, persisted so the counter aggregate and the
    *    store write share one evaluation) and applied through
    *    [[ByidStore.applyCdcAutoCompact]] — threshold-bounded segment
    *    count, crash-atomic commit markers, like every other store.
    *
    * Upsert ids MUST appear in `removals` too (the store's CDC
    * preimage contract, same as x20). Returns the updated counters;
    * the caller threads them epoch to epoch (a ServingState manifest
    * persists them as `lexstats` lines at snapshot time). */
  def applyLexCdc(spark: SparkSession, path: String, removals: Seq[Long],
                  additions: DataFrame, counters: Map[String, (Long, Long)],
                  tenantCol: String = "tenant", idCol: String = "id",
                  textCol: String = "text",
                  maxSegments: Int = 8): Map[String, (Long, Long)] = {
    import spark.implicits._
    val pre =
      if (removals.isEmpty) Array.empty[(String, Long)]
      else ByidStore.fetch(spark, path, removals, "id")
        .select(col("tenant"), col("dl"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
    val adds = lexDocVectors(additions, tenantCol, idCol, textCol).persist()
    val addStats = adds.groupBy("tenant")
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    ByidStore.applyCdcAutoCompact(spark, path,
      removals.toDF("id"), adds, "id", maxSegments = maxSegments)
    adds.unpersist()
    val deltas = scala.collection.mutable.Map.empty[String, (Long, Long)]
      .withDefaultValue((0L, 0L))
    addStats.foreach { case (t, n, sdl) =>
      val (dn, ds) = deltas(t); deltas(t) = (dn + n, ds + sdl) }
    pre.foreach { case (t, dl) =>
      val (dn, ds) = deltas(t); deltas(t) = (dn - 1, ds - dl) }
    (counters.keySet ++ deltas.keySet).map { t =>
      val (n0, s0) = counters.getOrElse(t, (0L, 0L))
      val (dn, ds) = deltas(t)
      t -> (n0 + dn, s0 + ds)
    }.toMap
  }

  /** The WHOLE batch's BM25 arm in ONE term-pruned postings pass (r15
    * verdict task 1 — the per-query `bm25Arm` loop launched Q
    * sequential job chains, each with its own driver collect for idf;
    * this serves every query from the same scan, the batched spine
    * `PQ.pqSearchBatch` set):
    *
    *  1. a LITERAL (q_id, term) frame spans the batch (bounded:
    *     Q × terms-per-query rows, broadcast);
    *  2. the postings scan is pruned ONCE on the union of every
    *     query's terms — at 100 TB with term-bucketed postings this
    *     is ≤ |terms| partition-pruned slices, never a full pass;
    *  3. per-term document frequencies are a grouped aggregate of the
    *     SAME pruned slice (≤ |terms| groups, broadcast back) — zero
    *     driver round-trips;
    *  4. scoring joins postings × query-terms, so one job emits every
    *     (q_id, id, term) contribution — identical IEEE op sequence
    *     to `TextAnalysis.bm25TermScores` (ln-idf computed by the
    *     codegen `log`, which is the same `Math.log` the driver form
    *     embedded as literals), folded per (q_id, doc) in term-sorted
    *     order;
    *  5. per-query top-`limit` through the primitive grouped top-k
    *     (bm25 DESC, id ASC — the exact `row_number` order the
    *     per-query form ranked by).
    *
    * Job count is FLAT in Q; the ann_hybrid oracle replays the same
    * arithmetic per query, so batching is hash-invisible. */
  private def bm25ArmBatch(postings: DataFrame, tenant: String,
                           queries: Seq[(Long, Seq[String])], nDocs: Long,
                           avgdl: Double, limit: Int): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val qterms = queries.flatMap { case (qid, ts) => ts.distinct.map((qid, _)) }
    if (qterms.isEmpty)
      return Seq.empty[(Long, Long, Int)].toDF("q_id", "id", "kw_rank")
    val allTerms = qterms.map(_._2).distinct
    // pruned once for BOTH consumers (df agg + scoring join) — the
    // slice is term-bounded, so the persist holds candidate postings,
    // never the corpus (released by the caller's clearCache contract).
    // Balanced or-of-eq, NOT isin: above 10 terms isin pushes
    // parquet's native In, which page-prunes nothing (the measured
    // Layout.idsPredicate rationale) — over a term-sorted postings
    // asset the or-of-eq fetch reads only the batch's terms' pages,
    // which is the entire point of an inverted index at 100 TB
    val hits = postings.filter(col("tenant") === tenant &&
      Layout.stringsPredicate(col("term"), allTerms)).persist()
    val dfs = hits.groupBy("term").agg(countDistinct(col("id")).as("df"))
    val qt = qterms.toDF("q_id", "term")
    // idf replays the driver literal bit-for-bit: (nDocs − df) in LONG
    // arithmetic, then the +0.5 promotions, one division, log1p-free
    // ln — the exact expression `bm25Arm` computed in Java
    val scored = hits
      .join(broadcast(dfs), Seq("term"))
      .join(broadcast(qt), Seq("term"))
      .withColumn("sc",
        log((lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(1.0) - lit(0.75) + lit(0.75) * col("dl").cast("double") / lit(avgdl))))
      .groupBy("q_id", "id")
      .agg(aggregate(array_sort(collect_list(struct(col("term"), col("sc")))),
        lit(0.0), (acc, x) => acc + x.getField("sc")).as("bm25"))
    graft.functions.TopK.primitiveTopK(
        scored.select(col("q_id").cast("long"), col("bm25"), col("id").cast("long"))
          .as[(Long, Double, Long)], limit)
      .select(col("g").as("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("id"),
        (col("pos") + 1).cast("int").as("kw_rank"))
  }

  /** Routed batch serving for TEXT-BEARING queries — each member is
    * (q_id, query vector, query terms). When the state holds the
    * lexical assets (postings + stats) the router picks the HYBRID
    * tier: BM25 top-2k ∥ the state's best vector tier top-2k, fused
    * by reciprocal-rank fusion (k₀ = 60). RRF weights are a
    * PER-REQUEST parameter the way the reference treats them
    * (`enhanced_search_service.py:31` defaults 0.4/0.6 at the service
    * layer, `config.py:43` ships 2.0/1.0 — r15 verdict task 4);
    * 0.5/0.5 stays the serving default. Both arms serve the WHOLE
    * batch from one scan each (the lexical arm is [[bm25ArmBatch]] —
    * jobs flat in Q), and both are top-2k-bounded before the fusion
    * join, so the fold touches ≤ 4k·Q rows regardless of corpus size.
    * Without lexical assets, with empty term lists, or under ANY
    * positive recall floor (the fused output has no recall
    * certificate — see [[routeCalibrated]]) the text is ignored and
    * the batch serves through the vector decision — same output
    * contract: (q_id, rank, id, sim, tier), where the hybrid tier's
    * `sim` IS the weighted RRF score. */
  def searchBatchText(state: IndexState, tenant: String,
                      queries: Seq[(Long, Seq[Double], Seq[String])], k: Int,
                      nProbe: Int = 4, rescoreK: Int = 50,
                      threshold: Double = 0.0, recallFloor: Double = 0.0,
                      bruteForceCeiling: Long = 10000L,
                      wLex: Double = 0.5, wVec: Double = 0.5): DataFrame = {
    val d = routeCalibrated(state, recallFloor, bruteForceCeiling,
      nProbe, rescoreK, hasText = queries.exists(_._3.nonEmpty))
    val vecQs = queries.map(q => (q._1, q._2))
    if (d.tier != HybridTier)
      return serveTier(state, d.tier, tenant, vecQs, k, d.nProbe,
        d.rescoreK, threshold).withColumn("tier", lit(d.tier.name))
    val vecD = routeCalibrated(state, recallFloor, bruteForceCeiling,
      nProbe, rescoreK, hasText = false)
    val b = 2 * k
    val vecArm = serveTier(state, vecD.tier, tenant, vecQs, b, vecD.nProbe,
        vecD.rescoreK, threshold)
      .select(col("q_id"), col("id"), col("rank").as("vec_rank"))
    val (nDocs, avgdl) = state.lexStats.getOrElse(tenant,
      throw new IllegalStateException(s"no lexical stats for tenant $tenant"))
    val kwArm = bm25ArmBatch(state.postings.get, tenant,
      queries.map(q => (q._1, q._3)), nDocs, avgdl, b)
    kwArm.join(vecArm, Seq("q_id", "id"), "full_outer")
      .withColumn("sim",
        coalesce(lit(wLex) / (lit(60) + col("kw_rank")), lit(0.0)) +
          coalesce(lit(wVec) / (lit(60) + col("vec_rank")), lit(0.0)))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("id").asc)).cast("int"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "id", "sim")
      .withColumn("tier", lit(HybridTier.name))
      .orderBy("q_id", "rank")
  }

  /** Measure an index state's recall curve at build time: brute force
    * over the SAME state is ground truth; each (tier, nProbe,
    * rescoreK) grid point serves the probe batch and is scored by
    * recall@k — |approx ∩ exact| / k averaged over probes. The
    * resulting points go into the ServingState manifest so
    * [[routeCalibrated]] can honor intermediate recall floors from
    * STORED numbers (the BENCHVEC measurement, folded into the asset
    * catalog). Cost ∝ probes × grid — a build-time constant, never a
    * serve-time one. */
  def measureRecallCurve(state: IndexState, tenant: String,
                         probes: Seq[(Long, Seq[Double])], k: Int,
                         grid: Seq[(Tier, Int, Int)]): Seq[RecallPoint] = {
    val avail = available(state)
    def topIds(df: DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet }
    val exact = topIds(serveTier(state, BruteForceTier, tenant, probes, k,
      0, 0, threshold = -1e18))
    grid.filter(g => avail(g._1)).map { case (tier, np, rk) =>
      val got = topIds(serveTier(state, tier, tenant, probes, k, np, rk,
        threshold = -1e18))
      val rec = probes.map { case (qid, _) =>
        val e = exact.getOrElse(qid, Set.empty)
        if (e.isEmpty) 1.0
        else got.getOrElse(qid, Set.empty).count(e).toDouble / e.size
      }.sum / math.max(1, probes.size)
      RecallPoint(tier.name, np, rk, rec)
    }
  }

  /** Single-query routed search — [[searchBatch]] with a batch of one,
    * q_id dropped: (rank, id, sim, tier). */
  def search(state: IndexState, tenant: String, queryVec: Seq[Double],
             k: Int, nProbe: Int = 4, rescoreK: Int = 50,
             threshold: Double = 0.0, recallFloor: Double = 0.0,
             bruteForceCeiling: Long = 10000L): DataFrame =
    searchBatch(state, tenant, Seq((0L, queryVec)), k, nProbe, rescoreK,
      threshold, recallFloor, bruteForceCeiling).drop("q_id")

  /** Single-query routed TEXT search — [[searchBatchText]] with a
    * batch of one, q_id dropped: (rank, id, sim, tier). Empty `terms`
    * serves the vector decision, exactly like the batch form. */
  def searchText(state: IndexState, tenant: String, queryVec: Seq[Double],
                 terms: Seq[String], k: Int, nProbe: Int = 4,
                 rescoreK: Int = 50, threshold: Double = 0.0,
                 recallFloor: Double = 0.0,
                 bruteForceCeiling: Long = 10000L,
                 wLex: Double = 0.5, wVec: Double = 0.5): DataFrame =
    searchBatchText(state, tenant, Seq((0L, queryVec, terms)), k, nProbe,
      rescoreK, threshold, recallFloor, bruteForceCeiling, wLex, wVec)
      .drop("q_id")

  /** Normalize a (q_id, id, …, sim) candidate frame to the router's
    * output contract — rank over the ≤ k·Q result rows, never the
    * corpus. */
  private def ranked(df: DataFrame): DataFrame =
    df.withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("id").asc)).cast("int"))
      .select("q_id", "rank", "id", "sim")
      .orderBy("q_id", "rank")

  /** Sign-bit sketch packing: 64 dims per long, bit i of word w set
    * when component (64·w + i) > 0 — the SRP/binary-quantization tier
    * (`ann_binary_hamming`) as a reusable serving asset. Map-only
    * (zero shuffle); at 100 TB the words table is dim/64 longs per
    * row — the cheapest scan of the quantization ladder. */
  /** Build the (tenant, id, words) sign-sketch asset — ONE tight-loop
    * UDF pass over the corpus (NOT SQL higher-order functions, whose
    * per-element interpreted lambdas cost minutes at 500k × 768:
    * the BenchVec bin-pack measurement), `toArray` once per row so
    * indexing is O(1). Map-only, zero shuffle. */
  def signPackAll(vectors: DataFrame, tenantCol: String, idCol: String,
                  embCol: String, dim: Int): DataFrame = {
    require(dim % 64 == 0, s"signPackAll needs dim % 64 == 0, got $dim")
    val nw = dim / 64
    val packUdf = udf { (e: Seq[Double]) =>
      val a = e.toArray
      val out = new Array[Long](nw)
      var w = 0
      while (w < nw) {
        var acc = 0L; var i = 0
        while (i < 64) { if (a(w * 64 + i) > 0.0) acc |= (1L << i); i += 1 }
        out(w) = acc; w += 1
      }
      out.toSeq
    }
    vectors.select(col(tenantCol).cast("string").as("tenant"),
      col(idCol).cast("long").as("id"),
      packUdf(col(embCol).cast("array<double>")).as("words"))
  }

  /** Driver-side twin of [[signPack]] for query vectors. */
  def signPackLocal(v: Seq[Double]): Seq[Long] = {
    require(v.length % 64 == 0, s"signPackLocal needs dim % 64 == 0")
    (0 until v.length / 64).map { w =>
      (0 until 64).foldLeft(0L)((acc, i) =>
        if (v(64 * w + i) > 0.0) acc | (1L << i) else acc)
    }
  }

  /** Batched binary-Hamming serving: ONE words scan (8 bytes/row at
    * 512-d) evaluates Q XOR+popcount distances per row, per-query
    * coarse top-`rescoreK` through the primitive grouped top-k
    * (score = −hamming, so the shared DESC selection ranks ascending
    * distance with the same id tiebreak), then the shared
    * one-point-fetch exact rescore — the same batch spine as
    * `PQ.pqSearchBatch`, at the cheapest coarse-scan bytes of the
    * ladder. Column contract: `signWords` must carry the canonical
    * (tenant, id, words) columns as [[signPackAll]] produces. */
  def hammingSearchBatch(signWords: DataFrame, vectors: DataFrame,
                         tenant: String, queries: Seq[(Long, Seq[Double])],
                         k: Int, rescoreK: Int, threshold: Double = 0.0,
                         tenantCol: String = "tenant", idCol: String = "id",
                         embCol: String = "embedding",
                         fetchById: Option[Seq[Long] => DataFrame] = None): DataFrame = {
    // unrolled per-word XOR+popcount chain — plain codegen
    // expressions, NOT zip_with/aggregate: SQL higher-order-function
    // lambdas evaluate interpreted per element (the BenchVec
    // bin-pack measurement: 384M lambda calls ≈ 533 s), while an
    // element_at + bit_count chain stays inside whole-stage codegen
    def hamming(words: Column, qw: Seq[Long]): Column =
      qw.indices.map { w =>
        call_function("bit_count",
          element_at(words, w + 1).bitwiseXOR(lit(qw(w)))).cast("long")
      }.reduce(_ + _)
    val distArr = array(queries.map { case (qid, qv) =>
      struct(lit(qid).as("q_id"),
        (-hamming(col("words"), signPackLocal(qv)).cast("double")).as("adc"))
    }: _*)
    val cand = signWords.filter(col("tenant") === tenant)
      .select(col("id"), explode(distArr).as("qa"))
      .select(col("qa.q_id").as("q_id"), col("qa.adc").as("adc"), col("id"))
    PQ.rescoreBatch(PQ.candTopK(cand, rescoreK), vectors, queries, k,
        threshold, tenant, tenantCol, idCol, embCol, fetchById)
      .withColumnRenamed("adc_score", "neg_hamming")
  }

  // ---------------------------------------------------------------- //

  private def base(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .withColumn("tenant", lit("all"))

  /** Gate state-dir root (round-5 concurrent-run rule: keyed on data
    * dir + pid). */
  private def hybDir(dataDir: String): String =
    "/tmp/graft_hyb_" + dataDir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
      ProcessHandle.current().pid()

  private def lexDir(dataDir: String): String =
    "/tmp/graft_lexcdc_" + dataDir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
      ProcessHandle.current().pid()

  /** Per-query term sets for the batched-hybrid gate — 8 triples from
    * the fixture vocabulary (present at every SF). */
  private val hybridBatchTerms: Vector[Seq[String]] = Vector(
    Seq("join", "vector", "hash"), Seq("scan", "merge", "sort"),
    Seq("window", "group", "agg"), Seq("table", "row", "column"),
    Seq("stream", "batch", "filter"), Seq("key", "value", "query"),
    Seq("fast", "slow", "small"), Seq("spark", "data", "line"))

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The router under the exact gate: a FULL index state (sampled IVF
    // cells + PQ codes joined with cells — the ann_ivfpq_batch build)
    // with the brute-force ceiling forced to 0, so the stats-driven
    // decision is IVF-PQ at every SF; the routed batch must then be
    // row-identical to Q independent single-query IVF-PQ searches
    // (the oracle replays five Lloyd kernels per batch member), with
    // the routing decision itself pinned as the `tier` column. The
    // decision MATRIX (ceiling, recall floor, partial index states)
    // is spec-pinned in ServingSpec, mirroring v10_route_strategy's
    // logical-router gate.
    "ann_auto_topk" -> ((s, d) => {
      val e = base(s, d)
      val cents = Search.ivfTrainSampled(e, "tenant", "vec_id", "embedding", 16,
        sampleCap = 256)
      val assigned = Search.ivfAssign(e, "tenant", "vec_id", "embedding", cents)
      val books = PQ.pqTrainSampled(e, "tenant", "vec_id", "embedding", 4, 8, 256)
      val enc = PQ.pqEncode(e, "tenant", "vec_id", "embedding", books)
        .join(assigned.select(col("tenant"), col("id"), col("cell")),
          Seq("tenant", "id"))
      val qids = Seq(0L, 1L, 2L)
      val qs = qids.zip(Search.qvecs(s, d, qids))
      val st = IndexState(vectors = e, corpusSize = e.count(),
        centroids = Some(cents), cells = Some(assigned),
        codebooks = Some(books), encoded = Some(enc), encodedHasCells = true,
        idCol = "vec_id", embCol = "embedding")
      searchBatch(st, "all", qs, k = 10, nProbe = 4, rescoreK = 50,
        bruteForceCeiling = 0L)
    }),

    // The HYBRID serving tier under the exact gate (r14 verdict
    // task 4): the inverted index (postings + per-tenant length/count
    // stats) is PERSISTED as a ServingState asset, loaded back, and
    // text-bearing queries route to the fused path — BM25 top-2k over
    // the persisted postings ∥ the state's vector tier top-2k (here
    // brute force: no lossy assets in this state), RRF-folded at
    // k₀ = 60 with equal weights, top-k on (rrf DESC, id ASC). The
    // oracle replays BM25 from the raw documents text, the vector arm
    // as exact kNN, and the fold — so a persisted index that
    // tokenizes, scores, ranks or fuses ANY differently from the
    // from-text batch path hash-fails, per query, at all three SFs.
    "ann_hybrid_topk" -> ((s, d) => {
      val sdir = hybDir(d)
      deleteRec(new java.io.File(sdir))
      val e = base(s, d)
      // fanOut: postings build + stats each tokenize the whole corpus
      val docs = graft.Tables.fanOut(
        Tables.documents(s, d).withColumn("tenant", lit("all")))
      ByidStore.init(e.select(col("vec_id"), col("embedding"), col("tenant")),
        "vec_id", s"$sdir/byid")
      ServingState.saveSnapshot(s, sdir,
        postings = Some(buildPostings(docs, "tenant", "doc_id", "text")),
        lexStats = lexStatsOf(docs, "tenant", "text"),
        idCol = "vec_id")
      val st = ServingState.load(s, sdir, idCol = "vec_id",
        embCol = "embedding")
      val qids = Seq(0L, 1L, 2L)
      val qs = qids.zip(Search.qvecs(s, d, qids))
        .map { case (q, v) => (q, v, Seq("join", "vector", "dup")) }
      searchBatchText(st, "all", qs, k = 10,
        bruteForceCeiling = Long.MaxValue)
    }),

    // The BATCHED hybrid tier under the exact gate (r15 verdict
    // tasks 1 + 4): EIGHT text-bearing queries with disjoint term
    // sets served by ONE term-pruned postings pass (bm25ArmBatch —
    // per-term df computed in-job, per-(q_id, doc) term-sorted fold,
    // primitive grouped top-2k) ∥ one batched vector scan, fused at
    // the reference's 0.4/0.6 service-default RRF weights
    // (enhanced_search_service.py:31) instead of the 0.5/0.5 serving
    // default. The oracle replays all eight queries' BM25 + exact-kNN
    // + weighted fold independently — so per-query isolation inside
    // the shared scan, the df computation, the fold order and the
    // weight plumbing are each hash-gated at all three SFs.
    "ann_hybrid_batch" -> ((s, d) => {
      val e = base(s, d)
      // fanOut: postings build + stats each tokenize the whole corpus
      val docs = graft.Tables.fanOut(
        Tables.documents(s, d).withColumn("tenant", lit("all")))
      val st = IndexState(vectors = e, corpusSize = e.count(),
        postings = Some(buildPostings(docs, "tenant", "doc_id", "text")),
        lexStats = lexStatsOf(docs, "tenant", "text"),
        idCol = "vec_id", embCol = "embedding")
      val qids = (0L until 8L).toSeq
      val qs = qids.zip(Search.qvecs(s, d, qids))
        .map { case (q, v) => (q, v, hybridBatchTerms(q.toInt)) }
      searchBatchText(st, "all", qs, k = 10,
        bruteForceCeiling = Long.MaxValue, wLex = 0.4, wVec = 0.6)
    }),

    // CDC-MAINTAINED lexical serving assets under the exact gate (r15
    // verdict task 2): the per-doc term vectors of the %9≠0 cohort
    // bootstrap a doc-keyed ByidStore; the churn feed — %7 updates
    // (marker-prefixed text), %13∖%7 deletes, %9 inserts — arrives as
    // TWO micro-batches (id parity) through applyLexCdc, which
    // maintains the store O(churn) and the per-tenant (nDocs, Σdl)
    // counters incrementally (preimage lengths via bounded point
    // fetch). The hybrid serve then runs over postings = explode of
    // the RESOLVED store view and lexStats = the MAINTAINED counters;
    // the oracle rebuilds BM25 from scratch over the fully-churned
    // corpus — so drift in the store merge, the counter arithmetic,
    // the explode view, or the update/delete/insert split hash-fails
    // the served result at all three SFs.
    "x23_cdc_lex_maintain" -> ((s, d) => {
      val sdir = lexDir(d)
      deleteRec(new java.io.File(sdir))
      val e = base(s, d)
      val docs = Tables.documents(s, d).withColumn("tenant", lit("all"))
        .select(col("tenant"), col("doc_id"), col("text"))
      val v1 = docs.filter(col("doc_id") % 9 =!= 0)
      // fanOut: both bootstrap passes tokenize the whole cohort and
      // would otherwise run inside the single-file scan's one partition
      val v1f = graft.Tables.fanOut(v1)
      ByidStore.init(lexDocVectors(v1f, "tenant", "doc_id", "text"), "id",
        s"$sdir/lex")
      var counters = lexCountersOf(v1f, "tenant", "text")
      val ups = v1.filter(col("doc_id") % 7 === 0)
        .withColumn("text",
          concat(lit("freshly updated revision: "), col("text")))
      val adds = ups.unionByName(docs.filter(col("doc_id") % 9 === 0))
      // churn-bounded driver id lists (the store's CDC removal shape)
      val delIds = v1.filter(col("doc_id") % 13 === 0 &&
          col("doc_id") % 7 =!= 0)
        .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
      val upIds = ups.select(col("doc_id").cast("long"))
        .collect().map(_.getLong(0))
      Seq(0L, 1L).foreach { par =>
        counters = applyLexCdc(s, s"$sdir/lex",
          (delIds ++ upIds).filter(_ % 2 == par).toSeq,
          adds.filter(pmod(col("doc_id"), lit(2L)) === par), counters,
          "tenant", "doc_id", "text")
      }
      val lexView = ByidStore.readAll(s, s"$sdir/lex", "id").drop("seg")
      val st = IndexState(vectors = e, corpusSize = e.count(),
        postings = Some(postingsFromDocVectors(lexView)),
        lexStats = lexStatsFromCounters(counters),
        idCol = "vec_id", embCol = "embedding")
      val qids = Seq(0L, 1L, 2L)
      val qs = qids.zip(Search.qvecs(s, d, qids))
        .map { case (q, v) => (q, v, Seq("freshly", "updated", "join")) }
      searchBatchText(st, "all", qs, k = 10,
        bruteForceCeiling = Long.MaxValue)
    })
  )

  val oracles: Map[String, String] = Map(
    // the single-query IVF-PQ replay once per batch member (the
    // ann_ivfpq_batch oracle), normalized to the router contract:
    // per-query rank over (sim DESC, id ASC) and the constant routed
    // tier.
    "ann_auto_topk" -> {
      def arm(qid: Long): String =
        s"""SELECT CAST($qid AS BIGINT) AS q_id,
           |  row_number() OVER (ORDER BY t.sim DESC, t.id ASC) AS rank,
           |  t.id, t.sim, 'ivf_pq' AS tier
           |FROM (${PQ.ivfpqSingleSql(qid)}) t""".stripMargin
      Seq(0L, 1L, 2L).map(arm)
        .mkString("", "\nUNION ALL\n", "\nORDER BY q_id ASC, rank ASC")
    },

    // the ts_hybrid_rrf replay per batch member: BM25 (k1=1.2, b=0.75,
    // ln idf, term-sorted fold) from the raw documents text, exact-kNN
    // vector arm, weighted RRF k₀=60 fold, normalized to the router
    // contract.
    "ann_hybrid_topk" -> hybridSql(Seq(0L, 1L, 2L),
      _ => Seq("join", "vector", "dup"), 0.5, 0.5),

    // eight queries, disjoint term sets, 0.4/0.6 weights — the
    // batched-arm replay (r15 tasks 1 + 4).
    "ann_hybrid_batch" -> hybridSql((0L until 8L).toSeq,
      q => hybridBatchTerms(q.toInt), 0.4, 0.6),

    // the hybrid replay over the FULLY-CHURNED corpus: v1 (%9≠0) with
    // %7 docs marker-prefixed, %13∖%7 removed, %9 inserted — the
    // relation the maintained lex store + counters must serve exactly.
    "x23_cdc_lex_maintain" -> hybridSql(Seq(0L, 1L, 2L),
      _ => Seq("freshly", "updated", "join"), 0.5, 0.5,
      docsSql = """SELECT doc_id,
        |    CASE WHEN doc_id % 9 <> 0 AND doc_id % 7 = 0
        |         THEN 'freshly updated revision: ' || text
        |         ELSE text END AS text
        |  FROM documents
        |  WHERE NOT (doc_id % 9 <> 0 AND doc_id % 13 = 0 AND doc_id % 7 <> 0)""".stripMargin)
  )

  /** One hybrid-serve oracle arm per query, parameterized the way the
    * serving call is: term set, (wLex, wVec) fusion weights, the
    * docs relation (the x23 gate replays a churned corpus), and the
    * vector relation (the st_hybrid_maintain_serve gate replays a
    * churned embedding set — `vecSql` must emit (vec_id,
    * embedding DOUBLE[])). Query vectors always come from the RAW
    * embeddings table — probes are request-side, not corpus-side. Arm
    * budgets are the serving tier's: both arms top-2k, final top-k. */
  private def hybridArmSql(qid: Long, terms: Seq[String], wLex: Double,
                           wVec: Double, b: Int, k: Int,
                           docsSql: String, vecSql: String): String = {
    val qv = s"(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = $qid)"
    val inList = terms.map(t => s"'$t'").mkString(",")
    s"""SELECT CAST($qid AS BIGINT) AS q_id,
       |  row_number() OVER (ORDER BY t.rrf_score DESC, t.doc_id ASC) AS rank,
       |  t.doc_id AS id, t.rrf_score AS sim, 'hybrid' AS tier
       |FROM (
       |WITH docs_src AS ($docsSql),
       |toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
       |  FROM docs_src),
       |hits AS (SELECT doc_id, term FROM toks WHERE term IN ($inList)),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2),
       |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
       |dl AS (SELECT doc_id,
       |         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS dl
       |       FROM docs_src),
       |stats AS (SELECT count(*) AS n_docs,
       |            CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS sum_dl
       |          FROM docs_src),
       |scored AS (
       |  SELECT t.doc_id, t.term,
       |    ln((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) + 1.0::DOUBLE)
       |      * (t.tf * 2.2::DOUBLE)
       |      / (t.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE + 0.75::DOUBLE * dl
       |           / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS sc
       |  FROM tf t JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
       |bm AS (SELECT doc_id, list_reduce(list(sc ORDER BY term), (a, b) -> a + b) AS bm25
       |       FROM scored GROUP BY doc_id),
       |kw AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS kw_rank
       |       FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id ASC LIMIT $b)),
       |vec AS (SELECT vec_id AS doc_id,
       |          row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS vec_rank
       |        FROM (SELECT vec_id, list_inner_product(embedding, $qv) AS sim
       |              FROM ($vecSql)
       |              WHERE list_inner_product(embedding, $qv) >= 0.0
       |              ORDER BY sim DESC, vec_id ASC LIMIT $b))
       |SELECT coalesce(kw.doc_id, vec.doc_id) AS doc_id,
       |  coalesce($wLex::DOUBLE / (60 + kw_rank), 0.0::DOUBLE) +
       |  coalesce($wVec::DOUBLE / (60 + vec_rank), 0.0::DOUBLE) AS rrf_score
       |FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id
       |ORDER BY rrf_score DESC, doc_id ASC LIMIT $k) t""".stripMargin
  }

  private[graft] def hybridSql(qids: Seq[Long], terms: Long => Seq[String],
                               wLex: Double, wVec: Double,
                               docsSql: String =
                                 "SELECT doc_id, text FROM documents",
                               vecSql: String =
                                 "SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings")
      : String =
    qids.map(q => hybridArmSql(q, terms(q), wLex, wVec, b = 20, k = 10,
        docsSql, vecSql))
      .mkString("", "\nUNION ALL\n", "\nORDER BY q_id ASC, rank ASC")
}
