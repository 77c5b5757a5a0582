package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ByidStore, ProductQuantization => PQ, Search, Serving, ServingState}

/** Persisted serving state: driver-side maps round-trip bit-exactly,
  * a directory-loaded state routes and serves identically to the
  * in-memory one, snapshots are manifest-committed (a loaded state is
  * immutable under concurrent refreshes — old or new, never torn),
  * and vacuum retires only what no newest-snapshot reader needs. */
class ServingStateSpec extends AnyFunSuite {
  lazy val spark = SparkSessionHelper.spark
  private val d = "/root/testdata/sf0.01"

  private lazy val e = Tables.embeddings(spark, d)
    .select(col("vec_id").cast("long").as("id"),
      col("embedding").cast("array<double>").as("embedding"))
    .withColumn("tenant", lit("all"))
  private lazy val cents =
    Search.ivfTrainSampled(e, "tenant", "id", "embedding", 16, sampleCap = 256)
  private lazy val books =
    PQ.pqTrainSampled(e, "tenant", "id", "embedding", 4, 8, 256)
  private lazy val assigned =
    Search.ivfAssign(e, "tenant", "id", "embedding", cents)
  private lazy val encCells =
    PQ.pqEncode(e, "tenant", "id", "embedding", books)
      .join(assigned.select(col("tenant"), col("id"), col("cell")),
        Seq("tenant", "id"))
  private lazy val qs = {
    val ids = Seq(0L, 1L, 2L)
    ids.zip(ids.map(i => e.filter(col("id") === i)
      .select("embedding").head().getSeq[Double](0).toSeq))
  }

  private def buildDir(): String = {
    val dir = Files.createTempDirectory("graft-svstate-").toString
    ByidStore.init(e.select("id", "embedding", "tenant"), "id", s"$dir/byid")
    val n = ServingState.saveSnapshot(spark, dir, Some(cents), Some(books),
      cells = Some(assigned), encoded = Some(encCells),
      corpusSize = e.count(), encodedHasCells = true)
    assert(n == 1)
    dir
  }

  test("centroids and codebooks round-trip bit-exactly") {
    val dir = buildDir()
    val c2 = ServingState.loadCentroids(spark, s"$dir/v_00001/centroids")
    assert(c2.keySet == cents.keySet)
    assert(c2("all").map(_.toSeq).toSeq == cents("all").map(_.toSeq).toSeq)
    val b2 = ServingState.loadCodebooks(spark, s"$dir/v_00001/codebooks")
    assert(b2("all").map(_.map(_.toSeq).toSeq).toSeq ==
      books("all").map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("directory-loaded state routes IVF-PQ and serves identically to in-memory") {
    val dir = buildDir()
    val st = ServingState.load(spark, dir)
    assert(Serving.route(st, bruteForceCeiling = 0) == Serving.IvfPqTier)
    val got = Serving.searchBatch(st, "all", qs, k = 5, nProbe = 4,
        rescoreK = 50, bruteForceCeiling = 0)
      .select("q_id", "rank", "id", "sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val mem = Serving.IndexState(vectors = e, corpusSize = e.count(),
      centroids = Some(cents), cells = Some(assigned),
      codebooks = Some(books), encoded = Some(encCells),
      encodedHasCells = true, idCol = "id", embCol = "embedding")
    val want = Serving.searchBatch(mem, "all", qs, k = 5, nProbe = 4,
        rescoreK = 50, bruteForceCeiling = 0)
      .select("q_id", "rank", "id", "sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want)
  }

  test("recall-curve provenance round-trips; a drifted loaded state refuses to certify floors (r16 staleness guard)") {
    val dir = buildDir()
    val curve = Seq(Serving.RecallPoint("ivf_pq", 8, 100, 0.97))
    val n = ServingState.saveSnapshot(spark, dir, Some(cents), Some(books),
      cells = Some(assigned), encoded = Some(encCells),
      corpusSize = e.count(), encodedHasCells = true, recallCurve = curve)
    val st = ServingState.loadSnapshot(spark, dir, n)
    assert(st.recallCurve == curve)
    // default provenance: measured against this snapshot's corpus
    assert(st.recallMeasuredAt == e.count())
    // fresh: the floored query serves the stored config
    assert(Serving.routeCalibrated(st, 0.9, 0, 4, 50) ==
      Serving.Decision(Serving.IvfPqTier, 8, 100))
    // the maintain-loop hazard: the same curve threaded into a state
    // whose corpus has since doubled — stale, the floor serves brute
    assert(Serving.routeCalibrated(st.copy(corpusSize = 2 * st.corpusSize + 1),
      0.9, 0, 4, 50).tier == Serving.BruteForceTier)
    // an inherited origin passes through the manifest verbatim
    val n2 = ServingState.saveSnapshot(spark, dir, Some(cents), Some(books),
      cells = Some(assigned), encoded = Some(encCells),
      corpusSize = e.count(), encodedHasCells = true, recallCurve = curve,
      recallMeasuredAt = 7L)
    assert(ServingState.loadSnapshot(spark, dir, n2).recallMeasuredAt == 7L)
  }

  test("snapshot isolation: a loaded state is immutable under CDC + refresh; the refreshed load serves the new bytes") {
    import spark.implicits._
    val dir = buildDir()
    val stOld = ServingState.load(spark, dir)
    val q0 = Seq((0L, qs.head._2))
    def serve(st: Serving.IndexState) =
      Serving.searchBatch(st, "all", q0, k = 3, nProbe = 4,
        rescoreK = 50, bruteForceCeiling = 0).collect()
    val pre = serve(stOld)
    assert(pre.head.getAs[Long]("id") == 0L, "pre-churn self-hit missing")
    // churn: vec 0's embedding becomes its negation (cells/encoded
    // stay stale — the candidate generator may still surface id 0,
    // but the rescore decides from the byid bytes)
    val newEmb = qs.head._2.map(x => -x)
    val add = Seq((0L, newEmb, "all")).toDF("id", "embedding", "tenant")
    ByidStore.applyCdc(spark, s"$dir/byid", Seq(0L).toDF("id"), add, "id")
    // BEFORE any refresh: the pinned state AND a fresh load both still
    // serve snapshot 1's bytes — CDC batches after the pin are
    // invisible (dot(q, -q) < 0 would otherwise evict the self-hit)
    assert(serve(stOld).toSeq == pre.toSeq,
      "pinned snapshot saw post-pin CDC bytes")
    assert(serve(ServingState.load(spark, dir)).toSeq == pre.toSeq,
      "newest-manifest load saw uncommitted refresh bytes")
    // REFRESH: commit snapshot 2 (same derived assets, new byid pin)
    val n2 = ServingState.saveSnapshot(spark, dir, Some(cents), Some(books),
      cells = Some(assigned), encoded = Some(encCells),
      corpusSize = e.count(), encodedHasCells = true)
    assert(n2 == 2)
    // the old pinned reader STILL serves snapshot 1 (old dirs intact)
    assert(serve(stOld).toSeq == pre.toSeq,
      "refresh mutated a pinned snapshot's view")
    // a new load pins snapshot 2 and must see the churned bytes: id 0
    // cannot survive the rescore (threshold 0.0 > dot(q, -q))
    val post = serve(ServingState.load(spark, dir))
    assert(!post.exists(_.getAs[Long]("id") == 0L),
      "stale base bytes served after refresh")
    // refresh folded the byid deltas: snapshot 2 pins ONE full base
    // (merge-free fast path for full scans)
    val snaps = ServingState.snapshots(dir)
    assert(snaps == Seq(1, 2))
  }

  test("vacuum retires old snapshots and byid batches; newest keeps serving") {
    import spark.implicits._
    val dir = buildDir()
    val newEmb = qs.head._2.map(x => -x)
    ByidStore.applyCdc(spark, s"$dir/byid", Seq(0L).toDF("id"),
      Seq((0L, newEmb, "all")).toDF("id", "embedding", "tenant"), "id")
    ServingState.saveSnapshot(spark, dir, Some(cents), Some(books),
      cells = Some(assigned), encoded = Some(encCells),
      corpusSize = e.count(), encodedHasCells = true)
    val before = Serving.searchBatch(ServingState.load(spark, dir), "all",
        qs, k = 5, nProbe = 4, rescoreK = 50, bruteForceCeiling = 0)
      .select("q_id", "rank", "id").collect().toSeq
    ServingState.vacuum(spark, dir)
    assert(ServingState.snapshots(dir) == Seq(2))
    assert(!new java.io.File(s"$dir/v_00001").exists())
    // byid retired below the newest pin: exactly one base remains
    assert(ByidStore.segments(s"$dir/byid").size == 1)
    assert(ByidStore.tombstones(s"$dir/byid").isEmpty)
    val after = Serving.searchBatch(ServingState.load(spark, dir), "all",
        qs, k = 5, nProbe = 4, rescoreK = 50, bruteForceCeiling = 0)
      .select("q_id", "rank", "id").collect().toSeq
    assert(after == before)
  }

  test("racing refresh: the atomic manifest create admits exactly one winner per snapshot number") {
    val dir = buildDir()
    val lines = Seq("corpus_size=1", "encoded_has_cells=false",
      "residual_codes=false", "byid_base=0", "byid_pin=0")
    // two refreshers race to publish snapshot 2: the second link must
    // fail loudly in the kernel, never overwrite the winner
    ServingState.publishManifest(dir, 2, lines)
    intercept[java.util.ConcurrentModificationException] {
      ServingState.publishManifest(dir, 2, Seq("corpus_size=999",
        "encoded_has_cells=true", "residual_codes=true",
        "byid_base=0", "byid_pin=0"))
    }
    assert(ServingState.snapshots(dir) == Seq(1, 2))
    // the winner's content survived intact
    val st = ServingState.loadSnapshot(spark, dir, 2)
    assert(st.corpusSize == 1L && !st.residualCodes)
    // the loser's staged tmp is gone (no debris manifest — staged
    // names are per-writer-unique since ADVICE r15, match by shape)
    assert(!new java.io.File(dir).listFiles().exists(f =>
      f.getName.startsWith("_manifest_") && f.getName.endsWith(".tmp")))
  }

  test("racing refresh never publishes another writer's staged bytes (ADVICE r15)") {
    // 8 threads race the SAME snapshot number with DISTINCT payloads:
    // exactly one wins, and the committed manifest must be byte-equal
    // to the WINNER's payload — with a shared staged tmp a loser's
    // writeString could land between the winner's write and link, so
    // the winner would commit the loser's bytes
    val dir = buildDir()
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        try {
          ServingState.publishManifest(dir, 2, Seq(s"corpus_size=$i",
            "encoded_has_cells=false", "residual_codes=false",
            "byid_base=0", "byid_pin=0"))
          results.put(i, true)
        } catch {
          case _: java.util.ConcurrentModificationException =>
            results.put(i, false)
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val winners = results.asScala.filter(_._2).keys.toSeq
    assert(winners.size == 1, s"expected exactly one winner, got $winners")
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "manifest_00002"))
    assert(committed.startsWith(s"corpus_size=${winners.head}\n"),
      s"winner ${winners.head} but manifest says: ${committed.linesIterator.next()}")
    // no staged debris survives the race
    assert(!new java.io.File(dir).listFiles().exists(f =>
      f.getName.startsWith("_manifest_") && f.getName.endsWith(".tmp")))
  }

  test("lex counters persist in the manifest and re-derive stats bit-exactly (r15 task 2)") {
    val dir = Files.createTempDirectory("graft-svlex-").toString
    ByidStore.init(e.select("id", "embedding", "tenant"), "id", s"$dir/byid")
    val docs = Tables.documents(spark, d).withColumn("tenant", lit("all"))
    val counters = Serving.lexCountersOf(docs, "tenant", "text")
    val n = ServingState.saveSnapshot(spark, dir,
      postings = Some(Serving.buildPostings(docs, "tenant", "doc_id", "text")),
      lexCounters = counters, corpusSize = e.count())
    assert(ServingState.lexCounters(dir, n) == counters)
    // the loaded state's lexStats equal the O(corpus) rebuild exactly
    // (integer counters → one division, the lexStatsOf order)
    val st = ServingState.load(spark, dir)
    assert(st.lexStats == Serving.lexStatsOf(docs, "tenant", "text"))
    assert(st.postings.isDefined)
  }

  test("postings term fetch pushes or-of-eq to the parquet scan (r16: page-prunable inverted index)") {
    val dir = Files.createTempDirectory("graft-svpost-").toString
    ByidStore.init(e.select("id", "embedding", "tenant"), "id", s"$dir/byid")
    val docs = Tables.documents(spark, d).withColumn("tenant", lit("all"))
    ServingState.saveSnapshot(spark, dir,
      postings = Some(Serving.buildPostings(docs, "tenant", "doc_id", "text")),
      lexCounters = Serving.lexCountersOf(docs, "tenant", "text"),
      corpusSize = e.count())
    val st = ServingState.load(spark, dir)
    val qs3 = Seq((0L, qs.head._2, Seq("join", "vector", "dup", "scan",
      "merge", "sort", "window", "group", "agg", "table", "row", "column")))
    val served = Serving.searchBatchText(st, "all", qs3, k = 5,
      bruteForceCeiling = 0L)
    val plan = served.queryExecution.executedPlan.toString
    // the 12-term fetch is ABOVE the native-In threshold (10): isin
    // would push parquet's page-prunes-nothing In — the balanced
    // or-of-eq must reach the postings scan as pushed EqualTo filters
    // ("agg" sorts first, so it survives the display truncation of
    // the PushedFilters list)
    assert(plan.contains("Or(Or(Or(EqualTo(term,agg)"),
      s"no pushed balanced term or-of-eq in:\n${plan.take(4000)}")
    assert(!plan.contains("In(term"),
      "term fetch degraded to parquet native In (prunes nothing)")
    assert(served.count() == 5)
  }
}
