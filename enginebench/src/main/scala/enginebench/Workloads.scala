package enginebench

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.HashEmbedder
import graft.operators.{ByidStore, Dedup, Search, Serving, ProductQuantization => PQ}
import graft.pipelines.IndexPipeline
import graft.streaming.StreamingOps

/** A workload: one kind of operation, repeated in a closed loop. */
trait Workload {
  /** Inputs and store bootstrap. */
  def setup(h: Harness): Unit
  /** Untimed operations of the same kind, before the timed window. */
  def warmup(h: Harness): Unit
  /** The timed window: whole operations until about `seconds` pass. */
  def measure(h: Harness, seconds: Int): Unit
  /** End-of-run checks; false when the final state is wrong. */
  def finish(h: Harness): Boolean
  def recallAt10: Double
  def storeBytesPerInputByte: Double
  /** Workload-specific per-layer figures, already per operation. */
  def layerExtras: Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "cdc_maintain" => new CdcMaintain(seed)
    case "curate_ingest" => new CurateIngest(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val K = 10
  /** IVF cells per tenant, PQ subspaces and codewords. */
  val NCells = 16
  val PqM = 32
  val PqK = 64
  val NProbe = 4
  val RescoreK = 50
  /** Training sample per tenant for the IVF centroids and PQ codebooks. */
  val SampleCap = 1024

  /** The engine-side copy of a generated corpus: ids [0, n), columns
    * (id, tenant, emb), computed on the executors by the same pure
    * generator the benchmark's own copy uses. */
  def corpusFrame(spark: SparkSession, corpus: Data.Corpus, n: Long): DataFrame = {
    val gen = udf((id: Long, ver: Int) => corpus.vecSeq(id, ver))
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .select(col("id"),
        concat(lit("t"), pmod(col("id"), lit(corpus.tenants.toLong))).as("tenant"),
        gen(col("id"), lit(0)).as("emb"))
  }

  /** The serving stores: the byid vectors, the IVF cell assignments
    * and the cell-carrying PQ codes, each a point-fetch store under
    * `dir`. */
  def bootstrapStores(spark: SparkSession, src: DataFrame, dir: String)
      : (Map[String, Array[Array[Double]]], Map[String, PQ.Codebooks]) = {
    val cents = Search.ivfTrainSampled(src, "tenant", "id", "emb", NCells, SampleCap)
    val books = PQ.pqTrainSampled(src, "tenant", "id", "emb", PqM, PqK, SampleCap)
    ByidStore.init(src.select("id", "emb", "tenant"), "id", s"$dir/byid")
    val cells = Search.ivfAssign(src, "tenant", "id", "emb", cents)
    ByidStore.init(cells, "id", s"$dir/cells_store")
    ByidStore.init(PQ.pqEncode(src, "tenant", "id", "emb", books)
        .join(cells.select(col("tenant"), col("id"), col("cell")), Seq("tenant", "id"))
        .select("tenant", "id", "codes", "cell"),
      "id", s"$dir/codes_store")
    (cents, books)
  }

  /** Bytes on disk of every store under `dir`. */
  def storeBytes(dir: String): Long =
    Seq("byid", "cells_store", "codes_store").map(s => Harness.dirBytes(s"$dir/$s")).sum

  /** The served rows of one query, in rank order: (rank, id, sim). */
  def servedByQuery(rows: Array[Row]): Map[Long, Seq[(Int, Long, Double)]] =
    rows.toSeq.map(r => (r.getAs[Long]("q_id"),
        (r.getAs[Int]("rank"), r.getAs[Long]("id"), r.getAs[Double]("sim"))))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).sortBy(_._1) }

  /** The checks every served probe answer must pass: ranks 1..n with
    * non-increasing sim, at most k rows, every id allowed, every sim the
    * exact dot against the benchmark's own vector. Returns the recall of
    * each query against the exact top-k over `corpus`. */
  def checkServed(h: Harness, rows: Array[Row], queries: Seq[(Long, Array[Double])],
                  vecOf: Long => Option[Array[Double]],
                  corpus: () => Iterator[(Long, Array[Double])]): Seq[Double] = {
    val byQ = servedByQuery(rows)
    h.check(byQ.keySet.subsetOf(queries.map(_._1).toSet), s"served unknown q_ids ${byQ.keySet}")
    queries.map { case (qid, q) =>
      val served = byQ.getOrElse(qid, Nil)
      h.check(served.nonEmpty && served.size <= K, s"query $qid served ${served.size} rows")
      Refs.rankOrderError(served.map(s => (s._1, s._3)))
        .foreach(e => h.check(false, s"query $qid: $e"))
      served.foreach { case (_, id, sim) =>
        val v = vecOf(id)
        h.check(v.isDefined, s"query $qid served id $id outside the live tenant set")
        val exact = Refs.dot(q, v.get)
        h.check(math.abs(exact - sim) <= 1e-9, s"query $qid id $id sim $sim != exact $exact")
      }
      val top = Refs.exactTopK(q, corpus(), K)
      Refs.recall(served.map(_._2), top, id => Refs.cosine(q, vecOf(id).get))
    }
  }
}

import Workload._

/** One `StreamingOps.maintainServeBatch` epoch per operation: a CDC
  * batch of updates, inserts and deletes applied to the byid, cells
  * and codes stores with threshold compaction, then the routed probe
  * served and collected. */
final class CdcMaintain(seed: Long) extends Workload {
  val Tenants = 2
  val N0 = 3000
  val Updates = 120
  val Inserts = 80
  val Deletes = 40
  val Probes = 8
  /** Compaction threshold: each epoch adds a segment and a tombstone
    * dir, so the cycle is one plain epoch and one that compacts. The
    * engine's default, 8, makes a 4-epoch cycle, which a run of the
    * benchmark's length cannot warm up and time whole. */
  val MaxSegments = 4
  private val corpus = new Data.Corpus(seed, Tenants, clusters = 8, subs = 4,
    subSpread = 0.8, noise = 0.5)
  private val model = new Refs.LiveSet
  private var dir: String = _
  private var cents: Map[String, Array[Array[Double]]] = _
  private var books: Map[String, PQ.Codebooks] = _
  private var epoch = 0
  private var nextId: Long = N0
  private val rng = new java.util.SplittableRandom(Data.mix(seed, 424242L))
  private val liveIds = mutable.ArrayBuffer.empty[Long]
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val ratios = mutable.ArrayBuffer.empty[Double]
  private val plainMs = mutable.ArrayBuffer.empty[Double]
  private val compactMs = mutable.ArrayBuffer.empty[Double]
  private val plainJobs = mutable.ArrayBuffer.empty[Double]
  private val compactJobs = mutable.ArrayBuffer.empty[Double]
  private var segSum = 0L
  private var tombSum = 0L
  private var written = 0L
  private var payload = 0L
  private var timedEpochs = 0
  var cycle = 0

  private val changeSchema = StructType(Seq(StructField("op", StringType),
    StructField("id", LongType), StructField("emb", ArrayType(DoubleType, false)),
    StructField("tenant", StringType)))

  def setup(h: Harness): Unit = {
    val spark = h.spark
    dir = s"${h.workDir}/cdc"
    val (c, b) = bootstrapStores(spark, corpusFrame(spark, corpus, N0), dir)
    cents = c; books = b
    StreamingOps.initCorpusCount(spark, dir)
    (0L until N0).foreach { id =>
      model.put(id, corpus.tenantOf(id), corpus.vec(id, 0)); liveIds += id
    }
  }

  /** The next CDC batch: distinct live ids drawn for updates and
    * deletes, fresh ids for inserts. */
  private def nextBatch(): Seq[Refs.Change] = {
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < Updates + Deletes) picked += rng.nextInt(liveIds.size)
    val idx = picked.toSeq
    val ver = epoch + 1
    val ups = idx.take(Updates).map { i =>
      val id = liveIds(i); Refs.Change("upsert", id, corpus.tenantOf(id), corpus.vec(id, ver))
    }
    val dels = idx.drop(Updates).map { i =>
      val id = liveIds(i); Refs.Change("delete", id, corpus.tenantOf(id), null)
    }
    val ins = (0 until Inserts).map { _ =>
      val id = nextId; nextId += 1
      Refs.Change("upsert", id, corpus.tenantOf(id), corpus.vec(id, 0))
    }
    // keep liveIds in step: deleted ids leave (swap-remove, highest index first)
    idx.drop(Updates).sorted.reverse.foreach { i =>
      liveIds(i) = liveIds.last; liveIds.remove(liveIds.size - 1)
    }
    ins.foreach(c => liveIds += c.id)
    ups ++ dels ++ ins
  }

  private def storeDirs(): Int =
    ByidStore.segments(s"$dir/byid").size + ByidStore.tombstones(s"$dir/byid").size

  /** One epoch; returns true when it compacted. */
  private def oneEpoch(h: Harness, timed: Boolean): Boolean = {
    val spark = h.spark
    val batch = nextBatch()
    val e = epoch
    epoch += 1
    // the batch's vectors are made here, once, so the engine's jobs
    // never run the benchmark's generator
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(
      batch.map(c => Row(c.op, c.id, Option(c.vec).map(ArraySeq.unsafeWrapArray(_)).orNull,
        c.tenant)), 1), changeSchema)
    // a fresh probe batch of tenant t0 every epoch
    val probes = (0 until Probes).map { j =>
      val qid = Data.queryId(corpus, 0, e * Probes + j); qid -> corpus.vec(qid, 0)
    }
    val w0 = Harness.procField("io", "wchar")
    val ms = h.op(timed) {
      val df = h.span("StreamingOps", "construct") {
        StreamingOps.maintainServeBatch(spark, changes, dir, cents, books,
          probes.map { case (q, v) => q -> ArraySeq.unsafeWrapArray(v) }, K,
          NProbe, RescoreK, e.toLong, tenant = "t0", maxSegments = MaxSegments)
      }
      val rows = h.span("StreamingOps", "action")(df.collect())
      (batch.size.toLong, () => {
        model.applyBatch(batch)
        val count = StreamingOps.readCorpusCount(dir)
        h.check(count == model.size, s"epoch $e corpus count $count != model ${model.size}")
        def vecOf(id: Long) =
          if (model.live(id) && model.tenants(id) == "t0") Some(model.vecs(id)) else None
        recalls ++= checkServed(h, rows, probes, vecOf, () => model.ofTenant("t0"))
      })
    }
    val compacted = storeDirs() == 1
    if (timed) {
      timedEpochs += 1
      (if (compacted) compactMs else plainMs) += ms
      (if (compacted) compactJobs else plainJobs) += h.lastOpJobs
      segSum += ByidStore.segments(s"$dir/byid").size
      tombSum += ByidStore.tombstones(s"$dir/byid").size
      ratios += storeBytes(dir).toDouble / (model.size.toLong * Data.Dim * 4)
      written += Harness.procField("io", "wchar") - w0
      payload += batch.map(c => if (c.op == "upsert") Data.Dim * 4L else 8L).sum
    }
    compacted
  }

  private var warmCycleS = 0.0

  /** Warm-up runs epochs until the first compaction; that count is the
    * compaction cycle every timed cycle repeats. */
  def warmup(h: Harness): Unit = {
    val t0 = System.nanoTime()
    var n = 1
    while (!oneEpoch(h, timed = false)) {
      n += 1
      require(n <= 64, "no compaction within 64 epochs")
    }
    cycle = n
    warmCycleS = (System.nanoTime() - t0) / 1e9
  }

  /** Whole compaction cycles: as many as the warm-up cycle's duration
    * fits into `seconds`, at least one. */
  def measure(h: Harness, seconds: Int): Unit = {
    val cycles = math.max(1, math.round(seconds / warmCycleS).toInt)
    (1 to cycles).foreach { _ =>
      val pattern = (1 to cycle).map(_ => oneEpoch(h, timed = true))
      if (pattern != (1 to cycle).map(_ == cycle)) {
        System.err.println(s"[enginebench] compaction pattern moved: $pattern")
        patternMoved = true
      }
    }
  }
  private var patternMoved = false

  def finish(h: Harness): Boolean = {
    val all = ByidStore.readAll(h.spark, s"$dir/byid", "id")
      .select(col("id"), col("emb")).collect()
    val got = all.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val idsOk = got.keySet == model.vecs.keySet
    val vecsOk = idsOk && got.forall { case (id, v) =>
      val m = model.vecs(id); v.length == m.length && v.indices.forall(i => v(i) == m(i))
    }
    if (!idsOk) System.err.println(s"[enginebench] byid ids differ from the model: " +
      s"${(got.keySet -- model.vecs.keySet).size} extra, ${(model.vecs.keySet -- got.keySet).size} missing")
    if (idsOk && !vecsOk) System.err.println("[enginebench] byid vectors differ from the model")
    idsOk && vecsOk && !patternMoved
  }

  def recallAt10: Double = recalls.sum / math.max(1, recalls.size)
  def storeBytesPerInputByte: Double = ratios.sum / math.max(1, ratios.size)
  override def layerExtras: Map[String, Double] = Map(
    "ByidStore.segments_mean" -> segSum.toDouble / math.max(1, timedEpochs),
    "ByidStore.tombstones_mean" -> tombSum.toDouble / math.max(1, timedEpochs),
    "cdc.compact_epoch_ms" -> Harness.quantile(compactMs.toSeq, 0.5),
    "cdc.plain_epoch_ms" -> Harness.quantile(plainMs.toSeq, 0.5),
    "cdc.compact_epoch_jobs" -> Harness.quantile(compactJobs.toSeq, 0.5),
    "cdc.plain_epoch_jobs" -> Harness.quantile(plainJobs.toSeq, 0.5),
    "cdc.cycle_epochs" -> cycle.toDouble,
    "store.write_amp" -> (if (payload > 0) written.toDouble / payload else 0.0))
}

/** One batch of documents per operation: `Dedup.curationFunnelV2`,
  * then `IndexPipeline.buildIndex` with a 768-d `HashEmbedder`, then
  * `IndexPipeline.writeVectorsBucketed`. */
final class CurateIngest(seed: Long) extends Workload {
  val DocsPerBatch = 200
  private val evalDocs = Data.evalDocs(seed)
  private var dir: String = _
  private var batchNo = 0
  private var evalDf: DataFrame = _
  private val kept = mutable.ArrayBuffer.empty[Double]
  private var storeBytesSum = 0L
  private var inputBytesSum = 0L
  private var probeRecall = 0.0
  private val embedder = new HashEmbedder(Data.Dim)

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("source", StringType), StructField("text", StringType)))

  private def frame(spark: SparkSession, ds: Seq[Data.Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ds.map(d => Row(d.id, d.source, d.text)), 1), docSchema)

  def setup(h: Harness): Unit = {
    dir = s"${h.workDir}/curate"
    evalDf = frame(h.spark, evalDocs).select("doc_id", "text")
  }

  private def oneBatch(h: Harness, timed: Boolean): Double = {
    val spark = h.spark
    val b = batchNo
    batchNo += 1
    val docs = Data.docs(seed, b + 1, DocsPerBatch, evalDocs)
    val input = frame(spark, docs)
    val out = s"$dir/vectors"
    h.op(timed) {
      val stages = h.span("Dedup", "construct") {
        Dedup.curationFunnelV2(input.select("doc_id", "text"), evalDf, maxDocs = 3)
      }
      val survivors = stages.last._2
      val vectors = h.span("IndexPipeline", "construct") {
        IndexPipeline.buildIndex(
          survivors.join(input.select("doc_id", "source"), Seq("doc_id")), embedder)
      }
      h.span("IndexPipeline", "action")(IndexPipeline.writeVectorsBucketed(vectors, out))
      (docs.size.toLong, () => {
        val rows = spark.read.parquet(out)
          .select("doc_id", "owner", "vtype", "chunk_index", "total_chunks",
            "chunk_text", "embedding").collect()
        val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
        val inputById = docs.map(d => d.id -> d).toMap
        val surv = byDoc.keySet
        h.check(surv.nonEmpty, s"batch $b: no document survived")
        h.check(surv.subsetOf(inputById.keySet), s"batch $b: survivors outside the input")
        val texts = surv.toSeq.map(inputById(_).text)
        h.check(texts.distinct.size == texts.size, s"batch $b: two survivors share a text")
        val groups = docs.filter(_.group >= 0).groupBy(_.group).values.map(_.map(_.id)).toSeq
        val over = Refs.overRepresentedGroups(surv, groups)
        h.check(over.isEmpty, s"batch $b: duplicate groups survive twice: $over")
        byDoc.foreach { case (id, rs) =>
          val owner = inputById(id).source
          h.check(rs.forall(_.getAs[String]("owner") == owner), s"doc $id: wrong owner")
          val (sum, chunks) = rs.partition(_.getAs[String]("vtype") == "summary")
          h.check(sum.length == 1, s"doc $id: ${sum.length} summary rows")
          val idx = chunks.map(_.getAs[Int]("chunk_index")).sorted.toSeq
          val total = chunks.map(_.getAs[Int]("total_chunks")).distinct.toSeq
          h.check(total.size <= 1 && idx == (0 until total.headOption.getOrElse(0)),
            s"doc $id: chunk indexes $idx of totals $total")
        }
        rows.foreach { r =>
          val e = r.getAs[Seq[Double]]("embedding").toArray
          val n = Refs.norm(e)
          val text = r.getAs[String]("chunk_text")
          h.check(e.length == Data.Dim, s"embedding width ${e.length}")
          h.check(math.abs(n - 1.0) <= 1e-9 ||
            (n == 0.0 && (text == null || text.trim.isEmpty)),
            s"embedding norm $n for text of length ${Option(text).map(_.length)}")
        }
        if (timed) {
          kept += surv.size.toDouble / docs.size
          storeBytesSum += Harness.dirBytes(out)
          inputBytesSum += docs.map(_.text.getBytes("UTF-8").length.toLong).sum
        }
      })
    }
  }

  /** Batches per round. The first batches of a JVM run several times
    * slower than later ones, so a window sized by the clock would take
    * fewer, slower samples when the box is slow. */
  val RoundBatches = 3
  private var warmRoundS = 0.0

  def warmup(h: Harness): Unit = {
    val t0 = System.nanoTime()
    (0 until RoundBatches).foreach(_ => oneBatch(h, timed = false))
    warmRoundS = (System.nanoTime() - t0) / 1e9
  }

  /** Whole rounds: as many as the warm-up round's duration fits into
    * `seconds`, at least one. */
  def measure(h: Harness, seconds: Int): Unit = {
    val rounds = math.max(1, math.round(seconds / warmRoundS).toInt)
    (1 to rounds * RoundBatches).foreach(_ => oneBatch(h, timed = true))
  }

  /** The closing probe: the last batch's read-back vectors served
    * through `Serving.searchBatch`. The state has no ANN assets, so the
    * exact tier serves it and recall@10 must be 1. */
  def finish(h: Harness): Boolean = {
    val spark = h.spark
    val vid = col("doc_id") * 1000L +
      when(col("vtype") === "summary", 0L).otherwise(col("chunk_index") + 1L)
    val vectors = spark.read.parquet(s"$dir/vectors").withColumn("vid", vid)
    val rows = vectors.select("vid", "owner", "embedding").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[Double](2).toArray))
    val tenant = rows.groupBy(_._2).maxBy(_._2.length)._1
    val mine = rows.filter(_._2 == tenant).map(r => r._1 -> r._3).toMap
    val queries = mine.toSeq.sortBy(_._1).filter(q => Refs.norm(q._2) > 0).take(8)
    val state = Serving.IndexState(vectors = vectors, corpusSize = rows.length.toLong,
      tenantCol = "owner", idCol = "vid", embCol = "embedding")
    val served = Serving.searchBatch(state, tenant,
      queries.map { case (q, v) => q -> ArraySeq.unsafeWrapArray(v) }, K).collect()
    val tiers = served.map(_.getAs[String]("tier")).distinct.toSeq
    val r = scala.util.Try(checkServed(h, served, queries, mine.get, () => mine.iterator))
    r.failed.foreach(e => System.err.println(s"[enginebench] closing probe: $e"))
    probeRecall = r.map(rs => rs.sum / rs.size).getOrElse(0.0)
    if (tiers != Seq("brute_force"))
      System.err.println(s"[enginebench] closing probe tier $tiers")
    r.isSuccess && probeRecall == 1.0 && tiers == Seq("brute_force")
  }

  def recallAt10: Double = probeRecall
  def storeBytesPerInputByte: Double = storeBytesSum.toDouble / math.max(1L, inputBytesSum)
  override def layerExtras: Map[String, Double] =
    Map("curate.kept_frac" -> kept.sum / math.max(1, kept.size))
}
