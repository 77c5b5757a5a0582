package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Search
import graft.operators.{ProductQuantization => PQ}

/** Scale-realistic vector benchmark — BASELINE.md's own BENCH target
  * ("synthetic vector corpus, 100k docs × ~5 chunks, 768-d"), which
  * the 2k-row sf0.1 embeddings table cannot exercise: IVF probe
  * pruning, RP-LSH bucket sizing and SemDeDup cell balance only show
  * their constants at realistic cardinality (round-5 VERDICT, next
  * item #1). NOT part of the driver's Bench contract — run manually:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.BenchVec"
  *
  * Writes BENCHVEC.json (committed; PERF.md quotes it). The corpus
  * (~500k hash-random unit vectors at 768-d, so dot == cosine) is
  * materialized once under benchdata/ (gitignored) and regenerated
  * when missing — fully deterministic, seed-free.
  *
  * What it measures, and why each survives 100×:
  *  - brute_force_knn: one full scan + codegen dot + TakeOrdered —
  *    the exact baseline every ANN path must beat.
  *  - ivf (train-on-sample → broadcast-argmin assign → write
  *    partitioned by cell → probe nProbe/nCells cells): the probe
  *    scan reads only the probed PARTITIONS — scan fraction, not
  *    corpus size, sets the cost.
  *  - rp_lsh (10-plane code = partition column, Hamming-2 multiprobe
  *    = 56/1024 partitions): training-free pruning, same property.
  *  - semdedup at 16 planes (65,536 cells): candidate pairs grow with
  *    Σ bucket², so cell occupancy (reported) is the scale knob.
  *  - pq / ivf-pq (96-subspace × 256-codeword product quantization):
  *    the compressed-scan tier — codes are 96 B vs 3,072 B float32,
  *    ADC scoring against a broadcast lookup table, exact rescore of
  *    the top 200; IVF-PQ writes codes partitioned by cell so a query
  *    reads (nProbe/nCells) × 3 % of the corpus bytes.
  *  - x1_index_100k: chunk → batch-embed → index over 100k synthetic
  *    docs — the pipeline's map-only shape at corpus scale.
  * Recall@10 vs brute force is reported for every ANN path, twice:
  * on the UNSTRUCTURED corpus (the provable worst case — true top-10
  * are near-tie marginals, so recall there measures the corpus, not
  * the index) and on a CLUSTERED corpus of the same size (1,024
  * latent centers — the shape real embedding corpora have, and the
  * recall that predicts production). The nProbe sweep reports the
  * recall/scan-fraction curve an operator would actually tune.
  */
object BenchVec extends Serializable {
  private val NDocs = 100000
  private val Dim = 768
  private val NCells = 64
  private val NProbe = 4
  private val NQueries = 8

  /** splitmix64 finalizer — the standard 64-bit mix. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic unit vector of `id`: splitmix64 uniforms in [-1, 1)
    * per component, L2-normalized. Shared by the corpus UDF and the
    * driver-side query vectors so both sides compute identical math. */
  private[graft] def hashUnitVec(id: Long, dim: Int): Array[Double] = {
    val v = new Array[Double](dim)
    var ss = 0.0
    var j = 0
    while (j < dim) {
      val x = (mix(id * dim + j) >>> 11).toDouble / (1L << 52).toDouble - 1.0
      v(j) = x; ss += x * x; j += 1
    }
    val n = math.sqrt(ss)
    var k = 0
    while (k < dim) { v(k) /= n; k += 1 }
    v
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val vecDir = sys.env.getOrElse("SPARK_GRAFT_VEC_DIR", "benchdata")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // typed TopK aggregations (knnBatch) fall back to SORT-based
      // aggregation after 128 distinct keys per partition by default —
      // which re-sorts every candidate pair, exactly the cost the
      // partial-aggregating TopK exists to avoid. Per-partition key
      // counts here are ≤ ~20k with ≤ 24-entry buffers (~20 MB), so
      // the hash map is safe.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "2000000")
      // heap comes from build.sbt's -Xmx (SPARK_DRIVER_MEM, default
      // 8g) — spark.driver.memory is ignored once the JVM is up
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import java.nio.file.{Files, Paths}

    // Layout staleness guard: the on-disk layouts are reused across
    // runs, but their FORMAT has changed across commits (packed PQ
    // codes, id-sorted cell files) — a bare Files.exists would
    // silently measure an old layout under the new label. Each layout
    // dir carries a version marker; bump LayoutVersion whenever any
    // writer below changes its output format.
    val LayoutVersion = "3"
    def isFresh(path: String): Boolean =
      Files.exists(Paths.get(path, "_LAYOUT_VERSION")) &&
        Files.readString(Paths.get(path, "_LAYOUT_VERSION")).trim == LayoutVersion
    def stamp(path: String): Unit =
      Files.writeString(Paths.get(path, "_LAYOUT_VERSION"), LayoutVersion)

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val stats = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val bytesPerLeg = scala.collection.mutable.LinkedHashMap.empty[String, Long]

    // Box-weather probes — the SAME fixed probes graft.Bench runs
    // (BenchProbe), so BENCHVEC numbers can be normalized against
    // BENCH_DETAIL's window (round-11 verdict task 2; disk probe
    // round-12 task 8). Reported as top-level fields.
    def calibrate(): Double = BenchProbe.calibrate(spark)
    calibrate() // warmup
    val calSamples = scala.collection.mutable.ArrayBuffer(calibrate())
    val calDiskSamples =
      scala.collection.mutable.ArrayBuffer(BenchProbe.calibrateDisk())

    // Scan-bytes metering (round-11 verdict task 1): /proc/self/io
    // rchar — bytes the JVM pulled through read() syscalls, page-cache
    // hits included, which is exactly "bytes touched from the store",
    // the number the compressed tiers exist to shrink. Task-level
    // InputMetrics and Hadoop FS statistics were tried first and count
    // ONLY parquet footers under Spark 4.1's vectorized reader
    // (measured: 179 KB reported for a 1.5 GB embedding scan; rchar
    // reports 1.56 GB, and drops to 2.5 MB for a vec_id-only
    // projection — so it also witnesses column pruning). Local mode
    // puts driver+executors in one process, so the process-wide
    // counter is the whole engine; small shuffle traffic is included
    // but the metered legs are scan-dominated.
    def processReadBytes(): Long =
      scala.io.Source.fromFile("/proc/self/io").getLines()
        .collectFirst { case l if l.startsWith("rchar:") =>
          l.stripPrefix("rchar:").trim.toLong }.get
    // The previous artifact's timings, so BUILD stages skipped by the
    // layout cache keep their last measured cost instead of silently
    // vanishing from the JSON on a partial re-run. Only a build stage
    // that this run reaches and skips takes its old value — query legs
    // always re-measure, and a renamed or retired stage cannot leak a
    // stale number into the fresh artifact (round-12 lesson: a renamed
    // leg's old timing survived a full rerun via a blanket preseed).
    val prevTimings: Map[String, Double] = {
      val prev = Paths.get("BENCHVEC.json")
      if (!Files.exists(prev)) Map.empty
      else "\"timings_sec\":\\{([^}]*)\\}".r
        .findFirstMatchIn(Files.readString(prev)).toSeq
        .flatMap(sec => "\"([a-z0-9_]+)\":([0-9.]+)".r.findAllMatchIn(sec.group(1))
          .map(m => m.group(1) -> m.group(2).toDouble))
        .toMap
    }
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      timings(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    def buildIfStale(path: String, name: String)(body: => Unit): Unit =
      if (!isFresh(path)) { timed(name)(body); stamp(path) }
      else prevTimings.get(name).foreach(timings(name) = _)
    // Query stages report the MIN of two passes (same rule as
    // graft.Bench): single cold samples on this shared box swing ±30 %,
    // which is larger than the pruning ratios being measured. One-time
    // build/write stages stay single-pass — they ARE cold costs.
    def timedMin2[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      body
      val s1 = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val r = body
      timings(name) = math.min(s1, (System.nanoTime() - t1) / 1e9)
      r
    }
    // timedMin2 + scan-bytes of the SECOND pass (steady state): the
    // rchar delta around pass 2 only.
    def timedMin2B[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      body
      val s1 = (System.nanoTime() - t0) / 1e9
      val b0 = processReadBytes()
      val t1 = System.nanoTime()
      val r = body
      timings(name) = math.min(s1, (System.nanoTime() - t1) / 1e9)
      bytesPerLeg(name) = processReadBytes() - b0
      r
    }
    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)

    // ---- corpus: ~500k hash-random unit vectors (3 + id%5 chunks/doc)
    // Components are splitmix64-derived uniforms in [-1, 1) normalized
    // to unit length — deterministic, seed-free, UNSTRUCTURED, and
    // generated in one tight primitive UDF loop (a column-expression
    // variant with nested higher-order functions fell out of codegen
    // and ran interpreted — minutes instead of seconds).
    // (SyntheticVec's ±1 parity vectors were tried first: their bit
    // patterns correlate with the ±1 RP-LSH planes and collapse the
    // 10-bit code distribution to ~100 of 1,024 buckets — useless for
    // the occupancy realism this bench exists to measure. No oracle
    // consumes this corpus, so SQL reconstructibility is not needed;
    // the hash-exact 768-d family keeps using SyntheticVec at sf.)
    val vecUdf = udf((id: Long) => hashUnitVec(id, Dim))
    val basePath = s"$vecDir/vec768_500k"
    buildIfStale(basePath, "gen_corpus") {
      spark.range(NDocs)
        .select(col("id").as("doc_id"),
          explode(sequence(lit(0L), lit(2L) + pmod(col("id"), lit(5L)))).as("cidx"))
        .select((col("doc_id") * 8 + col("cidx")).as("vec_id"), col("doc_id"),
          vecUdf(col("doc_id") * 8 + col("cidx")).cast("array<float>").as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(basePath)
    }
    val corpus = spark.read.parquet(basePath)
      .select(col("vec_id"), col("doc_id"), col("embedding").cast("array<double>").as("embedding"))
    val nVecs = corpus.count()
    stats("n_vectors") = nVecs.toString

    // Raw store keyed for point fetches: Layout.pointFetchWrite —
    // range-partitioned, SORTED by vec_id, and id pages capped at 8
    // rows so the parquet column index resolves candidate ids to 8-row
    // ranges (round-13 task 5). Two measured findings drove this:
    // (1) an unsorted broadcast-join rescore probes every row (made
    // ADC+rescore SLOWER than brute force, 11.1 s vs 6.8 s);
    // (2) a sorted layout fetched via `isin` STILL read the whole
    // table — Spark pushes 200 ids as parquet's native In predicate,
    // which prunes nothing, and default 1 MB id pages span ~2,000 rows
    // so even or-of-eq pruning dragged ~12 MB of payload per id-page
    // hit. pointFetchWrite + idsPredicate read 15.4 MB per 200-id
    // fetch on this table (measured; was 2,955 MB — the rescore
    // *_rescore200 byte legs below carry the ratio under drift check).
    val byidPath = s"$vecDir/vec768_500k_byid"
    buildIfStale(byidPath, "byid_sorted_write") {
      graft.operators.Layout.pointFetchWrite(corpus, "vec_id", byidPath)
    }
    val byid = spark.read.parquet(byidPath)
    def rescoreTop10(candIds: Array[Long], q: Seq[Double],
                     src: DataFrame = byid, idCol: String = "vec_id"): Set[Long] =
      src.filter(graft.operators.Layout.idsPredicate(col(idCol), candIds.toSeq))
        .withColumn("sim", VectorFunctions.dot(col("embedding"), typedLit(q)))
        .orderBy(col("sim").desc, col(idCol).asc).limit(10)
        .select(idCol).collect().map(_.getLong(0)).toSet

    // Query vectors: PERTURBED corpus vectors — query i targets corpus
    // vec_id 8000·i with ~0.89 cosine (unit(v + 0.5·noise)), the
    // realistic "query resembles some documents" shape. Pure-random
    // queries have NO true neighbors (every top-10 is marginal noise),
    // which makes recall@10 meaningless; perturbation makes it a real
    // measurement of the pruning/recall trade.
    val targets: Map[Int, Array[Double]] = {
      val ids = (0 until NQueries).map(i => 8000L * i)
      val m = corpus.filter(col("vec_id").isin(ids: _*))
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      (0 until NQueries).map(i => i -> m(8000L * i)).toMap
    }
    def qv(i: Int): Seq[Double] = {
      val t = targets(i)
      val noise = hashUnitVec(3000000L + i, Dim)
      val v = Array.tabulate(Dim)(j => t(j) + 0.5 * noise(j))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }

    // ---- brute force: the exact baseline ----
    val brute: Seq[Set[Long]] = timedMin2B("brute_force_knn_8q") {
      (0 until NQueries).map { i =>
        Search.knn(corpus, qv(i), 10, -1.0, idCol = "vec_id")
          .select("vec_id").collect().map(_.getLong(0)).toSet
      }
    }

    // ---- Batched serving: the SAME 8 queries through ONE scan
    // (knnBatch: explode against the literal query matrix + map-side
    // bounded top-k) — the amortization ratio vs the per-query loop
    // above is the headline number for query-throughput serving. ----
    val qbatch: Seq[(Long, Seq[Double])] =
      (0 until NQueries).map(i => (i.toLong, qv(i)))
    val batchHits: Map[Long, Set[Long]] = timedMin2B("batch_knn_8q_one_scan") {
      Search.knnBatch(corpus, qbatch, 10, -1.0)
        .select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    }
    stats("batch_knn_matches_loop") =
      s"${(0 until NQueries).count(i => batchHits(i.toLong) == brute(i))} of $NQueries"

    // ---- IVF: sampled train → broadcast argmin assign → cell layout ----
    val ivfPath = s"$vecDir/vec768_500k_ivf"
    val centroids = timed("ivf_train_sampled") {
      Search.ivfTrainSampled(corpus.withColumn("tenant", lit("u1")),
        "tenant", "vec_id", "embedding", NCells)
    }
    buildIfStale(ivfPath, "ivf_assign_write") {
      // NOT repartitioned by cell (unlike the S8 serving table): a
      // one-file-per-cell layout halves the write time but caps a
      // 4-cell probe read at 4 tasks (measured ivf_topk 1.2 → 2.9 s on
      // 32 cores). At real scale maxPartitionBytes re-splits big cell
      // files anyway; at bench scale the sliver files ARE the read
      // parallelism, so the probe path keeps them.
      Search.ivfAssign(corpus.withColumn("tenant", lit("u1")),
          "tenant", "vec_id", "embedding", centroids)
        // id-sorted within each cell file: the IVF-PQ rescore's
        // isin(candidates) then page-skips inside the probed cells
        .sortWithinPartitions("cell", "id")
        .write.mode("overwrite").partitionBy("tenant", "cell").parquet(ivfPath)
    }
    val ivfIndexed = spark.read.parquet(ivfPath)
    val ivfHits: Seq[Set[Long]] = timedMin2B("ivf_topk_8q_nprobe4") {
      (0 until NQueries).map { i =>
        val cells = Search.ivfProbeCells(centroids, "u1", qv(i), NProbe)
        Search.knn(ivfIndexed.filter(col("cell").isin(cells: _*)), qv(i), 10, -1.0,
            idCol = "id", embCol = "embedding")
          .select("id").collect().map(_.getLong(0)).toSet
      }
    }
    stats("ivf_recall_at_10") =
      f3(ivfHits.zip(brute).map { case (a, b) => (a & b).size / 10.0 }.sum / NQueries)
    // the sharper signal: each query targets corpus vector 8000·i at
    // ~0.89 cosine — did the pruned search find its intended nearest
    // neighbor? (recall@10 also counts the other 9 slots, which on a
    // random corpus are near-tie marginals scattered across all cells)
    stats("ivf_target_found") =
      f3((0 until NQueries).count(i => ivfHits(i).contains(8000L * i)).toDouble / NQueries)

    // Probe sweep — the recall/scan-fraction CURVE, not one point: at
    // 100 TB nProbe is the knob an operator actually turns, and the
    // sweep shows where the random-corpus recall saturates vs the
    // nProbe/nCells scan cost. (nProbe=4 is measured above.)
    for (np <- Seq(1, 8, 16)) {
      val hits: Seq[Set[Long]] = timedMin2(s"ivf_topk_8q_nprobe$np") {
        (0 until NQueries).map { i =>
          val cells = Search.ivfProbeCells(centroids, "u1", qv(i), np)
          Search.knn(ivfIndexed.filter(col("cell").isin(cells: _*)), qv(i), 10, -1.0,
              idCol = "id", embCol = "embedding")
            .select("id").collect().map(_.getLong(0)).toSet
        }
      }
      stats(s"ivf_recall_nprobe$np") =
        f3(hits.zip(brute).map { case (a, b) => (a & b).size / 10.0 }.sum / NQueries)
      stats(s"ivf_target_found_nprobe$np") =
        f3((0 until NQueries).count(i => hits(i).contains(8000L * i)).toDouble / NQueries)
    }
    // Batched IVF: all 8 queries' probe-4 sets union into ONE pruned
    // scan (cell partition pruning still bounds the read), each row
    // scored only for the queries that probed its cell.
    val ivfBatchHits: Map[Long, Set[Long]] =
      timedMin2("ivf_batch_8q_one_scan_nprobe4") {
        Search.ivfSearchBatch(ivfIndexed, centroids, "u1", qbatch, 10, NProbe,
            threshold = -1.0)
          .select("q_id", "id").collect()
          .groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      }
    stats("ivf_batch_matches_loop") =
      s"${(0 until NQueries).count(i => ivfBatchHits(i.toLong) == ivfHits(i))} of $NQueries"

    val cellSizes = ivfIndexed.groupBy("cell").count()
      .select("count").collect().map(_.getLong(0)).sorted
    stats("ivf_cell_occupancy") =
      s"""{"cells":${cellSizes.length},"min":${cellSizes.head},"p50":${cellSizes(cellSizes.length / 2)},"max":${cellSizes.last}}"""

    // ---- RP-LSH: 10-plane code as partition column, Hamming-2 probe ----
    // Bench-local random hyperplanes from the splitmix generator: the
    // engine's RpLsh ±1 parity planes are engine-neutral for ORACLE
    // parity, but consecutive planes share multiplicative bit
    // structure — at 10+ planes the inter-plane correlation skews the
    // code distribution badly (measured here before the switch: max
    // bucket 46,328 of 500k at 10 planes ≈ 95× the uniform share, and
    // a 9,257-row max cell at 16 planes that made the SemDeDup pair
    // join quadratic). Isotropic splitmix planes restore the uniform
    // occupancy LSH analysis assumes; the oracled sf-scale family
    // keeps the engine planes (parity matters more than balance at 2k
    // rows — and the skew is a documented finding for the engine's
    // plane formula at high plane counts).
    def mkPlanes(n: Int, seedBase: Long): Array[Array[Double]] =
      Array.tabulate(n)(p => hashUnitVec(seedBase + p, Dim))
    def codeOfLocal(planes: Array[Array[Double]], v: Seq[Double]): Long = {
      val a = v.toArray
      var code = 0L; var p = 0
      while (p < planes.length) {
        val pl = planes(p); var s = 0.0; var j = 0
        while (j < Dim) { s += a(j) * pl(j); j += 1 }
        if (s >= 0.0) code |= (1L << p)
        p += 1
      }
      code
    }
    def codeUdf(planes: Array[Array[Double]]) =
      udf((e: Seq[Double]) => codeOfLocal(planes, e))
    def multiprobeLocal(nPlanes: Int, code: Long, radius: Int): Seq[Long] = {
      def flips(c: Long, r: Int, from: Int): Seq[Long] =
        if (r == 0) Seq(c)
        else c +: (from until nPlanes).flatMap(p => flips(c ^ (1L << p), r - 1, p + 1))
      flips(code, radius, 0).distinct.sorted
    }
    val planes10 = mkPlanes(10, 7000000L)
    val lshPath = s"$vecDir/vec768_500k_lsh"
    buildIfStale(lshPath, "lsh_code_write") {
      corpus.withColumn("code", codeUdf(planes10)(col("embedding")))
        .repartition(64, col("code")) // bound file count: ≤64 files/bucket dir
        .write.mode("overwrite").partitionBy("code").parquet(lshPath)
    }
    val lshIndexed = spark.read.parquet(lshPath)
    val lshHits: Seq[Set[Long]] = timedMin2("lsh_multiprobe_8q_r2") {
      (0 until NQueries).map { i =>
        val probes = multiprobeLocal(10, codeOfLocal(planes10, qv(i)), 2)
        Search.knn(lshIndexed.filter(col("code").isin(probes: _*)), qv(i), 10, -1.0,
          idCol = "vec_id").select("vec_id").collect().map(_.getLong(0)).toSet
      }
    }
    stats("lsh_recall_at_10") =
      f3(lshHits.zip(brute).map { case (a, b) => (a & b).size / 10.0 }.sum / NQueries)
    stats("lsh_target_found") =
      f3((0 until NQueries).count(i => lshHits(i).contains(8000L * i)).toDouble / NQueries)
    val bucketSizes = lshIndexed.groupBy("code").count()
      .select("count").collect().map(_.getLong(0)).sorted
    stats("lsh_bucket_occupancy") =
      s"""{"buckets":${bucketSizes.length},"min":${bucketSizes.head},"p50":${bucketSizes(bucketSizes.length / 2)},"max":${bucketSizes.last}}"""

    // 128-bit sign sketch (two longs per vector) for the semdedup
    // prefilter leg below.
    // Splitmix planes, distinct seed base from every blocking-plane
    // set so sketch bits are uncorrelated with block bits. One codegen
    // pass (VectorFunctions.signSketch); measured ≈ parity with the
    // tuned toArray UDF at 500k×768 (the UDF's boxing ≈ the
    // expression's one primitive copy) — the expression's value is
    // the engine path (no UDF boundary, SQL-visible, one shared impl).
    val skPlanes = mkPlanes(128, 7300000L)
    def skWordsUdf(c: org.apache.spark.sql.Column) =
      VectorFunctions.signSketch(c.cast("array<double>"), skPlanes)

    // mid-run weather sample (round-13: BENCHVEC narrates window
    // bursts — give the artifact the evidence, like Bench's
    // cal_samples)
    calSamples += calibrate()
    calDiskSamples += BenchProbe.calibrateDisk()

    // ---- SemDeDup at 16 planes (65,536 cells) with injected copies ----
    val planes16 = mkPlanes(16, 7100000L)
    val drops = timedMin2("semdedup_16planes") {
      val copies = corpus.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      val coded = corpus.select(col("vec_id"), col("embedding"))
        .unionByName(copies)
        .withColumn("code", codeUdf(planes16)(col("embedding")))
        .persist()
      val a = coded.select(col("code"), col("vec_id").as("id_a"), col("embedding").as("emb_a"))
      val b = coded.select(col("code"), col("vec_id").as("id_b"), col("embedding").as("emb_b"))
      val n = a.join(b, Seq("code"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("sim", VectorFunctions.dot(col("emb_a"), col("emb_b")))
        .filter(col("sim") >= 0.95)
        .select("id_b").distinct().count()
      coded.unpersist()
      n
    }
    stats("semdedup_drops") = drops.toString

    // ---- SemDeDup, sketch-prefiltered: the exact leg's pair join
    // streams BOTH 768-d embeddings through every same-cell candidate
    // pair (~9M pairs × ~12 KB ≈ 100+ GB of memory traffic — why the
    // exact leg swings 11–31 s with box weather: it is bandwidth-
    // bound, not FLOP-bound). Here the pair join streams (id + two
    // sketch longs ≈ 24 B/row); pairs passing the Hamming gate
    // (≤ 38/128 disagreeing bits) fetch embeddings back BY ID for the
    // EXACT cos ≥ 0.95 verify, so false sketch survivors cost a dot,
    // never a wrong answer. Threshold margin at 128 bits: a true pair
    // at cos = 0.95 disagrees on ~13 ± 3.4 bits (38 is +7.3σ — miss
    // probability ~1e-13 per pair), while an unrelated same-cell pair
    // (cos ≲ 0.26 at this corpus size) sits at ≥ 53 ± 5.6 (38 is
    // −2.7σ), so survivors ≈ true pairs. Drops must equal the exact
    // leg's — asserted in the stats line below. ----
    val dropsSk = timedMin2B("semdedup_16planes_sketch128") {
      val copies = corpus.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      val all = corpus.select(col("vec_id"), col("embedding")).unionByName(copies)
      // `w` stays an ARRAY column through the persist: taking
      // element_at(w,1)/(w,2) in the SAME projection makes
      // CollapseProject inline the 128-plane sketch expression into
      // BOTH references — the whole coding pass runs twice per row
      // (measured 7.9 vs 5.2 s; the mm_phash re-inlining lesson).
      // After the cache boundary element_at reads the stored array.
      val coded = all
        .withColumn("code", codeUdf(planes16)(col("embedding")))
        .withColumn("w", skWordsUdf(col("embedding")))
        .select(col("vec_id"), col("code"), col("w"))
        .persist()
      val a = coded.select(col("code"), col("vec_id").as("id_a"),
        element_at(col("w"), 1).as("a0"), element_at(col("w"), 2).as("a1"))
      val b = coded.select(col("code"), col("vec_id").as("id_b"),
        element_at(col("w"), 1).as("b0"), element_at(col("w"), 2).as("b1"))
      val surv = a.join(b, Seq("code"))
        .filter(col("id_a") < col("id_b"))
        .filter(expr("bit_count(a0 ^ b0) + bit_count(a1 ^ b1)") <= 38)
        .select("id_a", "id_b")
        .persist() // two consumers (id fetch + verify join); ~true-pair count rows
      // Fetch survivors' embeddings with ONE broadcast-pruned corpus
      // scan, then verify over the tiny fetched relations. The naive
      // form — joining the survivor pairs straight to the corpus
      // twice — sort-merge-shuffled the full 3 GB embedding relation
      // per side (measured: 42 s / 11 GB read; this shape is 9 s).
      val ids = surv.select(explode(array(col("id_a"), col("id_b"))).as("vec_id"))
        .distinct()
      val embs = all.join(broadcast(ids), Seq("vec_id"))
        .persist() // ≤ 2·survivors rows; consumed by both pair sides
      val n = surv
        .join(embs.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), Seq("id_a"))
        .join(embs.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), Seq("id_b"))
        .withColumn("sim", VectorFunctions.dot(col("emb_a"), col("emb_b")))
        .filter(col("sim") >= 0.95)
        .select("id_b").distinct().count()
      embs.unpersist()
      surv.unpersist()
      coded.unpersist()
      n
    }
    stats("semdedup_sketch_drops_match") =
      s"""{"exact":$drops,"sketch":$dropsSk,"match":${drops == dropsSk}}"""

    val bucket16 = corpus.select(codeUdf(planes16)(col("embedding")).as("code"))
      .groupBy("code").count().select("count").collect().map(_.getLong(0)).sorted
    stats("semdedup_cell_occupancy") =
      s"""{"cells":${bucket16.length},"min":${bucket16.head},"p50":${bucket16(bucket16.length / 2)},"max":${bucket16.last}}"""
    // The semDedupAuto route estimator (round-13 verdict task 5),
    // computed from the SAME occupancy profile the auto path derives
    // from bucket stats: Σ n·(n−1)/2 same-cell pairs × 2 embeddings ×
    // 768 × 8 B = the exact path's pair payload. Above the 2 GiB
    // budget the engine routes the sketch prefilter — at this corpus
    // the payload is ~100 GB, so the route is SKETCH here and EXACT at
    // the oracle SFs (~50 MB), with the gate hash-green either way.
    locally {
      val pairEst = bucket16.map(n => n * (n - 1) / 2).sum
      val payloadB = pairEst * 2L * Dim * 8L
      val routed = if (payloadB > (2L << 30)) "sketch" else "exact"
      stats("semdedup_pair_estimate") =
        s"""{"pairs":$pairEst,"payload_gb":${f3(payloadB / 1073741824.0)},"route":"$routed"}"""
    }

    // ---- PQ: compressed-scan ANN (m=96 × ksub=256 ⇒ 96 B codes vs
    // 3,072 B float32 embeddings — a 32× smaller full-corpus scan,
    // ADC-scored against a broadcast 96×256 lookup table, exact
    // rescore of the top 200). The scan-bytes ratio is the 100 TB
    // story: the raw table is touched for rescoreK rows only. ----
    val corpusT = corpus.withColumn("tenant", lit("all"))
    val pqBooks = timed("pq_train_sampled") {
      PQ.pqTrainSampled(corpusT, "tenant", "vec_id", "embedding", 96, 256, 2048)
    }
    val pqPath = s"$vecDir/vec768_500k_pq"
    buildIfStale(pqPath, "pq_encode_write") {
      PQ.pqEncodePacked(corpusT, "tenant", "vec_id", "embedding", pqBooks)
        .write.mode("overwrite").parquet(pqPath)
    }
    val pqEnc = spark.read.parquet(pqPath)
    val pqHits: Seq[Set[Long]] = timedMin2B("pq_adc_topk_8q_rescore200") {
      (0 until NQueries).map { i =>
        // ADC over the 96 B/row codes table (codegen AdcScore), then
        // the 200 survivors fetched from the id-sorted raw store with
        // the isin pushed into the scan — page skipping, not a
        // full-table embedding decode
        val cand = pqEnc
          .withColumn("adc", VectorFunctions.adcScore(col("codes"),
            PQ.adcLut(pqBooks("all"), qv(i))))
          .orderBy(col("adc").desc, col("id").asc).limit(200)
          .select("id").collect().map(_.getLong(0))
        rescoreTop10(cand, qv(i))
      }
    }
    stats("pq_recall_at_10") =
      f3(pqHits.zip(brute).map { case (a, b) => (a & b).size / 10.0 }.sum / NQueries)
    stats("pq_target_found") =
      f3((0 until NQueries).count(i => pqHits(i).contains(8000L * i)).toDouble / NQueries)
    stats("pq_code_bytes") = "96 of 3072 float32 (32x)"

    // ---- Batched PQ serving (PQ.pqSearchBatch — the operator the
    // ann_pq_batch gate runs): the SAME 8 queries through ONE codes
    // scan (8 stacked codegen ADC expressions + per-query partial
    // TopK-200) and ONE or-of-eq point-fetch rescore of the candidate
    // union (≤1,600 ids). Amortizes both the 50 MB codes scan and the
    // per-query point-fetch round-trip — the compressed-tier
    // counterpart of batch_knn_8q_one_scan. ----
    val pqBatchHits: Map[Long, Set[Long]] =
      timedMin2B("pq_adc_batch_8q_one_scan_rescore200") {
        PQ.pqSearchBatch(pqEnc, byid.withColumn("tenant", lit("all")),
            pqBooks, "all", qbatch, 10, 200,
            idCol = "vec_id", embCol = "embedding")
          .select("q_id", "id").collect()
          .groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      }
    stats("pq_batch_matches_loop") =
      s"${(0 until NQueries).count(i => pqBatchHits(i.toLong) == pqHits(i))} of $NQueries"

    // ---- Binary quantization: 1 bit/dim — the same 96 B/row as the
    // PQ codes but with NO training and integer-only scoring (12
    // XOR+popcount word ops per row vs 96 LUT lookups). The cheapest
    // coarse tier; recall trails PQ at equal bytes, which is exactly
    // the trade this section quantifies. ----
    val binPath = s"$vecDir/vec768_500k_bin"
    buildIfStale(binPath, "bin_pack_write") {
      // pack with a plain UDF, not SQL higher-order functions: HOF
      // lambdas are interpreted per element (384M lambda calls for
      // 500k×768 measured 533 s); the tight JVM loop is one pass
      val packUdf = udf((emb: Seq[Double]) => {
        val a = emb.toArray // O(1) indexing; Seq apply is list-like O(j)
        val out = new Array[Long](12)
        var w = 0
        while (w < 12) {
          var acc = 0L
          var i = 0
          while (i < 64) { if (a(w * 64 + i) > 0.0) acc |= (1L << i); i += 1 }
          out(w) = acc; w += 1
        }
        out.toSeq
      })
      // FLAT word columns, not array<long>: parquet array decode pays
      // per-element repetition-level overhead on every row; 12 plain
      // BIGINT columns read as vectorized flat pages and the XOR+
      // popcount chain runs on them directly inside codegen
      corpus.select(col("vec_id"), packUdf(col("embedding")).as("bw"))
        .select(Seq(col("vec_id")) ++
          (0 until 12).map(w => element_at(col("bw"), w + 1).as(s"w$w")): _*)
        .write.mode("overwrite").parquet(binPath)
    }
    val binCodes = spark.read.parquet(binPath)
    def packQ(q: Seq[Double]): Seq[Long] = (0 until 12).map { w =>
      var acc = 0L
      var i = 0
      while (i < 64) { if (q(w * 64 + i) > 0.0) acc |= (1L << i); i += 1 }
      acc
    }
    val binHits: Seq[Set[Long]] = timedMin2B("binary_hamming_8q_rescore200") {
      (0 until NQueries).map { i =>
        val qw = packQ(qv(i))
        // 12 unrolled bit_count(word ^ query-word) terms — plain
        // codegen expressions over flat columns, no interpreted
        // lambda and no array accessor in the scan
        val hamming = (0 until 12).map { w =>
          expr(s"CAST(bit_count(w$w ^ CAST('${qw(w)}' AS BIGINT)) AS BIGINT)")
        }.reduce(_ + _)
        val cand = binCodes
          .withColumn("hamming", hamming)
          .orderBy(col("hamming").asc, col("vec_id").asc).limit(200)
          .select("vec_id").collect().map(_.getLong(0))
        rescoreTop10(cand, qv(i))
      }
    }
    stats("binary_recall_at_10") =
      f3(binHits.zip(brute).map { case (a, b) => (a & b).size / 10.0 }.sum / NQueries)
    stats("binary_target_found") =
      f3((0 until NQueries).count(i => binHits(i).contains(8000L * i)).toDouble / NQueries)
    stats("binary_code_bytes") = "96 of 3072 float32 (32x, no codebook)"

    // ---- Batched binary serving: the same one-scan amortization as
    // pq_adc_batch, on the training-free tier — 8 stacked 12-term
    // XOR+popcount chains (score = −hamming so the shared TopK's
    // DESC order ranks nearest first, tie-broken id ASC exactly like
    // the loop's orderBy), per-query partial TopK-200, ONE or-of-eq
    // point-fetch rescore of the candidate union. Completes the
    // batch-serving story: brute, IVF, PQ and binary all have a
    // one-scan batch path. ----
    val binBatchHits: Map[Long, Set[Long]] =
      timedMin2B("binary_hamming_batch_8q_one_scan_rescore200") {
        import spark.implicits._
        val hamArr = array((0 until NQueries).map { i =>
          val qw = packQ(qv(i))
          val ham = (0 until 12).map { w =>
            expr(s"CAST(bit_count(w$w ^ CAST('${qw(w)}' AS BIGINT)) AS BIGINT)")
          }.reduce(_ + _)
          struct(lit(i.toLong).as("q_id"), (-ham).cast("double").as("score"))
        }: _*)
        val cand = graft.functions.TopK.primitiveTopK(
            binCodes.select(col("vec_id"), explode(hamArr).as("qh"))
              .select(col("qh.q_id").as("q_id"), col("qh.score").as("score"), col("vec_id"))
              .as[(Long, Double, Long)], 200)
          .select(col("g").as("q_id"), explode(col("top")).as("r"))
          .select(col("q_id"), col("r.id").as("vec_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val ids = cand.map(_._2).distinct.toSeq
        val qmapB: Map[Long, Seq[Double]] = qbatch.toMap
        byid.filter(graft.operators.Layout.idsPredicate(col("vec_id"), ids))
          .join(broadcast(cand.toSeq.toDF("q_id", "vec_id")), Seq("vec_id"))
          .withColumn("sim",
            VectorFunctions.dot(col("embedding"), element_at(typedLit(qmapB), col("q_id"))))
          .withColumn("rnk", row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id").asc)))
          .filter(col("rnk") <= 10)
          .select("q_id", "vec_id").collect()
          .groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      }
    stats("binary_batch_matches_loop") =
      s"${(0 until NQueries).count(i => binBatchHits(i.toLong) == binHits(i))} of $NQueries"

    // ---- SCAN-ONLY byte legs (round-11 verdict task 1): the
    // compressed tiers' 100 TB lever is bytes TOUCHED per scan, so
    // measure exactly that — one query, candidate-generation scan
    // only, no rescore muddying the count. (Round 12's metering of the
    // full *_rescore200 legs caught the rescore point-fetch reading
    // ~the whole raw table per query — root-caused to native-In
    // pushdown + 2,000-row id pages and fixed by
    // Layout.pointFetchWrite/idsPredicate in round 13; the rescore
    // legs' bytes_read now carry the fixed numbers.)
    val q0v = qv(0)
    timedMin2B("float_scan_only_1q") {
      Search.knn(corpus, q0v, 10, -1.0, idCol = "vec_id")
        .select("vec_id").collect()
    }
    timedMin2B("pq_adc_scan_only_1q") {
      pqEnc.withColumn("adc", VectorFunctions.adcScore(col("codes"),
          PQ.adcLut(pqBooks("all"), q0v)))
        .orderBy(col("adc").desc, col("id").asc).limit(200)
        .select("id").collect()
    }
    timedMin2B("binary_scan_only_1q") {
      val qw = packQ(q0v)
      val hamming = (0 until 12).map { w =>
        expr(s"CAST(bit_count(w$w ^ CAST('${qw(w)}' AS BIGINT)) AS BIGINT)")
      }.reduce(_ + _)
      binCodes.withColumn("hamming", hamming)
        .orderBy(col("hamming").asc, col("vec_id").asc).limit(200)
        .select("vec_id").collect()
    }

    // ---- IVF-PQ: the full FAISS-shaped serving layout — codes joined
    // to their IVF cell, written partitioned by cell. A query reads
    // ONLY the probed partitions' CODES: per-query scan ≈
    // (nProbe/nCells) × 96 B/row, compounding both prunings. ----
    val ivfpqPath = s"$vecDir/vec768_500k_ivfpq"
    buildIfStale(ivfpqPath, "ivfpq_codes_write") {
      pqEnc.select(col("id").as("vec_id"), col("codes"))
        .join(ivfIndexed.select(col("id").as("vec_id"), col("cell")), Seq("vec_id"))
        .select("vec_id", "codes", "cell")
        .write.mode("overwrite").partitionBy("cell").parquet(ivfpqPath)
    }
    val ivfpq = spark.read.parquet(ivfpqPath)
    val ivfpqHits: Seq[Set[Long]] = timedMin2B("ivfpq_topk_8q_nprobe8_rescore200") {
      (0 until NQueries).map { i =>
        val cells = Search.ivfProbeCells(centroids, "u1", qv(i), 8)
        val cand = ivfpq.filter(col("cell").isin(cells: _*))
          .withColumn("adc",
            VectorFunctions.adcScore(col("codes"), PQ.adcLut(pqBooks("all"), qv(i))))
          .orderBy(col("adc").desc, col("vec_id").asc).limit(200)
          .select("vec_id").collect().map(_.getLong(0))
        // rescore from the byid POINT-FETCH store (round-13: this leg
        // originally rescored from the probed IVF cells — partition
        // pruning bounds that read to nProbe/nCells of the corpus, but
        // 8 cells of raw floats is still ~180 MB/query; the id-page
        // layout fetches the 200 candidates in ~15 MB regardless of
        // which cells they came from: 20.2 s / 2.10 GB → see PERF)
        rescoreTop10(cand, qv(i))
      }
    }
    stats("ivfpq_recall_at_10") =
      f3(ivfpqHits.zip(brute).map { case (a, b) => (a & b).size / 10.0 }.sum / NQueries)
    stats("ivfpq_target_found") =
      f3((0 until NQueries).count(i => ivfpqHits(i).contains(8000L * i)).toDouble / NQueries)

    // ---- Batched IVF-PQ (PQ.ivfpqSearchBatch — the ann_ivfpq_batch
    // gate's operator): ONE scan of the union of all 8 queries'
    // probe-8 cell sets, per-row ADC only against the queries probing
    // that row's cell, one point-fetch rescore for the candidate
    // union. Both prunings compound ACROSS the batch. ----
    val ivfpqBatchHits: Map[Long, Set[Long]] =
      timedMin2B("ivfpq_batch_8q_one_scan_nprobe8_rescore200") {
        val encCells = ivfpq
          .select(col("vec_id").as("id"), col("codes"), col("cell"))
          .withColumn("tenant", lit("u1"))
        PQ.ivfpqSearchBatch(encCells, byid.withColumn("tenant", lit("u1")),
            Map("u1" -> pqBooks("all")), centroids, "u1", qbatch, 10, 200, 8,
            idCol = "vec_id", embCol = "embedding")
          .select("q_id", "id").collect()
          .groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      }
    stats("ivfpq_batch_matches_loop") =
      s"${(0 until NQueries).count(i => ivfpqBatchHits(i.toLong) == ivfpqHits(i))} of $NQueries"

    // ---- IVFADC (round-13 verdict task 4): the same probe-8 scan at
    // IDENTICAL bytes (96 B packed codes), but codes quantize the
    // RESIDUAL v − centroid(cell) and ADC adds the per-cell
    // dot(q, centroid) constant — the textbook Jégou 2011 fix for the
    // raw-coded tier's ranking error (r13: ivfpq recall 0.275 vs
    // plain IVF's cell-bounded 0.288 at nprobe 8; residual coding
    // should close toward that ceiling at zero query-time cost). ----
    val corpusU = corpus.withColumn("tenant", lit("u1"))
    val adcBooks = timed("ivfadc_train_residual_sampled") {
      PQ.pqTrainResidualSampled(corpusU, "tenant", "vec_id", "embedding",
        centroids, 96, 256, 2048)
    }
    val ivfadcPath = s"$vecDir/vec768_500k_ivfadc"
    buildIfStale(ivfadcPath, "ivfadc_encode_write") {
      PQ.pqEncodeResidualPacked(corpusU, "tenant", "vec_id", "embedding",
          centroids, adcBooks)
        .select(col("id").as("vec_id"), col("codes"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(ivfadcPath)
    }
    val ivfadcEnc = spark.read.parquet(ivfadcPath)
    def centQDot(cells: Seq[Int], q: Seq[Double]): Map[Int, Double] =
      cells.map { c =>
        val cen = centroids("u1")(c)
        var s = 0.0; var j = 0
        while (j < Dim) { s += cen(j) * q(j); j += 1 }
        c -> s
      }.toMap
    val ivfadcHits: Seq[Set[Long]] = timedMin2B("ivfadc_topk_8q_nprobe8_rescore200") {
      (0 until NQueries).map { i =>
        val cells = Search.ivfProbeCells(centroids, "u1", qv(i), 8)
        val cand = ivfadcEnc.filter(col("cell").isin(cells: _*))
          .withColumn("adc",
            VectorFunctions.adcScore(col("codes"), PQ.adcLut(adcBooks("u1"), qv(i))) +
              element_at(typedLit(centQDot(cells, qv(i))), col("cell")))
          .orderBy(col("adc").desc, col("vec_id").asc).limit(200)
          .select("vec_id").collect().map(_.getLong(0))
        rescoreTop10(cand, qv(i))
      }
    }
    stats("ivfadc_recall_at_10") =
      f3(ivfadcHits.zip(brute).map { case (a, b) => (a & b).size / 10.0 }.sum / NQueries)
    stats("ivfadc_target_found") =
      f3((0 until NQueries).count(i => ivfadcHits(i).contains(8000L * i)).toDouble / NQueries)

    // ---- X1 at corpus scale: chunk → batch-embed → index 100k docs ----
    def docsCorpus = spark.range(NDocs).select(col("id").as("doc_id"),
      lit("upload").as("source"),
      concat(lit("doc "), col("id"), lit(" "),
        // deterministic ~1.2 KB body, vocabulary rotates by doc id
        repeat(concat(lit("w"), pmod(col("id"), lit(997)),
          lit(" lorem ipsum dolor sit amet consectetur ")), 28)).as("text"))
    val nIndexed = timedMin2("x1_index_100k_docs") {
      pipelines.IndexPipeline.buildIndex(docsCorpus).count()
    }
    stats("x1_vectors_built") = nIndexed.toString

    // ---- S8 at scale: the doc-granular upsert's cost must be bounded
    // by the TOUCHED buckets, not the table. 400k vectors are written
    // once partitioned (owner, bucket) at 256 buckets; then 16 docs —
    // all ≡ 7 (mod 256), i.e. ONE bucket — are re-indexed with new
    // text through the full write-audit-publish path. The ratio of the
    // two timings is the pruning: the upsert re-reads and rewrites
    // ~1/256 of the table plus fixed per-action driver overhead.
    // (timedMin2 doubles as an idempotence demonstration — the second
    // pass replays the same merge and must converge to the same
    // state.)
    val s8Path = s"$vecDir/vec768_100kdocs_bucketed"
    buildIfStale(s8Path, "s8_bucketed_write_400k") {
      pipelines.IndexPipeline.writeVectorsBucketed(
        pipelines.IndexPipeline.buildIndex(docsCorpus), s8Path, nBuckets = 256)
    }
    val reBatch = pipelines.IndexPipeline.buildIndex(
      docsCorpus.filter(pmod(col("doc_id"), lit(256)) === 7 && col("doc_id") < 4096)
        .withColumn("text", concat(col("text"), lit(" v2"))))
    timedMin2("s8_upsert_16docs_1bucket") {
      pipelines.IndexPipeline.upsertDocsBucketed(spark, s8Path, reBatch)
    }
    stats("s8_touched_buckets") = "1 of 256"

    // ---- CDC index-maintenance churn-flatness (round-13 verdict
    // tasks 1 + 6): x17 (IVF cells), x19 (PQ codes) and x20 (byid
    // point-fetch layout) claim O(churn) maintenance; these legs run
    // the SAME 1,000-row churn batch (500 updates + 500 inserts, plus
    // 250 deletes on the byid store) against a 5k-vector store and
    // the 500k-vector store — 100× the corpus — through the real read
    // path (additions point-fetched from the store, assets frozen).
    // O(churn) ⇒ the 500k/5k wall ratio stays ~1 (±2×), while a
    // rebuild would scale 100× (the ivf_assign_write / pq_encode_write
    // timings above are the rebuild reference). The byid base rides
    // in as a SYMLINKED segment 0, so the cached layouts are never
    // mutated and each run starts from a clean base. ----
    locally {
      import spark.implicits._
      import graft.operators.ByidStore
      val smallByidPath = s"$vecDir/vec768_5k_byid"
      buildIfStale(smallByidPath, "byid_5k_sorted_write") {
        graft.operators.Layout.pointFetchWrite(
          corpus.filter(col("vec_id") < 9000), "vec_id", smallByidPath)
      }
      val updIds = (0 until 500).map(k => 8L * k)       // chunk 0 of docs 0..499
      val delIds = (0 until 250).map(k => 8L * k + 1)   // chunk 1 — always exists
      val insIds = (0 until 500).map(k => 20000000L + k)
      val churnAdd = (updIds ++ insIds).toDF("vec_id")
        .select(col("vec_id"), expr("vec_id div 8").as("doc_id"),
          vecUdf(col("vec_id") + 5555000L).cast("array<double>").as("embedding"))
      val removals = (updIds ++ delIds).toDF("vec_id")
      def freshStore(baseSeg: String): String = {
        val p = Files.createTempDirectory("graft_byid_maint_")
        Files.createSymbolicLink(p.resolve("seg_00000"),
          Paths.get(baseSeg).toAbsolutePath)
        // the store only serves COMMITTED batches (r14 task 7) and reads
        // with its schema sidecar — the symlinked base needs both, like
        // any published segment
        Files.createFile(p.resolve("commit_00000"))
        Files.write(p.resolve("_schema.json"), ByidStore.asNullable(
          spark.read.parquet(baseSeg).schema).json.getBytes("UTF-8"))
        p.toString
      }
      val store5k = freshStore(smallByidPath)
      val store500k = freshStore(byidPath)
      // applyCdc mutates store state — single-pass timings by design
      timed("byid_maint_cdc1k_5k") {
        ByidStore.applyCdc(spark, store5k, removals, churnAdd, "vec_id")
      }
      timed("byid_maint_cdc1k_500k") {
        ByidStore.applyCdc(spark, store500k, removals, churnAdd, "vec_id")
      }
      // post-churn point fetch through base + delta + tombstones: 50
      // updated, 50 inserted, 100 untouched ids — updated/inserted
      // rows MUST come from the delta segment (seg > 0)
      val fetchIds = updIds.take(50) ++ insIds.take(50) ++
        (0 until 100).map(i => (i * 40009L + 3) % (NDocs * 8L))
      val fetched = timedMin2B("byid_fetch200_postchurn_500k") {
        ByidStore.fetch(spark, store500k, fetchIds, "vec_id")
          .select(col("vec_id"), col("seg")).collect()
      }
      stats("byid_postchurn_fetch") = {
        val fromDelta = fetched.count(_.getAs[Int]("seg") > 0)
        s"""{"rows":${fetched.length},"from_delta":$fromDelta,"expect_delta":100}"""
      }
      // IVF / PQ maintenance: pull the churn rows from the store
      // (bounded point read — corpus-independent by the pf layout),
      // assign/encode against the FROZEN 500k-trained assets, append
      // a delta — the x17/x19 shape with the real IO on both ends.
      def pullChurn(store: String): DataFrame =
        ByidStore.fetch(spark, store, updIds ++ insIds, "vec_id")
          .select(col("vec_id"), col("embedding"))
          .withColumn("tenant", lit("u1"))
      def maintLeg(name: String, store: String)(enc: DataFrame => DataFrame): Unit =
        timed(name) {
          val delta = Files.createTempDirectory(s"graft_${name}_").toString
          enc(pullChurn(store)).write.mode("overwrite").parquet(delta)
        }
      maintLeg("ivf_maint_cdc1k_5k", store5k)(rows =>
        Search.ivfAssign(rows, "tenant", "vec_id", "embedding", centroids))
      maintLeg("ivf_maint_cdc1k_500k", store500k)(rows =>
        Search.ivfAssign(rows, "tenant", "vec_id", "embedding", centroids))
      maintLeg("pq_maint_cdc1k_5k", store5k)(rows =>
        PQ.pqEncodePacked(rows.withColumn("tenant", lit("all")),
          "tenant", "vec_id", "embedding", pqBooks))
      maintLeg("pq_maint_cdc1k_500k", store500k)(rows =>
        PQ.pqEncodePacked(rows.withColumn("tenant", lit("all")),
          "tenant", "vec_id", "embedding", pqBooks))
      def ratio(a: String, b: String): String =
        f3(timings(b) / math.max(timings(a), 1e-9))
      stats("maint_flatness_500k_over_5k") =
        s"""{"byid":${ratio("byid_maint_cdc1k_5k", "byid_maint_cdc1k_500k")},""" +
          s""""ivf":${ratio("ivf_maint_cdc1k_5k", "ivf_maint_cdc1k_500k")},""" +
          s""""pq":${ratio("pq_maint_cdc1k_5k", "pq_maint_cdc1k_500k")}}"""
    }

    // ---- CLUSTERED corpus: recall realism. The sections above run on
    // UNSTRUCTURED random vectors — the provable worst case for any
    // pruned search (true top-10 are near-tie marginals scattered
    // uniformly, so low recall@10 there measures the corpus, not the
    // index). Real embedding corpora are clustered; this section draws
    // the same 500k vectors around 1,024 latent centers
    // (unit(center + 0.6·noise) ⇒ ~0.73 within-cluster cosine vs ~0
    // cross-cluster) and re-measures — the number that predicts
    // production recall. ----
    val cluUdf = udf { (id: Long) =>
      val c = hashUnitVec(9000000L + id % 1024, Dim)
      val n = hashUnitVec(4000000L + id, Dim)
      val v = Array.tabulate(Dim)(j => c(j) + 0.6 * n(j))
      val nn = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nn)
    }
    val cluPath = s"$vecDir/vec768_500k_clu"
    buildIfStale(cluPath, "clu_gen_corpus") {
      spark.range(NDocs)
        .select(col("id").as("doc_id"),
          explode(sequence(lit(0L), lit(2L) + pmod(col("id"), lit(5L)))).as("cidx"))
        .select((col("doc_id") * 8 + col("cidx")).as("vec_id"),
          cluUdf(col("doc_id") * 8 + col("cidx")).cast("array<float>").as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(cluPath)
    }
    // mid-run weather sample (round-13: BENCHVEC narrates window
    // bursts — give the artifact the evidence, like Bench's
    // cal_samples)
    calSamples += calibrate()
    calDiskSamples += BenchProbe.calibrateDisk()

    val clu = spark.read.parquet(cluPath)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    def cluVec(id: Long): Array[Double] = {
      val c = hashUnitVec(9000000L + id % 1024, Dim)
      val n = hashUnitVec(4000000L + id, Dim)
      val v = Array.tabulate(Dim)(j => c(j) + 0.6 * n(j))
      val nn = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nn)
    }
    def cluQv(i: Int): Seq[Double] = {
      val t = cluVec(8000L * i)
      val noise = hashUnitVec(3100000L + i, Dim)
      val v = Array.tabulate(Dim)(j => t(j) + 0.5 * noise(j))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    val cluBrute: Seq[Set[Long]] = timedMin2B("clu_brute_force_8q") {
      (0 until NQueries).map { i =>
        Search.knn(clu, cluQv(i), 10, -1.0, idCol = "vec_id")
          .select("vec_id").collect().map(_.getLong(0)).toSet
      }
    }
    val cluT = clu.withColumn("tenant", lit("u1"))
    val cluCents = timed("clu_ivf_train_sampled") {
      Search.ivfTrainSampled(cluT, "tenant", "vec_id", "embedding", NCells)
    }
    val cluIvfPath = s"$vecDir/vec768_500k_clu_ivf"
    buildIfStale(cluIvfPath, "clu_ivf_assign_write") {
      Search.ivfAssign(cluT, "tenant", "vec_id", "embedding", cluCents)
        .sortWithinPartitions("cell", "id")
        .write.mode("overwrite").partitionBy("tenant", "cell").parquet(cluIvfPath)
    }
    val cluIvf = spark.read.parquet(cluIvfPath)
    for (np <- Seq(4, 8)) {
      val hits: Seq[Set[Long]] = timedMin2(s"clu_ivf_topk_8q_nprobe$np") {
        (0 until NQueries).map { i =>
          val cells = Search.ivfProbeCells(cluCents, "u1", cluQv(i), np)
          Search.knn(cluIvf.filter(col("cell").isin(cells: _*)), cluQv(i), 10, -1.0,
              idCol = "id", embCol = "embedding")
            .select("id").collect().map(_.getLong(0)).toSet
        }
      }
      stats(s"clu_ivf_recall_nprobe$np") =
        f3(hits.zip(cluBrute).map { case (a, b) => (a & b).size / 10.0 }.sum / NQueries)
      stats(s"clu_ivf_target_found_nprobe$np") =
        f3((0 until NQueries).count(i => hits(i).contains(8000L * i)).toDouble / NQueries)
    }
    val cluCellSizes = cluIvf.groupBy("cell").count()
      .select("count").collect().map(_.getLong(0)).sorted
    stats("clu_ivf_cell_occupancy") =
      s"""{"cells":${cluCellSizes.length},"min":${cluCellSizes.head},"p50":${cluCellSizes(cluCellSizes.length / 2)},"max":${cluCellSizes.last}}"""
    val cluBooks = timed("clu_pq_train_sampled") {
      PQ.pqTrainSampled(cluT.withColumn("tenant", lit("all")),
        "tenant", "vec_id", "embedding", 96, 256, 2048)
    }
    val cluPqPath = s"$vecDir/vec768_500k_clu_pq"
    buildIfStale(cluPqPath, "clu_pq_encode_write") {
      PQ.pqEncodePacked(cluT.withColumn("tenant", lit("all")),
          "tenant", "vec_id", "embedding", cluBooks)
        .write.mode("overwrite").parquet(cluPqPath)
    }
    val cluByidPath = s"$vecDir/vec768_500k_clu_byid"
    buildIfStale(cluByidPath, "clu_byid_sorted_write") {
      graft.operators.Layout.pointFetchWrite(clu, "vec_id", cluByidPath)
    }
    val cluByid = spark.read.parquet(cluByidPath)
    val cluPqEnc = spark.read.parquet(cluPqPath)
    val cluPqHits: Seq[Set[Long]] = timedMin2B("clu_pq_adc_topk_8q_rescore200") {
      (0 until NQueries).map { i =>
        val cand = cluPqEnc
          .withColumn("adc", VectorFunctions.adcScore(col("codes"),
            PQ.adcLut(cluBooks("all"), cluQv(i))))
          .orderBy(col("adc").desc, col("id").asc).limit(200)
          .select("id").collect().map(_.getLong(0))
        rescoreTop10(cand, cluQv(i), src = cluByid)
      }
    }
    stats("clu_pq_recall_at_10") =
      f3(cluPqHits.zip(cluBrute).map { case (a, b) => (a & b).size / 10.0 }.sum / NQueries)
    stats("clu_pq_target_found") =
      f3((0 until NQueries).count(i => cluPqHits(i).contains(8000L * i)).toDouble / NQueries)

    // ---- IVFADC on the CLUSTERED twin: residual coding's claimed
    // regime. On the structureless corpus cells are arbitrary
    // partitions of noise — the residual domain is as wide as the raw
    // one and residual coding buys nothing (measured: within one-slot
    // noise of raw coding). Here cells ARE latent clusters, the
    // centroid carries most of each vector's mass, and the residual
    // domain shrinks to the within-cluster spread — the geometry
    // Jégou's IVFADC was built for. Same probe-8 scan, same 96 B
    // codes, same byid rescore as clu_pq above. ----
    val cluAdcBooks = timed("clu_ivfadc_train_residual_sampled") {
      PQ.pqTrainResidualSampled(cluT, "tenant", "vec_id", "embedding",
        cluCents, 96, 256, 2048)
    }
    val cluIvfadcPath = s"$vecDir/vec768_500k_clu_ivfadc"
    buildIfStale(cluIvfadcPath, "clu_ivfadc_encode_write") {
      PQ.pqEncodeResidualPacked(cluT, "tenant", "vec_id", "embedding",
          cluCents, cluAdcBooks)
        .select(col("id").as("vec_id"), col("codes"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(cluIvfadcPath)
    }
    val cluIvfadcEnc = spark.read.parquet(cluIvfadcPath)
    def cluCentQDot(cells: Seq[Int], q: Seq[Double]): Map[Int, Double] =
      cells.map { c =>
        val cen = cluCents("u1")(c)
        var s = 0.0; var j = 0
        while (j < Dim) { s += cen(j) * q(j); j += 1 }
        c -> s
      }.toMap
    val cluIvfadcHits: Seq[Set[Long]] =
      timedMin2B("clu_ivfadc_topk_8q_nprobe8_rescore200") {
        (0 until NQueries).map { i =>
          val cells = Search.ivfProbeCells(cluCents, "u1", cluQv(i), 8)
          val cand = cluIvfadcEnc.filter(col("cell").isin(cells: _*))
            .withColumn("adc",
              VectorFunctions.adcScore(col("codes"),
                PQ.adcLut(cluAdcBooks("u1"), cluQv(i))) +
                element_at(typedLit(cluCentQDot(cells, cluQv(i))), col("cell")))
            .orderBy(col("adc").desc, col("vec_id").asc).limit(200)
            .select("vec_id").collect().map(_.getLong(0))
          rescoreTop10(cand, cluQv(i), src = cluByid)
        }
      }
    stats("clu_ivfadc_recall_at_10") =
      f3(cluIvfadcHits.zip(cluBrute).map { case (a, b) => (a & b).size / 10.0 }.sum / NQueries)
    stats("clu_ivfadc_target_found") =
      f3((0 until NQueries).count(i => cluIvfadcHits(i).contains(8000L * i)).toDouble / NQueries)
    // the raw-coded comparator at the same probe depth and bytes:
    // clu_pq is full-corpus ADC; this is probe-8 IVF-PQ with RAW codes
    val cluIvfpqHits: Seq[Set[Long]] =
      timedMin2("clu_ivfpq_topk_8q_nprobe8_rescore200") {
        (0 until NQueries).map { i =>
          val cells = Search.ivfProbeCells(cluCents, "u1", cluQv(i), 8)
          val cand = cluPqEnc
            .join(cluIvf.select(col("id"), col("cell")), Seq("id"))
            .filter(col("cell").isin(cells: _*))
            .withColumn("adc", VectorFunctions.adcScore(col("codes"),
              PQ.adcLut(cluBooks("all"), cluQv(i))))
            .orderBy(col("adc").desc, col("id").asc).limit(200)
            .select("id").collect().map(_.getLong(0))
          rescoreTop10(cand, cluQv(i), src = cluByid)
        }
      }
    stats("clu_ivfpq_recall_at_10") =
      f3(cluIvfpqHits.zip(cluBrute).map { case (a, b) => (a & b).size / 10.0 }.sum / NQueries)
    stats("clu_ivfpq_target_found") =
      f3((0 until NQueries).count(i => cluIvfpqHits(i).contains(8000L * i)).toDouble / NQueries)

    // ---- the SAME raw-vs-residual comparison at a COARSE code rate
    // (m=16 → 16 B/row, 192× compression): at m=96 + rescore-200 both
    // code forms saturate the probe-bounded recall ceiling (the
    // rescore absorbs ADC ranking error), so the residual question is
    // only decidable where ADC error actually binds — fewer subspaces,
    // wider per-code domains. ----
    val cluBooksC = timed("clu_pq_m16_train_sampled") {
      PQ.pqTrainSampled(cluT.withColumn("tenant", lit("all")),
        "tenant", "vec_id", "embedding", 16, 256, 2048)
    }
    val cluAdcBooksC = timed("clu_ivfadc_m16_train_residual_sampled") {
      PQ.pqTrainResidualSampled(cluT, "tenant", "vec_id", "embedding",
        cluCents, 16, 256, 2048)
    }
    val cluPqC = s"$vecDir/vec768_500k_clu_pq_m16"
    buildIfStale(cluPqC, "clu_pq_m16_encode_write") {
      PQ.pqEncodePacked(cluT.withColumn("tenant", lit("all")),
          "tenant", "vec_id", "embedding", cluBooksC)
        .select(col("id").as("vec_id"), col("codes"))
        .join(cluIvf.select(col("id").as("vec_id"), col("cell")), Seq("vec_id"))
        .write.mode("overwrite").partitionBy("cell").parquet(cluPqC)
    }
    val cluAdcC = s"$vecDir/vec768_500k_clu_ivfadc_m16"
    buildIfStale(cluAdcC, "clu_ivfadc_m16_encode_write") {
      PQ.pqEncodeResidualPacked(cluT, "tenant", "vec_id", "embedding",
          cluCents, cluAdcBooksC)
        .select(col("id").as("vec_id"), col("codes"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(cluAdcC)
    }
    val cluPqCEnc = spark.read.parquet(cluPqC)
    val cluAdcCEnc = spark.read.parquet(cluAdcC)
    def cluRecallPair(name: String, hits: Seq[Set[Long]]): Unit = {
      stats(s"${name}_recall_at_10") =
        f3(hits.zip(cluBrute).map { case (a, b) => (a & b).size / 10.0 }.sum / NQueries)
      stats(s"${name}_target_found") =
        f3((0 until NQueries).count(i => hits(i).contains(8000L * i)).toDouble / NQueries)
    }
    cluRecallPair("clu_ivfpq_m16", timedMin2("clu_ivfpq_m16_topk_8q_nprobe8_rescore200") {
      (0 until NQueries).map { i =>
        val cells = Search.ivfProbeCells(cluCents, "u1", cluQv(i), 8)
        val cand = cluPqCEnc.filter(col("cell").isin(cells: _*))
          .withColumn("adc", VectorFunctions.adcScore(col("codes"),
            PQ.adcLut(cluBooksC("all"), cluQv(i))))
          .orderBy(col("adc").desc, col("vec_id").asc).limit(200)
          .select("vec_id").collect().map(_.getLong(0))
        rescoreTop10(cand, cluQv(i), src = cluByid)
      }
    })
    cluRecallPair("clu_ivfadc_m16", timedMin2("clu_ivfadc_m16_topk_8q_nprobe8_rescore200") {
      (0 until NQueries).map { i =>
        val cells = Search.ivfProbeCells(cluCents, "u1", cluQv(i), 8)
        val cand = cluAdcCEnc.filter(col("cell").isin(cells: _*))
          .withColumn("adc",
            VectorFunctions.adcScore(col("codes"),
              PQ.adcLut(cluAdcBooksC("u1"), cluQv(i))) +
              element_at(typedLit(cluCentQDot(cells, cluQv(i))), col("cell")))
          .orderBy(col("adc").desc, col("vec_id").asc).limit(200)
          .select("vec_id").collect().map(_.getLong(0))
        rescoreTop10(cand, cluQv(i), src = cluByid)
      }
    })

    // ---- CONTINUOUS-MANIFOLD corpus (round-13 verdict task 3): the
    // geometry a graph ANN tier would claim as its regime — smooth latent
    // structure where similarity gradients exist everywhere (greedy
    // descent can navigate) but latent clusters do not (centroids
    // aggregate nothing). Construction: each id gets a latent point
    // z(id) ∈ [0,1]^8 (splitmix uniforms) embedded by 768 random
    // Fourier features v_j = cos(ω_j·z + φ_j) with ω ~ N(0, 1/ℓ²),
    // ℓ = 0.38 — after unit-normalization, E[cos-sim] =
    // exp(−‖Δz‖²/2ℓ²): the 10th-NN of 500k points in [0,1]^8 sits at
    // ‖Δz‖ ≈ 0.22 → sim ≈ 0.85, decaying smoothly to ~0.03 at the
    // typical far-pair distance — a global gradient with NO cluster
    // structure (the exact opposite of the 1,024-center twin above).
    // Measured here: brute force (truth) and IVF (centroid routing on
    // a centroid-less corpus). The graph tier built for this geometry
    // lost to IVF here too (recall 0.763 in 15.5 s vs 0.988 in 1.40 s
    // at nProbe 8) and was removed. ----
    val ManLat = 8
    val ManEll = 0.38
    def u01(seed: Long): Double = (mix(seed) >>> 11).toDouble / (1L << 53).toDouble
    val manOmega: Array[Array[Double]] = Array.tabulate(Dim) { j =>
      Array.tabulate(ManLat) { k =>
        val u1 = u01(8000000L + (j.toLong * ManLat + k) * 2L)
        val u2 = u01(8000001L + (j.toLong * ManLat + k) * 2L)
        math.sqrt(-2.0 * math.log(u1 + 1e-300)) *
          math.cos(2.0 * math.Pi * u2) / ManEll
      }
    }
    val manPhi: Array[Double] =
      Array.tabulate(Dim)(j => 2.0 * math.Pi * u01(8200000L + j))
    def manVecOf(id: Long): Array[Double] = {
      val v = new Array[Double](Dim)
      var ss = 0.0
      var j = 0
      while (j < Dim) {
        var s = manPhi(j)
        var k = 0
        while (k < ManLat) { s += manOmega(j)(k) * u01(8400000L + id * ManLat + k); k += 1 }
        val x = math.cos(s); v(j) = x; ss += x * x; j += 1
      }
      val n = math.sqrt(ss)
      var t = 0
      while (t < Dim) { v(t) /= n; t += 1 }
      v
    }
    val manUdf = udf((id: Long) => manVecOf(id))
    val manPath = s"$vecDir/vec768_500k_man"
    buildIfStale(manPath, "man_gen_corpus") {
      spark.range(NDocs)
        .select(col("id").as("doc_id"),
          explode(sequence(lit(0L), lit(2L) + pmod(col("id"), lit(5L)))).as("cidx"))
        .select((col("doc_id") * 8 + col("cidx")).as("vec_id"),
          manUdf(col("doc_id") * 8 + col("cidx")).cast("array<float>").as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(manPath)
    }
    // mid-run weather sample (round-13: BENCHVEC narrates window
    // bursts — give the artifact the evidence, like Bench's
    // cal_samples)
    calSamples += calibrate()
    calDiskSamples += BenchProbe.calibrateDisk()

    val man = spark.read.parquet(manPath)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    def manQv(i: Int): Seq[Double] = {
      val t = manVecOf(8000L * i)
      val noise = hashUnitVec(3200000L + i, Dim)
      val v = Array.tabulate(Dim)(j => t(j) + 0.5 * noise(j))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    val manBrute: Seq[Set[Long]] = timedMin2B("man_brute_force_8q") {
      (0 until NQueries).map { i =>
        Search.knn(man, manQv(i), 10, -1.0, idCol = "vec_id")
          .select("vec_id").collect().map(_.getLong(0)).toSet
      }
    }
    val manT = man.withColumn("tenant", lit("u1"))
    val manCents = timed("man_ivf_train_sampled") {
      Search.ivfTrainSampled(manT, "tenant", "vec_id", "embedding", NCells)
    }
    val manIvfPath = s"$vecDir/vec768_500k_man_ivf"
    buildIfStale(manIvfPath, "man_ivf_assign_write") {
      Search.ivfAssign(manT, "tenant", "vec_id", "embedding", manCents)
        .sortWithinPartitions("cell", "id")
        .write.mode("overwrite").partitionBy("tenant", "cell").parquet(manIvfPath)
    }
    val manIvf = spark.read.parquet(manIvfPath)
    for (np <- Seq(1, 4, 8, 16)) {
      val hits: Seq[Set[Long]] = timedMin2(s"man_ivf_topk_8q_nprobe$np") {
        (0 until NQueries).map { i =>
          val cells = Search.ivfProbeCells(manCents, "u1", manQv(i), np)
          Search.knn(manIvf.filter(col("cell").isin(cells: _*)), manQv(i), 10, -1.0,
              idCol = "id", embCol = "embedding")
            .select("id").collect().map(_.getLong(0)).toSet
        }
      }
      stats(s"man_ivf_recall_nprobe$np") =
        f3(hits.zip(manBrute).map { case (a, b) => (a & b).size / 10.0 }.sum / NQueries)
      stats(s"man_ivf_target_found_nprobe$np") =
        f3((0 until NQueries).count(i => hits(i).contains(8000L * i)).toDouble / NQueries)
    }
    val manCellSizes = manIvf.groupBy("cell").count()
      .select("count").collect().map(_.getLong(0)).sorted
    stats("man_ivf_cell_occupancy") =
      s"""{"cells":${manCellSizes.length},"min":${manCellSizes.head},"p50":${manCellSizes(manCellSizes.length / 2)},"max":${manCellSizes.last}}"""

    calSamples += calibrate()
    calDiskSamples += BenchProbe.calibrateDisk()
    val json =
      ("{\"corpus\":{\"n_vectors\":" + nVecs + ",\"dim\":" + Dim + ",\"docs\":" + NDocs + "}," +
        "\"calibration\":" + f3(calSamples.min) + "," +
        "\"calibration_disk\":" + f3(calDiskSamples.min) + "," +
        "\"cal_samples\":" + calSamples.map(f3).mkString("[", ",", "]") + "," +
        "\"cal_disk_samples\":" + calDiskSamples.map(f3).mkString("[", ",", "]") + "," +
        "\"timings_sec\":" +
        timings.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}") + "," +
        "\"bytes_read\":" +
        bytesPerLeg.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}") + "," +
        "\"stats\":" +
        stats.map { case (k, v) =>
          "\"" + k + "\":" + (if (v.startsWith("{")) v else "\"" + v + "\"")
        }.mkString("{", ",", "}") + "}")
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCHVEC.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
