package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingOps

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkSessionHelper.spark
  import spark.implicits._

  test("quality-classifier scoring is a stateless streaming projection: stream == batch") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("graft_qc_stream").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    docs.write.mode("overwrite").parquet(dir)
    val model = TextAnalysis.qualityModel(docs, Seq("src0", "src1", "src2", "src3"))
    val streamed = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    // no aggregation, no watermark, append mode: the scoring pass is a
    // pure projection, so the SAME function runs on the stream —
    // model-serving inside a micro-batch with zero changes
    val q = TextAnalysis.qualityClassify(streamed, model)
      .writeStream.outputMode("append")
      .format("memory").queryName("qc_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("qc_out").orderBy("doc_id").collect()
    val exp = TextAnalysis.qualityClassify(docs, model).orderBy("doc_id").collect()
    assert(got.nonEmpty && got.toSeq == exp.toSeq)
  }

  test("perplexity scoring is a stateless streaming projection: stream == batch") {
    import graft.operators.Perplexity
    val dir = java.nio.file.Files.createTempDirectory("graft_ppl_stream").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("n_chars") > 0)
    docs.write.mode("overwrite").parquet(dir)
    val model = Perplexity.perplexityModel(docs, Seq("src0", "src1", "src2", "src3"))
    val streamed = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = Perplexity.perplexityScore(streamed, model)
      .writeStream.outputMode("append")
      .format("memory").queryName("ppl_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ppl_out").orderBy("doc_id").collect()
    val exp = Perplexity.perplexityScore(docs, model).orderBy("doc_id").collect()
    assert(got.nonEmpty && got.toSeq == exp.toSeq)
  }

  test("windowedCounts over a real stream matches the batch result") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .select("ts", "event_type", "value", "event_id")
    batch.write.mode("overwrite").parquet(dir)

    val streamed = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = StreamingOps.windowedCounts(streamed.withWatermark("ts", "1 hour"), "15 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("win_out")
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
      .orderBy("ws", "event_type").collect()
    val exp = StreamingOps.windowedCounts(batch, "15 minutes")
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
      .orderBy("ws", "event_type").collect()
    assert(got.toSeq == exp.toSeq)
  }

  test("streaming dropDuplicates keeps the same keys as batch dedupFirstSeen") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select("user_id", "event_type", "event_id", "ts_us")
    batch.write.mode("overwrite").parquet(dir)

    val streamed = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = streamed.dropDuplicates("user_id", "event_type")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // dropDuplicates keeps the first ARRIVAL per key (processing
    // order); the deterministic batch form keeps the first EVENT-TIME
    // row. The surviving key sets must agree exactly.
    val got = spark.table("dedup_out")
      .select("user_id", "event_type").as[(Long, String)].collect().toSet
    val exp = StreamingOps.dedupFirstSeen(batch, Seq("user_id", "event_type"))
      .select("user_id", "event_type").as[(Long, String)].collect().toSet
    assert(got == exp)
    assert(got.nonEmpty)
  }

  test("native session_window matches the lag/cumsum sessionization") {
    val d = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, d)
    // batch lag/cumsum form at 30-min gap, per-user session sizes
    val batch = StreamingOps.sessionizeBatch(
        ev.withColumn("ts_ns", expr("ts_ns div 1000 * 1000")), 1800L * 1000 * 1000 * 1000)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_ev"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val native = StreamingOps.sessionizeNative(ev, "30 minutes")
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_ev"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(native == batch)
    assert(native.nonEmpty)

    // and it runs identically over a real stream
    val dir = java.nio.file.Files.createTempDirectory("graft_sess").toString
    ev.select("user_id", "ts").write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = StreamingOps.sessionizeNative(streamed.withWatermark("ts", "1 hour"), "30 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamedAgg = spark.table("sess_out")
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_ev"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(streamedAgg == batch)
  }

  test("watermark drops late data from the append-mode windowed aggregation") {
    // MemoryStream gives exact micro-batch control: batch 1 advances
    // the watermark to 09:20; batch 2's 07:00 event is below it and
    // MUST be dropped (the state-eviction contract that bounds memory
    // on unbounded streams); batch 3 advances the watermark past the
    // 10:xx windows so append mode flushes them.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-06-01 $s:00")
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps.windowedCounts(events.withWatermark("ts", "1 hour"), "15 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      input.addData((ts("10:00"), "view", 1.0), (ts("10:20"), "view", 1.0))
      q.processAllAvailable() // watermark → 09:20
      input.addData((ts("07:00"), "view", 1.0)) // below watermark: dropped
      q.processAllAvailable()
      input.addData((ts("12:00"), "view", 1.0)) // watermark → 11:00, flushes 10:xx
      q.processAllAvailable()
    } finally q.stop()

    val emitted = spark.table("late_out")
      .select(date_format(col("w.start"), "HH:mm").as("ws"), col("n"))
      .as[(String, Long)].collect().toMap
    assert(!emitted.contains("07:00"), s"late window leaked: $emitted")
    assert(emitted == Map("10:00" -> 1L, "10:15" -> 1L), emitted.toString)
  }

  test("sliding windows over a real stream match the batch result") {
    val dir = java.nio.file.Files.createTempDirectory("graft_slide").toString
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .select("ts", "event_type", "value", "event_id")
    batch.write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = StreamingOps.slidingCounts(
      streamed.withWatermark("ts", "1 hour"), "30 minutes", "10 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("slide_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("slide_out")
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
      .orderBy("ws", "event_type").collect()
    val exp = StreamingOps.slidingCounts(batch, "30 minutes", "10 minutes")
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
      .orderBy("ws", "event_type").collect()
    assert(got.nonEmpty && got.toSeq == exp.toSeq)
    // overlap sanity: Σ window counts = 3 × the event count
    val total = spark.table("slide_out").agg(sum("n")).as[Long].head()
    assert(total == 3 * batch.count(), s"each event must land in exactly 3 windows")
  }

  test("dropDuplicatesWithinWatermark: dups inside the delay drop, state expires after") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-06-01 $s:00")
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
      .writeStream.outputMode("append")
      .format("memory").queryName("ddww_out").start()
    try {
      // batch 1: A + a within-delay duplicate of A → one A emitted
      input.addData((ts("10:00"), "A"), (ts("10:02"), "A"))
      q.processAllAvailable() // watermark → 09:52
      // batch 2: advance event time so A's state (≤10:02+10m) expires
      input.addData((ts("10:30"), "B"))
      q.processAllAvailable() // watermark → 10:20 > 10:12 ⇒ A evicted
      // batch 3: A again AFTER expiry → re-admitted (the contract that
      // distinguishes this from unbounded dropDuplicates state)
      input.addData((ts("10:31"), "A"))
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("ddww_out")
      .select(date_format(col("ts"), "HH:mm").as("t"), col("k"))
      .as[(String, String)].collect().sorted.toSeq
    assert(emitted == Seq(("10:00", "A"), ("10:30", "B"), ("10:31", "A")),
      emitted.toString)
  }

  test("stream-stream interval join matches the batch interval join") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"), col("ts").as("v_ts"))
    val pDir = java.nio.file.Files.createTempDirectory("graft_ij_p").toString
    val vDir = java.nio.file.Files.createTempDirectory("graft_ij_v").toString
    p.write.mode("overwrite").parquet(pDir)
    v.write.mode("overwrite").parquet(vDir)

    val pS = spark.readStream.schema(spark.read.parquet(pDir).schema).parquet(pDir)
      .withWatermark("p_ts", "1 hour")
    val vS = spark.readStream.schema(spark.read.parquet(vDir).schema).parquet(vDir)
      .withWatermark("v_ts", "1 hour")
    val q = StreamingOps.intervalJoin(pS, vS, "user_id", "v_user", "p_ts", "v_ts", "10 minutes")
      .select("p_id", "v_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("ij_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)

    val got = spark.table("ij_out").as[(Long, Long)].collect().toSet
    val exp = StreamingOps.intervalJoin(p, v, "user_id", "v_user", "p_ts", "v_ts", "10 minutes")
      .select("p_id", "v_id").as[(Long, Long)].collect().toSet
    assert(got == exp)
    assert(got.nonEmpty)
  }

  test("foreachBatch incremental indexing appends the same vectors as one batch build") {
    // The reference's vectorization queue (2 async workers over pending
    // docs) as Structured Streaming: stream the pending documents,
    // foreachBatch runs the X1 index build and appends to the vector
    // store. The union of per-micro-batch outputs must equal the
    // single-shot batch build.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 50).select("doc_id", "source", "text")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_fb_src").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_fb_out").toString + "/vectors"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fb_ckpt").toString
    docs.write.mode("overwrite").parquet(srcDir)

    val streamed = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1") // force >1 micro-batch
      .parquet(srcDir)
    val q = streamed.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.pipelines.IndexPipeline.buildIndex(batch)
          .write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)

    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("vtype"), col("chunk_index"), md5(col("chunk_text")))
      .as[(Long, String, Int, String)].collect().toSet
    val got = key(spark.read.parquet(outDir))
    val exp = key(graft.pipelines.IndexPipeline.buildIndex(docs))
    assert(got == exp)
    assert(got.nonEmpty)
  }

  test("streaming CDC maintenance of the byid store: fetch reflects every micro-batch") {
    import graft.operators.ByidStore
    val store = java.nio.file.Files.createTempDirectory("graft_sbm_store").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sbm_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sbm_ckpt").toString
    ByidStore.init((0L until 20L).map(i => (i, s"a-$i", i * 10)).toDF("id", "payload", "v"),
      "id", store)
    // two arrival batches with DISJOINT ids (micro-batch order-free):
    // updates to 1,2 and deletes of 5,6
    Seq(("upsert", 1L, "b-1", 10L), ("upsert", 2L, "b-2", 20L))
      .toDF("op", "id", "payload", "v").write.parquet(s"$srcDir/b0")
    Seq(("delete", 5L, "", 0L), ("delete", 6L, "", 0L))
      .toDF("op", "id", "payload", "v").write.parquet(s"$srcDir/b1")
    val streamed = spark.readStream
      .schema(spark.read.option("basePath", srcDir).parquet(s"$srcDir/b0").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*")
    val q = StreamingOps.streamByidMaintain(streamed, store, ckpt)
    q.awaitTermination(180000)
    val got = ByidStore.fetch(spark, store, Seq(1L, 2L, 5L, 6L, 7L), "id")
      .select("id", "payload").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "b-1", 2L -> "b-2", 7L -> "a-7"))
    assert(ByidStore.tombstones(store).nonEmpty)
  }

  test("streamByidMaintain with orderCol collapses to the last op per id (ADVICE r14)") {
    import graft.operators.ByidStore
    val store = java.nio.file.Files.createTempDirectory("graft_sbm2_store").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sbm2_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sbm2_ckpt").toString
    ByidStore.init((0L until 10L).map(i => (i, s"a-$i"))
      .toDF("id", "payload"), "id", store)
    // ONE micro-batch with conflicting ops: upsert-then-delete of 1
    // (must end deleted — the same-batch tombstone may not lose to its
    // own upsert), delete-then-upsert of 2 (must end upserted), and
    // two upserts of 3 (last postimage wins, deterministically)
    Seq(("upsert", 1L, "b-1", 0L), ("delete", 1L, "", 1L),
      ("delete", 2L, "", 0L), ("upsert", 2L, "b-2", 1L),
      ("upsert", 3L, "b-3", 0L), ("upsert", 3L, "c-3", 1L))
      .toDF("op", "id", "payload", "seq").write.parquet(s"$srcDir/b0")
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/b0").schema)
      .parquet(s"$srcDir/*")
    val q = StreamingOps.streamByidMaintain(streamed, store, ckpt,
      orderCol = Some("seq"))
    q.awaitTermination(180000)
    val got = ByidStore.fetch(spark, store, Seq(1L, 2L, 3L), "id")
      .select("id", "payload").as[(Long, String)].collect().toMap
    assert(got == Map(2L -> "b-2", 3L -> "c-3"))
  }

  test("streamMaintainServe: real micro-batches maintain all three stores and serve per epoch (r14 task 5)") {
    import graft.operators.{ByidStore, Search, Serving, ProductQuantization => PQ}
    val d = "/root/testdata/sf0.001"
    val sdir = java.nio.file.Files.createTempDirectory("graft_sms_state").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sms_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sms_ckpt").toString
    val all = Tables.embeddings(spark, d)
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("tenant", lit("all"))
    val v1 = all.filter(pmod(col("id"), lit(9L)) =!= 0)
    val cents = Search.ivfTrainSampled(v1, "tenant", "id", "emb", 16, sampleCap = 256)
    val books = PQ.pqTrainSampled(v1, "tenant", "id", "emb", 4, 8, 256)
    ByidStore.init(v1.select("id", "emb", "tenant"), "id", s"$sdir/byid")
    val a1 = Search.ivfAssign(v1, "tenant", "id", "emb", cents)
    ByidStore.init(a1, "id", s"$sdir/cells_store")
    ByidStore.init(PQ.pqEncode(v1, "tenant", "id", "emb", books)
        .join(a1.select(col("tenant"), col("id"), col("cell")), Seq("tenant", "id"))
        .select("tenant", "id", "codes", "cell"),
      "id", s"$sdir/codes_store")
    StreamingOps.initCorpusCount(spark, sdir)
    val ups = v1.filter(pmod(col("id"), lit(7L)) === 0)
      .select(lit("upsert").as("op"), col("id"),
        reverse(col("emb")).as("emb"), col("tenant"))
    val ins = all.filter(pmod(col("id"), lit(9L)) === 0)
      .select(lit("upsert").as("op"), col("id"), col("emb"), col("tenant"))
    val dels = v1.filter(pmod(col("id"), lit(13L)) === 0 &&
        pmod(col("id"), lit(7L)) =!= 0)
      .select(lit("delete").as("op"), col("id"),
        lit(null).cast("array<double>").as("emb"), col("tenant"))
    val feed = ups.unionByName(ins).unionByName(dels)
    // ONE file per arrival dir: with maxFilesPerTrigger=1 the stream
    // runs exactly two epochs, so epoch_00001 is the fully-churned one
    feed.filter(pmod(col("id"), lit(2L)) === 0)
      .coalesce(1).write.parquet(s"$srcDir/b0")
    feed.filter(pmod(col("id"), lit(2L)) === 1)
      .coalesce(1).write.parquet(s"$srcDir/b1")
    val probes = Seq(0L, 1L, 2L).zip(Search.qvecs(spark, d, Seq(0L, 1L, 2L)))
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/b0").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*")
    // r15 verdict task 3: no epoch may launch a corpus-wide count —
    // capture every job's callsite while the stream runs; the old
    // `vectors.count()` showed up as "count at StreamingOps.scala"
    val jobSites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobSites.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("")): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val q = StreamingOps.streamMaintainServe(streamed, sdir, ckpt, cents,
      books, probes, k = 10)
    q.awaitTermination(300000)
    graft.BenchProbe.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val corpusCounts = jobSites.asScala.filter(_.contains("count at StreamingOps"))
    assert(corpusCounts.isEmpty,
      s"maintain-serve epochs launched corpus count jobs: $corpusCounts")
    // both epochs served + persisted (the loop stayed live mid-stream)
    assert(spark.read.parquet(s"$sdir/served/epoch_00000").count() == 30)
    val served = spark.read.parquet(s"$sdir/served/epoch_00001")
      .select("q_id", "rank", "id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    // from-scratch comparison state: the fully-churned corpus assigned
    // and encoded against the SAME frozen assets
    val v2 = v1.filter(!(pmod(col("id"), lit(13L)) === 0 &&
        pmod(col("id"), lit(7L)) =!= 0))
      .withColumn("emb", when(pmod(col("id"), lit(7L)) === 0,
        reverse(col("emb"))).otherwise(col("emb")))
      .unionByName(all.filter(pmod(col("id"), lit(9L)) === 0))
    val a2 = Search.ivfAssign(v2, "tenant", "id", "emb", cents)
    val c2 = PQ.pqEncode(v2, "tenant", "id", "emb", books)
      .join(a2.select(col("tenant"), col("id"), col("cell")), Seq("tenant", "id"))
      .select("tenant", "id", "codes", "cell")
    val st = Serving.IndexState(vectors = v2, corpusSize = v2.count(),
      centroids = Some(cents), cells = Some(a2), codebooks = Some(books),
      encoded = Some(c2), encodedHasCells = true, idCol = "id", embCol = "emb")
    val want = Serving.searchBatch(st, "all", probes, 10, 4, 50,
        bruteForceCeiling = 0L)
      .select("q_id", "rank", "id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(served == want)
    assert(served.size == 30)
    // the MAINTAINED counter equals the true post-churn corpus size —
    // exactness without the per-epoch corpus count
    assert(StreamingOps.readCorpusCount(sdir) == v2.count())
  }

  test("streamLexMaintain: real micro-batches maintain the lex store + counters (r15 task 2)") {
    import graft.operators.{ByidStore, Serving}
    val d = "/root/testdata/sf0.001"
    val sdir = java.nio.file.Files.createTempDirectory("graft_slm_state").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_slm_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_slm_ckpt").toString
    val docs = Tables.documents(spark, d).withColumn("tenant", lit("all"))
      .select("tenant", "doc_id", "text")
    val v1 = docs.filter(col("doc_id") % 9 =!= 0)
    ByidStore.init(Serving.lexDocVectors(v1, "tenant", "doc_id", "text"),
      "id", s"$sdir/lex")
    StreamingOps.writeLexCounters(sdir,
      Serving.lexCountersOf(v1, "tenant", "text"))
    val ups = v1.filter(col("doc_id") % 7 === 0)
      .select(lit("upsert").as("op"), col("tenant"), col("doc_id"),
        concat(lit("freshly updated revision: "), col("text")).as("text"))
    val ins = docs.filter(col("doc_id") % 9 === 0)
      .select(lit("upsert").as("op"), col("tenant"), col("doc_id"), col("text"))
    val dels = v1.filter(col("doc_id") % 13 === 0 && col("doc_id") % 7 =!= 0)
      .select(lit("delete").as("op"), col("tenant"), col("doc_id"),
        lit(null).cast("string").as("text"))
    val feed = ups.unionByName(ins).unionByName(dels)
    feed.filter(pmod(col("doc_id"), lit(2L)) === 0)
      .coalesce(1).write.parquet(s"$srcDir/b0")
    feed.filter(pmod(col("doc_id"), lit(2L)) === 1)
      .coalesce(1).write.parquet(s"$srcDir/b1")
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/b0").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*")
    val q = StreamingOps.streamLexMaintain(streamed, sdir, ckpt,
      "tenant", "doc_id", "text")
    q.awaitTermination(300000)
    val churned = docs
      .filter(!(col("doc_id") % 9 =!= 0 && col("doc_id") % 13 === 0 &&
        col("doc_id") % 7 =!= 0))
      .withColumn("text",
        when(col("doc_id") % 9 =!= 0 && col("doc_id") % 7 === 0,
          concat(lit("freshly updated revision: "), col("text")))
          .otherwise(col("text")))
    assert(StreamingOps.readLexCounters(sdir) ==
      Serving.lexCountersOf(churned, "tenant", "text"))
    def prows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(prows(Serving.postingsFromDocVectors(
      ByidStore.readAll(spark, s"$sdir/lex", "id").drop("seg"))) ==
      prows(Serving.buildPostings(churned, "tenant", "doc_id", "text")))
  }

  test("streamHybridMaintainServe: real micro-batches maintain all four assets and serve the hybrid tier per epoch (r16 capstone)") {
    import graft.operators.{ByidStore, Search, Serving}
    val d = "/root/testdata/sf0.001"
    val sdir = java.nio.file.Files.createTempDirectory("graft_shms_state").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_shms_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_shms_ckpt").toString
    val eAll = Tables.embeddings(spark, d)
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("tenant", lit("all"))
    val dAll = Tables.documents(spark, d)
      .select(col("doc_id").cast("long").as("id"), col("text"))
      .withColumn("tenant", lit("all"))
    val eV1 = eAll.filter(pmod(col("id"), lit(9L)) =!= 0)
    val dV1 = dAll.filter(pmod(col("id"), lit(9L)) =!= 0)
    ByidStore.init(eV1.select("id", "emb", "tenant"), "id", s"$sdir/byid")
    StreamingOps.initCorpusCount(spark, sdir)
    ByidStore.init(Serving.lexDocVectors(dV1, "tenant", "id", "text"),
      "id", s"$sdir/lex")
    StreamingOps.writeLexCounters(sdir,
      Serving.lexCountersOf(dV1, "tenant", "text"))
    val noText = lit(null).cast("string").as("text")
    val noEmb = lit(null).cast("array<double>").as("emb")
    val vFeed = eV1.filter(pmod(col("id"), lit(7L)) === 0)
      .select(lit("vec").as("entity"), lit("upsert").as("op"), col("id"),
        reverse(col("emb")).as("emb"), noText, col("tenant"))
      .unionByName(eAll.filter(pmod(col("id"), lit(9L)) === 0)
        .select(lit("vec").as("entity"), lit("upsert").as("op"), col("id"),
          col("emb"), noText, col("tenant")))
      .unionByName(eV1.filter(pmod(col("id"), lit(13L)) === 0 &&
          pmod(col("id"), lit(7L)) =!= 0)
        .select(lit("vec").as("entity"), lit("delete").as("op"), col("id"),
          noEmb, noText, col("tenant")))
    val dFeed = dV1.filter(pmod(col("id"), lit(7L)) === 0)
      .select(lit("doc").as("entity"), lit("upsert").as("op"), col("id"),
        noEmb, concat(lit("freshly updated revision: "), col("text"))
          .as("text"), col("tenant"))
      .unionByName(dAll.filter(pmod(col("id"), lit(9L)) === 0)
        .select(lit("doc").as("entity"), lit("upsert").as("op"), col("id"),
          noEmb, col("text"), col("tenant")))
      .unionByName(dV1.filter(pmod(col("id"), lit(13L)) === 0 &&
          pmod(col("id"), lit(7L)) =!= 0)
        .select(lit("doc").as("entity"), lit("delete").as("op"), col("id"),
          noEmb, noText, col("tenant")))
    val feed = vFeed.unionByName(dFeed)
    // ONE file per arrival dir → exactly two epochs under
    // maxFilesPerTrigger=1; epoch_00001 serves the fully-churned state
    feed.filter(pmod(col("id"), lit(2L)) === 0)
      .coalesce(1).write.parquet(s"$srcDir/b0")
    feed.filter(pmod(col("id"), lit(2L)) === 1)
      .coalesce(1).write.parquet(s"$srcDir/b1")
    val qids = Seq(0L, 1L, 2L)
    val probes = qids.zip(Search.qvecs(spark, d, qids))
      .map { case (q, v) => (q, v, Seq("freshly", "updated", "join")) }
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/b0").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*")
    // the O(churn) posture: no epoch may launch a corpus-wide count
    val jobSites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobSites.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("")): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val q = StreamingOps.streamHybridMaintainServe(streamed, sdir, ckpt,
      probes, k = 10, wLex = 0.4, wVec = 0.6)
    q.awaitTermination(300000)
    graft.BenchProbe.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val corpusCounts = jobSites.asScala.filter(_.contains("count at StreamingOps"))
    assert(corpusCounts.isEmpty,
      s"hybrid maintain-serve epochs launched corpus count jobs: $corpusCounts")
    // both epochs served + persisted (the loop stayed live mid-stream)
    assert(spark.read.parquet(s"$sdir/served/epoch_00000").count() == 30)
    val served = spark.read.parquet(s"$sdir/served/epoch_00001")
      .select("q_id", "rank", "id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    // from-scratch comparison: the fully-churned relations served fresh
    val eV2 = eV1.filter(!(pmod(col("id"), lit(13L)) === 0 &&
        pmod(col("id"), lit(7L)) =!= 0))
      .withColumn("emb", when(pmod(col("id"), lit(7L)) === 0,
        reverse(col("emb"))).otherwise(col("emb")))
      .unionByName(eAll.filter(pmod(col("id"), lit(9L)) === 0))
    val dV2 = dV1.filter(!(pmod(col("id"), lit(13L)) === 0 &&
        pmod(col("id"), lit(7L)) =!= 0))
      .withColumn("text", when(pmod(col("id"), lit(7L)) === 0,
        concat(lit("freshly updated revision: "), col("text")))
        .otherwise(col("text")))
      .unionByName(dAll.filter(pmod(col("id"), lit(9L)) === 0))
    val st = Serving.IndexState(vectors = eV2, corpusSize = eV2.count(),
      postings = Some(Serving.buildPostings(dV2, "tenant", "id", "text")),
      lexStats = Serving.lexStatsOf(dV2, "tenant", "text"),
      idCol = "id", embCol = "emb")
    val want = Serving.searchBatchText(st, "all", probes, k = 10,
        bruteForceCeiling = Long.MaxValue, wLex = 0.4, wVec = 0.6)
      .select("q_id", "rank", "id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(served == want)
    assert(served.size == 30)
    // maintained counters equal the true post-churn state — exactness
    // without any per-epoch corpus-wide job
    assert(StreamingOps.readCorpusCount(sdir) == eV2.count())
    assert(StreamingOps.readLexCounters(sdir) ==
      Serving.lexCountersOf(dV2, "tenant", "text"))
  }

  test("streamByidMaintain rejects (id, orderCol) ties — replays must collapse identically (ADVICE r15)") {
    import graft.operators.ByidStore
    val store = java.nio.file.Files.createTempDirectory("graft_sbm4_store").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sbm4_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sbm4_ckpt").toString
    ByidStore.init((0L until 5L).map(i => (i, s"a-$i"))
      .toDF("id", "payload"), "id", store)
    // two ops on id 1 with the SAME sequence number: no total order,
    // so the collapse winner would be arbitrary across retries
    Seq(("upsert", 1L, "b-1", 10L), ("delete", 1L, "", 10L))
      .toDF("op", "id", "payload", "seq").write.parquet(s"$srcDir/b0")
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/b0").schema)
      .parquet(s"$srcDir/*")
    val q = StreamingOps.streamByidMaintain(streamed, store, ckpt,
      orderCol = Some("seq"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(180000)
    }
    assert(ex.getMessage.contains("total order") ||
      Option(ex.getCause).exists(_.getMessage.contains("total order")))
    // the rejected batch committed nothing
    assert(ByidStore.fetch(spark, store, Seq(1L), "id")
      .select("payload").as[String].collect().toSeq == Seq("a-1"))
  }

  test("streamByidMaintain without orderCol rejects multi-op micro-batches") {
    import graft.operators.ByidStore
    val store = java.nio.file.Files.createTempDirectory("graft_sbm3_store").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sbm3_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sbm3_ckpt").toString
    ByidStore.init((0L until 5L).map(i => (i, s"a-$i"))
      .toDF("id", "payload"), "id", store)
    Seq(("upsert", 1L, "b-1"), ("delete", 1L, ""))
      .toDF("op", "id", "payload").write.parquet(s"$srcDir/b0")
    val streamed = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/b0").schema)
      .parquet(s"$srcDir/*")
    val q = StreamingOps.streamByidMaintain(streamed, store, ckpt)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(180000)
    }
    assert(ex.getMessage.contains("orderCol") ||
      Option(ex.getCause).exists(_.getMessage.contains("orderCol")))
    // the rejected batch committed nothing: pre-batch view serves
    assert(ByidStore.fetch(spark, store, Seq(1L), "id")
      .select("payload").as[String].collect().toSeq == Seq("a-1"))
  }

  test("sessionizeStreaming assigns the same sessions as sessionizeBatch") {
    val events = Seq(
      // user 1: two sessions (gap > 30 min between e2 and e3)
      (1L, 0L, 0L), (1L, 60_000_000_000L, 1L), (1L, 4000_000_000_000L, 2L),
      // user 2: one session
      (2L, 0L, 3L), (2L, 100_000_000_000L, 4L)
    ).toDF("user_id", "ts_ns", "event_id")
    val gap = 1800L * 1000 * 1000 * 1000

    val batch = StreamingOps.sessionizeBatch(events, gap)
      .orderBy("user_id", "session_idx")
      .select("user_id", "session_idx", "n_events").as[(Long, Long, Long)].collect()
    assert(batch.toSeq == Seq((1L, 0L, 2L), (1L, 1L, 1L), (2L, 0L, 2L)))

    val streamed = StreamingOps.sessionizeStreaming(spark, events, gap)
      .groupBy("user_id", "session_idx").agg(count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_idx")
      .select("user_id", "session_idx", "n_events").as[(Long, Long, Long)].collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streamSemDedup suppresses cross-batch near-duplicates per LSH bucket") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val coded = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"),
        graft.functions.RandomHyperplane.codeCol(col("embedding")).as("code"))
      .as[(Long, Seq[Double], Long)].collect()
    val originals = coded.sortBy(_._1)
    val copies = originals.filter(_._1 % 50 == 0)
      .map(t => (t._1 + 10000, t._2, t._3))

    val input = MemoryStream[(Long, Seq[Double], Long)]
    val q = StreamingOps.streamSemDedup(
        spark, input.toDF().toDF("vec_id", "embedding", "code"), 0.95)
      .writeStream.outputMode("append")
      .format("memory").queryName("semdedup_out").start()
    // copies arrive a micro-batch AFTER their originals: suppression
    // proves the per-bucket representative state crosses batches
    input.addData(originals.toIndexedSeq)
    q.processAllAvailable()
    input.addData(copies.toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val survivors = spark.table("semdedup_out")
      .select("vec_id").as[Long].collect().toSet
    assert(survivors == originals.map(_._1).toSet,
      "expected every original admitted and every injected copy suppressed")

    // the driver-visible batch replay must reproduce the LIVE streaming
    // output exactly (same scenario: originals = batch 0, copies = batch 1)
    val replayIn = originals.map(t => (t._3, 0L, t._1, t._2))
      .++(copies.map(t => (t._3, 1L, t._1, t._2)))
      .toSeq.toDF("code", "batch_seq", "vec_id", "embedding")
    val replayed = StreamingOps.semDedupReplay(spark, replayIn, 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(replayed == survivors, "batch replay diverged from streaming output")
  }

  test("streamIndexIncremental: file-arrival micro-batches converge to the merged index") {
    import graft.pipelines.IndexPipeline
    val in = java.nio.file.Files.createTempDirectory("graft_stidx_in").toString
    val table = java.nio.file.Files.createTempDirectory("graft_stidx_tbl").toString + "/vectors"
    val chk = java.nio.file.Files.createTempDirectory("graft_stidx_chk").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    val b1 = docs.filter(col("doc_id") < 40)
    val b2 = docs.filter(col("doc_id").isin(7, 21))
      .withColumn("text", translate(col("text"), "a", "."))
      .unionByName(docs.filter(col("doc_id") >= 40 && col("doc_id") < 50))
    val b3 = docs.filter(col("doc_id") === 7)
      .withColumn("text", translate(col("text"), "o", "0"))

    val streamed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = StreamingOps.streamIndexIncremental(streamed, table, chk)
    // one file per wave; processAllAvailable between waves pins the
    // micro-batch order so last-writer-wins is actually exercised
    for (b <- Seq(b1, b2, b3)) {
      b.coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
    }
    q.stop()

    def digest(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("vtype"), col("chunk_index"), md5(col("chunk_text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    val finalDocs = docs.filter(col("doc_id") < 50)
      .withColumn("text",
        when(col("doc_id") === 7, translate(col("text"), "o", "0"))
          .when(col("doc_id") === 21, translate(col("text"), "a", "."))
          .otherwise(col("text")))
    assert(digest(spark.read.parquet(table)) == digest(IndexPipeline.buildIndex(finalDocs)),
      "streamed table diverged from the batch-built index of final text versions")
    // no staging/backup residue after a clean run
    val root = new java.io.File(table).getParentFile
    assert(root.listFiles().map(_.getName).toSet == Set("vectors"),
      s"leftover staging dirs: ${root.listFiles().map(_.getName).mkString(",")}")
  }

  test("streaming HLL maintenance: per-batch register max-merge == one-shot sketch") {
    // The a22 composability property in its streaming setting: each
    // micro-batch folds its own per-type 256-register sketch, the
    // running state merges by elementwise max (idempotent, so replayed
    // or overlapping batches are harmless — the crash-recovery story),
    // and the final registers equal the one-shot batch sketch
    // BIT-FOR-BIT. A continuously-maintained audience sketch therefore
    // never needs a reprocessing window, and a22's set algebra runs on
    // live state.
    val d = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, d).select(col("event_type"),
      concat(col("user_id").cast("string"), lit(":"),
        col("ts").cast("date").cast("string")).as("ud"))
    def sketch(df: org.apache.spark.sql.DataFrame): Map[String, Map[Int, Int]] = {
      val h = md5(concat(lit("hsa:"), col("ud")))
      def hvv(i: Int) = {
        val x = ascii(substring(h, i, 1)); when(x >= 97, x - 87).otherwise(x - 48)
      }
      val v32 = (4 to 10).map(hvv)
        .foldLeft(hvv(3).cast("long"))((acc, x) => acc * 16 + x)
      df.select(col("event_type"), (hvv(1) * 16 + hvv(2)).cast("int").as("b"),
        when(v32 === 0, lit(33)).otherwise(lit(33) - length(bin(v32)))
          .cast("int").as("rho"))
        .groupBy("event_type", "b").agg(max(col("rho")).as("reg"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
        .groupBy(_._1).map { case (t, rs) =>
          t -> rs.map(r => r._2 -> r._3).toMap }
    }
    val srcDir = java.nio.file.Files.createTempDirectory("graft_hll_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hll_ckpt").toString
    ev.repartition(4).write.mode("overwrite").parquet(srcDir)
    val state = scala.collection.mutable.Map[String, Array[Int]]()
    var batches = 0
    val q = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", "1") // force >1 micro-batch
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        sketch(batch).foreach { case (t, regs) =>
          val cur = state.getOrElseUpdate(t, new Array[Int](256))
          regs.foreach { case (b, r) => if (r > cur(b)) cur(b) = r }
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    assert(batches > 1, "expected multiple micro-batches")
    val whole = sketch(ev)
    assert(state.keySet == whole.keySet)
    state.foreach { case (t, regs) =>
      val exp = whole(t)
      (0 until 256).foreach { b =>
        assert(regs(b) == exp.getOrElse(b, 0), s"type $t bucket $b")
      }
    }
  }
}
