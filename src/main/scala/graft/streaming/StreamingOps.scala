package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables

/** Streaming operators (SURVEY.md §1.2 note: the reference's
  * vectorization queue and SSE answer stream are micro-batchable —
  * Structured Streaming `foreachBatch` over a pending-documents
  * source is the idiomatic equivalent). This module provides:
  *
  *  - `windowedCounts`: tumbling-window aggregation written against
  *    the batch/stream-agnostic DataFrame API — the same function is
  *    applied to a `readStream` source with a watermark in
  *    StreamingSpec and to the batch events table in the oracle query.
  *  - `sessionizeBatch`: gap-based sessionization via window functions
  *    (the batch oracle shape); `sessionizeStreaming` implements the
  *    same contract with `flatMapGroupsWithState` for unbounded input.
  *
  * Scale: windowed aggs shuffle once on (window, key) with partial
  * aggregation; state size for sessionization is O(active users), and
  * the event-time watermark bounds it.
  */
object StreamingOps {

  /** Tumbling-window event counts + value sums (works on batch and
    * streaming DataFrames alike). */
  def windowedCounts(events: DataFrame, windowDuration: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowDuration).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Sliding-window event counts (window > slide ⇒ overlapping
    * windows — the rate-metrics shape, "per 30 min updated every 10").
    * Batch/stream agnostic like `windowedCounts`; on a stream the
    * watermark closes each window (window/slide) slides after its
    * start, and state is bounded by windows-per-key in flight. */
  def slidingCounts(events: DataFrame, windowDuration: String,
                    slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowDuration, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Gap-based sessionization, batch form: a new session starts when
    * the gap to the previous event of the same user exceeds gapNs. */
  def sessionizeBatch(events: DataFrame, gapNs: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns").asc, col("event_id").asc)
    events
      .withColumn("prev_ts", lag(col("ts_ns"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts_ns") - col("prev_ts") > gapNs, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts_ns")) - min(col("ts_ns"))).as("dur_ns"))
  }

  /** First-seen dedup per key set, batch form: keep the earliest row
    * (event-time, id tiebreak) per key. The streaming counterpart is
    * `dropDuplicates(keys)` (state = one entry per key) or
    * `dropDuplicatesWithinWatermark` to bound state by the watermark —
    * StreamingSpec drives it over a real readStream source. */
  def dedupFirstSeen(events: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("ts_us").asc, col("event_id").asc)
    events.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Gap-based sessionization via the BUILT-IN `session_window`
    * (Spark ≥3.2) — the idiomatic form: works identically on batch and
    * streaming DataFrames (with a watermark), and Spark merges
    * overlapping per-event windows into sessions natively instead of
    * our lag/cumsum window chain. Returns one row per (user, session)
    * with its bounds and event count. */
  def sessionizeNative(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** Interval join — the stream-stream join shape: probe rows matched
    * to build rows of the same key whose event time falls in
    * [probe_ts − window, probe_ts). Column names must be disjoint
    * across the two sides. On streaming inputs both sides carry
    * watermarks and the range condition lets Spark expire join state
    * (bounded by window + watermark delay); on batch the same plan is
    * a SortMergeJoin on the key with the range as a residual filter —
    * never a nested loop (PlanAuditSpec's rule). */
  def intervalJoin(probe: DataFrame, build: DataFrame,
                   probeKey: String, buildKey: String,
                   probeTs: String, buildTs: String, window: String): DataFrame =
    probe.join(build,
      col(probeKey) === col(buildKey) &&
        col(buildTs) >= col(probeTs) - expr(s"INTERVAL $window") &&
        col(buildTs) < col(probeTs))

  private case class SessionState(lastTs: Long, sessionIdx: Long)

  case class BucketState(reps: Seq[Seq[Double]])

  /** Streaming semantic near-dedup — the unbounded-input form of
    * `dd_semdedup` (operators/Dedup): state is keyed by the
    * random-hyperplane LSH code, each bucket's state holds the
    * representative vectors admitted so far, and an arriving vector is
    * emitted only when no stored same-bucket representative has
    * cosine ≥ tau. The LSH key does double duty: it PARTITIONS the
    * state (buckets are independent, so state ops parallelize across
    * executors) and BOUNDS each comparison to one bucket's
    * representatives — near-dups collapse onto one rep, so per-bucket
    * state grows with bucket diversity, not stream length. Within a
    * micro-batch rows are processed in vec_id order, making the
    * admitted set deterministic. On TRANSITIVELY-CLOSED (clique)
    * duplicate sets arriving in id order this equals batch
    * dd_semdedup's keep-min-id rule; on similarity CHAINS (a~b, b~c,
    * a≁c) the greedy-representative semantics intentionally differ —
    * batch drops both b and c, streaming admits c because suppressed b
    * never became a representative. That is canonical SemDeDup
    * behavior (compare against admitted reps, not against every seen
    * item). StreamingSpec feeds copies a batch AFTER their originals
    * to prove the state survives micro-batch boundaries. */
  def streamSemDedup(spark: SparkSession, vectors: DataFrame, tau: Double): DataFrame = {
    import spark.implicits._
    vectors.select(col("code").cast("long"), col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (code: Long, rows: Iterator[(Long, Long, Seq[Double])], state: GroupState[BucketState]) =>
          val (admitted, reps) = admitGreedy(
            rows.toSeq.sortBy(_._2).iterator.map(r => (r._2, r._3)),
            state.getOption.map(_.reps).getOrElse(Nil), tau)
          state.update(BucketState(reps))
          admitted.iterator.map(id => (code, id))
      }
      .toDF("code", "vec_id")
  }

  /** The per-bucket greedy representative rule — ONE implementation
    * shared by the streaming state handler above and the batch replay
    * below, so the replay is the streaming semantics by construction,
    * not a reimplementation. */
  private[graft] def admitGreedy(rows: Iterator[(Long, Seq[Double])],
                                 reps0: Seq[Seq[Double]],
                                 tau: Double): (Seq[Long], Seq[Seq[Double]]) = {
    val reps = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    reps ++= reps0
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    rows.foreach { case (id, emb) =>
      val dup = reps.exists { r =>
        var acc = 0.0
        var i = 0
        val n = math.min(r.length, emb.length)
        while (i < n) { acc += r(i) * emb(i); i += 1 }
        acc >= tau
      }
      if (!dup) { reps += emb; out += id }
    }
    (out.toSeq, reps.toSeq)
  }

  /** Batch replay of `streamSemDedup`: `batch_seq` plays the
    * micro-batch sequence — within each LSH bucket, rows fold through
    * `admitGreedy` in (batch_seq, vec_id) order, which is exactly the
    * order the streaming query processes them (batches arrive in
    * sequence; within a batch the handler sorts by vec_id), and the
    * rep set threads through the fold the way GroupState does. Gives
    * the driver a deterministic view of the streaming operator. */
  def semDedupReplay(spark: SparkSession, vectors: DataFrame, tau: Double): DataFrame = {
    import spark.implicits._
    vectors.select(col("code").cast("long"), col("batch_seq").cast("long"),
        col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Long, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (code, rows) =>
        val ordered = rows.toSeq.sortBy(r => (r._2, r._3))
        val (admitted, _) = admitGreedy(
          ordered.iterator.map(r => (r._3, r._4)), Nil, tau)
        admitted.iterator.map(id => (code, id))
      }
      .toDF("code", "vec_id")
  }

  /** Same contract with explicit state for unbounded streams. Events
    * must arrive per-user in event-time order within a group iterator
    * (guaranteed in micro-batch processing after a sort, or use
    * watermark + session window at scale). */
  def sessionizeStreaming(spark: SparkSession, events: DataFrame, gapNs: Long): DataFrame = {
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("ts_ns").cast("long"), col("event_id").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, -1L))
          val out = sorted.map { case (_, ts, eventId) =>
            val idx = if (st.sessionIdx < 0 || ts - st.lastTs > gapNs) st.sessionIdx + 1
                      else st.sessionIdx
            st = SessionState(ts, idx)
            (userId, idx, eventId)
          }
          state.update(st)
          out.iterator
      }
      .toDF("user_id", "session_idx", "event_id")
  }

  /** Continuous incremental indexing — the reference's ingest loop
    * (upload → pending queue → vectorize → searchable,
    * `document_processing_service.py`) as a Structured Streaming sink:
    * each micro-batch of arriving documents is chunked, embedded and
    * MERGED into the bucketed vectors table through the
    * write-audit-publish upsert (`IndexPipeline.indexMicroBatch`), so
    * the searchable table is crash-consistent at every instant —
    * per-bucket fully-old or fully-new, retry converges. The batch
    * semantics are driver-verified hash-exact by
    * `st_index_incremental`, which replays three micro-batches through
    * the same function; StreamingSpec runs the real `readStream` path
    * over file-arrival micro-batches.
    *
    * Scale: each micro-batch is one map-only index build plus a
    * partition-pruned merge bounded by the batch's touched buckets —
    * corpus size never enters the per-batch cost. `nBuckets` sizes the
    * table's initial load only ([[graft.pipelines.IndexPipeline.indexMicroBatch]]). */
  def streamIndexIncremental(docsStream: DataFrame, path: String,
                             checkpointDir: String, nBuckets: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.pipelines.IndexPipeline.indexMicroBatch(
          batch.sparkSession, batch, path, nBuckets = nBuckets)
      }
      .start()

  /** CDC maintenance of the byid point-fetch layout (x20) as a
    * streaming sink: each micro-batch of the change feed — rows
    * (op ∈ upsert|delete, idCol, payload…) — applies ONE
    * `ByidStore.applyCdc` (delta segment + tombstone, O(batch churn)),
    * with threshold auto-compaction bounding the segment count a
    * fetch pays. The serving layout is point-readable after every
    * micro-batch — the streaming twin of the x20 batch episode
    * (StreamingSpec drives the real readStream path).
    *
    * INTRA-BATCH ORDER (ADVICE r14): one applyCdc gives every op in a
    * micro-batch the same batch number, so two ops on one id need a
    * collapse rule. With `orderCol` set (a per-id total order — a CDC
    * sequence number, an event timestamp) the batch is collapsed to
    * the LAST op per id before splitting (upsert-then-delete deletes;
    * delete-then-upsert and upsert-then-upsert keep the final
    * postimage). Without it there is no "last", so the sink ENFORCES
    * the one-op-per-id-per-micro-batch contract with a require —
    * silent resurrection (a same-batch tombstone losing to its own
    * upsert) is never an outcome. */
  def streamByidMaintain(changes: DataFrame, storePath: String,
                         checkpointDir: String, idCol: String = "id",
                         maxSegments: Int = 8,
                         orderCol: Option[String] = None,
                         trigger: org.apache.spark.sql.streaming.Trigger =
                           org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val effective = orderCol match {
          case Some(oc) =>
            // the collapse is only deterministic if orderCol is a
            // per-id TOTAL order: two ops tied on (id, orderCol) would
            // pick an arbitrary winner, and a foreachBatch retry could
            // collapse DIFFERENTLY from the failed attempt —
            // nondeterministic store content for a feed this sink
            // claims to totally order (ADVICE r15). Enforce it loudly;
            // the check is churn-bounded like the no-orderCol one.
            val ties = batch.groupBy(col(idCol), col(oc)).count()
              .filter(col("count") > 1).count()
            require(ties == 0,
              s"streamByidMaintain: $ties ($idCol, $oc) pairs carry " +
                "multiple ops in one micro-batch — orderCol must be a " +
                "per-id total order (a CDC sequence number), or the " +
                "collapse winner is arbitrary and replays diverge")
            batch.withColumn("_rn", row_number().over(
                Window.partitionBy(col(idCol)).orderBy(col(oc).desc)))
              .filter(col("_rn") === 1).drop("_rn", oc)
          case None =>
            val dup = batch.groupBy(col(idCol)).count()
              .filter(col("count") > 1).count()
            require(dup == 0,
              s"streamByidMaintain: $dup ids carry multiple ops in one " +
                "micro-batch but no orderCol was given — pass the CDC " +
                "sequence column so the last op per id wins")
            batch
        }
        val removals = effective.filter(col("op").isin("delete", "upsert"))
          .select(col(idCol)).distinct()
        val additions = effective.filter(col("op") === "upsert").drop("op")
        graft.operators.ByidStore.applyCdcAutoCompact(
          batch.sparkSession, storePath, removals, additions, idCol,
          maxSegments = maxSegments): Unit
      }
      .start()

  /** CDC maintenance of the LEXICAL serving assets as a streaming
    * sink — the operational form of r15 verdict task 2 (the batch
    * episode is gated `x23_cdc_lex_maintain`): each micro-batch
    * (op ∈ upsert|delete, idCol, tenantCol, textCol) applies ONE
    * `Serving.applyLexCdc` — a doc-keyed term-vector delta +
    * tombstone, O(batch churn) — and advances the per-tenant
    * (nDocs, Σdl) counters, persisted per epoch beside the store
    * (staged-rename, like the corpus counter) so a restarted query
    * resumes exact integers. EVERY upsert id goes into the removals
    * side (fresh inserts fetch no preimage, so it costs nothing),
    * which makes the counter deltas idempotent under foreachBatch
    * replay: a replayed upsert's preimage is its own postimage
    * (net 0), a replayed delete finds no live row (net 0). Bootstrap:
    * init the store from `Serving.lexDocVectors` and write the
    * initial counters ([[writeLexCounters]] of
    * `Serving.lexCountersOf`). foreachBatch serializes epochs — the
    * store's single-writer contract holds by construction. */
  def streamLexMaintain(changes: DataFrame, stateDir: String,
                        checkpointDir: String,
                        tenantCol: String = "tenant", idCol: String = "id",
                        textCol: String = "text", maxSegments: Int = 8,
                        trigger: org.apache.spark.sql.streaming.Trigger =
                          org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val removals = batch.filter(col("op").isin("delete", "upsert"))
          .select(col(idCol).cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq
        val additions = batch.filter(col("op") === "upsert").drop("op")
        val counters = graft.operators.Serving.applyLexCdc(spark,
          s"$stateDir/lex", removals, additions,
          readLexCounters(stateDir), tenantCol, idCol, textCol, maxSegments)
        writeLexCounters(stateDir, counters)
      }
      .start()

  /** Read/write the per-tenant (nDocs, Σdl) lexical counters beside a
    * maintained lex store — `tenant,n,sdl` lines, staged-rename like
    * [[writeCorpusCount]]. */
  def readLexCounters(stateDir: String): Map[String, (Long, Long)] = {
    val p = java.nio.file.Paths.get(stateDir, "lex_counters")
    require(java.nio.file.Files.exists(p),
      s"lex state at $stateDir has no lex_counters — write the bootstrap " +
        "counters (Serving.lexCountersOf) before streaming")
    java.nio.file.Files.readString(p).linesIterator.filter(_.nonEmpty).map { l =>
      val Array(t, n, sdl) = l.split(",")
      t -> (n.toLong, sdl.toLong)
    }.toMap
  }

  def writeLexCounters(stateDir: String,
                       counters: Map[String, (Long, Long)]): Unit = {
    val tmp = java.nio.file.Paths.get(stateDir, "_lex_counters.tmp")
    java.nio.file.Files.writeString(tmp,
      counters.toSeq.sortBy(_._1).map { case (t, (n, sdl)) =>
        s"$t,$n,$sdl" }.mkString("", "\n", "\n"))
    java.nio.file.Files.move(tmp,
      java.nio.file.Paths.get(stateDir, "lex_counters"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  /** Read/write the driver-maintained corpus row counter under a
    * maintain-serve state dir — the O(1)-per-epoch replacement for
    * counting the resolved byid view (r15 verdict task 3). Written
    * staged-then-rename (single-writer, like the stores); bootstrap
    * with [[initCorpusCount]] right after the byid init. */
  def readCorpusCount(stateDir: String): Long = {
    val p = java.nio.file.Paths.get(stateDir, "corpus_count")
    require(java.nio.file.Files.exists(p),
      s"maintain-serve state at $stateDir has no corpus_count — " +
        "call initCorpusCount at bootstrap")
    java.nio.file.Files.readString(p).trim.toLong
  }

  def writeCorpusCount(stateDir: String, n: Long): Unit = {
    val tmp = java.nio.file.Paths.get(stateDir, "_corpus_count.tmp")
    java.nio.file.Files.writeString(tmp, n.toString)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(stateDir, "corpus_count"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  /** Bootstrap the counter from the freshly-inited byid store — at
    * bootstrap the store is one base segment, so the read is the
    * merge-free fast path (a parquet metadata count). */
  def initCorpusCount(spark: SparkSession, stateDir: String,
                      idCol: String = "id"): Long = {
    val n = graft.operators.ByidStore
      .readAll(spark, s"$stateDir/byid", idCol).count()
    writeCorpusCount(stateDir, n)
    n
  }

  /** One micro-batch of the FULL maintain-then-serve loop (r14
    * verdict task 5 — the operational form a 100 TB deployment runs):
    * the CDC batch (op ∈ upsert|delete, idCol, embCol, tenant) is
    * applied O(churn) to ALL THREE maintained serving assets — the
    * raw byid store, the IVF cell assignments, and the PQ codes, each
    * a CDC-maintained point-fetch store under `stateDir` (assignment/
    * encoding of the batch's postimages runs against the FROZEN
    * centroids/codebooks — the x17/x19 maintenance contract), each
    * through the THRESHOLD-COMPACTED apply, so the per-fetch segment
    * count stays capped across unbounded epochs (ADVICE r15) — then a
    * probe batch is served THROUGH the routed IVF-PQ tier over the
    * maintained state and PERSISTED under `stateDir/served/epoch_N`,
    * so the serving loop is provably live between micro-batches.
    * Returns the served rows (read back from the persisted parquet —
    * nothing lazy escapes the epoch).
    *
    * The corpus counter is MAINTAINED, not measured (r15 verdict
    * task 3 — the old `vectors.count()` forced the merge-on-read
    * window over the full corpus once per epoch, the one
    * corpus-proportional action in an otherwise O(churn) loop): one
    * churn-bounded point-fetch of the batch's ids BEFORE the apply
    * says which are live, so
    * `new = old + |upserts ∖ live| − |deletes ∩ live|`. The
    * existence-based delta is naturally idempotent under foreachBatch
    * replay (a replayed upsert is live by then → no double count; a
    * replayed live-delete is already gone → no double decrement).
    * The `st_maintain_serve` gate replays micro-batches through THIS
    * function and hash-gates the final epoch's serve against a
    * from-scratch 15-Lloyd-kernel oracle; StreamingSpec drives the
    * real readStream path and asserts no epoch launches a corpus
    * count job. */
  def maintainServeBatch(spark: SparkSession, batch: DataFrame,
                         stateDir: String,
                         centroids: Map[String, Array[Array[Double]]],
                         codebooks: Map[String, graft.operators.ProductQuantization.Codebooks],
                         probes: Seq[(Long, Seq[Double])], k: Int,
                         nProbe: Int, rescoreK: Int, epoch: Long,
                         tenant: String = "all", idCol: String = "id",
                         embCol: String = "emb",
                         maxSegments: Int = 8): DataFrame = {
    import graft.operators.{ByidStore, Search, Serving, ProductQuantization => PQ}
    val removals = batch.filter(col("op").isin("delete", "upsert"))
      .select(col(idCol)).distinct()
    val additions = batch.filter(col("op") === "upsert").drop("op")
    // churn-bounded op summary (an id with BOTH ops in one batch ends
    // live — the store's same-batch postimage-survives rule)
    val ops = batch.select(col(idCol).cast("long").as("_id"),
        (col("op") === "upsert").as("_up"))
      .groupBy("_id").agg(max(col("_up")).as("_up"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val live: Set[Long] =
      if (ops.isEmpty) Set.empty
      else ByidStore.fetch(spark, s"$stateDir/byid", ops.map(_._1).toSeq, idCol)
        .select(col(idCol).cast("long")).collect().map(_.getLong(0)).toSet
    val corpusCount = readCorpusCount(stateDir) +
      ops.count { case (id, up) => up && !live(id) } -
      ops.count { case (id, up) => !up && live(id) }
    // the assignment delta feeds two consumers (the cells store apply
    // and the codes join) — cache the churn-bounded frame so the
    // centroid-distance assignment runs once per epoch, not twice
    // (optimization r16, guide §1.2); released after the applies
    val aDelta = Search.ivfAssign(additions, "tenant", idCol, embCol, centroids)
      .persist()
    val cDelta = PQ.pqEncode(additions, "tenant", idCol, embCol, codebooks)
      .join(aDelta.select(col("tenant"), col("id"), col("cell")),
        Seq("tenant", "id"))
      .select("tenant", "id", "codes", "cell")
    ByidStore.applyCdcAutoCompact(spark, s"$stateDir/byid", removals,
      additions.select(col(idCol), col(embCol), col("tenant")), idCol,
      maxSegments = maxSegments)
    // the derived stores key on the CANONICAL id column their
    // builders emit; removals are renamed to match
    val remCanon = removals.select(col(idCol).cast("long").as("id"))
    ByidStore.applyCdcAutoCompact(spark, s"$stateDir/cells_store", remCanon,
      aDelta, "id", maxSegments = maxSegments)
    ByidStore.applyCdcAutoCompact(spark, s"$stateDir/codes_store", remCanon,
      cDelta, "id", maxSegments = maxSegments)
    aDelta.unpersist()
    writeCorpusCount(stateDir, corpusCount)
    val vectors = ByidStore.readAll(spark, s"$stateDir/byid", idCol)
    val st = Serving.IndexState(
      vectors = vectors,
      corpusSize = corpusCount,
      centroids = Some(centroids),
      cells = Some(ByidStore.readAll(spark, s"$stateDir/cells_store", "id")
        .drop("seg")),
      codebooks = Some(codebooks),
      encoded = Some(ByidStore.readAll(spark, s"$stateDir/codes_store", "id")
        .drop("seg")),
      encodedHasCells = true,
      byidPath = Some(s"$stateDir/byid"),
      tenantCol = "tenant", idCol = idCol, embCol = embCol)
    val out = Serving.searchBatch(st, tenant, probes, k, nProbe, rescoreK,
      bruteForceCeiling = 0L)
    out.write.mode("overwrite").parquet(f"$stateDir/served/epoch_$epoch%05d")
    // read back with the writer's (nullability-forced) schema: parquet
    // schema inference is a Spark job per read in Spark 4 — one
    // scheduler round-trip per epoch for a schema already in hand
    spark.read.schema(servedSchema(out))
      .parquet(f"$stateDir/served/epoch_$epoch%05d")
  }

  /** The written frame's schema as a file-source read reports it. */
  private def servedSchema(df: DataFrame): org.apache.spark.sql.types.StructType =
    graft.operators.ByidStore.asNullable(df.schema)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** [[maintainServeBatch]] as a Structured Streaming sink: every CDC
    * micro-batch maintains all three serving assets and serves (and
    * persists) the probe batch before the next micro-batch is
    * admitted — foreachBatch serializes epochs, satisfying every
    * store's single-writer contract. */
  def streamMaintainServe(changes: DataFrame, stateDir: String,
                          checkpointDir: String,
                          centroids: Map[String, Array[Array[Double]]],
                          codebooks: Map[String, graft.operators.ProductQuantization.Codebooks],
                          probes: Seq[(Long, Seq[Double])], k: Int,
                          nProbe: Int = 4, rescoreK: Int = 50,
                          tenant: String = "all", idCol: String = "id",
                          embCol: String = "emb",
                          maxSegments: Int = 8,
                          trigger: org.apache.spark.sql.streaming.Trigger =
                            org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epoch: Long) =>
        maintainServeBatch(batch.sparkSession, batch, stateDir, centroids,
          codebooks, probes, k, nProbe, rescoreK, epoch, tenant, idCol,
          embCol, maxSegments): Unit
      }
      .start()

  /** One micro-batch of the FULL HYBRID maintain-then-serve loop —
    * the complete serving stack under CDC: a MULTIPLEXED feed
    * (`entity` ∈ vec|doc, `op` ∈ upsert|delete, nullable `emb`/`text`
    * payloads — documents and embeddings churn INDEPENDENT id spaces,
    * the way a deployment's per-entity CDC topics do) maintains every
    * serving asset O(churn):
    *
    *  - entity=vec rows drive the raw byid vector store
    *    (threshold-compacted apply) and the O(1) corpus counter
    *    (existence-based delta — replay-idempotent);
    *  - entity=doc rows drive the doc-keyed lexical term-vector store
    *    + the per-tenant (nDocs, Σdl) counters
    *    ([[graft.operators.Serving.applyLexCdc]]), persisted per
    *    epoch so a restart resumes exact integers;
    *
    * then a TEXT-BEARING probe batch is served through the HYBRID
    * tier — batched BM25 over postings = explode of the RESOLVED lex
    * view ∥ brute-force vector arm over the maintained byid rows,
    * weighted-RRF fold — and PERSISTED under `stateDir/served/
    * epoch_N`, so the full hybrid loop is provably live between
    * micro-batches. The `st_hybrid_maintain_serve` gate replays
    * micro-batches through THIS function and hash-gates the final
    * epoch's serve against a from-scratch BM25 + exact-kNN +
    * weighted-RRF replay over BOTH fully-churned relations;
    * StreamingSpec drives the real readStream path. */
  def hybridMaintainServeBatch(spark: SparkSession, batch: DataFrame,
                               stateDir: String,
                               probes: Seq[(Long, Seq[Double], Seq[String])],
                               k: Int, epoch: Long, tenant: String = "all",
                               wLex: Double = 0.5, wVec: Double = 0.5,
                               maxSegments: Int = 8): DataFrame = {
    import graft.operators.{ByidStore, Serving}
    val vecB = batch.filter(col("entity") === "vec")
    val docB = batch.filter(col("entity") === "doc")
    // -- vector assets (the maintainServeBatch shapes) --
    val vRemovals = vecB.filter(col("op").isin("delete", "upsert"))
      .select(col("id")).distinct()
    val vAdds = vecB.filter(col("op") === "upsert")
      .select(col("id"), col("emb"), col("tenant"))
    val ops = vecB.select(col("id").cast("long").as("_id"),
        (col("op") === "upsert").as("_up"))
      .groupBy("_id").agg(max(col("_up")).as("_up"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val live: Set[Long] =
      if (ops.isEmpty) Set.empty
      else ByidStore.fetch(spark, s"$stateDir/byid", ops.map(_._1).toSeq, "id")
        .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet
    val corpusCount = readCorpusCount(stateDir) +
      ops.count { case (id, up) => up && !live(id) } -
      ops.count { case (id, up) => !up && live(id) }
    ByidStore.applyCdcAutoCompact(spark, s"$stateDir/byid", vRemovals,
      vAdds, "id", maxSegments = maxSegments)
    writeCorpusCount(stateDir, corpusCount)
    // -- lexical assets (the x23 shapes) --
    val dRemIds = docB.filter(col("op").isin("delete", "upsert"))
      .select(col("id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val dAdds = docB.filter(col("op") === "upsert")
      .select(col("tenant"), col("id"), col("text"))
    val counters = Serving.applyLexCdc(spark, s"$stateDir/lex", dRemIds,
      dAdds, readLexCounters(stateDir), "tenant", "id", "text", maxSegments)
    writeLexCounters(stateDir, counters)
    // -- hybrid serve over the maintained state --
    val lexView = ByidStore.readAll(spark, s"$stateDir/lex", "id").drop("seg")
    val st = Serving.IndexState(
      vectors = ByidStore.readAll(spark, s"$stateDir/byid", "id"),
      corpusSize = corpusCount,
      postings = Some(Serving.postingsFromDocVectors(lexView)),
      lexStats = Serving.lexStatsFromCounters(counters),
      byidPath = Some(s"$stateDir/byid"),
      tenantCol = "tenant", idCol = "id", embCol = "emb")
    val out = Serving.searchBatchText(st, tenant, probes, k,
      bruteForceCeiling = Long.MaxValue, wLex = wLex, wVec = wVec)
    out.write.mode("overwrite").parquet(f"$stateDir/served/epoch_$epoch%05d")
    // writer-schema read-back — same schema-inference-job note as
    // maintainServeBatch
    spark.read.schema(servedSchema(out))
      .parquet(f"$stateDir/served/epoch_$epoch%05d")
  }

  /** [[hybridMaintainServeBatch]] as a Structured Streaming sink —
    * foreachBatch serializes epochs, so both stores' single-writer
    * contracts hold by construction. */
  def streamHybridMaintainServe(changes: DataFrame, stateDir: String,
                                checkpointDir: String,
                                probes: Seq[(Long, Seq[Double], Seq[String])],
                                k: Int, tenant: String = "all",
                                wLex: Double = 0.5, wVec: Double = 0.5,
                                maxSegments: Int = 8,
                                trigger: org.apache.spark.sql.streaming.Trigger =
                                  org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epoch: Long) =>
        hybridMaintainServeBatch(batch.sparkSession, batch, stateDir,
          probes, k, epoch, tenant, wLex, wVec, maxSegments): Unit
      }
      .start()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 15-min window agg (streaming-equivalent batch form;
    // qa_analytics daily trend A4 generalized to sub-day windows).
    "st_window_agg" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")),

    // Sliding-window aggregation (30-min window / 10-min slide): every
    // event lands in exactly win/slide = 3 overlapping windows. The
    // oracle replays window MEMBERSHIP by fanning each event out to
    // its 3 aligned starts (time_bucket − k·slide) — the same rule
    // Spark's window() uses. Decimal value sums keep the overlap
    // arithmetic order-independent.
    "st_sliding_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "30 minutes", "10 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")),

    // Gap-based sessionization (30-min gap). Timestamps truncated to
    // micros (×1000 back to ns units) — DuckDB reads the NANOS parquet
    // at TIMESTAMP (µs) precision, so exact parity lives at µs.
    "st_sessionize" -> ((s, d) =>
      sessionizeBatch(
        Tables.events(s, d).withColumn("ts_ns", expr("ts_ns div 1000 * 1000")),
        1800L * 1000 * 1000 * 1000)
        .orderBy("user_id", "session_idx")),

    // Streaming semantic near-dedup, driver-visible: the StreamingSpec
    // scenario (exact copies of every 50th vector arriving one
    // micro-batch AFTER their originals) replayed through the SAME
    // greedy rule the flatMapGroupsWithState handler runs. HASH-EXACT:
    // the oracle can assert survivors == originals because (a) the
    // copies dot their originals at ~1.0 ≥ τ=0.95 in the same bucket
    // by construction, and (b) the max cross-vector cosine in the
    // corpus is ≤0.61 at every test SF (measured; margin 0.34 to τ) —
    // so no original suppresses another. Digest = per-bucket admitted
    // count + id sum, with bucket codes replayed via the shared
    // RP-LSH SQL.
    "st_semdedup_replay" -> ((s, d) => {
      import graft.functions.RandomHyperplane
      val base = Tables.embeddings(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"),
        RandomHyperplane.codeCol(col("embedding")).as("code"))
      val originals = base.withColumn("batch_seq", lit(0L))
      val copies = base.filter(col("vec_id") % 50 === 0)
        .withColumn("vec_id", col("vec_id") + 10000)
        .withColumn("batch_seq", lit(1L))
      semDedupReplay(s, originals.unionByName(copies), 0.95)
        .groupBy("code")
        .agg(count(lit(1)).as("n_admitted"), sum(col("vec_id")).as("sum_ids"))
        .orderBy("code")
    }),

    // STREAMING MAINTAIN-THEN-SERVE (r14 verdict task 5): the x21
    // composite in its operational streaming form. Snapshot 1 (the
    // non-%9 cohort) bootstraps all three CDC-maintained serving
    // stores (byid / IVF cells / PQ codes) and freezes the trained
    // assets; the churn feed — %7 updates (reversed embeddings),
    // %13∖%7 deletes, %9 inserts — arrives as TWO micro-batches
    // (split by id parity) replayed through maintainServeBatch, the
    // SAME function the streamMaintainServe sink applies per epoch
    // (StreamingSpec drives the real readStream path). Each epoch
    // maintains every asset O(churn) and serves + persists a routed
    // IVF-PQ probe batch; the gate emits the FINAL epoch's served
    // rows, hash-gated against the from-scratch 15-Lloyd-kernel
    // replay over the fully-churned corpus — drift in the feed
    // split, any store's merge, the frozen-asset maintenance, the
    // routing, or the ADC/rescore math hash-fails the served result.
    "st_maintain_serve" -> ((s, d) => {
      import graft.operators.{ByidStore, Search, ProductQuantization => PQc}
      val sdir = java.nio.file.Files
        .createTempDirectory("graft_st_ms_").toString
      val all = Tables.embeddings(s, d)
        .select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<double>").as("emb"))
        .withColumn("tenant", lit("all"))
      // (a bootstrap fanOut was measured here and reverted: the
      // fixture's 16-dim assign/encode passes are too cheap to pay a
      // shuffle + 32-task overhead for — st_maintain_serve regressed)
      val v1 = all.filter(pmod(col("id"), lit(9L)) =!= 0)
      val cents = Search.ivfTrainSampled(v1, "tenant", "id", "emb", 16,
        sampleCap = 256)
      val books = PQc.pqTrainSampled(v1, "tenant", "id", "emb", 4, 8, 256)
      ByidStore.init(v1.select("id", "emb", "tenant"), "id",
        s"$sdir/byid")
      initCorpusCount(s, sdir)
      val a1 = Search.ivfAssign(v1, "tenant", "id", "emb", cents)
      ByidStore.init(a1, "id", s"$sdir/cells_store")
      ByidStore.init(PQc.pqEncode(v1, "tenant", "id", "emb", books)
          .join(a1.select(col("tenant"), col("id"), col("cell")),
            Seq("tenant", "id"))
          .select("tenant", "id", "codes", "cell"),
        "id", s"$sdir/codes_store")
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
      val qids = Seq(0L, 1L, 2L)
      val probes = qids.zip(Search.qvecs(s, d, qids))
      val served = Seq(0L, 1L).map { par =>
        maintainServeBatch(s, feed.filter(pmod(col("id"), lit(2L)) === par),
          sdir, cents, books, probes, k = 10, nProbe = 4, rescoreK = 50,
          epoch = par)
      }
      // the between-epoch serve is persisted and non-empty — the loop
      // stayed live mid-stream (its rows reflect the half-churned
      // state; the final epoch is the oracle-gated one)
      require(served.head.count() == 30,
        "epoch-0 probe serve missing or wrong-sized")
      served.last.orderBy("q_id", "rank")
    }),

    // The FULL HYBRID serving stack under streaming CDC (the round-16
    // capstone — x20's vector maintenance + x23's lexical maintenance
    // + the batched weighted hybrid serve in ONE loop): a multiplexed
    // feed churns BOTH id spaces independently — embeddings (%7
    // reversed-emb upserts, %13∖%7 deletes, %9 inserts) as entity=vec
    // rows, documents (%7 marker-prefixed-text upserts, %13∖%7
    // deletes, %9 inserts) as entity=doc rows — in TWO id-parity
    // micro-batches replayed through hybridMaintainServeBatch, the
    // SAME function the streamHybridMaintainServe sink applies per
    // epoch (StreamingSpec drives the real readStream path). Each
    // epoch maintains all four assets (byid store, corpus counter,
    // lex store, lex counters) O(churn) and serves + persists a
    // text-bearing probe batch at the reference's 0.4/0.6 service
    // weights; the gate emits the FINAL epoch's rows, hash-gated
    // against a from-scratch BM25 + exact-kNN + weighted-RRF replay
    // over BOTH fully-churned relations — drift in either store's
    // merge, either counter's arithmetic, the entity demux, the
    // postings explode view, or the fusion hash-fails the serve.
    "st_hybrid_maintain_serve" -> ((s, d) => {
      import graft.operators.{ByidStore, Search, Serving}
      val sdir = java.nio.file.Files
        .createTempDirectory("graft_st_hms_").toString
      val eAll = Tables.embeddings(s, d)
        .select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<double>").as("emb"))
        .withColumn("tenant", lit("all"))
      val dAll = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("id"), col("text"))
        .withColumn("tenant", lit("all"))
      val eV1 = eAll.filter(pmod(col("id"), lit(9L)) =!= 0)
      val dV1 = dAll.filter(pmod(col("id"), lit(9L)) =!= 0)
      ByidStore.init(eV1.select("id", "emb", "tenant"), "id",
        s"$sdir/byid")
      initCorpusCount(s, sdir)
      // fanOut: both bootstrap passes tokenize the whole corpus and
      // would otherwise run inside the single-file scan's one partition
      val dV1f = Tables.fanOut(dV1)
      ByidStore.init(Serving.lexDocVectors(dV1f, "tenant", "id", "text"),
        "id", s"$sdir/lex")
      writeLexCounters(sdir, Serving.lexCountersOf(dV1f, "tenant", "text"))
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
      val qids = Seq(0L, 1L, 2L)
      val probes = qids.zip(Search.qvecs(s, d, qids))
        .map { case (q, v) => (q, v, Seq("freshly", "updated", "join")) }
      val served = Seq(0L, 1L).map { par =>
        hybridMaintainServeBatch(s,
          feed.filter(pmod(col("id"), lit(2L)) === par), sdir, probes,
          k = 10, epoch = par, wLex = 0.4, wVec = 0.6)
      }
      require(served.head.count() == 30,
        "epoch-0 hybrid serve missing or wrong-sized")
      served.last.orderBy("q_id", "rank")
    }),

    // First-seen dedup per (user, event_type) — the streaming-dedup
    // contract in its deterministic batch form (µs precision for
    // engine parity).
    "st_stream_dedup" -> ((s, d) =>
      dedupFirstSeen(
        Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000")),
        Seq("user_id", "event_type"))
        .select("user_id", "event_type", "event_id", "ts_us")
        .orderBy("user_id", "event_type")),

    // Interval join, batch form at µs precision: views in the 10
    // minutes before each purchase of the same user (the stream-stream
    // variant over real readStream sources with watermarks runs in
    // StreamingSpec and must agree with this).
    "st_interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts_us").as("p_ts"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts_us").as("v_ts"),
          col("event_id").as("v_id"))
      p.join(v, col("user_id") === col("v_user") &&
          col("v_ts") >= col("p_ts") - 600000000L && col("v_ts") < col("p_ts"))
        .groupBy("p_id")
        .agg(count(lit(1)).as("n_views"), min(col("p_ts") - col("v_ts")).as("min_gap_us"))
        .orderBy("p_id")
    }),

    // WATERMARK-DELAY PROFILING — the measurement that sizes a
    // production watermark: replaying arrival order (event_id) in
    // 1000-row micro-batches, batch k's watermark base is the max
    // event time seen in batches < k (Spark's rule: the watermark
    // used by a batch comes from previous batches), and a row is LATE
    // under delay D if its event time < base − D. The profile over
    // {60 s, 600 s, 3600 s} answers "what fraction of real traffic
    // would a D-second watermark drop" BEFORE the stream job ships —
    // run too tight and state stays small but data silently vanishes;
    // the late-gap maximum says how much delay would have kept
    // everything. Batch maxima relation is |events|/1000 rows; the
    // running max is a window over that small relation, the per-row
    // verdict a broadcast join — no corpus-wide window.
    "st_late_profile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.BoundedWindow
      val ev = Tables.events(s, d)
        .select(col("event_id"), expr("ts_ns div 1000").as("ts_us"))
        .withColumn("batch", expr("event_id div 1000"))
      val wPrev = BoundedWindow.orderBy(col("batch"), col("batch").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val wm = ev.groupBy("batch").agg(max(col("ts_us")).as("bmax"))
        .withColumn("wm_base", max(col("bmax")).over(wPrev))
        .select("batch", "wm_base")
      // no broadcast hint: wm scales with the corpus (1/1000 of it)
      ev.join(wm, Seq("batch"))
        .withColumn("delay_s",
          explode(array(lit(60L), lit(600L), lit(3600L))))
        .withColumn("late",
          (col("wm_base").isNotNull &&
            col("ts_us") < col("wm_base") - col("delay_s") * 1000000L)
            .cast("long"))
        .groupBy("delay_s")
        .agg(count(lit(1)).as("n_total"), sum(col("late")).as("n_late"),
          coalesce(sum(when(col("late") === 1, col("event_id"))), lit(0L))
            .as("sum_late_ids"),
          coalesce(max(when(col("late") === 1,
            col("wm_base") - col("delay_s") * 1000000L - col("ts_us"))), lit(0L))
            .as("max_late_gap_us"))
        .orderBy("delay_s")
    })
  )

  val oracles: Map[String, String] = Map(
    // The x21 from-scratch replay with the delete cohort removed from
    // the surviving v1 rows — epoch splitting must be invisible in
    // the final served state.
    "st_maintain_serve" -> {
      Seq(0L, 1L, 2L).map(graft.pipelines.IndexPipeline.maintainServeArmSql(
          _, v1DeleteClause = "WHERE NOT (id % 13 = 0 AND id % 7 <> 0)"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY q_id ASC, rank ASC")
    },

    // The hybrid replay over BOTH fully-churned relations at the
    // 0.4/0.6 service weights: documents with %7 marker-prefixed,
    // %13∖%7 removed, %9 inserted (the lexical state the maintained
    // lex store + counters must serve) AND embeddings with %7
    // reversed, %13∖%7 removed, %9 inserted (the vector state the
    // maintained byid store must serve). Query vectors come from the
    // RAW embeddings table — probes are request-side.
    "st_hybrid_maintain_serve" -> graft.operators.Serving.hybridSql(
      Seq(0L, 1L, 2L), _ => Seq("freshly", "updated", "join"), 0.4, 0.6,
      docsSql = """SELECT doc_id,
        |    CASE WHEN doc_id % 9 <> 0 AND doc_id % 7 = 0
        |         THEN 'freshly updated revision: ' || text
        |         ELSE text END AS text
        |  FROM documents
        |  WHERE NOT (doc_id % 9 <> 0 AND doc_id % 13 = 0 AND doc_id % 7 <> 0)""".stripMargin,
      vecSql = """SELECT vec_id,
        |    CASE WHEN vec_id % 9 <> 0 AND vec_id % 7 = 0
        |         THEN list_transform(range(1, 65), j -> (embedding::DOUBLE[])[65 - j])
        |         ELSE embedding::DOUBLE[] END AS embedding
        |  FROM embeddings
        |  WHERE NOT (vec_id % 9 <> 0 AND vec_id % 13 = 0 AND vec_id % 7 <> 0)""".stripMargin),

    // Late profile replayed: same 1000-row arrival batches, same
    // previous-batches running max, same late rule per delay.
    "st_late_profile" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, event_id // 1000 AS batch
        |  FROM events),
        |bm AS (SELECT batch, max(ts_us) AS bmax FROM ev GROUP BY batch),
        |wm AS (
        |  SELECT batch, max(bmax) OVER (ORDER BY batch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_base
        |  FROM bm),
        |x AS (SELECT e.event_id, e.ts_us, w.wm_base
        |      FROM ev e JOIN wm w USING (batch)),
        |l AS (
        |  SELECT d.delay_s, event_id, ts_us, wm_base,
        |    CASE WHEN wm_base IS NOT NULL
        |           AND ts_us < wm_base - d.delay_s * 1000000
        |         THEN 1 ELSE 0 END AS late
        |  FROM x, (SELECT unnest([60, 600, 3600]::BIGINT[]) AS delay_s) d)
        |SELECT CAST(delay_s AS BIGINT) AS delay_s, count(*) AS n_total,
        |  CAST(sum(late) AS BIGINT) AS n_late,
        |  CAST(coalesce(sum(CASE WHEN late = 1 THEN event_id END), 0) AS BIGINT)
        |    AS sum_late_ids,
        |  CAST(coalesce(max(CASE WHEN late = 1
        |    THEN wm_base - delay_s * 1000000 - ts_us END), 0) AS BIGINT)
        |    AS max_late_gap_us
        |FROM l GROUP BY delay_s ORDER BY delay_s""".stripMargin,
    // Survivors == originals (see the query comment's margin argument):
    // every original admitted, every +10000 copy suppressed.
    "st_semdedup_replay" ->
      s"""SELECT code, count(*) AS n_admitted, CAST(sum(vec_id) AS BIGINT) AS sum_ids
         |FROM (SELECT vec_id,
         |        ${graft.functions.RandomHyperplane.codeSql("embedding::DOUBLE[]")} AS code
         |      FROM embeddings)
         |GROUP BY code ORDER BY code""".stripMargin,
    "st_window_agg" ->
      """SELECT strftime(time_bucket(INTERVAL '15 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "st_sliding_window" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT time_bucket(INTERVAL '10 minutes', ts) - k.k * INTERVAL '10 minutes' AS ws,
        |         event_type, value
        |  FROM events, (SELECT unnest([0, 1, 2]) AS k) k)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "st_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
        |    CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
        |           OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) ASC, event_id ASC)),
        |sessions AS (
        |  SELECT user_id, ts_ns, event_id,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ns ASC, event_id ASC
        |                           ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx
        |  FROM flagged)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  max(ts_ns) - min(ts_ns) AS dur_ns
        |FROM sessions GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,
    "st_stream_dedup" ->
      """SELECT user_id, event_type, event_id, ts_us FROM (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY epoch_us(ts) ASC, event_id ASC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "st_interval_join" ->
      """SELECT p.event_id AS p_id, count(*) AS n_views,
        |  min(epoch_us(p.ts) - epoch_us(v.ts)) AS min_gap_us
        |FROM events p JOIN events v
        |  ON v.user_id = p.user_id AND v.event_type = 'view'
        | AND epoch_us(v.ts) >= epoch_us(p.ts) - 600000000
        | AND epoch_us(v.ts) < epoch_us(p.ts)
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id ORDER BY p_id""".stripMargin
  )
}
