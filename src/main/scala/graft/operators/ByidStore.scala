package graft.operators

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType, StructField, StructType}

import graft.pipelines.ManifestIndex

/** CDC-maintained point-fetch store — O(churn) maintenance for the
  * id-keyed serving layout (round-13 verdict task 1).
  *
  * `Layout.pointFetchWrite` gives the rescore/get-by-ids path its
  * 192× byte win (id-sorted files, 8-row id pages, or-of-eq pushdown),
  * but as a ONE-TIME rewrite: under churn (the reference's upsert/
  * delete surface — `vector_db_service.py:165-261` upserts,
  * `documents.py` deletes) the layout goes stale, and re-running the
  * full rewrite after every batch is the same O(corpus) trap the IVF
  * assignment (x17) and PQ codes (x19) maintenance already avoid. This
  * store closes that gap with the classic LSM/Delta shape, kept
  * deliberately tiny because every reader is a bounded point fetch:
  *
  *  - BASE + DELTA SEGMENTS: `seg_NNNNN/` directories, each written in
  *    the point-fetch layout (id-sorted, 8-row pages). A CDC batch
  *    appends ONE delta segment holding only the batch's additions
  *    (inserts + update postimages) — cost ∝ churn, never corpus.
  *  - TOMBSTONES: `tomb_NNNNN/` holds the batch's removed ids
  *    (deletes + update preimages). A tombstone at batch b kills
  *    versions with seg < b; an update's own postimage (seg = b) and
  *    any later re-insert survive.
  *  - COMMIT MARKERS (round-14 verdict tasks 1 + 7): a batch is
  *    visible iff its zero-byte `commit_NNNNN` file exists. Every
  *    write stages under `_stage_NNNNN/`, renames the non-empty parts
  *    into place, and flips the batch visible with ONE atomic marker
  *    create — so a crash at ANY point leaves readers serving exactly
  *    the pre-batch or post-batch view, never a torn one (a delta
  *    without its tombstones, a half-written parquet dir, a
  *    mid-compaction hole). Marker-less `seg_`/`tomb_` dirs are
  *    invisible debris, reclaimed by the next [[compact]].
  *  - SIZING: every layout decision — the [[init]] base, each delta,
  *    each fold — takes `ceil(bytes / spark.graft.byid.deltaTargetBytes)`
  *    files (1..256), measured from parquet bytes on the driver: the
  *    staged raw frame for init and deltas, the committed segments for
  *    a fold. A churn-scale store is therefore one id-sorted file,
  *    written with no shuffle.
  *  - RESOLUTION (reader-side merge-on-read): a fetch reads every
  *    committed segment as ONE parquet scan (a [[ManifestIndex]] over
  *    the `seg_` dirs, each dir's batch number as the `seg` partition
  *    value, the `_schema.json` sidecar as the data schema) with the
  *    `Layout.idsPredicate` or-of-eq pushed into it (every file
  *    page-prunes to the candidate ids, and the segment count is
  *    capped by compaction), takes the max-seg version per id, then
  *    drops ids whose newest tombstone outranks that version. The
  *    tombstone scan (one more index, `tseg` partitions) takes the
  *    SAME id predicate (a tombstone only matters if its id is a
  *    candidate), so delete-heavy histories never turn point reads
  *    into tombstone table scans.
  *  - COMPACTION: when the committed batch-dir count (segments AND
  *    tombstones — delete-only histories accumulate `tomb_` dirs with
  *    no segments) passes the threshold, [[compact]] folds everything
  *    back into one base segment — the only O(corpus) action, paid
  *    once per `maxSegments` batches by choice, not per batch.
  *    Crash-safe ordering: the folded base is committed at batch
  *    max+1 FIRST (it outranks every live row, so the merged view is
  *    already post-compaction while old dirs linger), then old
  *    batches retire in ASCENDING batch order (an id's latest
  *    tombstone always outranks its stale segment rows at every
  *    prefix of the removal — no resurrection window).
  *
  * CONTRACTS: SINGLE-WRITER — batch numbering is max-existing + 1, so
  * concurrent appliers would collide; the CDC feed is sequential by
  * construction (VersionedStore snapshots are optimistic-single-
  * winner) and the streaming sink (`streamByidMaintain`) serializes
  * micro-batches. GLOBALLY-UNIQUE IDS — the store keys on `idCol`
  * alone (the reference's ChromaDB ids are globally unique uuids,
  * `vector_db_service.py:165-261`); two tenants sharing an id would
  * collapse to one row in the merge window, so multi-tenant corpora
  * must mint tenant-disjoint ids (every graft fixture does), and the
  * rescore path re-filters fetched rows by tenant as belt-and-braces
  * (`PQ.rescoreBatch`). The contract is ENFORCED, not just documented
  * (r15 verdict task 7): [[applyCdc]] loudly rejects duplicate ids
  * within a batch (a same-segment tie has no deterministic winner),
  * and every [[checkpoint]]/[[compact]] rejects any id claimed by two
  * tenants across the store's history — the collision the merge
  * window cannot itself witness (ByidStoreSpec pins both rejects).
  *
  * Scale posture: applyCdc touches churn rows only (delta write +
  * tombstone write); fetch cost is segments × point-read, independent
  * of corpus size; compaction is scheduled, not forced. Reads go
  * through the index `VersionedStore` reads through ([[ManifestIndex]]):
  * the store dir is listed once per call and its committed batch dirs
  * become the index's partition directories, so nothing is discovered
  * or inferred. The marker create is the store's atomic publish
  * primitive (HDFS create-no-overwrite, S3 PUT If-None-Match —
  * `VersionedStore` scaladoc).
  */
object ByidStore {

  private def segDir(path: String, n: Int): String = f"$path/seg_$n%05d"
  private def tombDir(path: String, n: Int): String = f"$path/tomb_$n%05d"
  private def marker(path: String, n: Int): String = f"$path/commit_$n%05d"
  private def stageDir(path: String, n: Int): String = f"$path/_stage_$n%05d"

  /** One listing of the store dir: every batch number each kind of
    * artifact claims, ascending. The `commit_` markers are the
    * visibility source of truth — a `seg_`/`tomb_` dir without its
    * marker (crash mid-publish, half-written debris) is invisible, so
    * `segs`/`tombs` are the COMMITTED ones. `maxBatch` counts every
    * artifact, committed or not: orphaned dirs and stale stages must
    * never be re-numbered over (a rename onto crash debris would
    * resurrect it). */
  private final case class Listing(allSegs: Seq[Int], allTombs: Seq[Int],
                                   committed: Set[Int], stages: Seq[Int]) {
    def segs: Seq[Int] = allSegs.filter(committed)
    def tombs: Seq[Int] = allTombs.filter(committed)
    def maxBatch: Int = (allSegs ++ allTombs ++ committed ++ stages).foldLeft(-1)(math.max)
  }

  private def listing(path: String): Listing = {
    val fs = Option(new File(path).listFiles()).getOrElse(Array.empty[File]).toSeq
    def numbered(prefix: String, dirsOnly: Boolean = true): Seq[Int] =
      fs.filter(f => (!dirsOnly || f.isDirectory) && f.getName.startsWith(prefix))
        .map(_.getName.stripPrefix(prefix).toInt).sorted
    Listing(numbered("seg_"), numbered("tomb_"),
      numbered("commit_", dirsOnly = false).toSet, numbered("_stage_"))
  }

  /** COMMITTED segment numbers present (base + deltas), ascending. */
  def segments(path: String): Seq[Int] = listing(path).segs

  /** COMMITTED tombstone batch numbers present, ascending. */
  def tombstones(path: String): Seq[Int] = listing(path).tombs

  private def rename(from: String, to: String): Unit = {
    val ok = new File(from).renameTo(new File(to))
    require(ok, s"byid store: rename $from -> $to failed")
  }

  /** Atomic publish: create-no-overwrite of the zero-byte marker. */
  private def commit(path: String, n: Int): Unit = {
    val ok = new File(marker(path, n)).createNewFile()
    require(ok, s"byid store: batch $n already committed (single-writer violated?)")
  }

  /** Bootstrap: write the full corpus as base segment 0 in the
    * point-fetch layout. The one intentionally O(corpus) call.
    * Committed like any batch: staged write, rename, marker. The frame
    * is staged RAW first ([[stageRaw]], the same shape as
    * [[applyCdc]]'s additions half): its plan — e.g. lexDocVectors
    * over the corpus — runs once, at natural parallelism, with no
    * persist; the file count is sized from the staged bytes
    * ([[sizedFiles]]), and the layout pass re-reads the staged
    * parquet. Persists the store's schema as a `_schema.json` sidecar:
    * the data schema of every later read, so none infers (inference
    * is one Spark job per read in Spark 4 — optimization r17, guide
    * §1.2), and the schema every CDC batch must match. */
  def init(df: DataFrame, idCol: String, path: String): Unit = {
    require(listing(path).maxBatch < 0, s"byid store at $path already initialized")
    val spark = df.sparkSession
    val stage = stageDir(path, 0)
    val (_, n, raw) = stageRaw(spark, path, df, None, stage)
    Layout.pointFetchWrite(raw, idCol, s"$stage/seg", n)
    // sidecar BEFORE the commit marker: file-source reads force
    // nullability anyway, so store the asNullable form — identical to
    // what inference would return
    writeSchema(path, df.schema)
    rename(s"$stage/seg", segDir(path, 0))
    commit(path, 0)
    deleteRecursively(new File(stage))
  }

  private def schemaFile(path: String): String = s"$path/_schema.json"

  /** The all-nullable form of a schema — what a file-source read
    * reports regardless of write-time nullability (Spark forces
    * nullability on file relations), so sidecar-driven reads are
    * byte-identical to inferred ones. (StructType.asNullable is
    * private[sql]; same recursion.) */
  private[graft] def asNullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case at: ArrayType =>
      ArrayType(asNullable(at.elementType), containsNull = true)
    case mt: MapType => MapType(asNullable(mt.keyType),
      asNullable(mt.valueType), valueContainsNull = true)
    case other => other
  }

  private def writeSchema(path: String, schema: StructType): Unit = {
    new File(path).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(schemaFile(path)),
      asNullable(schema).json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    : Unit
  }

  /** The store's payload schema (written at [[init]]) — the data
    * schema of every segment read, so no read infers. A store without
    * it cannot be read. */
  private def readSchema(path: String): StructType = {
    val f = new File(schemaFile(path))
    require(f.exists(), s"byid store at $path has no ${schemaFile(path)} " +
      "(every init writes it) — rebuild the store")
    DataType.fromJson(new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[StructType]
  }

  /** The batch dirs `dir(n)` for `ns` as ONE parquet scan: a
    * [[ManifestIndex]] over them, each dir's batch number as the
    * `part` partition value (`seg` for segments, `tseg` for
    * tombstones), `data` as the data schema — the sidecar for
    * segments (columns match by name, so per-batch column order is
    * irrelevant), one long id column for tombstones. */
  private def batchScan(spark: SparkSession, dir: Int => String, ns: Seq[Int],
                        part: String, data: StructType): DataFrame =
    ManifestIndex.relation(spark, ns.map(n => (dir(n), Seq(n))),
      StructType(Seq(StructField(part, IntegerType))), data)

  /** Parquet files of a staged dir via the Hadoop FileSystem API
    * (ADVICE r16: the java.io.File form hard-wired the local FS while
    * accepting a Hadoop conf that implies portability). */
  private def parquetFiles(spark: SparkSession,
                           dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** (rows, bytes) of a staged parquet dir from its file FOOTERS —
    * pure driver-side metadata (no Spark job, no scheduler
    * round-trip). Staged dirs are churn-bounded (1–few files), so
    * this is a handful of footer reads; an unreadable footer fails
    * loudly before the batch can commit. */
  private def parquetRowsBytes(spark: SparkSession, dir: String): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = parquetFiles(spark, dir)
    val rows = files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        f.getPath, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
    (rows, files.map(_.getLen).sum)
  }

  /** The store's one sizing rule: `ceil(bytes / target)` files,
    * clamped to 1..256, with `spark.graft.byid.deltaTargetBytes`
    * (default 128 MB) as the target. Every layout decision — [[init]],
    * [[applyCdc]]'s delta, the [[checkpoint]]/[[compact]] fold — sizes
    * through it, so a churn-scale store is one id-sorted file
    * (`Layout.pointFetchWrite`'s shuffle-free branch) and a
    * backfill-scale one fans out. */
  private def sizedFiles(spark: SparkSession, bytes: Long): Int = {
    val target = spark.conf.getOption("spark.graft.byid.deltaTargetBytes")
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    math.max(1L, math.min(256L, (bytes + target - 1) / target)).toInt
  }

  /** Stage `df` RAW under `stage/raw` (one evaluation of its plan, at
    * its natural partitioning — no sort, no shuffle), then read back
    * its row count and size from the staged FOOTERS on the driver.
    * Returns (rows, layout file count, the staged frame). The staged
    * frame re-reads cheap parquet, so a multi-file layout's range
    * sampling never re-evaluates the upstream plan.
    *
    * SCHEMA GUARD: when the store already has a sidecar (`expected`),
    * the frame's columns must match it by name and type (in
    * [[asNullable]] form; column order is free) — checked before
    * anything is written. Reading the batch with the sidecar schema
    * would otherwise drop an extra column and commit a missing one as
    * null, silently. */
  private def stageRaw(spark: SparkSession, path: String, df: DataFrame,
                       expected: Option[StructType],
                       stage: String): (Long, Int, DataFrame) = {
    expected.foreach(requireSchema(path, df.schema, _))
    deleteRecursively(new File(stage)) // single-writer: only crash debris
    df.write.mode("overwrite").parquet(s"$stage/raw")
    val (rows, bytes) = parquetRowsBytes(spark, s"$stage/raw")
    val raw = spark.read.schema(expected.getOrElse(
        asNullable(df.schema).asInstanceOf[StructType]))
      .parquet(s"$stage/raw")
    (rows, sizedFiles(spark, bytes), raw)
  }

  private def requireSchema(path: String, got: StructType, want: StructType): Unit = {
    def byName(st: StructType) =
      st.fields.map(f => f.name -> asNullable(f.dataType)).toMap
    val (g, w) = (byName(got), byName(want))
    if (g != w) {
      val extra = g.keySet -- w.keySet
      val missing = w.keySet -- g.keySet
      val changed = (g.keySet & w.keySet).filter(k => g(k) != w(k))
        .map(k => s"$k: ${w(k).simpleString} -> ${g(k).simpleString}")
      throw new IllegalArgumentException(
        s"byid store at $path: CDC batch schema does not match the store's " +
          s"_schema.json (extra: ${extra.mkString(", ")}; missing: " +
          s"${missing.mkString(", ")}; changed type: ${changed.mkString(", ")}) " +
          "— a store's schema is fixed at init")
    }
  }

  /** Apply one CDC batch: `removals` (one `idCol` column — deletes +
    * update preimages) becomes a tombstone, `additions` (full payload
    * rows — inserts + update postimages) becomes a delta segment in
    * the point-fetch layout. Work is O(churn): neither side reads an
    * existing segment, and each input plan is evaluated ONCE (staged
    * write first, emptiness decided from the staged FOOTER counts — a
    * count-then-write pair would pay join-derived CDC plans twice and
    * let a non-deterministic source write a segment inconsistent with
    * the emptiness decision). Returns the batch number (0 if the
    * batch was empty and nothing was committed).
    *
    * JOB SHAPE (optimization r16/r17, guide §1.2/§2.4): one Spark job
    * per input plan and nothing else — the additions plan is staged
    * RAW first (one parallel evaluation, natural partitioning, no
    * sort/shuffle), the emptiness/size bookkeeping reads the staged
    * parquet FOOTERS on the driver, and the point-fetch layout is
    * produced by re-reading the tiny staged bytes (so the range
    * sampling pass of a multi-file layout re-reads cheap parquet,
    * never re-evaluates the upstream CDC plan). The churn-bounded
    * common case (staged bytes ≤ `spark.graft.byid.deltaTargetBytes`,
    * default 128 MB) lays out ONE id-sorted file through
    * `Layout.pointFetchWrite`'s one-file branch (coalesce(1)+sort —
    * zero shuffles, zero AQE stage jobs), and the uniqueness check is
    * a single coalesced aggregate job. Four jobs per batch end to end
    * (was 7 with AQE stage materialization in r16). A backfill-scale
    * batch fans out to ceil(bytes/target) files ([[sizedFiles]]).
    *
    * SCHEMA: `additions` must carry exactly the store's columns and
    * types (the `_schema.json` sidecar written at [[init]]) — a
    * drifted batch throws before anything is staged ([[stageRaw]]).
    *
    * CRASH-ATOMIC: both parts are staged under `_stage_N/`, renamed
    * into place, and made visible by the single `commit_N` marker
    * create — a crash anywhere leaves the batch entirely invisible
    * (readers serve the pre-batch view; the debris is vacuumed by the
    * next compaction), never a delta whose deletes were lost. */
  def applyCdc(spark: SparkSession, path: String, removals: DataFrame,
               additions: DataFrame, idCol: String): Int = {
    val batch = listing(path).maxBatch + 1
    val stage = stageDir(path, batch)
    val (nAdd, nFiles, raw) =
      stageRaw(spark, path, additions, Some(readSchema(path)), stage)
    removals.select(col(idCol).cast("long").as(idCol))
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/tomb")
    // staged parquet counts/sizes are FOOTER reads on the driver — the
    // upstream plans ran exactly once, at the writes, and no count job
    // is launched
    val (nRem, _) = parquetRowsBytes(spark, s"$stage/tomb")
    if (nAdd > 0) {
      // WITHIN-BATCH id uniqueness (r15 verdict task 7): two rows for
      // one id in one segment tie on `seg` in the merge window, so the
      // resolved winner would be arbitrary — reject loudly before the
      // batch becomes visible. Churn-bounded: a single-file delta runs
      // the aggregate coalesced on one task (no exchange, one job); a
      // backfill-scale delta pays the distributed two-phase distinct.
      val dupSrc = if (nFiles == 1) raw.coalesce(1) else raw
      val nDis = dupSrc.agg(countDistinct(col(idCol))).head().getLong(0)
      require(nDis == nAdd,
        s"byid store at $path: CDC batch carries ${nAdd - nDis} duplicate " +
          s"$idCol rows — one postimage per id per batch (collapse the feed " +
          "first, e.g. streamByidMaintain's orderCol rule)")
      Layout.pointFetchWrite(raw, idCol, s"$stage/seg", nFiles)
    }
    if (nAdd == 0 && nRem == 0) {
      deleteRecursively(new File(stage))
      return 0
    }
    if (nAdd > 0) rename(s"$stage/seg", segDir(path, batch))
    if (nRem > 0) rename(s"$stage/tomb", tombDir(path, batch))
    commit(path, batch)
    deleteRecursively(new File(stage))
    batch
  }

  /** [[applyCdc]] + scheduled compaction: fold back to one base when
    * the committed batch-dir count passes `maxSegments`. Tombstone
    * dirs count toward the threshold — a delete-heavy feed produces
    * tombstone-only batches, and every fetch pays one (id-pruned)
    * scan per tombstone dir, so read amplification is bounded by
    * BOTH kinds (ADVICE r14). */
  def applyCdcAutoCompact(spark: SparkSession, path: String, removals: DataFrame,
                          additions: DataFrame, idCol: String,
                          maxSegments: Int = 8): Int = {
    val b = applyCdc(spark, path, removals, additions, idCol)
    val l = listing(path)
    if (l.segs.size + l.tombs.size > maxSegments) compact(spark, path, idCol)
    b
  }

  /** The resolved logical view: max-seg version per id,
    * newest-tombstone-outranks filter. Point fetches push the id
    * predicate into EVERY scan — segments and tombstones alike (a
    * tombstone is only consequential when its id is a candidate).
    *
    * `range = Some((base, pin))` PINS the view to batches
    * base ≤ n ≤ pin — the snapshot-isolation primitive ServingState
    * manifests use: `base` MUST be a full fold point ([[init]] or
    * [[checkpoint]] output), `pin` the newest batch the snapshot saw;
    * CDC batches applied after `pin` are invisible to the pinned
    * reader, so a serve-during-refresh pairs assets and corpus bytes
    * from the SAME snapshot, never a torn mix.
    *
    * `onePartition` (the one-file fold) coalesces the segment and
    * tombstone scans to one partition BEFORE the merge: a single
    * partition satisfies the window's and the tombstone aggregate's
    * distribution, so the view plans with no exchange at all. */
  private def resolved(spark: SparkSession, path: String, l: Listing, idCol: String,
                       pred: Option[Column], range: Option[(Int, Int)] = None,
                       onePartition: Boolean = false): DataFrame = {
    def filtered(df: DataFrame): DataFrame = pred.fold(df)(df.filter)
    def gather(df: DataFrame): DataFrame =
      if (onePartition) df.coalesce(1) else df
    def inRange(n: Int): Boolean =
      range.forall { case (base, pin) => n >= base && n <= pin }
    val segs = l.segs.filter(inRange)
    require(segs.nonEmpty, s"byid store at $path has no committed segments" +
      range.fold("")(r => s" in pinned range $r"))
    val tombs = l.tombs.filter(inRange)
    val rows = filtered(batchScan(spark, segDir(path, _), segs, "seg", readSchema(path)))
    // compacted store (one segment, no tombstones in view): no merge
    // needed — skip the row_number window entirely, so the common
    // steady state reads like a plain table (the window would SHUFFLE
    // a full-view read and add a per-row sort to point fetches for
    // nothing). A freshly-refreshed snapshot pin always lands here.
    if (segs.size == 1 && tombs.isEmpty) return rows
    val latest = gather(rows)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("seg").desc)))
      .filter(col("_rn") === 1).drop("_rn")
    if (tombs.isEmpty) latest
    else {
      val dead = gather(filtered(batchScan(spark, tombDir(path, _), tombs, "tseg",
          StructType(Seq(StructField(idCol, LongType))))))
        .groupBy(col(idCol)).agg(max(col("tseg")).as("tseg"))
      // tombstone batch b kills versions with seg < b; the same
      // batch's postimage (seg = b) and later re-inserts survive
      latest.join(broadcast(dead), Seq(idCol), "left")
        .filter(col("tseg").isNull || col("tseg") <= col("seg"))
        .drop("tseg")
    }
  }

  /** Point-fetch a bounded id list through the resolved view: every
    * segment scan gets the `Layout.idsPredicate` or-of-eq (page-pruned
    * to the candidates), the merge runs over ≤ segments × |ids| rows.
    * Output carries the payload columns plus `seg` (the segment that
    * served each row — physical provenance; x20 pins it to prove
    * updated rows come from the delta, not a stale base). */
  def fetch(spark: SparkSession, path: String, ids: Seq[Long],
            idCol: String, range: Option[(Int, Int)] = None): DataFrame =
    resolved(spark, path, listing(path), idCol,
      Some(Layout.idsPredicate(col(idCol).cast("long"), ids)), range)

  /** The full resolved logical view (every live row, merge-on-read) —
    * the store AS a corpus relation, e.g. the `vectors` input of a
    * serving state. Point reads should use [[fetch]] instead: the
    * merge window blocks predicate pushdown, so filtering this view
    * decodes every segment. `range` pins a snapshot view (see
    * [[resolved]]). */
  def readAll(spark: SparkSession, path: String, idCol: String,
              range: Option[(Int, Int)] = None): DataFrame =
    resolved(spark, path, listing(path), idCol, None, range)

  /** Fold the current committed view into a NEW full base segment at
    * batch max+1 WITHOUT retiring anything — the snapshot-refresh
    * primitive: older ServingState manifests keep serving their
    * pinned [base, pin] ranges off the still-present old batches,
    * while the new manifest pins the fresh base (single-segment fast
    * path from its first read). Retirement of batches below the
    * oldest still-pinned base happens at vacuum time
    * ([[retireBelow]]); a standalone store with no pinned readers
    * uses [[compact]], which folds and retires in one call. Returns
    * the new base's batch number.
    *
    * SIZING: the fold is sized from the committed segments' parquet
    * bytes, listed on the driver ([[sizedFiles]]). A churn-scale
    * store folds to ONE file: the merge view and the collision guard
    * run over one coalesced partition, so the fold is one
    * exchange-free pass — no range sampling, no range shuffle, no
    * persisted view — and the file gets the layout's 8-row id pages
    * from its first row. A multi-file fold persists the view across
    * the layout's two passes (range sampling + write) so the merge
    * runs once. */
  def checkpoint(spark: SparkSession, path: String, idCol: String): Int = {
    val l = listing(path)
    val segBytes = l.segs
      .flatMap(n => parquetFiles(spark, segDir(path, n))).map(_.getLen).sum
    val n = sizedFiles(spark, segBytes)
    tenantCollisionGuard(spark, path, idCol, l.segs, onePartition = n == 1)
    val newBase = l.maxBatch + 1
    val stage = stageDir(path, newBase)
    deleteRecursively(new File(stage))
    val view = resolved(spark, path, l, idCol, None, onePartition = n == 1)
      .drop("seg")
    if (n == 1) Layout.pointFetchWrite(view, idCol, s"$stage/seg", 1)
    else {
      view.persist()
      try Layout.pointFetchWrite(view, idCol, s"$stage/seg", n)
      finally view.unpersist(): Unit
    }
    rename(s"$stage/seg", segDir(path, newBase))
    commit(path, newBase)
    deleteRecursively(new File(stage))
    newBase
  }

  /** GLOBAL-ID CONTRACT GUARD (r15 verdict task 7): the store keys on
    * `idCol` alone, so two tenants claiming one id would silently
    * collapse to the newest row in the merge window — a serving view
    * built from the resolved relation would LOSE a tenant's row with
    * no error. The resolved view itself cannot witness the collision
    * (it is one-row-per-id by construction), so this checks the
    * PRE-MERGE segment scan: any id carried by more than one distinct
    * tenant across committed segments is a loud reject. Runs at every
    * [[checkpoint]]/[[compact]] (piggybacking the fold's O(corpus)
    * pass — auto-compacted CDC loops and every ServingState refresh
    * cross one), only when the payload actually has a `tenant`
    * column. Conservative by design: an id deleted by one tenant and
    * later minted by another trips it too — the contract is
    * tenant-disjoint ids for the store's whole history (the
    * reference's ChromaDB ids are global uuids,
    * vector_db_service.py:165-261). */
  private def tenantCollisionGuard(spark: SparkSession, path: String, idCol: String,
                                   segs: Seq[Int], onePartition: Boolean): Unit = {
    if (segs.size < 2) return // one segment: applyCdc's per-batch
                              // uniqueness already proved id-disjoint
    val schema = readSchema(path)
    if (!schema.fieldNames.contains("tenant")) return
    val pairs = batchScan(spark, segDir(path, _), segs, "seg", schema)
      .select(col(idCol), col("tenant"))
    // a one-file fold's store fits one task: aggregate the coalesced
    // scan with no exchange (one job)
    val src = if (onePartition) pairs.coalesce(1) else pairs
    val bad = src.groupBy(col(idCol))
      .agg(countDistinct(col("tenant")).as("_nt"))
      .filter(col("_nt") > 1).count()
    require(bad == 0,
      s"byid store at $path: $bad ids are claimed by more than one tenant " +
        s"across its history — the store keys on $idCol alone (globally-" +
        "unique-id contract); colliding ids would collapse in the merge " +
        "window and silently drop a tenant's rows")
  }

  /** Retire every committed batch BELOW `base` (which must be a full
    * fold point no live reader pins below): markers removed in
    * ascending batch order (the same no-resurrection ordering
    * [[compact]] uses), then dirs, then invisible debris vacuumed. */
  def retireBelow(path: String, base: Int): Unit = {
    val l = listing(path)
    (l.segs ++ l.tombs).distinct.sorted
      .filter(_ < base).foreach { n =>
        new File(marker(path, n)).delete(): Unit
        deleteRecursively(new File(segDir(path, n)))
        deleteRecursively(new File(tombDir(path, n)))
      }
    (l.allSegs.filterNot(l.committed).map(segDir(path, _)) ++
      l.allTombs.filterNot(l.committed).map(tombDir(path, _)) ++
      l.stages.map(stageDir(path, _)))
      .foreach(p => deleteRecursively(new File(p)))
  }

  /** Fold all committed segments + tombstones back into one base
    * segment. The only O(corpus) maintenance action, crash-safe at
    * every step:
    *  1. the folded view is staged and committed at batch max+1 —
    *     from that instant the merged view IS the post-compaction
    *     view (the new base outranks every stale row; lingering
    *     tombstones satisfy tseg <= newBase so nothing is dropped);
    *  2. old batches retire in ASCENDING batch order, marker first —
    *     a dead id's latest tombstone is its highest batch, so it
    *     outlives every one of the id's stale segment rows at each
    *     prefix of the removal (no resurrection window), and a
    *     marker-less dir is already invisible when its turn comes;
    *  3. stale stages and uncommitted debris from crashed batches are
    *     vacuumed last. */
  def compact(spark: SparkSession, path: String, idCol: String): Unit =
    retireBelow(path, checkpoint(spark, path, idCol))

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
