package graft.pipelines

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.hadoop.fs.Path

/** Snapshot-versioned bucketed vector store — the manifest layer the
  * write-audit-publish upsert's Scaladoc names as the one contract
  * plain parquet renames cannot give: CROSS-BUCKET ATOMICITY (every
  * touched bucket flips in one commit) plus TIME TRAVEL (any previous
  * snapshot stays readable until vacuumed). The design is the
  * Iceberg/Delta core reduced to its essentials, with no table-format
  * dependency:
  *
  * Layout (owner values escaped as Spark's writer escapes them):
  * {{{
  *   path/data/owner=o/bucket=b/v=N/w=W/part-*.parquet      immutable version dirs
  *   path/deletes/dv=K/w=W/owner=o/bucket=b/part-*.parquet  delete vectors
  *   path/manifest/snap-N.txt                               snapshot manifests
  * }}}
  *
  * A manifest is three header lines — `#layout` (how rows map to
  * buckets), `#bloom` (optional per-bucket filter config) and
  * `#schema` (the snapshot's data schema as JSON) — then one line per
  * live (owner, bucket) → data version dir. THE MANIFEST IS THE
  * LISTING AND THE SCHEMA: readers never run partition discovery or
  * schema inference over `data/` — every read is one [[ManifestIndex]]
  * over exactly the manifest's dirs, partition values from the
  * entries, schema from the header. Commit = write a writer-unique
  * tmp file, then ONE atomic publish to `snap-N.txt` (snapshot ids
  * are monotonic, so the destination never exists). Uncommitted
  * writer output (a crash before commit) is invisible garbage, not
  * corruption, and concurrent readers of snapshot K are never
  * affected by a writer building K+1. Untouched buckets carry their
  * pointer forward — snapshots SHARE unchanged files (storage grows
  * with churn, not table size × snapshots). Single-writer (like Delta
  * without a locking service); `vacuum` drops data dirs no retained
  * manifest references.
  *
  * At 100 TB: the manifest is bucket-count-bounded (one line per
  * bucket — the same granularity Iceberg tracks per data file, far
  * coarser here), commits are O(touched buckets) appends + one
  * rename, and a snapshot read plans partition-pruned scans from the
  * manifest's explicit path list.
  */
object VersionedStore {

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(path: String) = s"${path.stripSuffix("/")}/manifest"
  private def dataDir(path: String) = s"${path.stripSuffix("/")}/data"
  private def deletesDir(path: String) = s"${path.stripSuffix("/")}/deletes"
  private def dvDir(path: String, n: Int) = s"${deletesDir(path)}/dv=$n"
  private def manifestFile(path: String, n: Int) = s"${manifestDir(path)}/snap-$n.txt"

  /** One manifest line: live data version of an (owner, bucket), plus
    * an optional DELETE-VECTOR reference (merge-on-read soft deletes —
    * the Iceberg-v2 positional-delete idea at doc granularity): `dv=k`
    * means the ids under `deletes/dv=k/owner=o/bucket=b` are subtracted
    * at read time. A bucket REWRITE (upsert/compact) folds the dv into
    * the new data version and clears the reference.
    *
    * `stats` is the bucket's ZONE MAP — (min, max) of the table's
    * cluster column (see [[RangeLayout]]) over the bucket's CURRENT
    * content. Maintained on every rewrite (recomputed from the staged
    * data inside the same audit read that counts rows); deletes only
    * shrink content, so stale stats stay a valid over-approximation
    * and soft deletes never have to touch them. */
  /** `wid`/`dvw` are WRITER IDS (round-12 verdict task 6 — optimistic
    * concurrency for overlapping-bucket writers): every staging write
    * lands under a writer-unique `w=<wid>` subdir of its `v=<n>` (or
    * `dv=<n>`) dir, and the manifest entry records which writer's
    * subdir is live. Two writers racing the same bucket therefore
    * NEVER share a directory — each stages its own files, exactly one
    * wins the atomic manifest publish, and the loser gets
    * ConcurrentModificationException with its orphan w-dir invisible
    * to every reader (vacuum reclaims it). This is the Iceberg/Delta
    * principle (writers never mutate shared paths; the commit is the
    * only conflict point) at bucket-dir granularity. Every entry has a
    * wid; `dvw` is set exactly when `dv` is. */
  private[graft] final case class ManifestEntry(owner: String, bucket: Long,
                                                v: Int, wid: String,
                                                dv: Option[Int] = None,
                                                dvw: Option[String] = None,
                                                stats: Option[(Double, Double)] = None,
                                                bloom: Option[String] = None,
                                                stats2: Option[(Double, Double)] = None)

  /** One parsed manifest: its entries plus the three header values.
    * Parsed once per read; a commit writes the next snapshot's value
    * back (usually a `copy` of the current one), so the layout, bloom
    * config and schema carry forward through every metadata-only
    * commit. `schema` is the snapshot's data schema (no partition
    * columns) in all-nullable form — what inference would return, so
    * reads never infer. */
  private[graft] final case class Manifest(entries: Seq[ManifestEntry],
                                           layout: Layout,
                                           bloom: Option[BloomConfig],
                                           schema: StructType)

  /** Fresh writer id — unique per staging attempt, so a crashed
    * attempt's retry writes a NEW subdir and never collides with its
    * own debris (or with a live concurrent writer's). */
  private[graft] def newWid(): String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Per-bucket BLOOM FILTER config — the Iceberg bloom-metadata idea
    * at bucket granularity, the equality-lookup counterpart of the
    * zone map: `#bloom\tcol\tmBits\tk` in the manifest header, and
    * each entry carries `bloom:<hex>` — an mBits-bit filter over the
    * column's values in the bucket's CURRENT content. Bit i of value
    * v = int(first 6 hex digits of md5(v + ":" + i)) mod mBits — pure
    * md5 arithmetic, reproducible by any engine (the DuckDB oracle
    * replays it bit-exactly, false positives included). Maintained on
    * every rewrite from the staged content; deletes only shrink
    * content, so stale filters stay a sound over-approximation. */
  private[graft] final case class BloomConfig(col: String, mBits: Int, k: Int)

  /** How rows map to buckets — recorded as a `#layout` header line in
    * every manifest so writers after a layout change keep assigning
    * consistently (the Iceberg partition-spec-evolution idea: the
    * manifest IS the layout).
    *
    *  - [[HashLayout]]: bucket = doc_id mod nBuckets (the upsert-
    *    friendly default — a doc's bucket is derivable from its key).
    *  - [[RangeLayout]]: bucket = fixed-width bin of `col` over
    *    [mn, mx] frozen at `compactClustered` time, out-of-range
    *    values clamped into the edge bins. Range layout + per-bucket
    *    zone maps is what makes `readSnapshotRange` skip buckets —
    *    the Delta OPTIMIZE-ZORDER + data-skipping move, reduced to
    *    one clustering dimension. Fixed-width (not quantile) bins are
    *    chosen deliberately: assignment is pure arithmetic on frozen
    *    constants, so it is reproducible by any engine (the DuckDB
    *    oracle replays it exactly) and needs no boundary table; a
    *    production port can swap in quantile boundaries computed once
    *    at compact time without changing any other contract. */
  private[graft] sealed trait Layout { def nBuckets: Int }
  private[graft] final case class HashLayout(nBuckets: Int) extends Layout
  private[graft] final case class RangeLayout(col: String, mn: Double, mx: Double,
                                              nBuckets: Int) extends Layout

  /** Z-ORDER layout — two-dimensional clustering on the interleaved-
    * bit curve (Delta's OPTIMIZE ZORDER proper): each dim is
    * fixed-width-binned onto [0, 2^bits) over its frozen [mn, mx]
    * (edge clamp like RangeLayout), the bins are bit-interleaved into
    * a curve value z ∈ [0, 4^bits), and bucket = z div (4^bits /
    * nBuckets) — one contiguous curve band per bucket. Entries carry
    * TWO zone maps (`stats` = colX, `stats2` = colY), so a 2-D box
    * predicate prunes every bucket whose rectangle misses the box —
    * the property single-column clustering cannot give. nBuckets must
    * divide 4^bits. */
  private[graft] final case class ZLayout(colX: String, colY: String,
                                          mnX: Double, mxX: Double,
                                          mnY: Double, mxY: Double,
                                          bits: Int, nBuckets: Int) extends Layout

  /** Committed snapshot ids, ascending (only fully-committed manifests
    * appear — the tmp file is never listed as a snapshot). */
  def snapshots(spark: SparkSession, path: String): Seq[Int] = {
    val fs = fsOf(spark, path)
    val dir = new Path(manifestDir(path))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case s if s.startsWith("snap-") && s.endsWith(".txt") =>
        s.stripPrefix("snap-").stripSuffix(".txt").toInt }
      .sorted.toSeq
  }

  def currentSnapshot(spark: SparkSession, path: String): Option[Int] =
    snapshots(spark, path).lastOption

  /** NAMED REFS (Iceberg tags): a tag is one file
    * `manifest/tag-<name>.txt` holding a committed snapshot id,
    * published through the same write-tmp-then-rename move as a
    * manifest (rename overwrite = atomic retag; readers of the old
    * target are unaffected — the snapshot itself is immutable). Tags
    * give callers stable names for audit/rollback points ("the corpus
    * the model trained on") without pinning to raw snapshot numbers;
    * vacuum-retained snapshots stay readable by tag forever. */
  def tagSnapshot(spark: SparkSession, path: String, tag: String,
                  snapshot: Int): Unit = {
    require(tag.matches("[A-Za-z0-9._-]+"), s"invalid tag name '$tag'")
    require(snapshots(spark, path).contains(snapshot),
      s"tagSnapshot: snapshot $snapshot not committed at $path")
    val fs = fsOf(spark, path)
    val tmp = new Path(s"${manifestDir(path)}/tag-$tag.txt.tmp")
    val dst = new Path(s"${manifestDir(path)}/tag-$tag.txt")
    val out = fs.create(tmp, true)
    out.write(snapshot.toString.getBytes("UTF-8")); out.close()
    if (fs.exists(dst)) fs.delete(dst, false) // retag: replace atomically-enough
    require(fs.rename(tmp, dst), s"tagSnapshot: rename failed for $tag")
  }

  /** Resolve a tag to its snapshot id. Reads with a fill loop (a
    * single InputStream.read may legally return short) and fails with
    * a descriptive message on an empty or non-numeric tag file rather
    * than an opaque index error. */
  def resolveTag(spark: SparkSession, path: String, tag: String): Int = {
    val fs = fsOf(spark, path)
    val f = new Path(s"${manifestDir(path)}/tag-$tag.txt")
    require(fs.exists(f), s"resolveTag: no tag '$tag' at $path")
    val in = fs.open(f)
    val bytes = new Array[Byte](32)
    var n = 0
    try {
      var r = in.read(bytes, n, bytes.length - n)
      while (r > 0) { n += r; r = in.read(bytes, n, bytes.length - n) }
    } finally in.close()
    require(n > 0, s"resolveTag: tag file for '$tag' at $path is empty")
    val s = new String(bytes, 0, n, "UTF-8").trim
    require(s.nonEmpty && s.forall(_.isDigit),
      s"resolveTag: tag '$tag' at $path holds non-numeric content '$s'")
    s.toInt
  }

  /** All tags at `path` with their resolved snapshot ids. */
  def listTags(spark: SparkSession, path: String): Map[String, Int] = {
    val fs = fsOf(spark, path)
    val dir = new Path(manifestDir(path))
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case s if s.startsWith("tag-") && s.endsWith(".txt") =>
        val name = s.stripPrefix("tag-").stripSuffix(".txt")
        name -> resolveTag(spark, path, name)
      }.toMap
  }

  /** Drop a tag (releases its vacuum pin). */
  def dropTag(spark: SparkSession, path: String, tag: String): Unit = {
    val fs = fsOf(spark, path)
    val f = new Path(s"${manifestDir(path)}/tag-$tag.txt")
    require(fs.exists(f), s"dropTag: no tag '$tag' at $path")
    fs.delete(f, false)
  }

  /** Read the snapshot a tag names. */
  def readSnapshotByTag(spark: SparkSession, path: String,
                        tag: String): DataFrame =
    readSnapshot(spark, path, resolveTag(spark, path, tag))

  /** Manifest `n`, parsed in one pass. Entry lines are
    * `owner\tbucket\tv` followed by prefixed fields in any order:
    * `wid:` (required), `dv:k` + `dvw:`, `stats:min,max`,
    * `stats2:min,max`, `bloom:<hex>`. `#layout`, `#bloom` and
    * `#schema` lines are the headers; layout and schema are required. */
  private[graft] def readManifest(spark: SparkSession, path: String,
                                  n: Int): Manifest = {
    val in = fsOf(spark, path).open(new Path(manifestFile(path, n)))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList finally in.close()
    def bad(what: String, line: String) =
      new IllegalStateException(s"manifest $n at $path: $what '$line'")
    def pair(s: String) = { val Array(lo, hi) = s.split(','); (lo.toDouble, hi.toDouble) }
    val (headers, body) = lines.partition(_.startsWith("#"))
    val entries = body.map { line =>
      val f = line.split('\t')
      if (f.length < 3) throw bad("unparseable line", line)
      val kv = f.drop(3).map(s => s.span(_ != ':')).map { case (k, v) => k -> v.drop(1) }.toMap
      kv.keys.find(k => !Set("wid", "dv", "dvw", "stats", "stats2", "bloom")(k))
        .foreach(k => throw bad(s"unknown field '$k' in", line))
      if (kv.contains("dv") != kv.contains("dvw"))
        throw bad("dv: and dvw: must come together in", line)
      ManifestEntry(f(0), f(1).toLong, f(2).toInt,
        kv.getOrElse("wid", throw bad("entry without wid:", line)),
        kv.get("dv").map(_.toInt), kv.get("dvw"), kv.get("stats").map(pair),
        kv.get("bloom"), kv.get("stats2").map(pair))
    }
    def header(tag: String) = headers.find(_.startsWith(tag + "\t")).map(_.split('\t'))
    def missing(tag: String) = new IllegalStateException(s"manifest $n at $path: no $tag header")
    val layout = header("#layout").getOrElse(throw missing("#layout")) match {
      case Array(_, "hash", nb) => HashLayout(nb.toInt)
      case Array(_, "range", c, mn, mx, nb) =>
        RangeLayout(c, mn.toDouble, mx.toDouble, nb.toInt)
      case Array(_, "zorder", cx, cy, mnx, mxx, mny, mxy, bits, nb) =>
        ZLayout(cx, cy, mnx.toDouble, mxx.toDouble, mny.toDouble,
          mxy.toDouble, bits.toInt, nb.toInt)
      case h => throw bad("unparseable layout", h.mkString("\t"))
    }
    val bloom = header("#bloom").map {
      case Array(_, c, m, k) => BloomConfig(c, m.toInt, k.toInt)
      case h => throw bad("unparseable bloom header", h.mkString("\t"))
    }
    val schema = header("#schema").map(h => DataType.fromJson(h(1)).asInstanceOf[StructType])
      .getOrElse(throw missing("#schema"))
    Manifest(entries, layout, bloom, schema)
  }

  /** Write manifest `n` then publish it atomically — the cross-bucket
    * commit point. */
  private[graft] def commitManifest(spark: SparkSession, path: String, n: Int,
                                    m: Manifest): Unit = {
    val fs = fsOf(spark, path)
    // tmp must be UNIQUE PER WRITER: two racers staging the same
    // snapshot id would otherwise interleave writes into one shared
    // tmp file and publish a mix (found by the racing-writers spec)
    val tmp = new Path(manifestFile(path, n) +
      s".${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val fin = new Path(manifestFile(path, n))
    if (!fs.exists(tmp.getParent)) fs.mkdirs(tmp.getParent)
    val header = (m.layout match {
      case HashLayout(nb) => s"#layout\thash\t$nb\n"
      case RangeLayout(c, mn, mx, nb) => s"#layout\trange\t$c\t$mn\t$mx\t$nb\n"
      case ZLayout(cx, cy, mnx, mxx, mny, mxy, bits, nb) =>
        s"#layout\tzorder\t$cx\t$cy\t$mnx\t$mxx\t$mny\t$mxy\t$bits\t$nb\n"
    }) +
      m.bloom.map(b => s"#bloom\t${b.col}\t${b.mBits}\t${b.k}\n").getOrElse("") +
      s"#schema\t${m.schema.json}\n"
    val out = fs.create(tmp, true)
    try out.write((header + m.entries.sortBy(e => (e.owner, e.bucket))
      .map(e => s"${e.owner}\t${e.bucket}\t${e.v}\twid:${e.wid}" +
        e.dv.map(k => s"\tdv:$k").getOrElse("") +
        e.dvw.map(w => s"\tdvw:$w").getOrElse("") +
        e.stats.map { case (lo, hi) => s"\tstats:$lo,$hi" }.getOrElse("") +
        e.stats2.map { case (lo, hi) => s"\tstats2:$lo,$hi" }.getOrElse("") +
        e.bloom.map(h => s"\tbloom:$h").getOrElse(""))
      .mkString("", "\n", "\n")).getBytes("UTF-8"))
    finally out.close()
    // optimistic concurrency: EXACTLY ONE writer may publish snapshot
    // n; every loser must get ConcurrentModificationException and
    // restage (its orphan v-dirs are invisible garbage). The publish
    // primitive must be atomic create-no-overwrite — an exists+rename
    // pair has a TOCTOU window, and POSIX renameTo OVERWRITES an
    // existing destination, silently discarding the racing winner's
    // manifest (the racing-writers spec caught exactly this). Local
    // fs: hard-link(2) the tmp into place — link fails with EEXIST
    // atomically in the kernel. HDFS: rename is atomic and fails when
    // the destination exists. S3: PUT with If-None-Match.
    if (fs.getScheme == "file") {
      val tmpP = java.nio.file.Paths.get(tmp.toUri.getPath)
      val finP = java.nio.file.Paths.get(fin.toUri.getPath)
      // ChecksumFileSystem wrote a `.{name}.crc` sidecar next to tmp;
      // NIO link/delete bypasses it, so carry the sidecar to the
      // published name (manifest reads stay checksum-verified) and
      // drop the tmp THROUGH the Hadoop API so its sidecar goes with
      // it — the bare-NIO form orphaned one .crc per commit.
      def crcOf(p: Path) = java.nio.file.Paths.get(
        new Path(p.getParent, "." + p.getName + ".crc").toUri.getPath)
      try {
        java.nio.file.Files.createLink(finP, tmpP)
        // only the single winner for snapshot n reaches this line, so
        // the sidecar link has no concurrent writer; a stale fin crc
        // can only be debris from a manually-deleted manifest
        if (java.nio.file.Files.exists(crcOf(tmp))) {
          java.nio.file.Files.deleteIfExists(crcOf(fin))
          java.nio.file.Files.createLink(crcOf(fin), crcOf(tmp))
        }
        fs.delete(tmp, false)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false)
          throw new java.util.ConcurrentModificationException(
            s"versioned commit: snapshot $n already committed by another writer")
      }
    } else {
      if (fs.exists(fin))
        throw new java.util.ConcurrentModificationException(
          s"versioned commit: snapshot $n already committed by another writer")
      if (!fs.rename(tmp, fin))
        throw new java.util.ConcurrentModificationException(
          s"versioned commit: snapshot $n lost the atomic rename to another writer")
    }
  }


  /** `owner=o/bucket=b` with the owner escaped exactly as Spark's
    * partitioned writer escapes it, so the dirs it writes and the dirs
    * entries name agree for any owner (`a:b` writes `owner=a%3Ab`). */
  private def ownerBucket(o: String, b: Long) = s"owner=${escapePathName(o)}/bucket=$b"

  /** An entry's data dir relative to `data/`, and its delete-vector dir
    * relative to `deletes/` (requires e.dv) — also vacuum's live keys. */
  private def entryKey(e: ManifestEntry) = s"${ownerBucket(e.owner, e.bucket)}/v=${e.v}/w=${e.wid}"
  private def dvKey(e: ManifestEntry) =
    s"dv=${e.dv.get}/w=${e.dvw.get}/${ownerBucket(e.owner, e.bucket)}"

  /** The data schema a staged frame writes: every column but the
    * partition keys, all-nullable (what a parquet read returns). */
  private def dataSchema(staged: DataFrame): StructType =
    graft.operators.ByidStore.asNullable(StructType(staged.schema.filterNot(f =>
      Set("owner", "bucket", "v", "w")(f.name)))).asInstanceOf[StructType]

  /** Write `staged` as data version `v` under this writer's unique
    * `w=<wid>` subdirs — concurrent writers touching the same bucket
    * write DISJOINT directories, so staged data never mixes; the
    * atomic manifest publish is the only conflict point. Returns one
    * entry per (owner, bucket) that actually received data files —
    * the LIVE bucket set, read from the write's own dir layout
    * (partitionBy writes no dir for an empty group), so callers need
    * no separate per-bucket count job to learn which touched buckets
    * survived (optimization r16, guide §1.2).
    *
    * The Spark job writes into a writer-PRIVATE staging root first and
    * is then moved into place with per-bucket-dir renames (metadata-
    * only on local fs/HDFS; an object-store port would swap in a
    * direct-write committer). Writing straight into `dataDir` is not
    * concurrency-safe even with disjoint partition dirs, because every
    * job on one output root shares its `_temporary/0` committer dir —
    * measured: the first racer's job-commit deleted the second's
    * in-flight task files (FileNotFoundException under _temporary). */
  private def writeStaged(staged: DataFrame, path: String, v: Int,
                          wid: String): Seq[ManifestEntry] = {
    val spark = staged.sparkSession
    val stagingRoot = s"${dataDir(path)}/.staging-$wid"
    staged.withColumn("v", lit(v)).withColumn("w", lit(wid))
      .write.mode("overwrite").partitionBy("owner", "bucket", "v", "w")
      .parquet(stagingRoot)
    val fs = fsOf(spark, path)
    val root = new Path(stagingRoot)
    val moved = for (oDir <- fs.listStatus(root).toSeq if oDir.isDirectory;
                     bDir <- fs.listStatus(oDir.getPath) if bDir.isDirectory) yield {
      val e = ManifestEntry(unescapePathName(oDir.getPath.getName.stripPrefix("owner=")),
        bDir.getPath.getName.stripPrefix("bucket=").toLong, v, wid)
      val src = new Path(bDir.getPath, s"v=$v/w=$wid")
      val dst = new Path(s"${dataDir(path)}/${entryKey(e)}")
      fs.mkdirs(dst.getParent)
      if (!fs.rename(src, dst))
        throw new IllegalStateException(s"writeStaged: move $src -> $dst failed")
      e
    }
    fs.delete(root, true)
    moved
  }

  /** Bucket-assignment expression for a layout. Range assignment is
    * pure arithmetic on the frozen [mn, mx] (division by nBuckets in
    * IEEE doubles — engine-independent), out-of-range values clamped
    * into the edge bins (their bucket's zone map widens accordingly at
    * the next audit). */
  /** Fixed-width bin of `c` over frozen [mn, mx] into [0, n), edge-
    * clamped — shared by the range and z-order assignments. */
  private def binExpr(c: String, mn: Double, mx: Double,
                      n: Long): org.apache.spark.sql.Column =
    if (mx <= mn) lit(0L)
    else {
      val w = (mx - mn) / n
      val raw = floor((col(c).cast("double") - lit(mn)) / lit(w)).cast("long")
      greatest(lit(0L), least(raw, lit(n - 1L)))
    }

  private[graft] def bucketExpr(layout: Layout): org.apache.spark.sql.Column =
    layout match {
      case HashLayout(nb) => IndexPipeline.docBucket(col("doc_id"), nb)
      case RangeLayout(c, mn, mx, nb) => binExpr(c, mn, mx, nb.toLong)
      case ZLayout(cx, cy, mnx, mxx, mny, mxy, bits, nb) =>
        val z = graft.operators.Layout.zCol(
          binExpr(cx, mnx, mxx, 1L << bits), binExpr(cy, mny, mxy, 1L << bits), bits)
        z.divide(lit((1L << (2 * bits)) / nb)).cast("long")
    }

  /** The cluster columns a layout maintains zone maps for. */
  private def clusterCols(layout: Layout): Seq[String] = layout match {
    case RangeLayout(c, _, _, _) => Seq(c)
    case ZLayout(cx, cy, _, _, _, _, _, _) => Seq(cx, cy)
    case _ => Nil
  }

  /** Bit i of value v: int(first 6 hex digits of md5(v + ":" + i))
    * mod mBits — the engine-independent arithmetic the oracle
    * replays. */
  private def bloomBitExpr(cfg: BloomConfig, i: Int): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(concat(col(cfg.col).cast("string"), lit(":" + i))),
      1, 6), 16, 10).cast("long"), lit(cfg.mBits.toLong))

  /** Per-(owner, bucket) bloom filters over `df`'s content, hex-
    * encoded. Driver state is bounded: buckets × mBits/8 bytes. */
  private def bloomHexOf(df: DataFrame, cfg: BloomConfig): Map[(String, Long), String] = {
    // null values in the indexed column yield null bits (md5(null) is
    // null) — skip them: a lookupEq probe is always a concrete value,
    // so a null can never match and omitting it keeps the filter sound
    val bits = df.filter(col(cfg.col).isNotNull)
      .select(col("owner"), col("bucket"),
        explode(array((0 until cfg.k).map(bloomBitExpr(cfg, _)): _*)).as("bit"))
      .distinct().collect()
    bits.groupBy(r => (r.getString(0), r.getLong(1))).map { case (key, rs) =>
      val bytes = new Array[Byte](cfg.mBits / 8)
      rs.foreach { r =>
        val b = r.getLong(2).toInt
        bytes(b >> 3) = (bytes(b >> 3) | (1 << (b & 7))).toByte
      }
      key -> bytes.map("%02x".format(_)).mkString
    }
  }

  private[graft] def probeBits(value: String, cfg: BloomConfig): Seq[Int] =
    (0 until cfg.k).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest((value + ":" + i).getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(h.substring(0, 6), 16) % cfg.mBits).toInt
    }

  private def bloomHas(hex: String, bit: Int): Boolean =
    ((Integer.parseInt(hex.substring((bit >> 3) * 2, (bit >> 3) * 2 + 2), 16)
      >> (bit & 7)) & 1) == 1

  /** First load: every bucket's data at v=1, then the snapshot-1
    * commit. */
  def initialLoad(spark: SparkSession, path: String, vectors: DataFrame,
                  nBuckets: Int = 16): Unit = {
    require(currentSnapshot(spark, path).isEmpty,
      s"initialLoad: $path already has snapshots")
    val layout = HashLayout(nBuckets)
    // owner is a partition key AND a manifest key derived back from the
    // dir name: a null/empty owner writes __HIVE_DEFAULT_PARTITION__,
    // which unescapes literally — the manifest owner would stop
    // round-tripping to the data's value, and initialLoad commits
    // without an audit to catch it (ADVICE r16). Fail fast in the same
    // write pass instead (raise_error evaluates per row, costs nothing
    // on valid data).
    val staged = vectors.withColumn("bucket", bucketExpr(layout))
      .withColumn("owner",
        when(col("owner").isNull || col("owner") === "",
          raise_error(lit("initialLoad: owner must be non-null/non-empty " +
            "(it is a partition key the manifest round-trips)")))
          .otherwise(col("owner")))
      .repartition(col("owner"), col("bucket"))
    // manifest entries from the write's own partition dirs — the input
    // plan runs once (the write), no second distinct-collect pass
    // (optimization r16, guide §1.2)
    val entries = writeStaged(staged, path, 1, newWid())
    commitManifest(spark, path, 1, Manifest(entries, layout, None, dataSchema(staged)))
  }

  /** A staged next snapshot: its manifest (new entries carry this
    * writer's `wid`) plus what the audit checks against. */
  private[graft] case class StagedVersion(next: Int, expectedRows: Long,
                                          manifest: Manifest, wid: String,
                                          probedBuckets: Int = -1)

  /** Stage the next snapshot's data: merged content of every touched
    * bucket written to NEW v=next dirs (append-only — live version
    * dirs and the current manifest are untouched, so a crash anywhere
    * in here leaves orphan dirs no reader can see). */
  private[graft] def stageVersion(spark: SparkSession, path: String,
                                  batch: DataFrame): StagedVersion = {
    val (cur, m) = manifestAt(spark, path, -1, "upsertVersioned")
    val next = cur + 1
    val man = m.entries
    val layout = m.layout
    // the batch plan feeds several consumers (touched-bucket probe,
    // relocation id probes, the staged write's new-rows side) — cache
    // it for the episode so a join-derived CDC batch is computed once,
    // not 3× (optimization r16, guide §1.2/§5); released before return
    val nv = batch.withColumn("bucket", bucketExpr(layout)).persist()
    // a null cluster value has no bin (the edge clamp would silently
    // drop it into bin 0 and escape every zone map) — fail fast. The
    // null probe rides the SAME job as the touched-bucket collect (a
    // per-bucket max-isNull aggregate), instead of paying one isEmpty
    // action per cluster column before any other work.
    val ccols = clusterCols(layout)
    val probeAggs =
      if (ccols.nonEmpty) ccols.zipWithIndex.map { case (c, j) =>
        max(col(c).isNull.cast("int")).as(s"_null$j") }
      else Seq(count(lit(1)).as("_null0"))
    val touchedRows = nv.groupBy(col("owner"), col("bucket"))
      .agg(probeAggs.head, probeAggs.tail: _*).collect()
    ccols.zipWithIndex.foreach { case (c, j) =>
      require(!touchedRows.exists(_.getInt(2 + j) == 1),
        s"upsertVersioned: clustered layout on '$c' requires non-null values")
    }
    val newTouched = touchedRows.map(r => (r.getString(0), r.getLong(1))).toSeq
    require(newTouched.nonEmpty, "upsertVersioned: empty batch")
    // Under a clustered layout (bucket = f(cluster value), not
    // f(doc_id)) an updated doc whose cluster value moved bins leaves
    // its prior copy in a bucket the batch's NEW values never touch —
    // anti-joining only new-value buckets would silently duplicate it.
    // Locate prior copies with a doc_id-only probe of the remaining
    // buckets (parquet reads just the doc_id column; owner/bucket are
    // partition dirs) and rewrite those buckets too. HashLayout pins
    // the bucket NUMBER (f(doc_id)) but the partition key is
    // (owner, bucket): an upsert that changes a doc's OWNER would
    // strand the old copy under the old owner — so hash probes the
    // same bucket numbers under OTHER owners (bounded by
    // owners x batch-buckets, never a table scan).
    val newSet = newTouched.toSet
    val probe = layout match {
      case HashLayout(_) =>
        val batchBuckets = newTouched.map(_._2).toSet
        man.filter(e => batchBuckets(e.bucket) && !newSet((e.owner, e.bucket)))
      case _ =>
        val rest = man.filterNot(e => newSet((e.owner, e.bucket)))
        // a doc_id bloom index prunes the probe driver-side: only
        // buckets whose filter claims at least one batch id need the
        // scan — at 100 TB this turns a table-wide doc_id-column read
        // into a handful of bucket dirs (false positives just scan)
        m.bloom match {
          case Some(cfg) if cfg.col == "doc_id" && rest.nonEmpty =>
            val ids = nv.select(col("doc_id").cast("string")).distinct()
              .limit(65537).collect().map(_.getString(0))
            if (ids.length > 65536) rest // batch too large to probe cheaply
            else {
              val idBits = ids.map(probeBits(_, cfg))
              rest.filter(e => e.bloom.forall(h =>
                idBits.exists(_.forall(bloomHas(h, _)))))
            }
          case _ => rest
        }
    }
    val relocated =
      if (probe.isEmpty) Nil
      else scanEntries(spark, path, m.copy(entries = probe))
        .select("owner", "bucket", "doc_id")
        .join(broadcast(nv.select("doc_id").distinct()), Seq("doc_id"), "left_semi")
        .select("owner", "bucket").distinct()
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val touched = newTouched ++ relocated
    val touchedSet = touched.toSet
    // Writer isolation (round-12 task 6): stage under a fresh unique
    // w=<wid> subdir instead of the bare v=next dir. A crashed
    // attempt's retry writes a NEW wid (no orphan cleanup needed — the
    // old attempt's w-dir is referenced by no manifest, invisible to
    // readers, reclaimed by vacuum), and a CONCURRENT writer racing
    // the same bucket stages a disjoint dir: its data can never mix
    // into this writer's audit or committed snapshot. Exactly one of
    // the racers wins commitManifest's atomic publish; the loser
    // gets ConcurrentModificationException, never silent last-wins.
    // (The previous design deleted "orphan" v=next dirs here, which
    // would have destroyed a live concurrent writer's staged data.)
    val wid = newWid()
    // survivors via the dv-applying scan: a rewrite FOLDS a bucket's
    // delete vector into the new data version (and clears the ref).
    // With no touched entry the scan is empty but still carries the
    // snapshot's schema, so the union below is the next schema.
    val touchedEntries = man.filter(e => touchedSet((e.owner, e.bucket)))
    val old = scanEntries(spark, path, m.copy(entries = touchedEntries))
    val survivors =
      if (touchedEntries.isEmpty) old
      else old.join(broadcast(nv.select("doc_id").distinct()), Seq("doc_id"), "left_anti")
    // allowMissingColumns = schema evolution: a batch may ADD columns
    // (survivors read NULL for them); a batch missing an existing
    // column evolves it to NULL for the new rows
    val content = survivors.unionByName(nv.drop("v"), allowMissingColumns = true)
    // TWO actions stage everything (was four: localCheckpoint +
    // per-bucket count + write, plus the checkpoint's block copy): the
    // staged plan is cached, the audit's expected count reads the
    // cache (write-independent intent, same guarantee the checkpoint
    // gave), the write re-reads the cache, and the surviving bucket
    // set comes back from the write's own partition dirs — relocation
    // can EMPTY a bucket (its only rows moved to other bins): no
    // v=next dir is written for it, so its manifest entry must vanish
    // rather than point at a missing path (optimization r16, §1.2).
    val staged = content.repartition(touched.size, col("owner"), col("bucket"))
      .persist()
    val expected = staged.count()
    val live = writeStaged(staged, path, next, wid)
    staged.unpersist()
    nv.unpersist()
    StagedVersion(next, expected, m.copy(entries =
      man.filterNot(e => touchedSet((e.owner, e.bucket))) ++ live,
      layout = layout, schema = dataSchema(staged)), wid, probe.size)
  }

  /** Audit the staged version dirs (row count + bucket set), then
    * commit — one rename flips every touched bucket at once. Under a
    * range layout the SAME audit read also recomputes the touched
    * buckets' zone maps (min/max of the cluster column over the
    * staged content — no extra pass; untouched buckets keep theirs). */
  private[graft] def auditAndCommit(spark: SparkSession, path: String,
                                    st: StagedVersion): Unit = {
    // one disk read serves both the audit aggregate and the bloom
    // recompute below (cached only when a bloom config exists —
    // otherwise the single consumer needs no cache)
    val stagedRead = scanEntries(spark, path,
      st.manifest.copy(entries = st.manifest.entries.filter(_.wid == st.wid)))
    val shared = if (st.manifest.bloom.isDefined) stagedRead.persist() else stagedRead
    try auditBody(spark, path, st, shared)
    finally if (st.manifest.bloom.isDefined) shared.unpersist(): Unit
  }

  /** [[auditAndCommit]]'s body, split out so the audit cache releases
    * on ANY exit (ADVICE r16: a failed require / bloomHexOf error used
    * to leak the persisted staged read for the session). */
  private def auditBody(spark: SparkSession, path: String,
                        st: StagedVersion,
                        shared: org.apache.spark.sql.DataFrame): Unit = {
    val m = st.manifest
    val statsCols = clusterCols(m.layout)
    val aggs = count(lit(1)).as("cnt") +: statsCols.zipWithIndex.flatMap { case (c, j) =>
      Seq(min(col(c).cast("double")).as(s"smn$j"),
        max(col(c).cast("double")).as(s"smx$j")) }
    val perPartRows = shared.groupBy(col("owner"), col("bucket"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val perPart = perPartRows.map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
    val gotRows = perPart.map(_._2).sum
    require(gotRows == st.expectedRows,
      s"versioned audit: staged $gotRows rows, expected ${st.expectedRows}")
    val touched = m.entries.filter(_.wid == st.wid).map(e => (e.owner, e.bucket)).toSet
    require(perPart.map(_._1).toSet == touched,
      s"versioned audit: staged buckets ${perPart.map(_._1).toSet} != $touched")
    val entries =
      if (statsCols.isEmpty) m.entries
      else {
        val statsMap = perPartRows.map(r =>
          ((r.getString(0), r.getLong(1)),
            statsCols.indices.map(j =>
              (r.getDouble(3 + 2 * j), r.getDouble(4 + 2 * j))))).toMap
        m.entries.map(e => statsMap.get((e.owner, e.bucket)) match {
          case Some(ss) if e.wid == st.wid =>
            e.copy(stats = Some(ss.head),
              stats2 = if (ss.size > 1) Some(ss(1)) else None)
          case _ => e
        })
      }
    // bloom maintenance: touched buckets get filters recomputed over
    // their full staged content (untouched keep theirs)
    val entries2 = m.bloom match {
      case Some(cfg) =>
        val bl = bloomHexOf(shared, cfg) // cache released by the caller's finally
        entries.map(e =>
          if (e.wid == st.wid) e.copy(bloom = bl.get((e.owner, e.bucket))) else e)
      case None => entries
    }
    commitManifest(spark, path, st.next, m.copy(entries = entries2))
  }

  /** Doc-granular upsert as a new snapshot: stage → audit → commit.
    * Re-running after ANY crash converges: pre-commit crashes leave
    * the old snapshot live (orphan v-dirs are overwritten by the
    * retry's append of identical content under the same v — then
    * superseded when the retry commits). */
  def upsertVersioned(spark: SparkSession, path: String, batch: DataFrame): Unit = {
    // orphan v=next cleanup happens inside stageVersion, where the
    // full touched set (incl. relocated-copy buckets) is known
    val st = stageVersion(spark, path, batch)
    auditAndCommit(spark, path, st)
  }

  /** OPTIMIZE-style layout maintenance: rewrite the CURRENT snapshot's
    * content under a NEW bucket count, committed as the next snapshot
    * through the same stage → audit → one-rename path as an upsert.
    * Content is untouched — only the (owner, bucket) layout changes —
    * so readers of the new snapshot see byte-identical rows, and every
    * PRIOR snapshot still time-travels against the old layout until
    * vacuumed (the manifest is the layout: each snapshot's entries
    * carry their own bucket space, so mixed-layout history is fine).
    *
    * This is the lakehouse rebucketing problem (Iceberg's
    * REPLACE PARTITION FIELD / bucket-transform evolution): a bucket
    * count chosen at table creation is wrong after 100× growth — too
    * few buckets means giant files and no upsert parallelism. Because
    * the store prunes scans and isolates upserts BY bucket, scaling
    * the bucket count must be atomic across the whole table, which is
    * exactly what the manifest rename gives. The rewrite itself is one
    * full-table shuffle on the new (owner, bucket) — the unavoidable
    * cost, paid once, off the write path. Crash-safe like upsert:
    * pre-commit crashes leave orphan v-dirs no reader sees; a retry
    * clears them and converges. */
  def compact(spark: SparkSession, path: String, newBuckets: Int): Unit = {
    val (cur, m) = manifestAt(spark, path, -1, "compact")
    // one snapshot scan serves the touched-bucket probe AND the staged
    // write; the write's row count is observed in-job (optimization
    // r16, guide §1.2 — was: scan → collect, localCheckpoint, count,
    // write = 3 full-corpus evaluations)
    val layout = HashLayout(newBuckets)
    val nv = scanEntries(spark, path, m).drop("bucket")
      .withColumn("bucket", bucketExpr(layout))
      .persist()
    rewriteAll(spark, path, cur, m, nv, layout)
    nv.unpersist()
  }

  /** The shared tail of every full rewrite: stage `nv` (the current
    * content under its new `bucket`) as the next version and commit it
    * through the audit. One distinct count sizes the repartition; the
    * staged plan is cached across its count and write. The new
    * manifest carries ONLY the new bucket space. */
  private def rewriteAll(spark: SparkSession, path: String, cur: Int, m: Manifest,
                         nv: DataFrame, layout: Layout): Unit = {
    val nParts = nv.select("owner", "bucket").distinct().count().toInt
    val wid = newWid() // writer-isolated staging; see stageVersion
    val staged = nv.repartition(nParts, col("owner"), col("bucket")).persist()
    val expected = staged.count()
    val entries = writeStaged(staged, path, cur + 1, wid)
    staged.unpersist()
    auditAndCommit(spark, path, StagedVersion(cur + 1, expected,
      m.copy(entries = entries, layout = layout), wid))
  }

  /** CLUSTERING compaction — the OPTIMIZE-ZORDER move: rewrite the
    * current snapshot RANGE-bucketed on `statsCol` (fixed-width bins
    * over the column's [min, max], frozen into the manifest's layout
    * header) and record each bucket's zone map (min/max of the
    * column) in its manifest entry. After this, `readSnapshotRange`
    * plans scans over ONLY the buckets whose zone map overlaps the
    * predicate — at 100 TB a selective range query touches a handful
    * of bucket dirs instead of the table. Later upserts keep the
    * layout: new rows are binned by the frozen boundaries (clamped at
    * the edges) and the touched buckets' zone maps are recomputed in
    * the upsert's own audit read, so skipping stays sound under
    * churn. Because a clustered bucket is f(cluster value), not
    * f(doc_id), an update that moves a doc across bins must also
    * rewrite the bucket holding the PRIOR copy — stageVersion locates
    * those with a doc_id-only probe of the unaffected buckets (bloom-
    * pruned when a doc_id index exists) and folds them into the same
    * atomic commit; buckets emptied by the move leave the manifest.
    * Same stage → audit → one-rename crash safety as every
    * other rewrite; prior snapshots time-travel against their own
    * layout until vacuumed. */
  def compactClustered(spark: SparkSession, path: String, statsCol: String,
                       newBuckets: Int): Unit = {
    val (cur, m) = manifestAt(spark, path, -1, "compactClustered")
    // one snapshot scan (cached for the episode) serves the null check
    // + range agg, the touched probe, and the staged write — was 4
    // full-corpus evaluations (optimization r16, guide §1.2). The null
    // check rides the range aggregate: count(statsCol) counts only
    // non-null values, so a null sneaks nothing past the zone maps.
    val base = scanEntries(spark, path, m).drop("bucket").persist()
    val Row(nAll: Long, nCol: Long, mnN: Any, mxN: Any) = base.agg(
      count(lit(1)), count(col(statsCol)),
      min(col(statsCol).cast("double")), max(col(statsCol).cast("double"))).head()
    // an empty snapshot (reachable after a delete that empties every
    // bucket) yields null min/max, which the Any match below would
    // silently unbox to 0.0 and build a degenerate RangeLayout(0,0) —
    // fail here with the real cause instead (ADVICE r16)
    require(nAll > 0, "compactClustered: empty snapshot — nothing to cluster")
    require(nCol == nAll,
      s"compactClustered: cluster column '$statsCol' must be non-null")
    val (mnA, mxA) = (mnN.asInstanceOf[Double], mxN.asInstanceOf[Double])
    val layout = RangeLayout(statsCol, mnA, mxA, newBuckets)
    rewriteAll(spark, path, cur, m, base.withColumn("bucket", bucketExpr(layout)), layout)
    base.unpersist()
  }

  /** Doc-granular DELETE as a new snapshot — the right-to-be-forgotten
    * primitive: rewrite only the buckets that hold the victim docs,
    * anti-joined against the id set, through the same stage → audit →
    * one-rename path as an upsert. Buckets left EMPTY by the delete
    * drop out of the manifest entirely (no zero-row dirs); untouched
    * buckets keep their live version dirs byte-identical, so the CDC
    * feed between the two snapshots shows ONLY deletes. Crash-safe
    * like upsert: pre-commit crashes leave orphan v-dirs no reader
    * sees; a retry clears them and converges. Returns the number of
    * vector rows removed. */
  def deleteVersioned(spark: SparkSession, path: String, docIds: DataFrame): Long = {
    val (cur, m) = manifestAt(spark, path, -1, "deleteVersioned")
    val next = cur + 1
    val ids = docIds.select(col("doc_id")).distinct()
    val victims = scanEntries(spark, path, m).join(broadcast(ids), Seq("doc_id"), "left_semi")
    // ONE job learns both the touched bucket set and the removed-row
    // total (was: distinct-collect + count = two snapshot-scan jobs —
    // optimization r16, guide §1.2)
    val vb = victims.groupBy(col("owner"), col("bucket")).count().collect()
    val touched = vb.map(r => (r.getString(0), r.getLong(1))).toSeq
    if (touched.isEmpty) return 0L
    val deleted = vb.map(_.getLong(2)).sum
    val man = m.entries
    val touchedSet = touched.toSet
    val wid = newWid() // writer-isolated staging; see stageVersion
    // dv-applying scan: the rewrite folds any existing delete vector
    // of a touched bucket into the new data version. The staged plan
    // is cached across its two actions (count + write), and buckets
    // fully emptied by the delete write no dir (writeStaged's moved
    // set is the kept set) and leave the manifest — no separate
    // kept-distinct collect.
    val staged = scanEntries(spark, path,
        m.copy(entries = man.filter(e => touchedSet((e.owner, e.bucket)))))
      .join(broadcast(ids), Seq("doc_id"), "left_anti")
      .repartition(touched.size, col("owner"), col("bucket"))
      .persist()
    val expected = staged.count()
    val kept = writeStaged(staged, path, next, wid)
    staged.unpersist()
    val nextMan = m.copy(entries = man.filterNot(e => touchedSet((e.owner, e.bucket))) ++ kept)
    if (kept.isEmpty) commitManifest(spark, path, next, nextMan)
    else auditAndCommit(spark, path, StagedVersion(next, expected, nextMan, wid))
    deleted
  }

  /** MERGE-ON-READ soft delete — the Iceberg-v2 delete-vector
    * strategy, the write-cheap counterpart of `deleteVersioned`'s
    * copy-on-write rewrite: instead of rewriting the touched buckets,
    * write one small id file per affected (owner, bucket) under
    * `deletes/dv=<next>/` and commit a manifest whose affected entries
    * keep their data version but gain a `dv:<next>` reference. Readers
    * subtract the dv at scan time (cost ∝ deleted ids); a later
    * upsert/rewrite of the bucket folds the dv in and clears the ref.
    * Repeated soft deletes are CUMULATIVE: the new dv file carries the
    * union of the bucket's old dv ids and the new victims, so each
    * entry references exactly one dv generation. At 100 TB this is
    * what makes frequent small deletes affordable — O(deleted ids)
    * written, zero data movement, amortized into the next natural
    * rewrite. Returns the number of visible vector rows removed. */
  def softDelete(spark: SparkSession, path: String, docIds: DataFrame): Long = {
    val (cur, m) = manifestAt(spark, path, -1, "softDelete")
    val next = cur + 1
    val ids = docIds.select(col("doc_id")).distinct()
    val man = m.entries
    // Locate victims by PRUNED scan, never a full-table read (found by
    // the BENCHDOC flatness legs: the readSnapshot-based locate made a
    // 6-victim delete 4.2× slower at 100× docs — O(table) file opens).
    // HashLayout derives the candidate bucket NUMBERS from the ids
    // themselves; other layouts use the doc_id bloom index when one
    // exists (same pruning stageVersion's relocation probe uses) and
    // scan conservatively otherwise.
    val candidates = m.layout match {
      case HashLayout(nb) =>
        val bset = ids.select(pmod(col("doc_id"), lit(nb.toLong)).as("b"))
          .distinct().collect().map(_.getLong(0)).toSet
        man.filter(e => bset(e.bucket))
      case _ => m.bloom match {
        case Some(cfg) if cfg.col == "doc_id" =>
          val idv = ids.select(col("doc_id").cast("string"))
            .limit(65537).collect().map(_.getString(0))
          if (idv.length > 65536) man
          else {
            val idBits = idv.map(probeBits(_, cfg))
            man.filter(e => e.bloom.forall(h =>
              idBits.exists(_.forall(bloomHas(h, _)))))
          }
        case _ => man
      }
    }
    if (candidates.isEmpty) return 0L
    val visible = scanEntries(spark, path, m.copy(entries = candidates))
    val victims = visible.join(broadcast(ids), Seq("doc_id"), "left_semi")
      .persist() // one pruned scan feeds both consumers (grouped probe
                 // + dv-id write); released below
    // ONE job learns the affected bucket set AND the removed-row total
    // (was: localCheckpoint + distinct-collect + count = three jobs —
    // optimization r16, guide §1.2)
    val vb = victims.groupBy(col("owner"), col("bucket")).count().collect()
    val affected = vb.map(r => (r.getString(0), r.getLong(1))).toSeq
    if (affected.isEmpty) { victims.unpersist(); return 0L }
    val removed = vb.map(_.getLong(2)).sum
    val affectedSet = affected.toSet
    // cumulative: union the affected buckets' existing dv ids in
    val oldEntries = man.filter(e =>
      e.dv.isDefined && affectedSet((e.owner, e.bucket)))
    val newVictimIds = victims.select("owner", "bucket", "doc_id").distinct()
    val allIds =
      if (oldEntries.isEmpty) newVictimIds
      else newVictimIds.unionByName(
        readDvEntries(spark, path, m.copy(entries = oldEntries))).distinct()
    // writer-isolated dv staging (same discipline as writeStaged): a
    // fresh w=<dvw> subdir per attempt, written via a writer-private
    // staging root + one rename, so a concurrent soft delete racing
    // this snapshot can never replace this writer's id files — the
    // loser's dir is simply never referenced. Crash-retry converges
    // the same way: the retry writes a new subdir and the orphan is
    // vacuumable.
    val dvw = newWid()
    val dvStaging = s"${deletesDir(path)}/.staging-$dvw"
    allIds.repartition(affected.size, col("owner"), col("bucket"))
      .write.mode("overwrite").partitionBy("owner", "bucket")
      .parquet(dvStaging)
    victims.unpersist()
    val fs = fsOf(spark, path)
    val dvTarget = new Path(s"${dvDir(path, next)}/w=$dvw")
    fs.mkdirs(dvTarget.getParent)
    if (!fs.rename(new Path(dvStaging), dvTarget))
      throw new IllegalStateException(
        s"softDelete: move $dvStaging -> $dvTarget failed")
    // zone maps untouched: a delete only shrinks a bucket's content,
    // so its recorded (min, max) stays a sound over-approximation
    commitManifest(spark, path, next, m.copy(entries = man.map(e =>
      if (affectedSet((e.owner, e.bucket)))
        e.copy(dv = Some(next), dvw = Some(dvw)) else e)))
    removed
  }

  /** Read a snapshot (default: latest). Plans a scan over exactly the
    * manifest's version dirs — no discovery, orphan dirs invisible. */
  def readSnapshot(spark: SparkSession, path: String, snapshot: Int = -1): DataFrame =
    scanEntries(spark, path, manifestAt(spark, path, snapshot, "readSnapshot")._2)

  /** Snapshot `snapshot` (-1: the current one) and its manifest; `op`
    * names the caller in errors. A vacuumed (or never-committed)
    * snapshot fails CLEANLY here — a descriptive error naming what is
    * still readable — never a partial read or a raw FileNotFound. */
  private def manifestAt(spark: SparkSession, path: String, snapshot: Int,
                         op: String): (Int, Manifest) = {
    val snap = if (snapshot > 0) snapshot
    else currentSnapshot(spark, path).getOrElse(
      throw new IllegalStateException(s"$op: no snapshot at $path"))
    if (snapshot > 0 && !fsOf(spark, path).exists(
        new Path(manifestFile(path, snap))))
      throw new IllegalStateException(
        s"$op: snapshot $snap at $path is not readable " +
          s"(vacuumed or never committed); retained snapshots: " +
          s"${snapshots(spark, path).mkString(", ")}")
    (snap, readManifest(spark, path, snap))
  }

  /** ZONE-MAP-PRUNED range read over the cluster column: scan only
    * the manifest entries whose recorded (min, max) overlaps
    * [lo, hi] — entries with no stats are scanned conservatively —
    * then apply the residual predicate. Returns the filtered rows
    * plus (buckets scanned, buckets total), the pruning evidence the
    * `s19_zonemap_skip` gate pins. Requires a range layout (the
    * cluster column's name lives in the layout header). */
  def rangeScan(spark: SparkSession, path: String, lo: Double, hi: Double,
                snapshot: Int = -1): (DataFrame, Int, Int) = {
    val (snap, m) = manifestAt(spark, path, snapshot, "rangeScan")
    val statsCol = m.layout match {
      case RangeLayout(c, _, _, _) => c
      case other => throw new IllegalStateException(
        s"rangeScan: snapshot $snap has no range layout (found $other) — " +
          "run compactClustered first")
    }
    val scanned = m.entries.filter(_.stats match {
      case Some((mn, mx)) => !(mx < lo || mn > hi)
      case None => true
    })
    (scanEntries(spark, path, m.copy(entries = scanned))
      .filter(col(statsCol).cast("double").between(lo, hi)),
      scanned.size, m.entries.size)
  }

  def readSnapshotRange(spark: SparkSession, path: String, lo: Double,
                        hi: Double, snapshot: Int = -1): DataFrame =
    rangeScan(spark, path, lo, hi, snapshot)._1

  /** Z-ORDER clustering compaction (Delta's OPTIMIZE ZORDER proper):
    * rewrite the current snapshot bucketed by contiguous bands of the
    * 2-D interleaved-bit curve over (colX, colY) — frozen fixed-width
    * bins per dim — and record TWO zone maps per bucket. After this,
    * `boxScan` prunes every bucket whose (x, y) rectangle misses a
    * box predicate: the 2-D selectivity single-column clustering
    * cannot give. Upserts keep the layout (frozen bins, edge clamp)
    * and both zone maps are recomputed in the audit read. nBuckets
    * must divide 4^bits. */
  def compactZOrdered(spark: SparkSession, path: String, colX: String,
                      colY: String, nBuckets: Int, bits: Int = 5): Unit = {
    require((1L << (2 * bits)) % nBuckets == 0,
      s"nBuckets=$nBuckets must divide 4^bits=${1L << (2 * bits)}")
    val (cur, m) = manifestAt(spark, path, -1, "compactZOrdered")
    val base = scanEntries(spark, path, m).drop("bucket")
    Seq(colX, colY).foreach(c => require(base.filter(col(c).isNull).isEmpty,
      s"compactZOrdered: cluster column '$c' must be non-null"))
    val Row(mnx: Double, mxx: Double, mny: Double, mxy: Double) = base.agg(
      min(col(colX).cast("double")), max(col(colX).cast("double")),
      min(col(colY).cast("double")), max(col(colY).cast("double"))).head()
    val layout = ZLayout(colX, colY, mnx, mxx, mny, mxy, bits, nBuckets)
    rewriteAll(spark, path, cur, m, base.withColumn("bucket", bucketExpr(layout)), layout)
  }

  /** 2-D ZONE-MAP-PRUNED box read over a z-ordered table: scan only
    * the buckets whose (x, y) rectangle overlaps the box, then apply
    * the residual predicate. Returns the rows plus (buckets scanned,
    * buckets total). */
  def boxScan(spark: SparkSession, path: String, loX: Double, hiX: Double,
              loY: Double, hiY: Double, snapshot: Int = -1): (DataFrame, Int, Int) = {
    val (snap, m) = manifestAt(spark, path, snapshot, "boxScan")
    val (cx, cy) = m.layout match {
      case ZLayout(x, y, _, _, _, _, _, _) => (x, y)
      case other => throw new IllegalStateException(
        s"boxScan: snapshot $snap has no z-order layout (found $other) — " +
          "run compactZOrdered first")
    }
    def overlaps(st: Option[(Double, Double)], lo: Double, hi: Double) =
      st match { case Some((mn, mx)) => !(mx < lo || mn > hi); case None => true }
    val scanned = m.entries.filter(e =>
      overlaps(e.stats, loX, hiX) && overlaps(e.stats2, loY, hiY))
    (scanEntries(spark, path, m.copy(entries = scanned))
      .filter(col(cx).cast("double").between(loX, hiX) &&
        col(cy).cast("double").between(loY, hiY)), scanned.size, m.entries.size)
  }

  /** Build (or rebuild) per-bucket bloom filters over `colName` as a
    * METADATA-ONLY snapshot: data versions unchanged, every entry
    * gains its filter, the header records the config. One scan of the
    * current content, O(buckets × mBits/8) driver state, one rename.
    * From then on every rewrite maintains the filters (touched
    * buckets recomputed inside the audit), so the index never goes
    * stale. */
  def buildBloomIndex(spark: SparkSession, path: String, colName: String,
                      mBits: Int = 1024, k: Int = 3): Unit = {
    require(mBits % 8 == 0 && mBits > 0, s"mBits must be a positive multiple of 8")
    val (cur, m) = manifestAt(spark, path, -1, "buildBloomIndex")
    val cfg = BloomConfig(colName, mBits, k)
    val bl = bloomHexOf(scanEntries(spark, path, m), cfg)
    commitManifest(spark, path, cur + 1, m.copy(
      entries = m.entries.map(e => e.copy(bloom = bl.get((e.owner, e.bucket)))),
      bloom = Some(cfg)))
  }

  /** BLOOM-PRUNED equality lookup on the indexed column: scan only
    * the buckets whose filter claims the value (false positives are
    * scanned and filtered away; entries without a filter are scanned
    * conservatively), then apply the residual predicate. Returns the
    * matching rows plus (buckets scanned, buckets total) — the
    * pruning evidence the `s21_bloom_skip` gate pins. At 100 TB this
    * turns a non-key point lookup from a full-table scan into a
    * handful of bucket dirs. */
  def lookupEq(spark: SparkSession, path: String, value: String,
               snapshot: Int = -1): (DataFrame, Int, Int) = {
    val (snap, m) = manifestAt(spark, path, snapshot, "lookupEq")
    val cfg = m.bloom.getOrElse(
      throw new IllegalStateException(
        s"lookupEq: snapshot $snap has no bloom index — run buildBloomIndex first"))
    val bits = probeBits(value, cfg)
    val scanned = m.entries.filter(e =>
      e.bloom.forall(h => bits.forall(b => bloomHas(h, b))))
    (scanEntries(spark, path, m.copy(entries = scanned))
      .filter(col(cfg.col).cast("string") === value), scanned.size, m.entries.size)
  }

  /** Scan exactly `m.entries`' data dirs under `m.schema` and subtract
    * their delete vectors (one anti-join against the referenced dv
    * files — the merge-on-read cost, proportional to the DELETED ids,
    * not the table). An empty entry set is an empty relation with the
    * snapshot's schema. Schema evolution needs no merge: `m.schema` is
    * the union of every version dir's columns, and parquet reads NULL
    * for a column a file lacks. */
  private[graft] def scanEntries(spark: SparkSession, path: String,
                                 m: Manifest): DataFrame = {
    val data = ManifestIndex.relation(spark, m.entries.map(e =>
      (s"${dataDir(path)}/${entryKey(e)}", Seq(e.owner, e.bucket))), entryPartitions, m.schema)
    if (!m.entries.exists(_.dv.isDefined)) data
    else data.join(readDvEntries(spark, path, m),
      Seq("owner", "bucket", "doc_id"), "left_anti")
  }

  /** The (doc_id, owner, bucket) delete-vector rows `m.entries`
    * reference. */
  private def readDvEntries(spark: SparkSession, path: String,
                            m: Manifest): DataFrame =
    ManifestIndex.relation(spark, m.entries.filter(_.dv.isDefined)
      .map(e => (s"${deletesDir(path)}/${dvKey(e)}", Seq(e.owner, e.bucket))),
      entryPartitions, StructType(Seq(m.schema("doc_id"))))

  /** The partition values of every manifest read: each entry's
    * `owner`/`bucket`, through the shared [[ManifestIndex]]. */
  private val entryPartitions = StructType(Seq(
    StructField("owner", StringType), StructField("bucket", LongType)))

  /** Drop data dirs referenced by NO retained manifest (keep the last
    * `retain` snapshots). Returns deleted dir count.
    *
    * TAGS PIN SNAPSHOTS (Iceberg refs semantics): every snapshot a
    * `tag-*.txt` resolves to is unioned into the keep set before live
    * keys are computed, so a tagged audit/rollback point stays
    * readable by tag across any number of vacuums — retention only
    * expires UNREFERENCED history. Dropping the tag (dropTag) releases
    * the pin; the next vacuum reclaims it. */
  def vacuum(spark: SparkSession, path: String, retain: Int = 2): Int = {
    val fs = fsOf(spark, path)
    val snaps = snapshots(spark, path)
    val tagged = listTags(spark, path).values.toSet
    val keep = (snaps.takeRight(retain) ++ snaps.filter(tagged)).distinct.sorted
    val keepSet = keep.toSet
    val keptEntries = keep.flatMap(readManifest(spark, path, _).entries)
    var deleted = 0
    // crashed writers leave .staging-<wid> roots (never referenced,
    // invisible to readers); vacuum reclaims them — same caveat as
    // version dirs: vacuum must not run concurrently with writers
    def sweepStaging(dir: Path): Unit =
      if (fs.exists(dir))
        for (d <- fs.listStatus(dir)
             if d.isDirectory && d.getPath.getName.startsWith(".staging-")) {
          fs.delete(d.getPath, true); deleted += 1
        }
    sweepStaging(new Path(dataDir(path)))
    sweepStaging(new Path(deletesDir(path)))
    // both roots are four levels deep to their leaf dirs (data:
    // owner/bucket/v/w, deletes: dv/w/owner/bucket). A leaf no retained
    // entry names is reclaimed, and a dir the sweep empties goes with
    // it — so an orphan w-dir beside a live sibling (a LOSING concurrent
    // writer's staging, or crashed-attempt debris) is reclaimed without
    // touching the winner's data
    def sweep(dir: Path, key: String, depth: Int, live: Set[String]): Unit =
      for (d <- fs.listStatus(dir)
           if d.isDirectory && !d.getPath.getName.startsWith(".")) {
        val k = key + d.getPath.getName
        if (depth == 1) { if (!live(k)) { fs.delete(d.getPath, true); deleted += 1 } }
        else {
          sweep(d.getPath, k + "/", depth - 1, live)
          if (fs.listStatus(d.getPath).isEmpty) fs.delete(d.getPath, false)
        }
      }
    for ((root, live) <- Seq(
           dataDir(path) -> keptEntries.map(entryKey).toSet,
           deletesDir(path) -> keptEntries.filter(_.dv.isDefined).map(dvKey).toSet)
         if fs.exists(new Path(root)))
      sweep(new Path(root), "", 4, live)
    // drop superseded manifests (never a tagged one)
    snaps.filterNot(keepSet).foreach(n =>
      fs.delete(new Path(manifestFile(path, n)), false))
    deleted
  }

  /** Observability report — the DESCRIBE EXTENDED of the store: one
    * row per owner over the CURRENT snapshot, from the manifest (no
    * data read) plus one per-owner visible count and one dv-only scan
    * for masked rows. At 100 TB the visible count would come from
    * parquet footer row counts per bucket minus the dv cardinality;
    * the contract — one bounded row per owner — is the same. */
  def tableReport(spark: SparkSession, path: String): DataFrame = {
    val (cur, m) = manifestAt(spark, path, -1, "tableReport")
    val man = m.entries
    val layoutKind = m.layout match {
      case _: RangeLayout => "range"
      case _: ZLayout => "z"
      case _ => "hash"
    }
    import spark.implicits._
    val entries = man.map(e => (e.owner, e.bucket, e.v, e.dv.isDefined,
        e.bloom.isDefined))
      .toDF("owner", "bucket", "v", "has_dv", "has_bloom")
    val perOwnerMan = entries.groupBy("owner")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("has_dv").cast("long")).as("n_dv_buckets"),
        sum(col("has_bloom").cast("long")).as("n_bloom_buckets"),
        max(col("v")).cast("long").as("max_data_version"))
    val visible = scanEntries(spark, path, m)
      .groupBy("owner").agg(count(lit(1)).as("n_visible"))
    val masked =
      if (!man.exists(_.dv.isDefined))
        entries.select(col("owner")).distinct().withColumn("n_masked", lit(0L))
      else readDvEntries(spark, path, m)
        .groupBy("owner").agg(count(lit(1)).as("n_masked"))
    perOwnerMan.join(visible, Seq("owner"), "left")
      .join(masked, Seq("owner"), "left")
      .na.fill(0L, Seq("n_visible", "n_masked"))
      .withColumn("snapshot", lit(cur.toLong))
      .withColumn("layout", lit(layoutKind))
      .select("owner", "n_buckets", "n_visible", "n_masked", "n_dv_buckets",
        "n_bloom_buckets", "max_data_version", "snapshot", "layout")
      .orderBy("owner")
  }
}
