package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines.{IndexPipeline, VersionedStore}

/** Snapshot-versioned bucketed store: cross-bucket-atomic commits,
  * time travel, file sharing across snapshots, crash invisibility,
  * retry convergence, vacuum. */
class VersionedStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionHelper.spark
  private val sf = "/root/testdata/sf0.001"

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_vs_$tag").toString + "/store"

  private def digest(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, String)] =
    df.groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        md5(concat_ws("", array_sort(collect_list(
          when(col("vtype") === "chunk", md5(col("chunk_text"))))))).as("dg"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap

  // projections of one parsed manifest the assertions compare
  private def manEntries(s: org.apache.spark.sql.SparkSession, dir: String, n: Int) =
    VersionedStore.readManifest(s, dir, n).entries
  private def manKeys(s: org.apache.spark.sql.SparkSession, dir: String, n: Int) =
    manEntries(s, dir, n).map(e => (e.owner, e.bucket, e.v))
  private def manLayout(s: org.apache.spark.sql.SparkSession, dir: String, n: Int) =
    Some(VersionedStore.readManifest(s, dir, n).layout)

  private def docs = Tables.documents(spark, sf).filter(col("doc_id") < 60)
  private def modified = docs.filter(col("doc_id") === 7)
    .withColumn("text", translate(col("text"), "a", "."))

  test("time travel: snapshot 1 survives the upsert byte-for-byte; snapshot 2 is the merge") {
    val dir = freshDir("tt")
    VersionedStore.initialLoad(spark, dir, IndexPipeline.buildIndex(docs))
    val before = digest(VersionedStore.readSnapshot(spark, dir))
    VersionedStore.upsertVersioned(spark, dir, IndexPipeline.buildIndex(modified))
    assert(VersionedStore.snapshots(spark, dir) == Seq(1, 2))
    // snapshot 1 unchanged
    assert(digest(VersionedStore.readSnapshot(spark, dir, 1)) == before)
    // snapshot 2: doc 7 re-indexed, everyone else identical
    val after = digest(VersionedStore.readSnapshot(spark, dir, 2))
    assert(after.keySet == before.keySet)
    assert(after(7L) != before(7L))
    assert((after - 7L) == (before - 7L))
    // untouched buckets SHARE files: every v=1 dir outside doc 7's
    // bucket is referenced by both manifests
    val m1 = manKeys(spark, dir, 1).toSet
    val m2 = manKeys(spark, dir, 2).toSet
    val touchedBucket = 7L % 16
    assert(m1.filterNot(_._2 == touchedBucket) == m2.filterNot(_._2 == touchedBucket))
    assert(m2.exists(e => e._2 == touchedBucket && e._3 == 2))
    spark.catalog.clearCache()
  }

  test("a crash before the manifest commit is invisible to readers; retry converges") {
    val dir = freshDir("crash")
    VersionedStore.initialLoad(spark, dir, IndexPipeline.buildIndex(docs))
    val before = digest(VersionedStore.readSnapshot(spark, dir))
    // simulate: stage the data (v=2 dirs appear on disk) but DIE
    // before auditAndCommit
    VersionedStore.stageVersion(spark, dir, IndexPipeline.buildIndex(modified))
    assert(VersionedStore.currentSnapshot(spark, dir).contains(1))
    assert(digest(VersionedStore.readSnapshot(spark, dir)) == before,
      "orphan v-dirs leaked into the committed snapshot")
    // retry the full upsert over the orphaned staging → correct snapshot 2
    VersionedStore.upsertVersioned(spark, dir, IndexPipeline.buildIndex(modified))
    val after = digest(VersionedStore.readSnapshot(spark, dir, 2))
    assert(after(7L) != before(7L) && (after - 7L) == (before - 7L))
    spark.catalog.clearCache()
  }

  test("foreachBatch micro-batches commit one snapshot each; every batch boundary stays readable") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = freshDir("stream")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_vs_src").toString
    val all = Tables.documents(spark, sf).filter(col("doc_id") < 40)
    // three file-arrival micro-batches: initial load, then two upserts
    val b1 = all.filter(col("doc_id") < 20)
    val b2 = all.filter(col("doc_id") >= 20 && col("doc_id") < 30)
    val b3 = all.filter(col("doc_id") === 7)
      .withColumn("text", translate(col("text"), "a", "."))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_vs_ckpt").toString
    // one shared checkpoint across passes, so each pass only sees the
    // newly-arrived files — three passes = three committed snapshots
    def runPass(): Unit = {
      val q = spark.readStream.schema(b1.schema)
        .parquet(srcDir + "/*")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val vecs = IndexPipeline.buildIndex(batch)
            if (VersionedStore.currentSnapshot(spark, dir).isEmpty)
              VersionedStore.initialLoad(spark, dir, vecs)
            else VersionedStore.upsertVersioned(spark, dir, vecs)
          }
        }.start()
      q.awaitTermination(120000)
    }
    b1.write.parquet(s"$srcDir/b1"); runPass()
    b2.write.parquet(s"$srcDir/b2"); runPass()
    b3.write.parquet(s"$srcDir/b3"); runPass()
    // three committed snapshots, each a consistent batch boundary
    val snaps = VersionedStore.snapshots(spark, dir)
    assert(snaps.size >= 3, s"snapshots: $snaps")
    val s1 = digest(VersionedStore.readSnapshot(spark, dir, snaps.head))
    val sN = digest(VersionedStore.readSnapshot(spark, dir, snaps.last))
    assert(s1.keySet == (0L until 20L).toSet)
    assert(sN.keySet == (0L until 30L).toSet)
    // doc 7 at the FIRST boundary still digests its original text
    assert(s1(7L) != sN(7L))
    assert(s1.filterNot(_._1 == 7L) == sN.view.filterKeys(k => k < 20 && k != 7L).toMap)
    spark.catalog.clearCache()
  }

  test("snapshot reads keep predicate pushdown and column pruning") {
    val dir = freshDir("push")
    VersionedStore.initialLoad(spark, dir, IndexPipeline.buildIndex(docs))
    val plan = VersionedStore.readSnapshot(spark, dir)
      .filter(col("doc_id") === 7).select("doc_id", "vtype")
      .queryExecution.executedPlan.toString
    // the manifest-path scan is still a parquet scan: filters reach it
    // and the read schema is pruned to the referenced columns
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)]"), plan)
    assert(!plan.contains("chunk_text"), "column pruning lost through the snapshot read")
    spark.catalog.clearCache()
  }

  test("vacuum(retain=1) drops only unreferenced version dirs; latest snapshot intact") {
    val dir = freshDir("vac")
    VersionedStore.initialLoad(spark, dir, IndexPipeline.buildIndex(docs))
    VersionedStore.upsertVersioned(spark, dir, IndexPipeline.buildIndex(modified))
    val latest = digest(VersionedStore.readSnapshot(spark, dir, 2))
    val deleted = VersionedStore.vacuum(spark, dir, retain = 1)
    // exactly doc 7's bucket had a superseded v=1 dir
    assert(deleted == 1, s"deleted $deleted dirs")
    assert(VersionedStore.snapshots(spark, dir) == Seq(2))
    assert(digest(VersionedStore.readSnapshot(spark, dir, 2)) == latest)
    spark.catalog.clearCache()
  }

  test("compact: content identical under the new bucket space; old layout time-travels; vacuum reclaims it") {
    val dir = freshDir("cmp")
    VersionedStore.initialLoad(spark, dir, IndexPipeline.buildIndex(docs), nBuckets = 4)
    VersionedStore.upsertVersioned(spark, dir, IndexPipeline.buildIndex(modified))
    val before = digest(VersionedStore.readSnapshot(spark, dir, 2))
    VersionedStore.compact(spark, dir, 16)
    assert(VersionedStore.snapshots(spark, dir) == Seq(1, 2, 3))
    // content is row-identical; only the layout moved
    assert(digest(VersionedStore.readSnapshot(spark, dir, 3)) == before)
    // the manifest carries the NEW bucket space...
    val man3 = manKeys(spark, dir, 3)
    assert(man3.forall(_._3 == 3) && man3.map(_._2).forall(b => b >= 0 && b < 16))
    val nDocs = docs.count()
    val expected16 = docs.select(col("source"), pmod(col("doc_id"), lit(16L)))
      .distinct().count()
    assert(man3.map(e => (e._1, e._2)).distinct.size == expected16)
    // ...while snapshot 2 still reads the OLD 4-bucket layout
    val man2 = manKeys(spark, dir, 2)
    assert(man2.map(_._2).forall(b => b >= 0 && b < 4))
    assert(digest(VersionedStore.readSnapshot(spark, dir, 2)) == before)
    // physical layout matches the manifest: every v=3 dir is a 16-space bucket
    assert(VersionedStore.readSnapshot(spark, dir, 3)
      .select(col("bucket")).distinct().collect()
      .map(_.getLong(0)).forall(b => b >= 0 && b < 16))
    // per-doc placement follows doc_id % 16
    val placed = VersionedStore.readSnapshot(spark, dir, 3)
      .select("doc_id", "bucket").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(placed.forall { case (id, b) => b == id % 16 })
    // vacuum(retain=1) reclaims the whole old bucket space
    val deleted = VersionedStore.vacuum(spark, dir, retain = 1)
    val old4 = docs.select(col("source"), pmod(col("doc_id"), lit(4L)))
      .distinct().count()
    // old layout: every (owner, 4-bucket) at v=1, plus doc 7's bucket at v=2
    assert(deleted == old4 + 1, s"deleted $deleted, old4 $old4")
    assert(digest(VersionedStore.readSnapshot(spark, dir, 3)) == before)
    assert(nDocs == before.size.toLong)
    spark.catalog.clearCache()
  }

  test("s15_snapshot_cdc: change feed is changes-only — one update pair, five inserts, no deletes") {
    val rows = SparkEntry.queries("s15_snapshot_cdc")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    spark.catalog.clearCache()
    // unchanged docs (149 of the 150 in snapshot 1) emit NOTHING
    assert(rows.length == 7, rows.mkString(","))
    assert(rows.count(_._2 == "insert") == 5)
    assert(rows.filter(_._2 == "insert").map(_._1).toSet == Set(150L, 151L, 152L, 153L, 154L))
    assert(rows.filter(_._1 == 7L).map(_._2).sorted.toSeq ==
      Seq("update_postimage", "update_preimage"))
    assert(!rows.exists(_._2 == "delete"), "upsert-only feed must carry no deletes")
  }

  test("deleteVersioned: victims vanish, survivors byte-identical, emptied buckets leave the manifest") {
    import spark.implicits._
    val dir = freshDir("del")
    VersionedStore.initialLoad(spark, dir, IndexPipeline.buildIndex(docs))
    val before = digest(VersionedStore.readSnapshot(spark, dir))
    // wipe doc 7 plus EVERY doc in bucket 3 (doc_id % 16 == 3) so one
    // bucket-set empties entirely
    val victimIds = docs.select(col("doc_id"))
      .filter(col("doc_id") === 7 || col("doc_id") % 16 === 3)
    val victimSet = victimIds.collect().map(_.getLong(0)).toSet
    val removed = VersionedStore.deleteVersioned(spark, dir, victimIds)
    assert(removed > 0L)
    assert(VersionedStore.snapshots(spark, dir) == Seq(1, 2))
    // snapshot 1 still time-travels complete
    assert(digest(VersionedStore.readSnapshot(spark, dir, 1)) == before)
    // snapshot 2: victims gone, everyone else byte-identical
    val after = digest(VersionedStore.readSnapshot(spark, dir, 2))
    assert(after.keySet == before.keySet -- victimSet)
    assert(after.forall { case (k, v) => before(k) == v })
    // bucket 3 emptied → absent from manifest 2; untouched buckets
    // keep their v=1 dirs (no rewrite)
    val m2 = manKeys(spark, dir, 2)
    assert(!m2.exists(_._2 == 3L), s"emptied bucket still in manifest: $m2")
    val touched = Set(3L, 7L % 16)
    assert(m2.filterNot(e => touched(e._2)).forall(_._3 == 1))
    // deleting ids that do not exist is a no-op: no new snapshot
    assert(VersionedStore.deleteVersioned(spark, dir,
      Seq(99999L).toDF("doc_id")) == 0L)
    assert(VersionedStore.snapshots(spark, dir) == Seq(1, 2))
    spark.catalog.clearCache()
  }

  test("softDelete: merge-on-read — zero data movement, cumulative dvs, upsert folds the dv in") {
    import spark.implicits._
    val dir = freshDir("sdv")
    VersionedStore.initialLoad(spark, dir, IndexPipeline.buildIndex(docs))
    val before = digest(VersionedStore.readSnapshot(spark, dir))
    val m1 = manKeys(spark, dir, 1).toSet

    // episode 1: docs 7 and 23 (same bucket: 7%16=7, 23%16=7)
    val removed1 = VersionedStore.softDelete(spark, dir, Seq(7L, 23L).toDF("doc_id"))
    assert(removed1 > 0L)
    // data versions UNTOUCHED — that is the merge-on-read contract
    assert(manKeys(spark, dir, 2).toSet == m1)
    val v2 = digest(VersionedStore.readSnapshot(spark, dir, 2))
    assert(v2 == before -- Set(7L, 23L))
    // snapshot 1 still sees everything
    assert(digest(VersionedStore.readSnapshot(spark, dir, 1)) == before)

    // episode 2 overlaps episode 1 (7 invisible already) + adds 39
    val removed2 = VersionedStore.softDelete(spark, dir, Seq(7L, 39L).toDF("doc_id"))
    assert(removed2 > 0L)
    assert(digest(VersionedStore.readSnapshot(spark, dir, 3)) ==
      before -- Set(7L, 23L, 39L))
    assert(manKeys(spark, dir, 3).toSet == m1)

    // an upsert of doc 8 (bucket 8, no dv) leaves other dvs standing;
    // the soft-deleted docs stay gone in snapshot 4
    val mod8 = docs.filter(col("doc_id") === 8)
      .withColumn("text", translate(col("text"), "e", "_"))
    VersionedStore.upsertVersioned(spark, dir, IndexPipeline.buildIndex(mod8))
    val v4 = digest(VersionedStore.readSnapshot(spark, dir, 4))
    assert(v4.keySet == before.keySet -- Set(7L, 23L, 39L))
    assert(v4(8L) != before(8L))

    // an upsert touching the dv'd bucket (doc 55: 55%16=7) FOLDS the
    // dv into the rewrite — deleted ids stay gone, dv ref cleared
    val mod55 = docs.filter(col("doc_id") === 55)
      .withColumn("text", translate(col("text"), "e", "_"))
    VersionedStore.upsertVersioned(spark, dir, IndexPipeline.buildIndex(mod55))
    val v5 = digest(VersionedStore.readSnapshot(spark, dir, 5))
    assert(v5.keySet == before.keySet -- Set(7L, 23L, 39L))
    assert(v5(55L) != before(55L))
    assert((v5 - 55L - 8L) == (before -- Set(7L, 8L, 23L, 39L, 55L)))

    // vacuum(retain=1) reclaims the now-unreferenced dv generations
    val reclaimed = VersionedStore.vacuum(spark, dir, retain = 1)
    assert(reclaimed > 0)
    assert(digest(VersionedStore.readSnapshot(spark, dir)) == v5)
    spark.catalog.clearCache()
  }

  test("optimistic concurrency: a losing writer's commit fails loudly and a restage converges") {
    val dir = freshDir("occ")
    VersionedStore.initialLoad(spark, dir, IndexPipeline.buildIndex(docs))
    // writer A stages snapshot 2 but has not committed yet
    val stA = VersionedStore.stageVersion(spark, dir, IndexPipeline.buildIndex(modified))
    // writer B lands snapshot 2 first
    VersionedStore.upsertVersioned(spark, dir,
      IndexPipeline.buildIndex(docs.filter(col("doc_id") === 9)
        .withColumn("text", translate(col("text"), "o", "0"))))
    assert(VersionedStore.currentSnapshot(spark, dir).contains(2))
    val committed = digest(VersionedStore.readSnapshot(spark, dir, 2))
    // A's late commit of the same snapshot id must fail, not clobber
    intercept[java.util.ConcurrentModificationException] {
      VersionedStore.auditAndCommit(spark, dir, stA)
    }
    assert(digest(VersionedStore.readSnapshot(spark, dir, 2)) == committed)
    // A retries the standard way: re-read current, restage, commit → 3
    VersionedStore.upsertVersioned(spark, dir, IndexPipeline.buildIndex(modified))
    assert(VersionedStore.snapshots(spark, dir) == Seq(1, 2, 3))
    val v3 = digest(VersionedStore.readSnapshot(spark, dir, 3))
    assert(v3(7L) != committed(7L))  // A's change landed
    assert(v3(9L) == committed(9L))  // B's change preserved
    spark.catalog.clearCache()
  }

  test("schema evolution: column add rewrites only touched buckets; old rows read NULL; compact carries it") {
    val dir = freshDir("sev")
    VersionedStore.initialLoad(spark, dir, IndexPipeline.buildIndex(docs))
    assert(!VersionedStore.readSnapshot(spark, dir, 1).columns.contains("quality"))
    val batch = IndexPipeline.buildIndex(
        docs.filter(col("doc_id") === 7)
          .withColumn("text", translate(col("text"), "a", ".")))
      .withColumn("quality", lit(3L))
    VersionedStore.upsertVersioned(spark, dir, batch)
    val s2 = VersionedStore.readSnapshot(spark, dir, 2)
    assert(s2.columns.contains("quality"))
    // only doc 7's rows carry the value; every untouched row is NULL
    assert(s2.filter(col("quality").isNotNull).select("doc_id")
      .distinct().collect().map(_.getLong(0)).toSeq == Seq(7L))
    // snapshot 1 still reads WITHOUT the column (its dirs predate it)
    assert(!VersionedStore.readSnapshot(spark, dir, 1).columns.contains("quality"))
    // a full rewrite (compact) lands every row under the merged schema
    VersionedStore.compact(spark, dir, newBuckets = 8)
    val s3 = VersionedStore.readSnapshot(spark, dir, 3)
    assert(s3.columns.contains("quality"))
    assert(s3.filter(col("quality").isNotNull).select("doc_id")
      .distinct().collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(s3.count() == s2.count())
    spark.catalog.clearCache()
  }

  test("x12_incremental_agg: delta-maintained view equals direct recompute for every owner") {
    val rows = SparkEntry.queries("x12_incremental_agg")(spark, sf).collect()
    spark.catalog.clearCache()
    assert(rows.nonEmpty)
    // the cross-check flag the query itself computes must hold everywhere
    assert(rows.forall(_.getLong(5) == 1L),
      rows.filter(_.getLong(5) != 1L).mkString(","))
    // and independently: inc == direct column-wise (not just the flag)
    assert(rows.forall(r => r.getLong(1) == r.getLong(3) && r.getLong(2) == r.getLong(4)))
    // the snapshot-2 state has more docs than snapshot 1 (5 inserts) —
    // the deltas must actually have been applied, not trivially zero
    val totalDocs = rows.map(_.getLong(1)).sum
    assert(totalDocs == 155L, s"expected 155 docs across owners, got $totalDocs")
  }

  test("x15_cdc_mirror: feed-maintained mirror equals a direct snapshot read per owner") {
    val rows = SparkEntry.queries("x15_cdc_mirror")(spark, sf).collect()
    spark.catalog.clearCache()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(4) == 1L),
      rows.filter(_.getLong(4) != 1L).mkString(","))
    // deletes really applied: total docs = 155 - 3 victims
    assert(rows.map(_.getLong(1)).sum == 152L)
  }

  private def zrel(dd: org.apache.spark.sql.DataFrame) =
    dd.select(col("doc_id"), col("source").as("owner"), col("n_chars"),
      md5(col("text")).as("text_md5"))

  test("compactClustered: zone maps prune buckets; range scan content equals a plain filter") {
    val dir = freshDir("zm")
    val all = Tables.documents(spark, sf).filter(col("doc_id") < 150)
    VersionedStore.initialLoad(spark, dir, zrel(all), nBuckets = 4)
    // hash layout has no cluster column — rangeScan must refuse
    intercept[IllegalStateException](VersionedStore.rangeScan(spark, dir, 0, 1))
    VersionedStore.compactClustered(spark, dir, "n_chars", 8)
    assert(manLayout(spark, dir, 2)
      .exists(_.isInstanceOf[VersionedStore.RangeLayout]))
    // every entry carries a zone map
    val man = manEntries(spark, dir, 2)
    assert(man.nonEmpty && man.forall(_.stats.isDefined))
    val (rows, scanned, total) = VersionedStore.rangeScan(spark, dir, 150, 260)
    assert(scanned < total, s"no pruning: $scanned/$total")
    assert(scanned > 0)
    // content == plain filter over the full snapshot
    val expect = VersionedStore.readSnapshot(spark, dir)
      .filter(col("n_chars").between(150, 260))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == expect)
    // zone maps are TIGHT: each bucket's recorded (min, max) equals its
    // content's actual min/max
    val actual = VersionedStore.readSnapshot(spark, dir)
      .groupBy("owner", "bucket")
      .agg(min(col("n_chars").cast("double")), max(col("n_chars").cast("double")))
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    man.foreach(e => assert(e.stats.contains(actual((e.owner, e.bucket)))))
    spark.catalog.clearCache()
  }

  test("range layout survives upserts: frozen bins, edge clamp, zone-map widening") {
    val dir = freshDir("zmup")
    val all = Tables.documents(spark, sf).filter(col("doc_id") < 100)
    VersionedStore.initialLoad(spark, dir, zrel(all), nBuckets = 4)
    VersionedStore.compactClustered(spark, dir, "n_chars", 8)
    val lay = manLayout(spark, dir, 2)
      .get.asInstanceOf[VersionedStore.RangeLayout]
    // upsert one doc with n_chars far ABOVE the frozen max — it must be
    // clamped into the top bin and widen that bucket's zone map
    val big = zrel(Tables.documents(spark, sf)
        .filter(col("doc_id") === 150).limit(1))
      .withColumn("n_chars", lit(lay.mx.toLong + 5000L))
    VersionedStore.upsertVersioned(spark, dir, big)
    // layout header carried forward unchanged (frozen boundaries)
    assert(manLayout(spark, dir, 3) == Some(lay))
    val owner = big.select("owner").head().getString(0)
    val man3 = manEntries(spark, dir, 3)
    val top = man3.find(e => e.owner == owner && e.bucket == lay.nBuckets - 1L)
    assert(top.exists(_.stats.exists(_._2 == lay.mx + 5000.0)),
      s"top bin not widened: ${top.flatMap(_.stats)}")
    // a range scan past the original max finds the new doc and scans
    // only the widened bucket(s)
    val (rows, scanned, total) = VersionedStore.rangeScan(
      spark, dir, lay.mx + 1000, lay.mx + 10000)
    assert(rows.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(150L))
    assert(scanned < total)
    // null cluster values are rejected up front
    intercept[IllegalArgumentException](VersionedStore.upsertVersioned(spark, dir,
      big.withColumn("n_chars", lit(null).cast("long"))))
    spark.catalog.clearCache()
  }

  test("manifest-diff CDC equals the join-based feed across upsert, soft-delete and COW-delete transitions") {
    val dir = freshDir("cdf")
    val docsAll = Tables.documents(spark, sf)
    val base = docsAll.filter(col("doc_id") < 60)
    VersionedStore.initialLoad(spark, dir, IndexPipeline.buildIndex(base))
    // snap 2: update doc 7 + insert 60-62
    VersionedStore.upsertVersioned(spark, dir, IndexPipeline.buildIndex(
      base.filter(col("doc_id") === 7)
        .withColumn("text", translate(col("text"), "a", "."))
        .unionByName(docsAll.filter(col("doc_id") >= 60 && col("doc_id") < 63))))
    // snap 3: soft delete (dv transition, zero data movement)
    VersionedStore.softDelete(spark, dir,
      base.filter(col("doc_id").isin(11, 12)).select("doc_id"))
    // snap 4: copy-on-write delete (bucket rewrite / possible entry drop)
    VersionedStore.deleteVersioned(spark, dir,
      base.filter(col("doc_id").isin(13, 14)).select("doc_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "change_type", "n_vectors", "chunks_md5")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet
    Seq((1, 2), (2, 3), (3, 4), (1, 4)).foreach { case (a, b) =>
      val slow = rows(IndexPipeline.snapshotCdcFeed(spark, dir, a, b))
      val (fast, scanned, total) = IndexPipeline.snapshotCdcFeedFast(spark, dir, a, b)
      assert(rows(fast) == slow, s"feed mismatch for ($a,$b)")
      assert(scanned <= total)
      // each episode touches a strict subset of buckets
      if (b - a == 1) assert(scanned < total, s"no pruning for ($a,$b)")
      spark.catalog.clearCache()
    }
  }

  test("bloom index: metadata-only build, pruned lookup, filters maintained through upsert and compact") {
    val dir = freshDir("bloom")
    val all = Tables.documents(spark, sf).filter(col("doc_id") < 100)
    VersionedStore.initialLoad(spark, dir, zrel(all), nBuckets = 8)
    // no index yet → lookup refuses
    intercept[IllegalStateException](VersionedStore.lookupEq(spark, dir, "x"))
    VersionedStore.buildBloomIndex(spark, dir, "text_md5")
    // metadata-only: every data version unchanged, every entry filtered
    val m1 = manKeys(spark, dir, 1).toSet
    val m2full = manEntries(spark, dir, 2)
    assert(m2full.map(e => (e.owner, e.bucket, e.v)).toSet == m1)
    assert(m2full.forall(_.bloom.isDefined))
    // pruned lookup finds exactly the probe's rows
    val probe = all.filter(col("doc_id") === 42).select(md5(col("text")))
      .head().getString(0)
    val (rows, scanned, total) = VersionedStore.lookupEq(spark, dir, probe)
    assert(scanned < total && scanned >= 1)
    assert(rows.select("doc_id").collect().map(_.getLong(0)).toSet ==
      VersionedStore.readSnapshot(spark, dir)
        .filter(col("text_md5") === probe)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
    // upsert a doc with a brand-new value: its bucket's filter must be
    // recomputed so the lookup finds it
    val nv = zrel(Tables.documents(spark, sf).filter(col("doc_id") === 150))
      .withColumn("text_md5", lit("feedfacefeedfacefeedfacefeedface"))
    VersionedStore.upsertVersioned(spark, dir, nv)
    val (r2, s2, t2) = VersionedStore.lookupEq(spark, dir,
      "feedfacefeedfacefeedfacefeedface")
    assert(r2.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(150L))
    assert(s2 < t2)
    // compact to a new bucket count: filters recomputed for the new space
    VersionedStore.compact(spark, dir, 4)
    val m4 = manEntries(spark, dir, 4)
    assert(m4.forall(_.bloom.isDefined))
    val (r3, s3, t3) = VersionedStore.lookupEq(spark, dir,
      "feedfacefeedfacefeedfacefeedface")
    assert(r3.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(150L))
    assert(s3 <= t3)
    spark.catalog.clearCache()
  }

  test("plain compact resets to hash layout; softDelete carries layout and stats forward") {
    val dir = freshDir("zmsd")
    val all = Tables.documents(spark, sf).filter(col("doc_id") < 100)
    VersionedStore.initialLoad(spark, dir, zrel(all), nBuckets = 4)
    VersionedStore.compactClustered(spark, dir, "n_chars", 8)
    // soft delete two docs: zero data movement, stats stay (sound
    // over-approximation), layout header intact
    VersionedStore.softDelete(spark, dir,
      all.filter(col("doc_id").isin(3, 4)).select("doc_id"))
    assert(manLayout(spark, dir, 3)
      .exists(_.isInstanceOf[VersionedStore.RangeLayout]))
    val man3 = manEntries(spark, dir, 3)
    assert(man3.forall(_.stats.isDefined))
    val (rows, _, _) = VersionedStore.rangeScan(spark, dir, 0, 1e9)
    assert(!rows.select("doc_id").collect().map(_.getLong(0)).toSet
      .exists(Set(3L, 4L)))
    // plain compact back to hash: header says hash, later upserts use it
    VersionedStore.compact(spark, dir, 4)
    assert(manLayout(spark, dir, 4) ==
      Some(VersionedStore.HashLayout(4)))
    intercept[IllegalStateException](VersionedStore.rangeScan(spark, dir, 0, 1))
    // hash upsert lands doc 150 in bucket 150 % 4 = 2
    VersionedStore.upsertVersioned(spark, dir,
      zrel(Tables.documents(spark, sf).filter(col("doc_id") === 150)))
    val e150 = VersionedStore.readSnapshot(spark, dir)
      .filter(col("doc_id") === 150).select("bucket").head().getLong(0)
    assert(e150 == 2L)
    spark.catalog.clearCache()
  }

  test("clustered upsert relocates: a doc whose cluster value moves bins leaves no stale copy") {
    val dir = freshDir("reloc")
    val all = zrel(Tables.documents(spark, sf).filter(col("doc_id") < 100))
    VersionedStore.initialLoad(spark, dir, all, nBuckets = 4)
    VersionedStore.compactClustered(spark, dir, "n_chars", 8)
    val lay = manLayout(spark, dir, 2)
      .get.asInstanceOf[VersionedStore.RangeLayout]
    // pick a doc currently in a LOW bin; rewrite it with n_chars at the
    // frozen max so its new bucket is the TOP bin — a different bucket
    val snap2 = VersionedStore.readSnapshot(spark, dir, 2)
    val victim = snap2.orderBy(col("n_chars")).select("doc_id", "bucket").head()
    val (vid, oldBucket) = (victim.getLong(0), victim.getLong(1))
    val moved = all.filter(col("doc_id") === vid)
      .withColumn("n_chars", lit(lay.mx.toLong))
      .withColumn("text_md5", lit("moved"))
    VersionedStore.upsertVersioned(spark, dir, moved)
    val now = VersionedStore.readSnapshot(spark, dir, 3)
      .filter(col("doc_id") === vid).collect()
    // exactly ONE copy survives, in the new bucket, with the new content
    assert(now.length == 1, s"duplicate copies after bin move: ${now.toSeq}")
    val r = now.head
    assert(r.getAs[Long]("bucket") != oldBucket)
    assert(r.getAs[String]("text_md5") == "moved")
    // total row count: unchanged (one doc replaced, none added)
    assert(VersionedStore.readSnapshot(spark, dir, 3).count() == all.count())
    // the OLD bucket was rewritten in the same atomic commit — or, if
    // the victim was its only row, its entry vanished entirely
    val man3 = manEntries(spark, dir, 3)
    assert(man3.find(e => e.bucket == oldBucket &&
      e.owner == r.getAs[String]("owner")).forall(_.v == 3))
    // zone maps stay tight after relocation
    val actual = VersionedStore.readSnapshot(spark, dir, 3)
      .groupBy("owner", "bucket")
      .agg(min(col("n_chars").cast("double")), max(col("n_chars").cast("double")))
      .collect().map(x => ((x.getString(0), x.getLong(1)),
        (x.getDouble(2), x.getDouble(3)))).toMap
    man3.foreach(e => assert(e.stats.contains(actual((e.owner, e.bucket))),
      s"stale zone map on bucket ${(e.owner, e.bucket)}"))
    // same churn under a Z layout: move BOTH coordinates
    VersionedStore.compactZOrdered(spark, dir, "n_chars", "doc_id", 16, bits = 4)
    val movedZ = moved.withColumn("n_chars", lit(0L))
    VersionedStore.upsertVersioned(spark, dir, movedZ)
    val nowZ = VersionedStore.readSnapshot(spark, dir)
      .filter(col("doc_id") === vid).collect()
    assert(nowZ.length == 1, s"duplicate copies after z-layout move: ${nowZ.toSeq}")
    assert(nowZ.head.getAs[Long]("n_chars") == 0L)
    // with a doc_id bloom index the relocation probe is bloom-pruned —
    // churn must stay duplicate-free through that path too
    VersionedStore.buildBloomIndex(spark, dir, "doc_id", mBits = 512, k = 3)
    val movedAgain = movedZ.withColumn("n_chars", lit(lay.mx.toLong))
      .withColumn("text_md5", lit("moved-again"))
    VersionedStore.upsertVersioned(spark, dir, movedAgain)
    val nowB = VersionedStore.readSnapshot(spark, dir)
      .filter(col("doc_id") === vid).collect()
    assert(nowB.length == 1, s"duplicate after bloom-pruned move: ${nowB.toSeq}")
    assert(nowB.head.getAs[String]("text_md5") == "moved-again")
    assert(VersionedStore.readSnapshot(spark, dir).count() == all.count())
    // the doc_id bloom really PRUNES the probe: stage one more move
    // directly and compare probed buckets against the un-new-touched
    // manifest size (k=3 bits over 512 give a low fp rate, so most
    // buckets are skipped)
    val movedB2 = movedAgain.withColumn("n_chars", lit(0L))
    val st = VersionedStore.stageVersion(spark, dir, movedB2)
    val manNow = manEntries(spark, dir,
      VersionedStore.currentSnapshot(spark, dir).get)
    assert(st.probedBuckets >= 0, "clustered stage must record probe size")
    assert(st.probedBuckets < manNow.size - 1,
      s"bloom pruned nothing: probed ${st.probedBuckets} of ${manNow.size}")
    spark.catalog.clearCache()
  }

  test("bloom index tolerates nulls in the indexed column") {
    val dir = freshDir("blnull")
    val all = zrel(Tables.documents(spark, sf).filter(col("doc_id") < 60))
      .withColumn("text_md5",
        when(col("doc_id") % 3 === 0, lit(null)).otherwise(col("text_md5")))
    VersionedStore.initialLoad(spark, dir, all, nBuckets = 4)
    // building over a nullable column must not throw
    VersionedStore.buildBloomIndex(spark, dir, "text_md5", mBits = 512, k = 3)
    // an upsert whose staged content has nulls in the column must not
    // crash bloom maintenance in auditAndCommit
    val probeVal = all.filter(col("text_md5").isNotNull)
      .select("text_md5").head().getString(0)
    VersionedStore.upsertVersioned(spark, dir,
      all.filter(col("doc_id") < 10))
    // the filter still finds every non-null value and prunes something
    val (rows, scanned, total) = VersionedStore.lookupEq(spark, dir, probeVal)
    assert(rows.count() >= 1)
    assert(scanned <= total)
    spark.catalog.clearCache()
  }

  test("tags pin snapshots across vacuum; dropTag releases the pin; vacuumed reads fail cleanly") {
    val dir = freshDir("tagvac")
    VersionedStore.initialLoad(spark, dir, IndexPipeline.buildIndex(docs))
    val snap1 = digest(VersionedStore.readSnapshot(spark, dir, 1))
    VersionedStore.tagSnapshot(spark, dir, "train-v1", 1)
    VersionedStore.upsertVersioned(spark, dir, IndexPipeline.buildIndex(modified))
    VersionedStore.upsertVersioned(spark, dir,
      IndexPipeline.buildIndex(docs.filter(col("doc_id") === 9)
        .withColumn("text", translate(col("text"), "o", "0"))))
    assert(VersionedStore.snapshots(spark, dir) == Seq(1, 2, 3))
    // retain=1 would normally keep only snapshot 3 — the tag pins 1
    VersionedStore.vacuum(spark, dir, retain = 1)
    assert(VersionedStore.snapshots(spark, dir) == Seq(1, 3),
      "tagged snapshot 1 must survive retention")
    // the tagged corpus is byte-identical after vacuum, repeatedly
    assert(digest(VersionedStore.readSnapshotByTag(spark, dir, "train-v1")) == snap1)
    VersionedStore.vacuum(spark, dir, retain = 1)
    assert(digest(VersionedStore.readSnapshotByTag(spark, dir, "train-v1")) == snap1)
    // the UNTAGGED middle snapshot was expired, and reading it fails
    // with a descriptive error (not FileNotFound / partial data)
    val ex = intercept[IllegalStateException] {
      VersionedStore.readSnapshot(spark, dir, 2)
    }
    assert(ex.getMessage.contains("vacuumed") &&
      ex.getMessage.contains("retained snapshots"), ex.getMessage)
    // dropping the tag releases the pin: the next vacuum reclaims it
    VersionedStore.dropTag(spark, dir, "train-v1")
    VersionedStore.vacuum(spark, dir, retain = 1)
    assert(VersionedStore.snapshots(spark, dir) == Seq(3))
    assert(VersionedStore.listTags(spark, dir).isEmpty)
    // the head is still byte-complete after all three vacuums
    assert(VersionedStore.readSnapshot(spark, dir).count() ==
      IndexPipeline.buildIndex(docs).count())
    spark.catalog.clearCache()
  }

  test("resolveTag: short reads handled, empty and corrupt tag files fail descriptively") {
    val dir = freshDir("tagio")
    VersionedStore.initialLoad(spark, dir, IndexPipeline.buildIndex(docs))
    VersionedStore.tagSnapshot(spark, dir, "ok", 1)
    assert(VersionedStore.resolveTag(spark, dir, "ok") == 1)
    // hand-plant an empty tag file: must fail with a clear message
    val manifest = new java.io.File(s"$dir/manifest")
    java.nio.file.Files.write(
      new java.io.File(manifest, "tag-empty.txt").toPath, Array.empty[Byte])
    val e1 = intercept[IllegalArgumentException] {
      VersionedStore.resolveTag(spark, dir, "empty")
    }
    assert(e1.getMessage.contains("empty"), e1.getMessage)
    // and a corrupt (non-numeric) one names the content
    java.nio.file.Files.write(
      new java.io.File(manifest, "tag-bad.txt").toPath,
      "not-a-snapshot".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedStore.resolveTag(spark, dir, "bad")
    }
    assert(e2.getMessage.contains("non-numeric"), e2.getMessage)
    spark.catalog.clearCache()
  }

  test("hash layout: an owner-changing upsert leaves no stale cross-owner copy") {
    val dir = freshDir("ownmove")
    def rel(dd: org.apache.spark.sql.DataFrame) =
      dd.select(col("doc_id"), col("source").as("owner"),
        md5(col("text")).as("text_md5"))
    val all = rel(Tables.documents(spark, sf).filter(col("doc_id") < 100))
    VersionedStore.initialLoad(spark, dir, all, nBuckets = 8)
    // re-home doc 7 under a brand-new owner (a user migration / an
    // ACL re-assignment): bucket number is pinned by f(doc_id), but
    // the partition key is (owner, bucket) — the old copy lives in a
    // dir the new row does not touch
    val victim = all.filter(col("doc_id") === 7)
    val oldOwner = victim.select("owner").head().getString(0)
    val moved = victim.withColumn("owner", lit("migrated-tenant"))
      .withColumn("text_md5", lit("rehomed"))
    VersionedStore.upsertVersioned(spark, dir, moved)
    val now = VersionedStore.readSnapshot(spark, dir)
      .filter(col("doc_id") === 7).collect()
    assert(now.length == 1, s"stale cross-owner duplicate: ${now.toSeq}")
    assert(now.head.getAs[String]("owner") == "migrated-tenant")
    assert(now.head.getAs[String]("text_md5") == "rehomed")
    assert(VersionedStore.readSnapshot(spark, dir).count() == all.count())
    // the probe is BOUNDED: only same-bucket-number entries under
    // other owners were scanned, never the whole manifest
    val st = VersionedStore.stageVersion(spark, dir,
      moved.withColumn("text_md5", lit("again")))
    val man = manEntries(spark, dir,
      VersionedStore.currentSnapshot(spark, dir).get)
    val sameBucket = man.count(_.bucket == 7L % 8)
    assert(st.probedBuckets >= 0 && st.probedBuckets < sameBucket,
      s"hash probe must be bounded by same-bucket entries: " +
        s"probed ${st.probedBuckets} of ${man.size} (same-bucket $sameBucket)")
    assert(oldOwner != "migrated-tenant")
    spark.catalog.clearCache()
  }

  test("reader during vacuum: a plan built before vacuum fails LOUDLY when its files are reclaimed - never partial rows") {
    val dir = freshDir("readvac")
    def rel(dd: org.apache.spark.sql.DataFrame) =
      dd.select(col("doc_id"), col("source").as("owner"),
        md5(col("text")).as("text_md5"))
    val all = rel(Tables.documents(spark, sf).filter(col("doc_id") < 80))
    VersionedStore.initialLoad(spark, dir, all)
    VersionedStore.upsertVersioned(spark, dir,
      all.filter(col("doc_id") === 7).withColumn("text_md5", lit("v2")))
    // a long-running reader plans against snapshot 1 BEFORE vacuum...
    val staleReader = VersionedStore.readSnapshot(spark, dir, 1)
    assert(staleReader.limit(1).count() == 1) // plan is live pre-vacuum
    // ...then retention reclaims snapshot 1's superseded dir
    VersionedStore.vacuum(spark, dir, retain = 1)
    // evaluating the stale plan now must be a LOUD failure (the
    // reclaimed file is gone), never a silently partial result set
    val ex = intercept[Exception] { staleReader.count() }
    val msg = ex.toString + Option(ex.getCause).map(_.toString).getOrElse("")
    assert(msg.contains("FILE_NOT_EXIST") || msg.contains("FileNotFound") ||
      msg.contains("does not exist"), s"unexpected failure shape: $msg")
    // and a FRESH read of the vacuumed snapshot fails with the
    // descriptive retention error before any scan is planned
    val ex2 = intercept[IllegalStateException] {
      VersionedStore.readSnapshot(spark, dir, 1)
    }
    assert(ex2.getMessage.contains("vacuumed"), ex2.getMessage)
    // the head snapshot is untouched throughout
    assert(VersionedStore.readSnapshot(spark, dir).count() == all.count())
    spark.catalog.clearCache()
  }

  test("concurrent writers: N racing upsert threads all land via retry; no lost update; snapshots stay contiguous") {
    val dir = freshDir("race")
    def rel(dd: org.apache.spark.sql.DataFrame) =
      dd.select(col("doc_id"), col("source").as("owner"),
        md5(col("text")).as("text_md5"))
    val all = rel(Tables.documents(spark, sf).filter(col("doc_id") < 64))
    VersionedStore.initialLoad(spark, dir, all, nBuckets = 16)
    // four writers, each re-writing ONE doc in a DISTINCT bucket —
    // this pins the COMMIT race: losers fail loudly and converge by
    // restaging (the overlapping-BUCKET race is pinned by the
    // writer-isolation test below)
    val victims = Seq(1L, 2L, 3L, 4L)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val attemptsTotal = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = victims.map { vid =>
      new Thread(() => {
        var done = false
        var attempts = 0
        while (!done && attempts < 30) {
          attempts += 1
          attemptsTotal.incrementAndGet()
          try {
            VersionedStore.upsertVersioned(spark, dir,
              all.filter(col("doc_id") === vid)
                .withColumn("text_md5", lit(s"winner-$vid")))
            done = true
          } catch {
            // CME = lost the commit rename; anything else non-fatal =
            // a staging collision (shared _temporary dir). Both are
            // LOUD failures — the contract is they never corrupt, and
            // the retry loop converges (asserted below).
            case scala.util.control.NonFatal(_) =>
              Thread.sleep(13 * vid)
          }
        }
        if (!done) errors.add(new IllegalStateException(
          s"writer $vid did not converge in $attempts attempts"))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    assert(errors.isEmpty, s"writers failed: ${errors.toArray.toSeq}")
    // every writer's update landed (no lost update)
    val finalRows = VersionedStore.readSnapshot(spark, dir)
      .filter(col("doc_id").isin(victims: _*))
      .select("doc_id", "text_md5").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    victims.foreach(v => assert(finalRows.get(v).contains(s"winner-$v"),
      s"lost update for writer $v: ${finalRows.get(v)}"))
    // manifest monotonicity: snapshots are exactly 1..(1+4), no gaps,
    // no over-commits — each successful upsert is one snapshot
    val snaps = VersionedStore.snapshots(spark, dir)
    assert(snaps == (1 to 5), s"non-contiguous snapshot history: $snaps")
    // corpus integrity: nothing duplicated, nothing dropped
    assert(VersionedStore.readSnapshot(spark, dir).count() == all.count())
    assert(VersionedStore.readSnapshot(spark, dir)
      .groupBy("doc_id").count().filter(col("count") > 1).count() == 0)
    spark.catalog.clearCache()
  }

  test("overlapping-bucket writers: writer-isolated staging — loser fails loudly, winner uncontaminated, orphan vacuumed") {
    val dir = freshDir("ovb")
    def rel(dd: org.apache.spark.sql.DataFrame) =
      dd.select(col("doc_id"), col("source").as("owner"),
        md5(col("text")).as("text_md5"))
    val all = rel(Tables.documents(spark, sf).filter(col("doc_id") < 64))
    VersionedStore.initialLoad(spark, dir, all, nBuckets = 16)
    // docs 7 and 23 share bucket 7 (mod 16): two writers race the SAME
    // bucket of the SAME snapshot — the case the round-12 verdict
    // flagged as only documented, not enforced. Writer isolation means
    // each stages its own w=<wid> subdir: both stagings succeed, both
    // audits see only their own rows, EXACTLY one commit wins the
    // atomic publish, and the loser's rows can never leak into the
    // winner's snapshot (pre-fix, both appended into one shared v=2
    // dir — last-wins mixing).
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Unit]]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def writer(tag: String, vid: Long) = new Thread(() => {
      try {
        val st = VersionedStore.stageVersion(spark, dir,
          all.filter(col("doc_id") === vid)
            .withColumn("text_md5", lit(s"winner-$tag")))
        barrier.await() // both finish staging before either commits
        VersionedStore.auditAndCommit(spark, dir, st)
        results.put(tag, Right(()))
      } catch { case t: Throwable => results.put(tag, Left(t)) }
    })
    val ta = writer("a", 7L); val tb = writer("b", 23L)
    ta.start(); tb.start(); ta.join(300000); tb.join(300000)
    import scala.jdk.CollectionConverters._
    val (winners, losers) = results.asScala.toSeq.partition(_._2.isRight)
    assert(winners.size == 1 && losers.size == 1,
      s"expected exactly one winner: $results")
    val conflict = losers.head._2.left.toOption.get
    assert(conflict.isInstanceOf[java.util.ConcurrentModificationException],
      s"loser must get a clear conflict error, got: $conflict")
    val (wVid, lVid) =
      if (winners.head._1 == "a") (7L, 23L) else (23L, 7L)
    // winner's snapshot 2: exactly its own change, zero contamination
    val snap2 = VersionedStore.readSnapshot(spark, dir, 2)
    assert(snap2.count() == all.count())
    val md5s = snap2.filter(col("doc_id").isin(7L, 23L))
      .select("doc_id", "text_md5").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(md5s(wVid) == s"winner-${winners.head._1}")
    val origLoser = all.filter(col("doc_id") === lVid)
      .select("text_md5").head().getString(0)
    assert(md5s(lVid) == origLoser,
      s"loser's write leaked into the winner's snapshot: ${md5s(lVid)}")
    assert(snap2.filter(col("text_md5") === s"winner-${losers.head._1}")
      .count() == 0)
    // manifest-dir hygiene: the hard-link publish path must carry the
    // checksum sidecar to the published name and leave no tmp debris
    // (round-12 advisor: NIO link/delete orphaned one .crc per commit)
    val manFiles = new java.io.File(s"$dir/manifest").listFiles().map(_.getName)
    assert(!manFiles.exists(_.contains(".tmp")), manFiles.mkString(","))
    assert(manFiles.contains(".snap-2.txt.crc"), manFiles.mkString(","))
    // the loser's orphan w-dir is invisible and reclaimable
    val reclaimed = VersionedStore.vacuum(spark, dir, retain = 2)
    assert(reclaimed >= 1, "loser's orphan staging dir was not reclaimed")
    assert(VersionedStore.readSnapshot(spark, dir, 2).count() == all.count())
    // the loser converges the standard way: re-read current, restage
    VersionedStore.upsertVersioned(spark, dir,
      all.filter(col("doc_id") === lVid)
        .withColumn("text_md5", lit("loser-retry")))
    val snap3 = VersionedStore.readSnapshot(spark, dir, 3)
      .filter(col("doc_id").isin(7L, 23L))
      .select("doc_id", "text_md5").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap3(wVid) == s"winner-${winners.head._1}")
    assert(snap3(lVid) == "loser-retry")
    spark.catalog.clearCache()
  }


  // a small (doc_id, owner, text_md5) relation over chosen owners
  private def ownedRel(owners: Seq[String], n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, owners(i % owners.size), s"t$i"))
      .toDF("doc_id", "owner", "text_md5")
  }

  test("zero-padded all-digit owners read back as strings and take upserts") {
    val dir = freshDir("digits")
    VersionedStore.initialLoad(spark, dir, ownedRel(Seq("007", "042"), 8), nBuckets = 4)
    val s1 = VersionedStore.readSnapshot(spark, dir)
    assert(s1.schema("owner").dataType == org.apache.spark.sql.types.StringType,
      s"owner read back as ${s1.schema("owner").dataType}")
    assert(s1.select("owner").distinct().collect().map(_.getString(0)).toSet ==
      Set("007", "042"))
    VersionedStore.upsertVersioned(spark, dir,
      ownedRel(Seq("007", "042"), 8).filter(col("doc_id") === 0)
        .withColumn("text_md5", lit("new")))
    val now = VersionedStore.readSnapshot(spark, dir)
      .select("doc_id", "owner", "text_md5").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(now.size == 8)
    assert(now(0L) == ("007", "new"))
    assert(now(1L) == ("042", "t1"))
    spark.catalog.clearCache()
  }

  test("a store deleted and rebuilt at the same path reads its new columns") {
    import spark.implicits._
    val dir = freshDir("rebuild")
    VersionedStore.initialLoad(spark, dir,
      Seq((1L, "o", "x")).toDF("doc_id", "owner", "a"))
    assert(VersionedStore.readSnapshot(spark, dir).select("a").head().getString(0) == "x")
    assert(new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively())
    VersionedStore.initialLoad(spark, dir,
      Seq((1L, "o", "y")).toDF("doc_id", "owner", "b"))
    val df = VersionedStore.readSnapshot(spark, dir)
    assert(df.columns.contains("b") && !df.columns.contains("a"),
      df.columns.mkString(","))
    assert(df.select("b").head().getString(0) == "y")
    spark.catalog.clearCache()
  }

  test("concurrent snapshot reads leave the session's listing threshold as they found it") {
    val dir = freshDir("confrace")
    VersionedStore.initialLoad(spark, dir, ownedRel(Seq("p", "q"), 16), nBuckets = 4)
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "57")
    try {
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val start = new java.util.concurrent.CyclicBarrier(2)
      val readers = (1 to 2).map(_ => new Thread(() =>
        try {
          start.await()
          (1 to 100).foreach(_ => VersionedStore.readSnapshot(spark, dir))
        } catch { case t: Throwable => errors.add(t): Unit }))
      readers.foreach(_.start()); readers.foreach(_.join(300000))
      assert(errors.isEmpty, errors.toArray.mkString(","))
      assert(spark.conf.get(key) == "57")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("owners with path-reserved characters round-trip: a:b and c d") {
    import spark.implicits._
    val dir = freshDir("esc")
    val owners = Seq("a:b", "c d")
    VersionedStore.initialLoad(spark, dir, ownedRel(owners, 6), nBuckets = 2)
    def owned(n: Int = -1) = VersionedStore.readSnapshot(spark, dir, n)
      .select("doc_id", "owner", "text_md5").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(owned() == (0 until 6).map(i => i.toLong -> (owners(i % 2), s"t$i")).toMap)
    VersionedStore.upsertVersioned(spark, dir,
      ownedRel(owners, 6).filter(col("doc_id") === 0).withColumn("text_md5", lit("new")))
    VersionedStore.softDelete(spark, dir, Seq(1L).toDF("doc_id"))
    val expect = (0 until 6).filter(_ != 1).map(i =>
      i.toLong -> (owners(i % 2), if (i == 0) "new" else s"t$i")).toMap
    assert(owned() == expect)
    // vacuum matches the escaped dirs to the entries: it reclaims only
    // the superseded version, and the head still reads whole
    assert(VersionedStore.vacuum(spark, dir, retain = 1) == 1)
    assert(owned() == expect)
    spark.catalog.clearCache()
  }

  test("a snapshot over more than 32 dirs builds with no job and prunes an owner filter by partition") {
    val dir = freshDir("wide")
    val owners = (0 until 40).map(i => f"o$i%02d")
    VersionedStore.initialLoad(spark, dir, ownedRel(owners, 80), nBuckets = 1)
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = SparkSessionHelper.jobsOf("snapshot read build") {
      df = VersionedStore.readSnapshot(spark, dir)
    }
    assert(jobs.isEmpty, s"building the read launched jobs: ${jobs.mkString("; ")}")
    val one = df.filter(col("owner") === "o07")
    val plan = one.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*owner[^\\]]*o07".r.findFirstIn(plan).isDefined, plan)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "owner", "text_md5").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows(one) == rows(df).filter(_._2 == "o07"))
    assert(rows(one).map(_._1) == Set(7L, 47L))
    spark.catalog.clearCache()
  }


  test("a manifest entry without a writer id is rejected, naming the snapshot") {
    val dir = freshDir("nowid")
    VersionedStore.initialLoad(spark, dir, ownedRel(Seq("p"), 4), nBuckets = 2)
    val man = new java.io.File(s"$dir/manifest/snap-1.txt").toPath
    val text = new String(java.nio.file.Files.readAllBytes(man), "UTF-8")
    assert(text.contains("\twid:"), text)
    java.nio.file.Files.write(man, text.replaceAll("\twid:[0-9a-f]+", "").getBytes("UTF-8"))
    new java.io.File(s"$dir/manifest/.snap-1.txt.crc").delete()
    val ex = intercept[IllegalStateException](VersionedStore.readSnapshot(spark, dir))
    assert(ex.getMessage.contains("manifest 1") && ex.getMessage.contains("wid"), ex.getMessage)
  }

  test("a manifest without a #layout header is rejected, naming the snapshot") {
    val dir = freshDir("nolayout")
    VersionedStore.initialLoad(spark, dir, ownedRel(Seq("p"), 4), nBuckets = 2)
    val man = new java.io.File(s"$dir/manifest/snap-1.txt").toPath
    val text = new String(java.nio.file.Files.readAllBytes(man), "UTF-8")
    assert(text.contains("#layout\t"), text)
    java.nio.file.Files.write(man, text.split("\n").filterNot(_.startsWith("#layout"))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    new java.io.File(s"$dir/manifest/.snap-1.txt.crc").delete()
    // an upsert must not guess a bucket count for the store
    val ex = intercept[IllegalStateException](
      VersionedStore.upsertVersioned(spark, dir, ownedRel(Seq("p"), 1)))
    assert(ex.getMessage.contains("manifest 1") && ex.getMessage.contains("#layout"),
      ex.getMessage)
  }
}
