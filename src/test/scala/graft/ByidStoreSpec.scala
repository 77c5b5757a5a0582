package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ByidStore
import graft.SparkSessionHelper.jobsOf

/** CDC-maintained point-fetch store: delta segments + tombstones +
  * max-seg merge must serve exactly the post-churn corpus, and
  * compaction must fold without changing the logical view. */
class ByidStoreSpec extends AnyFunSuite {
  lazy val spark = SparkSessionHelper.spark

  private def freshDir(): String =
    Files.createTempDirectory("graft-byid-").toString

  private def corpus(ids: Seq[Long], tag: String) = {
    import spark.implicits._
    ids.map(i => (i, s"$tag-$i", i * 10)).toDF("id", "payload", "v")
  }

  private def parquetFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).toSeq

  /** Per-file (min, max) id of a segment dir, ascending by min; the
    * files of a multi-file layout must cover disjoint id ranges, so
    * the page pruning contract holds file by file. */
  private def assertDisjointIdRanges(dir: String): Unit = {
    val ranges = parquetFiles(dir).map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("id"), max("id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2,
        s"layout files must cover disjoint id ranges: $ranges")
      case _ =>
    }
  }

  /** Row count of every data page of the `id` column, across the
    * files and row groups of a segment dir — read from the parquet
    * OFFSET INDEX, the structure page pruning actually consults. */
  private def idPageRows(dir: String): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    parquetFiles(dir).flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
          val chunk = b.getColumns.asScala.find(_.getPath.toDotString == "id").get
          val oi = r.readOffsetIndex(chunk)
          assert(oi != null, s"$f: id column has no offset index")
          (0 until oi.getPageCount).map(i =>
            oi.getLastRowIndex(i, b.getRowCount) - oi.getFirstRowIndex(i) + 1)
        }
      } finally r.close()
    }
  }

  private def withDeltaTarget(bytes: Long)(body: => Unit): Unit = {
    val key = "spark.graft.byid.deltaTargetBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("init + fetch serves the base segment") {
    val path = freshDir()
    // a target below the corpus size: the base fans out to several files
    withDeltaTarget(256)(ByidStore.init(corpus(0L until 20L, "a"), "id", path))
    assert(ByidStore.segments(path) == Seq(0))
    assert(parquetFiles(s"$path/seg_00000").length > 1)
    val got = ByidStore.fetch(spark, path, Seq(3L, 7L, 19L), "id")
      .orderBy("id").collect()
    assert(got.map(_.getAs[Long]("id")).toSeq == Seq(3L, 7L, 19L))
    assert(got.forall(_.getAs[Int]("seg") == 0))
    assert(got.map(_.getAs[String]("payload")).toSeq == Seq("a-3", "a-7", "a-19"))
  }

  test("applyCdc: updates served from the delta, deletes tombstoned, others from base") {
    import spark.implicits._
    val path = freshDir()
    ByidStore.init(corpus(0L until 20L, "a"), "id", path)
    // batch: update ids 3,7 (preimage removal + postimage addition),
    // delete id 5, insert id 100
    val removals = Seq(3L, 7L, 5L).toDF("id")
    val additions = corpus(Seq(3L, 7L, 100L), "b")
    val b = ByidStore.applyCdc(spark, path, removals, additions, "id")
    assert(b == 1)
    val got = ByidStore.fetch(spark, path, Seq(3L, 5L, 7L, 9L, 100L), "id")
      .orderBy("id").collect()
    assert(got.map(r => (r.getAs[Long]("id"), r.getAs[String]("payload"),
      r.getAs[Int]("seg"))).toSeq ==
      Seq((3L, "b-3", 1), (7L, "b-7", 1), (9L, "a-9", 0), (100L, "b-100", 1)))
  }

  test("applyCdc launches at most 4 Spark jobs per churn batch (optimization r16/r17)") {
    import spark.implicits._
    val path = freshDir()
    ByidStore.init(corpus(0L until 20L, "a"), "id", path)
    val got = jobsOf("applyCdc job-shape guard") {
      ByidStore.applyCdc(spark, path, Seq(3L, 5L).toDF("id"),
        corpus(Seq(3L, 200L), "b"), "id")
    }
    // Exactly one action per input plan (raw additions stage, tombstone
    // write) + the coalesced dup-check aggregate + the shuffle-free
    // single-file layout rewrite = 4 jobs; staged counts are driver
    // footer reads. A regression to count-after-write, range-sampled
    // delta writes, or a shuffling layout pass (whose AQE stage
    // materialization adds jobs) shows up as extra jobs here.
    assert(got.length <= 4,
      s"applyCdc launched ${got.length} jobs (> 4):\n  ${got.mkString("\n  ")}")
  }

  test("applyCdc sizes the delta layout from staged bytes (r16 verdict task 6)") {
    import spark.implicits._
    val path = freshDir()
    ByidStore.init(corpus(0L until 4L, "a"), "id", path)
    withDeltaTarget(4096) {
      // a "backfill-scale" batch relative to the 4 KB target: fat
      // payloads force staged bytes past several multiples of it
      val fat = (100L until 400L).map(i => (i, "x" * 200, i)).toDF("id", "payload", "v")
      val b = ByidStore.applyCdc(spark, path,
        Seq.empty[Long].toDF("id"), fat, "id")
      assert(b == 1)
      val segFiles = parquetFiles(f"$path/seg_$b%05d")
      assert(segFiles.length > 1,
        s"backfill batch should parallelize into >1 sorted file, got ${segFiles.length}")
      assertDisjointIdRanges(f"$path/seg_$b%05d")
      // the resolved view still serves point fetches correctly
      val got = ByidStore.fetch(spark, path, Seq(2L, 150L, 399L), "id")
        .orderBy("id").collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("seg")))
      assert(got.toSeq == Seq((2L, 0), (150L, 1), (399L, 1)))
      // a churn-bounded batch (below target) keeps the 1-file layout
      spark.conf.set("spark.graft.byid.deltaTargetBytes", (128L * 1024 * 1024).toString)
      val b2 = ByidStore.applyCdc(spark, path,
        Seq.empty[Long].toDF("id"), corpus(Seq(500L), "c"), "id")
      val oneFile = parquetFiles(f"$path/seg_$b2%05d").length
      assert(oneFile == 1, s"churn batch should stay one sorted file, got $oneFile")
    }
  }

  test("re-insert after delete survives; empty batch writes nothing") {
    import spark.implicits._
    val path = freshDir()
    ByidStore.init(corpus(0L until 10L, "a"), "id", path)
    ByidStore.applyCdc(spark, path, Seq(4L).toDF("id"),
      corpus(Nil, "x"), "id") // delete 4
    assert(ByidStore.fetch(spark, path, Seq(4L), "id").count() == 0)
    ByidStore.applyCdc(spark, path, Seq.empty[Long].toDF("id"),
      corpus(Seq(4L), "c"), "id") // re-insert 4
    val r = ByidStore.fetch(spark, path, Seq(4L), "id").head()
    assert(r.getAs[String]("payload") == "c-4" && r.getAs[Int]("seg") == 2)
    // empty batch: no new segment or tombstone, returns 0
    val segsBefore = (ByidStore.segments(path), ByidStore.tombstones(path))
    assert(ByidStore.applyCdc(spark, path, Seq.empty[Long].toDF("id"),
      corpus(Nil, "x"), "id") == 0)
    assert((ByidStore.segments(path), ByidStore.tombstones(path)) == segsBefore)
  }

  test("compact folds to one base preserving the logical view; auto-compact honors threshold") {
    import spark.implicits._
    val path = freshDir()
    // a target below the corpus size: the base and the folds are multi-file
    withDeltaTarget(256) {
      ByidStore.init(corpus(0L until 30L, "a"), "id", path)
      assert(parquetFiles(s"$path/seg_00000").length > 1)
      ByidStore.applyCdc(spark, path, Seq(1L, 2L).toDF("id"), corpus(Seq(1L), "b"), "id")
      ByidStore.applyCdc(spark, path, Seq.empty[Long].toDF("id"), corpus(Seq(40L), "b"), "id")
      val before = ByidStore.fetch(spark, path, (0L until 45L), "id")
        .select("id", "payload", "v").orderBy("id").collect().toSeq
      ByidStore.compact(spark, path, "id")
      assert(ByidStore.segments(path).size == 1 && ByidStore.tombstones(path).isEmpty)
      val after = ByidStore.fetch(spark, path, (0L until 45L), "id")
        .select("id", "payload", "v").orderBy("id").collect().toSeq
      assert(after == before)
      // auto-compact: threshold 2 segments → third segment triggers fold
      ByidStore.applyCdcAutoCompact(spark, path, Seq(3L).toDF("id"),
        corpus(Seq(50L), "c"), "id", maxSegments = 2)
      assert(ByidStore.segments(path).size <= 2)
      val r = ByidStore.fetch(spark, path, Seq(3L, 50L), "id").orderBy("id").collect()
      assert(r.map(_.getAs[Long]("id")).toSeq == Seq(50L))
    }
  }

  // ---- crash-injection (r14 verdict tasks 1 + 7): every partial
  // state a crash can leave must serve the pre-batch or post-batch
  // view, never a torn one ------------------------------------------

  private def view(path: String, ids: Seq[Long]): Seq[(Long, String)] =
    ByidStore.fetch(spark, path, ids, "id")
      .select("id", "payload").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("marker-less segment and tombstone dirs are invisible (task 7)") {
    import spark.implicits._
    val path = freshDir()
    ByidStore.init(corpus(0L until 10L, "a"), "id", path)
    val pre = view(path, 0L until 10L)
    // crash debris: a fully-written segment + tombstone WITHOUT the
    // commit marker (applyCdc died between rename and marker create)
    corpus(Seq(3L), "torn").write.parquet(s"$path/seg_00001")
    Seq(3L, 5L).toDF("id").write.parquet(s"$path/tomb_00001")
    assert(ByidStore.segments(path) == Seq(0))
    assert(ByidStore.tombstones(path) == Seq.empty)
    // the torn batch is entirely invisible: 3 keeps its old payload
    // AND 5 still serves (the delete must not outlive its lost update)
    assert(view(path, 0L until 10L) == pre)
  }

  test("crashed stage dirs are invisible and never re-numbered over") {
    import spark.implicits._
    val path = freshDir()
    ByidStore.init(corpus(0L until 10L, "a"), "id", path)
    // crash mid-staged-write: stage dir with a half-written file
    val stage = new java.io.File(s"$path/_stage_00001/seg")
    stage.mkdirs()
    Files.write(stage.toPath.resolve("part-garbage.parquet"), Array[Byte](1, 2))
    assert(view(path, 0L until 10L).size == 10) // reads unaffected
    // the next batch numbers PAST the debris (renaming onto it would
    // resurrect the crashed batch's rows)
    val b = ByidStore.applyCdc(spark, path, Seq(2L).toDF("id"),
      corpus(Seq(2L), "b"), "id")
    assert(b == 2)
    assert(view(path, Seq(2L)) == Seq((2L, "b-2")))
  }

  test("compact is crash-safe at every prefix of old-batch retirement") {
    import spark.implicits._
    val path = freshDir()
    ByidStore.init(corpus(0L until 20L, "a"), "id", path)
    // batch 1: update 3, delete 5; batch 2: insert 100, delete 7
    ByidStore.applyCdc(spark, path, Seq(3L, 5L).toDF("id"), corpus(Seq(3L), "b"), "id")
    ByidStore.applyCdc(spark, path, Seq(7L).toDF("id"), corpus(Seq(100L), "b"), "id")
    val allIds = (0L until 20L) ++ Seq(100L)
    val expected = view(path, allIds)
    assert(expected.contains((3L, "b-3")) && !expected.exists(_._1 == 5L) &&
      !expected.exists(_._1 == 7L) && expected.contains((100L, "b-100")))

    // run the REAL compact on a copy, then transplant its committed
    // new base back — reconstructing "crashed right after the new
    // base committed, before any old batch retired"
    val copy = freshDir()
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      Files.walk(from).forEach { p =>
        val t = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    copyTree(java.nio.file.Paths.get(path), java.nio.file.Paths.get(copy))
    ByidStore.compact(spark, copy, "id")
    val Seq(newBase) = ByidStore.segments(copy)
    assert(newBase == 3) // max existing batch + 1: outranks every old row
    copyTree(java.nio.file.Paths.get(f"$copy/seg_$newBase%05d"),
      java.nio.file.Paths.get(f"$path/seg_$newBase%05d"))
    Files.copy(java.nio.file.Paths.get(f"$copy/commit_$newBase%05d"),
      java.nio.file.Paths.get(f"$path/commit_$newBase%05d"))

    // crash window A: new base committed, ALL old dirs linger
    assert(ByidStore.segments(path) == Seq(0, 1, 2, 3))
    assert(view(path, allIds) == expected)
    // crash windows B..D: old batches retire in ASCENDING order,
    // marker first — the view must hold at every prefix
    Seq(0, 1, 2).foreach { n =>
      assert(new java.io.File(f"$path/commit_$n%05d").delete())
      assert(view(path, allIds) == expected,
        s"torn view after retiring batches <= $n")
    }
    // dirs themselves gone last — still the same view
    Seq(0, 1, 2).foreach { n =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(f"$path/seg_$n%05d"))
      rm(new java.io.File(f"$path/tomb_$n%05d"))
    }
    assert(view(path, allIds) == expected)
    assert(ByidStore.segments(path) == Seq(3) && ByidStore.tombstones(path).isEmpty)
  }

  test("auto-compact counts tombstone-only batches toward the threshold") {
    import spark.implicits._
    val path = freshDir()
    ByidStore.init(corpus(0L until 10L, "a"), "id", path)
    // three delete-only batches: no segments appended, but read
    // amplification grows one tombstone scan per batch — they must
    // trip the threshold (ADVICE r14)
    Seq(1L, 2L, 3L).foreach { i =>
      ByidStore.applyCdcAutoCompact(spark, path, Seq(i).toDF("id"),
        corpus(Nil, "x"), "id", maxSegments = 3)
    }
    assert(ByidStore.segments(path).size + ByidStore.tombstones(path).size <= 3)
    assert(view(path, 0L until 10L).map(_._1) == Seq(0L) ++ (4L until 10L))
  }

  test("applyCdc rejects duplicate ids within one batch (r15 task 7)") {
    import spark.implicits._
    val path = freshDir()
    ByidStore.init(corpus(0L until 10L, "a"), "id", path)
    // two postimages for id 3 in one batch would tie on seg in the
    // merge window — no deterministic winner, so the apply must throw
    // BEFORE the batch becomes visible
    val ex = intercept[IllegalArgumentException] {
      ByidStore.applyCdc(spark, path, Seq(3L).toDF("id"),
        Seq((3L, "b-3", 30L), (3L, "c-3", 31L)).toDF("id", "payload", "v"), "id")
    }
    assert(ex.getMessage.contains("duplicate"))
    // nothing committed: the pre-batch view still serves
    assert(ByidStore.segments(path) == Seq(0))
    assert(ByidStore.fetch(spark, path, Seq(3L), "id")
      .select("payload").as[String].head() == "a-3")
  }

  test("two tenants claiming one id: checkpoint/compact loudly reject the collision (r15 task 7)") {
    import spark.implicits._
    def rows(ids: Seq[Long], tenant: String, tag: String) =
      ids.map(i => (i, tenant, s"$tag-$i")).toDF("id", "tenant", "payload")
    val path = freshDir()
    ByidStore.init(rows(0L until 6L, "acme", "a"), "id", path)
    // a SAME-tenant update is legitimate churn — compact stays green
    ByidStore.applyCdc(spark, path, Seq(2L).toDF("id"),
      rows(Seq(2L), "acme", "b"), "id")
    ByidStore.compact(spark, path, "id")
    assert(ByidStore.fetch(spark, path, Seq(2L), "id")
      .select("payload").as[String].head() == "b-2")
    // tenant "other" upserting acme's id 4 commits (the store cannot
    // know liveness O(1) at apply time) but the next fold REJECTS the
    // history instead of silently collapsing acme's row away
    ByidStore.applyCdc(spark, path, Seq(4L).toDF("id"),
      rows(Seq(4L), "other", "x"), "id")
    val ex = intercept[IllegalArgumentException] {
      ByidStore.checkpoint(spark, path, "id")
    }
    assert(ex.getMessage.contains("tenant"))
  }

  test("point-fetch layout: every id page holds <= 8 rows, the first page included") {
    val path = freshDir()
    // 99 rows: below parquet's default first page-size check (row
    // 100), which would leave the whole file ONE page
    ByidStore.init(corpus(0L until 99L, "a"), "id", path)
    val pages = idPageRows(s"$path/seg_00000")
    assert(pages.sum == 99)
    assert(pages.forall(_ <= 8), s"id pages of >8 rows: $pages")
  }

  test("applyCdc rejects a batch whose schema drifted from the store's; nothing commits") {
    import spark.implicits._
    val path = freshDir()
    ByidStore.init(corpus(0L until 10L, "a"), "id", path)
    val pre = view(path, 0L until 10L)
    val upd = corpus(Seq(3L), "b")
    val drifted = Seq(
      "extra column" -> upd.withColumn("extra", lit(1)),
      "missing column" -> upd.drop("v"),
      "widened type" -> upd.withColumn("v", col("v").cast("double")))
    drifted.foreach { case (what, additions) =>
      val ex = intercept[IllegalArgumentException] {
        ByidStore.applyCdc(spark, path, Seq(3L).toDF("id"), additions, "id")
      }
      assert(ex.getMessage.contains("schema"), s"$what: ${ex.getMessage}")
      assert(ByidStore.segments(path) == Seq(0) && ByidStore.tombstones(path).isEmpty,
        s"$what: a drifted batch committed")
      assert(view(path, 0L until 10L) == pre, s"$what: the view changed")
    }
    // column ORDER is free: reads match by name
    assert(ByidStore.applyCdc(spark, path, Seq(3L).toDF("id"),
      upd.select("v", "payload", "id"), "id") == 1)
    assert(view(path, Seq(3L)) == Seq((3L, "b-3")))
  }

  test("a churn-scale compact folds to one page-indexed file in a bounded job shape") {
    import spark.implicits._
    def rows(ids: Seq[Long], tag: String) =
      ids.map(i => (i, "acme", s"$tag-$i", i * 10)).toDF("id", "tenant", "payload", "v")
    val path = freshDir()
    ByidStore.init(rows(0L until 300L, "a"), "id", path)
    ByidStore.applyCdc(spark, path, (0L until 40L).toDF("id"),
      rows(20L until 40L, "b"), "id") // update 20..39, delete 0..19
    ByidStore.applyCdc(spark, path, (300L until 310L).toDF("id"),
      rows(300L until 320L, "c"), "id") // insert 300..319
    val allIds = 0L until 330L
    val before = view(path, allIds)
    val got = jobsOf("compact job-shape guard") {
      ByidStore.compact(spark, path, "id")
    }
    // Measured shape, 3 jobs: the collision guard's one coalesced
    // aggregate (the payload has a tenant column), the broadcast of
    // the tombstone aggregate, and the one exchange-free merge+write
    // pass. A range-partitioned fold adds its sampling job and AQE
    // shuffle-stage jobs (11 jobs in all for this store at 32 files).
    assert(got.length <= 3,
      s"compact launched ${got.length} jobs (> 3):\n  ${got.mkString("\n  ")}")
    val Seq(base) = ByidStore.segments(path)
    assert(parquetFiles(f"$path/seg_$base%05d").length == 1)
    assert(idPageRows(f"$path/seg_$base%05d").forall(_ <= 8))
    assert(view(path, allIds) == before)
  }

  test("deltaTargetBytes 4096: init and compact fan out to disjoint id ranges") {
    import spark.implicits._
    def fat(ids: Seq[Long], tag: String) =
      ids.map(i => (i, tag + "x" * 200, i)).toDF("id", "payload", "v")
    val path = freshDir()
    withDeltaTarget(4096) {
      ByidStore.init(fat(0L until 300L, "a"), "id", path)
      assert(parquetFiles(s"$path/seg_00000").length > 1)
      assertDisjointIdRanges(s"$path/seg_00000")
      ByidStore.applyCdc(spark, path, Seq(5L, 150L).toDF("id"),
        fat(Seq(150L, 400L), "b"), "id")
      ByidStore.compact(spark, path, "id")
      val Seq(base) = ByidStore.segments(path)
      assert(parquetFiles(f"$path/seg_$base%05d").length > 1)
      assertDisjointIdRanges(f"$path/seg_$base%05d")
      val got = ByidStore.fetch(spark, path, Seq(2L, 5L, 150L, 299L, 400L), "id")
        .select("id", "payload").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1).take(1))).toSeq
      assert(got == Seq((2L, "a"), (150L, "b"), (299L, "a"), (400L, "b")))
    }
  }

  // ---- one scan per store view: the segments and the tombstones are
  // each read through one manifest index ----------------------------

  /** Three committed segments (0, 1, 2) and two tombstone batches
    * (1, 3): batch 1 updates 2 and deletes 3, batch 2 inserts 10 and
    * rewrites 5 with no preimage, batch 3 deletes 6 and 10. */
  private def threeSegTwoTombs(): String = {
    import spark.implicits._
    val path = freshDir()
    ByidStore.init(corpus(0L until 10L, "a"), "id", path)
    ByidStore.applyCdc(spark, path, Seq(2L, 3L).toDF("id"), corpus(Seq(2L), "b"), "id")
    ByidStore.applyCdc(spark, path, Seq.empty[Long].toDF("id"),
      corpus(Seq(5L, 10L), "c"), "id")
    ByidStore.applyCdc(spark, path, Seq(6L, 10L).toDF("id"), corpus(Nil, "x"), "id")
    assert(ByidStore.segments(path) == Seq(0, 1, 2))
    assert(ByidStore.tombstones(path) == Seq(1, 3))
    path
  }

  /** The parquet scans of a plan (AQE stages included), each as the
    * dir-name prefixes of its roots. */
  private def scans(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    PlanScans.roots(df.queryExecution.executedPlan)

  test("fetch and readAll plan one segment scan and at most one tombstone scan, with no job") {
    val path = threeSegTwoTombs()
    var views = Seq.empty[org.apache.spark.sql.DataFrame]
    val jobs = jobsOf("byid view build") {
      views = Seq(ByidStore.fetch(spark, path, 0L until 12L, "id"),
        ByidStore.readAll(spark, path, "id"))
      views.foreach(_.queryExecution.executedPlan)
    }
    assert(jobs.isEmpty, s"building the views launched jobs:\n  ${jobs.mkString("\n  ")}")
    views.foreach { v =>
      val all = scans(v)
      val segScans = all.filter(_.forall(_.startsWith("seg_")))
      val tombScans = all.filter(_.forall(_.startsWith("tomb_")))
      assert(all.size == segScans.size + tombScans.size, s"unexpected scans: $all")
      assert(segScans == Seq(Seq("seg_00000", "seg_00001", "seg_00002")), s"scans: $all")
      assert(tombScans.size <= 1 && tombScans.flatten.toSet ==
        Set("tomb_00001", "tomb_00003"), s"scans: $all")
    }
  }

  test("every served row carries the seg of the batch that wrote it") {
    val path = threeSegTwoTombs()
    val want = Seq((0L, "a-0", 0), (1L, "a-1", 0), (2L, "b-2", 1), (4L, "a-4", 0),
      (5L, "c-5", 2), (7L, "a-7", 0), (8L, "a-8", 0), (9L, "a-9", 0))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "payload", "seg").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows(ByidStore.fetch(spark, path, 0L until 12L, "id")) == want)
    assert(rows(ByidStore.readAll(spark, path, "id")) == want)
    // a pinned view below batch 3 still serves 6 and 10
    assert(rows(ByidStore.readAll(spark, path, "id", Some((0, 2)))) ==
      (want :+ ((6L, "a-6", 0)) :+ ((10L, "c-10", 2))).sortBy(_._1))
  }

  test("a store whose _schema.json is gone fails on read, naming the file") {
    val path = freshDir()
    ByidStore.init(corpus(0L until 10L, "a"), "id", path)
    assert(new java.io.File(s"$path/_schema.json").delete())
    val ex = intercept[IllegalArgumentException] {
      ByidStore.fetch(spark, path, Seq(1L), "id").collect()
    }
    assert(ex.getMessage.contains(s"$path/_schema.json"), ex.getMessage)
  }
}

/** Parquet scans of a physical plan, AQE query stages included. */
private object PlanScans
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def roots(plan: org.apache.spark.sql.execution.SparkPlan): Seq[Seq[String]] =
    collect(plan) { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.getName).sorted
    }
}
