package graft

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines.IndexPipeline

/** S8 doc-granular upsert: re-indexing ONE document must rewrite ONLY
  * its (owner, bucket) partition — every other partition's files stay
  * BYTE-IDENTICAL on disk (the SURVEY §7.4 per-partition ≠ per-doc
  * risk, `vector_db_service.py:84-163`). */
class BucketedUpsertSpec extends AnyFunSuite {
  lazy val spark = SparkSessionHelper.spark
  private val d = "/root/testdata/sf0.001"

  // (relative partition dir → sorted (file, md5) list) for every
  // parquet data file under the table root
  private def partitionChecksums(root: Path): Map[String, Seq[(String, String)]] = {
    import scala.jdk.CollectionConverters._
    val files = Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq
    files.groupBy(f => root.relativize(f.getParent).toString)
      .map { case (dir, fs) =>
        dir -> fs.map { f =>
          val md5 = MessageDigest.getInstance("MD5").digest(Files.readAllBytes(f))
            .map("%02x".format(_)).mkString
          (f.getFileName.toString, md5)
        }.sortBy(_._1)
      }
  }

  test("single-doc upsert rewrites exactly one bucket; all others byte-identical") {
    val root = Files.createTempDirectory("graft-bucketed-")
    val path = root.toString
    val docs = Tables.documents(spark, d).filter(col("doc_id") < 60)
    IndexPipeline.writeVectorsBucketed(IndexPipeline.buildIndex(docs), path)
    val before = partitionChecksums(root)
    assert(before.size > 4, s"fixture too small: ${before.keySet}")

    // doc 7 re-indexed with different text → different chunk set
    val doc7 = docs.filter(col("doc_id") === 7)
    val owner7 = doc7.select("source").head().getString(0)
    val batch = IndexPipeline.buildIndex(
      doc7.withColumn("text", translate(col("text"), "a", ".")))
    IndexPipeline.upsertDocsBucketed(spark, path, batch)

    val after = partitionChecksums(root)
    val touchedDir = s"owner=$owner7/bucket=7"
    assert(before.keySet == after.keySet - touchedDir ++ Set(touchedDir),
      "no partition may appear or vanish besides the touched bucket")
    (before.keySet - touchedDir).foreach { dir =>
      assert(after(dir) == before(dir),
        s"untouched partition $dir changed on disk")
    }
    assert(after(touchedDir) != before(touchedDir), "touched bucket must rewrite")

    // relation-level merge contract: doc 7 replaced, everything else intact
    val got = spark.read.parquet(path)
      .select(col("doc_id"), col("vtype"), col("chunk_index"), md5(col("chunk_text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    val expected = IndexPipeline.buildIndex(docs)
      .join(batch.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .unionByName(batch)
      .select(col("doc_id"), col("vtype"), col("chunk_index"), md5(col("chunk_text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(got == expected)

    // the pruned read really prunes: only the touched partitions scan
    val pruned = spark.read.parquet(path)
      .filter(col("owner") === owner7 && col("bucket") === 7)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") &&
      (planStr.contains("owner") && planStr.contains("bucket")), planStr)

    // cleanup
    import scala.jdk.CollectionConverters._
    Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  private def tableState(path: String): Set[(Long, String, Int, String)] =
    spark.read.parquet(path)
      .select(col("doc_id"), col("vtype"), col("chunk_index"), md5(col("chunk_text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet

  test("crash between stage and publish leaves the live table byte-identical") {
    val root = Files.createTempDirectory("graft-wap-stage-")
    val path = root.toString
    val docs = Tables.documents(spark, d).filter(col("doc_id") < 60)
    IndexPipeline.writeVectorsBucketed(IndexPipeline.buildIndex(docs), path)
    val before = partitionChecksums(root)
    val beforeRows = tableState(path)

    val batch = IndexPipeline.buildIndex(
      docs.filter(col("doc_id").isin(7, 8))
        .withColumn("text", translate(col("text"), "e", "_")))
    // stage, then "crash": publish never runs
    IndexPipeline.stageUpsert(spark, path, batch)
    assert(partitionChecksums(root) == before,
      "staging must not touch a single live byte")
    assert(tableState(path) == beforeRows, "live rows changed during staging")

    // recovery: simply re-running the full upsert from the crash point
    // converges to the merged state
    IndexPipeline.upsertDocsBucketed(spark, path, batch)
    val expected = IndexPipeline.buildIndex(docs)
      .join(batch.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .unionByName(batch)
      .select(col("doc_id"), col("vtype"), col("chunk_index"), md5(col("chunk_text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(tableState(path) == expected)

    import scala.jdk.CollectionConverters._
    Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  test("audit rejects incomplete staging and live data stays intact") {
    val root = Files.createTempDirectory("graft-wap-audit-")
    val path = root.toString
    val docs = Tables.documents(spark, d).filter(col("doc_id") < 60)
    IndexPipeline.writeVectorsBucketed(IndexPipeline.buildIndex(docs), path)
    val before = partitionChecksums(root)

    val batch = IndexPipeline.buildIndex(
      docs.filter(col("doc_id") === 7).withColumn("text", translate(col("text"), "a", "!")))
    val st = IndexPipeline.stageUpsert(spark, path, batch)
    // corrupt staging: drop a staged data file (simulated partial write)
    import scala.jdk.CollectionConverters._
    val stagedFile = Files.walk(Paths.get(path + "__staging")).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .toSeq.head
    Files.delete(stagedFile)
    val e = intercept[IllegalArgumentException] {
      IndexPipeline.auditStaged(spark, path, st)
    }
    assert(e.getMessage.contains("audit"), e.getMessage)
    assert(partitionChecksums(root) == before, "audit failure must not touch live data")

    Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  test("crash mid-publish: every bucket fully-old or fully-new; retry converges") {
    val root = Files.createTempDirectory("graft-wap-partial-")
    val path = root.toString
    val docs = Tables.documents(spark, d).filter(col("doc_id") < 60)
    IndexPipeline.writeVectorsBucketed(IndexPipeline.buildIndex(docs), path)
    val before = partitionChecksums(root)

    // batch touches TWO buckets (docs 7 and 8 → buckets 7, 8)
    val batch = IndexPipeline.buildIndex(
      docs.filter(col("doc_id").isin(7, 8))
        .withColumn("text", translate(col("text"), "o", "0")))
    val st = IndexPipeline.stageUpsert(spark, path, batch)
    assert(st.touched.size == 2, s"want 2 touched buckets, got ${st.touched}")
    IndexPipeline.auditStaged(spark, path, st)
    // "crash" after the first bucket's rename pair: publish only bucket 1
    IndexPipeline.publishStaged(spark, path, st.copy(touched = st.touched.take(1)))

    // the table is READABLE and every bucket is a complete version:
    // published bucket = new rows, unpublished = old rows
    val mixed = tableState(path)
    val oldState = IndexPipeline.buildIndex(docs)
      .select(col("doc_id"), col("vtype"), col("chunk_index"), md5(col("chunk_text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    val (pubOwner, pubBucket) = st.touched.head
    val pubDocs = Set(7L, 8L).filter(_ % 16 == pubBucket)
    val expectedMixed =
      oldState.filterNot(r => pubDocs.contains(r._1)) ++
        batch.filter(col("doc_id").isin(pubDocs.toSeq.map(Long.box): _*))
          .select(col("doc_id"), col("vtype"), col("chunk_index"), md5(col("chunk_text")).as("h"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(mixed == expectedMixed,
      "mid-publish crash must leave complete old/new buckets only")

    // retry from the top (the documented recovery): converges
    IndexPipeline.upsertDocsBucketed(spark, path, batch)
    val expected = IndexPipeline.buildIndex(docs)
      .join(batch.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .unionByName(batch)
      .select(col("doc_id"), col("vtype"), col("chunk_index"), md5(col("chunk_text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(tableState(path) == expected)
    // untouched buckets never changed across the whole sequence
    val after = partitionChecksums(root)
    val touchedDirs = st.touched.map { case (o, b) => s"owner=$o/bucket=$b" }.toSet
    (before.keySet -- touchedDirs).foreach { dir =>
      assert(after(dir) == before(dir), s"untouched partition $dir changed")
    }

    import scala.jdk.CollectionConverters._
    Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  test("property: random batch sequences — relational MERGE semantics, idempotent, bucket-isolated") {
    // Deterministic pseudo-random batch generator (no RNG: splitmix of
    // the trial index picks doc subsets + a text perturbation), so a
    // failure reproduces exactly.
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val root = Files.createTempDirectory("graft-wap-prop-")
    val path = root.toString
    val docs = Tables.documents(spark, d).filter(col("doc_id") < 60)
    IndexPipeline.writeVectorsBucketed(IndexPipeline.buildIndex(docs), path)

    // expected state: doc_id → latest text version applied
    var latest = Map.empty[Long, Int]
    for (trial <- 1 to 4) {
      val picked = (0L until 60L).filter(id => (mix(trial * 100 + id) & 7) == 0)
      assert(picked.nonEmpty)
      val marker = "abcdefgh".charAt(trial % 8).toString
      val batchDocs = docs.filter(col("doc_id").isin(picked.map(Long.box): _*))
        .withColumn("text", translate(col("text"), marker, "#"))
      val batch = IndexPipeline.buildIndex(batchDocs)
      val beforeTrial = partitionChecksums(root)
      IndexPipeline.upsertDocsBucketed(spark, path, batch)
      // repeat the SAME upsert: must converge to the same row set
      // (asserted via the final-state check below)
      IndexPipeline.upsertDocsBucketed(spark, path, batch)
      picked.foreach(id => latest += id -> trial)
      // bucket isolation: partitions outside the batch's buckets kept
      // their exact files from before this trial
      val touched = picked.map(_ % 16).toSet
      val after = partitionChecksums(root)
      beforeTrial.keys.filterNot(dir => touched.exists(b => dir.endsWith(s"bucket=$b")))
        .foreach(dir => assert(after(dir) == beforeTrial(dir), s"trial $trial touched $dir"))
    }
    // final relational state == MERGE of the latest version per doc
    val expectedDocs = docs.withColumn("text",
      (1 to 4).foldLeft(col("text")) { (c, trial) =>
        val ids = (0L until 60L).filter(id =>
          (mix(trial * 100 + id) & 7) == 0 && latest(id) == trial)
        if (ids.isEmpty) c
        else when(col("doc_id").isin(ids.map(Long.box): _*),
          translate(col("text"), "abcdefgh".charAt(trial % 8).toString, "#")).otherwise(c)
      })
    val expected = IndexPipeline.buildIndex(expectedDocs)
      .select(col("doc_id"), col("vtype"), col("chunk_index"), md5(col("chunk_text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(tableState(path) == expected, "final table != latest-version merge")

    import scala.jdk.CollectionConverters._
    Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  test("an upsert buckets with the count the table was written with") {
    val path = Files.createTempDirectory("graft-bucketed-").toString
    val docs = Tables.documents(spark, d).filter(col("doc_id") < 40)
    IndexPipeline.writeVectorsBucketed(IndexPipeline.buildIndex(docs), path, nBuckets = 4)
    val doc7 = IndexPipeline.buildIndex(docs.filter(col("doc_id") === 7)
      .withColumn("text", translate(col("text"), "a", ".")))
    IndexPipeline.upsertDocsBucketed(spark, path, doc7)
    // doc 7 lives in bucket 7 mod 4 only: its old rows were replaced
    // there, not left beside a copy in bucket 7 mod 16
    val rows7 = spark.read.parquet(path).filter(col("doc_id") === 7)
    assert(rows7.select("bucket").distinct().collect().map(_.getInt(0)).toSeq == Seq(3))
    assert(rows7.count() == doc7.count())
  }
}
