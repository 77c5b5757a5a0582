package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.DocumentSources
import graft.orchestration.Orchestration
import graft.operators.Multimodal

class SourcesAndOrchestrationSpec extends AnyFunSuite {
  lazy val spark = SparkSessionHelper.spark
  import spark.implicits._

  test("S1/S2-S6: landing scan + MIME dispatch + real extraction + error status") {
    val dir = java.nio.file.Files.createTempDirectory("graft_landing")
    java.nio.file.Files.writeString(dir.resolve("a.txt"), "hello text")
    // real fixture files through the real parsers
    java.nio.file.Files.write(dir.resolve("b.pdf"),
      graft.sources.DocFormats.writePdf(Seq("page one", "page two")))
    java.nio.file.Files.write(dir.resolve("e.docx"),
      graft.sources.DocFormats.writeDocx(Seq("para one", "para two")))
    // a corrupt pdf must yield PROCESSING_ERROR, not a failed job
    java.nio.file.Files.writeString(dir.resolve("f.pdf"), "%PDF-truncated garbage")
    java.nio.file.Files.writeString(dir.resolve("c.jpg"), "JFIFfake")
    java.nio.file.Files.writeString(dir.resolve("d.weird"), "???")
    java.nio.file.Files.write(dir.resolve("g.html"),
      graft.sources.DocFormats.writeHtml("Title", Seq("body text"),
        Seq("Nav"), Seq("privacy policy", "terms")))

    val scanned = DocumentSources.readLandingDir(spark, dir.toString)
    assert(scanned.count() == 7)
    val extracted = DocumentSources.extractText(scanned)
      .select("filename", "extractor", "extracted_text", "status")
      .collect().map(r => r.getString(0) -> (r.getString(1), Option(r.getString(2)), r.getString(3))).toMap
    assert(extracted("a.txt") == (("text_extractor", Some("hello text"), "TEXT_EXTRACTED")))
    assert(extracted("b.pdf") == (("pdf_extractor", Some("page one\n\npage two"), "TEXT_EXTRACTED")))
    assert(extracted("e.docx") == (("docx_extractor", Some("para one\npara two"), "TEXT_EXTRACTED")))
    assert(extracted("f.pdf") == (("pdf_extractor", None, "PROCESSING_ERROR")))
    assert(extracted("c.jpg") == (("image_passthrough", None, "UPLOADED")))
    assert(extracted("d.weird") == (("unsupported", None, "UPLOADED")))
    assert(extracted("g.html") == (("html_extractor", Some("Title\n\nbody text"), "TEXT_EXTRACTED")))
  }

  test("S7: importNew drops already-imported keys") {
    val incoming = Seq(("e1", "x"), ("e2", "y"), ("e3", "z")).toDF("email_id", "body")
    val existing = Seq(("e2", "old")).toDF("email_id", "body")
    val r = DocumentSources.importNew(incoming, existing, "email_id")
      .select("email_id").as[String].collect().toSet
    assert(r == Set("e1", "e3"))
  }

  test("P8: projection collision keeps deepest child only") {
    val r = Orchestration.resolveProjectionCollisions(Seq(
      "analysis", "analysis.ai_analysis_output.key_information", "analysis.ai_analysis_output",
      "filename", "tags"))
    assert(r == Seq("analysis.ai_analysis_output.key_information", "filename", "tags"))
  }

  test("P8 relation form agrees with the driver helper per doc, join-safe plan") {
    val df = SparkEntry.queries("p8_projection_collision")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"P8 anti join must keep its equi key:\n$plan")
    val got = df.collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    got.keys.take(50).foreach { id =>
      val fixture = Seq(
        Some("enriched_data"),
        if (id % 2 == 0) Some("enriched_data.entities") else None,
        if (id % 3 == 0) Some("enriched_data.entities.vendor") else None,
        if (id % 5 == 0) Some("cluster_info") else None,
        Some("cluster_info.cluster_id"),
        if (id % 7 == 0) Some("tags") else None).flatten
      assert(got(id) == Orchestration.resolveProjectionCollisions(fixture).sorted,
        s"doc $id diverges from the driver helper")
    }
  }

  test("V10: strategy routing table") {
    import Orchestration._
    assert(routeStrategy("thematic", None) == SummaryOnly)
    assert(routeStrategy("detailed", Some("summary_only")) == RrfFusion)
    assert(routeStrategy("unknown", None) == RrfFusion)
    assert(routeStrategy("other", Some("keyword_enhanced_rrf")) == RrfFusion)
    assert(routeStrategy("other", Some("nonsense")) == Hybrid)
    assert(routeStrategy("other", None) == Hybrid)
  }

  test("L5: stub plan projects question-mentioned fields, filename always, P8-resolved") {
    val p = Orchestration.stubMongoQueryGen(
      "show the summary and keywords please", Seq("summary", "keywords", "lang", "source"))
    assert(p.projection == Seq("filename", "summary", "keywords"))
    assert(p.subFilter.isEmpty)
    val none = Orchestration.stubMongoQueryGen("unrelated question", Seq("summary"))
    assert(none.projection == Seq("filename"))
  }

  test("L6: dedup keep-max, 2×limit cap, J8 validation, fallback top-n, short-circuit") {
    val cands = Seq(("a", 0.5), ("a", 0.9), ("b", 0.8), ("c", 0.7), ("d", 0.6),
      ("e", 0.5), ("f", 0.4), ("g", 0.3))
    // default selector = fallback top-limit over the capped candidates
    assert(Orchestration.selectDocumentsForDetail(cands) == Seq("a", "b", "c"))
    // a selector returning only invalid ids → fallback top-n (J8 validation)
    assert(Orchestration.selectDocumentsForDetail(cands, 3, _ => Seq("zzz")) == Seq("a", "b", "c"))
    // partially valid picks keep only the validated ones, in pick order
    assert(Orchestration.selectDocumentsForDetail(cands, 3, _ => Seq("d", "zzz", "b")) == Seq("d", "b"))
    // the cap: "g" (rank 7 > 2×3) is never selectable
    assert(Orchestration.selectDocumentsForDetail(cands, 3, _ => Seq("g")) == Seq("a", "b", "c"))
    // < 2 candidates short-circuits before selection
    assert(Orchestration.selectDocumentsForDetail(Seq(("x", 1.0))) == Seq("x"))
  }

  test("L2: image-analysis stub covers OCR and non-OCR branches deterministically") {
    import java.nio.charset.StandardCharsets.UTF_8
    // 66 bytes → n%3 = 0 → channels 1 → document_scan with the OCR leg
    val scan = Orchestration.StubImageAnalysis(("Hello World " + "x" * 54).getBytes(UTF_8))
    assert(scan.contentType == "document_scan")
    assert(scan.extractedText.exists(_.startsWith("Hello World ")))
    assert(scan.extractedText.get.length == 60)
    assert(scan.keyInformation == Seq("hello", "world", "x" * 48))
    assert(scan.initialSummary == s"圖片 ${64 + 66 % 512}x${64 + 33 % 512} 1ch")
    // 64 bytes → n%3 = 1 → channels 2 → diagram, no OCR
    val diag = Orchestration.StubImageAnalysis(("y" * 64).getBytes(UTF_8))
    assert(diag.contentType == "diagram" && diag.extractedText.isEmpty
      && diag.keyInformation.isEmpty)
  }

  test("L8: clarification stub matches the reference fallback contract") {
    val c = Orchestration.stubClarification("找那個東西", "too vague")
    assert(c.question == "能否請您提供更多細節?")
    assert(c.suggestedResponses == Seq("提供更多信息", "詳細說明"))
    assert(c.missingInformation == Seq("具體內容"))
  }

  test("T13: formatHistory budgets, marker extraction, sentinels") {
    import graft.functions.TextOps.formatHistory
    assert(formatHistory(Nil) == "無對話歷史")
    val longU = "u" * 301
    val fmt = formatHistory(Seq(("user", longU)))
    assert(fmt.contains("用戶: " + "u" * 300 + "..."))
    assert(fmt.startsWith("=== 最近對話記錄 ===\n") && fmt.endsWith("=== 當前問題 ==="))
    // clarification-marked assistant turn collapses to ≤2 core lines
    val a = "header\n關於您的問題 A\nnoise\n💡 hint one\n💡 hint two"
    val f2 = formatHistory(Seq(("assistant", a)))
    assert(f2.contains("助手: 關於您的問題 A\n💡 hint one\n"))
    assert(!f2.contains("hint two") && !f2.contains("noise"))
    // marker present but no core lines → 600-char cut
    val f3 = formatHistory(Seq(("assistant", "澄清" + "x" * 700)))
    assert(f3.contains("x" * 598 + "...") && !f3.contains("x" * 599 + "..."))
    // plain assistant turn → 800-char cut with the omission suffix
    val f4 = formatHistory(Seq(("assistant", "y" * 801)))
    assert(f4.contains("y" * 800 + "...[後續省略]"))
    // code-point budgets: 💡 is ONE code point but two UTF-16 units —
    // 299 ASCII + 💡 = 300 code points must NOT truncate (a UTF-16
    // substring(0,300) would split or miscount), and at 301 code
    // points the cut lands BETWEEN code points, never mid-surrogate
    val exactly300 = "u" * 299 + "💡"
    val f5 = formatHistory(Seq(("user", exactly300)))
    assert(f5.contains("用戶: " + exactly300 + "\n") && !f5.contains("..."))
    val over = "💡" * 301
    val f6 = formatHistory(Seq(("user", over)))
    assert(f6.contains("用戶: " + "💡" * 300 + "...\n"))
  }

  test("T12: schema discovery merges sampled dynamic fields") {
    val df = Seq(
      Map("invoice_no" -> "123", "vendor" -> "acme"),
      Map("amount" -> "99.5", "vendor" -> "zeta")
    ).toDF("dynamic_fields")
    val schema = Orchestration.discoverSchema(df, "dynamic_fields")
    assert(schema("invoice_no") == "invoice_no (int)")
    assert(schema("amount") == "amount (float)")
    assert(schema("vendor") == "vendor (str)")
  }

  test("X3: intelligent QA routes greeting/clarification/search correctly") {
    import Orchestration._
    assert(intelligentQa("hi") == DirectReply("greeting", "Hello! Ask me about your documents."))
    intelligentQa("??") match {
      case DirectReply("clarification_needed", _) => ()
      case other => fail(s"expected clarification, got $other")
    }
    intelligentQa("quarterly invoice totals", "thematic") match {
      case SearchPlan("document_search", SummaryOnly, rewrites) =>
        assert(rewrites.size == 3 && rewrites.head == "quarterly invoice totals")
      case other => fail(s"expected search plan, got $other")
    }
    intelligentQa("quarterly invoice totals") match {
      case SearchPlan(_, RrfFusion, _) => ()
      case other => fail(s"expected rrf plan, got $other")
    }
  }

  test("L4 rules + L7 confidence") {
    assert(Orchestration.classifyIntentRules("hi") == "greeting")
    assert(Orchestration.classifyIntentRules("ab") == "clarification_needed")
    assert(Orchestration.classifyIntentRules("find the stuff") == "clarification_needed")
    assert(Orchestration.classifyIntentRules("quarterly invoice report") == "document_search")
    assert(Orchestration.answerConfidence(2) == 0.5)
    assert(Orchestration.answerConfidence(10) == 0.9)
  }

  test("compaction rewrites many small appends into few files, data intact") {
    val spark = SparkSessionHelper.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    (1 to 10).foreach { i =>
      DocumentSources.appendLogs(
        Seq((i.toLong, s"msg$i")).toDF("log_id", "message"), dir)
    }
    def files = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    val before = files
    assert(before >= 10)
    DocumentSources.compactParquet(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(files < before)
    val rows = spark.read.parquet(dir).orderBy("log_id")
      .as[(Long, String)].collect().toSeq
    assert(rows == (1 to 10).map(i => (i.toLong, s"msg$i")))
  }

  test("schema-evolution read merges versions; old rows get null new columns") {
    val spark = SparkSessionHelper.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a")).toDF("id", "text").write.mode("append").parquet(dir)
    Seq((2L, "b", "en")).toDF("id", "text", "lang").write.mode("append").parquet(dir)
    val r = DocumentSources.readEvolved(spark, dir).orderBy("id")
      .select("id", "text", "lang").as[(Long, String, Option[String])].collect().toSeq
    assert(r == Seq((1L, "a", None), (2L, "b", Some("en"))))
  }

  test("multimodal decode: decode UDF column, stub arithmetic") {
    val media = Seq((1L, Array[Byte](1, 2, 3)), (2L, Array.fill[Byte](600)(7)))
      .toDF("doc_id", "content")
    val r = Multimodal.decodeMedia(media).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(r(0) == ((1L, 3L, 64 + 3, 64 + 1, 1)))
    assert(r(1) == ((2L, 600L, 64 + 88, 64 + 300, 1)))
  }
}
