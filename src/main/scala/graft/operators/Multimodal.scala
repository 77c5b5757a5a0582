package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column operators: image/audio/video as opaque `binary`
  * columns with typed metadata, processed by map-only UDF columns.
  *
  * The decode step is a clearly-marked deterministic STUB (no media
  * libraries in this container); everything Spark-side is real:
  * schema, binary columns, decode and feature UDF columns planned
  * inside the query, and frame-sampling explode. Swap `StubDecoder`
  * for a JNI/FFI decoder at deployment; the plan shape (map-only over
  * the media scan, no shuffle) is unchanged at 100 TB. Reference
  * anchor: images skip text extraction and flow to vision analysis
  * (S5, `document_processing_service.py:93-121`).
  */
object Multimodal {

  /** Decoder contract: bytes → (width, height, channels). */
  trait MediaDecoder extends Serializable {
    def decode(bytes: Array[Byte]): (Int, Int, Int)
  }

  /** STUB: deterministic pseudo-decode from byte length only (real
    * impl would parse the container header). Arithmetic is mirrored in
    * the DuckDB oracle, so the plumbing is verified end-to-end. */
  object StubDecoder extends MediaDecoder {
    def decode(bytes: Array[Byte]): (Int, Int, Int) = {
      val n = bytes.length
      (64 + n % 512, 64 + (n / 2) % 512, 1 + n % 3)
    }
  }

  /** REAL container-header decoder — the DocFormats move applied to
    * media (S5/L2 ingest metadata): dependency-free parsers for the
    * four headers the reference's upload path accepts
    * (`document_processing_service.py:93-121` routes png/jpg/gif/… to
    * vision). Full pixel decode stays a deployment plug-in (no codec
    * libs offline), but width/height/channels — the metadata the
    * engine actually stores and filters on — come from the REAL bytes:
    *  - PNG:  IHDR width/height (big-endian at 16/20), channels from
    *    the color type (0 gray→1, 2 rgb→3, 3 palette→1, 4 gray+α→2,
    *    6 rgba→4);
    *  - JPEG: marker walk from SOI skipping by segment length to the
    *    first SOF0–SOF15 frame header (DHT/DAC/RST excluded), then
    *    precision/height/width/nComponents;
    *  - GIF:  logical screen descriptor, little-endian 6/8, RGB;
    *  - BMP:  DIB width/height (LE at 18/22), channels = bpp/8.
    * `mm_decode_real` gates writer AND parser: real bytes are built by
    * `MediaFormats` with dims derived from doc_id, the decoder must
    * read those dims back from the bytes, and the oracle recomputes
    * them from the formula. */
  object HeaderDecoder extends MediaDecoder {
    private def be16(b: Array[Byte], i: Int) = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    private def be32(b: Array[Byte], i: Int) =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    private def le16(b: Array[Byte], i: Int) = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], i: Int) =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

    def decode(bytes: Array[Byte]): (Int, Int, Int) = {
      require(bytes.length >= 10, "media too short for any container header")
      if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G') {
        val channels = (bytes(25) & 0xff) match {
          case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
          case ct => throw new IllegalArgumentException(s"PNG color type $ct")
        }
        (be32(bytes, 16), be32(bytes, 20), channels)
      } else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) {
        var i = 2
        while (i + 4 <= bytes.length) {
          if ((bytes(i) & 0xff) != 0xff)
            throw new IllegalArgumentException(s"JPEG marker sync lost at $i")
          val m = bytes(i + 1) & 0xff
          val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
          if (isSof)
            return (be16(bytes, i + 7), be16(bytes, i + 5), bytes(i + 9) & 0xff)
          // RST0-7/SOI/EOI are bare markers (no length word)
          i += 2 + (if (m >= 0xd0 && m <= 0xd9) 0 else be16(bytes, i + 2))
        }
        throw new IllegalArgumentException("JPEG: no SOF marker before EOF")
      } else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F') {
        (le16(bytes, 6), le16(bytes, 8), 3)
      } else if (bytes(0) == 'B' && bytes(1) == 'M') {
        (le32(bytes, 18), le32(bytes, 22), (le16(bytes, 28)) / 8)
      } else throw new IllegalArgumentException("unsupported media container")
    }
  }

  /** RIFF/WAVE header parse — the audio leg of the real-decode story:
    * walks the chunk list (fmt may not be first in the wild), returns
    * (sampleRate, channels, nSamples). Duration = nSamples/sampleRate
    * downstream; `mm_audio_meta` gates writer + parser like
    * `mm_decode_real` does for images. */
  object AudioHeader {
    def parseWav(bytes: Array[Byte]): (Int, Int, Long) = {
      require(bytes.length >= 44 && bytes(0) == 'R' && bytes(1) == 'I' &&
        bytes(2) == 'F' && bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'A' &&
        bytes(10) == 'V' && bytes(11) == 'E', "not a RIFF/WAVE file")
      val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var pos = 12
      var rate = -1; var channels = -1; var blockAlign = -1; var dataLen = -1L
      while (pos + 8 <= bytes.length && (rate < 0 || dataLen < 0)) {
        val id = new String(bytes, pos, 4, "US-ASCII")
        val len = b.getInt(pos + 4)
        if (id == "fmt ") {
          channels = b.getShort(pos + 10).toInt
          rate = b.getInt(pos + 12)
          blockAlign = b.getShort(pos + 20).toInt
        } else if (id == "data") dataLen = len.toLong
        pos += 8 + len + (len & 1) // chunks are word-aligned
      }
      require(rate > 0 && channels > 0 && blockAlign > 0 && dataLen >= 0,
        "WAV: missing fmt or data chunk")
      (rate, channels, dataLen / blockAlign)
    }
  }

  /** Minimal REAL media writers (the fixture side of `mm_decode_real`,
    * same pattern as DocFormats' PDF/DOCX writers): bytes any external
    * tool recognizes, built dependency-free. */
  object MediaFormats {
    /** 8-bit grayscale PNG with real zlib IDAT and CRCs. */
    def writePng(w: Int, h: Int, seed: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      def chunk(tpe: String, data: Array[Byte]): Unit = {
        val len = data.length
        out.write(Array((len >>> 24).toByte, (len >>> 16).toByte, (len >>> 8).toByte, len.toByte))
        val body = tpe.getBytes("US-ASCII") ++ data
        out.write(body)
        val crc = new java.util.zip.CRC32(); crc.update(body)
        val c = crc.getValue.toInt
        out.write(Array((c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte, c.toByte))
      }
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(w).putInt(h).put(8.toByte).put(0.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).array()
      chunk("IHDR", ihdr)
      val raw = new Array[Byte](h * (w + 1))
      var y = 0
      while (y < h) {
        raw(y * (w + 1)) = 0 // filter: none
        var x = 0
        while (x < w) {
          raw(y * (w + 1) + 1 + x) = ((seed + y * 31 + x) % 251).toByte
          x += 1
        }
        y += 1
      }
      val defl = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
      defl.setInput(raw); defl.finish()
      val buf = new Array[Byte](raw.length + 64)
      val m = defl.deflate(buf); defl.end()
      chunk("IDAT", buf.take(m))
      chunk("IEND", Array.empty)
      out.toByteArray
    }

    /** JPEG header skeleton: SOI + APP0/JFIF + SOF0 + EOI (no entropy
      * data — header-level metadata only, which is what the decoder
      * contract reads). */
    def writeJpeg(w: Int, h: Int, nComp: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0xff, 0xd8).map(_.toByte)) // SOI
      val jfif = Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
      out.write(Array(0xff, 0xe0, 0, (jfif.length + 2)).map(_.toByte))
      out.write(jfif)
      val sofLen = 8 + 3 * nComp
      out.write(Array(0xff, 0xc0, (sofLen >>> 8), sofLen & 0xff, 8,
        (h >>> 8), h & 0xff, (w >>> 8), w & 0xff, nComp).map(_.toByte))
      for (c <- 1 to nComp) out.write(Array(c, 0x11, 0).map(_.toByte))
      out.write(Array(0xff, 0xd9).map(_.toByte)) // EOI
      out.toByteArray
    }

    /** Complete GIF89a: logical screen descriptor, 2-color global
      * table, image descriptor and real LZW pixel data (the classic
      * "clear code after every pixel" trick keeps the code width
      * constant at 3 bits — valid LZW any decoder accepts, no
      * dictionary needed). */
    def writeGif(w: Int, h: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("GIF89a".getBytes("US-ASCII"))
      out.write(Array[Byte]((w & 0xff).toByte, ((w >>> 8) & 0xff).toByte,
        (h & 0xff).toByte, ((h >>> 8) & 0xff).toByte,
        0x80.toByte, 0, 0)) // GCT present, 2 entries
      out.write(Array[Byte](0, 0, 0, 0xff.toByte, 0xff.toByte, 0xff.toByte))
      out.write(Array[Byte](0x2c, 0, 0, 0, 0,
        (w & 0xff).toByte, ((w >>> 8) & 0xff).toByte,
        (h & 0xff).toByte, ((h >>> 8) & 0xff).toByte, 0))
      out.write(2) // LZW minimum code size
      val data = new java.io.ByteArrayOutputStream()
      var cur = 0; var nbits = 0
      def put(code: Int): Unit = { // LSB-first, constant 3-bit codes
        cur |= code << nbits; nbits += 3
        while (nbits >= 8) { data.write(cur & 0xff); cur >>>= 8; nbits -= 8 }
      }
      put(4) // clear
      var i = 0; val n = w * h
      while (i < n) { put(i & 1); put(4); i += 1 }
      put(5) // end of information
      if (nbits > 0) data.write(cur & 0xff)
      val d = data.toByteArray
      var off = 0
      while (off < d.length) { // ≤255-byte sub-blocks
        val len = math.min(255, d.length - off)
        out.write(len); out.write(d, off, len); off += len
      }
      out.write(0)    // block terminator
      out.write(0x3b) // trailer
      out.toByteArray
    }

    /** Canonical RIFF/WAVE file: fmt chunk (PCM) + data chunk of
      * silence — real audio bytes for the audio-metadata path. */
    def writeWav(sampleRate: Int, channels: Int, nSamples: Int,
                 bitsPerSample: Int = 16): Array[Byte] = {
      val dataSize = nSamples * channels * (bitsPerSample / 8)
      val b = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1) // PCM
        .putShort(channels.toShort).putInt(sampleRate)
        .putInt(sampleRate * channels * (bitsPerSample / 8))
        .putShort((channels * (bitsPerSample / 8)).toShort)
        .putShort(bitsPerSample.toShort)
        .put("data".getBytes("US-ASCII")).putInt(dataSize)
      b.array()
    }

    /** 24-bit uncompressed BMP with a pixel payload. */
    def writeBmp(w: Int, h: Int): Array[Byte] = {
      val rowBytes = (w * 3 + 3) / 4 * 4
      val dataSize = rowBytes * h
      val b = java.nio.ByteBuffer.allocate(54 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
        .putInt(0).putInt(54)
        .putInt(40).putInt(w).putInt(h)
        .putShort(1).putShort(24)
        .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
      b.array()
    }
  }

  /** Media decode as one UDF column over the media scan (the shape
    * `mm_audio_meta` uses): doc_id, n_bytes, width, height, channels.
    * A map-only pass; the decoder object ships once per task. */
  def decodeMedia(media: DataFrame, decoder: MediaDecoder = StubDecoder): DataFrame = {
    val decodeUdf = udf((bytes: Array[Byte]) => decoder.decode(bytes))
    media.select(col("doc_id").cast("long"), length(col("content")).cast("long").as("n_bytes"),
        decodeUdf(col("content")).as("m"))
      .select(col("doc_id"), col("n_bytes"), col("m._1").as("width"),
        col("m._2").as("height"), col("m._3").as("channels"))
  }

  /** Media table stand-in: document text bytes as the binary payload. */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      encode(col("text"), "UTF-8").as("content"))

  /** Feature extraction (vision/audio-embedding stand-in): one UDF
    * column over the media scan, like decodeMedia. The STUB computes
    * `dim` deterministic pseudo-features from byte length with exact
    * integer arithmetic and ONE final double division, so the oracle
    * matches bit-for-bit. Emits (f0, f_sum) summaries, not the raw
    * array (array cells don't hash-compare portably). */
  def extractFeatures(media: DataFrame, dim: Int = 8): DataFrame = {
    val featUdf = udf((bytes: Array[Byte]) => {
      val ints = (1 to dim).map(j => (bytes.length.toLong * j) % 997L)
      (ints.head.toDouble / 997.0, ints.sum.toDouble / 997.0)
    })
    media.select(col("doc_id").cast("long"), featUdf(col("content")).as("f"))
      .select(col("doc_id"), col("f._1").as("f0"), col("f._2").as("f_sum"))
  }

  /** 63-bit dHash fingerprint over 64 evenly-sampled payload bytes of
    * a (doc_id, text) relation, plus the top-31-bit LSH band key —
    * shared by the `mm_phash_neardup` gate and the BenchDoc 500k leg
    * (shared code: the bench cannot drift from the oracle-pinned
    * arithmetic). One narrow map, no shuffle. */
  def dHashFingerprint(df: DataFrame): DataFrame = df
    .withColumn("ss", expr(
      "transform(sequence(0, 63), j -> ascii(substring(text, " +
        "CAST(1 + (j * (length(text) - 1)) div 63 AS INT), 1)))"))
    .withColumn("h", expr(
      "aggregate(sequence(0, 62), CAST(0 AS BIGINT), (acc, j) -> acc + " +
        "IF(element_at(ss, j + 1) > element_at(ss, j + 2), " +
        "shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))"))
    .withColumn("band", expr("h div 4294967296"))
    .select("doc_id", "h", "band")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Decode-metadata pass (stub arithmetic mirrored in the oracle —
    // verifies binary column plumbing through the decode UDF).
    "mm_decode_meta" -> ((s, d) =>
      decodeMedia(mediaTable(s, d)).orderBy("doc_id")),

    // REAL decode over REAL bytes: the fixture builds genuine
    // PNG/JPEG/GIF/BMP containers (format cycles by doc_id, dims
    // derived from doc_id), HeaderDecoder parses them back, and the
    // oracle recomputes the dims from the formula — a write→parse
    // round-trip gate on BOTH the writers and the parser (the
    // DocFormats pattern for media).
    "mm_decode_real" -> ((s, d) => {
      val mediaUdf = udf((id: Long) => {
        val w = 16 + (id % 23).toInt
        val h = 16 + ((id * 7) % 19).toInt
        (id % 4) match {
          case 0 => MediaFormats.writePng(w, h, id)
          case 1 => MediaFormats.writeJpeg(w, h, 3)
          case 2 => MediaFormats.writeGif(w, h)
          case _ => MediaFormats.writeBmp(w, h)
        }
      })
      val media = Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id"), mediaUdf(col("doc_id")).as("content"))
      decodeMedia(media, HeaderDecoder)
        .select(col("doc_id"), col("width"), col("height"), col("channels"))
        .orderBy("doc_id")
    }),

    // Audio leg of the real-decode story: genuine RIFF/WAVE bytes
    // (PCM fmt + data chunks, params derived from doc_id), parsed
    // back by the chunk-walking AudioHeader, duration computed from
    // the REAL data-chunk length — oracle recomputes the formula.
    "mm_audio_meta" -> ((s, d) => {
      val wavUdf = udf((id: Long) => MediaFormats.writeWav(
        sampleRate = 8000 + (id % 3).toInt * 4025, // 8000/12025/16050
        channels = 1 + (id % 2).toInt,
        nSamples = 400 + (id * 13 % 1600).toInt))
      val parseUdf = udf((bytes: Array[Byte]) => AudioHeader.parseWav(bytes))
      Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id"), parseUdf(wavUdf(col("doc_id"))).as("m"))
        .select(col("doc_id"), col("m._1").as("sample_rate"),
          col("m._2").as("channels"), col("m._3").as("n_samples"),
          // duration in whole ms — INTEGER division, exact cross-engine
          expr("m._3 * 1000 div m._1").as("duration_ms"))
        .orderBy("doc_id")
    }),

    // Feature extraction over binary media (stubbed model, real
    // UDF column over the binary payload).
    "mm_feature_extract" -> ((s, d) =>
      extractFeatures(mediaTable(s, d)).orderBy("doc_id")),

    // Resize planning: target width 224, aspect-preserving integer
    // output dims from the decoded metadata (the pixel resample itself
    // is the stubbed device-side step; the plan is the map-only pass).
    "mm_resize" -> ((s, d) =>
      decodeMedia(mediaTable(s, d))
        .select(col("doc_id"), col("width"), col("height"),
          lit(224).as("out_w"),
          greatest(lit(1L), expr("CAST(height AS BIGINT) * 224 div width"))
            .cast("int").as("out_h"))
        .orderBy("doc_id")),

    // Frame sampling: 1 frame/sec capped at 10, byte length as
    // pseudo-duration-ms; 1 media row → N frame rows.
    "mm_frame_sample" -> ((s, d) =>
      mediaTable(s, d)
        .withColumn("duration_ms", length(col("content")).cast("long") * 10)
        .withColumn("n_frames",
          least(lit(10L), greatest(lit(1L), col("duration_ms") / lit(1000L))).cast("long"))
        .select(col("doc_id"), col("duration_ms"), col("n_frames"),
          posexplode(sequence(lit(0L), col("n_frames") - 1)).as(Seq("frame_idx", "k")))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          (col("k") * col("duration_ms") / col("n_frames")).cast("long").as("offset_ms"))
        .orderBy("doc_id", "frame_idx")),

    // PERCEPTUAL-HASH NEAR-DUP over the media payload — image dedup's
    // production shape (pHash/dHash → LSH band join → Hamming verify)
    // with the pixel decode stubbed per the multimodal charter: the
    // fingerprint is a dHash over 64 evenly-sampled payload bytes
    // (bit j = sample j > sample j+1; 63 bits — pure integer
    // arithmetic both engines replay), re-encoded copies are planted
    // for the %20 cohort by rewriting ONE leading byte (same length,
    // so only bit 0 can flip — Hamming ≤ 1 to the original), the
    // candidate join is an EQUI-join on the hash's top 31 bits (the
    // banding move: no pairwise Hamming over the corpus — candidates
    // are hash-bucket collisions only), and the verify pass keeps
    // Hamming ≤ 2. At 100 TB this is exactly the image near-dedup
    // pipeline: fingerprints are one map pass, the join is shuffle-
    // bounded by band cardinality, the quadratic work never happens.
    "mm_phash_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("n_chars") >= 130)
        .select(col("doc_id"), col("text"))
      val copies = docs.filter(pmod(col("doc_id"), lit(20L)) === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("~"), expr("substring(text, 2)")).as("text"))
      // persist is a CORRECTNESS-OF-COST barrier here, not a cache
      // nicety: unpersisted, CollapseProject inlines the 64-substring
      // sample array into every element_at reference of the 63-step
      // hash fold AND into the join's Hamming filter — the fingerprint
      // re-evaluates ~100× per row and the query runs 240 s instead of
      // ~4 s at sf0.1 (measured). Caller clearCache contract applies.
      val fp = dHashFingerprint(docs).unionByName(dHashFingerprint(copies))
        .persist()
      val a = fp.select(col("doc_id").as("id_a"), col("h").as("h_a"), col("band"))
      val b = fp.select(col("doc_id").as("id_b"), col("h").as("h_b"), col("band"))
      a.join(b, Seq("band")).filter(col("id_a") < col("id_b"))
        .withColumn("hamming", expr("bit_count(h_a ^ h_b)").cast("long"))
        .filter(col("hamming") <= 2)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    })
  )

  val oracles: Map[String, String] = Map(
    // Same dHash sampling, band split and Hamming verify, replayed
    // with DuckDB's << / xor / bit_count integer ops.
    "mm_phash_neardup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE n_chars >= 130
        |  UNION ALL
        |  SELECT doc_id + 100000, '~' || substr(text, 2)
        |  FROM documents WHERE n_chars >= 130 AND doc_id % 20 = 0),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(0, 63), j ->
        |      CASE WHEN
        |        ord(substr(text, (1 + (j * (length(text) - 1)) // 63)::INT, 1)) >
        |        ord(substr(text, (1 + ((j + 1) * (length(text) - 1)) // 63)::INT, 1))
        |      THEN 1::BIGINT << j ELSE 0::BIGINT END)) AS BIGINT) AS h
        |  FROM base),
        |bd AS (SELECT doc_id, h, h // 4294967296 AS band FROM fp)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM bd a JOIN bd b ON a.band = b.band AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // Real-decode round trip: dims recomputed from the fixture
    // formula; PNG rows are grayscale (1 channel), the others RGB.
    "mm_decode_real" ->
      """SELECT doc_id,
        |  CAST(16 + doc_id % 23 AS INT) AS width,
        |  CAST(16 + (doc_id * 7) % 19 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 3 END AS INT) AS channels
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
    "mm_audio_meta" ->
      """SELECT doc_id,
        |  CAST(8000 + (doc_id % 3) * 4025 AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(400 + (doc_id * 13) % 1600 AS BIGINT) AS n_samples,
        |  CAST((400 + (doc_id * 13) % 1600) * 1000
        |       // (8000 + (doc_id % 3) * 4025) AS BIGINT) AS duration_ms
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
    "mm_decode_meta" ->
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
        |  (64 + octet_length(encode(text)) % 512)::INT AS width,
        |  (64 + (octet_length(encode(text)) // 2) % 512)::INT AS height,
        |  (1 + octet_length(encode(text)) % 3)::INT AS channels
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_feature_extract" ->
      """SELECT doc_id,
        |  CAST((octet_length(encode(text))::BIGINT * 1) % 997 AS DOUBLE) / 997.0 AS f0,
        |  CAST(list_sum(list_transform(generate_series(1, 8),
        |         j -> (octet_length(encode(text))::BIGINT * j) % 997)) AS DOUBLE) / 997.0 AS f_sum
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_resize" ->
      """SELECT doc_id,
        |  (64 + octet_length(encode(text)) % 512)::INT AS width,
        |  (64 + (octet_length(encode(text)) // 2) % 512)::INT AS height,
        |  224 AS out_w,
        |  greatest(1, ((64 + (octet_length(encode(text)) // 2) % 512)::BIGINT * 224)
        |              // (64 + octet_length(encode(text)) % 512))::INT AS out_h
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text))::BIGINT * 10 AS duration_ms,
        |    least(10, greatest(1, (octet_length(encode(text))::BIGINT * 10) // 1000)) AS n_frames
        |  FROM documents)
        |SELECT doc_id, unnest(generate_series(0, n_frames - 1))::BIGINT AS frame_idx,
        |  (unnest(generate_series(0, n_frames - 1)) * duration_ms // n_frames)::BIGINT AS offset_ms
        |FROM m ORDER BY doc_id, frame_idx""".stripMargin
  )
}
