package graft.ops

import graft.{Fixpoints, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** T3 multimodal-column plumbing (BASELINE.json north star): image/audio/
  * video payloads as opaque BINARY columns with typed metadata, decoded
  * partition-wise.
  *
  * The container ships no codec libraries, so every decode here sticks
  * to formats the JDK (or pure Catalyst byte expressions) can handle
  * end to end: WAV/RIFF and BMP as expression-level byte layout, and
  * PNG — a real compressed format — through java.util.zip (CRC-verified
  * chunks, zlib inflate, full scanline-filter reconstruction). A JNI
  * JPEG/video codec would slot into the same mapPartitions seam. At
  * scale the shape holds: blobs stay columnar in parquet, metadata
  * prunes before any byte is decoded, decode runs once per partition
  * batch.
  */
object Multimodal {

  /** Synthetic payload: 16 md5 bytes of the text — a stand-in for real
    * image/audio bytes, deterministic for the oracle. */
  private def media(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "documents")
      .withColumn("md5_hex", md5(col("text").cast("binary")))
      .withColumn("payload", unhex(col("md5_hex")))
      .withColumn("modality", expr(
        """CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
             WHEN 1 THEN 'audio' ELSE 'video' END"""))

  /** Typed metadata extraction (q_multimodal_meta): width/height/frames
    * derived from header bytes — the "parse metadata without decoding"
    * pass that lets 100 TB scans prune by shape before touching pixels. */
  val qMultimodalMeta = Q(
    "q_multimodal_meta",
    (s, d) =>
      media(s, d)
        .select(
          col("doc_id"), col("modality"),
          length(col("payload")).cast("long").as("byte_len"),
          (lit(16) + (ascii(substring(col("md5_hex"), 1, 1)) % 8) * 16)
            .cast("long").as("width"),
          (lit(16) + (ascii(substring(col("md5_hex"), 2, 1)) % 8) * 16)
            .cast("long").as("height"),
          (lit(1) + ascii(substring(col("md5_hex"), 3, 1)) % 7)
            .cast("long").as("n_frames"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
              CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                   WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
              CAST(octet_length(unhex(md5(text))) AS BIGINT) AS byte_len,
              CAST(16 + (ascii(substr(md5(text), 1, 1)) % 8) * 16
                   AS BIGINT) AS width,
              CAST(16 + (ascii(substr(md5(text), 2, 1)) % 8) * 16
                   AS BIGINT) AS height,
              CAST(1 + ascii(substr(md5(text), 3, 1)) % 7
                   AS BIGINT) AS n_frames
            FROM documents
            ORDER BY doc_id NULLS FIRST"""))

  /** Deterministic 8-bit RGB PNG for doc_id — a REAL PNG: signature,
    * IHDR, zlib-deflated IDAT, CRC-32 on every chunk, and a DIFFERENT
    * scanline filter per row (None/Sub/Up/Average/Paeth cycling with
    * y), so a decoder must implement the full filter spec to get the
    * pixels back. Channel (x, y) values are the same fixed arithmetic
    * in doc_id the BMP fixture uses, so the oracle recomputes them
    * without touching bytes. */
  private[graft] def pngBytes(docId: Long): Array[Byte] = {
    val w = (4 + docId % 3).toInt
    val h = (2 + docId % 2).toInt
    val bpp = 3 // bytes per pixel: 8-bit RGB (color type 2)
    val raw = new Array[Byte](h * (1 + w * bpp))
    var prev = new Array[Int](w * bpp)
    var off = 0
    (0 until h).foreach { y =>
      val cur = new Array[Int](w * bpp)
      (0 until w).foreach { x =>
        cur(x * 3) = ((docId * 7 + x * 19 + y * 23) % 256).toInt     // R
        cur(x * 3 + 1) = ((docId * 5 + x * 11 + y * 17) % 256).toInt // G
        cur(x * 3 + 2) = ((docId * 3 + x * 7 + y * 13) % 256).toInt  // B
      }
      val ft = y % 5
      raw(off) = ft.toByte; off += 1
      (0 until w * bpp).foreach { i =>
        val a = if (i >= bpp) cur(i - bpp) else 0  // left
        val b = prev(i)                            // up
        val c = if (i >= bpp) prev(i - bpp) else 0 // upper-left
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => paeth(a, b, c)
        }
        raw(off) = ((cur(i) - pred) & 0xff).toByte; off += 1
      }
      prev = cur
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!deflater.finished())
      zbuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val lenAndBody = java.nio.ByteBuffer.allocate(8 + data.length)
        .putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(lenAndBody.array(), 4, 4 + data.length)
      out.write(lenAndBody.array(), 0, 8 + data.length)
      out.write(java.nio.ByteBuffer.allocate(4)
        .putInt(crc.getValue.toInt).array(), 0, 4)
    }
    chunk("IHDR", java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // color type: truecolor RGB
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate/adaptive/none
      .array())
    chunk("IDAT", zbuf.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Decoded-image record produced by the PNG codec. */
  final case class DecodedPng(
      doc_id: Long, w: Long, h: Long, bit_depth: Long, color_type: Long,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Pure-JVM PNG decode — no codec library, only the JDK: walk the
    * chunk stream verifying each CRC-32, read IHDR, inflate the
    * concatenated IDAT payload with java.util.zip, then reverse the
    * per-scanline filters (all five types, incl. the Paeth predictor)
    * to recover pixels. Throws on any malformed byte — a silent
    * best-effort decode would defeat the oracle. */
  private[graft] def decodePng(docId: Long, bytes: Array[Byte]): DecodedPng = {
    val sig = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt,
      0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    require(bytes.length > 8 && bytes.take(8).sameElements(sig),
      s"doc $docId: not a PNG")
    val bb = java.nio.ByteBuffer.wrap(bytes, 8, bytes.length - 8)
    var w = 0; var h = 0; var bitDepth = 0; var colorType = 0
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      val len = bb.getInt
      val typBytes = new Array[Byte](4); bb.get(typBytes)
      val typ = new String(typBytes, "US-ASCII")
      val data = new Array[Byte](len); bb.get(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typBytes); crc.update(data)
      require(bb.getInt == crc.getValue.toInt,
        s"doc $docId: CRC mismatch in $typ")
      typ match {
        case "IHDR" =>
          val ih = java.nio.ByteBuffer.wrap(data)
          w = ih.getInt; h = ih.getInt
          bitDepth = ih.get() & 0xff; colorType = ih.get() & 0xff
          require(bitDepth == 8 && colorType == 2,
            s"doc $docId: unsupported PNG ($bitDepth-bit type $colorType)")
        case "IDAT" => idat.write(data)
        case "IEND" => done = true
        case _ => () // ancillary chunks are skippable by spec
      }
    }
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    val bpp = 3
    val raw = new Array[Byte](h * (1 + w * bpp))
    var n = 0
    var stalled = false
    while (n < raw.length && !inflater.finished() && !stalled) {
      val got = inflater.inflate(raw, n, raw.length - n)
      // inflate() = 0 with all input already provided means the stream
      // is truncated/stuck — bail instead of spinning
      stalled = got == 0 && inflater.needsInput()
      n += got
    }
    inflater.end()
    require(n == raw.length, s"doc $docId: IDAT truncated ($n/${raw.length})")
    // unfilter scanlines in place
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var prev = new Array[Int](w * bpp)
    (0 until h).foreach { y =>
      val ft = raw(y * (1 + w * bpp)) & 0xff
      val base = y * (1 + w * bpp) + 1
      val cur = new Array[Int](w * bpp)
      (0 until w * bpp).foreach { i =>
        val a = if (i >= bpp) cur(i - bpp) else 0
        val b = prev(i)
        val c = if (i >= bpp) prev(i - bpp) else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => paeth(a, b, c)
          case other =>
            throw new IllegalArgumentException(
              s"doc $docId: bad filter type $other on row $y")
        }
        cur(i) = ((raw(base + i) & 0xff) + pred) & 0xff
      }
      (0 until w).foreach { x =>
        sumR += cur(x * 3); sumG += cur(x * 3 + 1); sumB += cur(x * 3 + 2)
      }
      prev = cur
    }
    val nPx = (w.toLong * h).toDouble
    DecodedPng(docId, w, h, bitDepth, colorType,
      sumR / nPx, sumG / nPx, sumB / nPx)
  }

  /** Partition-wise batch decode (q_multimodal_decode): encode each
    * doc's pixels as a real PNG, then run the full pure-JVM decode —
    * CRC-verified chunk walk, zlib inflate, five-filter scanline
    * reconstruction — inside mapPartitions (one iterator per partition,
    * so codec buffers amortize across the batch; the same seam a JNI
    * JPEG codec would occupy). The oracle recomputes width/height and
    * mean R/G/B from doc_id arithmetic alone, so the hash match proves
    * the compressed-image decode byte-for-byte — this retires the
    * former stub kernel. */
  val qMultimodalDecode = Q(
    "q_multimodal_decode",
    (s, d) => {
      import s.implicits._
      Tables.t(s, d, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions { batch =>
          // codec init once per partition batch
          batch.map(id => decodePng(id, pngBytes(id)))
        }
        .toDF()
        .withColumn("mean_r", round(col("mean_r"), 6))
        .withColumn("mean_g", round(col("mean_g"), 6))
        .withColumn("mean_b", round(col("mean_b"), 6))
        .orderBy(col("doc_id"))
    },
    Some("""WITH spec AS (
              SELECT doc_id, 4 + doc_id % 3 AS w, 2 + doc_id % 2 AS h,
                CAST(8 AS BIGINT) AS bit_depth,
                CAST(2 AS BIGINT) AS color_type
              FROM documents),
            px AS (
              SELECT doc_id, i % w AS x, CAST(i // w AS BIGINT) AS y,
                w, h, bit_depth, color_type
              FROM (SELECT *, unnest(generate_series(0, w * h - 1)) AS i
                    FROM spec))
            SELECT doc_id, w, h, bit_depth, color_type,
              round(avg((doc_id * 7 + x * 19 + y * 23) % 256), 6) AS mean_r,
              round(avg((doc_id * 5 + x * 11 + y * 17) % 256), 6) AS mean_g,
              round(avg((doc_id * 3 + x * 7 + y * 13) % 256), 6) AS mean_b
            FROM px
            GROUP BY doc_id, w, h, bit_depth, color_type
            ORDER BY doc_id NULLS FIRST"""))

  /** Deterministic 16-bit mono PCM WAV blob for doc_id: canonical
    * 44-byte RIFF header + n samples, sample i = (doc_id·7919 +
    * i·104729) mod 2¹⁶ as signed LE. Pure byte layout — no codec
    * library involved — so the container format is decodable with
    * nothing but substring/conv expressions. */
  private def wavBytes(docId: Long): Array[Byte] = {
    val n = (8 + docId % 9).toInt
    val sampleRate = (8000 + (docId % 4) * 4000).toInt
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer
      .allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    (0 until n).foreach { i =>
      bb.putShort(((docId * 7919 + i * 104729) % 65536).toShort)
    }
    bb.array()
  }

  /** Real audio-container decode (q_multimodal_wav): WAV/RIFF is pure
    * byte layout, so — unlike the codec-dependent image stub — the FULL
    * decode runs as Catalyst expressions: header tags verified, format
    * fields read as little-endian ints from `substring`+`conv`, samples
    * exploded per index with two's-complement sign recovery, and the
    * mean |amplitude| aggregated per doc. The blob is built by a
    * deterministic generator (the fixture half); the DuckDB oracle
    * recomputes every decoded field from doc_id arithmetic alone, so a
    * green hash proves byte-level container fidelity end to end. */
  val qMultimodalWav = Q(
    "q_multimodal_wav",
    (s, d) => {
      import s.implicits._
      val blobs = Tables.t(s, d, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, wavBytes(id))))
        .toDF("doc_id", "wav")
      // little-endian unsigned int read: nbytes bytes at 1-based pos
      def le(pos: Int, nbytes: Int): String =
        (0 until nbytes).map(k =>
          s"(CAST(conv(hex(substring(wav, ${pos + k}, 1)), 16, 10) AS BIGINT)" +
            s" * ${1L << (8 * k)})").mkString("(", " + ", ")")
      blobs
        .withColumn("header_ok", expr(
          """CAST(substring(wav, 1, 4) AS STRING) = 'RIFF' AND
             CAST(substring(wav, 9, 4) AS STRING) = 'WAVE' AND
             CAST(substring(wav, 13, 4) AS STRING) = 'fmt ' AND
             CAST(substring(wav, 37, 4) AS STRING) = 'data'"""))
        .withColumn("sample_rate", expr(le(25, 4)))
        .withColumn("n_channels", expr(le(23, 2)))
        .withColumn("bits", expr(le(35, 2)))
        .withColumn("n_samples", expr(le(41, 4) + " / 2").cast("long"))
        .withColumn("i", explode(expr(
          "sequence(CAST(0 AS BIGINT), n_samples - 1)")))
        .withColumn("raw", expr(le(45, 2)
          .replace("substring(wav, 45", "substring(wav, CAST(45 + 2 * i AS INT)")
          .replace("substring(wav, 46", "substring(wav, CAST(46 + 2 * i AS INT)")))
        .withColumn("sample", expr(
          "CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END"))
        .groupBy(col("doc_id"), col("header_ok"), col("sample_rate"),
          col("n_channels"), col("bits"), col("n_samples"))
        .agg(round(avg(abs(col("sample"))), 6).as("mean_abs_amp"))
        .select(col("doc_id"), col("header_ok"), col("sample_rate"),
          col("n_channels"), col("bits"), col("n_samples"),
          col("mean_abs_amp"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH docs AS (SELECT doc_id FROM documents),
            spec AS (
              SELECT doc_id, TRUE AS header_ok,
                8000 + (doc_id % 4) * 4000 AS sample_rate,
                CAST(1 AS BIGINT) AS n_channels,
                CAST(16 AS BIGINT) AS bits,
                8 + doc_id % 9 AS n_samples
              FROM docs),
            samples AS (
              SELECT doc_id, unnest(generate_series(0, n_samples - 1)) AS i
              FROM spec)
            SELECT s.doc_id, header_ok, sample_rate, n_channels, bits,
              n_samples,
              round(avg(abs(CASE WHEN raw >= 32768 THEN raw - 65536
                                 ELSE raw END)), 6) AS mean_abs_amp
            FROM spec s
            JOIN (SELECT doc_id, i,
                    (doc_id * 7919 + i * 104729) % 65536 AS raw
                  FROM samples) x ON s.doc_id = x.doc_id
            GROUP BY s.doc_id, header_ok, sample_rate, n_channels, bits,
              n_samples
            ORDER BY s.doc_id NULLS FIRST"""))

  /** Frame-level audio features (q_multimodal_audio_feat): windowed RMS
    * energy + zero-crossing rate over the decoded PCM — the feature-
    * extraction step AFTER container decode that an audio curation
    * pipeline runs (silence trimming, speech/music gating). Scale
    * shape: the full decode builds each doc's sample ARRAY in one
    * scan-local `transform` over the bytes (no per-sample explode), the
    * sliding frames (window 4, hop 2) explode per FRAME, and every
    * feature is array algebra on a `slice` — zero joins, zero
    * shuffles before the output sort, exactly the q_doc_cdc discipline.
    * The DuckDB oracle recomputes both features from the generator
    * arithmetic alone, so a green hash proves byte decode + framing +
    * feature math end to end. */
  /** Decoded per-frame sample windows (doc_id, f, frame[4]) — the
    * byte-exact WAV decode + framing shared by the feature extractor
    * and the silence segmenter. */
  private def audioFrames(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      val blobs = Tables.t(s, d, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, wavBytes(id))))
        .toDF("doc_id", "wav")
      def le(pos: Int, nbytes: Int): String =
        (0 until nbytes).map(k =>
          s"(CAST(conv(hex(substring(wav, ${pos + k}, 1)), 16, 10) AS BIGINT)" +
            s" * ${1L << (8 * k)})").mkString("(", " + ", ")")
      blobs
        .withColumn("n_samples", expr(le(41, 4) + " / 2").cast("long"))
        // full PCM decode as ONE array build: LE u16 at 45 + 2i, then
        // two's-complement sign recovery
        .withColumn("samples", expr(
          """transform(sequence(CAST(0 AS BIGINT), n_samples - 1), i ->
               CASE WHEN
                 (CAST(conv(hex(substring(wav, CAST(45 + 2 * i AS INT), 1)),
                    16, 10) AS BIGINT)
                  + CAST(conv(hex(substring(wav, CAST(46 + 2 * i AS INT), 1)),
                      16, 10) AS BIGINT) * 256) >= 32768
               THEN
                 (CAST(conv(hex(substring(wav, CAST(45 + 2 * i AS INT), 1)),
                    16, 10) AS BIGINT)
                  + CAST(conv(hex(substring(wav, CAST(46 + 2 * i AS INT), 1)),
                      16, 10) AS BIGINT) * 256) - 65536
               ELSE
                 (CAST(conv(hex(substring(wav, CAST(45 + 2 * i AS INT), 1)),
                    16, 10) AS BIGINT)
                  + CAST(conv(hex(substring(wav, CAST(46 + 2 * i AS INT), 1)),
                      16, 10) AS BIGINT) * 256)
               END)"""))
        .withColumn("f", explode(expr(
          "sequence(CAST(0 AS BIGINT), (n_samples - 4) div 2)")))
        .withColumn("frame", expr(
          "slice(samples, CAST(2 * f + 1 AS INT), 4)"))
  }

  val qMultimodalAudioFeat = Q(
    "q_multimodal_audio_feat",
    (s, d) =>
      audioFrames(s, d)
        .select(col("doc_id"), col("f"),
          round(sqrt(expr(
            """aggregate(frame, CAST(0 AS DOUBLE),
                 (acc, x) -> acc + CAST(x AS DOUBLE) * x) / 4.0""")), 6)
            .as("rms"),
          expr("""size(filter(
                    zip_with(slice(frame, 1, 3), slice(frame, 2, 3),
                      (a, b) -> (a >= 0) != (b >= 0)),
                    v -> v))""").cast("long").as("zcr"))
        .orderBy(col("doc_id"), col("f")),
    Some("""WITH spec AS (
              SELECT doc_id, 8 + doc_id % 9 AS n FROM documents),
            frames AS (
              SELECT doc_id, n,
                unnest(generate_series(0, (n - 4) // 2)) AS f
              FROM spec),
            samp AS (
              SELECT doc_id, f, unnest(generate_series(0, 3)) AS j
              FROM frames),
            vals AS (
              SELECT doc_id, f,
                CASE WHEN (doc_id*7919 + (2*f+j)*104729) % 65536 >= 32768
                     THEN (doc_id*7919 + (2*f+j)*104729) % 65536 - 65536
                     ELSE (doc_id*7919 + (2*f+j)*104729) % 65536 END AS s
              FROM samp),
            rms AS (
              SELECT doc_id, f, round(sqrt(sum(s * s) / 4.0), 6) AS rms
              FROM vals GROUP BY doc_id, f),
            pairs AS (
              SELECT doc_id, f, unnest(generate_series(0, 2)) AS j
              FROM frames),
            zc AS (
              SELECT doc_id, f,
                CAST(sum(CASE WHEN sgn_a != sgn_b THEN 1 ELSE 0 END)
                  AS BIGINT) AS zcr
              FROM (SELECT doc_id, f,
                      ((doc_id*7919 + (2*f+j)*104729) % 65536 < 32768)
                        AS sgn_a,
                      ((doc_id*7919 + (2*f+j+1)*104729) % 65536 < 32768)
                        AS sgn_b
                    FROM pairs) x
              GROUP BY doc_id, f)
            SELECT r.doc_id, r.f, r.rms, z.zcr
            FROM rms r JOIN zc z ON r.doc_id = z.doc_id AND r.f = z.f
            ORDER BY r.doc_id NULLS FIRST, r.f NULLS FIRST"""))

  /** Deterministic 24-bit uncompressed BMP for doc_id: BITMAPFILEHEADER
    * + BITMAPINFOHEADER + bottom-up pixel rows padded to 4 bytes.
    * Channel (x, y) values are fixed arithmetic in doc_id so the oracle
    * can recompute them without touching bytes. */
  private def bmpBytes(docId: Long): Array[Byte] = {
    val w = (4 + docId % 3).toInt
    val h = (2 + docId % 2).toInt
    val stride = ((3 * w + 3) / 4) * 4
    val dataLen = stride * h
    val bb = java.nio.ByteBuffer
      .allocate(54 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + dataLen)
      .putInt(0).putInt(54)           // reserved, pixel-data offset
      .putInt(40).putInt(w).putInt(h) // info header
      .putShort(1).putShort(24).putInt(0).putInt(dataLen)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    (0 until h).foreach { yUp => // rows stored bottom-up
      val y = h - 1 - yUp
      (0 until w).foreach { x =>
        bb.put(((docId * 3 + x * 7 + y * 13) % 256).toByte)  // B
        bb.put(((docId * 5 + x * 11 + y * 17) % 256).toByte) // G
        bb.put(((docId * 7 + x * 19 + y * 23) % 256).toByte) // R
      }
      (3 * w until stride).foreach(_ => bb.put(0.toByte))
    }
    bb.array()
  }

  /** Real image-container decode (q_multimodal_bmp): like the WAV path,
    * an uncompressed BMP is pure byte layout — header fields read as
    * little-endian ints, pixel positions computed from stride/offset
    * arithmetic (bottom-up rows, 4-byte padding), channels sliced with
    * substring+conv, per-image mean R/G/B aggregated. The oracle
    * recomputes everything from doc_id arithmetic, so the hash match
    * proves the byte-level image decode end to end. */
  val qMultimodalBmp = Q(
    "q_multimodal_bmp",
    (s, d) => {
      import s.implicits._
      val blobs = Tables.t(s, d, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, bmpBytes(id))))
        .toDF("doc_id", "bmp")
      def le(pos: String, nbytes: Int): String =
        (0 until nbytes).map(k =>
          s"(CAST(conv(hex(substring(bmp, CAST(($pos) + $k AS INT), 1))," +
            s" 16, 10) AS BIGINT) * ${1L << (8 * k)})")
          .mkString("(", " + ", ")")
      blobs
        .withColumn("magic_ok",
          expr("CAST(substring(bmp, 1, 2) AS STRING) = 'BM'"))
        .withColumn("offset", expr(le("11", 4)))
        .withColumn("w", expr(le("19", 4)))
        .withColumn("h", expr(le("23", 4)))
        .withColumn("bpp", expr(le("29", 2)))
        .withColumn("stride", expr("CAST((3 * w + 3) / 4 AS BIGINT) * 4"))
        .withColumn("i", explode(expr(
          "sequence(CAST(0 AS BIGINT), w * h - 1)")))
        .withColumn("x", col("i") % col("w"))
        .withColumn("y", (col("i") / col("w")).cast("long"))
        .withColumn("pos", col("offset") +
          (col("h") - 1 - col("y")) * col("stride") + col("x") * 3 + 1)
        .withColumn("b", expr(le("pos", 1)))
        .withColumn("g", expr(le("pos + 1", 1)))
        .withColumn("r", expr(le("pos + 2", 1)))
        .groupBy(col("doc_id"), col("magic_ok"), col("w"), col("h"),
          col("bpp"))
        .agg(
          round(avg(col("r")), 6).as("mean_r"),
          round(avg(col("g")), 6).as("mean_g"),
          round(avg(col("b")), 6).as("mean_b"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH spec AS (
              SELECT doc_id, TRUE AS magic_ok,
                4 + doc_id % 3 AS w, 2 + doc_id % 2 AS h,
                CAST(24 AS BIGINT) AS bpp
              FROM documents),
            px AS (
              SELECT doc_id, i % w AS x, CAST(i // w AS BIGINT) AS y,
                magic_ok, w, h, bpp
              FROM (SELECT *, unnest(generate_series(0, w * h - 1)) AS i
                    FROM spec))
            SELECT doc_id, magic_ok, w, h, bpp,
              round(avg((doc_id * 7 + x * 19 + y * 23) % 256), 6) AS mean_r,
              round(avg((doc_id * 5 + x * 11 + y * 17) % 256), 6) AS mean_g,
              round(avg((doc_id * 3 + x * 7 + y * 13) % 256), 6) AS mean_b
            FROM px
            GROUP BY doc_id, magic_ok, w, h, bpp
            ORDER BY doc_id NULLS FIRST"""))

  /** Frame sampling + resize (q_multimodal_frames): explode each video
    * payload into its frame indices, keep every 2nd frame, attach the
    * resize-target dims (half resolution, floor-to-even) and a per-frame
    * feature derived from the payload header — all metadata arithmetic,
    * so the scan prunes to video rows before any frame is materialized.
    * The pixel-level resize kernel itself lives behind the decode stub
    * (q_multimodal_decode); this is the planning/shape layer a 100 TB
    * video pipeline runs first. */
  val qMultimodalFrames = Q(
    "q_multimodal_frames",
    (s, d) =>
      media(s, d)
        .filter(col("modality") === "video")
        .withColumn("n_frames",
          (lit(1) + ascii(substring(col("md5_hex"), 3, 1)) % 7)
            .cast("long"))
        .withColumn("width",
          (lit(16) + (ascii(substring(col("md5_hex"), 1, 1)) % 8) * 16)
            .cast("long"))
        .withColumn("frame_idx",
          explode(expr("sequence(CAST(0 AS BIGINT), n_frames - 1)")))
        .filter(col("frame_idx") % 2 === 0) // sample every 2nd frame
        .select(
          col("doc_id"), col("frame_idx"), col("n_frames"),
          (col("width") / 2).cast("long").as("resized_w"),
          ((ascii(substring(col("md5_hex"), 4, 1)) +
            col("frame_idx") * 7) % 256).cast("long").as("frame_feature"))
        .orderBy(col("doc_id"), col("frame_idx")),
    Some("""SELECT doc_id, frame_idx, n_frames,
              CAST(width // 2 AS BIGINT) AS resized_w,
              CAST((ascii(substr(md5(text), 4, 1)) + frame_idx * 7) % 256
                   AS BIGINT) AS frame_feature
            FROM (
              SELECT doc_id, text,
                CAST(1 + ascii(substr(md5(text), 3, 1)) % 7 AS BIGINT)
                  AS n_frames,
                CAST(16 + (ascii(substr(md5(text), 1, 1)) % 8) * 16
                     AS BIGINT) AS width,
                unnest(generate_series(0,
                  CAST(ascii(substr(md5(text), 3, 1)) % 7 AS BIGINT)))
                  AS frame_idx
              FROM documents
              WHERE CAST(doc_id % 3 AS INT) = 2)
            WHERE frame_idx % 2 = 0
            ORDER BY doc_id NULLS FIRST, frame_idx NULLS FIRST"""))

  /** Deterministic minimal ISO-BMFF (MP4) blob for doc_id: big-endian
    * [size][type] boxes — `ftyp` with a VARIABLE brand list (k =
    * doc_id mod 3 + 1 compatible brands, so the ftyp size — and with it
    * every later box offset — differs per doc), `moov` containing a
    * version-0 `mvhd` (timescale + duration), and an `mdat` whose
    * payload length and bytes are doc_id arithmetic. Box sizes must be
    * READ from the stream to find the next box — fixed offsets cannot
    * decode it. */
  private[graft] def mp4Bytes(docId: Long): Array[Byte] = {
    val k = (docId % 3 + 1).toInt
    val ftypLen = 16 + 4 * k
    val mvhdLen = 108 // standard v0 mvhd
    val moovLen = 8 + mvhdLen
    val nMdat = (5 + docId % 7).toInt
    val mdatLen = 8 + nMdat
    val timescale = (600 + (docId % 5) * 100).toInt
    val duration = ((docId % 50 + 1) * 100).toInt
    val bb = java.nio.ByteBuffer
      .allocate(ftypLen + moovLen + mdatLen)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(ftypLen).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(512)
    (0 until k).foreach(i =>
      bb.put((if (i % 2 == 0) "mp41" else "avc1").getBytes("US-ASCII")))
    bb.putInt(moovLen).put("moov".getBytes("US-ASCII"))
    bb.putInt(mvhdLen).put("mvhd".getBytes("US-ASCII"))
      .putInt(0)                       // version + flags
      .putInt(0).putInt(0)             // ctime, mtime
      .putInt(timescale).putInt(duration)
    // 8 hdr + 4 version/flags + 4 ctime + 4 mtime + 4 timescale +
    // 4 duration = 28 bytes written; the rest of the 108-byte v0 mvhd
    // (rate/volume/reserved/matrix/next_track) stays zero
    bb.position(bb.position() + (mvhdLen - 28))
    bb.putInt(mdatLen).put("mdat".getBytes("US-ASCII"))
    (0 until nMdat).foreach(i =>
      bb.put(((docId * 31 + i * 17) % 256).toByte))
    bb.array()
  }

  /** Real video-container decode (q_multimodal_mp4): an ISO-BMFF box
    * WALK as Catalyst expressions — every offset below is computed from
    * a size field READ out of the bytes (big-endian `substring`+`conv`),
    * because the variable-length ftyp brand list shifts every later
    * box: ftyp size → moov offset → mvhd timescale/duration → mdat
    * offset → payload byte sum. The oracle recomputes all decoded
    * fields from doc_id arithmetic alone, so a green hash proves the
    * chained-offset walk byte-for-byte (the same fixture-half/real-half
    * contract as the WAV/BMP/PNG decoders). Scan-local per-row
    * expressions + one explode for the payload sum — no shuffle before
    * the keyed agg. */
  val qMultimodalMp4 = Q(
    "q_multimodal_mp4",
    (s, d) => {
      import s.implicits._
      val blobs = Tables.t(s, d, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, mp4Bytes(id))))
        .toDF("doc_id", "mp4")
      // big-endian unsigned int read: nbytes at 1-based position expr
      def be(pos: String, nbytes: Int): String =
        (0 until nbytes).map(k =>
          s"(CAST(conv(hex(substring(mp4, CAST(($pos) + $k AS INT), 1)), " +
            s"16, 10) AS BIGINT) * ${1L << (8 * (nbytes - 1 - k))})")
          .mkString("(", " + ", ")")
      blobs
        .withColumn("ftyp_size", expr(be("1", 4)))
        .withColumn("boxes_ok", expr(
          s"""CAST(substring(mp4, 5, 4) AS STRING) = 'ftyp' AND
              CAST(substring(mp4, CAST(ftyp_size + 5 AS INT), 4)
                AS STRING) = 'moov' AND
              CAST(substring(mp4, CAST(ftyp_size + 13 AS INT), 4)
                AS STRING) = 'mvhd'"""))
        .withColumn("major_brand",
          expr("CAST(substring(mp4, 9, 4) AS STRING)"))
        .withColumn("n_brands",
          expr("(ftyp_size - 16) div 4").cast("long"))
        // mvhd payload at ftyp_size+17: version/flags, ctime, mtime,
        // then timescale (+29) and duration (+33)
        .withColumn("timescale", expr(be("ftyp_size + 29", 4)))
        .withColumn("duration", expr(be("ftyp_size + 33", 4)))
        .withColumn("moov_size", expr(be("ftyp_size + 1", 4)))
        .withColumn("mdat_pos", col("ftyp_size") + col("moov_size") + 1)
        .withColumn("mdat_ok", expr(
          "CAST(substring(mp4, CAST(mdat_pos + 4 AS INT), 4) AS STRING)" +
            " = 'mdat'"))
        .withColumn("n_mdat", expr(be("mdat_pos", 4) + " - 8"))
        // bounded decode: a corrupt size field must fail the oracle
        // hash, not OOM the executor on a billion-element sequence
        .withColumn("i", explode(expr(
          "sequence(CAST(0 AS BIGINT), least(n_mdat, 4096) - 1)")))
        .withColumn("byte", expr(be("mdat_pos + 8 + i", 1)))
        .groupBy(col("doc_id"), col("boxes_ok"), col("mdat_ok"),
          col("major_brand"), col("n_brands"), col("timescale"),
          col("duration"), col("n_mdat"))
        .agg(sum(col("byte")).as("mdat_byte_sum"))
        .withColumn("duration_s",
          round(col("duration") * lit(1.0) / col("timescale"), 6))
        .select(col("doc_id"), col("boxes_ok"), col("mdat_ok"),
          col("major_brand"), col("n_brands"), col("timescale"),
          col("duration"), col("duration_s"), col("n_mdat"),
          col("mdat_byte_sum"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH spec AS (
              SELECT doc_id, TRUE AS boxes_ok, TRUE AS mdat_ok,
                'isom' AS major_brand,
                doc_id % 3 + 1 AS n_brands,
                600 + (doc_id % 5) * 100 AS timescale,
                (doc_id % 50 + 1) * 100 AS duration,
                5 + doc_id % 7 AS n_mdat
              FROM documents),
            payload AS (
              SELECT doc_id, unnest(generate_series(0, n_mdat - 1)) AS i
              FROM spec)
            SELECT s.doc_id, boxes_ok, mdat_ok, major_brand, n_brands,
              timescale, duration,
              round(duration * 1.0e0 / timescale, 6) AS duration_s,
              n_mdat,
              CAST(sum((s.doc_id * 31 + p.i * 17) % 256) AS BIGINT)
                AS mdat_byte_sum
            FROM spec s JOIN payload p ON s.doc_id = p.doc_id
            GROUP BY s.doc_id, boxes_ok, mdat_ok, major_brand, n_brands,
              timescale, duration, n_mdat
            ORDER BY s.doc_id NULLS FIRST"""))

  /** Perceptual average-hash over decoded BMP pixels
    * (q_multimodal_phash): per image, grayscale every pixel (integer
    * R+G+B), set bit (y·w+x) when the pixel is strictly brighter than
    * the image mean, pack into one BIGINT — the aHash every image-dedup
    * pipeline buckets on. The brightness test is the integer
    * cross-multiplication gray·n > Σgray (no float mean), so the hash
    * is engine-exact; byte decode reuses the BMP pipeline and the
    * oracle recomputes pixels from doc_id arithmetic, proving the
    * byte-level decode THROUGH the fingerprint. */
  /** Shared fingerprint frame (doc_id, w, h, phash, dhash): the aHash
    * plus a circular gradient hash — bit i set when
    * gray(i) > gray((i+1) mod w·h) in row-major order. The dHash is the
    * adaptive-banding EXTRA-bit pool for the pairs query: a true
    * near-dup perturbs few pixels, so both hashes move together —
    * the same role the extra sign bits play in q_dedup_semantic. Both
    * hashes decode from the BMP bytes in one pass over one exploded
    * per-pixel frame. Persisted once per (session, dir): the phash,
    * pairs, and audit operators all start from this table, and each
    * was re-running the full decode+window pass (~2 s at sf0.1). */
  private[graft] def phashFrame(s: SparkSession, d: String): DataFrame =
    Fixpoints.cacheOnce(s, d, "phashframe")(phashFrameBuild(s, d))

  /** Bench-warmup hook for the shared fingerprint frame. */
  private[graft] def warmShared(s: SparkSession, d: String): Unit = {
    phashFrame(s, d)
    ()
  }

  private def phashFrameBuild(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val blobs = Tables.t(s, d, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, bmpBytes(id))))
      .toDF("doc_id", "bmp")
    def le(pos: String, nbytes: Int): String =
      (0 until nbytes).map(k =>
        s"(CAST(conv(hex(substring(bmp, CAST(($pos) + $k AS INT), 1))," +
          s" 16, 10) AS BIGINT) * ${1L << (8 * k)})")
        .mkString("(", " + ", ")")
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
    blobs
      .withColumn("offset", expr(le("11", 4)))
      .withColumn("w", expr(le("19", 4)))
      .withColumn("h", expr(le("23", 4)))
      .withColumn("stride", expr("CAST((3 * w + 3) / 4 AS BIGINT) * 4"))
      .withColumn("i", explode(expr(
        "sequence(CAST(0 AS BIGINT), w * h - 1)")))
      .withColumn("x", col("i") % col("w"))
      .withColumn("y", (col("i") / col("w")).cast("long"))
      .withColumn("pos", col("offset") +
        (col("h") - 1 - col("y")) * col("stride") + col("x") * 3 + 1)
      .withColumn("gray",
        expr(le("pos", 1)) + expr(le("pos + 1", 1)) +
          expr(le("pos + 2", 1)))
      .withColumn("i2", (col("i") + 1) % (col("w") * col("h")))
      .withColumn("x2", col("i2") % col("w"))
      .withColumn("y2", (col("i2") / col("w")).cast("long"))
      .withColumn("pos2", col("offset") +
        (col("h") - 1 - col("y2")) * col("stride") + col("x2") * 3 + 1)
      .withColumn("gray2",
        expr(le("pos2", 1)) + expr(le("pos2 + 1", 1)) +
          expr(le("pos2 + 2", 1)))
      .withColumn("tg", sum(col("gray")).over(w2))
      .withColumn("n", count(lit(1)).over(w2))
      .groupBy(col("doc_id"), col("w"), col("h"))
      .agg(
        sum(when(col("gray") * col("n") > col("tg"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(i AS INT))"))
          .otherwise(0L)).as("phash"),
        sum(when(col("gray") > col("gray2"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(i AS INT))"))
          .otherwise(0L)).as("dhash"))
  }

  val qMultimodalPhash = Q(
    "q_multimodal_phash",
    (s, d) =>
      phashFrame(s, d)
        .select(col("doc_id"), col("w"), col("h"), col("phash"))
        .orderBy(col("doc_id")),
    Some("""WITH spec AS (
              SELECT doc_id, 4 + doc_id % 3 AS w, 2 + doc_id % 2 AS h
              FROM documents),
            px AS (
              SELECT doc_id, w, h, i, i % w AS x,
                CAST(i // w AS BIGINT) AS y
              FROM (SELECT *, unnest(generate_series(0, w * h - 1)) AS i
                    FROM spec)),
            gr AS (
              SELECT doc_id, w, h, i,
                (doc_id * 7 + x * 19 + y * 23) % 256
                  + (doc_id * 5 + x * 11 + y * 17) % 256
                  + (doc_id * 3 + x * 7 + y * 13) % 256 AS gray
              FROM px),
            tot AS (
              SELECT doc_id, CAST(sum(gray) AS BIGINT) AS tg,
                CAST(count(*) AS BIGINT) AS n
              FROM gr GROUP BY doc_id)
            SELECT g.doc_id, w, h,
              CAST(sum(CASE WHEN g.gray * t.n > t.tg
                       THEN 1 << i ELSE 0 END) AS BIGINT) AS phash
            FROM gr g JOIN tot t ON g.doc_id = t.doc_id
            GROUP BY g.doc_id, w, h
            ORDER BY g.doc_id NULLS FIRST"""))

  /** Corpus-adaptive band candidates over the fingerprint frame: 3
    * bands of a 6-bit aHash slice (two hashes within Hamming 2 share a
    * whole band by pigeonhole) WIDENED by kx = min(8,
    * floor(log2(n div 500))) low dHash bits, so the bucket space grows
    * WITH the corpus and per-bucket occupancy — hence per-doc candidate
    * count — stays flat instead of the fixed ~10³-key space whose
    * buckets fill linearly and pair quadratically (the
    * q_dedup_semantic/semBands discipline, Dedup.scala). `probe` adds
    * Hamming-≤1 multi-probe over the extra bits: one join side also
    * probes each single-bit flip of its extra key, recovering twins
    * whose perturbation crossed one widened-bucket boundary at a
    * (kx+1)-factor key expansion — O(log n) per doc, never a wider
    * bucket. At n ≤ 500 (the sf0.001/0.01 fixtures) kx = 0 and the
    * scheme is bit-identical to the fixed 3×6-bit reference. */
  /** `kxFrom`: corpus whose COUNT sets the adaptive width — defaults
    * to `hashes` itself; the audit passes the full corpus here while
    * generating pairs only inside its bounded sample, so recall is
    * measured at the production operating point. */
  private[graft] def phashCands(hashes: DataFrame, adaptive: Boolean,
      probe: Boolean, kxFrom: Option[DataFrame] = None): DataFrame = {
    val kTab =
      if (!adaptive) hashes.sparkSession.range(1).select(lit(0).as("kx"))
      else kxFrom.getOrElse(hashes).agg(count(lit(1)).as("n_img"))
        .select(least(lit(8), when(expr("n_img div 500") <= 0, lit(0))
          .otherwise(expr("length(bin(n_img div 500)) - 1")))
          .cast("int").as("kx"))
    val bands = hashes.crossJoin(broadcast(kTab))
      .select(col("doc_id").as("bv"), col("w"), col("h"), col("kx"),
        expr("dhash & (shiftleft(CAST(1 AS BIGINT), kx) - 1)")
          .as("extra"),
        expr("""stack(3,
             CAST(0 AS INT), phash & 63,
             CAST(1 AS INT), shiftright(phash, 6) & 63,
             CAST(2 AS INT), shiftright(phash, 12) & 63)
           AS (band, base)"""))
    val probed =
      if (!probe) bands.select(col("bv"), col("w"), col("h"),
        col("band"), col("base"), col("extra").as("probe"))
      else bands.select(col("bv"), col("w"), col("h"), col("band"),
        col("base"),
        explode(expr(
          """filter(transform(sequence(0, 8), p ->
               CASE WHEN p = 0 THEN extra
                    WHEN p <= kx THEN extra ^ shiftleft(CAST(1 AS BIGINT), p - 1)
               END),
             x -> x IS NOT NULL)""")).as("probe"))
    probed.as("x").join(bands.as("y"),
        col("x.w") === col("y.w") && col("x.h") === col("y.h") &&
        col("x.band") === col("y.band") &&
        col("x.base") === col("y.base") &&
        col("x.probe") === col("y.extra") &&
        col("x.bv") < col("y.bv"))
      .select(col("x.bv").as("a_id"), col("y.bv").as("b_id"))
      .distinct()
  }

  /** DuckDB mirror of phashFrame: hashes(doc_id, w, h, phash, dhash)
    * recomputed from the generator arithmetic, plus the kx CTE. */
  private val phashHashesSql =
    """spec AS (
         SELECT doc_id, 4 + doc_id % 3 AS w, 2 + doc_id % 2 AS h
         FROM documents),
       px AS (
         SELECT doc_id, w, h, i, i % w AS x,
           CAST(i // w AS BIGINT) AS y,
           ((i + 1) % (w * h)) % w AS x2,
           CAST((i + 1) % (w * h) // w AS BIGINT) AS y2
         FROM (SELECT *, unnest(generate_series(0, w * h - 1)) AS i
               FROM spec)),
       gr AS (
         SELECT doc_id, w, h, i,
           (doc_id * 7 + x * 19 + y * 23) % 256
             + (doc_id * 5 + x * 11 + y * 17) % 256
             + (doc_id * 3 + x * 7 + y * 13) % 256 AS gray,
           (doc_id * 7 + x2 * 19 + y2 * 23) % 256
             + (doc_id * 5 + x2 * 11 + y2 * 17) % 256
             + (doc_id * 3 + x2 * 7 + y2 * 13) % 256 AS gray2
         FROM px),
       tot AS (
         SELECT doc_id, CAST(sum(gray) AS BIGINT) AS tg,
           CAST(count(*) AS BIGINT) AS n
         FROM gr GROUP BY doc_id),
       hashes AS (
         SELECT g.doc_id, w, h,
           CAST(sum(CASE WHEN g.gray * t.n > t.tg
                    THEN 1 << i ELSE 0 END) AS BIGINT) AS phash,
           CAST(sum(CASE WHEN g.gray > g.gray2
                    THEN 1 << i ELSE 0 END) AS BIGINT) AS dhash
         FROM gr g JOIN tot t ON g.doc_id = t.doc_id
         GROUP BY g.doc_id, w, h),
       kk AS (
         SELECT CAST(least(8, CASE WHEN count(*) // 500 = 0 THEN 0
             ELSE length(bin(CAST(count(*) // 500 AS BIGINT))) - 1 END)
           AS INT) AS kx
         FROM hashes)"""

  /** bands/probes/cand CTE text with a scheme suffix, matching the
    * Spark phashCands construction bit for bit. */
  private def phashCandSql(sfx: String, adaptive: Boolean,
      probe: Boolean, src: String = "hashes"): String = {
    val kx = if (adaptive) "kk.kx" else "CAST(0 AS INT)"
    val probes =
      if (probe)
        s"""probes$sfx AS (
              SELECT bv, w, h, kx, band, base,
                CASE WHEN p = 0 THEN extra
                     ELSE xor(extra, CAST(1 << (p - 1) AS BIGINT)) END
                  AS probe
              FROM bands$sfx
              CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS p) ps
              WHERE p = 0 OR p <= kx),"""
      else
        s"""probes$sfx AS (
              SELECT bv, w, h, kx, band, base, extra AS probe
              FROM bands$sfx),"""
    s"""bands$sfx AS (
          SELECT doc_id AS bv, w, h, $kx AS kx, b AS band,
            CAST((phash >> (6 * b)) & 63 AS BIGINT) AS base,
            CAST(dhash & ((1 << $kx) - 1) AS BIGINT) AS extra
          FROM $src CROSS JOIN kk
          CROSS JOIN (SELECT unnest([0, 1, 2]) AS b) bs),
        $probes
        cand$sfx AS (
          SELECT DISTINCT x.bv AS a_id, y.bv AS b_id
          FROM probes$sfx x JOIN bands$sfx y
            ON x.w = y.w AND x.h = y.h AND x.band = y.band
           AND x.base = y.base AND x.probe = y.extra
           AND x.bv < y.bv)"""
  }

  /** Near-duplicate images by banded Hamming join
    * (q_multimodal_phash_pairs): candidates from the CORPUS-ADAPTIVE
    * multi-probe banding above (equi-join on band key, never an
    * all-pairs Hamming matrix and never a fixed bucket space that
    * pairs quadratically at 100×); bit_count of the xor is the
    * residual filter. At the ≤500-doc fixtures kx = 0 so the result
    * equals the fixed pigeonhole scheme exactly; at larger corpora
    * q_multimodal_phash_audit measures the recall the widening trades.
    * Completes the multimodal story: decode → fingerprint
    * (q_multimodal_phash) → dedup pairs. */
  val qMultimodalPhashPairs = Q(
    "q_multimodal_phash_pairs",
    (s, d) => {
      // one hash row per doc (tiny); localCheckpoint so the pixel
      // explode + window runs ONCE, not once per downstream join
      val hashes = phashFrame(s, d)
      phashCands(hashes, adaptive = true, probe = true)
        .join(hashes.select(col("doc_id").as("ja"),
          col("phash").as("a_hash")), col("a_id") === col("ja"))
        .join(hashes.select(col("doc_id").as("jb"),
          col("phash").as("b_hash")), col("b_id") === col("jb"))
        .withColumn("hamming",
          expr("bit_count(a_hash ^ b_hash)").cast("long"))
        .filter(col("hamming") <= 2)
        .select(col("a_id"), col("b_id"), col("a_hash"), col("b_hash"),
          col("hamming"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""WITH $phashHashesSql,
            ${phashCandSql("", adaptive = true, probe = true)}
            SELECT a_id, b_id, a_hash, b_hash,
              CAST(bit_count(xor(a_hash, b_hash)) AS BIGINT) AS hamming
            FROM (SELECT c.a_id, c.b_id, ha.phash AS a_hash,
                    hb.phash AS b_hash
                  FROM cand c
                  JOIN hashes ha ON ha.doc_id = c.a_id
                  JOIN hashes hb ON hb.doc_id = c.b_id)
            WHERE bit_count(xor(a_hash, b_hash)) <= 2
            ORDER BY a_id NULLS FIRST, b_id NULLS FIRST"""))

  /** Banding recall audit for the image tier
    * (q_multimodal_phash_audit) — the q_dedup_lsh_audit discipline
    * applied to the phash pairs: inside a FIXED literal sample
    * (doc_id < 2000, a bound that never grows with the corpus), one
    * row per scheme with its candidate-pair count and verified
    * Hamming-≤2 pair count, plus recall vs the fixed 3×6-bit
    * pigeonhole reference (exhaustive at d ≤ 2 by construction). The
    * exhaustive reference — whose candidate load is inherently
    * quadratic in bucket occupancy — exists ONLY inside the sample;
    * the adaptive kx is still derived from the FULL corpus count
    * (kxFrom), so recall is measured at the production operating
    * point. On the fixtures the Hamming-≤2 "twins" are random hash
    * collisions — true near-dup images share dHash bits far more
    * often, so adaptive recall here is a lower bound. */
  val qMultimodalPhashAudit = Q(
    "q_multimodal_phash_audit",
    (s, d) => {
      val hashes = phashFrame(s, d)
      val sample = hashes.filter(col("doc_id") < 2000)
      def verified(cand: DataFrame): DataFrame = cand
        .join(sample.select(col("doc_id").as("ja"),
          col("phash").as("a_hash")), col("a_id") === col("ja"))
        .join(sample.select(col("doc_id").as("jb"),
          col("phash").as("b_hash")), col("b_id") === col("jb"))
        .filter(expr("bit_count(a_hash ^ b_hash)") <= 2)
        .select(col("a_id"), col("b_id"))
      def row(scheme: String, cand: DataFrame): DataFrame = {
        val v = verified(cand)
        cand.agg(count(lit(1)).as("n_cand"))
          .crossJoin(broadcast(v.agg(count(lit(1)).as("n_pairs"))))
          .select(lit(scheme).as("scheme"), col("n_cand"),
            col("n_pairs"))
      }
      val fixedC = phashCands(sample, adaptive = false, probe = false)
      val adptC = phashCands(sample, adaptive = true, probe = true,
        kxFrom = Some(hashes))
      val base = verified(fixedC).agg(count(lit(1)).as("n_base"))
      row("adaptive_probe", adptC).union(row("fixed", fixedC))
        .crossJoin(broadcast(base))
        .withColumn("recall",
          when(col("n_base") === 0, lit(null).cast("double"))
            .otherwise(round(
              col("n_pairs").cast("double") / col("n_base"), 6)))
        .select(col("scheme"), col("n_cand"), col("n_pairs"),
          col("recall"))
        .orderBy(col("scheme"))
    },
    Some(s"""WITH $phashHashesSql,
            sample AS (SELECT * FROM hashes WHERE doc_id < 2000),
            ${phashCandSql("_f", adaptive = false, probe = false,
              src = "sample")},
            ${phashCandSql("_a", adaptive = true, probe = true,
              src = "sample")},
            ver_f AS (
              SELECT c.a_id, c.b_id FROM cand_f c
              JOIN sample ha ON ha.doc_id = c.a_id
              JOIN sample hb ON hb.doc_id = c.b_id
              WHERE bit_count(xor(ha.phash, hb.phash)) <= 2),
            ver_a AS (
              SELECT c.a_id, c.b_id FROM cand_a c
              JOIN sample ha ON ha.doc_id = c.a_id
              JOIN sample hb ON hb.doc_id = c.b_id
              WHERE bit_count(xor(ha.phash, hb.phash)) <= 2),
            base AS (SELECT count(*) AS n_base FROM ver_f)
            SELECT scheme, n_cand, n_pairs,
              CASE WHEN n_base = 0 THEN NULL
                ELSE round(CAST(n_pairs AS DOUBLE) / n_base, 6) END
                AS recall
            FROM (
              SELECT 'adaptive_probe' AS scheme,
                CAST((SELECT count(*) FROM cand_a) AS BIGINT) AS n_cand,
                CAST((SELECT count(*) FROM ver_a) AS BIGINT) AS n_pairs
              UNION ALL
              SELECT 'fixed' AS scheme,
                CAST((SELECT count(*) FROM cand_f) AS BIGINT) AS n_cand,
                CAST((SELECT count(*) FROM ver_f) AS BIGINT) AS n_pairs)
            CROSS JOIN base
            ORDER BY scheme NULLS FIRST"""))

  /** Deterministic animated GIF89a: logical screen + 4-entry global
    * color table + (1 + id%3) frames, each a graphics-control
    * extension (delay 10·(f+1) cs) + image descriptor + a fixed 8-byte
    * data sub-block (structure-valid, payload deterministic from id —
    * the LZW stream itself is a fake, the CONTAINER layout is real). */
  private def gifBytes(docId: Long): Array[Byte] = {
    val w = (4 + docId % 3).toInt
    val h = (2 + docId % 2).toInt
    val n = (1 + docId % 3).toInt
    val bb = java.nio.ByteBuffer.allocate(26 + n * 29)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("GIF89a".getBytes("US-ASCII"))
      .putShort(w.toShort).putShort(h.toShort)
      .put(0x91.toByte)                  // GCT flag, color res 1, size 1
      .put((docId % 4).toByte).put(0.toByte)
    (0 until 4).foreach { j =>
      bb.put(((docId * 7 + j * 31) % 256).toByte)
        .put(((docId * 11 + j * 37) % 256).toByte)
        .put(((docId * 13 + j * 41) % 256).toByte)
    }
    (0 until n).foreach { f =>
      bb.put(0x21.toByte).put(0xF9.toByte).put(0x04.toByte)
        .put(0.toByte).putShort((10 * (f + 1)).toShort)
        .put(0.toByte).put(0.toByte)
      bb.put(0x2C.toByte).putShort(0).putShort(0)
        .putShort(w.toShort).putShort(h.toShort).put(0.toByte)
      bb.put(2.toByte).put(8.toByte)
      (0 until 8).foreach(k =>
        bb.put(((docId + 3 * f + k) % 256).toByte))
      bb.put(0.toByte)
    }
    bb.put(0x3B.toByte)
    bb.array()
  }

  /** Real animation-container decode (q_multimodal_gif): GIF89a is the
    * third pure-byte-layout image family next to BMP and PNG — header
    * magic, little-endian screen descriptor, packed GCT flags
    * (bit-sliced with div/mod), then the frame chain walked by FIXED
    * STRIDE (our generator emits one 8-byte sub-block per frame, so
    * frame f sits at 26 + 29·f): per frame the 0x21/0x2C separators
    * are verified, the GCE delay is read LE16 and summed, and the
    * payload bytes fold into a checksum — all as codegen'd
    * substring+conv expressions over the binary column, one explode
    * per frame (bounded by the container's own length field, the
    * n_mdat lesson). The oracle recomputes every field from the same
    * doc_id arithmetic. */
  val qMultimodalGif = Q(
    "q_multimodal_gif",
    (s, d) => {
      import s.implicits._
      val blobs = Tables.t(s, d, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, gifBytes(id))))
        .toDF("doc_id", "gif")
      def le(pos: String, nbytes: Int): String =
        (0 until nbytes).map(k =>
          s"(CAST(conv(hex(substring(gif, CAST(($pos) + $k AS INT), 1))," +
            s" 16, 10) AS BIGINT) * ${1L << (8 * k)})")
          .mkString("(", " + ", ")")
      blobs
        .withColumn("magic_ok",
          expr("CAST(substring(gif, 1, 6) AS STRING) = 'GIF89a'"))
        .withColumn("w", expr(le("7", 2)))
        .withColumn("h", expr(le("9", 2)))
        .withColumn("packed", expr(le("11", 1)))
        .withColumn("gct_flag", expr("packed div 128"))
        .withColumn("n_gct",
          expr("CAST(pow(2, 1 + packed % 8) AS BIGINT)"))
        .withColumn("bg_idx", expr(le("12", 1)))
        .withColumn("n_frames",
          expr("(length(gif) - 26) div 29").cast("long"))
        .withColumn("f", explode(expr(
          "sequence(CAST(0 AS BIGINT), least(n_frames, 64) - 1)")))
        .withColumn("b", lit(26L) + col("f") * 29)
        .withColumn("sep_ok",
          expr(le("b", 1)) === 0x21 && expr(le("b + 8", 1)) === 0x2C)
        .withColumn("delay_cs", expr(le("b + 4", 2)))
        .withColumn("payload", (0 until 8)
          .map(k => expr(le(s"b + 20 + $k", 1)))
          .reduce(_ + _))
        .groupBy(col("doc_id"), col("magic_ok"), col("w"), col("h"),
          col("gct_flag"), col("n_gct"), col("bg_idx"), col("n_frames"))
        .agg(
          min(col("sep_ok").cast("long")).as("frames_ok"),
          sum(col("delay_cs")).as("total_delay_cs"),
          sum(col("payload")).as("payload_sum"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH spec AS (
              SELECT doc_id, TRUE AS magic_ok,
                4 + doc_id % 3 AS w, 2 + doc_id % 2 AS h,
                CAST(1 AS BIGINT) AS gct_flag,
                CAST(4 AS BIGINT) AS n_gct,
                doc_id % 4 AS bg_idx,
                1 + doc_id % 3 AS n
              FROM documents),
            per_frame AS (
              SELECT s.doc_id, f.f,
                10 * (f.f + 1) AS delay_cs,
                (SELECT sum((s.doc_id + 3 * f.f + k.k) % 256)
                 FROM (SELECT unnest(generate_series(0, 7)) AS k) k)
                  AS payload
              FROM spec s, LATERAL (
                SELECT unnest(generate_series(0, s.n - 1)) AS f) f)
            SELECT s.doc_id, s.magic_ok, s.w, s.h, s.gct_flag, s.n_gct,
              s.bg_idx, CAST(s.n AS BIGINT) AS n_frames,
              CAST(1 AS BIGINT) AS frames_ok,
              CAST(sum(p.delay_cs) AS BIGINT) AS total_delay_cs,
              CAST(sum(p.payload) AS BIGINT) AS payload_sum
            FROM spec s JOIN per_frame p USING (doc_id)
            GROUP BY s.doc_id, s.magic_ok, s.w, s.h, s.gct_flag,
              s.n_gct, s.bg_idx, s.n
            ORDER BY s.doc_id NULLS FIRST"""))

  /** Silence-run segmentation (q_multimodal_silence): gaps-and-islands
    * over the decoded audio frames — frames whose INTEGER energy
    * Σ s² falls below the gate are "silent", consecutive silent frames
    * merge into runs, and each clip reports its run census (count,
    * longest, silent share) — the silence-trimming planner an audio
    * curation pipeline runs after q_multimodal_audio_feat. The gate
    * compares the exact BIGINT energy (never the rounded RMS double);
    * islands use the classic f − row_number() grouping inside each
    * clip (keyed window, frames-per-clip bounded by the header). */
  val qMultimodalSilence = Q(
    "q_multimodal_silence",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val framed = audioFrames(s, d)
        .select(col("doc_id"), col("f"),
          expr("""aggregate(frame, CAST(0 AS BIGINT),
               (acc, x) -> acc + x * x)""").as("ss"))
        .withColumn("silent",
          when(col("ss") < 1500000000L, 1L).otherwise(0L))
      val runs = framed.filter(col("silent") === 1L)
        .withColumn("grp", col("f") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("f"))))
        .groupBy(col("doc_id"), col("grp"))
        .agg(count(lit(1)).as("run_len"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_runs"), max(col("run_len")).as("longest"))
      framed.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"), sum(col("silent")).as("n_silent"))
        .join(runs, Seq("doc_id"), "left")
        .selectExpr("doc_id", "n_frames", "n_silent",
          "coalesce(n_runs, 0L) AS n_runs",
          "coalesce(longest, 0L) AS longest_run",
          "round(CAST(n_silent AS DOUBLE) / n_frames, 6)" +
            " AS silent_share")
        .orderBy(col("doc_id"))
    },
    Some("""WITH spec AS (
        SELECT doc_id, 8 + doc_id % 9 AS n FROM documents),
      frames AS (
        SELECT doc_id, n, unnest(generate_series(0, (n - 4) // 2)) AS f
        FROM spec),
      samp AS (
        SELECT doc_id, f, unnest(generate_series(0, 3)) AS j
        FROM frames),
      vals AS (
        SELECT doc_id, f,
          CASE WHEN (doc_id*7919 + (2*f+j)*104729) % 65536 >= 32768
               THEN (doc_id*7919 + (2*f+j)*104729) % 65536 - 65536
               ELSE (doc_id*7919 + (2*f+j)*104729) % 65536 END AS s
        FROM samp),
      energy AS (
        SELECT doc_id, f, CAST(sum(s * s) AS BIGINT) AS ss
        FROM vals GROUP BY doc_id, f),
      flagged AS (
        SELECT doc_id, f,
          CASE WHEN ss < 1500000000 THEN 1 ELSE 0 END AS silent
        FROM energy),
      runs AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
          CAST(max(run_len) AS BIGINT) AS longest
        FROM (
          SELECT doc_id, grp, count(*) AS run_len FROM (
            SELECT doc_id, f,
              f - row_number() OVER (PARTITION BY doc_id ORDER BY f)
                AS grp
            FROM flagged WHERE silent = 1) g
          GROUP BY doc_id, grp) r
        GROUP BY doc_id),
      tot AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
          CAST(sum(silent) AS BIGINT) AS n_silent
        FROM flagged GROUP BY doc_id)
      SELECT t.doc_id, n_frames, n_silent,
        coalesce(n_runs, 0) AS n_runs,
        coalesce(longest, 0) AS longest_run,
        round(CAST(n_silent AS DOUBLE) / n_frames, 6) AS silent_share
      FROM tot t LEFT JOIN runs r ON t.doc_id = r.doc_id
      ORDER BY t.doc_id NULLS FIRST"""))

  /** Scene-cut segmentation (q_multimodal_scenecut): the step after
    * frame sampling (q_multimodal_frames) in a video curation
    * pipeline — adjacent-frame feature deltas above a threshold mark
    * shot boundaries, and clips are described by their cut census.
    * Frame features vary per frame through a different md5 header byte
    * (ascii of hex digit 1 + frame mod 8) plus a stride term, so cuts
    * land content-dependently; the lag runs per video (keyed window,
    * frames-per-video bounded by the container header). Output: per
    * video the frame count, cut count and first cut index — all
    * integer arithmetic. */
  val qMultimodalScenecut = Q(
    "q_multimodal_scenecut",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val frames = media(s, d)
        .filter(col("modality") === "video")
        .withColumn("n_frames",
          (lit(1) + ascii(substring(col("md5_hex"), 3, 1)) % 7)
            .cast("long"))
        .withColumn("frame_idx",
          explode(expr("sequence(CAST(0 AS BIGINT), n_frames - 1)")))
        .withColumn("feat", expr(
          """CAST((ascii(substring(md5_hex,
               CAST(1 + frame_idx % 8 AS INT), 1)) * 7
             + frame_idx * 13) % 256 AS BIGINT)"""))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      frames
        .withColumn("prev", lag(col("feat"), 1).over(w))
        .withColumn("is_cut",
          when(col("prev").isNotNull &&
            abs(col("feat") - col("prev")) > 64L, 1L).otherwise(0L))
        .groupBy(col("doc_id"))
        .agg(max(col("n_frames")).as("n_frames"),
          sum(col("is_cut")).as("n_cuts"),
          min(when(col("is_cut") === 1L, col("frame_idx")))
            .as("first_cut_idx"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH vid AS (
        SELECT doc_id, md5(text) AS md5_hex,
          CAST(1 + ascii(substr(md5(text), 3, 1)) % 7 AS BIGINT)
            AS n_frames
        FROM documents WHERE doc_id % 3 = 2),
      frames AS (
        SELECT doc_id, n_frames,
          unnest(generate_series(CAST(0 AS BIGINT), n_frames - 1))
            AS frame_idx,
          md5_hex
        FROM vid),
      feats AS (
        SELECT doc_id, n_frames, frame_idx,
          CAST((ascii(substr(md5_hex,
              CAST(1 + frame_idx % 8 AS INT), 1)) * 7
            + frame_idx * 13) % 256 AS BIGINT) AS feat
        FROM frames),
      lagged AS (
        SELECT doc_id, n_frames, frame_idx, feat,
          lag(feat, 1) OVER (PARTITION BY doc_id ORDER BY frame_idx)
            AS prev
        FROM feats)
      SELECT doc_id, max(n_frames) AS n_frames,
        CAST(sum(CASE WHEN prev IS NOT NULL AND abs(feat - prev) > 64
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        min(CASE WHEN prev IS NOT NULL AND abs(feat - prev) > 64
            THEN frame_idx END) AS first_cut_idx
      FROM lagged
      GROUP BY doc_id
      ORDER BY doc_id NULLS FIRST"""))

  /** Deterministic STORED (method 0) ZIP blob for doc_id:
    * 1 + id % 4 members named f<j>.txt with 3 + (id+j) % 5 payload
    * bytes of generator arithmetic, full local-header / central-
    * directory / EOCD layout with REAL CRC-32s (the JDK ZipInputStream
    * parses these blobs — the spec proves it). The external-attributes
    * field carries the payload byte sum: the checksum the engines CAN
    * recompute relationally (DuckDB has no crc32), so the oracle still
    * verifies payload integrity end to end. */
  private[graft] def zipBytes(docId: Long): Array[Byte] = {
    val n = (1 + docId % 4).toInt
    val lens = (0 until n).map(j => (3 + (docId + j) % 5).toInt)
    def payload(j: Int): Array[Byte] = (0 until lens(j))
      .map(k => ((docId * 31 + j * 17 + k * 7) % 256).toByte).toArray
    def sums(j: Int): Long =
      payload(j).map(b => (b & 0xff).toLong).sum
    def crc32(j: Int): Int = {
      val c = new java.util.zip.CRC32
      c.update(payload(j))
      c.getValue.toInt
    }
    val lfhOffsets = lens.scanLeft(0)((acc, l) => acc + 36 + l)
    val cdOff = lfhOffsets.last
    val bb = java.nio.ByteBuffer.allocate(cdOff + 52 * n + 22)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach { j =>
      bb.put(Array[Byte](0x50, 0x4B, 3, 4))
        .putShort(20).putShort(0).putShort(0).putShort(0).putShort(0)
        .putInt(crc32(j)).putInt(lens(j)).putInt(lens(j))
        .putShort(6).putShort(0)
        .put(s"f$j.txt".getBytes("US-ASCII"))
        .put(payload(j))
    }
    (0 until n).foreach { j =>
      bb.put(Array[Byte](0x50, 0x4B, 1, 2))
        .putShort(20).putShort(20).putShort(0).putShort(0)
        .putShort(0).putShort(0)
        .putInt(crc32(j)).putInt(lens(j)).putInt(lens(j))
        .putShort(6).putShort(0).putShort(0).putShort(0).putShort(0)
        .putInt(sums(j).toInt).putInt(lfhOffsets(j))
        .put(s"f$j.txt".getBytes("US-ASCII"))
    }
    bb.put(Array[Byte](0x50, 0x4B, 5, 6)).putShort(0).putShort(0)
      .putShort(n.toShort).putShort(n.toShort)
      .putInt(52 * n).putInt(cdOff).putShort(0)
    bb.array()
  }

  /** Archive-container walk (q_multimodal_zip): decode a STORED ZIP
    * entirely with Catalyst byte-slicing — locate the end-of-central-
    * directory record from the BLOB TAIL (length(zip) − 21, the real
    * back-scan a ZIP reader does), read the little-endian entry
    * count / directory size / offset, walk the central directory by
    * chained offsets (the q_multimodal_mp4 discipline), follow each
    * entry's local-header pointer to its payload, and re-sum the
    * payload bytes against the stored checksum field. Per doc: member
    * count, directory size, payload total, and three integrity
    * counters. The DuckDB oracle recomputes every field from the
    * generator arithmetic alone, so a green hash proves the whole
    * walk byte-for-byte. Scan-local: explodes are bounded by member
    * count × payload length (≤ 4 × 7). */
  val qMultimodalZip = Q(
    "q_multimodal_zip",
    (s, d) => {
      import s.implicits._
      def leAt(p: String, nbytes: Int): String =
        (0 until nbytes).map(k =>
          s"(CAST(conv(hex(substring(zip, CAST(($p) + $k AS INT), 1))," +
            s" 16, 10) AS BIGINT) * ${1L << (8 * k)})")
          .mkString("(", " + ", ")")
      val blobs = Tables.t(s, d, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, zipBytes(id))))
        .toDF("doc_id", "zip")
      blobs
        .withColumn("eocd", expr("CAST(length(zip) AS BIGINT) - 21"))
        .withColumn("eocd_ok", expr(
          "hex(substring(zip, CAST(eocd AS INT), 4)) = '504B0506'"))
        .withColumn("n_entries", expr(leAt("eocd + 10", 2)))
        .withColumn("cd_size", expr(leAt("eocd + 12", 4)))
        .withColumn("cd_off", expr(leAt("eocd + 16", 4)))
        .withColumn("j", explode(expr(
          "sequence(CAST(0 AS BIGINT), n_entries - 1)")))
        .withColumn("ep", expr("cd_off + 1 + 52 * j"))
        .withColumn("sig_ok", expr(
          """hex(substring(zip, CAST(ep AS INT), 4)) = '504B0102' AND
             hex(substring(zip, CAST(""" + leAt("ep + 42", 4) +
            """ + 1 AS INT), 4)) = '504B0304'"""))
        .withColumn("sumfield", expr(leAt("ep + 38", 4)))
        .withColumn("usize", expr(leAt("ep + 24", 4)))
        .withColumn("lfh", expr(leAt("ep + 42", 4)))
        .withColumn("nm", expr(
          "CAST(substring(zip, CAST(ep + 46 AS INT), 6) AS STRING)"))
        .withColumn("dsum", expr(
          """aggregate(sequence(CAST(0 AS BIGINT), usize - 1),
               CAST(0 AS BIGINT), (acc, k) -> acc +
               CAST(conv(hex(substring(zip, CAST(lfh + 37 + k AS INT),
                 1)), 16, 10) AS BIGINT))"""))
        .groupBy(col("doc_id"), col("eocd_ok"), col("n_entries"),
          col("cd_size"))
        .agg(sum(col("usize")).as("total_bytes"),
          sum(when(col("sig_ok"), 1L).otherwise(0L)).as("n_sig_ok"),
          sum(when(col("sumfield") === col("dsum"), 1L).otherwise(0L))
            .as("n_checksum_ok"),
          sum(when(expr("nm = concat('f', CAST(j AS STRING), '.txt')"),
            1L).otherwise(0L)).as("n_name_ok"))
        .select(col("doc_id"), col("eocd_ok"), col("n_entries"),
          col("cd_size"), col("total_bytes").cast("long")
            .as("total_bytes"),
          col("n_sig_ok"), col("n_checksum_ok"), col("n_name_ok"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH spec AS (
              SELECT doc_id, 1 + doc_id % 4 AS n FROM documents),
            ent AS (
              SELECT doc_id, n,
                unnest(generate_series(0, n - 1)) AS j
              FROM spec),
            lens AS (
              SELECT doc_id, n, j, 3 + (doc_id + j) % 5 AS len
              FROM ent),
            bytes AS (
              SELECT doc_id, n, j, len,
                unnest(generate_series(0, len - 1)) AS k
              FROM lens),
            per AS (
              SELECT doc_id, any_value(n) AS n, j,
                any_value(len) AS len
              FROM bytes GROUP BY doc_id, j)
            SELECT doc_id, TRUE AS eocd_ok,
              CAST(any_value(n) AS BIGINT) AS n_entries,
              CAST(52 * any_value(n) AS BIGINT) AS cd_size,
              CAST(sum(len) AS BIGINT) AS total_bytes,
              CAST(count(*) AS BIGINT) AS n_sig_ok,
              CAST(count(*) AS BIGINT) AS n_checksum_ok,
              CAST(count(*) AS BIGINT) AS n_name_ok
            FROM per
            GROUP BY doc_id
            ORDER BY doc_id NULLS FIRST"""))

  // ---- q_multimodal_histogram --------------------------------------------

  /** Corpus luminance histogram (q_multimodal_histogram): the 8-bucket
    * BT.601 luma distribution over EVERY pixel of every BMP in the
    * corpus — the global exposure census an image-curation gate reads
    * before setting brightness filters (per-image means live in
    * q_multimodal_bmp; this is the pixel-population view). Luma stays
    * in exact integer millis (r·299 + g·587 + b·114 ≤ 255 000, bucket
    * = luma ÷ 32 000), so the histogram and per-bucket mean are exact
    * until one double division; the byte-level decode is the same
    * substring+conv stride arithmetic the BMP op proves against the
    * doc_id-generated oracle. */
  val qMultimodalHistogram = Q(
    "q_multimodal_histogram",
    (s, d) => {
      import s.implicits._
      val blobs = Tables.t(s, d, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, bmpBytes(id))))
        .toDF("doc_id", "bmp")
      def le(pos: String, nbytes: Int): String =
        (0 until nbytes).map(k =>
          s"(CAST(conv(hex(substring(bmp, CAST(($pos) + $k AS INT), 1))," +
            s" 16, 10) AS BIGINT) * ${1L << (8 * k)})")
          .mkString("(", " + ", ")")
      val px = blobs
        .withColumn("offset", expr(le("11", 4)))
        .withColumn("w", expr(le("19", 4)))
        .withColumn("h", expr(le("23", 4)))
        .withColumn("stride", expr("CAST((3 * w + 3) / 4 AS BIGINT) * 4"))
        .withColumn("i", explode(expr(
          "sequence(CAST(0 AS BIGINT), w * h - 1)")))
        .withColumn("x", col("i") % col("w"))
        .withColumn("y", (col("i") / col("w")).cast("long"))
        .withColumn("pos", col("offset") +
          (col("h") - 1 - col("y")) * col("stride") + col("x") * 3 + 1)
        .withColumn("lum", expr(
          s"${le("pos + 2", 1)} * 299 + ${le("pos + 1", 1)} * 587" +
            s" + ${le("pos", 1)} * 114"))
      val hist = px.groupBy(expr("lum DIV 32000").as("bucket"))
        .agg(count(lit(1)).as("n_px"), sum(col("lum")).as("sl"))
      val tot = hist.agg(sum(col("n_px")).as("tp"))
      hist.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_px"),
          round(expr("CAST(n_px AS DOUBLE) / tp"), 6).as("share"),
          round(expr("CAST(sl AS DOUBLE) / n_px / 1000.0D"), 6)
            .as("mean_luma"))
        .orderBy(col("bucket"))
    },
    Some("""WITH spec AS (
              SELECT doc_id, 4 + doc_id % 3 AS w, 2 + doc_id % 2 AS h
              FROM documents),
            px AS (
              SELECT doc_id, i % w AS x, CAST(i // w AS BIGINT) AS y
              FROM (SELECT *, unnest(generate_series(0, w * h - 1)) AS i
                    FROM spec)),
            lums AS (
              SELECT ((doc_id * 7 + x * 19 + y * 23) % 256) * 299
                   + ((doc_id * 5 + x * 11 + y * 17) % 256) * 587
                   + ((doc_id * 3 + x * 7 + y * 13) % 256) * 114 AS lum
              FROM px),
            hist AS (
              SELECT lum // 32000 AS bucket,
                CAST(count(*) AS BIGINT) AS n_px,
                CAST(sum(lum) AS BIGINT) AS sl
              FROM lums GROUP BY lum // 32000),
            tot AS (SELECT CAST(sum(n_px) AS BIGINT) AS tp FROM hist)
            SELECT CAST(bucket AS BIGINT) AS bucket, n_px,
              round(CAST(n_px AS DOUBLE) / tp, 6) AS share,
              round(CAST(sl AS DOUBLE) / n_px / 1000.0e0, 6)
                AS mean_luma
            FROM hist, tot
            ORDER BY bucket NULLS FIRST"""))

  val all: Seq[Q] =
    Seq(qMultimodalMeta, qMultimodalDecode, qMultimodalFrames,
      qMultimodalWav, qMultimodalAudioFeat, qMultimodalBmp,
      qMultimodalMp4, qMultimodalPhash, qMultimodalPhashPairs,
      qMultimodalPhashAudit, qMultimodalGif, qMultimodalScenecut,
      qMultimodalSilence, qMultimodalZip, qMultimodalHistogram)
}
