package graft

import org.apache.spark.sql.functions._

/** Similarity-search correctness on constructed vectors: exact top-k
  * geometry, ANN-vs-brute-force recall, multimodal join integrity. */
class VectorSpec extends SparkSuite {

  import spark.implicits._

  /** Probe (vec 0) + a copy, an opposite, an orthogonal, and noise. */
  private lazy val dir: String = {
    def unit(i: Int): Array[Float] = {
      val v = Array.fill(64)(0f); v(i) = 1f; v
    }
    val probe = (0 until 64).map(j => math.sin(j + 1).toFloat).toArray
    val copy = probe.clone()
    val anti = probe.map(x => -x)
    val rows = Seq(
      (0L, probe, 0), (1L, copy, 0), (2L, anti, 0),
      (3L, unit(5), 1), (4L, unit(7), 1)) ++
      (5 until 40).map(i => (i.toLong,
        (0 until 64).map(j => math.cos(i * 64 + j).toFloat).toArray, i % 3))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val docs = rows.map { case (id, _, lbl) =>
      (id, s"doc text number $id lbl $lbl words", "en", "src0", 30L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    fixtureDir("vector")("embeddings" -> emb, "documents" -> docs)
  }

  test("brute-force top-k ranks the exact copy first, anti-vector last") {
    val top = q("q_sim_topk", dir).collect()
    assert(top.head.getAs[Long]("vec_id") === 1L)
    assert(top.head.getAs[Double]("cos_sim") === 1.0)
    assert(top.forall(r => r.getAs[Double]("cos_sim") <= 1.0))
    // anti-vector scores -1, so it is never in the top half
    val ids = top.take(10).map(_.getAs[Long]("vec_id")).toSet
    assert(!ids.contains(2L))
  }

  test("sign-LSH ANN recalls the exact copy (same bucket by construction)") {
    val ann = q("q_sim_ann_lsh", dir).collect()
    assert(ann.nonEmpty)
    assert(ann.head.getAs[Long]("vec_id") === 1L)
    assert(ann.head.getAs[Double]("cos_sim") === 1.0)
  }

  test("IVF ANN searches the probe's own cell first") {
    val ivf = q("q_sim_ann_ivf", dir).collect()
    assert(ivf.nonEmpty)
    assert(ivf.head.getAs[Long]("vec_id") === 1L)
  }

  test("ANN results are a subset of brute-force ranking with cos preserved") {
    val brute = q("q_sim_topk", dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
    q("q_sim_ann_lsh", dir).collect().foreach { r =>
      val id = r.getAs[Long]("vec_id")
      brute.get(id).foreach(c => assert(c === r.getAs[Double]("cos_sim")))
    }
  }

  test("pairs: copy pair scores 1.0; threshold respected") {
    val pairs = q("q_sim_pairs", dir).collect()
    val copyPair = pairs.find(r =>
      r.getAs[Long]("a_id") == 0L && r.getAs[Long]("b_id") == 1L)
    assert(copyPair.isDefined)
    assert(copyPair.get.getAs[Double]("cos_sim") === 1.0)
    assert(pairs.forall(_.getAs[Double]("cos_sim") >= 0.3))
  }

  test("multimodal join carries both modalities, unit norms") {
    val mm = q("q_multimodal", dir).collect()
    assert(mm.length === 40)
    val r0 = mm.find(_.getAs[Long]("doc_id") == 0L).get
    assert(r0.getAs[Long]("n_tokens") === 7L)
    assert(r0.getAs[Double]("emb_norm") > 0.0)
  }

  test("audio features: RMS and ZCR match a scalar generator replay") {
    val rows = q("q_multimodal_audio_feat").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("f")) ->
        (r.getAs[Double]("rms"), r.getAs[Long]("zcr"))).toMap
    assert(rows.nonEmpty)
    def sample(docId: Long, i: Long): Long = {
      val raw = (docId * 7919 + i * 104729) % 65536
      if (raw >= 32768) raw - 65536 else raw
    }
    (0L to 30L).foreach { id =>
      val n = 8 + id % 9
      (0L to (n - 4) / 2).foreach { f =>
        val frame = (0L to 3L).map(j => sample(id, 2 * f + j))
        val rms = BigDecimal(math.sqrt(
          frame.map(s => s.toDouble * s).sum / 4.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val zcr = frame.sliding(2).count(p => (p(0) >= 0) != (p(1) >= 0))
        val (gr, gz) = rows((id, f))
        assert(math.abs(gr - rms) < 1e-6, s"rms doc=$id f=$f")
        assert(gz === zcr.toLong, s"zcr doc=$id f=$f")
      }
    }
    // every frame of every doc is present: sum of per-doc frame counts
    val nDocs = Tables.t(spark, sf0, "documents").count()
    val expectRows = (0L until nDocs)
      .map(id => (8 + id % 9 - 4) / 2 + 1).sum
    assert(rows.size.toLong === expectRows)
  }

  test("multimodal decode: PNG round-trips through the pure-JVM codec") {
    val dec = q("q_multimodal_decode", dir).collect()
    assert(dec.length === 40)
    dec.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val w = r.getAs[Long]("w"); val h = r.getAs[Long]("h")
      assert(w === 4 + id % 3 && h === 2 + id % 2)
      assert(r.getAs[Long]("bit_depth") === 8L)
      assert(r.getAs[Long]("color_type") === 2L)
      // doc 0: R(x,y) = (x*19 + y*23) % 256 over a 4×2 image
      if (id == 0L) {
        val exp = (for (y <- 0 until 2; x <- 0 until 4)
          yield (x * 19 + y * 23) % 256).sum / 8.0
        assert(math.abs(r.getAs[Double]("mean_r") - exp) < 1e-6)
      }
    }
  }

  test("PNG decode skips ancillary chunks per spec") {
    // splice a tEXt chunk (valid CRC) between IHDR and IDAT: a
    // spec-conforming decoder ignores chunks it does not know
    val png = graft.ops.Multimodal.pngBytes(5L)
    val ihdrEnd = 8 + 8 + 13 + 4 // sig + len/type + IHDR data + crc
    val data = "comment".getBytes("US-ASCII")
    val chunk = java.nio.ByteBuffer.allocate(12 + data.length)
    chunk.putInt(data.length).put("tEXt".getBytes("US-ASCII")).put(data)
    val crc = new java.util.zip.CRC32()
    crc.update(chunk.array(), 4, 4 + data.length)
    chunk.putInt(crc.getValue.toInt)
    val spliced = png.take(ihdrEnd) ++ chunk.array() ++ png.drop(ihdrEnd)
    val dec = graft.ops.Multimodal.decodePng(5L, spliced)
    val plain = graft.ops.Multimodal.decodePng(5L, png)
    assert(dec === plain)
  }

  test("PNG decode rejects a corrupted blob loudly") {
    // flip one IDAT byte: the chunk CRC must catch it
    val png = graft.ops.Multimodal.pngBytes(3L)
    png(45) = (png(45) ^ 0x01).toByte
    val e = intercept[IllegalArgumentException] {
      graft.ops.Multimodal.decodePng(3L, png)
    }
    assert(e.getMessage.contains("CRC") || e.getMessage.contains("PNG"))
  }

  test("recall gate: the planted copy is recalled; k is always 10") {
    val r = q("q_sim_recall", dir).collect().head
    assert(r.getAs[Long]("k") === 10L)
    // the exact copy shares the probe's bucket by construction, so the
    // index must recall at least it
    assert(r.getAs[Long]("n_hit") >= 1L)
    assert(r.getAs[Double]("recall_at_10") >= 0.1)
  }

  test("knn join: the planted copy pair are mutual rank-1 neighbors") {
    val knn = q("q_sim_knn_join", dir).collect()
    val byKey = knn.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("rn")) ->
      (r.getAs[Long]("b_id"), r.getAs[Double]("cos_sim"))).toMap
    assert(byKey((0L, 1L)) === ((1L, 1.0)))
    assert(byKey((1L, 1L)) === ((0L, 1.0)))
    // per-source lists: ranks contiguous from 1, cosine non-increasing
    knn.groupBy(_.getAs[Long]("a_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rn"))
      assert(sorted.map(_.getAs[Long]("rn")).toSeq ===
        (1L to sorted.length).toSeq)
      val cs = sorted.map(_.getAs[Double]("cos_sim")).toSeq
      assert(cs === cs.sorted.reverse)
    }
  }

  test("centroid cosine: identical vectors score identically, all in [-1,1]") {
    val c = q("q_sim_centroid", dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Double]("cos_to_centroid")).toMap
    assert(c(0L) === c(1L)) // copy sits exactly where the original sits
    assert(c.size === 40)
    c.values.foreach(v => assert(v >= -1.000001 && v <= 1.000001))
  }

  test("MP4 box walk: a scalar ByteBuffer replay recovers every field") {
    (0L until 40L).foreach { id =>
      val b = java.nio.ByteBuffer.wrap(graft.ops.Multimodal.mp4Bytes(id))
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      def boxType(): String = {
        val t = new Array[Byte](4); b.get(t); new String(t, "US-ASCII")
      }
      val ftypSize = b.getInt
      assert(boxType() === "ftyp")
      assert(boxType() === "isom", s"doc $id major brand")
      b.getInt // minor version
      val nBrands = (ftypSize - 16) / 4
      assert(nBrands === id % 3 + 1)
      (0 until nBrands.toInt).foreach(_ => b.getInt)
      val moovSize = b.getInt
      assert(boxType() === "moov")
      val mvhdSize = b.getInt
      assert(boxType() === "mvhd")
      assert(moovSize === mvhdSize + 8)
      b.getInt; b.getInt; b.getInt // version/flags, ctime, mtime
      assert(b.getInt === 600 + (id % 5) * 100, s"doc $id timescale")
      assert(b.getInt === (id % 50 + 1) * 100, s"doc $id duration")
      b.position(b.position() + mvhdSize - 28)
      val mdatSize = b.getInt
      assert(boxType() === "mdat")
      val n = mdatSize - 8
      assert(n === 5 + id % 7)
      var sum = 0L
      (0 until n).foreach(i => sum += b.get() & 0xff)
      val expect = (0 until n).map(i => (id * 31 + i * 17) % 256).sum
      assert(sum === expect, s"doc $id mdat byte sum")
      assert(!b.hasRemaining, s"doc $id trailing bytes")
    }
  }

  test("MP4 walk is offset-chained: brand-count change moves later boxes") {
    // docs with different (id mod 3) have different ftyp sizes, so the
    // moov/mdat offsets differ — a fixed-offset parser would break
    val sizes = (0L until 3L).map(id =>
      graft.ops.Multimodal.mp4Bytes(id).length).distinct
    assert(sizes.length > 1)
  }

  test("kNN classifier: every held-out vector with bucket-mates is judged") {
    val rows = q("q_ml_knn_classify").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (np, nc) = (r.getAs[Long]("n_pred"), r.getAs[Long]("n_correct"))
      assert(nc >= 0L && nc <= np)
      val acc = r.getAs[Double]("accuracy")
      assert(acc >= 0.0 && acc <= 1.0)
    }
    // prediction count never exceeds the held-out population
    val nTest = Tables.t(spark, sf0, "embeddings")
      .filter(col("vec_id") % 10 === 0).count()
    assert(rows.map(_.getAs[Long]("n_pred")).sum <= nTest)
  }

  test("aHash replays from the BMP generator arithmetic") {
    val got = q("q_multimodal_phash").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    assert(got.size === 500)
    (0L until 20L).foreach { id =>
      val w = (4 + id % 3).toInt
      val h = (2 + id % 2).toInt
      val grays = for (y <- 0 until h; x <- 0 until w) yield
        ((id * 7 + x * 19 + y * 23) % 256) +
          ((id * 5 + x * 11 + y * 17) % 256) +
          ((id * 3 + x * 7 + y * 13) % 256)
      val tg = grays.sum
      val n = grays.length
      var hash = 0L
      grays.zipWithIndex.foreach { case (g, i) =>
        if (g * n > tg) hash |= (1L << i)
      }
      assert(got(id) === hash, s"doc $id")
    }
  }

  test("banded Hamming join finds exactly the <=2-distance pairs") {
    val hashes = q("q_multimodal_phash").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("w"),
        r.getAs[Long]("h"), r.getAs[Long]("phash")))
    val want = (for {
      a <- hashes; b <- hashes
      if a._1 < b._1 && a._2 == b._2 && a._3 == b._3
      if java.lang.Long.bitCount(a._4 ^ b._4) <= 2
    } yield (a._1, b._1)).toSet
    val got = q("q_multimodal_phash_pairs").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(got === want) // pigeonhole banding loses nothing at d<=2
  }

  test("adaptive phash banding: planted twins 100% recalled at kx > 0") {
    // 4040 hash rows force kx = 3 (4040 div 500 = 8 -> 3 extra bits);
    // each planted twin flips <= 2 phash bits (so one 6-bit band still
    // matches by pigeonhole) and <= 1 dhash bit (the perturbation
    // envelope of a true near-dup image) — Hamming-<=1 multi-probe
    // over the extra bits must recover every one
    val n = 4000
    val base = (0 until n).map { i =>
      val w = 4L + i % 3; val h = 2L + i % 2
      val bits = (w * h).toInt
      ((i.toLong, w, h,
        (i * 2654435761L) & ((1L << bits) - 1),
        (i * 40503L + 7) & ((1L << bits) - 1)))
    }
    val twins = (0 until 40).map { j =>
      val (_, w, h, p, dh) = base(j * 97)
      val bits = (w * h).toInt
      val p2 = p ^ (1L << (j % bits)) ^ (1L << ((j * 5 + 3) % bits))
      val d2 = dh ^ (if (j % 2 == 0) 1L << (j % 8) else 0L)
      (100000L + j, w, h, p2, d2)
    }
    val hashes = (base ++ twins)
      .toDF("doc_id", "w", "h", "phash", "dhash")
    val cand = graft.ops.Multimodal
      .phashCands(hashes, adaptive = true, probe = true)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    (0 until 40).foreach { j =>
      val a = base(j * 97)._1
      assert(cand.contains((a, 100000L + j)),
        s"planted twin ($a, ${100000L + j}) missed at kx=3")
    }
    // the widened space stays bounded: far fewer candidates than the
    // all-pairs matrix (n^2/2 ~ 8.1M)
    assert(cand.size < 2000000, s"candidate load ${cand.size} too high")
  }

  test("matryoshka curve: recall rises with prefix width, 64-dim is exact") {
    val rows = q("q_sim_matryoshka", "/root/testdata/sf0.001").collect()
      .map(r => r.getAs[Long]("dim") -> r.getAs[Double]("recall"))
      .sortBy(_._1)
    assert(rows.map(_._1) === Seq(8L, 16L, 32L, 64L))
    // truncating dims can only lose ranking signal on average; the
    // full-width row ranks against itself so must be exactly 1.0
    rows.toSeq.sliding(2).foreach { case Seq((ka, ra), (kb, rb)) =>
      assert(ra <= rb + 1e-9, s"recall fell $ka->$kb: $ra > $rb")
    }
    assert(rows.last._2 === 1.0)
  }

  test("multiband ANN: recall@10 >= 0.9 vs exact top-k on the driver fixture") {
    // the registered 16x4 config, measured per probe against the exact
    // ranking - the fixture's quasi-random vectors are the adversarial
    // case for LSH, so this bound is the honest floor, not a showcase
    val e = Tables.t(spark, sf0, "embeddings")
    def exactTop10(probe: Long): Set[Long] = {
      val p = e.filter(col("vec_id") === probe)
        .select(col("embedding").as("p_emb"))
      e.filter(col("vec_id") =!= probe).crossJoin(broadcast(p))
        .select(col("vec_id"),
          (expr("float_dot(embedding, p_emb)") /
            (sqrt(expr("float_dot(embedding, embedding)")) *
             sqrt(expr("float_dot(p_emb, p_emb)")))).as("c"))
        .orderBy(col("c").desc, col("vec_id")).limit(10)
        .collect().map(_.getAs[Long]("vec_id")).toSet
    }
    val probes = Seq(0L, 2L, 7L, 42L, 250L)
    val recalls = probes.map { pid =>
      val got = ops.Vector.annMultiband(spark, sf0,
          bands = 16, bits = 4, flip = false, probeId = pid, k = 10)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      (got & exactTop10(pid)).size / 10.0
    }
    recalls.foreach(r => assert(r >= 0.9, s"per-probe recall $r < 0.9"))
  }

  test("multiband ANN: 2x16-bit multi-probe config prunes hard on planted near-dups") {
    // the 100 TB configuration: few WIDE bands (65536 buckets each) +
    // 1-bit multi-probe. On a corpus with genuine near-neighbor
    // structure it must (a) recall the planted variants and (b) touch
    // only a small candidate slice, unlike the fixture's random vectors
    val base = (0 until 64).map(j => math.sin(j * 0.7 + 1).toFloat).toArray
    def jitter(seed: Int, eps: Float): Array[Float] =
      base.zipWithIndex.map { case (x, j) =>
        x + eps * math.sin(seed * 97 + j).toFloat }
    val rows =
      Seq((0L, base, 0)) ++
      (1 to 5).map(i => (i.toLong, jitter(i, 0.02f), 0)) ++      // near-dups
      (6 until 400).map(i => (i.toLong,
        (0 until 64).map(j => math.cos(i * 64 + j).toFloat).toArray, 1))
    import spark.implicits._
    val d2 = fixtureDir("vector_planted")(
      "embeddings" -> rows.toDF("vec_id", "embedding", "label"))
    val emb2 = Tables.t(spark, d2, "embeddings")
    val got = ops.Vector.annMultiband(spark, d2,
        bands = 2, bits = 16, flip = true, probeId = 0L, k = 10,
        table = emb2)
      .collect().map(_.getAs[Long]("vec_id"))
    val planted = (1L to 5L).toSet
    assert((got.toSet & planted).size >= 5,
      s"planted near-dups not recalled: ${got.toSeq}")
    // candidate slice: everything the rerank saw is bounded well below
    // the corpus - the wide buckets did the pruning
    assert(got.length <= 10)
  }

  test("PQ ANN: ADC ranks the exact copy first; scores verify vs brute force") {
    // on the planted fixture the probe's exact copy shares every
    // subspace code, so its ADC score is the table maximum and the
    // rerank must put it first with cosine 1.0
    val got = q("q_sim_ann_pq", dir).collect()
    assert(got.nonEmpty)
    assert(got.head.getAs[Long]("vec_id") === 1L)
    assert(got.head.getAs[Double]("cos_sim") === 1.0)
    // every reranked cosine must equal the brute-force value
    val brute = q("q_sim_topk", dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
    got.foreach { r =>
      brute.get(r.getAs[Long]("vec_id"))
        .foreach(c => assert(c === r.getAs[Double]("cos_sim")))
    }
  }

  test("prune: 5 prototypes + 5 outliers per cell, proto above outlier") {
    val rows = q("q_sim_prune").collect()
    val byLabel = rows.groupBy(_.getAs[Number]("label").longValue)
    byLabel.foreach { case (lbl, rs) =>
      val proto = rs.filter(_.getAs[String]("action") == "drop_proto")
      val outl = rs.filter(_.getAs[String]("action") == "drop_outlier")
      assert(proto.length === 5, s"label $lbl proto count")
      assert(outl.length <= 5, s"label $lbl outlier count")
      // every kept-as-prototype cosine dominates every outlier cosine
      if (proto.nonEmpty && outl.nonEmpty)
        assert(proto.map(_.getAs[Double]("cos_c")).min >=
          outl.map(_.getAs[Double]("cos_c")).max, s"label $lbl ordering")
    }
    // drop list is disjoint: a vector appears once
    val ids = rows.map(_.getAs[Long]("vec_id"))
    assert(ids.distinct.length === ids.length)
  }

  test("hardneg: negatives are cross-label, top-2, similarity-ordered") {
    val rows = q("q_sim_hardneg").collect()
    assert(rows.nonEmpty)
    val labels = Tables.t(spark, sf0, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Number]("label").longValue).toMap
    rows.foreach { r =>
      val a = r.getAs[Long]("a_id")
      assert(r.getAs[Number]("neg_label").longValue !== labels(a),
        s"anchor $a got a same-label negative")
      assert(r.getAs[Long]("rn") >= 1L && r.getAs[Long]("rn") <= 2L)
    }
    rows.groupBy(_.getAs[Long]("a_id")).values.foreach { rs =>
      assert(rs.length <= 2)
      if (rs.length == 2) {
        val sorted = rs.sortBy(_.getAs[Long]("rn"))
        assert(sorted(0).getAs[Double]("cos_sim") >=
          sorted(1).getAs[Double]("cos_sim"))
      }
    }
  }

  test("threshold curve: descending cumulative conserves the pair count") {
    val rows = q("q_sim_threshold_curve").collect()
      .sortBy(_.getAs[Long]("bucket"))
    assert(rows.nonEmpty)
    val total = q("q_sim_pairs").collect().length.toLong
    // the lowest bucket's surviving count is every verified pair
    assert(rows.head.getAs[Long]("n_surviving") === total)
    // survivors can only shrink as the threshold rises
    val surv = rows.map(_.getAs[Long]("n_surviving"))
    assert(surv.zip(surv.tail).forall { case (a, b) => a >= b })
    // per-bucket counts sum back to the total
    assert(rows.map(_.getAs[Long]("n_pairs")).sum === total)
  }

  test("ivfpq: scan restricted to nprobe cells, rerank exact, recall vs ivf") {
    val rows = q("q_sim_ann_ivfpq").collect()
    assert(rows.length === 10)
    // all survivors come from at most nprobe = 2 coarse cells
    assert(rows.map(_.getAs[Int]("label")).distinct.length <= 2)
    // rerank output is exact-cosine ordered
    val cs = rows.map(_.getAs[Double]("cos_sim"))
    assert(cs.sameElements(cs.sortBy(-_)))
    // PQ quantization loses some of the within-cell exact top-10 but
    // must agree on at least half (measured: 5/10 at sf0.001, 7/10 at
    // sf0.01 on the quasi-random fixture; deterministic pipeline)
    val ivf = q("q_sim_ann_ivf").collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val overlap = rows.map(_.getAs[Long]("vec_id")).count(ivf)
    assert(overlap >= 4, s"ivfpq recall vs ivf collapsed: $overlap/10")
  }

  test("ivfpq plan: codebook LUT and probe broadcast; top-k partial") {
    val p = q("q_sim_ann_ivfpq").queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"ADC top-20 / rerank top-10 must be partial top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"LUT/cell joins must broadcast:\n$p")
  }

  test("prune: one exchange carries both per-label ranks (r17 fold)") {
    // r17: the two rank branches fused into one windowed pass — both
    // row_numbers share the label partitioning, so the scored table is
    // shuffled ONCE and the centroid program runs ONCE (embeddings=2
    // in scan_census.tsv, was 6). The window input is four narrow
    // columns; WindowGroupLimit no longer applies (two window
    // functions), which is the measured-cheaper trade.
    val df = q("q_sim_prune")
    df.collect()
    // census only the final (executed) section — AQE's toString
    // appends the initial plan, double-counting every node
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val windows = p.split("\n").count(l => l.trim.startsWith("Window ") ||
      l.contains(") Window ") || l.contains("- Window "))
    assert(windows >= 2, s"expected the two rank windows:\n$p")
    // exactly one exchange hash-partitions on label ALONE (both rank
    // windows ride it; the centroid program's (label, pos) exchanges
    // keep their composite keys and don't match)
    val labelEx = "Exchange hashpartitioning\\(label#\\d+, \\d+\\)".r
      .findAllIn(p).length
    assert(labelEx <= 1, s"rank windows must share one label exchange:\n$p")
  }

  test("multimodal_silence: island census matches a scalar run walk") {
    val got = SparkEntry.queries("q_multimodal_silence")(spark, sf0)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_frames"), r.getAs[Long]("n_silent"),
          r.getAs[Long]("n_runs"), r.getAs[Long]("longest_run")))
      .toMap
    val ids = Tables.t(spark, sf0, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    ids.foreach { id =>
      val n = 8 + id % 9
      val nFrames = ((n - 4) / 2 + 1).toInt
      def sample(idx: Long): Long = {
        val v = (id * 7919 + idx * 104729) % 65536
        if (v >= 32768) v - 65536 else v
      }
      val silent = (0 until nFrames).map { f =>
        val ss = (0 until 4).map(j => {
          val s = sample(2L * f + j); s * s
        }).sum
        ss < 1500000000L
      }
      var runs = 0; var longest = 0; var cur = 0
      silent.foreach { s =>
        if (s) { cur += 1; if (cur == 1) runs += 1
          longest = math.max(longest, cur) }
        else cur = 0
      }
      val (gf, gs, gr, gl) = got(id)
      assert(gf === nFrames.toLong, s"doc $id frames")
      assert(gs === silent.count(identity).toLong, s"doc $id silent")
      assert(gr === runs.toLong, s"doc $id runs")
      assert(gl === longest.toLong, s"doc $id longest")
    }
  }
  test("embed drift: identical parity halves read cos 1, ratio 1") {
    import spark.implicits._
    // each label: vectors 2i and 2i+1 identical -> the two parity
    // halves have the SAME centroid
    val rows = (0 until 4).flatMap { lbl =>
      (0 until 3).flatMap { i =>
        val v = (0 until 8).map(j =>
          ((lbl + 1) * 10 + i + j * 0.25).toFloat).toArray
        Seq((lbl * 100L + 2 * i, v, lbl), (lbl * 100L + 2 * i + 1, v, lbl))
      }
    }.toDF("vec_id", "embedding", "label")
    val dir = fixtureDir("vec_drift")("embeddings" -> rows)
    val got = q("q_embed_drift", dir).collect()
    assert(got.length === 4)
    got.foreach { r =>
      assert(r.getAs[Long]("n_even") === 3L)
      assert(r.getAs[Long]("n_odd") === 3L)
      assert(r.getAs[Double]("cos_drift") === 1.0,
        s"label ${r.getAs[Long]("label")}")
      assert(r.getAs[Double]("norm_ratio") === 1.0)
    }
  }

  test("centroid matrix: full pair grid, bounded, first pair replays") {
    val got = q("q_embed_centroid_matrix").collect()
    val srcs = Tables.t(spark, sf0, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ns = srcs.values.toSet.size
    assert(got.length === ns * (ns - 1) / 2)
    got.foreach { r =>
      val c = r.getAs[Double]("cos_sim")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
    }
    // scalar replay of the first pair's centroids and cosine
    val embs = Tables.t(spark, sf0, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    def centroid(src: String): Seq[Double] = {
      val vs = embs.filter(e => srcs(e._1) == src).map(_._2)
      (0 until vs.head.length).map { i =>
        BigDecimal(vs.map(_(i)).sum / vs.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val first = got.head
    val (ca, cb) = (centroid(first.getAs[String]("sa")),
      centroid(first.getAs[String]("sb")))
    def dot(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).map { case (a, b) => a * b }.reduceLeft(_ + _)
    val want = BigDecimal(dot(ca, cb) /
      (math.sqrt(dot(ca, ca)) * math.sqrt(dot(cb, cb))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(first.getAs[Double]("cos_sim") - want) < 2e-6)
  }
}
