package graft

import org.apache.spark.sql.functions._

/** Dedup operators on a fixture corpus with planted exact and near
  * duplicates (SURVEY §5.2 #2: dedup of k + d duplicates yields k). */
class DedupSpec extends SparkSuite {

  import spark.implicits._

  /** Disjoint per-doc vocabularies so unrelated docs share no shingles. */
  private def mkText(seed: Int, n: Int): String =
    (0 until n).map(j => s"d${seed}w$j").mkString(" ")

  /** 8 unique docs, doc 100 = exact copy of doc 0, doc 101 = near copy of
    * doc 1 (one extra trailing token → shingle Jaccard ≈ 0.95). */
  private lazy val dir: String = {
    val base = (0 until 8).map(i =>
      (i.toLong, mkText(i, 40), "en", s"src${i % 2}"))
    val exact = Seq((100L, mkText(0, 40), "en", "src0"))
    val near = Seq((101L, mkText(1, 40) + " extraword", "en", "src1"))
    val docs = (base ++ exact ++ near)
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    fixtureDir("dedup")("documents" -> docs)
  }

  test("prefix dedup groups docs by their opening tokens") {
    val g = q("q_dedup_prefix", dir).collect()
    // doc 100 copies doc 0 verbatim; doc 101 appends one token to doc 1,
    // so both share their victims' 8-token opening — two dup groups
    assert(g.length === 2)
    assert(g.map(_.getAs[Long]("keep_id")).toSet === Set(0L, 1L))
    assert(g.forall(_.getAs[Long]("n_docs") === 2L))
  }

  test("exact dedup: k+1 docs with one exact copy yield k groups") {
    val groups = q("q_dedup_exact", dir).collect()
    assert(groups.length === 9) // 10 docs, one exact pair
    val dupGroup = groups.filter(_.getAs[Long]("n_copies") == 2)
    assert(dupGroup.length === 1)
    assert(dupGroup(0).getAs[Long]("keep_id") === 0L)
  }

  test("minhash signatures are deterministic and identical for copies") {
    def sigs: Map[Long, Seq[Long]] =
      q("q_dedup_minhash", dir).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("i"),
          r.getAs[Long]("minhash")))
        .groupBy(_._1)
        .map { case (id, rows) =>
          id -> rows.sortBy(_._2).map(_._3).toSeq
        }
    val s1 = sigs
    assert(s1(0L) === s1(100L)) // exact copy → identical signature
    assert(s1(0L) !== s1(2L))   // unrelated docs differ
    assert(s1(0L).length === 16)
    assert(s1 === sigs) // fixed seeds → rerun identical
  }

  test("LSH near-dup finds the exact copy and the near copy, nothing else") {
    val pairs = q("q_dedup_near", dir)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    assert(pairs.contains((0L, 100L)))
    assert(pairs.contains((1L, 101L)))
    assert(pairs.size === 2)
  }

  test("simhash: identical for copies, close for near copies") {
    val sims = q("q_dedup_simhash", dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sims(0L) === sims(100L))
    val hamming = java.lang.Long.bitCount(sims(1L) ^ sims(101L))
    assert(hamming <= 6, s"near-dup hamming distance $hamming")
    val far = java.lang.Long.bitCount(sims(2L) ^ sims(5L))
    assert(far > hamming, s"far=$far near=$hamming")
  }

  test("ngram jaccard flags the planted near pair within its block") {
    val pairs = q("q_dedup_ngram", dir).collect()
      .map(r => ((r.getAs[Long]("a_id"), r.getAs[Long]("b_id")),
        r.getAs[Double]("jaccard"))).toMap
    assert(pairs.contains((0L, 100L)) && pairs((0L, 100L)) === 1.0)
    assert(pairs.contains((1L, 101L)) && pairs((1L, 101L)) > 0.8)
    assert(pairs.size === 2) // disjoint vocabularies → no other pairs
  }

  test("trim: repeated-span coverage matches hand-computed spans") {
    val rows = q("q_dedup_trim", dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("covered"),
          r.getAs[Double]("retained_ratio"))).toMap
    // exact pair 0/100: every 5-gram repeats -> fully covered
    assert(rows(0L) === ((40L, 40L, 0.0)))
    assert(rows(100L) === ((40L, 40L, 0.0)))
    // near pair 1/101: doc 1 fully covered; 101's trailing extra token
    // is the one position outside any shared window
    assert(rows(1L) === ((40L, 40L, 0.0)))
    assert(rows(101L)._1 === 41L)
    assert(rows(101L)._2 === 40L)
    assert(math.abs(rows(101L)._3 - (1.0 - 40.0 / 41.0)) < 1e-6)
    // disjoint-vocab docs retain everything
    (2L to 7L).foreach { id =>
      assert(rows(id) === ((40L, 0L, 1.0)), s"doc $id")
    }
  }

  test("components: a chain of near-copies collapses into one cluster") {
    // 0 ≈ 200 ≈ 201 form a chain (each one extra token on the last);
    // doc 5 is unrelated
    val t0 = mkText(0, 40)
    val docs = Seq(
      (0L, t0, "en", "s0"),
      (200L, t0 + " x1", "en", "s0"),
      (201L, t0 + " x1 x2", "en", "s0"),
      (5L, mkText(5, 40), "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val d2 = fixtureDir("dedup_cc")("documents" -> docs)
    val comps = q("q_dedup_components", d2).collect()
    assert(comps.length === 1)
    assert(comps(0).getAs[Long]("comp") === 0L)
    assert(comps(0).getAs[Long]("cluster_size") === 3L)
    assert(comps(0).getAs[Long]("keep_id") === 0L)
    // and the drop list removes exactly the two non-keepers
    val dropped = q("q_dedup_drop", d2).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(dropped === Set(200L, 201L))
  }

  test("components converge on a 12-link chain (diameter > old cap)") {
    // a path 0-1-2-…-12: min-label propagation alone needs 12 rounds;
    // pointer doubling must close it in O(log d) and converge cleanly
    val pairs = (0L until 12L).map(i => (i, i + 1))
      .toDF("a_id", "b_id")
    val labels = graft.ops.Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("comp")))
    assert(labels.length === 13)
    assert(labels.forall(_._2 === 0L), s"unconverged labels: ${labels.toSeq}")
  }

  test("components fail loudly when the round budget is too small") {
    val pairs = (0L until 12L).map(i => (i, i + 1))
      .toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      graft.ops.Dedup.connectedComponents(pairs, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("propagation width is derived from the counted edge count") {
    import graft.ops.Dedup.propagationWidth
    // tiny graph → 1 partition regardless of the session width
    assert(propagationWidth(12L, 32) === 1)
    // 5M edges at 2M/partition → 3
    assert(propagationWidth(5000000L, 32) === 3)
    // a 100 TB-scale pair graph clamps to the cluster's parallelism
    assert(propagationWidth(10000000000L, 32) === 32)
    assert(propagationWidth(0L, 32) === 1)
  }

  test("components run their propagation at the derived width " +
    "and restore the session conf") {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = graft.ops.Dedup.connectedComponents(pairs)
    // 24 directed edges → derived width 1; the checkpointed labels keep
    // the loop's execution-time partitioning
    assert(labels.rdd.getNumPartitions ===
      graft.ops.Dedup.propagationWidth(24L, saved.toInt))
    assert(spark.conf.get("spark.sql.shuffle.partitions") === saved)
  }

  test("embedding near-dup finds planted duplicate vectors") {
    val base = (0 until 6).map { i =>
      val v = (0 until 64).map(j =>
        math.sin(i * 64 + j + 1).toFloat).toArray
      (i.toLong, v, i % 2)
    }
    // vec 100 duplicates vec 0 (same label, same bucket, cos = 1)
    val dup = Seq((100L, base(0)._2.clone(), 0))
    val emb = (base ++ dup).toDF("vec_id", "embedding", "label")
    val d2 = fixtureDir("dedup_emb")("embeddings" -> emb)
    val pairs = q("q_dedup_embed", d2).collect()
      .map(r => ((r.getAs[Long]("a_id"), r.getAs[Long]("b_id")),
        r.getAs[Double]("cos_sim")))
    assert(pairs.exists { case ((a, b), c) => a == 0L && b == 100L && c == 1.0 })
  }

  test("semantic dedup: the planted twin drops, the original survives") {
    import spark.implicits._
    val base = (0 until 64).map(j => math.sin(j * 0.9 + 2).toFloat).toArray
    val rows = Seq((0L, base, 0), (1L, base.clone(), 0)) ++
      (2 until 50).map(i => (i.toLong,
        (0 until 64).map(j => math.cos(i * 64 + j).toFloat).toArray, 1))
    val d2 = fixtureDir("semdedup")(
      "embeddings" -> rows.toDF("vec_id", "embedding", "label"))
    val dropped = q("q_dedup_semantic", d2).collect()
    val ids = dropped.map(_.getAs[Long]("vec_id")).toSet
    // identical twins share every cell/band and tie on centroid
    // affinity - the policy drops the LARGER id
    assert(ids.contains(1L), s"twin not dropped: $ids")
    assert(!ids.contains(0L), "survivor was dropped")
    dropped.foreach { r =>
      assert(r.getAs[Long]("n_dominations") >= 1L)
      val p = r.getAs[Double]("prio")
      assert(p >= -1.0 && p <= 1.0)
    }
  }

  test("semantic banding adapts to the corpus: wider buckets at 4x the " +
    "fixture scale, multi-probe recovers recall, twins still drop") {
    import spark.implicits._
    val base = (0 until 64).map(j => math.sin(j * 1.7 + 1).toFloat).toArray
    // independent per-row gaussians (a shared trig formula would make
    // the rows shifted copies of each other and collapse every scheme
    // into the same buckets)
    val rows = Seq((0L, base, 0), (1L, base.clone(), 0)) ++
      (2 until 2048).map { i =>
        val r = new scala.util.Random(i)
        (i.toLong, Array.fill(64)(r.nextGaussian.toFloat), 1)
      }
    val d2 = fixtureDir("semadapt")(
      "embeddings" -> rows.toDF("vec_id", "embedding", "label"))
    val audit = q("q_dedup_semantic_audit", d2).collect()
      .map(r => r.getAs[String]("scheme") ->
        ((r.getAs[Long]("n_cand"), r.getAs[Double]("recall")))).toMap
    val (fc, fr) = audit("fixed_1024")
    val (bc, br) = audit("adaptive_base")
    val (pc, pr) = audit("adaptive_probe")
    assert(fr === 1.0)
    // n = 2048 -> kx = 2: the bucket space is 4x the fixed scheme's,
    // so the candidate load must drop well below the fixed load
    assert(bc < fc, s"adaptive base must prune candidates: $bc vs $fc")
    assert(pc < fc, s"multi-probe must stay below the fixed load: $pc vs $fc")
    // Hamming-<=1 probing recovers verified pairs the wider keys split
    assert(pr >= br, s"probe recall $pr below base recall $br")
    // identical twins agree on every sign bit - dropped at any kx
    val ids = q("q_dedup_semantic", d2).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(ids.contains(1L) && !ids.contains(0L))
  }

  test("bloom-fronted ingest equals the plain incremental check exactly") {
    val bloom = q("q_dedup_bloom_ingest").collect().map(_.toSeq).toSeq
    val plain = q("q_dedup_incremental").collect().map(_.toSeq).toSeq
    // the bloom only prunes; false positives die in the exact verify
    assert(bloom === plain)
    assert(bloom.nonEmpty)
    // the sketch predicate must reach the corpus scan side
    val p = q("q_dedup_bloom_ingest").queryExecution.executedPlan.toString
    assert(p.contains("might_contain") || p.contains("BloomFilterMightContain"),
      s"bloom predicate missing from the plan:\n$p")
  }

  test("banding audit: sample-bounded ground truth, full recall at j>=0.5") {
    val r = q("q_dedup_lsh_audit").collect()(0)
    // the brute-force side is literal-bounded: C(200, 2) pairs forever
    assert(r.getAs[Long]("n_pairs") === 19900L)
    val nTrue = r.getAs[Long]("n_true")
    val nHit = r.getAs[Long]("n_hit")
    assert(nTrue > 0L, "fixture should plant sample dup pairs")
    assert(nHit <= nTrue && nHit <= r.getAs[Long]("n_banded"))
    // 4x4 minhash banding at j >= 0.5: P(miss) = (1-s^4)^4 < 7% even
    // at the threshold, and planted dups sit far above it — measured
    // 3/3 (sf0.01) and 11/11 (sf0.001)
    assert(r.getAs[Double]("recall") === 1.0)
  }

  test("cluster keeper is the highest-quality member of each component") {
    val keep = q("q_dedup_cluster_keep").collect()
    val comps = q("q_dedup_components").collect()
    // same clusters as the min-id canonicalization, same sizes
    assert(keep.map(r => (r.getAs[Long]("comp"),
      r.getAs[Long]("cluster_size"))).toSet ===
      comps.map(r => (r.getAs[Long]("comp"),
        r.getAs[Long]("cluster_size"))).toSet)
    // the keeper's quality dominates the whole corpus-wide score of
    // the blind min-id keeper for its own cluster
    val qual = q("q_text_quality").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality"))
      .toMap
    val minIdKeep = comps
      .map(r => r.getAs[Long]("comp") -> r.getAs[Long]("keep_id")).toMap
    keep.foreach { r =>
      val kq = r.getAs[Double]("keep_quality")
      assert(kq === qual(r.getAs[Long]("keep_id")))
      assert(kq >= qual(minIdKeep(r.getAs[Long]("comp"))),
        s"keeper not quality-maximal in comp ${r.getAs[Long]("comp")}")
    }
  }

  test("containment: banded pairs cover the all-pairs >= 0.8 ground truth") {
    val got = SparkEntry.queries("q_dedup_containment")(spark, sf0)
      .collect()
      .map(r => (r.getAs[Long]("sub_id"), r.getAs[Long]("sup_id")) ->
        (r.getAs[Long]("n_common"), r.getAs[Long]("containment_micro")))
      .toMap
    // scalar shingle sets: distinct md5-first8 hashes of 5-gram strings
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(sh: String): Long = {
      val hex = md.digest(sh.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val sets = Tables.t(spark, sf0, "documents")
      .select(col("doc_id"), col("text")).collect()
      .flatMap { r =>
        val toks = r.getString(1).split(" ")
        if (toks.length < 5) None
        else Some(r.getLong(0) -> toks.sliding(5)
          .map(w => h32(w.mkString(" "))).toSet)
      }.toMap
    val ids = sets.keys.toSeq.sorted
    var truth = 0
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val (a, b) = (ids(i), ids(j))
      val nc = (sets(a) & sets(b)).size.toLong
      val minSz = math.min(sets(a).size, sets(b).size).toLong
      // the query's own integer-exact 0.8 cut: 5·|A∩B| >= 4·min(|A|,|B|)
      if (5 * nc >= 4 * minSz) {
        truth += 1
        val (sub, sup) =
          if (sets(a).size < sets(b).size ||
            (sets(a).size == sets(b).size && a < b)) (a, b)
          else (b, a)
        val hit = got.get((sub, sup))
        assert(hit.isDefined, s"missing containment pair ($sub,$sup)")
        assert(hit.get._1 === nc)
        assert(hit.get._2 === 1000000L * nc / minSz)
      }
    }
    // banding produced no false pairs beyond the ground truth either
    assert(got.size === truth)
  }

  test("containment: a pair at exactly 0.8 is kept by the integer cut") {
    // A has 9 tokens -> 5 shingles; B swaps the first token -> 5
    // shingles, 4 shared: containment = 4/min(5,5) = 0.8 EXACTLY —
    // the boundary a rounded-double filter can drop on a half-ulp.
    val a = (0 until 9).map(j => s"a$j").mkString(" ")
    val b = "x1 " + (0 until 8).map(j => s"a$j").mkString(" ")
    val docs = Seq((1L, a, "en", "src0"), (2L, b, "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val d2 = fixtureDir("dedup_cont08")("documents" -> docs)
    val r = q("q_dedup_containment", d2).collect()
    assert(r.length === 1, "borderline 0.8 pair must survive the cut")
    assert(r.head.getAs[Long]("sub_id") === 1L)
    assert(r.head.getAs[Long]("sup_id") === 2L)
    assert(r.head.getAs[Long]("n_common") === 4L)
    assert(r.head.getAs[Long]("containment_micro") === 800000L)
    assert(r.head.getAs[Long]("jaccard_micro") === 666666L)
  }

  test("rouge: clipped-overlap F replays for every near-dup pair") {
    val got = SparkEntry.queries("q_text_rouge")(spark, sf0).collect()
    val pairs = ops.Dedup.nearPairs(spark, sf0)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === pairs.length)
    val texts = Tables.t(spark, sf0, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(id: Long, n: Int): Map[String, Long] = {
      val ws = texts(id).split(" ", -1)
      ws.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
    }
    got.foreach { r =>
      val (a, b) = (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))
      Seq((1, "ov_unigram", "rouge1_f_micro"),
          (2, "ov_bigram", "rouge2_f_micro")).foreach {
        case (n, ovc, fc) =>
          val (ga, gb) = (grams(a, n), grams(b, n))
          val ov = ga.keySet.intersect(gb.keySet).toSeq
            .map(g => math.min(ga(g), gb(g))).sum
          val den = ga.values.sum + gb.values.sum
          assert(r.getAs[Long](ovc) === ov, s"($a,$b) n=$n overlap")
          val want = if (ov == 0L) 0L else 2000000L * ov / den
          assert(r.getAs[Long](fc) === want, s"($a,$b) n=$n f")
      }
      // near-dup pairs share most of their unigram mass
      assert(r.getAs[Long]("rouge1_f_micro") > 300000L)
    }
  }

  /** Edge texts for the MinHash kernel: NULL, too short, exactly one
    * shingle, a 5-gram repeated inside one doc, empty tokens from
    * double, leading and trailing spaces, only spaces, and multi-byte
    * UTF-8 — plus the sf0.001 corpus under shifted ids. */
  private lazy val kernelDir: String = {
    val edge = Seq[(Long, String)](
      1L -> null,
      2L -> "",
      3L -> "a b c d",
      4L -> "a b c d e",
      5L -> Seq.fill(4)("x y z u v").mkString(" "),
      6L -> "  p  q r s t u  ",
      7L -> "     ",
      8L -> "héllo wörld 日本語 テキスト ñandú 😀 ok ünïcödé",
      9L -> (mkText(9, 30) + " " + mkText(9, 30)))
      .toDF("doc_id", "text")
    val corpus = Tables.t(spark, sf0, "documents")
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    fixtureDir("dedup_kernel")("documents" -> edge.unionByName(corpus))
  }

  test("minhash kernel equals the shingle-explode aggregate on edge texts") {
    // the reference is the batch definition the kernel replaced: HOF
    // shingles, one md5 per shingle, then per-doc min / collect_set
    val h =
      "CAST(conv(substring(md5(CAST(sh AS BINARY)), 1, 8), 16, 10) AS BIGINT)"
    val mins = (0 until 16).map(i =>
      min(expr(s"((${2 * i + 1}) * h + (${7 * i + 3})) % 2147483647")))
    val want = Tables.t(spark, kernelDir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sh", explode(expr(
        """CASE WHEN size(toks) >= 5
             THEN transform(sequence(1, size(toks) - 4),
                    i -> concat_ws(' ', slice(toks, i, 5)))
             ELSE array() END""")))
      .select(col("doc_id"), expr(h).as("h"))
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail ++ Seq(
        sort_array(collect_set(col("h"))), countDistinct(col("h"))): _*)
    val fix = ops.Dedup.minhashWithSets(spark, kernelDir)
    val got = fix.select(col("doc_id") +: (0 until 16).map(i => col(s"m$i")) :+
      sort_array(col("hs")) :+ col("sz"): _*)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }).sortBy(_.head.asInstanceOf[Long]).toSeq
    val (g, w) = (rows(got), rows(want))
    assert(g.map(_.head) === w.map(_.head))
    assert(g === w)
    // no shingle for NULL, empty or 4-token text; one for 5 tokens;
    // the repeated 5-gram counts once; spaces-only text has the
    // single shingle of four spaces
    val sz = g.map(r => r.head -> r.last).toMap
    assert(Seq(1L, 2L, 3L).forall(id => !sz.contains(id)))
    assert(sz(4L) === 1L)
    assert(sz(5L) === 5L)
    assert(sz(7L) === 1L)
    // one narrow pass: no shingle explode and no per-doc aggregate
    val plan = fix.queryExecution.executedPlan.toString
    Seq("Generate", "explode", "collect_list", "ObjectHashAggregate",
        "HashAggregate").foreach(op =>
      assert(!plan.contains(op), s"$op in the signature plan:\n$plan"))
    // the streaming index packs its bands from the same minima
    val bands = Tables.t(spark, kernelDir, "documents")
      .select(col("doc_id"), expr("lsh_bands_text(text)").as("b"))
      .filter(col("b").isNotNull).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(bands.keySet === g.map(_.head.asInstanceOf[Long]).toSet)
    g.foreach { r =>
      val m = r.slice(1, 17).map(_.asInstanceOf[Long])
      assert(bands(r.head.asInstanceOf[Long]) === (0 until 4).map(b =>
        m(4 * b) + 31L * m(4 * b + 1) + 961L * m(4 * b + 2) +
          29791L * m(4 * b + 3)).toList)
    }
  }

  test("minhash signatures fail clearly on a repeated doc_id") {
    val docs = Seq((1L, mkText(1, 20)), (2L, mkText(2, 20)),
        (1L, mkText(3, 20)))
      .toDF("doc_id", "text")
    val d2 = fixtureDir("dedup_dupkey")("documents" -> docs)
    val e = intercept[IllegalArgumentException](
      q("q_dedup_minhash", d2).collect())
    assert(e.getMessage.contains("doc_id must be a unique non-null key"))
    assert(e.getMessage.contains("3 documents with shingles carry 2 distinct"))
  }
}
