package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.functions._

/** Round-4 pipeline operators: BM25, URL canonicalization dedup,
  * content-defined chunking, k-means, incremental dedup. Value-level
  * invariants plus the plan shapes that must hold at 100 TB. */
class PipelineSpec extends SparkSuite {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** The query's word-level gear condition: cut AFTER a word whose
    * md5's first 4 hex digits, as an int, are ≡ 0 (mod 7). */
  private def isCut(word: String): Boolean =
    java.lang.Long.parseLong(md5hex(word).take(4), 16) % 7 == 0

  // ---- q_doc_cdc --------------------------------------------------------

  test("cdc chunks: cover every token, boundaries exactly at cut words") {
    val rows = q("q_doc_cdc").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("n_words")))
    val texts = Tables.t(spark, sf0, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.groupBy(_._1).foreach { case (doc, chunks) =>
      val toks = texts(doc).split(" ")
      assert(chunks.map(_._3).sum === toks.length.toLong,
        s"doc $doc: chunks must cover all tokens")
      // replay the segmentation in plain Scala and compare shapes
      val expected = scala.collection.mutable.ArrayBuffer(0)
      toks.zipWithIndex.init.foreach { case (w, i) =>
        if (isCut(w)) expected += i + 1
      }
      expected += toks.length
      val expectedSizes =
        expected.sliding(2).map(p => (p(1) - p(0)).toLong).toSeq
      assert(chunks.sortBy(_._2).map(_._3).toSeq === expectedSizes,
        s"doc $doc: chunk sizes disagree with scalar replay")
    }
  }

  test("cdc chunks: an insertion only perturbs its own chunk (locality)") {
    import spark.implicits._
    // pick a filler word that is NOT a cut so the first chunk grows
    // without moving any boundary
    val filler = Seq("alpha", "beta", "gamma", "delta", "epsilon")
      .find(!isCut(_)).get
    val base = "one two three four five six seven eight nine ten " * 20
    val dir = fixtureDir("cdc_locality")(
      "documents" -> Seq(
        (0L, base.trim, "en", "src0", base.trim.length.toLong),
        (1L, s"$filler ${base.trim}", "en", "src0",
          base.trim.length.toLong + filler.length + 1))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = q("q_doc_cdc", dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[String]("chunk_md5")))
    val d0 = out.filter(_._1 == 0L).sortBy(_._2).map(_._3)
    val d1 = out.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    assert(d0.length === d1.length)
    // every chunk after the first is bit-identical; only chunk 0 moved
    assert(d0.drop(1).toSeq === d1.drop(1).toSeq)
    assert(d0.head !== d1.head)
  }

  test("cdc chunks: random texts — coverage and boundary invariants hold") {
    import spark.implicits._
    import org.scalacheck.{Gen, rng}
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg",
      "hash", "spark", "row", "scan", "key")
    val textGen = Gen.choose(1, 60)
      .flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val texts = Gen.listOfN(64, textGen)
      .apply(Gen.Parameters.default, rng.Seed(1234L)).get
    val dir = fixtureDir("cdc_random")(
      "documents" -> texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", "src0", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = q("q_doc_cdc", dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("n_words")))
    rows.groupBy(_._1).foreach { case (doc, chunks) =>
      val toks = texts(doc.toInt).split(" ")
      // full coverage, dense chunk ids, and the scalar replay agrees
      assert(chunks.map(_._3).sum === toks.length.toLong)
      assert(chunks.map(_._2).sorted.toSeq ===
        (0L until chunks.length).toSeq)
      val cuts = 0 +: toks.zipWithIndex.init.collect {
        case (w, i) if isCut(w) => i + 1
      }.toSeq :+ toks.length
      assert(chunks.sortBy(_._2).map(_._3).toSeq ===
        cuts.sliding(2).map(p => (p(1) - p(0)).toLong).toSeq,
        s"doc $doc random-text replay")
    }
  }

  test("cdc chunking plan: scan-local — no join, no hash shuffle") {
    val p = q("q_doc_cdc").queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "chunking must not join")
    assert(!p.contains("Exchange hashpartitioning"),
      "chunking must be scan-local; only the output sort may exchange")
  }

  // ---- q_text_bm25 ------------------------------------------------------

  test("bpe train: run-parity merges and re-ranked round 2 on a " +
      "constructed corpus") {
    import spark.implicits._
    // 'aaa aaaa baab': top pair (a,a) counts all adjacent positions
    // (2+3+1=6) but merges left-to-right non-overlapping (1+2+1=4)
    val dir = fixtureDir("bpe_parity")(
      "documents" -> Seq(
        (0L, "aaa aaaa baab", "en", "src0", 13L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = q("q_text_bpe_train", dir).collect()
      .sortBy(_.getAs[Long]("round"))
    val r1 = rows(0)
    assert(r1.getAs[String]("sym_a") === "a")
    assert(r1.getAs[String]("sym_b") === "a")
    assert(r1.getAs[Long]("pair_count") === 6L)
    assert(r1.getAs[Long]("n_merges") === 4L)
    assert(r1.getAs[Long]("symbols_before") === 11L)
    assert(r1.getAs[Long]("symbols_after") === 7L)
    // round 2 runs on [aa,a] [aa,aa] [b,aa,b]: all pairs count 1,
    // lexicographic tie-break picks (aa, a); only 'aaa' merges
    val r2 = rows(1)
    assert(r2.getAs[String]("sym_a") === "aa")
    assert(r2.getAs[String]("sym_b") === "a")
    assert(r2.getAs[Long]("pair_count") === 1L)
    assert(r2.getAs[Long]("n_merges") === 1L)
    assert(r2.getAs[Long]("symbols_after") === 6L)
  }

  test("bpe train: round-1 argmax equals the bpe_pairs top candidate") {
    val top = q("q_text_bpe_pairs").collect().head
    val r1 = q("q_text_bpe_train").collect()
      .sortBy(_.getAs[Long]("round")).head
    assert(r1.getAs[String]("sym_a") + r1.getAs[String]("sym_b")
      === top.getAs[String]("pair"))
    assert(r1.getAs[Long]("pair_count") === top.getAs[Long]("n"))
  }

  test("bm25: top-20, positive scores, descending, docs contain a term") {
    val rows = q("q_text_bm25").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25")))
    assert(rows.length === 20)
    assert(rows.forall(_._2 > 0.0))
    assert(rows.map(_._2).toSeq === rows.map(_._2).sortBy(-_).toSeq)
    val terms = Set("spark", "hash", "window")
    val texts = Tables.t(spark, sf0, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (id, _) =>
      assert(texts(id).split(" ").exists(terms),
        s"doc $id scored > 0 without containing a query term")
    }
  }

  test("bm25 plan: corpus stats broadcast, top-k not a global sort") {
    val p = q("q_text_bm25").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      "1-row stats must broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "limit 20 must plan as top-k")
  }

  // ---- q_dedup_url ------------------------------------------------------

  test("url dedup: canonical forms are clean and partition the corpus") {
    val rows = q("q_dedup_url").collect()
      .map(r => (r.getAs[String]("norm_url"), r.getAs[Long]("n_dupes"),
        r.getAs[Long]("keep_id")))
    val nDocs = Tables.t(spark, sf0, "documents").count()
    assert(rows.map(_._2).sum === nDocs, "groups must partition the corpus")
    rows.foreach { case (u, n, keep) =>
      assert(u.startsWith("https://site"), s"host not canonical: $u")
      assert(!u.contains("www."), s"www not stripped: $u")
      assert(!u.contains("#"), s"fragment not stripped: $u")
      assert(!u.contains("utm_"), s"tracking param not stripped: $u")
      assert(!u.endsWith("/") && !u.endsWith("?") && !u.endsWith("&"),
        s"dangling separator: $u")
      assert(n >= 1 && keep >= 0)
    }
    // the planted generator folds %2 (slash), %3 (utm variants) and %4
    // (fragment) differences away, so dupe groups must actually form
    assert(rows.exists(_._2 > 1), "expected at least one dupe group")
  }

  test("url normalizer: invariants + idempotence over generated messy urls") {
    import spark.implicits._
    import org.scalacheck.{Gen, rng}
    val urlGen = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS", "HtTpS")
      www <- Gen.oneOf("", "WWW.", "www.")
      host <- Gen.oneOf("Example.COM", "site7.org", "A.B.NET")
      path <- Gen.oneOf("", "/Article/9", "/a/B/c")
      slash <- Gen.oneOf("", "/")
      query <- Gen.oneOf("", "?ref=1", "?utm_source=x",
        "?utm_source=x&ref=2", "?ref=3&utm_campaign=y&id=4",
        "?utm_a=1&utm_b=2")
      frag <- Gen.oneOf("", "#frag", "#a/b?c")
    } yield s"$scheme://$www$host$path$slash$query$frag"
    val urls = Gen.listOfN(200, urlGen)
      .apply(Gen.Parameters.default, rng.Seed(77L)).get.distinct
    val once = urls.toDF("url")
      .select(col("url"), ops.Pipeline.normalizeUrl(col("url")).as("n1"))
      .withColumn("n2", ops.Pipeline.normalizeUrl(col("n1")))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    once.foreach { case (raw, n1, n2) =>
      assert(n2 === n1, s"not idempotent: $raw -> $n1 -> $n2")
      assert(!n1.contains("#"), s"fragment survives: $raw -> $n1")
      assert(!n1.contains("utm_"), s"tracking survives: $raw -> $n1")
      assert(!n1.contains("://www."), s"www survives: $raw -> $n1")
      assert(!n1.endsWith("/") && !n1.endsWith("?") && !n1.endsWith("&"),
        s"dangling separator: $raw -> $n1")
      val scheme = n1.takeWhile(_ != ':')
      assert(scheme === scheme.toLowerCase, s"scheme case: $raw -> $n1")
      // host is lowercased (everything before the first path/query char)
      val hostPart = n1.drop(scheme.length + 3).takeWhile(c =>
        c != '/' && c != '?')
      assert(hostPart === hostPart.toLowerCase, s"host case: $raw -> $n1")
    }
  }

  // ---- q_sim_kmeans -----------------------------------------------------

  test("kmeans: partitions the corpus, and separates planted blobs") {
    val rows = q("q_sim_kmeans").collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("n_members"),
        r.getAs[Double]("avg_dist")))
    val nVecs = Tables.t(spark, sf0, "embeddings").count()
    assert(rows.map(_._2).sum === nVecs)
    assert(rows.forall(_._3 >= 0.0))
    assert(rows.forall(r => r._1 >= 0 && r._1 < 8))

    // fixture: 8 planted blobs — seeds 0..7 at 10·e_b, members offset
    // by 0.1 on a different axis; Lloyd must recover the planting
    import spark.implicits._
    val dim = 64
    val vecs = (0 until 64).map { id =>
      val blob = id % 8
      val arr = Array.fill(dim)(0.0f)
      arr(blob) = 10.0f
      if (id >= 8) arr((blob + 8) % dim) = 0.1f * (id / 8)
      (id.toLong, arr.toSeq, blob)
    }
    val dir = fixtureDir("kmeans_blobs")(
      "embeddings" -> vecs.toDF("vec_id", "embedding", "label")
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .withColumn("label", col("label").cast("int")))
    val out = q("q_sim_kmeans", dir).collect()
      .map(r => r.getAs[Long]("cluster_id") -> r.getAs[Long]("n_members"))
      .toMap
    assert(out.size === 8, s"all 8 blobs must survive: $out")
    assert(out.values.forall(_ === 8L), s"each blob has 8 members: $out")
  }

  test("kmeans: corpus smaller than k degrades to one cluster per vector") {
    import spark.implicits._
    val dim = 64
    val vecs = (0 until 5).map { id =>
      val arr = Array.fill(dim)(0.0f); arr(id) = 5.0f
      (id.toLong, arr.toSeq, id)
    }
    val dir = fixtureDir("kmeans_tiny")(
      "embeddings" -> vecs.toDF("vec_id", "embedding", "label")
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .withColumn("label", col("label").cast("int")))
    val out = q("q_sim_kmeans", dir).collect()
      .map(r => r.getAs[Long]("cluster_id") -> r.getAs[Long]("n_members"))
    assert(out.length === 5, "one centroid per available seed")
    assert(out.forall(_._2 === 1L))
    assert(out.map(_._1).sorted.toSeq === (0L until 5L).toSeq)
  }

  test("kmeans plan: centroids broadcast — corpus is never shuffled " +
    "for assignment") {
    val p = q("q_sim_kmeans").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      "k-row centroid table must ride a broadcast")
    assert(!p.contains("CartesianProduct"),
      "no unbroadcast cartesian anywhere")
  }

  // ---- q_dedup_incremental ----------------------------------------------

  test("incremental dedup: matches are cross-split and agree with " +
    "q_dedup_near") {
    val inc = q("q_dedup_incremental").collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("jaccard")))
    inc.foreach { case (n, c, j) =>
      assert(n % 10 >= 8, s"new_id $n not in the increment")
      assert(c % 10 < 8, s"dup_of $c not in the corpus")
      assert(j >= 0.5)
    }
    // same banding + same threshold ⇒ every incremental match must
    // appear in the full near-pair list with the identical jaccard
    val near = q("q_dedup_near").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Double]("jaccard")).toMap
    inc.foreach { case (n, c, j) =>
      val key = (math.min(n, c), math.max(n, c))
      assert(near.get(key).contains(j),
        s"pair $key jaccard $j missing from q_dedup_near")
    }
  }

  test("incremental dedup plan: the increment side broadcasts") {
    val p = q("q_dedup_incremental").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "band-key candidate join must broadcast the increment")
  }

  // ---- q_text_bpe_pairs -------------------------------------------------

  test("bpe pairs: counts match a scalar replay, top-k plan") {
    val rows = q("q_text_bpe_pairs").collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("n"))
    assert(rows.length === 30)
    assert(rows.map(_._2).toSeq === rows.map(_._2).sortBy(-_).toSeq)
    // scalar replay over the corpus
    val counts = scala.collection.mutable.Map[String, Long]()
    Tables.t(spark, sf0, "documents").select(col("text")).collect()
      .foreach { r =>
        r.getString(0).split(" ").filter(_.length >= 2).foreach { w =>
          (0 until w.length - 1).foreach { i =>
            val p = w.substring(i, i + 2)
            counts(p) = counts.getOrElse(p, 0L) + 1L
          }
        }
      }
    rows.foreach { case (p, n) =>
      assert(counts.get(p).contains(n), s"pair '$p': $n vs ${counts.get(p)}")
    }
    val plan = q("q_text_bpe_pairs").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  // ---- q_graph_pagerank -------------------------------------------------

  test("pagerank: mass conserved, positive, discriminating, deterministic") {
    val rows = q("q_graph_pagerank").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("pagerank"))
    val n = Tables.t(spark, sf0, "documents").count()
    assert(rows.length === n)
    // every node has outdeg >= 1 (generator property for N > 51), so no
    // rank mass leaks: sum stays 1 up to per-iteration rounding
    val mass = rows.map(_._2).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"rank mass $mass")
    assert(rows.forall(_._2 > 0.0), "teleport term keeps every rank > 0")
    assert(rows.map(_._2).distinct.length > 1,
      "in-degrees differ, so ranks must discriminate")
    // fully deterministic (rounded state each iteration)
    assert(q("q_graph_pagerank").collect().toSeq ===
      rows.map(p => org.apache.spark.sql.Row(p._1, p._2)).toSeq)
  }

  // ---- q_sessionize -----------------------------------------------------

  test("sessionize: sessions match a scalar replay of the gap rule") {
    val rows = q("q_sessionize").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("n_events")))
    val events = Tables.t(spark, sf0, "events")
      .selectExpr("user_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
        "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gapUs = 12L * 3600 * 1000000
    events.groupBy(_._1).foreach { case (user, evs) =>
      val sorted = evs.sortBy(e => (e._2, e._3)).map(_._2)
      val sessions = scala.collection.mutable.ArrayBuffer[Long]()
      var prev = Long.MinValue
      sorted.foreach { t =>
        if (prev == Long.MinValue || t - prev > gapUs) sessions += 0L
        sessions(sessions.length - 1) += 1
        prev = t
      }
      val got = rows.filter(_._1 == user).sortBy(_._2).map(_._3).toSeq
      assert(got === sessions.toSeq, s"user $user session sizes")
    }
    // the 12 h gap actually splits: multiple sessions for some user
    assert(rows.groupBy(_._1).values.exists(_.size > 1))
    // and merges: some session has > 1 event
    assert(rows.exists(_._3 > 1))
  }

  test("sessionize plan: keyed window, no global sort before the agg") {
    val p = q("q_sessionize").queryExecution.executedPlan.toString
    assert(p.contains("Window"), "lag/cumsum must plan as window")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"expected at most window+agg exchanges, got $exchanges:\n$p")
  }

  // ---- q_text_winnow ----------------------------------------------------

  test("winnowing: shared 10-token span guarantees a shared fingerprint; " +
    "density below full shingling; scan-local plan") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val a = s"one two three four five six seven $shared red blue green"
    val b = s"$shared x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    val dir = fixtureDir("winnow_guarantee")(
      "documents" -> Seq(
        (0L, a, "en", "s0", a.length.toLong),
        (1L, b, "en", "s0", b.length.toLong),
        (2L, "tiny doc", "en", "s0", 8L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val rows = q("q_text_winnow", dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("fp")))
    val byDoc = rows.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).toSet
    }
    // the winnowing guarantee: a >= w + k - 1 = 8-token exact overlap
    // must surface at least one common selected fingerprint
    assert(byDoc(0L).intersect(byDoc(1L)).nonEmpty,
      "10-token shared span produced no shared fingerprint")
    // short docs still emit exactly one whole-text fallback fingerprint
    assert(byDoc(2L).size === 1)
    // density: windows-of-4 select far fewer fingerprints than the
    // full shingle set on the real corpus
    val fps = q("q_text_winnow").collect().length.toLong
    val shingleCount = Tables.t(spark, sf0, "documents")
      .selectExpr("greatest(size(split(text, ' ')) - 4, 1) AS m")
      .agg(sum(col("m"))).collect().head.getLong(0)
    assert(fps < shingleCount / 2,
      s"winnowing kept $fps of $shingleCount shingles — no compression")
    val p = q("q_text_winnow").queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      "fingerprint selection must be scan-local")
  }

  // ---- double_dot -------------------------------------------------------

  test("double_dot matches the interpreted fold and float_dot bit-for-bit") {
    val rows = Tables.t(spark, sf0, "embeddings")
      .selectExpr(
        "double_dot(transform(embedding, x -> CAST(x AS DOUBLE)), " +
          "transform(embedding, x -> CAST(x AS DOUBLE))) AS dd",
        """aggregate(zip_with(transform(embedding, x -> CAST(x AS DOUBLE)),
             transform(embedding, x -> CAST(x AS DOUBLE)),
             (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, p) -> acc + p)
           AS fold""",
        "float_dot(embedding, embedding) AS fd")
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        "codegen double_dot must equal the lambda fold bitwise")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        "double-cast dot must equal float_dot bitwise")
    }
  }

  test("dot/l2q expressions null out on length mismatch or null element") {
    // codegen path (selectExpr compiles the expressions) and the
    // interpreted fallback (factoryMode=NO_CODEGEN) must agree: a
    // length mismatch or a NULL slot yields NULL — never a silent
    // truncation or a raw read of a null slot (round-11 ADVICE on
    // FloatL2Q; DoubleDot hardened to match this round).
    def probe(): Seq[org.apache.spark.sql.Row] =
      spark.range(1).selectExpr(
        "double_dot(array(1.0D, 2.0D), array(1.0D)) AS dd_mis",
        "double_dot(array(1.0D, CAST(NULL AS DOUBLE)), " +
          "array(1.0D, 2.0D)) AS dd_null",
        "double_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dd_ok",
        "float_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
          "array(CAST(1 AS FLOAT))) AS fd_mis",
        "float_dot(array(CAST(1 AS FLOAT), CAST(NULL AS FLOAT)), " +
          "array(CAST(1 AS FLOAT), CAST(2 AS FLOAT))) AS fd_null",
        "float_l2q(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
          "array(CAST(1 AS FLOAT))) AS lq_mis",
        "float_l2q(array(CAST(NULL AS FLOAT), CAST(2 AS FLOAT)), " +
          "array(CAST(1 AS FLOAT), CAST(2 AS FLOAT))) AS lq_null",
        "float_l2q(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
          "array(CAST(1 AS FLOAT), CAST(4 AS FLOAT))) AS lq_ok")
        .collect().toSeq
    def check(rows: Seq[org.apache.spark.sql.Row]): Unit = rows.foreach {
      r =>
        assert(r.isNullAt(r.fieldIndex("dd_mis")), "dd length mismatch")
        assert(r.isNullAt(r.fieldIndex("dd_null")), "dd null element")
        assert(r.getDouble(r.fieldIndex("dd_ok")) === 11.0)
        assert(r.isNullAt(r.fieldIndex("fd_mis")), "fd length mismatch")
        assert(r.isNullAt(r.fieldIndex("fd_null")), "fd null element")
        assert(r.isNullAt(r.fieldIndex("lq_mis")), "lq length mismatch")
        assert(r.isNullAt(r.fieldIndex("lq_null")), "lq null element")
        assert(r.getLong(r.fieldIndex("lq_ok")) === 4000000000000L)
    }
    check(probe())
    val key = "spark.sql.codegen.factoryMode"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "NO_CODEGEN")
      check(probe())
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("graph_ppr: scores match a scalar personalized power iteration") {
    val got = SparkEntry.queries("q_graph_ppr")(spark, sf0).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ppr")).toMap
    val n = Tables.t(spark, sf0, "documents").count()
    val edges = (0L until n).flatMap { src =>
      Seq(src / 2, (src * 31 + 17) % n, (src * src + 1) % n)
        .filter(_ != src).distinct.map(dst => src -> dst)
    }
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def snap10(x: Double): Double = math.floor(x * 1e10 + 0.5) / 1e10
    var pr = (0L until n).map(v =>
      v -> (if (v < 8) 1.0 / 8 else 0.0)).toMap
    for (_ <- 0 until 3) {
      val inflow = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      edges.foreach { case (s, d2) =>
        inflow(d2) += pr(s) / outdeg(s)
      }
      pr = (0L until n).map(v =>
        v -> snap10(0.15 * (if (v < 8) 1.0 / 8 else 0.0) +
          0.85 * inflow(v))).toMap
    }
    val want = pr.filter(_._2 > 0.0)
    assert(got.keySet === want.keySet)
    want.foreach { case (v, p) =>
      assert(math.abs(got(v) - p) < 1e-7, s"node $v")
    }
    // mass concentrates on/near the seed set
    val seedMass = (0L until 8L).map(v => pr.getOrElse(v, 0.0)).sum
    assert(seedMass > 0.15)
  }

  test("silhouette: cluster sizes match kmeans and values are bounded") {
    val sil = q("q_sim_silhouette").collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("n_members"),
          r.getAs[Double]("mean_silhouette"))).toMap
    val km = q("q_sim_kmeans").collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        r.getAs[Long]("n_members")).toMap
    // same partition of the corpus: identical clusters and sizes
    assert(sil.view.mapValues(_._1).toMap === km)
    sil.values.foreach { case (_, s) =>
      assert(s >= -1.0 && s <= 1.0, s"silhouette $s out of range")
    }
    // every point is counted exactly once
    assert(sil.values.map(_._1).sum ===
      Tables.t(spark, sf0, "embeddings").count())
  }
}
