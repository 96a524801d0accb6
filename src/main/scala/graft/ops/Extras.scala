package graft.ops

import graft.{Fixpoints, Q, Tables}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Remaining SURVEY §2.2 surface: CSV/JSON sources, parquet sink,
  * bit-op filters, and the UDF/UDAF/UDTF tier — plus a SimHash
  * hamming-pair bonus on top of the dedup sketches. */
object Extras {

  private def ev(s: SparkSession, d: String) = Tables.t(s, d, "events")

  private def tmp(sub: String): String =
    sys.props("java.io.tmpdir") + "/" + sub

  /** A format fixture of (s, d): a dir WRITTEN once from the dir's
    * tables, as the `fixture:<sub>` entry of its working set. The write
    * is load/setup (the driver tables are immutable), the operator
    * under test is the format READ, so the warm list's "format
    * fixtures" step writes them all and a one-pass bench times the
    * scan, not the dump. The path carries the dir
    * ([[Fixpoints.dirTag]]) so scales never collide; release
    * deletes it. */
  private def ensureFixture(s: SparkSession, sub: String, d: String)(
      write: String => Unit): String =
    Fixpoints.memo[String](s, d, "fixture:" + sub) {
      val out = tmp(sub + "_" + Fixpoints.dirTag(d))
      write(out)
      Fixpoints.Entry(out, () =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out)))
    }

  /** Every format fixture of (s, d): the warm list's step. */
  private[graft] def fixtures(s: SparkSession, d: String): Seq[String] =
    Seq(csvDir(s, d), jsonDir(s, d), orcDir(s, d), xmlDir(s, d),
      textDir(s, d), evoDir(s, d), corruptDir(s, d))

  private def csvDir(s: SparkSession, d: String): String =
    ensureFixture(s, "graft_scan_csv", d) { out =>
      ev(s, d).select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite").option("header", "true").csv(out)
    }

  private def jsonDir(s: SparkSession, d: String): String =
    ensureFixture(s, "graft_scan_json", d) { out =>
      ev(s, d).select(col("event_id"), col("event_type"), col("value"),
          col("props"))
        .write.mode("overwrite").json(out)
    }

  private def orcDir(s: SparkSession, d: String): String =
    ensureFixture(s, "graft_scan_orc", d) { out =>
      ev(s, d).select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite").orc(out)
    }

  private def xmlDir(s: SparkSession, d: String): String =
    ensureFixture(s, "graft_scan_xml", d) { out =>
      ev(s, d).select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").option("rowTag", "event").xml(out)
    }

  private def textDir(s: SparkSession, d: String): String =
    ensureFixture(s, "graft_scan_text", d) { out =>
      Tables.t(s, d, "documents")
        .select(concat_ws("\t", col("doc_id"), col("lang"), col("text"))
          .as("value"))
        .write.mode("overwrite").text(out)
    }

  /** Two-version lake layout: v1 files predate the event_type column. */
  private def evoDir(s: SparkSession, d: String): String =
    ensureFixture(s, "graft_scan_evo", d) { out =>
      ev(s, d).filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("value"))
        .write.mode("overwrite").parquet(out + "/v1")
      ev(s, d).filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("value"), col("event_type"))
        .write.mode("overwrite").parquet(out + "/v2")
    }

  /** JSON-lines feed with deterministically corrupted rows
    * (event_id % 7 == 3 → truncated JSON). */
  private def corruptDir(s: SparkSession, d: String): String =
    ensureFixture(s, "graft_scan_corrupt", d) { out =>
      ev(s, d)
        .select(when(col("event_id") % 7 === 3,
            concat(lit("{\"event_id\": "), col("event_id"),
              lit(", \"event_type\": \"tru")))
          .otherwise(concat(lit("{\"event_id\": "), col("event_id"),
            lit(", \"event_type\": \""), col("event_type"),
            lit("\", \"value\": "), col("value"), lit("}")))
          .as("value"))
        .write.mode("overwrite").text(out)
    }

  /** CSV scan with declared schema (q_scan_csv — the HV-supply-log shape,
    * md:250-252). Round-trips events through a CSV sink, then reads with
    * an explicit schema and aggregates; proves text-source parsing, type
    * application and pushdown survive the format. */
  val qScanCsv = Q(
    "q_scan_csv",
    (s, d) => {
      val out = csvDir(s, d)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
        .option("header", "true")
        .csv(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n,
              round(sum(value), 2) AS sum_value,
              count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** JSON scan (q_scan_json — run-log documents, md:45-57): round-trip
    * through a JSON-lines sink, schema-on-read, aggregate. */
  val qScanJson = Q(
    "q_scan_json",
    (s, d) => {
      val out = jsonDir(s, d)
      s.read
        .schema("event_id BIGINT, event_type STRING, value DOUBLE, props STRING")
        .json(out)
        .select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n,
              CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k
            FROM events GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** ORC source/sink round-trip (q_scan_orc): the second columnar
    * format Spark ships natively — same pushdown/pruning machinery as
    * parquet, verified by aggregating the round-tripped rows. */
  val qScanOrc = Q(
    "q_scan_orc",
    (s, d) => {
      val out = orcDir(s, d)
      s.read.orc(out)
        .filter(col("value") > 50.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n,
              round(sum(value), 2) AS sum_value
            FROM events WHERE value > 50.0
            GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** XML source round-trip (q_scan_xml): Spark 4 ships the XML reader
    * natively — the config-file shape (md:45-57 run-log metadata is
    * XML-ish structured text). Write a typed subset as row-tagged XML,
    * read it back with a declared schema, aggregate. */
  val qScanXml = Q(
    "q_scan_xml",
    (s, d) => {
      val out = xmlDir(s, d)
      s.read
        .schema("event_id BIGINT, event_type STRING, value DOUBLE")
        .option("rowTag", "event")
        .xml(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n,
              round(sum(value), 2) AS sum_value
            FROM events GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** Raw line-oriented text source (q_scan_text): the lowest-common-
    * denominator format a scrape lands in. One tab-joined line per doc,
    * read back with `text`, fields re-split with Catalyst expressions —
    * schema-on-read from unstructured lines. */
  val qScanText = Q(
    "q_scan_text",
    (s, d) => {
      val out = textDir(s, d)
      s.read.text(out)
        .select(
          split(col("value"), "\t").getItem(0).cast("long").as("doc_id"),
          split(col("value"), "\t").getItem(1).as("lang"),
          split(col("value"), "\t").getItem(2).as("text"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tokens"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("lang"))
    },
    Some("""SELECT lang, count(*) AS n_docs,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
              min(doc_id) AS min_id
            FROM documents GROUP BY lang
            ORDER BY lang NULLS FIRST"""))

  /** SQL front door (q_sql_api): the same engine through `spark.sql`
    * over registered views — TPC-H Q6 verbatim, proving the textual SQL
    * surface (not just the DataFrame DSL) plans through Catalyst with
    * the filters pushed to the scan. */
  val qSqlApi = Q(
    "q_sql_api",
    (s, d) => {
      Tables.t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount
                   * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0D AS revenue,
                 count(*) AS n_rows
               FROM lineitem_v
               WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                 AND l_shipdate < TIMESTAMP '1998-01-01'
                 AND l_discount BETWEEN 0.05 AND 0.07
                 AND l_quantity < 24""")
    },
    Some("""SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount
              * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0e0 AS revenue,
              count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24"""))

  /** Schema-evolution read (q_scan_evolution): a lake table whose
    * early files predate a column — batch 1 writes (event_id, value),
    * batch 2 adds event_type — read back with mergeSchema, so old rows
    * surface NULL for the new column. At 100 TB schema evolution is
    * the NORM (years of files, schema v1..vN); mergeSchema unions
    * footers at planning time, per-file projection stays pruned. The
    * split is deterministic (event_id % 2) so the oracle reconstructs
    * which rows lack the column. */
  val qScanEvolution = Q(
    "q_scan_evolution",
    (s, d) => {
      val out = evoDir(s, d)
      s.read.option("mergeSchema", "true")
        .parquet(out + "/v1", out + "/v2")
        .groupBy(coalesce(col("event_type"), lit("__pre_schema__"))
          .as("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT coalesce(CASE WHEN event_id % 2 = 1 THEN event_type
                            END, '__pre_schema__') AS event_type,
              count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY 1
            ORDER BY event_type NULLS FIRST"""))

  /** Corrupt-record quarantine (q_scan_corrupt): a JSON-lines feed
    * where some rows are malformed — PERMISSIVE parsing routes them to
    * `_corrupt_record` instead of failing the scan, and the query
    * reports parsed-vs-quarantined counts per type. Corruption is
    * deterministic (event_id % 7 == 3 rows get truncated JSON) so both
    * engines agree on the quarantine set. The 100 TB point: a bad
    * producer must cost a quarantine bucket, never a failed job. */
  val qScanCorrupt = Q(
    "q_scan_corrupt",
    (s, d) => {
      val out = corruptDir(s, d)
      s.read
        .schema("event_id BIGINT, event_type STRING, value DOUBLE, " +
          "_corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
        .groupBy(coalesce(col("event_type"), lit("__quarantine__"))
          .as("event_type"))
        .agg(count(lit(1)).as("n"),
          count(col("_corrupt_record")).as("n_corrupt"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT CASE WHEN event_id % 7 = 3 THEN '__quarantine__'
                        ELSE event_type END AS event_type,
              count(*) AS n,
              CAST(sum(CASE WHEN event_id % 7 = 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
              round(sum(CASE WHEN event_id % 7 = 3 THEN NULL
                             ELSE value END), 2) AS sum_value
            FROM events
            GROUP BY 1
            ORDER BY event_type NULLS FIRST"""))

  /** Plain columnar sink round-trip (q_sink_parquet, md:233-235). */
  val qSinkParquet = Q(
    "q_sink_parquet",
    (s, d) => {
      val out = tmp("graft_sink_parquet")
      ev(s, d).select(col("event_id"), col("user_id"), col("value"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"),
          round(sum(col("value")), 2).as("sum_value"))
    },
    Some("""SELECT count(*) AS n, min(event_id) AS min_id,
              max(event_id) AS max_id, round(sum(value), 2) AS sum_value
            FROM events"""))

  /** Bit-manipulation predicates (q_filter_bitops, html:51): select data
    * frames on even pixel rows via shifts/masks pushed into the scan
    * projection. */
  val qFilterBitops = Q(
    "q_filter_bitops",
    (s, d) =>
      ev(s, d)
        .withColumn("word", expr(Decode.wordSparkSql))
        .filter(expr(
          "((shiftright(word, 31)) & 3) = 2 AND ((shiftright(word, 27)) & 1) = 0"))
        .select(col("event_id"), col("word"),
          expr("word & 511").as("tot"),
          expr("shiftright(word, 23) & 15").as("pix_col"))
        .orderBy(col("event_id")),
    Some(s"""${Decode.framesCte}
             SELECT event_id, word, word & 511 AS tot,
               (word >> 23) & 15 AS pix_col
             FROM frames
             WHERE ((word >> 31) & 3) = 2 AND ((word >> 27) & 1) = 0
             ORDER BY event_id NULLS FIRST"""))

  /** Scalar UDF (q_udf_scalar): the escape hatch for logic built-ins
    * can't express (SURVEY §4.3 ranks it below native expressions — see
    * graft.functions.FloatDot for the preferred form). Computes the
    * embedding L2 norm with the same left-to-right double accumulation
    * the oracle's list_dot_product uses. */
  val qUdfScalar = Q(
    "q_udf_scalar",
    (s, d) => {
      val l2 = udf { (a: Seq[Float]) =>
        var acc = 0.0
        a.foreach(x => acc += x.toDouble * x.toDouble)
        math.sqrt(acc)
      }
      Tables.t(s, d, "embeddings")
        .select(col("vec_id"), round(l2(col("embedding")), 6).as("l2_norm"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id,
              round(sqrt(list_dot_product(
                list_transform(embedding, x -> CAST(x AS DOUBLE)),
                list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6)
                AS l2_norm
            FROM embeddings
            ORDER BY vec_id NULLS FIRST"""))

  /** Buffer for the typed second-max aggregator: the two largest values
    * seen (multiset semantics — a duplicated max counts twice). */
  final case class Max2(m1: Double, m2: Double)

  /** Typed Aggregator (q_udaf_typed): exact second-largest value per
    * group. Pure selection (no float arithmetic), so merge order cannot
    * perturb the result — deterministic on any partitioning. */
  object SecondMax extends Aggregator[Double, Max2, Double] {
    override def zero: Max2 = Max2(Double.NegativeInfinity, Double.NegativeInfinity)
    override def reduce(b: Max2, v: Double): Max2 =
      if (v >= b.m1) Max2(v, b.m1)
      else if (v > b.m2) Max2(b.m1, v)
      else b
    override def merge(a: Max2, b: Max2): Max2 = {
      val top = Seq(a.m1, a.m2, b.m1, b.m2).sorted(Ordering[Double].reverse)
      Max2(top(0), top(1))
    }
    override def finish(r: Max2): Double = r.m2
    override def bufferEncoder: Encoder[Max2] = Encoders.product[Max2]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  val qUdafTyped = Q(
    "q_udaf_typed",
    (s, d) => {
      val secondMax = udaf(SecondMax)
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(secondMax(col("value")).as("second_max"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, value AS second_max
            FROM (SELECT event_type, value,
                    row_number() OVER (PARTITION BY event_type
                      ORDER BY value DESC) AS rn
                  FROM events)
            WHERE rn = 2
            ORDER BY event_type NULLS FIRST"""))

  /** Table-generating explode (q_udtf_explode, md:227-234): one packed
    * frame → one row per decoded field, via the built-in `inline`
    * generator over an expression-computed struct array (SURVEY §4.3:
    * custom Generator unnecessary). */
  val qUdtfExplode = Q(
    "q_udtf_explode",
    (s, d) =>
      ev(s, d)
        .select(col("event_id"), expr(
          """inline(array(
               struct('cal' AS field, (event_id * 7) % 16 AS fval),
               struct('toa' AS field, event_id % 1024 AS fval),
               struct('tot' AS field, user_id % 512 AS fval)))"""))
        .orderBy(col("event_id"), col("field")),
    Some("""SELECT event_id, field, fval FROM (
              SELECT event_id, 'cal' AS field, (event_id * 7) % 16 AS fval
                FROM events
              UNION ALL
              SELECT event_id, 'toa', event_id % 1024 FROM events
              UNION ALL
              SELECT event_id, 'tot', user_id % 512 FROM events)
            ORDER BY event_id NULLS FIRST, field NULLS FIRST"""))

  /** Bonus: SimHash hamming pairs via the built-in bit_count — near-dup
    * candidates at sketch resolution. The 32-bit sketch is LSH-banded
    * into 4 bytes; a candidate pair must collide on at least one
    * (band, byte) within its lang block, so generation is an equi-join
    * on the band key — never all-pairs within a block (close sketches
    * almost always share a byte; a pair differing in all 4 bands is by
    * definition outside this operator's recall, on both engines).
    * Hamming ≤ 10 is then verified exactly on the colliding pairs. */
  val qDedupSimhashPairs = Q(
    "q_dedup_simhash_pairs",
    (s, d) => {
      val sims = Dedup.simhashTable(s, d)
        .join(Tables.t(s, d, "documents").select(col("doc_id"), col("lang")),
          "doc_id")
      val bandRows = (0 until 4).map(b =>
        s"CAST($b AS BIGINT), shiftright(simhash, ${8 * b}) & 255")
        .mkString(", ")
      val bands = sims.select(col("doc_id"), col("lang"), col("simhash"),
        expr(s"stack(4, $bandRows) AS (band, bkey)"))
      bands.as("a").join(bands.as("b"),
          col("a.lang") === col("b.lang") &&
          col("a.band") === col("b.band") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("a.simhash").as("sa"), col("b.simhash").as("sb"))
        .distinct()
        .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
        .filter(col("hamming") <= 10)
        .select(col("a_id"), col("b_id"), col("hamming"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some(s"""${Dedup.simhashCte},
       sims AS (
               SELECT s.doc_id, s.simhash, d.lang
               FROM simhash_t s JOIN documents d USING (doc_id)),
             bands AS (
               SELECT doc_id, lang, simhash, b AS band,
                 (simhash >> (8 * b)) & 255 AS bkey
               FROM sims
               CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs),
             cand AS (
               SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                 a.simhash AS sa, b.simhash AS sb
               FROM bands a JOIN bands b
                 ON a.lang = b.lang AND a.band = b.band
                AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
             SELECT a_id, b_id,
               CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
             FROM cand
             WHERE bit_count(xor(sa, sb)) <= 10
             ORDER BY a_id NULLS FIRST, b_id NULLS FIRST"""))

  /** Typed bitset-distinct aggregator (q_udaf_bitset, SURVEY §2.2
    * "exact bitset counter"): exact COUNT(DISTINCT key) for bounded key
    * domains via a fixed 4096-bit buffer — merge is bitwise OR
    * (associative, commutative, exact), so at scale this replaces the
    * expand+distinct shuffle with a constant 512-byte partial state. */
  object BitsetDistinct extends Aggregator[Long, Array[Long], Long] {
    private val Words = 64 // 64 × 64 = 4096-bit domain
    override def zero: Array[Long] = new Array[Long](Words)
    override def reduce(b: Array[Long], v: Long): Array[Long] = {
      val k = (v % (Words * 64) + Words * 64) % (Words * 64)
      b((k >> 6).toInt) |= (1L << (k & 63)); b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < Words) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(r: Array[Long]): Long =
      r.map(java.lang.Long.bitCount(_).toLong).sum
    // kryo, not javaSerialization: partial-state merges run once per
    // input partition and an ObjectOutputStream round-trip per merge is
    // measurable; kryo writes the primitive array directly.
    override def bufferEncoder: Encoder[Array[Long]] =
      Encoders.kryo[Array[Long]]
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  val qUdafBitset = Q(
    "q_udaf_bitset",
    (s, d) => {
      val distinctUsers = udaf(BitsetDistinct)
      ev(s, d)
        .groupBy(col("event_type"))
        .agg(distinctUsers(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** Structured JSON both directions (q_fn_struct_json): serialize a
    * struct with to_json, parse it back with a declared schema via
    * from_json (typed struct access, not string plucking), AND parse
    * the props payload as a typed MAP with its entries exploded — the
    * schema-full counterpart to q_fn_json's get_json_object path. The
    * aggregate equality with the raw columns proves the round trip. */
  val qFnStructJson = Q(
    "q_fn_struct_json",
    (s, d) =>
      // r18: the JSON round trip is ~14 µs/row of per-row codec work,
      // and the events table arrives as ONE parquet row group at the
      // bench SFs — the whole to_json → from_json → map-parse pipeline
      // serialized on a single core (measured: one 1.2 s single-task
      // job, 31 cores idle). Project the four consumed columns, then
      // fan the narrow scan out (guide §2.5) so the codec runs on
      // every core; at production row-group counts fanOutNarrow is the
      // identity. The aggregate's double sum is rounded to 2dp over
      // exact-2-decimal inputs, far outside partition-order noise.
      Tables.fanOutNarrow(s, ev(s, d)
          .select(col("event_id"), col("event_type"), col("value"),
            col("props")), col("event_id"))
        .withColumn("js", to_json(struct(
          col("event_id"), col("event_type"), col("value"))))
        .withColumn("parsed", from_json(col("js"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_id BIGINT, event_type STRING, value DOUBLE")))
        .withColumn("pmap",
          from_json(col("props"), "map<string,bigint>",
            Map.empty[String, String]))
        .select(col("parsed"), explode(col("pmap")).as(Seq("pk", "pv")))
        .groupBy(col("parsed.event_type").as("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("parsed.value")), 2).as("sum_value"),
          min(col("parsed.event_id")).as("min_id"),
          sum(col("pv")).as("sum_k"))
        .orderBy(col("event_type")),
    Some("""SELECT event_type, count(*) AS n,
              round(sum(value), 2) AS sum_value,
              min(event_id) AS min_id,
              CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k
            FROM events GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** Null-handling surface (q_fn_null): nulls synthesized with CASE,
    * then the DataFrameNaFunctions path — na.fill with a sentinel,
    * non-null counting, drop-equivalent accounting — the missing-data
    * hygiene every ingest pass runs. */
  val qFnNull = Q(
    "q_fn_null",
    (s, d) => {
      val withNulls = ev(s, d)
        .withColumn("maybe_value",
          expr("CASE WHEN value < 50.0 THEN NULL ELSE value END"))
      withNulls.na.fill(Map("maybe_value" -> -1.0))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_total"),
          count(when(col("maybe_value") === -1.0, 1)).as("n_filled"),
          round(sum(col("maybe_value")), 2).as("sum_filled"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n_total,
              count(CASE WHEN value < 50.0 THEN 1 END) AS n_filled,
              round(sum(CASE WHEN value < 50.0 THEN -1.0 ELSE value END), 2)
                AS sum_filled
            FROM events GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** Typed row for the Dataset[T] pipeline below. */
  final case class EvRow(
      event_id: Long, user_id: Long, event_type: String, value: Double)

  /** Typed Dataset pipeline (q_typed_pipeline): the case-class Encoder
    * surface — as[T], typed filter/map, groupByKey + reduceGroups
    * (associative partial reduce, NOT a whole-group mapGroups buffer) —
    * proving a user can stay in compile-time-typed land and still get
    * two-phase distributed aggregation. */
  val qTypedPipeline = Q(
    "q_typed_pipeline",
    (s, d) => {
      import s.implicits._
      ev(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .as[EvRow]
        .filter((e: EvRow) => e.value > 50.0)
        .map((e: EvRow) => (e.event_type, e.value * 2, 1L))
        .groupByKey(_._1)
        .reduceGroups((a, b) => (a._1, a._2 + b._2, a._3 + b._3))
        .map { case (k, (_, sum2, n)) => (k, n, sum2) }
        .toDF("event_type", "n", "sum_doubled")
        .select(col("event_type"), col("n"),
          round(col("sum_doubled"), 2).as("sum_doubled"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n,
              round(sum(value * 2), 2) AS sum_doubled
            FROM events WHERE value > 50.0
            GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** Z-order locality key (q_zorder): interleave the bits of the pixel
    * (row, col) into one sort key so a range of z-values covers a 2-D
    * tile — the multi-dimensional clustering trick that makes min/max
    * pruning work on two columns at once in a 100 TB layout. */
  val qZorder = Q(
    "q_zorder",
    (s, d) => {
      val interleave = (0 until 4).map(b =>
        s"(shiftleft(shiftright(event_id % 16, $b) & 1, ${2 * b + 1}) | " +
          s"shiftleft(shiftright(user_id % 16, $b) & 1, ${2 * b}))")
        .mkString(" | ")
      ev(s, d)
        .withColumn("zval", expr(s"CAST($interleave AS BIGINT)"))
        .groupBy((col("zval") / 16).cast("long").as("z_tile"))
        .agg(
          count(lit(1)).as("n"),
          min(expr("event_id % 16")).as("min_row"),
          max(expr("event_id % 16")).as("max_row"),
          min(expr("user_id % 16")).as("min_col"),
          max(expr("user_id % 16")).as("max_col"))
        .orderBy(col("z_tile"))
    },
    Some {
      val interleave = (0 until 4).map(b =>
        s"((((event_id % 16) >> $b) & 1) << ${2 * b + 1}) | " +
          s"((((user_id % 16) >> $b) & 1) << ${2 * b})")
        .mkString(" | ")
      s"""SELECT CAST(zval // 16 AS BIGINT) AS z_tile, count(*) AS n,
            min(event_id % 16) AS min_row, max(event_id % 16) AS max_row,
            min(user_id % 16) AS min_col, max(user_id % 16) AS max_col
          FROM (SELECT event_id, user_id, $interleave AS zval FROM events)
          GROUP BY z_tile
          ORDER BY z_tile NULLS FIRST"""
    })

  /** Parquet footer introspection (q_scan_parquet_meta): the layout
    * census a lakehouse maintenance job runs before compaction —
    * row-group count, row counts per group, leaf-column count —
    * straight from the events file's footer via parquet-hadoop (a
    * metadata read: no data pages touched, the same O(footer) cost at
    * any table size). The DuckDB oracle reads the identical footer
    * through parquet_file_metadata()/parquet_metadata(); those take a
    * literal path, so the oracle carries a __SF_DIR__ placeholder that
    * Verify substitutes with the actual data dir at dump time — the
    * oracle follows whatever scale the replay runs at. */
  val qScanParquetMeta = Q(
    "q_scan_parquet_meta",
    (s, d) => {
      val conf = s.sessionState.newHadoopConf()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$d/events.parquet"), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val (nRows, nGroups, maxGroupRows, nCols) =
        try {
          val blocks = reader.getFooter.getBlocks
          import scala.jdk.CollectionConverters._
          (blocks.asScala.map(_.getRowCount).sum,
            blocks.size().toLong,
            blocks.asScala.map(_.getRowCount).max,
            reader.getFooter.getFileMetaData.getSchema.getFieldCount.toLong)
        } finally reader.close()
      import s.implicits._
      Seq((nRows, nGroups, maxGroupRows, nCols))
        .toDF("n_rows", "n_row_groups", "max_group_rows", "n_columns")
    },
    Some("""SELECT CAST(num_rows AS BIGINT) AS n_rows,
        CAST(num_row_groups AS BIGINT) AS n_row_groups,
        (SELECT CAST(max(nv) AS BIGINT) FROM (
           SELECT row_group_id, max(row_group_num_rows) AS nv
           FROM parquet_metadata('__SF_DIR__/events.parquet')
           GROUP BY row_group_id))
          AS max_group_rows,
        (SELECT CAST(count(DISTINCT column_id) AS BIGINT)
         FROM parquet_metadata('__SF_DIR__/events.parquet')
         WHERE row_group_id = 0) AS n_columns
      FROM parquet_file_metadata(
        '__SF_DIR__/events.parquet')"""))

  /** Recursive SQL (q_sql_recursive): Spark 4's WITH RECURSIVE through
    * the textual front door — the hierarchy rollup every catalog/
    * lineage system runs. Documents form an implicit binary tree
    * (parent = doc_id div 2); each document's ancestor chain unwinds
    * recursively (UNION ALL, guaranteed terminating: the id at least
    * halves per step, ≤ log2(n) rounds of the recursion's fixpoint
    * loop) and the per-depth census joins ancestor n_chars back in —
    * integer-exact, identical recursive SQL on the DuckDB side modulo
    * `div` vs `//`. */
  val qSqlRecursive = Q(
    "q_sql_recursive",
    (s, d) => {
      Tables.t(s, d, "documents").createOrReplaceTempView("documents_v")
      s.sql("""WITH RECURSIVE anc(doc_id, anc_id, depth) AS (
          SELECT doc_id, doc_id, CAST(0 AS BIGINT) FROM documents_v
          UNION ALL
          SELECT doc_id, anc_id div 2, depth + 1
          FROM anc WHERE anc_id > 0)
        SELECT depth, count(*) AS n_chains,
          sum(dd.n_chars) AS sum_anc_chars
        FROM anc JOIN documents_v dd ON anc.anc_id = dd.doc_id
        GROUP BY depth
        ORDER BY depth""")
    },
    Some("""WITH RECURSIVE anc(doc_id, anc_id, depth) AS (
        SELECT doc_id, doc_id, CAST(0 AS BIGINT) FROM documents
        UNION ALL
        SELECT doc_id, anc_id // 2, depth + 1
        FROM anc WHERE anc_id > 0)
      SELECT depth, CAST(count(*) AS BIGINT) AS n_chains,
        CAST(sum(dd.n_chars) AS BIGINT) AS sum_anc_chars
      FROM anc JOIN documents dd ON anc.anc_id = dd.doc_id
      GROUP BY depth
      ORDER BY depth NULLS FIRST"""))

  val all: Seq[Q] = Seq(
    qScanCsv, qScanJson, qScanOrc, qScanXml, qScanText, qSqlApi,
    qScanEvolution, qScanCorrupt,
    qSinkParquet, qFilterBitops, qUdfScalar,
    qUdafTyped, qUdtfExplode, qDedupSimhashPairs, qUdafBitset, qZorder,
    qFnNull, qTypedPipeline, qFnStructJson, qSqlRecursive,
    qScanParquetMeta)
}
