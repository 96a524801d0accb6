package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** T1 decode pipeline (SURVEY.md §2.1): the 40-bit ETROC frame semantics
  * (html:51; md:343-348) re-expressed as pure Catalyst bit expressions —
  * codegen-friendly projections, no UDFs (SURVEY §4.3: built-ins suffice).
  *
  * Frames are synthesized deterministically from `events` columns so the
  * DuckDB oracle can rebuild the identical words:
  *   layout (LSB→MSB): tot(9) | toa(10) | cal(4) | col(4) | row(4) | kind(2)
  *   kind: 0=filler, 1=header, 2=data, 3=trailer (html:51).
  */
object Decode {

  /** Spark-side packing expression (shared with Extras.qFilterBitops). */
  val wordSparkSql: String =
    """(user_id % 512)
       | shiftleft(event_id % 1024, 9)
       | shiftleft((event_id * 7) % 16, 19)
       | shiftleft(user_id % 16, 23)
       | shiftleft(event_id % 16, 27)
       | shiftleft(event_id % 4, 31)"""

  /** Bit-pack the synthetic frame word (Spark side). */
  private def withWord(df: DataFrame): DataFrame =
    df.withColumn("word", expr(wordSparkSql))

  /** Same packing for the DuckDB oracle (`<<` instead of shiftleft). */
  val wordSql: String =
    """(user_id % 512)
       | ((event_id % 1024) << 9)
       | (((event_id * 7) % 16) << 19)
       | ((user_id % 16) << 23)
       | ((event_id % 16) << 27)
       | ((event_id % 4) << 31)"""

  /** CTE shared by every decode oracle query. */
  val framesCte: String =
    s"""WITH frames AS (
          SELECT event_id, ts, user_id, event_type, value,
                 $wordSql AS word
          FROM events)"""

  private def frames(s: SparkSession, d: String): DataFrame =
    withWord(Tables.t(s, d, "events"))

  /** Unpack expressions (identical arithmetic on both engines). */
  private def decoded(df: DataFrame): DataFrame =
    df.select(
      col("event_id"), col("value"), col("word"),
      expr("word & 511").as("tot"),
      expr("shiftright(word, 9) & 1023").as("toa"),
      expr("shiftright(word, 19) & 15").as("cal"),
      expr("shiftright(word, 23) & 15").as("pix_col"),
      expr("shiftright(word, 27) & 15").as("pix_row"),
      expr("shiftright(word, 31) & 3").as("kind"))

  /** Full binary-stream scan (q_scan_binary, md:196-209): drain the whole
    * stream, verify word-level integrity via count/min/max/sum — the
    * occupancy/`readBlock(128)` accounting idiom as one aggregate pass. */
  val qScanBinary = Q(
    "q_scan_binary",
    (s, d) =>
      frames(s, d)
        .agg(
          count(lit(1)).as("n_words"),
          min(col("word")).as("min_word"),
          max(col("word")).as("max_word"),
          sum(col("word")).as("sum_word"),
          (sum(col("word") % 128)).as("sum_rem")),
    Some(s"""$framesCte
             SELECT count(*) AS n_words,
               min(word) AS min_word, max(word) AS max_word,
               CAST(sum(word) AS BIGINT) AS sum_word,
               CAST(sum(word % 128) AS BIGINT) AS sum_rem
             FROM frames"""))

  /** 40-bit frame decode (q_frame_decode, html:51): bit-slice the packed
    * word into TOA/TOT/cal/row/col plus the word-class tag. */
  val qFrameDecode = Q(
    "q_frame_decode",
    (s, d) =>
      decoded(frames(s, d))
        .withColumn("kind_name", expr(
          """CASE kind WHEN 0 THEN 'filler' WHEN 1 THEN 'header'
                       WHEN 2 THEN 'data' ELSE 'trailer' END"""))
        .select(col("event_id"), col("toa"), col("tot"), col("cal"),
          col("pix_row"), col("pix_col"), col("kind_name"))
        .orderBy(col("event_id")),
    Some(s"""$framesCte
             SELECT event_id, (word >> 9) & 1023 AS toa, word & 511 AS tot,
               (word >> 19) & 15 AS cal, (word >> 27) & 15 AS pix_row,
               (word >> 23) & 15 AS pix_col,
               CASE (word >> 31) & 3 WHEN 0 THEN 'filler' WHEN 1 THEN 'header'
                    WHEN 2 THEN 'data' ELSE 'trailer' END AS kind_name
             FROM frames
             ORDER BY event_id NULLS FIRST"""))

  /** Filler suppression after lock (q_filler_suppress, html:51). */
  val qFillerSuppress = Q(
    "q_filler_suppress",
    (s, d) =>
      decoded(frames(s, d))
        .filter(col("kind") =!= 0)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), sum(col("toa")).as("sum_toa"))
        .orderBy(col("kind")),
    Some(s"""$framesCte
             SELECT (word >> 31) & 3 AS kind, count(*) AS n,
               CAST(sum((word >> 9) & 1023) AS BIGINT) AS sum_toa
             FROM frames
             WHERE ((word >> 31) & 3) != 0
             GROUP BY kind
             ORDER BY kind NULLS FIRST"""))

  /** Flashing-bit mask (q_flashing_mask, html:51): the periodic pattern
    * repeats every 3564 BX with width 8 (triggerGranularity=4 → 8-bit
    * trigger words); align via modulo and mask it out before counting
    * triggers — predicate pushdown does the cheap pre-mask first
    * (SURVEY §4.1). */
  val qFlashingMask = Q(
    "q_flashing_mask",
    (s, d) =>
      frames(s, d)
        .withColumn("bx", col("event_id"))
        .withColumn("flashing", (col("bx") % 3564) < 8)
        .groupBy(col("event_type"))
        .agg(
          count(when(col("flashing"), 1)).as("n_masked"),
          count(when(!col("flashing"), 1)).as("n_kept"),
          count(when(!col("flashing") && col("value") > 100.0, 1))
            .as("n_triggers"))
        .orderBy(col("event_type")),
    Some(s"""$framesCte
             SELECT event_type,
               count(CASE WHEN event_id % 3564 < 8 THEN 1 END) AS n_masked,
               count(CASE WHEN event_id % 3564 >= 8 THEN 1 END) AS n_kept,
               count(CASE WHEN event_id % 3564 >= 8 AND value > 100.0
                          THEN 1 END) AS n_triggers
             FROM frames
             GROUP BY event_type
             ORDER BY event_type NULLS FIRST"""))

  /** Bitslip lock detection (q_bitslip, html:51): the decoder tries all
    * 8 bit alignments and locks on the shift where the filler pattern
    * (0xAA) appears most often. Candidate shifts explode from a literal
    * sequence; argmax with deterministic tie-break. */
  val qBitslip = Q(
    "q_bitslip",
    (s, d) =>
      frames(s, d)
        .select(col("word"),
          explode(sequence(lit(0), lit(7))).as("shift"))
        .groupBy(col("shift").cast("long").as("shift"))
        .agg(count(when(
          expr("(shiftright(word, CAST(shift AS INT)) & 255) = 170"), 1))
          .as("matches"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("matches").desc, col("shift"))).cast("long"))
        .withColumn("is_locked", col("rnk") === 1)
        .select(col("shift"), col("matches"), col("rnk"), col("is_locked"))
        .orderBy(col("shift")),
    Some(s"""$framesCte
             SELECT shift, matches, rnk, rnk = 1 AS is_locked
             FROM (
               SELECT shift,
                 count(CASE WHEN ((word >> shift) & 255) = 170 THEN 1 END)
                   AS matches,
                 CAST(row_number() OVER (
                   ORDER BY count(CASE WHEN ((word >> shift) & 255) = 170
                                  THEN 1 END) DESC, shift) AS BIGINT)
                   AS rnk
               FROM frames
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS shift) sh
               GROUP BY shift)
             ORDER BY shift NULLS FIRST"""))

  /** Flashing-period detection (q_flashing_detect, html:51): recover the
    * trigger-noise period from data by scoring candidate periods — the
    * true period concentrates triggers into few phases; argmax by peak
    * phase count with deterministic tie-break. */
  val qFlashingDetect = Q(
    "q_flashing_detect",
    (s, d) =>
      frames(s, d)
        .filter(col("value") > 250.0)
        .select(col("event_id").as("bx"),
          explode(expr("array(891, 1782, 3564)")).as("period"))
        .groupBy(col("period").cast("long").as("period"),
          (col("bx") % col("period")).as("phase"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("period"))
        .agg(max(col("n")).as("peak_phase_n"),
          countDistinct(col("phase")).as("n_phases"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("peak_phase_n").desc, col("period"))).cast("long"))
        .orderBy(col("period")),
    Some(s"""$framesCte
             SELECT period, peak_phase_n, n_phases,
               CAST(row_number() OVER (ORDER BY peak_phase_n DESC, period)
                    AS BIGINT) AS rnk
             FROM (
               SELECT period, max(n) AS peak_phase_n,
                 count(DISTINCT phase) AS n_phases
               FROM (
                 SELECT period, bx % period AS phase, count(*) AS n
                 FROM (SELECT event_id AS bx, value FROM frames
                       WHERE value > 250.0)
                 CROSS JOIN (SELECT unnest([891, 1782, 3564]) AS period) p
                 GROUP BY period, phase)
               GROUP BY period)
             ORDER BY period NULLS FIRST"""))

  /** Raw byte-level `.dat` scan (q_scan_binary_raw, md:227-234,
    * md:196-209 `readBlock(128)`): the literal binary path a user with an
    * actual DAQ blob takes. Each 40-bit frame is packed into 5 big-endian
    * bytes and written as one `.dat` blob per partition (the write is the
    * fixture half — at cluster scale the blobs already sit on shared
    * storage). The read half is the operator under test: the `binaryFile`
    * source loads each blob, a sequence-explode walks its 5-byte words,
    * and `substring`/`hex`/`conv` Catalyst expressions decode them —
    * executor-parallel per file, no UDFs, no driver round-trip. The
    * DuckDB oracle rebuilds the identical words from `events` directly,
    * so a green hash proves byte-level pack → scan → decode fidelity. */
  val qScanBinaryRaw = Q(
    "q_scan_binary_raw",
    (s, d) => {
      val dir = sys.props("java.io.tmpdir") + "/graft_raw_dat"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      new java.io.File(dir).mkdirs()
      frames(s, d).select(col("word"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val f = new java.io.File(s"$dir/part-$pid.dat")
          val os = new java.io.BufferedOutputStream(
            new java.io.FileOutputStream(f))
          try it.foreach { r =>
            val w = r.getLong(0)
            var shift = 32
            while (shift >= 0) { os.write(((w >> shift) & 0xFF).toInt); shift -= 8 }
          } finally os.close()
        }
      s.read.format("binaryFile").load(dir)
        .select(col("content"),
          (length(col("content")) / 5).cast("long").as("n"))
        .filter(col("n") >= 1)
        .select(col("content"),
          explode(expr("sequence(CAST(0 AS BIGINT), n - 1)")).as("i"))
        .select(expr(
          """CAST(conv(hex(substring(content, CAST(i * 5 + 1 AS INT), 5)),
               16, 10) AS BIGINT)""").as("word"))
        .groupBy(expr("shiftright(word, 31) & 3").as("kind"))
        .agg(
          count(lit(1)).as("n_words"),
          sum(col("word")).as("sum_word"),
          min(col("word")).as("min_word"),
          max(col("word")).as("max_word"),
          sum(expr("word & 511")).as("sum_tot"),
          sum(expr("shiftright(word, 9) & 1023")).as("sum_toa"))
        .orderBy(col("kind"))
    },
    Some(s"""$framesCte
             SELECT (word >> 31) & 3 AS kind, count(*) AS n_words,
               CAST(sum(word) AS BIGINT) AS sum_word,
               min(word) AS min_word, max(word) AS max_word,
               CAST(sum(word & 511) AS BIGINT) AS sum_tot,
               CAST(sum((word >> 9) & 1023) AS BIGINT) AS sum_toa
             FROM frames
             GROUP BY kind
             ORDER BY kind NULLS FIRST"""))

  val all: Seq[Q] =
    Seq(qScanBinary, qFrameDecode, qFillerSuppress, qFlashingMask,
      qBitslip, qFlashingDetect, qScanBinaryRaw)
}
