package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Structured Streaming surface (SURVEY.md §2.2 q_stream_*): the
  * watchdog's file-arrival semantics (md:306-314) as micro-batch
  * pipelines — tumbling/sliding/session windows, watermarks, stateful
  * dedup and counters, foreachBatch sinks.
  *
  * Verify runs each pipeline to completion with Trigger.AvailableNow over
  * the static sf dir (the reference's drain-then-finalize semantics,
  * md:224-232) and returns the settled result as a batch DataFrame, so
  * deterministic aggregates still get a DuckDB oracle. Streaming-only
  * behaviors (late-data drop, cross-batch state) are covered in
  * StreamSpec with a MemoryStream.
  *
  * Scale notes: all aggregations are keyed (window, type/user) so state
  * is bounded per key; watermarks bound state growth; file sources scale
  * by partitioned listing. No collect, no global state.
  */
object StreamOps {

  /** Stateful-drain shuffle width: every stateful operator instantiates
    * one state store PER shuffle partition PER micro-batch, and that
    * fixed cost — not row volume — dominates a finite drain (32 → 8
    * measured 11.7 s → 3.6 s on the stream-stream join at sf0.1).
    * 8 is the measured sweet spot at sf0.1: a round-9 A/B over the 8
    * slowest drains gave warm sums 19.5 s (w=8) / 21.0 s (w=4) /
    * 22.4 s (w=2) — below 8 the lost processing parallelism costs more
    * than the saved state-store instances. Production streams size
    * this to sustained throughput via the same session conf; the cap
    * only lowers the session value, never raises it. */
  private val drainWidth = 8


  /** Streaming view of `events` (schema from a batch footer read; same
    * physical-type-dependent ts normalization as Tables.t — driver data
    * may store TIMESTAMP(NANOS) (read as long under nanosAsLong) or a
    * plain timestamp, depending on the generation round). */
  /** Footer-schema memo: ~30 stream queries each open the same parquet
    * footer to type their readStream; one listing per (session, dir,
    * table) is enough (the Tables.t caching argument — sf dirs are
    * immutable for the JVM's life). */
  private val schemaCache = scala.collection.concurrent
    .TrieMap[(SparkSession, String), org.apache.spark.sql.types.StructType]()

  private[graft] def footerSchema(s: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType =
    schemaCache.getOrElseUpdate(
      (s, path), {
        // a stream query may be the first read of a foreign session
        Tables.configure(s)
        s.read.parquet(path).schema
      })

  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val schema = footerSchema(s, s"$d/events.parquet")
    // the streaming file source wants a directory: point it at the sf dir
    // and glob-filter down to the events file (watchdog arrival pattern)
    val raw = s.readStream.schema(schema).format("parquet")
      .option("pathGlobFilter", "events.parquet")
      .load(d)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw.withColumn("ts",
        expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"))
      case _ => raw.withColumn("ts", expr("CAST(ts AS TIMESTAMP_NTZ)"))
    }
  }

  /** Run `w` to completion (Trigger.AvailableNow) in the scope every
    * finite drain shares; the session confs it sets are restored once
    * the drain settles, so batch queries and explicitly checkpointed
    * streams (StreamSpec's cross-run replays on real paths, production
    * restarts) never see them:
    *  - shuffle width capped at [[drainWidth]] (see its note on
    *    state-store instance cost);
    *  - background state-store maintenance pushed out of the way: a
    *    finite drain is gone before the first interval fires, and
    *    hundreds of finished-drain providers accumulate over a bench
    *    session for the walker to re-visit;
    *  - checkpoint I/O routed through the RAM-backed
    *    [[EphemeralCheckpoint]] manager. A finite drain on a TEMPORARY
    *    checkpoint gets zero recovery value from durable checkpoint
    *    files (Spark deletes the directory on success), yet pays ~40
    *    LocalFileSystem round-trips per drain for them — measured
    *    ~115 ms of walCommit/commitOffsets/latestOffset plus ~80 ms of
    *    metadata-log reads inside queryPlanning, ~0.2-0.25 s of a warm
    *    drain's ~0.8 s wall;
    *  - with `noDataBatches = false`, no trailing no-data micro-batch
    *    (see [[drain]] for when that is safe). */
  private def settle(s: SparkSession, w: DataStreamWriter[_],
      noDataBatches: Boolean = true): Unit = {
    val width = math.min(drainWidth,
      s.conf.get("spark.sql.shuffle.partitions").toInt)
    val scoped = Seq(
      "spark.sql.shuffle.partitions" -> width.toString,
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "graft.streaming.EphemeralCheckpoint") ++
      (if (noDataBatches) Nil
       else Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))
    Tables.withConfs(s, scoped: _*)(
      w.trigger(Trigger.AvailableNow()).start().awaitTermination())
  }

  /** Run a streaming frame to completion into a memory sink; return the
    * settled table.
    *
    * The trailing no-data micro-batch AvailableNow appends for
    * watermark finalization only matters when an operator EMITS on
    * watermark advance; skip it (≈100-150 ms/drain) whenever the
    * settled table provably cannot change:
    *  - complete mode: every batch is the full recomputed aggregate;
    *  - emit-on-arrival operators (the call site passes
    *    emitsOnFinalize = false): dropDuplicates without timers,
    *    *WithState with NoTimeout/TimeMode.None, stream-stream INNER
    *    joins, update-mode aggs (rows emit when their value changes —
    *    the no-data batch changes none, it only evicts state).
    * Kept (emitsOnFinalize = true, the default) wherever finalization
    * DOES emit: append-mode windowed aggs (final windows emit when
    * the watermark passes the window end), OUTER joins (null-padded
    * rows emit on watermark advance), timer-driven processors.
    * spark.graft.forceFinalize=true disables every skip — the
    * reference path StreamFinalizeSpec uses to PROVE, per query, that
    * the settled table is identical with and without the no-data
    * batch. */
  private def drain(s: SparkSession, df: DataFrame, name: String,
      mode: String, emitsOnFinalize: Boolean = true): DataFrame = {
    val forceFinalize =
      try s.conf.get("spark.graft.forceFinalize", "false").toBoolean
      catch { case _: Throwable => false }
    settle(s, df.writeStream.outputMode(mode).format("memory")
        .queryName(name),
      noDataBatches =
        forceFinalize || (mode != "complete" && emitsOnFinalize))
    s.table(name)
  }

  /** File-arrival source end-to-end (q_stream_source): stream the events
    * file, settle per-type counts. */
  val qStreamSource = Q(
    "q_stream_source",
    (s, d) =>
      drain(s,
        eventsStream(s, d)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 2).as("sum_value")),
        "stream_source_tbl", "complete")
        .orderBy(col("event_type")),
    Some("""SELECT event_type, count(*) AS n,
              round(sum(value), 2) AS sum_value
            FROM events GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** Tumbling 30-minute windows (q_stream_tumbling — the 30 s acquisition
    * slice idiom md:183 at table timescale). */
  val qStreamTumbling = Q(
    "q_stream_tumbling",
    (s, d) =>
      drain(s,
        eventsStream(s, d)
          .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n")),
        "stream_tumbling_tbl", "complete")
        .select(
          col("window.start").cast("timestamp_ntz").as("w_start"),
          col("event_type"), col("n"))
        .orderBy(col("w_start"), col("event_type")),
    Some("""SELECT time_bucket(INTERVAL '30 minutes', ts) AS w_start,
              event_type, count(*) AS n
            FROM events GROUP BY w_start, event_type
            ORDER BY w_start NULLS FIRST, event_type NULLS FIRST"""))

  /** Sliding windows, 1 h every 30 min (q_stream_sliding): each event in
    * two overlapping windows — the rate-monitoring shape (md:236). */
  val qStreamSliding = Q(
    "q_stream_sliding",
    (s, d) =>
      drain(s,
        eventsStream(s, d)
          .groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n"),
            round(avg(col("value")), 6).as("avg_value")),
        "stream_sliding_tbl", "complete")
        .select(
          col("window.start").cast("timestamp_ntz").as("w_start"),
          col("n"), col("avg_value"))
        .orderBy(col("w_start")),
    Some("""SELECT w_start, count(*) AS n, round(avg(value), 6) AS avg_value
            FROM (SELECT value,
                    time_bucket(INTERVAL '30 minutes', ts)
                      - o * INTERVAL 1 MINUTE AS w_start
                  FROM events
                  CROSS JOIN (SELECT unnest([0, 30]) AS o) offs)
            GROUP BY w_start
            ORDER BY w_start NULLS FIRST"""))

  /** Session windows per user, 30-minute gap (q_stream_session): a burst
    * of triggers = one particle event (html:239-243). */
  val qStreamSession = Q(
    "q_stream_session",
    (s, d) =>
      drain(s,
        eventsStream(s, d)
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n")),
        "stream_session_tbl", "complete")
        .select(
          col("session_window.start").cast("timestamp_ntz").as("s_start"),
          col("user_id"), col("n"))
        .orderBy(col("user_id"), col("s_start")),
    Some("""WITH flagged AS (
              SELECT user_id, ts,
                CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                          >= 1800000000
                       OR lag(ts) OVER w IS NULL
                     THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            sessions AS (
              SELECT user_id, ts,
                sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS session_id
              FROM flagged)
            SELECT min(ts) AS s_start, user_id, count(*) AS n
            FROM sessions
            GROUP BY user_id, session_id
            ORDER BY user_id NULLS FIRST, s_start NULLS FIRST"""))

  /** Watermarked windowed aggregate (q_stream_watermark): 10-minute
    * late-data bound on tumbling hour counts. Update mode over a drained
    * static source settles to the batch answer; the drop-late behavior
    * itself is asserted in StreamSpec (no oracle can see it). */
  val qStreamWatermark = Q(
    "q_stream_watermark",
    (s, d) =>
      drain(s,
        eventsStream(s, d)
          // watermarks require an instant (TIMESTAMP); identity under UTC
          .withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n")),
        "stream_watermark_tbl", "update",
          emitsOnFinalize = false)
        .select(
          col("window.start").cast("timestamp_ntz").as("w_start"),
          col("n"))
        .orderBy(col("w_start")),
    Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
              count(*) AS n
            FROM events GROUP BY w_start
            ORDER BY w_start NULLS FIRST"""))

  /** Stateful stream dedup (q_stream_dedup): first-seen keys of
    * (user_id, event_type) — the double-trigger suppression idiom. The
    * settled key set is deterministic (which row survived is not, so
    * only keys are exposed). */
  val qStreamDedup = Q(
    "q_stream_dedup",
    (s, d) =>
      drain(s,
        eventsStream(s, d)
          .select(col("user_id"), col("event_type"))
          .dropDuplicates("user_id", "event_type"),
        "stream_dedup_tbl", "append",
        emitsOnFinalize = false)
        .orderBy(col("user_id"), col("event_type")),
    Some("""SELECT DISTINCT user_id, event_type FROM events
            ORDER BY user_id NULLS FIRST, event_type NULLS FIRST"""))

  /** Cross-batch running counters (q_stream_stateful): EVENT_CNT
    * semantics (html:163-166) as update-mode keyed counts backed by the
    * state store. */
  val qStreamStateful = Q(
    "q_stream_stateful",
    (s, d) =>
      drain(s,
        eventsStream(s, d)
          .withColumn("rb", expr("user_id % 2"))
          .groupBy(col("rb"))
          .agg(count(lit(1)).as("event_cnt")),
        "stream_stateful_tbl", "complete")
        .orderBy(col("rb")),
    Some("""SELECT user_id % 2 AS rb, count(*) AS event_cnt
            FROM events GROUP BY rb
            ORDER BY rb NULLS FIRST"""))

  /** foreachBatch sink (q_stream_foreachbatch): per-batch side-effecting
    * write + merge — the watchdog's decode→merge→archive loop
    * (md:306-314). Batches append to a parquet archive; the settled
    * archive is re-read and aggregated. */
  val qStreamForeachBatch = Q(
    "q_stream_foreachbatch",
    (s, d) => {
      val out = sys.props("java.io.tmpdir") + "/graft_stream_archive"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      settle(s, eventsStream(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        })
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n,
              round(sum(value), 2) AS sum_value
            FROM events GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** The whole reference data path as ONE streaming pipeline
    * (q_stream_daq_pipeline): file arrival → 40-bit frame decode →
    * filler suppression → flashing-bit mask → per-pixel threshold cut →
    * per-(window, pixel-row) hit rates. Composes Decode/Telescope
    * semantics on the stream; the settled result is deterministic so it
    * still gets a DuckDB oracle. */
  val qStreamDaqPipeline = Q(
    "q_stream_daq_pipeline",
    (s, d) =>
      drain(s,
        eventsStream(s, d)
          .withColumn("word", expr(graft.ops.Decode.wordSparkSql))
          .withColumn("kind", expr("shiftright(word, 31) & 3"))
          .withColumn("pix_row", expr("shiftright(word, 27) & 15"))
          .filter(col("kind") =!= 0)                 // filler suppression
          .filter(expr("event_id % 3564 >= 8"))      // flashing-bit mask
          .filter(col("value") > 100.0)              // threshold cut
          .groupBy(window(col("ts"), "1 hour"), col("pix_row"))
          .agg(count(lit(1)).as("n_hits"),
            round(avg(col("value")), 6).as("mean_amp")),
        "stream_daq_tbl", "complete")
        .select(
          col("window.start").cast("timestamp_ntz").as("w_start"),
          col("pix_row"), col("n_hits"), col("mean_amp"))
        .orderBy(col("w_start"), col("pix_row")),
    Some(s"""${graft.ops.Decode.framesCte}
             SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
               (word >> 27) & 15 AS pix_row,
               count(*) AS n_hits, round(avg(value), 6) AS mean_amp
             FROM frames
             WHERE ((word >> 31) & 3) != 0
               AND event_id % 3564 >= 8
               AND value > 100.0
             GROUP BY w_start, pix_row
             ORDER BY w_start NULLS FIRST, pix_row NULLS FIRST"""))

  /** Resettable EVENT_CNT via flatMapGroupsWithState
    * (q_stream_reset_counter, SURVEY §7.3 hard part 4): per readout
    * board, a running count of events that a 'signup' sentinel resets to
    * zero — custom keyed state the built-in aggregates can't express.
    *
    * State is keyed by (rb, UTC day), NOT rb alone: a running scan is
    * inherently sequential per key, and with a cardinality-2 key each
    * task would buffer half of every trigger (real deployments key by
    * (run, rb) for the same reason). Each (rb, day) group sorts only one
    * day of one board and emits LOCAL counts (resets applied within the
    * day) plus a seen-a-reset flag; the cross-day carry is then stitched
    * on relationally: per-day tails (count since last reset at day end)
    * prefix-sum back to the last reset day via window functions over the
    * tiny per-day summary. Output is identical to a single sequential
    * scan — the window-SQL oracle is unchanged. */
  private val usPerDay = 86400000000L

  /** Streaming half of the resettable counter: per (rb, UTC day) group,
    * emit each row's LOCAL running count (resets applied within the day)
    * plus whether a reset has been seen in the day so far. Rows are
    * (event_id, us, rb, event_type). */
  private[graft] def resetCounterLocal(
      src: org.apache.spark.sql.Dataset[(Long, Long, Long, String)])
      : DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import src.sparkSession.implicits._
    src
      .groupByKey(r => (r._3, r._2 / usPerDay))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, Long), it: Iterator[(Long, Long, Long, String)],
          state: GroupState[(Long, Boolean)]) =>
          var (n, seen) = state.getOption.getOrElse((0L, false))
          val rows = it.toSeq.sortBy(r => (r._2, r._1)).map { r =>
            if (r._4 == "signup") { n = 0L; seen = true } else n += 1L
            (key._1, key._2, r._1, r._2, n, seen)
          }
          state.update((n, seen))
          rows.iterator
      }
      .toDF("rb", "day", "event_id", "us", "l_cnt", "seen")
  }

  /** Relational half: stitch cross-day carries onto the settled local
    * counts (a registered table). carry(D) = Σ tails of the days since
    * the last reset day strictly before D; g (prefix-sum of tails) is
    * nondecreasing, so the g value AT the most recent reset day is a
    * running max. Expressed as SQL over the table name: the local rows
    * join their own day-level aggregate, and SQL view resolution gives
    * each scan fresh attributes (the DataFrame self-join form trips
    * analyzer deduplication over memory-sink views). */
  private[graft] def stitchCarries(s: SparkSession, table: String)
      : DataFrame =
    s.sql(
      s"""WITH daysum AS (
            SELECT rb, day,
              max_by(l_cnt, struct(us, event_id)) AS tail,
              max(CAST(seen AS INT)) AS has_signup
            FROM $table GROUP BY rb, day),
          carries AS (
            SELECT rb, day, g - last_sig_g AS carry FROM (
              SELECT rb, day, g,
                coalesce(max(CASE WHEN has_signup = 1 THEN g END)
                  OVER (PARTITION BY rb ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS last_sig_g
              FROM (
                SELECT rb, day, has_signup,
                  coalesce(sum(tail)
                    OVER (PARTITION BY rb ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS g
                FROM daysum)))
          SELECT l.rb, l.event_id,
            CASE WHEN l.seen THEN l.l_cnt
                 ELSE c.carry + l.l_cnt END AS event_cnt
          FROM $table l JOIN carries c ON l.rb = c.rb AND l.day = c.day""")

  val qStreamResetCounter = Q(
    "q_stream_reset_counter",
    (s, d) => {
      import s.implicits._
      val src = eventsStream(s, d)
        .select(col("event_id"), unix_micros(col("ts").cast("timestamp"))
          .as("us"), expr("user_id % 2").as("rb"), col("event_type"))
        .as[(Long, Long, Long, String)]
      drain(s, resetCounterLocal(src), "stream_reset_tbl", "append",
        emitsOnFinalize = false)
      stitchCarries(s, "stream_reset_tbl").orderBy(col("event_id"))
    },
    Some("""WITH t AS (
              SELECT event_id, ts, user_id % 2 AS rb, event_type
              FROM events),
            seg AS (
              SELECT *, count(CASE WHEN event_type = 'signup' THEN 1 END)
                OVER (PARTITION BY rb ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS sg
              FROM t)
            SELECT rb, event_id,
              count(CASE WHEN event_type != 'signup' THEN 1 END)
                OVER (PARTITION BY rb, sg ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS event_cnt
            FROM seg
            ORDER BY event_id NULLS FIRST"""))

  /** StatefulProcessor for q_stream_tws: per (event_type, UTC day)
    * group, the DAY-LOCAL running max of value in (us, event_id) order.
    * Same sharded-key discipline as the reset counter — no task ever
    * buffers more than one day of one type; the cross-day carry is a
    * prefix max stitched on relationally afterwards. */
  private[graft] class RunningMaxProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (String, Long), (Long, Long, String, Double),
        (String, Long, Long, Long, Double)] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var maxState: ValueState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      maxState = getHandle.getValueState[Double](
        "max", Encoders.scalaDouble, TTLConfig.NONE)
    override def handleInputRows(key: (String, Long),
        rows: Iterator[(Long, Long, String, Double)],
        timerValues: TimerValues)
        : Iterator[(String, Long, Long, Long, Double)] = {
      var m = if (maxState.exists()) maxState.get() else Double.MinValue
      val out = rows.toSeq.sortBy(r => (r._2, r._1)).map { r =>
        m = math.max(m, r._4)
        (key._1, key._2, r._1, r._2, m)
      }
      maxState.update(m)
      out.iterator
    }
  }

  /** The state store transformWithState requires. */
  private val rocksDbState =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Arbitrary state via the Spark 4 transformWithState API
    * (q_stream_tws): the modern replacement for flatMapGroupsWithState —
    * typed ValueState through a StatefulProcessor handle, RocksDB state
    * store required. Semantics: per event_type, the running max value in
    * event order; state shards by (type, day) and a relational prefix
    * max supplies the cross-day carry, so the settled result equals the
    * global window-SQL oracle. */
  val qStreamTws = Q(
    "q_stream_tws",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      Tables.withConfs(s, rocksDbState) {
        val src = eventsStream(s, d)
          .select(col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("us"),
            col("event_type"), col("value"))
          .as[(Long, Long, String, Double)]
        val local = src
          .groupByKey(r => (r._3, r._2 / usPerDay))
          .transformWithState(new RunningMaxProcessor,
            TimeMode.None(), OutputMode.Append())
        drain(s, local.toDF("event_type", "day", "event_id", "us", "l_max"),
          "stream_tws_tbl", "append",
          emitsOnFinalize = false)
        s.sql(
          """WITH carries AS (
               SELECT event_type, day,
                 max(day_max) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS carry
               FROM (SELECT event_type, day, max(l_max) AS day_max
                     FROM stream_tws_tbl GROUP BY event_type, day))
             SELECT l.event_id, l.event_type,
               round(CASE WHEN c.carry IS NULL OR l.l_max >= c.carry
                          THEN l.l_max ELSE c.carry END, 2) AS running_max
             FROM stream_tws_tbl l
             JOIN carries c
               ON l.event_type = c.event_type AND l.day = c.day""")
          .orderBy(col("event_id"))
      }
    },
    Some("""SELECT event_id, event_type,
              round(max(value) OVER (PARTITION BY event_type
                ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                AS running_max
            FROM events
            ORDER BY event_id NULLS FIRST"""))

  /** The raw `.dat` byte path END-TO-END as streams
    * (q_stream_binary_raw, md:306-314 + md:227-234): the write half is
    * the watchdog producing binary blobs as data arrives — a streaming
    * foreachBatch sink packs each row into a 13-byte big-endian record
    * (8-byte unix-micros timestamp + 5-byte frame word) and appends one
    * `.dat` blob per (batch, partition). The read half is a SECOND
    * stream: `binaryFile` file-arrival source over the blob directory →
    * sequence-explode walks the 13-byte records → `substring`/`hex`/
    * `conv` expressions decode timestamp + word (same pure-Catalyst
    * decode as q_scan_binary_raw, Decode.qScanBinaryRaw) → filler
    * suppression → per-(hour window, pixel-row) hit rates. Settled
    * result is deterministic, so the frames oracle checks byte-level
    * pack → arrival → decode → window fidelity end-to-end. Scale: blobs
    * decode executor-parallel per file with no driver round-trip; the
    * windowed agg is keyed, so state is bounded per (window, pixel). */
  val qStreamBinaryRaw = Q(
    "q_stream_binary_raw",
    (s, d) => {
      val dir = sys.props("java.io.tmpdir") + "/graft_stream_raw_dat"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      new java.io.File(dir).mkdirs()
      settle(s, eventsStream(s, d)
        .select(unix_micros(col("ts").cast("timestamp")).as("us"),
          expr(graft.ops.Decode.wordSparkSql).as("word"))
        .writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.foreachPartition {
            (it: Iterator[org.apache.spark.sql.Row]) =>
              if (it.hasNext) {
                val pid = org.apache.spark.TaskContext.getPartitionId()
                val f = new java.io.File(s"$dir/batch-$id-part-$pid.dat")
                val os = new java.io.BufferedOutputStream(
                  new java.io.FileOutputStream(f))
                try it.foreach { r =>
                  val us = r.getLong(0)
                  val wd = r.getLong(1)
                  var sh = 56
                  while (sh >= 0) {
                    os.write(((us >> sh) & 0xFF).toInt); sh -= 8
                  }
                  sh = 32
                  while (sh >= 0) {
                    os.write(((wd >> sh) & 0xFF).toInt); sh -= 8
                  }
                } finally os.close()
              }
          }
        })
      // binaryFile's schema is fixed but the streaming source still
      // demands it be spelled out
      val binSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType)))
      val words = s.readStream.format("binaryFile").schema(binSchema)
        .load(dir)
        .select(col("content"),
          (length(col("content")) / 13).cast("long").as("n"))
        .filter(col("n") >= 1)
        .select(col("content"),
          explode(expr("sequence(CAST(0 AS BIGINT), n - 1)")).as("i"))
        .select(
          expr("""CAST(conv(hex(substring(content,
                    CAST(i * 13 + 1 AS INT), 8)), 16, 10) AS BIGINT)""")
            .as("us"),
          expr("""CAST(conv(hex(substring(content,
                    CAST(i * 13 + 9 AS INT), 5)), 16, 10) AS BIGINT)""")
            .as("word"))
        .withColumn("ts", expr(
          "CAST(timestamp_micros(us) AS TIMESTAMP_NTZ)"))
        .withColumn("kind", expr("shiftright(word, 31) & 3"))
        .withColumn("pix_row", expr("shiftright(word, 27) & 15"))
        .filter(col("kind") =!= 0)                 // filler suppression
      drain(s,
        words
          .groupBy(window(col("ts"), "1 hour"), col("pix_row"))
          .agg(count(lit(1)).as("n_hits"),
            sum(expr("word & 511")).as("sum_tot")),
        "stream_binary_raw_tbl", "complete")
        .select(
          col("window.start").cast("timestamp_ntz").as("w_start"),
          col("pix_row"), col("n_hits"), col("sum_tot"))
        .orderBy(col("w_start"), col("pix_row"))
    },
    Some(s"""${graft.ops.Decode.framesCte}
             SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
               (word >> 27) & 15 AS pix_row, count(*) AS n_hits,
               CAST(sum(word & 511) AS BIGINT) AS sum_tot
             FROM frames
             WHERE ((word >> 31) & 3) != 0
             GROUP BY w_start, pix_row
             ORDER BY w_start NULLS FIRST, pix_row NULLS FIRST"""))

  /** Stream-stream interval join (q_stream_join): errors joined to the
    * same user's clicks within the preceding hour, both sides
    * watermarked so join state is bounded — the correlated-streams
    * analytic (trigger vs readout correlation in DAQ terms). The
    * settled pair set is deterministic → batch SQL oracle. */
  val qStreamJoin = Q(
    "q_stream_join",
    (s, d) => {
      def side(t: String, pfx: String) =
        eventsStream(s, d)
          .filter(col("event_type") === t)
          .select(
            col("event_id").as(s"${pfx}_id"),
            col("user_id").as(s"${pfx}_user"),
            col("ts").cast("timestamp").as(s"${pfx}_ts"))
          .withWatermark(s"${pfx}_ts", "30 minutes")
      val errors = side("error", "e")
      val clicks = side("click", "c")
      val joined = errors.join(
        clicks,
        expr("""e_user = c_user AND
                c_ts >= e_ts - INTERVAL 1 HOUR AND c_ts <= e_ts"""))
      drain(s, joined, "stream_join_tbl", "append",
        emitsOnFinalize = false)
        .select(col("e_id"), col("c_id"), col("e_user").as("user_id"))
        .orderBy(col("e_id"), col("c_id"))
    },
    Some("""SELECT e.event_id AS e_id, c.event_id AS c_id,
              e.user_id AS user_id
            FROM (SELECT * FROM events WHERE event_type = 'error') e
            JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON e.user_id = c.user_id
             AND c.ts >= e.ts - INTERVAL 1 HOUR AND c.ts <= e.ts
            ORDER BY e_id NULLS FIRST, c_id NULLS FIRST"""))

  /** Stream-stream LEFT OUTER interval join (q_stream_join_outer):
    * errors with their preceding-hour clicks, or nulls when no click
    * came — the shape that needs real state semantics: an unmatched
    * left row is emitted with nulls only once the watermark proves no
    * matching right row can still arrive, and its state is evicted.
    * The left side stops days before the stream's end so the final
    * watermark passes every left row's emission deadline and the
    * settled result equals the batch left join (otherwise trailing
    * unmatched rows would sit in state forever on a finite drain —
    * that boundary is exactly what the cutoff documents). */
  val qStreamJoinOuter = Q(
    "q_stream_join_outer",
    (s, d) => {
      def side(t: String, pfx: String) =
        eventsStream(s, d)
          .filter(col("event_type") === t)
          .select(
            col("event_id").as(s"${pfx}_id"),
            col("user_id").as(s"${pfx}_user"),
            col("ts").cast("timestamp").as(s"${pfx}_ts"))
          .withWatermark(s"${pfx}_ts", "30 minutes")
      val errors = side("error", "e")
        .filter(col("e_ts") < lit("2024-01-25").cast("timestamp"))
      val clicks = side("click", "c")
      val joined = errors.join(
        clicks,
        expr("""e_user = c_user AND
                c_ts >= e_ts - INTERVAL 1 HOUR AND c_ts <= e_ts"""),
        "left_outer")
      drain(s, joined, "stream_join_outer_tbl", "append")
        .select(col("e_id"), col("c_id"), col("e_user").as("user_id"))
        .orderBy(col("e_id"), col("c_id"))
    },
    Some("""SELECT e.event_id AS e_id, c.event_id AS c_id,
              e.user_id AS user_id
            FROM (SELECT * FROM events
                  WHERE event_type = 'error'
                    AND ts < TIMESTAMP '2024-01-25') e
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON e.user_id = c.user_id
             AND c.ts >= e.ts - INTERVAL 1 HOUR AND c.ts <= e.ts
            ORDER BY e_id NULLS FIRST, c_id NULLS FIRST"""))

  /** Idempotent keyed-upsert merge for one micro-batch: skip if this
    * batchId was already applied (exactly-once under foreachBatch's
    * at-least-once replay contract), merge the batch into the current
    * snapshot keeping the latest (ts, event_id) row per user, write to
    * a staging dir, then swap by rename — the commit pattern a real
    * lakehouse sink uses (stage → atomic publish), minus the table
    * format. Deterministic tie-break so replays and engines agree. */
  private[graft] def upsertBatch(s: SparkSession, dir: String,
      batch: DataFrame, batchId: Long): Unit = {
    val cur = new java.io.File(s"$dir/current")
    val applied = new java.io.File(s"$dir/applied/$batchId")
    if (applied.exists()) return // replayed batch: already committed
    val merged =
      if (cur.exists()) s.read.parquet(cur.getPath).unionByName(batch)
      else batch
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val latest = merged
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val stage = new java.io.File(s"$dir/stage_$batchId")
    latest.write.mode("overwrite").parquet(stage.getPath)
    val retired = new java.io.File(s"$dir/retired_$batchId")
    if (cur.exists()) cur.renameTo(retired)
    stage.renameTo(cur)
    org.apache.commons.io.FileUtils.deleteQuietly(retired)
    applied.getParentFile.mkdirs()
    applied.createNewFile()
  }

  /** Streaming keyed upsert (q_stream_upsert): maintain a
    * latest-row-per-user table from the event stream via foreachBatch +
    * upsertBatch — the incremental-ingestion shape (CDC compaction,
    * feature freshness) where the sink is a TABLE, not a log. The
    * settled snapshot equals the batch "latest per key" query, which is
    * the oracle. Scale: the snapshot re-write is bounded by key
    * cardinality, not stream length; a real deployment swaps the
    * rewrite for a format with row-level merge but keeps exactly this
    * batchId-idempotence and stage/publish discipline. */
  val qStreamUpsert = Q(
    "q_stream_upsert",
    (s, d) => {
      val dir = sys.props("java.io.tmpdir") + "/graft_stream_upsert"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      settle(s, eventsStream(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          upsertBatch(s, dir, batch, id)
        })
      s.read.parquet(s"$dir/current")
        .select(col("user_id"), col("event_id").as("latest_event"),
          col("ts"), col("value"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, event_id AS latest_event, ts, value
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1
            ORDER BY user_id NULLS FIRST"""))

  /** Streaming view of `documents` (same glob-filtered file-arrival
    * pattern as [[eventsStream]]). */
  private def documentsStream(s: SparkSession, d: String): DataFrame = {
    val schema = footerSchema(s, s"$d/documents.parquet")
    s.readStream.schema(schema).format("parquet")
      .option("pathGlobFilter", "documents.parquet")
      .load(d)
  }

  /** Per-micro-batch decontamination probe shared by the registered
    * query, StreamSpec and PlanSpec. The corpus hash table is O(corpus)
    * — one row per distinct document — so it must NEVER be forced into
    * a broadcast (at 100 TB that is billions of rows rebuilt on every
    * executor). Instead the BATCH side (|micro-batch| rows, the small
    * side by construction) builds a ~KB bloom sketch over its hashes in
    * one aggregate; the sketch is inlined into the corpus scan's WHERE
    * via might_contain (the q_dedup_bloom_ingest pattern,
    * ops/Dedup.scala), so corpus signatures that cannot match anything
    * arriving die AT THE SCAN, before any join or shuffle. The probe
    * join is UN-hinted: the bloom-pruned static side is
    * ~|batch|-proportional, and AQE broadcasts it by measured size when
    * that is right — never by a forced O(corpus) hint. Bloom false
    * positives only add non-matching rows to the left join (dropped by
    * the join itself), so the settled result is exactly the plain
    * stream-static check. */
  private[graft] def deconBatchPartial(batch: DataFrame,
      d: String): DataFrame = {
    // foreachBatch hands the micro-batch over in a CLONED session with
    // its own temp-view catalog: every frame and view here must live in
    // that session, so rebuild the (re-planned-per-batch anyway) corpus
    // aggregate against batch.sparkSession rather than capturing one
    // from the outer session
    val sess = batch.sparkSession
    val hashed = batch.withColumn("h",
      md5(lower(trim(col("text"))).cast("binary")))
    hashed.createOrReplaceTempView("decon_batch_v")
    Tables.t(sess, d, "documents")
      .filter(col("doc_id") % 10 < 8)
      .withColumn("h", md5(lower(trim(col("text"))).cast("binary")))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_corpus"), min(col("doc_id")).as("min_id"))
      .createOrReplaceTempView("decon_corpus_v")
    // the sketch is a scalar subquery over the BATCH: evaluated once per
    // micro-batch, inlined as a literal predicate into the corpus scan
    val pruned = sess.sql("""
      SELECT h, n_corpus, min_id FROM decon_corpus_v
      WHERE might_contain(
              (SELECT bloom_filter_agg(xxhash64(h), 10000L, 100000L)
               FROM decon_batch_v),
              xxhash64(h))""")
    hashed.join(pruned, Seq("h"), "left_outer")
      .withColumn("is_dup", coalesce(
        col("n_corpus") > 1 ||
          (col("n_corpus") === 1 && col("min_id") =!= col("doc_id")),
        lit(false)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
  }

  /** Bloom-fronted stream decontamination (q_stream_decontaminate):
    * arriving documents are checked against a STATIC corpus hash table
    * (doc_id % 10 < 8 — the same existing-corpus convention as
    * q_dedup_incremental) — the streaming-ingest twin of exact dedup.
    * Each micro-batch runs [[deconBatchPartial]]: bloom-prune the
    * corpus scan by the batch's own hashes, probe with an un-hinted
    * join, emit per-source partial counts. The partials are plain
    * commutative sums, so the settled totals are invariant to how the
    * arrival splits into micro-batches; the final rollup is a
    * #sources-row aggregate. Per-batch cost is linear in the batch —
    * the corpus is touched only through the sketch-pruned scan. */
  val qStreamDecontaminate = Q(
    "q_stream_decontaminate",
    (s, d) => {
      val dir = sys.props("java.io.tmpdir") + "/graft_stream_decon"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      settle(s, documentsStream(s, d)
        .select(col("doc_id"), col("text"), col("source"))
        .writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          deconBatchPartial(batch, d)
            .write.mode("append").parquet(s"$dir/partials")
        })
      s.read.parquet(s"$dir/partials")
        .groupBy(col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_dup")).as("n_dup"))
        .orderBy(col("source"))
    },
    Some("""WITH ch AS (
              SELECT md5(lower(trim(text))) AS h,
                count(*) AS n_corpus, min(doc_id) AS min_id
              FROM documents WHERE doc_id % 10 < 8
              GROUP BY h)
            SELECT source, count(*) AS n_docs,
              CAST(sum(CASE WHEN n_corpus > 1
                         OR (n_corpus = 1 AND min_id <> doc_id)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
            FROM (SELECT d.source, d.doc_id, ch.n_corpus, ch.min_id
                  FROM documents d
                  LEFT JOIN ch ON md5(lower(trim(d.text))) = ch.h) j
            GROUP BY source
            ORDER BY source NULLS FIRST"""))

  /** Streaming LSH index build (q_stream_lsh_index): the ingest half of
    * streaming NEAR-dedup — every arriving document's 16 minhashes and
    * 4 LSH band keys (the SAME 4×4 banding as the batch q_dedup_near,
    * mirrored via Dedup.bandsCteSql) are computed as scan-local array
    * algebra on the single row, so the signature stage needs NO keyed
    * aggregate; the only stateful operator is the (band, band_key)
    * index maintenance itself, whose state is one row per occupied
    * bucket whatever the stream volume. An incoming doc is near-dup-
    * checked by probing this settled index (the q_dedup_incremental
    * broadcast pattern); here the index contents are the deterministic
    * settled output.
    *
    * Scale shape (SCALE.md round-9 note): this is the BUILD path —
    * every arriving doc must be signed and indexed, so the cost is
    * data-linear signature arithmetic (~0.5 ms/doc measured) plus
    * bucket-linear state; a bloom front has nothing to prune here.
    * The PROBE-side twins (q_stream_decontaminate,
    * q_dedup_incremental) carry the per-batch bloom front instead. */
  /** Scan-local per-row minhash + LSH banding over a (doc_id, text)
    * frame — works on any source (file stream, MemoryStream, batch):
    * no keyed aggregate, one output row per (doc, band). Shared by the
    * registered query and the cross-batch StreamSpec test. The 16
    * permutation minima + band packing run in the codegen
    * `lsh_bands_text` expression (graft.functions.LshBandsText) — the
    * 16 `array_min(transform(...))` HOF columns it replaces were
    * CodegenFallback and dominated the drain's addBatch (~1 ms/doc
    * interpreted); values are the identical integer recurrence, so
    * Dedup.bandsCteSql still mirrors it exactly. */
  private[graft] def lshBandSignatures(docs: DataFrame): DataFrame = {
    // posexplode emits no row for a NULL array (fewer than 5 tokens).
    // The kernel sits inside the generator rather than in a column of
    // its own: a NULL filter or the inferred `size > 0` guard on such
    // a column would be pushed below the projection and run the
    // kernel again per row.
    docs
      .select(col("doc_id"),
        posexplode(expr("lsh_bands_text(text)")).as(Seq("band", "band_key")))
      .select(col("doc_id"), col("band").cast("long").as("band"),
        col("band_key"))
  }

  /** The (band, band_key) index maintenance over banded signatures. */
  private[graft] def lshIndexAgg(sigs: DataFrame): DataFrame =
    sigs.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))

  val qStreamLshIndex = Q(
    "q_stream_lsh_index",
    (s, d) => {
      val idx = lshIndexAgg(lshBandSignatures(documentsStream(s, d)))
      drain(s, idx, "stream_lsh_idx_tbl", "complete")
        .orderBy(col("band"), col("band_key"))
    },
    Some(s"""${graft.ops.Dedup.bandsCteSql}
            SELECT band, band_key, count(*) AS n_docs,
              min(doc_id) AS min_doc
            FROM bands GROUP BY band, band_key
            ORDER BY band NULLS FIRST, band_key NULLS FIRST"""))

  /** Streaming DSIR telemetry (q_stream_dsir): the ingest-side twin of
    * q_mix_dsir — arriving documents' hashed-bigram features probe the
    * STATIC DSIR log-ratio model fitted on the existing corpus
    * (doc_id % 10 < 8, the q_dedup_incremental convention), and the
    * settled table is per-source target-domain affinity: total
    * log-importance mass and mean per-feature log-ratio. The model is
    * ≤4096 rows whatever the corpus size (Corpus.dsirLogRatio) and
    * broadcasts; stream-side work is a scan-local explode + broadcast
    * probe, and the ONLY stateful operator is the source-keyed
    * aggregate — state is one row per source, never per doc. Features
    * hashing to buckets absent from the model are skipped (identical
    * rule both engines). At 100 TB this is the drift monitor telling a
    * mix controller whether arriving crawl still looks like the target
    * domain. */
  val qStreamDsir = Q(
    "q_stream_dsir",
    (s, d) => {
      // the train-split model is a shared persisted fixpoint — the
      // stream-static join re-plans its static side every micro-batch,
      // so an un-persisted model would re-fit on the corpus each batch
      val model = graft.ops.Corpus.dsirLrTrain(s, d)
      val scored = graft.ops.Corpus.dsirFeatures(documentsStream(s, d))
        .join(broadcast(model), Seq("b"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_feat"),
          round(sum(col("lr")), 6).as("logw_sum"),
          round(sum(col("lr")) / count(lit(1)), 6).as("logw_per_feat"))
      drain(s, scored, "stream_dsir_tbl", "complete")
        .orderBy(col("source"))
    },
    Some(s"""WITH ${graft.ops.Corpus.dsirLrSql("doc_id % 10 < 8")},
            sb AS (
              SELECT source,
                CAST('0x' || substr(md5(bg), 1, 8) AS BIGINT) % 4096 AS b
              FROM (SELECT source, unnest(
                      CASE WHEN len(toks) >= 2
                        THEN list_transform(
                               generate_series(1, len(toks) - 1),
                               i -> array_to_string(toks[i:i+1], ' '))
                        ELSE [] END) AS bg
                    FROM (SELECT source, string_split(text, ' ') AS toks
                          FROM documents)))
            SELECT source, CAST(count(*) AS BIGINT) AS n_feat,
              round(sum(lr), 6) AS logw_sum,
              round(sum(lr) / count(*), 6) AS logw_per_feat
            FROM sb JOIN lr USING (b)
            GROUP BY source
            ORDER BY source NULLS FIRST"""))

  /** Streaming repetition-scrub accounting (q_stream_rep_scrub): the
    * ingest twin of q_text_rep_scrub — the keep-first trigram-removal
    * stats are computed IN-ROW per arriving document (occurrences −
    * distinct on a per-doc array, the shared
    * TextOps.repScrubDocStats), so the stateful operator only sums
    * per-source counters: state is |sources| rows of commutative
    * BIGINTs whatever the stream volume, and the settled table equals
    * the batch accounting byte-for-byte (ratio derived AFTER the
    * drain from the settled integer sums; same oracle verbatim). */
  val qStreamRepScrub = Q(
    "q_stream_rep_scrub",
    (s, d) => {
      val agg = graft.ops.TextOps.repScrubDocStats(documentsStream(s, d))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("tokens_before"),
          sum(col("tri_starts")).as("trigram_starts"),
          sum(col("removed")).as("tokens_removed"),
          sum(when(col("removed") >= 1, 1L).otherwise(0L))
            .as("docs_affected"))
      drain(s, agg, "stream_rep_scrub_tbl", "complete")
        .withColumn("removal_ratio",
          round(col("tokens_removed") * lit(1.0) /
            col("tokens_before"), 6))
        .orderBy(col("source"))
    },
    graft.ops.TextOps.qTextRepScrub.oracle)

  /** Streaming shard manifest (q_stream_shard_manifest): the ingest
    * twin of q_shard_manifest — every manifest column (doc count,
    * token mass, id range, md5-prefix content checksum) is a
    * COMMUTATIVE aggregate, so the manifest accumulates per micro-batch
    * in any arrival order and the settled table is byte-identical to
    * the batch publish (same oracle SQL, verbatim). State is 16 rows
    * whatever the stream volume — the order-insensitivity that makes
    * the checksum a usable attestation is exactly what makes it
    * streamable. */
  val qStreamShardManifest = Q(
    "q_stream_shard_manifest",
    (s, d) => {
      val m = documentsStream(s, d)
        .select(
          expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), " +
            "16, 10) AS BIGINT) % 16").as("shard"),
          col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("ntok"),
          expr("CAST(conv(substring(md5(CAST(lower(trim(text)) " +
            "AS BINARY)), 1, 8), 16, 10) AS BIGINT)").as("ch"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"),
          sum(col("ch")).as("content_sum"))
      drain(s, m, "stream_shard_tbl", "complete")
        .orderBy(col("shard"))
    },
    graft.ops.Corpus.qShardManifest.oracle)

  /** Streaming reconciliation (q_stream_reconcile): the reference's
    * injected-vs-observed golden counting test (html:239) running
    * DURING the acquisition instead of after it — per-ETROC injected /
    * observed / lost counters accumulate live, so a lossy channel is
    * visible while the beam is still on rather than in the post-run
    * report. All three emitted columns are counts (commutative), so
    * the settled table is byte-equal to the batch reconciliation
    * whatever the micro-batch slicing; state is 3 rows. Oracle reused
    * verbatim from the batch op. */
  val qStreamReconcile = Q(
    "q_stream_reconcile",
    (s, d) => {
      val agg = eventsStream(s, d)
        .withColumn("etroc", expr("user_id % 3"))
        .groupBy(col("etroc"))
        .agg(count(lit(1)).as("injected"),
          count(when(col("value") <= 350.0, 1)).as("observed"))
      drain(s, agg, "stream_reconcile_tbl", "complete")
        .select(col("etroc"), col("injected"), col("observed"),
          (col("injected") - col("observed")).as("lost"),
          (col("injected") === col("observed")).as("ok"))
        .orderBy(col("etroc"))
    },
    graft.ops.Daq.qReconcile.oracle)

  /** Streaming run-log enrichment (q_stream_runlog_enrich): the ingest
    * twin of the reference's run-log pass (md:249-263) — arriving
    * monitoring samples roll up into the per-(run day, module)
    * environment table live, instead of in the nightly batch. Every
    * emitted statistic is ORDER-INSENSITIVE by construction: counts,
    * integer cent sums (value carries exactly 2 decimals, so cents are
    * lossless), and cent min/max — so the settled table equals the
    * batch rollup no matter how micro-batches slice the stream, and
    * the mean divides ONCE from an exact integer sum (the float-sum
    * discipline the batch op gets from round-6 absorption). State is
    * one row per (day, module) — run-calendar-bounded. */
  val qStreamRunlogEnrich = Q(
    "q_stream_runlog_enrich",
    (s, d) => {
      val agg = eventsStream(s, d)
        .withColumn("run_day", date_trunc("day", col("ts"))
          .cast("timestamp_ntz"))
        .withColumn("module", expr("user_id % 4"))
        .withColumn("cents",
          floor(col("value") * 100 + 0.5).cast("long"))
        .groupBy(col("run_day"), col("module"))
        .agg(count(lit(1)).as("n_samples"),
          sum(col("cents")).as("sum_cents"),
          max(col("cents")).as("max_cents"),
          min(col("cents")).as("min_cents"))
      drain(s, agg, "stream_runlog_tbl", "complete")
        .select(col("run_day"), col("module"), col("n_samples"),
          round(col("sum_cents") / lit(100.0) / col("n_samples"), 6)
            .as("vmon_avg"),
          round(col("max_cents") / lit(100.0), 2).as("imon_max"),
          round(col("min_cents") / lit(100.0), 2).as("vmon_min"))
        .orderBy(col("run_day"), col("module"))
    },
    Some("""SELECT run_day, module, n_samples,
              round(sum_cents / 100.0e0 / n_samples, 6) AS vmon_avg,
              round(max_cents / 100.0e0, 2) AS imon_max,
              round(min_cents / 100.0e0, 2) AS vmon_min
            FROM (
              SELECT date_trunc('day', ts) AS run_day,
                user_id % 4 AS module,
                CAST(count(*) AS BIGINT) AS n_samples,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS sum_cents,
                CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS max_cents,
                CAST(min(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS min_cents
              FROM events
              GROUP BY run_day, module)
            ORDER BY run_day NULLS FIRST, module NULLS FIRST"""))

  /** Streaming perplexity telemetry (q_stream_perplexity): arriving
    * documents are scored against the STATIC add-1 bigram model
    * (Corpus.bigramLqShared, the persisted full-corpus model,
    * vocabulary²-bounded) and rolled up to per-source bits-per-bigram —
    * the live quality monitor that flags a source whose new crawl drifts
    * from the language model of the corpus it was tuned on. The stream
    * side is one scan-local bigram explode + the model equi-join (no
    * broadcast hint — the model is Heaps-sublinear, statistics pick
    * the strategy); the ONLY stateful operator is the per-source sum
    * pair, and because both sums are commutative the settled table
    * equals the batch rollup regardless of arrival order. */
  val qStreamPerplexity = Q(
    "q_stream_perplexity",
    (s, d) => {
      // the corpus LM is the shared persisted fixpoint (identical
      // table to the batch q_text_perplexity's model) — per-micro-batch
      // static-side re-planning rebuilds it from cached blocks, not
      // from the corpus
      val lq = graft.ops.Corpus.bigramLqShared(s, d)
      val scored = graft.ops.Corpus.bigramRows(documentsStream(s, d))
        .join(lq, Seq("w1", "w2"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lqi")).as("sum_i"))
      drain(s, scored, "stream_ppl_tbl", "complete")
        .select(col("source"), col("n_bigrams"),
          graft.ops.Corpus.bitsPerBigram("sum_i", "n_bigrams")
            .as("bits_per_bigram"))
        .orderBy(col("source"))
    },
    Some("""WITH tk AS (
              SELECT doc_id, source, string_split(text, ' ') AS w
              FROM documents
              WHERE len(string_split(text, ' ')) >= 2),
            big AS (
              SELECT doc_id, source, w[i] AS w1, w[i + 1] AS w2
              FROM tk, LATERAL (
                SELECT unnest(generate_series(1, len(w) - 1)) AS i) g),
            cnt AS (
              SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
              FROM big GROUP BY w1, w2),
            tot AS (
              SELECT w1, CAST(sum(n) AS BIGINT) AS t
              FROM cnt GROUP BY w1),
            voc AS (
              SELECT count(DISTINCT token) AS v
              FROM (SELECT unnest(w) AS token FROM tk)),
            lq AS (
              SELECT w1, w2,
                CAST(floor(-ln(CAST(n + 1 AS DOUBLE) / (t + v))
                  / ln(CAST(2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
                  AS lqi
              FROM cnt JOIN tot USING (w1), voc)
            SELECT source, n_bigrams,
              CAST((2 * sum_i + n_bigrams) // (2 * n_bigrams) AS BIGINT)
                / 1e6 AS bits_per_bigram
            FROM (SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
                    CAST(sum(lqi) AS BIGINT) AS sum_i
                  FROM big JOIN lq USING (w1, w2)
                  GROUP BY source)
            ORDER BY source NULLS FIRST"""))

  /** Streaming curation funnel (q_stream_curate): the ingest twin of
    * q_curate_v2 — every arriving document is graded through the same
    * four stages (exact-keeper probe → SemDeDup drop list → DSIR gate →
    * token-length gate) by probing STATIC stage stores with
    * stream-static equi-joins. The keeper table and the DSIR weight
    * store are corpus-bounded keyed stores, so they carry NO broadcast
    * hint (at fleet scale they live bucketed or bloom-fronted and the
    * planner picks the join strategy); the SemDeDup drop list is
    * duplicate-mass-bounded. All stage flags are scan-local once the
    * probes land, and the only STATEFUL operator is the per-source
    * survivor rollup — one state row per source whatever the stream
    * volume. The settled table is byte-equal to the batch funnel, so
    * the oracle SQL is reused verbatim and the driver hash-checks the
    * streaming path against the same composition of verified stages. */
  val qStreamCurate = Q(
    "q_stream_curate",
    (s, d) => {
      // same stage stores + same flag/rollup construction as the batch
      // funnel, via the SHARED helper — only the docs frame differs
      // (file-arrival stream vs stored table)
      val (eg, sem, dsir) = graft.ops.TextOps.curateStages(s, d)
      val streamDocs = documentsStream(s, d)
        .select(col("doc_id"), col("source"),
          md5(lower(trim(col("text"))).cast("binary")).as("th"),
          size(split(col("text"), " ")).cast("bigint").as("ntok"))
      val agg = graft.ops.TextOps.curateFunnelAgg(
        streamDocs, eg, sem, dsir)
      drain(s, agg, "stream_curate_tbl", "complete")
        .orderBy(col("source"))
    },
    graft.ops.TextOps.qCurateV2.oracle)

  /** Streaming training-mix gate (q_stream_mix_sample): the ingest
    * twin of q_mix_sample — the per-source rate table is planned ONCE
    * from the static corpus (tiny, broadcast), and every arriving doc
    * passes the same deterministic hash gate scan-locally, so the
    * sampled mix is reproducible run-to-run, engine-to-engine AND
    * batch-vs-stream. The only stateful operator is the per-source
    * kept-counts aggregate (state = one row per source). */
  val qStreamMixSample = Q(
    "q_stream_mix_sample",
    (s, d) => {
      val docs = Tables.t(s, d, "documents")
      val perSource = docs.groupBy(col("source"))
        .agg(sum(col("n_chars")).as("toks"))
        .withColumn("w", expr(
          "CAST(1 + CAST(regexp_extract(source, '([0-9]+)', 1) " +
            "AS BIGINT) % 3 AS DOUBLE)"))
      val totals = perSource.agg(
        sum(col("toks")).as("total_toks"), sum(col("w")).as("total_w"))
      val rates = perSource.crossJoin(broadcast(totals))
        .withColumn("rate", expr(
          "least(CAST(1.0 AS DOUBLE), " +
            "((w / total_w) * (total_toks * 0.5)) / toks)"))
        .select(col("source"), col("rate"))
      val gated = documentsStream(s, d)
        .join(broadcast(rates), Seq("source"))
        .filter(expr(
          "(doc_id * 2654435761) % 1000000 < floor(rate * 1000000)"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept_docs"),
          sum(col("n_chars")).as("kept_toks"))
      drain(s, gated, "stream_mix_tbl", "complete")
        .orderBy(col("source"))
    },
    Some("""WITH per_source AS (
              SELECT source, CAST(sum(n_chars) AS BIGINT) AS toks,
                CAST(1 + CAST(regexp_extract(source, '([0-9]+)', 1)
                       AS BIGINT) % 3 AS DOUBLE) AS w
              FROM documents GROUP BY source),
            totals AS (
              SELECT CAST(sum(toks) AS BIGINT) AS total_toks,
                sum(w) AS total_w
              FROM per_source),
            rates AS (
              SELECT source,
                least(CAST(1.0 AS DOUBLE),
                  ((w / total_w) * (total_toks * 0.5)) / toks) AS rate
              FROM per_source, totals)
            SELECT d.source, count(*) AS kept_docs,
              CAST(sum(d.n_chars) AS BIGINT) AS kept_toks
            FROM documents d JOIN rates r ON d.source = r.source
            WHERE (d.doc_id * 2654435761) % 1000000
                  < floor(r.rate * 1000000)
            GROUP BY d.source
            ORDER BY d.source NULLS FIRST"""))

  /** Streaming per-label centroid maintenance (q_stream_centroid): the
    * vector-pipeline twin of q_sim_centroid — embeddings arrive as a
    * stream and the per-label mean vector is maintained INCREMENTALLY
    * by a keyed stateful average over (label, dim). State is bounded by
    * labels × dims (here 10×64) whatever the stream volume — the shape
    * that keeps an embedding-index's cluster summary fresh at ingest
    * time without batch recomputes. Settles to the batch centroid
    * (oracle) under AvailableNow drain. */
  val qStreamCentroid = Q(
    "q_stream_centroid",
    (s, d) => {
      val schema = footerSchema(s, s"$d/embeddings.parquet")
      val es = s.readStream.schema(schema).format("parquet")
        .option("pathGlobFilter", "embeddings.parquet")
        .load(d)
      val agg = es
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("x", col("x").cast("double"))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("x")), 6).as("cx"))
      drain(s, agg, "stream_centroid_tbl", "complete")
        .select(col("label").cast("long").as("label"),
          col("pos").cast("long").as("pos"), col("cx"))
        .orderBy(col("label"), col("pos"))
    },
    Some("""WITH pos AS (
              SELECT label, i - 1 AS pos,
                CAST(embedding[i] AS DOUBLE) AS x
              FROM embeddings
              CROSS JOIN LATERAL (SELECT unnest(generate_series(1,
                len(embedding))) AS i) ix)
            SELECT CAST(label AS BIGINT) AS label,
              CAST(pos AS BIGINT) AS pos,
              round(avg(x), 6) AS cx
            FROM pos GROUP BY label, pos
            ORDER BY label NULLS FIRST, pos NULLS FIRST"""))

  // ---- q_stream_anomaly -------------------------------------------------

  /** One observation on a user's tape: event-time micros + unique id
    * tie-break + value. */
  private[graft] case class AnomObs(us: Long, id: Long, v: Double)
  private[graft] case class AnomIn(
      user_id: Long, event_id: Long, us: Long, value: Double)
  private[graft] case class AnomFlag(
      event_id: Long, user_id: Long, value: Double, z: Double)

  /** Streaming rolling z-score (q_stream_anomaly): the stateful twin of
    * q_ts_anomaly. Keyed state per user carries ONLY the trailing 100
    * observations (bounded at any volume); each micro-batch's rows are
    * replayed in (event-time, id) order against that tail, scoring every
    * event on the mean/stddev of its ≤100 predecessors with the same
    * 6dp-μ/σ, 2dp-z rounding as the batch op — so when files arrive in
    * event-time order (the drain here is ONE AvailableNow batch) the
    * settled flags equal the batch replay exactly, and the SAME DuckDB
    * oracle applies. Cross-batch carry + batch-equivalence are
    * StreamSpec-tested with a MemoryStream. */
  private[graft] def anomalyScore(
      batch: Seq[AnomObs], tail0: Seq[AnomObs]): (Seq[AnomFlag], Seq[AnomObs]) = {
    def r(x: Double, dp: Int): Double =
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    // Ring buffer over the trailing <=100 observations. The float math
    // is kept IDENTICAL to the original Seq form — per event, the mean
    // and the squared deviations sum left-to-right over the tail in
    // arrival order (ring start -> end), the exact order the oracle's
    // window replay produces — only the per-event Seq churn
    // (map/sum/:+/takeRight each allocating an O(n) list) is gone.
    val cap = 100
    val ring = new Array[AnomObs](cap)
    var start = 0
    var len = 0
    tail0.foreach { o =>
      if (len < cap) { ring((start + len) % cap) = o; len += 1 }
      else { ring(start) = o; start = (start + 1) % cap }
    }
    val out = scala.collection.mutable.ArrayBuffer[AnomFlag]()
    batch.sortBy(o => (o.us, o.id)).foreach { o =>
      if (len >= 20) {
        var sum = 0.0
        var i = 0
        while (i < len) { sum += ring((start + i) % cap).v; i += 1 }
        val mean = sum / len
        val mu = r(mean, 6)
        var ss = 0.0
        i = 0
        while (i < len) {
          val dv = ring((start + i) % cap).v - mean
          ss += dv * dv
          i += 1
        }
        val sd = r(math.sqrt(ss / (len - 1)), 6)
        if (sd > 0) {
          val z = r((o.v - mu) / sd, 2)
          if (math.abs(z) > 3.0) out += AnomFlag(o.id, 0L, o.v, z)
        }
      }
      if (len < cap) { ring((start + len) % cap) = o; len += 1 }
      else { ring(start) = o; start = (start + 1) % cap }
    }
    val kept = new Array[AnomObs](len)
    var i = 0
    while (i < len) { kept(i) = ring((start + i) % cap); i += 1 }
    (out.toSeq, kept.toSeq)
  }

  /** State and output encoders of [[anomalyLocal]], built once per JVM.
    * Building the `Seq[AnomObs]` encoder names its `MapObjects` lambda
    * variable from a JVM-wide counter, so an encoder built per run gave
    * every run new generated source and one new compile. */
  private lazy val anomStateEnc: org.apache.spark.sql.Encoder[Seq[AnomObs]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[AnomObs]]()
  private lazy val anomFlagEnc: org.apache.spark.sql.Encoder[AnomFlag] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[AnomFlag]()

  /** The stateful transform alone, over any (user, event, us, value)
    * stream — shared by the registered query and StreamSpec's
    * MemoryStream harness. */
  private[graft] def anomalyLocal(
      in: org.apache.spark.sql.Dataset[AnomIn]): DataFrame = {
    val s = in.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    in.groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[AnomObs], AnomFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[AnomIn], st: GroupState[Seq[AnomObs]]) =>
          val (flagged, tail) = anomalyScore(
            it.map(e => AnomObs(e.us, e.event_id, e.value)).toSeq,
            st.getOption.getOrElse(Seq.empty))
          st.update(tail)
          flagged.map(_.copy(user_id = uid)).iterator
      }(anomStateEnc, anomFlagEnc)
      .toDF()
  }

  val qStreamAnomaly = Q(
    "q_stream_anomaly",
    (s, d) => {
      import s.implicits._
      val in = eventsStream(s, d)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"),
          col("value")).as[AnomIn]
      drain(s, anomalyLocal(in), "stream_anomaly_tbl", "append",
        emitsOnFinalize = false)
        .select(col("event_id"), col("user_id"), col("value"), col("z"))
        .orderBy(col("user_id"), col("event_id"))
    },
    graft.ops.Insights.qTsAnomaly.oracle)

  // ---- q_stream_topk ----------------------------------------------------

  /** Streaming per-window top-k (q_stream_topk): 6-hour tumbling windows
    * of per-type counts maintained by the streaming agg (state bounded
    * by windows × types), then the top-3 cut per window applied on the
    * settled table — the leaderboard pattern: the STREAM maintains the
    * counts incrementally; the cheap rank-and-cut runs against the sink
    * (counts only shrink to k rows there, never re-aggregate). Count
    * ties break on event_type so the cut is engine-independent. */
  val qStreamTopk = Q(
    "q_stream_topk",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val settled = drain(s,
        eventsStream(s, d)
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n")),
        "stream_topk_tbl", "complete")
        .select(col("window.start").cast("timestamp_ntz").as("w_start"),
          col("event_type"), col("n"))
      val rk = Window.partitionBy(col("w_start"))
        .orderBy(col("n").desc, col("event_type"))
      settled.withColumn("rk", row_number().over(rk))
        .filter(col("rk") <= 3)
        .select(col("w_start"), col("rk"), col("event_type"), col("n"))
        .orderBy(col("w_start"), col("rk"))
    },
    Some("""SELECT w_start, rk, event_type, n FROM (
              SELECT w_start, event_type, n,
                row_number() OVER (PARTITION BY w_start
                  ORDER BY n DESC, event_type) AS rk
              FROM (SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start,
                      event_type, count(*) AS n
                    FROM events GROUP BY w_start, event_type) c) r
            WHERE rk <= 3
            ORDER BY w_start NULLS FIRST, rk NULLS FIRST"""))

  /** Streaming CDC apply with tombstones (q_stream_cdc_apply): the
    * event log is a change stream per user — `error` rows are DELETE
    * tombstones, everything else upserts. The keyed state is ONE
    * max(struct) per user (commutative, so micro-batch arrival order is
    * irrelevant); the tombstone filter runs on the settled snapshot.
    * This is q_stream_upsert's missing half: a key whose LAST op is a
    * delete vanishes from the table instead of surviving forever. */
  val qStreamCdcApply = Q(
    "q_stream_cdc_apply",
    (s, d) => {
      val ops = eventsStream(s, d)
        .select(col("user_id"), struct(
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("event_id"),
          (col("event_type") === "error").as("is_del"),
          col("value")).as("op"))
        .groupBy(col("user_id"))
        .agg(max(col("op")).as("last"))
      drain(s, ops, "stream_cdc_tbl", "complete")
        .filter(!col("last.is_del"))
        .select(col("user_id"),
          col("last.event_id").as("last_event"),
          expr("CAST(timestamp_micros(last.us) AS TIMESTAMP_NTZ)")
            .as("last_ts"),
          col("last.value").as("value"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, event_id AS last_event, ts AS last_ts, value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1 AND event_type <> 'error'
            ORDER BY user_id NULLS FIRST"""))

  /** Streaming OHLC bars (q_stream_ohlc): daily open/high/low/close per
    * event_type as ONE windowed aggregate — open/close are min_by/max_by
    * over the (us, event_id) struct key, commutative aggregates that
    * need no ordering guarantee from the micro-batch, so the settled
    * bars equal the batch row_number formulation exactly. */
  val qStreamOhlc = Q(
    "q_stream_ohlc",
    (s, d) => {
      val bars = eventsStream(s, d)
        .select(col("ts"), col("event_type"), col("value"),
          struct(unix_micros(col("ts").cast("timestamp")).as("us"),
            col("event_id")).as("ord"))
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(
          expr("min_by(value, ord)").as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          expr("max_by(value, ord)").as("close"),
          count(lit(1)).as("n"))
      drain(s, bars, "stream_ohlc_tbl", "complete")
        .select(to_date(col("window.start")).as("day"), col("event_type"),
          col("open"), col("high"), col("low"), col("close"), col("n"))
        .orderBy(col("event_type"), col("day"))
    },
    Some("""WITH keyed AS (
              SELECT event_type, CAST(ts AS DATE) AS day, value,
                row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                  ORDER BY ts, event_id) AS ra,
                row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                  ORDER BY ts DESC, event_id DESC) AS rd
              FROM events)
            SELECT day, event_type,
              max(CASE WHEN ra = 1 THEN value END) AS open,
              max(value) AS high,
              min(value) AS low,
              max(CASE WHEN rd = 1 THEN value END) AS close,
              CAST(count(*) AS BIGINT) AS n
            FROM keyed
            GROUP BY event_type, day
            ORDER BY event_type NULLS FIRST, day NULLS FIRST"""))

  /** StatefulProcessor for q_stream_markov: per user, carry the LAST
    * seen (us, event_id, type) across micro-batches and emit one
    * (prev_type, next_type) row per transition. Rows inside a batch are
    * sorted before the walk (the iterator order is undefined); the
    * cross-batch seam is exactly the carried state.
    *
    * PRECONDITION — per-key event-time-ordered micro-batches: state is
    * only the last observation and pairs are emitted on arrival, so a
    * row older than the carried state (a late row crossing a batch
    * seam) would pair against the wrong predecessor. Satisfied here by
    * construction (the drain is ONE AvailableNow batch, like
    * q_stream_anomaly); a production deployment ingesting out-of-order
    * sources must buffer by event time and flush on watermark advance
    * instead of emitting on arrival. At fleet scale the key would also
    * shard to (user, epoch) with relational boundary stitching, per
    * the q_stream_tws discipline. */
  private[graft] class TransitionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, String), (String, String)] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var lastState: ValueState[(Long, Long, String)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastState = getHandle.getValueState[(Long, Long, String)](
        "last", Encoders.product[(Long, Long, String)], TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, String)],
        timerValues: TimerValues): Iterator[(String, String)] = {
      val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
      var prev = if (lastState.exists()) Some(lastState.get()) else None
      val out = sorted.flatMap { r =>
        val t = prev.map(p => (p._3, r._4))
        prev = Some((r._2, r._3, r._4))
        t
      }
      prev.foreach(lastState.update)
      out.iterator
    }
  }

  /** Streaming Markov transition counts (q_stream_markov): the stateful
    * twin of q_events_markov — per-user last-event state emits
    * (prev, next) pairs as they stream in; the settled pair log is
    * reduced to the transition matrix relationally. RocksDB-backed
    * typed state via transformWithState, like q_stream_tws. */
  val qStreamMarkov = Q(
    "q_stream_markov",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      Tables.withConfs(s, rocksDbState) {
        val src = eventsStream(s, d)
          .select(col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("us"),
            col("event_id"), col("event_type"))
          .as[(Long, Long, Long, String)]
        val trans = src
          .groupByKey(_._1)
          .transformWithState(new TransitionProcessor,
            TimeMode.None(), OutputMode.Append())
        drain(s, trans.toDF("prev_type", "next_type"),
          "stream_markov_tbl", "append",
          emitsOnFinalize = false)
          .groupBy(col("prev_type"), col("next_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("prev_type"), col("next_type"))
      }
    },
    Some("""WITH seq AS (
              SELECT event_type AS next_type,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev_type
              FROM events)
            SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, next_type
            ORDER BY prev_type NULLS FIRST, next_type NULLS FIRST"""))

  /** Streaming drift monitor (q_stream_psi): the arriving half of the
    * event stream (after a fixed cutoff) is binned in ONE streaming
    * aggregate and compared to a static broadcast reference histogram
    * (before the cutoff) — the per-ingest PSI check a production
    * pipeline gates on. Same exact-integer/fixed-expression discipline
    * as batch q_stats_psi. */
  val qStreamPsi = Q(
    "q_stream_psi",
    (s, d) => {
      val cutoff = lit("2024-01-16").cast("timestamp_ntz")
      val bin = least(lit(9L), floor(col("value") / 33.0).cast("long"))
        .as("bin")
      val streamCounts = eventsStream(s, d)
        .filter(col("ts") >= cutoff)
        .select(bin)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("nb"))
      val settled = drain(s, streamCounts, "stream_psi_tbl", "complete")
      val ref = Tables.t(s, d, "events")
        .filter(col("ts") < cutoff)
        .select(bin)
        .groupBy(col("bin").as("rbin"))
        .agg(count(lit(1)).as("na"))
      val joined = ref.join(settled, col("rbin") === col("bin"), "full")
        .select(coalesce(col("rbin"), col("bin")).as("bin"),
          coalesce(col("na"), lit(0L)).as("na"),
          coalesce(col("nb"), lit(0L)).as("nb"))
      val tot = joined.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      joined
        .crossJoin(broadcast(tot))
        .select(col("bin"), col("na"), col("nb"),
          round((((col("na") + 1).cast("double") / (col("ta") + 10)) -
            ((col("nb") + 1).cast("double") / (col("tb") + 10))) *
            log(((col("na") + 1).cast("double") / (col("ta") + 10)) /
              ((col("nb") + 1).cast("double") / (col("tb") + 10))), 6)
            .as("psi_term"))
        .orderBy(col("bin"))
    },
    Some("""WITH binned AS (
              SELECT least(9, CAST(floor(value / 33.0) AS BIGINT)) AS bin,
                CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                         THEN 1 ELSE 0 END) AS BIGINT) AS na,
                CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                         THEN 0 ELSE 1 END) AS BIGINT) AS nb
              FROM events GROUP BY bin),
            tot AS (
              SELECT CAST(sum(na) AS BIGINT) AS ta,
                CAST(sum(nb) AS BIGINT) AS tb
              FROM binned)
            SELECT bin, na, nb,
              round(((CAST(na + 1 AS DOUBLE) / (ta + 10)) -
                     (CAST(nb + 1 AS DOUBLE) / (tb + 10))) *
                    ln((CAST(na + 1 AS DOUBLE) / (ta + 10)) /
                       (CAST(nb + 1 AS DOUBLE) / (tb + 10))), 6)
                AS psi_term
            FROM binned CROSS JOIN tot
            ORDER BY bin NULLS FIRST"""))

  /** StatefulProcessor for q_stream_vshape: per event_type, carry the
    * last TWO observations across micro-batches and emit the detection
    * timestamp whenever the 20%-down-20%-up integer test fires on a
    * sliding triple. Batch rows are sorted before the walk; the
    * cross-batch seam is the carried pair.
    *
    * PRECONDITION — per-key event-time-ordered micro-batches, exactly
    * as q_stream_markov's TransitionProcessor documents: a late row
    * spanning a batch seam would slide the triple out of order and
    * miss (or fake) a V. Holds here because the drain is ONE
    * AvailableNow batch; out-of-order sources need an event-time
    * buffer flushed by watermark. */
  private[graft] class VshapeProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Long, Long), (String, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var lastTwo
      : ValueState[(Long, Long, Long, Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastTwo = getHandle.getValueState[(Long, Long, Long, Long, Long, Long)](
        "last2", Encoders.product[(Long, Long, Long, Long, Long, Long)],
        TTLConfig.NONE)
    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, Long, Long)],
        timerValues: TimerValues): Iterator[(String, Long)] = {
      var st = if (lastTwo.exists()) Some(lastTwo.get()) else None
      val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
        st match {
          case Some((us1, _, c1, us2, eid2, c2)) =>
            // us1 == -1 marks "only one observation carried": the
            // triple is incomplete, no test (a sentinel c1 fed into
            // the integer test would overflow/false-fire)
            if (us1 >= 0 &&
                (c1 - c2) * 5 >= c1 && (r._4 - c2) * 5 >= r._4)
              out += ((key, r._2))
            st = Some((us2, eid2, c2, r._2, r._3, r._4))
          case None =>
            st = Some((-1L, -1L, 0L, r._2, r._3, r._4))
        }
      }
      st.foreach(lastTwo.update)
      out.iterator
    }
  }

  /** Streaming V-shape detection (q_stream_vshape): the stateful twin
    * of q_ts_vshape — a transformWithState processor carries the last
    * two observations per series so patterns straddling micro-batch
    * seams are still caught; the settled hit log reduces to the same
    * census as the batch window formulation. The first-ever triple of
    * a series needs TWO carried rows, which is exactly what the state
    * tuple holds (us1 = −1 marks "only one row carried", and the test
    * is skipped rather than fed a sentinel that could overflow). */
  val qStreamVshape = Q(
    "q_stream_vshape",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      Tables.withConfs(s, rocksDbState) {
        val src = eventsStream(s, d)
          .select(col("event_type"),
            unix_micros(col("ts").cast("timestamp")).as("us"),
            col("event_id"),
            floor(col("value") * 100 + 0.5).cast("long").as("c"))
          .as[(String, Long, Long, Long)]
        val hits = src
          .groupByKey(_._1)
          .transformWithState(new VshapeProcessor,
            TimeMode.None(), OutputMode.Append())
        drain(s, hits.toDF("event_type", "us"),
          "stream_vshape_tbl", "append",
          emitsOnFinalize = false)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_vshapes"),
            expr("CAST(timestamp_micros(min(us)) AS TIMESTAMP_NTZ)")
              .as("first_at"))
          .orderBy(col("event_type"))
      }
    },
    Some("""WITH base AS (
              SELECT event_type, ts,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
                lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 2) OVER w
                  AS c1,
                lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 1) OVER w
                  AS c2
              FROM events
              WINDOW w AS (PARTITION BY event_type
                           ORDER BY ts, event_id))
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_vshapes,
              min(ts) AS first_at
            FROM base
            WHERE c1 IS NOT NULL
              AND (c1 - c2) * 5 >= c1 AND (c - c2) * 5 >= c
            GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** Streaming KMV distinct-cardinality telemetry (q_stream_kmv): the
    * per-source k-minimum-values sketch maintained ON INGEST by the
    * typed [[graft.functions.KmvSketch]] aggregator — state is ≤ 64
    * longs per source at any stream volume, reduce/merge are
    * commutative, associative and duplicate-absorbing, so the settled
    * sketch equals the batch q_agg_kmv build exactly (same portable
    * 32-bit text hash, same estimator CASE) and the per-source slice of
    * that oracle applies. This is the live "how many distinct docs has
    * each crawl contributed" dashboard a 100 TB ingest runs without
    * ever re-scanning the corpus. */
  val qStreamKmv = Q(
    "q_stream_kmv",
    (s, d) => {
      val kmv = org.apache.spark.sql.functions.udaf(
        graft.functions.KmvSketch)
      val sketches = documentsStream(s, d)
        .select(col("source"),
          expr("CAST(conv(substring(md5(lower(trim(text))), 1, 8), 16, 10) AS BIGINT)")
            .as("h"))
        .groupBy(col("source"))
        .agg(kmv(col("h")).as("sk"))
      drain(s, sketches, "stream_kmv_tbl", "complete")
        .select(col("source"), size(col("sk")).cast("long").as("k_used"),
          expr("sk[size(sk) - 1]").as("tau"))
        .select(col("source"), col("k_used"), col("tau"),
          round(when(col("k_used") < 64, col("k_used").cast("double"))
            .otherwise(lit(63) * lit(4294967296.0) / col("tau")), 2)
            .as("d_est"))
        .orderBy(col("source"))
    },
    Some("""WITH hashes AS (
              SELECT DISTINCT source,
                CAST('0x' || substr(md5(lower(trim(text))), 1, 8)
                  AS BIGINT) AS h
              FROM documents),
            sk AS (
              SELECT source, h FROM (
                SELECT source, h, row_number() OVER (
                  PARTITION BY source ORDER BY h) AS rn
                FROM hashes) z WHERE rn <= 64)
            SELECT source, count(*) AS k_used,
              CAST(max(h) AS BIGINT) AS tau,
              round(CASE WHEN count(*) < 64
                THEN CAST(count(*) AS DOUBLE)
                ELSE 63 * 4294967296.0 / max(h) END, 2) AS d_est
            FROM sk GROUP BY source
            ORDER BY source NULLS FIRST"""))

  /** Streaming Benford telemetry (q_stream_benford): the leading-digit
    * distribution of arriving event values maintained on ingest —
    * per-digit counts are commutative streaming aggregates (9-key
    * state), the probability/chi-square assembly runs on the settled
    * 9-row table, and the digit extraction shares ONE definition with
    * the batch op (Refine.leadingDigitSql). The live "does today's
    * feed still look like money" alarm. */
  val qStreamBenford = Q(
    "q_stream_benford",
    (s, d) => {
      val counts = eventsStream(s, d)
        .select(floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .filter(col("c") > 0)
        .select(expr(graft.ops.Refine.leadingDigitSql("c", "div")).as("d"))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n"))
      val obs = drain(s, counts, "stream_benford_tbl", "complete")
      val tot = obs.agg(sum(col("n")).as("total"))
      obs.crossJoin(broadcast(tot))
        .select(col("d"), col("n"),
          round(col("n").cast("double") / col("total"), 6).as("obs_p"),
          round(log10(lit(1.0) + lit(1.0) / col("d")), 6).as("exp_p"))
        .orderBy(col("d"))
    },
    Some(s"""WITH base AS (
              SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
              FROM events
              WHERE floor(value * 100 + 0.5) > 0),
            dig AS (
              SELECT ${graft.ops.Refine.leadingDigitSql("c", "//")} AS d
              FROM base),
            obs AS (
              SELECT d, CAST(count(*) AS BIGINT) AS n FROM dig
              GROUP BY d),
            tot AS (SELECT sum(n) AS total FROM obs)
            SELECT d, n,
              round(CAST(n AS DOUBLE) / total, 6) AS obs_p,
              round(log10(1.0e0 + 1.0e0 / d), 6) AS exp_p
            FROM obs, tot
            ORDER BY d NULLS FIRST"""))

  /** Streaming value-trend telemetry (q_stream_trend): the per-type OLS
    * slope of value-over-time maintained ON INGEST from five
    * commutative sufficient sums (n, Σt, Σv, Σtv, Σt²) — the live
    * "is this module's rate drifting" alarm (the reference's rate
    * characterization, html:194-239, as a running regression instead
    * of a batch fit). Time is integer SECONDS from a fixed epoch and
    * values integer cents, sums accumulate in DECIMAL(38,0) (exact at
    * any volume, merge-order-free), so the settled slope equals the
    * batch fit bit-for-bit and the batch SQL is the oracle. The
    * q_ml_linreg normal-equations shape, streamified. */
  val qStreamTrend = Q(
    "q_stream_trend",
    (s, d) => {
      val base = eventsStream(s, d)
        .select(col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000" +
            " - 1704067200").as("t"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
      val sums = base.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("t").cast("decimal(38,0)")).as("st"),
          sum(col("v").cast("decimal(38,0)")).as("sv"),
          sum((col("t") * col("v")).cast("decimal(38,0)")).as("stv"),
          sum((col("t") * col("t")).cast("decimal(38,0)")).as("stt"))
      val r = drain(s, sums, "stream_trend_tbl", "complete")
      val n = col("n").cast("double")
      val Seq(st, sv, stv, stt) =
        Seq("st", "sv", "stv", "stt").map(c => col(c).cast("double"))
      r.select(col("event_type"), col("n"),
          round((n * stv - st * sv) / (n * stt - st * st) * 3600, 6)
            .as("slope_cents_per_hour"),
          round((sv - (n * stv - st * sv) / (n * stt - st * st) * st)
            / n / 100.0, 6).as("intercept_at_epoch"))
        .orderBy(col("event_type"))
    },
    Some("""WITH base AS (
              SELECT event_type,
                CAST(floor(epoch(ts)) AS BIGINT) - 1704067200 AS t,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
              FROM events),
            sums AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                sum(t) AS st, sum(v) AS sv,
                sum(t * v) AS stv, sum(t * t) AS stt
              FROM base GROUP BY event_type)
            SELECT event_type, n,
              round((CAST(n AS DOUBLE) * CAST(stv AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                * 3600, 6) AS slope_cents_per_hour,
              round((CAST(sv AS DOUBLE)
                - (CAST(n AS DOUBLE) * CAST(stv AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                  * CAST(st AS DOUBLE))
                / n / 100.0e0, 6) AS intercept_at_epoch
            FROM sums
            ORDER BY event_type NULLS FIRST"""))

  /** Streaming last-touch attribution (q_stream_attribution): per-user
    * keyed state carries the (channel, micros) of the most recent
    * click/view across micro-batches; each arriving purchase is
    * credited to that touch if it is strictly earlier and within 7
    * days, else to 'direct' — the online half of the batch
    * q_events_attribution model family, as flatMapGroupsWithState
    * (built-in aggregates can't express "value of the latest preceding
    * row of a DIFFERENT filter"). State is two fields per user
    * whatever the stream volume; the user key is high-cardinality so
    * groups stay small (the reset-counter keying lesson). Credits are
    * exact integer cents; the settled per-channel rollup gets the
    * window-SQL oracle. */
  private[graft] def lastTouchCredits(
      src: org.apache.spark.sql.Dataset[(Long, Long, Long, String, Long)])
      : DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    import src.sparkSession.implicits._
    val sevenDaysUs = 7L * 86400000000L
    // rows: (event_id, us, user_id, event_type, cents). State carries
    // the latest touch AND the latest touch at a STRICTLY earlier
    // micros: a touch sharing the purchase's exact timestamp must not
    // take the credit (the oracle's t_ts < p_ts is strict), but an
    // earlier in-window touch behind it still does.
    src
      .groupByKey(_._3)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[(Long, Long, Long, String, Long)],
          state: GroupState[(String, Long, String, Long)]) =>
          var (lastCh, lastUs, prevCh, prevUs) =
            state.getOption.getOrElse(("", Long.MinValue, "", Long.MinValue))
          val out = it.toSeq.sortBy(r => (r._2, r._1)).flatMap { r =>
            r._4 match {
              case "click" | "view" =>
                if (r._2 > lastUs) { prevCh = lastCh; prevUs = lastUs }
                lastCh = r._4; lastUs = r._2; Nil
              case "purchase" =>
                val (ch, us) =
                  if (lastUs < r._2) (lastCh, lastUs) else (prevCh, prevUs)
                val credit =
                  if (us > Long.MinValue && r._2 - us <= sevenDaysUs) ch
                  else "direct"
                Seq((credit, r._5))
              case _ => Nil
            }
          }
          state.update((lastCh, lastUs, prevCh, prevUs))
          out.iterator
      }
      .toDF("channel", "pc")
  }

  val qStreamAttribution = Q(
    "q_stream_attribution",
    (s, d) => {
      import s.implicits._
      val src = eventsStream(s, d)
        .select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("user_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("pc"))
        .as[(Long, Long, Long, String, Long)]
      drain(s, lastTouchCredits(src), "stream_attr_tbl", "append",
        emitsOnFinalize = false)
      s.table("stream_attr_tbl")
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("pc")).as("cents"))
        .orderBy(col("channel"))
    },
    Some("""WITH p AS (
        SELECT event_id AS p_id, user_id, ts AS p_ts,
          CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS pc
        FROM events WHERE event_type = 'purchase'),
      tch AS (
        SELECT user_id AS t_user, event_id AS t_id, ts AS t_ts,
          event_type AS t_channel
        FROM events WHERE event_type IN ('click', 'view')),
      j AS (
        SELECT p_id, pc, t_channel,
          row_number() OVER (PARTITION BY p_id
            ORDER BY t_ts DESC, t_id DESC) AS rn
        FROM p LEFT JOIN tch
          ON user_id = t_user AND t_ts < p_ts
          AND t_ts >= p_ts - INTERVAL 7 DAY)
      SELECT coalesce(t_channel, 'direct') AS channel,
        CAST(count(*) AS BIGINT) AS n_purchases,
        CAST(sum(pc) AS BIGINT) AS cents
      FROM j WHERE rn = 1
      GROUP BY 1
      ORDER BY channel NULLS FIRST"""))

  /** Streaming Pareto skyline (q_stream_pareto): the q_mix_pareto
    * dominance frontier maintained online — TTR is scan-local per
    * arriving document, the stateful operator is the per-TTR-cell
    * argmax (state ≤101 rows: max(struct(n_chars, −doc_id)) picks the
    * longest doc, lowest id on ties), and the running-max dominance
    * filter runs over the settled cell grid after the drain. Identical
    * output and oracle as the batch skyline. */
  val qStreamPareto = Q(
    "q_stream_pareto",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cells = documentsStream(s, d)
        .selectExpr("doc_id",
          """size(array_distinct(split(text, ' '))) * 100L
             div size(split(text, ' ')) AS ttr""")
        // n_chars is the batch table's column; a stream-static
        // broadcast join projects it (the runlog-enrich shape)
        .join(
          org.apache.spark.sql.functions.broadcast(
            graft.Tables.t(s, d, "documents")
              .select(col("doc_id").as("d2"), col("n_chars"))),
          col("doc_id") === col("d2"))
        .groupBy(col("ttr"))
        .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id")))
          .as("best"))
      val settled = drain(s, cells, "stream_pareto_tbl", "complete")
        .select(col("ttr"), col("best.n_chars").as("n_chars"),
          (-col("best.neg_id")).as("doc_id"))
      val wDesc = Window.orderBy(col("ttr").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      settled
        .withColumn("best_above",
          coalesce(max(col("n_chars")).over(wDesc), lit(-1L)))
        .filter(col("n_chars") > col("best_above"))
        .select(col("ttr"), col("n_chars"), col("doc_id"))
        .orderBy(col("ttr").desc)
    },
    graft.ops.Curate.qMixPareto.oracle)

  /** Streaming STL-lite (q_stream_stl): the daily revenue aggregate
    * maintained as complete-mode keyed state (one row per day whatever
    * the stream volume), decomposed into trend + weekly seasonal +
    * residual AFTER the drain by the exact batch helper
    * (Series.stlDecompose) — centered moving averages need the settled
    * grid, so the decomposition belongs to the finalize step, the
    * reference's drain-then-finalize shape. Identical output and
    * oracle as q_ts_stl. */
  val qStreamStl = Q(
    "q_stream_stl",
    (s, d) => {
      val daily = eventsStream(s, d)
        .select(to_date(col("ts")).as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .groupBy(col("day")).agg(sum(col("c")).as("rev"))
      graft.ops.Series.stlDecompose(
        drain(s, daily, "stream_stl_tbl", "complete"))
    },
    Some(graft.ops.Series.stlOracleSql))

  /** Streaming power-of-two histogram (q_stream_loghist): the
    * q_agg_loghist bucketing as a complete-mode streaming aggregate —
    * bit-length buckets are scan-local integer algebra, so the only
    * stateful operator is the ≤64-key census itself (state one row per
    * bucket at any stream volume). */
  val qStreamLoghist = Q(
    "q_stream_loghist",
    (s, d) =>
      drain(s,
        eventsStream(s, d)
          .select(floor(col("value") * 100 + 0.5).cast("long").as("c"))
          .filter(col("c") >= 1L)
          .select(length(expr("conv(c, 10, 2)")).cast("long").as("bucket"),
            col("c"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"), min(col("c")).as("min_c"),
            max(col("c")).as("max_c")),
        "stream_loghist_tbl", "complete")
        .orderBy(col("bucket")),
    Some("""SELECT CAST(length(to_base(c, 2)) AS BIGINT) AS bucket,
        CAST(count(*) AS BIGINT) AS n, min(c) AS min_c, max(c) AS max_c
      FROM (SELECT CAST(floor(value * 100 + 0.5e0) AS BIGINT) AS c
            FROM events) x
      WHERE c >= 1
      GROUP BY 1
      ORDER BY bucket NULLS FIRST"""))

  /** Streaming DP histogram release (q_stream_dp_hist): the live twin
    * of q_audit_dp_hist — per-category counts maintained on ingest
    * (commutative, merge-order-free), the ε = 1 discrete-geometric
    * noise applied to the SETTLED counts at release time via the same
    * precomputed integer threshold chain ([[graft.ops.Privacy
    * .dpNoiseCase]]). Noise-at-release is the correct DP shape for a
    * snapshot publication (noise on every micro-batch would compound
    * the privacy budget); the batch query is therefore the exact
    * oracle once the stream drains. */
  val qStreamDpHist = Q(
    "q_stream_dp_hist",
    (s, d) => {
      val counts = eventsStream(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_true"))
      val settled = drain(s, counts, "stream_dp_hist_tbl", "complete")
      settled
        .withColumn("u", expr(
          """CAST(conv(substring(md5(CAST(event_type AS BINARY)), 1, 8),
               16, 10) AS BIGINT)"""))
        .withColumn("noise", expr(graft.ops.Privacy.dpNoiseCase))
        .select(col("event_type"), col("n_true"), col("noise"),
          greatest(lit(0L), col("n_true") + col("noise")).as("n_dp"))
        .orderBy(col("event_type"))
    },
    graft.ops.Privacy.qAuditDpHist.oracle)

  /** Streaming FDR monitor (q_stream_fdr): the live twin of
    * q_stats_fdr — per-type (n, Σc, Σc²) sufficient statistics
    * maintained on ingest in DECIMAL(38,0) (commutative, merge-order-
    * free), the Welch z / A&S p / BH step-up applied to the SETTLED
    * stats through the SAME shared [[graft.ops.Inference.fdrFromStats]]
    * program, so the live experiment dashboard and the batch analysis
    * cannot disagree by construction. Settles to the batch oracle
    * exactly. */
  val qStreamFdr = Q(
    "q_stream_fdr",
    (s, d) => {
      val stats = eventsStream(s, d)
        .select(col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .groupBy(col("event_type"))
        .agg(graft.ops.Inference.fdrStatsAggs.head,
          graft.ops.Inference.fdrStatsAggs.tail: _*)
      graft.ops.Inference.fdrFromStats(
        drain(s, stats, "stream_fdr_tbl", "complete"))
    },
    graft.ops.Inference.qStatsFdr.oracle)

  /** Streaming data-contract monitor (q_stream_expectations): the live
    * twin of the q_audit_expectations idea on the ingest path — four
    * violation counters (negative value, unknown event type, null
    * props, timestamp outside the 2024 contract window) maintained as
    * ONE commutative aggregate row on the stream, unpivoted into the
    * per-rule census after the drain. A violating batch is visible the
    * moment it lands, not at the nightly audit. Settles exactly to the
    * same rules evaluated batch-side. */
  val qStreamExpectations = Q(
    "q_stream_expectations",
    (s, d) => {
      val counters = eventsStream(s, d).agg(
        count(lit(1)).as("n"),
        sum((col("value") < 0).cast("long")).as("v_neg"),
        sum((!col("event_type").isin(
          "click", "view", "purchase", "signup", "error")).cast("long"))
          .as("v_type"),
        sum(col("props").isNull.cast("long")).as("v_props"),
        sum((col("ts") < lit("2024-01-01").cast("timestamp_ntz") ||
          col("ts") >= lit("2025-01-01").cast("timestamp_ntz"))
          .cast("long")).as("v_ts"))
      drain(s, counters, "stream_expect_tbl", "complete")
        .selectExpr("n", """stack(4,
            'events_value_non_negative', v_neg,
            'events_type_domain', v_type,
            'events_props_not_null', v_props,
            'events_ts_in_contract_window', v_ts)
          AS (rule, n_violations)""")
        .select(col("rule"), col("n").as("n_checked"),
          col("n_violations"), (col("n_violations") === 0).as("pass"))
        .orderBy(col("rule"))
    },
    Some("""WITH c AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_neg,
                CAST(sum(CASE WHEN event_type NOT IN
                  ('click', 'view', 'purchase', 'signup', 'error')
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_type,
                CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_props,
                CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-01'
                  OR ts >= TIMESTAMP '2025-01-01' THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_ts
              FROM events),
            rules AS (
              SELECT 'events_value_non_negative' AS rule, n,
                v_neg AS n_violations FROM c
              UNION ALL SELECT 'events_type_domain', n, v_type FROM c
              UNION ALL SELECT 'events_props_not_null', n, v_props
                FROM c
              UNION ALL SELECT 'events_ts_in_contract_window', n, v_ts
                FROM c)
            SELECT rule, n AS n_checked, n_violations,
              n_violations = 0 AS pass
            FROM rules
            ORDER BY rule NULLS FIRST"""))

  /** Streaming calibration monitor (q_stream_brier): maintain the
    * (score, n, n_positive) value-count table ON INGEST — a plain
    * commutative streaming aggregate, mergeable in any micro-batch
    * order — then settle and run the SAME reliability/Brier finisher
    * as the batch q_ml_brier (shared `brierFromCounts`), so the
    * settled release equals the batch table bit-for-bit and the batch
    * SQL is the oracle. This is the live "is the ranker drifting
    * out of calibration" alarm: state is bounded by distinct score
    * values, never rows. */
  val qStreamBrier = Q(
    "q_stream_brier",
    (s, d) => {
      val vc = graft.ops.Inference.brierCountAggs(documentsStream(s, d))
      graft.ops.Inference.brierFromCounts(
        drain(s, vc, "stream_brier_tbl", "complete"))
    },
    Some(graft.ops.Inference.brierOracleSql))

  /** Streaming token-budget planner (q_stream_budget): per-source
    * token/doc/English counters maintained ON INGEST (plain
    * commutative sums), settled and fed through the SAME greedy
    * allocation finisher as the batch q_mix_budget — the live "which
    * sources still fit the training budget" telemetry. State is one
    * row per source. */
  val qStreamBudget = Q(
    "q_stream_budget",
    (s, d) => {
      val stats = graft.ops.Corpus.budgetStatsAggs(documentsStream(s, d))
      graft.ops.Corpus.budgetFromStats(
        drain(s, stats, "stream_budget_tbl", "complete"))
    },
    Some(graft.ops.Corpus.budgetOracleSql))

  /** Streaming burstiness monitor (q_stream_fano): the (type, day)
    * count cells accumulate ON INGEST (commutative), settle, and run
    * the batch dispersion finisher — the live Poisson-vs-bursty
    * check. State is bounded by the calendar × type grid. */
  val qStreamFano = Q(
    "q_stream_fano",
    (s, d) => {
      val cells = graft.ops.Biz.fanoCells(eventsStream(s, d))
      graft.ops.Biz.fanoFromCells(
        drain(s, cells, "stream_fano_tbl", "complete"))
    },
    Some(graft.ops.Biz.fanoOracleSql))

  /** Streaming mean-family monitor (q_stream_genmeans): the per-type
    * (n, Σc, Σln, Σ1/c) quantized sufficient sums accumulate ON
    * INGEST (commutative) and settle into the batch finisher — live
    * arithmetic/geometric/harmonic means with one state row per
    * type. */
  val qStreamGenmeans = Q(
    "q_stream_genmeans",
    (s, d) => {
      val st = graft.ops.Refine.genmeansStatsAggs(eventsStream(s, d))
      graft.ops.Refine.genmeansFromStats(
        drain(s, st, "stream_genmeans_tbl", "complete"))
    },
    Some(graft.ops.Refine.genmeansOracleSql))

  /** Streaming paired-gate monitor (q_stream_mcnemar): the 4-cell
    * agreement counters of the char-length vs token-length curation
    * gates accumulate ON INGEST (one commutative row), settle, and run
    * the batch McNemar finisher — the live "did a gate change break
    * gate symmetry" alarm with O(1) state. */
  val qStreamMcnemar = Q(
    "q_stream_mcnemar",
    (s, d) => {
      val cells = graft.ops.Inference.mcnemarCellAggs(
        documentsStream(s, d))
      graft.ops.Inference.mcnemarFromCells(
        drain(s, cells, "stream_mcnemar_tbl", "complete"))
    },
    Some(graft.ops.Inference.mcnemarOracleSql))

  /** Streaming reliability monitor (q_stream_cronbach): the exact
    * item-moment row (Σx, Σx² per quality item in DECIMAL(38,0))
    * accumulates ON INGEST and settles into the batch alpha finisher —
    * live internal-consistency telemetry with one state row. */
  val qStreamCronbach = Q(
    "q_stream_cronbach",
    (s, d) => {
      val st = graft.ops.Inference.cronbachStatsAggs(
        documentsStream(s, d))
      graft.ops.Inference.cronbachFromStats(
        drain(s, st, "stream_cronbach_tbl", "complete"))
    },
    Some(graft.ops.Inference.cronbachOracleSql))

  /** Streaming variance-homogeneity monitor (q_stream_bartlett): the
    * per-source length-moment grid (n, Σx, Σx² in DECIMAL(38,0))
    * accumulates ON INGEST — one commutative row per source — settles,
    * and runs the batch Bartlett finisher: the live "did one source's
    * length dispersion drift" alarm with catalog-sized state. */
  val qStreamBartlett = Q(
    "q_stream_bartlett",
    (s, d) => {
      val grid = graft.ops.Inference.sourceLenMoments(
        documentsStream(s, d))
      graft.ops.Inference.bartlettFromMoments(
        drain(s, grid, "stream_bartlett_tbl", "complete"))
    },
    Some(graft.ops.Inference.bartlettOracleSql))

  /** Streaming effect-size monitor (q_stream_cohend): the SAME shared
    * source-moment grid as q_stream_bartlett settles into the batch
    * Cohen's d finisher — per-source drift panel, one state row per
    * source. */
  val qStreamCohend = Q(
    "q_stream_cohend",
    (s, d) => {
      val grid = graft.ops.Inference.sourceLenMoments(
        documentsStream(s, d))
      graft.ops.Inference.cohendFromMoments(
        drain(s, grid, "stream_cohend_tbl", "complete"))
    },
    Some(graft.ops.Inference.cohendOracleSql))

  /** Streaming rater-agreement monitor (q_stream_fleiss): the
    * three-gate vote counters (n, Σr, Σ[r²+(3−r)²]) accumulate ON
    * INGEST into one commutative row, settle, and run the batch
    * Fleiss finisher — live multi-gate agreement telemetry with O(1)
    * state. */
  val qStreamFleiss = Q(
    "q_stream_fleiss",
    (s, d) => {
      val st = graft.ops.Inference.fleissVoteAggs(
        documentsStream(s, d))
      graft.ops.Inference.fleissFromVotes(
        drain(s, st, "stream_fleiss_tbl", "complete"))
    },
    Some(graft.ops.Inference.fleissOracleSql))

  /** Streaming mixture-concentration monitor (q_stream_hhi): the
    * per-source (docs, tokens) grid accumulates ON INGEST — one
    * commutative row per source — settles, and runs the batch HHI
    * finisher: the live "is one source taking over the mix" gauge
    * with catalog-sized state. */
  val qStreamHhi = Q(
    "q_stream_hhi",
    (s, d) => {
      val grid = graft.ops.Corpus.mixSourceGrid(
        documentsStream(s, d))
      graft.ops.Corpus.hhiFromGrid(
        drain(s, grid, "stream_hhi_tbl", "complete"))
    },
    Some(graft.ops.Corpus.hhiOracleSql))

  /** Streaming arrival-model monitor (q_stream_poisson_gof): the daily
    * extreme-count grid accumulates ON INGEST (calendar-bounded state,
    * one row per day), settles, and runs the batch χ² finisher — the
    * live "are spikes still Poisson or turning bursty" table. */
  val qStreamPoissonGof = Q(
    "q_stream_poisson_gof",
    (s, d) => {
      val days = graft.ops.Series.extremeDayCounts(eventsStream(s, d))
      graft.ops.Series.poissonGofFromDays(
        drain(s, days, "stream_poisson_tbl", "complete"))
    },
    Some(graft.ops.Series.poissonGofOracleSql))

  val all: Seq[Q] = Seq(
    qStreamBrier, qStreamBudget, qStreamFano, qStreamGenmeans,
    qStreamMcnemar, qStreamCronbach, qStreamBartlett, qStreamCohend,
    qStreamFleiss, qStreamHhi, qStreamPoissonGof,
    qStreamDpHist, qStreamFdr, qStreamExpectations,
    qStreamKmv, qStreamBenford, qStreamTrend,
    qStreamSource, qStreamTumbling, qStreamSliding, qStreamSession,
    qStreamWatermark, qStreamDedup, qStreamStateful, qStreamForeachBatch,
    qStreamDaqPipeline, qStreamResetCounter, qStreamJoin, qStreamJoinOuter,
    qStreamTws, qStreamBinaryRaw, qStreamUpsert, qStreamDecontaminate,
    qStreamCentroid, qStreamAnomaly, qStreamTopk, qStreamLshIndex,
    qStreamMixSample, qStreamCdcApply, qStreamOhlc, qStreamMarkov,
    qStreamPsi, qStreamVshape, qStreamDsir, qStreamRepScrub,
    qStreamShardManifest,
    qStreamCurate, qStreamPerplexity, qStreamRunlogEnrich,
    qStreamReconcile, qStreamAttribution, qStreamLoghist, qStreamPareto,
    qStreamStl)
}
