package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-pattern operators (the 100 TB playbook made concrete):
  * bucketed co-located joins that eliminate the shuffle entirely, and
  * salted joins that neutralize key skew. Both verified against the
  * plain-join oracle — the optimization must be invisible in results. */
object Scale {

  /** Bucketed co-located join (q_join_bucketed): persist both sides
    * bucketed by the join key, then join WITHOUT any shuffle exchange —
    * the plan shape PlanSpec asserts. At 100 TB this is the difference
    * between re-shuffling the fact table per query and reading
    * pre-co-located buckets. */
  /** Bucketed-table setup: building the co-located layout is a LOAD
    * step, not part of the join, so repeated queries (and the bench)
    * measure the shuffle-free join itself. The two tables have fixed
    * names, so they hold one (session, sfDir) at a time: the setup is
    * skipped only while they hold the pair asked for, and rebuilt
    * whenever a query asks for another session or dir. */
  private var bucketsHold: Option[(SparkSession, String)] = None

  private def ensureBucketTables(s: SparkSession, d: String): Unit =
    synchronized {
      if (!bucketsHold.contains((s, d))) {
        bucketsHold = None
        val wh = sys.props("java.io.tmpdir") + "/graft_warehouse"
        s.sql(s"CREATE DATABASE IF NOT EXISTS graft_buckets LOCATION '$wh'")
        // the in-memory catalog forgets tables across sessions but
        // their directories persist — clear both before rebuilding
        Seq("orders_b", "lineitem_b").foreach { t =>
          s.sql(s"DROP TABLE IF EXISTS graft_buckets.$t")
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(s"$wh/$t"))
        }
        val o = Tables.t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val li = Tables.t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"))
        o.write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable("graft_buckets.orders_b")
        li.write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable("graft_buckets.lineitem_b")
        bucketsHold = Some((s, d))
      }
    }

  /** Load-phase warmup: build the bucketed layout outside any timed
    * query. Bench's warmup block and Verify's preamble call this, so a
    * one-pass run measures the shuffle-free join — the layout is a
    * LOAD step a real deployment does once, not per query. */
  def warm(s: SparkSession, d: String): Unit = ensureBucketTables(s, d)

  val qJoinBucketed = Q(
    "q_join_bucketed",
    (s, d) => {
      s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
        "false")
      ensureBucketTables(s, d)
      s.table("graft_buckets.orders_b")
        .join(s.table("graft_buckets.lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          (Mart.centSum(col("l_quantity")) / 100.0).as("sum_qty"),
          round(max(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, count(*) AS n_items,
              CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                AS BIGINT) / 100.0e0 AS sum_qty,
              round(max(o_totalprice), 2) AS total
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY o_orderkey
            ORDER BY o_orderkey NULLS FIRST"""))

  /** Salted skew join (q_join_salted): the hot-key pattern — explode the
    * small side into SALT replicas, scatter the fact side by a
    * deterministic salt, join on (key, salt), then re-aggregate. Results
    * must equal the unsalted join (the oracle checks exactly that). */
  val qJoinSalted = Q(
    "q_join_salted",
    (s, d) => {
      val salt = 8
      // fact side: per-row deterministic salt spreads any hot l_suppkey
      val li = Tables.t(s, d, "lineitem")
        .withColumn("salt",
          (col("l_orderkey") * 31 + col("l_linenumber")) % salt)
      // dim side: replicate once per salt value
      val sup = Tables.t(s, d, "supplier")
        .withColumn("salt", explode(sequence(lit(0), lit(salt - 1))))
      li.join(sup,
          li("l_suppkey") === sup("s_suppkey") &&
          li("salt") === sup("salt"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("n_items"),
          (Mart.centSum(col("l_extendedprice")) / 100.0).as("revenue"))
        .orderBy(col("s_suppkey"))
    },
    Some("""SELECT s_suppkey, s_name, count(*) AS n_items,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) / 100.0e0 AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_suppkey, s_name
            ORDER BY s_suppkey NULLS FIRST"""))

  /** AQE skew-join (q_join_skew_aqe): the SAME hot-key problem as
    * q_join_salted, handled by the runtime instead of by hand — no
    * salt column, no dim replication; AQE measures the map output,
    * sees one shuffle partition dwarfing the median, and splits it
    * across tasks (OptimizeSkewedJoin). Thresholds are lowered here so
    * the test-scale shuffle (KBs, not the 256 MB default) still
    * triggers the split; at 100 TB the defaults fire on their own.
    *
    * Decision rule (vs the manual salt): let AQE handle skew when the
    * join is a plain shuffle join and skew appears at runtime —
    * zero code, splits only what is actually skewed. Salt by hand
    * when (a) the aggregation AFTER the join is itself skewed (AQE
    * splits join partitions, not groupBy partitions), (b) the skewed
    * side must stay co-partitioned with a later stage (AQE's split
    * breaks the partitioning contract), or (c) the engine is not
    * running adaptive (streaming micro-batches). */
  val qJoinSkewAqe = Q(
    "q_join_skew_aqe",
    (s0, d) => {
      // AQE reads these confs at EXECUTION time, which happens after
      // this builder returns (the DataFrame is lazy) — so tune a
      // throwaway child session that lives as long as the plan, rather
      // than mutate-and-restore the caller's conf around a lazy value.
      // Its tables come from the unmemoized Tables.read: the memo would
      // pin every call's child session for the life of the JVM.
      val s = s0.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // scaled down so the KB-sized test shuffle trips the same logic
      // the 256 MB default trips at 100 TB
      s.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "4096")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2048")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      // force the shuffle join both at planning AND at AQE replanning
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // 90% of the fact table lands on hot_key 0 — the pathological
      // partition a uniform hash shuffle cannot help. AQE splits a
      // skewed reduce partition along MAP-task boundaries, and the
      // sf0.001/0.01 parquet is a single input split (one mapper =
      // nothing to split along), so spread the scan over 8 mappers
      // first — the granularity a many-split 100 TB scan has for free.
      val li = Tables.read(s, d, "lineitem")
        .repartition(8)
        .withColumn("hot_key", expr(
          """CASE WHEN l_orderkey % 10 < 9 THEN CAST(0 AS BIGINT)
                  ELSE CAST(l_suppkey % 25 AS BIGINT) END"""))
      val dim = Tables.read(s, d, "supplier")
        .filter(col("s_suppkey") <= 25)
        .select((col("s_suppkey") % 25).as("hot_key"), col("s_name"))
      // aggregate on s_name, NOT the join key: an agg keyed by the
      // join key would inherit the join's partitioning, and AQE will
      // not split a skewed partition whose layout a downstream
      // operator depends on (decision-rule case (b) above — where the
      // manual salt remains the answer)
      // revenue in whole cents per row: AQE's skew split decides which
      // rows meet in which partial sum, so a double sum would move
      li.join(dim, Seq("hot_key"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_items"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
            .as("rev_c"))
        .select(col("s_name"), col("n_items"),
          (col("rev_c") / 100.0).as("revenue"))
        .orderBy(col("s_name"))
    },
    Some("""SELECT s_name, count(*) AS n_items,
              CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) / 100.0e0 AS revenue
            FROM (SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0
                              ELSE l_suppkey % 25 END AS hot_key,
                    l_extendedprice
                  FROM lineitem) f
            JOIN (SELECT s_suppkey % 25 AS hot_key, s_name
                  FROM supplier WHERE s_suppkey <= 25) d USING (hot_key)
            GROUP BY s_name
            ORDER BY s_name NULLS FIRST"""))

  /** Bloom-pruned semi-join (q_join_bloom): build a bloom filter over
    * the (filtered) dim keys in one aggregate, broadcast the ~KB sketch,
    * and pre-filter the probe side BEFORE any shuffle — the explicit
    * form of the runtime-filter pushdown a 100 TB join wants when the
    * dim predicate is selective (most probe rows never leave their scan
    * partition). False positives are removed by the exact semi-join that
    * follows, so the result — and the oracle — is exactly the plain
    * semi-join. */
  val qJoinBloom = Q(
    "q_join_bloom",
    (s, d) => {
      Tables.t(s, d, "orders").createOrReplaceTempView("orders_bloom_v")
      Tables.t(s, d, "customer").createOrReplaceTempView("customer_bloom_v")
      // might_contain requires the sketch as a scalar subquery (it is
      // evaluated once and inlined as a literal — the broadcast)
      s.sql("""
        WITH hv AS (SELECT o_custkey FROM orders_bloom_v
                    WHERE o_totalprice > 450000.0)
        SELECT c_custkey, c_name
        FROM customer_bloom_v
        WHERE might_contain(
                (SELECT bloom_filter_agg(xxhash64(o_custkey),
                                         10000L, 100000L) FROM hv),
                xxhash64(c_custkey))
          AND EXISTS (SELECT 1 FROM hv WHERE o_custkey = c_custkey)
        ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_totalprice > 450000.0)
            ORDER BY c_custkey NULLS FIRST"""))

  /** Dynamic partition pruning (q_join_dpp): fact table laid out in
    * hive partitions on the join key, dim side filtered at runtime —
    * the partitions to read are only known AFTER the dim filter runs,
    * so the optimizer injects a DynamicPruningExpression on the fact
    * scan (reusing the join's broadcast as the pruning subquery).
    * Static pruning (q_partition_pruned) covers literal predicates;
    * THIS is the shape that saves a 100 TB archive scan when the
    * predicate lives on a dimension table. PlanSpec asserts the
    * dynamicpruning filter reaches the scan. */
  val qJoinDpp = Q(
    "q_join_dpp",
    (s, d) => {
      import s.implicits._
      val out = sys.props("java.io.tmpdir") + "/graft_dpp_events"
      Tables.t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      val fact = s.read.parquet(out)
      // the dim must be a REAL table (file-backed): an inline
      // LocalRelation constant-folds its filter away before the
      // PartitionPruning rule looks for a selective dim predicate,
      // and no real deployment joins against a literal list anyway
      val dimOut = sys.props("java.io.tmpdir") + "/graft_dpp_dim"
      Seq(("error", 1L), ("purchase", 1L), ("view", 2L),
          ("click", 2L), ("signup", 3L))
        .toDF("event_type", "priority")
        .write.mode("overwrite").parquet(dimOut)
      val dim = s.read.parquet(dimOut)
      fact
        .join(broadcast(dim.filter(col("priority") === 1L)),
          Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n,
              round(sum(value), 2) AS sum_value
            FROM events
            JOIN (VALUES ('error', 1), ('purchase', 1), ('view', 2),
                         ('click', 2), ('signup', 3))
              AS dim(event_type, priority) USING (event_type)
            WHERE priority = 1
            GROUP BY event_type
            ORDER BY event_type NULLS FIRST"""))

  /** Skew-aware rebalanced write (q_write_rebalance): the output-file
    * sizing problem — a partitionBy write keyed on a skewed column
    * yields one giant file and many shards. The REBALANCE hint lets
    * AQE split oversized shuffle partitions and coalesce small ones to
    * the advisory size before the sink, so every output file lands
    * near the target size regardless of key skew. Results are
    * read back and re-aggregated, so the oracle proves the layout
    * change is invisible to the data. */
  val qWriteRebalance = Q(
    "q_write_rebalance",
    (s, d) => {
      val out = sys.props("java.io.tmpdir") + "/graft_rebalance_write"
      val skewed = Tables.t(s, d, "events")
        .select(col("event_id"), col("value"),
          // 90% of rows share one key — the write-skew setup
          expr("""CASE WHEN event_id % 10 < 9 THEN 'hot'
                       ELSE concat('cold_', event_id % 7) END""")
            .as("shard"))
      skewed.hint("rebalance", col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(out)
      s.read.parquet(out)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("shard"))
    },
    Some("""SELECT CASE WHEN event_id % 10 < 9 THEN 'hot'
                        ELSE concat('cold_', event_id % 7) END AS shard,
              count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY shard
            ORDER BY shard NULLS FIRST"""))

  val all: Seq[Q] =
    Seq(qJoinBucketed, qJoinSalted, qJoinSkewAqe, qJoinBloom,
      qJoinDpp, qWriteRebalance)
}
