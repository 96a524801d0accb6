package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one registry of a session's working set on a dir: the driver
  * tables it reads and the intermediates several of its queries reuse
  * (link graphs, MinHash sets, day grids, trained models, ...). Reuse
  * across one session's queries is the point; nothing here outlives
  * what that needs.
  *
  *  - Keying: an entry is keyed by (session, dir, name). It is built
  *    once, by the first caller, and its value carries the action that
  *    frees what it pins.
  *  - Entry kinds, and what each release frees:
  *     - `table:<name>` ([[Tables.t]]): the normalized frame and the
  *       raw footer schema the stream sources type their readers with.
  *       A read frame pins nothing, so the release is a no-op.
  *     - `buckets` (ops.Scale): the bucketed orders/lineitem layout.
  *       Its release drops the two tables and deletes their files.
  *     - `fixture:<sub>` (ops.Extras): a format fixture dir written
  *       from the dir's tables. Its release deletes the dir.
  *     - every other name: a materialized fixpoint ([[cacheOnce]], or
  *       [[memo]] with [[holding]]). Its release unpersists its frames
  *       and their checkpoint blocks.
  *  - One rule for every kind: a build does its work eagerly, whether
  *    a footer listing, a written layout or a materialized fixpoint.
  *    [[cacheOnce]] persists, counts and right-sizes; the other builds
  *    run their own action (a `count()` of a `persist()`, an eager
  *    checkpoint, a write) before they return. So every consumer plans
  *    against measured statistics, whether or not anything was warmed
  *    first, and a second read of an entry launches no job.
  *  - Bound: at most [[MaxDirs]] (session, dir) working sets are held.
  *    When a new one arrives past the bound, the least recently used
  *    OTHER working set is released, synchronously, under the registry
  *    lock. The dir being entered is never the victim, so fixpoints
  *    stacked inside one build never lose their inner entries.
  *    [[release]] frees one working set on request. A session that
  *    must not outlive its query (a stream drain's clone, a per-call
  *    child session) reads through [[Tables.read]] and never enters.
  *  - Warm list: [[warmSteps]] calls the accessors of every entry of a
  *    dir, tier by tier. It exists only so that a query's time charges
  *    the operator and not the shared build. */
object Fixpoints {

  /** A memoized value and the action that frees what it pins. */
  final case class Entry(value: Any, release: () => Unit)

  /** A dir as a name fragment: every character outside [a-zA-Z0-9]
    * becomes `_`. Per-dir table names and fixture paths carry it, so
    * two dirs never share one. */
  def dirTag(d: String): String = d.replaceAll("[^a-zA-Z0-9]", "_")

  /** Most (session, dir) working sets held at once. A dir whose tables
    * are only read counts too. Outside the registry's own tests, the
    * tier-1 test JVM enters 64 distinct dirs, all from one session:
    * sf0.001 and sf0.01, and 62 fixture dirs. It comes back to sf0.001
    * after at most 6 other dirs, and SumOrderSpec comes back to two of
    * its layout pairs after 10. 11 is the smallest bound under which
    * none of its reads rebuilds a released dir. Bench, Verify and
    * perfbench read one or two dirs per JVM, ScaleSmoke two. */
  val MaxDirs = 11

  // access-ordered: iteration starts at the least recently used scope
  private val scopes = new java.util.LinkedHashMap[
    (SparkSession, String), java.util.HashMap[String, Entry]](16, 0.75f, true)

  /** The memoized value of (s, d, name), built by `build` on first use.
    * The build runs outside the registry lock, so it may consume other
    * entries. If two threads race on one name, both get the first
    * value stored; the other is dropped unreleased, because its plan
    * can read the same dir's live entries, and Spark's ContextCleaner
    * frees its own blocks once it is unreachable. */
  def memo[T](s: SparkSession, d: String, name: String)(build: => Entry): T = {
    val hit = synchronized(enter(s, d).get(name))
    val e = if (hit != null) hit else {
      val built = build
      synchronized(enter(s, d).merge(name, built, (live, _) => live))
    }
    e.value.asInstanceOf[T]
  }

  /** Release every entry of (s, d); the next read rebuilds it. */
  def release(s: SparkSession, d: String): Unit = {
    val gone = synchronized(scopes.remove((s, d)))
    if (gone != null) gone.values.forEach(e => free(e))
  }

  /** The entries of (s, d), marked most recently used. A dir entered
    * past the bound first releases the least recently used others. */
  private def enter(s: SparkSession, d: String)
      : java.util.HashMap[String, Entry] = {
    val live = scopes.get((s, d))
    if (live != null) live
    else {
      while (scopes.size >= MaxDirs) {
        val lru = scopes.entrySet.iterator
        val victim = lru.next().getValue
        lru.remove()
        victim.values.forEach(e => free(e))
      }
      val fresh = new java.util.HashMap[String, Entry]()
      scopes.put((s, d), fresh)
      fresh
    }
  }

  // a stopped session's context can refuse the unpersist; its blocks
  // are gone with it
  private def free(e: Entry): Unit =
    try e.release() catch { case _: Exception => () }

  /** An entry holding `value` whose release frees `frames`: each
    * frame's cache entry and the checkpoint blocks its plan reads. A
    * build reads only its own dir's entries, and a dir is released
    * whole, so those blocks are never another live entry's. */
  def holding(value: Any, frames: DataFrame*): Entry = Entry(value, () =>
    frames.foreach { df =>
      df.unpersist(blocking = false)
      df.queryExecution.analyzed.foreach {
        case l: LogicalRDD => l.rdd.unpersist(blocking = false)
        case _ => ()
      }
    })

  /** A frame entry: `build` eagerly persisted, counted and, when small,
    * stored as a right-sized flat checkpoint. */
  def cacheOnce(s: SparkSession, d: String, name: String)(
      build: => DataFrame): DataFrame =
    memo[DataFrame](s, d, name) {
      val df = checkpointed(s, build)
      holding(df, df)
    }

  /** The cacheOnce materialization (persist → measure → right-size →
    * maybe-checkpoint). */
  private def checkpointed(s: SparkSession, build: => DataFrame): DataFrame = {
    // Cluster-deployment switch: localCheckpoint truncates lineage,
    // so on a real multi-executor cluster an executor loss makes the
    // flat memo unrecoverable mid-query. spark.graft.durableFixpoints
    // keeps the lineage-bearing persist with 2x block replication —
    // an executor loss is then served from the replica (or, worst
    // case, recomputed from the intact lineage) instead of failing
    // the query. The single-JVM harness keeps the flat layout: there
    // is no executor to lose and the plan-string tax is real.
    val durable =
      try s.conf.get("spark.graft.durableFixpoints", "false").toBoolean
      catch { case _: Throwable => false }
    // Materialize NOW, not at the first consumer's action: a lazily
    // persisted store carries estimate statistics until something
    // runs it, so the first consumer's join strategy (SMJ on the big
    // estimate) differs from every later consumer's (broadcast on
    // the measured small size) — plans must not depend on which
    // consumer planned first. Eager count() pins every consumer to
    // the measured-stats plan, which is also the bench's warm state.
    val df =
      if (durable) build.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_2)
      else build.persist()
    val n = df.count()
    // Right-size the cached layout from the MEASURED row count: a
    // fixpoint built under the session shuffle width caches at that
    // width no matter how tiny it measured (Spark's AQE skips
    // persisted plans by default), and the iterative tier then
    // re-scans e.g. a ~20k-row edge cache as 64+ map tasks per
    // round. Rows — not bytes — drive the target width so a small
    // frame whose CONSUMERS are compute-heavy per row keeps its
    // parallelism (a global canChangeCachedPlanOutputPartitioning
    // A/B coalesced by bytes and serialized q_sim_hardneg /
    // q_ml_kfold; rejected). coalesce() is a narrow merge of cached
    // partitions, so the re-cache costs one cheap pass at warm time;
    // at production scale n is large and the layout is untouched.
    // The TARGET uses ONLY (n, session width) — never the build's
    // actual partition count, which jitters with AQE's runtime
    // coalescing and would make consumer plans (and the PlanGuard
    // snapshot) nondeterministic run-to-run. r18: a build that came
    // out NARROWER than the target (single-row-group scan through
    // narrow ops → 1 partition; 24 of 55 warm fixpoints at sf0.1)
    // used to stay narrow — coalesce can only merge — serializing
    // every consumer's re-scan on one core. It now REPARTITIONS up
    // to the target (one keyless shuffle at warm time over a ≤2M-row
    // frame), so the cached width is exactly `target` either way —
    // deterministic, and consumers fan out. Consumer arithmetic is
    // partition-order-free by the house rule (integer-quantized
    // sums); row-level results are unaffected.
    val sessW = math.max(1,
      s.conf.get("spark.sql.shuffle.partitions").toInt)
    val target = math.max(1L, math.min(sessW.toLong,
      (n + rowsPerCachedPartition - 1) / rowsPerCachedPartition)).toInt
    if (!durable && n <= 2000000L && target < sessW) {
      // Eager localCheckpoint, not a second persist: the memoized
      // frame becomes a FLAT LogicalRDD leaf. A persisted narrow
      // copy nests the wide InMemoryRelation inside the narrow one,
      // and since fixpoints stack (und inside oriented inside
      // tricorners ...), plan TREES grew exponentially with depth —
      // every execution then pays a full-tree stringification +
      // SparkPlanInfo walk in SQLExecution's listener event, which
      // profiled as ~1 s of driver time on a 42-row cached count
      // (q_graph_triangles). The checkpoint stores the same rows as
      // RDD blocks, cuts the plan to one leaf, and frees the wide
      // copy. Consumers must hold this accessor's reference — a
      // consumer that re-builds the raw plan loses the shared
      // store and re-runs its lineage, which ScanCensusSpec catches
      // (it caught q_quality_classify; that query now consumes the
      // accessor).
      val shaped =
        if (df.rdd.getNumPartitions < target) df.repartition(target)
        else df.coalesce(target)
      val narrow = shaped.localCheckpoint()
      df.unpersist(blocking = false)
      narrow
    } else df
  }

  /** Compute-parallelism proxy for cacheOnce's right-sizing: enough
    * rows per cached partition that per-round re-scans stop paying
    * 32-64 task launches over grid-sized frames, small enough that a
    * ~60k-row vector frame still fans its per-row arithmetic across
    * the session's cores. */
  private val rowsPerCachedPartition = 2048L

  /** The warm list of a (session, dir), in the order Bench runs it:
    * the tables, the load-step layouts, then the shared fixpoints
    * tier by tier. Each step reads accessors; reading an entry builds
    * it, and a build does its work eagerly. */
  val warmSteps: Seq[(String, (SparkSession, String) => Unit)] = {
    import ops._
    def step(name: String)(read: (SparkSession, String) => Any) =
      name -> ((s: SparkSession, d: String) => { read(s, d); () })
    Seq(
      // The first read of a table lists its parquet footer, which can
      // submit a small Spark job, and a Bench build that merely
      // happened to be the first reader of a cold table was classified
      // as job-running and exiled from the prepared path (r15:
      // q_join_broadcast and q_agg_rollup read `region` first).
      step("tables")((s, d) => Tables.names.foreach(Tables.t(s, d, _))),
      // The co-located layout and the format round-trip dirs are load
      // steps a real deployment does once, so q_join_bucketed times
      // the shuffle-free join and the q_scan_* ids time the read.
      step("bucket tables")(Scale.bucketTables),
      step("format fixtures")(Extras.fixtures),
      step("dedup fixpoints") { (s, d) =>
        Dedup.nearComponents(s, d) // builds minhashWithSets, nearPairs
        Dedup.simhashTable(s, d); Dedup.bigrams(s, d)
      },
      step("graph fixpoints") { (s, d) =>
        Insights.undirectedLinkEdges(s, d)
        Insights.directedEdgesOutdeg(s, d) // builds directedDistinctEdges
        Insights.labelPropLabels(s, d); Insights.linkDegrees(s, d)
        Insights.closedTriangles(s, d); Insights.wedgePairStats(s, d)
      },
      step("graph peels")((s, d) =>
        Seq(3, 5).foreach(GraphScores.peel(s, d, _))),
      step("day grid")(Series.dailyRevenue),
      step("anchor nn") { (s, d) =>
        Vector.labelAnchorNn3(s, d)
        Vector.pqLutShared(s, d) // builds pqCodesShared
      },
      step("landmark bfs") { (s, d) =>
        Causal.landmarkBfs(s, d, Causal.lbfsMaxRounds)
        Causal.logregWeights(s, d)
      },
      step("bigram models") { (s, d) =>
        Corpus.bigramLqShared(s, d) // builds docBigrams and fullModel
        Corpus.genScore(s, d)
        Corpus.dsirLrFull(s, d); Corpus.dsirLrTrain(s, d) // dsirDocBuckets
      },
      step("mixture models")(Doremi.ownScore), // builds sourceModel
      step("curate stages")(TextOps.curateStages),
      step("quality scores")(Learn.qualityScores),
      step("kmeans cents")(Pipeline.kmeansFinalCents),
      step("phash frame")(Multimodal.phashFrame))
  }

  /** Run every warm step on (s, d), in order. Each step's time or
    * failure is printed on stderr under `tag` and returned; a failed
    * step does not stop the rest. */
  def warmAll(s: SparkSession, d: String, tag: String = "fixpoints")
      : Seq[(String, Either[String, Double])] = warmSteps.map {
    case (name, step) =>
      val t0 = System.nanoTime()
      try {
        step(s, d)
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[$tag] warmed $name in $sec%.1f s")
        name -> Right(sec)
      } catch { case e: Throwable =>
        System.err.println(s"[$tag] warm $name failed: ${e.getMessage}")
        name -> Left(e.getMessage)
      }
  }
}
