package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one registry of shared fixpoints: intermediate tables that
  * several queries of one session reuse (link graphs, MinHash sets,
  * day grids, trained models, ...). Reuse across one session's
  * queries is the point; nothing here outlives what that needs.
  *
  *  - Keying: an entry is keyed by (session, dir, name). It is built
  *    once, by the first caller, and its value carries the action that
  *    frees what it pins.
  *  - Materialization stays with each entry's build: [[cacheOnce]]
  *    for the right-sized checkpoint layout, an eager or lazy
  *    `persist()` for the rest (see [[holding]]).
  *  - Bound: at most [[MaxDirs]] (session, dir) working sets are held.
  *    When a new one arrives past the bound, the least recently used
  *    OTHER working set is released, synchronously, under the registry
  *    lock. The dir being entered is never the victim, so fixpoints
  *    stacked inside one build never lose their inner entries.
  *    [[release]] frees one working set on request.
  *  - Warm list: [[warmSteps]] is the one named list of warm steps that
  *    builds every shared fixpoint of a dir ahead of its consumers. */
object Fixpoints {

  /** A memoized value and the action that frees what it pins. */
  final case class Entry(value: Any, release: () => Unit)

  /** Most (session, dir) working sets held at once. Outside the
    * registry's own tests, the tier-1 test JVM enters 13 distinct dirs:
    * sf0.001, to which it keeps coming back after at most 2 other dirs,
    * and 12 fixture dirs it never revisits. 3 is the smallest bound
    * under which none of its reads rebuilds a released dir. Bench,
    * Verify and perfbench read one dir per JVM, ScaleSmoke two. */
  val MaxDirs = 3

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

  /** The shared-fixpoint warm list, in the order Bench runs it. Each
    * step builds one tier's fixpoints of a (session, dir), so that a
    * query's time charges the operator itself and its plan reads the
    * stores, whichever query runs first. */
  val warmSteps: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "dedup fixpoints" -> ops.Dedup.warmShared,
    "graph fixpoints" -> ops.Insights.warmShared,
    "graph peels" -> ops.GraphScores.warmShared,
    "day grid" -> ops.Series.warmShared,
    "anchor nn" -> ops.Vector.warmShared,
    "landmark bfs" -> ops.Causal.warmShared,
    "bigram models" -> ops.Corpus.warmShared,
    "mixture models" -> ops.Doremi.warmShared,
    "curate stages" -> ops.TextOps.warmShared,
    "quality scores" -> ops.Learn.warmShared,
    "kmeans cents" -> ops.Pipeline.warmShared,
    "phash frame" -> ops.Multimodal.warmShared)

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
