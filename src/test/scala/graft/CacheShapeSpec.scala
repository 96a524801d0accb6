package graft

/** Pins the round-13 shared-fixpoint memo layout: cacheOnce memoizes a
  * SMALL (row-measured) fixpoint as an eager localCheckpoint — one
  * flat LogicalRDD leaf — never as a persisted plan whose
  * InMemoryRelation re-prints its whole child tree. The layout is
  * load-bearing twice over: every SQL execution stringifies its plan
  * for the listener event (nested cached plans grew that walk
  * exponentially with fixpoint stacking — profiled at ~1 s of driver
  * time on a 42-row cached count), and the checkpoint right-sizes the
  * partition count from the MEASURED rows so per-round re-scans stop
  * paying session-width task fans over grid-sized frames. A regression
  * back to nested persist() would pass every value check and silently
  * re-tax the whole cached tier — this spec fails instead. It also pins
  * the registry's lifecycle: a dir released, past the bound or on
  * request, frees every entry at once (blocks, bucket tables, fixture
  * dirs, table reads) and rebuilds the same rows when read again; a
  * dir only read counts against the bound, and a drain's session clone
  * never enters; and its one materialization rule: an entry holds its
  * blocks when its build returns, so a warm list that only reads
  * accessors runs no job the second time. */
class CacheShapeSpec extends SparkSuite {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.graftbridge.Bridge
  import org.apache.spark.sql.execution.LogicalRDD

  private def leafOnly(df: DataFrame, what: String): Unit = {
    val plan = df.queryExecution.analyzed
    assert(plan.isInstanceOf[LogicalRDD],
      s"$what memo is not a flat LogicalRDD leaf — " +
        s"got:\n${plan.treeString.take(800)}")
  }

  test("small shared fixpoints memoize as flat checkpoint leaves") {
    // representative stack: und feeds oriented feeds tricorners — the
    // exact nesting chain whose cached-plan strings blew up
    leafOnly(ops.Insights.undirectedLinkEdges(spark, sf0), "und")
    leafOnly(ops.Insights.linkDegrees(spark, sf0), "unddeg")
    leafOnly(ops.Insights.closedTriangles(spark, sf0), "tricorners")
  }

  test("checkpointed memo width follows the measured row count") {
    val und = ops.Insights.undirectedLinkEdges(spark, sf0)
    val n = und.count()
    val sessW = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val expect = math.max(1L, math.min(sessW.toLong,
      (n + 2047) / 2048)).toInt
    val got = und.rdd.getNumPartitions
    // <= not ==: cacheOnce narrows via coalesce, which can only merge —
    // if AQE already built the frame below the formula's target the
    // memo is legitimately narrower than the formula says.
    assert(got >= 1 && got <= expect,
      s"und: $n rows cached as $got partitions, expected 1..$expect")
  }

  test("durableFixpoints routes the memo through replicated persist") {
    // Cluster switch: with spark.graft.durableFixpoints=true the memo
    // must keep its lineage (no checkpoint truncation — an executor
    // loss must be recomputable) and carry 2x block replication.
    spark.conf.set("spark.graft.durableFixpoints", "true")
    try {
      val df = Fixpoints.cacheOnce(spark, sf0, "cacheshape_durable") {
        spark.range(100).toDF("id")
      }
      assert(!df.queryExecution.analyzed.isInstanceOf[LogicalRDD],
        "durable memo must keep lineage, not truncate to a checkpoint")
      assert(df.storageLevel ===
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_2,
        s"durable memo persisted at ${df.storageLevel}")
      assert(df.count() === 100L)
    } finally spark.conf.unset("spark.graft.durableFixpoints")
  }

  /** RDD ids a memoized frame pins: its cached relation's blocks and
    * the checkpoint leaves its plan reads. */
  private def pinnedIds(df: DataFrame): Set[Int] = {
    val cached = df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cacheBuilder.cachedColumnBuffers.id
    }
    val leaves = df.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd.id
    }
    (cached ++ leaves).toSet
  }

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** sf0's tables under a path of their own, so its fixpoints share no
    * cached plan with sf0's. */
  private def copyOfSf0(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_fix_$name"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    Tables.names.foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf0/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    dir
  }

  test("a dir released past the bound frees every entry's blocks") {
    // One more dir than the bound allows: the first dir is then the
    // least recently used, and its entries of every kind (checkpoint
    // leaves, eager and lazy persists, per-round checkpoints) must
    // leave the block manager at once, not on a timer.
    val dir = copyOfSf0("fixpoints_bound")
    val frames = Seq(
      ops.Insights.undirectedLinkEdges(spark, dir),
      ops.Dedup.minhashWithSets(spark, dir),
      ops.Dedup.nearPairs(spark, dir),
      ops.Dedup.nearComponents(spark, dir),
      ops.Dedup.simhashTable(spark, dir),
      ops.Vector.labelAnchorNn3(spark, dir),
      ops.Causal.landmarkBfs(spark, dir, 6))
    frames.foreach(_.count())
    val ids = frames.flatMap(pinnedIds).toSet
    assert(ids.size >= frames.size && ids.subsetOf(persistentIds),
      s"entries should pin their blocks: $ids")
    (1 to Fixpoints.MaxDirs).foreach { i =>
      Fixpoints.cacheOnce(spark, s"/fixpoints_bound_$i", "probe") {
        spark.range(5).toDF("id")
      }
    }
    val left = ids.intersect(persistentIds)
    assert(left.isEmpty, s"evicted dir still pins rdds ${left.toSeq.sorted}")
    // the dirs inside the bound keep theirs
    val hot = Fixpoints.cacheOnce(spark, s"/fixpoints_bound_1", "probe") {
      sys.error("must be served from the registry")
    }
    assert(hot.count() === 5L)
    (1 to Fixpoints.MaxDirs).foreach(i =>
      Fixpoints.release(spark, s"/fixpoints_bound_$i"))
  }

  test("after release(s, dir) a read rebuilds the same rows") {
    // every entry kind of the dir's working set: tables, the bucketed
    // layout, the format fixtures and materialized fixpoints
    val dir = copyOfSf0("fixpoints_release")
    val warm = Fixpoints.warmAll(spark, dir)
    assert(warm.forall(_._2.isRight), s"warm steps failed: $warm")
    def read() = Seq(
      ops.Insights.undirectedLinkEdges(spark, dir),
      ops.Dedup.simhashTable(spark, dir),
      ops.Dedup.nearPairs(spark, dir),
      q("q_join_bucketed", dir),
      q("q_scan_csv", dir))
    def rows(dfs: Seq[DataFrame]) =
      dfs.map(_.collect().map(_.toString).sorted.toSeq)
    val first = read()
    val want = rows(first)
    val ids = first.flatMap(pinnedIds).toSet
    val orders = Tables.t(spark, dir, "orders")
    val (bo, bli) = ops.Scale.bucketTables(spark, dir)
    val fixtures = ops.Extras.fixtures(spark, dir)
    assert(spark.catalog.tableExists(bo) && spark.catalog.tableExists(bli))
    assert(fixtures.forall(f => new java.io.File(f).exists))
    Fixpoints.release(spark, dir)
    assert(ids.intersect(persistentIds).isEmpty,
      "release must free the dir's blocks")
    assert(!spark.catalog.tableExists(bo) && !spark.catalog.tableExists(bli),
      s"release must drop the bucket tables $bo, $bli")
    val kept = fixtures.filter(f => new java.io.File(f).exists)
    assert(kept.isEmpty, s"release must delete the fixture dirs: $kept")
    assert(Tables.t(spark, dir, "orders") ne orders,
      "a released table entry must be read again")
    val again = read()
    assert(again.flatMap(pinnedIds).toSet.intersect(ids).isEmpty,
      "a released entry must be rebuilt, not resurrected")
    assert(rows(again) === want)
    Fixpoints.release(spark, dir)
  }

  test("a dir whose tables are only read counts against the bound") {
    val dir = copyOfSf0("fixpoints_read_bound")
    val und = ops.Insights.undirectedLinkEdges(spark, dir)
    val ids = pinnedIds(und)
    assert(ids.nonEmpty && ids.subsetOf(persistentIds),
      s"the entry should pin its blocks: $ids")
    val readOnly = (1 to Fixpoints.MaxDirs)
      .map(i => copyOfSf0(s"fixpoints_read_bound_$i"))
    readOnly.foreach(Tables.t(spark, _, "region"))
    val left = ids.intersect(persistentIds)
    assert(left.isEmpty, s"evicted dir still pins rdds ${left.toSeq.sorted}")
    readOnly.foreach(Fixpoints.release(spark, _))
  }

  test("a stream drain's session clone never enters the working sets") {
    // each q_stream_decontaminate micro-batch runs in a clone of the
    // caller's session; if the clone entered the registry, MaxDirs + 1
    // drains would evict the caller's own dir
    val und = ops.Insights.undirectedLinkEdges(spark, sf0)
    (0 to Fixpoints.MaxDirs).foreach(_ =>
      q("q_stream_decontaminate").collect())
    val hot = ops.Insights.undirectedLinkEdges(spark, sf0)
    assert(hot eq und, "sf0's entry was released by the drains")
  }

  test("a second warmAll on the same dir launches no Spark job") {
    // every entry is materialized by its build, so the warm list only
    // reads accessors: once built, a warm step is registry lookups
    val dir = copyOfSf0("fixpoints_warm_twice")
    val first = Fixpoints.warmAll(spark, dir)
    assert(first.forall(_._2.isRight), s"warm steps failed: $first")
    Bridge.flushListenerBus(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val lsn = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(lsn)
    try {
      Fixpoints.warmAll(spark, dir)
      assert(Bridge.flushListenerBus(spark), "listener bus did not drain")
    } finally spark.sparkContext.removeSparkListener(lsn)
    Fixpoints.release(spark, dir)
    assert(jobs.get === 0, s"a second warmAll launched ${jobs.get} jobs")
  }

  test("the day grid, anchor-NN and peel entries hold blocks when built") {
    val dir = copyOfSf0("fixpoints_eager")
    def cachedIds = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(_.id).toSet
    val unfilled = Seq(
      "daygrid" -> Seq(ops.Series.dailyRevenue(spark, dir)),
      "anchornn3" -> Seq(ops.Vector.labelAnchorNn3(spark, dir)),
      "peel3" -> ops.GraphScores.peel(spark, dir, 3)
        .flatMap { case (alive, edges) => Seq(alive, edges) }
    ).map { case (name, frames) =>
      val ids = frames.flatMap(pinnedIds).toSet
      assert(ids.nonEmpty, s"$name pins no rdd")
      name -> (ids -- cachedIds).toSeq.sorted
    }.filter(_._2.nonEmpty)
    Fixpoints.release(spark, dir)
    assert(unfilled.isEmpty, s"entries returned before their rdds held " +
      s"blocks: $unfilled")
  }

  test("plan strings over stacked fixpoints stay leaf-sized") {
    // the regression signature was a 100 KB executedPlan string for a
    // trivial consumer of the deepest fixpoint; a flat store keeps it
    // in the low KBs
    val tri = ops.Insights.closedTriangles(spark, sf0)
    val s = tri.groupBy().count().queryExecution.executedPlan.toString
    assert(s.length < 20000,
      s"consumer plan string is ${s.length} chars — nested cache tree?")
  }
}
