package graft

/** Pins the bench's prepared-frame honesty guard (Bench.classifyBuilds):
  * a builder that launches NO Spark job is a pure plan and may be
  * memoized across timing passes; a builder that runs ANY job did real
  * per-execution data work and must rebuild every pass — memoizing it
  * would serve pass 2 a precomputed result. A regression here silently
  * corrupts the official bench record, so the classification itself is
  * under test, not just eyeballed in the bench log. */
class BenchClassifySpec extends SparkSuite {
  import org.apache.spark.sql.DataFrame

  test("pure-plan builders are memoized; job-running builders are not") {
    var pureCalls = 0
    var eagerCalls = 0
    val entries = Seq[(String, () => DataFrame)](
      "pure" -> (() => { pureCalls += 1; spark.range(10).toDF("id") }),
      "eager" -> (() => {
        eagerCalls += 1
        // an action inside the build — the doremi/sink pattern
        val n = spark.range(1000).selectExpr("sum(id)").collect()(0)
        spark.range(10).filter(s"id < $n").toDF()
      }),
      "throws" -> (() => sys.error("broken builder")))
    val (memo, dirty) = Bench.classifyBuilds(spark, entries)
    assert(memo.keySet === Set("pure"),
      s"only the job-free builder may be memoized, got ${memo.keySet}")
    assert(dirty === Set("eager"),
      s"the action-running builder must rebuild per pass, got $dirty")
    assert(pureCalls === 1 && eagerCalls === 1)
    assert(memo("pure").count() === 10L)
  }

  test("a builder whose jobs run on a side thread is still caught") {
    // broadcast/AQE materialization runs on threads spawned under the
    // build — SparkContext.localProperties is an InheritableThreadLocal
    // (and Spark's exec pools re-capture it explicitly), so a child
    // thread's jobs carry the build attribution without any plumbing
    val entries = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "sidethread" -> (() => {
        val t = new Thread(() =>
          spark.range(500).selectExpr("max(id)").collect())
        t.start(); t.join()
        spark.range(3).toDF("id")
      }))
    val (memo, dirty) = Bench.classifyBuilds(spark, entries)
    assert(dirty === Set("sidethread") && memo.isEmpty)
  }

  test("classification survives a multi-second listener-bus backlog") {
    // r14 judge finding #2: the old fixed Thread.sleep(1000) settle
    // could be outlasted by a backlogged bus, misclassifying a
    // job-running builder as pure. Manufacture a >2 s backlog — a slow
    // listener on the shared queue chewing 30 posted events at ~80 ms
    // each — then classify an eager builder. The deterministic
    // waitUntilEmpty drain must still see its JobStart.
    case class StallEvent() extends org.apache.spark.scheduler.SparkListenerEvent
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case StallEvent() => Thread.sleep(80)
        case _            => ()
      }
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      (1 to 30).foreach(_ => org.apache.spark.sql.graftbridge.Bridge
        .postListenerEvent(spark, StallEvent()))
      val entries = Seq[(String, () => DataFrame)](
        "eager" -> (() => {
          spark.range(200).selectExpr("sum(id)").collect()
          spark.range(5).toDF("id")
        }))
      val (memo, dirty) = Bench.classifyBuilds(spark, entries)
      assert(dirty === Set("eager") && memo.isEmpty,
        "a bus backlog must not let a job-running builder be memoized")
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  test("sweep charges a throwing query its time AND marks it red") {
    val entries = Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
      "q_ok" -> ((s, _) => s.range(10).toDF("id")),
      "q_boom" -> ((_, _) => sys.error("deliberate build failure")))
    val (times, errs, compiles) =
      Bench.sweep(spark, "unused", entries, Map.empty)
    assert(errs === Set("q_boom"),
      "a throwing query must surface in the error set, not read as fast")
    assert(times.keySet === Set("q_ok", "q_boom"),
      "the failed query stays in the timing map so totals stay comparable")
    assert(compiles.keySet === times.keySet && compiles.values.forall(_ >= 0))
  }
}
