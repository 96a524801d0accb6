package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans: name, start, end and parent. Durations are always
  * measured; spans are kept only in a traced run and written as JSONL
  * when the run ends. */
final class Spans(keep: Boolean) {
  private final case class S(id: Int, name: String, parent: Int,
      start: Long, var end: Long)
  private val open0 = mutable.Map[Int, S]()
  private val done = mutable.ArrayBuffer[S]()
  private val extra = mutable.ArrayBuffer[String]()
  private var next = 1

  /** Open a span under `parent` (0 = root); returns its id. */
  def open(name: String, parent: Int): Int = {
    val id = next; next += 1
    open0(id) = S(id, name, parent, System.nanoTime(), 0L)
    id
  }

  /** Close a span; returns its duration in seconds. */
  def close(id: Int): Double = {
    val s = open0.remove(id).get
    s.end = System.nanoTime()
    if (keep) done += s
    (s.end - s.start) / 1e9
  }

  /** Span recorded from a listener event (epoch-ms clock). */
  def addMs(name: String, parent: Int, startMs: Long, endMs: Long): Unit =
    if (keep) extra += s"""{"type":"span","name":${Json.str(name)},""" +
      s""""parent":$parent,"start_ms":$startMs,"end_ms":$endMs}"""

  /** Span id of the open-or-closed op span named `name` under a round. */
  def find(name: String, parent: Int): Int =
    done.find(s => s.name == name && s.parent == parent).map(_.id)
      .getOrElse(0)

  def roundId(round: Int): Int = find(s"round:$round", find("run", 0))

  def write(file: String, opRows: Seq[String]): Unit = {
    val lines = done.sortBy(_.start).map(s =>
      s"""{"type":"span","id":${s.id},"name":${Json.str(s.name)},""" +
        s""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}""")
    Files.write(Paths.get(file),
      (lines ++ extra ++ opRows).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Per-layer observers of a traced run: a SparkListener (jobs, stages,
  * tasks, shuffle, scan, spill), a StreamingQueryListener (micro-batch
  * progress), each op's `QueryExecution.tracker` phases and executed
  * plan, and the block manager's persisted RDDs. Events carry the op
  * through the `perfbench.op` local property. */
final class Tracer(base: SparkSession) {
  private final class Acc {
    var jobs, buildJobs, stages, tasks, shuffleRecords, inputRows = 0L
    var taskS, taskCpuS, slowestS, gcS = 0.0
    var shuffleWriteB, shuffleReadB, spillB, inputB = 0L
  }
  private final case class Job(key: String, start: Long, var end: Long)
  private final case class Progress(tsMs: Long, dur: Map[String, Long],
      rows: Long, stateRows: Long, runId: String)
  private final case class OpLocal(persists: Int, scanHits: Int,
      analysisS: Double, optimizationS: Double, planningS: Double,
      cachedMb: Double)

  private val accs = mutable.Map[String, Acc]()
  private val stageKey = mutable.Map[Int, String]()
  private val jobs = mutable.Map[Int, Job]()
  private val progress = mutable.ArrayBuffer[Progress]()
  private val local = mutable.Map[String, OpLocal]()
  private var persisted0: Set[Int] = Set.empty
  val opRows = mutable.ArrayBuffer[String]()

  private def acc(k: String) = accs.getOrElseUpdate(k, new Acc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val key = Option(e.properties).map(_.getProperty("perfbench.op"))
        .orNull
      if (key != null) {
        val a = acc(key)
        a.jobs += 1
        if ("build" == e.properties.getProperty("perfbench.phase"))
          a.buildJobs += 1
        e.stageIds.foreach(stageKey(_) = key)
        jobs(e.jobId) = Job(key, e.time, -1L)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageKey.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageKey.get(e.stageId).foreach { k =>
        val a = acc(k)
        a.tasks += 1
        val d = e.taskInfo.duration / 1e3
        a.taskS += d
        a.slowestS = math.max(a.slowestS, d)
        val m = e.taskMetrics
        if (m != null) {
          a.taskCpuS += m.executorCpuTime / 1e9
          a.gcS += m.jvmGCTime / 1e3
          a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          a.spillB += m.diskBytesSpilled
          a.inputB += m.inputMetrics.bytesRead
          a.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
  }
  base.sparkContext.addSparkListener(listener)

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(
        e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      progress += Progress(
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum, p.runId.toString)
    }
  }

  base.streams.addListener(streamListener)

  def beforeOp(key: String): Unit =
    persisted0 = base.sparkContext.getPersistentRDDs.keySet.toSet

  def afterOp(key: String, df: DataFrame, ok: Boolean): Unit = {
    val sc = base.sparkContext
    val persists = (sc.getPersistentRDDs.keySet.toSet -- persisted0).size
    val cachedMb = sc.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0
    var hits = 0; var an, opt, pl = 0.0
    if (df != null) {
      val qe = df.queryExecution
      val ph = qe.tracker.phases
      def ph_(n: String) = ph.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
      an = ph_("analysis"); opt = ph_("optimization"); pl = ph_("planning")
      if (ok) hits = PlanWalk.fixpointScans(qe.executedPlan)
    }
    local(key) = OpLocal(persists, hits, an, opt, pl, cachedMb)
  }

  /** Drain the listener bus, attribute everything to ops, write one row
    * per timed op, and return the per-layer metrics as per-round means
    * over the timed rounds. */
  def finish(ops: Seq[Harness.OpRec], rounds: Int, tablesLoadS: Double,
      jvmGcS: Double, jvmJitS: Double, spans: Spans): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.flush(base)
    base.sparkContext.removeSparkListener(listener)
    base.streams.removeListener(streamListener)
    val timed = ops.filter(_.round >= 0)
    val tot = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    var cachedMbPeak = 0.0
    synchronized {
      timed.foreach { o =>
        val key = s"${o.round}:${o.id}"
        val a = accs.getOrElse(key, new Acc)
        val l = local.getOrElse(key, OpLocal(0, 0, 0, 0, 0, 0))
        val ivs = jobs.values.filter(_.key == key).toSeq
          .map(j => (j.start, if (j.end < 0) o.endMs else j.end))
        val active = union(ivs) / 1e3
        val batches = progress.filter(p =>
          p.tsMs >= o.startMs && p.tsMs <= o.endMs)
        def dur(n: String) = batches.map(_.dur.getOrElse(n, 0L)).sum / 1e3
        val trig = dur("triggerExecution")
        val stateRows = batches.groupBy(_.runId).values
          .map(_.maxBy(_.tsMs).stateRows).sum
        val isStream = batches.nonEmpty
        val parent = spans.find(s"op:${o.id}", spans.roundId(o.round))
        ivs.foreach { case (s, e) => spans.addMs("job", parent, s, e) }
        batches.foreach(p => spans.addMs("stream.batch", parent, p.tsMs,
          p.tsMs + p.dur.getOrElse("triggerExecution", 0L)))
        val row = Seq(
          "build.s" -> o.buildS, "build.jobs" -> a.buildJobs.toDouble,
          "catalyst.analysis_s" -> l.analysisS,
          "catalyst.optimization_s" -> l.optimizationS,
          "catalyst.planning_s" -> l.planningS,
          "exec.jobs" -> a.jobs.toDouble, "exec.stages" -> a.stages.toDouble,
          "exec.tasks" -> a.tasks.toDouble, "exec.job_active_s" -> active,
          "exec.driver_idle_s" -> math.max(0.0, o.wallS - active),
          "exec.task_s" -> a.taskS, "exec.task_cpu_s" -> a.taskCpuS,
          "exec.slowest_task_s" -> a.slowestS, "exec.gc_s" -> a.gcS,
          "shuffle.write_mb" -> a.shuffleWriteB / 1048576.0,
          "shuffle.read_mb" -> a.shuffleReadB / 1048576.0,
          "shuffle.records" -> a.shuffleRecords.toDouble,
          "spill.mb" -> a.spillB / 1048576.0,
          "scan.input_mb" -> a.inputB / 1048576.0,
          "scan.input_rows" -> a.inputRows.toDouble,
          "fixpoint.persists" -> l.persists.toDouble,
          "fixpoint.scan_hits" -> l.scanHits.toDouble,
          "stream.batches" -> batches.size.toDouble,
          "stream.input_rows" -> batches.map(_.rows).sum.toDouble,
          "stream.trigger_s" -> trig,
          "stream.add_batch_s" -> dur("addBatch"),
          "stream.wal_commit_s" -> dur("walCommit"),
          "stream.planning_s" -> dur("queryPlanning"),
          "stream.lifecycle_s" ->
            (if (isStream) math.max(0.0, o.buildS - trig) else 0.0),
          "stream.state_rows" -> stateRows.toDouble)
        row.foreach { case (k, v) => tot(k) += v }
        cachedMbPeak = math.max(cachedMbPeak, l.cachedMb)
        opRows += (Seq("\"type\":\"op\"", s""""id":${Json.str(o.id)}""",
          s""""round":${o.round}""", s""""wall_s":${o.wallS}""",
          s""""ok":${o.ok}""", s""""fixpoint.cached_mb":${l.cachedMb}""") ++
          row.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" })
          .mkString("{", ",", "}")
      }
    }
    val r = math.max(1, rounds).toDouble
    tot.map { case (k, v) => k -> v / r }.toMap ++ Map(
      "tables.load_s" -> tablesLoadS,
      "fixpoint.cached_mb" -> cachedMbPeak,
      "jvm.gc_s" -> jvmGcS / r, "jvm.jit_s" -> jvmJitS / r)
  }

  /** Total length of the union of [start, end] intervals (ms). */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Fixpoint scans in an executed plan (AQE stages and subqueries
  * included): in-memory relation scans of persisted frames plus scans
  * of checkpointed RDDs. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def fixpointScans(p: SparkPlan): Int = collectWithSubqueries(p) {
    case s: InMemoryTableScanExec => s
    case s: RDDScanExec => s
  }.size
}
