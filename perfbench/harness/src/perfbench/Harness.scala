package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run in one fresh JVM: set up a local[cores] session on
  * the input directory, then run whole rounds of a fixed id list from one
  * closed-loop client. Warm mode runs two untimed sweeps of the ids, then
  * rounds until the time budget is spent. Cold mode runs exactly one
  * round with no warm-up: a later round in the same JVM would run on
  * JIT-compiled code, and with a fresh session it would be a different
  * measurement from the first. Each
  * operation is the registry fn plus `collect()` of its complete result
  * rows. The program is touched only from outside: registry fns,
  * `Tables.t`, the public warm steps, and Spark's public observers in
  * the traced mode.
  *
  * Arguments (all `--key value`):
  *   --data DIR      input tables        --ids a,b,c   the round's ids
  *   --seconds S     timed budget        --cores N     local[N]
  *   --mode M        warm | cold         --trace 0|1
  *   --launch-ms T   epoch ms at JVM launch (for setup_s)
  *   --out DIR       result parquet + metrics.json land here
  *   --spans FILE    traced run: span JSONL written here at the end
  * or `--dump-oracle FILE` alone: write the registry's oracle SQL. */
object Harness {

  final case class OpRec(id: String, round: Int, startMs: Long,
      endMs: Long, wallS: Double, buildS: Double, ok: Boolean,
      err: String)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    a.get("dump-oracle") match {
      case Some(f) => dumpOracle(f)
      case None    => run(a)
    }
  }

  private def dumpOracle(file: String): Unit = {
    val m = graft.SparkEntry.oracleSql
    val ids = graft.SparkEntry.queries.keySet
    val json = m.filter { case (k, _) => ids(k) }.toSeq.sortBy(_._1)
      .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
      .mkString("{", ",\n", "}")
    Files.write(Paths.get(file), json.getBytes(UTF_8))
  }

  private def run(a: Map[String, String]): Unit = {
    val dir = a("data")
    val ids = a("ids").split(",").toSeq
    val seconds = a("seconds").toDouble
    val cores = a("cores").toInt
    val cold = a("mode") == "cold"
    val traced = a.getOrElse("trace", "0") == "1"
    val out = a("out")
    val launchMs = a("launch-ms").toLong
    val registry = graft.SparkEntry.queries
    ids.foreach(i => require(registry.contains(i), s"unknown id $i"))

    val spans = new Spans(traced)
    val runSpan = spans.open("run", 0)
    val setupSpan = spans.open("setup", runSpan)
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    base.sparkContext.setLogLevel("ERROR")
    val tracer = if (traced) Some(new Tracer(base)) else None

    val tablesSpan = spans.open("tables.load", setupSpan)
    graft.Tables.names.foreach(n => graft.Tables.t(base, dir, n))
    val tablesLoadS = spans.close(tablesSpan)

    val reference = mutable.Map[String, Array[Row]]()
    val schemas = mutable.Map[String, org.apache.spark.sql.types.StructType]()
    val ops = mutable.ArrayBuffer[OpRec]()

    def runOp(s: SparkSession, id: String, round: Int, parent: Int,
        keep: Boolean): OpRec = {
      val sc = s.sparkContext
      val opSpan = spans.open(s"op:$id", parent)
      val key = s"$round:$id"
      sc.setLocalProperty("perfbench.op", key)
      tracer.foreach(_.beforeOp(key))
      val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      var tb = t0
      var df: DataFrame = null
      val res = try {
        sc.setLocalProperty("perfbench.phase", "build")
        val b = spans.open("build", opSpan)
        df = registry(id)(s, dir)
        spans.close(b)
        tb = System.nanoTime()
        sc.setLocalProperty("perfbench.phase", "exec")
        val e = spans.open("collect", opSpan)
        val rows = df.collect()
        spans.close(e)
        Right(rows)
      } catch {
        case scala.util.control.NonFatal(e) => Left(e.toString)
      } finally {
        sc.setLocalProperty("perfbench.phase", null)
        sc.setLocalProperty("perfbench.op", null)
      }
      val t1 = System.nanoTime(); val m1 = System.currentTimeMillis()
      spans.close(opSpan)
      val buildS = ((if (res.isRight) tb else t1) - t0) / 1e9
      tracer.foreach(_.afterOp(key, df, res.isRight))
      val rec = res match {
        case Right(rows) =>
          if (keep) {
            reference(id) = rows; schemas(id) = df.schema; true
          } else reference.get(id).exists(sameRows(_, rows))
        case Left(_) => false
      }
      OpRec(id, round, m0, m1, (t1 - t0) / 1e9, buildS, rec,
        res.left.toOption.getOrElse(if (rec) "" else "result differs " +
          "from the first round"))
    }

    if (!cold) {
      // after one sweep the rounds still sped up by ~40% as the JIT worked
      val w = spans.open("warmup", setupSpan)
      for (_ <- 1 to 2) ids.foreach(id => runOp(base, id, -1, w, keep = false))
      spans.close(w)
    }
    spans.close(setupSpan)

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val roundWall = mutable.ArrayBuffer[Double]()
    val roundCpu = mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val firstOpMs = System.currentTimeMillis()
    val cpu0 = os.getProcessCpuTime; val gc0 = gcMs
    val jit0 = jit.getTotalCompilationTime
    var round = 0
    while (round == 0 || (!cold && System.nanoTime() < deadline)) {
      val rs = spans.open(s"round:$round", runSpan)
      val c0 = os.getProcessCpuTime; val t0 = System.nanoTime()
      ids.foreach(id => ops += runOp(base, id, round, rs, round == 0))
      roundWall += (System.nanoTime() - t0) / 1e9
      roundCpu += (os.getProcessCpuTime - c0) / 1e9
      spans.close(rs)
      round += 1
    }
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val jvmGcS = (gcMs - gc0) / 1e3
    val jvmJitS = (jit.getTotalCompilationTime - jit0) / 1e3
    val rssMb = vmHwmMb()
    spans.close(runSpan)

    // result rows of the first round, for the oracle compare (untimed)
    Files.createDirectories(Paths.get(out, "results"))
    reference.foreach { case (id, rows) =>
      base.createDataFrame(rows.toSeq.asJava, schemas(id)).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/results/$id")
    }

    val layers = tracer.map(_.finish(ops.toSeq, round, tablesLoadS,
      jvmGcS, jvmJitS, spans)).getOrElse(Map.empty)
    a.get("spans").foreach(f =>
      spans.write(f, tracer.map(_.opRows.toSeq).getOrElse(Seq.empty)))

    val sb = new StringBuilder("{")
    sb ++= s""""setup_s":${(firstOpMs - launchMs) / 1e3},"rounds":$round,"""
    sb ++= s""""round_wall_s":${roundWall.mkString("[", ",", "]")},"""
    sb ++= s""""round_cpu_s":${roundCpu.mkString("[", ",", "]")},"""
    sb ++= s""""cpu_s":$cpuS,"rss_peak_mb":$rssMb,"""
    sb ++= s""""layers":${layers.map { case (k, v) =>
      Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")},"""
    sb ++= ops.map(o => s"""{"id":${Json.str(o.id)},"round":${o.round},""" +
      s""""wall_s":${o.wallS},"build_s":${o.buildS},"ok":${o.ok},""" +
      s""""err":${Json.str(o.err)}}""").mkString("\"ops\":[", ",\n", "]}")
    Files.write(Paths.get(out, "metrics.json"), sb.toString.getBytes(UTF_8))
    base.stop()
  }

  /** Row-for-row equality; doubles compare exactly (NaN equals NaN). */
  private def sameRows(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.indices.forall(i => a(i) == b(i))

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}
