package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Usage:
  *   Verify <sfDir> <outDir> [id ...]
  * With ids it runs only those, in the order given, and writes only
  * their oracles, so `tools/check.py <sfDir> <outDir>` checks just them.
  * Each id's seconds go to stderr; the run ends with one JSON line on
  * stdout: the wall time from session open to the last write, `n` and
  * the failed ids. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val ids = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq
    val t0 = System.nanoTime()
    val spark =
      Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = ids.filterNot { name =>
      val t1 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
          .mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ${(System.nanoTime() - t1) / 1e9}%.2f s")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        false
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Oracles that need a literal file path (e.g. parquet metadata
    // functions) carry a __SF_DIR__ placeholder: substitute the actual
    // data dir so the oracle follows the verify scale instead of
    // pinning one hardcoded SF.
    val json = ids.distinct.flatMap(k => SparkEntry.oracleSql.get(k).map(v =>
        s"${q(k)}: ${q(v.replace("__SF_DIR__", sfDir))}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"""{"wall_s": $wall%.2f, "n": ${ids.size}, "failed": """ +
      failed.map(q).mkString("[", ", ", "]}"))
    spark.stop()
  }
}
