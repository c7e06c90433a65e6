package graft
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // Per-query timeout: one pathological query must not eat the whole
    // correctness gate; a timed-out query alone reports as failed.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "300").toLong
    val guard = new QueryGuard(spark, timeoutSec, "verify")
    // local-iteration subset, as in Bench
    val selected = QueryGuard.select(QueryGuard.only(sys.env.get("SPARK_GRAFT_ONLY")))
    val statuses = selected.map { case (name, fn) =>
      val outcome = guard.run(name, s"verify-$name") {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      name -> (outcome match {
        case _: QueryGuard.Ok => "ok"
        case _: QueryGuard.Timeout => s"timeout after ${timeoutSec}s"
        case QueryGuard.Error(_, msg) => s"error: $msg"
      })
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // per-query dump status, so a truncated driver log can never hide
    // which queries wrote their parquet and which died or timed out.
    // NOT in outDir: the correctness compare treats every outDir entry as
    // a query result, so the summary lives under target/ instead.
    val summary = statuses
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    val sumPath = Paths.get("target/verify_summary.json")
    if (sumPath.getParent != null) Files.createDirectories(sumPath.getParent)
    Files.writeString(sumPath, summary)
    spark.stop()
  }
}
