package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    // Failures must be LOUD: a throwing query used to leave only a stderr
    // line, the driver omitted the row, and dark queries went unnoticed
    // for whole rounds. Collect name→error and dump _errors.json so the
    // round artifacts show every query that produced no result.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // SPARK_GRAFT_ONLY=q94_kmeans → dump just those (iteration aid, same
    // contract as Bench's); the driver never sets it, so round artifacts
    // always carry the full sweep
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // SPARK_GRAFT_EXPLAIN=1: dump the formatted physical plan per query
        // (plan-audit aid — check PushedFilters/PartitionFilters/codegen
        // spans without touching the query code)
        if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) {
          System.err.println(s"===== plan: $name =====")
          System.err.println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        errors(name) =
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(2000)
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
