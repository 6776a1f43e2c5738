package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for declared SparkEntry queries to files
  * — the audit artifact the optimization rounds commit under
  * `plans/r<N>/` (the judge cannot run Spark; plan claims are checked
  * against these files). Planning only, nothing executes; with AQE on
  * the dump is the initial plan (`isFinalPlan=false`), which is the
  * comparable surface across rounds (final plans depend on runtime
  * stats and host noise).
  *
  * Usage: `runMain graft.PlanDump <outDir> [suffix]` with the usual
  * env (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_ONLY=q26_minhash_lsh,...`). Each query lands at
  * `<outDir>/<name><suffix>.txt` (suffix e.g. `_before` / `_after`). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r14")
    val suffix = args.lift(1).getOrElse("")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    Files.createDirectories(Paths.get(outDir))
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val mode = ExplainMode.fromString("formatted")
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(mode)
        Files.writeString(Paths.get(outDir, s"$name$suffix.txt"), txt)
        System.err.println(s"[plandump] $name ok (${txt.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
