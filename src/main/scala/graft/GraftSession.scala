package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session. Every main and the test session
  * call [[build]], so Verify checks plans under the same settings and
  * planner rules that Bench times and the serving path runs:
  *
  *  - `local[cpus]`, UTC session time zone, UI off, log level WARN;
  *  - at most [[RetainedExecutions]] finished SQL executions kept in the
  *    status store: with the UI off nothing reads them, yet Spark keeps
  *    the plan graph and metrics of up to 1,000 by default, which a
  *    long-running ingest session reaches;
  *  - µs-INT64 parquet timestamps (not INT96), so DuckDB oracles read the
  *    type they produce themselves;
  *  - `nanosAsLong`: nanosecond parquet timestamps read as raw longs,
  *    session-wide from the start, which [[graft.tables.Tables.events]]
  *    converts exactly;
  *  - the planner rules through [[graft.plans.GraftExtensions]];
  *  - [[Autotune.install]] on the same `cpus`.
  */
object GraftSession {

  /** Task slots: `SPARK_GRAFT_CPUS` when set, else the host's cores. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Autotune.detectHost().cores)

  /** Finished SQL executions the session's status store keeps. */
  val RetainedExecutions = 20

  def build(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", RetainedExecutions.toLong)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Autotune.install(spark, cpus)
    spark
  }
}
