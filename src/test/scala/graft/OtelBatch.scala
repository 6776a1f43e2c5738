package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** An `otel_logs_and_spans` insert batch shaped like perfbench's: the
  * columns the dashboard shapes read are set (four tenants, 16-hex-digit
  * ids, twelve span names), every other column is left for the table's
  * conform step to null-fill. Deterministic in `n`. */
object OtelBatch {
  def apply(spark: SparkSession, n: Int = 512): DataFrame = {
    val i = col("n")
    spark.range(n).toDF("n").select(
      format_string("tenant-%02d", i % 4).as("project_id"),
      (lit("2025-03-30 12:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, 0, 0, n)")).as("timestamp"),
      lpad(hex(xxhash64(i)), 16, "0").as("id"),
      format_string("GET /api/v1/endpoint-%02d", i % 12).as("name"),
      when(i % 2 === 0, "server").otherwise("client").as("kind"),
      when(i % 12 === 0, "ERROR").when(i % 7 === 0, "UNSET")
        .otherwise("OK").as("status_code"),
      when(i % 12 === 0, "error").when(i % 10 === 0, "warn")
        .otherwise("info").as("level"),
      (pmod(xxhash64(i, lit(1)), lit(1000000L)) + 22000L).as("duration"),
      element_at(array(lit("api"), lit("worker"), lit("gateway"),
        lit("billing")), (i % 4 + 1).cast("int")).as("resource___service___name"),
      array().cast("array<string>").as("hashes"))
  }
}
