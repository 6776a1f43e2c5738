package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Width

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All query entry points take a scale-factor directory and read the
  * parquet directly — filters/projections push down to the vectorized
  * parquet scan, so no caching or materialization happens here.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` has shipped at two precisions across testdata
    * generations: nanosecond (which Spark's reader only surfaces as a
    * raw long via the legacy `nanosAsLong` conf, set once for the whole
    * session by [[graft.GraftSession.build]]) and microsecond TIMESTAMP_NTZ
    * (isAdjustedToUTC=false, read natively). Dispatch on the loaded
    * dtype so both generations work: a LongType `ts` is legacy nanos
    * and gets the exact `div 1000` truncation (same as DuckDB's
    * TIMESTAMP_NS → TIMESTAMP cast); a timestamp `ts` passes through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.parquet(s"$d/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions
            .expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case org.apache.spark.sql.types.TimestampNTZType => raw
      // NO silent catch-all: a tz-adjusted TIMESTAMP generation would
      // shift values against DuckDB's naive-µs oracle under any non-UTC
      // session — fail loudly so the bad generation is visible
      case other => throw new IllegalStateException(
        s"events.ts must be legacy-nanos LONG or TIMESTAMP_NTZ, got $other")
    }
  }
  /** The two training-pipeline corpora, fanned out to kernel width before
    * their compute-heavy per-document consumers (minhash
    * signatures, fingerprints, simhash, quality scores): each fixture
    * file is one parquet row group, so without this every such stage runs
    * on ONE core. One narrow shuffle of (id, text) / (id, vector). */
  def documents(s: SparkSession, d: String): DataFrame =
    Width.keyed(table(s, d, "documents"), Width.kernel(s))
  def embeddings(s: SparkSession, d: String): DataFrame =
    Width.keyed(table(s, d, "embeddings"), Width.kernel(s))
}
