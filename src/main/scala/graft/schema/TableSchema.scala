package graft.schema

import org.apache.spark.sql.types._

/** Sort key declaration for flush-time file ordering
  * (reference `schemas/otel_logs_and_spans.yaml:52-67`). */
case class SortKey(column: String, descending: Boolean = false,
    nullsFirst: Boolean = false)

/** Table-level metadata driving the merge-on-read contract — the Spark
  * rendering of the reference's `TableSchema`
  * (`/root/reference/src/schema_loader.rs:15-113`):
  *
  *  - `partitions`: tenant key + day ([project_id, date]); maps to parquet
  *    directory partitioning so multi-tenant scans prune to one tenant's
  *    files before any IO;
  *  - `dedupKeys` + `dedupTiebreak`: last-write-wins row identity — readers
  *    resolve versions with keep-greatest-by-tiebreak;
  *  - `tombstoneColumn`: merge-on-read delete marker;
  *  - `versionAppend`: UPDATE/DELETE append new row versions instead of
  *    rewriting files (`otel_logs_and_spans.yaml:27-41`);
  *  - `sortingColumns`: flush-time sort so files advertise a useful order
  *    (`timestamp DESC` lead key → recent-page top-k reads stop early).
  */
case class TableSchema(
    name: String,
    schema: StructType,
    partitions: Seq[String] = Seq("project_id", "date"),
    timeColumn: String = "timestamp",
    dedupKeys: Seq[String] = Seq("timestamp", "id"),
    dedupTiebreak: String = "updated_at",
    tombstoneColumn: Option[String] = Some("deleted"),
    versionAppend: Boolean = true,
    sortingColumns: Seq[SortKey] = Seq(
      SortKey("timestamp", descending = true, nullsFirst = true),
      SortKey("id")),
    zOrderColumns: Seq[String] = Seq.empty,
    // per-field writer options from the schema YAML (reference
    // otel_logs_and_spans.yaml:85-101, writer at src/database.rs:11343+):
    // bloom filters opt-IN on point-lookup columns, dictionary opt-OUT on
    // high-entropy free-text. parquet writes no bloom for a column chunk
    // whose pages are all dictionary-encoded (its dictionary answers the
    // lookup), so a listed low-cardinality column gets none in such files
    bloomFilterColumns: Seq[String] = Seq.empty,
    dictionaryDisabledColumns: Seq[String] = Seq.empty,
    // per-field FTS tokenizer (reference `tantivy: {tokenizer: …}` options,
    // otel_logs_and_spans.yaml:87-131): "ngram3" (substring prefilter,
    // the default) or "raw" (whole-value terms — point-lookup fields like
    // id/kind/level, which must NOT trigram-expand)
    ftsTokenizers: Map[String, String] = Map.empty) {
  require(partitions.forall(c => schema.fieldNames.contains(c) || c == "date"),
    s"partition columns must exist in schema (or be the derived 'date'): $partitions")
}

object TableSchemas {
  /** The reference's primary table, reduced to the columns its test corpus
    * touches (`schemas/otel_logs_and_spans.yaml`; full table is 89 columns —
    * the extra flattened-semconv strings add nothing structurally).
    * Variant columns are Spark 4 `VariantType`.
    */
  val otelLogsAndSpans: TableSchema = TableSchema(
    name = "otel_logs_and_spans",
    schema = StructType(Seq(
      StructField("project_id", StringType, nullable = true),
      StructField("date", DateType, nullable = true),
      StructField("timestamp", TimestampNTZType, nullable = false),
      StructField("id", StringType, nullable = false),
      StructField("parent_id", StringType),
      StructField("name", StringType),
      StructField("kind", StringType),
      StructField("status_code", StringType),
      StructField("status_message", StringType),
      StructField("level", StringType),
      StructField("duration", LongType),
      StructField("start_time", TimestampNTZType),
      StructField("end_time", TimestampNTZType),
      StructField("hashes", ArrayType(StringType)),
      StructField("summary", ArrayType(StringType)),
      // flattened-semconv strings the reference test corpus touches
      StructField("resource___service___name", StringType),
      StructField("context___trace_id", StringType),
      StructField("context___span_id", StringType),
      StructField("events", VariantType),
      StructField("errors", VariantType),
      StructField("body", VariantType),
      StructField("attributes", VariantType),
      StructField("resource", VariantType),
      StructField("context", VariantType),
      StructField("updated_at", TimestampNTZType),
      StructField("deleted", BooleanType)
    )),
    sortingColumns = Seq(
      SortKey("timestamp", descending = true, nullsFirst = true),
      SortKey("id"), SortKey("level"), SortKey("status_code")),
    // mirrors the YAML's bloom_filter: true fields present in this reduced
    // schema (id/parent_id/name/context trace+span ids — the point-lookup
    // columns behind BASELINE's trace_lookup shape). `name` is listed but
    // gets no bloom while it stays dictionary-encoded, as it does for a
    // span-name vocabulary
    bloomFilterColumns = Seq("id", "parent_id", "name",
      "context___trace_id", "context___span_id"),
    // the YAML's tokenizer split: identifiers and enums are `raw`
    // (whole-value terms), free text (`name`, `status_message`, `body`)
    // is `ngram3` — the default, so only the raw fields are listed
    ftsTokenizers = Map(
      "id" -> "raw", "parent_id" -> "raw", "kind" -> "raw",
      "status_code" -> "raw", "level" -> "raw"))

  /** Continuous-aggregate target (StreamingAnalytics.continuousAggregate):
    * one row per (bucket_start, key) whose latest version carries the
    * current count — late-data corrections arrive as new versions and the
    * keep-greatest view resolves them, the MOR rendering of a TimescaleDB
    * continuous aggregate refresh. */
  val bucketCounts: TableSchema = TableSchema(
    name = "bucket_counts",
    schema = StructType(Seq(
      StructField("project_id", StringType, nullable = true),
      StructField("date", DateType, nullable = true),
      StructField("timestamp", TimestampNTZType, nullable = false),
      StructField("id", StringType, nullable = false),
      StructField("n", LongType),
      StructField("updated_at", TimestampNTZType),
      StructField("deleted", BooleanType)
    )))

  /** Continuous-percentile target (StreamingAnalytics
    * .continuousPercentiles): one row per (bucket_start, key) whose
    * latest version carries the bucket's current exact p50/p95/count —
    * the percentile counterpart of [[bucketCounts]]. */
  val bucketStats: TableSchema = TableSchema(
    name = "bucket_stats",
    schema = StructType(Seq(
      StructField("project_id", StringType, nullable = true),
      StructField("date", DateType, nullable = true),
      StructField("timestamp", TimestampNTZType, nullable = false),
      StructField("id", StringType, nullable = false),
      StructField("p50", DoubleType),
      StructField("p95", DoubleType),
      StructField("n", LongType),
      StructField("updated_at", TimestampNTZType),
      StructField("deleted", BooleanType)
    )))

  /** Document store for the training-data pipeline: free-text `content`
    * is dictionary-disabled (the reference's high-entropy opt-out,
    * `otel_logs_and_spans.yaml:230-233`) and carries the trigram text
    * index ([[graft.sources.GraftTable.buildTextIndex]], the tantivy-
    * sidecar replacement). */
  val docStore: TableSchema = TableSchema(
    name = "doc_store",
    schema = StructType(Seq(
      StructField("project_id", StringType, nullable = true),
      StructField("date", DateType, nullable = true),
      StructField("timestamp", TimestampNTZType, nullable = false),
      StructField("id", StringType, nullable = false),
      StructField("name", StringType),
      StructField("content", StringType),
      StructField("updated_at", TimestampNTZType),
      StructField("deleted", BooleanType)
    )),
    dictionaryDisabledColumns = Seq("content"))

  /** Minimal merge-on-read fixture — field order, types, and nullability
    * mirror `schemas/mor_versioned.yaml` exactly (SchemaYamlSpec pins the
    * equivalence against the loaded file). */
  val morVersioned: TableSchema = TableSchema(
    name = "mor_versioned",
    schema = StructType(Seq(
      StructField("date", DateType, nullable = false),
      StructField("timestamp", TimestampNTZType, nullable = false),
      StructField("id", StringType, nullable = false),
      StructField("name", StringType),
      StructField("project_id", StringType),
      StructField("updated_at", TimestampNTZType),
      StructField("deleted", BooleanType)
    )),
    zOrderColumns = Seq("timestamp", "id"))
}
