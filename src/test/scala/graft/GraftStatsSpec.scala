package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{GuardedTables, ProjectIdGuard}
import graft.schema.TableSchemas
import graft.sources.{GraftStats, GraftTable}

/** S8 introspection table + the join-condition tenant-guard extension. */
class GraftStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("graft_stats view exposes session and table state") {
    val t = new GraftTable(spark,
      Files.createTempDirectory("graft_stats_").toString, TableSchemas.morVersioned)
    import spark.implicits._
    t.append(spark.range(3).select(
      lit("1").as("project_id"),
      lit("2024-03-01 00:00:00").cast("timestamp_ntz").as("timestamp"),
      concat(lit("r"), col("id")).as("id"),
      lit("n").as("name")),
      Some(java.time.LocalDateTime.of(2024, 3, 2, 0, 0)))
    GraftStats.register(spark, Seq(t))
    val rows = spark.sql(
      "SELECT key, value FROM graft_stats WHERE component = 'mor_versioned'")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("current_version") == "1")
    assert(rows("compact_snapshot") == "false")
    assert(rows("dedup_keys") == "timestamp,id")
    val session = spark.sql(
      "SELECT value FROM graft_stats WHERE component='session' AND key='spark_version'")
      .collect()
    assert(session.nonEmpty && session(0).getString(0).nonEmpty)
  }

  test("graft_stats exposes the effective autotune config and budget split") {
    GraftStats.register(spark)
    val rows = spark.sql(
      "SELECT key, value FROM graft_stats WHERE component = 'autotune'")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("committed_mb").toLong > 0)
    assert(rows("slack_mb").toLong >= 0)
    assert(Set("true", "false").contains(rows("oversubscribed")))
    assert(rows("cores") == SparkTestSession.Cpus.toString)
    // values as the last install resolved them (other suites re-install)
    Seq("shuffle_partitions", "initial_shuffle_partitions",
      "broadcast_threshold_bytes", "cc_driver_edge_limit",
      "max_buffered_rows").foreach(k =>
      assert(rows.get(k).exists(_.toLongOption.isDefined), s"autotune knob $k"))
  }

  test("graft_stats exposes hot-tier payoff and scan-gate pressure rows") {
    val t = new GraftTable(spark,
      Files.createTempDirectory("graft_stats_").toString, TableSchemas.morVersioned)
    t.append(spark.range(3).select(
      lit("1").as("project_id"),
      lit("2024-03-01 00:00:00").cast("timestamp_ntz").as("timestamp"),
      concat(lit("r"), col("id")).as("id"),
      lit("n").as("name")),
      Some(java.time.LocalDateTime.of(2024, 3, 2, 0, 0)))
    val tier = new graft.sources.HotTier(t, retentionMicros = 1L)
    val gate = new graft.sources.ScanGate()
    gate.run(spark, wide = true)(())
    GraftStats.register(spark, Seq(t), Seq(tier), Seq(gate))
    // tier rows key by name@root (same-named tables at different paths
    // must not collide); gate rows by the gate's stable label
    val tierRows = spark.sql(
      s"SELECT key, value FROM graft_stats WHERE component = 'hot_tier.mor_versioned@${t.root}'")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tierRows("builds") == "0" && tierRows.contains("wasted_builds"))
    val gateRows = spark.sql(
      "SELECT key, value FROM graft_stats WHERE component = 'scan_gate.graft_wide'")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gateRows("gated") == "1")
    val buf = new graft.sources.BufferedWriteLayer(t, durable = true)
    buf.insert(spark.range(2).select(
      lit("1").as("project_id"),
      lit("2024-03-01 01:00:00").cast("timestamp_ntz").as("timestamp"),
      concat(lit("b"), col("id")).as("id"),
      lit("n").as("name")),
      Some(java.time.LocalDateTime.of(2024, 3, 2, 1, 0)))
    GraftStats.register(spark, Seq(t), Seq(tier), Seq(gate), Seq(buf))
    val bufRows = spark.sql(
      s"SELECT key, value FROM graft_stats WHERE component = 'buffer.mor_versioned@${t.root}'")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bufRows("buffered_rows") == "2" && bufRows("durable") == "true")
  }

  test("graft_stats reports driver-side file skipping after an id lookup") {
    val t = new GraftTable(spark,
      Files.createTempDirectory("graft_stats_skip_").toString,
      TableSchemas.morVersioned.copy(bloomFilterColumns = Seq("id")))
    // two tenants, so two files; each id lives in one of them
    t.append(spark.range(40).select(
      (col("id") % 2).cast("string").as("project_id"),
      lit("2024-03-01 00:00:00").cast("timestamp_ntz").as("timestamp"),
      concat(lit("r"), col("id")).as("id"),
      lit("n").as("name")),
      Some(java.time.LocalDateTime.of(2024, 3, 2, 0, 0)))
    assert(t.readResolved().filter(col("id") === "r7").count() == 1)
    GraftStats.register(spark, Seq(t))
    val rows = spark.sql("SELECT key, value FROM graft_stats WHERE component = " +
      s"'skipping.mor_versioned@${t.root}'")
      .collect().map(r => r.getString(0) -> r.getString(1).toLong).toMap
    assert(rows("files_considered") == 2 && rows("files_skipped") == 1, rows)
    assert(rows("sketch_read_bytes") > 0 && rows("sketch_bytes_held") > 0, rows)
  }

  test("tenant guard accepts project_id carried in a join condition") {
    val t = new GraftTable(spark,
      Files.createTempDirectory("graft_guard_join_").toString,
      TableSchemas.morVersioned)
    import spark.implicits._
    t.append(spark.range(5).select(
      (col("id") % 2).cast("string").as("project_id"),
      lit("2024-03-01 00:00:00").cast("timestamp_ntz").as("timestamp"),
      concat(lit("r"), col("id")).as("id"),
      lit("n").as("name")),
      Some(java.time.LocalDateTime.of(2024, 3, 2, 0, 0)))
    val path = s"${t.root}/${t.meta.name}"
    GuardedTables.guard(path)
    try {
      val src = Seq(("r1", "x")).toDF("sid", "v")
      val joined = t.readRaw().alias("t").join(src.alias("s"),
        col("t.id") === col("s.sid") && col("t.project_id") === "1")
      ProjectIdGuard(joined.queryExecution.analyzed) // must not throw
    } finally GuardedTables.unguard(path)
  }
}
