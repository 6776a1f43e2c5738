package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.GuardedTables

/** Flat (component, key, value) introspection table — the Spark rendering
  * of the reference's `timefusion_stats` table
  * (`/root/reference/src/stats_table.rs`): session/runtime facts plus
  * per-table storage-log state, registered as the `graft_stats` view so
  * dashboards query it with plain SQL.
  */
object GraftStats {

  def df(spark: SparkSession, tables: Seq[GraftTable] = Seq.empty,
      tiers: Seq[HotTier] = Seq.empty,
      gates: Seq[ScanGate] = Seq.empty,
      buffers: Seq[BufferedWriteLayer] = Seq.empty): DataFrame = {
    val sc = spark.sparkContext
    val session = Seq(
      ("session", "spark_version", spark.version),
      ("session", "master", sc.master),
      ("session", "default_parallelism", sc.defaultParallelism.toString),
      ("session", "shuffle_partitions",
        spark.conf.get("spark.sql.shuffle.partitions", "")),
      ("session", "executors_active",
        sc.statusTracker.getExecutorInfos.length.toString),
      ("memory", "max_heap_bytes", Runtime.getRuntime.maxMemory.toString),
      ("guard", "guarded_roots", GuardedTables.count.toString))
    // the effective autotune config and its budget split — what an
    // operator diagnosing an OOM or a slow shuffle asks first
    val autotune = graft.Autotune.boot.toSeq.flatMap { b =>
      Seq(("autotune", "committed_mb", b.audit.committedMb.toString),
        ("autotune", "slack_mb", b.audit.slackMb.toString),
        ("autotune", "oversubscribed", b.audit.oversubscribed.toString)) ++
        b.knobs.map { case (k, v) => ("autotune", k, v.toString) }
    }
    val perTable = tables.flatMap { t =>
      val c = t.currentVersion()
      Seq(
        (t.meta.name, "current_version", c.toString),
        (t.meta.name, "compact_snapshot", t.compactBaseDir().isDefined.toString),
        (t.meta.name, "partitions", t.meta.partitions.mkString(",")),
        (t.meta.name, "dedup_keys", t.meta.dedupKeys.mkString(",")),
        (t.meta.name, "logical_count",
          t.logicalCount().map(_.toString).getOrElse(""))) ++
        // driver-side file skipping: what the sketches saved and cost
        t.skippingStats.map { case (k, v) =>
          (s"skipping.${t.meta.name}@${t.root}", k, v.toString)
        }
    }
    // the reference's hot-tier and admission suppression/throughput rows
    // (`stats_table.rs` exposes demotion payoff and gate pressure the same
    // flat way — the counters a churn pathology is diagnosed from)
    // tier rows key by name AND path (two tiers over same-named tables at
    // different paths must not collide into one component); gate rows key
    // by the gate's stable label, not a positional index that shifts when
    // the registration list changes between calls
    val perTier = tiers.flatMap { h =>
      h.stats.toSeq.map { case (k, v) =>
        (s"hot_tier.${h.table.meta.name}@${h.table.root}", k, v.toString)
      }
    }
    // a stable label per gate; two gates sharing a label (both on the
    // default pool name) get positional suffixes so their counter rows
    // never collapse into one component
    val labelSeen = scala.collection.mutable.Map[String, Int]()
    val perGate = gates.flatMap { g =>
      val n = labelSeen.getOrElse(g.label, 0)
      labelSeen(g.label) = n + 1
      val lbl = if (n == 0) g.label else s"${g.label}#$n"
      g.stats.toSeq.map { case (k, v) => (s"scan_gate.$lbl", k, v.toString) }
    }
    // buffer/WAL rows (the reference's stats expose WAL + mem-buffer
    // state the same flat way)
    val perBuffer = buffers.flatMap { b =>
      val c = s"buffer.${b.table.meta.name}@${b.table.root}"
      Seq((c, "buffered_rows", b.bufferedRows.toString),
        (c, "durable", b.durable.toString))
    }
    import spark.implicits._
    (session ++ autotune ++ perTable ++ perTier ++ perGate ++ perBuffer)
      .toDF("component", "key", "value")
  }

  /** Register the introspection view (reference exposes it as a table). */
  def register(spark: SparkSession, tables: Seq[GraftTable] = Seq.empty,
      tiers: Seq[HotTier] = Seq.empty,
      gates: Seq[ScanGate] = Seq.empty,
      buffers: Seq[BufferedWriteLayer] = Seq.empty): Unit =
    df(spark, tables, tiers, gates, buffers)
      .createOrReplaceTempView("graft_stats")
}
