package perfbench

import Stats.{median, pct, mean}

/** The per-layer table of a traced run, named `<layer>.<metric>`. Span-
  * and listener-derived figures cover the traced half of the operations;
  * operation latencies and layer counters cover all of them. */
object Layers {
  def metrics(w: Workload): Seq[(String, (Double, String))] = {
    val r = w.rec
    val t = w.tracer
    val (markers, vdirs, files, vbytes) = w.tableShape()
    val tier = w.tier.stats
    val gate = w.gate.stats
    val hot = tier("hot_served").toDouble
    val cold = tier("cold_served").toDouble
    val builds = tier("builds").toDouble
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    val ops = t.ops.values.toSeq
    def perOp(f: OpSpark => Double) = mean(ops.map(f))
    val skews = ops.filter(_.taskMs.length >= 2).map { o =>
      val m = median(o.taskMs.map(_.toDouble).toSeq)
      o.taskMs.max / math.max(1.0, m)
    }

    // tracing overhead: traced minus untraced median latency per kind,
    // weighted by each kind's share of the operations
    val kinds = r.traced.keySet.intersect(r.untraced.keySet).toSeq
    val total = kinds.map(k => r.samples(k).length).sum.toDouble
    val overheadMs = kinds.map { k =>
      (median(r.traced(k).toSeq) - median(r.untraced(k).toSeq)) *
        r.samples(k).length / math.max(1.0, total)
    }.sum
    val baseMs = kinds.map(k => median(r.untraced(k).toSeq) *
      r.samples(k).length / math.max(1.0, total)).sum

    Seq(
      "bwl.insert_p50_ms" -> (median(r.of("write.insert")), "ms"),
      "bwl.insert_p90_ms" -> (pct(r.of("write.insert"), 90), "ms"),
      "bwl.flush_p50_ms" -> (median(r.of("maint.flush")), "ms"),
      "bwl.read_plan_ms" -> (median(w.bwlPlanMs.toSeq), "ms"),
      "bwl.probe_p50_ms" -> (median(r.of("probe")), "ms"),
      "bwl.wal_bytes_per_row" -> (ratio(w.walBytesRun.toDouble, w.walRows.toDouble), "B"),
      "table.append_ms" -> (median(w.appendMs.toSeq), "ms"),
      "table.compact_ms" -> (median(w.compactMs.toSeq), "ms"),
      "table.sweep_p50_ms" -> (median(r.of("maint.sweep")), "ms"),
      "table.versions_end" -> (markers.toDouble, "count"),
      "table.files_per_commit" -> (ratio(files, vdirs), "count"),
      "table.write_amp" -> (ratio(vbytes.toDouble, w.model.userBytes.toDouble), "ratio"),
      "table.read_plan_ms" -> (median(w.tablePlanMs.toSeq), "ms"),
      "table.visible_legs_p50" -> (median(w.legs.toSeq), "count"),
      "table.recent_page_p50_ms" -> (median(t.durations("table.recent_page")), "ms")
    ) ++ Shapes.names.map(s =>
      s"read.${s}_p50_ms" -> (median(r.of(s"read.$s")), "ms")
    ) ++ Seq(
      "tier.hot_read_p50_ms" -> (median(r.of("tier.hot")), "ms"),
      "tier.cold_read_p50_ms" -> (median(r.of("tier.cold")), "ms"),
      "tier.hit_ratio" -> (ratio(hot, hot + cold), "ratio"),
      "tier.hot_served" -> (hot, "count"),
      "tier.cold_served" -> (cold, "count"),
      "tier.useful_build_ratio" -> (ratio(builds - tier("wasted_builds"), builds), "ratio"),
      "tier.builds" -> (builds, "count"),
      "tier.wasted_builds" -> (tier("wasted_builds").toDouble, "count"),
      "tier.demote_ms" -> (median(w.demoteMs.toSeq), "ms"),
      "gate.wait_p90_ms" -> (pct(w.gateWaitMs.toSeq, 90), "ms"),
      "gate.classify_ms" -> (median(t.durations("gate.classify")), "ms"),
      "gate.gated" -> (gate("gated").toDouble, "count"),
      "gate.released_by_work" -> (gate("released_by_work").toDouble, "count"),
      "gate.throttled" -> (gate("throttled").toDouble, "count"),
      "spark.plan_ms" -> (perOp(_.planMs), "ms"),
      "spark.exec_ms" -> (perOp(_.execMs), "ms"),
      "spark.jobs" -> (perOp(_.jobs.toDouble), "count"),
      "spark.stages" -> (perOp(_.stages.toDouble), "count"),
      "spark.tasks" -> (perOp(_.taskMs.length.toDouble), "count"),
      "spark.scan_files" -> (perOp(_.scanFiles.toDouble), "count"),
      "spark.scan_bytes" -> (perOp(_.scanBytes.toDouble), "B"),
      "spark.shuffle_bytes" -> (perOp(_.shuffleBytes.toDouble), "B"),
      "spark.spill_bytes" -> (perOp(_.spillBytes.toDouble), "B"),
      "spark.task_skew" -> (mean(skews), "ratio"),
      "trace.overhead_ms" -> (overheadMs, "ms"),
      "trace.overhead_pct" -> (100 * ratio(overheadMs, baseMs), "%"),
      "trace.spans" -> (t.spans.count(_ != null).toDouble, "count"))
  }
}
