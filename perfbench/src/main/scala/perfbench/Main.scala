package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of the storage engine: one process, one client
  * thread, calls straight into `graft.sources`. Prints one JSON line:
  * `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics (`--trace 0`) or the per-layer ones (`--trace 1`).
  *
  * {{{
  * Main --workload dashboard|live --seed N --seconds S --trace 0|1
  *      --work DIR [--plant 1]
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(a("workload"), a("seed").toLong, a("seconds").toInt,
      a.getOrElse("trace", "0") == "1", a.getOrElse("plant", "0") == "1",
      Paths.get(a("work")).toAbsolutePath)
    val code = try { run(opts); 0 } catch {
      case t: Throwable =>
        System.err.println("[perfbench] run failed:")
        t.printStackTrace()
        1
    }
    System.exit(code)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(opts: Opts): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(opts.work)
    def phase(msg: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2fs $msg")
    val spark = session(opts.work)
    phase("session ready")
    val w: Workload = opts.workload match {
      case "dashboard" => new Dashboard(spark, opts)
      case "live" => new Live(spark, opts)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    phase(s"set up (builds ${w.buildSeconds.map(s => f"$s%.1fs").mkString(", ")})")
    w.warmup()
    w.settle()
    phase("warmed up")
    // process start -> first measured operation, with the repeated table
    // builds counted once, at their median
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 -
      w.buildSeconds.sum + Stats.median(w.buildSeconds.toSeq)

    val calib = mutable.ArrayBuffer.fill(3)(Host.calibrateMs())
    val (steal0, total0) = Host.cpuJiffies()
    val (gc0, jit0) = (Host.gcMs, Host.jitMs)
    val (cpu0, pcpu0) = (Host.cpuNs, Host.processCpuNs)
    val n = math.max(10, (w.opsPerSecond * opts.seconds).round.toInt)
    val versionBytes0 = w.tableShape()._4
    w.walBytes = 0L
    w.rec.checkNs = 0L
    w.rec.recording = true
    w.work.start()
    val t0 = System.nanoTime()
    w.measured(n)
    val wallS = (System.nanoTime() - t0 - w.rec.checkNs) / 1e9
    w.rec.recording = false
    w.work.stop()
    phase(s"measured $n operations")
    val (steal1, total1) = Host.cpuJiffies()
    val (gc1, jit1) = (Host.gcMs, Host.jitMs)
    val cpuS = (Host.cpuNs - cpu0) / 1e9
    val processCpuS = (Host.processCpuNs - pcpu0) / 1e9
    calib ++= Seq.fill(3)(Host.calibrateMs())
    val liveMb = Host.liveHeapMb()
    val tableDir = new java.io.File(s"${w.root}/${w.meta.name}")
    w.countWal()
    val diskPerRow = w.duBytes(tableDir).toDouble / math.max(1L, w.resolvedRows)
    val writtenPerRow = (w.tableShape()._4 - versionBytes0 + w.walBytes).toDouble /
      math.max(1L, w.rowsAcked)
    w.finalCheck()
    w.tracer.stop()

    val r = w.rec
    val done = (r.attempted - r.failed).toDouble
    val host = Seq(
      "jvm.gc_ms" -> ((gc1 - gc0).toDouble, "ms"),
      "jvm.jit_ms" -> ((jit1 - jit0).toDouble, "ms"),
      "host.steal_pct" -> (100.0 * (steal1 - steal0) / math.max(1L, total1 - total0), "%"),
      "host.calib_ms" -> (Stats.median(calib.toSeq), "ms"))
    val metrics: Seq[(String, (Double, String))] =
      if (!opts.trace) Seq(
        "setup_s" -> (setupS, "s"),
        "disk_bytes_per_row" -> (diskPerRow, "B"),
        "write_bytes_per_row" -> (writtenPerRow, "B"),
        "scan_bytes_per_op" -> (w.work.inputBytes.toDouble / w.workOps, "B"),
        "tasks_per_op" -> (w.work.tasks.toDouble / w.workOps, "count"),
        "live_mem_mb" -> (liveMb, "MB"))
      else Seq(
        "wall.ops_per_s" -> (done / wallS, "1/s"),
        "wall.rows_per_s" -> (w.rowsAcked / wallS, "1/s"),
        "wall.read_p50_ms" -> (Stats.median(r.all("read.")), "ms"),
        "wall.read_p90_ms" -> (Stats.pct(r.all("read."), 90), "ms"),
        "wall.write_p50_ms" -> (Stats.median(r.all("write.")), "ms"),
        "wall.write_p90_ms" -> (Stats.pct(r.all("write."), 90), "ms"),
        "wall.fresh_p50_ms" -> (Stats.median(r.of("fresh")), "ms"),
        "wall.fresh_p90_ms" -> (Stats.pct(r.of("fresh"), 90), "ms"),
        "cpu.read_ms" -> (Stats.mean(r.all("cpu.read.")), "ms"),
        "cpu.write_ms" -> (Stats.mean(r.all("cpu.write.")), "ms"),
        "cpu.fresh_ms" -> (Stats.mean(r.of("cpu.fresh")), "ms"),
        "cpu.ops_per_s" -> (done / cpuS, "1/s"),
        "jvm.process_cpu_s" -> (processCpuS, "s")) ++
        Layers.metrics(w) ++ host

    val counts = r.samples.map { case (k, v) => s"$k=${v.length}" }.mkString(" ")
    System.err.println(f"[perfbench] ${opts.workload} seed=${opts.seed} ops=$n " +
      f"wall=${wallS}%.1fs rows=${w.resolvedRows} checks=${r.checks} " +
      s"mismatches=${r.mismatches.length} samples: $counts")
    System.err.println(f"[perfbench] timing ops_per_s=${done / wallS}%.3f " +
      f"read_p50_ms=${Stats.median(r.all("read."))}%.1f " +
      f"read_mean_ms=${Stats.mean(r.all("read."))}%.1f " +
      f"cpu_ms_per_op=${cpuS * 1e3 / done}%.1f " +
      f"process_cpu_s=$processCpuS%.2f")
    System.err.println("[perfbench] host " + host.map { case (k, (v, u)) =>
      f"$k=$v%.2f$u" }.mkString(" "))
    r.mismatches.foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))
    if (opts.trace)
      w.tracer.write(opts.work.resolve(s"spans-${opts.workload}-${opts.seed}.jsonl"))

    val correct = r.mismatches.isEmpty && r.checks > 0
    val body = metrics.map { case (k, (v, u)) =>
      val x = if (v.isNaN || v.isInfinite) 1e12 else v
      s""""$k": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$body}}""")
    spark.stop()
  }
}
