package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftClock
import graft.schema.TableSchemas
import graft.sources.{BufferedWriteLayer, GraftTable, HotTier, ScanGate}

/** What the workloads share: the session, the seeded generator, the
  * table build, the layers' explicit configuration, durable
  * `BufferedWriteLayer` inserts of [[Workload.BatchRows]] rows (each
  * followed by a read-your-writes point read of its last row), the final
  * check and the final sizes. */
abstract class Workload(val spark: SparkSession, val opts: Opts) {
  import spark.implicits._

  val g = new Gen(opts.seed)
  val tracer = new Tracer(spark, opts.trace)
  val rec = new Recorder(tracer)
  val work = new Work(spark)
  val meta = TableSchemas.otelLogsAndSpans

  val buildSeconds = mutable.ArrayBuffer.empty[Double]

  var table: GraftTable = _
  var root: String = _
  val appendMs = mutable.ArrayBuffer.empty[Double]
  val compactMs = mutable.ArrayBuffer.empty[Double]
  val demoteMs = mutable.ArrayBuffer.empty[Double]

  // ---- explicit layer configuration (no host-derived defaults) ---------
  /** Never auto-flush: flushes run only at the workload's fixed indices. */
  val MaxBufferedRows: Long = Long.MaxValue
  /** The gate's wide threshold (24 h) and release ceilings. */
  def newGate(): ScanGate = new ScanGate(wideLookbackMicros = Time.Day,
    maxFiles = 16, maxBytes = 256L << 20, permits = 2, name = "perfbench")
  /** Hot tier retaining 6 h (+ a 1 h slice); with two lookback windows it
    * serves the 1 h and 6 h reads, and every deeper read runs cold. */
  def newTier(t: GraftTable): HotTier = new HotTier(t,
    retentionMicros = 6 * Time.Hour, extraRetentions = Seq(Time.Hour),
    lookbackWindows = 2L, maxHotRows = 1000000L, slicePartitions = 4)

  /** Build a compacted table of `rows` under a fresh directory: one
    * `append` with an explicit version stamp, then `compact`. */
  def build(dir: String, rows: IndexedSeq[Ev]): GraftTable = {
    val t = new GraftTable(spark, dir, meta)
    val t0 = System.nanoTime()
    t.append(rows.toDF(), Some(Time.ldt(Time.T0 - Time.Day)))
    val t1 = System.nanoTime()
    t.compact()
    appendMs += (t1 - t0) / 1e6
    compactMs += (System.nanoTime() - t1) / 1e6
    t
  }

  /** Set-up, measured as the median of three complete builds of the
    * same seeded table (each in its own directory; the last is kept). */
  def buildRepeated(rows: IndexedSeq[Ev]): Unit =
    (0 until 3).foreach { r =>
      val t0 = System.nanoTime()
      root = opts.work.resolve(s"table-$r").toString
      table = build(root, rows)
      buildSeconds += (System.nanoTime() - t0) / 1e9
    }

  def demote(): Unit = {
    val t0 = System.nanoTime()
    tracer.span("tier.demote")(tier.demote())
    demoteMs += (System.nanoTime() - t0) / 1e6
  }

  /** Collect the warm-up's garbage and let discarded storage blocks drain
    * (the same GC-and-poll discipline as `graft.Bench`). */
  def settle(): Unit = {
    var last = -1
    var n = spark.sparkContext.getRDDStorageInfo.length
    val deadline = System.nanoTime() + 5000000000L
    while (n != last && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(200)
      last = n; n = spark.sparkContext.getRDDStorageInfo.length
    }
  }

  /** Gate + scan `body`, recording the classify and wait spans. */
  def gated[T](lookback: Long)(body: => T): T = {
    val wide = tracer.span("gate.classify")(gate.isWide(table, Some(lookback)))
    val t0 = System.nanoTime()
    gate.run(spark, wide) {
      if (tracer.active) gateWaitMs += (System.nanoTime() - t0) / 1e6
      body
    }
  }
  val gateWaitMs = mutable.ArrayBuffer.empty[Double]

  /** Visible version legs of the current snapshot, from the `_commits`
    * listing: the newest full base and every version committed after it. */
  def visibleLegs(): Int = {
    val dir = new java.io.File(s"$root/${meta.name}/_commits")
    val vs = Option(dir.list()).getOrElse(Array.empty[String]).toSeq
      .filter(_.startsWith("_v")).map { n =>
        val core = n.drop(2).takeWhile(_ != '.')
        (core.toInt, n.contains(".base."))
      }
    val base = vs.filter(_._2).map(_._1).maxOption.getOrElse(0)
    vs.count(_._1 >= base)
  }

  def duBytes(p: java.io.File): Long =
    if (p.isFile) p.length
    else Option(p.listFiles()).map(_.map(duBytes).sum).getOrElse(0L)

  /** (commit markers, version dirs, parquet files, bytes in version dirs). */
  def tableShape(): (Int, Int, Int, Long) = {
    val base = new java.io.File(s"$root/${meta.name}")
    val markers = Option(new java.io.File(base, "_commits").list())
      .getOrElse(Array.empty[String]).count(_.startsWith("_v"))
    val vdirs = Option(base.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
    def parquet(f: java.io.File): Int =
      if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
      else Option(f.listFiles()).map(_.map(parquet).sum).getOrElse(0)
    (markers, vdirs.length, vdirs.map(parquet).sum, vdirs.map(duBytes).sum)
  }

  def clock(): Long = GraftClock.nowMicros

  // ---- the workload ------------------------------------------------------
  def setup(): Unit
  def warmup(): Unit
  /** The measured operations, in order. */
  def measured(n: Int): Unit
  /** Operations in one run: a fixed count per `--seconds`. */
  def opsPerSecond: Double
  /** User rows acknowledged by writes during the measured phase. */
  var rowsAcked = 0L
  /** Measured operations the Spark work counters cover. */
  def workOps: Long = rec.attempted

  val model = new Model
  /** Measured reads issued so far: the position in the read cycle. */
  var reads = 0
  var bwl: BufferedWriteLayer = _
  var gate: ScanGate = _
  var tier: HotTier = _
  private var planted = !opts.plant

  def openLayers(): Unit = {
    bwl = new BufferedWriteLayer(table, MaxBufferedRows, durable = true)
    gate = newGate()
    table.attachGate(gate)
    tier = newTier(table)
  }

  /** The buffered (read-your-writes) view, its plan time recorded. */
  def bufferedView(): DataFrame = {
    val t0 = System.nanoTime()
    val v = tracer.span("bwl.read_resolved")(bwl.readResolved())
    if (tracer.active) bwlPlanMs += (System.nanoTime() - t0) / 1e6
    v
  }
  val bwlPlanMs = mutable.ArrayBuffer.empty[Double]
  val tablePlanMs = mutable.ArrayBuffer.empty[Double]
  val legs = mutable.ArrayBuffer.empty[Double]

  /** Traced reads also time the storage view's plan on its own and list
    * the visible legs (plan-only: nothing executes). */
  def traceTableView(): Unit = if (tracer.active) {
    val t0 = System.nanoTime()
    tracer.span("table.read_resolved")(table.readResolved())
    tablePlanMs += (System.nanoTime() - t0) / 1e6
    legs += visibleLegs().toDouble
  }

  /** The engine answer of the first measured read is corrupted under
    * `--plant`: the run must then report `correct: false`. */
  def maybePlant(a: Shapes.Answer): Shapes.Answer =
    if (!planted && rec.recording) { planted = true; Shapes.corrupt(a) } else a

  /** One durable insert + its freshness probe. */
  def insert(batch: Seq[Ev], stamp: Long): Unit = {
    val df = batch.toDF()
    val t0 = System.nanoTime()
    val c0 = Host.cpuNs
    val ok = rec.op("write.insert") {
      tracer.span("bwl.insert")(bwl.insert(df, Some(Time.ldt(stamp))))
    }
    if (ok.isDefined) {
      batch.foreach(model.put)
      walRows += batch.length
      if (rec.recording) rowsAcked += batch.length
      val last = batch.last
      val q = Read("point_lookup", last.project_id, 0L, Some(last))
      rec.op("probe") {
        tracer.span("bwl.probe") {
          val v = bufferedView()
          maybePlant(Shapes.engine(q, v, clock()))
        }
      }.foreach { got =>
        rec.sample("fresh", (System.nanoTime() - t0) / 1e6)
        rec.sample("cpu.fresh", (Host.cpuNs - c0) / 1e6)
        rec.check(s"probe/${last.id}", got, Shapes.oracle(q, model.get(last.key).toSeq, 0L))
      }
    }
  }

  /** `n` fresh rows near `now`, a `resend` share re-sending live
    * identities (merge-on-read updates) and a `late` share arriving days
    * late, in shuffled (out-of-order) arrival order. */
  def batchOf(n: Int, now: Long, resend: Double, late: Double): Seq[Ev] = {
    val picked = mutable.Set.empty[(String, Long)]
    val rows = (0 until n).map { _ =>
      val u = g.uniform()
      if (u < resend && model.size > 0) {
        val e = model.sample(g)
        if (picked.add(e.key)) g.resend(e)
        else g.row(g.tenant(), g.recentTs(now, 10 * 60 * 1000000L))
      } else if (u < resend + late) g.row(g.tenant(), now - Time.Day - (g.uniform() * Time.Day).toLong)
      else g.row(g.tenant(), g.recentTs(now, 10 * 60 * 1000000L))
    }
    // Fisher-Yates with the seeded generator
    val a = rows.toArray
    for (i <- a.indices.reverse) {
      val j = g.int(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def flush(): Unit = {
    countWal()
    rec.op("maint.flush")(tracer.span("bwl.flush")(bwl.flush()))
  }
  /** Add the WAL's current bytes (flush truncates it) to the totals. */
  def countWal(): Unit = {
    val b = duBytes(new java.io.File(s"$root/${meta.name}/_wal"))
    walBytes += b
    walBytesRun += b
  }
  /** WAL bytes since the measured phase began / over the whole run, and
    * rows written through the buffered layer over the whole run. */
  var walBytes = 0L
  var walBytesRun = 0L
  var walRows = 0L

  def sweep(): Unit =
    rec.op("maint.sweep")(tracer.span("table.sweep")(table.maintenanceSweep(minVersions = 2)))

  def resolvedRows: Long = model.size.toLong

  /** The whole resolved view (buffer included) against the model. */
  def finalCheck(): Unit = {
    val got = bwl.readResolved()
      .select("project_id", "timestamp", "id", "name", "duration",
        "status_code", "hashes").collect()
      .map(r => s"${r.getString(0)} ${Time.micros(r.getAs[java.time.LocalDateTime](1))} " +
        s"${r.getString(2)} ${r.getString(3)} ${r.getLong(4)} ${r.getString(5)} " +
        r.getSeq[String](6).mkString(","))
      .sorted.toVector
    rec.check("final/resolved", got, model.live.toVector.map(e =>
      s"${e.project_id} ${e.micros} ${e.id} ${e.name} ${e.duration} " +
        s"${e.status_code} ${e.hashes.mkString(",")}").sorted)
  }
}

/** `dashboard`: read-mostly serving over a compacted table. Reads go
  * through the scan gate and the hot tier over the committed snapshot;
  * the buffered inserts (one per twelve reads, an assumed ratio) never
  * flush during the measured phase, so they leave the read path
  * untouched. One flush and one maintenance sweep close the phase. The
  * Spark work counters cover the reads only. */
final class Dashboard(spark: SparkSession, opts: Opts)
    extends Workload(spark, opts) {
  val TableRows = 6000
  val opsPerSecond = 2.6
  /** Committed rows: what every dashboard read sees. */
  private var committed: Model = _
  private val answers = mutable.ArrayBuffer.empty[(Read, Shapes.Answer)]
  private var stamp = Time.T0

  def setup(): Unit = {
    GraftClock.set(Time.T0)
    val rows = (0 until TableRows).map(_ =>
      g.row(g.tenant(), g.recentTs(Time.T0, Workload.SpanMicros)))
    buildRepeated(rows)
    rows.foreach(model.put)
    openLayers()
  }

  private def read(q: Read): Unit = {
    val now = clock()
    val hot0 = tier.stats("hot_served")
    val kind = s"read.${q.shape}"
    val t0 = System.nanoTime()
    rec.op(kind) {
      traceTableView()
      if (q.shape == "recent_page")
        Shapes.pageAnswer(tracer.span("table.recent_page")(
          table.recentPage(Shapes.PageSize, Seq(col("id")), Shapes.window(q, now))
            .collect()))
      else {
        // classify + wait first, then plan through the tier inside the gate
        gated(q.lookback) {
          val v = tracer.span("tier.read")(tier.read(Some(q.lookback)))
          tracer.span("spark.exec")(Shapes.engine(q, v, now))
        }
      }
    }.foreach { a =>
      val ms = (System.nanoTime() - t0) / 1e6
      if (q.shape != "recent_page") {
        if (tier.stats("hot_served") > hot0) rec.sample("tier.hot", ms)
        else rec.sample("tier.cold", ms)
      }
      answers += ((q, maybePlant(a)))
    }
  }

  private def nextInsert(): Unit = {
    stamp += 1000L
    insert(batchOf(Workload.BatchRows, Time.T0, resend = 0.0, late = 0.0), stamp)
  }

  private def step(i: Int): Unit =
    if (i % 13 == 12) work.paused(nextInsert())
    else { read(Shapes.draw(reads, g, committed, clock())); reads += 1 }

  def warmup(): Unit = {
    // the write path first: an insert and its probe, committed by a flush
    // and folded into the base by `compact`, so the measured phase starts
    // from a compacted table and an empty WAL
    nextInsert()
    flush()
    table.compact()
    committed = new Model
    model.live.foreach(committed.put)
    demote()
    val rows = committed.live
    System.err.println(s"[perfbench] table rows=${rows.size} hot slice rows " +
      s"6h=${rows.count(_.micros >= Time.T0 - 6 * Time.Hour)} " +
      s"1h=${rows.count(_.micros >= Time.T0 - Time.Hour)}")
    Shapes.names.zipWithIndex.foreach { case (s, i) =>
      read(Shapes.readOf(s, Shapes.lookbacks(i % 4), g.tenants(i % 4), g, committed, clock()))
    }
  }

  def measured(n: Int): Unit = {
    (0 until n).foreach(step)
    work.paused { flush(); sweep() }
  }

  override def workOps: Long = reads

  override def finalCheck(): Unit = {
    // the committed table is static, so each distinct read has one answer
    answers.foreach { case (q, got) =>
      rec.check(q.label, got, Shapes.oracle(q, committed.live, Time.T0))
    }
    super.finalCheck()
  }
}

/** `live`: reads beside writes on a smaller table of the same shape.
  * One write per two reads: durable inserts of 512 rows (re-sent
  * identities become merge-on-read updates, a share arrives late and out
  * of order), each followed by its freshness probe, plus `updateFrom`
  * enrichments. The shares (12 % re-sent, 10 % late) and the cycle below
  * are assumptions; the batch size and the virtual arrival rate follow
  * BASELINE.md. Every read uses the read-your-writes view and is checked
  * against the model right away. Every 10th operation flushes, deletes
  * a few identities and runs a maintenance sweep. The hot tier is
  * attached but never pinned: the buffered view every read uses
  * bypasses it. */
final class Live(spark: SparkSession, opts: Opts)
    extends Workload(spark, opts) {
  import spark.implicits._
  val TableRows = 3000
  val opsPerSecond = 1.0

  def setup(): Unit = {
    GraftClock.set(Time.T0)
    val rows = (0 until TableRows).map(_ =>
      g.row(g.tenant(), g.recentTs(Time.T0, Workload.SpanMicros)))
    buildRepeated(rows)
    rows.foreach(model.put)
    openLayers()
  }

  /** Advance the virtual clock by `micros`; the new time stamps the next
    * write. */
  private def tick(micros: Long = 1000L): Long = GraftClock.advance(micros)

  private def read(q: Read): Unit = {
    val now = clock()
    rec.op(s"read.${q.shape}") {
      traceTableView()
      gated(q.lookback) {
        val v = bufferedView()
        tracer.span("spark.exec")(Shapes.engine(q, v, now))
      }
    }.foreach(a => rec.check(q.label, maybePlant(a), Shapes.oracle(q, model.live, now)))
  }

  private def updateFrom(): Unit = {
    val now = tick()
    val targets = Seq.fill(16)(model.sample(g)).distinctBy(_.key)
    val h = targets.map(e => e.id -> f"h-${g.long()}%016x").toMap
    val src = h.toSeq.toDF("sid", "h")
    rec.op("write.update_from") {
      tracer.span("bwl.update_from")(bwl.updateFrom(src, col("t.id") === col("s.sid"),
        Map("hashes" -> array(col("s.h"))), Some(Time.ldt(now))))
    }.foreach { _ =>
      targets.foreach(e => model.put(e.copy(hashes = Seq(h(e.id)))))
      walRows += targets.length
      if (rec.recording) rowsAcked += targets.length
    }
  }

  private def delete(): Unit = {
    val now = tick()
    val targets = Seq.fill(8)(model.sample(g)).distinctBy(_.key)
    rec.op("write.delete") {
      tracer.span("table.delete")(table.delete(col("id").isin(targets.map(_.id): _*),
        Some(Time.ldt(now))))
    }.foreach { _ =>
      targets.foreach(e => model.delete(e.key))
      if (rec.recording) rowsAcked += targets.length
    }
  }

  private def maintenance(): Unit = {
    flush()
    delete()
    sweep()
  }

  // the 10-operation cycle: insert, 2 reads, insert, 2 reads,
  // enrichment, 2 reads, maintenance
  private def step(i: Int): Unit = i % 10 match {
    case 0 | 3 => insert(batchOf(Workload.BatchRows, tick(Workload.BatchMicros),
      resend = 0.12, late = 0.10), clock())
    case 6 => updateFrom()
    case 9 => maintenance()
    case _ => read(Shapes.draw(reads, g, model, clock())); reads += 1
  }

  def warmup(): Unit = {
    // one read per plan family (aggregate, sort + limit, group + sort)
    Seq("count_window", "recent_page", "top_n").zipWithIndex.foreach { case (s, i) =>
      read(Shapes.readOf(s, Shapes.lookbacks(i), g.tenant(), g, model, clock()))
    }
    insert(batchOf(Workload.BatchRows, tick(Workload.BatchMicros), resend = 0.12,
      late = 0.10), clock())
    updateFrom()
    // every kind but the sweep, whose first run costs a full date-range
    // compaction the run cannot afford twice
    flush()
    delete()
  }

  def measured(n: Int): Unit = (0 until n).foreach(step)
}

object Workload {
  /** The reference's pgwire INSERT batch size (BASELINE.md). */
  val BatchRows = 512
  /** Virtual time one batch spans in `live`: 512 rows per 640 ms is
    * 800 rows/s, inside BASELINE.md's steady arrival rate of
    * 615-1080 rows/s. */
  val BatchMicros = 640000L
  /** Event-time span of the set-up table (3 days, biased to recent). */
  val SpanMicros: Long = 3 * Time.Day
}
