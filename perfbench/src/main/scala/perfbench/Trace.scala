package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call into a layer, made by the benchmark's own code. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one operation by the listeners below. */
final class OpSpark {
  var planMs = 0.0; var execMs = 0.0
  var jobs = 0; var stages = 0
  var scanFiles = 0L; var scanBytes = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Spark work of the measured phase, counted in every run (no spans):
  * tasks launched and bytes read from storage by jobs the client thread
  * submits while the `perfbench.measured` job property is set. */
final class Work(spark: SparkSession) extends SparkListener {
  private val Key = "perfbench.measured"
  private val stages = mutable.Set.empty[Int]
  @volatile var tasks = 0L
  @volatile var inputBytes = 0L
  spark.sparkContext.addSparkListener(this)

  def start(): Unit = spark.sparkContext.setLocalProperty(Key, "1")
  def stop(): Unit = {
    spark.sparkContext.setLocalProperty(Key, null)
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
  }
  /** Run `body` uncounted (a job keeps the property it was submitted
    * with, so the pause is exact for the client's synchronous calls). */
  def paused[T](body: => T): T = {
    val was = spark.sparkContext.getLocalProperty(Key)
    spark.sparkContext.setLocalProperty(Key, null)
    try body finally spark.sparkContext.setLocalProperty(Key, was)
  }
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty(Key) == "1"))
      synchronized(stages ++= e.stageIds)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stages(e.stageId)) {
      tasks += 1
      Option(e.taskMetrics).foreach(m => inputBytes += m.inputMetrics.bytesRead)
    }
  }
}

/** Span recorder plus Spark-side attribution for the traced run.
  *
  * Spans are kept in memory and written out at the end. Each traced
  * operation tags its Spark jobs with a job group (`op-<n>`); a
  * `SparkListener` maps jobs -> stages -> tasks back to the operation,
  * and a `QueryExecutionListener` adds planning/execution time and the
  * scans' pruned file work. After each traced operation the listener bus
  * is drained, so no event of one operation lands on the next. With
  * tracing off, `span` is a plain call and no listener is registered. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  @volatile private var op = -1
  val ops = mutable.LinkedHashMap.empty[Int, OpSpark]
  private val stageOp = mutable.Map.empty[Int, Int]

  /** True while the current operation is traced. */
  def active: Boolean = op >= 0

  def span[T](name: String)(body: => T): T =
    if (op < 0) body
    else {
      val id = spans.length
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Run operation `n` traced: its spans carry `n`, its Spark jobs the
    * job group `op-n`. */
  def traced[T](n: Int, kind: String)(body: => T): T = {
    val sc = spark.sparkContext
    op = n
    ops.synchronized(ops(n) = new OpSpark)
    sc.setJobGroup(s"op-$n", kind, interruptOnCancel = false)
    try span(kind)(body)
    finally {
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      sc.clearJobGroup()
      op = -1
    }
  }

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.drop(3).toInt)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      opOf(e.properties).foreach { n =>
        ops.synchronized {
          ops.get(n).foreach(_.jobs += 1)
          e.stageIds.foreach(stageOp(_) = n)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      ops.synchronized {
        stageOp.get(e.stageInfo.stageId).flatMap(ops.get).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      ops.synchronized {
        for (n <- stageOp.get(e.stageId); s <- ops.get(n); m <- Option(e.taskMetrics)) {
          s.taskMs += m.executorRunTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  private object Plans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val n = op
      if (n >= 0) {
        val plan = qe.tracker.phases.values.map(_.durationMs).sum
        val scans = collect(qe.executedPlan) { case s: FileSourceScanExec => s }
        def metric(s: FileSourceScanExec, k: String): Long =
          s.metrics.get(k).map(_.value).getOrElse(0L)
        ops.synchronized(ops.get(n).foreach { s =>
          s.planMs += plan
          s.execMs += durationNs / 1e6
          s.scanFiles += scans.map(metric(_, "numFiles")).sum
          s.scanBytes += scans.map(metric(_, "filesSize")).sum
        })
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
  }

  def stop(): Unit = if (enabled) {
    spark.listenerManager.unregister(Plans)
    spark.sparkContext.removeSparkListener(Jobs)
  }

  /** Write every span as one JSON line (name, start, end, parent, op). */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.filter(_ != null).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }

  /** Durations (ms) of every recorded span named `name`. */
  def durations(name: String): Seq[Double] =
    spans.iterator.filter(s => s != null && s.name == name).map(_.ms).toSeq
}

/** Host and JVM noise references, recorded beside the metrics and never
  * used to adjust them. */
object Host {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU time of the whole process (every thread, GC and JIT included). */
  def processCpuNs: Long = os.getProcessCpuTime
  /** CPU time of the JVM's Java threads (client, Spark executors and
    * services; not GC or JIT compiler threads): the engine's own work.
    * CPU steal by other tenants of the host does not inflate it. */
  def cpuNs: Long = threads.getThreadCpuTime(threads.getAllThreadIds)
    .iterator.filter(_ > 0).sum
  def jitMs: Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  /** A fixed single-threaded integer kernel, timed: its drift between
    * runs is the host's, since the work never changes. */
  def calibrateMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42) println("") // keep the loop live
    (System.nanoTime() - t0) / 1e6
  }

  /** Heap in use after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
