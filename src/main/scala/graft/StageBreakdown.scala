package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage cost breakdown for one SparkEntry query — the measurement
  * companion to the scale probe's per-query aggregates: which STAGE owns
  * the shuffle volume/spill the probe reports. Prints one line per stage
  * (shuffle write/read MB + records, input rows, spill) sorted by shuffle
  * write, with the stage's callsite so the line maps back to source.
  *
  * Usage: `runMain graft.StageBreakdown <queryName>`
  * (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS). The [[StageBreakdown.Collector]]
  * is also attached to every [[ScaleProbe]] leg, whose artifact carries
  * each leg's top stages — the stage-level attribution that named the
  * q26 residual spill as the output sort, now recorded per run instead
  * of reconstructed by hand. */
object StageBreakdown {

  final case class St(id: Int, name: String, site: String, tasks: Int,
      ms: Long, inRows: Long, swMb: Double, swRows: Long, srMb: Double,
      spillMb: Double)

  /** Reusable stage-metrics listener: accumulate, settle, rank. */
  final class Collector extends SparkListener {
    private val stages = ArrayBuffer.empty[St]
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.synchronized {
        stages += St(i.stageId, i.name.take(60),
          (i.name.take(40) + " | " +
            i.details.linesIterator.filterNot(_.contains("graft.Stage"))
              .find(_.contains("graft")).getOrElse("").trim).take(130),
          i.numTasks,
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
          m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      }
    }
    def reset(): Unit = stages.synchronized(stages.clear())
    /** Wait for the async listener bus to stop moving, then return all
      * stages seen since the last reset. */
    def settled(): Seq[St] = {
      var last = -1; var spins = 0
      while (stages.synchronized(stages.size) != last && spins < 50) {
        last = stages.synchronized(stages.size); Thread.sleep(100); spins += 1
      }
      stages.synchronized(stages.toList)
    }
    /** The top-k stages by shuffle write (spill as tiebreak) — the rows
      * a scale artifact carries per leg. */
    def top(k: Int): Seq[St] =
      settled().sortBy(s => (-s.swMb, -s.spillMb)).take(k)
  }

  /** Minimal JSON string escape for the stage-site free text. */
  def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }

  def stageJson(s: St): String =
    f"""{"stage":${s.id},"ms":${s.ms},"tasks":${s.tasks},""" +
      f""""in_rows":${s.inRows},"shuffle_write_mb":${s.swMb}%.1f,""" +
      f""""shuffle_write_rows":${s.swRows},"shuffle_read_mb":${s.srMb}%.1f,""" +
      f""""spill_mb":${s.spillMb}%.1f,"site":"${jsonEscape(s.site)}"}"""

  def main(args: Array[String]): Unit = {
    // comma-separated list: amortizes JVM/session startup over a profile
    // sweep; each query gets a warm (unrecorded) run first so the
    // recorded stages measure steady state, not codegen/JIT warmup
    val names = args.headOption.getOrElse("q26_minhash_lsh")
      .split(",").toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()

    val collector = new Collector
    spark.sparkContext.addSparkListener(collector)
    // SPARK_GRAFT_EXPLAIN_FINAL=1: the POST-AQE executed plan — join
    // strategies and exchanges as actually run, not as first planned
    // (captured from the write's own QueryExecution after it finishes)
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN_FINAL"))
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(fn: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              ns: Long): Unit =
            System.err.println(qe.executedPlan.toString.take(30000))
          override def onFailure(fn: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              e: Exception): Unit = ()
        })
    val warm = names.size > 1 || sys.env.contains("SPARK_GRAFT_WARM")
    names.foreach { name =>
      if (warm) { // unrecorded warm pass: steady state, not JIT warmup
        try SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"warm $name: $e") }
        collector.reset()
      }
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val stages = collector.settled()
      collector.reset()
      println(f"== $name on $dir: $sec%.1f s, ${stages.size} stages ==")
      println(f"${"stage"}%6s ${"ms"}%8s ${"tasks"}%5s ${"inRows"}%12s " +
        f"${"shufW MB"}%9s ${"shufW rows"}%12s ${"shufR MB"}%9s " +
        f"${"spill MB"}%9s  site")
      stages.sortBy(-_.swMb).foreach { s =>
        println(f"${s.id}%6d ${s.ms}%8d ${s.tasks}%5d ${s.inRows}%12d " +
          f"${s.swMb}%9.1f ${s.swRows}%12d ${s.srMb}%9.1f " +
          f"${s.spillMb}%9.1f  ${s.site}")
      }
      val totW = stages.map(_.swMb).sum
      println(f"total shuffle write ${totW}%.1f MB, " +
        f"spill ${stages.map(_.spillMb).sum}%.1f MB")
    }
    spark.stop()
  }
}
