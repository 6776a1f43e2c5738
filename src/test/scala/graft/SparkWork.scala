package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The Spark work one block ran: the Dataset actions that finished (by
  * name, e.g. `count`, `collect`, `localCheckpoint`), jobs started with
  * their job groups, tasks ended, bytes and records read from storage,
  * and completed stages that scanned files, with the task count of each. */
final case class SparkWork(actions: Seq[String], jobs: Int,
    jobGroups: Seq[String], tasks: Int, inputBytes: Long, recordsRead: Long,
    fileScanStageTasks: Seq[Int]) {
  def fileScanStages: Int = fileScanStageTasks.size
}

object SparkWork {
  /** Run `body` and count the work of everything that ran meanwhile. The
    * listener bus is drained before and after, so no event of earlier
    * work lands in the count and every event of `body` does. */
  def of[T](spark: SparkSession)(body: => T): (T, SparkWork) = {
    val sc = spark.sparkContext
    drain(spark)
    val counter = new Counter
    sc.addSparkListener(counter)
    spark.listenerManager.register(counter.Actions)
    try {
      val out = body
      drain(spark)
      (out, counter.work)
    } finally {
      spark.listenerManager.unregister(counter.Actions)
      sc.removeSparkListener(counter)
    }
  }

  /** Deliver every listener event posted so far, to `SparkListener`s and
    * `QueryExecutionListener`s alike. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)

  private final class Counter extends SparkListener {
    private var actions = Vector.empty[String]
    private var jobs = Vector.empty[String]
    private var tasks = 0
    private var inputBytes = 0L
    private var recordsRead = 0L
    private var fileScanStageTasks = Vector.empty[Int]

    def work: SparkWork = synchronized(SparkWork(actions, jobs.size, jobs,
      tasks, inputBytes, recordsRead, fileScanStageTasks))

    object Actions extends QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        Counter.this.synchronized(actions :+= action)
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
        Counter.this.synchronized(actions :+= action)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs :+= String.valueOf(
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        inputBytes += m.inputMetrics.bytesRead
        recordsRead += m.inputMetrics.recordsRead
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          fileScanStageTasks :+= e.stageInfo.numTasks
      }
  }
}
