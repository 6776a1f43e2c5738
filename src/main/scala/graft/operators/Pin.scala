package graft.operators

import org.apache.spark.sql.{classic, DataFrame, SaveMode}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graftbridge.CacheBridge
import org.apache.spark.storage.StorageLevel

/** The one place that stores, checkpoints or frees a frame (PinSpec scans
  * `graft` for any other): operator frames reused by several jobs, served
  * pages, micro-batches, buffered batches and hot-tier slices.
  *
  * Two choices: when — eager [[apply]], or [[lazily]] / [[lazilyAll]],
  * stored by the first consuming job; and form — deserialized rows, or
  * compressed column buffers through [[columns]] (read through an
  * `InMemoryRelation`, column-pruned).
  *
  * Every pin is stored at `MEMORY_AND_DISK` (spilled, never evicted), and
  * a lost block fails the read instead of recomputing the upstream plan,
  * so a pinned frame's rows never change. No pin is registered in the
  * session's `CacheManager`, so Spark never substitutes one into another
  * query; `ContextCleaner` frees its blocks once the driver drops the
  * frame, and [[release]] at once. There are no reliable checkpoints:
  * nothing here needs a pin to outlive an executor. A pin keeps the
  * width its plan produced ([[Width]]). */
object Pin {
  /** The name of every RDD [[lazily]] checkpoints. */
  val LazyName = "Pin.lazily"

  def apply(df: DataFrame): DataFrame = df.localCheckpoint()

  /** The lineage cut of [[apply]], stored inside the FIRST consuming job
    * instead of a blocking job of its own (r15; one serial job per eager
    * pin was pure scheduling latency at gate scale, VERDICT r14 #4/#5).
    *
    * ONLY safe when every consumer FULLY materializes the frame
    * (aggregations, broadcast builds, shuffle/equi joins, a probe of every
    * partition such as [[Width.exceedsCount]]): a short-circuiting
    * consumer (isEmpty / limit / take) computes a partial partition set,
    * a later job computes the rest, and a nondeterministic upstream then
    * breaks the exactly-once-per-row contract. Keep [[apply]] for frames
    * a greedy or limit-style loop consumes. PinSpec finds each lazy pin's
    * first consumer by [[LazyName]]. */
  def lazily(df: DataFrame): DataFrame = {
    val pinned = df.localCheckpoint(eager = false)
    pinned.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.setName(LazyName)
      case _ =>
    }
    pinned
  }

  /** [[lazily]] over several INDEPENDENT frames, constructed from parallel
    * driver threads: a lazy checkpoint still runs its plan's intermediate
    * shuffle stages at construction (AQE resolves the final plan eagerly),
    * so built one after another N pins serialize N rounds of map-stage
    * jobs, while built concurrently their stages fill each other's idle
    * cores. Each thread runs with the caller's active session and local
    * properties (job group, description, scheduler pool), so its jobs stay
    * cancellable with, and attributed to, the caller's job group. */
  def lazilyAll(dfs: Seq[DataFrame]): Seq[DataFrame] = {
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    try dfs.map { df =>
      SQLExecution.withThreadLocalCaptured(
        df.sparkSession.asInstanceOf[classic.SparkSession], pool)(lazily(df))
    }.map { f =>
      try f.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }
    finally pool.shutdown()
  }

  /** Eager pin of `df` as compressed column buffers, and its row count,
    * both from one job: a `noop` write reads every row through the
    * buffers and keeps none, and the buffers count the rows they store.
    * The pinned frame keeps neither `df`'s plan nor the rows it held. */
  def columns(df: DataFrame): (DataFrame, Long) = {
    val (pinned, rows) = CacheBridge.inMemoryColumnar(df, StorageLevel.MEMORY_AND_DISK)
    pinned.write.format("noop").mode(SaveMode.Overwrite).save()
    (pinned, rows.value)
  }

  /** Free the blocks of a pin made here, now rather than when the driver
    * collects the frame. Only for a frame nobody else holds: a read of a
    * released pin fails (its blocks are gone and it never recomputes). */
  def release(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case r: InMemoryRelation => r.cacheBuilder.clearCache()
    case _ =>
  }
}
