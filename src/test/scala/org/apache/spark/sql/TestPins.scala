package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Test access to `private[sql]` state: the session's `CacheManager`, the
  * in-memory column-buffer relations a frame reads, and the SQL status
  * store. */
object TestPins {
  /** No plan is registered as cached (`persist`/`cache`) in the session. */
  def cacheManagerIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** SQL executions the session's status store holds. */
  def sqlExecutions(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sharedState.statusStore.executionsCount()

  /** Each in-memory relation `df` reads: the plan it keeps as its cached
    * plan, and the RDD of its column buffers. */
  def pins(df: DataFrame): Seq[(SparkPlan, RDD[_])] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.collect {
      case r: InMemoryRelation => (r.cachedPlan, r.cacheBuilder.cachedColumnBuffers)
    }
}
