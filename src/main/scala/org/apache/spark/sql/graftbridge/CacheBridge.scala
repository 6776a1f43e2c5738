package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.columnar.CachedBatch
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, DefaultCachedBatchSerializer, InMemoryRelation}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

/** Bridge to Spark's in-memory columnar relation, which is `private[sql]`
  * API. Lives under the `org.apache.spark.sql` package tree like
  * [[ColumnBridge]] (standard extension-library shim).
  */
object CacheBridge {

  /** `df`'s rows as compressed column buffers (Spark's default cached
    * batch format), stored at `level` by the first action over the
    * returned frame, with the count of the rows the buffers store (filled
    * by that action). The frame keeps the buffers and nothing of `df`: the
    * buffers are local-checkpointed, so once that action has stored them
    * their lineage back to `df`'s plan is cut, the plan and any rows it
    * holds can be collected, and a lost block fails the read instead of
    * recomputing `df`. Unlike `persist()`, nothing is registered in the
    * session's `CacheManager`: `ContextCleaner` frees the blocks once no
    * frame references them, and the relation's `clearCache` frees them at
    * once. `level` must use disk, as local checkpoints need (a block
    * spills, never is evicted). */
  def inMemoryColumnar(df: DataFrame, level: StorageLevel): (DataFrame, LongAccumulator) = {
    require(level.useDisk, s"$level cannot hold a local checkpoint")
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val qe = ds.queryExecution
    val plan = qe.executedPlan
    // the frame's own output, not the physical plan's attributes (which
    // can carry planner-only field metadata, e.g. a variant column's
    // extraction context), as the cache manager exposes for a cached
    // fragment; both the relation and its stand-in plan share it
    val output = qe.analyzed.output
    val buffers = ds.sparkSession.withActive(new ColumnBuffers(level, plan,
      PinnedScan(output, plan.outputPartitioning, plan.outputOrdering)))
    (classic.Dataset.ofRows(ds.sparkSession, InMemoryRelation(output,
      buffers, qe.optimizedPlan.outputOrdering, qe.optimizedPlan.stats)),
      buffers.rowCountStats)
  }

  /** The cached-relation builder over `source`'s rows that lets go of
    * `source` once it has built the buffers' lineage; `shape` stands in for
    * it wherever the relation asks for the cached plan (output,
    * partitioning, explain). */
  private final class ColumnBuffers(level: StorageLevel,
      private var source: SparkPlan, shape: SparkPlan)
      extends CachedRDDBuilder(new DefaultCachedBatchSerializer, level, shape,
        None, LocalRelation(shape.output)) {
    private var buffers: RDD[CachedBatch] = _

    override def cachedColumnBuffers: RDD[CachedBatch] = synchronized {
      if (buffers == null) {
        // locals, so the closure below holds the accumulators, not this
        // builder; they give the relation its size once the buffers load
        val (bytes, rows) = (sizeInBytesStats, rowCountStats)
        val built = serializer.convertInternalRowToCachedBatch(
          source.execute(), source.output, level, source.conf)
        buffers = built.mapPartitionsInternal(_.map { b =>
          bytes.add(b.sizeInBytes); rows.add(b.numRows); b
        }).persist(level).localCheckpoint()
        source = null
      }
      buffers
    }

    override def isCachedColumnBuffersLoaded: Boolean =
      synchronized(buffers != null && buffers.isCheckpointed)

    // the inherited clearCache frees the builder's own buffers, which
    // these never are; the buffers stay referenced, so a later read fails
    // on the missing blocks instead of rebuilding from a dropped source
    override def clearCache(blocking: Boolean): Unit = synchronized {
      if (buffers != null) buffers.unpersist(blocking)
    }
  }

  /** The shape of a plan whose rows live in [[ColumnBuffers]]; it is never
    * executed (the relation reads the buffers). */
  private case class PinnedScan(output: Seq[Attribute],
      override val outputPartitioning: Partitioning,
      override val outputOrdering: Seq[SortOrder]) extends LeafExecNode {
    override protected def doExecute(): RDD[InternalRow] =
      throw new IllegalStateException("pinned rows are read from their buffers")
  }
}
