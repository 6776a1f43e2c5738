package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The one parallelism policy of the operators.
  *
  * The rule: an explicit width only where the work per COMPRESSED byte is
  * heavy — an expensive per-row kernel, or a join whose output fans out
  * far beyond its input. AQE sizes reduce tasks by compressed shuffle
  * bytes and only ever coalesces, so it folds exactly those stages onto
  * one or two tasks while the other cores idle. Everywhere else, AQE
  * sizes.
  *
  * Which width:
  *  - [[kernel]] for per-row kernels and heavy-per-byte reduces:
  *    [[forKernel]] (the token-set, shingle, MinHash, SimHash and
  *    containment inputs), containment's rarity aggregate, SimHash's
  *    banded join and pair distinct, edit distance's key expansion and
  *    semantic dedup's corpus pin, and the corpus loaders in
  *    [[graft.tables.Tables]];
  *  - [[fanOut]] for the two fan-out stages, the Jaccard candidate join
  *    and connected components' symmetric edges — both only [[atScale]],
  *    since below [[ScaleGateRows]] the finer tasks are pure scheduling
  *    overhead.
  *
  * Every explicit width goes through [[keyed]]: a user-specified
  * partition count is exempt from AQE coalescing, while `repartition(col)`
  * alone is coalesced right back to one task (the q115 lesson). */
object Width {

  /** The session shuffle width: the configured kernel parallelism. A
    * graft session sets it to its task slots ([[graft.Autotune]]). */
  def kernel(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** `max(kernel, AQE initial partitions)`: never narrower than the
    * exchange it replaces starts out. */
  def fanOut(spark: SparkSession): Int =
    math.max(kernel(spark), spark.conf
      .getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      .map(_.toInt).getOrElse(0))

  /** The probes measured zero spill at AQE's sizing up to 50k docs /
    * 9.4M edges, and spill from 500k docs / 94M edges on. */
  val ScaleGateRows = 100000L

  def atScale(df: DataFrame): Boolean = exceedsCount(df, ScaleGateRows)

  /** True iff `df` holds MORE than `cap` rows: each partition stops
    * counting at cap+1, so no full count() job runs on a frame whose size
    * only matters as over/under. Exact for a gate — it undercounts only
    * when some partition hit its cap, which alone exceeds `cap`.
    *
    * `df` must be pinned or scan-backed: `toRdd` on an exchange-bearing
    * (AQE-wrapped) plan runs its shuffle stages, which the caller's own
    * query then runs again. On a [[Pin.lazily]] frame the probe is the
    * pin's materializing job. */
  def exceedsCount(df: DataFrame, cap: Long): Boolean = {
    require(!df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
      "exceedsCount needs a pinned or scan-backed frame: on an " +
        "exchange-bearing plan the probe runs shuffle stages the caller runs again")
    val bound = cap + 1
    df.queryExecution.toRdd.mapPartitions { it =>
      var c = 0L
      while (it.hasNext && c < bound) { it.next(); c += 1 }
      Iterator.single(c)
    }.collect().sum > cap
  }

  /** `df` at exactly `width` partitions, hashed on `keys` (round-robin
    * when none). Hashed on a subset of the next join's or aggregate's
    * keys, it REPLACES that operator's exchange instead of adding one. */
  def keyed(df: DataFrame, width: Int, keys: Column*): DataFrame =
    if (keys.isEmpty) df.repartition(width) else df.repartition(width, keys: _*)

  /** `df` widened to [[kernel]] before an expensive per-row kernel, when
    * its plan parallelism is below it. Kernel cost scales with rows, but
    * the parallelism it inherits scales with input BYTES: a one-file
    * gate-scale corpus ran the whole kernel on ONE task (two ~5 s
    * single-task signature stages in q26 at sf0.1). At fleet scale a
    * corpus scan is thousands of splits wide and this is a no-op. */
  def forKernel(df: DataFrame, key: Column): DataFrame = {
    val width = kernel(df.sparkSession)
    df.queryExecution.executedPlan match {
      // Exchange-bearing: `toRdd` would run its stages just to read a
      // width AQE decides at runtime anyway, and these small-compressed
      // frames are the ones AQE coalesces below kernel width — widen.
      case _: AdaptiveSparkPlanExec => keyed(df, width, key)
      // scan-backed: the RDD chain builds lazily, no job
      case _ if df.queryExecution.toRdd.getNumPartitions >= width => df
      case _ => keyed(df, width, key)
    }
  }
}
