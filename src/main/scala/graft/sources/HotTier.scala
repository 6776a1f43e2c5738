package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftClock
import graft.operators.Pin

/** S5: the hot tier — a fast-path serving layer for recent data
  * (reference `/root/reference/src/hot_tier.rs`), re-expressed for Spark.
  *
  * The reference demotes freshly-flushed parquet into mmap'd Arrow-IPC
  * files on local NVMe and splices them into the scan as a `MemorySource`
  * leg. Here a slice is the resolved view restricted to a retention
  * window, pinned by the write path as compressed column buffers
  * ([[graft.operators.Pin.columns]]); it serves every in-window read
  * without commit listing, parquet IO or the dedup window. A slice lives
  * outside the session's `CacheManager`: only the frames [[read]] hands
  * out read it, and Spark never substitutes it into another query. What
  * carries over from the reference is the *policy* layer:
  *
  *  - **Write-side population** ([[demote]]): the flush/commit path feeds
  *    the tier, never a query; a read finding no valid slice serves cold.
  *    So a slice CAN die without serving a query, which the waste
  *    accounting below measures.
  *  - **Multiple retention windows** (`hot_tier.rs:299-738`): one slice
  *    per retention; a read is served by the NARROWEST slice covering its
  *    lookback, so a 6 h dashboard never scans 48 h of rows. Narrower
  *    slices are built FROM the widest one, a filter instead of a parquet
  *    read.
  *  - **Lookback gate** (`hot_tier.rs:171-201`): a scan reaching deeper
  *    than `lookbackWindows × max-retention` skips the tier — the hot leg
  *    would shave a sliver off a scan dominated by the cold bulk. A
  *    multiple, so a "last 6h" dashboard against 6 h retention (a few
  *    micros over by plan time) still qualifies. An unbounded lookback
  *    always skips; retention 0 with no extra windows turns the tier off.
  *  - **DML invalidation**: a slice snapshots one committed version; ANY
  *    mutation drops every slice (the reference's "demoted file is a
  *    pre-DML snapshot" rule), checked on EVERY read. A dropped slice
  *    whose frame never left the tier (never served, never the source of
  *    a narrower build) is released at once, as are oversize builds and
  *    builds raced by DML. A handed-out slice is only forgotten, and
  *    `ContextCleaner` frees it once no reader holds the frame: a released
  *    columnar block fails the read instead of recomputing, so releasing
  *    it would fail a reader racing the demotion (e.g. streaming ingest).
  *  - **Adaptive suppression** (`hot_tier.rs:115-157`): under continuous
  *    rewrites demotion builds slices that die unread. Once `probeBuilds`
  *    builds accumulate and ≥ `wastePct`% of them died unread, demotion
  *    stops for `cooldownMicros` (reads serve cold); the re-probe after
  *    it is a single build, so a table whose churn stopped recovers.
  *  - **Budget ceiling**: a slice over `maxHotRows` is dropped rather than
  *    kept — the reference's `leg_budget_bytes`, in rows because a pin's
  *    size is only known once built.
  *
  * Locking: [[demote]] builds slices (Spark jobs) OUTSIDE the tier
  * monitor — it snapshots the version under the lock, builds unlocked,
  * then installs only if that version is still current (a build raced by
  * DML counts as wasted). Reads never stall behind a demotion.
  *
  * `hot_served` (and the served count behind waste conviction) counts a
  * frame when it is HANDED OUT, not when it executes as in the reference:
  * a plan-time count keeps the read path free of listener plumbing.
  *
  * Every path resolves the same merge-on-read view; the tier only chooses
  * which physical plan serves it, so reads are correct in every state.
  */
class HotTier(
    val table: GraftTable,
    /** Event-time width of the primary hot slice in micros; 0 (with no
      * [[extraRetentions]]) disables the tier. */
    val retentionMicros: Long,
    /** Additional retention windows, each pinned as its own slice — the
      * reference's per-bucket demotion granularity. */
    val extraRetentions: Seq[Long] = Nil,
    /** How many of the WIDEST retention windows deep a scan may reach and
      * still consult the tier (reference `LOOKBACK_WINDOWS = 2`). */
    val lookbackWindows: Long = 2L,
    /** Builds before the first waste conviction (reference
      * `PROBE_DEMOTES = 4`): one unlucky DML must not cost a healthy
      * table its tier. */
    val probeBuilds: Int = 4,
    /** Probe size after a conviction (reference `REPROBE_DEMOTES = 1`). */
    val reprobeBuilds: Int = 1,
    /** Share of a probe's builds that must die unread to convict
      * (reference `WASTE_PCT = 75`). */
    val wastePct: Int = 75,
    /** How long a convicted table stops building (reference
      * `SUPPRESSION_COOLDOWN` = 30 min). */
    val cooldownMicros: Long = 30L * 60 * 1000000,
    /** Row ceiling for one pinned slice (`leg_budget_bytes` analogue). */
    val maxHotRows: Long = 10000000L,
    /** Partitions a pinned slice is compacted to at build time. The
      * resolved view's dedup window leaves shuffle-partition-count
      * partitions behind; serving a dashboard slice through dozens of
      * mostly-empty cached partitions pays task-scheduling overhead per
      * read. Demotion eats one repartition (off the read path — the
      * reference likewise pays at demotion to mmap ONE IPC file per
      * bucket) so every in-window read schedules a handful of tasks. */
    val slicePartitions: Int = 8) {

  private val tsCol = table.meta.timeColumn

  /** Active retention windows, widest first. */
  private val retentions: Seq[Long] =
    (retentionMicros +: extraRetentions).filter(_ > 0).distinct
      .sorted(Ordering[Long].reverse)

  // `lent`: the frame has left the tier (served, or the source of a
  // narrower build), so only ContextCleaner may free its blocks
  private final class Slice(val version: Int, val cutoff: Long,
      val df: DataFrame) { var served = 0L; var lent = false }

  // pinned slices keyed by retention window (each snapshots one version)
  private var built: Map[Long, Slice] = Map.empty

  // suppression state (per-table in the reference; a HotTier wraps one table)
  private var windowBuilds = 0
  private var windowWasted = 0
  private var probeSize = probeBuilds
  private var suppressedUntil = 0L

  // serializes demotions (the flush cadence is single-writer anyway);
  // `this` guards only the quick state reads/writes, never a Spark job
  private val demoteLock = new Object

  // observability counters (the reference exposes these via timefusion_stats)
  private val ctr = scala.collection.mutable.LinkedHashMap(
    "builds" -> 0L, "wasted_builds" -> 0L, "hot_served" -> 0L,
    "cold_served" -> 0L, "suppressions" -> 0L, "oversize_skips" -> 0L,
    "suppressed_skips" -> 0L)
  def stats: Map[String, Long] = synchronized {
    ctr.toMap +
      ("suppressed" -> (if (suppressed(GraftClock.nowMicros)) 1L else 0L)) +
      ("slices" -> built.size.toLong)
  }

  /** Must a scan reaching `lookbackMicros` into the past skip the hot leg?
    * `None` = unbounded = always skip; tier off (no retentions) skips all. */
  def skipForLookback(lookbackMicros: Option[Long]): Boolean =
    lookbackMicros.forall(d =>
      retentions.isEmpty || d > retentions.head * lookbackWindows)

  private def suppressed(now: Long): Boolean = now < suppressedUntil

  private def tsLit(micros: Long) =
    expr(s"cast(timestamp_micros(${micros}L) as timestamp_ntz)")

  /** Write-path population hook: pin the current version's retention
    * window(s). Call after a flush/commit (e.g. on the streaming-ingest
    * cadence, next to the maintenance sweep). No-ops when the tier is
    * off, every slice is already current, or the table is under a waste
    * conviction. Returns true when at least one new slice was pinned. */
  def demote(): Boolean = demoteLock.synchronized {
    if (retentions.isEmpty) return false
    val now = GraftClock.nowMicros
    val v = table.currentVersion()
    // snapshot + policy decisions under the monitor; NO Spark job yet
    val missing: Seq[Long] = synchronized {
      invalidateIfStale(v)
      convictIfWasteful(now)
      if (suppressed(now)) { ctr("suppressed_skips") += 1; return false }
      retentions.filterNot(built.contains)
    }
    if (missing.isEmpty) return false // already current

    // materialize OUTSIDE the monitor — reads proceed (cold) meanwhile.
    // Widest window first; narrower windows filter the widest pinned
    // frame instead of re-reading parquet (subset by construction) —
    // including a widest slice ALREADY pinned for this version that
    // covers a missing window (its staleness was just checked under the
    // monitor; lent, so a read invalidating it mid-build cannot release it)
    var widest: Option[(Long, DataFrame)] = // (cutoff, frame)
      synchronized(built.values.toSeq.sortBy(_.cutoff).headOption
        .filter(s => missing.exists(now - _ >= s.cutoff))
        .map { s => s.lent = true; (s.cutoff, s.df) })
    var staged = List.empty[(Long, Long, DataFrame, Long)] // (ret, cutoff, df, n)
    missing.sorted(Ordering[Long].reverse).foreach { ret =>
      val cutoff = now - ret
      val src = widest match {
        case Some((wc, wdf)) if wc <= cutoff => wdf
        case _ => table.readResolved()
      }
      val (df, n) = Pin.columns(src.filter(col(tsCol) >= tsLit(cutoff))
        .repartition(math.max(1, slicePartitions)))
      if (n > maxHotRows) {
        Pin.release(df)
        synchronized {
          windowBuilds += 1; ctr("builds") += 1
          // an oversize build never pays off; it counts toward waste
          windowWasted += 1
          ctr("oversize_skips") += 1; ctr("wasted_builds") += 1
        }
      } else {
        if (widest.forall(_._1 > cutoff)) widest = Some((cutoff, df))
        staged ::= ((ret, cutoff, df, n))
      }
    }
    if (staged.isEmpty) return false

    // install under the monitor, but only if the snapshot is still the
    // table's current version — a DML that landed during the build makes
    // every staged slice a pre-DML snapshot (dead on arrival)
    val stillCurrent = table.currentVersion() == v
    synchronized {
      staged.foreach { case (ret, cutoff, df, _) =>
        windowBuilds += 1; ctr("builds") += 1
        if (stillCurrent) built += ret -> new Slice(v, cutoff, df)
        else {
          Pin.release(df)
          windowWasted += 1; ctr("wasted_builds") += 1
        }
      }
    }
    stillCurrent
  }

  /** The resolved view of rows with event time in `[now - lookback, ∞)`
    * (full view when `lookbackMicros` is None), served through the
    * NARROWEST pinned slice that covers the lookback when the gate allows
    * one; the cold resolved scan otherwise. A lookback deeper than every
    * slice (but inside the gate) unions the widest slice with a cold gap
    * leg whose date filter stays strictly below the slice cutoff, so its
    * partitions prune to the gap the slice doesn't cover. */
  def read(lookbackMicros: Option[Long]): DataFrame = synchronized {
    val now = GraftClock.nowMicros
    val since = lookbackMicros.map(now - _)
    def cold: DataFrame = {
      ctr("cold_served") += 1
      since.map(s => table.readResolved().filter(col(tsCol) >= tsLit(s)))
        .getOrElse(table.readResolved())
    }
    // staleness check BEFORE the lookback early-return: a deep/unbounded
    // read must still unpin a DML-invalidated slice, or its pinned
    // storage rides until the next demotion despite being unservable
    if (built.nonEmpty) invalidateIfStale(table.currentVersion())
    if (skipForLookback(lookbackMicros)) return cold
    if (built.isEmpty) return cold
    val s = since.get // gate guarantees a bounded lookback here
    // narrowest covering slice = the LARGEST cutoff still ≤ since
    built.values.filter(_.cutoff <= s).toSeq.sortBy(-_.cutoff).headOption match {
      case Some(sl) =>
        serve(sl)
        // at exactly the slice's cutoff the filter admits every row —
        // serve the cached frame bare so the plan is a pure InMemory scan
        if (s == sl.cutoff) sl.df
        else sl.df.filter(col(tsCol) >= tsLit(s))
      case None =>
        // deeper than every slice: widest slice + cold gap leg
        val sl = built.values.toSeq.minBy(_.cutoff)
        serve(sl)
        val gap = table.readResolved()
          .filter(col(tsCol) >= tsLit(s) && col(tsCol) < tsLit(sl.cutoff))
        gap.unionByName(sl.df)
    }
  }

  private def serve(sl: Slice): Unit = {
    sl.served += 1; sl.lent = true
    ctr("hot_served") += 1
  }

  private def drop(sl: Slice): Unit = if (!sl.lent) Pin.release(sl.df)

  private def invalidateIfStale(v: Int): Unit = {
    val (live, dead) = built.partition(_._2.version == v)
    dead.values.foreach { sl =>
      drop(sl)
      if (sl.served == 0) { windowWasted += 1; ctr("wasted_builds") += 1 }
    }
    built = live
  }

  private def convictIfWasteful(now: Long): Unit =
    if (windowBuilds >= probeSize) {
      if (windowWasted * 100L >= wastePct.toLong * windowBuilds) {
        suppressedUntil = now + cooldownMicros
        ctr("suppressions") += 1
        probeSize = reprobeBuilds // re-probe with a single cheap build
      }
      // lifting/convicting resets the window either way: the next probe is
      // judged only on what the table does from here
      windowBuilds = 0; windowWasted = 0
    }

  /** Drop every pinned slice (shutdown / external memory pressure); a
    * slice whose frame was handed out is left to `ContextCleaner`. */
  def release(): Unit = synchronized {
    built.values.foreach(drop)
    built = Map.empty
  }
}
