package graft

import org.apache.spark.sql.SparkSession

/** Host-aware derivation of the engine's memory/parallelism knobs, with
  * EXPLICIT-OVERRIDE-WINS semantics and a logged budget audit — the
  * Spark-native analogue of the reference's startup auto-tuner
  * (`/root/reference/src/autotune.rs:1-319`): derive every knob from ONE
  * detection of host cores/heap, never override a value the operator set,
  * and make the final committed-vs-headroom split visible instead of
  * letting a hand-pinned combination discover oversubscription as an OOM
  * kill under load.
  *
  * What Spark already covers and what it doesn't: executor execution and
  * storage memory are governed by the unified memory manager (no knob to
  * derive — `spark.memory.fraction`'s default split is the well-tested
  * posture). The knobs that can still oversubscribe a host live OUTSIDE
  * that pool, and those are the ones derived here:
  *
  *  - `spark.sql.shuffle.partitions` — derived from the session's task
  *    slots ([[GraftSession.defaultCpus]]: `SPARK_GRAFT_CPUS`, else the
  *    detected cores). NOTE the same container caveat as the reference's
  *    `detect_cores`: `availableProcessors` honors cpuset pinning but NOT
  *    a CFS quota (`docker --cpus`), so a quota-throttled container should
  *    set `SPARK_GRAFT_CPUS` explicitly.
  *  - `spark.sql.autoBroadcastJoinThreshold` — each broadcast relation is
  *    rebuilt on the driver and resident per executor. Measured (see
  *    [[derive]]): raising it with heap REGRESSES reads under concurrent
  *    ingest ~40% with no analytics win, so the derivation keeps Spark's
  *    10 MB default and the knob stays an explicit operator override.
  *  - WAL buffer cap ([[graft.sources.BufferedWriteLayer]] default
  *    `maxBufferedRows`) — buffered batches are pinned as compressed
  *    in-memory column buffers in executor storage; derived so the
  *    buffer's heap at the 1.2× recovery ceiling the audit charges stays
  *    within 8% of heap (a crashed predecessor's WAL replay may
  *    reconstruct up to the cap before the auto-flush fires), at a
  *    bytes/row figure that counts all the heap a buffered batch keeps,
  *    not just its block.
  *  - connected-components driver fast-path bound
  *    (`spark.graft.cc.driverEdgeLimit`) — charged at the FULL driver
  *    footprint of the fast path, not just the collect: the collected Row
  *    array (~96 B/edge with boxing), the union–find HashMap (≤2 boxed
  *    Long entries per edge), the label-tuple seq, and the broadcast
  *    label table `driverComponents` builds regardless of
  *    `autoBroadcastJoinThreshold` (~512 B/edge peak in total), capped at
  *    ~2% of heap — so the forced broadcast is bounded by the same audit
  *    line as the collect instead of riding uncharged beside it.
  *
  * Precedence per knob: environment variable > already-set Spark conf >
  * derived value; the shuffle width has no env of its own, it follows the
  * session's task slots. [[install]] logs one line naming exactly which
  * knobs were derived vs respected — the reference's "logged once at
  * startup so ops can see exactly what was chosen". One documented edge:
  * "operator set" is detected as "the resolved conf differs from Spark's
  * own default", so an operator deliberately pinning a knob AT the Spark
  * default (e.g. `spark.sql.autoBroadcastJoinThreshold=10m`) is
  * indistinguishable from an unset knob and will be overridden by the
  * derived value — pin through the env override (`SPARK_GRAFT_*`) when
  * the default itself is the intended choice.
  */
object Autotune {

  private val MB = 1024L * 1024

  /** One detection, shared by every derivation — two readings drifting
    * apart is the failure class the reference's budget tree exists to
    * kill. */
  final case class Host(cores: Int, heapBytes: Long)

  def detectHost(): Host =
    Host(Runtime.getRuntime.availableProcessors(),
      Runtime.getRuntime.maxMemory())

  /** The derived knob set for a host. Pure function — specs pin the
    * clamps and monotonicity without a SparkSession. */
  final case class Knobs(shufflePartitions: Int,
      broadcastThresholdBytes: Long, maxBufferedRows: Long,
      ccDriverEdgeLimit: Long, initialShufflePartitions: Int)

  /** Conservative planning estimates, deliberately pessimistic: the audit
    * exists to warn BEFORE the allocator finds out. */
  // the heap a buffered batch keeps, per row: its column-buffer block
  // plus its relation's fixed cost (the plan nodes and per-column stats
  // schema of one InMemoryRelation) and, when durable, the session's
  // listing of its WAL read-back. Measured for 512-row
  // otel_logs_and_spans batches (AutotuneSpec): up to ~375 B non-durable,
  // ~470 B durable; headroom for long strings. A smaller batch costs more per
  // row, as the relation's cost is per batch.
  private[graft] val BufferBytesPerRow = 600L
  // Full driver-side footprint of the CC fast path, per edge: collected
  // Row array (~96 B with boxing) + union–find HashMap (≤2 vertices/edge
  // × ~84 B boxed entry) + label-tuple seq (~128 B) + the broadcast label
  // table built regardless of autoBroadcastJoinThreshold (~96 B) — the
  // structures coexist at peak, so the budget charges their sum.
  private[graft] val CcDriverBytesPerEdge = 512L
  private val BufferRecoveryCeiling = 1.2 // WAL replay may reach 120% of cap

  /** The budget tree, derived TOP-DOWN so the split respects its own
    * audit line by construction (the reference's ≈72%-of-RAM invariant):
    * Spark's unified pool takes (heap − 300 MB) × 0.6 ≈ 59%, the warn
    * line sits at 75%, so everything derived here must fit the ~16%
    * between them — buffer HARD ceiling ≤ 8% (nominal cap = 8%/1.2),
    * cc collect ≤ 2%, broadcast peak (4 × threshold) ≤ 1.6% — leaving
    * real slack for the consumers no budget tracks. */
  def derive(host: Host = detectHost()): Knobs = Knobs(
    shufflePartitions = math.max(host.cores, 1),
    // NOT raised with heap: alternating A/B on the under-ingest
    // dashboard leg measured {1530, 1218} ms at a heap-derived 112 MB
    // and 1185 ms at 32 MB vs {910, 936} ms at Spark's 10 MB default —
    // bigger broadcast builds compete with concurrent commits on the
    // driver, and the analytics pass showed no offsetting win. An
    // operator with a read-only fleet can raise it via
    // SPARK_GRAFT_BROADCAST_MB; the audit charges whatever is effective.
    broadcastThresholdBytes = 10L * MB,
    maxBufferedRows =
      clamp((host.heapBytes * 8 / 100 /
        (BufferBytesPerRow * BufferRecoveryCeiling)).toLong,
        100000L, 20000000L),
    ccDriverEdgeLimit =
      clamp(host.heapBytes / 50 / CcDriverBytesPerEdge, 200000L, 5000000L),
    // AQE shuffles START at 8× cores and coalesce DOWN by size
    // (spark.sql.adaptive.coalescePartitions, on by default): small
    // shuffles collapse back to a handful of partitions, while a shuffle
    // 100× the expected scale gets 8× more reduce tasks before the
    // sort/build — the difference between an in-memory sort and a
    // multi-GB spill. Measured on the q26 sf10 probe (60M wide banded
    // rows): at 32 reduce partitions the SMJ sort is ~840 MB/task and
    // spilled 4.6 GB; at 256 it is ~105 MB/task. This is the knob that
    // makes one derived partition count serve both the 60k-row gate
    // corpus and a 100× probe without retuning.
    initialShufflePartitions = math.max(host.cores, 1) * 8)

  private def clamp(v: Long, lo: Long, hi: Long): Long =
    math.min(math.max(v, lo), hi)

  /** Budget audit: what the derived (or overridden) knobs COMMIT against
    * the shared local-mode heap, and what is left for the consumers no
    * budget tracks (codegen/JIT code cache, parquet footer cache, driver
    * collects, allocator slack). Committed well UNDER the warn line is
    * the point — one wide scan can exceed a thin slack, which is how a
    * box gets OOM-killed while every individual budget looks fine. */
  final case class Audit(heapMb: Long, unifiedPoolMb: Long,
      bufferHardMb: Long, ccCollectMb: Long, broadcastPeakMb: Long,
      committedMb: Long, warnAtMb: Long) {
    def slackMb: Long = math.max(warnAtMb - committedMb, 0L)
    def oversubscribed: Boolean = committedMb > warnAtMb
    def render: String =
      s"budget_audit committed_mb=$committedMb warn_at_mb=$warnAtMb " +
        s"slack_mb=$slackMb (unified_pool=$unifiedPoolMb " +
        s"buffer_hard=$bufferHardMb cc_driver=$ccCollectMb " +
        s"broadcast_peak=$broadcastPeakMb) heap_mb=$heapMb — slack absorbs " +
        "UNTRACKED allocation (codegen cache, parquet footers, driver " +
        "collects, allocator overhead)"
  }

  /** Warn when committed budgets pass this share of heap — the
    * counterpart of the reference's 75% line (its 85% predecessor passed
    * a config that was OOM-killed four times in nine hours). */
  private val OversubWarnPct = 75L

  def audit(host: Host, shufflePartitions: Int, broadcastBytes: Long,
      bufferedRows: Long, ccEdges: Long,
      memoryFraction: Double = 0.6): Audit = {
    val heapMb = host.heapBytes / MB
    // Spark's unified pool: (heap − 300 MB reserved) × memory.fraction.
    val unified = ((host.heapBytes - 300 * MB).max(0) *
      memoryFraction).toLong / MB
    val bufferHard =
      (bufferedRows * BufferBytesPerRow * BufferRecoveryCeiling).toLong / MB
    // full fast-path footprint: collect + union–find + broadcast label
    // table — an operator pinning driverEdgeLimit above the derived clamp
    // sees the true cost here (and the oversubscription flag if it blows
    // the line), not the 16 B payload fiction
    val ccCollect = ccEdges * CcDriverBytesPerEdge / MB
    // several broadcast builds can be in flight in one plan; charge four
    val broadcastPeak = broadcastBytes * 4 / MB
    val committed = unified + bufferHard + ccCollect + broadcastPeak
    Audit(heapMb, unified, bufferHard, ccCollect, broadcastPeak,
      committed, heapMb * OversubWarnPct / 100)
  }

  // ---- wiring ------------------------------------------------------------

  /** Env overrides, named like the existing bench/probe envs. */
  private val EnvBroadcast = "SPARK_GRAFT_BROADCAST_MB"
  private val EnvBufferRows = "SPARK_GRAFT_BUFFER_MAX_ROWS"
  private val EnvCcLimit = "SPARK_GRAFT_CC_DRIVER_EDGE_LIMIT"
  private val EnvInitialPartitions = "SPARK_GRAFT_INITIAL_PARTITIONS"

  /** The default WAL buffer cap [[graft.sources.BufferedWriteLayer]]
    * reads when the caller passes none: env override, else derived. */
  def defaultMaxBufferedRows(env: Map[String, String] = sys.env): Long =
    env.get(EnvBufferRows).map(_.toLong)
      .getOrElse(derive().maxBufferedRows)

  private val EnvIngestProbeKeys = "SPARK_GRAFT_INGEST_MAX_PROBE_KEYS"
  private val EnvSegmentRowsPerFile = "SPARK_GRAFT_SEGMENT_ROWS_PER_FILE"

  /** Driver-side probe-key bound for the ingest indexes
    * ([[graft.streaming.AnnIngestIndex]] /
    * [[graft.streaming.TextIngestIndex]]): above it a probe falls back
    * from the pushed-In segment scan to the join-only path. Precedence
    * env > session conf (`spark.graft.ingestIndex.maxProbeKeys`) >
    * derived. The cost is all DRIVER-resident — the collected key rows,
    * one In literal per key, and the pushed filter's sorted set, ~300 B
    * per key worst case (the text index collects keys twice: tokens,
    * then candidate ids) — so the per-index baseline (validated on an
    * 8 GiB-heap host) scales linearly with driver heap, capped at 8×:
    * past ~1M literals, plan serialization latency (not memory) is the
    * binding constraint, and a batch that large is corpus-scale anyway
    * — the join-only fallback is the right plan for it. */
  def ingestIndexMaxProbeKeys(base: Int, confValue: Option[String] = None,
      env: Map[String, String] = sys.env, host: Host = detectHost()): Int =
    env.get(EnvIngestProbeKeys).map(_.toInt)
      .orElse(confValue.map(_.toInt))
      .getOrElse {
        val scale = clamp(host.heapBytes / (8L * 1024 * MB), 1L, 8L)
        (base.toLong * scale).toInt
      }

  private val EnvAnnPlanes = "SPARK_GRAFT_ANN_PLANES"
  private val EnvAnnTables = "SPARK_GRAFT_ANN_TABLES"

  /** Sign-plane LSH family (planesPerTable, numTables) for an ANN
    * ingest-index SEGMENT of `docs` vectors — the r13 `weak`: the family
    * was a fixed tiny-corpus constant (12 planes → 4,096 buckets/table),
    * so at the sf1 drain a ~1k-row batch's probe keys covered a quarter
    * of the whole key space and every row group matched — a full-index
    * read per micro-batch, quadratic total ingest cost at the advertised
    * base. The knob is data-independent, so it is derived from the
    * OBSERVED size at each segment write (re-bucketing at LSM merge is a
    * deterministic recompute, not a retrain); env > conf > derived:
    *
    *  - `planesPerTable = clamp(⌈log₂ docs⌉ + 6, 12, 28)`. Probe reads
    *    over a key-sorted segment are ≈ (batch keys that EXIST in the
    *    segment) × rowsPerGroup = batch · L · rpg · docs / 2^planes —
    *    keeping 2^planes ≥ 64 × docs pins per-batch probe IO ~CONSTANT
    *    as the base grows (the 64 is the Δ=+6 headroom; the cap at 28
    *    still leaves reads at ~10⁻⁴ of a 10⁹-doc segment).
    *  - `numTables`: 10 unless a target recall is set. Raising planes at
    *    FIXED tables lowers collision recall AT THE THRESHOLD BOUNDARY
    *    (p₁ = 1 − θ/π per plane; at threshold 0.9, boundary recall falls
    *    from 0.82 at 12 planes to 0.33 at 20) while TRUE duplicates
    *    (cosine ≥ 0.99) stay ≥ 0.95 recall even at the 28-plane cap —
    *    the honest default for dedup, where the verify step already
    *    makes every FOUND pair exact. Operators who need the boundary
    *    held set `spark.graft.ingestIndex.annTargetRecall`: tables are
    *    then derived as ⌈ln(1−R)/ln(1−p₁^planes)⌉ (capped 64) — the
    *    classic n^ρ LSH cost, paid explicitly instead of silently. */
  def annFamily(docs: Long, threshold: Double,
      confPlanes: Option[String] = None, confTables: Option[String] = None,
      confRecall: Option[String] = None,
      env: Map[String, String] = sys.env): (Int, Int) = {
    val planes = env.get(EnvAnnPlanes).map(_.toInt)
      .orElse(confPlanes.map(_.toInt))
      .getOrElse {
        val lg = math.ceil(math.log(math.max(docs, 2).toDouble) /
          math.log(2.0)).toLong
        clamp(lg + 6, 12, 28).toInt
      }
    val tables = env.get(EnvAnnTables).map(_.toInt)
      .orElse(confTables.map(_.toInt))
      .getOrElse(confRecall.map(_.toDouble) match {
        case Some(r) =>
          require(r > 0.0 && r < 1.0, s"annTargetRecall in (0,1), got $r")
          val p1 = 1.0 - math.acos(math.min(math.max(threshold, -1.0), 1.0)) /
            math.Pi
          val pk = math.pow(p1, planes.toDouble)
          clamp(math.ceil(math.log(1 - r) / math.log(1 - pk)).toLong, 4, 64)
            .toInt
        case None => 10
      })
    (planes, tables)
  }

  private val EnvTextPrefGroupRows = "SPARK_GRAFT_TEXT_PREF_GROUP_ROWS"

  /** Rows per row group in the text ingest-index `pref/` payload — the
    * ONE corpus-scaled probe-side payload of [[graft.streaming
    * .TextIngestIndex]] (vocab is type-bounded, sets are candidate-
    * bounded), so its group granularity sets the probe's read-
    * amplification crossover: a group is read whole when any pushed
    * prefix token lives in it, so reads ≈ min(base pref rows,
    * probedPrefixKeys × groupRows). The r14 sf1 Zipf drain measured the
    * byte-sized default (~2–4k rows/group) keeping that bound above
    * every drainable base; 128 (the ANN buckets' proven value for
    * 16–32 B rows) puts the crossover at ~1M pref rows — ~10⁴× under a
    * 1B-doc corpus — at ~2–4 KB per group plus bloom. Precedence
    * env > conf (`spark.graft.ingestIndex.textPrefGroupRows`) > 128. */
  def textPrefGroupRows(confValue: Option[String] = None,
      env: Map[String, String] = sys.env): Long =
    env.get(EnvTextPrefGroupRows).map(_.toLong)
      .orElse(confValue.map(_.toLong))
      .getOrElse(128L)

  /** Target rows per ingest-index segment FILE (the LSM merge's write
    * parallelism ÷ file-size trade, see
    * [[graft.streaming.SegmentWriter]]). Precedence env > session conf
    * (`spark.graft.ingestIndex.rowsPerFile`) > the 2M default — NOT
    * heap-derived: the knob targets on-disk file size (~100-200 MB at
    * typical bucket-row widths, the parquet sweet spot a 1000-executor
    * scan wants) and merge-write task count, neither of which follows
    * this host's memory. */
  def segmentRowsPerFile(confValue: Option[String] = None,
      env: Map[String, String] = sys.env): Long =
    env.get(EnvSegmentRowsPerFile).map(_.toLong)
      .orElse(confValue.map(_.toLong))
      .getOrElse(2000000L)

  /** Resolve every knob with env > operator-set-conf > derived precedence
    * and SET the winners on the session; returns the audit of the FINAL
    * (post-override) values — operators keep authority, the failure mode
    * becomes a visible warning. Called by [[GraftSession.build]] with the
    * session's `cores` (task slots), logged once per session. "Operator-
    * set" = the session conf currently differs from Spark's own default
    * for that key (a builder `.config(...)` or an earlier `conf.set`). */
  def install(spark: SparkSession, cores: Int,
      env: Map[String, String] = sys.env): Audit = {
    val host = detectHost().copy(cores = cores)
    val k = derive(host)
    val applied = scala.collection.mutable.ArrayBuffer.empty[String]
    def resolve(confKey: String, sparkDefault: Option[Long], derived: Long,
        fromEnv: Option[Long], fromConf: String => Long): Long =
      fromEnv match {
        case Some(explicit) =>
          spark.conf.set(confKey, explicit.toString); explicit
        case None =>
          val current = spark.conf.getOption(confKey).map(fromConf)
          if (current.isDefined && current != sparkDefault) current.get
          else {
            spark.conf.set(confKey, derived.toString)
            applied += s"$confKey=$derived"
            derived
          }
      }
    val bytesConf = (s: String) =>
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
    // no env override: the width follows `cores`, which already carries
    // SPARK_GRAFT_CPUS when it is set
    val shuffle = resolve("spark.sql.shuffle.partitions", Some(200L),
      k.shufflePartitions, None, _.toLong)
    val broadcast = resolve("spark.sql.autoBroadcastJoinThreshold",
      Some(10L * MB), k.broadcastThresholdBytes,
      env.get(EnvBroadcast).map(_.toLong * MB), bytesConf)
    val ccLimit = resolve("spark.graft.cc.driverEdgeLimit", None,
      k.ccDriverEdgeLimit, env.get(EnvCcLimit).map(_.toLong), _.toLong)
    // AQE coalesce floor: shuffles start here and shrink by size; no
    // Spark default for this key (unset = use shuffle.partitions), so
    // any operator-set value is respected as-is. Floored at the RESOLVED
    // shuffle.partitions: an operator pinning shuffle.partitions above
    // 8×cores (e.g. 1000 on a 16-core host) must not have AQE silently
    // START its shuffles below that explicit width — initialPartitionNum
    // caps the pre-coalesce reduce-task count, so a floor below the
    // operator's setting would recreate the oversized-shuffle spill this
    // knob exists to prevent.
    val initial = resolve(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum", None,
      math.max(k.initialShufflePartitions, shuffle),
      env.get(EnvInitialPartitions).map(_.toLong), _.toLong)
    // AQE coalesce floor SIZE is not tuned: the session keeps Spark's
    // 1 MB default or the operator's value. A lower session floor split
    // every small shuffle into tens of extra tasks; the operators whose
    // work is heavy per byte set explicit keyed widths instead.
    val bufferedRows = defaultMaxBufferedRows(env)
    val a = audit(host, shuffle.toInt, broadcast, bufferedRows, ccLimit)
    val chosen = if (applied.isEmpty) "no overrides applied (all knobs " +
      "explicitly set or already at derived values)"
    else applied.mkString(", ")
    val msg = s"[autotune] cores=${host.cores} heap_mb=${a.heapMb} " +
      s"derived: $chosen; ${a.render}"
    if (a.oversubscribed)
      System.err.println(s"$msg — OVERSUBSCRIBED, lower one of these knobs")
    else System.err.println(msg)
    lastBoot = Some(Boot(a, Seq(
      "cores" -> host.cores.toLong,
      "shuffle_partitions" -> shuffle,
      "initial_shuffle_partitions" -> initial,
      "broadcast_threshold_bytes" -> broadcast,
      "cc_driver_edge_limit" -> ccLimit,
      "max_buffered_rows" -> bufferedRows)))
    a
  }

  /** What the most recent [[install]] resolved: its budget audit and the
    * effective knob values, by name. */
  final case class Boot(audit: Audit, knobs: Seq[(String, Long)])

  /** The most recent install, for introspection surfaces — the reference
    * keeps its boot audit readable from `timefusion_stats`; here
    * [[graft.sources.GraftStats]] serves it as the `autotune` rows. A
    * startup log line rotates away; an operator diagnosing an OOM needs
    * the committed-vs-slack split on demand. */
  @volatile private var lastBoot: Option[Boot] = None
  def boot: Option[Boot] = lastBoot
}
