package graft

import org.scalatest.funsuite.AnyFunSuite

class AutotuneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val GB = 1024L * 1024 * 1024

  test("derive: clamps hold at both extremes and scale with the host") {
    val tiny = Autotune.derive(Autotune.Host(cores = 1, heapBytes = 128L << 20))
    assert(tiny.shufflePartitions == 1)
    assert(tiny.initialShufflePartitions == 8,
      "AQE coalesce floor: 8x cores so oversized shuffles right-size " +
        "down instead of spilling their sorts")
    assert(tiny.broadcastThresholdBytes == 10L << 20, "broadcast stays at the Spark default")
    assert(tiny.maxBufferedRows == 100000L, "buffer floor")
    assert(tiny.ccDriverEdgeLimit == 200000L, "cc floor")

    val huge = Autotune.derive(Autotune.Host(cores = 256, heapBytes = 512 * GB))
    assert(huge.shufflePartitions == 256)
    assert(huge.broadcastThresholdBytes == 10L << 20,
      "broadcast is measured-flat at the default, never heap-raised")
    assert(huge.maxBufferedRows == 20000000L, "buffer cap")
    assert(huge.ccDriverEdgeLimit == 5000000L,
      "cc cap — full-footprint accounting (collect + union-find + broadcast)")

    // monotone between the clamps: a bigger host never derives less
    val mid1 = Autotune.derive(Autotune.Host(8, 8 * GB))
    val mid2 = Autotune.derive(Autotune.Host(16, 32 * GB))
    assert(mid2.maxBufferedRows > mid1.maxBufferedRows)
    assert(mid2.ccDriverEdgeLimit > mid1.ccDriverEdgeLimit)
  }

  test("audit: arithmetic and the oversubscription line") {
    val host = Autotune.Host(32, 28 * GB)
    val k = Autotune.derive(host)
    val a = Autotune.audit(host, k.shufflePartitions,
      k.broadcastThresholdBytes, k.maxBufferedRows, k.ccDriverEdgeLimit)
    assert(a.committedMb == a.unifiedPoolMb + a.bufferHardMb +
      a.ccCollectMb + a.broadcastPeakMb)
    assert(a.warnAtMb == a.heapMb * 75 / 100)
    assert(a.slackMb == math.max(a.warnAtMb - a.committedMb, 0))
    // the DERIVED split must respect its own budget line by construction
    assert(!a.oversubscribed,
      s"derived knobs oversubscribe their own audit: ${a.render}")
    // a hand-pinned combination that blows the line must flag
    val pinned = Autotune.audit(host, 32, 2 * GB, 100000000L, 20000000L)
    assert(pinned.oversubscribed)
  }

  test("install: env wins, operator-set conf wins, derived fills the rest") {
    val key = "spark.graft.cc.driverEdgeLimit"
    val prior = spark.conf.getOption(key)
    // install also derives the broadcast threshold on this shared session;
    // restore it so later suites keep the stock plan shapes
    val priorBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // env wins over everything
      spark.conf.set(key, "123")
      Autotune.install(spark, SparkTestSession.Cpus,
        env = Map("SPARK_GRAFT_CC_DRIVER_EDGE_LIMIT" -> "77"))
      assert(spark.conf.get(key) == "77")
      // operator-set conf wins when no env
      spark.conf.set(key, "0")
      Autotune.install(spark, SparkTestSession.Cpus, env = Map.empty)
      assert(spark.conf.get(key) == "0",
        "an explicit conf (the probe's distributed-path pin) must survive")
      // nothing set → derived
      spark.conf.unset(key)
      val audit = Autotune.install(spark, SparkTestSession.Cpus, env = Map.empty)
      assert(spark.conf.get(key).toLong ==
        Autotune.derive().ccDriverEdgeLimit)
      assert(audit.heapMb > 0)
      // the shuffle width follows the session's task slots, not the host
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorBroadcast)
    }
  }

  test("install: AQE initial-partition floor never undercuts an explicit " +
      "shuffle.partitions") {
    val initKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val shufKey = "spark.sql.shuffle.partitions"
    val priorInit = spark.conf.getOption(initKey)
    val priorShuf = spark.conf.get(shufKey)
    val priorBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // operator pins shuffle width ABOVE 8x cores: the AQE starting
      // width must be at least that, or every adaptive shuffle silently
      // starts narrower than the operator's explicit setting — the exact
      // oversized-shuffle spill the floor was added to prevent
      spark.conf.unset(initKey)
      spark.conf.set(shufKey, "999983")
      Autotune.install(spark, SparkTestSession.Cpus, env = Map.empty)
      assert(spark.conf.get(initKey).toLong >= 999983L,
        "initialPartitionNum must floor at the resolved shuffle.partitions")
      // and with the session's small explicit width (4), the derived
      // 8x-cores floor applies as before
      spark.conf.unset(initKey)
      spark.conf.set(shufKey, "4")
      Autotune.install(spark, SparkTestSession.Cpus, env = Map.empty)
      assert(spark.conf.get(initKey).toLong == Autotune.derive(
        Autotune.detectHost().copy(cores = SparkTestSession.Cpus))
        .initialShufflePartitions)
    } finally {
      priorInit match {
        case Some(v) => spark.conf.set(initKey, v)
        case None => spark.conf.unset(initKey)
      }
      spark.conf.set(shufKey, priorShuf)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorBroadcast)
    }
  }

  test("install: AQE min-partition-size floor — no derived value (r15); " +
      "env wins, operator conf untouched") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prior = spark.conf.getOption(key)
    try {
      // r15: NO derived session floor — the r14 64 KB floor taxed every
      // small shuffle of all 148 queries (driver full-set regression,
      // VERDICT r14 #1); heavy-kernel operators carry explicit keyed
      // widths instead. Unset stays at Spark's 1 MB default (getOption
      // surfaces a registered entry's default, so compare bytes).
      spark.conf.unset(key)
      Autotune.install(spark, SparkTestSession.Cpus, env = Map.empty)
      assert(org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(spark.conf.get(key)) == (1L << 20))
      // operator-set conf is respected verbatim — including a value
      // EQUAL to Spark's default (the r14 sentinel ambiguity is gone)
      spark.conf.set(key, "2m")
      Autotune.install(spark, SparkTestSession.Cpus, env = Map.empty)
      assert(spark.conf.get(key) == "2m")
      spark.conf.set(key, "1m")
      Autotune.install(spark, SparkTestSession.Cpus, env = Map.empty)
      assert(spark.conf.get(key) == "1m")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("defaultMaxBufferedRows: env override wins, else derived") {
    assert(Autotune.defaultMaxBufferedRows(
      Map("SPARK_GRAFT_BUFFER_MAX_ROWS" -> "4242")) == 4242L)
    assert(Autotune.defaultMaxBufferedRows(Map.empty) ==
      Autotune.derive().maxBufferedRows)
  }

  test("ingest-index knobs: env > conf > derived, heap-scaled key bound") {
    val GB = 1024L * 1024 * 1024
    // derived: baseline at the 8 GiB validation host, linear with heap,
    // capped at 8x (plan-serialization bound, not memory)
    assert(Autotune.ingestIndexMaxProbeKeys(20000, None, Map.empty,
      Autotune.Host(8, 8 * GB)) == 20000)
    assert(Autotune.ingestIndexMaxProbeKeys(20000, None, Map.empty,
      Autotune.Host(32, 28 * GB)) == 60000)
    assert(Autotune.ingestIndexMaxProbeKeys(100000, None, Map.empty,
      Autotune.Host(64, 512 * GB)) == 800000, "8x cap")
    assert(Autotune.ingestIndexMaxProbeKeys(20000, None, Map.empty,
      Autotune.Host(1, 1 * GB)) == 20000, "never below the baseline")
    // conf beats derived; env beats conf
    assert(Autotune.ingestIndexMaxProbeKeys(20000, Some("5000"), Map.empty,
      Autotune.Host(32, 28 * GB)) == 5000)
    assert(Autotune.ingestIndexMaxProbeKeys(20000, Some("5000"),
      Map("SPARK_GRAFT_INGEST_MAX_PROBE_KEYS" -> "777"),
      Autotune.Host(32, 28 * GB)) == 777)
    // rows-per-file: env > conf > the 2M default (file-size targeted,
    // deliberately NOT heap-derived)
    assert(Autotune.segmentRowsPerFile(None, Map.empty) == 2000000L)
    assert(Autotune.segmentRowsPerFile(Some("500000"), Map.empty) == 500000L)
    assert(Autotune.segmentRowsPerFile(Some("500000"),
      Map("SPARK_GRAFT_SEGMENT_ROWS_PER_FILE" -> "250000")) == 250000L)
    // text pref group rows: env > conf > 128 (the probe's read-
    // amplification unit on the one corpus-scaled text payload)
    assert(Autotune.textPrefGroupRows(None, Map.empty) == 128L)
    assert(Autotune.textPrefGroupRows(Some("512"), Map.empty) == 512L)
    assert(Autotune.textPrefGroupRows(Some("512"),
      Map("SPARK_GRAFT_TEXT_PREF_GROUP_ROWS" -> "64")) == 64L)
  }

  test("annFamily: planes track segment size (floor 12, +6 headroom, " +
      "cap 28); tables fixed at 10 unless a recall target derives them") {
    // floor: anything <= 64 docs stays at the 12-plane gate family
    assert(Autotune.annFamily(1, 0.9, env = Map.empty) == (12, 10))
    assert(Autotune.annFamily(64, 0.9, env = Map.empty) == (12, 10))
    // growth: ceil(log2 docs) + 6 — 2^planes stays >= 64x docs, which is
    // what keeps per-batch probe reads ~constant as the base grows
    assert(Autotune.annFamily(1200, 0.9, env = Map.empty) == (17, 10))
    assert(Autotune.annFamily(1000000, 0.9, env = Map.empty) == (26, 10))
    // cap: a 10^9-doc segment saturates at 28 planes
    assert(Autotune.annFamily(1000000000L, 0.9, env = Map.empty) == (28, 10))
    // monotone in docs
    val sizes = Seq(10L, 100L, 10000L, 1000000L, 100000000L)
    val planes = sizes.map(Autotune.annFamily(_, 0.9, env = Map.empty)._1)
    assert(planes == planes.sorted, s"planes not monotone: $planes")
    // recall target derives tables: threshold 0.9 -> p1 = 1 - acos(.9)/pi
    // = 0.8564; at 12 planes p = 0.1558, L = ceil(ln(.1)/ln(1-p)) = 14
    assert(Autotune.annFamily(50, 0.9, confRecall = Some("0.9"),
      env = Map.empty) == (12, 14))
    // the n^rho cost made explicit: holding the boundary at wider planes
    // takes more tables, capped at 64
    assert(Autotune.annFamily(1000000, 0.9, confRecall = Some("0.9"),
      env = Map.empty)._2 == 64)
    // precedence: conf beats derived, env beats conf, for both knobs
    assert(Autotune.annFamily(1000000, 0.9, confPlanes = Some("14"),
      confTables = Some("20"), env = Map.empty) == (14, 20))
    assert(Autotune.annFamily(1000000, 0.9, confPlanes = Some("14"),
      confTables = Some("20"),
      env = Map("SPARK_GRAFT_ANN_PLANES" -> "16",
        "SPARK_GRAFT_ANN_TABLES" -> "8")) == (16, 8))
  }

  test("the heap a buffered otel batch keeps fits the buffer budget's " +
      "bytes per row") {
    // what BufferBytesPerRow budgets: the heap a flush frees, per buffered
    // row — the batch's block, its relation and, for a durable batch, the
    // session's listing of its WAL read-back
    val sc = spark.sparkContext
    val rt = Runtime.getRuntime
    def heapAfterGc(): Long = {
      (1 to 3).foreach(_ => System.gc())
      rt.totalMemory - rt.freeMemory
    }
    // ids only: a key set view of getPersistentRDDs would hold the RDDs
    def persisted(): Set[Int] = sc.getPersistentRDDs.keysIterator.toSet
    val batches = 32
    for (durable <- Seq(false, true)) {
      val tbl = new sources.GraftTable(spark,
        java.nio.file.Files.createTempDirectory("graft_pin_heap_").toString,
        schema.TableSchemas.otelLogsAndSpans)
      val buf = new sources.BufferedWriteLayer(tbl, durable = durable)
      // warm the plans and generated code; the flush's write also drops
      // file listings earlier reads left in the session
      buf.insert(OtelBatch(spark))
      buf.flush()
      val before = persisted()
      (1 to batches).foreach(_ => buf.insert(OtelBatch(spark)))
      val pins = persisted() -- before
      assert(pins.size == batches && buf.bufferedRows == batches * 512L)
      val held = heapAfterGc()
      buf.flush()
      // the blocks go once ContextCleaner sees the flushed frames collected
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (persisted().exists(pins) && System.nanoTime < deadline) {
        System.gc()
        Thread.sleep(100)
      }
      assert(!persisted().exists(pins),
        "flushed batches must release their blocks")
      val perRow = (held - heapAfterGc()) / (batches * 512L)
      info(s"durable=$durable: a buffered 512-row batch keeps " +
        s"${perRow * 512} B of heap, $perRow B/row")
      assert(perRow <= Autotune.BufferBytesPerRow,
        s"durable=$durable: $perRow B/row")
      buf.close()
    }
  }
}
