package graft

/** Per-round benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line the driver records.
  *
  * Measurement notes:
  *  - results are written to the `noop` sink, NOT `.count()` — count lets
  *    Catalyst prune unused projections, under-measuring projection-heavy
  *    queries (json builders, quality scores);
  *  - the session is warmed with one throwaway query first so the first
  *    measured query doesn't absorb JVM/codegen/parquet-footer startup;
  *  - failures print the stack to stderr and record -1 (visible, not
  *    swallowed).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()

    // JVM-health telemetry per query (stderr — stdout carries only the
    // one JSON record): GC time delta, JIT compilation delta, heap in use.
    // Diagnoses cross-query contamination in the shared bench JVM.
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def jitMillis: Long =
      java.lang.management.ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      val (gc0, jit0) = (gcMillis, jitMillis)
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val heap = java.lang.management.ManagementFactory.getMemoryMXBean
          .getHeapMemoryUsage.getUsed >> 20
        System.err.println(f"[bench] $name%-32s ${sec}%7.2fs gc+${gcMillis - gc0}%5dms jit+${jitMillis - jit0}%6dms heap=${heap}M")
        sec
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED")
          e.printStackTrace()
          -1.0
      }
    }

    // Warm-up, unrecorded: JVM/codegen warmth plus the one-time fixture
    // builds (q34/q36 write tables through the storage engine on first
    // call, memoized per scale dir) — BASELINE latencies are measured
    // against pre-loaded tables, and the write path is measured separately
    // as ingest throughput below.
    // q51 first: its fixture runs a bounded streaming query whose state
    // store / checkpoint maintenance threads linger briefly — the cheap
    // warms after it absorb that residue so measured queries start clean
    Seq("q51_streaming_continuous_agg", "q34_variant_table",
      "q36_count_fastpath", "q49_text_prefilter", "q50_logical_count",
      "q01_pricing_summary")
      .foreach(run)
    // settle before measuring: collect the warm-up/fixture garbage now so
    // it isn't collected in the middle of some arbitrary measured query
    System.gc()
    Thread.sleep(500)

    // SPARK_GRAFT_ONLY=q42_ann_ivf,q29_ann_lsh → time just those (iteration aid)
    // SPARK_GRAFT_LEGS_ONLY=1 → skip the query passes, run only the
    // storage-engine legs (iteration aid for the ingest/tier/gate section)
    val legsOnly = sys.env.contains("SPARK_GRAFT_LEGS_ONLY")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
      .orElse(if (legsOnly) Some(Set.empty[String]) else None)
    // r15, fixture warm-up (measurement fix, VERDICT r14 #3 — documented
    // in OPTIMIZATION_r15.md): CONSTRUCT every FIXTURE-BACKED query
    // once, unrecorded. Construction runs each memoized fixture build
    // (bounded streaming replays, MOR fixture tables, variant/count
    // tables, the FTS doc store) to completion OUTSIDE the timed
    // region. Before this, a fixture built inside pass 1's timer and
    // min() healed it — unless that build failed or didn't memoize, in
    // which case the REBUILD landed inside pass 2's timer and the
    // recorded min carried the whole fixture: the r14 8-core artifact's
    // q84/q85/q89 at 27×/31×/17× their 32-core times match
    // pass-with-fixture cost exactly, while isolated 8-core reruns
    // measure their steady-state reads at 0.2–1 s. ONLY the
    // fixture-backed set (SparkEntry.fixtureQueries): a first cut
    // constructed all 148, and the pure packs' eager output pins left
    // enough executor-storage/GC residue to tax every timed sub-second
    // query by +0.05–0.15 s — the exact class of uniform regression
    // this round exists to remove. Failures are LOUD but non-fatal:
    // the timed pass still measures (and records -1 for) a query whose
    // fixture cannot build.
    val warmNames = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    warmNames.filter(SparkEntry.fixtureQueries).foreach { n =>
      try { SparkEntry.queries(n)(spark, sfDir); () }
      catch { case e: Throwable =>
        System.err.println(s"[bench] fixture warm-up $n FAILED: $e")
      }
    }
    // DRAIN the warm-up's executor-storage residue before timing: the
    // constructions above ran every eager pin once, and those discarded
    // localCheckpoint blocks are unpersisted only after the frames are
    // GC'd and the async ContextCleaner drains — left alone they sit in
    // the unified pool and bleed GC into the timed passes (first cut of
    // this warm-up measured 6.6 s of pass GC vs 0.6 s without it).
    // Same gc-and-poll discipline as QueryAb's inter-sample drain.
    System.gc()
    val drainDeadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty &&
        System.nanoTime() < drainDeadline) {
      Thread.sleep(250); System.gc()
    }
    if (spark.sparkContext.getRDDStorageInfo.nonEmpty)
      System.err.println("[bench] warm-up storage blocks not fully drained")
    Thread.sleep(500)
    // Best-of-2 per query (steady-state latency), taken as two FULL PASSES
    // over the query list rather than back-to-back repeats: the shared
    // sandbox VM sees multi-minute host-contention windows (gc+0ms,
    // jit+0ms, trivial queries at 10× — external CPU steal), and a window
    // longer than one query swallows both back-to-back samples. With the
    // passes minutes apart, a burst lands on DIFFERENT queries in each
    // pass and min() heals it. (In-JVM stall sources were fixed for real:
    // 1g reserved code cache — see build.sbt.)
    val names = warmNames
    // the final line keys queries by their "qNN" prefix (see below):
    // check uniqueness before the passes, not after minutes of timing
    require(names.map(_.takeWhile(_ != '_')).distinct.size == names.size,
      "bench short-key compaction needs unique qNN prefixes")
    val pass1 = names.map(n => n -> run(n))
    val pass2 = names.map(n => n -> run(n)).toMap
    // best of the VALID samples: -1 marks a failed run, and min() must not
    // let one transient failure discard the other pass's real measurement
    val results = pass1.map { case (n, a) =>
      val valid = Seq(a, pass2(n)).filter(_ >= 0)
      n -> (if (valid.isEmpty) -1.0 else valid.min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)

    // Storage-engine legs share one table: the events table written through
    // the full conforming append path (stamp, date derivation, tenant-day
    // repartition, sorted write, commit marker).
    //
    //  - ingest_rows_per_sec: the initial bulk append — comparable to
    //    BASELINE's flush ceiling;
    //  - query_idle_ms / query_under_ingest_ms: the q13 hourly-count shape
    //    through the MOR read path, first on a quiet table, then while
    //    StreamingIngest commits micro-batches (reference
    //    `bench/query_under_ingest.py`) — measures the read-latency cost of
    //    concurrent commits (extra union legs + snapshot-cache misses);
    //  - churn_read_hot/cold_ms + hot_tier counters: the S5 demotion
    //    payoff UNDER STREAMING CHURN — demotion rides every micro-batch
    //    commit, dashboard reads go through the tier, and the counters
    //    (builds/hot_served/wasted_builds/suppressions) say whether the
    //    adaptive policy paid or suppressed (reference `hot_tier.rs`
    //    demotion-payoff accounting);
    //  - ingest_index counters: pushed-In vs join-only fallback probe
    //    counts across the q126/q148 ingest indexes — an always-fallback
    //    configuration (keys over the bound every batch) would look
    //    correct and scale badly; this makes it visible per artifact.
    //  - scan_gate counters: the under-ingest reads route through an
    //    attached ScanGate (the reference gates every routing-table scan),
    //    so gate pressure is visible in the artifact.
    var tierStats = Map.empty[String, Long]
    var gateStats = Map.empty[String, Long]
    var analytics = Seq.empty[(String, Double)]
    val (ingest, compactMs, idleMs, underMs, coldWinMs, hotWinMs,
        churnHotMs, churnColdMs) =
      if (only.isDefined && !legsOnly)
        (-1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0)
    else try {
      import org.apache.spark.sql.functions._
      val root = graft.tables.TempDirs.create("bench_ingest_")
      val t = new graft.sources.GraftTable(spark, root,
        graft.schema.TableSchemas.morVersioned)
      val rows = graft.tables.Tables.events(spark, sfDir).select(
        (col("user_id") % 5).cast("string").as("project_id"),
        col("ts").as("timestamp"),
        col("event_id").cast("string").as("id"),
        col("event_type").as("name"))
      val n = rows.count()
      val t0 = System.nanoTime()
      t.append(rows, Some(java.time.LocalDateTime.of(2024, 6, 1, 0, 0)))
      val rps = n / ((System.nanoTime() - t0) / 1e9)
      // compact the bulk load before measuring reads — BASELINE's MOR
      // numbers are against a maintained table (336 ms compacted vs 14-31 s
      // fragmented), and a compaction base is what lets the date-bounded
      // window confine each read's shuffle to the dates the stream touches.
      // Timed and reported: compaction throughput is the maintenance cost
      // the reference's fragmentation pathology hinges on.
      val c0 = System.nanoTime()
      t.compact()
      val cMs = (System.nanoTime() - c0) / 1e6

      // X3 serving integration: the fixture table's reads run under an
      // attached admission gate, exactly like a shared serving driver
      val gate = new graft.sources.ScanGate(name = "bench")
      t.attachGate(gate)
      def q(): Double = {
        // classify OUTSIDE the timer: the reference derives selected work
        // from listings plan-building already performed, while isWide
        // re-walks directories — charging that walk to the read would
        // confound the under-ingest metric with driver metadata churn
        // (and make it incomparable with earlier rounds' artifacts)
        val wide = gate.isWide(t, None)
        val q0 = System.nanoTime()
        gate.run(spark, wide) {
          t.readResolved()
            .groupBy(date_trunc("hour", col("timestamp")).as("hour"))
            .agg(count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
        }
        (System.nanoTime() - q0) / 1e6
      }
      q() // warm the read path once, unrecorded
      val idle = Seq.fill(3)(q()).sorted.apply(1)

      // S5 hot-tier leg: the same dashboard shape bounded to the tier's
      // retention window (events data ends 2024-01-30; clock frozen at
      // 01-31, retention 48 h), first off the cold scan, then through the
      // pinned slice — the delta is what demotion buys an in-window read
      // (no commit listing, no parquet IO, no dedup window).
      val hourUs = 3600L * 1000000
      graft.functions.GraftClock.set(
        java.time.LocalDateTime.of(2024, 1, 31, 0, 0)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L)
      val tier = new graft.sources.HotTier(t, retentionMicros = 48 * hourUs)
      val (coldWin, hotWin) = try {
        def winQ(df: org.apache.spark.sql.DataFrame): Double = {
          val q0 = System.nanoTime()
          df.groupBy(date_trunc("hour", col("timestamp")).as("hour"))
            .agg(count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - q0) / 1e6
        }
        // identical window, no tier: what the tier's own cold fallback runs
        def cold() = winQ(t.readResolved().filter(
          col("timestamp") >= lit("2024-01-29 00:00:00").cast("timestamp_ntz")))
        def hot() = winQ(tier.read(Some(48 * hourUs)))
        cold() // warm both paths once, unrecorded
        tier.demote(); hot()
        (Seq.fill(3)(cold()).sorted.apply(1), Seq.fill(3)(hot()).sorted.apply(1))
      } finally { graft.functions.GraftClock.reset(); tier.release() }

      val src = spark.readStream.format("rate")
        .option("rowsPerSecond", "2000").load()
        .select(lit("9").as("project_id"),
          col("timestamp").cast("timestamp_ntz").as("timestamp"),
          col("value").cast("string").as("id"),
          lit("stream").as("name"))
      // sweepEvery: the background maintenance loop rides the stream, so
      // the dates the stream fragments fold back into partial bases while
      // reads are being measured — read latency under ingest stays flat
      // instead of growing with the commit count
      // SPARK_GRAFT_BENCH_SWEEP: A/B knob for attributing sweep cost in
      // the under-ingest read (default 8 = production-shaped maintenance
      // riding the stream; 0 = r7's sweep-free stream)
      val sq = graft.streaming.StreamingIngest.start(t, src, root + "/_chk",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L),
        sweepEvery = sys.env.getOrElse("SPARK_GRAFT_BENCH_SWEEP", "8").toInt)
      val under = try {
        Thread.sleep(1500) // let a few micro-batch commits land first
        val samples = Seq.fill(5) {
          val v0 = t.currentVersion(); val ms = q()
          System.err.println(
            f"[bench] under-ingest sample ${ms}%.0f ms at version $v0")
          ms
        }
        samples.sorted.apply(2)
      } finally {
        // stop() interrupts a mid-flight micro-batch; that batch may then
        // log its interruption asynchronously. Swallow here — the JSON line
        // below must stay the last, uncorrupted line of output (r03's bench
        // record was unparseable because this race splattered a stack trace
        // over stdout).
        try { sq.stop(); sq.awaitTermination(10000L) }
        catch { case _: Throwable => }
      }

      // S5 under churn: demotion rides every micro-batch commit while a
      // dashboard polls the tier. Real clock (the rate stream stamps rows
      // at wall time), 48 h retention → the slice holds the streamed
      // rows. Cadence matters and both regimes are pinned: the 250 ms
      // commit interval above is SHORTER than a dashboard read, so every
      // slice dies unread and the adaptive policy suppresses (the
      // StreamingIngestSpec churn case); THIS leg commits every 2 s —
      // the sustainable regime, where reads land between commits and
      // demotion pays. The artifact's counters say which regime ran.
      val churnTier = new graft.sources.HotTier(t,
        retentionMicros = 48 * hourUs)
      val sq2 = graft.streaming.StreamingIngest.start(t, src,
        root + "/_chk2",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(2000L),
        sweepEvery = 8, hotTier = Some(churnTier))
      val (churnHot, churnCold) = try {
        Thread.sleep(2500) // first commit + first demotion
        def winQ(df: org.apache.spark.sql.DataFrame): Double = {
          val q0 = System.nanoTime()
          df.groupBy(date_trunc("hour", col("timestamp")).as("hour"))
            .agg(count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - q0) / 1e6
        }
        def churnColdQ() = winQ(t.readResolved().filter(
          col("timestamp") >= expr(
            s"cast(timestamp_micros(${graft.functions.GraftClock.nowMicros - 48 * hourUs}L) as timestamp_ntz)")))
        def churnHotQ() = winQ(churnTier.read(Some(48 * hourUs)))
        churnHotQ(); churnColdQ() // warm both shapes once, unrecorded
        // interleave AND alternate order: the first read after a commit
        // absorbs the new version's plan-build, so a fixed order would
        // bill that cost to one shape
        val samples = (0 until 6).map { i =>
          if (i % 2 == 0) { val h = churnHotQ(); val c = churnColdQ(); (h, c) }
          else { val c = churnColdQ(); val h = churnHotQ(); (h, c) }
        }
        (samples.map(_._1).sorted.apply(2), samples.map(_._2).sorted.apply(2))
      } finally {
        try { sq2.stop(); sq2.awaitTermination(10000L) }
        catch { case _: Throwable => }
        tierStats = churnTier.stats
        gateStats = gate.stats
        churnTier.release()
      }
      // Training-data analytics idle vs under ingest (the reference's
      // `bench/query_under_ingest.py` extended from dashboard shapes to
      // the HEAVY analytical scans): the documents corpus through a
      // doc_store MOR table, three dedup-family operators over the
      // resolved view first on a quiet table, then while StreamingIngest
      // commits micro-batches — measures the dedup-window + buffered-
      // union tax a training pipeline pays when it scans a LIVE table.
      analytics = try {
        import graft.operators.{Curation, TextDedup}
        val docRoot = graft.tables.TempDirs.create("bench_docs_")
        val dt = new graft.sources.GraftTable(spark, docRoot,
          graft.schema.TableSchemas.docStore)
        dt.append(graft.tables.Tables.documents(spark, sfDir).select(
          lit("0").as("project_id"),
          (lit("2024-01-01 00:00:00").cast("timestamp_ntz") + expr(
            "make_interval(0, 0, 0, 0, 0, cast(doc_id % 720 as int), 0)"))
            .as("timestamp"),
          col("doc_id").cast("string").as("id"),
          col("lang").as("name"),
          col("text").as("content")),
          Some(java.time.LocalDateTime.of(2024, 6, 1, 0, 0)))
        dt.compact()
        def view = dt.readResolved()
        def ms(f: => Unit): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
        }
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        val ops: Seq[(String, () => Unit)] = Seq(
          "q25_jaccard_pairs" -> (() => noop(
            TextDedup.jaccardPairs(view, "id", "content", Seq("name"), 0.9))),
          "q43_dedup_clusters" -> (() => noop(
            TextDedup.connectedComponents(
                view.select(col("id").as("__id")),
                TextDedup.jaccardPairs(view, "id", "content", Seq("name"),
                  0.9).select("id_a", "id_b"))
              .groupBy(col("__lbl")).agg(count(lit(1)).as("n")))),
          "q92_exact_substr" -> (() => noop(
            Curation.exactSubstrRemove(view, "id", "content"))),
          // md5-prefix split, not id % 20: ids are STRINGS and the
          // streamed rows' ids ("s42") would fail an ANSI numeric cast
          "q135_containment" -> (() => noop(
            TextDedup.containmentJoin(
              view.filter(substring(md5(col("id")), 1, 1) === "0"),
              view.filter(substring(md5(col("id")), 1, 1) =!= "0"),
              "id", "content", 0.95))))
        ops.foreach(_._2()) // warm each shape once, unrecorded
        val idleA = ops.map { case (k, f) =>
          k -> Seq.fill(3)(ms(f())).sorted.apply(1) }
        val docSrc = spark.readStream.format("rate")
          .option("rowsPerSecond", "200").load()
          .select(lit("0").as("project_id"),
            col("timestamp").cast("timestamp_ntz").as("timestamp"),
            concat(lit("s"), col("value")).as("id"),
            lit("xx").as("name"),
            concat(lit("streamed doc body token"), col("value")).as("content"))
        val sq3 = graft.streaming.StreamingIngest.start(dt, docSrc,
          docRoot + "/_chk",
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(500L),
          sweepEvery = 8)
        val underA = try {
          Thread.sleep(1500)
          ops.map { case (k, f) => k -> Seq.fill(3)(ms(f())).sorted.apply(1) }
        } finally {
          try { sq3.stop(); sq3.awaitTermination(10000L) }
          catch { case _: Throwable => }
        }
        idleA.map { case (k, v) => (s"${k}_idle_ms", v) } ++
          underA.map { case (k, v) => (s"${k}_under_ingest_ms", v) }
      } catch { case e: Throwable => e.printStackTrace(); Seq.empty }

      (rps, cMs, idle, under, coldWin, hotWin, churnHot, churnCold)
    } catch { case e: Throwable =>
      e.printStackTrace()
      (-1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0) }

    // Quiesce completely BEFORE printing the record: any straggler stream,
    // then the session itself, then a grace period for async executor /
    // shutdown-hook logging to finish writing. Only then emit the one JSON
    // line the driver parses, as the final output of the process.
    try spark.streams.active.foreach { s =>
      try { s.stop(); s.awaitTermination(10000L) } catch { case _: Throwable => }
    } catch { case _: Throwable => }
    // stop the state-store maintenance executor BEFORE the session: its
    // scheduled task otherwise races spark.stop() and lands an [error]
    // stack trace ("SparkEnv not active") on the output tail AFTER the
    // record prints (BENCH_r10's tail carried exactly that trace)
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => }
    try spark.stop() catch { case _: Throwable => }
    Thread.sleep(750)
    System.out.flush(); System.err.flush()
    def counters(m: Map[String, Long]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"\"$k\":$v" }
        .mkString("{", ",", "}")
    val analyticsJs = analytics
      .map { case (k, v) => s"\"$k\":${v.round}" }.mkString("{", ",", "}")
    val record = s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"ingest_rows_per_sec":${ingest.round},"compact_ms":${compactMs.round},"query_idle_ms":${idleMs.round},"query_under_ingest_ms":${underMs.round},"window_read_cold_ms":${coldWinMs.round},"window_read_hot_ms":${hotWinMs.round},"churn_read_hot_ms":${churnHotMs.round},"churn_read_cold_ms":${churnColdMs.round},"hot_tier":${counters(tierStats)},"scan_gate":${counters(gateStats)},"ingest_index":{"probes_pushed":${graft.streaming.LsmSegmentIndex.pushedTotal.get},"probes_fallback":${graft.streaming.LsmSegmentIndex.fallbackTotal.get}},"analytics_under_ingest":$analyticsJs,"queries":$qs,"sf":"$sfDir"}"""
    // the driver snapshots only a truncated stdout tail — persist the FULL
    // record (every per-query timing + the storage/tier/gate legs) to a
    // file committed each round so the bench surface is auditable like the
    // correctness surface
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_results.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      record + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: $e") }
    // Driver-artifact hygiene: the driver keeps only a ~2000-char stdout
    // TAIL and parses the FINAL line for the per-query map — the r10–r14
    // posture (full map exiled to chunk lines, final line carrying only
    // "queries_in_chunks_above") left PERF per_query EMPTY for five
    // rounds (VERDICT r14 what's-wrong #2). Restored contract (r15):
    //  - the ~25-query chunk lines keep the FULL names and full-precision
    //    seconds (nothing removed or renamed — the r10 format, and the
    //    complete record is persisted to bench_results.json above);
    //  - the FINAL line carries the complete per-query map COMPACTED to
    //    fit the tail with the headline: keys are each query's unique
    //    "qNN" prefix (the name up to the first '_'), values integer
    //    milliseconds ("queries_unit":"ms"; -1 still marks a failed
    //    run). ~1.6 KB at 148 queries vs ~3.8 KB full-name — the full
    //    map cannot fit a 2000-char tail, a missing map cannot be
    //    parsed; this is the measurement-contract middle.
    results.grouped(25).zipWithIndex.toSeq match {
      case chunks =>
        val n = chunks.size
        chunks.foreach { case (group, i) =>
          val qjs = group.map { case (k, v) => s"\"$k\":$v" }
            .mkString("{", ",", "}")
          println(s"""{"metric":"bench_queries","chunk":${i + 1},"of":$n,"queries":$qjs}""")
        }
    }
    val qsMs = results.map { case (k, v) =>
      val ms = if (v < 0) -1L else math.round(v * 1000)
      s"\"${k.takeWhile(_ != '_')}\":$ms"
    }.mkString("{", ",", "}")
    def headline(withLegs: Boolean): String = {
      val legs = if (!withLegs) "" else
        s""""ingest_rows_per_sec":${ingest.round},"compact_ms":${compactMs.round},"query_idle_ms":${idleMs.round},"query_under_ingest_ms":${underMs.round},"window_read_cold_ms":${coldWinMs.round},"window_read_hot_ms":${hotWinMs.round},"churn_read_hot_ms":${churnHotMs.round},"churn_read_cold_ms":${churnColdMs.round},"""
      s"""{"metric":"total","value":${math.round(total * 1000) / 1000.0},"unit":"sec","failed":$failed,$legs"queries_unit":"ms","queries":$qsMs,"sf":"$sfDir"}"""
    }
    // keep the final line safely inside the driver's tail window; if the
    // map ever outgrows it, the leg scalars (already in the persisted
    // record and the r14-format tail) yield first
    val line = headline(withLegs = true)
    println(if (line.length <= 1900) line else headline(withLegs = false))
    System.out.flush()
  }
}
