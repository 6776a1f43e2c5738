package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe for the heavy training-data operators: amplifies the
  * bench corpus N× with structure-preserving replicas and times the
  * operators at both scales — a blocked-join implementation should scale
  * ~linearly in rows; an accidental quadratic (degenerate blocking
  * bucket, unblocked pair join) shows as a ratio far above the factor.
  *
  * Amplification is replica-wise so GROUND TRUTH scales linearly too:
  *  - `documents`: replica r suffixes every token with `_r` — within a
  *    replica the n-gram/substring dup structure is EXACTLY the base
  *    corpus's (every shingle maps 1:1), across replicas token sets are
  *    disjoint so no new near-dup pairs appear. N× rows → N× dup pairs,
  *    N× clusters, N× removal spans.
  *  - `embeddings`: replica r applies rotation (6·r positions) plus a
  *    deterministic per-replica sign-flip pattern — both orthogonal, so
  *    intra-replica cosine structure is preserved exactly while
  *    cross-replica cosines decorrelate at ANY factor (rotation alone
  *    caps at `dim` distinct transforms), so cells/dup sets replicate
  *    rather than merge.
  *
  * Env: SPARK_GRAFT_SF_DIR (base, default sf0.1), SPARK_GRAFT_SCALE_DIR
  * (default /tmp/graft_sf1), SPARK_GRAFT_SCALE_FACTOR (default 10).
  * Prints one JSON line: per-query base/scaled seconds and the ratio.
  */
object ScaleProbe {

  /** Accumulates executor task metrics per probe leg, so "no spill cliff
    * at 10×" is MEASURED, not inferred from wall time: shuffle bytes
    * read/written and memory/disk spill, from `SparkListenerTaskEnd`.
    * Listener delivery is async; [[snapshot]] is read after the probe's
    * GC-drain wait (well past job end), with a stability poll. */
  private final class ProbeMetrics extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val shufRead = new AtomicLong; val shufWrite = new AtomicLong
    val memSpill = new AtomicLong; val diskSpill = new AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
      }
    }
    def reset(): Unit =
      Seq(shufRead, shufWrite, memSpill, diskSpill).foreach(_.set(0L))
    def snapshot: Seq[Long] = {
      var prev = Seq(-1L, -1L, -1L, -1L)
      var cur = Seq(shufRead.get, shufWrite.get, memSpill.get, diskSpill.get)
      while (cur != prev) { // async bus: wait until the counters settle
        Thread.sleep(100)
        prev = cur
        cur = Seq(shufRead.get, shufWrite.get, memSpill.get, diskSpill.get)
      }
      cur
    }
  }

  val Queries = Seq(
    "q43_dedup_clusters", "q96_leakage_safe_split",
    "q92_exact_substr_remove", "q75_semantic_dedup",
    "q83_incremental_dedup",
    // the similarity family — where a degenerate blocking bucket or an
    // unblocked pair join would hide its quadratic
    "q25_near_dup_jaccard", "q26_minhash_lsh", "q53_ngram_jaccard",
    "q47_embedding_dedup", "q57_cross_doc_ngrams",
    // PassJoin edit-distance join: a degenerate segment bucket (every
    // name sharing a half) would quadratic here
    "q115_edit_distance_join",
    // containment decontam: a common-token posting list would quadratic
    // the prefix probe if the df-rarest ranking stopped working
    "q135_containment_decontam")

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val spark = GraftSession.build()
    // the probe measures the DISTRIBUTED algorithms: the cluster
    // queries must not take the small-graph driver union-find escape
    // hatch here, or the ratios would compare different code paths
    spark.conf.set("spark.graft.cc.driverEdgeLimit", "0")

    // resume guard keys on a marker written AFTER every amplify write: a
    // run that died mid-build (or an older build lacking a newer table's
    // amplification) must rebuild, not silently serve a stale scale dir
    if (!Files.exists(Paths.get(out, "_amplified_v3"))) {
      amplify(spark, base, out, factor)
      Files.createFile(Paths.get(out, "_amplified_v3"))
    }

    // SPARK_GRAFT_PROBE_QUERIES: comma-list to probe a subset (the
    // quiet-host re-measurement path); SPARK_GRAFT_PROBE_REPEATS: run each
    // leg N times and report every sample — the spread IS the evidence
    // that a prior outlier was host steal, so no min/median hiding.
    val selected = sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Queries)
    val repeats = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPEATS", "1").toInt

    val metrics = new ProbeMetrics
    spark.sparkContext.addSparkListener(metrics)
    val stages = new StageBreakdown.Collector
    spark.sparkContext.addSparkListener(stages)

    def run(name: String, dir: String): (Double, Seq[Long], Seq[StageBreakdown.St]) = {
      metrics.reset()
      stages.reset()
      val t0 = System.nanoTime()
      // ORDER-INSENSITIVE digest instead of writing the query's sorted
      // output: the SparkEntry frames end in a determinism orderBy for
      // the driver's compare harness, and at the 10× leg that global
      // sort of the RESULT (96.4M rows for q26) was the only remaining
      // spill — operator cost, not output formatting, is what the probe
      // measures. The aggregate consumes every output row (hash + count
      // over all columns), and Catalyst's EliminateSorts removes the
      // now-irrelevant top-level Sort under it; a fleet would sort the
      // result across executors at write time anyway. The Verify/oracle
      // path keeps the orderBy untouched.
      val df = SparkEntry.queries(name)(spark, dir)
      // decimal(38) sum: a long sum of 64-bit hashes overflows under
      // ANSI; 38 digits hold 1e19 rows of max-magnitude hashes
      val digest = df
        .agg(count(lit(1)).as("n"),
          sum(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))
            .cast("decimal(38,0)")).as("h"))
        .collect()
      require(digest.length == 1 && digest.head.getLong(0) >= 0L)
      val sec = (System.nanoTime() - t0) / 1e9
      // measurement hygiene: localCheckpoint blocks from THIS run's Pins
      // stay resident until the driver GCs the frame refs and the
      // ContextCleaner drains — without a collection here they pile up
      // across samples and the later runs measure the earlier runs'
      // storage-memory pressure, not the query. The cleaner is ASYNC, so
      // poll the block manager until the checkpointed RDDs are actually
      // gone (bounded wait): a fixed 300 ms was not enough for the 10×
      // leg's multi-GiB blocks and sample 2 measured sample 1's eviction
      // pressure (observed 11 s → 33 s spikes).
      System.gc()
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (spark.sparkContext.getRDDStorageInfo.nonEmpty &&
          System.nanoTime() < deadline) {
        Thread.sleep(200); System.gc()
      }
      Thread.sleep(300)
      (sec, metrics.snapshot, stages.top(3))
    }
    run(selected.head, base) // warm the JVM/codegen once, unrecorded
    val rows = selected.map { q =>
      if (repeats > 1) { run(q, base); run(q, out) } // warm BOTH legs:
      // repeat mode is the re-measurement path, where sample 1 would
      // otherwise record this query's whole-stage-codegen compilation
      val samples = (1 to repeats).map { _ =>
        val (b, bm, bst) = run(q, base)
        val (s, sm, sst) = run(q, out)
        System.err.println(f"[probe] $q%-28s base=$b%7.2fs scaled=$s%7.2fs ratio=${s / b}%5.2f " +
          f"spill=${(sm(2) + sm(3)) / 1e6}%.0fMB")
        (b, s, bm, sm, bst, sst)
      }
      (q, samples)
    }
    // LSH bucket-size distribution at both scales whenever q26 is probed:
    // the probe's ratio says WHETHER the candidate join grew superlinearly;
    // this says WHY NOT (max bucket + self-join fan-out both ~N×).
    val bucketJs =
      if (selected.contains("q26_minhash_lsh")) {
        def stats(dir: String, family: String): String = {
          val r = graft.operators.TextDedup.lshBucketStats(
            graft.tables.Tables.documents(spark, dir), "doc_id", "text",
            bands = 12, rowsPerBand = 8, family = family).head()
          s"""{"buckets":${r.getLong(0)},"max_bucket":${r.getLong(1)},""" +
            s""""p99_bucket":${r.getDouble(2)},"p999_bucket":${r.getDouble(3)},""" +
            s""""join_fanout":${r.getLong(4)}}"""
        }
        // both hash families: xxhash64 is the production near-dup kernel,
        // md5-affine is what the shipped (oracle-gated) q26 bands on
        s""","lsh_buckets":{"base":${stats(base, "xxhash64")},""" +
          s""""scaled":${stats(out, "xxhash64")}},""" +
          s""""lsh_buckets_md5":{"base":${stats(base, "md5")},""" +
          s""""scaled":${stats(out, "md5")}}"""
      } else ""
    val js = rows.map { case (q, samples) =>
      val (b, s, bm, sm, bst, sst) = samples.head
      val extra = if (repeats > 1) {
        val bs = samples.map(x => f"${x._1}%.2f").mkString("[", ",", "]")
        val ss = samples.map(x => f"${x._2}%.2f").mkString("[", ",", "]")
        val rr = samples.map(x => f"${x._2 / x._1}%.2f").mkString("[", ",", "]")
        s""","base_samples":$bs,"scaled_samples":$ss,"ratios":$rr"""
      } else ""
      // executor-metric evidence per leg: a hidden quadratic or a spill
      // cliff shows up here even when wall time happens to stay quiet
      def mb(v: Long) = f"${v / 1e6}%.1f"
      val met =
        s""","base_metrics":{"shuffle_read_mb":${mb(bm(0))},""" +
          s""""shuffle_write_mb":${mb(bm(1))},"spill_mem_mb":${mb(bm(2))},""" +
          s""""spill_disk_mb":${mb(bm(3))}},""" +
          s""""scaled_metrics":{"shuffle_read_mb":${mb(sm(0))},""" +
          s""""shuffle_write_mb":${mb(sm(1))},"spill_mem_mb":${mb(sm(2))},""" +
          s""""spill_disk_mb":${mb(sm(3))}}"""
      // stage-level attribution per leg (top-3 by shuffle write): WHICH
      // operator stage owns the volume/spill the aggregates report
      val stg =
        s""","base_stages":${bst.map(StageBreakdown.stageJson).mkString("[", ",", "]")},""" +
          s""""scaled_stages":${sst.map(StageBreakdown.stageJson).mkString("[", ",", "]")}"""
      f""""$q":{"base_sec":$b%.2f,"scaled_sec":$s%.2f,"ratio":${s / b}%.2f$extra$met$stg}"""
    }.mkString("{", ",", "}")
    spark.stop()
    println(s"""{"metric":"scale_probe","factor":$factor,"base":"$base","harness":"digest","queries":$js$bucketJs}""")
  }

  /** Build the amplified corpus: structure-preserving replicas for
    * documents/embeddings, straight file copies for everything else. */
  def amplify(spark: SparkSession, base: String, out: String,
      factor: Int): Unit = {
    Files.createDirectories(Paths.get(out))
    val all = Seq("region", "nation", "customer", "part",
      "orders", "lineitem", "events")
    all.foreach { t =>
      // raw copy, not a Spark rewrite: preserves exact parquet physical
      // types (the events ts dtype dispatch must see the original file).
      // The target may be a DIRECTORY left by a prior partial AmplifyFull
      // run (Spark-written multi-file table) — REPLACE_EXISTING cannot
      // replace a non-empty dir, so clear it first to make reruns work.
      val dst = Paths.get(out, s"$t.parquet")
      deleteRecursively(dst)
      Files.copy(Paths.get(base, s"$t.parquet"), dst,
        StandardCopyOption.REPLACE_EXISTING)
    }
    // supplier: replica r appends a constant 3-char suffix — appending
    // the same suffix to both strings preserves every intra-replica edit
    // distance exactly, and two distinct replicas' suffixes differ in ≥2
    // chars so no cross-replica pair enters τ=1. N× rows → N× pairs.
    val sup = spark.read.parquet(s"$base/supplier.parquet")
    val maxSup = sup.agg(max("s_suppkey")).head.getLong(0) + 1
    replicate(sup, factor) { (df, r) =>
      val name =
        if (r == 0) col("s_name")
        else concat(col("s_name"), lit("_" + ("" + ('a' + r).toChar) * 2))
      df.select((col("s_suppkey") + lit(r * maxSup)).as("s_suppkey"),
        name.as("s_name"), col("s_nationkey"), col("s_acctbal"))
    }.coalesce(1).write.mode("overwrite").parquet(s"$out/supplier.parquet")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0) + 1
    replicate(docs, factor) { (df, r) =>
      val txt =
        if (r == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1_" + r)
      df.select((col("doc_id") + lit(r * maxDoc)).as("doc_id"),
        txt.as("text"), col("lang"), col("source"),
        length(txt).cast("long").as("n_chars"))
    }.coalesce(8).write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    replicate(emb, factor) { (df, r) =>
      // replica transform = rotation ∘ per-replica SIGN FLIP. Rotation
      // alone caps at `dim` distinct transforms (rot 6r mod dim collides
      // at r ≡ r' mod dim/gcd — factor 100 on dim 64 would make replicas
      // 0 and 32 IDENTICAL, manufacturing cross-replica exact dups); the
      // deterministic flip pattern keeps every replica's transform
      // distinct at any factor. Both pieces are orthogonal maps, so
      // intra-replica cosine structure is preserved EXACTLY (sign flip
      // of a float is exact), and cross-replica cosines decorrelate.
      val k = (6 * r) % dim
      val rot =
        if (k == 0) col("embedding")
        else concat(slice(col("embedding"), k + 1, dim - k),
          slice(col("embedding"), 1, k))
      val flipped = if (r == 0) rot else {
        val bits = new scala.util.Random(0x9E3779B97F4A7C15L * r).nextLong()
        val signs = array((0 until dim).map(j =>
          lit(if (((bits >> (j % 64)) & 1L) == 1L) -1.0f else 1.0f)): _*)
        zip_with(rot, signs, (x, s) => x * s)
      }
      df.select((col("vec_id") + lit(r * maxVec)).as("vec_id"),
        flipped.as("embedding"), col("label"))
    }.coalesce(4).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  private def replicate(df: DataFrame, factor: Int)(
      f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(r => f(df, r)).reduce(_ unionByName _)

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val children = Files.list(p)
        try children.forEach(c => deleteRecursively(c))
        finally children.close()
      }
      Files.delete(p)
    }
}

/** Full-corpus amplification for the sf1 correctness sweep: on top of
  * [[ScaleProbe.amplify]]'s structure-preserving documents/embeddings/
  * supplier replicas, the relational and event tables replicate with
  * consistently SHIFTED keys (lineitem.l_orderkey shifts with orders,
  * orders.o_custkey with customer, l_partkey/l_suppkey with part/supplier)
  * — referential joins stay intact, so every oracle-gated query runs a
  * genuine 10× volume. Correctness needs no ground-truth argument at all:
  * Spark and DuckDB read the SAME amplified files, so any disagreement is
  * an engine-semantics or overflow bug, which is exactly what the sweep
  * hunts at 100× the sf0.01 gate scale.
  *
  * Usage: `runMain graft.AmplifyFull` (env: SPARK_GRAFT_SF_DIR base,
  * SPARK_GRAFT_SCALE_DIR out, SPARK_GRAFT_SCALE_FACTOR), then
  * `runMain graft.Verify <out> <dump>` with the similarity family
  * excluded (its oracles are pair-quadratic in DuckDB; the family's 10×
  * behavior is the scale probe's job). */
object AmplifyFull {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf1_full")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val spark = GraftSession.build()
    if (Files.exists(Paths.get(out, "_amplified_full_v2"))) {
      spark.stop(); return
    }
    ScaleProbe.amplify(spark, base, out, factor)
    def rep(table: String, parts: Int)(
        f: (DataFrame, Int) => DataFrame): Unit =
      (0 until factor).map(r => f(spark.read.parquet(s"$base/$table.parquet"), r))
        .reduce(_ unionByName _)
        .coalesce(parts).write.mode("overwrite")
        .parquet(s"$out/$table.parquet")
    def maxOf(table: String, c: String): Long =
      spark.read.parquet(s"$base/$table.parquet")
        .agg(max(col(c)).cast("long")).head.getLong(0) + 1
    val (maxEid, maxUid) = (maxOf("events", "event_id"),
      maxOf("events", "user_id"))
    val (maxOrd, maxCust, maxPart, maxSup) = (maxOf("orders", "o_orderkey"),
      maxOf("customer", "c_custkey"), maxOf("part", "p_partkey"),
      maxOf("supplier", "s_suppkey"))
    rep("events", 8) { (df, r) =>
      df.select((col("event_id") + lit(r * maxEid)).as("event_id"),
        col("ts"), (col("user_id") + lit(r * maxUid)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    rep("orders", 4) { (df, r) =>
      df.select((col("o_orderkey") + lit(r * maxOrd)).as("o_orderkey"),
        (col("o_custkey") + lit(r * maxCust)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }
    rep("lineitem", 16) { (df, r) =>
      df.select((col("l_orderkey") + lit(r * maxOrd)).as("l_orderkey"),
        (col("l_partkey") + lit(r * maxPart)).as("l_partkey"),
        (col("l_suppkey") + lit(r * maxSup)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }
    rep("customer", 2) { (df, r) =>
      df.select((col("c_custkey") + lit(r * maxCust)).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
    }
    rep("part", 2) { (df, r) =>
      df.select((col("p_partkey") + lit(r * maxPart)).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }
    Files.createFile(Paths.get(out, "_amplified_full_v2"))
    spark.stop()
    println(s"""{"metric":"amplify_full","out":"$out","factor":$factor}""")
  }
}
