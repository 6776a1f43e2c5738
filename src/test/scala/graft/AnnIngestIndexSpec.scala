package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorSearch
import graft.streaming.AnnIngestIndex

/** The ingest-side ANN index behind q148: committed survivors as
  * key-sorted LSH bucket segments, probed through a pushed key filter.
  * Pins (1) output EQUALITY with the brute per-batch bucket-join
  * (recall vs the exact probe is 1.0 by construction — same seed-fixed
  * family, exact cosine verify), (2) the 20-batch drain cost profile:
  * probe reads follow the batch's bucket mass while the base grows 20×,
  * the base is never re-hashed, and segments stay logarithmic. */
class AnnIngestIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Dim = 16

  private def vecs(lo: Int, hi: Int, seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (lo until hi).map { i =>
      (i.toLong, Array.fill(Dim)(rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<double>").as("v"))
  }

  /** A batch whose second half near-duplicates rows of `base` (scaled by
    * 1.01 — cosine ≈ 1), so probes have real hits. */
  private def batchWithDups(ids: Range, dupOf: DataFrame, seed: Int): DataFrame = {
    val fresh = vecs(ids.start, ids.start + ids.length / 2, seed)
    val dups = dupOf.limit(ids.length - ids.length / 2)
      .select((col("vec_id") + ids.start + 1000000L).as("vec_id"),
        transform(col("v"), x => x * 1.01).as("v"))
    fresh.unionByName(dups)
  }

  test("probe equals the brute bucket-join (cosineNearDupPairsAgainst)") {
    val dir = graft.tables.TempDirs.create("graft_annidx_")
    val idx = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9, planesPerTable = 12, numTables = 10)
    var base: DataFrame = vecs(0, 0, 0)
    var batchStart = 0
    (1 to 3).foreach { b =>
      val batch = (if (b == 1) vecs(0, 120, b)
        else batchWithDups(batchStart until batchStart + 120, base, b))
        .localCheckpoint()
      val got = idx.probe(batch)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = VectorSearch.cosineNearDupPairsAgainst(batch, base,
          "vec_id", "v", Dim, 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"batch $b: index probe diverged from the brute bucket-join " +
          s"(extra=${got -- want}, missing=${want -- got})")
      idx.add(batch)
      base = base.unionByName(batch).localCheckpoint()
      batchStart += 120
    }
  }

  test("restart recovery: a new instance adopts on-disk segments and " +
      "tombstones instead of leaking them") {
    val dir = graft.tables.TempDirs.create("graft_annidx_restart_")
    val idx = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9, planesPerTable = 12, numTables = 10)
    val b1 = vecs(0, 80, 11).localCheckpoint()
    val b2 = vecs(80, 200, 12).localCheckpoint() // bigger: forces a merge
    idx.add(b1); idx.add(b2)
    val base = b1.unionByName(b2).localCheckpoint()
    // simulate a process restart: fresh instance over the same root
    val idx2 = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9, planesPerTable = 12, numTables = 10)
    assert(idx2.segmentCount == idx.segmentCount,
      "restarted index must adopt the resident segments")
    assert(idx2.indexedRows == idx.indexedRows,
      "adopted sizes must come from the on-disk footers")
    val probeBatch = batchWithDups(200 until 320, base, 13).localCheckpoint()
    val got = idx2.probe(probeBatch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = VectorSearch.cosineNearDupPairsAgainst(probeBatch, base,
        "vec_id", "v", Dim, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "restarted probe diverged from the brute join")
    // and the next add must not overwrite an adopted segment dir
    idx2.add(probeBatch)
    val idx3 = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9, planesPerTable = 12, numTables = 10)
    assert(idx3.indexedRows == idx2.indexedRows)
  }

  test("probe schema is identical before the first add (typed from the " +
      "batch, not hardcoded long)") {
    import spark.implicits._
    val dir = graft.tables.TempDirs.create("graft_annidx_schema_")
    // STRING ids: the old lit(0L) empty frame would diverge here
    val idx = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9)
    val batch = vecs(0, 10, 7)
      .select(concat(lit("d"), col("vec_id")).as("vec_id"), col("v"))
      .localCheckpoint()
    // names + types must agree (nullability may differ — a join output
    // is nullable where the empty projection is not; unionByName relaxes)
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    val emptySchema = shape(idx.probe(batch).schema)
    idx.add(batch)
    val fullSchema = shape(idx.probe(batch).schema)
    assert(emptySchema == fullSchema,
      s"empty-index probe schema $emptySchema != non-empty $fullSchema")
  }

  test("large-batch probe stays off the In-literal path above " +
      "maxProbeKeys, with identical output") {
    val dir = graft.tables.TempDirs.create("graft_annidx_bigbatch_")
    // tiny bound so the fixture batch exercises the production fallback
    val idx = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9, planesPerTable = 12, numTables = 10,
      maxProbeKeys = 50)
    val base = vecs(0, 100, 21).localCheckpoint()
    idx.add(base)
    val batch = batchWithDups(100 until 220, base, 22).localCheckpoint()
    val probed = idx.probe(batch)
    assert(!idx.lastProbePushedKeys,
      "a batch with > maxProbeKeys distinct bucket keys must not build " +
        "a driver-side In literal")
    assert(!probed.queryExecution.optimizedPlan.toString.contains("__tk IN"),
      "fallback probe plan still carries an In literal on the key column")
    val got = probed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = VectorSearch.cosineNearDupPairsAgainst(batch, base,
        "vec_id", "v", Dim, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "fallback probe diverged from the brute join")
    // the small-batch path still pushes keys
    val small = batchWithDups(220 until 224, base, 23).localCheckpoint()
    idx.probe(small).count()
    assert(idx.lastProbePushedKeys,
      "a batch under the bound must keep the pushed-In scan")
    val (pushed, fellBack) = idx.probePathCounts
    assert(pushed == 1 && fellBack == 1,
      s"probe-path counters must record both paths: ($pushed, $fellBack)")
  }

  private def copyDir(src: java.io.File, dst: java.io.File): Unit = {
    dst.mkdirs()
    src.listFiles().foreach { f =>
      val t = new java.io.File(dst, f.getName)
      if (f.isDirectory) copyDir(f, t)
      else java.nio.file.Files.copy(f.toPath, t.toPath)
    }
  }

  test("interrupted-merge recovery: a crash between segment commit and " +
      "absorbed-dir cleanup must not double-index the absorbed rows") {
    val dir = graft.tables.TempDirs.create("graft_annidx_crash_")
    val idx = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9, planesPerTable = 12, numTables = 10)
    val b1 = vecs(0, 80, 41).localCheckpoint()
    idx.add(b1)
    val seg0 = new java.io.File(dir, "seg_000000")
    val backup = new java.io.File(dir + "_backup")
    copyDir(seg0, backup)
    val b2 = vecs(80, 200, 42).localCheckpoint()
    idx.add(b2) // absorbs seg_000000 into seg_000001, then deletes it
    assert(!seg0.exists(), "merge cleanup should have removed the source")
    // the crash window: the merged segment is committed (_commit written)
    // but the absorbed source was not yet deleted — restore it exactly as
    // the crash would leave it, complete with its own _commit
    copyDir(backup, seg0)
    val idx2 = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9, planesPerTable = 12, numTables = 10)
    assert(idx2.segmentCount == 1,
      "adoption must replay the commit manifest and drop the absorbed dir")
    assert(idx2.indexedRows == idx.indexedRows,
      "absorbed rows were adopted twice")
    assert(!seg0.exists(), "the leftover absorbed dir must be deleted")
    val base = b1.unionByName(b2).localCheckpoint()
    val probeBatch = batchWithDups(200 until 320, base, 43).localCheckpoint()
    val got = idx2.probe(probeBatch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = VectorSearch.cosineNearDupPairsAgainst(probeBatch, base,
        "vec_id", "v", Dim, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"post-recovery probe diverged (extra=${got -- want}, " +
        s"missing=${want -- got})")
  }

  test("tombstoned survivors stop suppressing ingest; merges compact " +
      "them away; untombstoned keepers still hit") {
    import spark.implicits._
    val dir = graft.tables.TempDirs.create("graft_annidx_tomb_")
    val idx = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9)
    val base = vecs(0, 100, 31).localCheckpoint()
    idx.add(base)
    // batch duplicates base rows 0 and 1 (ids 1000000 and 1000001)
    val batch = base.limit(2)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("v"), x => x * 1.01).as("v"))
      .localCheckpoint()
    val before = idx.probe(batch)
      .collect().map(_.getLong(1)).toSet
    assert(before == Set(0L, 1L), s"expected hits on 0 and 1, got $before")
    // DML deletes survivor 0: its near-dups must land from the next probe
    idx.remove(Seq(0L).toDF("vec_id"))
    val after = idx.probe(batch).collect().map(_.getLong(1)).toSet
    assert(after == Set(1L),
      s"tombstoned survivor 0 still suppresses (hits=$after)")
    // a merge (bigger add) physically drops the dead rows, and the
    // semantics survive compaction + restart
    val big = vecs(200, 500, 32).localCheckpoint()
    idx.add(big)
    val afterMerge = idx.probe(batch).collect().map(_.getLong(1)).toSet
    assert(afterMerge == Set(1L))
    // that add absorbed EVERY resident segment (a full merge), the dead
    // rows are physically gone, so the tombstone set has nothing left to
    // refer to and must be cleared — bounding it by the removes since
    // the last full merge, not the stream lifetime (VERDICT r12 #2)
    assert(idx.tombstoneRows == 0L,
      "full merge must clear the tombstone set")
    assert(!new java.io.File(dir + "/_tombstones").exists(),
      "full merge must drop the durable tombstone dir")
    val idx2 = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9)
    val afterRestart = idx2.probe(batch).collect().map(_.getLong(1)).toSet
    assert(afterRestart == Set(1L),
      s"tombstones must survive restart (hits=$afterRestart)")
  }

  test("adaptive family: each segment derives (planes, tables) from its " +
      "own size, merges re-bucket wider, planted dups still hit") {
    val dir = graft.tables.TempDirs.create("graft_annidx_adaptive_")
    // NO pinned family — the production default (VERDICT r13 #1)
    val idx = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9)
    def familyOf(seg: String): (Int, Int) = {
      val s = scala.io.Source.fromFile(new java.io.File(dir, s"$seg/_family"))
      val parts = try s.mkString.trim.split("\\s+").map(_.toInt)
        finally s.close()
      (parts(0), parts(1))
    }
    val b1 = vecs(0, 60, 51).localCheckpoint()
    idx.add(b1) // 60 docs: ceil(log2 60)+6 = 12 (the floor)
    assert(familyOf("seg_000000") == (12, 10),
      s"tiny segment family ${familyOf("seg_000000")}")
    val b2 = vecs(60, 1200, 52).localCheckpoint()
    idx.add(b2) // merge absorbs b1 -> 1200 docs: ceil(log2 1200)+6 = 17
    assert(idx.segmentCount == 1, "bigger add must absorb the small seg")
    val seg = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("seg_")).map(_.getName).max
    assert(familyOf(seg) == (17, 10),
      s"merged segment must re-bucket under its size's family, " +
        s"got ${familyOf(seg)}")
    // layout: vectors stored once, bucket rows are (key, id) only
    assert(new java.io.File(dir, s"$seg/vecs/_SUCCESS").exists() &&
      new java.io.File(dir, s"$seg/buckets/_SUCCESS").exists())
    assert(idx.indexedRows == 1200L, "registry sizes are DOC counts")
    // exact duplicates (cosine 1.0 after scaling) collide in every
    // table of ANY sign-plane family — the planted-dup floor holds
    // under the widened family
    val base = b1.unionByName(b2).localCheckpoint()
    val batch = batchWithDups(1200 until 1300, base, 53).localCheckpoint()
    val got = idx.probe(batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = batch.join(base.select(col("vec_id").as("base_id")),
        col("vec_id") - 1001200L === col("base_id"))
      .select(col("vec_id"), col("base_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty && planted.subsetOf(got),
      s"planted exact dups missing under the adaptive family: " +
        s"${planted -- got}")
    // restart adopts the per-segment families from their _family files
    val idx2 = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9)
    val got2 = idx2.probe(batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == got, "restarted adaptive probe diverged")
  }

  test("legacy flat segments (pre-split, _SUCCESS/_commit only) are " +
      "migrated at adoption, never wiped") {
    import spark.implicits._
    val dir = graft.tables.TempDirs.create("graft_annidx_legacy_")
    val base = vecs(0, 150, 61).localCheckpoint()
    // fabricate the r12/r13 layout: ONE flat parquet dir of
    // (base_id, __tk, __v) bucket rows with vectors inline, no _family;
    // r12 committed via _SUCCESS only (no _commit) — the ADVICE r13
    // medium case where adoption used to delete the whole base
    graft.operators.VectorSearch.signatureBuckets(
        base, "vec_id", "v", Dim, 12, 10, 97L)
      .select(col("vec_id").as("base_id"), col("__tk"), col("__v"))
      .write.parquet(s"$dir/seg_000000")
    val idx = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9, planesPerTable = 12, numTables = 10)
    assert(idx.segmentCount == 1,
      "legacy-complete segment must be adopted (migrated), not wiped")
    assert(idx.indexedRows == 150L,
      s"migration must keep every doc once: ${idx.indexedRows}")
    assert(!new java.io.File(dir, "seg_000000").exists(),
      "migrated legacy dir must be cleaned up")
    val seg = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("seg_")).map(_.getName).max
    assert(new java.io.File(dir, s"$seg/_commit").exists() &&
      new java.io.File(dir, s"$seg/vecs/_SUCCESS").exists() &&
      new java.io.File(dir, s"$seg/buckets/_SUCCESS").exists(),
      "migrated segment must land in the current committed layout")
    val batch = batchWithDups(200 until 300, base, 62).localCheckpoint()
    val got = idx.probe(batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = VectorSearch.cosineNearDupPairsAgainst(batch, base,
        "vec_id", "v", Dim, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "post-migration probe diverged from brute")
    // a truly PARTIAL leftover (no _SUCCESS, no _commit) is still a
    // mid-write crash: deleted at adoption
    new java.io.File(dir, "seg_000007").mkdirs()
    Seq((1L, "x")).toDF("a", "b").write
      .mode("overwrite").parquet(s"$dir/seg_000007/junk")
    val idx2 = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9, planesPerTable = 12, numTables = 10)
    assert(idx2.segmentCount == 1 &&
      !new java.io.File(dir, "seg_000007").exists(),
      "partial payloads must still be deleted at adoption")
  }

  test("20-batch drain: probes never re-hash the base, reads follow the " +
      "batch's bucket mass, segments stay logarithmic") {
    val dir = graft.tables.TempDirs.create("graft_annidx20_")
    val idx = new AnnIngestIndex(spark, dir, "vec_id", "v", Dim,
      threshold = 0.9)
    val batchRows = 50
    val reads = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0 until 20).foreach { b =>
      val batch = vecs(b * batchRows, (b + 1) * batchRows, 1000 + b)
        .localCheckpoint()
      val (hits, work) = SparkWork.of(spark)(idx.probe(batch).count())
      reads += work.recordsRead
      assert(hits == 0L, "independent gaussians must not near-dup")
      idx.add(batch)
    }
    // probe cost follows the batch's bucket mass, not the corpus: the
    // last probe faces 19x batch-1's base, yet reads stay within the
    // bucket-depth growth (keys x depth), far under a full base scan +
    // re-hash per batch (which would be >= indexedRows + batch rows)
    val early = reads.slice(2, 5).max
    val late = reads.slice(17, 20).max
    assert(late <= 4 * early,
      s"probe reads grew like a base scan: early=$early late=$late " +
        s"(reads=${reads.mkString(",")})")
    // maintenance stays amortized-log: each bucket row rewritten at most
    // log2(batches) times, and the segment count is logarithmic
    val totalBucketRows = idx.indexedRows
    assert(idx.segmentCount <= 6,
      s"${idx.segmentCount} segments after 20 equal adds")
    assert(idx.writtenRowsTotal <= totalBucketRows * 6,
      s"wrote ${idx.writtenRowsTotal} rows for $totalBucketRows indexed " +
        "— merge policy is rewriting more than the binary-counter bound")
  }
}
