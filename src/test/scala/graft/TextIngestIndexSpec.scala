package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextDedup
import graft.streaming.TextIngestIndex

/** The ingest-side exact-Jaccard index behind q126: committed
  * survivors' hashed sets + frozen-rarity prefix rows + vocab as
  * key-sorted parquet segments, probed through pushed key filters.
  * Pins (1) output EQUALITY with the per-batch recompute
  * (`jaccardPairsAgainstSets` — the prefix filter is lossless under ANY
  * shared total order, so the frozen per-segment order must change
  * nothing), (2) the 20-batch drain cost profile: probe reads follow
  * the batch's token mass while the base grows 20×, the base text is
  * never re-tokenized and its sets never re-bucketed, segments stay
  * logarithmic, (3) restart recovery, (4) the bounded-In fallback. */
class TextIngestIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Docs with per-doc-unique token sets (`w<i>_<j>`), so independent
    * docs never collide — the text analogue of the ANN spec's
    * independent gaussians. */
  private def docs(lo: Int, hi: Int, lang: String = "en"): DataFrame = {
    import spark.implicits._
    (lo until hi).map { i =>
      (i.toLong, (0 until 30).map(j => s"w${i}_$j").mkString(" "), lang)
    }.toDF("doc_id", "text", "lang")
  }

  /** Near-dup of doc `of`: same tokens with one swapped — Jaccard
    * 29/31 ≈ 0.935 ≥ 0.9. */
  private def dupOf(of: Int, id: Long, lang: String = "en"): (Long, String, String) =
    (id, ((0 until 29).map(j => s"w${of}_$j") :+ s"x$id").mkString(" "), lang)

  private def sets(df: DataFrame): DataFrame =
    TextDedup.hashedSets(df, "doc_id", "text", Seq("lang"))

  test("probe equals jaccardPairsAgainstSets across a 3-batch drain " +
      "(planted dups, language blocking)") {
    import spark.implicits._
    val dir = graft.tables.TempDirs.create("graft_txtidx_")
    val idx = new TextIngestIndex(spark, dir, Seq("lang"), threshold = 0.9)
    var base: DataFrame = docs(0, 0)
    (1 to 3).foreach { b =>
      val fresh = docs(b * 1000, b * 1000 + 40)
      val batch = (if (b == 1) fresh else {
        // dups of two committed docs, plus one cross-LANG dup that the
        // lang block must keep out of the pair set
        val d = Seq(dupOf(1000, b * 1000 + 900L),
          dupOf(1001, b * 1000 + 901L),
          dupOf(1002, b * 1000 + 902L, lang = "fr"))
          .toDF("doc_id", "text", "lang")
        fresh.unionByName(d)
      }).localCheckpoint()
      val got = idx.probe(sets(batch))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = TextDedup.jaccardPairsAgainstSets(sets(batch), sets(base),
          Seq("lang"), 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"batch $b: index probe diverged from the per-batch recompute " +
          s"(extra=${got -- want}, missing=${want -- got})")
      if (b == 2) assert(got.nonEmpty, "planted dups must actually hit")
      if (b == 2) assert(!got.exists(_._1 == b * 1000 + 902L),
        "cross-lang dup must be blocked")
      idx.add(sets(batch))
      base = base.unionByName(batch).localCheckpoint()
    }
  }

  test("probe jaccard SCORES match the recompute exactly") {
    val dir = graft.tables.TempDirs.create("graft_txtidx_scores_")
    val idx = new TextIngestIndex(spark, dir, Seq("lang"), threshold = 0.9)
    val base = docs(0, 50).localCheckpoint()
    idx.add(sets(base))
    import spark.implicits._
    val batch = Seq(dupOf(0, 5000L), dupOf(1, 5001L))
      .toDF("doc_id", "text", "lang").localCheckpoint()
    val got = idx.probe(sets(batch))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = TextDedup.jaccardPairsAgainstSets(sets(batch), sets(base),
        Seq("lang"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
  }

  test("restart recovery: a fresh instance adopts on-disk segments; " +
      "partial segments are discarded") {
    val dir = graft.tables.TempDirs.create("graft_txtidx_restart_")
    val idx = new TextIngestIndex(spark, dir, Seq("lang"), threshold = 0.9)
    val b1 = docs(0, 30).localCheckpoint()
    val b2 = docs(30, 100).localCheckpoint() // bigger: forces a merge
    idx.add(sets(b1)); idx.add(sets(b2))
    val base = b1.unionByName(b2).localCheckpoint()
    // a crash mid-add: a segment dir with only a vocab section
    val partial = new java.io.File(s"$dir/seg_000099/vocab")
    partial.mkdirs()
    val idx2 = new TextIngestIndex(spark, dir, Seq("lang"), threshold = 0.9)
    assert(idx2.segmentCount == idx.segmentCount,
      "restarted index must adopt exactly the complete segments")
    assert(idx2.indexedDocs == idx.indexedDocs)
    assert(!new java.io.File(s"$dir/seg_000099").exists(),
      "partial segment must be discarded at adoption")
    import spark.implicits._
    val batch = Seq(dupOf(0, 7000L), dupOf(42, 7001L))
      .toDF("doc_id", "text", "lang").localCheckpoint()
    val got = idx2.probe(sets(batch))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = TextDedup.jaccardPairsAgainstSets(sets(batch), sets(base),
        Seq("lang"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "restarted probe diverged")
  }

  test("legacy pre-_commit segments (payload _SUCCESS-complete) are " +
      "adopted and re-stamped, never wiped (ADVICE r13 medium)") {
    val dir = graft.tables.TempDirs.create("graft_txtidx_legacy_")
    val idx = new TextIngestIndex(spark, dir, Seq("lang"), threshold = 0.9)
    val b1 = docs(0, 30).localCheckpoint()
    val b2 = docs(30, 80).localCheckpoint()
    idx.add(sets(b1)); idx.add(sets(b2))
    val base = b1.unionByName(b2).localCheckpoint()
    // simulate a base written BEFORE the commit protocol: complete
    // payloads (vocab/pref/sets each _SUCCESS) but no _commit manifest
    val segs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("seg_"))
    assert(segs.nonEmpty)
    segs.foreach(s => assert(new java.io.File(s, "_commit").delete()))
    val idx2 = new TextIngestIndex(spark, dir, Seq("lang"), threshold = 0.9)
    assert(idx2.segmentCount == idx.segmentCount,
      "a restart over a pre-protocol base must adopt it, not wipe it")
    assert(idx2.indexedDocs == idx.indexedDocs)
    segs.foreach(s => assert(new java.io.File(s, "_commit").exists(),
      "adopted legacy segments must be stamped with an empty manifest"))
    import spark.implicits._
    val batch = Seq(dupOf(0, 8000L), dupOf(42, 8001L))
      .toDF("doc_id", "text", "lang").localCheckpoint()
    val got = idx2.probe(sets(batch))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = TextDedup.jaccardPairsAgainstSets(sets(batch), sets(base),
        Seq("lang"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "legacy-adopted probe diverged")
  }

  test("large-batch probe stays off the In-literal path above " +
      "maxProbeKeys, with identical output") {
    val dir = graft.tables.TempDirs.create("graft_txtidx_bigbatch_")
    // tiny bound: the fixture batch (>1200 distinct token hashes)
    // exercises the production fallback
    val idx = new TextIngestIndex(spark, dir, Seq("lang"), threshold = 0.9,
      maxProbeKeys = 100)
    val base = docs(0, 60).localCheckpoint()
    idx.add(sets(base))
    import spark.implicits._
    val batch = docs(2000, 2040)
      .unionByName(Seq(dupOf(3, 9000L), dupOf(4, 9001L))
        .toDF("doc_id", "text", "lang"))
      .localCheckpoint()
    val probed = idx.probe(sets(batch))
    assert(!idx.lastProbePushedKeys,
      "a batch with > maxProbeKeys distinct token hashes must not build " +
        "a driver-side In literal")
    val got = probed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = TextDedup.jaccardPairsAgainstSets(sets(batch), sets(base),
        Seq("lang"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "fallback probe diverged from the recompute")
    // the small-batch path still pushes keys. (No final-plan assertion
    // here, unlike the ANN spec: the candidate join — where the In
    // filters live — runs behind the probe's lineage-cutting Pin, so
    // the returned frame's plan starts at a LogicalRDD. The flag records
    // which path the candidate job was built with.)
    val small = Seq(dupOf(5, 9100L)).toDF("doc_id", "text", "lang")
      .localCheckpoint()
    idx.probe(sets(small)).count()
    assert(idx.lastProbePushedKeys)
    val (pushed, fellBack) = idx.probePathCounts
    assert(pushed == 1 && fellBack == 1,
      s"probe-path counters must record both paths: ($pushed, $fellBack)")
  }

  test("tombstoned survivors stop suppressing ingest (immediately, " +
      "after restart, and after the merge that compacts them away)") {
    import spark.implicits._
    val dir = graft.tables.TempDirs.create("graft_txtidx_tomb_")
    val idx = new TextIngestIndex(spark, dir, Seq("lang"), threshold = 0.9)
    val base = docs(0, 50).localCheckpoint()
    idx.add(sets(base))
    // batch near-dups committed survivors 0 and 1
    val batch = Seq(dupOf(0, 5000L), dupOf(1, 5001L))
      .toDF("doc_id", "text", "lang").localCheckpoint()
    val before = idx.probe(sets(batch)).collect().map(_.getLong(1)).toSet
    assert(before == Set(0L, 1L), s"expected hits on 0 and 1, got $before")
    // DML deletes survivor 0: its near-dups must land from the next probe
    idx.remove(Seq(0L).toDF("doc_id"))
    val after = idx.probe(sets(batch)).collect().map(_.getLong(1)).toSet
    assert(after == Set(1L),
      s"tombstoned survivor 0 still suppresses (hits=$after)")
    // tombstones survive restart
    val idx2 = new TextIngestIndex(spark, dir, Seq("lang"), threshold = 0.9)
    val afterRestart = idx2.probe(sets(batch))
      .collect().map(_.getLong(1)).toSet
    assert(afterRestart == Set(1L),
      s"tombstones must survive restart (hits=$afterRestart)")
    // a bigger add absorbs everything (full merge): vocab/pref/sets are
    // rebuilt without doc 0's rows AND the tombstone set clears
    idx2.add(sets(docs(100, 400).localCheckpoint()))
    assert(idx2.tombstoneRows == 0L,
      "full merge must clear the tombstone set")
    assert(!new java.io.File(dir + "/_tombstones").exists(),
      "full merge must drop the durable tombstone dir")
    val afterMerge = idx2.probe(sets(batch))
      .collect().map(_.getLong(1)).toSet
    assert(afterMerge == Set(1L),
      s"compaction must keep the deletion physical (hits=$afterMerge)")
    // and a third instance (post-compaction restart) agrees
    val idx3 = new TextIngestIndex(spark, dir, Seq("lang"), threshold = 0.9)
    val afterRestart2 = idx3.probe(sets(batch))
      .collect().map(_.getLong(1)).toSet
    assert(afterRestart2 == Set(1L))
    // the q126 invariant is untouched for the living: survivor 1 still
    // blocks, and the untombstoned corpus still matches the recompute
    val want = TextDedup.jaccardPairsAgainstSets(sets(batch),
        sets(base.filter(col("doc_id") =!= 0L)
          .unionByName(docs(100, 400))),
        Seq("lang"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = idx3.probe(sets(batch))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "post-tombstone probe diverged from the " +
      s"recompute over the surviving corpus (got=$got want=$want)")
  }

  test("degenerate batches: an empty batch probes to empty; blank-text " +
      "docs behave exactly like the recompute (1-token sets)") {
    import spark.implicits._
    val dir = graft.tables.TempDirs.create("graft_txtidx_empty_")
    val idx = new TextIngestIndex(spark, dir, Seq("lang"), threshold = 0.9)
    val base = docs(0, 20).localCheckpoint()
    idx.add(sets(base))
    val emptyBatch = docs(0, 0).localCheckpoint()
    assert(idx.probe(sets(emptyBatch)).count() == 0L)
    // blank text is a 1-TOKEN set (hash of ""), not an empty set — the
    // size-ratio prune keeps it away from the 30-token docs, and the
    // index must agree with the recompute on that
    val blank1 = Seq((9000L, "", "en")).toDF("doc_id", "text", "lang")
      .localCheckpoint()
    assert(idx.probe(sets(blank1)).count() == 0L)
    assert(idx.add(sets(blank1)) == 1L)
    // a second blank doc IS a perfect near-dup of the first (J = 1.0);
    // index and recompute must both find exactly that pair
    val blank2 = Seq((9001L, " ", "en")).toDF("doc_id", "text", "lang")
      .localCheckpoint()
    val got = idx.probe(sets(blank2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = TextDedup.jaccardPairsAgainstSets(sets(blank2),
        sets(base.unionByName(blank1.toDF("doc_id", "text", "lang"))),
        Seq("lang"), 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got == Set((9001L, 9000L)),
      s"blank-doc pair: got=$got want=$want")
  }

  test("20-batch drain: probe cost follows the batch, not the corpus; " +
      "segments stay logarithmic; maintenance amortized-log") {
    val dir = graft.tables.TempDirs.create("graft_txtidx20_")
    val idx = new TextIngestIndex(spark, dir, Seq("lang"), threshold = 0.9)
    val batchDocs = 50
    val reads = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0 until 20).foreach { b =>
      val batch = docs(b * batchDocs, (b + 1) * batchDocs).localCheckpoint()
      val bs = graft.operators.Pin(sets(batch))
      val (hits, work) = SparkWork.of(spark)(idx.probe(bs).count())
      reads += work.recordsRead
      assert(hits == 0L, "disjoint-token docs must not near-dup")
      idx.add(bs)
    }
    // probe cost follows the batch's token mass: the last probe faces a
    // 19x larger base, but its tokens appear in no committed segment, so
    // the pushed filters prune (dictionary/stats) the vocab and pref
    // scans to near-nothing — far under the old path's full base re-scan
    // + corpus-wide frequency pass per batch
    val early = reads.slice(2, 5).max
    val late = reads.slice(17, 20).max
    assert(late <= 4 * early,
      s"probe reads grew like a base scan: early=$early late=$late " +
        s"(reads=${reads.mkString(",")})")
    // maintenance stays amortized-log
    assert(idx.segmentCount <= 6,
      s"${idx.segmentCount} segments after 20 equal adds")
    assert(idx.writtenDocsTotal <= idx.indexedDocs * 6,
      s"wrote ${idx.writtenDocsTotal} doc rows for ${idx.indexedDocs} " +
        "indexed — merge policy exceeds the binary-counter bound")
  }
}
