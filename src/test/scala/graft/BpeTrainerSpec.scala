package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BpeTrainer

/** Pins the iterative BPE merge loop against hand-computed merges on the
  * classic Sennrich-style toy corpus (low×5 lower×2 newest×6 widest×3),
  * including deterministic tie-breaks and greedy leftmost application. */
class BpeTrainerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def corpus = {
    import spark.implicits._
    val words =
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    // split across two docs to exercise the corpus-wide aggregation
    Seq((1L, words.take(7).mkString(" ")),
      (2L, words.drop(7).mkString(" "))).toDF("doc_id", "text")
  }

  test("learned merge table matches hand computation, ties broken by pair text") {
    val got = BpeTrainer.train(corpus, "text", merges = 5)
      .orderBy("rank")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .toSeq
    // round 1: e-s and s-t tie at 9 → 'e' < 's'; round 3: l-o / o-w tie
    // at 7 → 'l' < 'o'; round 5: n-e / e-w / w-est tie at 6 → 'e' wins
    assert(got == Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 7L),
      (4, "lo", "w", "low", 7L),
      (5, "e", "w", "ew", 6L)))
  }

  test("local and distributed merge loops learn the identical table") {
    def table(maxLocal: Int) =
      BpeTrainer.train(corpus, "text", merges = 5, maxLocalVocab = maxLocal)
        .orderBy("rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
    assert(table(200000) == table(0),
      "driver-side fast path must replay the distributed loop exactly")
    // real corpus too, with messier tie structure
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    def real(maxLocal: Int) =
      BpeTrainer.train(docs, "text", merges = 12, maxLocalVocab = maxLocal)
        .orderBy("rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
    assert(real(200000) == real(0))
  }

  test("the distributed merge loop leaves at most one vocab pin behind") {
    val sc = spark.sparkContext
    def stored() = sc.getRDDStorageInfo.map(_.id).toSet
    val before = stored()
    val merges = BpeTrainer.train(corpus, "text", merges = 4, maxLocalVocab = 0)
    assert(merges.count() == 4)
    val left = stored() -- before
    assert(left.size <= 1, s"merge-loop pins still stored: $left")
  }

  test("train stops early when no pair remains") {
    import spark.implicits._
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val got = BpeTrainer.train(tiny, "text", merges = 10).collect()
    assert(got.length == 1) // 'ab' merges once, then single symbols only
  }

  test("tokenize applies merges in rank order, greedy leftmost") {
    import spark.implicits._
    val merges = Seq("e" -> "s", "es" -> "t", "l" -> "o", "lo" -> "w",
      "e" -> "w")
    val doc = Seq((1L, "low lower newest widest")).toDF("doc_id", "text")
    // low→[low]=1, lower→[low,e,r]=3, newest→[n,ew,est]=3,
    // widest→[w,i,d,est]=4 → 11 tokens
    val got = BpeTrainer.tokenize(doc, "doc_id", "text", merges)
      .head().getLong(1)
    assert(got == 11L)
  }

  test("corpus scan prunes to the text column only (the one corpus-sized pass)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = BpeTrainer.initialPairCounts(docs, "text")
      .queryExecution.sparkPlan // pre-AQE: scans still visible to collect
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(s.requiredSchema.fieldNames.toSeq == Seq("text"),
        s"scan should read only text, got ${s.requiredSchema.fieldNames.toSeq}")
    }
  }

  test("greedy leftmost on overlapping runs: aaaa under (a,a) → [aa, aa]") {
    import spark.implicits._
    val doc = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val got = BpeTrainer.tokenize(doc, "doc_id", "text", Seq("a" -> "a"))
      .head().getLong(1)
    assert(got == 2L)
  }
}
