package graft

import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec,
  LocalLimitExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LanguageModel, Pin, TextDedup, VectorSearch}
import graft.tables.Tables

class PinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("frames are stored, checkpointed and freed only in Pin.scala") {
    import SourceScan.{hits, sources}
    val all = sources("src/main/scala/graft")
    val isPin = (p: java.nio.file.Path) => p.getFileName.toString == "Pin.scala"
    val pattern = """localCheckpoint\(|\.checkpoint\(|\.persist\(|\.cache\(\)|""" +
      """unpersist\(|CacheBridge\."""
    val outside = hits(all.filterNot(f => isPin(f._1)), pattern)
    assert(outside.isEmpty,
      s"pin frames through graft.operators.Pin:\n${outside.map(_._1).mkString("\n")}")
    assert(hits(all.filter(f => isPin(f._1)), pattern).nonEmpty,
      "the scan must see Pin.scala's own calls")
  }

  test("lazilyAll: jobs of the pinned frames run under the caller's job group") {
    val sc = spark.sparkContext
    try {
      // two rounds under different groups: construction threads left over
      // from the first round must not carry its group into the second
      for (group <- Seq("pin-group-a", "pin-group-b")) {
        sc.setJobGroup(group, "Pin.lazilyAll propagation")
        val (_, work) = SparkWork.of(spark) {
          val pinned = Pin.lazilyAll(Seq(2, 3).map(m =>
            spark.range(1000).groupBy((col("id") % m).as("k")).count()))
          assert(pinned.map(_.count()) == Seq(2L, 3L))
        }
        val seen = work.jobGroups
        assert(seen.nonEmpty, "pinning must have run jobs")
        assert(seen.forall(_ == group), s"jobs under $group saw groups $seen")
      }
    } finally sc.clearJobGroup()
  }

  /** Each lazy pin's scans in `p`, by RDD id, with whether a limit sits
    * above the scan inside the same stage. An exchange (or a query stage)
    * between them reads its whole input, so a limit above it does not cut
    * the pin short. */
  private def lazyScans(p: SparkPlan, limited: Boolean): Seq[(Int, Boolean)] =
    p match {
      case a: AdaptiveSparkPlanExec => lazyScans(a.executedPlan, limited)
      case s: QueryStageExec => lazyScans(s.plan, limited = false)
      case r: ReusedExchangeExec => lazyScans(r.child, limited = false)
      case e: Exchange => e.children.flatMap(lazyScans(_, limited = false))
      case r: RDDScanExec if r.rdd.name == Pin.LazyName => Seq(r.rdd.id -> limited)
      case _: CollectLimitExec | _: GlobalLimitExec | _: LocalLimitExec =>
        p.children.flatMap(lazyScans(_, limited = true))
      case _ => (p.children ++ p.subqueries).flatMap(lazyScans(_, limited))
    }

  test("a lazy pin's first consuming plan puts no limit above its scan") {
    val sf = "/root/testdata/sf0.001"
    // rdd id -> (action, limited) of the first plan that scanned it
    val first = scala.collection.concurrent.TrieMap[Int, (String, Boolean)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        lazyScans(qe.executedPlan, limited = false).foreach { case (id, lim) =>
          first.putIfAbsent(id, (action, lim))
        }
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the pins `body` created, each with its first consumer and limit flag
    def pinsOf(body: => Unit): Map[Int, (String, Boolean)] = {
      SparkWork.drain(spark)
      val before = first.keySet.toSet
      body
      SparkWork.drain(spark)
      first.filter { case (id, _) => !before(id) }.toMap
    }
    def check(name: String)(body: => Unit): Unit = {
      val pins = pinsOf(body)
      assert(pins.nonEmpty, s"$name: no lazy pin was consumed")
      val cut = pins.filter(_._2._2)
      assert(cut.isEmpty, s"$name: lazy pins first read under a limit: $cut")
    }
    val docs = Tables.documents(spark, sf)
    val half = docs.filter(col("doc_id") % 2 === 0)
    val rest = docs.filter(col("doc_id") % 2 === 1)
    val corpus = graft.queries.TrainingData.nearDupCorpus(spark, sf)
    spark.listenerManager.register(listener)
    try {
      check("jaccardPairs")(
        TextDedup.jaccardPairs(docs, "doc_id", "text", Nil, 0.8).collect())
      check("jaccardPairsAgainst")(TextDedup.jaccardPairsAgainst(
        half, rest, "doc_id", "text", Nil, 0.8).collect())
      check("verifiedMinhashPairs")(TextDedup.verifiedMinhashPairs(
        docs, "doc_id", "text", bands = 32, rowsPerBand = 3, threshold = 0.9)
        .collect())
      check("verifiedMinhashPairsMd5")(TextDedup.verifiedMinhashPairsMd5(
        docs, "doc_id", "text", bands = 12, rowsPerBand = 8, threshold = 0.9)
        .collect())
      check("simhashPairs")(
        TextDedup.simhashPairs(docs, "doc_id", "text", 3).collect())
      check("cosineNearDupPairs")(
        VectorSearch.cosineNearDupPairs(corpus, "vec_id", "v", 64, 0.9).collect())
      check("bigramSurprisal")(
        LanguageModel.bigramSurprisal(docs, "doc_id", "text").collect())
      check("trigramSurprisal")(
        LanguageModel.trigramSurprisal(docs, "doc_id", "text").collect())
      check("naiveBayes")(
        LanguageModel.naiveBayes(docs, "doc_id", "text", "lang").collect())
      // the check itself: a short-circuiting first consumer is flagged
      val planted = pinsOf(Pin.lazily(spark.range(1000).toDF().repartition(4)).limit(1).collect())
      assert(planted.size == 1 && planted.values.forall(_._2),
        s"a limit(1) first consumer must be flagged: $planted")
    } finally spark.listenerManager.unregister(listener)
  }
}
