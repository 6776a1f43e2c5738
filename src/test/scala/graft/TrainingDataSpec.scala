package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{TextAnalysis, TextDedup, VectorSearch, Width}
import graft.tables.Tables

/** Validates the hash-seeded similarity ops against their exact
  * counterparts — the checks the DuckDB oracle can't express.
  */
class TrainingDataSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, sf)
  private def embs = Tables.embeddings(spark, sf)

  test("codegen minhash/fingerprint match their declarative forms bit for bit") {
    // MinHashSignature == min(xxhash64(i, xxhash64(tok))) per doc
    val n = 16
    val decl = docs.select(col("doc_id"),
      transform(sequence(lit(0), lit(n - 1)), i =>
        array_min(transform(split(lower(col("text")), "\\s+"),
          t => xxhash64(i, xxhash64(t))))).as("sig"))
    val fast = TextDedup.minhashSignatures(docs, "doc_id", "text", n)
    val sigJoin = decl.join(fast, decl("doc_id") === fast("__id"))
      .filter(not(col("sig") <=> col("__sig")))
    assert(sigJoin.count() == 0, "minhash signatures diverged")

    // RollingFingerprint == slice(array_sort(transform(…xxhash64(substr))),1,keep)
    val declFp = slice(array_sort(transform(
      sequence(lit(1), greatest(length(col("text")) - 7, lit(1))),
      i => xxhash64(col("text").substr(i, lit(8))))), 1, 4)
    import spark.implicits._
    val edge = Seq("", "ab", "aaaaaaaaaaaa", "abcdefgh").toDF("text")
    val fpDiff = docs.select(col("text")).union(edge)
      .select(declFp.as("o"), TextAnalysis.fingerprint(col("text")).as("f"))
      .filter(not(col("o") <=> col("f")))
    assert(fpDiff.count() == 0, "fingerprints diverged")
  }

  test("minhash LSH finds ≥95% of exact jaccard≥0.9 pairs, 100% precision") {
    val exact = TextDedup.jaccardPairs(docs, "doc_id", "text", Seq.empty, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.verifiedMinhashPairs(docs, "doc_id", "text",
        bands = 32, rowsPerBand = 3, threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "verified LSH pairs must all be exact pairs")
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.95, s"LSH recall $recall (found ${lsh.size}/${exact.size})")
  }

  test("md5-affine minhash kernel matches the layered declarative form " +
      "bit for bit") {
    val fast = TextDedup.md5MinhashBandKeys(docs, "doc_id", "text", 12, 8)
    val decl = TextDedup.md5MinhashBandKeysDeclarative(docs, "doc_id", "text", 12, 8)
    val diff = fast.as("f").join(decl.as("d"), col("f.__id") === col("d.__id"))
      .filter(not(col("f.__keys") <=> col("d.__keys")))
    assert(diff.count() == 0, "md5-affine band keys diverged")
    assert(fast.count() == decl.count())
  }

  test("md5-family minhash LSH (the q26 oracle variant) keeps the same " +
      "recall/precision contract as the xxhash64 kernel") {
    val exact = TextDedup.jaccardPairs(docs, "doc_id", "text", Seq.empty, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.verifiedMinhashPairsMd5(docs, "doc_id", "text",
        bands = 32, rowsPerBand = 3, threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "verified md5-LSH pairs must all be exact pairs")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.95, s"md5-LSH recall $recall (found ${lsh.size}/${exact.size})")
  }

  test("jaccardPairs equals local brute force on randomized corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val vocab = (1 to 12).map(i => s"w$i")
      val corpus = (0 until 30).map { i =>
        (i.toLong,
          Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
            .mkString(" "))
      }
      val docsDf = corpus.toDF("doc_id", "text")
      Seq(0.5, 0.8).foreach { t =>
        val got = TextDedup.jaccardPairs(docsDf, "doc_id", "text",
            Seq.empty, t)
          .select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val sets = corpus.map { case (id, tx) =>
          id -> tx.toLowerCase.split("\\s+").toSet }
        val want = (for {
          (a, sa) <- sets; (b, sb) <- sets if a < b
          inter = (sa & sb).size.toDouble
          if inter / (sa.size + sb.size - inter) >= t
        } yield (a, b)).toSet
        assert(got == want, s"trial $trial t=$t: got ${got.size}, " +
          s"want ${want.size}; missing=${want -- got} extra=${got -- want}")
      }
    }
  }

  test("similarity candidate join pins an explicit width above the " +
      "corpus-size gate, with identical pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = (1 to 12).map(i => s"w$i")
    val random = (0 until 40).map { i =>
      (i.toLong,
        Seq.fill(4 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
    }
    // plus two verbatim copies, so the pair set is never empty
    val docsDf = (random ++ random.take(2).map { case (i, t) => (i + 100L, t) })
      .toDF("doc_id", "text").localCheckpoint()
    def run(df: org.apache.spark.sql.DataFrame) =
      TextDedup.jaccardPairs(df, "doc_id", "text", Nil, 0.8)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // below the gate: AQE keeps sizing the candidate exchange
    val small = run(docsDf)
    val smallPairs = pairsOf(small)
    assert(smallPairs.nonEmpty, "fixture should contain near-dup pairs")
    assert(!small.queryExecution.executedPlan.toString
        .contains("REPARTITION_BY_NUM"),
      "gate-scale corpora must not pay the explicit-width exchange")
    // above the gate: the same 40 docs plus one unique single-token doc
    // per row past Width.ScaleGateRows — the fillers pair with nothing,
    // so the pair set must not move, while the candidate join's inputs
    // carry the explicit non-coalescible width (AQE sizes this join by
    // its ~10x-compressed input while its OUTPUT fans out, so the width
    // must be operator-owned at scale)
    val fillers = spark.range(Width.ScaleGateRows)
      .select((col("id") + 1000L).as("doc_id"),
        concat(lit("u"), col("id").cast("string")).as("text"))
    val wide = run(docsDf.unionByName(fillers))
    assert(pairsOf(wide) == smallPairs,
      "explicit width changed the pair set")
    assert(wide.queryExecution.executedPlan.toString
        .contains("REPARTITION_BY_NUM"),
      "above the gate the candidate join must pin an explicit width")
  }

  test("containmentJoin equals local brute force on randomized corpora " +
      "(the prefix filter is lossless)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    (1 to 3).foreach { trial =>
      val vocab = (1 to 15).map(i => s"w$i")
      val mk = (n: Int) =>
        Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val bench = (0 until 8).map(i => (i.toLong, mk(3 + rnd.nextInt(4))))
      val corpus = (100 until 140).map(i => (i.toLong, mk(5 + rnd.nextInt(12))))
      Seq(0.5, 0.75).foreach { tau =>
        val got = TextDedup.containmentJoin(bench.toDF("doc_id", "text"),
            corpus.toDF("doc_id", "text"), "doc_id", "text", tau)
          .select("bench_id", "doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val bs = bench.map { case (id, tx) =>
          id -> tx.toLowerCase.split("\\s+").toSet }
        val cs = corpus.map { case (id, tx) =>
          id -> tx.toLowerCase.split("\\s+").toSet }
        val want = (for {
          (bi, sb) <- bs; (ci, sc) <- cs
          if (sb & sc).size.toDouble / sb.size >= tau
        } yield (bi, ci)).toSet
        assert(got == want, s"trial $trial tau=$tau: got ${got.size}, " +
          s"want ${want.size}; missing=${want -- got} extra=${got -- want}")
      }
    }
  }

  test("ngramJaccardPairs equals local brute force on randomized corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = (1 to 8).map(i => s"t$i")
    val corpus = (0 until 25).map { i =>
      (i.toLong,
        Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
    }
    val docsDf = corpus.toDF("doc_id", "text")
    val got = TextDedup.ngramJaccardPairs(docsDf, "doc_id", "text",
        Seq.empty, 0.5, n = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = corpus.map { case (id, tx) =>
      id -> tx.toLowerCase.split("\\s+").sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet }
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets
      if a < b && sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size.toDouble
      if inter / (sa.size + sb.size - inter) >= 0.5
    } yield (a, b)).toSet
    assert(got == want,
      s"missing=${want -- got} extra=${got -- want}")
  }

  test("simhash pigeonhole blocking finds every all-pairs hamming hit") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val vocab = (1 to 10).map(i => s"s$i")
    val docsDf = (0 until 40).map { i =>
      (i.toLong,
        Seq.fill(4 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
    }.toDF("doc_id", "text")
    val blocked = TextDedup.simhashPairs(docsDf, "doc_id", "text",
        maxDist = 3)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = TextDedup.simhash(docsDf, "doc_id", "text")
    val all = sigs.as("x").join(sigs.as("y"),
        col("x.__id") < col("y.__id"))
      .select(col("x.__id"), col("y.__id"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(_._3 <= 3).toSet
    assert(blocked == all,
      s"pigeonhole lost pairs: missing=${all -- blocked} extra=${blocked -- all}")
  }

  test("greedySurvivors equals the sequential min-id keep rule") {
    import spark.implicits._
    def run(n: Long, edges: Seq[(Long, Long)]): Set[Long] = {
      val ids = (0L until n).toDF("__id")
      val pairs = edges.toDF("id_a", "id_b")
      TextDedup.greedySurvivors(ids, pairs)
        .collect().map(_.getLong(0)).toSet
    }
    def sequential(n: Long, edges: Seq[(Long, Long)]): Set[Long] = {
      val adj = edges.flatMap { case (a, b) =>
        Seq(math.min(a, b) -> math.max(a, b)) }
        .groupBy(_._2).map { case (hi, es) => hi -> es.map(_._1).toSet }
      var kept = Set.empty[Long]
      (0L until n).foreach { d =>
        if (!adj.getOrElse(d, Set.empty).exists(kept)) kept += d
      }
      kept
    }
    // chain 0-1-2: 1 blocked by 0, 2 RE-ENTERS when 1 drops (the
    // non-monotone case iterated elimination must converge through)
    assert(run(4, Seq((0L, 1L), (1L, 2L))) == Set(0L, 2L, 3L))
    // triangle keeps only the minimum
    assert(run(3, Seq((0L, 1L), (0L, 2L), (1L, 2L))) == Set(0L))
    // star: center 0 kept, leaves dropped
    assert(run(4, Seq((0L, 1L), (0L, 2L), (0L, 3L))) == Set(0L))
    // randomized graphs vs the sequential reference
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val n = 30L
      val edges = Seq.fill(45)(
        (rnd.nextLong(n), rnd.nextLong(n))).filter(e => e._1 != e._2)
      assert(run(n, edges) == sequential(n, edges),
        s"diverged on $edges")
    }
  }

  test("fixpoint loops fail LOUDLY on maxIter exhaustion — no silent truncation") {
    import spark.implicits._
    // a decreasing-id elimination chain deeper than maxIter: edges
    // (0,1),(1,2),…,(k-1,k) force greedySurvivors to need ~k rounds
    val depth = 8
    val ids = (0L to depth).toDF("__id")
    val chain = (0 until depth).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    val eG = intercept[IllegalStateException] {
      TextDedup.greedySurvivors(ids, chain, maxIter = 3).collect()
    }
    assert(eG.getMessage.contains("did not converge"))
    // with headroom the same chain converges to the sequential greedy set
    val ok = TextDedup.greedySurvivors(ids, chain, maxIter = depth + 2)
      .collect().map(_.getLong(0)).toSet
    assert(ok == (0L to depth by 2).toSet)
    // connectedComponents: pointer jumping covers depth 2^maxIter, so a
    // too-deep chain needs maxIter=1 on depth > 2 to trip the guard.
    // Forced onto the DISTRIBUTED loop — the guard under test lives
    // there; the small-graph driver path is exact and loop-free.
    val eC = intercept[IllegalStateException] {
      withDistributedCc {
        TextDedup.connectedComponents(ids, chain, maxIter = 1).collect()
      }
    }
    assert(eC.getMessage.contains("did not converge"))
  }

  /** Run `body` with the connectedComponents driver fast path disabled,
    * restoring the session conf after — the loop-behavior specs must pin
    * the distributed algorithm, which small fixture graphs would
    * otherwise never reach. */
  private def withDistributedCc[A](body: => A): A = {
    spark.conf.set("spark.graft.cc.driverEdgeLimit", "0")
    try body finally spark.conf.unset("spark.graft.cc.driverEdgeLimit")
  }

  test("connectedComponents pointer jumping: a 600-deep path converges in <=20 rounds") {
    import spark.implicits._
    // min-label hop alone needs ~600 rounds here; with label shortcutting
    // the reach doubles per round, so the DEFAULT maxIter=20 must suffice
    val n = 600
    val ids = (0L until n).toDF("__id")
    val path = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    val labels = withDistributedCc {
      TextDedup.connectedComponents(ids, path)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
    }
    assert(labels.length == n && labels.forall(_._2 == 0L))
  }

  test("streaming semantic dedup: batching-invariant and eliminates every " +
      "planted dup (equals the one-shot greedy set at any drain schedule)") {
    import org.apache.spark.sql.DataFrame
    val dim = 64
    // the q47 near-dup corpus: base embeddings + planted 1.02x+0.01 dups
    val base0 = embs.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val planted = base0.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("v"), x => x * 1.02 + 0.01).as("v"))
    val corpus = base0.unionByName(planted).localCheckpoint()

    // one-shot target: greedy min-id survivors over the exact-cosine graph
    val oneShot = TextDedup.greedySurvivors(
        corpus.select(col("vec_id").as("__id")),
        VectorSearch.cosineNearDupPairs(corpus, "vec_id", "v", dim, 0.9)
          .select("id_a", "id_b"))
      .collect().map(_.getLong(0)).toSet

    // every planted dup must fall to its lower-id base twin
    val plantedIds = planted.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(plantedIds.nonEmpty)
    assert(plantedIds.intersect(oneShot).isEmpty,
      "a planted dup survived the one-shot greedy pass")

    // incremental replay at two different drain schedules
    def incremental(nBatches: Int): Set[Long] = {
      val ids = corpus.select("vec_id").orderBy("vec_id")
        .collect().map(_.getLong(0))
      val bounds = (0 to nBatches).map(b => b * ids.length / nBatches)
      var baseSurv: DataFrame = corpus.filter(lit(false)).localCheckpoint()
      var out = Set.empty[Long]
      (0 until nBatches).foreach { b =>
        val lo = ids(bounds(b))
        val batch = corpus.filter(col("vec_id") >= lo &&
          (if (bounds(b + 1) < ids.length) col("vec_id") < ids(bounds(b + 1))
           else lit(true))).localCheckpoint()
        val blocked = VectorSearch.cosineNearDupPairsAgainst(
            batch, baseSurv, "vec_id", "v", dim, 0.9)
          .select(col("new_id").as("vec_id")).distinct()
        val clean = batch.join(blocked, Seq("vec_id"), "left_anti")
        val surv = TextDedup.greedySurvivors(
          clean.select(col("vec_id").as("__id")),
          VectorSearch.cosineNearDupPairs(clean, "vec_id", "v", dim, 0.9)
            .select("id_a", "id_b"))
        val keepers = clean.join(surv.select(col("__id").as("vec_id")),
          "vec_id").localCheckpoint()
        out ++= keepers.select("vec_id").collect().map(_.getLong(0))
        baseSurv = baseSurv.unionByName(keepers).localCheckpoint()
      }
      out
    }
    assert(incremental(2) == oneShot,
      "2-batch drain diverged from the one-shot greedy set")
    assert(incremental(5) == oneShot,
      "5-batch drain diverged from the one-shot greedy set")
  }

  test("exceedsCount gate short-circuits: over-cap decision reads a " +
      "bounded prefix per partition, never the full frame") {
    val dir = graft.tables.TempDirs.create("graft_cappedcount_")
    spark.range(80000).repartition(8)
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val (over, work) = SparkWork.of(spark)(Width.exceedsCount(df, 100L))
    assert(over, "80k rows must exceed 100")
    val bounded = work.recordsRead
    // each of the 8 partitions stops within its first vectorized batch
    // or two — a full count() would read all 80k rows
    assert(bounded > 0 && bounded <= 20000,
      s"over-cap gate read $bounded rows — not short-circuiting")
    assert(!Width.exceedsCount(df, 200000L),
      "under-cap gate must report the exact side")
  }

  test("edge-width gate: narrow (gate-scale) and wide (probe-scale) edge " +
      "pins label identically, on both CC paths") {
    import spark.implicits._
    // below the Width.ScaleGateRows gate the symmetric-edge pin keeps its
    // producer's width (no explicit repartition); above it the
    // un-coalescible Width.fanOut width stands. Labels must be identical
    // either way — partitioning is never allowed to change what
    // min-label propagation computes.
    val rnd = new scala.util.Random(13)
    val ids = (0L until 60L).toDF("__id")
    val edges = Seq.fill(45)((rnd.nextLong(60), rnd.nextLong(60)))
      .filter(e => e._1 != e._2).toDF("id_a", "id_b")
    def labels(idsDf: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      TextDedup.connectedComponents(idsDf, edges)
        .filter(col("__id") < 60).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val narrow = labels(ids) // 60 ids < gate → narrow pin
    assert(narrow.size == 60 && narrow.exists { case (k, v) => k != v },
      "fixture must hold non-trivial components")
    // a >100k-id frame takes the wide path on its own and labels the ids
    // the edges touch identically, on the driver path and on the
    // distributed loop
    val bigIds = spark.range(Width.ScaleGateRows + 20000)
      .select(col("id").as("__id"))
    assert(labels(bigIds) == narrow, "above-gate driver path diverged")
    val (narrowLoop, wideLoop) = withDistributedCc((labels(ids), labels(bigIds)))
    assert(narrowLoop == narrow && wideLoop == narrow,
      "distributed loop diverged across edge pin widths")
  }

  test("connectedComponents runs an exchange-bearing ids input once per " +
      "call, on both CC paths") {
    import spark.implicits._
    // ids shaped like Tables.documents(...).select(doc_id): a parquet scan
    // under a repartition, so its plan carries an exchange
    val dir = graft.tables.TempDirs.create("graft_cc_ids_")
    spark.range(500).select(col("id").as("__id")).write.mode("overwrite").parquet(dir)
    def ids = spark.read.parquet(dir).repartition(4) // a fresh plan per call
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    def stagesReadingIds(): (Int, Long) = {
      val (n, work) = SparkWork.of(spark)(
        TextDedup.connectedComponents(ids, edges).count())
      (work.fileScanStages, n)
    }
    assert(stagesReadingIds() == (1, 500L), "driver path")
    assert(withDistributedCc(stagesReadingIds()) == (1, 500L), "distributed loop")
  }

  test("driver union-find fast path labels exactly like the distributed loop") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    for (_ <- 1 to 5) {
      val n = 40L
      val ids = (0L until n).toDF("__id")
      val edges = Seq.fill(30)((rnd.nextLong(n), rnd.nextLong(n)))
        .filter(e => e._1 != e._2).toDF("id_a", "id_b")
      val viaDriver = TextDedup.connectedComponents(ids, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaLoop = withDistributedCc {
        TextDedup.connectedComponents(ids, edges)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(viaDriver == viaLoop)
    }
  }

  test("connected components label chains, stars, and singletons") {
    import spark.implicits._
    // chain 1-2-3-4, star 10-{11,12}, singleton 20
    val ids = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("__id")
    val edges = Seq((1L, 2L), (3L, 2L), (3L, 4L), (10L, 11L), (12L, 10L))
      .toDF("id_a", "id_b")
    val labels = TextDedup.connectedComponents(ids, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(labels(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(labels(_) == 10L))
    assert(labels(20L) == 20L)
  }

  test("sorted_intersect_count equals array_intersect size on random sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      Seq.fill(rnd.nextInt(60))(rnd.nextInt(40).toLong).distinct.sorted,
      Seq.fill(rnd.nextInt(60))(rnd.nextInt(40).toLong).distinct.sorted))
    val df = rows.toDF("a", "b")
    val mism = df.select(
        graft.functions.SortedIntersectCount(col("a"), col("b")).as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(mism == 0)
  }

  test("minhash LSH survives a 1k-identical-doc skew cluster") {
    // an m-doc duplicate cluster lands in ONE bucket per band; without the
    // exact-dup prefilter this is m² join rows per band key. With it, LSH
    // sees one representative and the cluster pairs come straight from the
    // content-hash groups.
    import spark.implicits._
    val skew = (0L until 1000L)
      .map(i => (i, "mass duplicated boilerplate text row"))
      .toDF("doc_id", "text")
      .union(Seq((2000L, "one unrelated document entirely different words"))
        .toDF("doc_id", "text"))
    val pairs = TextDedup.verifiedMinhashPairs(skew, "doc_id", "text",
      bands = 16, rowsPerBand = 2, threshold = 0.9)
    assert(pairs.count() == 1000L * 999 / 2)
    assert(pairs.filter(col("jaccard") =!= 1.0).count() == 0)
  }

  test("simhash pairs at distance ≤3 have high token overlap") {
    val pairs = TextDedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
    val toks = docs.select(col("doc_id"),
      TextDedup.tokenSet(col("text")).as("ts"))
    val joined = pairs
      .join(toks.withColumnRenamed("doc_id", "id_a").withColumnRenamed("ts", "ts_a"), "id_a")
      .join(toks.withColumnRenamed("doc_id", "id_b").withColumnRenamed("ts", "ts_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("ts_a"), col("ts_b"))).cast("double"))
      .withColumn("j", col("inter") /
        (size(col("ts_a")) + size(col("ts_b")) - col("inter")))
    val rows = joined.select("j").collect().map(_.getDouble(0))
    assert(rows.nonEmpty, "simhash should find candidates in this near-dup corpus")
    val meanJ = rows.sum / rows.length
    assert(meanJ > 0.5, s"simhash-close pairs should overlap heavily, mean=$meanJ")
  }

  test("IVF ANN achieves ≥60% top-5 recall vs brute force") {
    val queries = embs.filter(col("vec_id") < 30)
    val exact = VectorSearch.bruteForceTopK(embs, queries, "vec_id", "embedding", 5, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorSearch.ivfTopK(embs, queries, "vec_id", "embedding", 5, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall")
  }

  test("semantic dedup: planted dup groups collapse to one min-id keeper") {
    // every 20th embedding gets a scaled near-copy (cos ≈ 1, the q47
    // fixture arithmetic) — each planted pair must form one component
    // keeping the base id; precision: every dropped row's keeper really
    // is cosine-≥-threshold reachable, which the exact verify guarantees
    val base = embs.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val dups = base.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("v"), x => x * 1.02 + 0.01).as("v"))
    val corpus = base.unionByName(dups)
    val out = VectorSearch.semanticDedup(corpus, "vec_id", "v", 64, 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap

    assert(out.size == corpus.count(), "one row per input")
    val planted = out.keys.filter(_ >= 1000000L)
    assert(planted.nonEmpty)
    planted.foreach { d =>
      val baseId = d - 1000000L
      assert(out(d)._1 == baseId && !out(d)._2,
        s"planted dup $d must be dropped with keeper $baseId, got ${out(d)}")
      assert(out(baseId)._2, s"base $baseId must be the kept member")
    }
    // keepers are self-labeled minima: a keeper's keeper is itself
    out.foreach { case (id, (keeper, keep)) =>
      assert(keeper <= id)
      if (keep) assert(keeper == id) else assert(out(keeper)._2)
    }
  }

  test("PQ ANN achieves ≥60% top-5 recall vs brute force") {
    val queries = embs.filter(col("vec_id") < 30)
    val exact = VectorSearch.bruteForceTopK(embs, queries, "vec_id", "embedding", 5, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorSearch.pqTopK(embs, queries, "vec_id", "embedding", 5, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"PQ recall $recall")
  }

  test("PQ ADC scan is code-only: no join input carries raw embeddings") {
    // the memory-compression claim — the scored big side must ship codes
    // (m ints), never the dim-float vectors; raw vectors re-enter only in
    // the bounded re-rank join by id
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val queries = embs.filter(col("vec_id") < 5)
    val plan = VectorSearch.pqTopK(embs, queries, "vec_id", "embedding", 5, 64)
      .queryExecution.sparkPlan // pre-AQE: joins still visible to collect
    val adcJoins = plan.collect {
      case j: BroadcastNestedLoopJoinExec => j.output.map(_.name)
    }
    assert(adcJoins.nonEmpty, "expected the ADC broadcast join in the plan")
    adcJoins.foreach { cols =>
      assert(cols.contains("__codes") && !cols.contains("embedding"),
        s"ADC join must be code-only, got $cols")
    }
  }

  test("PQ drops malformed vectors instead of letting NULL estimates rank first") {
    import spark.implicits._
    // an undersized vector quantizes to NULL; unfiltered it would sort
    // first under asc (nulls_first) and eat the whole candidate budget
    val bad = Seq((999999L, Seq(1.0f))).toDF("vec_id", "embedding")
    val corpus = embs.select("vec_id", "embedding").unionByName(bad)
    val queries = embs.filter(col("vec_id") < 5)
    val out = VectorSearch.pqTopK(corpus, queries, "vec_id", "embedding", 5, 64)
      .collect()
    assert(out.nonEmpty)
    assert(!out.exists(_.getLong(1) == 999999L),
      "malformed vector must not appear as a neighbor")
  }

  test("PQ re-rank returns true cosines: scores match brute force on shared pairs") {
    val queries = embs.filter(col("vec_id") < 10)
    val exact = VectorSearch.bruteForceTopK(embs, queries, "vec_id", "embedding", 5, 64)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = VectorSearch.pqTopK(embs, queries, "vec_id", "embedding", 5, 64)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val shared = exact.keySet intersect pq.keySet
    assert(shared.nonEmpty)
    shared.foreach { p =>
      assert(exact(p) == pq(p), s"pair $p: exact ${exact(p)} vs pq ${pq(p)}")
    }
  }

  test("LSH ANN achieves ≥60% top-5 recall vs brute force") {
    val queries = embs.filter(col("vec_id") < 30)
    val exact = VectorSearch.bruteForceTopK(embs, queries, "vec_id", "embedding", 5, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorSearch.lshTopK(embs, queries, "vec_id", "embedding", 5, 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall $recall")
  }

  test("sign_signature matches the zip_with/aggregate fold bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val planes = Seq.fill(12)(Array.fill(64)(rnd.nextGaussian()))
    val vecs = Seq.fill(200)(Seq.fill(64)(rnd.nextFloat() * 2 - 1)).toDF("v")
    val planesLit = typedLit(planes.map(_.toSeq))
    val lambda = (0 until 12).map { j =>
      val proj = aggregate(zip_with(col("v"), element_at(planesLit, j + 1),
        (x, p) => x.cast("double") * p), lit(0.0), (acc, x) => acc + x)
      shiftleft(when(proj >= 0, 1L).otherwise(0L), j)
    }.reduce(_ bitwiseOR _)
    val mism = vecs.select(
        graft.functions.SignSignature(col("v"), planes).as("fast"),
        lambda.as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(mism == 0)
    // a null element poisons every plane's dot -> all bits 0, like the
    // lambda fold's null propagation
    val sig = spark.sql(
      "SELECT array(cast(1.0 as float), cast(null as float)) AS v")
      .select(graft.functions.SignSignature(col("v"),
        Seq(Array(1.0, 1.0))).as("s")).head().getLong(0)
    assert(sig == 0L)
  }

  test("codegen cosine matches the explicit fold bit for bit") {
    // float corpus (embeddings) and double corpus (near-dup planted copies):
    // both element types, including the mixed float/double pair shape
    val e = embs.limit(50)
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
    val diff = pairs.select(
        VectorSearch.cosine(col("a.embedding"), col("b.embedding"), 64).as("c"),
        VectorSearch.cosineFold(col("a.embedding"), col("b.embedding"), 64).as("f"))
      .filter(col("c") =!= col("f")) // bitwise: any ULP difference fails =!=
      .count()
    assert(diff == 0L)
    // null semantics: short array and null element both yield NULL, like
    // the fold's element_at chain
    val r = spark.sql(
      """SELECT array(cast(1.0 as float)) AS s,
        |       array(cast(1.0 as float), cast(null as float)) AS n""".stripMargin)
      .select(VectorSearch.cosine(col("s"), col("s"), 2).as("short"),
        VectorSearch.cosine(col("n"), col("n"), 2).as("nul")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("cosine near-dup pairs match brute force exactly on the planted corpus") {
    val corpus = graft.queries.TrainingData.nearDupCorpus(spark, sf)
    val exact = corpus.as("a").join(corpus.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", VectorSearch.cosine(col("a.v"), col("b.v"), 64))
      .filter(col("cos") >= 0.9)
      .select(col("a.vec_id"), col("b.vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorSearch.cosineNearDupPairs(corpus, "vec_id", "v", 64, 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "planted corpus must contain near-dup pairs")
    // at the planted margin (pair cosine ≈0.997 → per-table collision ≈0.86,
    // 8 independent tables → miss ≈1e-7) LSH recall is exactly 1, and the
    // exact-cosine verify step makes precision exactly 1 by construction
    assert(lsh == exact, s"expected ${exact.size} pairs, got ${lsh.size}")
  }

  test("brute-force top-k self-consistency: rank 1 has max cosine") {
    val res = VectorSearch.bruteForceTopK(embs, embs.filter(col("vec_id") === 7),
      "vec_id", "embedding", 5, 64).orderBy("rank").collect()
    assert(res.length == 5)
    val cosines = res.map(_.getAs[Double]("cosine"))
    assert(cosines.sameElements(cosines.sorted.reverse), "ranks ordered by cosine")
    assert(cosines.forall(c => c >= -1.0001 && c <= 1.0001))
  }

  test("distributed k-means matches a local Lloyd reference over 3 iterations") {
    val k = 5; val dim = 64; val iters = 3
    val vecs = embs.orderBy("vec_id")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    // local reference with the SAME rules: seeds = vectors of the k
    // smallest ids, argmin on |c|²−2·v·c with first-minimum tie-break,
    // empty clusters keep their previous centroid
    var ref = vecs.take(k).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Long](k)
      vecs.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        for (c <- 0 until k) {
          val n2 = ref(c).map(x => x * x).sum
          var dot = 0.0; var i = 0
          while (i < dim) { dot += v(i) * ref(c)(i); i += 1 }
          val d = n2 - 2.0 * dot
          if (d < bestD) { bestD = d; best = c }
        }
        cnt(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      ref = Array.tabulate(k)(c =>
        if (cnt(c) == 0) ref(c) else sums(c).map(_ / cnt(c)))
    }
    val got = VectorSearch.kmeansFit(embs, "vec_id", "embedding", k, iters, dim)
    for (c <- 0 until k; i <- 0 until dim)
      assert(math.abs(got(c)(i) - ref(c)(i)) < 1e-9,
        s"centroid $c dim $i: ${got(c)(i)} vs ${ref(c)(i)}")
    // assignment against the fitted centroids: conservation + range
    val assigned = VectorSearch.kmeansAssign(embs, "vec_id", "embedding", got)
    assert(assigned.count() == embs.count())
    val cl = assigned.agg(min("cluster"), max("cluster")).head
    assert(cl.getInt(0) >= 0 && cl.getInt(1) < k)
  }

  test("leakage-safe split keeps each near-dup cluster in one split") {
    val pairs = TextDedup.jaccardPairs(docs, "doc_id", "text", Seq.empty, 0.9)
      .select("id_a", "id_b")
    val res = graft.operators.Curation
      .leakageSafeSplit(docs, "doc_id", pairs, "t:")
    assert(res.count() == docs.count(), "split must cover every doc once")
    val straddlers = res.groupBy("cluster")
      .agg(countDistinct("split").as("k")).filter(col("k") > 1).count()
    assert(straddlers == 0, "a near-dup cluster straddled a split boundary")
    // the fixture has real multi-doc clusters, so the invariant bites
    val multi = res.groupBy("cluster").count().filter(col("count") > 1).count()
    assert(multi > 0, "fixture should contain non-singleton clusters")
  }

  test("fingerprint is deterministic and shared by near-identical docs") {
    val fp1 = docs.select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(_.getSeq[Long](0))
    val fp2 = docs.select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(_.getSeq[Long](0))
    assert(fp1.zip(fp2).forall { case (a, b) => a == b })
    assert(fp1.forall(_.length <= 4))
  }

  test("langId prefers the language whose stopwords dominate") {
    val r = spark.range(1).select(
      TextAnalysis.langId(lit("the cat and the dog of a house")).as("en"),
      TextAnalysis.langId(lit("der hund und die katze ist nicht da")).as("de"),
      TextAnalysis.langId(lit("qwer zxcv asdf")).as("und")).collect()(0)
    assert(r.getString(0) == "en")
    assert(r.getString(1) == "de")
    assert(r.getString(2) == "und")
  }

  test("repetition folds: top-gram ties, short docs, duplicate fractions") {
    // "b a b a" bigrams: [b a, a b, b a] → "b a" wins with 2
    // "x y x z" bigrams all unique → tie resolves to smallest ("x y")
    val r = spark.range(1).select(
      TextAnalysis.topNgram(lit("b a b a"), 2).as("dup"),
      TextAnalysis.topNgram(lit("x y x z"), 2).as("tie"),
      TextAnalysis.topNgram(lit("solo"), 2).as("short"),
      TextAnalysis.dupWordFrac(lit("a a b")).as("dwf"),
      TextAnalysis.dupNgramFrac(lit("a b a b a"), 2).as("dgf")).collect()(0)
    assert(r.getStruct(0).getString(0) == "b a" && r.getStruct(0).getLong(1) == 2)
    assert(r.getStruct(1).getString(0) == "x y" && r.getStruct(1).getLong(1) == 1)
    assert(r.getStruct(2).getString(0) == "" && r.getStruct(2).getLong(1) == 0)
    assert(r.getDouble(3) == 1.0 / 3)   // (3 words - 2 distinct) / 3
    assert(r.getDouble(4) == 2.0 / 4)   // [a b, b a, a b, b a] → 2 repeats
  }

  test("stratified sample is deterministic; unknown strata drop; zzzz keeps all") {
    import spark.implicits._
    val df = (0 until 200).map(i => (i.toLong, if (i % 2 == 0) "en" else "xx"))
      .toDF("id", "lang")
    val thr = Map("en" -> "8000", "zz" -> "zzzz")
    def ids = graft.operators.Curation
      .stratifiedSample(df, "lang", "id", thr, "s:")
      .select("id").collect().map(_.getLong(0)).toSet
    val a, b = ids
    assert(a == b, "same salt + threshold must select the same rows")
    assert(a.forall(_ % 2 == 0), "stratum absent from the map must drop")
    assert(a.nonEmpty && a.size < 100, "threshold 8000 is a proper subset")
    val all = graft.operators.Curation.stratifiedSample(
      df.withColumn("lang", lit("zz")), "lang", "id", thr, "s:").count()
    assert(all == 200, "zzzz threshold keeps every row")
  }

  test("contamination, redaction, and vocabulary edge cases") {
    import spark.implicits._
    val bench = Seq((1L, "a b c d e f g h tail")).toDF("id", "t")
    val corpus = Seq(
      (10L, "x a b c d e f g h y"), // one 8-gram overlaps (a..h)
      (11L, "totally different words here padded to eight words plus"),
      (12L, "short")).toDF("id", "t")
    val st = graft.operators.Curation
      .contaminationStats(corpus, bench, "id", "t", n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(st(10L) == ((1L, true)), s"got ${st(10L)}")
    assert(st(11L) == ((0L, false)))
    assert(st(12L) == ((0L, false)), "sub-n docs have no grams")

    val red = spark.range(1).select(
      graft.operators.Curation.redact(
        lit("mail a@b.co and c.d@e-f.org, id 1234567, short 123")).as("r"),
      graft.operators.Curation.redactionCount(
        lit("mail a@b.co and c.d@e-f.org, id 1234567, short 123")).as("n"))
      .collect()(0)
    assert(red.getString(0) == "mail <EMAIL> and <EMAIL>, id <NUM>, short 123")
    assert(red.getLong(1) == 3L)

    val vocab = graft.operators.Curation.vocabulary(
      Seq("b a", "b a", "b c").toDF("t"), "t", 2).collect()
    assert(vocab.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("b", 3L), ("a", 2L)), "df order with ties broken by token")
  }

  test("token-budget pack: first-fit keeps the crossing doc; tiny budget keeps one") {
    import spark.implicits._
    val df = Seq(("a", 1L, 10L), ("a", 2L, 10L), ("a", 3L, 10L),
      ("b", 4L, 10L), ("b", 5L, 10L), ("c", 6L, 10L))
      .toDF("s", "id", "n")
    val kept = graft.operators.Curation
      .tokenBudgetPack(df, "s", "id", "n", Map("a" -> 15L, "b" -> 1L), "x:")
      .collect().groupBy(_.getString(0)).view.mapValues(_.length).toMap
    // a: doc1 starts at 0 (<15), doc2 starts at 10 (<15, crosses), doc3 at 20 → 2
    assert(kept == Map("a" -> 2, "b" -> 1), s"got $kept") // c: no budget → dropped
  }

  test("chunking covers every token; chunks overlap by exactly `overlap`") {
    import spark.implicits._
    val df = Seq((1L, (1 to 60).map(i => s"w$i").mkString(" ")), // 3 chunks
      (2L, "a b c"), (3L, "solo")).toDF("id", "text") // short → one chunk
    val chunks = graft.operators.Curation
      .chunkTokens(df, "id", "text", chunkSize = 24, overlap = 8).collect()
    val byDoc = chunks.groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1))).toMap
    // doc 1: starts 0,16,32,48 → sizes 24,24,24,12; all 60 tokens covered
    assert(byDoc(1L).map(_.getLong(2)).toSeq == Seq(24L, 24L, 24L, 12L))
    assert(byDoc(2L).map(_.getLong(2)).toSeq == Seq(3L))
    assert(byDoc(3L).length == 1)
    // same doc re-chunked is byte-identical (md5 determinism)
    val again = graft.operators.Curation
      .chunkTokens(df, "id", "text", 24, 8).collect().map(_.getString(3)).sorted
    assert(again.toSeq == chunks.map(_.getString(3)).sorted.toSeq)
  }

  test("split assignment is stable and near the 80/10/10 design fractions") {
    import spark.implicits._
    val ids = (0L until 2000L).toDF("id")
    val splits = ids.select(graft.operators.Curation
        .splitAssign(col("id"), "t:").as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(math.abs(splits("train") - 1600.0) < 100, s"train=$splits")
    assert(math.abs(splits("val") - 200.0) < 60 &&
      math.abs(splits("test") - 200.0) < 60, s"got $splits")
    // same salt+id → same split, always (determinism across plans)
    val twice = ids.select(col("id"),
      graft.operators.Curation.splitAssign(col("id"), "t:").as("a"),
      graft.operators.Curation.splitAssign(col("id"), "t:").as("b"))
    assert(twice.filter(col("a") =!= col("b")).count() == 0)
  }

  test("temperature resample keeps the smallest stratum whole, flattens ratios") {
    import spark.implicits._
    val df = (0 until 1600).map(i => (if (i < 100) "small"
      else if (i < 500) "mid" else "big", i.toLong)).toDF("s", "id")
    val kept = graft.operators.Curation
      .temperatureResample(df, "s", "id", "tr:")
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(kept("small") == 100, s"smallest stratum must keep all: $kept")
    // expected kept ≈ sqrt(100·n): mid ≈ 200, big ≈ 332 — ratios flatten
    assert(math.abs(kept("mid") - 200.0) < 60, s"got $kept")
    assert(math.abs(kept("big") - 332.0) < 90, s"got $kept")
    assert(kept("big").toDouble / kept("mid") < 1100.0 / 400.0, s"got $kept")
  }

  test("df-rarity buckets: every stratum fills 1..k; common docs land head") {
    import spark.implicits._
    val df = ((0 until 16).map(i => (i.toLong, "the quick common words", "en"))
      ++ Seq((100L, "zyzzyva qwerty unique rarest", "en")))
      .toDF("doc_id", "text", "lang")
    val out = graft.operators.Curation
      .dfRarityBuckets(df, "doc_id", "text", "lang", buckets = 4).collect()
    val rare = out.find(_.getLong(0) == 100L).get
    assert(rare.getLong(4) == 4, s"rare-vocab doc must be tail: $rare")
    assert(out.map(_.getLong(4)).toSet == Set(1L, 2L, 3L, 4L))
    // mean_df of the common docs = 16 (each token in all 16 docs)
    assert(out.filter(_.getLong(0) < 16).forall(_.getDouble(3) == 16.0))
  }

  test("shard assignment: contiguous spans, full shards, deterministic") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, 10L + i % 7)).toDF("id", "n")
    val out = graft.operators.Curation
      .shardAssign(df, "id", "n", shardTokens = 500L, salt = "sh:")
    val shards = out.groupBy("shard_id")
      .agg(sum("n").as("tok"), count(lit(1)).as("c"))
      .orderBy("shard_id").collect()
    // shard ids are dense 0..k
    assert(shards.map(_.getLong(0)).toSeq == shards.indices.map(_.toLong))
    // contiguity: tokens THROUGH shard k cover k+1 full spans (the doc
    // crossing a boundary counts toward the shard it starts in, so each
    // cumulative total reaches past the next boundary)
    val cum = shards.map(_.getLong(1)).scanLeft(0L)(_ + _).drop(1)
    assert(cum.dropRight(1).zipWithIndex.forall {
      case (c, k) => c >= (k + 1) * 500L })
    // total is preserved and the assignment replays identically
    assert(shards.map(_.getLong(1)).sum == (0L until 300L).map(10L + _ % 7).sum)
    val again = graft.operators.Curation
      .shardAssign(df, "id", "n", 500L, "sh:")
      .select("id", "shard_id").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(again.toMap == out.select("id", "shard_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("per-group cap bounds group size and ranks deterministically") {
    import spark.implicits._
    val df = (0 until 60).map(i => (s"g${i % 3}", i.toLong, (i % 7).toLong))
      .toDF("grp", "id", "score")
    val capped = graft.operators.Curation
      .capPerGroup(df, "grp", Seq(col("score").desc, col("id")), k = 4)
      .collect()
    assert(capped.length == 12)
    val byGroup = capped.groupBy(_.getString(0))
    assert(byGroup.values.forall(_.length == 4))
    // rank 1 of each group carries the max score, smallest id among ties
    byGroup.foreach { case (_, rows) =>
      val r1 = rows.find(_.getAs[Long]("rnk") == 1L).get
      assert(r1.getAs[Long]("score") == 6)
      assert(rows.map(_.getAs[Long]("id")).distinct.length == 4)
    }
  }

  test("PassJoin edit-distance pairs equal the naive cross join (ed<=1)") {
    import spark.implicits._
    val names = Seq("kitten", "sitten", "sittin", "mitten", "kitte",
      "kittens", "abc", "abd", "xbc", "a", "ab", "zzzz", "kitten")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = names.toDF("id", "name")
    val got = TextDedup.editDistancePairs(df, "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = (for {
      (ia, sa) <- names; (ib, sb) <- names
      if ia < ib && lev(sa, sb) <= 1
    } yield (ia, ib)).toSet
    assert(got == naive, s"missing=${naive -- got} extra=${got -- naive}")
  }

  test("PassJoin equals naive on dense random short strings, 3 seeds") {
    import spark.implicits._
    // {a,b}* of length 0..5 is the densest ed<=1 neighborhood space —
    // every blocking edge case (empty segs, off-by-one starts, length
    // straddles) occurs. Deterministic seeds keep the pin reproducible.
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val names = (0 until 60).map { i =>
        (i.toLong, (0 until rnd.nextInt(6)).map(_ =>
          if (rnd.nextBoolean()) 'a' else 'b').mkString)
      }.filter(_._2.nonEmpty).distinct
      val got = TextDedup
        .editDistancePairs(names.toDF("id", "name"), "id", "name")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val naive = (for {
        (ia, sa) <- names; (ib, sb) <- names
        if ia < ib && lev(sa, sb) <= 1
      } yield (ia, ib)).toSet
      assert(got == naive,
        s"seed=$seed missing=${naive -- got} extra=${got -- naive}")
    }
  }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("PPS sample: multiplicities sum to exactly k, heavy docs always draw") {
    import spark.implicits._
    val k = 10
    val df = (1L to 40L).map(i => (i, if (i == 7L) 5000L else 50L))
      .toDF("doc_id", "w")
    val got = graft.operators.Curation.ppsSample(df, "doc_id", "w", k, "t:")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.values.sum == k, s"sum multiplicity must be k: $got")
    // doc 7 holds 5000 of W=6950; W/k=695 → at least ⌊5000/695⌋=7 draws
    assert(got.getOrElse(7L, 0L) >= 7L, s"heavy doc under-drawn: $got")
    // zero/negative weights are excluded, never sampled
    val withZero = df.union(Seq((99L, 0L)).toDF("doc_id", "w"))
    val got2 = graft.operators.Curation
      .ppsSample(withZero, "doc_id", "w", k, "t:")
      .collect().map(r => r.getLong(0)).toSet
    assert(!got2.contains(99L))
  }

  test("per-partition Gram accumulation matches the decimal-exact explode") {
    val dim = 64
    val exact = VectorSearch.gramUpperExact(embs, "embedding", "vec_id")
      .collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2))
      .toMap
    val (g, colSums, n) = VectorSearch.gramMatrix(embs, "embedding", dim)
    assert(n == embs.count())
    var maxErr = 0.0
    for (i <- 0 until dim; j <- i until dim) {
      val e = exact((i + 1, j + 1))
      val scale = math.max(1.0, math.abs(e))
      maxErr = math.max(maxErr, math.abs(g(i)(j) - e) / scale)
      // the mirrored lower triangle must be exactly symmetric
      assert(g(j)(i) == g(i)(j))
    }
    // double accumulation differs from the decimal-exact sum only by
    // association order — a few ulps per add, so ~1e-12·n relative
    assert(maxErr < 1e-6, s"gram fast path drifted: relErr=$maxErr")
    // column sums agree with a declarative per-dim sum
    val declared = embs.select((0 until dim).map(i =>
      sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i")): _*)
      .collect().head
    for (i <- 0 until dim)
      assert(math.abs(colSums(i) - declared.getDouble(i)) /
        math.max(1.0, math.abs(declared.getDouble(i))) < 1e-9)
  }

  test("jacobi eigen: orthonormal vectors, A·v = λ·v, descending values") {
    // fixed symmetric matrix with known spread
    val a = Array(
      Array(4.0, 1.0, 0.5, 0.0),
      Array(1.0, 3.0, 0.25, 0.1),
      Array(0.5, 0.25, 2.0, 0.3),
      Array(0.0, 0.1, 0.3, 1.0))
    val (vals, vecs) = VectorSearch.jacobiEigen(a)
    assert(vals.length == 4 && vecs.length == 4)
    assert(vals.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    for (i <- 0 until 4; j <- 0 until 4) {
      val dot = (0 until 4).map(k => vecs(i)(k) * vecs(j)(k)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"v${i}.v$j = $dot")
    }
    for (i <- 0 until 4; r <- 0 until 4) {
      val av = (0 until 4).map(k => a(r)(k) * vecs(i)(k)).sum
      assert(math.abs(av - vals(i) * vecs(i)(r)) < 1e-9,
        s"A·v$i row $r: $av vs ${vals(i) * vecs(i)(r)}")
    }
    // trace is preserved: Σλ = tr(A)
    assert(math.abs(vals.sum - (4.0 + 3.0 + 2.0 + 1.0)) < 1e-9)
  }

  test("PCA: component variances equal eigenvalues, components decorrelated") {
    val dim = 64
    val k = 4
    val (proj, eigvals) = VectorSearch.pcaProject(embs, "vec_id",
      "embedding", dim, k)
    val rows = proj.collect().map(r =>
      (1 to k).map(c => r.getDouble(c)).toArray)
    val n = rows.length.toDouble
    val means = (0 until k).map(c => rows.map(_(c)).sum / n)
    // projections of centered data: mean ≈ 0
    means.foreach(m => assert(math.abs(m) < 1e-6, s"pc mean $m"))
    for (c <- 0 until k) {
      val varc = rows.map(r => r(c) * r(c)).sum / n
      assert(math.abs(varc - eigvals(c)) /
        math.max(1e-9, eigvals(c)) < 1e-6,
        s"pc${c + 1} variance $varc vs eigenvalue ${eigvals(c)}")
    }
    // captured variance is ordered and components are uncorrelated
    assert(eigvals.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    for (a <- 0 until k; b <- a + 1 until k) {
      val cov = rows.map(r => r(a) * r(b)).sum / n
      val norm = math.sqrt(eigvals(a) * eigvals(b))
      assert(math.abs(cov) / math.max(1e-9, norm) < 1e-6,
        s"pc${a + 1}/pc${b + 1} correlated: $cov")
    }
  }
}
