package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, same semantics:
  *  - [[bruteForceTopK]] — exact cosine top-k; the correctness baseline.
  *    The dot/norm folds are built as explicit left-to-right double sums so
  *    the arithmetic is bit-reproducible across engines (the DuckDB oracle
  *    replays the same fold).
  *  - [[lshTopK]] — random-hyperplane LSH: bucket-join on sign signatures,
  *    exact rerank inside buckets. At fleet scale the bucket join replaces
  *    the O(queries × corpus) cross product; recall is set by the plane
  *    count and probe tables (validated against brute force in the spec).
  */
object VectorSearch {

  /** Explicit left-fold dot product of two `array<float>` columns in double
    * precision — deterministic summation order. */
  def dot(a: Column, b: Column, dim: Int): Column =
    (0 until dim).map { i =>
      element_at(a, i + 1).cast("double") * element_at(b, i + 1).cast("double")
    }.reduce(_ + _)

  def norm2(a: Column, dim: Int): Column =
    (0 until dim).map { i =>
      val x = element_at(a, i + 1).cast("double")
      x * x
    }.reduce(_ + _)

  /** Explicit-fold cosine — the reference formulation the codegen'd
    * expression below is pinned against (TrainingDataSpec asserts bit
    * equality). Plan size is O(dim) per call site; use [[cosine]] in
    * operators. */
  def cosineFold(a: Column, b: Column, dim: Int): Column =
    dot(a, b, dim) / (sqrt(norm2(a, dim)) * sqrt(norm2(b, dim)))

  /** Cosine similarity as ONE codegen'd pass (dot + both norms per pair) —
    * bit-identical to [[cosineFold]] (same ascending-index IEEE summation),
    * with O(1) plan size instead of ~3·dim inlined expression nodes. */
  def cosine(a: Column, b: Column, dim: Int): Column =
    graft.functions.CosineSimilarity(a, b, dim)

  /** Exact top-k neighbors by cosine for each query vector (excluding self).
    * Broadcast the query side — it is small by construction. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv"), dim))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * anchor, the `k` most similar corpus vectors carrying a DIFFERENT
    * label — the negatives that actually move a contrastive loss
    * (random negatives are trivially easy). Exact brute-force baseline
    * with the anchor side broadcast (small by construction, same contract
    * as [[bruteForceTopK]]); at corpus scale substitute [[lshTopK]]'s
    * candidate generation and keep the label-inequality predicate —
    * composition is unchanged. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int, dim: Int): DataFrame = {
    val a = broadcast(anchors.select(col(idCol).as("anchor_id"),
      col(vecCol).as("__av"), col(labelCol).as("__al")))
    val c = corpus.select(col(idCol).as("negative_id"),
      col(vecCol).as("__cv"), col(labelCol).as("__cl"))
    val scored = a.join(c, col("anchor_id") =!= col("negative_id") &&
        col("__al") =!= col("__cl"))
      .withColumn("cosine", cosine(col("__av"), col("__cv"), dim))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("negative_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("anchor_id", "negative_id", "rank", "cosine")
  }

  /** Plain Lloyd k-means on the driver over a bounded sample (IVF coarse
    * quantizer training). Deterministic: seeded init from sample points. */
  private def kmeans(points: Array[Array[Double]], k: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val dim = points.head.length
    val centers = rnd.shuffle(points.indices.toVector).take(k)
      .map(i => points(i).clone).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      points.foreach { p =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0
          var i = 0
          while (i < dim) { val x = p(i) - centers(c)(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { centers(c)(i) = sums(c)(i) / counts(c); i += 1 }
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  /** Deterministic random hyperplanes (seeded), as literal arrays. */
  private def planes(nPlanes: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign signature of a vector against a plane matrix — one codegen'd
    * [[graft.functions.SignSignature]] expression holding the matrix as a
    * task-shared reference object: plan size is O(1) per table (no inlined
    * multiply-adds, no per-plane literal copies) and evaluation is a tight
    * generated loop instead of interpreted `zip_with`+`aggregate` lambdas
    * (which are CodegenFallback and cost ~ms per row at 10×12×64). */
  private def signature(vec: Column, planeMatrix: Seq[Array[Double]]): Column =
    graft.functions.SignSignature(vec, planeMatrix)

  /** IVF (inverted-file) approximate top-k — the brief's "IVF variant as
    * the scale path": a coarse k-means quantizer (driver-trained on a
    * sample) partitions the corpus into `nLists` cells; each query probes
    * its `nProbe` nearest centroids and exact-reranks only those cells.
    *
    * Scale design: centroids broadcast (nLists × dim floats); corpus cell
    * assignment is one narrow pass; the probe join is an equi-join on
    * cell id, so a query touches ~nProbe/nLists of the corpus. Recall is
    * set by nProbe (validated against brute force in the spec). */
  /** L2-normalize: cosine neighbors live on the unit sphere, so quantizer
    * training and cell assignment both run on normalized vectors
    * (spherical k-means). */
  private def normalizedVec(vec: Column): Column = {
    val nrm = sqrt(aggregate(vec,
      lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    transform(vec, x => x.cast("double") / nrm)
  }

  /** Coarse spherical-k-means quantizer trained driver-side on a BOUNDED
    * sample — the standard IVF pattern at corpus scale (train on ≤~100k
    * sampled vectors, assign distributed); also avoids a
    * distributed-KMeans job-scheduling tax that dwarfs the math at any
    * sample size. The sample is a seeded Bernoulli sample across ALL
    * partitions: a bare `limit` would take whatever rows Spark reads
    * first — one file ≈ one ingest batch ≈ one data distribution at fleet
    * scale, and quantizer quality (hence recall) silently degrades on
    * position-biased training. `vecCol` must hold raw (unnormalized)
    * vectors. */
  private def normalizedSample(corpus: DataFrame, vecCol: String,
      seed: Long): Array[Array[Double]] = {
    val maxSample = 20000
    val corpusRows = corpus.count()
    val fraction = if (corpusRows == 0) 1.0
      else math.min(1.0, 3.0 * maxSample / corpusRows)
    corpus.select(normalizedVec(col(vecCol)).as("__v"))
      .sample(withReplacement = false, fraction, seed)
      .limit(maxSample).collect().map(_.getSeq[Double](0).toArray)
  }

  /** Above this many cells, training and assignment go TWO-LEVEL. Both
    * costs are otherwise ∝ k and k itself grows with the corpus (cells
    * target a constant occupancy), which is a hidden quadratic: the
    * sf1→sf10 probe measured q75 at 26.9× for 10× rows — driver kmeans
    * at sample×k flops single-threaded, plus an n×k interpreted-lambda
    * assignment. With a √k coarse layer both drop to ~√k per point. */
  private val HierK = 256

  private def sphericalCentroids(corpus: DataFrame, vecCol: String,
      nLists: Int, seed: Long): Array[Array[Double]] = {
    val sample = normalizedSample(corpus, vecCol, seed)
    // empty corpus (or a Bernoulli sample that drew nothing from a tiny
    // one): no quantizer to train — callers return their empty shape
    // instead of letting kmeans crash on points.head
    if (sample.isEmpty) Array.empty
    else if (nLists <= HierK) kmeans(sample, nLists, iters = 10, seed)
    else {
      // two-level Lloyd (the FAISS coarse-quantizer discipline): √k
      // coarse centers over the sample, then per coarse group a fine
      // kmeans sized ∝ the group's mass — cell occupancy stays ~even,
      // total ≈ nLists, training cost sample×(√k + k/√k) instead of
      // sample×k. Deterministic: seeded init, groups in coarse order.
      val k1 = math.ceil(math.sqrt(nLists.toDouble)).toInt
      val coarse = kmeans(sample, k1, iters = 10, seed)
      val byGroup = sample.groupBy(p => nearestIdx(p, coarse))
      byGroup.toSeq.sortBy(_._1).flatMap { case (g, pts) =>
        val kg = math.max(1, math.round(
          nLists.toDouble * pts.length / sample.length).toInt)
        kmeans(pts, kg, iters = 10, seed + g)
      }.toArray
    }
  }

  private def nearestIdx(p: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      while (i < p.length) { val x = p(i) - cs(c)(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Explode each row to its `n` nearest quantizer cells (`__cell`); the
    * input must carry the vector as `__v`. Cell assignment carries the
    * centroids as ONE literal matrix (the same trick signature() uses for
    * LSH planes): per centroid, |v̂−c|² = |v̂|² − 2·v̂·c + |c|² with
    * |v̂|²=1 constant, so the argmin needs only |c|² − 2·(v·c)/|v|,
    * computed by a `transform` lambda over the matrix literal. Plan size
    * stays O(1) per table — an explicit per-centroid dot expansion inlines
    * nLists×dim terms and ships multi-MiB task binaries, which dominated
    * the query cost before this shape. */
  private def withCells(df: DataFrame, centroids: Array[Array[Double]],
      n: Int, band: Double = Double.PositiveInfinity): DataFrame = {
    val (assigned, cells) = cellExprs(df, centroids, n, band)
    assigned.withColumn("__cell", explode(cells)).drop("__d", "__ci")
  }

  /** [[withCells]] keeping the assigned cells as an ARRAY (`__cells`,
    * nearest-first) instead of exploding — the shape the inline-verified
    * pair search needs: each side of the cell self-join carries its full
    * assignment vector so "first shared cell" can dedup pair emissions
    * in the join condition, the way the banded LSH join's
    * first-match-band does. */
  private def withCellsArray(df: DataFrame, centroids: Array[Array[Double]],
      n: Int, band: Double = Double.PositiveInfinity): DataFrame = {
    val (assigned, cells) = cellExprs(df, centroids, n, band)
    assigned.withColumn("__cells", cells).drop("__d", "__ci")
  }

  /** The assignment frame (+`__d`/`__ci` scratch columns) and the
    * selected-cells expression, shared by [[withCells]] and
    * [[withCellsArray]] so the two output shapes cannot drift. */
  private def cellExprs(df: DataFrame, centroids: Array[Array[Double]],
      n: Int, band: Double = Double.PositiveInfinity): (DataFrame, Column) = {
    val matrixLit = typedLit(centroids.map(_.toSeq).toSeq)
    val normsLit = typedLit(centroids.map(_.map(x => x * x).sum).toSeq)
    def vnorm(vec: Column): Column = sqrt(aggregate(vec,
      lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    def distTo(vec: Column, nrm: Column, c: Column, cNormSq: Column): Column =
      cNormSq - lit(2.0) *
        aggregate(zip_with(vec, c, (x, p) => x.cast("double") * p),
          lit(0.0), (acc, v) => acc + v) / nrm
    // (__d: distances, __ci: the cell id each distance belongs to)
    val assigned =
      if (centroids.length <= HierK) {
        df.withColumn("__d", {
            val nrm = vnorm(col("__v"))
            transform(matrixLit, (c, i) => distTo(col("__v"), nrm, c,
              element_at(normsLit, (i + 1).cast("int"))))
          })
          .withColumn("__ci", transform(col("__d"), (_, i) => i))
      } else {
        // TWO-LEVEL assignment: the centroid set itself is clustered into
        // √k coarse groups (driver-side, k×√k flops — trivial); each row
        // scores the √k coarse centers, takes the nearest few groups, and
        // scores only THOSE groups' fine centroids — ~const·√k distance
        // evaluations per row instead of k. Approximate at group
        // boundaries (the nearest fine cell can sit in an unprobed
        // group); the recall artifact re-measures the approximate family
        // whenever this path changes.
        val k1 = math.ceil(math.sqrt(centroids.length.toDouble)).toInt
        val coarse = kmeans(centroids, k1, iters = 10, seed = 1013L)
        val groups0 = centroids.indices.groupBy(i =>
          nearestIdx(centroids(i), coarse)).toSeq.sortBy(_._1)
        val usedCoarse = typedLit(groups0.map { case (g, _) =>
          coarse(g).toSeq })
        val usedCoarseNorms = typedLit(groups0.map { case (g, _) =>
          coarse(g).map(x => x * x).sum })
        val groupsLit = typedLit(groups0.map(_._2.toSeq))
        // 8 probed groups — measured on SampledRecall's FORCED two-level
        // leg (nClusters=300 on the 21k-vector sf1 corpus, deliberately
        // over-sharded so group boundaries are common): planted-pair
        // elimination is 0.999 at 6 probes (one straddling pair of 1000
        // lost to an unprobed group) and 1.0 at 8, for ~4/3 the coarse
        // candidate mass — still ~√k-scale work per row. Earlier rounds
        // pinned 6 from a measurement at the SHIPPED cell count, where
        // boundaries are rarer and 6 also gives 1.0; the forced leg is
        // the harder gate and every round's artifact re-measures it.
        val probes = math.min(8, groups0.length)
        val coarseD = transform(usedCoarse, (c, i) =>
          distTo(col("__v"), col("__nrm"), c, element_at(usedCoarseNorms,
            (i + 1).cast("int"))))
        val topG = slice(array_sort(transform(coarseD, (d, i) =>
          struct(d.as("d"), i.as("g")))), 1, probes)
        val cand = flatten(transform(topG, s =>
          element_at(groupsLit, (s("g") + 1).cast("int"))))
        df.withColumn("__nrm", vnorm(col("__v"))) // hoisted: reused per distance
          .withColumn("__ci", cand)
          .withColumn("__d", transform(col("__ci"), fi =>
            distTo(col("__v"), col("__nrm"),
              element_at(matrixLit, (fi + 1).cast("int")),
              element_at(normsLit, (fi + 1).cast("int")))))
          .drop("__nrm")
      }
    val cells =
      if (n == 1) array(element_at(col("__ci"),
        array_position(col("__d"), array_min(col("__d"))).cast("int")))
      else {
        // the proxy d is |v̂−c|² − 1 (|v̂|² dropped as constant), so true
        // squared distance is 1 + d; a finite `band` keeps a SECONDARY
        // cell only while dist_k ≤ band·dist_1 — multi-probing pays only
        // for vectors actually near a cell boundary, which is the only
        // place a near-dup pair can straddle cells
        val sorted = slice(array_sort(zip_with(col("__d"), col("__ci"),
          (d, c) => struct(d.as("d"), c.as("cell")))), 1, n)
        val bestD = element_at(sorted, 1)("d")
        filter(sorted, (s, i) => (i === 0) ||
          (lit(1.0) + s("d")) <= lit(band * band) * (lit(1.0) + bestD))("cell")
      }
    (assigned, cells)
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, nLists: Int = 16,
      nProbe: Int = 5, seed: Long = 42L): DataFrame = {
    val centroids = sphericalCentroids(corpus, vecCol, nLists, seed)
    if (centroids.isEmpty)
      return queries.select(col(idCol).as("query_id"),
        col(idCol).as("neighbor_id"), lit(0L).as("rank"),
        lit(0.0).as("cosine")).filter(lit(false))
    val c = withCells(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__v")),
      centroids, 1)
      .withColumnRenamed("__v", "__cv")
    val q = withCells(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__v")),
      centroids, nProbe)
      .withColumnRenamed("__v", "__qv")
    val scored = q.join(c, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv"), dim).as("cosine"))
      .groupBy("query_id", "neighbor_id") // a pair may meet in ≤nProbe cells
      .agg(max("cosine").as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Embedding-cosine near-duplicate PAIRS (the brief's fifth dedup family):
    * all (id_a < id_b) with exact cosine ≥ `threshold`, candidates generated
    * by sign-signature LSH self-join, verified with the exact explicit-fold
    * cosine — precision is exactly 1 by construction; recall is set by the
    * table/plane counts and is ≥1−numTables·miss^tables for a pair at the
    * threshold (validated against brute force in TrainingDataSpec).
    *
    * Scale design mirrors [[lshTopK]]: the self-join is an equi-join on
    * (table, signature) buckets — never all-pairs; the candidate distinct
    * runs on id pairs ONLY (embedding payloads are re-joined afterwards); at
    * near-dup thresholds (τ ≥ 0.9, angle ≤ 26°) per-table collision
    * probability is high, so a handful of tables reaches ~1 recall.
    *
    * Default band shape 12×10: on clustered corpora (the realistic case —
    * embeddings concentrate around topics) most candidate volume is
    * intra-cluster pairs at moderate cosine that exact-verify then rejects;
    * 12 planes admit a cos≈0.6 pair at ~1.4% per table instead of ~12% at
    * 6 planes (≈5× fewer wasted verifications), while a true near-dup at
    * cos 0.95 still collides in ≥1 of 10 tables with p ≈ 0.97 and a
    * cos 0.99 pair with p ≈ 1−1e-5. */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, planesPerTable: Int = 12,
      numTables: Int = 10, seed: Long = 97L): DataFrame =
    cosineNearDupJoin(
      corpus.select(col(idCol).as("__id"), col(vecCol).as("__v")), None,
      dim, threshold, planesPerTable, numTables, seed,
      outA = "id_a", outB = "id_b")

  /** INCREMENTAL embedding near-dup check: exact-cosine pairs between a
    * NEW batch and an EXISTING corpus — the embedding-space twin of
    * [[graft.operators.TextDedup.jaccardPairsAgainst]], and the per-
    * micro-batch probe of the streaming semantic-dedup-at-ingest pipeline.
    * Same sign-signature bucket machinery as [[cosineNearDupPairs]]
    * (ONE shared core — a fix to the banding or the verify cannot diverge
    * the two paths), but the candidate join is batch-side buckets ×
    * base-side buckets only: cost scales with the BATCH (times bucket
    * collision mass), never base². The plane family is seed-fixed, so a
    * base maintained incrementally buckets identically batch after batch.
    * Returns (new_id, base_id, cosine). */
  def cosineNearDupPairsAgainst(newDf: DataFrame, baseDf: DataFrame,
      idCol: String, vecCol: String, dim: Int, threshold: Double,
      planesPerTable: Int = 12, numTables: Int = 10,
      seed: Long = 97L): DataFrame =
    cosineNearDupJoin(
      newDf.select(col(idCol).as("__id"), col(vecCol).as("__v")),
      Some(baseDf.select(col(idCol).as("__id"), col(vecCol).as("__v"))),
      dim, threshold, planesPerTable, numTables, seed,
      outA = "new_id", outB = "base_id")

  /** Shared bucket + verify core: `b = None` self-joins `a` (pairs
    * guarded by `id_a < id_b`); otherwise a-side buckets probe b-side
    * buckets only. */
  /** The sign-plane bucket rows of a frame, one row per (vector, table),
    * with the (table, key) pair packed into ONE sortable long
    * `__tk = (table << planesPerTable) | key` — the layout
    * [[graft.streaming.AnnIngestIndex]] persists (key-sorted parquet
    * segments) and probes (an `__tk IN (...)` pushed to the scan). The
    * family is seed-fixed and data-independent, so index rows written
    * batches ago bucket identically to a probe computed today — the
    * property that lets the index be maintained incrementally with no
    * retraining-on-drift concern (the reason to prefer sign-plane LSH
    * over IVF cells for an INGEST-side index). Packing layout must stay
    * in lockstep between add and probe; it lives here, next to the
    * signature family it encodes. */
  private[graft] def signatureBuckets(df: DataFrame, idCol: String,
      vecCol: String, dim: Int, planesPerTable: Int, numTables: Int,
      seed: Long): DataFrame = {
    val cols = (0 until numTables).map { t =>
      (signature(col("__v"), planes(planesPerTable, dim, seed + t))
        .bitwiseOR(lit(t.toLong << planesPerTable))).as(s"__k$t")
    }
    df.select(col(idCol), col(vecCol).as("__v"))
      .select(col(idCol), col("__v"),
        explode(array(cols: _*)).as("__tk"))
  }

  private def cosineNearDupJoin(a: DataFrame, b: Option[DataFrame],
      dim: Int, threshold: Double, planesPerTable: Int, numTables: Int,
      seed: Long, outA: String, outB: String): DataFrame = {
    def bucketed(df: DataFrame): DataFrame = {
      val cols = (0 until numTables).map { t =>
        struct(lit(t).as("table"),
          signature(col("__v"), planes(planesPerTable, dim, seed + t)).as("key"))
      }
      df.withColumn("__b", explode(array(cols: _*)))
        .select(col("__id"), col("__b.table").as("table"),
          col("__b.key").as("key"))
    }
    // LAZY pin on the SELF-join path (r15): unpinned, each side of the
    // bucket self-join was its own physical subtree and the sign-plane
    // signature kernel (numTables × planesPerTable × dim multiplies per
    // vector) ran twice. Both consumers fully materialize. The
    // two-corpus path is the per-micro-batch streaming probe (q148) —
    // left unpinned: a pin per micro-batch would accrue executor blocks
    // across the stream's lifetime (the q126 widen-probe lesson).
    val bucketsA =
      if (b.isEmpty) graft.operators.Pin.lazily(bucketed(a)) else bucketed(a)
    val bucketsB = b.map(bucketed).getOrElse(bucketsA)
    val onBuckets = col("a.table") === col("b.table") &&
      col("a.key") === col("b.key")
    val joinCond =
      if (b.isDefined) onBuckets else onBuckets && col("a.__id") < col("b.__id")
    val cands = bucketsA.as("a").join(bucketsB.as("b"), joinCond)
      .select(col("a.__id").as(outA), col("b.__id").as(outB))
      .distinct()
    cands
      .join(a.select(col("__id").as(outA), col("__v").as("__va")), outA)
      .join(b.getOrElse(a).select(col("__id").as(outB), col("__v").as("__vb")),
        outB)
      .withColumn("cosine", cosine(col("__va"), col("__vb"), dim))
      .filter(col("cosine") >= threshold)
      .select(col(outA), col(outB), col("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, search
    * near-duplicate pairs ONLY within each cluster, connected-component
    * the verified pair graph, keep the min-id member per component.
    * Returns `(idCol, cluster, keeper, keep)` — one row per input, `keep`
    * false for every non-keeper member of a dup component.
    *
    * Scale design: the cluster id is the blocking key, so candidate
    * volume is Σ m_c² over cells instead of n² — choose `nClusters`
    * proportional to corpus size (n / target-cell-size) and the per-cell
    * quadratic term stays constant as the corpus grows; that is the
    * SemDeDup bargain (pairs straddling a cell boundary are missed — the
    * paper's measured loss for within-cluster search is small at ~100×
    * less work). The exact cosine verifies every candidate, so precision
    * is 1 by construction. A runaway cell (mass-duplicate template
    * cluster) can be sub-blocked by running [[cosineNearDupPairs]] inside
    * the cell; component labeling is O(edges) per round
    * ([[TextDedup.connectedComponents]]).
    *
    * `assign` is SemDeDup's boundary mitigation: each vector joins its
    * `assign` nearest cells for the PAIR SEARCH (its primary cell is
    * still its reported `cluster`), so a near-dup pair straddling one
    * cell boundary is caught when either member's second cell matches
    * the other's first. Candidate volume scales ~assign², recall of the
    * planted sf1 dup pairs measured 0.918 → 1.0 going 1 → 2. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, nClusters: Int = 16,
      seed: Long = 42L, assign: Int = 3): DataFrame = {
    // (__id, __v) pinned ONCE at [[Width.kernel]] width: five consumers read
    // it (count, sample, both assignment pins, the verify join) — without
    // the pin each re-ran the corpus construction, and worse, the
    // EXPENSIVE per-row cell assignment (interpreted HOF lambdas) was
    // collapsing below the scan's exchange and running at the file
    // layout's parallelism (4 tasks on a 4-file corpus, 1 on the gate
    // fixture — measured 25-31 s/pin at sf1 vs ~3 s at full width). The
    // checkpoint is a barrier the optimizer cannot push a projection
    // through, so assignment always evaluates over the repartitioned
    // blocks.
    val c = Pin(Width.keyed(corpus
      .select(col(idCol).as("__id"), col(vecCol).as("__v")),
      Width.kernel(corpus.sparkSession)))
    val centroids = sphericalCentroids(c, "__v", nClusters, seed)
    if (centroids.isEmpty)
      return corpus.select(col(idCol), lit(0).as("cluster"),
        col(idCol).as("keeper"), lit(true).as("keep")).filter(lit(false))
    // materialized once: the primary assignment feeds the component-label
    // id list and the final cluster projection; the multi-assignment
    // feeds the self-join's both sides
    val assigned = Pin(withCells(c, centroids, 1))
    // boundary band 1.5: the second cell joins the pair search only for
    // vectors whose runner-up centroid is within 1.5× the winner's
    // distance — the only vectors whose near-dups can land across the
    // boundary. Measured at sf1: planted-pair elimination stays 1.0
    // while candidate volume drops back toward single-assignment cost.
    val multi = Pin(
      withCellsArray(c, centroids, math.max(assign, 1), band = 1.5))
    // INLINE verify (the q26 banded-join discipline): the vectors ride
    // the cell self-join as payload and the exact cosine evaluates as the
    // join condition's LAST conjunct, so only SURVIVING pairs leave the
    // stage. The former shape — candidate ids, distinct(), then two
    // id-joins re-attaching the 512 B embedding rows — exchanged and
    // SORTED the widened pair stream: at the sf10 probe that was a 19 GB
    // shuffle write and a 93 GB sort spill for 136M candidates (133 s of
    // a 482 s wall). Here the cell exchange carries each vector once per
    // assignment (≤3×), independent of pair count. Pair uniqueness comes
    // from FIRST-SHARED-CELL in the condition (each pair is emitted only
    // where a's first cell found in b matches at b's first occurrence),
    // replacing the 136M-row distinct the re-join shape needed.
    val m = multi.select(col("__id"), col("__v"), col("__cells"),
      posexplode(col("__cells")).as(Seq("__pos", "__cell")))
    val noEarlierShared = (0 until math.max(assign, 1) - 1).map { j =>
      col("a.__pos") <= j ||
        !array_contains(col("b.__cells"), element_at(col("a.__cells"), j + 1))
    }.foldLeft(lit(true))(_ && _)
    val firstInB = array_position(col("b.__cells"), col("a.__cell")) ===
      (col("b.__pos") + 1).cast("long")
    val pairs = m.as("a").join(m.as("b"),
        col("a.__cell") === col("b.__cell") && col("a.__id") < col("b.__id") &&
          firstInB && noEarlierShared &&
          cosine(col("a.__v"), col("b.__v"), dim) >= threshold)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
    val labels = TextDedup.connectedComponents(
      assigned.select(col("__id")), pairs)
    assigned.select(col("__id"), col("__cell"))
      .join(labels, "__id")
      .select(col("__id").as(idCol), col("__cell").as("cluster"),
        col("__lbl").as("keeper"), (col("__id") === col("__lbl")).as("keep"))
  }

  /** Approximate top-k: candidates share an LSH bucket in ≥1 of
    * `numTables` independent sign-signature tables; exact cosine rerank on
    * the candidate set. The candidate dedup runs on (query_id, neighbor_id)
    * ONLY — vectors are re-joined afterwards, so the distinct never shuffles
    * or group-compares embedding payloads.
    *
    * Defaults measured (recall@5 vs brute force, 20 fixed queries):
    * 24×5 holds ~0.90 recall at BOTH sf0.1 and the 10× sf1 corpus where
    * 12×5 sat at 0.69, for flat wall time at these scales (the
    * candidate dedup bounds the rerank); at fleet scale table count
    * prices the index linearly, which is the recall/cost knob. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, planesPerTable: Int = 5,
      numTables: Int = 24, seed: Long = 42L): DataFrame = {
    def bucketed(df: DataFrame, idName: String, vecName: String): DataFrame = {
      val cols = (0 until numTables).map { t =>
        struct(lit(t).as("table"),
          signature(col(vecName), planes(planesPerTable, dim, seed + t)).as("key"))
      }
      df.withColumn("__b", explode(array(cols: _*)))
        .select(col(idName), col("__b.table").as("table"), col("__b.key").as("key"))
    }
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val cands = bucketed(q, "query_id", "__qv").as("q")
      .join(bucketed(c, "neighbor_id", "__cv").as("c"),
        col("q.table") === col("c.table") && col("q.key") === col("c.key") &&
          col("q.query_id") =!= col("c.neighbor_id"))
      .select(col("q.query_id"), col("c.neighbor_id"))
      .distinct()
    val scored = cands
      .join(broadcast(q), "query_id")
      .join(c, "neighbor_id")
      .withColumn("cosine", cosine(col("__qv"), col("__cv"), dim))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Product-quantization ANN (Jégou/Douze/Schmid, "Product Quantization
    * for Nearest Neighbor Search", IEEE TPAMI 2011) — the memory-bound
    * scale path: each corpus vector is stored as `m` sub-codes (m small
    * ints; at dim=64, m=8, ksub=16 that is ~32× smaller than raw floats),
    * one per subspace codebook. Queries stay EXACT: per (query, subspace)
    * an `ksub`-entry distance table is computed once, and every corpus
    * vector scores as the sum of `m` table lookups (asymmetric distance,
    * ADC) — no full-vector arithmetic per candidate. The ADC top
    * `rerank·k` then re-joins the raw corpus vectors for an exact-cosine
    * re-rank (the standard PQ+re-rank pipeline), so returned scores are
    * true cosines and only RECALL is approximate (spec-validated vs brute
    * force, same policy as [[lshTopK]]/[[ivfTopK]]).
    *
    * Scale shape: codebooks train driver-side on the same seeded
    * Bernoulli sample as IVF; encoding is one codegen'd scan; scoring
    * broadcasts (queries × m × ksub) doubles of distance tables against
    * the code-only corpus frame — the big side touches only its codes
    * until the bounded re-rank join. Cosine geometry: vectors are
    * L2-normalized before quantization, so squared-L2 ADC order is
    * exactly descending-cosine order (|â−b̂|² = 2−2cos). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int = 8, ksub: Int = 32,
      rerank: Int = 10, seed: Long = 42L): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val sub = dim / m
    // undersized vectors would OOB the subspace slices inside kmeans —
    // they carry no usable geometry, so they train nothing (and encode
    // to NULL below)
    val sample = normalizedSample(corpus, vecCol, seed).filter(_.length >= dim)
    if (sample.isEmpty)
      return queries.select(col(idCol).as("query_id"),
        col(idCol).as("neighbor_id"), lit(0L).as("rank"),
        lit(0.0).as("cosine")).filter(lit(false))
    // one k-means per subspace over the sample's sub-vectors
    val codebooks: Array[Array[Array[Double]]] = (0 until m).map { j =>
      kmeans(sample.map(_.slice(j * sub, (j + 1) * sub)),
        math.min(ksub, sample.length), iters = 10, seed + j)
    }.toArray
    // quantization runs in the codegen'd PqQuantize kernel (a nested-HOF
    // formulation measured 35 ms/row interpreted — 72 s for a 2k corpus);
    // pin both sides so the encode pass runs once, not per join pair.
    // Pinned rows are (id, m ints) / (id, m×ksub doubles): exactly the
    // compressed index PQ exists to hold.
    // malformed vectors (undersized / null elements) quantize to NULL —
    // drop them here: a NULL __est would otherwise sort FIRST under asc
    // (Spark default nulls_first) and eat the whole candidate budget
    val c = Pin(corpus.select(col(idCol).as("neighbor_id"),
      graft.functions.PqQuantize.codes(col(vecCol), codebooks).as("__codes"))
      .filter(col("__codes").isNotNull))
    val q = Pin(queries.select(col(idCol).as("query_id"),
      graft.functions.PqQuantize.distTables(col(vecCol), codebooks).as("__dt"))
      .filter(col("__dt").isNotNull))
    val est = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__est", aggregate(
        zip_with(col("__codes"), col("__dt"),
          (cd, tbl) => element_at(tbl, cd)),
        lit(0.0), (acc, d) => acc + d))
    val wEst = Window.partitionBy(col("query_id"))
      .orderBy(col("__est").asc_nulls_last, col("neighbor_id").asc)
    val cands = est.withColumn("__r", row_number().over(wEst))
      .filter(col("__r") <= rerank * k)
      .select("query_id", "neighbor_id")
    // exact re-rank on the bounded candidate set: raw vectors re-joined
    // by id, so the ADC scan above never carries embedding payloads
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = cands.join(broadcast(qv), "query_id").join(cv, "neighbor_id")
      .withColumn("cosine", cosine(col("__qv"), col("__cv"), dim))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  // -------------------------------------------------------------------------
  // Distributed k-means: full-corpus Lloyd iterations. The sample-trained
  // quantizers above are the right tool for IVF/PQ recall; this is the
  // scale path when the CLUSTERING ITSELF is the product — cluster-balanced
  // curation, SemDeDup at fleet cell counts, corpus cartography — and a
  // 20k-row sample can't see the tail. Driver traffic is k×dim doubles per
  // iteration (the centroid matrix), never data rows.

  /** Deterministic seed centroids: the vectors of the `k` smallest ids
    * (double-cast). A k-row bounded collect, same budget class as the
    * quantizer samples above. */
  def kmeansSeeds(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): Array[Array[Double]] =
    corpus.orderBy(col(idCol)).limit(k)
      .select(transform(col(vecCol), _.cast("double")).as("__v"))
      .collect().map(_.getSeq[Double](0).toArray)

  /** Argmin cluster index for `vec` against a fixed centroid matrix.
    * Centroids ship as ONE literal matrix + one precomputed |c|² vector
    * (plan size O(1), no per-centroid inlined terms); per centroid the
    * comparable distance is |c|² − 2·v·c — the row-constant |v|² term is
    * dropped, so the argmin needs one dot product per centroid. FP ties
    * resolve to the LOWEST cluster index (`array_position` finds the first
    * minimum), which the oracle replays as `ORDER BY dist, cluster`. */
  private def nearestCluster(vec: Column,
      centroids: Array[Array[Double]]): Column = {
    val matrixLit = typedLit(centroids.map(_.toSeq).toSeq)
    val normsLit = typedLit(centroids.map(_.map(x => x * x).sum).toSeq)
    val dists = transform(matrixLit, (c, i) =>
      element_at(normsLit, (i + 1).cast("int")) - lit(2.0) *
        aggregate(zip_with(vec, c, (x, p) => x.cast("double") * p),
          lit(0.0), (acc, v) => acc + v))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** `(id, cluster)` assignment against fixed centroids — one narrow pass,
    * no shuffle. */
  def kmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    corpus.select(col(idCol),
      nearestCluster(col(vecCol), centroids).as("cluster"))

  /** One Lloyd step as a DataFrame: per-cluster size and per-dimension mean
    * → `(cluster, n, mean: array<double>)`.
    *
    * Scale shape: the update is a single hash aggregation with `dim`+1
    * codegen'd SUM/COUNT columns — partial aggregation reduces every map
    * task to ≤k rows before the exchange, so the shuffle carries
    * k×(dim+1) doubles per task no matter how many rows the corpus has,
    * and AQE coalesces the k-row reduce side. No posexplode (which would
    * shuffle dim× the row count), no driver-side data path. */
  def kmeansIteration(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], dim: Int): DataFrame = {
    val assigned = corpus.select(
      nearestCluster(col(vecCol), centroids).as("cluster"),
      col(vecCol).as("__v"))
    val sums = (0 until dim).map(i =>
      sum(element_at(col("__v"), i + 1).cast("double")).as(s"__s$i"))
    assigned.groupBy("cluster")
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("cluster"), col("n"),
        array((0 until dim).map(i => col(s"__s$i") / col("n")): _*).as("mean"))
  }

  /** Full Lloyd loop from the deterministic seeds: assignment + mean update
    * per round, collecting only the k×dim centroid matrix between rounds.
    * Clusters that captured no rows keep their previous centroid (standard
    * Lloyd handling; also what keeps k stable across iterations). */
  def kmeansFit(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, dim: Int): Array[Array[Double]] = {
    var centroids = kmeansSeeds(corpus, idCol, vecCol, k)
    if (centroids.isEmpty) return centroids
    var it = 0
    while (it < iters) {
      val updated = kmeansIteration(corpus, idCol, vecCol, centroids, dim)
        .select(col("cluster"), col("mean")).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      centroids = centroids.indices
        .map(c => updated.getOrElse(c, centroids(c))).toArray
      it += 1
    }
    centroids
  }

  // --------------------------------------------------------------------------
  // Gram matrix / PCA — embedding dimensionality reduction
  // --------------------------------------------------------------------------

  /** Upper-triangular Gram matrix X^T X as rows `(i, j, g)` (1-based,
    * i ≤ j), with each per-row product routed through DECIMAL so the sum
    * is aggregation-order independent — the VERIFICATION surface a DuckDB
    * oracle can replay exactly. The shape is a double posexplode + an
    * equi-join on the row id: fine at oracle scale, but it shuffles
    * dim²/2 rows per input row, so the production path is [[gramMatrix]]
    * (per-partition accumulation, d²-bounded traffic). */
  def gramUpperExact(corpus: DataFrame, vecCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val a = corpus.select(col(idCol).as("__id"),
        posexplode(col(vecCol)).as(Seq("__p", "__x")))
      .select(col("__id"), (col("__p") + 1).cast("long").as("i"),
        col("__x").cast("double").as("xa"))
    val b = a.select(col("__id"), col("i").as("j"), col("xa").as("xb"))
    a.join(b, Seq("__id"))
      .filter(col("i") <= col("j"))
      .groupBy("i", "j")
      .agg(sum((col("xa") * col("xb")).cast(DecimalType(30, 10)))
        .cast("double").as("g"))
      .orderBy("i", "j")
  }

  /** Full Gram matrix (d×d) plus the column-sum vector and row count, via
    * per-partition dense accumulation: each task folds its rows into ONE
    * local d×d double matrix, and only those matrices (d² doubles per
    * task, independent of row count) reach the driver through a
    * treeReduce. This is the 100 TB shape — the alternative (posexplode →
    * shuffle) moves dim²/2 rows per input row. RDD-level fold is justified
    * here: the accumulator is a mutable dense matrix no SQL aggregate
    * expresses without exploding, and the output is bounded metadata
    * (d ≤ a few thousand), not data. */
  def gramMatrix(corpus: DataFrame, vecCol: String,
      dim: Int): (Array[Array[Double]], Array[Double], Long) = {
    val vecs = corpus.select(col(vecCol)).rdd
      .map(_.getSeq[Float](0))
    val zero = (Array.fill(dim)(new Array[Double](dim)),
      new Array[Double](dim), 0L)
    def merge(acc: (Array[Array[Double]], Array[Double], Long),
        other: (Array[Array[Double]], Array[Double], Long)) = {
      var i = 0
      while (i < dim) {
        var j = 0
        val ai = acc._1(i); val oi = other._1(i)
        while (j < dim) { ai(j) += oi(j); j += 1 }
        acc._2(i) += other._2(i)
        i += 1
      }
      (acc._1, acc._2, acc._3 + other._3)
    }
    val parts = vecs.mapPartitions { it =>
      val g = Array.fill(dim)(new Array[Double](dim))
      val s = new Array[Double](dim)
      var n = 0L
      it.foreach { v =>
        val x = new Array[Double](dim)
        var i = 0
        while (i < dim) { x(i) = v(i).toDouble; i += 1 }
        i = 0
        while (i < dim) {
          val xi = x(i); val gi = g(i)
          var j = i
          while (j < dim) { gi(j) += xi * x(j); j += 1 }
          s(i) += xi
          i += 1
        }
        n += 1L
      }
      Iterator.single((g, s, n))
    }
    val (g, s, n) = parts.treeReduce(merge, depth = 2)
    // mirror the upper triangle
    var i = 0
    while (i < dim) {
      var j = i + 1
      while (j < dim) { g(j)(i) = g(i)(j); j += 1 }
      i += 1
    }
    (g, s, n)
  }

  /** Eigen-decomposition of a symmetric matrix by cyclic Jacobi rotations
    * (deterministic sweep order; converges quadratically for the d ≤ a few
    * thousand covariance matrices PCA meets). Returns (eigenvalues,
    * eigenvectors as rows), sorted by descending eigenvalue, each vector
    * sign-fixed so its largest-magnitude component is positive. */
  def jacobiEigen(sym: Array[Array[Double]],
      sweeps: Int = 30): (Array[Double], Array[Array[Double]]) = {
    val d = sym.length
    val a = sym.map(_.clone)
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < sweeps && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val sign = if (theta >= 0.0) 1.0 else -1.0
            val t = sign / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val eig = (0 until d).map(i => (a(i)(i), (0 until d)
      .map(k => v(k)(i)).toArray))
      .sortBy(-_._1)
    val vals = eig.map(_._1).toArray
    val vecs = eig.map { case (_, ev) =>
      val m = ev.maxBy(math.abs)
      if (m < 0) ev.map(-_) else ev
    }.toArray
    (vals, vecs)
  }

  /** PCA projection of an embedding column onto the top-k principal
    * components. Covariance comes from ONE distributed pass
    * ([[gramMatrix]]: d² doubles per task to the driver), the d×d eigen
    * problem is solved on the driver (bounded metadata, like k-means
    * centroids), and the projection is a codegen'd per-row fold over the
    * k×d literal component matrix — no second shuffle, no driver data
    * path. Returns the input id column plus `pc1..pck`. */
  def pcaProject(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int): (DataFrame, Array[Double]) = {
    val (g, colSums, n) = gramMatrix(corpus, vecCol, dim)
    val mean = colSums.map(_ / n)
    val cov = Array.tabulate(dim, dim)((i, j) =>
      g(i)(j) / n - mean(i) * mean(j))
    val (vals, vecs) = jacobiEigen(cov)
    val pcs = (0 until k).map { c =>
      val ev = vecs(c)
      (0 until dim).map { i =>
        (element_at(col(vecCol), i + 1).cast("double") - lit(mean(i))) *
          lit(ev(i))
      }.reduce(_ + _).as(s"pc${c + 1}")
    }
    (corpus.select(col(idCol) +: pcs: _*), vals.take(k))
  }
}
