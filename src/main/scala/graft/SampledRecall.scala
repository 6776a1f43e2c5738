package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Pin, VectorSearch}
import graft.queries.TrainingData
import graft.tables.Tables

/** Recall measurement for the hash-seeded approximate family at ANY scale
  * dir — the correctness status the oracle gate cannot give them (ANN
  * candidates depend on random plane/codebook seeds; SemDeDup's cell
  * blocking is lossy by design). The exact reference is bounded either
  * way: brute-force top-k over the 20 fixed query vectors (20 × corpus,
  * linear), and the planted near-dup pairs (id, id+1000000 at id%20==0)
  * whose construction the q47 oracle replays. Run against
  * `/tmp/graft_sf1_full` this closes the last sf1 status gap:
  * q29/q42/q91 get measured recall@5, q75 a measured planted-pair
  * elimination rate, at 10× the bench scale.
  *
  * Usage: `runMain graft.SampledRecall` (env: SPARK_GRAFT_SF_DIR).
  * Prints one JSON line.
  */
object SampledRecall {
  private val Dim = 64

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1_full")
    val spark = GraftSession.build()

    // measure the SHIPPED query entries (whatever parameter scaling they
    // apply), not re-parameterized operator calls
    def res(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

    val exact = Pin(res("q28_cosine_topk")
      .select(col("query_id"), col("neighbor_id")))
    val nExact = exact.count().toDouble

    def recall(approx: DataFrame): Double =
      approx.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .count() / nExact

    val rLsh = recall(res("q29_ann_lsh"))
    val rIvf = recall(res("q42_ann_ivf"))
    val rPq = recall(res("q91_ann_pq"))

    // SemDeDup: of the deterministically planted near-dup pairs
    // (cosine ≈ 0.997, far above the 0.95 threshold), how many did the
    // cell-blocked dedup actually collapse (not both members kept)?
    val corpus = TrainingData.nearDupCorpus(spark, dir)
    val dedup = Pin(res("q75_semantic_dedup"))
    val planted = corpus.filter(col("vec_id") < 1000000 &&
        col("vec_id") % 20 === 0)
      .select(col("vec_id").as("lo"), (col("vec_id") + 1000000L).as("hi"))
    val kept = dedup.filter(col("keep")).select(col("vec_id"))
    val bothKept = planted
      .join(kept.select(col("vec_id").as("lo")), Seq("lo"), "left_semi")
      .join(kept.select(col("vec_id").as("hi")), Seq("hi"), "left_semi")
      .count()
    val nPlanted = planted.count()
    val elim = 1.0 - bothKept.toDouble / nPlanted

    // TWO-LEVEL assignment path, measured UNCONDITIONALLY: the
    // hierarchical √k quantizer only engages above HierK cells, so the
    // shipped q75 exercises it at sf1+ but NOT at small dirs — and a
    // quantizer change could silently trade recall between rounds if no
    // per-round artifact re-measured it. Force the cell count over the
    // gate (~16 vectors/cell here vs the shipped ~128) and record the
    // planted-pair elimination of the forced path next to the shipped one.
    val corpusN = corpus.count()
    val forcedK = math.max(300, (corpusN / 128).toInt)
    val dedup2 = Pin(VectorSearch.semanticDedup(corpus, "vec_id", "v", Dim,
        0.95, nClusters = forcedK))
    val kept2 = dedup2.filter(col("keep")).select(col("vec_id"))
    val bothKept2 = planted
      .join(kept2.select(col("vec_id").as("lo")), Seq("lo"), "left_semi")
      .join(kept2.select(col("vec_id").as("hi")), Seq("hi"), "left_semi")
      .count()
    val elim2 = 1.0 - bothKept2.toDouble / nPlanted

    // q22 t-digest: measured RANK ERROR against the exact multiset —
    // for each (day, event_type) group and each probed percentile p,
    // ε = |rank(estimate)/n − p| with rank(e) = #{values ≤ e}. The max ε
    // over all groups is the artifact's quantitative story for the one
    // approximate aggregate (mirroring the ANN recall treatment);
    // PercentileAggSpec pins the bound.
    val (q22Eps, q22Rows) = tdigestRankEps(spark, dir)

    // q110 PCA: measured captured-variance ratio of the 4 projected
    // components vs the TOTAL variance of the (centered) embeddings —
    // the reconstruction-error complement (residual = 1 − captured).
    val pcaVar = pcaCapturedVariance(spark, dir)

    // q111 BPE: measured corpus compression — total BPE tokens and mean
    // chars/token over the shipped 16-merge encode.
    val bpe = res("q111_bpe_encode")
      .agg(sum("bpe_tokens").cast("long"), avg("chars_per_token")).head()
    val (bpeTokens, bpeCpt) = (bpe.getLong(0), bpe.getDouble(1))

    spark.stop()
    println(
      f"""{"metric":"sampled_recall","dir":"$dir","k":5,"queries":20,""" +
        f""""q29_ann_lsh_recall":$rLsh%.4f,"q42_ann_ivf_recall":$rIvf%.4f,""" +
        f""""q91_ann_pq_recall":$rPq%.4f,"q75_semantic_dedup":""" +
        f"""{"planted_pairs":$nPlanted,"both_kept":$bothKept,""" +
        f""""elimination_rate":$elim%.4f},""" +
        f""""q75_two_level_forced":{"n_clusters":$forcedK,""" +
        f""""both_kept":$bothKept2,"elimination_rate":$elim2%.4f},""" +
        f""""q22_tdigest_max_rank_eps":$q22Eps%.5f,""" +
        f""""q22_tdigest_max_rank_err_rows":$q22Rows%.1f,""" +
        f""""q110_pca_captured_variance":$pcaVar%.4f,""" +
        f""""q111_bpe":{"total_tokens":$bpeTokens,""" +
        f""""chars_per_token":$bpeCpt%.3f}}""")
  }

  /** Measured rank error of the shipped q22 t-digest estimates against
    * the exact value multiset, over every (group, percentile): returns
    * (max relative ε = |rank(est)/n − p|, max absolute row error =
    * |rank(est) − p·n|). Both matter: on gate-scale groups (~100 rows)
    * rank granularity alone is ~1 row, so the ROW error is the
    * scale-free quality signal while ε is the fleet-scale one. */
  def tdigestRankEps(spark: SparkSession, dir: String): (Double, Double) = {
    val est = Pin(SparkEntry.queries("q22_percentile_tdigest")(spark, dir))
    val ev = Tables.events(spark, dir)
      .select(graft.functions.F.time_bucket("1 day", col("ts")).as("day"),
        col("event_type"), col("value"))
    val ranked = ev.join(broadcast(est), Seq("day", "event_type"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("p50"), 1).otherwise(0)).as("k50"),
        sum(when(col("value") <= col("p95"), 1).otherwise(0)).as("k95"))
      .select(
        greatest(abs(col("k50") / col("n") - 0.5),
          abs(col("k95") / col("n") - 0.95)).as("eps"),
        greatest(abs(col("k50") - col("n") * 0.5),
          abs(col("k95") - col("n") * 0.95)).as("rows"))
      .agg(max(col("eps")), max(col("rows"))).head()
    (ranked.getDouble(0), ranked.getDouble(1))
  }

  /** Captured-variance ratio of the shipped q110 4-component projection:
    * Σ var(pc_i) / total variance of the centered embedding columns. */
  def pcaCapturedVariance(spark: SparkSession, dir: String): Double = {
    val proj = SparkEntry.queries("q110_pca_project")(spark, dir)
    val capturedRow = proj.agg(
      (var_pop(col("pc1")) + var_pop(col("pc2")) + var_pop(col("pc3")) +
        var_pop(col("pc4"))).as("cap")).head()
    val captured = capturedRow.getDouble(0)
    // total variance = Σ_j var(x_j); computed dimension-wise
    val tot = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("j", "x")))
      .groupBy("j").agg(var_pop(col("x")).as("v"))
      .agg(sum("v")).head().getDouble(0)
    captured / tot
  }
}
