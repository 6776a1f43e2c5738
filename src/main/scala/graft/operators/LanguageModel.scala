package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained n-gram language-model scoring — the CCNet-style
  * perplexity quality filter: train bigram counts on the corpus itself,
  * then score each document by its mean per-bigram surprisal
  * `-log2 P(w2|w1)` with add-one smoothing,
  * `P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)`.
  * Templated/repetitive documents (high-count bigrams) score low;
  * gibberish (bigrams seen nowhere else) scores high — both tails are
  * what a pre-training pipeline trims.
  *
  * Scale design: two aggregation passes build the model (unigram and
  * bigram count tables — pure map-side-combinable groupBys), scoring is
  * two many-to-one equi-joins from the exploded document bigrams to those
  * tables plus one broadcast of the 1-row vocabulary count. No driver-side
  * data path, no pair space; the shuffles are the same shape as word-count.
  * Join keys stay as strings so results are oracle-exact — a production
  * deployment at 100 TB would key the count tables by `xxhash64(bigram)`
  * to shrink the shuffle (collision odds ~|V|²/2⁶⁵, the [[TextDedup]]
  * hashed-token-set argument).
  */
object LanguageModel {

  // tokenization is shared with the other order-sensitive text ops:
  // TextAnalysis.wordArr (trimmed lowercase split — padding never mints
  // empty-string tokens into the vocabulary) and TextAnalysis.wordNgrams
  // (ordered space-joined n-grams with the bind-once lambda trick)

  /** Per-document mean bigram surprisal: `(idCol, n_bigrams, avg_nll)`.
    * Documents with fewer than two tokens have no bigrams and are absent
    * from the output (nothing to score). */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // model frames PINNED (r14, same rationale as [[naiveBayes]]): uni
    // feeds both the vocabulary count and the scoring join, and without
    // the pin each reference re-explodes the corpus. Both pins are
    // model-sized (distinct unigrams / bigrams), never corpus-sized.
    // LAZY (r15): every consumer fully materializes (the totals agg and
    // the scoring equi-joins), so the pins fold into the consuming jobs
    // instead of serializing as blocking driver round-trips — the eager
    // pins cost more at gate scale than the rescans they saved
    // (q78 +49% on the r14 driver, VERDICT #4; same trade here).
    val bg = df.select(col(idCol),
      explode(TextAnalysis.wordNgrams(col(textCol), 2)).as("__bg"))
    val Seq(uni, bgc) = graft.operators.Pin.lazilyAll(Seq(
      df.select(explode(TextAnalysis.wordArr(col(textCol))).as("__w"))
        .groupBy("__w").agg(count(lit(1)).as("__cu")),
      bg.groupBy("__bg").agg(count(lit(1)).as("__cb"))))
    val vocab = uni.agg(count(lit(1)).cast("double").as("__v"))
    bg.join(bgc, "__bg")
      // tokens cannot contain whitespace (they came from a \s+ split), so
      // the first space-delimited field IS w1
      .withColumn("__w", substring_index(col("__bg"), " ", 1))
      .join(uni, "__w")
      .crossJoin(broadcast(vocab))
      .withColumn("__nll",
        -log2((col("__cb") + lit(1)) / (col("__cu") + col("__v"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg(col("__nll")).as("avg_nll"))
  }

  /** Per-document mean trigram surprisal under a Jelinek–Mercer
    * λ-interpolated model — the smoothing step between the add-one
    * bigram filter above and a production KenLM:
    * `P(w3|w1w2) = λ3·c(w1w2w3)/c(w1w2) + λ2·c(w2w3)/c(w2)
    *             + λ1·(c(w3)+1)/(N+V)`.
    * Unseen trigrams fall back smoothly through the bigram and smoothed
    * unigram mass instead of cliffing to the add-one floor, so the score
    * separates merely-novel word orders from true gibberish.
    *
    * Scale shape: three count tables (unigram/bigram/trigram — map-side
    * combinable groupBys), scoring joins the exploded document trigrams
    * many-to-one against them plus a 1-row totals broadcast; same
    * word-count shuffles as [[bigramSurprisal]]. Term order and
    * associativity mirror the DuckDB oracle exactly, so per-row
    * probabilities are bit-equal. */
  def trigramSurprisal(df: DataFrame, idCol: String, textCol: String,
      l3: Double = 0.6, l2: Double = 0.3, l1: Double = 0.1): DataFrame = {
    // model frames PINNED (r14, same rationale as [[naiveBayes]]): uni
    // is referenced three times (totals + two scoring joins) and bgc
    // twice — unpinned, each reference re-explodes the corpus. All three
    // pins are model-sized count tables, never corpus-sized.
    val tg = df.select(col(idCol),
      explode(TextAnalysis.wordNgrams(col(textCol), 3)).as("__tg"))
    val Seq(uni, bgc, tgc) = graft.operators.Pin.lazilyAll(Seq(
      df.select(explode(TextAnalysis.wordArr(col(textCol))).as("__w"))
        .groupBy("__w").agg(count(lit(1)).as("__cu")),
      df.select(explode(TextAnalysis.wordNgrams(col(textCol), 2)).as("__bg"))
        .groupBy("__bg").agg(count(lit(1)).as("__cb")),
      tg.groupBy("__tg").agg(count(lit(1)).as("__ct"))))
    val totals = uni.agg(count(lit(1)).cast("double").as("__v"),
      sum(col("__cu")).cast("double").as("__n"))
    tg.join(tgc, "__tg")
      .withColumn("__w1w2", substring_index(col("__tg"), " ", 2))
      .withColumn("__w2w3", substring_index(col("__tg"), " ", -2))
      .withColumn("__w2", substring_index(col("__w2w3"), " ", 1))
      .withColumn("__w3", substring_index(col("__tg"), " ", -1))
      .join(bgc.select(col("__bg").as("__w1w2"), col("__cb").as("__c12")),
        "__w1w2")
      .join(bgc.select(col("__bg").as("__w2w3"), col("__cb").as("__c23")),
        "__w2w3")
      .join(uni.select(col("__w").as("__w2"), col("__cu").as("__c2")),
        "__w2")
      .join(uni.select(col("__w").as("__w3"), col("__cu").as("__c3")),
        "__w3")
      .crossJoin(broadcast(totals))
      .withColumn("__nll", -log2(
        lit(l3) * col("__ct") / col("__c12") +
          lit(l2) * col("__c23") / col("__c2") +
          lit(l1) * (col("__c3") + lit(1)) / (col("__n") + col("__v"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"), avg(col("__nll")).as("avg_nll"))
  }

  /** Multinomial Naive Bayes text classifier, trained and applied on the
    * corpus itself — the trainable counterpart of the fixed-stopword
    * [[TextAnalysis.langId]] heuristic, and the classic
    * counts-plus-logarithms supervised scorer every quality/domain
    * classifier pipeline starts from. Add-one smoothing over the corpus
    * vocabulary; log-prior from label document frequency.
    *
    * Returns `(idCol, labelCol, pred, score)` with `score` the winning
    * label's rounded log-posterior. Scores are rounded (6 dp) BEFORE the
    * argmax so tie-breaking (alphabetically smaller label wins) is stable
    * across summation orders — the same rule the DuckDB oracle replays.
    *
    * Scale design: training is two map-side-combinable groupBys (label
    * priors, per-(token,label) counts); scoring fans each token out to
    * the label set (a `|labels|`-row broadcast cross join) and left-joins
    * the count table — the only large shuffle is (token, label) hits,
    * the word-count shape. Test-on-train here by design: the operator
    * demonstrates the train/apply plumbing; a real pipeline feeds
    * [[Curation]]'s hash split. */
  def naiveBayes(df: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame = {
    // NOT widened (r15, measured): routing the corpus through a
    // [[Width.forKernel]] exchange before the explode shuffles the full text
    // bytes once per consuming plan (cond pin + scoring) and measured
    // q78 2.26 → 3.30 s back-to-back — the scan-fused explode is cheaper
    // than moving the text, unlike TextDedup's heavier per-row kernels.
    val toks = df.select(col(idCol), col(labelCol),
      explode(TextAnalysis.wordArr(col(textCol))).as("__t"))
    // the MODEL frames are PINNED (r14): without the pin every reference
    // is its own physical subtree (column pruning defeats exchange
    // reuse), and the q78 plan re-scanned the corpus 7× and re-ran the
    // explode+count 4× — once each for cond, tot, vocab, and priors×2
    // (guide §2.4: operations keyed the same way should share one
    // exchange; §5: cache exactly the reused-and-expensive frames). Both
    // pins are model-sized, never corpus-sized: priors is one row per
    // label, cond is (distinct token × label) rows — the word-count
    // table a 100 TB corpus bounds by its vocabulary, the same trade
    // [[TextDedup]] makes for hashed token sets.
    // LAZY pins (r15): all consumers fully materialize (aggs, broadcast
    // builds, the left equi-join), so the two model pins ride the
    // consuming jobs instead of costing two blocking driver round-trips
    // per query — the r14 eager pins regressed q78 1.47 → 2.19 s on the
    // driver at gate scale (VERDICT r14 #4) while saving tiny rescans.
    val Seq(priors, cond) = graft.operators.Pin.lazilyAll(Seq(
      df.groupBy(col(labelCol).as("__l"))
        .agg(count(lit(1)).cast("double").as("__nd")),
      toks.groupBy(col(labelCol).as("__l"), col("__t"))
        .agg(count(lit(1)).cast("double").as("__c"))))
    // corpus size FOLDS OVER the pinned priors — count(*) equals the sum
    // of per-label counts exactly (null labels form their own group, and
    // the doubles are exact integers), so no second corpus scan
    // coalesce(…, 0.0): on an EMPTY corpus sum() is NULL where the old
    // count(*) was 0 — keep the zero semantics (ADVICE r14)
    val n = priors.agg(coalesce(sum(col("__nd")), lit(0.0)).as("__nn"))
    // per-label totals and vocabulary FOLD OVER the (label, token) count
    // table — deriving them from `toks` directly would re-run the corpus
    // scan + explode once each; cond is vocab×labels rows
    val tot = cond.groupBy(col("__l")).agg(sum(col("__c")).as("__tot"))
    val vocab = cond.select(col("__t")).distinct()
      .agg(count(lit(1)).cast("double").as("__v"))
    val scored = toks
      .crossJoin(broadcast(priors.select(col("__l"))))
      .join(cond, Seq("__l", "__t"), "left")
      .join(broadcast(tot), "__l")
      .crossJoin(broadcast(vocab))
      .withColumn("__ll",
        log((coalesce(col("__c"), lit(0.0)) + 1.0) / (col("__tot") + col("__v"))))
      .groupBy(col(idCol), col(labelCol), col("__l"))
      .agg(sum(col("__ll")).as("__sum"))
      .join(broadcast(priors), "__l")
      .crossJoin(broadcast(n))
      .withColumn("__score",
        round(col("__sum") + log(col("__nd") / col("__nn")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("__score").desc, col("__l").asc)
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(idCol), col(labelCol), col("__l").as("pred"),
        col("__score").as("score"))
  }
}
