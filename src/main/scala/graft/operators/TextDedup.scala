package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines: exact
  * (hash-groupBy), exact-Jaccard pair search, MinHash+LSH banding, and
  * SimHash with pigeonhole blocking.
  *
  * Scale design (100 TB): every operator is expressed as joins/aggregations
  * over blocking keys so candidate generation never materializes the O(n²)
  * pair space — LSH band buckets and SimHash chunks bound each join key's
  * fan-out; the exact-Jaccard verifier runs only on generated candidates.
  */
object TextDedup {

  /** Distinct lowercase whitespace tokens — the working set for all
    * set-similarity ops. */
  def tokenSet(text: Column): Column =
    array_distinct(split(lower(text), "\\s+"))

  /** Token set as SORTED distinct 64-bit hashes. Set sizes (and therefore
    * Jaccard scores) are identical to [[tokenSet]] barring 64-bit collisions
    * (~n²/2⁶⁵ per doc — vanishing); long arrays shuffle smaller than string
    * arrays, and the sort — paid once per document — lets candidate scoring
    * use the allocation-free merge intersect
    * ([[graft.functions.SortedIntersectCount]]) instead of a per-pair hash
    * set. */
  def hashedTokenSet(text: Column): Column =
    array_sort(array_distinct(transform(split(lower(text), "\\s+"), t => xxhash64(t))))

  /** Exact duplicate groups: one row per distinct content hash with the
    * keeper (min id) and the duplicate count. Hash-groupBy — one shuffle of
    * (hash, id), no pair space. */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** All (a<b) same-block pairs with token-set Jaccard ≥ threshold.
    * `blockCols` bound the self-join (language, LSH bucket…), and an
    * implicit token-count band is added on top: Jaccard ≥ t implies the two
    * token-set sizes have ratio ≥ t (|A∩B| ≤ min, |A∪B| ≥ max), so docs are
    * bucketed by floor(ln n / ln(1/t)) and each emits buckets {k, k+1} — any
    * true pair differs by ≤1 in k and therefore shares a bucket. Blocking
    * only prunes candidates; intersection/union are computed on the full
    * token arrays so no surviving pair's score changes. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double,
      widen: Boolean = true): DataFrame =
    // hashedSets widens an under-parallel input before the token-hash
    // kernel (see [[Width.forKernel]]) — shared with the incremental
    // path; `widen = false` for per-micro-batch callers, where even the
    // planning-only width probe is per-batch overhead
    setJaccardPairs(hashedSets(df, idCol, textCol, blockCols, widen),
      blockCols, threshold)

  /** Sorted distinct 64-bit hashes of word `n`-gram shingles — the
    * order-sensitive analogue of [[hashedTokenSet]]: shingling catches
    * shared phrasing that a bag-of-words Jaccard misses and penalizes
    * reordered text that bag-of-words scores as identical. Docs with fewer
    * than `n` words have no shingles (empty set — they pair with nothing). */
  def hashedNgramSet(text: Column, n: Int): Column = {
    // the token array is bound as a LAMBDA VARIABLE so the split runs once
    // per row — referencing the split expression directly inside the inner
    // lambda would re-evaluate the regex split for every element_at (3n
    // re-splits per gram dominated this function's cost)
    val grams = transform(array(split(lower(text), "\\s+")), ts =>
      when(size(ts) >= n,
        array_sort(array_distinct(
          transform(sequence(lit(1), size(ts) - (n - 1)),
            i => xxhash64(concat_ws(" ",
              (0 until n).map(j => element_at(ts, i + j)): _*))))))
        .otherwise(array().cast("array<bigint>")))
    element_at(grams, 1)
  }

  /** All (a<b) same-block pairs with word-`n`-gram (shingle) Jaccard ≥
    * threshold — same banding/verification machinery as [[jaccardPairs]],
    * over shingle sets instead of token sets. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double, n: Int = 3): DataFrame =
    // widen an under-parallel input before the shingle kernel (3n
    // element_at + hash per gram — heavier than the token-set kernel)
    setJaccardPairs(Width.forKernel(
        df.select((Seq(idCol, textCol) ++ blockCols).distinct.map(col): _*),
        col(idCol))
      .select(Seq(col(idCol).as("__id"),
        hashedNgramSet(col(textCol), n).as("__ts")) ++ blockCols.map(col): _*),
      blockCols, threshold)

  /** Exact similarity self-join via PREFIX FILTERING (the classic exact
    * set-similarity-join technique — SSJoin/PPJoin family): with sets
    * sorted in one global order (here: by 64-bit hash), Jaccard ≥ t forces
    * an overlap of ≥ ⌈t·|X|⌉ with each side, so any qualifying pair must
    * share an element inside each side's first `|X| − ⌈t·|X|⌉ + 1` elements
    * — candidates come from an equi-join on exploded PREFIX elements
    * instead of all same-block pairs. Blocking is therefore sub-quadratic
    * in the block size (the same-size-band self-join it replaces was the
    * remaining quadratic-within-block term at fleet scale); a cheap
    * length-ratio conjunct (`t·max ≤ min`, implied by J ≥ t) prunes
    * mismatched sizes before the distinct. Verification then computes the
    * TRUE Jaccard on the full sorted sets, so the filter only ever prunes
    * candidates — no surviving pair's score changes, and no qualifying
    * pair is lost (exactness is what the DuckDB oracles pin). */
  private def setJaccardPairs(sets: DataFrame,
      blockCols: Seq[String], threshold: Double): DataFrame =
    setJaccardJoin(sets, None, blockCols, threshold,
      outA = "id_a", outB = "id_b")

  /** Shared prefix-filter core for the self-join ([[jaccardPairs]] /
    * [[ngramJaccardPairs]]) and the two-corpus incremental join
    * ([[jaccardPairsAgainst]]): ONE implementation of the rarity
    * ordering, prefix build, size-ratio candidate join, and exact
    * verification — a fix to any of those must not be able to diverge
    * the two paths. `setsB = None` means self-join (candidates guarded
    * by `id_a < id_b`); otherwise A-side prefixes join B-side prefixes
    * only, so cost scales with A (the batch), never B². */
  private def setJaccardJoin(setsA: DataFrame, setsB: Option[DataFrame],
      blockCols: Seq[String], threshold: Double,
      outA: String, outB: String): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in (0, 1], got $threshold")
    // materialize the hashed sets ONCE: this plan fans out into four
    // subtrees (frequency pass, prefix build, candidate join, verify) and
    // the set-construction expression (regex split + hash per element) is
    // the single most expensive projection — without the checkpoint it
    // re-evaluates in every subtree. O(input) rows of longs, the same
    // materialization every exact set-similarity join implementation makes.
    // LAZY pin (r15): the first consumer is the scale-gate probe
    // ([[Width.atScale]], which touches every partition), then the
    // frequency pass, prefix build and verify joins — all
    // full-materializing, so the tokenize+hash+sort kernel runs inside
    // the gate-probe job instead of a blocking pin job per side
    def toks(sets: DataFrame) = sets.filter(size(col("__ts")) > 0)
      .withColumn("__n", size(col("__ts")))
      .transform(Pin.lazily(_))
    val ta = toks(setsA)
    val tb = setsB.map(toks)
    // Rarity order (the PPJoin document-frequency ordering): prefixes are
    // taken from each set sorted by ascending GLOBAL frequency (ties by
    // hash — a true total order), so a template element shared by half the
    // corpus lands in everyone's suffix and never generates a candidate.
    // In the two-corpus form the order is computed over BOTH sides — the
    // sides must agree on it, or a qualifying pair could put the shared
    // element in one side's prefix and the other side's suffix and never
    // join — and is materialized because two prefix subtrees consume it.
    val instances = (ta +: tb.toSeq)
      .map(_.select(explode(col("__ts")).as("__pe")))
      .reduce(_ unionByName _)
    val freq0 = instances.groupBy("__pe").agg(count(lit(1)).as("__f"))
    val freq = if (tb.isDefined) Pin.lazily(freq0) else freq0
    def pref(t: DataFrame) = {
      val prefixes = t.select(col("__id"), col("__n"),
          explode(col("__ts")).as("__pe"))
        .join(freq, "__pe")
        .groupBy("__id").agg(
          slice(array_sort(collect_list(struct(col("__f"), col("__pe")))),
            lit(1),
            (first(col("__n")) - ceil(first(col("__n")) * threshold) + 1)
              .cast("int")).as("__pref"))
      t.join(prefixes, "__id")
        .select(Seq(col("__id"), col("__n"),
          explode(col("__pref.__pe")).as("__pe")) ++ blockCols.map(col): _*)
    }
    val prefA = pref(ta)
    val prefB = tb.map(pref).getOrElse(prefA)
    val sizeAndBlocks = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.__pe") === col("b.__pe") &&
        least(col("a.__n"), col("b.__n")).cast("double") >=
          greatest(col("a.__n"), col("b.__n")) * lit(threshold))(_ && _)
    val joinCond = if (tb.isDefined) sizeAndBlocks
      else sizeAndBlocks && col("a.__id") < col("b.__id")
    // The candidate equi-join FANS OUT far beyond its compressed input:
    // at the sf10 probe AQE's 30 coalesced tasks each rotated ~650 MB of
    // uncompressed candidate output through the shuffle writer (19.6 GB
    // of map-side spill). At scale the join inputs take the
    // [[Width.fanOut]] width, keyed on __pe (an equi key, so it replaces
    // the join's own exchange); below the gate small corpora keep AQE's
    // sizing. The gate probes the already-pinned token frames.
    val widen = Width.atScale(ta) || tb.exists(Width.atScale)
    def widened(df: DataFrame): DataFrame =
      if (!widen) df
      else Width.keyed(df, Width.fanOut(df.sparkSession), col("__pe"))
    val jA = widened(prefA)
    val jB = if (tb.isDefined) widened(prefB) else jA
    val cands = jA.as("a").join(jB.as("b"), joinCond)
      .select(col("a.__id").as(outA), col("b.__id").as(outB))
      .distinct() // ids only — set payloads re-join after the dedup
    // verify attach joins stay UNHINTED (sort-merge), unlike
    // verifiedMinhashPairs' shuffle_hash: prefix filtering keeps the
    // exact-join candidate side output-sized (thousands, not the LSH
    // path's tens of millions), so SMJ's sort is trivial while a hash
    // join would pay per-partition map builds over the corpus token sets
    // — A/B at sf0.1 measured the hint 10-25% SLOWER here
    cands
      .join(ta.select(col("__id").as(outA), col("__ts").as("__ta")), outA)
      .join(tb.getOrElse(ta).select(col("__id").as(outB), col("__ts").as("__tb")), outB)
      .withColumn("__inter",
        graft.functions.SortedIntersectCount(col("__ta"), col("__tb"))
          .cast("double"))
      .withColumn("jaccard", col("__inter") /
        (size(col("__ta")) + size(col("__tb")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col(outA), col(outB), col("jaccard"))
  }

  /** INCREMENTAL near-dup check: exact Jaccard pairs between a NEW batch
    * and an EXISTING corpus — the production shape for continuous
    * ingestion, where re-pairing the base against itself per batch would
    * redo the whole corpus-scale job for every arrival. Same prefix-filter
    * machinery as [[jaccardPairs]] (rarity order computed over base ∪ new
    * so both sides prefix consistently), but the candidate join is
    * new-side prefixes × base-side prefixes only: cost scales with the
    * BATCH (times the base's posting lists), never with base². Exact —
    * verification computes true Jaccard on the full hashed token sets, so
    * the result equals the brute-force cross join at any blocking. */
  def jaccardPairsAgainst(newDf: DataFrame, baseDf: DataFrame, idCol: String,
      textCol: String, blockCols: Seq[String], threshold: Double): DataFrame =
    jaccardPairsAgainstSets(hashedSets(newDf, idCol, textCol, blockCols),
      hashedSets(baseDf, idCol, textCol, blockCols), blockCols, threshold)

  /** The set frame [[jaccardPairsAgainstSets]] consumes: `(__id, __ts,
    * blockCols…)` with `__ts` the sorted hashed token set. Exposed so a
    * CONTINUOUS ingest-dedup pipeline can maintain the base side
    * incrementally — hash each batch once, union the survivors' set rows
    * into a pinned base frame — instead of re-tokenizing the whole
    * corpus text on every micro-batch (at fleet scale the corpus
    * re-scan, not the join, is the dominant per-batch cost). */
  def hashedSets(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], widen: Boolean = true): DataFrame = {
    // widen an under-parallel input (one-file corpus, compacted view)
    // before the tokenize+hash+sort kernel runs — no-op on wide scans.
    // `widen = false` for per-MICRO-BATCH callers: a few-hundred-row
    // batch's kernel is cheaper than the widen's own planning probe, and
    // paying that probe per batch measured q126 +0.2 s across its drain
    // .distinct: blocking on the id or the text itself must not project
    // a duplicate column (ambiguous-reference error — ADVICE r14)
    val slim = df.select(
      (Seq(idCol, textCol) ++ blockCols).distinct.map(col): _*)
    (if (widen) Width.forKernel(slim, col(idCol)) else slim)
      .select(Seq(col(idCol).as("__id"),
        hashedTokenSet(col(textCol)).as("__ts")) ++ blockCols.map(col): _*)
  }

  /** [[jaccardPairsAgainst]] over pre-built [[hashedSets]] frames. */
  def jaccardPairsAgainstSets(newSets: DataFrame, baseSets: DataFrame,
      blockCols: Seq[String], threshold: Double): DataFrame =
    setJaccardJoin(newSets, Some(baseSets), blockCols, threshold,
      outA = "new_id", outB = "base_id")

  /** MinHash signatures as ONE aggregation: tokens exploded once, then
    * `numHashes` `min(xxhash64(seed_i, tokenHash))` aggregates per doc.
    * Values are identical to per-row nested-transform construction
    * (min over tokens of `xxhash64(i, xxhash64(tok))`), but the plan is one
    * shuffle with O(numHashes) aggregate expressions instead of a
    * multi-MiB nested-Column task binary whose codegen cost grows with the
    * corpus width. Returns (__id, __sig: array<bigint>). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int): DataFrame =
    // One codegen'd pass per document, NO explode/groupBy: the former
    // explode → 96-column min-agg shape shuffled every (doc, token) row
    // and paid agg machinery per hash column. Hash values are
    // bit-identical (see MinHashSignature), and duplicate tokens need no
    // dedup — they can never change a min.
    df.select(col(idCol).as("__id"),
      graft.functions.MinHashSignature(
        split(lower(col(textCol)), "\\s+"), numHashes).as("__sig"))

  /** LSH candidate pairs: split the signature into `bands` bands of
    * `rowsPerBand`, bucket-join on (band index, band slice hash). Returns
    * distinct (id_a < id_b) candidates.
    *
    * `maxBucketSize` (default: unlimited) drops buckets larger than the cap
    * before the self-join. An m-doc bucket contributes m² join rows on one
    * key — but those pairs are usually GENUINE near-dups (a mass-duplicated
    * boilerplate cluster), so capping trades recall for a hard bound on
    * per-key fan-out. Leave unlimited when the full pair set is required;
    * cap (after collapsing exact duplicates, which [[verifiedMinhashPairs]]
    * does) when a runaway template cluster may otherwise dominate the job —
    * the drop is then explicit, not an OOM. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, bands * rowsPerBand)
    // pin (__id, __keys) — id + `bands` longs per doc — so the bucket
    // SELF-join's two sides share one signature pass instead of each
    // re-hashing every token numHashes times (the dominant cost; same
    // small-rows-only checkpoint policy as the verify join's token sets)
    val keyed = sigs.select(col("__id"),
      array((0 until bands).map { bnd =>
        xxhash64(slice(col("__sig"), bnd * rowsPerBand + 1, rowsPerBand)
          .cast("string"))
      }: _*).as("__keys"))
    bandedCandidateJoin(keyed, bands, maxBucketSize)
  }

  /** The LSH bucket self-join over a `(__id, __keys)` frame — one key per
    * band, any key type (the production path hashes each band slice to a
    * long; the md5-replayable path concatenates hex minima). Shared by
    * [[minhashCandidates]] and [[verifiedMinhashPairsMd5]] so a fix to the
    * first-match-band dedup or the bucket cap cannot diverge the two.
    *
    * If the keyed frame carries a `__ts` column (the doc's hashed token
    * set), it RIDES THE BANDED JOIN as payload and the output gains
    * `__ts_a`/`__ts_b` — the exact-verify inputs co-located with the pair
    * at the moment it is emitted. This is what keeps the verify OUT of
    * the pair stream's exchanges: the alternative (attach sets by id-join
    * after the candidate join) shuffles every candidate pair widened to
    * its token array — measured 867 MB of a 1.38 GB total at sf1 and the
    * entire 574 MB sf10 spill — while the banded exchange carries each
    * set only `bands` times, clustered (12 consecutive repeats compress
    * to ~nothing), independent of the pair count. Reference analogue:
    * `read_dedup.rs` RowConverter-encoded keys — never shuffle the
    * payload you can deliver with the key. The capped path drops `__ts`
    * (its distinct() would group-compare arrays) and returns plain pairs
    * for the legacy re-join verify. */
  private def bandedCandidateJoin(keyed0: DataFrame, bands: Int,
      maxBucketSize: Int, verifyThreshold: Option[Double] = None): DataFrame = {
    val hasTs = keyed0.columns.contains("__ts") &&
      maxBucketSize == Int.MaxValue && verifyThreshold.isDefined
    // pin (__id, __keys[, __ts]) — id + `bands` keys (+ the token set) per
    // doc — so the bucket SELF-join's two sides share one signature pass
    // instead of each re-hashing every token numHashes times (the dominant
    // cost; same small-rows-only checkpoint policy as hashedSets).
    // LAZY (r15): consumers are the banded self-join (and on the capped
    // path the bucket-size agg + join) — all full-materializing, so the
    // signature kernel folds into the first consuming job instead of a
    // blocking driver round-trip per pin (VERDICT r14 #5)
    val keyed = (if (hasTs || !keyed0.columns.contains("__ts")) keyed0
      else keyed0.drop("__ts")).transform(Pin.lazily(_))
    val payload = if (hasTs) Seq(col("__ts")) else Nil
    val banded = keyed.select(col("__id") +: col("__keys") +: payload :+
      posexplode(col("__keys")).as(Seq("band", "key")): _*)
    if (maxBucketSize == Int.MaxValue) {
      // FIRST-MATCH-BAND dedup: a near-identical pair agrees on most of its
      // `bands` band keys, so the raw bucket join emits it up to `bands`
      // times and the obvious `.distinct()` hash-aggregates the whole
      // multi-million-row join output (measured 8.4 s of a 9.6 s candidate
      // stage on a clique-heavy corpus). Instead each banded row carries
      // the full key vector and the join keeps a match only when NO
      // earlier band also agreed — every pair survives exactly once (at
      // its first agreeing band), which IS the distinct set, computed as a
      // streaming filter with no extra shuffle.
      // "no earlier band agreed" as a plain AND-chain of element_at
      // comparisons — NOT a zip_with/forall lambda, which is
      // CodegenFallback and forces the whole join stage interpreted
      // (measured 3× slower than the distinct it replaced)
      val noEarlierMatch = (0 until bands - 1).map { i =>
        col("x.band") <= i ||
          element_at(col("x.__keys"), i + 1) =!= element_at(col("y.__keys"), i + 1)
      }.foldLeft(lit(true))(_ && _)
      // When the token sets ride the join (hasTs), the exact-Jaccard
      // verify is the LAST conjunct of the join condition, built HERE
      // rather than as a filter above the join: Catalyst folds an outer
      // filter into the condition by PREPENDING it, which put the
      // intersect FIRST in the AND chain — evaluated on every raw bucket
      // match before the cheap id</first-match pruning discarded ~12/13
      // of them (measured 25.7 s vs 11.5 s for this stage at sf1).
      // Conjunct order inside one explicit condition is preserved and
      // short-circuits, so the intersect runs exactly once per TRUE
      // candidate. The division form matches the oracle's replay
      // bit-for-bit (no algebraic rearrangement — double rounding could
      // flip threshold-boundary pairs between engines).
      def jac(a: Column, b: Column): Column = {
        val inter = graft.functions.SortedIntersectCount(a, b).cast("double")
        inter / (size(a) + size(b) - inter)
      }
      val verified = verifyThreshold.filter(_ => hasTs).map(t =>
        jac(col("x.__ts"), col("y.__ts")) >= t)
      banded.as("x").join(banded.as("y"),
          verified.foldLeft(
            col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
              col("x.__id") < col("y.__id") && noEarlierMatch)(_ && _))
        .select(col("x.__id").as("id_a") +: col("y.__id").as("id_b") +:
          (if (hasTs)
            // survivors only: recomputing jaccard here costs one more
            // intersect per SURVIVING pair (~5% of candidates), the price
            // of never exchanging a candidate stream at all
            Seq(jac(col("x.__ts"), col("y.__ts")).as("jaccard"))
          else Nil): _*)
    } else {
      // capped path: dropping over-full buckets breaks "first agreeing
      // band" (the first match may sit in a dropped bucket), so pair
      // uniqueness falls back to a distinct over the surviving join output
      val bucketSizes = banded.groupBy("band", "key")
        .agg(count(lit(1)).as("__bn"))
        .filter(col("__bn") <= maxBucketSize)
        .select("band", "key")
      val capped = banded.join(bucketSizes, Seq("band", "key"))
      capped.as("x").join(capped.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.__id") < col("y.__id"))
        .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
        .distinct()
    }
  }

  /** LSH bucket-size distribution for the exact banding
    * [[verifiedMinhashPairs]] joins on (exact duplicates collapsed to one
    * representative first, matching the real join input). One summary row:
    * bucket count, max/p99/p999 bucket size, and the self-join fan-out
    * `sum(m·(m−1)/2)` — the quantity that actually goes quadratic when a
    * bucket degenerates. Diagnostic companion to the scale probe: a max
    * bucket growing superlinearly under N× replication means the banding
    * key has collapsed and the join needs a width cap. */
  def lshBucketStats(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, family: String = "xxhash64"): DataFrame = {
    val withHash = df.select(col(idCol).as("__id"), col(textCol).as("__text"))
      .withColumn("__ch", md5(col("__text")))
    val reps = withHash.groupBy("__ch").agg(min(col("__id")).as("__id"),
      first(col("__text")).as("__text"))
    // `family` picks the hash family whose banding is being audited:
    // "xxhash64" = the production near-dup kernel; "md5" = the
    // oracle-replayable affine family the q26 query ships. Same band
    // structure either way — the stats pin that neither family's keys
    // collapse under replication.
    val banded = (if (family == "md5")
        md5MinhashBandKeys(reps, "__id", "__text", bands, rowsPerBand)
      else {
        val sigs = minhashSignatures(reps, "__id", "__text",
          bands * rowsPerBand)
        sigs.select(col("__id"), array((0 until bands).map { bnd =>
          xxhash64(slice(col("__sig"), bnd * rowsPerBand + 1, rowsPerBand)
            .cast("string")).cast("string")
        }: _*).as("__keys"))
      })
      .select(col("__id"), posexplode(col("__keys")).as(Seq("band", "key")))
    banded.groupBy("band", "key").agg(count(lit(1)).as("m"))
      .agg(count(lit(1)).as("buckets"),
        max(col("m")).as("max_bucket"),
        expr("percentile(m, 0.99)").as("p99_bucket"),
        expr("percentile(m, 0.999)").as("p999_bucket"),
        sum(col("m") * (col("m") - 1) / 2).cast("long").as("join_fanout"))
  }

  /** MinHash+LSH with exact-Jaccard verification of the candidates: the
    * scalable near-dup operator (candidates from banding, score from the
    * true token sets — 100% precision, recall set by the band shape).
    *
    * Exact duplicates are collapsed FIRST: every member of an m-doc
    * identical cluster shares every LSH bucket, so the raw self-join would
    * put m² rows through each of 32 band keys. Instead LSH+verify runs on
    * one representative per distinct content, cluster pairs are emitted
    * directly with jaccard 1.0, and rep-level near-dup pairs are expanded
    * back to members (identical token sets ⇒ identical scores). */
  def verifiedMinhashPairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    verifiedLshCore(df, idCol, textCol, threshold, repDocs => {
      // signature AND hashed token set in ONE text pass: the set rides
      // the banded join as verify payload (see bandedCandidateJoin) —
      // under a bucket cap it is dropped there and the core re-joins
      val sigs = repDocs.select(col("__id"),
        graft.functions.MinHashSignature(
          split(lower(col("__text")), "\\s+"), bands * rowsPerBand)
          .as("__sig"),
        hashedTokenSet(col("__text")).as("__ts"))
      val keyed = sigs.select(col("__id"),
        array((0 until bands).map { bnd =>
          xxhash64(slice(col("__sig"), bnd * rowsPerBand + 1, rowsPerBand)
            .cast("string"))
        }: _*).as("__keys"), col("__ts"))
      bandedCandidateJoin(keyed, bands, maxBucketSize, Some(threshold))
    })

  /** Mersenne prime 2⁶¹−1: modulus of the oracle-replayable affine MinHash
    * permutation family ([[md5MinhashBandKeys]]). */
  private val P61 = (1L << 61) - 1

  /** Permutation constants for [[md5MinhashBandKeys]], derived from md5 so
    * BOTH engines compute them rather than sharing a hardcoded table:
    * `a_p = (md5_number_lower("a|p") & (2³¹−1)) | 1` (odd, nonzero),
    * `b_p = md5_number_lower("b|p") & (2⁶⁰−1)`. Foldable literals —
    * Catalyst constant-folds the md5 at optimization time, zero per-row
    * cost. */
  private def permA(p: Int): Column =
    md5TokenHash(lit(s"a|$p")).bitwiseAND(lit((1L << 31) - 1)).bitwiseOR(lit(1L))
  private def permB(p: Int): Column =
    md5TokenHash(lit(s"b|$p")).bitwiseAND(lit((1L << 60) - 1))

  /** MinHash band keys in the md5-AFFINE hash family — the textbook
    * `min_t ((a_p·x(t) + b_p) mod P)`, P = 2⁶¹−1, over ONE md5-derived
    * 64-bit token hash ([[md5TokenHash]], DuckDB's `md5_number_lower`).
    * One digest per token (a 96-digest-per-token variant measured 100×
    * the hash allocations and progressive GC degradation at the 10×
    * probe) plus 96 ALU-only permutations; aggregation state is 96 longs
    * per doc.
    *
    * The modular arithmetic is OVERFLOW-FREE by construction: `x` is the
    * Mersenne fold of the uint64 bits (low 61 + high 3), `a·x` splits as
    * `a·(x>>31)·2³¹ + a·(x & 2³¹−1)` with each product < 2⁶² and each
    * partial reduced by 2⁶¹ ≡ 1 (mod P). Every intermediate stays in
    * [0, 2⁶²), so Spark's signed long and DuckDB's BIGINT (which ERRORS
    * on overflow rather than wrapping) evaluate bit-identically — the
    * property the q26 oracle rests on.
    *
    * Two implementations, spec-pinned bit-equal:
    * [[md5MinhashBandKeys]] computes the signature with the codegen'd
    * one-pass kernel ([[graft.functions.Md5AffineMinHash]]) — a
    * 96-column projection chain exceeds `spark.sql.codegen.maxFields`
    * and falls out of whole-stage codegen (measured 7×) — while
    * [[md5MinhashBandKeysDeclarative]] is the layered-projection form
    * whose shape the DuckDB oracle replays hash for hash (one select per
    * reduction step with named intermediates: the same chain as nested
    * Column trees duplicates every `when` operand ~3× per level — a
    * 50 MiB task binary at 96 perms). Band key = the `rowsPerBand`
    * minima as decimal strings, comma-joined in permutation order.
    * Returns `(__id, __keys: array<string>)` for
    * [[bandedCandidateJoin]]. The production near-dup path
    * ([[minhashSignatures]]) keeps the single-pass xxhash64 kernel: same
    * banding structure, cheaper hashing, not oracle-replayable. */
  def md5MinhashBandKeys(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    md5MinhashKeyed(df, idCol, textCol, bands, rowsPerBand, withSets = false)

  /** [[md5MinhashBandKeys]] plus (when `withSets`) the doc's hashed token
    * set as `__ts`, computed in the SAME text pass — the verify payload
    * that rides the banded join (see [[bandedCandidateJoin]]). */
  private def md5MinhashKeyed(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, withSets: Boolean): DataFrame = {
    val sigs = df.select(col(idCol).as("__id") +:
      graft.functions.Md5AffineMinHash(
        split(lower(col(textCol)), "\\s+"), bands * rowsPerBand).as("__sig") +:
      (if (withSets) Seq(hashedTokenSet(col(textCol)).as("__ts"))
       else Nil): _*)
    // slice + array-cast, NOT 96 element_at calls: ANSI element_at carries
    // a per-call out-of-bounds error branch and the 96-call projection
    // measured 20× slower than the sliced form (3.9 s vs 0.2 s at sf0.1)
    sigs.select(col("__id") +: array((0 until bands).map { bnd =>
      concat_ws(",",
        slice(col("__sig"), bnd * rowsPerBand + 1, rowsPerBand)
          .cast("array<string>"))
    }: _*).as("__keys") +:
      (if (withSets) Seq(col("__ts")) else Nil): _*)
  }

  /** The layered declarative form of [[md5MinhashBandKeys]] — the shape
    * the q26 oracle replays; kept as the spec reference for the codegen
    * kernel. */
  def md5MinhashBandKeysDeclarative(df: DataFrame, idCol: String,
      textCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val n = bands * rowsPerBand
    val ps = 0 until n
    val mask61 = lit(P61)
    def sub61(c: Column): Column = when(c >= P61, c - P61).otherwise(c)
    val toks = df.select(col(idCol).as("__id"),
        explode(tokenSet(col(textCol))).as("__tok"))
      .select(col("__id"), md5TokenHash(col("__tok")).as("__m"))
      // Mersenne fold of the raw uint64 bits → x ∈ [0, P)
      .select(col("__id"), (col("__m").bitwiseAND(mask61) +
        shiftrightunsigned(col("__m"), 61)).as("__r0"))
      .select(col("__id"), sub61(col("__r0")).as("__x"))
    // per-perm split products: u = a·hi31, w = a·lo31 (each < 2⁶²)
    val l1 = toks.select(col("__id") +:
      ps.flatMap(p => Seq(
        (permA(p) * shiftrightunsigned(col("__x"), 31)).as(s"__u$p"),
        (permA(p) * col("__x").bitwiseAND(lit((1L << 31) - 1))).as(s"__w$p"))): _*)
    // reduce each partial mod P: u·2³¹ ≡ (u & 2³⁰−1)·2³¹ + (u >> 30)
    val l2 = l1.select(col("__id") +:
      ps.flatMap(p => Seq(
        (shiftleft(col(s"__u$p").bitwiseAND(lit((1L << 30) - 1)), 31) +
          shiftrightunsigned(col(s"__u$p"), 30)).as(s"__t$p"),
        (col(s"__w$p").bitwiseAND(mask61) +
          shiftrightunsigned(col(s"__w$p"), 61)).as(s"__v$p"))): _*)
    // sum with b_p (< 2.5P) and take h = sum mod P via two conditional subtracts
    val l3 = l2.select(col("__id") +:
      ps.map(p => (sub61(col(s"__t$p")) + sub61(col(s"__v$p")) + permB(p))
        .as(s"__s$p")): _*)
    val l4 = l3.select(col("__id") +:
      ps.map(p => sub61(col(s"__s$p")).as(s"__z$p")): _*)
    val hashed = l4.select(col("__id") +:
      ps.map(p => sub61(col(s"__z$p")).as(s"__h$p")): _*)
    val aggs = ps.map(p => min(col(s"__h$p")).as(s"__h$p"))
    hashed.groupBy("__id").agg(aggs.head, aggs.tail: _*)
      .select(col("__id"), array((0 until bands).map { bnd =>
        concat_ws(",", (0 until rowsPerBand).map(r =>
          col(s"__h${bnd * rowsPerBand + r}").cast("string")): _*)
      }: _*).as("__keys"))
  }

  /** [[verifiedMinhashPairs]] with the md5 permutation family — the
    * ORACLE-GATED variant (q26): signatures, banding, candidate join,
    * exact-Jaccard verification, and duplicate-cluster expansion all
    * recompute in DuckDB digest for digest, so the cross-engine compare
    * pins the entire operator, not just the verify stage. Production
    * callers keep [[verifiedMinhashPairs]]'s xxhash64 kernel (identical
    * band shape and recall math; the hash family is the only difference,
    * and the recall spec pins that path). */
  def verifiedMinhashPairsMd5(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, threshold: Double): DataFrame =
    verifiedLshCore(df, idCol, textCol, threshold,
      repDocs => bandedCandidateJoin(
        md5MinhashKeyed(repDocs, "__id", "__text", bands, rowsPerBand,
            withSets = true)
          // recode each ~150-byte decimal-minima key to its 16-byte md5
          // before the self-join: the join carries the FULL key vector on
          // both sides (the first-match-band check), so key width is the
          // dominant shuffle payload at scale (~8× lighter recoded). The
          // candidate set is unchanged — md5 equality as content identity
          // is the same convention the exact-dup collapse rests on, and a
          // colliding FALSE candidate would still have to pass the exact-
          // Jaccard verify. Computed once pre-Pin, off the join hot path.
          .select(col("__id"),
            transform(col("__keys"), k => unhex(md5(k))).as("__keys"),
            col("__ts")),
        bands, Int.MaxValue, Some(threshold)))

  /** Shared exact-duplicate collapse + exact-Jaccard verify + cluster
    * expansion around a pluggable candidate generator: `candidates` maps
    * the representative-doc frame `(__id, __text)` to distinct
    * `(id_a < id_b)` candidate pairs. */
  private def verifiedLshCore(df: DataFrame, idCol: String, textCol: String,
      threshold: Double,
      candidates: DataFrame => DataFrame): DataFrame = {
    val withHash = df.select(col(idCol).as("__id"), col(textCol).as("__text"))
      .withColumn("__ch", md5(col("__text")))
    // rep labels in ONE window pass over the NARROW (id, hash) projection
    // (r15): the r14 shape derived `reps` as a groupBy and re-joined it
    // back — and `members`' four consumers (cross ×2, intra ×2) plus
    // `repDocs` each re-derived the join, re-SCANNING the corpus on its
    // probe side every time (the q26 profile shows four serial
    // single-task 5000-row scan stages). `min(id) over (partition by
    // content-hash)` assigns the identical rep label (min id of the
    // md5-identical group) with one exchange, and the PIN makes the four
    // consumers read the materialized (id, rep) rows instead of
    // re-deriving. Lazy pin: every consumer (the rep-id semi-join build,
    // the member-expansion equi-joins, the intra self-join) fully
    // materializes. Corpus-sized but NARROW — two longs + label per row,
    // the same class as the token-set pins this pipeline already makes.
    val members = Pin.lazily(withHash.select(col("__id"), col("__ch"))
      .withColumn("__rep", min(col("__id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__ch"))))
      .select(col("__id"), col("__rep")))
    // one row per cluster: the rep's own member row (id == rep ⇔ id is
    // the group minimum) — read off the pinned members, no second agg
    val repIds = members.filter(col("__id") === col("__rep"))
      .select(col("__id").as("__r"))
    // widen BEFORE the rep semi-join (r14): repDocs feeds the candidate
    // generator's per-doc MinHash/token-set kernel — the single most
    // expensive projection of the whole pipeline (96 modular perms per
    // token) — see [[Width.forKernel]]. HashPartitioning(__id) from the
    // widen also satisfies the semi-join's required clustering should the
    // join ever be exchange-backed instead of broadcast.
    val repDocs = Width.forKernel(
        withHash.select(col("__id"), col("__text")), col("__id"))
      .join(repIds, col("__id") === col("__r"), "left_semi")

    val cands = candidates(repDocs)
    def verify(pairs: DataFrame): DataFrame = pairs
      .withColumn("__inter", graft.functions
        .SortedIntersectCount(col("__ts_a"), col("__ts_b")).cast("double"))
      .withColumn("jaccard", col("__inter") /
        (size(col("__ts_a")) + size(col("__ts_b")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("__ra"), col("id_b").as("__rb"), col("jaccard"))
    val repPairs = if (cands.columns.contains("jaccard"))
      // INLINE verify already ran: the token sets rode the banded join
      // as payload and the threshold was the join condition's tail
      // conjunct (see bandedCandidateJoin) — the pair stream was never
      // exchanged at all, let alone widened to its arrays; only
      // SURVIVING pairs left the stage. (The former re-join verify
      // shuffled every candidate pair carrying its ts_a array — 867 MB
      // of q26's 1.38 GB sf1 total and the whole 574 MB sf10 spill.)
      cands.select(col("id_a").as("__ra"), col("id_b").as("__rb"),
        col("jaccard"))
    else {
      // legacy RE-JOIN verify — the capped-bucket path, whose distinct()
      // must not group-compare arrays. Hashed sets materialized ONCE (the
      // setJaccardPairs pattern); shuffle_hash, NOT sort-merge: the
      // stream side is tens of millions of candidate pairs widening to
      // ~KB rows as token arrays attach — SMJ must SORT that side
      // (measured 8–100 s at the 10× probe, the spread being sort
      // spill), while the build side is only the rep token sets, a few
      // thousand rows per partition to hash. Same shuffle, no sort.
      val toks = repDocs.select(col("__id").as("__tid"),
        hashedTokenSet(col("__text")).as("__ts"))
        .transform(Pin.lazily(_)) // both attach joins fully materialize
      verify(cands
        .join(toks.withColumnRenamed("__tid", "id_a")
          .withColumnRenamed("__ts", "__ts_a").hint("shuffle_hash"), "id_a")
        .join(toks.withColumnRenamed("__tid", "id_b")
          .withColumnRenamed("__ts", "__ts_b").hint("shuffle_hash"), "id_b"))
    }

    val cross = repPairs
      .join(members.select(col("__id").as("__ma"), col("__rep").as("__ra")), "__ra")
      .join(members.select(col("__id").as("__mb"), col("__rep").as("__rb")), "__rb")
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("jaccard"))
    val intra = members.as("x").join(members.as("y"),
        col("x.__rep") === col("y.__rep") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** Connected components over a verified near-dup pair graph: every doc
    * labeled with the smallest id reachable through the edges — the
    * keep-one-per-cluster PRODUCTION dedup (pair lists are evidence;
    * training pipelines drop whole clusters). Iterative min-label
    * propagation with ADAPTIVE POINTER JUMPING: each round propagates
    * labels one edge hop (equi-join + groupBy-min); from round
    * `jumpAfter` on, the round also shortcuts every label to its label's
    * label (one more equi-join on the label key), doubling reach per
    * round. Near-dup graphs are usually DENSE quasi-cliques that
    * converge in 2–3 hop rounds — paying the jump's extra shuffle there
    * buys nothing — while adversarial drift chains are DEEP, which is
    * where the doubling matters: reach after maxIter rounds is
    * jumpAfter·2^(maxIter−jumpAfter) (≈ 260k at the defaults, doubling
    * per raised maxIter), so convergence stays O(log diameter) without
    * taxing the common case. Shuffle volume stays O(edges + V) per
    * round, never any payload columns; `localCheckpoint` cuts lineage
    * between rounds.
    *
    * Exhausting `maxIter` without reaching the fixpoint THROWS — a
    * truncated label set is silently-wrong dedup output, the one failure
    * an oracle at test scale cannot catch (the graph depth that breaks it
    * only exists at production scale). */
  def connectedComponents(ids: DataFrame, edges: DataFrame,
      maxIter: Int = 20, jumpAfter: Int = 3): DataFrame = {
    // `ids` is usually exchange-bearing (a repartitioned corpus, a table
    // view): the scale gate probes a lazy pin of it, which both labeling
    // paths then read in full, so the caller's plan runs once per call
    val idsPin = Pin.lazily(ids)
    // Both the edge materialization below and the propagation loop
    // shuffle (long, long) pair rows that LZ4 compresses ~10×, and AQE
    // coalesces reduce partitions by COMPRESSED bytes — at 94M edges
    // (sf10 probe) the coalesced ~30-task sorts paid ~650 MB of
    // UNCOMPRESSED input each and spilled ~25 GB/stage. Scope a small
    // advisory size to this whole call so those exchanges stay wide
    // (8 MB compressed ≈ the default 64 MB of uncompressed sort input
    // for this row shape); restored in the finally — every frame that
    // leaves this function is pinned, so nothing re-executes under the
    // caller's conf.
    val session = ids.sparkSession
    val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prevAdvisory = session.conf.getOption(advisoryKey)
    // …but only [[Width.atScale]]: at gate scale the finer tasks are
    // pure scheduling overhead (+27% on the q43/q96/q144 bench family at
    // 5k docs). The advisory is a SESSION conf, so a concurrent query on
    // the same session inherits it (wider exchanges, no correctness
    // effect) while a large CC runs; DataFrames cannot be re-bound to a
    // child session through any public API.
    val atScale = Width.atScale(idsPin)
    if (atScale) session.conf.set(advisoryKey, "8m")
    try {
    // materialize the edge list once — it is typically an EXPENSIVE plan
    // (a verified similarity join) that would otherwise recompute every
    // propagation round. The EXPLICIT pre-checkpoint width matters: the
    // checkpoint freezes its upstream partition count, and every later
    // map stage over the pinned edges inherits it — unrepartitioned, the
    // pair join's ~30 AQE output partitions each sorted ~6M wide rows on
    // the map side of the first loop exchange and spilled regardless of
    // the advisory (reduce-side sizing cannot reach a map side).
    //
    // …and the [[Width.fanOut]] width rides the SAME scale gate as the
    // advisory (r14): below it the 256-wide repartition was pure
    // overhead (537 ms pin stage + 76/60 ms 256-task collects for a
    // 4.1 MB edge list at sf0.1), so the edges keep their producer's
    // AQE-sized width, which the ≤50k-doc probes measured at zero spill.
    val sym = edges.select(col("id_a").as("__src"), col("id_b").as("__dst"))
      .unionByName(edges.select(col("id_b").as("__src"), col("id_a").as("__dst")))
      .transform(e => if (atScale) Width.keyed(e, Width.fanOut(session), col("__src"))
        else e)
      .transform(Pin(_))
    // HYBRID fast path: a near-dup pair graph is usually output-sized —
    // orders of magnitude smaller than the corpus that produced it — and
    // when it fits comfortably in driver memory the iterative join loop's
    // per-round cost (2–3 shuffle jobs × O(log diameter) rounds of
    // scheduling latency) dwarfs the actual labeling work. Below the
    // bound, collect the (already pinned, already output-sized) edge list
    // and label with union–find: exact same min-reachable-id labels, one
    // job instead of a dozen. The DISTRIBUTED loop below remains the only
    // path above the bound, for non-integral id types, and in every scale
    // probe (`spark.graft.cc.driverEdgeLimit=0` forces it) — this is the
    // small-graph escape hatch, not the scale story. The DRIVER footprint
    // is bounded by construction and charged in full by the Autotune
    // audit (collect rows + union–find map + broadcast label table, see
    // `Autotune.CcDriverBytesPerEdge`), checked against the pinned frame
    // before any transfer.
    val idType = idsPin.schema.fields.find(_.name == "__id").map(_.dataType)
    val integral = idType.exists(t =>
      t == org.apache.spark.sql.types.LongType ||
        t == org.apache.spark.sql.types.IntegerType)
    val driverLimit = session.conf
      .getOption("spark.graft.cc.driverEdgeLimit").map(_.toLong)
      .getOrElse(graft.Autotune.derive().ccDriverEdgeLimit)
    // Gate probe: the short-circuiting per-partition count over the
    // pinned frame (see [[Width.exceedsCount]]) — above the budget the
    // exact total is irrelevant, so a full count() job there is pure waste.
    if (integral && driverLimit > 0 && !Width.exceedsCount(sym, 2 * driverLimit))
      return driverComponents(idsPin, sym, idType.get)
    var labels = idsPin.select(col("__id"), col("__id").as("__lbl"))
      .transform(Pin(_))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // the row's own current label rides through the min-aggregate as a
      // tagged min, so "did anything change" is a scan of the (already
      // checkpointed) round output — NOT a second shuffle join per round
      val viaNeighbors = sym.join(labels, sym("__src") === labels("__id"))
        .select(col("__dst").as("__id"), col("__lbl"), lit(false).as("__own"))
      val hop = labels.withColumn("__own", lit(true))
        .unionByName(viaNeighbors)
        .groupBy("__id").agg(min("__lbl").as("__lbl"),
          min(when(col("__own"), col("__lbl"))).as("__prev"))
      // pointer jumping, adaptive: __lbl := label(__lbl). Labels are
      // always doc ids present in the frame (min-propagation only ever
      // moves a label to another doc's id), so the inner join is total;
      // label(L) ≤ L by the same monotonicity, making the post-jump label
      // ≤ the hop label. Skipped for the first `jumpAfter` rounds — dense
      // near-dup graphs converge in 2–3 hops and the jump's extra shuffle
      // would be pure tax there; deep chains reach the doubling regime.
      val next = (if (iter < jumpAfter) hop else {
        val lblMap = hop.select(col("__id").as("__jid"),
          col("__lbl").as("__jlbl"))
        hop.join(lblMap, hop("__lbl") === lblMap("__jid"))
          .select(col("__id"), col("__jlbl").as("__lbl"), col("__prev"))
      }).transform(Pin(_))
      converged = next.filter(col("__lbl") =!= col("__prev")).isEmpty
      labels = next.select(col("__id"), col("__lbl"))
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds (reach " +
        s"$jumpAfter*2^${maxIter - jumpAfter} exceeded by the graph " +
        "diameter): refusing to return a truncated label set — raise maxIter")
    labels
    } finally if (atScale) prevAdvisory match {
      case Some(v) => session.conf.set(advisoryKey, v)
      case None => session.conf.unset(advisoryKey)
    }
  }

  /** Driver-side labeling for the [[connectedComponents]] fast path:
    * union–find with path halving over the collected symmetric edge list,
    * roots kept at the component MINIMUM id so labels are bit-identical
    * to the distributed min-propagation fixpoint. Unpaired ids label
    * themselves via the broadcast left join — the same singleton
    * semantics as the loop. */
  private def driverComponents(ids: DataFrame, sym: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) {
        parent.put(r, parent.get(parent.get(r))) // path halving
        r = parent.get(r)
      }
      r
    }
    sym.select(col("__src").cast("long"), col("__dst").cast("long"))
      .collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        // union by VALUE — the smaller id becomes the root, so every
        // root is its component's minimum and find() IS the label
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
    val session = ids.sparkSession
    import scala.jdk.CollectionConverters._
    val labelRows = parent.keySet.asScala.toSeq.map(k => (k, find(k)))
    val labelDf = session.createDataFrame(labelRows)
      .toDF("__lid", "__plbl")
      .select(col("__lid").cast(idType), col("__plbl").cast(idType))
    ids.join(broadcast(labelDf), col("__id") === col("__lid"), "left")
      .select(col("__id"),
        coalesce(col("__plbl"), col("__id")).as("__lbl"))
  }

  /** CONTAINMENT-similarity decontamination join: for every benchmark doc
    * b, the corpus docs d with C(b,d) = |T_b ∩ T_d| / |T_b| ≥ τ — the
    * right semantics when benchmark prompts are much shorter than corpus
    * docs (Jaccard punishes the length gap; a fully-contained prompt
    * scores C = 1 regardless of d's length).
    *
    * EXACT, via the containment prefix filter: if C(b,d) ≥ τ then d
    * misses at most (1−τ)·|T_b| of b's tokens, so among ANY
    * ⌊(1−τ)·|T_b|⌋+1 tokens of b at least one occurs in d. Probing with
    * the RAREST such tokens (by corpus document frequency; ties by
    * token) minimizes candidates without affecting the result — the
    * exact verify keeps only true matches either way, which is what lets
    * the oracle brute-force the same answer. Scale shape: the candidate
    * join is an equi-join of the benchmark prefix tokens (benchmark ×
    * prefix width rows — a benchmark SUITE, catalog-sized) against the
    * corpus token postings, shuffle-keyed on the token; the df ranking is
    * one aggregation over the same postings; no pair enumeration
    * anywhere. The verify joins token-set frames by id and intersects
    * per candidate. */
  def containmentJoin(bench: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, tau: Double): DataFrame = {
    // the setJaccardJoin architecture, retargeted at the asymmetric
    // predicate: hashed sorted token sets (longs shuffle ~8× smaller than
    // the string tokens and verify with the allocation-free merge
    // intersect — same ≈-exactness convention as the oracle-gated q25),
    // rarity-ordered prefix on the BENCH side only (containment bounds
    // b's misses, not d's, so d contributes full postings), and the
    // |T_d| ≥ τ·|T_b| size filter inside the candidate join (any hit has
    // |T_d| ≥ |∩| ≥ τ·|T_b|).
    def sets(df: DataFrame) = Width.forKernel(
        df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("__id"), hashedTokenSet(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) > 0)
      .withColumn("__n", size(col("__ts")))
      .transform(Pin(_))
    val b = sets(bench)
    val c = sets(corpus)
    // global rarity over BOTH sides (ties by hash — a total order): a
    // template token shared by half the corpus lands in the suffix and
    // never generates a candidate
    val freq = b.select(explode(col("__ts")).as("__pe"))
      .unionByName(c.select(explode(col("__ts")).as("__pe")))
      .groupBy("__pe").agg(count(lit(1)).as("__f"))
    // prefix width ⌊(1−τ)·|T_b|⌋+1: C ≥ τ means d misses at most
    // (1−τ)·|T_b| of b's tokens, so at least one of ANY ⌊(1−τ)·|T_b|⌋+1
    // tokens of b occurs in d — the rarest choice only shrinks candidates.
    // Both sides carry the 1-based POSITION in their rarity-sorted order
    // for the PPJoin position filter below.
    // [[Width.kernel]] width on the rarity agg (r14), keyed on its
    // groupBy key: its ~24 B (id, n, pe, f) reduce input coalesced to ONE
    // task while the reduce does the per-doc collect_list + array_sort
    // and each side's fused posting/prefix explode (two ~850 ms
    // single-task stages at sf0.1). Nothing is lost map-side: partial
    // collect_list buffers full rows anyway.
    def rarityOrdered(t: DataFrame) = Width.keyed(t
      .select(col("__id"), col("__n"), explode(col("__ts")).as("__pe"))
      .join(freq, "__pe"), Width.kernel(bench.sparkSession), col("__id"))
      .groupBy("__id").agg(first(col("__n")).as("__n"),
        array_sort(collect_list(struct(col("__f"), col("__pe"))))
          .as("__ord"))
    val prefB = rarityOrdered(b)
      .select(col("__id"), col("__n"),
        posexplode(slice(col("__ord.__pe"), lit(1),
          (floor(col("__n") * lit(1.0 - tau)) + 1).cast("int")))
          .as(Seq("__p0", "__pe")))
    val postings = rarityOrdered(c)
      .select(col("__id").as("__cid"), col("__n").as("__cn"),
        posexplode(col("__ord.__pe")).as(Seq("__cp0", "__pe")))
    // position filter (PPJoin): the FIRST shared token in the global
    // rarity order always sits in b's prefix (b misses fewer tokens than
    // the prefix is wide), and every other shared token follows it in
    // BOTH orders, so overlap ≤ 1 + min(n_b − p_b, n_d − p_d) at that
    // match — a true pair always survives via its first-shared match;
    // candidates whose every prefix match fails the bound cannot reach
    // τ·|T_b|. On a 31-word vocab this is the filter that actually bites:
    // the df-rarest token still posts to half the corpus, but requiring
    // the match to be near the FRONT of d's rarity order too cuts
    // candidates ~20×. Integer-vs-double compares avoid a ⌈τ·n⌉ whose
    // binary τ could round the bound the wrong way.
    val cands = prefB.as("a").join(postings.as("b"),
        col("a.__pe") === col("b.__pe") &&
          col("b.__cn").cast("double") >= col("a.__n") * lit(tau) &&
          (lit(1) + least(col("a.__n") - (col("a.__p0") + 1),
            col("b.__cn") - (col("b.__cp0") + 1))).cast("double") >=
            col("a.__n") * lit(tau))
      .select(col("a.__id").as("bench_id"), col("b.__cid").as("doc_id"))
      // no exchange here: HashPartitioning(__id) from the postings-side
      // rarity repartition is a subset of the distinct's clustering keys
      // (doc_id = postings __id), so the dedup + fused verify inherit
      // the explicit width directly
      .distinct()
    cands
      .join(b.select(col("__id").as("bench_id"), col("__ts").as("__ta"),
        col("__n")), "bench_id")
      .join(c.select(col("__id").as("doc_id"), col("__ts").as("__tb")),
        "doc_id")
      .withColumn("containment",
        graft.functions.SortedIntersectCount(col("__ta"), col("__tb"))
          .cast("double") / col("__n"))
      .filter(col("containment") >= tau)
      .select(col("bench_id"), col("doc_id"), col("containment"))
  }

  /** Signed-long token hash from md5 — DuckDB's `md5_number_lower` (the
    * digest's last 8 bytes, little-endian) reassembled from Spark's hex
    * digest, so an oracle can replay every SimHash bit cross-engine.
    * ~10× slower per token than xxhash64; the verification hash, not the
    * production default. */
  def md5TokenHash(c: Column): Column = {
    val h = md5(c)
    def le4(p1: Int, p2: Int, p3: Int, p4: Int) =
      conv(concat(substring(h, p1, 2), substring(h, p2, 2),
        substring(h, p3, 2), substring(h, p4, 2)), 16, 10).cast("long")
    // bits 32..63 from digest bytes 16..13, bits 0..31 from bytes 12..9;
    // shiftleft wraps into the sign bit exactly as the unsigned value does
    shiftleft(le4(31, 29, 27, 25), 32).bitwiseOR(le4(23, 21, 19, 17))
  }

  /** GREEDY minimum-id survivor set over a near-dup pair graph — the
    * dedup-at-ingest keep rule: processing documents in id order, a doc is
    * kept iff it near-dups NO already-kept doc. Batching-invariant by
    * construction (survival depends only on lower-id survivors), so a
    * streaming pipeline appending id-ordered micro-batches converges to
    * exactly this set — unlike component-representative dedup, where the
    * kept set depends on where batch boundaries fall.
    *
    * Computed distributively by ITERATED ELIMINATION: start from all
    * paired docs and repeat "keep d iff no edge (e, d) with e < d and e
    * currently kept". Each vertex's final status depends only on its
    * lower-id neighbors', so after k rounds every vertex whose
    * lower-neighbor dependency chain is ≤ k deep is fixed — the fixpoint
    * IS the sequential greedy set, reached in O(longest decreasing-id
    * path) rounds of one equi-join + one anti-join each (shuffle keyed on
    * edge endpoints, O(edges) per round — the connectedComponents cost
    * model). Unpaired docs bypass the loop entirely.
    *
    * Exhausting `maxIter` unconverged THROWS: the elimination map is
    * antitone (a doc re-enters when its blocker drops), so a truncated
    * run may not even be a fixpoint — returning it would silently break
    * the batching-invariance contract the streaming ingest dedup (q126)
    * is built on, on exactly the graphs (decreasing-id near-dup chains
    * deeper than maxIter, e.g. serial crawl snapshots) that only occur
    * above oracle scale. */
  def greedySurvivors(ids: DataFrame, pairs: DataFrame,
      maxIter: Int = 25): DataFrame = {
    val edges = pairs
      .select(least(col("id_a"), col("id_b")).as("__lo"),
        greatest(col("id_a"), col("id_b")).as("__hi"))
      .distinct().transform(Pin(_))
    val paired = edges.select(col("__lo").as("__id"))
      .unionByName(edges.select(col("__hi").as("__id")))
      .distinct().transform(Pin(_))
    val loners = ids.join(paired, Seq("__id"), "left_anti")
    var surv = paired
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val blocked = edges.join(surv, edges("__lo") === surv("__id"))
        .select(col("__hi").as("__id")).distinct()
      val next = Pin(paired.join(blocked, Seq("__id"), "left_anti"))
      // f is not monotone (a doc can re-enter when its blocker drops), so
      // convergence is set EQUALITY, not a count
      converged =
        next.join(surv, Seq("__id"), "left_anti").isEmpty &&
          surv.join(next, Seq("__id"), "left_anti").isEmpty
      surv = next
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"greedySurvivors did not converge in $maxIter rounds (a " +
        "decreasing-id dependency chain runs deeper): refusing to return " +
        "an unconverged — possibly non-fixpoint — survivor set; raise maxIter")
    loners.unionByName(surv)
  }

  /** 64-bit SimHash over the token set: per bit, sum +1/−1 weighted by token
    * hash bits, take the sign. Expressed as one aggregate over exploded
    * tokens (64 conditional sums → bit reassembly). `tokenHash` defaults to
    * codegen'd xxhash64; pass [[md5TokenHash]] for an oracle-replayable
    * run (same operator plan, different hash kernel). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    // widen before tokenize+hash; HashPartitioning(__id) also satisfies
    // the signature groupBy's clustering, so when the widen fires the
    // aggregate runs complete-mode with NO post-explode exchange — the
    // explicit shuffle REPLACES the planner's, it never adds one
    val tokens = Width.forKernel(
        df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("__id"),
        explode(tokenSet(col(textCol))).as("__tok"))
      .withColumn("__h", tokenHash(col("__tok")))
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("__h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"__b$b")
    }
    val agg = tokens.groupBy(col("__id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { b =>
      shiftleft(when(col(s"__b$b") > 0, 1L).otherwise(0L), b)
    }.reduce((x, y) => x.bitwiseOR(y))
    agg.select(col("__id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist. Candidate
    * blocking by the pigeonhole principle: split the 64-bit hash into
    * `maxDist+1` chunks — any pair within distance shares ≥1 exact chunk, so
    * the join key space is chunks, never all pairs. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    // pin (__id, simhash) — one long per doc — so the pigeonhole
    // self-join's two sides share ONE signature pass: unpinned, each
    // side was its own physical subtree (the r14 q27 plan computed the
    // full tokenize + 64-bitsum kernel TWICE, once per side, with the
    // second side feeding a BroadcastExchange). LAZY pin: the only
    // consumer is the self-join below, which fully materializes both
    // sides in the final job — no blocking driver round-trip
    // (see [[Pin.lazily]]). Same small-rows-only checkpoint policy as
    // [[bandedCandidateJoin]]'s keyed frame.
    val sigs = Pin.lazily(simhash(df, idCol, textCol, tokenHash))
    val banded0 = sigs.select(col("__id"), col("simhash"),
      explode(array((0 until chunks).map { i =>
        struct(lit(i).as("chunk"),
          shiftright(col("simhash"), i * width)
            .bitwiseAND(lit((1L << width) - 1)).as("key"))
      }: _*)).as("c"))
      .select(col("__id"), col("simhash"), col("c.chunk"), col("c.key"))
    // [[Width.kernel]] width on the join input and the pair-distinct
    // input (r15): the ~24 B banded rows coalesced the join and the
    // distinct to 1–2 tasks while the fused pair fan-out, hamming verify
    // and distinct build above them are heavy per byte (three single-task
    // tail stages, ~1.5 s serial at sf0.1). Keyed on (chunk, key), the
    // exchange satisfies BOTH self-join sides and replaces the planner's.
    val w = Width.kernel(df.sparkSession)
    val banded = Width.keyed(banded0, w, col("chunk"), col("key"))
    val pairs = banded.as("x").join(banded.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.key") === col("y.key") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
    // HashPartitioning(id_a, id_b) is a subset of the distinct's
    // (id_a, id_b, hamming) clustering, so this replaces the distinct's
    // own exchange (the r14 containment subset rule)
    Width.keyed(pairs, w, col("id_a"), col("id_b"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Edit-distance similarity join at threshold 1 (typo-tolerant fuzzy
    * matching / entity resolution) via DELETION-NEIGHBORHOOD blocking
    * (FastSS, Bocek et al. 2007 — the SymSpell scheme): each string
    * contributes itself plus its n single-deletion variants as blocking
    * keys. For ed ≤ 1 the characterization is exact — a and b are within
    * one edit iff a = b (share the full key), b deletes to a / a deletes
    * to b (insertion), or they share a common deletion (substitution) —
    * so candidates are COMPLETE by construction, no pigeonhole shifts,
    * no short-string special case.
    *
    * Why not substring segments (PassJoin): template-shaped entity names
    * ("Supplier#000000042") share long constant halves, so any fixed
    * substring bucket degenerates and candidates go quadratic — the
    * sf1 scale probe measured exactly that (64× at 10× rows). Deletion
    * keys are nearly FULL-length, so they carry the discriminative
    * characters wherever they sit; the only degenerate bucket is a set
    * of near-identical strings, which is output-sized by definition.
    * Shuffle volume is Σ(len+1) keys ≈ corpus bytes × average length —
    * linear in rows. The banded 3-arg `levenshtein` (O(τ·n) per pair,
    * -1 marks over-threshold) verifies BEFORE the distinct, so only
    * survivors shuffle through deduplication. */
  def editDistancePairs(df: DataFrame, idCol: String,
      strCol: String): DataFrame = {
    // contract: empty strings don't participate (an empty "name" is not
    // an entity; every length-1 string would trivially pair with it).
    // The repartition is load-bearing: the deletion-key Generate below
    // runs UNDER the join's shuffle, i.e. at SCAN parallelism — a
    // single-file entity table (catalogs routinely are) ran the whole
    // O(rows × len²) key expansion as ONE task (measured: 45.9 s of the
    // 49.6 s sf10 probe leg in a 1-task stage). An explicit exchange on
    // the id costs one narrow corpus-bytes shuffle and makes the
    // expansion cluster-wide regardless of file layout. [[Width.kernel]]
    // width: the corpus is tiny COMPRESSED (1.5 MB at sf10), and AQE
    // folded a plain repartition(col) back to ONE partition.
    val base = Width.keyed(df.filter(length(col(strCol)) > 0)
      .select(col(idCol).as("__id"), col(strCol).as("__s"),
        length(col(strCol)).as("__n")), Width.kernel(df.sparkSession), col("__id"))
    // NOT pinned (r15, measured): the self-join does run the deletion-
    // key expansion once per side (two Generate subtrees, one under a
    // BroadcastExchange), but the broadcast build computes its copy on
    // a PARALLEL thread overlapping the probe side — pinning serialized
    // the sides and measured q115 0.62 → 0.77 s / q142 0.63 → 0.93 s in
    // an interleaved jar A/B. The shared-kernel pin pays off only when
    // the kernel dominates the overlap (simhash's 64 bit-sums per
    // token, the LSH signature family) — this expansion is too cheap.
    val keyed = base.select(col("__id"), col("__s"),
      explode(concat(
        array(col("__s")),
        transform(sequence(lit(1), col("__n")), i =>
          concat(col("__s").substr(lit(1), (i - 1).cast("int")),
            col("__s").substr((i + 1).cast("int"),
              (col("__n") - i).cast("int")))))).as("__k"))
    keyed.as("a").join(keyed.as("b"),
        col("a.__k") === col("b.__k") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        levenshtein(col("a.__s"), col("b.__s"), 1).cast("long").as("dist"))
      .filter(col("dist") >= 0)
      .distinct()
  }
}
