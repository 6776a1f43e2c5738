package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training — the missing piece
  * between corpus curation and model training: given a cleaned corpus,
  * learn the merge table a BPE tokenizer ships with.
  *
  * Structure (and why it scales to 100 TB): the corpus is touched exactly
  * ONCE, by the word-frequency aggregation — one (word, count) shuffle,
  * the same shape as a vocabulary build. Every training iteration after
  * that operates on the VOCABULARY (millions of rows), not the corpus
  * (billions): pair counting explodes each distinct word's current
  * segmentation weighted by its frequency, one groupBy-sum picks the top
  * pair (a single-row collect — bounded driver metadata), and the merge
  * is applied vocabulary-wide with a codegen'd `aggregate` fold. k merges
  * = k vocab-sized shuffles after one corpus-sized one.
  *
  * Algorithm per the public BPE literature (Sennrich et al. 2016,
  * word-bounded merges, greedy leftmost application, ties broken by pair
  * text for determinism). */
object BpeTrainer {

  /** (word, freq) over lowercased whitespace-split text. */
  def wordFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Adjacent-pair counts over a segmentation frame
    * (word, freq, segs: array<string>), weighted by word frequency. */
  private def pairCounts(segmented: DataFrame): DataFrame =
    segmented.filter(size(col("segs")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(segs) - 1)," +
          " i -> struct(element_at(segs, i) AS left," +
          " element_at(segs, i + 1) AS right))")).as("pair"))
      .groupBy(col("pair.left").as("lhs"), col("pair.right").as("rhs"))
      .agg(sum(col("freq")).as("n"))

  /** Greedy leftmost application of one merge (a, b) → a||b to a symbol
    * array, as a codegen'd fold: "aaaa" under (a,a) becomes [aa, aa] —
    * the merged symbol never re-participates as the LEFT side within the
    * same pass, matching reference BPE implementations. */
  private def applyMerge(segs: Column, a: String, b: String): Column = {
    val (qa, qb) = (lit(a), lit(b))
    aggregate(segs, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === qa && x === qb,
        concat(slice(acc, lit(1), size(acc) - 1), array(concat(qa, qb))))
        .otherwise(concat(acc, array(x))))
  }

  /** One-scan pair statistics BEFORE any merge (symbols = characters):
    * the first training iteration's counts, exposed for oracle checks
    * and corpus profiling. */
  def initialPairCounts(df: DataFrame, textCol: String): DataFrame =
    pairCounts(charSegmented(wordFrequencies(df, textCol)))

  /** Character array of a word. Spark's `split` keeps trailing empty
    * strings (limit = -1 semantics), and the not-at-start lookahead also
    * matches at end-of-string — strip the empties or every word grows a
    * phantom "" symbol that pairs with its last character. */
  private def chars(c: Column): Column =
    array_remove(split(c, "(?!^)"), "")

  private def charSegmented(words: DataFrame): DataFrame =
    words.select(col("word"), col("freq"), chars(col("word")).as("segs"))

  /** Learn `merges` merge rules. Returns the merge table
    * (rank, left, right, merged, freq) in learned order — the artifact a
    * BPE tokenizer loads. Stops early if no pair remains.
    *
    * Two-tier execution, same algorithm: the corpus-sized work (ONE
    * word-frequency shuffle) is always distributed; the merge loop then
    * runs wherever the VOCABULARY fits. A vocabulary within
    * `maxLocalVocab` rows collects once and iterates on the driver —
    * exactly how production BPE trainers work (HuggingFace trains on
    * in-memory word counts), and it turns k scheduler round-trips into
    * one. A larger vocabulary falls back to the distributed per-iteration
    * loop (vocab-sized shuffles, single-row collects). Both paths are
    * pinned equal by BpeTrainerSpec; set `maxLocalVocab = 0` to force the
    * distributed loop. */
  def train(df: DataFrame, textCol: String, merges: Int,
      maxLocalVocab: Int = 200000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    if (maxLocalVocab > 0) {
      // one job: if the vocab fits, this IS the whole vocab
      val head = wordFrequencies(df, textCol)
        .limit(maxLocalVocab + 1).collect()
      if (head.length <= maxLocalVocab)
        return trainLocal(
          head.map(r => (r.getString(0), r.getLong(1))), merges)
          .toDF("rank", "left", "right", "merged", "freq")
    }
    var segmented = Pin(charSegmented(wordFrequencies(df, textCol)))
    val learned = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var rank = 0
    while (rank < merges) {
      // deterministic argmax: highest weighted count, ties by pair text
      val top = pairCounts(segmented)
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty) rank = merges
      else {
        val r = top.head
        val (a, b, n) = (r.getString(0), r.getString(1), r.getLong(2))
        learned += ((learned.size + 1, a, b, a + b, n))
        val prev = segmented
        segmented = Pin(segmented.withColumn("segs",
          applyMerge(col("segs"), a, b)))
        // Pin is eager, so the previous iteration's vocab copy is no
        // longer needed — release it or k merges hold k pinned vocabs
        // until the driver collects the frames
        Pin.release(prev)
        rank += 1
      }
    }
    Pin.release(segmented)
    learned.toSeq.toDF("rank", "left", "right", "merged", "freq")
  }

  /** The identical merge loop over an in-memory vocabulary. Semantics are
    * matched to the distributed path operation by operation: the char
    * split replays `chars` (split at every boundary except start, empties
    * dropped — safe for BMP text either way), the argmax breaks count
    * ties by UTF-8 byte order (Spark's string ordering; Scala's default
    * String ordering compares UTF-16 units, which diverges on
    * supplementary characters), and the merge application is the same
    * greedy-leftmost fold as [[applyMerge]]. */
  private[operators] def trainLocal(wordFreqs: Array[(String, Long)],
      merges: Int): Seq[(Int, String, String, String, Long)] = {
    // UTF-8 byte comparison = Spark UTF8String ordering
    def utf8Lt(x: String, y: String): Boolean = {
      val a = x.getBytes("UTF-8"); val b = y.getBytes("UTF-8")
      var i = 0
      while (i < a.length && i < b.length) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      a.length < b.length
    }
    var segs: Array[(Array[String], Long)] = wordFreqs.map { case (w, f) =>
      (w.split("(?!^)").filter(_.nonEmpty), f)
    }
    val learned = scala.collection.mutable
      .ArrayBuffer[(Int, String, String, String, Long)]()
    var rank = 0
    while (rank < merges) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      segs.foreach { case (ss, f) =>
        var i = 0
        while (i < ss.length - 1) {
          val k = (ss(i), ss(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) rank = merges
      else {
        var best: ((String, String), Long) = null
        counts.foreach { kv =>
          if (best == null || kv._2 > best._2 ||
            (kv._2 == best._2 && (utf8Lt(kv._1._1, best._1._1) ||
              (kv._1._1 == best._1._1 && utf8Lt(kv._1._2, best._1._2)))))
            best = kv
        }
        val ((a, b), n) = best
        learned += ((learned.size + 1, a, b, a + b, n))
        segs = segs.map { case (ss, f) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          ss.foreach { x =>
            if (out.nonEmpty && out.last == a && x == b)
              out(out.length - 1) = a + b
            else out += x
          }
          (out.toArray, f)
        }
        rank += 1
      }
    }
    learned.toSeq
  }

  /** Segment text with a learned merge table (the inference side):
    * char-split each word, apply merges in rank order, count resulting
    * tokens per doc — the "how many BPE tokens is this corpus" question
    * every training-budget plan starts with.
    *
    * The k-merge fold chain runs on the DISTINCT-word frame, never the
    * corpus: word instances join back to their vocab row's token count.
    * Same reasoning as [[train]] — the corpus has billions of word
    * instances but the vocabulary has millions of rows, and a chained
    * per-instance fold pays k passes per INSTANCE (measured 4.5 s at
    * bench scale; 0.9 s via the vocab join). AQE broadcasts the vocab
    * side when it is small; at fleet scale it degrades gracefully to a
    * hash join keyed on the word. */
  def tokenize(df: DataFrame, idCol: String, textCol: String,
      mergeTable: Seq[(String, String)]): DataFrame = {
    val words = df.select(col(idCol), explode(split(lower(col(textCol)),
      "\\s+")).as("word")).filter(col("word") =!= "")
    val segs = mergeTable.foldLeft(chars(col("word"))) {
      case (s, (a, b)) => applyMerge(s, a, b)
    }
    val vocab = words.select("word").distinct()
      .select(col("word"), size(segs).cast("long").as("__n_toks"))
    words.join(vocab, "word")
      .groupBy(idCol).agg(sum(col("__n_toks")).as("bpe_tokens"))
  }
}
