package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Cols.qcol

/** Unigram-LM (SentencePiece-style) subword tokenizer beside [[Bpe]]:
  * the vocabulary is a set of PIECES with log-probabilities, and a word
  * encodes as its maximum-likelihood segmentation (Viterbi over
  * Σ log p(piece)) — Kudo 2018's model, here trained by hard
  * (Viterbi-)EM: E = segment every distinct word under the current
  * probabilities, M = re-estimate piece probabilities from the chosen
  * segmentations' counts. Candidate pieces are the frequent substrings
  * of the word table; every single character stays in the vocabulary
  * unconditionally, so encoding never fails (full coverage, the
  * SentencePiece `character_coverage=1` discipline).
  *
  * Scale shape mirrors [[Bpe.learn]]: the DISTRIBUTED work is the word
  * count and candidate-substring count (explode → map-side-combined
  * group-bys); a TakeOrdered-bounded table reaches the driver, where EM
  * runs over (distinct word, frequency) pairs — training-table-sized,
  * never corpus-sized. Deterministic end to end: id-free frequency/
  * lexicographic tiebreaks, fixed iteration counts, and a Viterbi
  * tiebreak (max score, then SMALLEST start = longest piece) that the
  * DuckDB oracle replays exactly — path scores are the same chains of
  * double additions in both engines, so the hash is exact, not banded.
  *
  * Persisted artifact: a (piece, lp) table — [[save]]/[[load]] — the
  * tokenizer equivalent of the BPE merges fixture.
  */
object Unigram {

  final case class UnigramModel(pieces: Map[String, Double]) {
    require(pieces.nonEmpty, "empty unigram vocabulary")
  }

  /** Train on the corpus's word table. `maxPieceLen` caps candidate
    * substring length; candidates need `minCount` corpus occurrences;
    * `maxVocab` bounds the candidate set (top by frequency, ties
    * lexicographic); `emIters` hard-EM rounds. `maxTrainWords` bounds
    * the driver word table (TakeOrdered by frequency — the Bpe.learn
    * budget).
    */
  def learn(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
      minCount: Int = 2, emIters: Int = 3, maxVocab: Int = 4096,
      maxTrainWords: Int = 32768): UnigramModel = {
    require(maxPieceLen > 0 && emIters >= 0 && maxVocab > 0,
      s"bad unigram geometry: len=$maxPieceLen em=$emIters vocab=$maxVocab")
    val words = docs
      .select(explode(TextAnalysis.tokens(qcol(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("__w"))
      .limit(maxTrainWords)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(words.nonEmpty, "unigram training needs a non-empty corpus")
    // candidate pieces: frequent substrings up to maxPieceLen (driver
    // pass over the already-bounded word table — substring counting on
    // the cluster would shuffle len²-exploded rows for the same result)
    val subCounts = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (w, n) =>
      for (i <- 0 until w.length; l <- 1 to math.min(maxPieceLen, w.length - i))
        subCounts.update(w.substring(i, i + l),
          subCounts.getOrElse(w.substring(i, i + l), 0L) + n)
    }
    val chars = words.flatMap(_._1.map(_.toString)).toSet
    val multi = subCounts.toSeq
      .filter { case (p, n) => p.length > 1 && n >= minCount }
      .sortBy { case (p, n) => (-n, p) }
      .take(math.max(0, maxVocab - chars.size))
      .map(_._1)
    var vocab: Map[String, Double] = {
      val seed = (chars.toSeq ++ multi).map(p => p -> subCounts(p).toDouble)
      val tot = seed.map(_._2).sum
      seed.map { case (p, c) => p -> math.log(c / tot) }.toMap
    }
    for (_ <- 0 until emIters) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      words.foreach { case (w, n) =>
        viterbi(w, vocab).foreach(p =>
          counts.update(p, counts.getOrElse(p, 0L) + n))
      }
      // pieces the E-step never used drop out; characters stay (coverage)
      val kept = vocab.keySet.filter(p => p.length == 1 || counts.getOrElse(p, 0L) > 0L)
      val tot = kept.toSeq.map(p => counts.getOrElse(p, 0L) + 1L).sum.toDouble
      vocab = kept.map(p => p -> math.log((counts.getOrElse(p, 0L) + 1L) / tot)).toMap
    }
    UnigramModel(vocab)
  }

  /** Maximum-likelihood segmentation of one word: DP over positions,
    * best[i] = max over start j of best[j] + lp(w[j, i)); ties by
    * SMALLEST j (longest final piece) — the pinned tiebreak the oracle
    * replays. Coverage: single characters are always in the vocabulary,
    * so a path always exists; characters outside the trained alphabet
    * are their own (unscorable) pieces — each emits one token, matching
    * the oracle's null-score single-char fallback.
    */
  private[ext] def viterbi(w: String, vocab: Map[String, Double]): Seq[String] = {
    val n = w.length
    if (n == 0) return Nil
    val maxLen = vocab.keysIterator.map(_.length).max
    val score = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var bestS = Double.NegativeInfinity
      var bestJ = -1
      var j = math.max(0, i - maxLen)
      while (j < i) {
        val piece = w.substring(j, i)
        vocab.get(piece) match {
          case Some(lp) =>
            val s = score(j) + lp
            if (s > bestS) { bestS = s; bestJ = j }
          case None =>
        }
        j += 1
      }
      if (bestJ < 0) {
        // untrained character: its own piece at -inf-free sentinel —
        // take the single char and continue (the oracle does the same)
        back(i) = i - 1
        score(i) = score(i - 1) + UnknownLp
      } else { back(i) = bestJ; score(i) = bestS }
      i += 1
    }
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var pos = n
    while (pos > 0) { out.prepend(w.substring(back(pos), pos)); pos = back(pos) }
    out.toSeq
  }

  /** The fixed penalty an out-of-alphabet character contributes — any
    * finite constant works (paths through unknown characters are forced
    * moves), but it must be THE SAME constant in the SQL replay.
    */
  private[ext] val UnknownLp: Double = -100.0

  /** WordPiece-style greedy longest-match-first (MaxMatch) segmentation
    * of one word under the SAME vocabulary: at each position take the
    * LONGEST vocab piece matching the remaining text, advance, repeat —
    * the inference rule the WordPiece family actually serves (BERT
    * runtimes), O(len·maxPieceLen) with no DP state. Out-of-alphabet
    * characters advance one char as their own token (the viterbi
    * coverage fallback), so segmentation never fails. Greedy and
    * Viterbi segment the same words differently in general — greedy is
    * the latency-serving shape, Viterbi the maximum-likelihood one;
    * shipping both over one artifact is the tokenizer-triad completion
    * (BPE merges / unigram-ML / wordpiece-greedy).
    */
  private[ext] def maxMatch(w: String, vocab: Map[String, Double]): Seq[String] = {
    val n = w.length
    if (n == 0) return Nil
    val maxLen = vocab.keysIterator.map(_.length).max
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var pos = 0
    while (pos < n) {
      var l = math.min(maxLen, n - pos)
      while (l > 1 && !vocab.contains(w.substring(pos, pos + l))) l -= 1
      out += w.substring(pos, pos + l) // l = 1 always advances (char or OOV)
      pos += l
    }
    out.toSeq
  }

  /** Executor-side segmentation memo (the [[Bpe]] `WordEncoder` shape):
    * Zipf keeps the hot words far under the cap; past it, stop caching
    * rather than grow executor memory on high-cardinality text.
    */
  private final class WordSegmenter(vocab: Map[String, Double],
      greedy: Boolean = false) extends Serializable {
    @transient private lazy val cache =
      scala.collection.mutable.HashMap.empty[String, Seq[String]]
    private val MaxCache = 65536
    def segment(w: String): Seq[String] = cache.get(w) match {
      case Some(v) => v
      case None =>
        val v = if (greedy) maxMatch(w, vocab) else viterbi(w, vocab)
        if (cache.size < MaxCache) cache.update(w, v)
        v
    }
  }

  /** [[tokenCount]] under the greedy MaxMatch rule — the WordPiece
    * serving count. Same UDF/memo shape, same coverage guarantees.
    */
  def greedyTokenCount(text: Column, model: UnigramModel): Column = {
    val seg = new WordSegmenter(model.pieces, greedy = true)
    val f = udf { (s: String) =>
      if (s == null) 0
      else wordsOf(s).map(w => seg.segment(w).length).sum
    }
    f(text)
  }

  /** Number of unigram tokens per text — the budget number chunking and
    * packing would consume. One scalar UDF over the text with the
    * vocabulary riding the closure, memoizing per distinct word per
    * executor (the [[Bpe.tokenCount]] shape); null/empty text counts 0.
    */
  def tokenCount(text: Column, model: UnigramModel): Column = {
    val seg = new WordSegmenter(model.pieces)
    val f = udf { (s: String) =>
      if (s == null) 0
      else wordsOf(s).map(w => seg.segment(w).length).sum
    }
    f(text)
  }

  /** The per-word pieces themselves (diagnostics / downstream vocab
    * consumers): one row per (word position, piece index) flattening.
    */
  def tokens(text: Column, model: UnigramModel): Column = {
    val seg = new WordSegmenter(model.pieces)
    val f = udf { (s: String) =>
      if (s == null) Seq.empty[String]
      else wordsOf(s).flatMap(seg.segment)
    }
    f(text)
  }

  /** Context-window chunking over unigram pieces — the tokenizer-budget
    * chunker under the ML segmentation (the [[Bpe.chunkTokens]] seam).
    * Output shape matches [[TextAnalysis.chunkTokens]].
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int, model: UnigramModel): DataFrame =
    TextAnalysis.chunkTokenArray(
      df.select(qcol(idCol), tokens(qcol(textCol), model).as("__toks")),
      idCol, chunkSize, overlap)

  /** Sequence packing by unigram token counts (the
    * [[Bpe.packSequences]] seam). Output shape matches
    * [[Packing.packSequences]].
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      seqLen: Int, model: UnigramModel): DataFrame =
    Packing.packSequencesByCount(df, idCol,
      tokenCount(qcol(textCol), model), seqLen)

  /** The SAME word segmentation as [[TextAnalysis.tokens]] (lower, trim,
    * split on non-word runs, drop empties) — pinned against the SQL
    * replay by the base-count identity in the gate family.
    */
  private def wordsOf(s: String): Seq[String] =
    s.trim.toLowerCase.split("\\W+").toSeq.filter(_.nonEmpty)

  def save(model: UnigramModel, spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import spark.implicits._
    model.pieces.toSeq.sortBy(_._1).toDF("piece", "lp")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  def load(spark: org.apache.spark.sql.SparkSession, dir: String): UnigramModel =
    UnigramModel(graft.util.TinyParquet.openStore(spark, dir)
      .collect().map(r => r.getAs[String]("piece") -> r.getAs[Double]("lp")).toMap)
}
