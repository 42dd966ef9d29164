package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UnigramSpec extends SparkSpec {
  import spark.implicits._

  private val hand = Unigram.UnigramModel(Map(
    "a" -> -1.0, "b" -> -1.5, "c" -> -1.2, "ab" -> -2.0, "abc" -> -2.2))

  test("viterbi picks the maximum-likelihood segmentation (worked example)") {
    // abc: a+b+c = -3.7, ab+c = -3.2, abc = -2.2 → one piece
    Unigram.viterbi("abc", hand.pieces) shouldBe Seq("abc")
    // abab: ab+ab = -4.0 beats a+b+a+b = -5.0
    Unigram.viterbi("abab", hand.pieces) shouldBe Seq("ab", "ab")
    // single unknown characters fall back to one token each
    Unigram.viterbi("aqa", hand.pieces) shouldBe Seq("a", "q", "a")
  }

  test("score ties break to the longest final piece (smallest start)") {
    val m = Map("x" -> -1.0, "xx" -> -2.0)
    // x+x and xx both score -2.0: the pinned tiebreak takes xx
    Unigram.viterbi("xx", m) shouldBe Seq("xx")
  }

  test("tokenCount over documents: null-safe, words independent, counts bounded by chars") {
    val df = Seq((1L, "abc abab"), (2L, null.asInstanceOf[String]), (3L, ""),
      (4L, "ABC!  abc")).toDF("id", "text")
    val out = df.select($"id", Unigram.tokenCount($"text", hand).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out shouldBe Map(1L -> 3, 2L -> 0, 3L -> 0, 4L -> 2) // abc=1, abab=2; ABC!→abc, abc
  }

  test("learn: frequent multi-char substrings enter the vocabulary and compress counts") {
    val docs = Seq.tabulate(30)(i => (i.toLong, "ring ring singer bring"))
      .toDF("doc_id", "text")
    val m = Unigram.learn(docs, "text", maxPieceLen = 4, minCount = 2,
      emIters = 3, maxVocab = 256)
    // full coverage: every corpus character is a piece
    "ringsb".foreach(c => m.pieces.keySet should contain(c.toString))
    // "ring" occurs in every word of every doc — it must survive EM
    m.pieces.keySet should contain("ring")
    // and the ML segmentation of "ring" is the single piece
    Unigram.viterbi("ring", m.pieces) shouldBe Seq("ring")
    // counts under the model are well below character counts
    val n = docs.select(Unigram.tokenCount($"text", m).as("n"))
      .agg(sum($"n")).head().getLong(0)
    n should be < 30L * 17 // 17 letters per line
    n should be >= 30L * 4 // at least one token per word
    // determinism: retraining reproduces the identical model
    Unigram.learn(docs, "text", maxPieceLen = 4, minCount = 2,
      emIters = 3, maxVocab = 256).pieces shouldBe m.pieces
  }

  test("save/load roundtrip preserves the model bit for bit") {
    val dir = graft.SparkSpec.tempDir("graft_uni").toString + "/vocab"
    Unigram.save(hand, spark, dir)
    Unigram.load(spark, dir).pieces shouldBe hand.pieces
  }

  test("maxMatch takes the longest piece greedily; coverage and OOV match viterbi's rules") {
    // greedy grabs 'abc' then is forced to single chars where viterbi
    // would have chosen 'ab'+'ab': the classic greedy-vs-ML divergence
    Unigram.maxMatch("abc", hand.pieces) shouldBe Seq("abc")
    Unigram.maxMatch("abcab", hand.pieces) shouldBe Seq("abc", "ab")
    Unigram.maxMatch("abca", hand.pieces) shouldBe Seq("abc", "a")
    // divergence example: viterbi can prefer two mid pieces over the
    // greedy long-first walk when probabilities say so
    val m = Map("x" -> -1.0, "y" -> -1.0, "xy" -> -5.0, "xyx" -> -9.0)
    Unigram.maxMatch("xyxy", m) shouldBe Seq("xyx", "y")
    Unigram.viterbi("xyxy", m) shouldBe Seq("x", "y", "x", "y")
    // OOV characters advance one at a time, segmentation never fails
    Unigram.maxMatch("azb", hand.pieces) shouldBe Seq("a", "z", "b")
    // concatenation always reconstructs the word (coverage)
    Seq("abcab", "azb", "ababab").foreach { w =>
      Unigram.maxMatch(w, hand.pieces).mkString shouldBe w
    }
    // the greedy UDF counts match the per-word rule
    import spark.implicits._
    val n = Seq((1L, "abc abcab azb")).toDF("id", "text")
      .select(Unigram.greedyTokenCount($"text", hand).as("n"))
      .head().getInt(0)
    n shouldBe (1 + 2 + 3)
  }
}
