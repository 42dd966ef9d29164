package graft.ext

import graft.SparkSpec

/** Pins the BPE implementation to the PUBLIC reference behavior: the
  * Sennrich et al. (2016) worked example — corpus {low×5, lower×2,
  * newest×6, widest×3} learns (e,s), (es,t), (est,</w>), (l,o), (lo,w)
  * and tokenizes the unseen word "lowest" as low + est</w> — plus the
  * published merges.txt format round-trip.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def paperCorpus = (
    Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
  ).toDF("text")

  test("learn reproduces the published example's merge sequence") {
    val model = Bpe.learn(paperCorpus, "text", numMerges = 5)
    model.merges shouldBe Vector(
      ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w"))
  }

  test("the learned merges tokenize the unseen word 'lowest' as low + est") {
    val model = Bpe.learn(paperCorpus, "text", numMerges = 5)
    Bpe.encodeWord("lowest", model.ranks) shouldBe Vector("low", "est</w>")
    // seen words: 'low' merges fully up to the learned list
    Bpe.encodeWord("low", model.ranks) shouldBe Vector("low", "</w>")
    // unseen characters stay as singletons + end marker
    Bpe.encodeWord("xyz", model.ranks) shouldBe Vector("x", "y", "z", "</w>")
    Bpe.encodeWord("", model.ranks) shouldBe Vector.empty
  }

  test("saved merges load back identical; tokenization survives the round-trip") {
    val model = Bpe.learn(paperCorpus, "text", numMerges = 5)
    val path = graft.SparkSpec.tempDir("graft_bpe").toString + "/merges.txt"
    Bpe.saveMerges(model, path)
    val loaded = Bpe.loadMerges(path)
    loaded shouldBe model
    Bpe.encodeWord("lowest", loaded.ranks) shouldBe Vector("low", "est</w>")
    // the on-disk artifact is the published text format, header included
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    lines.get(0) shouldBe "#version: 0.2"
    lines.get(1) shouldBe "e s"
  }

  test("merges.txt format round-trips; headers and blanks skip") {
    val model = Bpe.learn(paperCorpus, "text", numMerges = 5)
    val lines = Seq("#version: 0.2", "") ++ Bpe.formatMerges(model) ++ Seq("")
    Bpe.parseMerges(lines) shouldBe model
    an[IllegalArgumentException] should be thrownBy
      Bpe.parseMerges(Seq("a b c"))
  }

  test("column tokens/tokenCount segment like TextAnalysis.tokens and count subwords") {
    val model = Bpe.learn(paperCorpus, "text", numMerges = 5)
    val df = Seq((1L, "Lowest lowest LOW"), (2L, ""), (3L, null: String))
      .toDF("id", "text")
    val got = df.select($"id", Bpe.tokens($"text", model).as("t"),
        Bpe.tokenCount($"text", model).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getInt(2))).toMap
    got(1L) shouldBe (Seq("low", "est</w>", "low", "est</w>", "low", "</w>"), 6)
    got(2L) shouldBe (Seq.empty, 0)
    got(3L) shouldBe (Seq.empty, 0)
  }

  test("bpe chunking windows over subwords; bpe packing budgets by subword count") {
    val model = Bpe.learn(paperCorpus, "text", numMerges = 5)
    // "lowest lowest lowest" → 6 subwords; chunkSize 4, overlap 2 → starts 0, 2, 4
    val df = Seq((1L, "lowest lowest lowest")).toDF("doc_id", "text")
    val chunks = Bpe.chunkTokens(df, "doc_id", "text", chunkSize = 4, overlap = 2, model)
      .orderBy("chunk_idx").collect()
      .map(r => (r.getInt(1), r.getString(2), r.getInt(3)))
    chunks shouldBe Array(
      (0, "low est</w> low est</w>", 4),
      (1, "low est</w> low est</w>", 4),
      (2, "low est</w>", 2))
    // packing: two 6-subword docs, seqLen 8 → doc 2 spans sequences 0 and 1
    val docs = Seq((1L, "lowest lowest lowest"), (2L, "lowest lowest lowest"))
      .toDF("doc_id", "text")
    val packed = Bpe.packSequences(docs, "doc_id", "text", seqLen = 8, model)
      .orderBy("doc_id", "seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    packed shouldBe Array(
      (1L, 0L, 0L, 6L, 0L),  // doc 1: tokens 0-5 of seq 0
      (2L, 0L, 0L, 2L, 6L),  // doc 2: first 2 tokens close seq 0
      (2L, 1L, 2L, 6L, 0L))  // doc 2: remaining 4 open seq 1
  }

  test("byte-level mode: published pre-tokenizer, byte alphabet, caseful greedy merges") {
    import Bpe.ByteLevel
    val G = "Ġ" // the byte-alphabet image of 0x20 ('Ġ')
    // the regex's published behavior: contraction split, leading-space
    // letter runs, and the trailing-whitespace lookahead that keeps the
    // LAST space of a run attached to the following word
    ByteLevel.pretokenize("Hello's  world") shouldBe Array("Hello", "'s", " ", " world")
    ByteLevel.byteSymbols(" world") shouldBe Vector(G, "w", "o", "r", "l", "d")
    // multi-byte UTF-8 explodes to one symbol per byte ('é' = C3 A9)
    ByteLevel.byteSymbols("é") shouldBe Vector("Ã", "©")
    // greedy rank-ordered merges, case preserved, NO end-of-word marker
    val model = Bpe.parseMerges(Seq(s"$G w", "o r", s"${G}w or"))
    val toks = Seq((1L, "Hello world")).toDF("doc_id", "text")
      .select(ByteLevel.tokens($"text", model).as("t"),
        ByteLevel.tokenCount($"text", model).as("n"))
      .head()
    toks.getSeq[String](0) shouldBe
      Seq("H", "e", "l", "l", "o", s"${G}wor", "l", "d")
    toks.getInt(1) shouldBe 8
    // the distributed byte-level learner reproduces the hand-computed
    // merge order: (a,a) at freq 3 beats (Ġ,a) at 2, then (Ġ,aa)
    val learned = ByteLevel.learn(Seq("aa aa aa bb").toDF("text"), "text", numMerges = 2)
    learned.merges shouldBe Vector(("a", "a"), (G, "aa"))
    // a byte-level list round-trips through the shared merges.txt format
    val path = graft.SparkSpec.tempDir("graft_bpe").toString + "/bl_merges.txt"
    Bpe.saveMerges(learned, path)
    Bpe.loadMerges(path).merges shouldBe learned.merges
    // '#' is a legitimate byte-level symbol (markdown headings): only the
    // #version header is a comment — a '# #' merge must survive parsing
    Bpe.parseMerges(Seq("#version: 0.2", "# #", "## #")).merges shouldBe
      Vector(("#", "#"), ("##", "#"))
    // the header is positional: only a FIRST line spelled '#version:' is
    // skipped — a colonless '#version x' first line is data, and a later
    // '#version:'-prefixed line is data too (rank-shift regression guard)
    Bpe.parseMerges(Seq("#version x", "a b")).merges shouldBe
      Vector(("#version", "x"), ("a", "b"))
    Bpe.parseMerges(Seq("#version: 0.2", "#version: 0.3")).merges shouldBe
      Vector(("#version:", "0.3"))
    // Unicode whitespace segments as whitespace (the (?U) flag): NBSP
    // takes the \\s+ alternative instead of gluing into a punctuation
    // pre-token (only 0x20 itself attaches to a following word)
    ByteLevel.pretokenize("a\u00a0b") shouldBe Array("a", "\u00a0", "b")
  }

  test("byte-level merges FIXTURE file in the published format reproduces the worked segmentation") {
    // committed artifact in the GPT-2 release's merges.txt convention
    // (#version header, one 'left right' pair per line, rank = order,
    // byte-alphabet symbols with \u0120 for a leading space), hand-derived
    // from the classic lower/lowest worked example \u2014 pins the interop
    // claim at the FILE level: an externally authored list loads through
    // loadMerges and drives ByteLevel.tokens to the published result
    import Bpe.ByteLevel
    val url = getClass.getResource("/bytelevel_merges.txt")
    url should not be null
    val model = Bpe.loadMerges(new java.io.File(url.toURI).getAbsolutePath)
    model.merges shouldBe Vector(
      ("\u0120", "l"), ("\u0120l", "o"), ("\u0120lo", "w"),
      ("e", "r"), ("e", "s"), ("es", "t"), ("t", "h"), ("th", "e"))
    val toks = Seq((1L, "the lower lowest low")).toDF("doc_id", "text")
      .select(ByteLevel.tokens($"text", model).as("t")).head().getSeq[String](0)
    // 'the' merges t+h then th+e; each ' low\u2026' prefix collapses to \u0120low,
    // with 'er'/'est' assembled by the later ranks
    toks shouldBe Seq("the", "\u0120low", "er", "\u0120low", "est", "\u0120low")
    // and the loaded model round-trips byte-for-byte through save/load
    val copy = graft.SparkSpec.tempDir("graft_bpe_fx").toString + "/m.txt"
    Bpe.saveMerges(model, copy)
    Bpe.loadMerges(copy).merges shouldBe model.merges
  }
}
