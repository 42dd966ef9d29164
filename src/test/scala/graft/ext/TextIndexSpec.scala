package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted inverted index: indexed == from-scratch BM25, compositional
  * append, tombstone maintenance, compaction, absent-term queries.
  */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "spark shuffle join window"), (2L, "window scan merge"),
    (3L, "spark spark spark window"), (4L, "unrelated words entirely"),
    (5L, ""), (6L, "join window join scan"))

  private val queries = Seq((0L, "spark window"), (1L, "scan join"))

  private def tmpDir(name: String): String = {
    val d = graft.SparkSpec.tempDir(name).toFile
    d.delete()
    d.getAbsolutePath
  }

  private def topMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
      (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toMap

  test("indexed BM25 equals the from-scratch computation row for row") {
    val docs = corpus.toDF("doc_id", "text")
    val q = queries.toDF("qid", "qtext")
    val dir = tmpDir("inv")
    TextIndex.build(docs, "doc_id", "text", dir, parts = 4)
    val served = TextIndex.bm25TopKIndexed(spark, dir, q, "qid", "qtext", 5)
    val ref = TextSearch.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", 5)
    topMap(served) shouldBe topMap(ref)
  }

  test("append is compositional: build(A) + append(B) == build(A ∪ B)") {
    val docs = corpus.toDF("doc_id", "text")
    val q = queries.toDF("qid", "qtext")
    val dir = tmpDir("invapp")
    TextIndex.build(docs.filter($"doc_id" <= 3), "doc_id", "text", dir, parts = 4)
    TextIndex.appendDocs(spark, dir, docs.filter($"doc_id" > 3), "doc_id", "text")
    val dir2 = tmpDir("invone")
    TextIndex.build(docs, "doc_id", "text", dir2, parts = 4)
    topMap(TextIndex.bm25TopKIndexed(spark, dir, q, "qid", "qtext", 5)) shouldBe
      topMap(TextIndex.bm25TopKIndexed(spark, dir2, q, "qid", "qtext", 5))
  }

  test("delete + update change df, N and avgdl exactly; compaction preserves results") {
    val docs = corpus.toDF("doc_id", "text")
    val q = queries.toDF("qid", "qtext")
    val dir = tmpDir("invdel")
    TextIndex.build(docs, "doc_id", "text", dir, parts = 4)
    TextIndex.deleteDocs(spark, dir, docs.filter($"doc_id" === 3), "doc_id")
    TextIndex.updateDocs(spark, dir,
      Seq((6L, "join window")).toDF("doc_id", "text"), "doc_id", "text")
    val live = docs.filter($"doc_id" =!= 3 && $"doc_id" =!= 6)
      .unionByName(Seq((6L, "join window")).toDF("doc_id", "text"))
    val expected = topMap(TextSearch.bm25TopK(live, "doc_id", "text", q,
      "qid", "qtext", 5))
    topMap(TextIndex.bm25TopKIndexed(spark, dir, q, "qid", "qtext", 5)) shouldBe
      expected
    TextIndex.compact(spark, dir)
    graft.util.Hfs.exists(spark, s"$dir/tombstones") shouldBe false
    topMap(TextIndex.bm25TopKIndexed(spark, dir, q, "qid", "qtext", 5)) shouldBe
      expected
  }

  test("positional phrase search: multi-occurrence counts, repeated terms, append, tombstones") {
    val docs = Seq(
      (1L, "big data big data big data pipeline"), // "big data" ×3, overlapping anchor walk
      (2L, "data big data"),                       // "big data" ×1
      (3L, "big big big"),                         // repeated-term phrase "big big" ×2
      (4L, "nothing relevant here"))
    val dir = tmpDir("graft_pos") + "/p"
    TextIndex.buildPositional(docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      parts = 4)
    def occ(phrase: String*) =
      TextIndex.phraseOccurrences(spark, dir, phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    occ("big", "data") shouldBe Map(1L -> 3L, 2L -> 1L)
    occ("big", "big") shouldBe Map(3L -> 2L) // overlapping occurrences count
    occ("big", "data", "pipeline") shouldBe Map(1L -> 1L)
    occ("absent", "phrase") shouldBe empty
    // compositional append: a new doc's occurrences just appear
    TextIndex.appendPositional(spark, dir,
      Seq((5L, "big data again")).toDF("doc_id", "text"), "doc_id", "text")
    occ("big", "data") shouldBe Map(1L -> 3L, 2L -> 1L, 5L -> 1L)
    // tombstones subtract through the shared liveness machinery
    AnnIndex.deleteIds(spark, dir, Seq(1L).toDF("doc_id"), "doc_id")
    occ("big", "data") shouldBe Map(2L -> 1L, 5L -> 1L)
  }

  test("proximity search counts within-slop pairs in either order") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),      // alpha..delta distance 3
      (2L, "delta x x x alpha"),           // reversed order, distance 4
      (3L, "alpha x delta alpha"),         // pairs at |Δ|=2 and |Δ|=1
      (4L, "alpha only here"))
    val dir = tmpDir("graft_prox") + "/p"
    TextIndex.buildPositional(docs.toDF("doc_id", "text"), "doc_id", "text", dir,
      parts = 4)
    def near(slop: Int) =
      TextIndex.proximityOccurrences(spark, dir, "alpha", "delta", slop)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    near(3) shouldBe Map(1L -> 1L, 3L -> 2L)
    near(4) shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 2L) // order-free
    TextIndex.proximityOccurrences(spark, dir, "absent", "delta", 3)
      .collect() shouldBe empty
  }

  test("healthReport: zero debt on a full build, exact counts after deletes, zero after compaction") {
    val docs = corpus.toDF("doc_id", "text")
    val inv = tmpDir("invhealth")
    val pos = tmpDir("poshealth") + "/p"
    TextIndex.build(docs, "doc_id", "text", inv, parts = 4)
    TextIndex.buildPositional(Seq(
      (1L, "big data big data"), (2L, "data big"), (3L, "big big"))
      .toDF("doc_id", "text"), "doc_id", "text", pos, parts = 4)
    def rows() = TextIndex.healthReport(spark, Seq("inv" -> inv, "pos" -> pos))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // fresh builds: every physical row live, zero debt
    val fresh = rows()
    fresh("inv") shouldBe ((6L, 6L, 0L, 0.0))
    fresh("pos")._1 shouldBe fresh("pos")._2
    fresh("pos")._4 shouldBe 0.0
    // one inverted delete (doc 3) + one positional delete (doc 1, 4 of
    // the 8 occurrence rows): totals unchanged, live drops exactly
    TextIndex.deleteDocs(spark, inv, docs.filter($"doc_id" === 3), "doc_id")
    AnnIndex.deleteIds(spark, pos, Seq(1L).toDF("doc_id"), "doc_id")
    val after = rows()
    after("inv") shouldBe ((6L, 5L, 1L, 1.0 / 6))
    after("pos") shouldBe ((8L, 4L, 4L, 0.5))
    // compaction drops the dead rows and the debt returns to zero
    TextIndex.compact(spark, inv)
    TextIndex.compactPositional(spark, pos)
    val compacted = rows()
    compacted("inv") shouldBe ((5L, 5L, 0L, 0.0))
    compacted("pos") shouldBe ((4L, 4L, 0L, 0.0))
  }

  test("dedupStoreHealth prices the id-tombstone log; no log means all rows live") {
    import graft.streaming.DocStreams
    val store = tmpDir("dedupstorehealth")
    Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"))
      .toDF("__id", "__part").write.partitionBy("__part")
      .parquet(s"$store/sigs")
    def row() = DocStreams.dedupStoreHealth(spark, "sigs", store).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).head
    row() shouldBe (("sigs", 4L, 4L, 0L, 0.0))
    // duplicate tombstone entries for one id must not double-count
    Seq(2L, 2L, 9L).toDF("__id").write.parquet(s"$store/id_tombstones")
    row() shouldBe (("sigs", 4L, 3L, 1L, 0.25))
  }

  test("queries whose terms miss every bucket return an empty, well-typed frame") {
    val docs = corpus.toDF("doc_id", "text")
    val dir = tmpDir("invmiss")
    // parts ≫ vocab: most bucket directories don't exist, so absent-term
    // queries exercise the no-touched-partition early return
    TextIndex.build(docs, "doc_id", "text", dir, parts = 64)
    val out = TextIndex.bm25TopKIndexed(spark, dir,
      Seq((0L, "zzz qqq")).toDF("qid", "qtext"), "qid", "qtext", 5)
    out.columns.toSeq shouldBe Seq("query_id", "rank", "doc_id", "score")
    out.count() shouldBe 0L
  }
}
