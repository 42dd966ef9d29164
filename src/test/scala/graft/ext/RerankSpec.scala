package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Greedy diversity selection: MMR re-ranking and k-center coresets.
  * Small geometric fixtures where the right greedy trajectory is
  * hand-checkable: MMR must demote a near-duplicate of an already-picked
  * result; k-center must land one center per cluster.
  */
class RerankSpec extends SparkSpec {
  import spark.implicits._

  /** Query 0 along e1; candidates fan out symmetrically around it:
    * 10/11 a near-duplicate pair tilted +e2, 12/13 a near-duplicate
    * pair tilted −e2 (all four ~equally relevant), 14 orthogonal. A
    * pure relevance top-3 is three of {10, 11, 12, 13}; MMR must take
    * one from each tilt side, then the orthogonal 14 — a second member
    * of an already-picked near-dup pair (redundancy ≈ 1, relevance ≈
    * query's) can never beat it.
    */
  private def fixture = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (10L, Array(1.0f, 0.2f, 0.0f, 0.0f)),
    (11L, Array(1.0f, 0.21f, 0.0f, 0.0f)),
    (12L, Array(1.0f, -0.2f, 0.0f, 0.0f)),
    (13L, Array(1.0f, -0.21f, 0.0f, 0.0f)),
    (14L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
  ).toDF("vec_id", "embedding")

  test("MMR demotes near-duplicates of earlier picks") {
    val emb = fixture
    val short = Similarity.bruteForceTopK(
      emb.filter($"vec_id" === 0L), emb, "vec_id", "embedding", k = 5)
    val out = Rerank.mmrRerank(short, emb, "vec_id", "embedding", k = 3,
      lambdaNum = 5, lambdaDen = 10).orderBy("step").collect()
    out.length shouldBe 3
    val picks = out.map(_.getAs[Long]("doc_id"))
    picks(0) shouldBe 10L // relevance tie 10/12 broken by id
    // step 2: the OTHER tilt side, never 10's near-duplicate
    Set(12L, 13L) should contain(picks(1))
    // step 3: both remaining near-duplicates are dominated; the
    // orthogonal direction wins despite zero relevance
    picks(2) shouldBe 14L
    picks should not contain 11L
  }

  test("λ = 1 reduces MMR to the shortlist order") {
    val emb = fixture
    val short = Similarity.bruteForceTopK(
      emb.filter($"vec_id" === 0L), emb, "vec_id", "embedding", k = 5)
    val pure = Rerank.mmrRerank(short, emb, "vec_id", "embedding", k = 4,
      lambdaNum = 10, lambdaDen = 10)
      .orderBy("step").collect().map(_.getAs[Long]("doc_id"))
    val ranked = short.orderBy("rank").collect()
      .map(_.getAs[Long]("neighbor_id")).take(4)
    pure.toSeq shouldBe ranked.toSeq
  }

  test("MMR handles several queries independently") {
    val emb = fixture
    val short = Similarity.bruteForceTopK(
      emb.filter($"vec_id" <= 10L), emb, "vec_id", "embedding", k = 4)
    val out = Rerank.mmrRerank(short, emb, "vec_id", "embedding", k = 2)
    out.groupBy("query_id").count().collect()
      .foreach(_.getAs[Long]("count") shouldBe 2L)
    out.count() shouldBe 4L
  }

  /** Three tight clusters along the axes; k = 3 must pick one point per
    * cluster whatever the within-cluster choice.
    */
  test("k-center lands one center per cluster, radius non-increasing") {
    val pts = Seq(
      (0L, Array(1.0f, 0.01f, 0.0f)), (1L, Array(1.0f, 0.02f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.01f)), (3L, Array(0.0f, 1.0f, 0.02f)),
      (4L, Array(0.01f, 0.0f, 1.0f)), (5L, Array(0.02f, 0.0f, 1.0f)),
    ).toDF("vec_id", "embedding")
    val out = Rerank.kCenterSelect(pts, "vec_id", "embedding", k = 3)
      .orderBy("step").collect()
    out.length shouldBe 3
    out(0).getAs[Long]("center_id") shouldBe 0L // seed = min id
    out(0).isNullAt(out(0).fieldIndex("sel_dist_q")) shouldBe true
    val clusters = out.map(r => r.getAs[Long]("center_id") / 2).toSet
    clusters shouldBe Set(0L, 1L, 2L) // one per cluster
    val radii = out.drop(1).map(_.getAs[Long]("sel_dist_q"))
    radii.sliding(2).foreach { case Array(a, b) => b should be <= a }
  }

  test("MMR over the IVF-served shortlist equals MMR over brute at full probe") {
    val emb = (0 until 48).map { i =>
      (i.toLong, Array.tabulate(6)(j =>
        (math.sin(i * 7 + j * 3).toFloat + (if (j == i % 6) 2f else 0f))))
    }.toDF("vec_id", "embedding")
    val dir = graft.SparkSpec.tempDir("graft_mmr_ivf").toFile
    dir.delete()
    AnnIndex.buildIvf(emb, "vec_id", "embedding", dir.getAbsolutePath,
      nlist = 4, iters = 2)
    val qs = emb.filter($"vec_id" < 3)
    val brute = Rerank.mmrRerank(
      Similarity.bruteForceTopK(qs, emb, "vec_id", "embedding", k = 8),
      emb, "vec_id", "embedding", k = 4).collect().toSet
    val served = Rerank.mmrRerank(
      AnnIndex.ivfTopK(spark, AnnIndex.readIvf(spark, dir.getAbsolutePath),
        qs, "vec_id", "embedding", k = 8, nprobe = 4),
      emb, "vec_id", "embedding", k = 4).collect().toSet
    brute should not be empty
    served shouldBe brute
  }

  test("kCenterAssign covers the corpus and keeps clusters tight") {
    val pts = Seq(
      (0L, Array(1.0f, 0.01f, 0.0f)), (1L, Array(1.0f, 0.02f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.01f)), (3L, Array(0.0f, 1.0f, 0.02f)),
      (4L, Array(0.01f, 0.0f, 1.0f)), (5L, Array(0.02f, 0.0f, 1.0f)),
    ).toDF("vec_id", "embedding")
    val out = Rerank.kCenterAssign(pts, "vec_id", "embedding", k = 3)
      .collect()
    out.length shouldBe 3 // every center claims at least itself
    out.map(_.getAs[Long]("n_points")).sum shouldBe 6L // full coverage
    // cluster mates sit within quantization distance of their center;
    // cross-cluster distance is ~10000 — a wrong assignment explodes max
    out.foreach(_.getAs[Long]("max_dist_q") should be <= 100L)
    out.foreach(r =>
      r.getAs[Long]("sum_dist_q") should be <= r.getAs[Long]("max_dist_q") *
        r.getAs[Long]("n_points"))
  }

  test("k-center is deterministic and never re-picks a center") {
    val pts = fixture
    val a = Rerank.kCenterSelect(pts, "vec_id", "embedding", k = 4)
      .orderBy("step").collect().map(r =>
        (r.getAs[Int]("step"), r.getAs[Long]("center_id")))
    val b = Rerank.kCenterSelect(pts, "vec_id", "embedding", k = 4)
      .orderBy("step").collect().map(r =>
        (r.getAs[Int]("step"), r.getAs[Long]("center_id")))
    a.toSeq shouldBe b.toSeq
    a.map(_._2).distinct.length shouldBe 4
  }

  test("rrfFuse: exact contributions, both-legs beats one, doc tie-break") {
    import spark.implicits._
    // leg A ranks docs 10,11,12; leg B ranks 11,10,13 — doc 11 and 10
    // appear in both (rank sums differ), 12 and 13 are single-leg
    val legA = Seq((1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L))
      .toDF("query_id", "rank", "neighbor_id")
    val legB = Seq((1L, 1, 11L), (1L, 2, 10L), (1L, 3, 13L))
      .toDF("query_id", "rank", "neighbor_id")
    val out = Rerank.rrfFuse(Seq(legA, legB), k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("rrf_q"), r.getAs[Int]("n_legs")))
    // 10 and 11 both score 1e6//61 + 1e6//62 = 16393 + 16129 = 32522:
    // a genuine cross-leg tie — doc id ascending breaks it
    out(0) shouldBe ((1, 10L, 32522L, 2))
    out(1) shouldBe ((2, 11L, 32522L, 2))
    // single-leg docs at rank 3: 1e6//63 = 15873; doc id breaks the tie
    out(2) shouldBe ((3, 12L, 15873L, 1))
    out(3) shouldBe ((4, 13L, 15873L, 1))
  }

  test("rrfFuse: a contract-violating leg with a duplicate doc counts once") {
    import spark.implicits._
    // doc 10 appears twice in leg A (ranks 1 and 3 — a top-k contract
    // violation); only its best rank may contribute, and n_legs must
    // stay 2, not 3
    val legA = Seq((1L, 1, 10L), (1L, 2, 11L), (1L, 3, 10L))
      .toDF("query_id", "rank", "neighbor_id")
    val legB = Seq((1L, 1, 10L))
      .toDF("query_id", "rank", "neighbor_id")
    val out = Rerank.rrfFuse(Seq(legA, legB), k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_q"),
        r.getAs[Int]("n_legs")))
    out(0) shouldBe ((10L, 2L * (1000000L / 61L), 2))
    out(1) shouldBe ((11L, 1000000L / 62L, 1))
  }
}
