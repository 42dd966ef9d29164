package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SQ8 scalar-quantized index: the analytic error bound (the layout's
  * defining contract), encode determinism, persistence, maintenance.
  */
class SqIndexSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random 8-dim corpus: varied magnitudes and signs
  private def corpus(n: Int) = {
    val rnd = new scala.util.Random(7)
    (0 until n).map(i => (i.toLong, Array.fill(8)((rnd.nextGaussian() * 2).toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("every pair's SQ score sits inside the analytic per-query bound") {
    val c = corpus(64)
    val b = Similarity.sqTrainBounds(c, "embedding")
    val codes = Similarity.sqEncode(c, "vec_id", "embedding", b)
    val q = c.filter($"vec_id" < 4)
    val exact = c.select($"vec_id".as("neighbor_id"), $"embedding".as("__cv"))
      .crossJoin(broadcast(q.select($"vec_id".as("query_id"), $"embedding".as("__qv"))))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        Similarity.cosine($"__qv", $"__cv").as("__c"))
    val viol = Similarity.sqScores(q, "vec_id", "embedding", b, codes)
      .join(exact, Seq("query_id", "neighbor_id"))
      .filter(abs($"cosine_sq" - $"__c") > $"__qbound")
      .count()
    viol shouldBe 0L
  }

  test("8-bit quantization is tight: max error well under a loose PQ band") {
    val c = corpus(64)
    val b = Similarity.sqTrainBounds(c, "embedding")
    val codes = Similarity.sqEncode(c, "vec_id", "embedding", b)
    val q = c.filter($"vec_id" < 4)
    val exact = c.select($"vec_id".as("neighbor_id"), $"embedding".as("__cv"))
      .crossJoin(broadcast(q.select($"vec_id".as("query_id"), $"embedding".as("__qv"))))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        Similarity.cosine($"__qv", $"__cv").as("__c"))
    val maxErr = Similarity.sqScores(q, "vec_id", "embedding", b, codes)
      .join(exact, Seq("query_id", "neighbor_id"))
      .agg(max(abs($"cosine_sq" - $"__c"))).head().getDouble(0)
    // 8 dims × step/2 each, steps ~ range/255: far below 0.05 on unit vectors
    maxErr should be < 0.05
  }

  test("degenerate (constant) dimension encodes 0 and reconstructs exactly") {
    // every row normalizes to (1, 0): both dimensions are constant after
    // normalization, so both steps are 0 — the guard must encode 0 (not
    // divide by zero) and reconstruct vmin exactly
    val dup = Seq(
      (0L, Array(2.0f, 0.0f)), (1L, Array(1.0f, 0.0f)), (2L, Array(4.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val b = Similarity.sqTrainBounds(dup, "embedding")
    b.step(0) shouldBe 0.0
    b.step(1) shouldBe 0.0
    val codes = Similarity.sqEncode(dup, "vec_id", "embedding", b)
    codes.select(max(element_at($"__codes", 1))).head().getByte(0) shouldBe (-128).toByte
    // scores reconstruct the exact cosine (=1) within float slop
    val s = Similarity.sqScores(dup.filter($"vec_id" === 0L), "vec_id", "embedding",
      b, codes)
    s.agg(min($"cosine_sq")).head().getDouble(0) shouldBe (1.0 +- 1e-6)
  }

  test("build/read/topK roundtrip ranks like in-memory scoring") {
    val c = corpus(32)
    val base = graft.SparkSpec.tempDir("graft_sq").toString
    AnnIndex.buildSq(c, "vec_id", "embedding", s"$base/sq")
    val idx = AnnIndex.readSq(spark, s"$base/sq")
    idx.bounds.dim shouldBe 8
    val viaIndex = AnnIndex.sqTopK(spark, s"$base/sq",
      c.filter($"vec_id" === 0L), "vec_id", "embedding", 3)
      .select($"rank", $"neighbor_id").as[(Int, Long)].collect().toSeq
    val inMem = Similarity.sqTopKWithCodes(c.filter($"vec_id" === 0L),
        "vec_id", "embedding",
        Similarity.sqTrainBounds(c, "embedding"),
        Similarity.sqEncode(c, "vec_id", "embedding",
          Similarity.sqTrainBounds(c, "embedding")), 3)
      .select($"rank", $"neighbor_id").as[(Int, Long)].collect().toSeq
    viaIndex shouldBe inMem
  }

  test("IVF×SQ full probe equals flat SQ row-for-row; pruning returns a subset") {
    val c = corpus(48)
    val base = graft.SparkSpec.tempDir("graft_sq").toString
    AnnIndex.buildSq(c, "vec_id", "embedding", s"$base/sq")
    AnnIndex.buildIvfSq(c, "vec_id", "embedding", s"$base/ivfsq", nlist = 4, iters = 1)
    val q = c.filter($"vec_id" < 3)
    val flat = AnnIndex.sqTopK(spark, s"$base/sq", q, "vec_id", "embedding", 5)
      .select($"query_id", $"rank", $"neighbor_id", $"cosine_sq")
      .as[(Long, Int, Long, Double)].collect().toSet
    val idx = AnnIndex.readIvfSq(spark, s"$base/ivfsq")
    idx.nlist shouldBe 4
    val full = AnnIndex.ivfSqTopK(spark, idx, q, "vec_id", "embedding", 5, nprobe = 4)
      .select($"query_id", $"rank", $"neighbor_id", $"cosine_sq")
      .as[(Long, Int, Long, Double)].collect().toSet
    full shouldBe flat
    // pruned probing scores a subset of pairs — every returned (query,
    // neighbor) must carry the same score the flat scan assigns it
    val prunedPairs = AnnIndex.ivfSqTopK(spark, idx, q, "vec_id", "embedding", 5,
        nprobe = 1)
      .select($"query_id", $"neighbor_id", $"cosine_sq")
      .as[(Long, Long, Double)].collect().toSet
    val flatAll = Similarity.sqScores(q, "vec_id", "embedding",
        Similarity.sqTrainBounds(c, "embedding"),
        Similarity.sqEncode(c, "vec_id", "embedding",
          Similarity.sqTrainBounds(c, "embedding")))
      .select($"query_id", $"neighbor_id", round($"cosine_sq", 4).as("s"))
      .as[(Long, Long, Double)].collect().toSet
    prunedPairs.subsetOf(flatAll) shouldBe true
  }

  test("SQ maintenance: update supersedes, debt routes to compactSq, log resets") {
    val c = corpus(24)
    val base = graft.SparkSpec.tempDir("graft_sq").toString
    AnnIndex.buildSq(c, "vec_id", "embedding", s"$base/sq")
    // delete a third of the corpus: debt crosses the 0.25 default
    AnnIndex.deleteIds(spark, s"$base/sq", (0L until 8L).toDF("vec_id"), "vec_id")
    AnnIndex.tombstoneDebt(spark, s"$base/sq") shouldBe (8.0 / 24 +- 1e-9)
    AnnIndex.compactIfNeeded(spark, s"$base/sq") shouldBe true
    AnnIndex.tombstoneDebt(spark, s"$base/sq") shouldBe 0.0
    val live = AnnIndex.readSq(spark, s"$base/sq").codes
    live.count() shouldBe 16
    // update id 10 with id 11's embedding: exactly the new encode is live
    val newRow = c.filter($"vec_id" === 11L)
      .select(lit(10L).as("vec_id"), $"embedding")
    AnnIndex.update(spark, s"$base/sq", newRow, "vec_id", "embedding")
    val idx = AnnIndex.readSq(spark, s"$base/sq")
    idx.codes.filter($"__id" === 10L).count() shouldBe 1
    val c10 = idx.codes.filter($"__id" === 10L)
      .select($"__codes").as[Seq[Byte]].head()
    val c11 = idx.codes.filter($"__id" === 11L)
      .select($"__codes").as[Seq[Byte]].head()
    c10 shouldBe c11
  }

  test("IVF×SQ maintenance: CDC diff applies, compaction keeps pruned equality") {
    val c = corpus(32)
    val base = graft.SparkSpec.tempDir("graft_sq").toString
    AnnIndex.buildIvfSq(c.filter($"vec_id" < 24), "vec_id", "embedding",
      s"$base/ivfsq", nlist = 4, iters = 1)
    // CDC: insert 24..31, delete 0..5, update 6 to 7's embedding
    val diff = ((24L until 32L).map(i => (i, "insert")) ++
      (0L until 6L).map(i => (i, "delete")) :+ ((6L, "update")))
      .toDF("vec_id", "change")
    val rows = c.filter($"vec_id" >= 24)
      .unionByName(c.filter($"vec_id" === 7L).select(lit(6L).as("vec_id"), $"embedding"))
    AnnIndex.applyDiff(spark, s"$base/ivfsq", diff, "vec_id",
      rows, "vec_id", "embedding")
    val afterDiff = AnnIndex.ivfSqTopK(spark,
        AnnIndex.readIvfSq(spark, s"$base/ivfsq"),
        c.filter($"vec_id" === 30L), "vec_id", "embedding", 5, nprobe = 4)
      .select($"rank", $"neighbor_id", $"cosine_sq")
      .as[(Int, Long, Double)].collect().toSeq
    afterDiff.map(_._2).intersect(0L until 6L) shouldBe empty
    // debt = 7 dead of 33 stored rows (< 0.25): not compacted yet
    AnnIndex.compactIfNeeded(spark, s"$base/ivfsq") shouldBe false
    // compaction must not change served results
    AnnIndex.compact(spark, s"$base/ivfsq")
    AnnIndex.tombstoneDebt(spark, s"$base/ivfsq") shouldBe 0.0
    val afterCompact = AnnIndex.ivfSqTopK(spark,
        AnnIndex.readIvfSq(spark, s"$base/ivfsq"),
        c.filter($"vec_id" === 30L), "vec_id", "embedding", 5, nprobe = 4)
      .select($"rank", $"neighbor_id", $"cosine_sq")
      .as[(Int, Long, Double)].collect().toSeq
    afterCompact shouldBe afterDiff
  }

  test("pre-layout meta derives its kind from (m, nlist) — old indexes still route") {
    val c = corpus(24)
    val base = graft.SparkSpec.tempDir("graft_sq").toString
    AnnIndex.buildPq(c, "vec_id", "embedding", s"$base/pq", m = 2, ksub = 4, iters = 1)
    // rewrite the meta WITHOUT the layout column — the pre-round-10 shape
    val old = spark.read.parquet(s"$base/pq/meta")
      .select($"m", $"sub", $"nlist", $"residual").collect().head
    Seq((old.getInt(0), old.getInt(1), old.getInt(2), old.getBoolean(3)))
      .toDF("m", "sub", "nlist", "residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/pq/meta")
    // derived layout "pq": debt measures codes, compaction accepts the dir
    AnnIndex.deleteIds(spark, s"$base/pq", (0L until 12L).toDF("vec_id"), "vec_id")
    AnnIndex.tombstoneDebt(spark, s"$base/pq") shouldBe (0.5 +- 1e-9)
    AnnIndex.compactIfNeeded(spark, s"$base/pq") shouldBe true
    AnnIndex.readPq(spark, s"$base/pq").codes
      .select($"__id").distinct().count() shouldBe 12
  }

  test("append against frozen bounds equals one-shot encode; delete tombstones") {
    val c = corpus(32)
    val base = graft.SparkSpec.tempDir("graft_sq").toString
    val a = c.filter($"vec_id" < 16)
    val bRows = c.filter($"vec_id" >= 16)
    AnnIndex.buildSq(a, "vec_id", "embedding", s"$base/sq")
    AnnIndex.append(spark, s"$base/sq", bRows, "vec_id", "embedding")
    val idx = AnnIndex.readSq(spark, s"$base/sq")
    idx.codes.count() shouldBe 32
    // frozen-bounds determinism: appended codes == one-shot encode of the
    // same rows against the same bounds
    val oneShot = Similarity.sqEncode(bRows, "vec_id", "embedding", idx.bounds)
      .select($"__id", $"__codes").as[(Long, Seq[Byte])].collect().toMap
    val appended = idx.codes.filter($"__id" >= 16)
      .select($"__id", $"__codes").as[(Long, Seq[Byte])].collect().toMap
    appended shouldBe oneShot
    AnnIndex.deleteIds(spark, s"$base/sq", Seq(3L, 20L).toDF("vec_id"), "vec_id")
    val live = AnnIndex.readSq(spark, s"$base/sq").codes
    live.count() shouldBe 30
    live.filter($"__id".isin(3L, 20L)).count() shouldBe 0
  }
}
