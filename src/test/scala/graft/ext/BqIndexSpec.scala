package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Binary-quantization index: persistence roundtrip, training-free
  * append==rebuild equality, tombstone maintenance, CDC, compaction,
  * wrong-layout refusal.
  */
class BqIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int, seed: Int = 7) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def tmpDir(name: String): String = {
    val d = graft.SparkSpec.tempDir(name).toFile
    d.delete()
    d.getAbsolutePath
  }

  private def topMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
      (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap

  test("build/read/topK roundtrip equals the in-query scan") {
    val c = corpus(50)
    val dir = tmpDir("bq")
    AnnIndex.buildBq(c, "vec_id", "embedding", dir, dim = 64)
    val idx = AnnIndex.readBq(spark, dir)
    idx.dim shouldBe 64
    val q = c.filter($"vec_id" < 3)
    val served = AnnIndex.bqTopK(spark, dir, q, "vec_id", "embedding", 5, shortlist = 10)
    val ref = Similarity.binarySketchTopK(q, c, "vec_id", "embedding", 64, 5, shortlist = 10)
    topMap(served) shouldBe topMap(ref)
  }

  test("append equals one-shot rebuild exactly (training-free layout)") {
    val c = corpus(40)
    val dir = tmpDir("bqapp")
    AnnIndex.buildBq(c.filter($"vec_id" < 20), "vec_id", "embedding", dir, dim = 64)
    AnnIndex.append(spark, dir, c.filter($"vec_id" >= 20), "vec_id", "embedding")
    val dir2 = tmpDir("bqone")
    AnnIndex.buildBq(c, "vec_id", "embedding", dir2, dim = 64)
    val q = c.filter($"vec_id" < 3)
    topMap(AnnIndex.bqTopK(spark, dir, q, "vec_id", "embedding", 5)) shouldBe
      topMap(AnnIndex.bqTopK(spark, dir2, q, "vec_id", "embedding", 5))
  }

  test("delete tombstones, update supersedes, debt routes to compactBq, log resets") {
    val c = corpus(30)
    val dir = tmpDir("bqdel")
    AnnIndex.buildBq(c, "vec_id", "embedding", dir, dim = 64)
    AnnIndex.deleteIds(spark, dir, c.filter($"vec_id" >= 20), "vec_id")
    AnnIndex.update(spark, dir, c.filter($"vec_id" === 5), "vec_id", "embedding")
    val q = c.filter($"vec_id" < 2)
    val live = c.filter($"vec_id" < 20)
    val expected = topMap(
      Similarity.binarySketchTopK(q, live, "vec_id", "embedding", 64, 5, shortlist = 30))
    topMap(AnnIndex.bqTopK(spark, dir, q, "vec_id", "embedding", 5,
      shortlist = 30)) shouldBe expected
    // a third of the rows are dead -> the policy must compact
    AnnIndex.tombstoneDebt(spark, dir) should be > 0.25
    AnnIndex.compactIfNeeded(spark, dir) shouldBe true
    AnnIndex.tombstoneDebt(spark, dir) shouldBe 0.0
    topMap(AnnIndex.bqTopK(spark, dir, q, "vec_id", "embedding", 5,
      shortlist = 30)) shouldBe expected
  }

  test("CDC diff applies: deletes and upserts in one call") {
    val c = corpus(24)
    val dir = tmpDir("bqcdc")
    AnnIndex.buildBq(c, "vec_id", "embedding", dir, dim = 64)
    val diff = c.filter($"vec_id".isin(1, 2))
      .select($"vec_id", lit("delete").as("change"))
      .unionByName(c.filter($"vec_id" === 7)
        .select($"vec_id", lit("update").as("change")))
    AnnIndex.applyDiff(spark, dir, diff, "vec_id", c, "vec_id", "embedding")
    val q = c.filter($"vec_id" === 0)
    val live = c.filter(!$"vec_id".isin(1, 2))
    topMap(AnnIndex.bqTopK(spark, dir, q, "vec_id", "embedding", 5,
      shortlist = 24)) shouldBe
      topMap(Similarity.binarySketchTopK(q, live, "vec_id", "embedding", 64, 5,
        shortlist = 24))
  }

  test("wrong-layout dirs refuse loudly") {
    val c = corpus(16)
    val dir = tmpDir("bqwrong")
    AnnIndex.buildSq(c, "vec_id", "embedding", dir)
    an[IllegalArgumentException] should be thrownBy
      AnnIndex.readBq(spark, dir)
  }
}
