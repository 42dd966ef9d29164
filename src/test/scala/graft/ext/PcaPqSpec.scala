package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** PCA-rotated PQ: the rotation's algebraic contracts (orthonormality,
  * exact cosine isometry, energy compaction), lossless-geometry
  * equality, delegated maintenance.
  */
class PcaPqSpec extends SparkSpec {
  import spark.implicits._

  // anisotropic corpus: dimension j's scale decays with j, so the
  // second-moment eigenbasis is non-trivial and energy compaction is
  // observable
  private def corpus(n: Int, d: Int = 16, seed: Int = 5) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val raw = Array.tabulate(d)(j =>
        (rnd.nextGaussian() / (1 + j * 0.5)).toFloat)
      (i.toLong, raw)
    }.toDF("vec_id", "embedding")
  }

  private def tmpDir(name: String): String = {
    val dd = graft.SparkSpec.tempDir(name).toFile
    dd.delete(); dd.getAbsolutePath
  }

  private def topMap(df: org.apache.spark.sql.DataFrame, score: String) =
    df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
      (r.getAs[Long]("neighbor_id"), r.getAs[Double](score))).toMap

  test("opqRotation: orthonormal, zero iterations IS the PCA init") {
    val c = corpus(200)
    val r0 = Similarity.opqRotation(c, "vec_id", "embedding", dim = 16,
      m = 4, ksub = 8, opqIters = 0)
    val pca = Similarity.pcaRotation(c, "vec_id", "embedding", dim = 16)
    r0.flatten.toSeq shouldBe pca.flatten.toSeq
    val r = Similarity.opqRotation(c, "vec_id", "embedding", dim = 16,
      m = 4, ksub = 8, opqIters = 3)
    val d = r.length
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => r(i)(k) * r(j)(k)).sum
      dot shouldBe (if (i == j) 1.0 else 0.0) +- 1e-9
    }
    // an orthogonal R preserves cosine: brute force through the trained
    // rotation equals brute force raw
    val rot = c.select(col("vec_id"),
      Similarity.rotateExpr(col("embedding"), r).as("embedding"))
    val raw = Similarity.bruteForceTopK(c.filter($"vec_id" < 2), c,
      "vec_id", "embedding", 5)
    val rotated = Similarity.bruteForceTopK(rot.filter($"vec_id" < 2), rot,
      "vec_id", "embedding", 5)
    topMap(rotated, "cosine") shouldBe topMap(raw, "cosine")
  }

  test("OPQ index: lossless geometry equals brute force; maintenance delegates to the nested PQ") {
    // ksub = corpus size on a 16-vector corpus: quantization is lossless,
    // so the rotated ADC path must equal brute force exactly
    val c = corpus(16)
    val dir = tmpDir("graft_opq")
    AnnIndex.buildOpq(c, "vec_id", "embedding", dir, dim = 16, m = 4,
      ksub = 16, iters = 1, opqIters = 2)
    val served = AnnIndex.rotatedPqTopK(spark, dir, c.filter($"vec_id" < 3),
        "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = Similarity.bruteForceTopK(c.filter($"vec_id" < 3), c,
        "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    served shouldBe brute
    // delete routes through the nested pq; the deleted id stops serving
    AnnIndex.deleteIds(spark, dir, Seq(7L).toDF("vec_id"), "vec_id")
    AnnIndex.rotatedPqTopK(spark, dir, c.filter($"vec_id" < 3),
        "vec_id", "embedding", 5)
      .select("neighbor_id").as[Long].collect() should not contain 7L
    // append through the frozen rotation + codebooks re-serves it
    AnnIndex.append(spark, dir, c.filter($"vec_id" === 7),
      "vec_id", "embedding")
    AnnIndex.rotatedPqTopK(spark, dir, c.filter($"vec_id" < 3),
        "vec_id", "embedding", 16)
      .select("neighbor_id").as[Long].collect() should contain(7L)
  }

  test("OPQ x IVF-PQ: full probe + lossless geometry equals brute force; delete routes to the nested index") {
    val c = corpus(16)
    val dir = tmpDir("graft_opqivf")
    AnnIndex.buildOpqIvfPq(c, "vec_id", "embedding", dir, dim = 16,
      nlist = 4, m = 4, ksub = 16, iters = 1, opqIters = 2)
    // nprobe = nlist and ksub = corpus size: both approximations vanish
    val served = AnnIndex.opqIvfPqTopK(spark, dir, c.filter($"vec_id" < 3),
        "vec_id", "embedding", 5, nprobe = 4)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = Similarity.bruteForceTopK(c.filter($"vec_id" < 3), c,
        "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    served shouldBe brute
    // generic deleteIds on the ROOT routes to the nested ivfpq liveness
    AnnIndex.deleteIds(spark, dir, Seq(9L).toDF("vec_id"), "vec_id")
    AnnIndex.opqIvfPqTopK(spark, dir, c.filter($"vec_id" < 3),
        "vec_id", "embedding", 5, nprobe = 4)
      .select("neighbor_id").as[Long].collect() should not contain 9L
    // append through the frozen rotation + quantizers re-serves it
    AnnIndex.append(spark, dir, c.filter($"vec_id" === 9),
      "vec_id", "embedding")
    AnnIndex.opqIvfPqTopK(spark, dir, c.filter($"vec_id" < 3),
        "vec_id", "embedding", 16, nprobe = 4)
      .select("neighbor_id").as[Long].collect() should contain(9L)
  }

  test("pcaRotation is orthonormal and rotateExpr preserves cosine exactly") {
    val c = corpus(200)
    val r = Similarity.pcaRotation(c, "vec_id", "embedding", dim = 16)
    // R·Rᵀ = I
    val d = r.length
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => r(i)(k) * r(j)(k)).sum
      dot shouldBe (if (i == j) 1.0 else 0.0) +- 1e-9
    }
    // isometry through the expression path, on real pairs
    val rot = c.select(col("vec_id"),
      Similarity.rotateExpr(col("embedding"), r).as("embedding"))
    val raw = Similarity.bruteForceTopK(c.filter($"vec_id" < 2), c,
      "vec_id", "embedding", 5)
    val rotated = Similarity.bruteForceTopK(rot.filter($"vec_id" < 2), rot,
      "vec_id", "embedding", 5)
    topMap(rotated, "cosine") shouldBe topMap(raw, "cosine")
  }

  test("rotation compacts energy: leading rotated dimension carries the most variance") {
    val c = corpus(400)
    val r = Similarity.pcaRotation(c, "vec_id", "embedding", dim = 16)
    val rot = c.select(Similarity.rotateExpr(col("embedding"), r).as("y"))
    val moments = rot.select(posexplode(col("y")))
      .groupBy(col("pos")).agg(avg(col("col") * col("col")).as("e2"))
      .collect().map(row => row.getInt(0) -> row.getDouble(1)).toMap
    // eigenvalue-descending order: dim 0 ≥ every later dim (sample
    // moments equal the trained moments here — full corpus fits the cap)
    val e = (0 until 16).map(moments)
    all(e.tail.map(x => e.head - x)) should be >= -1e-9
    e.head should be > e.last
  }

  test("lossless geometry: pcapq equals brute force; maintenance delegates to the wrapped pq") {
    val c = corpus(16)
    val dir = tmpDir("pcapq")
    // ksub = corpus size makes every rotated subvector its own centroid
    AnnIndex.buildPcaPq(c, "vec_id", "embedding", dir, dim = 16, m = 4,
      ksub = 16, iters = 1)
    val q = c.filter($"vec_id" < 2)
    val served = AnnIndex.rotatedPqTopK(spark, dir, q, "vec_id", "embedding", 5)
    val brute = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 5)
    served.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet shouldBe
      brute.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // delete two ids through the wrapper; served must equal brute on the live set
    AnnIndex.deleteIds(spark, dir, c.filter($"vec_id".isin(7, 9)), "vec_id")
    val live = c.filter(!$"vec_id".isin(7, 9))
    val served2 = AnnIndex.rotatedPqTopK(spark, dir, q, "vec_id", "embedding", 5)
    served2.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet shouldBe
      Similarity.bruteForceTopK(q, live, "vec_id", "embedding", 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // debt/compaction act on the nested plain-pq index
    AnnIndex.tombstoneDebt(spark, s"$dir/pq") should be > 0.0
    AnnIndex.compact(spark, dir)
    AnnIndex.tombstoneDebt(spark, s"$dir/pq") shouldBe 0.0
    AnnIndex.rotatedPqTopK(spark, dir, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet shouldBe
      served2.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
  }

  test("generic deleteIds on a pcapq ROOT routes to the nested pq liveness") {
    val c = corpus(16)
    val dir = tmpDir("pcapqdel")
    AnnIndex.buildPcaPq(c, "vec_id", "embedding", dir, dim = 16, m = 4,
      ksub = 16, iters = 1)
    // the any-layout entry point, aimed at the ROOT — before the layout
    // routing this wrote root tombstones nothing ever subtracted and the
    // deleted rows kept being served
    AnnIndex.deleteIds(spark, dir, c.filter($"vec_id".isin(7, 9)), "vec_id")
    val servedIds = AnnIndex.rotatedPqTopK(spark, dir,
        c.filter($"vec_id" < 2), "vec_id", "embedding", 16)
      .select(col("neighbor_id")).distinct().as[Long].collect().toSet
    servedIds should not contain 7L
    servedIds should not contain 9L
    // the tombstones landed where the query path reads liveness
    AnnIndex.tombstoneDebt(spark, s"$dir/pq") should be > 0.0
    new java.io.File(s"$dir/tombstones").exists() shouldBe false
  }

  test("pcaRotation refuses short or null-holed training vectors loudly") {
    val good = corpus(20)
    val bad = good.unionByName(
      Seq((99L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.pcaRotation(bad, "vec_id", "embedding", dim = 16)
    }
    e.getMessage should include("99")
    val holed = good.select(col("vec_id"),
      transform(col("embedding"),
        x => when(col("vec_id") === 3L, lit(null)).otherwise(x)).as("embedding"))
    intercept[IllegalArgumentException] {
      Similarity.pcaRotation(holed, "vec_id", "embedding", dim = 16)
    }.getMessage should include("non-null")
  }

  test("append through the rotation equals one-shot build (frozen rotation + codebooks)") {
    val c = corpus(24, seed = 9)
    val dir = tmpDir("pcapqapp")
    AnnIndex.buildPcaPq(c.filter($"vec_id" < 12), "vec_id", "embedding", dir,
      dim = 16, m = 4, ksub = 12, iters = 1)
    AnnIndex.append(spark, dir, c.filter($"vec_id" >= 12),
      "vec_id", "embedding")
    val q = c.filter($"vec_id" < 2)
    val idx = AnnIndex.readRotated(spark, dir)
    // reference: one-shot encode of the FULL rotated corpus against the
    // stored (frozen) codebooks
    val rotAll = c.select(col("vec_id"),
      Similarity.rotateExpr(col("embedding"), idx.rotation).as("rv"))
    val model = AnnIndex.readPq(spark, idx.pqDir)
    val ref = Similarity.pqTopKWithModel(
      q.select(col("vec_id"),
        Similarity.rotateExpr(col("embedding"), idx.rotation).as("rv")),
      "vec_id", "rv",
      Similarity.PqModel(model.centroids,
        Similarity.pqEncode(rotAll, "vec_id", "rv", model.centroids,
          model.m, model.sub), model.m, model.sub), 5)
    topMap(AnnIndex.rotatedPqTopK(spark, dir, q, "vec_id", "embedding", 5),
      "cosine_pq") shouldBe topMap(ref, "cosine_pq")
  }
}
