package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Margin-based parallel-pair mining: ratio-margin semantics (hubs
  * deflate, isolated true pairs mine), mutual-best filtering, threshold
  * monotonicity, and the indexed path's exactness at full probe.
  */
class MiningSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = graft.SparkSpec.tempDir(name).toFile
    d.delete()
    d.getAbsolutePath
  }

  // X = the three axes; Y = slightly-perturbed copies of two of them
  // plus the diagonal "hub" that is equally near every axis
  private def xs = Seq(
    (0L, Array(1f, 0f, 0f)),
    (2L, Array(0f, 1f, 0f)),
    (4L, Array(0f, 0f, 1f))).toDF("vec_id", "embedding")
  private def ys = Seq(
    (1L, Array(1f, 0.05f, 0f)),
    (3L, Array(0.05f, 1f, 0f)),
    (5L, Array(0.577f, 0.577f, 0.577f))).toDF("vec_id", "embedding")

  test("mutual margin mining: true pairs mine, the hub pair is cut by mutuality") {
    val mined = Mining.mineParallelPairs(xs, ys, "vec_id", "embedding",
        k = 2, marginThresholdQ = 1050000L)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // the aligned pairs mine; the hub y5 never does — x4 elects it
    // (its only counterpart with an e3 component), but y5's own
    // backward top-2 is {x0, x2} (equal hub cosines, id tiebreak), so
    // the pair fails the MUTUAL cut: hub suppression falls out of the
    // method's structure, not just the margin value
    mined.map(m => (m._1, m._2)).toSeq shouldBe Seq((0L, 1L), (2L, 3L))
    all(mined.map(_._3)) should be >= 1050000L
    // ... and not out of the threshold: at threshold 0 the mined set is
    // unchanged (mutual-best is the structural filter)
    Mining.mineParallelPairs(xs, ys, "vec_id", "embedding",
        k = 2, marginThresholdQ = 0L)
      .select($"x_id", $"y_id").as[(Long, Long)].collect().toSet shouldBe
      Set((0L, 1L), (2L, 3L))
    // a threshold above every margin mines nothing
    Mining.mineParallelPairs(xs, ys, "vec_id", "embedding",
        k = 2, marginThresholdQ = 100000000L).count() shouldBe 0L
  }

  test("mining is deterministic and pairs are mutual") {
    val a = Mining.mineParallelPairs(xs, ys, "vec_id", "embedding", k = 2)
      .collect().toSet
    val b = Mining.mineParallelPairs(xs, ys, "vec_id", "embedding", k = 2)
      .collect().toSet
    a shouldBe b
    // mutuality: swapping the sides mines the SAME pairs (x/y roles
    // flipped) — the margin is symmetric and mutual-best is symmetric
    val swapped = Mining.mineParallelPairs(ys, xs, "vec_id", "embedding", k = 2)
      .select($"y_id".as("x_id"), $"x_id".as("y_id"), $"margin_q")
      .collect().toSet
    swapped shouldBe a
  }

  test("the IVF-indexed path at full probe equals brute-force mining") {
    // a larger corpus: 40 vectors per side, deterministic directions
    def side(off: Long) = (0 until 40).map { i =>
      (i * 2L + off, Array.tabulate(8)(j =>
        (math.sin(i * 7 + j * 3 + off).toFloat + (if (j == i % 8) 2f else 0f))))
    }.toDF("vec_id", "embedding")
    val (x, y) = (side(0L), side(1L))
    val xd = tmpDir("graft_mine_x")
    val yd = tmpDir("graft_mine_y")
    AnnIndex.buildIvf(x, "vec_id", "embedding", xd, nlist = 4, iters = 2)
    AnnIndex.buildIvf(y, "vec_id", "embedding", yd, nlist = 4, iters = 2)
    val brute = Mining.mineParallelPairs(x, y, "vec_id", "embedding",
      k = 4, marginThresholdQ = 1000000L).collect().toSet
    val indexed = Mining.mineParallelPairsIvf(spark, xd, yd, x, y,
      "vec_id", "embedding", k = 4, nprobe = 4,
      marginThresholdQ = 1000000L).collect().toSet
    brute should not be empty
    indexed shouldBe brute
  }

  test("overlapping id spaces: the aligned pair (i, i) mines") {
    // aligned corpora are typically BOTH indexed 0..n-1, so the true
    // pair IS (i, i) — the kNN legs' single-corpus self-match rule must
    // not fire across the two corpora (query ids are shifted into a
    // disjoint namespace internally)
    val x2 = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f))).toDF("vec_id", "embedding")
    val y2 = Seq(
      (0L, Array(1f, 0.05f, 0f)),
      (1L, Array(0.05f, 1f, 0f))).toDF("vec_id", "embedding")
    val mined = Mining.mineParallelPairs(x2, y2, "vec_id", "embedding",
        k = 2, marginThresholdQ = 0L)
      .select($"x_id", $"y_id").as[(Long, Long)].collect().toSet
    mined shouldBe Set((0L, 0L), (1L, 1L))
  }

  test("guards: out-of-range k refuses") {
    intercept[IllegalArgumentException] {
      Mining.mineParallelPairs(xs, ys, "vec_id", "embedding", k = 0)
    }
    intercept[IllegalArgumentException] {
      Mining.mineParallelPairs(xs, ys, "vec_id", "embedding", k = 10001)
    }
  }
}
