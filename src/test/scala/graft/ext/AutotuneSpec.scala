package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Recall-driven nprobe selection: the curve is measured per candidate,
  * the smallest candidate meeting the target wins, and a target nobody
  * meets falls back to the largest candidate.
  */
class AutotuneSpec extends SparkSpec {
  import spark.implicits._

  private def idx(): (String, org.apache.spark.sql.DataFrame) = {
    val rnd = new scala.util.Random(17)
    val corpus = (0L until 40L)
      .map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val dir = graft.SparkSpec.tempDir("graft_tune").toString + "/ivf"
    AnnIndex.buildIvf(corpus, "vec_id", "embedding", dir, nlist = 4, iters = 1)
    (dir, corpus.filter($"vec_id" < 5))
  }

  test("full probe reaches recall 1.0; chosen is the smallest meeting candidate") {
    val (dir, q) = idx()
    val rows = AnnIndex.autotuneNprobe(spark, dir, q, "vec_id", "embedding",
        k = 3, targetRecallQ = 1000000L, candidates = Seq(1, 2, 4))
      .collect().map(r => r.getAs[Int]("nprobe") ->
        (r.getAs[Long]("recall_q"), r.getAs[Boolean]("meets"),
         r.getAs[Boolean]("chosen"))).toMap
    // nprobe = nlist scans everything: the exact top-k, recall 1.0
    rows(4)._1 shouldBe 1000000L
    rows(4)._2 shouldBe true
    // exactly one chosen row, and it is the smallest meeting candidate
    val chosen = rows.filter(_._2._3).keys.toSeq
    chosen should have size 1
    chosen.head shouldBe rows.filter(_._2._2).keys.min
    // recall is monotone non-decreasing in nprobe on this index
    rows(1)._1 should be <= rows(2)._1
    rows(2)._1 should be <= rows(4)._1
  }

  test("an unmeetable target falls back to the largest candidate") {
    val (dir, q) = idx()
    val rows = AnnIndex.autotuneNprobe(spark, dir, q, "vec_id", "embedding",
        k = 3, targetRecallQ = 1000000L, candidates = Seq(1, 2))
      .collect().map(r => r.getAs[Int]("nprobe") ->
        (r.getAs[Boolean]("meets"), r.getAs[Boolean]("chosen"))).toMap
    if (!rows(1)._1 && !rows(2)._1) rows(2)._2 shouldBe true
    else rows.filter(_._2._1).keys.min shouldBe rows.filter(_._2._2).keys.head
  }

  test("malformed candidate lists are rejected eagerly") {
    val (dir, q) = idx()
    intercept[IllegalArgumentException] {
      AnnIndex.autotuneNprobe(spark, dir, q, "vec_id", "embedding",
        k = 3, targetRecallQ = 500000L, candidates = Seq(4, 2, 1))
    }
    intercept[IllegalArgumentException] {
      AnnIndex.autotuneNprobe(spark, dir, q, "vec_id", "embedding",
        k = 3, targetRecallQ = 2000000L, candidates = Seq(1, 2))
    }
  }
}
