package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Time-travel (as-of) reads over maintained ANN stores: the tombstone
  * log's sequence numbers are a usable epoch clock, so any historical
  * maintenance state since the last compaction can be served.
  */
class AnnAsOfSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(ids: Seq[Long], seed: Int) = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  /** build(0..7) → append(8..15) → delete{3,11} → update{6, new vector}:
    * epoch 0 = post-first-delete, epoch 1 = mid-update (6 absent),
    * epoch 2 = current (6's new generation).
    */
  private def stagedHistory(dir: String): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val base = vecs(0L until 16L, 41)
    AnnIndex.buildPq(base.filter(col("vec_id") < 8), "vec_id", "embedding",
      dir, m = 4, ksub = 8, iters = 1)
    AnnIndex.append(spark, dir, base.filter(col("vec_id") >= 8),
      "vec_id", "embedding")
    AnnIndex.deleteIds(spark, dir, Seq(3L, 11L).toDF("vec_id"), "vec_id")
    AnnIndex.update(spark, dir, vecs(Seq(6L), 99), "vec_id", "embedding")
  }

  private def liveIds(dir: String, asOf: Option[Long]): Set[Long] =
    AnnIndex.readPqAsOf(spark, dir, asOf).codes
      .select(col("__id")).distinct().as[Long].collect().toSet

  test("asOf serves each maintenance epoch's live set") {
    val dir = "/tmp/graft_asof_spec/pq"
    stagedHistory(dir)
    val all = (0L until 16L).toSet
    liveIds(dir, Some(0L)) shouldBe all - 3L - 11L          // post-delete, 6 original
    liveIds(dir, Some(1L)) shouldBe all - 3L - 11L - 6L     // mid-update cut
    liveIds(dir, Some(2L)) shouldBe all - 3L - 11L          // current
    liveIds(dir, None) shouldBe all - 3L - 11L
    // a horizon past the newest epoch is the live view
    liveIds(dir, Some(Long.MaxValue)) shouldBe liveIds(dir, None)
  }

  test("asOf(0) serves the ORIGINAL generation of an updated id") {
    val dir = "/tmp/graft_asof_spec/pq_gen"
    stagedHistory(dir)
    // 6's codes at epoch 0 must equal the original encode, not the update's
    val at0 = AnnIndex.readPqAsOf(spark, dir, Some(0L)).codes
      .filter(col("__id") === 6L).select(col("__j"), col("__code"))
      .as[(Int, Int)].collect().toMap
    val now = AnnIndex.readPq(spark, dir).codes
      .filter(col("__id") === 6L).select(col("__j"), col("__code"))
      .as[(Int, Int)].collect().toMap
    at0.keySet shouldBe now.keySet
    at0 should not be now // the update re-encoded a different vector
  }

  test("asOf composes with the served PQ top-k") {
    val dir = "/tmp/graft_asof_spec/pq_serve"
    stagedHistory(dir)
    val q = vecs(Seq(0L), 41)
    val at1 = AnnIndex.pqTopK(spark, dir, q, "vec_id", "embedding",
        k = 16, asOf = Some(1L))
      .select(col("neighbor_id")).as[Long].collect().toSet
    at1 should not contain 6L
    at1 should not contain 3L
    val at0 = AnnIndex.pqTopK(spark, dir, q, "vec_id", "embedding",
        k = 16, asOf = Some(0L))
      .select(col("neighbor_id")).as[Long].collect().toSet
    at0 should contain(6L)
  }

  test("asOf composes with the partition-pruned IVF×PQ path") {
    val dir = "/tmp/graft_asof_spec/ivfpq"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val base = vecs(0L until 16L, 43)
    AnnIndex.buildIvfPq(base, "vec_id", "embedding", dir,
      nlist = 2, m = 4, ksub = 8, iters = 1)
    AnnIndex.deleteIds(spark, dir, Seq(5L).toDF("vec_id"), "vec_id")
    val q = base.filter(col("vec_id") === 0L)
    val idx = AnnIndex.readIvfPq(spark, dir)
    val at0 = AnnIndex.ivfPqTopK(spark, idx, q, "vec_id", "embedding",
        k = 16, nprobe = 2, asOf = Some(0L))
      .select(col("neighbor_id")).as[Long].collect().toSet
    val now = AnnIndex.ivfPqTopK(spark, idx, q, "vec_id", "embedding",
        k = 16, nprobe = 2)
      .select(col("neighbor_id")).as[Long].collect().toSet
    // the delete got epoch 0, so asOf(0) already excludes id 5 (build
    // rows are epoch 0 too — appends share the epoch of the NEXT delete)
    at0 shouldBe now
    at0 should not contain 5L
  }

  test("text-index asOf: epoch cuts and horizon-past-newest = live view") {
    val dir = "/tmp/graft_asof_spec/text"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val docs = Seq((1L, "spark shuffle join"), (2L, "window scan spark"),
      (3L, "spark window"), (4L, "join scan")).toDF("doc_id", "text")
    TextIndex.build(docs, "doc_id", "text", dir, parts = 2)
    TextIndex.deleteDocs(spark, dir, Seq(3L).toDF("doc_id"), "doc_id")
    TextIndex.updateDocs(spark, dir,
      Seq((2L, "merge merge merge")).toDF("doc_id", "text"), "doc_id", "text")
    val q = Seq((0L, "spark")).toDF("qid", "qtext")
    def docsAt(asOf: Option[Long]): Set[Long] =
      TextIndex.bm25TopKIndexed(spark, dir, q, "qid", "qtext", 10,
          asOf = asOf)
        .select(col("doc_id")).as[Long].collect().toSet
    // epoch 0: post-delete{3}, doc 2's ORIGINAL text (contains 'spark')
    docsAt(Some(0L)) shouldBe Set(1L, 2L)
    // epoch 1: mid-update — doc 2 absent entirely
    docsAt(Some(1L)) shouldBe Set(1L)
    // live: doc 2's new text has no 'spark'
    docsAt(None) shouldBe Set(1L)
    // horizon past the newest epoch is the live view (scores included)
    val live = TextIndex.bm25TopKIndexed(spark, dir, q, "qid", "qtext", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val past = TextIndex.bm25TopKIndexed(spark, dir, q, "qid", "qtext", 10,
        asOf = Some(Long.MaxValue))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    past shouldBe live
  }
}
