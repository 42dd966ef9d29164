package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fleet maintenance sweep: threshold routing per store family, exact
  * before/after accounting, result preservation across the compaction,
  * and eager argument validation (no mutation on a malformed fleet).
  */
class StoreMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = graft.SparkSpec.tempDir(name).toFile
    d.delete()
    d.getAbsolutePath
  }

  private def corpus = Seq(
    (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 1.0f)),
    (3L, Array(-1.0f, 0.0f)), (4L, Array(0.7f, 0.7f)),
  ).toDF("vec_id", "embedding")

  test("sweep compacts only stores at/above threshold; before/after exact; results preserved") {
    val base = tmpDir("graft_sweepspec")
    // text inverted: 6 docs, 1 deleted → debt 1/6 < 0.18 → left alone
    val docs = Seq((1L, "spark shuffle join"), (2L, "window scan"),
      (3L, "spark window"), (4L, "join scan"), (5L, "merge spark"),
      (6L, "scan join window")).toDF("doc_id", "text")
    TextIndex.build(docs, "doc_id", "text", s"$base/inv", parts = 4)
    TextIndex.deleteDocs(spark, s"$base/inv",
      docs.filter($"doc_id" === 3), "doc_id")
    // ann pq: 5 docs × m=2 = 10 code rows, 1 doc deleted → debt 0.2 → compacted
    AnnIndex.buildPq(corpus, "vec_id", "embedding", s"$base/pq",
      m = 2, ksub = 3, iters = 1)
    AnnIndex.deleteIds(spark, s"$base/pq", Seq(3L).toDF("vec_id"), "vec_id")
    // dedup signature store: 4 sig rows, 2 ids tombstoned → debt 0.5 → compacted
    Seq((1L, 0), (2L, 0), (3L, 1), (4L, 1)).toDF("__id", "__pb")
      .write.partitionBy("__pb").parquet(s"$base/dedup/sigs")
    Seq(3L, 4L).toDF("__id").write.parquet(s"$base/dedup/id_tombstones")

    val q = corpus.filter($"vec_id" === 0)
    val servedBefore = AnnIndex.pqTopK(spark, s"$base/pq", q,
      "vec_id", "embedding", 3).orderBy("rank").collect().toSeq
    val bm25Before = TextIndex.bm25TopKIndexed(spark, s"$base/inv",
      Seq((0L, "spark scan")).toDF("qid", "qtext"), "qid", "qtext", 5)
      .orderBy("rank").collect().toSeq

    val report = StoreMaintenance.sweep(spark, Seq(
        StoreRef("inv", "text", s"$base/inv"),
        StoreRef("pq", "ann", s"$base/pq"),
        StoreRef("sigs", "dedup", s"$base/dedup")),
      threshold = 0.18)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5),
          r.getLong(6), r.getLong(7), r.getDouble(8)))).toMap
    report("inv") shouldBe ((6L, 5L, 1.0 / 6, false, 6L, 5L, 1.0 / 6))
    report("pq") shouldBe ((10L, 8L, 0.2, true, 8L, 8L, 0.0))
    report("sigs") shouldBe ((4L, 2L, 0.5, true, 2L, 2L, 0.0))

    // compacted stores: tombstone log physically gone; skipped store keeps its
    graft.util.Hfs.exists(spark, s"$base/pq/tombstones") shouldBe false
    graft.util.Hfs.exists(spark, s"$base/dedup/id_tombstones") shouldBe false
    graft.util.Hfs.exists(spark, s"$base/inv/tombstones") shouldBe true
    // served results identical across the sweep
    AnnIndex.pqTopK(spark, s"$base/pq", q, "vec_id", "embedding", 3)
      .orderBy("rank").collect().toSeq shouldBe servedBefore
    TextIndex.bm25TopKIndexed(spark, s"$base/inv",
      Seq((0L, "spark scan")).toDF("qid", "qtext"), "qid", "qtext", 5)
      .orderBy("rank").collect().toSeq shouldBe bm25Before
  }

  test("malformed fleets fail eagerly, before any store is touched") {
    val base = tmpDir("graft_sweepbad")
    TextIndex.build(Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text",
      s"$base/inv", parts = 2)
    TextIndex.deleteDocs(spark, s"$base/inv",
      Seq(1L).toDF("doc_id"), "doc_id")
    def full = StoreRef("inv", "text", s"$base/inv") // debt 1.0: would compact
    intercept[IllegalArgumentException] {
      StoreMaintenance.sweep(spark, Seq.empty, 0.5)
    }
    intercept[IllegalArgumentException] {
      StoreMaintenance.sweep(spark, Seq(full), 0.0)
    }
    intercept[IllegalArgumentException] {
      StoreMaintenance.sweep(spark,
        Seq(full, StoreRef("x", "wat", s"$base/nope")), 0.5)
    }
    intercept[IllegalArgumentException] {
      StoreMaintenance.sweep(spark,
        Seq(full, StoreRef("inv", "dedup", s"$base/other")), 0.5)
    }
    // every rejection happened before mutation: the tombstone log survives
    graft.util.Hfs.exists(spark, s"$base/inv/tombstones") shouldBe true
  }

  test("composed roots: health/sweep/fsck route to the nested table-owning index") {
    val base = tmpDir("graft_composedspec")
    // 4-dim corpus so OPQ has a real rotation to learn
    val c4 = Seq(
      (0L, Array(1.0f, 0.0f, 0.2f, 0.1f)), (1L, Array(0.9f, 0.1f, 0.3f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.1f, 0.9f)), (3L, Array(-1.0f, 0.0f, 0.8f, 0.2f)),
      (4L, Array(0.7f, 0.7f, 0.5f, 0.4f)),
    ).toDF("vec_id", "embedding")
    AnnIndex.buildOpq(c4, "vec_id", "embedding", s"$base/opq",
      dim = 4, m = 2, ksub = 3, iters = 1, opqIters = 1)
    AnnIndex.buildOpqIvfPq(c4, "vec_id", "embedding", s"$base/opqivfpq",
      dim = 4, nlist = 2, m = 2, ksub = 3, iters = 1, opqIters = 1)
    // pre-fix these THREW: storeCounts read `$root/codes`, which a
    // composed root does not have (tables live in the nested index)
    val h0 = AnnIndex.healthReport(spark, Seq(
        "opq" -> s"$base/opq", "opqivfpq" -> s"$base/opqivfpq"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    h0("opq") shouldBe ((10L, 10L))      // 5 docs × m=2 code rows
    h0("opqivfpq") shouldBe ((10L, 10L))
    // delete one id (routes to the nested index); debt = 2/10 ≥ 0.18
    AnnIndex.deleteIds(spark, s"$base/opq", Seq(3L).toDF("vec_id"), "vec_id")
    AnnIndex.deleteIds(spark, s"$base/opqivfpq", Seq(3L).toDF("vec_id"), "vec_id")
    val q = c4.filter($"vec_id" === 0)
    val servedBefore = AnnIndex.opqIvfPqTopK(spark, s"$base/opqivfpq", q,
      "vec_id", "embedding", 3, nprobe = 2).orderBy("rank").collect().toSeq
    val report = StoreMaintenance.sweep(spark, Seq(
        StoreRef("opq", "ann", s"$base/opq"),
        StoreRef("opqivfpq", "ann", s"$base/opqivfpq")),
      threshold = 0.18)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(5), r.getLong(6),
          r.getDouble(8)))).toMap
    report("opq") shouldBe ((10L, 8L, true, 8L, 0.0))
    report("opqivfpq") shouldBe ((10L, 8L, true, 8L, 0.0))
    // the NESTED tombstone logs are gone; serving unchanged post-compaction
    graft.util.Hfs.exists(spark, s"$base/opq/pq/tombstones") shouldBe false
    graft.util.Hfs.exists(spark, s"$base/opqivfpq/ivfpq/tombstones") shouldBe false
    AnnIndex.opqIvfPqTopK(spark, s"$base/opqivfpq", q,
        "vec_id", "embedding", 3, nprobe = 2)
      .orderBy("rank").collect().toSeq shouldBe servedBefore
    // fsck on the composed root sees the survivor live set
    val r = StoreMaintenance.fsck(spark, c4.select($"vec_id"), "vec_id",
      Seq(StoreRef("opq", "ann", s"$base/opq"))).head()
    r.getAs[Long]("live_ids") shouldBe 4L
    r.getAs[Long]("missing_ids") shouldBe 1L
  }

  test("sweep refuses to compact a fully-tombstoned dedup store") {
    val base = tmpDir("graft_sweepdead")
    Seq((1L, 0), (2L, 0)).toDF("__id", "__pb")
      .write.partitionBy("__pb").parquet(s"$base/dedup/sigs")
    Seq(1L, 2L).toDF("__id").write.parquet(s"$base/dedup/id_tombstones")
    // debt 1.0 ≥ threshold, 0 live rows → rebuild-or-drop, loudly
    val e = intercept[IllegalArgumentException] {
      StoreMaintenance.sweep(spark,
        Seq(StoreRef("sigs", "dedup", s"$base/dedup")), 0.5)
    }
    e.getMessage should include("fully-tombstoned")
    // nothing was compacted: the store still holds its dead rows + log
    spark.read.parquet(s"$base/dedup/sigs").count() shouldBe 2L
    graft.util.Hfs.exists(spark, s"$base/dedup/id_tombstones") shouldBe true
  }

  test("fsck: consistent store, then missing after delete, orphans after base shrink") {
    val base = tmpDir("graft_fsckspec")
    val docs = Seq((1L, "spark shuffle join"), (2L, "window scan"),
      (3L, "spark window"), (4L, "join scan")).toDF("doc_id", "text")
    TextIndex.build(docs, "doc_id", "text", s"$base/inv", parts = 2)
    AnnIndex.buildPq(corpus, "vec_id", "embedding", s"$base/pq",
      m = 2, ksub = 3, iters = 1)
    val refs = Seq(StoreRef("inv", "text", s"$base/inv"))
    def row(b: org.apache.spark.sql.DataFrame, r: Seq[StoreRef]) =
      StoreMaintenance.fsck(spark, b, "doc_id", r).collect().map(x =>
        (x.getAs[String]("store"), x.getAs[Long]("base_ids"),
         x.getAs[Long]("live_ids"), x.getAs[Long]("missing_ids"),
         x.getAs[Long]("orphan_ids"), x.getAs[Boolean]("consistent")))
    // freshly built over the full base: consistent
    row(docs.select($"doc_id"), refs).toSeq shouldBe Seq(("inv", 4L, 4L, 0L, 0L, true))
    // delete doc 3 but audit against the full base: 1 missing
    TextIndex.deleteDocs(spark, s"$base/inv", Seq(3L).toDF("doc_id"), "doc_id")
    row(docs.select($"doc_id"), refs).toSeq shouldBe Seq(("inv", 4L, 3L, 1L, 0L, false))
    // shrink the base below the live set: live {1,2,4} vs base {1,2} —
    // doc 4 is an orphan, nothing is missing
    row(docs.filter($"doc_id" <= 2).select($"doc_id"), refs).toSeq shouldBe
      Seq(("inv", 2L, 3L, 0L, 1L, false))
    // ann store audited against its vector-id base: consistent, then the
    // tombstone shows as missing
    val vecBase = corpus.select($"vec_id")
    val annRef = Seq(StoreRef("pq", "ann", s"$base/pq"))
    StoreMaintenance.fsck(spark, vecBase, "vec_id", annRef)
      .head().getAs[Boolean]("consistent") shouldBe true
    AnnIndex.deleteIds(spark, s"$base/pq", Seq(2L).toDF("vec_id"), "vec_id")
    val r = StoreMaintenance.fsck(spark, vecBase, "vec_id", annRef).head()
    r.getAs[Long]("missing_ids") shouldBe 1L
    r.getAs[Boolean]("consistent") shouldBe false
    // unknown kind rejected eagerly
    intercept[IllegalArgumentException] {
      StoreMaintenance.fsck(spark, vecBase, "vec_id",
        Seq(StoreRef("x", "wat", s"$base/nope")))
    }
  }
}
