package graft.ext

import graft.SparkSpec
import graft.streaming.DocStreams
import org.apache.spark.sql.functions._

class CascadeDeleteSpec extends SparkSpec {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta"
  // 1 ≈ 2 ≈ 3 form one near-dup chain (2 bridges 1 and 3); 4 unrelated
  private val docs = Seq(
    (1L, base),
    (2L, base + " iota"),
    (3L, base + " iota kappa"),
    (4L, "totally unrelated words about other things entirely here"),
    (5L, "another standalone document with its own vocabulary inside"),
  )

  private def vec(seed: Int): Seq[Float] =
    Array.tabulate(8)(i => math.sin(seed * 31 + i + 1).toFloat).toSeq

  private def stageSpool(slices: Seq[Seq[(Long, String)]]): String = {
    val dir = graft.SparkSpec.tempDir("graft_cascade_spool").toString
    slices.zipWithIndex.foreach { case (rows, i) =>
      val stage = s"$dir/.stage_$i"
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val tgt = new java.io.File(dir, f"spool_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      tgt.setLastModified(1600000000000L + i * 60000L)
    }
    dir
  }

  private def buildFixture(): (String, String, String) = {
    val root = graft.SparkSpec.tempDir("graft_cascade").toString
    val emb = docs.map { case (id, _) => (id, vec(id.toInt)) }
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    AnnIndex.buildPq(emb, "vec_id", "embedding", s"$root/pq", m = 4, ksub = 4)
    TextIndex.build(docs.toDF("doc_id", "text"), "doc_id", "text",
      s"$root/inv", parts = 4)
    val spool = stageSpool(Seq(docs.take(3), docs.drop(3)))
    DocStreams.runMinhashDedupOnce(spark, spool, s"$root/store",
      numHashes = 32, bands = 8, shingleSize = 3, minEstJaccard = 0.5,
      withComponents = true)
    (root, s"$root/store", spool)
  }

  test("forget removes a doc from every store; deleting the bridge splits the cluster") {
    val (root, store, _) = buildFixture()
    // pre-state sanity: the chain is one component under the bridge
    DocStreams.readPairs(spark, store).count() should be >= 2L
    val report = CascadeDelete.forget(spark, Seq(2L).toDF("doc_id"), "doc_id",
      CascadeTargets(annIndexes = Seq(s"$root/pq"),
        textIndexes = Seq(s"$root/inv"), dedupStores = Seq(store)))
      .collect()
    report should have length 3
    report.map(_.getAs[Boolean]("compacted")).foreach(_ shouldBe false) // 1/5 < 0.25
    // ANN: doc 2 never served again
    val emb = docs.map { case (id, _) => (id, vec(id.toInt)) }
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val ann = AnnIndex.pqTopK(spark, s"$root/pq",
        emb.filter(col("vec_id") === 1), "vec_id", "embedding", 5)
      .select("neighbor_id").as[Long].collect()
    ann should not contain 2L
    ann.toSet shouldBe Set(3L, 4L, 5L)
    // text: BM25 over the maintained index equals batch over survivors
    val q = Seq((0L, "alpha beta")).toDF("qid", "qtext")
    val served = TextIndex.bm25TopKIndexed(spark, s"$root/inv", q, "qid", "qtext", 5)
      .select("doc_id").as[Long].collect().toSet
    val batch = TextSearch.bm25TopK(
        docs.filter(_._1 != 2L).toDF("doc_id", "text"), "doc_id", "text",
        q, "qid", "qtext", 5)
      .select("doc_id").as[Long].collect().toSet
    served shouldBe batch
    served should not contain 2L
    // dedup pairs: everything touching 2 is gone
    val pairs = DocStreams.readPairs(spark, store)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs.foreach { case (a, b) => a should not be 2L; b should not be 2L }
    // components: with the bridge gone, 1 and 3 are singletons again —
    // the store must have been REBUILT (a tombstone cannot split a label)
    val comps = IncrementalComponents.readWithNodes(spark, s"$store/comps",
        docs.filter(_._1 != 2L).map(_._1).toDF("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (!pairs.contains((1L, 3L))) { // chain, not triangle, at these params
      comps(1L) shouldBe 1L
      comps(3L) shouldBe 3L
    }
    // idempotent: the same forget again changes nothing
    CascadeDelete.forget(spark, Seq(2L).toDF("doc_id"), "doc_id",
      CascadeTargets(dedupStores = Seq(store)))
    DocStreams.readPairs(spark, store)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet shouldBe pairs
  }

  test("debt at or above threshold routes to compaction; served views unchanged") {
    val (root, store, _) = buildFixture()
    // deleting 2 of 5 docs = 40% sig debt >= 0.25 → dedup store compacts
    val report = CascadeDelete.forget(spark, Seq(2L, 4L).toDF("doc_id"), "doc_id",
      CascadeTargets(annIndexes = Seq(s"$root/pq"),
        textIndexes = Seq(s"$root/inv"), dedupStores = Seq(store)))
      .collect().map(r => (r.getAs[String]("kind"), r.getAs[Boolean]("compacted")))
      .toMap
    report("dedup") shouldBe true
    report("ann") shouldBe true  // 2/5 codes dead = 40%
    report("text") shouldBe true
    // compaction folded the log: debt zero, tombstone dirs gone
    DocStreams.dedupStoreDebt(spark, store) shouldBe 0.0
    new java.io.File(s"$store/id_tombstones").exists() shouldBe false
    AnnIndex.tombstoneDebt(spark, s"$root/pq") shouldBe 0.0
    TextIndex.tombstoneDebt(spark, s"$root/inv") shouldBe 0.0
    // served views are the survivor views
    spark.read.parquet(s"$store/sigs").select("__id").distinct()
      .as[Long].collect().toSet shouldBe Set(1L, 3L, 5L)
    val q = Seq((0L, "alpha beta")).toDF("qid", "qtext")
    TextIndex.bm25TopKIndexed(spark, s"$root/inv", q, "qid", "qtext", 5)
      .select("doc_id").as[Long].collect().toSet should contain noneOf (2L, 4L)
  }

  test("streaming takedown feed equals one direct forget of the union; markers skip replays") {
    val (root, store, _) = buildFixture()
    // reference: a second identical fixture forgotten in ONE direct call
    val (root2, store2, _) = buildFixture()
    CascadeDelete.forget(spark, Seq(2L, 4L).toDF("doc_id"), "doc_id",
      CascadeTargets(annIndexes = Seq(s"$root2/pq"),
        textIndexes = Seq(s"$root2/inv"), dedupStores = Seq(store2)))
    // streamed: the same ids arrive as two takedown batches
    val spool = graft.SparkSpec.tempDir("graft_takedown").toString
    Seq(Seq(2L), Seq(4L)).zipWithIndex.foreach { case (ids, i) =>
      val stage = s"$spool/.stage_$i"
      ids.toDF("doc_id").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val tgt = new java.io.File(spool, f"spool_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      tgt.setLastModified(1600000000000L + i * 60000L)
    }
    val markers = s"$root/takedown_markers"
    DocStreams.runForgetOnce(spark, spool, markers,
      CascadeTargets(annIndexes = Seq(s"$root/pq"),
        textIndexes = Seq(s"$root/inv"), dedupStores = Seq(store)))
    // every served surface equals the direct-forget reference
    val emb = docs.map { case (id, _) => (id, vec(id.toInt)) }
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    def annIds(r: String) = AnnIndex.pqTopK(spark, s"$r/pq",
        emb.filter(col("vec_id") === 1), "vec_id", "embedding", 5)
      .select("neighbor_id").as[Long].collect().toSet
    annIds(root) shouldBe annIds(root2)
    def pairs(st: String) = DocStreams.readPairs(spark, st)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs(store) shouldBe pairs(store2)
    // markers landed, one per SPOOL FILE (batchId-keyed markers would
    // remap across restarts — file-name keying is the compliance-safe
    // form); a replayed run is a no-op
    new java.io.File(markers).listFiles()
      .count(_.getName.startsWith("_file_")) shouldBe 2
    val before = pairs(store)
    DocStreams.runForgetOnce(spark, spool, markers,
      CascadeTargets(dedupStores = Seq(store)))
    pairs(store) shouldBe before
    // a LATE spool file whose mtime sorts BEFORE the processed ones
    // must still be forgotten: with batchId-keyed markers its batch
    // would renumber to an already-marked id and silently skip — an
    // unforgotten document on a compliance path
    val stage = s"$spool/.stage_late"
    Seq(1L).toDF("doc_id").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val tgt = new java.io.File(spool, "spool_000_late.parquet")
    java.nio.file.Files.move(part.toPath, tgt.toPath)
    tgt.setLastModified(1600000000000L - 60000L) // earliest mtime in the spool
    DocStreams.runForgetOnce(spark, spool, markers,
      CascadeTargets(dedupStores = Seq(store)))
    DocStreams.dedupLiveIds(spark, store)
      .as[Long].collect().toSet should not contain 1L
    new java.io.File(markers).listFiles()
      .count(_.getName.startsWith("_file_")) shouldBe 3
    // markers written under the PRIOR key formats still count as
    // processed: a pre-existing store must not re-forget (and
    // re-compact) its whole spool after the key-format upgrade — the
    // gen-1 bare-basename marker below makes this file look already
    // handled, so id 3 stays live and no new-format marker appears
    val stageLegacy = s"$spool/.stage_legacy"
    Seq(3L).toDF("doc_id").coalesce(1).write.mode("overwrite").parquet(stageLegacy)
    val partLegacy = new java.io.File(stageLegacy).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val tgtLegacy = new java.io.File(spool, "spool_legacy.parquet")
    java.nio.file.Files.move(partLegacy.toPath, tgtLegacy.toPath)
    tgtLegacy.setLastModified(1600000000000L + 120000L)
    graft.util.Hfs.touch(spark, s"$markers/_file_spool_legacy.parquet")
    DocStreams.runForgetOnce(spark, spool, markers,
      CascadeTargets(dedupStores = Seq(store)))
    DocStreams.dedupLiveIds(spark, store)
      .as[Long].collect().toSet should contain(3L)
    new java.io.File(markers).listFiles()
      .count(_.getName.startsWith("_file_spool_legacy.parquet_")) shouldBe 0
  }

  test("quantile-store forget compares on the key's NATIVE type; unrepresentable ids refuse loudly") {
    import graft.streaming.EventStreams
    // a STRING-keyed quantile store: the old long-cast compare turned
    // the corpus key into null — the anti-join never matched, every row
    // survived, and forget() reported success while deleting nothing
    val rows = (1 to 40).map(i => (s"$i", i.toLong)).toDF("k", "v")
    val store = graft.SparkSpec.tempDir("graft_q_forget_nat").toString + "/qs"
    EventStreams.rebuildQuantileStore(spark, store, rows, col("k"), col("v"), 8)
    val target = QuantileStoreTarget(store, rows, "k", col("v"), 8)
    CascadeDelete.forget(spark, (1 to 20).map(_.toLong).toDF("doc_id"),
      "doc_id", CascadeTargets(quantileStores = Seq(target)))
    val survivors = rows.filter(col("v") > 20)
    val expect = Sketch.quantileSketch(survivors, col("k"), col("v"), 8)
    val got = EventStreams.readQuantileSketch(spark, store, 8)
    got.level shouldBe expect.level
    got.items.orderBy("__v").collect().map(_.getLong(1)).toSeq shouldBe
      expect.items.orderBy("__v").collect().map(_.getLong(1)).toSeq
    // and ids that cannot be represented in a LONG-keyed store's key
    // type refuse loudly instead of silently keeping every row
    val numRows = (1 to 10).map(i => (i.toLong, i.toLong)).toDF("k", "v")
    val numStore = graft.SparkSpec.tempDir("graft_q_forget_bad").toString + "/qs"
    EventStreams.rebuildQuantileStore(spark, numStore, numRows,
      col("k"), col("v"), 8)
    val e = intercept[IllegalArgumentException] {
      CascadeDelete.forget(spark, Seq("abc").toDF("doc_id"), "doc_id",
        CascadeTargets(quantileStores =
          Seq(QuantileStoreTarget(numStore, numRows, "k", col("v"), 8))))
    }
    e.getMessage should include("not representable")
  }

  test("forgetting absent ids is a no-op on every store") {
    val (root, store, _) = buildFixture()
    val before = DocStreams.readPairs(spark, store).collect().toSet
    CascadeDelete.forget(spark, Seq(999L).toDF("doc_id"), "doc_id",
      CascadeTargets(annIndexes = Seq(s"$root/pq"),
        textIndexes = Seq(s"$root/inv"), dedupStores = Seq(store)))
    DocStreams.readPairs(spark, store).collect().toSet shouldBe before
    AnnIndex.pqTopK(spark, s"$root/pq",
        docs.map { case (id, _) => (id, vec(id.toInt)) }
          .toDF("vec_id", "embedding")
          .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
          .filter(col("vec_id") === 1),
        "vec_id", "embedding", 5)
      .count() shouldBe 4L
  }
}
