package graft.streaming

import graft.SparkSpec
import graft.ext.Dedup

class DocStreamsSpec extends SparkSpec {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta"
  private val docs = Seq(
    (1L, base),                                  // batch 1
    (3L, base),                                  // batch 1 — exact dup of 1
    (4L, "totally unrelated words about other things entirely here"), // batch 1
    (2L, base + " iota"),                        // batch 2 — near-dup of 1 and 3
  )

  private def stageSpool(slices: Seq[Seq[(Long, String)]]): String = {
    val dir = graft.SparkSpec.tempDir("graft_doc_spool").toString
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

  test("incremental minhash near-dup equals the batch form: within-batch and cross-batch pairs") {
    val spool = stageSpool(Seq(docs.take(3), docs.drop(3)))
    val store = graft.SparkSpec.tempDir("graft_mh_store").toString + "/s"
    val streamed = DocStreams.runMinhashDedupOnce(spark, spool, store,
        numHashes = 32, bands = 8, shingleSize = 3, minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val batch = Dedup.minhashCandidates(docs.toDF("doc_id", "text"), "doc_id", "text",
        numHashes = 32, bands = 8, shingleSize = 3, minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    streamed shouldBe batch
    // the fixture exercised both paths: (1,3) within batch 1, and 2's
    // arrival matched 1 and 3 from the STORE
    streamed.keySet should contain allOf ((1L, 3L), (1L, 2L), (2L, 3L))
    // exact duplicates estimate jaccard 1.0
    streamed((1L, 3L)) shouldBe 1.0
    // the signature store persisted one banded generation per doc
    spark.read.parquet(s"$store/sigs").select("__id").distinct().count() shouldBe 4
  }

  test("incremental simhash near-dup equals the batch form: cross-batch pairs via the store") {
    // doc 2 is an exact copy arriving in the SECOND batch: its pairs with
    // 1 and 3 can only surface through the persisted signature store
    val sdocs = Seq(
      (1L, base), (3L, base),
      (4L, "totally unrelated words about other things entirely here"),
      (2L, base))
    val spool = stageSpool(Seq(sdocs.take(3), sdocs.drop(3)))
    val store = graft.SparkSpec.tempDir("graft_sh_store").toString + "/s"
    val streamed = DocStreams.runSimhashDedupOnce(spark, spool, store, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val batch = Dedup.simhashPairs(sdocs.toDF("doc_id", "text"), "doc_id", "text",
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    streamed shouldBe batch
    // (1,3) within batch 1; (1,2) and (2,3) cross-batch via the store
    streamed.keySet should contain allOf ((1L, 3L), (1L, 2L), (2L, 3L))
    streamed((1L, 2L)) shouldBe 0 // exact copies: identical signatures
    // the reader helper serves the same live view
    DocStreams.readSimhashPairs(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .toMap shouldBe streamed
  }

  test("store compaction: pairs/sigs/comps views identical, per-batch file accretion collapsed") {
    val spool = stageSpool(Seq(docs.take(3), docs.drop(3)))
    val store = graft.SparkSpec.tempDir("graft_mh_compact").toString + "/s"
    val streamed = DocStreams.runMinhashDedupOnce(spark, spool, store,
        numHashes = 32, bands = 8, shingleSize = 3, minEstJaccard = 0.5,
        withComponents = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sigsBefore = spark.read.parquet(s"$store/sigs").collect().toSet
    val compsBefore = graft.ext.IncrementalComponents.read(spark, s"$store/comps")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    def parquetFiles(p: String): Int = {
      val root = new java.io.File(p)
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(root)
    }
    val before = parquetFiles(store)
    DocStreams.compactDedupStore(spark, store)
    val after = parquetFiles(store)
    after should be < before // the per-batch appended file sets collapsed

    DocStreams.readPairs(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap shouldBe streamed
    spark.read.parquet(s"$store/sigs").collect().toSet shouldBe sigsBefore
    graft.ext.IncrementalComponents.read(spark, s"$store/comps")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap shouldBe compsBefore
    // a compacted comps store keeps accepting updates: the sidecar was
    // reset with the single surviving generation
    graft.ext.IncrementalComponents.update(spark, s"$store/comps",
      Seq((2L, 4L)).toDF("id_a", "id_b"))
    graft.ext.IncrementalComponents.read(spark, s"$store/comps")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      .apply(4L) shouldBe 1L // 4 joins the (1,2,3) cluster via 2
  }

  test("streaming index append: spooled batches equal a one-shot frozen-codebook encode") {
    import graft.ext.{AnnIndex, Similarity}
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f)), (4L, Array(0.7f, 0.7f)), (5L, Array(0.5f, 0.8f)),
    ).toDF("vec_id", "embedding")
    val idx = graft.SparkSpec.tempDir("graft_stream_idx").toString + "/ivfpq"
    AnnIndex.buildIvfPq(corpus.filter($"vec_id" < 3), "vec_id", "embedding",
      idx, nlist = 2, m = 2, ksub = 3, iters = 1)
    // spool the other half as two arrival files
    val spool = graft.SparkSpec.tempDir("graft_emb_spool").toString
    Seq(Seq(3L, 4L), Seq(5L)).zipWithIndex.foreach { case (ids, i) =>
      val stage = s"$spool/.stage_$i"
      corpus.filter($"vec_id".isin(ids: _*)).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val tgt = new java.io.File(spool, f"spool_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      tgt.setLastModified(1600000000000L + i * 60000L)
    }
    val ckpt = graft.SparkSpec.tempDir("graft_stream_ckpt").toString + "/c"
    DocStreams.runIvfPqAppendOnce(spark, spool, idx, ckpt)
    val index = AnnIndex.readIvfPq(spark, idx)
    val queries = corpus.filter($"vec_id" === 0)
    val served = AnnIndex.ivfPqTopK(spark, index, queries, "vec_id", "embedding",
      4, nprobe = 2).orderBy("rank").collect().toSeq
    val ref = Similarity.pqTopKWithModel(queries, "vec_id", "embedding",
        Similarity.PqModel(index.codebooks,
          Similarity.pqEncode(corpus, "vec_id", "embedding",
            index.codebooks, index.m, index.sub), index.m, index.sub), 4)
      .orderBy("rank").collect().toSeq
    served shouldBe ref
    // a missing index refuses loudly before the stream starts
    an[IllegalArgumentException] should be thrownBy
      DocStreams.runIvfPqAppendOnce(spark, spool, spool + "/nope", ckpt + "2")
    // a marked index with a FRESH checkpoint refuses: batch ids would
    // restart at 0 and collide with the published batches
    an[IllegalArgumentException] should be thrownBy
      DocStreams.runIvfPqAppendOnce(spark, spool, idx, ckpt + "_fresh")
  }

  test("exactly-once streaming append: crash-replay between publish and marker lands the batch once") {
    import graft.ext.{AnnIndex, Similarity}
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f)), (4L, Array(0.7f, 0.7f)), (5L, Array(0.5f, 0.8f)),
    ).toDF("vec_id", "embedding")
    val idx = graft.SparkSpec.tempDir("graft_crash_idx").toString + "/ivfpq"
    AnnIndex.buildIvfPq(corpus.filter($"vec_id" < 3), "vec_id", "embedding",
      idx, nlist = 2, m = 2, ksub = 3, iters = 1)
    val spool = graft.SparkSpec.tempDir("graft_crash_spool").toString
    Seq(Seq(3L, 4L), Seq(5L)).zipWithIndex.foreach { case (ids, i) =>
      val stage = s"$spool/.stage_$i"
      corpus.filter($"vec_id".isin(ids: _*)).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val tgt = new java.io.File(spool, f"spool_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      tgt.setLastModified(1600000000000L + i * 60000L)
    }
    val ckpt = graft.SparkSpec.tempDir("graft_crash_ckpt").toString + "/c"
    DocStreams.runIvfPqAppendOnce(spark, spool, idx, ckpt)

    def servedTop(): Seq[org.apache.spark.sql.Row] = {
      val index = AnnIndex.readIvfPq(spark, idx)
      AnnIndex.ivfPqTopK(spark, index, corpus.filter($"vec_id" === 0),
        "vec_id", "embedding", 4, nprobe = 2).orderBy("rank").collect().toSeq
    }
    val clean = servedTop()

    // roll batch 1's commit back (the crc shadow too — the checkpoint FS is
    // checksummed, and a stale .crc fails the re-commit's rename)
    def rollbackCommit1(): Unit = Seq(s"$ckpt/commits/1", s"$ckpt/commits/.1.crc")
      .foreach(p => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))

    // simulate a crash INSIDE batch 1's append, after a partial publish and
    // before the marker: roll the checkpoint's commit back so the engine
    // redelivers batch 1, drop the marker, and mutilate the published files
    // (delete one, leaving the partial-publish state a real crash leaves)
    rollbackCommit1()
    graft.util.Hfs.delete(spark, s"$idx/_batch_1")
    val published = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$idx/codes"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val b1Files = {
      import scala.jdk.CollectionConverters._
      published.asScala.filter(_.getFileName.toString.startsWith("b1-")).toSeq
    }
    b1Files should not be empty
    java.nio.file.Files.delete(b1Files.head)

    DocStreams.runIvfPqAppendOnce(spark, spool, idx, ckpt)
    servedTop() shouldBe clean

    // the OTHER side of the window — crash after the marker: redelivery of
    // a marked batch is skipped, nothing double-appends
    rollbackCommit1()
    DocStreams.runIvfPqAppendOnce(spark, spool, idx, ckpt)
    servedTop() shouldBe clean

    // pre-pairing layout (markers, no identity record) with its legitimate
    // established checkpoint: adopted, not refused — and the pairing file
    // is re-created for the next run
    graft.util.Hfs.delete(spark, s"$idx/_stream_checkpoint")
    DocStreams.runIvfPqAppendOnce(spark, spool, idx, ckpt)
    servedTop() shouldBe clean
    graft.util.Hfs.exists(spark, s"$idx/_stream_checkpoint") shouldBe true
  }

  test("streaming text-index append: crash-replay lands once; result equals from-scratch BM25") {
    import graft.ext.{TextIndex, TextSearch}
    val corpus = Seq(
      (1L, "spark shuffle join window"), (2L, "window scan merge"),
      (3L, "spark spark window"), (4L, "join window join scan"),
      (5L, "merge scan spark"), (6L, "window window join"))
      .toDF("doc_id", "text")
    val idx = graft.SparkSpec.tempDir("graft_ti_idx").toString + "/inv"
    TextIndex.build(corpus.filter($"doc_id" <= 2), "doc_id", "text", idx, parts = 4)
    val spool = stageSpool(Seq(
      Seq((3L, "spark spark window"), (4L, "join window join scan")),
      Seq((5L, "merge scan spark"), (6L, "window window join"))))
    val ckpt = graft.SparkSpec.tempDir("graft_ti_ckpt").toString + "/c"
    DocStreams.runTextIndexAppendOnce(spark, spool, idx, ckpt)
    val q = Seq((0L, "spark window"), (1L, "scan join")).toDF("qid", "qtext")
    def served() = TextIndex.bm25TopKIndexed(spark, idx, q, "qid", "qtext", 6)
      .orderBy($"query_id", $"rank").collect().toSeq
    val clean = served()
    // streamed == from-scratch over the union (compositional append)
    clean shouldBe TextSearch.bm25TopK(corpus, "doc_id", "text", q,
      "qid", "qtext", 6).orderBy($"query_id", $"rank").collect().toSeq

    def rollbackCommit1(): Unit = Seq(s"$ckpt/commits/1", s"$ckpt/commits/.1.crc")
      .foreach(p => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))

    // crash inside batch 1: partial publish (one published postings file
    // gone), marker missing, checkpoint redelivers — replay must sweep
    // and land the batch exactly once
    rollbackCommit1()
    graft.util.Hfs.delete(spark, s"$idx/_batch_1")
    val b1Files = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
        .iterator().asScala
        .filter(_.getFileName.toString.startsWith("b1-")).toSeq
    }
    b1Files should not be empty
    java.nio.file.Files.delete(b1Files.head)
    DocStreams.runTextIndexAppendOnce(spark, spool, idx, ckpt)
    served() shouldBe clean

    // crash after the marker: a marked batch's redelivery is skipped
    rollbackCommit1()
    DocStreams.runTextIndexAppendOnce(spark, spool, idx, ckpt)
    served() shouldBe clean
  }

  test("streaming positional append: crash-replay lands once; phrase counts equal full-corpus truth") {
    import graft.ext.TextIndex
    val corpus = Seq(
      (1L, "big data big data pipeline"), (2L, "data big data"),
      (3L, "big data again today"), (4L, "nothing here"),
      (5L, "more big data rows"), (6L, "filler text"))
      .toDF("doc_id", "text")
    val idx = graft.SparkSpec.tempDir("graft_pos_idx").toString + "/p"
    TextIndex.buildPositional(corpus.filter($"doc_id" <= 2), "doc_id", "text",
      idx, parts = 4)
    val spool = stageSpool(Seq(
      Seq((3L, "big data again today"), (4L, "nothing here")),
      Seq((5L, "more big data rows"), (6L, "filler text"))))
    val ckpt = graft.SparkSpec.tempDir("graft_pos_ckpt").toString + "/c"
    DocStreams.runPositionalAppendOnce(spark, spool, idx, ckpt)
    def served() = TextIndex.phraseOccurrences(spark, idx, Seq("big", "data"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clean = served()
    clean shouldBe Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 5L -> 1L)

    def rollbackCommit1(): Unit = Seq(s"$ckpt/commits/1", s"$ckpt/commits/.1.crc")
      .foreach(p => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))

    // crash inside batch 1: partial publish, marker missing — the replay
    // must sweep the partial and land the batch exactly once
    rollbackCommit1()
    graft.util.Hfs.delete(spark, s"$idx/_batch_1")
    val b1Files = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
        .iterator().asScala
        .filter(_.getFileName.toString.startsWith("b1-")).toSeq
    }
    b1Files should not be empty
    java.nio.file.Files.delete(b1Files.head)
    DocStreams.runPositionalAppendOnce(spark, spool, idx, ckpt)
    served() shouldBe clean

    // crash after the marker: redelivery of a marked batch is a no-op
    rollbackCommit1()
    DocStreams.runPositionalAppendOnce(spark, spool, idx, ckpt)
    served() shouldBe clean
  }

  test("combined text+positional append: one stream feeds both indexes; a crash between the two appends replays only the unmarked index") {
    import graft.ext.TextIndex
    val corpus = Seq(
      (1L, "big data big data pipeline"), (2L, "data big data"),
      (3L, "big data again today"), (4L, "nothing here"),
      (5L, "more big data rows"), (6L, "filler text"))
      .toDF("doc_id", "text")
    val root = graft.SparkSpec.tempDir("graft_combo").toString
    val idx = s"$root/inv"
    val pidx = s"$root/pos"
    val base = corpus.filter($"doc_id" <= 2)
    TextIndex.build(base, "doc_id", "text", idx, parts = 4)
    TextIndex.buildPositional(base, "doc_id", "text", pidx, parts = 4)
    val spool = stageSpool(Seq(
      Seq((3L, "big data again today"), (4L, "nothing here")),
      Seq((5L, "more big data rows"), (6L, "filler text"))))
    val ckpt = s"$root/ckpt"
    DocStreams.runTextIndexesAppendOnce(spark, spool, idx, pidx, ckpt)
    val q = Seq((0L, "big data")).toDF("qid", "qtext")
    def servedBm25() = TextIndex.bm25TopKIndexed(spark, idx, q, "qid", "qtext", 6)
      .orderBy($"query_id", $"rank").collect().toSeq
    def servedPhrase() = TextIndex.phraseOccurrences(spark, pidx, Seq("big", "data"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cleanBm25 = servedBm25()
    val cleanPhrase = servedPhrase()
    // both layouts equal their full-corpus truths from ONE stream run
    cleanBm25 shouldBe graft.ext.TextSearch.bm25TopK(corpus, "doc_id", "text",
      q, "qid", "qtext", 6).orderBy($"query_id", $"rank").collect().toSeq
    cleanPhrase shouldBe Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 5L -> 1L)
    // crash BETWEEN the two appends of batch 1: the inverted index is
    // marked, the positional one is not (partial publish swept there) —
    // the checkpoint redelivers and only the unmarked index re-publishes
    Seq(s"$ckpt/commits/1", s"$ckpt/commits/.1.crc")
      .foreach(p => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
    graft.util.Hfs.delete(spark, s"$pidx/_batch_1")
    val b1Files = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(pidx))
        .iterator().asScala
        .filter(_.getFileName.toString.startsWith("b1-")).toSeq
    }
    b1Files should not be empty
    java.nio.file.Files.delete(b1Files.head)
    DocStreams.runTextIndexesAppendOnce(spark, spool, idx, pidx, ckpt)
    servedBm25() shouldBe cleanBm25
    servedPhrase() shouldBe cleanPhrase
  }

  test("streaming dedup maintains duplicate clusters: incremental components equal the batch form") {
    import graft.ext.IncrementalComponents
    val spool = stageSpool(Seq(docs.take(3), docs.drop(3)))
    val store = graft.SparkSpec.tempDir("graft_mh_store").toString + "/s"
    val streamed = DocStreams.runMinhashDedupOnce(spark, spool, store,
      numHashes = 32, bands = 8, shingleSize = 3, minEstJaccard = 0.5,
      withComponents = true)
    val comps = IncrementalComponents.read(spark, s"$store/comps")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch components over the stream's own final pair set
    val nodes = streamed.select($"id_a".as("id")).union(streamed.select($"id_b")).distinct()
    val batch = Dedup.connectedComponents(nodes, "id", streamed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    comps shouldBe batch
    // the fixture's three near-dup docs collapse into ONE cluster with the
    // canonical min id, across the batch-1 pair and batch-2 arrivals
    comps(1L) shouldBe 1L
    comps(2L) shouldBe 1L
    comps(3L) shouldBe 1L
  }

  test("the per-batch store scan is partition-pruned to the batch's __pb values") {
    val spool = stageSpool(Seq(docs.take(3), docs.drop(3)))
    val store = graft.SparkSpec.tempDir("graft_mh_store").toString + "/s"
    DocStreams.runMinhashDedupOnce(spark, spool, store,
      numHashes = 32, bands = 8, shingleSize = 3, minEstJaccard = 0.5)
    // replay the scan one batch would plan: a literal subset of __pb values
    val keys = spark.read.parquet(s"$store/sigs")
      .select($"__band", $"__bh", $"__pb").limit(3).collect()
    val pbs = keys.map(_.getInt(2)).distinct.toSeq
    val scan = DocStreams.prunedStoreScan(spark, s"$store/sigs", pbs,
      Seq((keys.head.getInt(0), keys.head.getLong(1))).toDF("__band", "__bh")).get
    scan.collect()
    val plan = scan.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include("__pb")
    // the partition filter is static (literal IN), and the key refinement
    // is the broadcast semi-join — the store side never shuffles
    plan should include("BroadcastHashJoin")
    (plan should not).include("SortMergeJoin")
  }

  test("streaming CMS deltas: summed store equals batch counters; crash-replay lands once") {
    import org.apache.spark.sql.functions.{col, explode}
    val spool = stageSpool(Seq(docs.take(2), docs.slice(2, 3), docs.drop(3)))
    val store = graft.SparkSpec.tempDir("graft_cms_store").toString + "/s"
    DocStreams.runCmsAppendOnce(spark, spool, store, depth = 4, width = 16)

    def counters() = DocStreams.readCmsCounters(spark, store)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batchRef = graft.ext.Sketch.cmsCounters(
        docs.toDF("doc_id", "text")
          .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("t")),
        col("t"), depth = 4, width = 16)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val clean = counters()
    clean shouldBe batchRef

    // crash state: batch 1's marker lost after a PARTIAL publish (a stray
    // extra file under its name) — the replayed append must sweep the
    // partial and land the batch exactly once
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$store/_batch_1"))
    val stray = new java.io.File(s"$store/deltas").listFiles()
      .find(_.getName.startsWith("b1-")).get
    java.nio.file.Files.copy(stray.toPath,
      java.nio.file.Paths.get(s"$store/deltas/b1-7.parquet"))
    counters() should not be clean // the corrupted state is observable
    DocStreams.appendCmsBatchExactlyOnce(spark, store,
      docs.slice(2, 3).toDF("doc_id", "text"), 1L, depth = 4, width = 16, "text")
    counters() shouldBe clean
    new java.io.File(s"$store/_batch_1").exists() shouldBe true

    // DELETION leg: forgetting doc 4 publishes its counters negated —
    // the summed store equals the batch counters over the survivors,
    // cell for cell (zero cells allowed on the store side)
    DocStreams.publishCmsDelete(spark, store,
      docs.filter(_._1 == 4L).toDF("doc_id", "text"), "d0",
      depth = 4, width = 16)
    val survivors = graft.ext.Sketch.cmsCounters(
        docs.filter(_._1 != 4L).toDF("doc_id", "text")
          .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("t")),
        col("t"), depth = 4, width = 16)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val afterDelete = counters().filter(_._2 != 0L)
    afterDelete shouldBe survivors
    // a replayed delete with the same key cannot subtract twice
    DocStreams.publishCmsDelete(spark, store,
      docs.filter(_._1 == 4L).toDF("doc_id", "text"), "d0",
      depth = 4, width = 16)
    counters().filter(_._2 != 0L) shouldBe survivors
  }

  test("incremental minhash: empty store bootstrap and no-candidate batches are clean") {
    // single batch, nothing similar: no pairs dir contents, empty result
    val spool = stageSpool(Seq(Seq(
      (10L, "one two three four five six"),
      (11L, "seven eight nine ten eleven twelve"))))
    val store = graft.SparkSpec.tempDir("graft_mh_store").toString + "/s"
    val out = DocStreams.runMinhashDedupOnce(spark, spool, store,
      numHashes = 32, bands = 8, shingleSize = 3, minEstJaccard = 0.5)
    out.collect() shouldBe empty
  }
}
