package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, Array(1.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f)),
    (2L, Array(0.0f, 1.0f)),
    (3L, Array(-1.0f, 0.0f)),
    (4L, Array(0.7f, 0.7f)),
  ).toDF("vec_id", "embedding")

  test("native codegen cosine agrees with the declarative form") {
    val df = Seq(
      (Array(0.3f, -1.2f, 2.5f), Array(1.1f, 0.4f, -0.2f)),
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
    ).toDF("a", "b")
      .select(Similarity.cosine($"a", $"b").as("native"),
        Similarity.cosineDeclarative($"a", $"b").as("decl"))
    df.collect().foreach { r =>
      r.getAs[Double]("native") shouldBe (r.getAs[Double]("decl") +- 1e-12)
    }
  }

  test("cosine null on length mismatch and zero vector") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f), Array(0.0f, 0.0f)))
      .toDF("a", "b", "z")
      .select(Similarity.cosine($"a", $"b").as("mismatch"),
        Similarity.cosine($"a", $"z").as("zero"))
    val r = df.collect().head
    r.isNullAt(0) shouldBe true
    r.isNullAt(1) shouldBe true
  }

  test("cosine of identical and orthogonal vectors") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f), Array(-2.0f, 1.0f)))
      .toDF("a", "b", "c")
      .select(Similarity.cosine($"a", $"b").as("same"), Similarity.cosine($"a", $"c").as("orth"))
    val r = df.collect().head
    r.getAs[Double]("same") shouldBe (1.0 +- 1e-12)
    r.getAs[Double]("orth") shouldBe (0.0 +- 1e-12)
  }

  test("brute-force top-k orders by cosine desc, excludes self") {
    val res = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0), corpus,
      "vec_id", "embedding", 3).orderBy("rank").collect()
    res.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(1L, 4L, 2L)
    res.map(_.getAs[Int]("rank")).toSeq shouldBe Seq(1, 2, 3)
  }

  test("hyperplane bucket: scaling preserves bucket, negation flips every bit") {
    val dim = 8
    val df = Seq(
      (Array(1.0f, -2.0f, 0.5f, 3.0f, -1.0f, 0.1f, 2.0f, -0.7f)),
    ).toDF("v")
      .select(
        Similarity.hyperplaneBucket($"v", dim).as("b"),
        Similarity.hyperplaneBucket(transform($"v", x => (x * 2.5f).cast("float")), dim).as("scaled"),
        Similarity.hyperplaneBucket(transform($"v", x => (-x).cast("float")), dim).as("neg"))
    val r = df.collect().head
    r.getAs[Int]("scaled") shouldBe r.getAs[Int]("b")
    r.getAs[Int]("neg") shouldBe (~r.getAs[Int]("b") & 0xFF)
  }

  test("pq with ksub = corpus size is lossless: equals brute force") {
    // 5 vectors, ksub 5: init makes every subvector its own centroid and
    // Lloyd keeps them (singleton cells), so ADC cosines are exact
    val brute = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0), corpus,
      "vec_id", "embedding", 3).orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    val pq = Similarity.pqTopK(corpus.filter($"vec_id" === 0), corpus,
      "vec_id", "embedding", 3, m = 2, ksub = 5, iters = 1).orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    pq shouldBe brute
  }

  test("pq codes: identical vectors share codes, ADC prefers the twin") {
    val withTwin = corpus.unionByName(
      Seq((10L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")) // copy of id 1
    val centroids = Similarity.pqTrain(withTwin, "vec_id", "embedding", m = 2, ksub = 3, iters = 2)
    val codes = Similarity.pqEncode(withTwin, "vec_id", "embedding", centroids, m = 2, sub = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    // exact copies must quantize identically in every subspace
    codes((1L, 0)) shouldBe codes((10L, 0))
    codes((1L, 1)) shouldBe codes((10L, 1))
    // and the twin must rank first for a query equal to it
    val top = Similarity.pqTopK(withTwin.filter($"vec_id" === 10), withTwin,
      "vec_id", "embedding", 1, m = 2, ksub = 3, iters = 2)
      .select("neighbor_id").as[Long].collect()
    top.head shouldBe 1L
  }

  test("pq requires dim divisible by m") {
    an[IllegalArgumentException] should be thrownBy
      Similarity.pqTopK(corpus, corpus, "vec_id", "embedding", 3, m = 3)
  }

  test("ivf-pq (persisted, cluster-partitioned) with full probes and lossless codes matches brute force") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/ivfpq"
    val brute = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0), corpus,
      "vec_id", "embedding", 3).orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", dir, nlist = 2, m = 2,
      ksub = 5, iters = 1)
    val ivfpq = AnnIndex.ivfPqTopK(spark, AnnIndex.readIvfPq(spark, dir),
        corpus.filter($"vec_id" === 0), "vec_id", "embedding", 3, nprobe = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    ivfpq shouldBe brute // both approximation axes disabled ⇒ exact
    // the on-disk layout IS cluster-partitioned (directory-per-cluster)
    val parts = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("__cluster=")).map(_.getName).sorted
    parts should not be empty
  }

  test("persisted pq index round-trips: loaded model equals the in-memory one") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/pq"
    val model = Similarity.pqModel(corpus, "vec_id", "embedding", m = 2, ksub = 3, iters = 2)
    AnnIndex.buildPq(corpus, "vec_id", "embedding", dir, m = 2, ksub = 3,
      modelIn = Some(model))
    val loaded = AnnIndex.readPq(spark, dir)
    loaded.m shouldBe model.m
    loaded.sub shouldBe model.sub
    loaded.codes.orderBy("__id", "__j").collect().toSeq shouldBe
      model.codes.orderBy("__id", "__j").collect().toSeq
    // and the indexed query path reproduces the inline one exactly
    val inline = Similarity.pqTopK(corpus.filter($"vec_id" === 0), corpus,
      "vec_id", "embedding", 3, m = 2, ksub = 3, iters = 2)
      .orderBy("rank").collect().toSeq
    val indexed = AnnIndex.pqTopK(spark, dir, corpus.filter($"vec_id" === 0),
      "vec_id", "embedding", 3).orderBy("rank").collect().toSeq
    indexed shouldBe inline
  }

  test("append to persisted indexes: frozen-codebook encode, pruning intact") {
    val base = graft.SparkSpec.tempDir("graft_annidx").toString
    val a = corpus.filter($"vec_id" < 3)
    val b = corpus.filter($"vec_id" >= 3)
    // PQ: appended codes == one-shot encode of the union vs frozen codebooks
    AnnIndex.buildPq(a, "vec_id", "embedding", s"$base/pq", m = 2, ksub = 3, iters = 1)
    AnnIndex.append(spark, s"$base/pq", b, "vec_id", "embedding")
    val model = AnnIndex.readPq(spark, s"$base/pq")
    val expect = Similarity.pqEncode(corpus, "vec_id", "embedding",
      model.centroids, model.m, model.sub)
    model.codes.orderBy("__id", "__j").collect().toSeq shouldBe
      expect.orderBy("__id", "__j").collect().toSeq
    // IVF-flat: appended vectors land in cluster partitions; full probes == brute
    AnnIndex.buildIvf(a, "vec_id", "embedding", s"$base/ivf", nlist = 2, iters = 1)
    AnnIndex.appendIvf(spark, s"$base/ivf", b, "vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0), corpus,
      "vec_id", "embedding", 3).orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    val ivf = AnnIndex.ivfTopK(spark, AnnIndex.readIvf(spark, s"$base/ivf"),
      corpus.filter($"vec_id" === 0), "vec_id", "embedding", 3, nprobe = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    ivf shouldBe brute
    // IVF×PQ: appended lossless codes through the pruned path == brute
    AnnIndex.buildIvfPq(a, "vec_id", "embedding", s"$base/ivfpq",
      nlist = 2, m = 2, ksub = 3, iters = 1)
    AnnIndex.appendIvfPq(spark, s"$base/ivfpq", b, "vec_id", "embedding")
    val appendedCodes = spark.read.parquet(s"$base/ivfpq/codes")
    appendedCodes.select("__id").distinct().count() shouldBe 5
  }

  test("residual ivf-pq: lossless geometry equals brute force; append and compact stay in residual space") {
    val base = graft.SparkSpec.tempDir("graft_annidx").toString
    val dir = s"$base/ivfpq_res"
    // ksub = corpus size ⇒ every RESIDUAL subvector its own centroid, and
    // the ⟨q̂,ĉ⟩ + ⟨q̂,r⟩ decomposition is exact ⇒ must equal brute force
    AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", dir,
      nlist = 2, m = 2, ksub = 5, iters = 1, byResidual = true)
    val index = AnnIndex.readIvfPq(spark, dir)
    index.residual shouldBe true
    val brute = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0), corpus,
      "vec_id", "embedding", 3).orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    AnnIndex.ivfPqTopK(spark, index, corpus.filter($"vec_id" === 0),
        "vec_id", "embedding", 3, nprobe = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq shouldBe brute
    // append must RESIDUAL-encode against the frozen model — raw-encoded
    // codes would silently mix two score spaces in one codes table
    val dir2 = s"$base/ivfpq_res_append"
    AnnIndex.buildIvfPq(corpus.filter($"vec_id" < 3), "vec_id", "embedding",
      dir2, nlist = 2, m = 2, ksub = 3, iters = 1, byResidual = true)
    AnnIndex.appendIvfPq(spark, dir2, corpus.filter($"vec_id" >= 3),
      "vec_id", "embedding")
    val idx2 = AnnIndex.readIvfPq(spark, dir2)
    val expect = Similarity.pqResidualEncode(
      Similarity.assign(corpus, ("vec_id", "embedding"), idx2.coarse),
      "vec_id", "embedding", idx2.coarse, idx2.codebooks, idx2.m, idx2.sub)
    spark.read.parquet(s"$dir2/codes").select("__id", "__j", "__code")
      .orderBy("__id", "__j").collect().toSeq shouldBe
      expect.select("__id", "__j", "__code").orderBy("__id", "__j").collect().toSeq
    // compaction carries the residual flag and the served ranking
    AnnIndex.compact(spark, dir)
    val compacted = AnnIndex.readIvfPq(spark, dir)
    compacted.residual shouldBe true
    AnnIndex.ivfPqTopK(spark, compacted, corpus.filter($"vec_id" === 0),
        "vec_id", "embedding", 3, nprobe = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq shouldBe brute
  }

  test("atomic index rebuild: swap replaces whole generations, recovers a crashed swap") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/pq"
    val a = corpus.filter($"vec_id" < 3)
    // first rebuild: target doesn't exist yet — plain install
    AnnIndex.rebuild(dir)(
      AnnIndex.buildPq(a, "vec_id", "embedding", _, m = 2, ksub = 3, iters = 1))
    AnnIndex.readPq(spark, dir).codes.select("__id").distinct().count() shouldBe 3
    // second rebuild over the full corpus replaces the generation atomically
    AnnIndex.rebuild(dir)(
      AnnIndex.buildPq(corpus, "vec_id", "embedding", _, m = 2, ksub = 5, iters = 1))
    AnnIndex.readPq(spark, dir).codes.select("__id").distinct().count() shouldBe 5
    new java.io.File(dir + ".bak").exists() shouldBe false
    // crashed-swap state (dir gone, .bak holds the only index): the next
    // rebuild restores it before swapping — never deletes the only copy
    java.nio.file.Files.move(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(dir + ".bak"))
    AnnIndex.rebuild(dir)(
      AnnIndex.buildPq(a, "vec_id", "embedding", _, m = 2, ksub = 3, iters = 1))
    AnnIndex.readPq(spark, dir).codes.select("__id").distinct().count() shouldBe 3
    new java.io.File(dir + ".bak").exists() shouldBe false
  }

  test("training sample is bounded, deterministic, and inert below the cap") {
    val big = (0L until 200L).map(i =>
      (i, Array(i.toFloat, (i % 7).toFloat))).toDF("vec_id", "embedding")
    // above the cap: bounded and stable across invocations
    val s1 = Similarity.trainSampleIds(big, "vec_id", 20)
    val s2 = Similarity.trainSampleIds(big, "vec_id", 20)
    s1 should not be empty
    val ids1 = s1.get.as[Long].collect().toSeq
    ids1.length should be <= 20
    ids1.length should be >= 10 // the 2x-headroom prefilter cannot starve
    ids1 shouldBe s2.get.as[Long].collect().toSeq
    // below the cap: no sampling (full-corpus training is exact and cheap)
    Similarity.trainSampleIds(big, "vec_id", 200) shouldBe None
    Similarity.trainSampleIds(big, "vec_id", Int.MaxValue) shouldBe None
    // trained centroids still come back complete under a tight cap
    val cents = Similarity.trainCentroids(big, "vec_id", "embedding",
      nlist = 4, iters = 1, maxTrainRows = 20)
    cents.count() shouldBe 4
  }

  test("ivf with full probes matches brute force on tiny corpus") {
    val brute = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0), corpus,
      "vec_id", "embedding", 3).orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    val ivf = Similarity.ivfTopK(corpus.filter($"vec_id" === 0), corpus,
      "vec_id", "embedding", 3, nlist = 2, nprobe = 2).orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    ivf shouldBe brute // nprobe = nlist ⇒ exhaustive ⇒ exact
  }

  test("persisted ivf-flat index: pruned path equals the in-memory form") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/ivf"
    AnnIndex.buildIvf(corpus, "vec_id", "embedding", dir, nlist = 2, iters = 1)
    val index = AnnIndex.readIvf(spark, dir)
    index.nlist shouldBe 2
    // full probes through the persisted layout == brute (exhaustive)
    val brute = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0), corpus,
      "vec_id", "embedding", 3).orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    val indexed = AnnIndex.ivfTopK(spark, index, corpus.filter($"vec_id" === 0),
      "vec_id", "embedding", 3, nprobe = 2).orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    indexed shouldBe brute
    // nprobe=1 prunes: the result only contains vectors of probed clusters
    val pruned = AnnIndex.ivfTopK(spark, index, corpus.filter($"vec_id" === 0),
      "vec_id", "embedding", 3, nprobe = 1).collect()
    pruned.length should be <= 3
    // and the on-disk layout is directory-per-cluster
    new java.io.File(s"$dir/vectors").listFiles()
      .count(_.getName.startsWith("__cluster=")) shouldBe 2
  }

  test("tombstone delete: served top-k equals frozen-codebook encode of the surviving corpus") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/pq"
    AnnIndex.buildPq(corpus, "vec_id", "embedding", dir, m = 2, ksub = 5, iters = 1)
    AnnIndex.deleteIds(spark, dir, Seq(1L).toDF("vec_id"), "vec_id")
    val model = AnnIndex.readPq(spark, dir)
    // the deleted id's codes are gone from the live view...
    model.codes.filter($"__id" === 1L).count() shouldBe 0
    // ...and the served ranking equals a one-shot encode of corpus ∖ {1}
    val served = AnnIndex.pqTopK(spark, dir, corpus.filter($"vec_id" === 0),
      "vec_id", "embedding", 3).orderBy("rank").collect().toSeq
    val ref = Similarity.pqTopKWithModel(corpus.filter($"vec_id" === 0),
      "vec_id", "embedding",
      Similarity.PqModel(model.centroids,
        Similarity.pqEncode(corpus.filter($"vec_id" =!= 1L), "vec_id", "embedding",
          model.centroids, model.m, model.sub), model.m, model.sub), 3)
      .orderBy("rank").collect().toSeq
    served shouldBe ref
    // deleting an absent id is a no-op on the live view
    AnnIndex.deleteIds(spark, dir, Seq(99L).toDF("vec_id"), "vec_id")
    AnnIndex.readPq(spark, dir).codes.select("__id").distinct().count() shouldBe 4
  }

  test("update supersedes its tombstone: exactly the new encoding is live, no double count") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/pq"
    AnnIndex.buildPq(corpus, "vec_id", "embedding", dir, m = 2, ksub = 5, iters = 1)
    // re-embed id 2 with a different vector (near id 0's direction)
    val newRow = Seq((2L, Array(0.95f, 0.05f))).toDF("vec_id", "embedding")
    AnnIndex.update(spark, dir, newRow, "vec_id", "embedding")
    val model = AnnIndex.readPq(spark, dir)
    // one live generation: m code rows for the updated id, not 2m
    model.codes.filter($"__id" === 2L).count() shouldBe 2
    val updatedCorpus = corpus.filter($"vec_id" =!= 2L).unionByName(newRow)
    val served = AnnIndex.pqTopK(spark, dir, corpus.filter($"vec_id" === 0),
      "vec_id", "embedding", 4).orderBy("rank").collect().toSeq
    val ref = Similarity.pqTopKWithModel(corpus.filter($"vec_id" === 0),
      "vec_id", "embedding",
      Similarity.PqModel(model.centroids,
        Similarity.pqEncode(updatedCorpus, "vec_id", "embedding",
          model.centroids, model.m, model.sub), model.m, model.sub), 4)
      .orderBy("rank").collect().toSeq
    served shouldBe ref
    // delete-after-update kills the newest generation too
    AnnIndex.deleteIds(spark, dir, Seq(2L).toDF("vec_id"), "vec_id")
    AnnIndex.readPq(spark, dir).codes.filter($"__id" === 2L).count() shouldBe 0
  }

  test("rebuild compacts tombstones: the fresh generation serves deleted ids again") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/pq"
    AnnIndex.rebuild(dir)(
      AnnIndex.buildPq(corpus, "vec_id", "embedding", _, m = 2, ksub = 5, iters = 1))
    AnnIndex.deleteIds(spark, dir, Seq(1L).toDF("vec_id"), "vec_id")
    new java.io.File(s"$dir/tombstones").exists() shouldBe true
    AnnIndex.rebuild(dir)(
      AnnIndex.buildPq(corpus, "vec_id", "embedding", _, m = 2, ksub = 5, iters = 1))
    new java.io.File(s"$dir/tombstones").exists() shouldBe false
    AnnIndex.readPq(spark, dir).codes.select("__id").distinct().count() shouldBe 5
  }

  test("ivf-flat and ivf-pq delete through the pruned query paths") {
    val base = graft.SparkSpec.tempDir("graft_annidx").toString
    AnnIndex.buildIvf(corpus, "vec_id", "embedding", s"$base/ivf", nlist = 2, iters = 1)
    AnnIndex.deleteIds(spark, s"$base/ivf", Seq(1L).toDF("vec_id"), "vec_id")
    val brute = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0),
      corpus.filter($"vec_id" =!= 1L), "vec_id", "embedding", 3).orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    val ivf = AnnIndex.ivfTopK(spark, AnnIndex.readIvf(spark, s"$base/ivf"),
      corpus.filter($"vec_id" === 0), "vec_id", "embedding", 3, nprobe = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    ivf shouldBe brute
    // lossless ivf-pq (ksub = corpus size): delete + full probes == brute
    AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", s"$base/ivfpq",
      nlist = 2, m = 2, ksub = 5, iters = 1)
    AnnIndex.deleteIds(spark, s"$base/ivfpq", Seq(1L).toDF("vec_id"), "vec_id")
    val ivfpq = AnnIndex.ivfPqTopK(spark, AnnIndex.readIvfPq(spark, s"$base/ivfpq"),
      corpus.filter($"vec_id" === 0), "vec_id", "embedding", 3, nprobe = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    ivfpq shouldBe brute
  }

  test("refined ivf-pq: exact re-rank of an exhaustive shortlist equals brute force") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/ivfpq"
    // DELIBERATELY lossy quantization (ksub 2 < corpus 5): the ADC ranking
    // degrades, but refine with a shortlist covering the corpus re-scores
    // with exact cosine — the final top-k must equal brute force anyway
    AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", dir,
      nlist = 2, m = 2, ksub = 2, iters = 1, keepVectors = true)
    val index = AnnIndex.readIvfPq(spark, dir)
    val brute = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0), corpus,
      "vec_id", "embedding", 3).orderBy("rank").collect().toSeq
    val refined = AnnIndex.ivfPqTopKRefined(spark, index,
      corpus.filter($"vec_id" === 0), "vec_id", "embedding", 3, nprobe = 2,
      refine = 2) // 3·2 = 6 ≥ corpus: the shortlist is everything
    refined.orderBy("rank").collect().toSeq shouldBe brute
    // refine respects tombstones in BOTH tables (codes shortlist + vectors)
    AnnIndex.deleteIds(spark, dir, Seq(1L).toDF("vec_id"), "vec_id")
    val bruteDel = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0),
      corpus.filter($"vec_id" =!= 1L), "vec_id", "embedding", 3)
      .orderBy("rank").collect().toSeq
    AnnIndex.ivfPqTopKRefined(spark, index, corpus.filter($"vec_id" === 0),
      "vec_id", "embedding", 3, nprobe = 2, refine = 2)
      .orderBy("rank").collect().toSeq shouldBe bruteDel
    // an index without kept vectors refuses loudly
    val noVec = graft.SparkSpec.tempDir("graft_annidx").toString + "/nv"
    AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", noVec,
      nlist = 2, m = 2, ksub = 2, iters = 1)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.ivfPqTopKRefined(spark, AnnIndex.readIvfPq(spark, noVec),
        corpus.filter($"vec_id" === 0), "vec_id", "embedding", 3, nprobe = 2)
    }
    e.getMessage should include("keepVectors")
  }

  test("tombstone debt measures dead weight and compactIfNeeded routes high-debt indexes to compaction") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/pq"
    AnnIndex.buildPq(corpus, "vec_id", "embedding", dir, m = 2, ksub = 5, iters = 1)
    // no tombstone log: debt short-circuits to zero, policy is a no-op
    AnnIndex.tombstoneDebt(spark, dir) shouldBe 0.0
    AnnIndex.compactIfNeeded(spark, dir) shouldBe false
    // 1 of 5 ids dead → 20% of stored rows, below the default threshold
    AnnIndex.deleteIds(spark, dir, Seq(1L).toDF("vec_id"), "vec_id")
    AnnIndex.tombstoneDebt(spark, dir) shouldBe 0.2 +- 1e-9
    AnnIndex.compactIfNeeded(spark, dir) shouldBe false
    AnnIndex.tombstoneDebt(spark, dir) shouldBe 0.2 +- 1e-9 // unchanged — no compaction ran
    // an update adds a superseded generation: 12 rows stored, 4 dead
    AnnIndex.update(spark, dir,
      Seq((2L, Array(0.95f, 0.05f))).toDF("vec_id", "embedding"), "vec_id", "embedding")
    AnnIndex.tombstoneDebt(spark, dir) shouldBe (1.0 / 3) +- 1e-9
    val before = AnnIndex.pqTopK(spark, dir, corpus.filter($"vec_id" === 0),
      "vec_id", "embedding", 4).orderBy("rank").collect().toSeq
    // over the threshold: the policy compacts, debt resets, ranking survives
    AnnIndex.compactIfNeeded(spark, dir) shouldBe true
    AnnIndex.tombstoneDebt(spark, dir) shouldBe 0.0
    new java.io.File(s"$dir/tombstones").exists() shouldBe false
    AnnIndex.pqTopK(spark, dir, corpus.filter($"vec_id" === 0),
      "vec_id", "embedding", 4).orderBy("rank").collect().toSeq shouldBe before
    AnnIndex.compactIfNeeded(spark, dir) shouldBe false
    // IVF-flat measures debt on its vectors table and routes to compactIvf
    val dir3 = graft.SparkSpec.tempDir("graft_annidx").toString + "/ivf"
    AnnIndex.buildIvf(corpus, "vec_id", "embedding", dir3, nlist = 2, iters = 1)
    AnnIndex.deleteIds(spark, dir3, Seq(1L, 3L).toDF("vec_id"), "vec_id")
    AnnIndex.tombstoneDebt(spark, dir3) shouldBe 0.4 +- 1e-9
    val ivfBefore = AnnIndex.ivfTopK(spark, AnnIndex.readIvf(spark, dir3),
      corpus.filter($"vec_id" === 0), "vec_id", "embedding", 3, nprobe = 2)
      .orderBy("rank").collect().toSeq
    AnnIndex.compactIfNeeded(spark, dir3) shouldBe true
    AnnIndex.tombstoneDebt(spark, dir3) shouldBe 0.0
    AnnIndex.ivfTopK(spark, AnnIndex.readIvf(spark, dir3),
      corpus.filter($"vec_id" === 0), "vec_id", "embedding", 3, nprobe = 2)
      .orderBy("rank").collect().toSeq shouldBe ivfBefore
  }

  test("maintenance seq rides the _next_seq sidecar; pre-sidecar indexes adopt it") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/pq"
    AnnIndex.buildPq(corpus, "vec_id", "embedding", dir, m = 2, ksub = 5, iters = 1)
    // first delete: tombstones at seq 0, the sidecar records the next
    // number — every later maintenance op is ONE tiny file read, not a
    // max(__seq) scan that grows with the tombstone log
    AnnIndex.deleteIds(spark, dir, Seq(1L).toDF("vec_id"), "vec_id")
    graft.util.Hfs.readString(spark, s"$dir/_next_seq").trim shouldBe "1"
    // appends read the counter without bumping it: the numbering stays
    // byte-identical to the scan-derived path in every history
    AnnIndex.append(spark, dir,
      Seq((9L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding"), "vec_id", "embedding")
    graft.util.Hfs.readString(spark, s"$dir/_next_seq").trim shouldBe "1"
    // pre-sidecar adoption: with the sidecar gone the next delete falls
    // back to the scan once and re-adopts
    graft.util.Hfs.delete(spark, s"$dir/_next_seq")
    AnnIndex.deleteIds(spark, dir, Seq(2L).toDF("vec_id"), "vec_id")
    graft.util.Hfs.readString(spark, s"$dir/_next_seq").trim shouldBe "2"
    // the served view honors the whole history: 1 and 2 dead, 9 alive
    val served = AnnIndex.pqTopK(spark, dir, corpus.filter($"vec_id" === 0),
        "vec_id", "embedding", 10)
      .select("neighbor_id").as[Long].collect().toSet
    served should contain (9L)
    served should contain noneOf (1L, 2L)
  }

  test("tombstone debt reads pre-tombstone-layout tables (no __seq column) as generation 0") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/legacy"
    AnnIndex.buildPq(corpus, "vec_id", "embedding", dir, m = 2, ksub = 5, iters = 1)
    // simulate an index written before the tombstone layout: strip __seq
    // from the stored codes (liveOnly's documented legacy shape)
    spark.read.parquet(s"$dir/codes").drop("__seq")
      .write.parquet(s"$dir/codes_legacy")
    graft.util.Hfs.delete(spark, s"$dir/codes")
    graft.util.Hfs.rename(spark, s"$dir/codes_legacy", s"$dir/codes") shouldBe true
    // a later delete must still be measurable: debt substitutes seq 0 for
    // the missing column instead of throwing AnalysisException
    AnnIndex.deleteIds(spark, dir, Seq(1L).toDF("vec_id"), "vec_id")
    AnnIndex.tombstoneDebt(spark, dir) shouldBe 0.2 +- 1e-9
    AnnIndex.compactIfNeeded(spark, dir) shouldBe false // 0.2 < default 0.25
  }

  test("compaction drops dead rows physically, keeps the served ranking, resets the tombstone log") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/pq"
    AnnIndex.buildPq(corpus, "vec_id", "embedding", dir, m = 2, ksub = 5, iters = 1)
    AnnIndex.deleteIds(spark, dir, Seq(1L).toDF("vec_id"), "vec_id")
    // re-embed id 2: two generations on disk, one live
    AnnIndex.update(spark, dir, Seq((2L, Array(0.95f, 0.05f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val before = AnnIndex.pqTopK(spark, dir, corpus.filter($"vec_id" === 0),
      "vec_id", "embedding", 4).orderBy("rank").collect().toSeq
    spark.read.parquet(s"$dir/codes").count() shouldBe 12 // 5 built + 1 updated gen, x m=2
    AnnIndex.compact(spark, dir)
    // physically reduced to the live 4 ids, tombstones gone, ranking identical
    spark.read.parquet(s"$dir/codes").count() shouldBe 8
    new java.io.File(s"$dir/tombstones").exists() shouldBe false
    AnnIndex.pqTopK(spark, dir, corpus.filter($"vec_id" === 0),
      "vec_id", "embedding", 4).orderBy("rank").collect().toSeq shouldBe before
    // maintenance keeps working on the fresh generation
    AnnIndex.deleteIds(spark, dir, Seq(2L).toDF("vec_id"), "vec_id")
    AnnIndex.readPq(spark, dir).codes.select("__id").distinct().count() shouldBe 3
    // ivf-pq layout (with refine vectors): same contract
    val dir2 = graft.SparkSpec.tempDir("graft_annidx").toString + "/ivfpq"
    AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", dir2,
      nlist = 2, m = 2, ksub = 5, iters = 1, keepVectors = true)
    AnnIndex.deleteIds(spark, dir2, Seq(1L).toDF("vec_id"), "vec_id")
    val ivfBefore = AnnIndex.ivfPqTopK(spark, AnnIndex.readIvfPq(spark, dir2),
      corpus.filter($"vec_id" === 0), "vec_id", "embedding", 3, nprobe = 2)
      .orderBy("rank").collect().toSeq
    AnnIndex.compact(spark, dir2)
    new java.io.File(s"$dir2/tombstones").exists() shouldBe false
    spark.read.parquet(s"$dir2/vectors").count() shouldBe 4
    AnnIndex.ivfPqTopK(spark, AnnIndex.readIvfPq(spark, dir2),
      corpus.filter($"vec_id" === 0), "vec_id", "embedding", 3, nprobe = 2)
      .orderBy("rank").collect().toSeq shouldBe ivfBefore
    // ivf-flat layout: same contract
    val dir3 = graft.SparkSpec.tempDir("graft_annidx").toString + "/ivf"
    AnnIndex.buildIvf(corpus, "vec_id", "embedding", dir3, nlist = 2, iters = 1)
    AnnIndex.deleteIds(spark, dir3, Seq(1L).toDF("vec_id"), "vec_id")
    AnnIndex.compact(spark, dir3)
    new java.io.File(s"$dir3/tombstones").exists() shouldBe false
    spark.read.parquet(s"$dir3/vectors").count() shouldBe 4
    val bruteDel = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0),
      corpus.filter($"vec_id" =!= 1L), "vec_id", "embedding", 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    AnnIndex.ivfTopK(spark, AnnIndex.readIvf(spark, dir3),
      corpus.filter($"vec_id" === 0), "vec_id", "embedding", 3, nprobe = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq shouldBe bruteDel
  }

  test("compaction guards: wrong layout refused; fully-tombstoned index stays readable") {
    val base = graft.SparkSpec.tempDir("graft_annidx").toString
    AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", s"$base/ivfpq",
      nlist = 2, m = 2, ksub = 5, iters = 1, keepVectors = true)
    AnnIndex.buildPq(corpus, "vec_id", "embedding", s"$base/pq", m = 2, ksub = 5, iters = 1)
    new java.io.File(s"$base/ivfpq/codes").exists() shouldBe true
    new java.io.File(s"$base/ivfpq/codebooks").exists() shouldBe true
    // delete EVERYTHING: compacting a clustered layout to zero rows is
    // REFUSED (an empty partitionBy table is unreadable), and the refusal
    // leaves the index intact and still serving (empty results)
    AnnIndex.deleteIds(spark, s"$base/ivfpq", corpus.select("vec_id"), "vec_id")
    an[IllegalArgumentException] should be thrownBy
      AnnIndex.compact(spark, s"$base/ivfpq")
    val index = AnnIndex.readIvfPq(spark, s"$base/ivfpq")
    AnnIndex.ivfPqTopK(spark, index, corpus.filter($"vec_id" === 0),
      "vec_id", "embedding", 3, nprobe = 2).collect() shouldBe empty
    // the re-appended id supersedes its tombstone; maintenance healthy
    AnnIndex.appendIvfPq(spark, s"$base/ivfpq",
      corpus.filter($"vec_id" < 2), "vec_id", "embedding")
    AnnIndex.readIvfPq(spark, s"$base/ivfpq")
    AnnIndex.ivfPqTopK(spark, AnnIndex.readIvfPq(spark, s"$base/ivfpq"),
      corpus.filter($"vec_id" === 0), "vec_id", "embedding", 3, nprobe = 2)
      .select("neighbor_id").as[Long].collect().toSeq shouldBe Seq(1L)
    // the flat layouts refuse the all-dead compaction too (uniform
    // contract: compacting to zero live rows is a rebuild-or-drop
    // decision) — the refusal leaves the index intact, serving empty,
    // and a later re-append still supersedes the tombstones
    AnnIndex.deleteIds(spark, s"$base/pq", corpus.select("vec_id"), "vec_id")
    an[IllegalArgumentException] should be thrownBy AnnIndex.compact(spark, s"$base/pq")
    AnnIndex.readPq(spark, s"$base/pq").codes.count() shouldBe 0
    AnnIndex.append(spark, s"$base/pq",
      corpus.filter($"vec_id" < 2), "vec_id", "embedding")
    AnnIndex.readPq(spark, s"$base/pq").codes.select("__id").distinct().count() shouldBe 2
    // after the re-append the index has live rows again — compaction now
    // proceeds and keeps exactly the live view
    AnnIndex.compact(spark, s"$base/pq")
    AnnIndex.readPq(spark, s"$base/pq").codes.select("__id").distinct().count() shouldBe 2
  }

  test("insert-only diff (empty delete set) leaves maintenance healthy — no NPE on the empty tombstone table") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/ivfpq"
    AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", dir,
      nlist = 2, m = 2, ksub = 5, iters = 1)
    import spark.implicits._
    // insert-only CDC frame: deleteIds runs with ZERO ids (writing a
    // schema-only tombstones dir) and the subsequent append must still
    // derive a sequence number
    val diff = Seq((5L, "insert")).toDF("vec_id", "change")
    val newRows = Seq((5L, Array(0.5f, 0.8f))).toDF("vec_id", "embedding")
    AnnIndex.applyDiff(spark, dir, diff, "vec_id", newRows, "vec_id", "embedding")
    // all 6 ids served; later maintenance ops keep working too
    AnnIndex.deleteIds(spark, dir, Seq(5L).toDF("vec_id"), "vec_id")
    val index = AnnIndex.readIvfPq(spark, dir)
    AnnIndex.ivfPqTopK(spark, index, corpus.filter($"vec_id" === 0),
        "vec_id", "embedding", 5, nprobe = 2)
      .select("neighbor_id").as[Long].collect().toSet shouldBe Set(1L, 2L, 3L, 4L)
  }

  test("applyDiffIvfPq routes a snapshotDiff frame: delete/update/insert end-to-end") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/ivfpq"
    AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", dir,
      nlist = 2, m = 2, ksub = 5, iters = 1)
    val diff = Seq((1L, "delete"), (2L, "update"), (5L, "insert"))
      .toDF("vec_id", "change")
    val newRows = Seq((2L, Array(0.95f, 0.05f)), (5L, Array(0.5f, 0.8f)))
      .toDF("vec_id", "embedding")
    AnnIndex.applyDiff(spark, dir, diff, "vec_id", newRows, "vec_id", "embedding")
    val index = AnnIndex.readIvfPq(spark, dir)
    val post = corpus.filter($"vec_id" =!= 1L && $"vec_id" =!= 2L).unionByName(newRows)
    val served = AnnIndex.ivfPqTopK(spark, index, corpus.filter($"vec_id" === 0),
      "vec_id", "embedding", 4, nprobe = 2).orderBy("rank").collect().toSeq
    val ref = Similarity.pqTopKWithModel(corpus.filter($"vec_id" === 0),
      "vec_id", "embedding",
      Similarity.PqModel(index.codebooks,
        Similarity.pqEncode(post, "vec_id", "embedding",
          index.codebooks, index.m, index.sub), index.m, index.sub), 4)
      .orderBy("rank").collect().toSeq
    served shouldBe ref
    // the same diff routed to an IVF-flat index: exact vectors, so full
    // probes must serve brute force over the post-diff corpus
    val dirIvf = graft.SparkSpec.tempDir("graft_annidx").toString + "/ivf"
    AnnIndex.buildIvf(corpus, "vec_id", "embedding", dirIvf, nlist = 2, iters = 1)
    AnnIndex.applyDiff(spark, dirIvf, diff, "vec_id", newRows, "vec_id", "embedding")
    val servedIvf = AnnIndex.ivfTopK(spark, AnnIndex.readIvf(spark, dirIvf),
      corpus.filter($"vec_id" === 0), "vec_id", "embedding", 4, nprobe = 2)
      .orderBy("rank").collect().toSeq
    val bruteIvf = Similarity.bruteForceTopK(corpus.filter($"vec_id" === 0),
      post, "vec_id", "embedding", 4).orderBy("rank").collect().toSeq
    servedIvf shouldBe bruteIvf
  }
}
