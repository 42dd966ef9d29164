package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Graph-ANN layout: build invariants (exact edge lists, medoid entry),
  * beam-search serving behavior, and the guard rails.
  */
class GraphAnnSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = graft.SparkSpec.tempDir(name).toFile
    d.delete()
    d.getAbsolutePath
  }

  // two well-separated clusters of 10 + a bridge point, 4-dim
  private def corpus = {
    def v(base: Array[Float], i: Int) =
      base.zipWithIndex.map { case (x, j) => x + 0.01f * ((i * 7 + j) % 5) }
    val a = (0 until 10).map(i => (i.toLong, v(Array(1f, 0f, 0f, 0.1f), i)))
    val b = (10 until 20).map(i => (i.toLong, v(Array(0f, 1f, 0.1f, 0f), i)))
    (a ++ b :+ ((20L, Array(0.7f, 0.7f, 0.05f, 0.05f))))
      .toDF("vec_id", "embedding")
  }

  test("build: adjacency is the exact top-degree set; entry is the medoid") {
    val dir = tmpDir("graft_graphann")
    GraphAnn.build(corpus, "vec_id", "embedding", dir, degree = 4)
    val adj = spark.read.parquet(s"$dir/adjacency")
      .as[(Long, Seq[Long])].collect().toMap
    adj.size shouldBe 21
    adj.values.foreach(_.size shouldBe 4)
    // spot-check one node against brute force
    val expected = Similarity.bruteForceTopK(
        corpus.filter($"vec_id" === 0), corpus, "vec_id", "embedding", 4)
      .select($"neighbor_id").as[Long].collect().toSet
    adj(0L).toSet shouldBe expected
    // entry: max rounded cosine to the mean — the bridge point sits
    // between the clusters and wins
    spark.read.parquet(s"$dir/entry").head().getLong(0) shouldBe 20L
  }

  test("serving: beam search matches brute force on the connected graph") {
    val dir = tmpDir("graft_graphann2")
    GraphAnn.build(corpus, "vec_id", "embedding", dir, degree = 6)
    val queries = corpus.filter($"vec_id".isin(0L, 15L, 20L))
    val served = GraphAnn.topK(spark, dir, queries, "vec_id", "embedding",
        k = 3, beamWidth = 8, hops = 4)
      .select($"query_id", $"rank", $"neighbor_id").collect().toSet
    val brute = Similarity.bruteForceTopK(queries, corpus,
        "vec_id", "embedding", 3)
      .select($"query_id", $"rank", $"neighbor_id").collect().toSet
    served shouldBe brute
  }

  test("deletes: tombstoned ids route but never serve; compact splices edges through the dead") {
    val dir = tmpDir("graft_graphann_del")
    GraphAnn.build(corpus, "vec_id", "embedding", dir, degree = 6)
    val queries = corpus.filter($"vec_id".isin(0L, 15L))
    def served() = GraphAnn.topK(spark, dir, queries, "vec_id", "embedding",
        k = 3, beamWidth = 8, hops = 4)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    // delete two cluster members (the entry/bridge stays — losing the
    // sole zero-in-degree connector is a documented REBUILD case)
    AnnIndex.deleteIds(spark, dir, Seq(1L, 11L).toDF("vec_id"), "vec_id")
    val afterDelete = served()
    afterDelete.map(_._2) should contain noneOf (1L, 11L)
    // the lazily-deleted view equals brute force over the survivors
    // (dead nodes still route, so navigation holds through tombstones)
    val brute = Similarity.bruteForceTopK(queries,
        corpus.filter(!$"vec_id".isin(1L, 11L)),
        "vec_id", "embedding", 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    afterDelete shouldBe brute
    // health sees the debt; the sweep-facing debt routes compaction
    val h = AnnIndex.healthReport(spark, Seq("g" -> dir)).head()
    h.getAs[Long]("total_rows") shouldBe 21L
    h.getAs[Long]("live_rows") shouldBe 19L
    AnnIndex.compactIfNeeded(spark, dir, threshold = 0.05) shouldBe true
    graft.util.Hfs.exists(spark, s"$dir/tombstones") shouldBe false
    spark.read.parquet(s"$dir/vectors").count() shouldBe 19L
    // edges through the dead nodes were spliced: no list references
    // them, every list is back at the stored degree bound
    val adj = spark.read.parquet(s"$dir/adjacency")
      .as[(Long, Seq[Long])].collect()
    adj.flatMap(_._2).toSet should contain noneOf (1L, 11L)
    adj.foreach(_._2.size should be <= 6)
    // serving unchanged across the consolidation
    served() shouldBe afterDelete
  }

  test("compact re-seats a dead entry on the live medoid; fully-tombstoned refuses") {
    // one well-connected blob, so connectivity survives any single loss
    val blob = (0 until 12).map(i => (i.toLong,
        Array(1f + 0.01f * (i % 5), 0.5f + 0.01f * ((i * 3) % 7),
          0.2f + 0.01f * ((i * 5) % 3), 0.1f)))
      .toDF("vec_id", "embedding")
    val dir = tmpDir("graft_graphann_entry")
    GraphAnn.build(blob, "vec_id", "embedding", dir, degree = 5)
    val entry0 = spark.read.parquet(s"$dir/entry").head().getLong(0)
    AnnIndex.deleteIds(spark, dir, Seq(entry0).toDF("vec_id"), "vec_id")
    GraphAnn.compact(spark, dir)
    val entry1 = spark.read.parquet(s"$dir/entry").head().getLong(0)
    entry1 should not be entry0
    // post-consolidation serving equals brute force over survivors
    val queries = blob.filter($"vec_id" === (entry0 + 1) % 12)
    GraphAnn.topK(spark, dir, queries, "vec_id", "embedding",
        k = 3, beamWidth = 8, hops = 4)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet shouldBe
      Similarity.bruteForceTopK(queries, blob.filter($"vec_id" =!= entry0),
          "vec_id", "embedding", 3)
        .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    // fsck audits the graph store like any ANN layout: post-compaction
    // the survivor set is consistent against the survivor base, and the
    // full base flags exactly the one missing id
    StoreMaintenance.fsck(spark, blob.filter($"vec_id" =!= entry0)
        .select($"vec_id"), "vec_id",
        Seq(StoreRef("g", "ann", dir)))
      .head().getAs[Boolean]("consistent") shouldBe true
    val audit = StoreMaintenance.fsck(spark, blob.select($"vec_id"),
      "vec_id", Seq(StoreRef("g", "ann", dir))).head()
    audit.getAs[Long]("missing_ids") shouldBe 1L
    audit.getAs[Long]("orphan_ids") shouldBe 0L
    // fully-tombstoned refuses loudly
    AnnIndex.deleteIds(spark, dir, blob.select($"vec_id"), "vec_id")
    intercept[IllegalArgumentException] {
      GraphAnn.compact(spark, dir)
    }
  }

  test("buildFromIvf: scalable candidates, one live entry per cluster, same serving path") {
    val dir = tmpDir("graft_graphann_ivf")
    GraphAnn.buildFromIvf(corpus, "vec_id", "embedding", dir,
      degree = 6, nlist = 4, nprobe = 2, iters = 2)
    // the LAYOUT is the graph layout: unchanged topK serves it
    AnnIndex.readLayout(spark, dir) shouldBe "graph"
    val adj = spark.read.parquet(s"$dir/adjacency")
      .as[(Long, Seq[Long])].collect().toMap
    adj.size shouldBe 21
    adj.values.foreach(_.size should be <= 6)
    // entries: one per non-empty coarse cluster, all distinct corpus ids
    val entries = spark.read.parquet(s"$dir/entry")
      .select("entry", "degree").as[(Long, Int)].collect()
    entries.length should be >= 2 // two real clusters exist by construction
    entries.length should be <= 4 // ≤ nlist
    entries.map(_._1).distinct.length shouldBe entries.length
    entries.foreach(_._2 shouldBe 6)
    // multi-entry seeding: SHALLOW hops already match brute force on
    // this geometry (the medoid-only exact build needs ~4 hops here)
    val queries = corpus.filter($"vec_id".isin(0L, 15L, 20L))
    val served = GraphAnn.topK(spark, dir, queries, "vec_id", "embedding",
        k = 3, beamWidth = 8, hops = 2)
      .select($"query_id", $"rank", $"neighbor_id").collect().toSet
    val brute = Similarity.bruteForceTopK(queries, corpus,
        "vec_id", "embedding", 3)
      .select($"query_id", $"rank", $"neighbor_id").collect().toSet
    served shouldBe brute
    // maintenance parity: deleting one ENTRY keeps the other seeds (no
    // medoid recompute while any entry survives), and serving follows
    // the survivors
    val deadEntry = entries.map(_._1).min
    AnnIndex.deleteIds(spark, dir, Seq(deadEntry).toDF("vec_id"), "vec_id")
    GraphAnn.compact(spark, dir)
    val after = spark.read.parquet(s"$dir/entry")
      .select("entry", "degree").as[(Long, Int)].collect().map(_._1).toSet
    after shouldBe entries.map(_._1).toSet - deadEntry
  }

  test("robustPrune: α-domination collapses collinear edges, promotes the long one") {
    // node ≈ e1. A (rank 1) near e1; B nearly collinear with A —
    // dominated at any α ≥ 1; C the 45° long edge — d(A,C) ≈ 2618 vs
    // d(node,C) = 2929, so α = 1.2 keeps it (3141 > 2929) while α = 1.0
    // prunes it (2618 ≤ 2929): the knob's whole point in one triple
    val a = Seq(1.0, 0.045, 0.0)
    val b = Seq(1.0, 0.06, 0.0)
    val cc = Seq(1.0, 1.0, 0.0)
    val cands = Seq((1, 10L, 0.9990, a), (2, 11L, 0.9980, b),
      (3, 12L, 0.7071, cc))
    GraphAnn.robustPrune(2, 1200, cands).toSeq shouldBe Seq(10L, 12L)
    GraphAnn.robustPrune(2, 1000, cands).toSeq shouldBe Seq(10L)
    // a huge α never dominates: plain top-degree prefix
    GraphAnn.robustPrune(2, 1000000, cands).toSeq shouldBe Seq(10L, 11L)
    // degree cap binds in rank order
    GraphAnn.robustPrune(1, 1200, cands).toSeq shouldBe Seq(10L)
  }

  test("buildFromIvf with alphaQ: pruned wiring, bounded degree, unchanged serving contract") {
    val plainDir = tmpDir("graft_graph_plain")
    val alphaDir = tmpDir("graft_graph_alpha")
    GraphAnn.buildFromIvf(corpus, "vec_id", "embedding", plainDir,
      degree = 4, nlist = 4, nprobe = 4)
    GraphAnn.buildFromIvf(corpus, "vec_id", "embedding", alphaDir,
      degree = 4, nlist = 4, nprobe = 4, alphaQ = 1200)
    val plain = spark.read.parquet(s"$plainDir/adjacency")
      .as[(Long, Seq[Long])].collect().toMap
    val alpha = spark.read.parquet(s"$alphaDir/adjacency")
      .as[(Long, Seq[Long])].collect().toMap
    alpha.keySet shouldBe plain.keySet
    alpha.values.foreach(_.size should be <= 4)
    // the clusters are stacks of near-collinear points: the prune MUST
    // collapse some of them (strictly fewer total edges than top-degree)
    alpha.values.map(_.size).sum should be < plain.values.map(_.size).sum
    // ...and promote at least one long edge the plain top-degree list
    // didn't carry (in this fixture the 45° bridge point is the natural
    // promotion — far enough from every kept cluster mate to survive α)
    val promoted = alpha.exists { case (id, nbrs) =>
      nbrs.exists(n => !plain(id).contains(n))
    }
    promoted shouldBe true
    // serving reads the layout, not the build: full contract ranks
    val served = GraphAnn.topK(spark, alphaDir,
      corpus.filter($"vec_id" < 3), "vec_id", "embedding", 3,
      beamWidth = 8, hops = 3)
    served.groupBy("query_id").count().collect()
      .foreach(_.getAs[Long]("count") shouldBe 3L)
  }

  test("a sweep fold preserves the store's α wiring") {
    val dir = tmpDir("graft_graph_alpha_fold")
    GraphAnn.buildFromIvf(corpus.filter($"vec_id" < 18), "vec_id",
      "embedding", dir, degree = 4, nlist = 4, nprobe = 4, alphaQ = 1200)
    spark.read.parquet(s"$dir/entry").head()
      .getAs[Int]("alpha_q") shouldBe 1200
    // fresh region + no-knob compact = the sweep's fold path
    GraphAnn.append(spark, dir, corpus.filter($"vec_id" >= 18),
      "vec_id", "embedding")
    GraphAnn.compact(spark, dir)
    // the folded store is still α-wired: knob persisted, and the
    // rebuilt adjacency is strictly sparser than a plain fold's
    spark.read.parquet(s"$dir/entry").head()
      .getAs[Int]("alpha_q") shouldBe 1200
    val plainDir = tmpDir("graft_graph_plain_fold")
    GraphAnn.buildFromIvf(corpus, "vec_id", "embedding", plainDir,
      degree = 4, nlist = 4, nprobe = 4)
    val aEdges = spark.read.parquet(s"$dir/adjacency")
      .select(explode($"__nbrs")).count()
    val pEdges = spark.read.parquet(s"$plainDir/adjacency")
      .select(explode($"__nbrs")).count()
    aEdges should be < pEdges
  }

  test("a delete-splice compact keeps the store's α wiring in the re-cut") {
    // no fresh region → compact takes the SPLICE path, whose re-cut
    // must honor the persisted α (r17 ADVICE: it used to fall back to
    // plain top-degree until the next fold while the metadata still
    // claimed α)
    val plainDir = tmpDir("graft_graph_plain_splice")
    val alphaDir = tmpDir("graft_graph_alpha_splice")
    GraphAnn.buildFromIvf(corpus, "vec_id", "embedding", plainDir,
      degree = 4, nlist = 4, nprobe = 4)
    GraphAnn.buildFromIvf(corpus, "vec_id", "embedding", alphaDir,
      degree = 4, nlist = 4, nprobe = 4, alphaQ = 1200)
    for (dir <- Seq(plainDir, alphaDir)) {
      AnnIndex.deleteIds(spark, dir, Seq(1L, 11L).toDF("vec_id"), "vec_id")
      GraphAnn.compact(spark, dir)
    }
    val plain = spark.read.parquet(s"$plainDir/adjacency")
      .as[(Long, Seq[Long])].collect().toMap
    val alpha = spark.read.parquet(s"$alphaDir/adjacency")
      .as[(Long, Seq[Long])].collect().toMap
    // both respect the degree bound and reference no dead ids
    (plain.values ++ alpha.values).foreach(_.size should be <= 4)
    (plain.values ++ alpha.values).flatten.toSet should
      contain noneOf (1L, 11L)
    // the α re-cut still collapses the collinear stacks: strictly
    // fewer total edges than the plain splice of the same deletes
    alpha.values.map(_.size).sum should be < plain.values.map(_.size).sum
    // and the knob survives the splice generation
    spark.read.parquet(s"$alphaDir/entry").head()
      .getAs[Int]("alpha_q") shouldBe 1200
  }

  test("compact follows a two-deep dead chain when splicing edges") {
    // hand-laid path graph 0-1-2-3-4 (the serving path reads only the
    // layout, so a synthetic adjacency is a legal graph store): nodes 1
    // AND 2 die — node 0's only edge points at dead 1, whose neighbors
    // are {0, dead 2}; a single-level splice drops everything and
    // disconnects 0, the depth-2 splice reaches live 3 through the chain
    val dir = tmpDir("graft_graphann_chain")
    val vecs = (0 until 5).map(i =>
        (i.toLong, Array(1f, 0.1f * i, 0f, 0f)))
      .toDF("__id", "__vec")
    AnnIndex.writeMeta(spark, dir, m = 0, sub = 0, nlist = -1,
      layout = "graph")
    vecs.write.parquet(s"$dir/vectors")
    Seq(0L -> Seq(1L), 1L -> Seq(0L, 2L), 2L -> Seq(1L, 3L),
        3L -> Seq(2L, 4L), 4L -> Seq(3L))
      .toDF("__id", "__nbrs").write.parquet(s"$dir/adjacency")
    Seq((4L, 2)).toDF("entry", "degree")
      .coalesce(1).write.parquet(s"$dir/entry")
    AnnIndex.deleteIds(spark, dir, Seq(1L, 2L).toDF("__id"), "__id")
    GraphAnn.compact(spark, dir) // default spliceDepth = 2
    val adj = spark.read.parquet(s"$dir/adjacency")
      .as[(Long, Seq[Long])].collect().toMap
    adj.flatMap(_._2).toSet should contain noneOf (1L, 2L)
    // the chain was followed: 0 reconnected to 3 (1 → 2 → 3)
    adj(0L) should contain(3L)
    // and the single-level form is pinned as the weaker behavior: a
    // fresh copy compacted at spliceDepth = 1 drops 0's edges entirely
    val dir1 = tmpDir("graft_graphann_chain1")
    AnnIndex.writeMeta(spark, dir1, m = 0, sub = 0, nlist = -1,
      layout = "graph")
    vecs.write.parquet(s"$dir1/vectors")
    Seq(0L -> Seq(1L), 1L -> Seq(0L, 2L), 2L -> Seq(1L, 3L),
        3L -> Seq(2L, 4L), 4L -> Seq(3L))
      .toDF("__id", "__nbrs").write.parquet(s"$dir1/adjacency")
    Seq((4L, 2)).toDF("entry", "degree")
      .coalesce(1).write.parquet(s"$dir1/entry")
    AnnIndex.deleteIds(spark, dir1, Seq(1L, 2L).toDF("__id"), "__id")
    GraphAnn.compact(spark, dir1, spliceDepth = 1)
    spark.read.parquet(s"$dir1/adjacency")
      .as[(Long, Seq[Long])].collect().toMap
      .get(0L) shouldBe None
  }

  test("append: fresh-region rows serve exactly; update = delete + append; compact folds") {
    val dir = tmpDir("graft_graphann_delta")
    // build on everything except three docs, append those as the delta
    val base = corpus.filter(!$"vec_id".isin(4L, 14L, 20L))
    val late = corpus.filter($"vec_id".isin(4L, 14L, 20L))
    GraphAnn.buildFromIvf(base, "vec_id", "embedding", dir,
      degree = 6, nlist = 4, nprobe = 2)
    GraphAnn.append(spark, dir, late, "vec_id", "embedding")
    val queries = corpus.filter($"vec_id".isin(0L, 15L, 20L))
    def served() = GraphAnn.topK(spark, dir, queries, "vec_id", "embedding",
        k = 3, beamWidth = 8, hops = 3)
      .select($"query_id", $"rank", $"neighbor_id").collect().toSet
    // appended rows are servable immediately, at exact quality: the
    // whole union corpus answers like brute force (20 is BOTH a query
    // and a delta member — the self-exclusion crosses regions)
    val brute = Similarity.bruteForceTopK(queries, corpus,
        "vec_id", "embedding", 3)
      .select($"query_id", $"rank", $"neighbor_id").collect().toSet
    served() shouldBe brute
    // health prices the fresh region: 18 graph rows + 3 delta rows
    val h = AnnIndex.healthReport(spark, Seq("g" -> dir)).head()
    h.getAs[Long]("total_rows") shouldBe 21L
    h.getAs[Long]("live_rows") shouldBe 21L
    // fsck membership includes delta ids
    StoreMaintenance.fsck(spark, corpus.select($"vec_id"), "vec_id",
      Seq(StoreRef("g", "ann", dir))).head()
      .getAs[Boolean]("consistent") shouldBe true
    // UPDATE through the family CDC contract: node 3's vector becomes
    // node 15's — after delete + re-append, query 15 must rank 3 first
    // (cosine 1.0 beats every in-cluster neighbor)
    AnnIndex.deleteIds(spark, dir, Seq(3L).toDF("vec_id"), "vec_id")
    GraphAnn.append(spark, dir,
      corpus.filter($"vec_id" === 15L)
        .select(lit(3L).as("vec_id"), $"embedding"),
      "vec_id", "embedding")
    val q15 = GraphAnn.topK(spark, dir,
        corpus.filter($"vec_id" === 15L), "vec_id", "embedding",
        k = 3, beamWidth = 8, hops = 3)
      .filter($"rank" === 1).select($"neighbor_id").as[Long].head()
    q15 shouldBe 3L
    // consolidate: the fold gives every survivor fresh edges and
    // centroid entries; the delta and the tombstone log reset
    GraphAnn.compact(spark, dir, foldNlist = 4, foldNprobe = 2)
    graft.util.Hfs.exists(spark, s"$dir/delta") shouldBe false
    graft.util.Hfs.exists(spark, s"$dir/tombstones") shouldBe false
    spark.read.parquet(s"$dir/vectors").count() shouldBe 21L
    spark.read.parquet(s"$dir/adjacency").count() shouldBe 21L
    // post-fold serving: still brute-exact over the updated corpus
    val updated = corpus.filter($"vec_id" =!= 3L)
      .unionByName(corpus.filter($"vec_id" === 15L)
        .select(lit(3L).as("vec_id"), $"embedding"))
    GraphAnn.topK(spark, dir, queries, "vec_id", "embedding",
        k = 3, beamWidth = 8, hops = 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet shouldBe
      Similarity.bruteForceTopK(queries, updated, "vec_id", "embedding", 3)
        .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
  }

  test("a pure-append fresh region triggers the fold through the sweep policy") {
    // zero tombstones, so tombstone debt is 0 forever — the DELTA share
    // is the axis that must route this store to consolidation, or an
    // append-only workload would grow the brute-scored region unboundedly
    val dir = tmpDir("graft_graphann_deltadebt")
    val base = corpus.filter($"vec_id" < 11)
    GraphAnn.buildFromIvf(base, "vec_id", "embedding", dir,
      degree = 4, nlist = 4, nprobe = 2)
    GraphAnn.append(spark, dir, corpus.filter($"vec_id" >= 11),
      "vec_id", "embedding")
    // delta share 10/21 ≈ 0.48 ≥ 0.25: the policy folds
    AnnIndex.compactIfNeeded(spark, dir, threshold = 0.25) shouldBe true
    graft.util.Hfs.exists(spark, s"$dir/delta") shouldBe false
    spark.read.parquet(s"$dir/vectors").count() shouldBe 21L
    // a small fresh region stays below the trigger (1/22 < 0.25)
    GraphAnn.append(spark, dir,
      corpus.filter($"vec_id" === 0L)
        .select(($"vec_id" + 100L).as("vec_id"), $"embedding"),
      "vec_id", "embedding")
    AnnIndex.compactIfNeeded(spark, dir, threshold = 0.25) shouldBe false
    graft.util.Hfs.exists(spark, s"$dir/delta") shouldBe true
  }

  test("sweep-triggered folds derive nlist from the live store size") {
    // the sweep (AnnIndex.compactIfNeeded) calls compact with no knobs:
    // auto geometry must scale nlist with √n so the fold's blocked
    // self-join stays subquadratic at any store size, instead of
    // pinning nlist=16 and degrading to ~n²/16 (ADVICE r16)
    GraphAnn.autoFoldGeometry(21L, 0, 0) shouldBe ((16, 6))
    GraphAnn.autoFoldGeometry(250L, 0, 0) shouldBe ((16, 6))
    GraphAnn.autoFoldGeometry(1000000L, 0, 0) shouldBe ((1000, 375))
    GraphAnn.autoFoldGeometry(100000000L, 0, 0) shouldBe ((10000, 3750))
    // explicit knobs pass through untouched (the gate fixtures pin theirs)
    GraphAnn.autoFoldGeometry(1000000L, 4, 2) shouldBe ((4, 2))
    // explicit nlist with auto nprobe derives from the GIVEN nlist
    GraphAnn.autoFoldGeometry(1000000L, 8, 0) shouldBe ((8, 3))
  }

  test("guards: wrong layout and bad hops refuse; a narrow beam widens internally") {
    val dir = tmpDir("graft_graphann3")
    GraphAnn.build(corpus, "vec_id", "embedding", dir, degree = 4)
    // beamWidth <= k is ABSORBED, not rejected (the r16 tightening to
    // beamWidth > k broke legal beamWidth == k callers at runtime —
    // ADVICE r16): the search widens the beam to k+1 itself, so the
    // self-match filtered after the beam cut cannot under-fill the
    // result. k live neighbors exist here, so exactly k ranks serve.
    GraphAnn.topK(spark, dir, corpus.filter($"vec_id" === 0L),
        "vec_id", "embedding", k = 3, beamWidth = 3, hops = 4)
      .count() shouldBe 3L
    intercept[IllegalArgumentException] {
      GraphAnn.topK(spark, dir, corpus, "vec_id", "embedding",
        k = 2, beamWidth = 4, hops = 0)
    }
    // a non-graph dir refuses through the layout check
    val pq = tmpDir("graft_graphann4")
    AnnIndex.buildPq(corpus, "vec_id", "embedding", pq, m = 2, ksub = 4,
      iters = 1)
    intercept[IllegalArgumentException] {
      GraphAnn.topK(spark, pq, corpus, "vec_id", "embedding", k = 2,
        beamWidth = 4)
    }
  }

  /** The Spark-side hop loop [[GraphAnn.topK]] ran before the beam moved
    * to the driver, kept verbatim as the equivalence reference: per hop,
    * broadcast joins of the beam into `adjacency/` and of the candidates
    * into `vectors/`, a query-keyed dedup and the ranking window.
    */
  private def referenceTopK(dir: String, queries: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, k: Int, beamWidth: Int,
      hops: Int): org.apache.spark.sql.DataFrame = {
    import graft.functions.Cols.qcol
    val beam0 = math.max(beamWidth, k + 1)
    val entries = graft.util.TinyParquet.readRows(spark, s"$dir/entry")
      .map(_("entry").asInstanceOf[Long]).sorted
    val v = spark.read.parquet(s"$dir/vectors")
    val vLive = AnnIndex.liveOnly(spark, dir, v)
    val adj = spark.read.parquet(s"$dir/adjacency")
    val q = queries.select(qcol(idCol).cast("long").as("query_id"),
        qcol(vecCol).as("__qv"))
      .localCheckpoint(eager = false)
    def scoreTop(table: org.apache.spark.sql.DataFrame,
        cands: org.apache.spark.sql.DataFrame, width: Int,
        excludeSelf: Boolean = false, dedupCands: Boolean = false) = {
      val scored0 = table
        .join(broadcast(cands), cands("__nid") === table("__id"))
        .drop("__id")
        .join(broadcast(q), Seq("query_id"))
        .select(col("query_id"), col("__nid"),
          Similarity.cosine(col("__qv"), col("__vec")).as("cosine"))
      val scored1 =
        if (excludeSelf) scored0.filter(col("query_id") =!= col("__nid"))
        else scored0
      val scored = if (dedupCands)
        scored1.repartition(col("query_id"))
          .groupBy(col("query_id"), col("__nid"))
          .agg(max(col("cosine")).as("cosine"))
      else scored1
      Similarity.topKPerQuery(scored, "cosine", "__nid", width)
    }
    var beam = q.select(col("query_id"),
      explode(array(entries.map(lit(_)): _*)).as("__nid"))
    for (_ <- 1 to hops) {
      val expanded = adj
        .join(broadcast(beam), beam("__nid") === adj("__id"))
        .select(col("query_id"), explode(col("__nbrs")).as("__nid"))
        .unionByName(beam.select(col("query_id"), col("__nid")))
      beam = scoreTop(v, expanded, beam0, dedupCands = true)
        .select(col("query_id"), col("__nid"))
        .localCheckpoint(eager = false)
    }
    val deltaPath = s"$dir/delta"
    val (finalCands, finalVecs) =
      if (!graft.util.Hfs.exists(spark, deltaPath)) (beam, vLive)
      else {
        val dLive = AnnIndex.liveOnly(spark, dir,
            spark.read.parquet(deltaPath))
          .select(col("__id"), col("__vec"))
          .localCheckpoint(eager = false)
        val cands = beam.unionByName(
            q.select(col("query_id"))
              .crossJoin(broadcast(dLive.select(col("__id").as("__nid")))))
          .distinct()
        (cands, vLive.select(col("__id"), col("__vec")).unionByName(dLive))
      }
    scoreTop(finalVecs, finalCands, k, excludeSelf = true)
      .withColumnRenamed("__nid", "neighbor_id")
  }

  // six seeded blobs of 40 points in 8 dims: enough nodes that beams of
  // 5–12 over degree-6 graphs make real ranking decisions every hop
  private def blobs(ids: Range, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(6)(Array.fill(8)(rnd.nextGaussian().toFloat))
    ids.map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => x + 0.35f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def assertSameAsReference(dir: String, what: String): Unit = {
    val base = blobs(0 until 240, 7L)
    val queries = base.filter($"vec_id".isin(0L, 17L, 55L, 101L, 160L, 239L))
      .unionByName(blobs(9001 until 9002, 11L))
      // all-zero query: every cosine is null, so the ranking falls to ids
      .unionByName(Seq((9002L, Array.fill(8)(0f))).toDF("vec_id", "embedding"))
    for ((beamWidth, hops, k) <- Seq((8, 3, 5), (5, 1, 5), (12, 4, 10))) {
      val got = GraphAnn.topK(spark, dir, queries, "vec_id", "embedding", k,
        beamWidth, hops)
      val want = referenceTopK(dir, queries, "vec_id", "embedding", k,
        beamWidth, hops)
      withClue(s"$what beamWidth=$beamWidth hops=$hops k=$k: ") {
        got.schema shouldBe want.schema
        val order = Seq("query_id", "rank", "neighbor_id").map(col)
        got.orderBy(order: _*).collect().toSeq shouldBe
          want.orderBy(order: _*).collect().toSeq
      }
    }
  }

  /** Fresh → append → delete → bare duplicate re-append, checked against
    * the reference at every step.
    */
  private def assertLifecycle(dir: String): Unit = {
    assertSameAsReference(dir, "fresh")
    GraphAnn.append(spark, dir, blobs(300 until 312, 13L), "vec_id", "embedding")
    assertSameAsReference(dir, "appended")
    val entry = graft.util.TinyParquet.readRows(spark, s"$dir/entry")
      .map(_("entry").asInstanceOf[Long]).min
    AnnIndex.deleteIds(spark, dir,
      Seq(entry, 1L, 18L, 56L, 302L).toDF("vec_id"), "vec_id")
    assertSameAsReference(dir, "deleted")
    // no delete first: two live generations of ids 17 and 305
    GraphAnn.append(spark, dir, blobs(0 until 2, 17L)
        .select(($"vec_id" * 288 + 17).as("vec_id"), $"embedding"),
      "vec_id", "embedding")
    assertSameAsReference(dir, "duplicate re-append")
  }

  test("driver beam == Spark-side reference: exact build (duplicate id, zero vector)") {
    val dir = tmpDir("graft_graphann_eq_exact")
    // id 3 stored twice: the hop scores it by the max over its rows
    GraphAnn.build(blobs(0 until 240, 7L).unionByName(blobs(3 until 4, 5L))
        .unionByName(Seq((240L, Array.fill(8)(0f))).toDF("vec_id", "embedding")),
      "vec_id", "embedding", dir, degree = 6)
    // route every fifth node to the zero vector: its cosine is null for
    // every query, so each hop ranks null scores beside real ones
    spark.read.parquet(s"$dir/adjacency")
      .withColumn("__nbrs", when(col("__id") % 5 === 0,
        array_union(col("__nbrs"), array(lit(240L)))).otherwise(col("__nbrs")))
      .localCheckpoint(eager = true)
      .write.mode("overwrite").parquet(s"$dir/adjacency")
    assertLifecycle(dir)
  }

  test("driver beam == Spark-side reference: buildFromIvf") {
    val dir = tmpDir("graft_graphann_eq_ivf")
    GraphAnn.buildFromIvf(blobs(0 until 240, 7L), "vec_id", "embedding", dir,
      degree = 6, nlist = 8, nprobe = 3)
    assertLifecycle(dir)
  }

  test("driver beam == Spark-side reference: α-pruned buildFromIvf") {
    val dir = tmpDir("graft_graphann_eq_alpha")
    GraphAnn.buildFromIvf(blobs(0 until 240, 7L), "vec_id", "embedding", dir,
      degree = 6, nlist = 8, nprobe = 3, alphaQ = 1200)
    assertLifecycle(dir)
  }
}
