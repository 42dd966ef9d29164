package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
    (4L, "completely different words entirely here now today"),
    (5L, "the quick brown fox jumps over the lazy dog extra"), // superset of 1
  ).toDF("doc_id", "text")

  test("exact groups find byte-identical texts only") {
    val g = Dedup.exactGroups(docs, Seq("text"), "doc_id").collect()
    g should have length 1
    g.head.getAs[Long]("canonical_id") shouldBe 1L
    g.head.getAs[Long]("n_dups") shouldBe 2L
  }

  test("dropExactDuplicates keeps lowest id") {
    val kept = Dedup.dropExactDuplicates(docs, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(1L, 3L, 4L, 5L)
  }

  test("dropNearDuplicates resolves transitive clusters to the canonical member") {
    // pairs 1≈2 and 2≈3: 3 must drop even though (1, 3) was never a pair;
    // 4 and 5 are untouched by any pair and survive
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(1L, 4L, 5L)
    // empty pair frame: the corpus passes through untouched
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    Dedup.dropNearDuplicates(docs, "doc_id", none).count() shouldBe 5
  }

  test("minhash candidates rank near-dups above unrelated docs") {
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text",
      numHashes = 64, bands = 32, shingleSize = 3, minEstJaccard = 0.3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("est_jaccard")).toMap
    cands((1L, 2L)) shouldBe 1.0 // identical docs: every band collides, est 1
    cands.contains((1L, 4L)) shouldBe false
    cands.getOrElse((1L, 5L), 0.0) should be > 0.5
  }

  test("exact ngram jaccard matches hand computation") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleSize = 3, threshold = 0.2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    pairs((1L, 2L)) shouldBe 1.0
    // doc1: 7 shingles; doc5: 8 shingles, 7 shared ⇒ 7/8
    pairs((1L, 5L)) shouldBe (7.0 / 8.0 +- 0.0001)
    // doc3 differs in last token: shares 6 of 7; union 8 ⇒ 6/8
    pairs((1L, 3L)) shouldBe 0.75
    pairs.contains((1L, 4L)) shouldBe false
  }

  test("simhash: identical docs distance 0; near dups small; unrelated far") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 20)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Int]("hamming")).toMap
    pairs((1L, 2L)) shouldBe 0
    pairs.get((1L, 5L)).foreach(_ should be <= 20)
  }

  test("embedding cosine pairs find scaled vectors, skip orthogonal") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f), 0),
      (2L, Array(2.0f, 0.0f, 4.0f), 0), // scaled ⇒ cosine 1
      (3L, Array(0.0f, 5.0f, 0.0f), 0), // orthogonal
      (4L, Array(1.0f, 0.0f, 2.0f), 1), // same as 1 but different block
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", "label", 0.99)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    pairs.toSeq shouldBe Seq((1L, 2L)) // 1-4 blocked apart, 1-3 orthogonal
  }

  test("embedding cosine pairs drop blocks beyond maxBlockSize") {
    // one hot block (0: 4 rows) + one small block (1: 2 rows); cap at 3
    // must drop the hot block's pairs entirely and keep the small block's
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(2.0f, 0.0f), 0),
      (3L, Array(3.0f, 0.0f), 0), (4L, Array(4.0f, 0.0f), 0),
      (5L, Array(0.0f, 1.0f), 1), (6L, Array(0.0f, 2.0f), 1),
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", "label",
        threshold = 0.99, maxBlockSize = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    pairs.toSeq shouldBe Seq((5L, 6L))
    // raising the cap past the hot block restores all-pairs within it
    val all = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", "label",
        threshold = 0.99, maxBlockSize = 10)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    all.length shouldBe 7 // C(4,2)=6 in block 0 + 1 in block 1
  }

  test("semantic dedup: centroid blocking pairs cluster-mates, keeps min id, spares cross-cluster") {
    // two well-separated directions; centroids planted on them — the
    // trained-quantizer blocking of semanticDupPairs without the kmeans
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.01f)), // cluster 0 near-dups
      (3L, Array(0.0f, 1.0f)),                           // cluster 1, alone
      (4L, Array(0.92f, 0.0f)),                          // cluster 0, chains with 1 and 2
    ).toDF("vec_id", "embedding")
    val centroids = Seq((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0)))
      .toDF("__cid", "centroid")
    val pairs = Dedup.semanticDupPairs(emb, "vec_id", "embedding", centroids,
        threshold = 0.99)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    pairs shouldBe Set((1L, 2L), (1L, 4L), (2L, 4L))
    // the transitive cluster {1, 2, 4} keeps its minimum id; 3 untouched
    Dedup.semanticDedup(emb, "vec_id", "embedding", centroids, threshold = 0.99)
      .select("vec_id").as[Long].collect().toSet shouldBe Set(1L, 3L)
    // a hot cluster beyond the cap produces no pairs (quantizer too coarse
    // for dedup — the caller retrains rather than going quadratic)
    Dedup.semanticDupPairs(emb, "vec_id", "embedding", centroids,
      threshold = 0.99, maxClusterSize = 2).count() shouldBe 0L
  }

  test("duplicated spans: maximal cross-doc and within-doc runs, 0-based token indices") {
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "a different sentence with the quick brown fox jumps inside it"),
      (3L, "x y z x y z x y z"), // self-repeating: every 3-gram recurs
      (4L, "nothing shared here at all"),
      // docs 5/6 share "p q r" and "r s t" but NOT "q r s": doc 5's two
      // spans OVERLAP in token space (positions 0 and 2 duplicated,
      // 1 not) — the stats below must count the union, not the sum
      (5L, "p q r s t"),
      (6L, "p q r x x x x r s t"),
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // doc 1: "the quick brown fox jumps" (tokens 0-4, 3 shared 3-grams);
    // doc 2: same passage at tokens 4-8; doc 3: one maximal run covering
    // the whole doc; doc 4: nothing; doc 5: overlapping spans; doc 6:
    // three separate spans ("x x x" repeats within-doc at positions 3-4)
    spans shouldBe Array((1L, 0, 4, 3), (2L, 4, 8, 3), (3L, 0, 8, 7),
      (5L, 0, 2, 1), (5L, 2, 4, 1),
      (6L, 0, 2, 1), (6L, 3, 6, 2), (6L, 7, 9, 1))
    val stats = Dedup.spanDuplicationStats(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    // doc 5: union of [0,2] and [2,4] is 5 tokens (a naive extent sum
    // would claim 6 of 5 = fraction 1.2)
    stats shouldBe Array(
      (1L, 5, 9, 0.5556), (2L, 5, 11, 0.4545), (3L, 9, 9, 1.0), (4L, 0, 5, 0.0),
      (5L, 5, 5, 1.0), (6L, 10, 10, 1.0))
    // remediation: duplicated spans cut, survivors keep document order,
    // fully-duplicated docs keep a row with the empty string
    val cleaned = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    cleaned shouldBe Array(
      (1L, "over the lazy dog"),
      (2L, "a different sentence with inside it"),
      (3L, ""),
      (4L, "nothing shared here at all"),
      (5L, ""),
      (6L, ""))
  }

  test("effectiveSize: cross-source attribution to the canonical, null texts never collapse") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta", "a"),   // canonical of the dup group
      (2L, "alpha beta", "b"),   // exact dup, later id → collapses into a
      (3L, "gamma", "b"),
      (4L, null.asInstanceOf[String], "b"),
      (5L, null.asInstanceOf[String], "b")) // null texts keep their own identity
      .toDF("id", "text", "src")
    val rep = Dedup.effectiveSize(df, "id", "text", "src")
      .collect().map(r => r.getAs[String]("src") -> r).toMap
    rep("a").getAs[Long]("n_docs") shouldBe 1L
    rep("a").getAs[Long]("n_docs_effective") shouldBe 1L
    rep("a").getAs[Long]("n_tokens_effective") shouldBe 2L
    // source b: 4 raw docs (one dup, two nulls) → 3 effective (the dup
    // attributed to a; both nulls survive with 0 tokens)
    rep("b").getAs[Long]("n_docs") shouldBe 4L
    rep("b").getAs[Long]("n_tokens") shouldBe 3L
    rep("b").getAs[Long]("n_docs_effective") shouldBe 3L
    rep("b").getAs[Long]("n_tokens_effective") shouldBe 1L
    rep("b").getAs[Double]("token_dup_ratio") shouldBe (2.0 / 3.0)
  }

  test("effectiveSizeByComponents: clustering drives attribution, unlabeled rows are singletons") {
    import spark.implicits._
    val df = Seq(
      (1L, "one two three", "a"),  // clustered with 2 (near-dup labeling)
      (2L, "one two threeX", "b"), // NOT an exact dup — the components decide
      (3L, "four", "b"))           // absent from the labeling → singleton
      .toDF("id", "text", "src")
    val comps = Seq((1L, 1L), (2L, 1L)).toDF("id", "component")
    val rep = Dedup.effectiveSizeByComponents(df, "id", "text", "src", comps)
      .collect().map(r => r.getAs[String]("src") -> r).toMap
    // cluster {1, 2} canonical is 1 → source a owns its tokens
    rep("a").getAs[Long]("n_docs_effective") shouldBe 1L
    rep("a").getAs[Long]("n_tokens_effective") shouldBe 3L
    // source b keeps only the singleton (doc 2 attributed to a)
    rep("b").getAs[Long]("n_docs") shouldBe 2L
    rep("b").getAs[Long]("n_docs_effective") shouldBe 1L
    rep("b").getAs[Long]("n_tokens_effective") shouldBe 1L
  }

  test("lshPlan: S-curve masses behave, the chosen banding minimizes total error") {
    val plan = Dedup.lshPlan(spark, numHashes = 64,
        jaccardThresholdQ = 500000L, gridSteps = 20)
      .collect().map(r => r.getAs[Int]("bands") ->
        ((r.getAs[Long]("fp_q"), r.getAs[Long]("fn_q"),
          r.getAs[Long]("err_q"), r.getAs[Boolean]("chosen")))).toMap
    plan.keySet shouldBe Set(1, 2, 4, 8, 16, 32, 64)
    // monotone extremes: one band of 64 rows is the strictest AND
    // (lowest FP mass, highest FN); 64 bands of 1 row the loosest OR
    plan(1)._1 shouldBe plan.values.map(_._1).min
    plan(1)._2 shouldBe plan.values.map(_._2).max
    plan(64)._1 shouldBe plan.values.map(_._1).max
    plan(64)._2 shouldBe plan.values.map(_._2).min
    // exactly one chosen row, and it carries the minimum total error
    plan.values.count(_._4) shouldBe 1
    val chosen = plan.values.find(_._4).get
    chosen._3 shouldBe plan.values.map(_._3).min
    // the production 16x4 geometry is the planner's own answer at the
    // family operating point (the trade study behind the default)
    plan(16)._4 shouldBe true
    // guards
    intercept[IllegalArgumentException] { Dedup.lshPlan(spark, gridSteps = 7) }
    intercept[IllegalArgumentException] {
      Dedup.lshPlan(spark, jaccardThresholdQ = 1000000L)
    }
  }

  // ------------------------------------------------ near-dup resolve
  /** The resolve as it was before the single-pass rewrite: label
    * propagation (escalating to star contraction) over the pair frame,
    * read once for the nodes and once for the edges. Kept as the
    * reference the rewrite must reproduce byte for byte.
    */
  private def referenceDropNearDuplicates(df: org.apache.spark.sql.DataFrame,
      idCol: String, pairs: org.apache.spark.sql.DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): org.apache.spark.sql.DataFrame = {
    val nodes = pairs.select(col(aCol).cast("long").as("__nid"))
      .unionByName(pairs.select(col(bCol).cast("long").as("__nid")))
      .distinct()
    val losers = Dedup.connectedComponents(nodes, "__nid", pairs, aCol, bCol)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__nid"))
    df.join(losers, col(idCol).cast("long") === col("__nid"), "left_anti")
  }

  private val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  /** `body` once under the session's broadcast threshold (driver-side
    * resolve) and once with broadcasting off (distributed resolve).
    */
  private def underBothThresholds(body: Boolean => Unit): Unit = {
    body(true)
    val saved = spark.conf.getOption(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try body(false)
    finally saved.fold(spark.conf.unset(thresholdKey))(spark.conf.set(thresholdKey, _))
  }

  private def numberedDocs(n: Int) =
    (0L until n.toLong).map(i => (i, s"document $i")).toDF("doc_id", "text")

  private def assertResolvesLikeReference(name: String,
      df: org.apache.spark.sql.DataFrame, idCol: String,
      pairs: org.apache.spark.sql.DataFrame): Unit = {
    val want = referenceDropNearDuplicates(df, idCol, pairs)
    val wantRows = want.collect().map(_.toString).sorted
    underBothThresholds { driverSide =>
      val got = Dedup.dropNearDuplicates(df, idCol, pairs)
      withClue(s"$name (driver side = $driverSide): ") {
        // the driver side's losers are a local relation; only the
        // distributed side's plan reads checkpointed labels
        got.queryExecution.optimizedPlan
          .exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]) shouldBe !driverSide
        got.schema shouldBe want.schema
        got.collect().map(_.toString).sorted shouldBe wantRows
      }
    }
  }

  test("near-dup resolve: rows and schema identical to label propagation, both sides of the size test") {
    Seq(3L, 17L, 2024L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(90)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      assertResolvesLikeReference(s"random graph seed $seed", numberedDocs(160), "doc_id",
        edges.toDF("id_a", "id_b"))
    }
    assertResolvesLikeReference("duplicate and reversed pairs", numberedDocs(12), "doc_id",
      Seq((1L, 2L), (2L, 1L), (1L, 2L), (5L, 3L), (3L, 5L), (4L, 3L), (9L, 8L), (8L, 9L))
        .toDF("id_a", "id_b"))
    assertResolvesLikeReference("self-loops", numberedDocs(12), "doc_id",
      Seq((1L, 1L), (2L, 2L), (2L, 3L), (7L, 7L), (6L, 4L), (4L, 4L)).toDF("id_a", "id_b"))
    assertResolvesLikeReference("null endpoints", numberedDocs(12), "doc_id",
      Seq[(Option[Long], Option[Long])]((Some(1L), None), (None, Some(2L)),
        (None, None), (Some(3L), Some(4L)), (Some(5L), None), (Some(6L), Some(5L)))
        .toDF("id_a", "id_b"))
    assertResolvesLikeReference("string ids cast to long",
      Seq(("001", "a"), ("2", "b"), ("0003", "c"), ("4", "d"), ("10", "e"))
        .toDF("doc_id", "text"), "doc_id",
      Seq(("2", "0001"), ("03", "4"), ("10", "10")).toDF("id_a", "id_b"))
    // diameter 63 > maxIter 20: the distributed side escalates to star
    // contraction, the driver side needs no rounds at all
    assertResolvesLikeReference("64-node path", numberedDocs(70), "doc_id",
      new scala.util.Random(7).shuffle((0L until 63L).map(i => (i + 1, i)))
        .toDF("id_a", "id_b"))
    assertResolvesLikeReference("empty pair frame", numberedDocs(5), "doc_id",
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assertResolvesLikeReference("minhash candidates", docs, "doc_id",
      Dedup.minhashCandidates(docs, "doc_id", "text", numHashes = 64, bands = 32,
        shingleSize = 3, minEstJaccard = 0.3))
  }

  test("near-dup resolve evaluates the pair frame exactly once") {
    // a row-counting UDF on the pairs' source ticks once per source row
    // per evaluation (nondeterministic, so no rule may duplicate or move it)
    val acc = spark.sparkContext.longAccumulator("pair_rows")
    val tick = udf((x: Long) => { acc.add(1L); x }).asNondeterministic()
    val pairs = spark.range(0L, 120L, 1L, 3)
      .select(tick(col("id")).as("__i"))
      .select(((col("__i") * 7) % 50).as("id_a"), ((col("__i") * 13 + 1) % 50).as("id_b"))
    underBothThresholds { driverSide =>
      acc.reset()
      val kept = Dedup.dropNearDuplicates(numberedDocs(60), "doc_id", pairs)
      kept.collect()
      kept.count()
      withClue(s"driver side = $driverSide: ") { acc.value shouldBe 120L }
    }
  }

  test("near-dup resolve starts at most 3 jobs before the caller's action, whatever the diameter") {
    def jobsDuring(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try body
      finally {
        org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      jobs.get()
    }
    val path = (0L until 63L).map(i => (i, i + 1))
    val star = (1L until 40L).map(i => (0L, i))
    Seq("64-node path" -> path, "star" -> star).foreach { case (name, edges) =>
      val pairs = edges.toDF("id_a", "id_b").localCheckpoint(eager = true)
      val docs = numberedDocs(70).localCheckpoint(eager = true)
      val n = jobsDuring { Dedup.dropNearDuplicates(docs, "doc_id", pairs) }
      withClue(s"$name: ") { n should be <= 3 }
    }
  }
}
