package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-12 curation/monitoring operators: KMV distinct sketch, PSI
  * drift, declarative expectations, filtered IVF search.
  */
class QualityOpsSpec extends SparkSpec {
  import spark.implicits._

  test("kmv: small groups are exact, large groups estimate within the 1/sqrt(k) band") {
    val df = ((0 until 3).map(i => ("small", s"v$i")) ++
      (0 until 5000).map(i => ("big", s"u$i"))).toDF("g", "v")
    val est = Sketch.kmvDistinct(df, "g", col("v"), 64)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    est("small") shouldBe 3.0
    est("big") shouldBe 5000.0 +- 5000.0 * 3.0 / math.sqrt(64) // 3 sigma
    // duplicates don't move the estimate; nulls contribute nothing
    val withDups = df.unionByName(df).unionByName(
      Seq(("big", null: String)).toDF("g", "v"))
    Sketch.kmvDistinct(withDups, "g", col("v"), 64)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap shouldBe est
  }

  test("kmvOverlap: degenerate case exact, trimmed case tracks true Jaccard") {
    // degenerate: union smaller than k → exact counts, exact Jaccard
    val a = (0 until 6).map(i => s"v$i").toDF("v")
    val b = (3 until 9).map(i => s"v$i").toDF("v")
    val r = Sketch.kmvOverlap(a, b, col("v"), k = 64).head()
    r.getAs[Long]("n_kept") shouldBe 9L
    r.getAs[Long]("n_both") shouldBe 3L
    r.getAs[Double]("est_union") shouldBe 9.0
    r.getAs[Double]("jaccard_est") shouldBe 3.0 / 9.0
    r.getAs[Double]("est_intersect") shouldBe 3.0
    // trimmed: 3000-value sets sharing 1000 (true J = 1/5, union 5000)
    val big = (0 until 3000).map(i => s"x$i").toDF("v")
    val shifted = (2000 until 5000).map(i => s"x$i").toDF("v")
    val e = Sketch.kmvOverlap(big, shifted, col("v"), k = 256).head()
    e.getAs[Long]("n_kept") shouldBe 256L
    e.getAs[Double]("jaccard_est") shouldBe 0.2 +- 3 * 0.03 // ~3σ of J(1-J)/√k
    e.getAs[Double]("est_union") shouldBe 5000.0 +- 5000 * 3.0 / math.sqrt(256)
    // duplicates and nulls move nothing (set semantics)
    val noisy = Sketch.kmvOverlap(
      big.unionByName(big).unionByName(Seq(null.asInstanceOf[String]).toDF("v")),
      shifted, col("v"), k = 256).head()
    noisy.getAs[Double]("est_intersect") shouldBe e.getAs[Double]("est_intersect")
  }

  test("kmvOverlapMatrix: every pair equals the pairwise estimator") {
    // three groups with planted overlaps: A∩B = 500..999, B∩C = empty,
    // A∩C = 0..99; matrix rows must equal kmvOverlap run pair by pair
    val df = ((0 until 1000).map(i => ("A", s"v$i")) ++
      (500 until 1600).map(i => ("B", s"v$i")) ++
      (0 until 100).map(i => ("C", s"v$i")) ++
      (5000 until 5400).map(i => ("C", s"v$i"))).toDF("g", "v")
    val m = Sketch.kmvOverlapMatrix(df, "g", col("v"), k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("n_both"),
          r.getAs[Double]("est_union"), r.getAs[Double]("jaccard_est"),
          r.getAs[Double]("est_intersect"))).toMap
    m.keySet shouldBe Set(("A", "B"), ("A", "C"), ("B", "C"))
    for ((ga, gb) <- m.keySet) {
      val pw = Sketch.kmvOverlap(df.filter(col("g") === ga),
        df.filter(col("g") === gb), col("v"), k = 64).head()
      m((ga, gb)) shouldBe ((pw.getAs[Long]("n_kept"),
        pw.getAs[Long]("n_both"), pw.getAs[Double]("est_union"),
        pw.getAs[Double]("jaccard_est"), pw.getAs[Double]("est_intersect")))
    }
    // sanity on the planted structure: A-B overlaps, B-C does not
    m(("A", "B"))._2 should be > 0L
    m(("B", "C"))._2 shouldBe 0L
  }

  test("psi: identical snapshots score exactly zero, a shifted one scores high") {
    val ref = (0 until 1000).map(i => ("t", (i % 10).toDouble)).toDF("g", "v")
    val same = Stats.psi(ref, ref, "g", col("v"), bins = 10, lo = 0, hi = 10)
      .head()
    same.getAs[Long]("n_ref") shouldBe 1000L
    same.getAs[Double]("psi") shouldBe 0.0
    val shifted = (0 until 1000).map(i => ("t", (i % 3).toDouble)).toDF("g", "v")
    Stats.psi(ref, shifted, "g", col("v"), bins = 10, lo = 0, hi = 10)
      .head().getAs[Double]("psi") should be > 0.25
    // nulls excluded, out-of-domain clamps into edge bins (still counted)
    val noisy = ref.unionByName(Seq(("t", null.asInstanceOf[java.lang.Double]),
      ("t", java.lang.Double.valueOf(99.0))).toDF("g", "v"))
    Stats.psi(noisy, noisy, "g", col("v"), bins = 10, lo = 0, hi = 10)
      .head().getAs[Long]("n_ref") shouldBe 1001L
  }

  test("ksDrift: identical → 0, shifted → large, one-sided group → 1") {
    val ref = (0 until 1000).map(i => ("t", (i % 10).toDouble)).toDF("g", "v")
    Stats.ksDrift(ref, ref, "g", col("v"), bins = 10, lo = 0, hi = 10)
      .head().getAs[Double]("ks") shouldBe 0.0
    val shifted = (0 until 1000).map(i => ("t", (i % 3).toDouble)).toDF("g", "v")
    Stats.ksDrift(ref, shifted, "g", col("v"), bins = 10, lo = 0, hi = 10)
      .head().getAs[Double]("ks") should be > 0.5
    // a group present only on one side: the empty CDF is identically 0,
    // so ks = 1 (total drift), not a division error
    val extra = ref.unionByName(Seq(("only_ref", 5.0)).toDF("g", "v"))
    val m = Stats.ksDrift(extra, ref, "g", col("v"), bins = 10, lo = 0, hi = 10)
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Double]("ks")).toMap
    m("only_ref") shouldBe 1.0
  }

  test("expectations: one-pass counts, null predicate counts as violation") {
    val df = Seq((1, Some(5)), (2, Some(50)), (3, None)).toDF("id", "x")
    val rep = Quality.expectations(df, Seq(
        "x_not_null" -> col("x").isNotNull,
        "x_small" -> (col("x") < 10), // null x → null pred → violation
      )).collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    rep("x_not_null") shouldBe ((1L, 3L, false))
    rep("x_small") shouldBe ((2L, 3L, false))
  }

  test("referentialViolations counts dangling non-null FKs only") {
    val fact = Seq(Some(1), Some(2), Some(9), None).toDF("fk")
    val dim = Seq(1, 2, 3).toDF("pk")
    val r = Quality.referentialViolations(fact, "fk", dim, "pk", "fk_in_dim")
      .head()
    r.getAs[Long]("violations") shouldBe 1L // only the 9
    r.getAs[Long]("n_rows") shouldBe 4L
    r.getAs[Boolean]("pass") shouldBe false
  }

  test("triangleCount: known graphs, duplicate/reversed/self edges simplified away") {
    // K4 has 4 triangles; a pendant edge adds none
    val k4 = for (i <- 0 to 3; j <- 0 to 3 if i != j) yield (i.toLong, j.toLong)
    val edges = (k4 :+ (3L, 9L) :+ (9L, 3L) :+ (5L, 5L)).toDF("u", "v")
    Graph.triangleCount(edges, "u", "v")
      .head().getAs[Long]("n_triangles") shouldBe 4L
    // a pure star (hub) has zero triangles — and the oriented join must
    // not explode on the hub either (all edges orient INTO it)
    val star = (1 to 50).map(i => (0L, i.toLong)).toDF("u", "v")
    Graph.triangleCount(star, "u", "v")
      .head().getAs[Long]("n_triangles") shouldBe 0L
    // packed-key domain guard: a snowflake-style 64-bit id (or a
    // negative one) would silently collide in deg*2^32 + id — must
    // THROW, not return a wrong count
    val big = Seq((1L, 1L << 33), (1L << 33, 2L)).toDF("u", "v")
    val e1 = intercept[Exception] {
      Graph.triangleCount(big, "u", "v").head()
    }
    e1.getMessage should include("2^32")
    val neg = Seq((-5L, 2L), (2L, 3L)).toDF("u", "v")
    val e2 = intercept[Exception] {
      Graph.triangleCount(neg, "u", "v").head()
    }
    e2.getMessage should include("2^32")
  }

  test("recallReport: hand-computed hits, recall and footrule; empty intersection reports zero") {
    // reference top-3 for query 1: neighbors 10,20,30 at ranks 1,2,3
    val ref = Seq((1L, 1, 10L), (1L, 2, 20L), (1L, 3, 30L))
      .toDF("query_id", "rank", "neighbor_id")
    // layout A: same set, 20/30 swapped → hits 3, footrule |2-3|+|3-2|=2
    val a = Seq((1L, 1, 10L), (1L, 2, 30L), (1L, 3, 20L))
      .toDF("query_id", "rank", "neighbor_id")
    // layout B: disjoint → hits 0, footrule 0, recall 0
    val b = Seq((1L, 1, 77L), (1L, 2, 88L), (1L, 3, 99L))
      .toDF("query_id", "rank", "neighbor_id")
    val rep = AnnIndex.recallReport(Seq("a" -> a, "b" -> b), ref, k = 3)
      .collect().map(r => r.getAs[String]("layout") -> r).toMap
    rep("a").getAs[Long]("hits") shouldBe 3L
    rep("a").getAs[Long]("possible") shouldBe 3L
    rep("a").getAs[Double]("recall_at_k") shouldBe 1.0
    rep("a").getAs[Long]("rank_footrule") shouldBe 2L
    rep("b").getAs[Long]("hits") shouldBe 0L
    rep("b").getAs[Double]("recall_at_k") shouldBe 0.0
    rep("b").getAs[Long]("rank_footrule") shouldBe 0L
    rep("a").getAs[Long]("n_queries") shouldBe 1L
    // empty reference: recall reports 0.0, never NaN from 0/0
    val emptyRef = ref.filter(col("rank") > 99)
    val er = AnnIndex.recallReport(Seq("a" -> a), emptyRef, k = 3).head()
    er.getAs[Long]("possible") shouldBe 0L
    er.getAs[Double]("recall_at_k") shouldBe 0.0
  }

  test("funnelCounts: strictly-after chaining, ties resolved by the tie column") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    val events = Seq(
      // u1 completes in order
      (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (1L, ts("2024-01-01 10:01:00"), 2L, "click"),
      (1L, ts("2024-01-01 10:02:00"), 3L, "buy"),
      // u2 clicks BEFORE viewing — click must not count
      (2L, ts("2024-01-01 09:00:00"), 4L, "click"),
      (2L, ts("2024-01-01 09:30:00"), 5L, "view"),
      // u3: view and click share a timestamp; tie order (event_id) puts
      // the click after the view, so it counts
      (3L, ts("2024-01-01 08:00:00"), 6L, "view"),
      (3L, ts("2024-01-01 08:00:00"), 7L, "click"),
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Funnel.funnelCounts(events, "user_id", "ts", "event_id", Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "buy" -> (col("event_type") === "buy")))
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_users")).toMap
    got shouldBe Map("view" -> 3L, "click" -> 2L, "buy" -> 1L)
  }

  test("scd2 asOf returns exactly the interval containing T, none for later keys") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    val obs = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "a"),
      (1L, ts("2024-01-05 00:00:00"), 2L, "b"),
      (2L, ts("2024-01-09 00:00:00"), 3L, "x"), // first seen after T
    ).toDF("k", "ts", "tie", "attr")
    val hist = Scd2.intervals(obs, "k", "ts", "tie", "attr")
    val at = Scd2.asOf(hist, lit(ts("2024-01-03 00:00:00")))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("attr")).toMap
    at shouldBe Map(1L -> "a")
    // on the boundary: half-open [from, to) — the NEW run owns its from
    Scd2.asOf(hist, lit(ts("2024-01-05 00:00:00")))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("attr"))
      .toMap shouldBe Map(1L -> "b")
  }

  test("featureHash: k-bounded output, same feature always lands together, nulls dropped") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0), (null, 9.0))
      .toDF("f", "v")
    val out = Sketch.featureHash(df, col("f"), col("v"), 8).collect()
    out.map(_.getAs[Long]("bucket")).foreach { b =>
      b should be >= 0L; b should be < 8L
    }
    out.map(_.getAs[Long]("n")).sum shouldBe 3L // null feature dropped
    // both 'a' rows share one bucket with |weight| = 3 (same sign)
    val aBucket = PortableHash.md5Prefix15("a") % 8
    val aRow = out.find(_.getAs[Long]("bucket") == aBucket).get
    math.abs(aRow.getAs[Double]("weight")) shouldBe 3.0 +- 1e-9
  }

  test("semantic decontamination drops near-copies of benchmark vectors, keeps the rest") {
    val v = Array.tabulate(8)(i => (math.sin(i + 1)).toFloat)
    val w = Array.tabulate(8)(i => (math.cos(i * 3 + 2)).toFloat)
    val bench = Seq((0L, v.toSeq)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val corpus = Seq(
      (10L, v.map(x => x * 1.01f).toSeq), // paraphrase-shaped near-copy
      (11L, w.toSeq),                      // unrelated
    ).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val kept = CorpusClean.decontaminateSemantic(corpus, "vec_id", "embedding",
        bench, "embedding", threshold = 0.99)
      .select(col("vec_id")).as[Long].collect().toSet
    kept shouldBe Set(11L)
  }

  test("tokenBudgetMix admits per-source prefixes by token count, never crossing the budget") {
    val df = Seq(
      (1L, "a", "one two three"),      // 3 tokens
      (2L, "a", "four five six seven"), // 4 tokens
      (3L, "a", "eight nine"),          // 2 tokens
      (4L, "b", "just two"),            // under-budget source keeps all
    ).toDF("doc_id", "source", "text")
    val kept = Sampling.tokenBudgetMix(df, col("source"), col("text"),
        col("doc_id"), budget = 5L)
      .select(col("doc_id")).as[Long].collect().toSet
    // source a admits docs in md5(doc_id) order until cum > 5; b keeps 4
    kept should contain(4L)
    val aKept = kept - 4L
    val toks = Map(1L -> 3, 2L -> 4, 3L -> 2)
    aKept.toSeq.map(toks).sum should be <= 5
    aKept should not be empty
    // determinism: same input, same admitted set
    Sampling.tokenBudgetMix(df, col("source"), col("text"), col("doc_id"), 5L)
      .select(col("doc_id")).as[Long].collect().toSet shouldBe kept
  }

  test("crossSourceDupMatrix counts pairs in closed form, diagonal included") {
    val df = Seq(
      ("t1", "a"), ("t1", "a"), ("t1", "b"),  // C(2,2)=1 within a; 2×1 cross
      ("t2", "b"), ("t2", "c"),               // 1 cross (b,c)
      ("t3", "c"),                            // singleton — no pairs
      (null, "a"), (null, "b"),               // null text: no evidence
    ).toDF("text", "source")
    val m = Dedup.crossSourceDupMatrix(df, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    m shouldBe Map(("a", "a") -> 1L, ("a", "b") -> 2L, ("b", "c") -> 1L)
  }

  test("funnelCounts: an empty early stage zeroes every later stage, no errors") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (2L, ts("2024-01-01 11:00:00"), 2L, "buy")) // no clicks anywhere
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Funnel.funnelCounts(events, "user_id", "ts", "event_id", Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "buy" -> (col("event_type") === "buy")))
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_users")).toMap
    got shouldBe Map("view" -> 1L, "click" -> 0L, "buy" -> 0L)
  }

  test("zOrder2: contiguous z-ranges bound rectangles; bit interleave round-trips") {
    // de-interleaving the curve value recovers both coordinates exactly
    val pts = Seq((0L, 0L), (7L, 7L), (1023L, 0L), (0L, 1023L), (700L, 300L))
    val zs = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zOrder2(col("x"), col("y"), 10).as("z"))
      .collect()
    zs.foreach { r =>
      val z = r.getLong(2)
      val x = (0 until 10).map(b => ((z >> (2 * b)) & 1) << b).sum
      val y = (0 until 10).map(b => ((z >> (2 * b + 1)) & 1) << b).sum
      (x, y) shouldBe ((r.getLong(0), r.getLong(1)))
    }
    // geometry: any aligned z-quartet covers exactly a 2x2 cell
    val cell = (0L until 4L).map(z =>
      ((0 until 10).map(b => ((z >> (2 * b)) & 1) << b).sum,
       (0 until 10).map(b => ((z >> (2 * b + 1)) & 1) << b).sum)).toSet
    cell shouldBe Set((0, 0), (1, 0), (0, 1), (1, 1))
  }

  test("filtered bqTopK equals brute force over the predicate-filtered corpus") {
    val rnd = new scala.util.Random(19)
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val dir = graft.SparkSpec.tempDir("graft_fbq").toString + "/bq"
    AnnIndex.buildBq(corpus, "vec_id", "embedding", dir, dim = 8)
    val q = corpus.filter($"vec_id" < 2)
    val served = AnnIndex.bqTopK(spark, dir, q, "vec_id", "embedding",
        k = 5, shortlist = 32, // exhaustive shortlist → exact
        where = pmod(col("__id"), lit(2)) === 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = Similarity.bruteForceTopK(q,
        corpus.filter(pmod($"vec_id", lit(2)) === 0), "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    served shouldBe brute
  }

  test("filtered ivfTopK equals brute force over the predicate-filtered corpus") {
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val dir = graft.SparkSpec.tempDir("graft_fivf").toString + "/ivf"
    AnnIndex.buildIvf(corpus, "vec_id", "embedding", dir, nlist = 4, iters = 1)
    val q = corpus.filter($"vec_id" < 2)
    val served = AnnIndex.ivfTopK(spark, AnnIndex.readIvf(spark, dir), q,
        "vec_id", "embedding", 5, nprobe = 4, // full probe → exact
        where = pmod(col("__id"), lit(2)) === 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = Similarity.bruteForceTopK(q,
        corpus.filter(pmod($"vec_id", lit(2)) === 0), "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    served shouldBe brute
  }
}
