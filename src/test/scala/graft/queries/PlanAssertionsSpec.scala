package graft.queries

import graft.SparkSpec
import graft.operators.{Ids, RelationResolver}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** The scale claims, encoded as plan assertions: broadcast-only relation
  * lookups and key-partitioned windows are architecture invariants, not
  * happy accidents of one Spark version's planner.
  */
class PlanAssertionsSpec extends SparkSpec {
  import spark.implicits._

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Flatten across AQE stage boundaries (QueryStageExec children live in
    * `plan`, not `children`).
    */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allNodes(q.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }

  test("relation lookup joins broadcast the dimension — the fact side never sort-merges") {
    val incoming = (1 to 500).map(i => (i.toLong, s"n${i % 25}")).toDF("id", "nation")
    val target = (0 until 25).map(i => (i.toLong, s"n$i")).toDF("tid", "name")
    val out = RelationResolver.resolveByField(incoming, "nation", target, "tid", "name", "rid")
    out.collect()
    val plan = finalPlan(out).toString
    plan should include("BroadcastHashJoin")
    (plan should not).include("SortMergeJoin")
  }

  test("every window in the distributed id assignment is key-partitioned") {
    val df = (1 to 100).map(i => (s"f$i", i.toLong)).toDF("name", "size")
    val ids = Ids.globalRowNumber(df, Seq(col("name")), "id")
    ids.collect()
    val windows = allNodes(finalPlan(ids)).collect { case w: WindowExec => w }
    windows should not be empty
    windows.foreach(w => w.partitionSpec should not be empty)
  }

  test("chunking is a narrow plan: no exchange, no window, no join") {
    val df = (1 to 50).map(i => (i.toLong, ("tok " * (i % 40)).trim)).toDF("id", "text")
    val out = graft.ext.TextAnalysis.chunkTokens(df, "id", "text", 16, 4)
    out.collect()
    val plan = finalPlan(out).toString
    (plan should not).include("Exchange")
    (plan should not).include("Window")
    (plan should not).include("Join")
  }

  test("hash sampling is a pushed-down filter: no exchange") {
    val df = (1 to 200).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "src")
    val out = graft.ext.Sampling.stratifiedHashSample(df, col("src"), col("id"), "8")
    out.collect()
    (finalPlan(out).toString should not).include("Exchange")
  }

  test("decontamination never builds a cartesian or nested-loop join") {
    val corpus = (1 to 60).map(i =>
      (i.toLong, s"alpha beta gamma delta token$i epsilon zeta eta")).toDF("doc_id", "text")
    val eval = Seq("alpha beta gamma delta token7 epsilon").toDF("text")
    val out = graft.ext.CorpusClean.decontaminate(corpus, "doc_id", "text", eval, "text", n = 3)
    out.collect()
    val plan = finalPlan(out).toString
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("bm25 scoring never sort-merges: vocabulary and stats sides broadcast") {
    val docs = (1 to 300).map(i =>
      (i.toLong, s"alpha beta gamma tok${i % 9} delta")).toDF("doc_id", "text")
    val qs = Seq((0L, "alpha delta"), (1L, "gamma")).toDF("qid", "qtext")
    val out = graft.ext.TextSearch.bm25Scores(docs, "doc_id", "text", qs, "qid", "qtext")
    out.collect()
    val plan = finalPlan(out).toString
    plan should include("BroadcastHashJoin")
    (plan should not).include("SortMergeJoin")
    (plan should not).include("CartesianProduct")
  }

  test("pq query path joins codes against a broadcast ADC table — no corpus-side sort-merge") {
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13 - 6).toFloat))).toDF("vec_id", "embedding")
    val out = graft.ext.Similarity.pqTopK(corpus.filter($"vec_id" < 2), corpus,
      "vec_id", "embedding", 3, m = 2, ksub = 4, iters = 1)
    out.collect()
    val plan = finalPlan(out).toString
    plan should include("BroadcastHashJoin")
    (plan should not).include("SortMergeJoin")
  }

  /** The probe-side scan of a persisted ANN index must carry a partition
    * filter on __cluster (directory pruning, not read-then-filter) and
    * the whole query must stay broadcast-joined.
    */
  private def assertPrunedAnnPlan(out: DataFrame): Unit = {
    out.collect()
    val plan = finalPlan(out)
    (plan.toString should not).include("SortMergeJoin")
    val scans = allNodes(plan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val prunedScans = scans.filter(_.partitionFilters.nonEmpty)
    prunedScans should not be empty
    prunedScans.head.partitionFilters.map(_.toString).mkString should include("__cluster")
  }

  test("ivf-pq indexed query path: nprobe is parquet partition pruning, no sort-merge") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/ivfpq"
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    graft.ext.AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", dir,
      nlist = 4, m = 2, ksub = 4, iters = 1)
    val index = graft.ext.AnnIndex.readIvfPq(spark, dir)
    assertPrunedAnnPlan(graft.ext.AnnIndex.ivfPqTopK(spark, index,
      corpus.filter($"vec_id" < 2), "vec_id", "embedding", 3, nprobe = 1))
  }

  test("ivf-sq indexed query path: nprobe is parquet partition pruning, no sort-merge") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/ivfsq"
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    graft.ext.AnnIndex.buildIvfSq(corpus, "vec_id", "embedding", dir,
      nlist = 4, iters = 1)
    val index = graft.ext.AnnIndex.readIvfSq(spark, dir)
    assertPrunedAnnPlan(graft.ext.AnnIndex.ivfSqTopK(spark, index,
      corpus.filter($"vec_id" < 2), "vec_id", "embedding", 3, nprobe = 1))
  }

  test("ivf-flat indexed query path: nprobe is parquet partition pruning, no sort-merge") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/ivf"
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    graft.ext.AnnIndex.buildIvf(corpus, "vec_id", "embedding", dir,
      nlist = 4, iters = 1)
    val index = graft.ext.AnnIndex.readIvf(spark, dir)
    assertPrunedAnnPlan(graft.ext.AnnIndex.ivfTopK(spark, index,
      corpus.filter($"vec_id" < 2), "vec_id", "embedding", 3, nprobe = 1))
  }

  test("maxsim serving: stage 1 partition-prunes, no cartesian or nested-loop join anywhere") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/maxsim"
    // 16 docs × 4 token vectors each, ids = doc·64 + pos
    val tokVecs = (0 until 16).flatMap(doc => (0 until 4).map(p =>
      (doc.toLong * 64 + p,
        Array.tabulate(8)(d => ((doc * 7 + p * 5 + d * 3) % 13 - 6).toFloat))))
      .toDF("__id", "__vec")
    graft.ext.AnnIndex.buildIvf(tokVecs, "__id", "__vec", dir,
      nlist = 4, iters = 1)
    val qt = tokVecs.filter($"__id" < 2 * 64)
      .select(($"__id" + 10000000L).as("__qtok"),
        floor($"__id" / 64).cast("long").as("qdoc"), $"__vec")
    // stage 1 (executed eagerly inside maxSimTopK) is the shared
    // ivfTopK path — assert its partition pruning on the same index and
    // queries maxSimTopK hands it
    assertPrunedAnnPlan(graft.ext.AnnIndex.ivfTopK(spark,
      graft.ext.AnnIndex.readIvf(spark, dir),
      qt.select($"__qtok", $"__vec"), "__qtok", "__vec", 4, nprobe = 1))
    // stage 2 (the returned frame): candidate-keyed equi-joins only
    val out = graft.ext.MaxSim.maxSimTopK(spark, dir, qt,
      "qdoc", "__qtok", "__vec", k = 3, nprobe = 1, candPerToken = 4, cap = 64)
    out.collect()
    val plan = finalPlan(out).toString
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoop")
    (plan should not).include("SortMergeJoin")
  }

  test("filtered ivf search: the metadata predicate evaluates at the pruned scan, before the score join") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/fivf"
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    graft.ext.AnnIndex.buildIvf(corpus, "vec_id", "embedding", dir,
      nlist = 4, iters = 1)
    val index = graft.ext.AnnIndex.readIvf(spark, dir)
    val out = graft.ext.AnnIndex.ivfTopK(spark, index,
      corpus.filter($"vec_id" < 2), "vec_id", "embedding", 3, nprobe = 1,
      where = pmod(col("__id"), lit(2)) === 0)
    assertPrunedAnnPlan(out) // partition filter + no sort-merge still hold
    // the predicate sits DIRECTLY over (or inside) the index scan — the
    // scan subtree, not the post-join stream, evaluates it
    val nodes = allNodes(finalPlan(out))
    val preJoin = nodes.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.contains("pmod") &&
          allNodes(f).exists(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]) => f
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.dataFilters.map(_.toString).mkString.contains("pmod") => s
    }
    preJoin should not be empty
  }

  test("filtered ivf-pq search: the metadata predicate evaluates at the pruned codes scan, before the ADC join") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/fivfpq"
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    graft.ext.AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", dir,
      nlist = 4, m = 2, ksub = 4, iters = 1)
    val index = graft.ext.AnnIndex.readIvfPq(spark, dir)
    val out = graft.ext.AnnIndex.ivfPqTopK(spark, index,
      corpus.filter($"vec_id" < 2), "vec_id", "embedding", 3, nprobe = 1,
      where = pmod(col("__id"), lit(2)) === 0)
    assertPrunedAnnPlan(out) // nprobe partition pruning + no sort-merge hold
    // the predicate sits in the codes-scan subtree, below the LUT join
    // and the ADC aggregate — never post-filtering a scored stream
    val nodes = allNodes(finalPlan(out))
    val preJoin = nodes.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.contains("pmod") &&
          allNodes(f).exists(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]) => f
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.dataFilters.map(_.toString).mkString.contains("pmod") => s
    }
    preJoin should not be empty
    // result correctness: every served neighbor satisfies the predicate
    out.collect().foreach(r => r.getAs[Long]("neighbor_id") % 2 shouldBe 0L)
  }

  test("refined ivf-pq query path: BOTH index scans are partition-pruned, no corpus shuffle join") {
    val dir = graft.SparkSpec.tempDir("graft_annidx").toString + "/ivfpqr"
    val corpus = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    graft.ext.AnnIndex.buildIvfPq(corpus, "vec_id", "embedding", dir,
      nlist = 4, m = 2, ksub = 4, iters = 1, keepVectors = true)
    val index = graft.ext.AnnIndex.readIvfPq(spark, dir)
    val out = graft.ext.AnnIndex.ivfPqTopKRefined(spark, index,
      corpus.filter($"vec_id" < 2), "vec_id", "embedding", 3, nprobe = 1, refine = 2)
    out.collect()
    val plan = finalPlan(out)
    (plan.toString should not).include("SortMergeJoin")
    // every index-table scan (codes AND the refine vectors) carries a
    // __cluster partition filter — the shortlist re-rank must not scan
    // the whole vectors table
    val scans = allNodes(plan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .filter(_.relation.location.rootPaths.exists(p =>
        p.toString.contains("/codes") || p.toString.contains("/vectors")))
    scans should not be empty
    scans.foreach { f =>
      f.partitionFilters should not be empty
      f.partitionFilters.map(_.toString).mkString should include("__cluster")
    }
  }

  test("high-cardinality weightedMix: weights ride a broadcast join, never a shuffle") {
    val df = (0L until 2000L).map(i => (i, s"d${i % 500}")).toDF("id", "dom")
    val weights = (0 until 500).map(i => s"d$i" -> 0.5).toMap // > 64: join route
    val out = graft.ext.Sampling.weightedMix(df, col("dom"), col("id"), weights)
    out.collect()
    val plan = finalPlan(out).toString
    plan should include("BroadcastHashJoin")
    (plan should not).include("SortMergeJoin")
    (plan should not).include("ShuffledHashJoin")
  }

  test("epochUpsample: broadcast config + bounded explode, zero shuffle exchanges") {
    val df = (1 to 500).map(i => (i.toLong, s"s${i % 5}")).toDF("id", "src")
    val out = graft.ext.Sampling.epochUpsample(df, col("src"), col("id"),
      Map("s0" -> 2.5, "s1" -> 1.0))
    out.collect()
    val plan = finalPlan(out).toString
    // the config rides a broadcast; the row stream never repartitions —
    // the "no shuffle at all" claim in the operator doc, held by the plan
    plan should include("BroadcastHashJoin")
    (plan should not).include("Exchange hashpartitioning")
    (plan should not).include("Exchange rangepartitioning")
  }

  test("overlap join: bucketized equi-join plan, no cartesian or nested loop") {
    val a = (1 to 50).map(i => (i.toLong, i.toLong * 7, i.toLong * 7 + 30))
      .toDF("aid", "as_", "ae")
    val b = (1 to 50).map(i => (i.toLong + 100, i.toLong * 5, i.toLong * 5 + 20))
      .toDF("bid", "bs", "be")
    val out = graft.ext.Joins.overlapJoin(a, col("as_"), col("ae"),
      b, col("bs"), col("be"), bucketWidth = 25L)
    out.collect()
    val plan = finalPlan(out).toString
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("narrow-payload range join: the bucket explosion carries no payload struct") {
    val intervals = (1 to 50).map(i =>
      (i.toLong, i.toLong * 10, i.toLong * 10 + 25, "w" * 50)).toDF("iid", "s", "e", "blob")
    val points = (1 to 500).map(i => (i.toLong + 1000, i.toLong)).toDF("pid", "t")
    val out = graft.ext.Joins.rangeJoin(intervals, col("s"), col("e"),
      points, col("t"), bucketWidth = 10L, narrowPayload = true)
    out.collect()
    val gens = allNodes(finalPlan(out))
      .collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    gens should not be empty
    // exploded side = (__rowid, __s, __e, __xk) + the generated __b only
    gens.foreach { g =>
      g.output.map(_.name) should not contain "__l"
      g.output.length should be <= 5
    }
    // the default (wide) plan DOES carry the payload through the explode —
    // the contrast that makes the narrow assertion meaningful
    val wide = graft.ext.Joins.rangeJoin(intervals, col("s"), col("e"),
      points, col("t"), bucketWidth = 10L)
    wide.collect()
    allNodes(finalPlan(wide))
      .collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
      .exists(_.output.map(_.name).contains("__l")) shouldBe true
  }

  test("duplicated-span census is a semi-join membership test with a doc-partitioned window") {
    val docs = (1 to 50).map(i =>
      (i.toLong, if (i % 5 == 0) "shared boiler plate block here now" else s"unique text $i words here now ok"))
      .toDF("doc_id", "text")
    val out = graft.ext.Dedup.duplicatedSpans(docs, "doc_id", "text", k = 3)
    out.collect()
    val plan = finalPlan(out)
    // duplicated-or-not is MEMBERSHIP: a hot gram must never fan out
    // through an inner join (corpus-scale boilerplate would square)
    plan.toString should include("LeftSemi")
    // the islands window partitions by document — never a single-partition
    // global sort over the corpus positions (and the window must actually
    // be found, or the invariant silently stops being checked)
    val windows = allNodes(plan).collect { case w: WindowExec => w }
    windows should not be empty
    windows.foreach(w => w.partitionSpec should not be empty)
  }

  test("exact quantiles never collect a group into one aggregation buffer") {
    val df = (1 to 400).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "v")
    val out = graft.ext.Stats.quantileCont(df, "g", "v", Seq("p50" -> 0.5))
    out.collect()
    val nodes = allNodes(finalPlan(out)).map(_.toString)
    // no Percentile aggregate (the collect-then-sort buffer) anywhere
    nodes.exists(_.contains("percentile")) shouldBe false
    // and every window is pid-partitioned (the per-partition rank)
    allNodes(finalPlan(out)).collect { case w: WindowExec => w }
      .foreach(w => w.partitionSpec should not be empty)
  }

  test("semantic dedup pairs: centroids broadcast into the assignment, no cartesian product") {
    val emb = (1 to 200).map(i =>
      (i.toLong, Array(math.cos(i * 0.1).toFloat, math.sin(i * 0.1).toFloat)))
      .toDF("vec_id", "embedding")
    val centroids = Seq((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0)),
      (2, Array(-1.0, 0.0)), (3, Array(0.0, -1.0))).toDF("__cid", "centroid")
    val out = graft.ext.Dedup.semanticDupPairs(emb, "vec_id", "embedding",
      centroids, threshold = 0.999)
    out.collect()
    val plan = finalPlan(out).toString
    // assignment ranks against BROADCAST centroids; the only equi-joins
    // are the cluster-key self-join and the semi-join size gate — a
    // CartesianProduct would mean the blocking degenerated to all-pairs
    plan should include("BroadcastNestedLoopJoin") // corpus × broadcast centroids
    (plan should not).include("CartesianProduct")
  }

  test("importance weights: the ratio table rides a broadcast join, top-k is TakeOrdered") {
    val raw = (1 to 300).map(i => (i.toLong, s"tok${i % 7} tok${i % 11} tok${i % 13}"))
      .toDF("doc_id", "text")
    val target = raw.filter($"doc_id" % 5 === 0)
    val res = graft.ext.Sampling.importanceResample(raw, "doc_id", "text",
      target, "text", k = 10)
    res.collect()
    val plan = finalPlan(res).toString
    // the per-doc weight join against the ≤16^prefixLen-row ratio table
    // must broadcast (never shuffle the doc-side counts against it), and
    // the k-cut must be the distributed TakeOrderedAndProject, not a
    // global single-partition sort
    plan should include("BroadcastHashJoin")
    plan should include("TakeOrderedAndProject")
    (plan should not).include("CartesianProduct")
  }

  test("binary-sketch knn: queries broadcast into the sketch scan, corpus never sort-merges with them") {
    val rnd = new scala.util.Random(5)
    val corpus = (0L until 200L)
      .map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val out = graft.ext.Similarity.binarySketchTopK(
      corpus.filter($"vec_id" < 3), corpus, "vec_id", "embedding",
      dim = 64, k = 5, shortlist = 20)
    out.collect()
    val plan = finalPlan(out).toString
    // the hamming pass and the rescore both join the corpus against
    // BROADCAST sides (queries resp. the nq×shortlist survivors); a
    // sort-merge would mean the corpus-sized side shuffled
    plan should include("BroadcastNestedLoopJoin") // corpus × broadcast queries
    (plan should not).include("SortMergeJoin")
    (plan should not).include("CartesianProduct")
  }

  test("cross-corpus minhash join: band-key equi-joins only, no cross join anywhere") {
    val left = (0L until 60L).map(i =>
      (i, s"alpha beta gamma delta epsilon token$i word${i % 7} more text here"))
      .toDF("doc_id", "text")
    val right = (100L until 130L).map(i =>
      (i, s"alpha beta gamma delta epsilon token${i - 100} word${i % 7} more text here"))
      .toDF("doc_id", "text")
    val out = graft.ext.Dedup.minhashJoin(left, right, "doc_id", "text",
      minEstJaccard = 0.3, portable = true)
    out.collect()
    val plan = finalPlan(out).toString
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("semantic decontamination: the bench side is broadcast — the corpus never shuffles") {
    val rnd = new scala.util.Random(13)
    val corpus = (0L until 300L)
      .map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val bench = corpus.filter($"vec_id" < 5)
    val out = graft.ext.CorpusClean.decontaminateSemantic(
      corpus.filter($"vec_id" >= 5), "vec_id", "embedding",
      bench, "embedding", threshold = 0.99)
    out.collect()
    val plan = finalPlan(out).toString
    // a theta anti-join against a BROADCAST bench side is the intended
    // shape (|bench| cosines per corpus row, zero shuffle); a shuffled
    // nested loop would mean the corpus moved
    plan should include("BroadcastNestedLoopJoin")
    (plan should not).include("SortMergeJoin")
    (plan should not).include("Exchange hashpartitioning")
  }

  test("token-budget mix: one key-partitioned window, no global sort") {
    val docs = (0L until 500L).map(i =>
      (i, s"src${i % 7}", "some words " * (i % 9 + 1).toInt))
      .toDF("doc_id", "source", "text")
    val out = graft.ext.Sampling.tokenBudgetMix(docs, col("source"),
      col("text"), col("doc_id"), budget = 40L)
    out.collect()
    val plan = finalPlan(out)
    val windows = allNodes(plan)
      .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    windows should not be empty
    all(windows.map(_.partitionSpec.nonEmpty)) shouldBe true // never global
  }

  test("set-similarity join: candidates come from an equi-join on prefix tokens, never a cross join") {
    val rnd = new scala.util.Random(9)
    val vocab = ('a' to 'z').map(_.toString)
    val docs = (0L until 150L)
      .map(i => (i, rnd.shuffle(vocab).take(5).toArray)).toDF("id", "toks")
    val out = graft.ext.Joins.setSimJoin(docs, "id", "toks", minJaccard = 0.6)
    out.collect()
    val plan = finalPlan(out).toString
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("naive bayes scoring: class stats broadcast; no cartesian product anywhere") {
    val train = (1 to 200).map(i => (i.toLong, s"tok${i % 17} tok${i % 5} tok${i % 3}",
      s"c${i % 4}")).toDF("doc_id", "text", "topic")
    val model = graft.ext.Classify.trainNaiveBayes(train, split($"text", " "), "topic")
    val out = graft.ext.Classify.classifyNaiveBayes(model,
      train.limit(50), "doc_id", split($"text", " "))
    out.collect()
    val plan = finalPlan(out).toString
    // the classes-sized stats frame rides broadcast joins (the explicit
    // cross with it is a broadcast nested loop over ≤ |classes| rows —
    // allowed); an unhinted CartesianProduct would mean a corpus-sized
    // side crossed
    (plan should not).include("CartesianProduct")
    plan should include("BroadcastHashJoin")
  }

  test("inverted-index BM25: the postings scan is partition-pruned to the query terms' buckets") {
    val dir = graft.SparkSpec.tempDir("graft_inv").toString + "/inv"
    val docs = (1 to 60).map(i => (i.toLong, s"tok${i % 9} tok${i % 5} shared"))
      .toDF("doc_id", "text")
    graft.ext.TextIndex.build(docs, "doc_id", "text", dir, parts = 8)
    val out = graft.ext.TextIndex.bm25TopKIndexed(spark, dir,
      Seq((0L, "tok1 shared")).toDF("qid", "qtext"), "qid", "qtext", 5)
    out.collect()
    val plan = finalPlan(out)
    (plan.toString should not).include("SortMergeJoin")
    val scans = allNodes(plan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val pruned = scans.filter(_.partitionFilters.nonEmpty)
    pruned should not be empty
    pruned.head.partitionFilters.map(_.toString).mkString should include("__pt")
  }

  test("scd2 intervals: every window is key-partitioned — no single-partition global sort") {
    val log = (1 to 400).map(i => ((i % 20).toLong, i.toLong, i.toLong, s"s${i % 3}"))
      .toDF("user_id", "ts", "event_id", "attr")
    val out = graft.ext.Scd2.intervals(log, "user_id", "ts", "event_id", "attr")
    out.collect()
    val windows = allNodes(finalPlan(out)).collect { case w: WindowExec => w }
    windows should not be empty
    windows.foreach(w => w.partitionSpec should not be empty)
  }

  test("LR gradient pass: map-side partial aggregation, broadcast weights, no sort-merge") {
    // the per-iteration plan shape trainLogistic relies on at 100 TB:
    // the corpus-sized side sees ONE narrow scan feeding a partial
    // HashAggregate; the weights ride a broadcast — nothing corpus-sized
    // shuffles (only the k+1 partial sums move)
    val df = (1 to 500).map(i => (i.toLong, i / 500.0, (500 - i) / 500.0,
      if (i % 2 == 0) 1.0 else 0.0)).toDF("id", "x1", "x2", "y")
    val f = df.select(col("y").as("__y"), col("x1").as("__x1"),
      col("x2").as("__x2"))
    val wdf = Seq((0.1, 0.2, 0.3)).toDF("__w0", "__w1", "__w2")
    val z = col("__w0") + col("__w1") * col("__x1") + col("__w2") * col("__x2")
    val err = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z))) - col("__y")
    val g = f.crossJoin(broadcast(wdf))
      .agg(sum((signum(err) * floor(abs(err) * 1e6)).cast("long")).as("g0"))
    g.collect()
    val plan = finalPlan(g).toString
    plan should include("Broadcast")
    (plan should not).include("SortMergeJoin")
    // partial + final aggregate pair (map-side combine)
    plan.sliding("HashAggregate".length).count(_ == "HashAggregate") should be >= 2
  }

  test("retrieval eval: the qrels side broadcasts; no cartesian product") {
    val ranked = (1 to 200).map(i => ("s", (i % 10).toLong, i % 20 + 1,
      (i % 40).toLong)).toDF("system", "query_id", "rank", "neighbor_id")
    val qrels = (1 to 50).map(i => ((i % 10).toLong, (i % 40).toLong))
      .toDF("query_id", "doc_id").distinct()
    val out = graft.ext.Eval.rankedEval(ranked, qrels, k = 10)
    out.collect()
    val plan = finalPlan(out).toString
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("graph-ANN serving: the beam broadcasts into the stored tables — they never shuffle") {
    val base = graft.SparkSpec.tempDir("graft_graph_plan").toString
    val corpus = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(4)(j => (0.1f * ((i * 3 + j) % 7)) + 0.1f)))
      .toDF("vec_id", "embedding")
    graft.ext.GraphAnn.build(corpus, "vec_id", "embedding", s"$base/g", degree = 4)
    val out = graft.ext.GraphAnn.topK(spark, s"$base/g",
      corpus.filter($"vec_id" < 3), "vec_id", "embedding",
      k = 3, beamWidth = 4, hops = 2)
    out.collect()
    val plan = finalPlan(out).toString
    plan should include("BroadcastHashJoin")
    (plan should not).include("SortMergeJoin")
    (plan should not).include("CartesianProduct")
  }

  test("graph-ANN IVF build: candidate edges come from a cluster equi-join — never all-pairs") {
    val corpus = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(4)(j => (0.1f * ((i * 3 + j) % 7)) + 0.1f)))
      .toDF("vec_id", "embedding")
    val c = corpus.select($"vec_id".cast("long").as("__id"),
      $"embedding".as("__vec"))
    val coarse = graft.ext.Similarity.trainCentroids(c, "__id", "__vec",
      nlist = 4, iters = 1)
    val members = graft.ext.Similarity.assign(c, ("__id", "__vec"), coarse)
      .select(col("__cluster"), col("__id").as("__nid"),
        col("__vec").as("__nv"))
    val out = graft.ext.GraphAnn.ivfCandidateEdges(c, members, coarse, 2)
    out.collect()
    val plan = finalPlan(out).toString
    // the centroid probe is the only nested-loop-shaped step and it
    // broadcasts the NLIST-ROW side; the corpus-sized self-join is the
    // __cluster equi-join — no cartesian anywhere
    (plan should not).include("CartesianProduct")
    plan should include("__cluster")
  }

  test("graph-ANN fresh region: delta serving broadcasts the delta — stored tables never shuffle") {
    val base = graft.SparkSpec.tempDir("graft_graphd_plan").toString
    val corpus = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(4)(j => (0.1f * ((i * 3 + j) % 7)) + 0.1f)))
      .toDF("vec_id", "embedding")
    graft.ext.GraphAnn.build(corpus.filter($"vec_id" < 36), "vec_id",
      "embedding", s"$base/g", degree = 4)
    graft.ext.GraphAnn.append(spark, s"$base/g",
      corpus.filter($"vec_id" >= 36), "vec_id", "embedding")
    val out = graft.ext.GraphAnn.topK(spark, s"$base/g",
      corpus.filter($"vec_id" < 3), "vec_id", "embedding",
      k = 3, beamWidth = 4, hops = 2)
    out.collect()
    val plan = finalPlan(out).toString
    // the delta candidates ride a broadcast nested loop of the TINY
    // delta-id frame; everything corpus-sized stays on equi-joins
    (plan should not).include("SortMergeJoin")
    (plan should not).include("CartesianProduct")
    plan should include("BroadcastHashJoin")
  }

  test("shard export assignment: pure per-row arithmetic, no exchange before the explicit shuffle") {
    val packed = (0 until 200).map(i =>
      (i.toLong, (i / 3).toLong, 0L, 5L, 0L))
      .toDF("doc_id", "seq_id", "doc_from", "doc_to", "seq_off")
    val out = graft.ext.ShardExport.assign(packed, 8)
    out.collect()
    (finalPlan(out).toString should not).include("Exchange")
  }

  test("fsck: the store side is id-projected before the audit join — no payload columns move") {
    val base = graft.SparkSpec.tempDir("graft_fsck_plan").toString
    val docs = (1 to 60).map(i => (i.toLong, s"text about topic ${i % 7}"))
      .toDF("doc_id", "text")
    graft.ext.TextIndex.build(docs, "doc_id", "text", s"$base/inv", parts = 2)
    val out = graft.ext.StoreMaintenance.fsck(spark, docs.select(col("doc_id")),
      "doc_id", Seq(graft.ext.StoreRef("inv", "text", s"$base/inv")))
    // the report frame itself is literal-built; the assertion that
    // matters ran inside fsck (the full-outer id join) — verify the
    // output shape and that the audit is consistent on a fresh store
    val r = out.head()
    r.getAs[Boolean]("consistent") shouldBe true
    r.getAs[Long]("base_ids") shouldBe 60L
  }

  test("indexed bitext mining: both kNN legs partition-prune, no cartesian anywhere") {
    val base = graft.SparkSpec.tempDir("graft_mine_plan").toString
    def side(off: Long) = (0 until 64).map(i =>
      (i * 2L + off, Array.tabulate(8)(d => ((i * 7 + d * 3 + off) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val (x, y) = (side(0L), side(1L))
    graft.ext.AnnIndex.buildIvf(x, "vec_id", "embedding", s"$base/x",
      nlist = 4, iters = 1)
    graft.ext.AnnIndex.buildIvf(y, "vec_id", "embedding", s"$base/y",
      nlist = 4, iters = 1)
    val out = graft.ext.Mining.mineParallelPairsIvf(spark, s"$base/x",
      s"$base/y", x.filter($"vec_id" < 16), y.filter($"vec_id" < 17),
      "vec_id", "embedding", k = 3, nprobe = 1, marginThresholdQ = 0L)
    out.collect()
    val plan = finalPlan(out).toString
    // the miner materializes each leg once (localCheckpoint — three
    // consumers), so the mined plan starts at the checkpoint barrier:
    // the nprobe partition pruning is asserted on the LEG plan (the
    // identical ivfTopK call the miner issues), the epilogue on the
    // mined plan
    val leg = graft.ext.AnnIndex.ivfTopK(spark,
      graft.ext.AnnIndex.readIvf(spark, s"$base/y"),
      x.filter($"vec_id" < 16), "vec_id", "embedding", k = 3, nprobe = 1)
    leg.collect()
    (finalPlan(leg).toString should include).regex(
      "PartitionFilters: \\[[^\\]]*__cluster")
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("MMR epilogue: per-query windows only, equi-joins only — nothing corpus-shaped") {
    val emb = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(6)(d => ((i * 5 + d) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    val short = graft.ext.Similarity.bruteForceTopK(
      emb.filter($"vec_id" < 3), emb, "vec_id", "embedding", k = 8)
    val out = graft.ext.Rerank.mmrRerank(short, emb, "vec_id", "embedding", k = 3)
    out.collect()
    val plan = finalPlan(out).toString
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
    // every greedy argmax is a per-query window, never a global sort
    allNodes(finalPlan(out)).collect { case w: WindowExec => w }
      .foreach(w => w.partitionSpec should not be empty)
  }

  test("groupedAuc: the ranking window runs over the score HISTOGRAM, key-partitioned") {
    val df = (1 to 400).map(i =>
      (s"g${i % 4}", (i % 23).toLong, i % 3 == 0)).toDF("g", "score_q", "pos")
    val out = graft.ext.Eval.groupedAuc(df, "g", "score_q", "pos")
    out.collect()
    val windows = allNodes(finalPlan(out)).collect { case w: WindowExec => w }
    windows should have size 1
    // key-partitioned by the group column — no single-partition sort
    windows.head.partitionSpec should not be empty
    // the window's input is the aggregated (group, score) histogram,
    // never corpus rows: an aggregation must sit below it
    val below = allNodes(windows.head.child).map(_.nodeName)
    below.exists(_.contains("HashAggregate")) shouldBe true
  }
test("KMV sketch pass: bounded map-side k-min aggregate, never a corpus distinct + window sort") {
    // the r19 verdict item: distinct() + per-group row_number shuffled
    // EVERY near-unique hash before the k-cut — a corpus-wide shuffle
    // at 100 TB. The replan folds each partition into a <= k-entry
    // k-min set BEFORE the exchange (ObjectHashAggregate partial), so
    // the shuffle carries at most groups·k·partitions rows.
    val df = (1 to 4000).map(i => (s"g${i % 3}", s"v${i % 997}"))
      .toDF("g", "v")
    val out = graft.ext.Sketch.kmvDistinct(df, "g", col("v"), 64)
    out.collect()
    val nodes = allNodes(finalPlan(out))
    // no per-group sort of distinct hashes anywhere
    nodes.collect { case w: WindowExec => w } shouldBe empty
    // the k-min fold is an ObjectHashAggregate (TypedImperativeAggregate)
    val objAggs = nodes.filter(_.nodeName.contains("ObjectHashAggregate"))
    objAggs should not be empty
    // and it partial-aggregates BELOW the exchange: some ObjectHashAggregate
    // has no Exchange anywhere under it (map-side fold of raw rows)
    val planStr = finalPlan(out).toString
    planStr should include("kmin_set")
    objAggs.exists(a =>
      !allNodes(a).tail.exists(_.nodeName.contains("Exchange"))) shouldBe true
  }

  test("KMV sketch pass: the exchange carries at most groups·k·partitions rows, measured") {
    // the row-count form of the bound above, MEASURED from task shuffle
    // metrics instead of inferred from plan shape: 200k near-unique
    // values on 8 partitions must shuffle sketch-sized record counts,
    // not the corpus's distinct count (the old distinct()+window form
    // shuffled ~200k records here)
    val groups = 3; val k = 64; val partitions = 8
    val df = (1 to 200000).map(i => (s"g${i % groups}", s"v$i"))
      .toDF("g", "v").repartition(partitions)
    df.cache(); df.count() // materialize: the input repartition must not
                           // bill its own shuffle into the measurement
    val recs = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) recs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = graft.ext.Sketch.kmvDistinct(df, "g", col("v"), k)
      out.collect()
      org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      df.unpersist()
    }
    // the partial fold emits ONE record per (group, partition) — the
    // k-set rides inside it — so the measured count sits far below even
    // the stated groups·k·partitions bound, and five orders below the
    // corpus distinct count the old plan shuffled
    recs.get() should be <= (groups.toLong * k * partitions)
    recs.get() should be < 200000L / 100
  }

  test("calibrator serving: hash-equality lookup against a broadcast grid, never a nested-loop interval join") {
    // the r19 regression class: a range predicate against a broadcast
    // side is a BroadcastNestedLoopJoin — O(rows x blocks) the moment
    // the fit runs at the production x100 grid. The serve must probe a
    // broadcast HASH relation on the quantized score instead.
    val scored = (1 to 400).map(i => (i.toLong, (i % 37).toLong)).toDF("id", "s")
    val fit = graft.ext.Calibrate.isotonicFit(
      (1 to 300).map(i => ((i % 23).toLong, i % 3 == 0)).toDF("s", "y"),
      col("s"), col("y"))
    val out = graft.ext.Calibrate.isotonicApply(fit, scored, col("s"))
    out.collect()
    val plan = finalPlan(out).toString
    (plan should not).include("BroadcastNestedLoopJoin")
    (plan should not).include("CartesianProduct")
    plan should include("BroadcastHashJoin")
  }
}
