package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext._

/** `curation`: `Curation.pretrain` then `ShardExport.export` over a
  * documents-like corpus grown with perturbed copies.
  */
final class CurationRun(ctx: Ctx, base: Int, copies: Int) extends Workload {
  val name = "curation"
  val primaryLabel = "curation"
  val secondaryLabel = "shard_export"
  val rateName = "curation_docs_per_s"
  override val secondaryNested = true
  /** A set-up takes under a second once warm: five keep its median steady. */
  override val setups = 5
  private val spark = ctx.spark
  private var dir: File = _
  private var expect: Gen.CurationExpect = _
  private var admittedFirst = -1L
  private val cfg = Curation.PretrainConfig(lrIters = 2)
  private val shards = 8

  def setup(d: File): Unit = {
    dir = d
    admittedFirst = -1L
    expect = Gen.curationData(new File(d, "in"), ctx.seed, base, copies)
    spark.read.option("sep", "\t").schema("doc_id LONG, source STRING, text STRING")
      .csv(new File(d, "in/corpus.tsv").getPath).repartition(ctx.cores)
      .write.parquet(new File(d, "corpus").getPath)
    spark.read.option("sep", "\t").schema("eval_id LONG, text STRING")
      .csv(new File(d, "in/eval.tsv").getPath).write.parquet(new File(d, "eval").getPath)
  }

  private def corpus = spark.read.parquet(new File(dir, "corpus").getPath)
  private def evalDocs = spark.read.parquet(new File(dir, "eval").getPath)
  private def lrTrain = corpus.filter(col("doc_id") % 5 =!= 0)
  private val tokens = TextAnalysis.tokens(col("text"))
  private val features: Seq[Column] = Seq(
    (length(col("text")).cast("double") / lit(1000.0) - lit(0.5)) * lit(4.0),
    (size(tokens).cast("double") / lit(100.0) - lit(0.9)) * lit(4.0))
  private val teacher = when(size(tokens) >= 90, lit(1.0)).otherwise(lit(0.0))
  private def shardDir = new File(dir, "shards").getPath

  def op(i: Int): Op = {
    var exportMs = 0.0
    val ((res, manifest), ms) = ctx.measure {
      val r = Curation.pretrain(corpus, "doc_id", "text", "source", evalDocs, "text",
        lrTrain, features, teacher, cfg)
      val (m, ems) = ctx.time(ShardExport.export(spark, r.packed, shards, shardDir))
      exportMs = ems
      (r, m)
    }
    Op(ms, expect.corpusDocs, Some(exportMs), check(res.admitted, manifest))
  }

  private def check(admitted: DataFrame, manifest: DataFrame): Seq[String] = {
    val f = mutable.ArrayBuffer[String]()
    val ids = admitted.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    if (ids.isEmpty) f += "no document admitted"
    if (admittedFirst < 0) admittedFirst = ids.size
    else if (ids.size != admittedFirst) f += s"admitted ${ids.size}, first operation admitted $admittedFirst"
    Seq("exact copy" -> expect.exactCopies, "short document" -> expect.shortDocs,
      "contaminated document" -> expect.contaminated).foreach { case (what, planted) =>
      val leaked = planted.count(ids)
      if (leaked > 0) f += s"$leaked planted ${what}s admitted"
    }
    val bad = ShardExport.verify(spark, shardDir).filter(!col("consistent")).count()
    if (bad > 0) f += s"$bad shards disagree with their manifest"
    if (manifest.count() == 0) f += "empty shard manifest"
    f.toSeq
  }

  /** `Curation.pretrain`'s stages, one module call at a time. */
  def staged(i: Int, t: Tracer): Map[String, Double] = t.span("op", "staged") {
    def stage(layer: String)(build: => DataFrame): DataFrame = {
      val lazyOut = t.span(layer, "construct")(build)
      t.span(layer, "exec")(ctx.force(lazyOut))
    }
    val stats = mutable.Map[String, Double]()
    val cleaned = stage("ext.CorpusClean")(CorpusClean.clean(corpus, "doc_id", "text", cfg.clean))
    val docs = cleaned.count()
    stats("ext.CorpusClean.rows_out") = docs
    var pairs: DataFrame = null
    val deduped = stage("ext.Dedup") {
      pairs = ctx.force(Dedup.minhashCandidates(cleaned, "doc_id", "text", cfg.numHashes, cfg.bands,
        cfg.shingleSize, cfg.minEstJaccard, portable = true))
      Dedup.dropNearDuplicates(cleaned, "doc_id", pairs)
    }
    stats("Dedup.pairs_per_doc") = pairs.count().toDouble / math.max(1L, docs)
    stats("ext.Dedup.rows_out") = deduped.count()
    val decon = stage("ext.CorpusClean")(CorpusClean.decontaminate(deduped, "doc_id", "text",
      evalDocs, "text", cfg.decontamN))
    val scored = stage("ext.Classify") {
      val w = Classify.trainLogistic(lrTrain, features, teacher, cfg.lrIters, cfg.lrRate)
      Classify.scoreLogistic(decon, "doc_id", features, w)
    }
    stats("ext.Classify.rows_out") = scored.count()
    val calibrated = stage("ext.Sampling") {
      val kept = Sampling.keepTopFraction(scored, col("prob_q"), "doc_id", cfg.keepFraction)
        .filter(col("kept")).select(col("doc_id"))
      decon.join(kept, Seq("doc_id"), "left_semi")
    }
    val mixed = stage("ext.Sampling")(Sampling.temperatureMix(calibrated, col("source"),
      col("doc_id"), cfg.mixAlpha, cfg.mixTargetFraction))
    stats("ext.Sampling.rows_out") = mixed.count()
    val packed = stage("ext.Packing")(Packing.packSequences(mixed, "doc_id", "text", cfg.seqLen))
    stats("ext.Packing.rows_out") = packed.count()
    val manifest = t.span("ext.ShardExport", "construct")(ShardExport.export(spark, packed, shards, shardDir))
    stats("ext.ShardExport.rows_out") = t.span("ext.ShardExport", "exec")(manifest.count())
    stats.toMap
  }

  override def report(ops: Seq[Op]): Seq[String] = Seq(
    s"planted: corpus_docs=${expect.corpusDocs} exact_copies=${expect.exactCopies.size} " +
      s"short_docs=${expect.shortDocs.size} contaminated=${expect.contaminated.size} " +
      s"admitted=$admittedFirst")
}

/** `ann_serve`: batches of query vectors against IVF, IVF×PQ and graph
  * indexes built in set-up, with an append or delete interleaved every
  * few batches. Recall is measured against an exact replay of the live
  * vector set, itself checked against `Similarity.bruteForceTopK`.
  */
final class AnnServe(ctx: Ctx, corpusSize: Int) extends Workload {
  val name = "ann_serve"
  val primaryLabel = "ann_query"
  val secondaryLabel = "ann_write"
  val rateName = "ann_queries_per_s"
  /** The index builds take 20–35 s on 4 cores: one set-up per run. */
  override val setups = 1
  private val spark = ctx.spark
  private val dim = 64
  private val k = 10
  private val batch = AnnServe.Batch
  private val writeEvery = 2
  private val writeSize = 8
  private val nlist = 16
  private val nprobe = 3
  private val layouts = Seq("ivf", "ivfpq", "graph")
  /** Per-layout recall floors: a batch below its floor fails its check.
    * They catch a broken index, not a weak one — recall itself is reported.
    */
  private val floors = Map("ivf" -> 0.8, "ivfpq" -> 0.15, "graph" -> 0.3)
  private var dir: File = _
  private var gen: Gen.VecGen = _
  private val live = mutable.LinkedHashMap[Long, Array[Float]]()
  private val queries = mutable.LinkedHashMap[Long, Array[Float]]()
  private val pending = mutable.Queue[Long]()
  private var nextAppend = 0L
  private var setupFailures = Seq.empty[String]
  private var last = Map.empty[String, Double]
  val recall: mutable.Map[String, (Double, Int)] = mutable.Map[String, (Double, Int)]()

  private def path(n: String) = new File(dir, n).getPath
  private def step[T](what: String)(body: => T): T = {
    val (out, ms) = ctx.time(body)
    System.err.println(f"[setup] $what $ms%.0f ms")
    out
  }
  private def vectors(f: String): DataFrame =
    spark.read.option("sep", "\t").schema("vec_id LONG, v STRING").csv(f)
      .select(col("vec_id"), split(col("v"), ",").cast("array<float>").as("embedding"))

  def setup(d: File): Unit = {
    dir = d
    gen = new Gen.VecGen(ctx.seed, dim, 24)
    live.clear(); queries.clear(); pending.clear(); recall.clear()
    (1L to corpusSize).foreach(i => live(i) = gen.next())
    (1L to 480L).foreach(i => queries(1000000L + i) = gen.next())
    nextAppend = 500000L
    Gen.writeText(new File(d, "in/corpus.tsv"), live.iterator.map { case (i, v) => Gen.vecLine(i, v) })
    Gen.writeText(new File(d, "in/queries.tsv"), queries.iterator.map { case (i, v) => Gen.vecLine(i, v) })
    val corpus = vectors(path("in/corpus.tsv")).repartition(ctx.cores)
    corpus.write.parquet(path("corpus"))
    vectors(path("in/queries.tsv")).write.parquet(path("queries"))
    val c = spark.read.parquet(path("corpus"))
    // one coarse quantizer, trained once, shared by all three layouts
    val coarse = step("coarse training")(Similarity.trainCentroids(c, "vec_id", "embedding", nlist))
    step("ivf")(AnnIndex.buildIvf(c, "vec_id", "embedding", path("ivf"), nlist = nlist, coarseIn = Some(coarse)))
    step("ivfpq")(AnnIndex.buildIvfPq(c, "vec_id", "embedding", path("ivfpq"), nlist = nlist, m = 16, ksub = 32,
        coarseIn = Some(coarse)))
    // IVF-candidate edges with one entry per coarse cluster: a single
    // medoid entry cannot reach the other blobs of a clustered corpus
    step("graph")(GraphAnn.buildFromIvf(c, "vec_id", "embedding", path("graph"), degree = 10, nlist = nlist,
        nprobe = nprobe, coarseIn = Some(coarse)))
    // the exact replay must agree with the engine's own brute force
    val q0 = queryBatch(0)
    val engine = Similarity.bruteForceTopK(q0, c, "vec_id", "embedding", k)
      .select(col("query_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val agree = batchIds(0).map(q => Gen.bruteTopK(queries(q), q, live, k).count(engine.getOrElse(q, Set.empty)))
      .sum.toDouble / (batch * k)
    setupFailures = if (agree < 0.99) Seq(f"exact replay agrees with bruteForceTopK on $agree%.3f only") else Nil
  }

  private def batchIds(i: Int): Seq[Long] = {
    val start = (i * batch) % queries.size
    (0 until batch).map(j => 1000001L + (start + j) % queries.size)
  }
  private def queryBatch(i: Int): DataFrame = {
    val ids = batchIds(i)
    spark.read.parquet(path("queries")).filter(col("vec_id").isin(ids: _*))
  }

  private def serve(layout: String, q: DataFrame): DataFrame = layout match {
    case "ivf" => AnnIndex.ivfTopK(spark, AnnIndex.readIvf(spark, path("ivf")), q, "vec_id", "embedding", k, nprobe)
    case "ivfpq" => AnnIndex.ivfPqTopK(spark, AnnIndex.readIvfPq(spark, path("ivfpq")), q, "vec_id",
      "embedding", k, nprobe)
    case "graph" => GraphAnn.topK(spark, path("graph"), q, "vec_id", "embedding", k, beamWidth = 16, hops = 4)
  }

  private def layer(layout: String) = if (layout == "graph") "ext.GraphAnn" else "ext.AnnIndex"

  /** Append `writeSize` fresh vectors to every index, or delete the
    * oldest appended batch again; the live set follows for the replay.
    */
  private def write(t: Tracer): Unit = {
    if (pending.size >= writeSize * 2) {
      val ids = (1 to writeSize).map(_ => pending.dequeue())
      val df = spark.createDataFrame(ids.map(Tuple1(_))).toDF("vec_id")
      layouts.foreach(l => t.span(layer(l), "write")(AnnIndex.deleteIds(spark, path(l), df, "vec_id")))
      ids.foreach(live.remove)
    } else {
      val rows = (1 to writeSize).map { _ => nextAppend += 1; (nextAppend, gen.next()) }
      val f = new File(dir, s"in/append$nextAppend.tsv")
      Gen.writeText(f, rows.iterator.map { case (i, v) => Gen.vecLine(i, v) })
      val df = vectors(f.getPath)
      t.span("ext.AnnIndex", "write")(AnnIndex.appendIvf(spark, path("ivf"), df, "vec_id", "embedding"))
      t.span("ext.AnnIndex", "write")(AnnIndex.appendIvfPq(spark, path("ivfpq"), df, "vec_id", "embedding"))
      t.span("ext.GraphAnn", "write")(GraphAnn.append(spark, path("graph"), df, "vec_id", "embedding"))
      rows.foreach { case (i, v) => live(i) = v; pending.enqueue(i) }
    }
  }

  /** One batch of queries served by every layout in turn (the timed
    * operation), then every `writeEvery`-th operation an index write.
    */
  private def run(i: Int, t: Tracer): Op = {
    val ids = batchIds(i)
    val (got, ms) = ctx.measure {
      layouts.map { layout =>
        val out = t.span(layer(layout), "construct")(serve(layout, queryBatch(i)))
        layout -> t.span(layer(layout), "exec")(out.select(col("query_id"), col("neighbor_id")).collect())
      }
    }
    val f = mutable.ArrayBuffer[String]()
    last = got.map { case (layout, rows) =>
      val byQuery = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
      var hits = 0
      ids.foreach { q =>
        val res = byQuery.getOrElse(q, Nil)
        if (res.size != k || res.distinct.size != k) f += s"$layout query $q: ${res.size} results"
        val stale = res.filterNot(live.contains)
        if (stale.nonEmpty) f += s"$layout query $q: served ids not in the live set: ${stale.mkString(",")}"
        hits += Gen.bruteTopK(queries(q), q, live, k).count(res.toSet)
      }
      val r = hits.toDouble / (ids.size * k)
      val (s, n) = recall.getOrElse(layout, (0.0, 0))
      recall(layout) = (s + r, n + 1)
      if (r < floors(layout)) f += f"$layout recall@$k $r%.3f below ${floors(layout)}"
      layout -> r
    }.toMap
    if (i == 0) f ++= setupFailures
    // the write comes after the checks: they compare against the live set
    // the batch was served from
    val writeMs = if (i % writeEvery == 0) Some(ctx.measure(write(t))._2) else None
    Op(ms, ids.size.toLong * layouts.size, writeMs, f.toSeq)
  }

  def op(i: Int): Op = run(i, ctx.tracer)

  def staged(i: Int, t: Tracer): Map[String, Double] = {
    t.span("op", "staged")(run(i, t))
    Map("AnnIndex.recall_at_10" -> (last("ivf") + last("ivfpq")) / 2,
      "GraphAnn.recall_at_10" -> last("graph"))
  }

  def recallAt10: Double = {
    val (s, n) = recall.values.foldLeft((0.0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
    if (n == 0) 0.0 else s / n
  }

  override def report(ops: Seq[Op]): Seq[String] =
    f"ann_recall_at_10 $recallAt10%.4f ratio" +: recall.toSeq.sortBy(_._1).map { case (l, (s, n)) =>
      f"recall_at_10[$l] ${s / n}%.4f over $n batches" }
}

object AnnServe {
  /** Queries per batch. */
  val Batch = 16
}
