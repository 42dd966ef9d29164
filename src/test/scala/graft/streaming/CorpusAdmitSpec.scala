package graft.streaming

import graft.SparkSpec
import graft.ext.{CorpusClean, Dedup}
import org.apache.spark.sql.functions._

/** Streaming corpus admission: final admitted view equals the batch
  * clean → near-dup-resolve prefix, including cluster MERGES that
  * revoke a previously-canonical document; micro-batch redelivery is a
  * no-op on the admitted set.
  */
class CorpusAdmitSpec extends SparkSpec {
  import spark.implicits._

  private val enPrefix = "the a of to in is it that for and"
  private def toks(p: String, n: Int) =
    (0 until n).map(i => p + ('a' + i).toChar).mkString(" ")
  // 1: X, 2: exact copy of X, 3: Y (not similar to X), 4: independent,
  // 5: half-X half-Y bridge (similar to BOTH — the merge event),
  // 6: too short (quality-rejected), 7: German (language-rejected)
  private def docs = Seq(
    (1L, s"$enPrefix ${toks("xx", 20)}"),
    (2L, s"$enPrefix ${toks("xx", 20)}"),
    (3L, s"$enPrefix ${toks("yy", 20)}"),
    (4L, s"$enPrefix ${toks("zz", 20)}"),
    (5L, s"$enPrefix ${toks("xx", 10)} ${toks("yy", 10)}"),
    (6L, "tiny doc way too short"),
    (7L, "der die das und ist nicht ein mit auf " + toks("gg", 15)),
  )
  private val cfg = CorpusClean.Config(minTokens = 20, minAlphaRatio = 0.5,
    languages = Set("en"))
  private val thr = 0.3

  private def spool(dir: String, slices: Seq[Seq[Long]],
      extraDup: Option[Seq[Long]] = None): String = {
    new java.io.File(dir).mkdirs()
    val d = docs.toDF("doc_id", "text")
    def put(ids: Seq[Long], i: Int): Unit = {
      val stage = s"$dir/.stage_$i"
      d.filter($"doc_id".isin(ids: _*)).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val tgt = new java.io.File(dir, f"spool_$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      tgt.setLastModified(1600000000000L + i * 60000L)
    }
    slices.zipWithIndex.foreach { case (ids, i) => put(ids, i) }
    extraDup.foreach(ids => put(ids, slices.length)) // redelivered batch
    dir
  }

  private def tmp(name: String) =
    graft.SparkSpec.tempDir(name).toString

  private def admitted(store: String): Set[Long] =
    DocStreams.readAdmitted(spark, store).as[Long].collect().toSet

  private def batchExpected: Set[Long] = {
    val cleaned = CorpusClean.clean(docs.toDF("doc_id", "text"),
      "doc_id", "text", cfg)
    val pairs = Dedup.minhashCandidates(cleaned, "doc_id", "text",
      minEstJaccard = thr, portable = true)
    Dedup.dropNearDuplicates(cleaned, "doc_id", pairs)
      .select($"doc_id").as[Long].collect().toSet
  }

  test("admitted equals batch prefix; a late bridge revokes a canonical") {
    // before the bridge arrives: 1 and 3 are both canonical
    val s1 = spool(tmp("graft_admit1"), Seq(Seq(1L, 6L), Seq(3L, 4L, 7L)))
    val st1 = s"${tmp("graft_admit1s")}/store"
    DocStreams.runCorpusAdmitOnce(spark, s1, st1,
      cleanCfg = cfg, minEstJaccard = thr)
    admitted(st1) shouldBe Set(1L, 3L, 4L)
    // full feed: the copy and the bridge arrive last; the bridge merges
    // {1,2,5} with {3}, demoting 3 — the final view revokes it
    val s2 = spool(tmp("graft_admit2"),
      Seq(Seq(1L, 6L), Seq(3L, 4L, 7L), Seq(2L, 5L)))
    val st2 = s"${tmp("graft_admit2s")}/store"
    DocStreams.runCorpusAdmitOnce(spark, s2, st2,
      cleanCfg = cfg, minEstJaccard = thr)
    val a = admitted(st2)
    a shouldBe Set(1L, 4L)
    a shouldBe batchExpected
  }

  test("incremental funnel: finalize equals batch pretrain; a late bridge revokes an already-packed doc") {
    import graft.ext.{Classify, Curation, TextAnalysis}
    // sources for the mix stage; eval set shares doc 4's text, so the
    // decontamination stage has a real casualty
    val d = docs.toDF("doc_id", "text")
      .withColumn("source", concat(lit("s"), pmod($"doc_id", lit(2))))
      .localCheckpoint(eager = true)
    val evalDocs = d.filter($"doc_id" === 4L).select($"text")
    val features = Seq(
      (org.apache.spark.sql.functions.size(TextAnalysis.tokens(col("text")))
        .cast("double") / lit(10.0) - lit(1.0)))
    val teacher = when(org.apache.spark.sql.functions.size(TextAnalysis.tokens(col("text"))) >= 25,
      lit(1.0)).otherwise(lit(0.0))
    val pcfg = Curation.PretrainConfig(clean = cfg, minEstJaccard = thr,
      lrIters = 2, lrRate = 1.0, keepFraction = 1.0,
      mixTargetFraction = 1.0, seqLen = 16)
    // FROZEN weights: trained once, identically to the batch flagship
    val w = Classify.trainLogistic(d, features, teacher,
      pcfg.lrIters, pcfg.lrRate)
    def runStream(slices: Seq[Seq[Long]], tag: String) = {
      val spoolDir = s"${tmp(s"graft_funnel$tag")}"
      new java.io.File(spoolDir).mkdirs()
      def put(ids: Seq[Long], i: Int): Unit = {
        val stage = s"$spoolDir/.stage_$i"
        d.filter($"doc_id".isin(ids: _*))
          .select($"doc_id", $"source", $"text").coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        val tgt = new java.io.File(spoolDir, f"spool_$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, tgt.toPath)
        tgt.setLastModified(1600000000000L + i * 60000L)
      }
      slices.zipWithIndex.foreach { case (ids, i) => put(ids, i) }
      val store = s"${tmp(s"graft_funnel${tag}s")}/store"
      DocStreams.runPretrainAdmitOnce(spark, spoolDir, store,
        evalDocs = evalDocs, evalTextCol = "text",
        features = features, weights = w,
        cleanCfg = cfg, minEstJaccard = thr)
      DocStreams.finalizePretrain(spark, store,
        keepFraction = pcfg.keepFraction,
        mixTargetFraction = pcfg.mixTargetFraction, seqLen = pcfg.seqLen)
    }
    def packedSet(p: org.apache.spark.sql.DataFrame) =
      p.select($"doc_id", $"seq_id", $"doc_from", $"doc_to", $"seq_off")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    // partial feed (no copy, no bridge): doc 3 is canonical — admitted,
    // calibrated, mixed, PACKED
    val partial = runStream(Seq(Seq(1L, 6L), Seq(3L, 4L, 7L)), "p")
    partial.admitted.select($"doc_id").as[Long].collect().toSet shouldBe
      Set(1L, 3L) // 4 decon-dropped, 6/7 gate-dropped
    packedSet(partial.packed).map(_._1) should contain(3L)
    // full feed: the late bridge (5) merges {1,2,5} with {3}, demoting
    // the ALREADY-PACKED doc 3 — the next finalize revokes it
    val full = runStream(
      Seq(Seq(1L, 6L), Seq(3L, 4L, 7L), Seq(2L, 5L)), "f")
    val fullPacked = packedSet(full.packed)
    fullPacked.map(_._1) should not contain 3L
    // and the finalized views equal the BATCH flagship over the union —
    // the stream-equals-batch discipline on the whole funnel
    val batch = Curation.pretrain(d, "doc_id", "text", "source",
      evalDocs = evalDocs, evalTextCol = "text",
      lrTrain = d, features = features, teacher = teacher, cfg = pcfg)
    fullPacked shouldBe packedSet(batch.packed)
    full.admitted.select($"doc_id").as[Long].collect().toSet shouldBe
      batch.admitted.select($"doc_id").as[Long].collect().toSet
  }

  test("a redelivered micro-batch leaves the admitted set unchanged") {
    val s = spool(tmp("graft_admit3"),
      Seq(Seq(1L, 6L), Seq(3L, 4L, 7L), Seq(2L, 5L)),
      extraDup = Some(Seq(2L, 5L)))
    val st = s"${tmp("graft_admit3s")}/store"
    DocStreams.runCorpusAdmitOnce(spark, s, st,
      cleanCfg = cfg, minEstJaccard = thr)
    admitted(st) shouldBe batchExpected
  }
}
