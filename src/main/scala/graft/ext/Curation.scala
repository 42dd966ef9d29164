package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Cols.qcol

/** The END-TO-END pretraining-corpus curation pipeline — every stage is
  * one of the library's proven operators, composed in the order a real
  * corpus build runs them:
  *
  *   raw corpus
  *     → quality/language/exact-dup clean      ([[CorpusClean.clean]])
  *     → near-duplicate resolve                ([[Dedup.minhashCandidates]]
  *                                              + [[Dedup.dropNearDuplicates]])
  *     → benchmark decontamination             ([[CorpusClean.decontaminate]])
  *     → learned quality calibration           ([[Classify.trainLogistic]] /
  *                                              [[Classify.scoreLogistic]] +
  *                                              [[Sampling.keepTopFraction]])
  *     → temperature source mix                ([[Sampling.temperatureMix]])
  *     → fixed-length sequence packing         ([[Packing.packSequences]])
  *
  * What this object adds over the per-stage operators is the COMPOSITION
  * CONTRACT: column flow (each stage consumes exactly the previous
  * stage's survivors), and single-execution staging — every
  * corpus-reducing stage is checkpoint-barriered, so the MANY internal
  * actions of the later stages (the near-dup resolve's edge checkpoint
  * and bounded edge collect, the calibrator's histogram count + head,
  * the mix's stratum collect, the packer's prefix-sum totals)
  * re-execute NOTHING upstream. Without the
  * barriers a lazily-composed pipeline would re-run the full clean +
  * dedup + decontaminate chain once per downstream action — the
  * composition bug this module exists to prevent (CurationSpec asserts
  * the raw corpus is scanned exactly once).
  *
  * Scale shape: each stage keeps its own documented 100 TB discipline
  * (banded LSH with bucket caps, broadcast eval shingles, counter-sized
  * LR gradients, two-phase prefix sums); the composition adds one
  * checkpoint materialization per stage — linear passes over a
  * monotonically SHRINKING corpus, nothing quadratic, nothing
  * driver-sized beyond each stage's own bounded state. The near-dup
  * candidate graph is resolved on the driver when its edges fit
  * `spark.sql.autoBroadcastJoinThreshold` (16 bytes an edge), else by
  * distributed label propagation ([[Dedup.nearDuplicateLosers]]); that
  * threshold bounds the driver's share.
  */
object Curation {

  /** Pipeline geometry. Defaults mirror the library's per-stage gates so
    * the composed oracle can reuse their proven SQL replays verbatim.
    * `minEstJaccard` applies to the PORTABLE minhash family (the
    * cross-engine-replayable one — the throughput-default XXH64 family
    * is available per-stage but would make the composed pipeline
    * unreplayable in a second engine).
    */
  final case class PretrainConfig(
      clean: CorpusClean.Config = CorpusClean.Config(
        minTokens = 20, minAlphaRatio = 0.5, languages = Set("en")),
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      minEstJaccard: Double = 0.5,
      decontamN: Int = 13,
      lrIters: Int = 8,
      lrRate: Double = 8.0,
      keepFraction: Double = 0.5,
      mixAlpha: Double = 0.5,
      mixTargetFraction: Double = 0.7,
      seqLen: Int = 128,
  )

  /** The curated corpus at its two consumable grains: `admitted` — the
    * final per-document view (idCol, sourceCol, textCol of every
    * surviving document); `packed` — the training-sequence view
    * ([[Packing.packSequences]] rows over the admitted set).
    */
  final case class PretrainResult(admitted: DataFrame, packed: DataFrame)

  /** Run the full curation funnel.
    *
    * @param corpus    raw documents: (idCol, sourceCol, textCol), unique ids
    * @param evalDocs  benchmark/eval documents to decontaminate against
    *                  (textCol read from `evalTextCol`)
    * @param lrTrain   labeled training split for the quality scorer
    * @param features  LR feature expressions over `lrTrain`/survivor rows
    *                  (IEEE-exact arithmetic for cross-engine replay)
    * @param teacher   LR teacher label expression over `lrTrain` rows
    */
  def pretrain(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      evalDocs: DataFrame,
      evalTextCol: String,
      lrTrain: DataFrame,
      features: Seq[Column],
      teacher: Column,
      cfg: PretrainConfig = PretrainConfig(),
  ): PretrainResult = {
    // ---- stage 1: quality gate + language id + exact dedup.
    // Barrier: the raw corpus is scanned HERE and never again.
    val cleaned = CorpusClean.clean(corpus, idCol, textCol, cfg.clean)
      .localCheckpoint(eager = true)

    // ---- stage 2: near-duplicate resolve over the cleaned survivors.
    // Portable family so a second engine can replay the whole funnel;
    // candidates cluster through connected components and each cluster
    // keeps its minimum-id canonical (the dropNearDuplicates contract).
    val pairs = Dedup.minhashCandidates(cleaned, idCol, textCol,
      cfg.numHashes, cfg.bands, cfg.shingleSize, cfg.minEstJaccard,
      portable = true)
    val deduped = Dedup.dropNearDuplicates(cleaned, idCol, pairs)
      .localCheckpoint(eager = true)

    // ---- stage 3: n-gram decontamination against the eval set.
    // The one stage that reads something other than the previous
    // barrier: the eval corpus (benchmark-sized, broadcast side).
    val decon = CorpusClean.decontaminate(deduped, idCol, textCol,
        evalDocs, evalTextCol, cfg.decontamN)
      .localCheckpoint(eager = true)

    // ---- stage 4: learned quality calibration. Train once on the
    // labeled split (its own checkpoint lives inside trainLogistic),
    // score the survivors, keep EXACTLY the top fraction by the
    // fixed-point probability (score DESC, id ASC — deterministic).
    val w = Classify.trainLogistic(lrTrain, features, teacher,
      cfg.lrIters, cfg.lrRate)
    val scored = Classify.scoreLogistic(decon, idCol, features, w)
    val kept = Sampling.keepTopFraction(scored, col("prob_q"), idCol,
        cfg.keepFraction)
      .filter(col("kept")).select(qcol(idCol))
    val calibrated = decon.join(kept, Seq(idCol), "left_semi")
      .localCheckpoint(eager = true)

    // ---- stage 5: temperature mix over the source strata (rare
    // sources upweighted relative to size, deterministic salted-md5
    // per-row admission).
    val mixed = Sampling.temperatureMix(calibrated, qcol(sourceCol),
        qcol(idCol), cfg.mixAlpha, cfg.mixTargetFraction)
      .localCheckpoint(eager = true)

    // ---- stage 6: fixed-length sequence packing in id order.
    val packed = Packing.packSequences(mixed, idCol, textCol, cfg.seqLen)
    PretrainResult(mixed, packed)
  }
}
