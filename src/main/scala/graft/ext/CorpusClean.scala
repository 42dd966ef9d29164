package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Cols.qcol

/** Composed corpus-cleaning pipeline — the operator a training-data
  * pipeline actually runs end-to-end: quality gate → language filter →
  * exact dedup → (optional) near-dup drop via MinHash candidates.
  *
  * Each stage is one of the library's columnar operators; the composition
  * stays a declarative plan: a 100 TB corpus makes one scan for the
  * filters, one hash shuffle for exact dedup, and the banded LSH shuffles
  * for near-dup — nothing quadratic. The one driver-side step is the
  * near-dup resolve ([[Dedup.nearDuplicateLosers]]), and only when the
  * candidate graph fits a broadcast.
  */
object CorpusClean {

  final case class Config(
      minTokens: Int = 20,
      minStopRatio: Double = 0.0,
      minAlphaRatio: Double = 0.5,
      languages: Set[String] = Set("en"),
      dropNearDups: Boolean = false,
      nearDupJaccard: Double = 0.8,
  )

  /** Quality + language gate as a single predicate (one scan). */
  def qualityPredicate(text: Column, cfg: Config): Column = {
    val t = TextAnalysis.tokens(text)
    val nTokens = size(t)
    val alphaRatio = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") / length(text)
    nTokens >= cfg.minTokens &&
      alphaRatio >= cfg.minAlphaRatio &&
      (size(filter(t, x => x.isin(TextAnalysis.stopwords("en"): _*))).cast("double") / nTokens
        >= cfg.minStopRatio)
  }

  /** Train/test decontamination by n-gram overlap (the GPT-3/Pile recipe):
    * drop every corpus document sharing ≥ 1 word `n`-gram with the
    * evaluation set. Both sides reduce to 64-bit hashed shingles (native
    * one-pass `ShingleHashes`); contamination detection is a semi-join on
    * the hash — scales with shingle co-occurrence, never pairs. The eval
    * side's distinct hash set is dimension-sized in practice (benchmarks,
    * not corpora), so AQE broadcasts it; documents shorter than `n` tokens
    * have no shingles and are never flagged.
    */
  def decontaminate(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      eval: DataFrame,
      evalTextCol: String,
      n: Int = 13,
  ): DataFrame = {
    val docSh = corpus.select(qcol(idCol).as("__did"),
      explode(TextAnalysis.shingleHashes(qcol(textCol), n)).as("__s"))
    val evalSh = eval
      .select(explode(TextAnalysis.shingleHashes(qcol(evalTextCol), n)).as("__s"))
      .distinct()
    val bad = docSh.join(evalSh, Seq("__s"), "left_semi")
      .select(col("__did")).distinct()
    corpus.join(bad, qcol(idCol) === col("__did"), "left_anti")
  }

  /** SEMANTIC decontamination — the embedding-space leg of the
    * train/test firewall: drop every corpus row whose embedding is
    * within cosine `threshold` of ANY benchmark vector. Lexical
    * decontamination ([[decontaminate]]) misses paraphrases and
    * translations; this catches what n-grams can't, at the price of an
    * embedding pass — run BOTH, like the SemDeDup-era pipelines do.
    *
    * The threshold compares the 4dp-ROUNDED cosine (the
    * embeddingCosinePairs discipline) so the drop set is engine-exact
    * and the oracle can replay it.
    *
    * Scale shape: the benchmark side is benchmark-sized BY DEFINITION
    * (eval suites are thousands of rows, the corpus is the big side) —
    * it broadcasts, and the anti-join is one corpus scan scoring
    * |bench| cosines per row with zero shuffle. When a "benchmark"
    * outgrows broadcast, block both sides with the trained IVF coarse
    * quantizer first ([[Similarity.assign]]) and run this per cluster —
    * the [[Dedup.semanticDupPairs]] geometry with the two corpora in
    * the two roles.
    */
  def decontaminateSemantic(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      bench: DataFrame,
      benchVecCol: String,
      threshold: Double = 0.99,
  ): DataFrame = {
    val b = broadcast(bench.select(qcol(benchVecCol).as("__bv")))
    corpus.join(b,
      round(Similarity.cosine(qcol(vecCol), col("__bv")), 4) >= threshold,
      "left_anti")
  }

  /** Contamination REPORT — the audit companion to [[decontaminate]]:
    * instead of silently dropping flagged documents, emit one row per
    * contaminated (corpus doc, eval doc) pair with the number of
    * DISTINCT shared word `n`-grams — the evidence a curation review
    * needs ("which benchmark leaked into which documents, how hard").
    * Same scale shape as the drop path: both sides reduce to distinct
    * 64-bit shingle hashes, the join runs on the hash (pairs only
    * materialize where overlap exists — never corpus × eval), the
    * count is one partial-aggregated group-by over the matches.
    *
    * Output: (`doc_id`, `eval_id`, `n_shared_grams`), contaminated
    * pairs only.
    */
  def contaminationReport(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      eval: DataFrame,
      evalIdCol: String,
      evalTextCol: String,
      n: Int = 13,
  ): DataFrame = {
    val docSh = corpus.select(qcol(idCol).as("doc_id"),
        explode(TextAnalysis.shingleHashes(qcol(textCol), n)).as("__s"))
      .distinct()
    val evalSh = eval.select(qcol(evalIdCol).as("eval_id"),
        explode(TextAnalysis.shingleHashes(qcol(evalTextCol), n)).as("__s"))
      .distinct()
    docSh.join(evalSh, Seq("__s"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Bloom-filter decontamination — the map-only screen for when even the
    * eval-side semi-join shuffle is too much (a 100 TB corpus against a
    * benchmark suite): build ONE Bloom filter over the eval set's shingle
    * hashes (eval suites are small — the filter is a few MB broadcast),
    * then drop every document with any might-contain shingle in a single
    * corpus pass. Zero shuffle touches the corpus.
    *
    * The Bloom guarantee runs in the SAFE direction for decontamination:
    * NO FALSE NEGATIVES — every truly contaminated document is dropped,
    * invariantly (the x_decontaminate_bloom gate pins survivors ⊆ the
    * exact semi-join's survivors). False positives over-drop clean
    * documents at ~`fpp` per shingle test; size `fpp` against the
    * corpus's shingle count (expected clean-doc loss ≈ shingles·fpp).
    * Use [[decontaminate]] when exactness matters more than the shuffle.
    */
  def decontaminateBloom(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      eval: DataFrame,
      evalTextCol: String,
      n: Int = 13,
      fpp: Double = 0.001,
  ): DataFrame = {
    val evalSh = eval
      .select(explode(TextAnalysis.shingleHashes(qcol(evalTextCol), n)).as("__s"))
      .distinct()
    // expectedNumItems from one count over the (distinct) eval shingles —
    // eval-sized work, done once. Floored at 1000: a filter sized for a
    // handful of items has so few bits that its REAL false-positive rate
    // lands far above fpp (measured: 2 of 3 clean docs dropped at 8
    // items), and the floor costs ~2 KB. An EMPTY eval set contaminates
    // nothing (and Spark's bloom aggregate NPEs on zero rows) — return
    // the corpus untouched.
    val count = evalSh.count()
    if (count == 0L) return corpus
    val bloom = evalSh.stat.bloomFilter("__s", math.max(1000L, count), fpp)
    val bloomBc = corpus.sparkSession.sparkContext.broadcast(bloom)
    // one UDF call per document over its shingle array (lambda variables
    // cannot feed a UDF inside a higher-order exists); short-circuits on
    // the first might-contain hit
    val anyContaminated = udf((shingles: Seq[Long]) =>
      shingles != null && shingles.exists(bloomBc.value.mightContainLong))
    corpus.filter(!anyContaminated(TextAnalysis.shingleHashes(qcol(textCol), n)))
  }

  /** Forensic companion to [[clean]] — "WHY was this document dropped":
    * one row per input document with each stage's verdict and the final
    * disposition (`verdict` = `kept` or the FIRST failing stage in
    * pipeline order: `quality` → `language` → `exact_dup` → `near_dup`).
    * Stage flags are evaluated over the population that REACHES the
    * stage (exact-dup canonicals depend on which rows survived the
    * gates — same semantics as [[clean]]); rows dropped earlier carry
    * `false` for later stages, so every column is a total boolean (no
    * nulls). `kept` rows are EXACTLY [[clean]]'s output — the spec pins
    * the equivalence, including the near-dup leg.
    *
    * This is the debuggability tool a 100 TB curation pass needs: the
    * aggregate of `verdict` is the funnel report, the per-doc rows are
    * the appeal trail. Same scale shape as [[clean]] plus one narrow
    * projection — the stages already compute every flag; the audit just
    * refuses to throw them away.
    */
  def cleanAudit(df: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame = {
    val lang0 = TextAnalysis.withLangId(
      df.select(qcol(idCol), qcol(textCol)), idCol, textCol, "__lang")
    val flagged = lang0
      .withColumn("__q", qualityPredicate(qcol(textCol), cfg))
      .withColumn("__l",
        if (cfg.languages.isEmpty) lit(true)
        else col("__lang").isin(cfg.languages.toSeq: _*))
    // exact dedup among the gate-passers: the same min-id-canonical rule
    // as Dedup.dropExactDuplicates, flagged instead of dropped
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qcol(textCol)).orderBy(qcol(idCol))
    val exactFlagged = flagged
      .withColumn("__rn",
        when(col("__q") && col("__l"), row_number().over(w)).otherwise(lit(1)))
      .withColumn("__e", col("__q") && col("__l") && col("__rn") > 1)
      .drop("__rn")
    val withNear =
      if (!cfg.dropNearDups) exactFlagged.withColumn("__n", lit(false))
      else {
        val survivors = exactFlagged
          .filter(col("__q") && col("__l") && !col("__e"))
          .select(qcol(idCol), qcol(textCol))
        val pairs = Dedup.minhashCandidates(survivors, idCol, textCol,
          minEstJaccard = cfg.nearDupJaccard)
        val drops = Dedup.nearDuplicateLosers(pairs).withColumn("__n0", lit(true))
        exactFlagged.join(drops,
            qcol(idCol).cast("long") === col("__nid"), "left")
          .withColumn("__n", coalesce(col("__n0"), lit(false)))
          .drop("__nid", "__n0")
      }
    withNear.select(qcol(idCol),
      col("__q").as("quality_ok"), col("__lang").as("lang_pred"),
      col("__l").as("lang_ok"), col("__e").as("exact_dup"),
      col("__n").as("near_dup"),
      when(!col("__q"), lit("quality"))
        .when(!col("__l"), lit("language"))
        .when(col("__e"), lit("exact_dup"))
        .when(col("__n"), lit("near_dup"))
        .otherwise(lit("kept")).as("verdict"))
  }

  /** Run the pipeline; returns surviving rows (canonical = min id for any
    * duplicate group).
    */
  def clean(df: DataFrame, idCol: String, textCol: String, cfg: Config = Config()): DataFrame = {
    val gated0 = df.filter(qualityPredicate(qcol(textCol), cfg))
    val gated =
      if (cfg.languages.isEmpty) gated0
      else TextAnalysis.withLangId(gated0, idCol, textCol, "__lang")
        .filter(col("__lang").isin(cfg.languages.toSeq: _*)).drop("__lang")
    val exact = Dedup.dropExactDuplicates(gated, Seq(textCol), idCol)
    if (!cfg.dropNearDups) exact
    else {
      // candidate pairs → duplicate CLUSTERS, keep each cluster's min-id
      // canonical: pairwise "drop id_b" would keep/drop chain members
      // (a≈b, b≈c) depending on which pairs the LSH happened to emit
      val pairs = Dedup.minhashCandidates(exact, idCol, textCol,
        minEstJaccard = cfg.nearDupJaccard)
      Dedup.dropNearDuplicates(exact, idCol, pairs)
    }
  }
}
