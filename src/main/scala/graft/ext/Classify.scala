package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed text classification for corpus curation: the
  * fastText-class workhorse of LLM-data pipelines (quality filtering,
  * language/domain routing) expressed as pure Spark aggregations — a
  * multinomial Naive Bayes whose TRAINING is two map-side-combining
  * group-bys over the labeled corpus and whose SCORING is one token
  * join + re-aggregate per document. No MLlib, no driver-side math
  * beyond two scalar counts, no UDFs: every log-probability is a
  * codegen'd expression, so both halves scale as linear corpus passes.
  *
  * Semantics (standard multinomial NB, Laplace smoothing α):
  *
  *   score(d, c) = ln P(c) + Σ_{t ∈ d, t ∈ V} ln (cnt(t,c) + α) / (N_c + α·|V|)
  *
  * summed over token OCCURRENCES (multinomial, not Bernoulli); tokens
  * outside the training vocabulary are skipped (the standard treatment —
  * they carry no class evidence). Ties in the argmax break by label, so
  * classification is fully deterministic and engine-replayable.
  */
object Classify {

  /** A trained model: per-class stats `(label, __logprior, __ntoks)`
    * (one row per class — broadcast-sized by construction), sparse
    * token-class counts `(label, __t, __cnt)` (≤ vocab × classes rows),
    * and the vocabulary size. The frames are plain DataFrames so a
    * model persists/restores as two parquet tables.
    */
  case class NbModel(classStats: DataFrame, tokenCounts: DataFrame,
      vocabSize: Long, alpha: Double)

  /** Train on `docs`: `tokens` is the tokenizer expression (an
    * `array<string>` column, e.g. `split(col("text"), " ")`), `labelCol`
    * the class column. Cost: one exploded corpus pass feeding two
    * partial-aggregated group-bys, plus two scalar counts (classes and
    * vocabulary) — no iteration, which is exactly why NB remains the
    * production baseline at corpus scale.
    */
  def trainNaiveBayes(docs: DataFrame, tokens: Column, labelCol: String,
      alpha: Double = 1.0): NbModel = {
    require(alpha > 0, s"alpha must be positive: $alpha")
    val labeled = docs.select(col(labelCol).as("label"), tokens.as("__toks"))
      .filter(col("label").isNotNull)
    val tok = labeled.select(col("label"), explode(col("__toks")).as("__t"))
    val tokenCounts = tok.groupBy(col("label"), col("__t"))
      .agg(count(lit(1)).as("__cnt"))
      .localCheckpoint(eager = true) // consumed by stats, vocab and scoring
    val nDocs = labeled.count()
    val vocabSize = tokenCounts.select(col("__t")).distinct().count()
    val classStats = labeled.groupBy(col("label"))
      .agg(count(lit(1)).as("__ndocs"))
      .join(tokenCounts.groupBy(col("label")).agg(sum(col("__cnt")).as("__ntoks")),
        Seq("label"), "left")
      .select(col("label"),
        (log(col("__ndocs")) - log(lit(nDocs.toDouble))).as("__logprior"),
        coalesce(col("__ntoks"), lit(0L)).as("__ntoks"))
    NbModel(classStats, tokenCounts, vocabSize, alpha)
  }

  /** Per-(document, class) log-scores for every document: one row per
    * doc × class, `(idCol, label, score)`. Documents with zero in-vocab
    * tokens drop out (no evidence — callers wanting priors-only rows
    * can left-join). Scale shape: exploded tokens semi-join the
    * vocabulary, join the sparse token-class counts (AQE broadcasts
    * them when they fit; at a 10M-token vocabulary it is a plain
    * shuffle join), and re-aggregate per (doc, class); the class-stats
    * frame is classes-sized and broadcast.
    */
  def scoreNaiveBayes(model: NbModel, docs: DataFrame, idCol: String,
      tokens: Column): DataFrame = {
    val perClassToken = model.tokenCounts
      .select(col("label"), col("__t"), col("__cnt"))
    val vocab = perClassToken.select(col("__t")).distinct()
    val docToks = docs.select(col(idCol).as("__id"), explode(tokens).as("__t"))
      .join(vocab, Seq("__t"), "left_semi")
    val stats = broadcast(model.classStats)
    // one row per (token occurrence, class): the smoothed log-likelihood
    // needs the zero-count classes too, hence cross the classes in and
    // LEFT-join the sparse counts
    val scored = docToks.crossJoin(stats.select(col("label")))
      .join(perClassToken, Seq("label", "__t"), "left")
      .groupBy(col("__id"), col("label"))
      .agg(sum(log(coalesce(col("__cnt"), lit(0L)) + lit(model.alpha)))
        .as("__evid"), count(lit(1)).as("__ntok"))
      .join(stats, Seq("label"))
      .select(col("__id").as(idCol), col("label"),
        (col("__logprior") + col("__evid") -
          col("__ntok") * log(col("__ntoks") + lit(model.alpha * model.vocabSize)))
          .as("score"))
    scored
  }

  /** Fixed-point gradient quantizer: `sign(v) * floor(|v| * scale)` as a
    * BIGINT. Every operation here (abs, multiply, floor, sign) is exactly
    * specified by IEEE 754 — no libm, no rounding-mode ambiguity — so any
    * engine computing it over the same doubles produces the same integer,
    * and a SUM of those integers is exact and order-independent. This is
    * what makes [[trainLogistic]] bit-reproducible across cluster sizes,
    * partitionings AND engines (the DuckDB oracle replays training to the
    * last bit). Same sign-after-floor discipline as `Sketch.featureHash`.
    */
  private[ext] def fxq(v: Column, scale: Double): Column =
    (signum(v) * floor(abs(v) * lit(scale))).cast("long")

  /** Deterministic distributed logistic-style regression — the trained
    * quality/routing filter one rung above Naive Bayes, built so that
    * DISTRIBUTED training is bit-reproducible:
    *
    *   - the link is the ALGEBRAIC sigmoid σ̃(z) = 0.5 + z / (2(1+|z|))
    *     (no exp/log — only IEEE-exact ops, so per-row probabilities are
    *     bit-identical on every engine);
    *   - per-row gradient contributions are quantized to fixed point
    *     ([[fxq]]) and summed as BIGINTs — an exact, ORDER-INDEPENDENT
    *     reduction, immune to float summation-order nondeterminism that
    *     makes naive distributed GD runs differ between cluster layouts;
    *   - the weight update runs on the driver over the k+1 aggregated
    *     BIGINTs (exact ops only), so the whole training trajectory is a
    *     pure function of the dataset multiset.
    *
    * Full-batch gradient descent, `iters` passes: each pass is ONE
    * map-side-combining aggregation over the (checkpointed) feature
    * frame — at 100 TB that is `iters` scans of a narrow k-column
    * projection, the textbook distributed-LR cost shape, with nothing
    * driver-sized but the (k+1)-vector of gradient sums.
    *
    * `features` EXCLUDES the bias (w(0) is the intercept). Feature and
    * label expressions should stick to IEEE-exact arithmetic (integer
    * counts, +,−,×,÷, abs, floor, greatest) if cross-engine bit-equality
    * is wanted; training is deterministic regardless.
    */
  def trainLogistic(train: DataFrame, features: Seq[Column], label: Column,
      iters: Int, lr: Double = 0.5, scale: Double = 1e6): Array[Double] = {
    require(iters > 0 && features.nonEmpty)
    val cols = label.cast("double").as("__y") +:
      features.zipWithIndex.map { case (f, j) => f.cast("double").as(s"__x${j + 1}") }
    // checkpoint: consumed `iters` times, and freezing it pins the exact
    // row multiset the whole trajectory is a function of
    val f = train.select(cols: _*).localCheckpoint(eager = true)
    val n = f.count().toDouble
    require(n > 0, "trainLogistic: empty training set")
    val spark = train.sparkSession
    val k = features.length
    val w = Array.fill(k + 1)(0.0)
    // the per-iteration weights ride a BROADCAST one-row frame rather
    // than literals: the plan (and its whole-stage-codegen output) is
    // then byte-identical across iterations, so iteration 2..N reuse
    // iteration 1's compiled code — with literal weights every pass
    // recompiles, and plan-compile latency (not the scan) dominates
    val wSchema = org.apache.spark.sql.types.StructType(
      (0 to k).map(j => org.apache.spark.sql.types.StructField(
        s"__w$j", org.apache.spark.sql.types.DoubleType, nullable = false)))
    val z = (col("__w0") +: (1 to k).map(j => col(s"__w$j") * col(s"__x$j")))
      .reduce(_ + _)
    val err = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z))) - col("__y")
    val aggs = (0 to k).map { j =>
      sum(fxq(if (j == 0) err else err * col(s"__x$j"), scale)).as(s"__g$j")
    }
    // AQE off + one reducer for the loop: each pass is one counter-sized
    // aggregation (k+1 longs out of the map-side partial agg) — adaptive
    // re-planning buys nothing, and the default shuffle-partition fan
    // only schedules empty reduce tasks; both latencies are paid `iters`
    // times. The scalable half (partial aggregation over the corpus)
    // is unaffected.
    val aqeKey = "spark.sql.adaptive.enabled"
    val shufKey = "spark.sql.shuffle.partitions"
    val aqeWas = spark.conf.get(aqeKey, "true")
    val shufWas = spark.conf.get(shufKey)
    spark.conf.set(aqeKey, "false")
    spark.conf.set(shufKey, "1")
    try {
      for (_ <- 0 until iters) {
        val wdf = spark.createDataFrame(
          java.util.Collections.singletonList(
            org.apache.spark.sql.Row.fromSeq(w.toSeq)), wSchema)
        val g = f.crossJoin(broadcast(wdf)).agg(aggs.head, aggs.tail: _*).head()
        // exact-arithmetic update, same expression shape as the oracle:
        // w' = w − lr · ((G / scale) / n)
        for (j <- w.indices)
          w(j) = w(j) - lr * ((g.getLong(j).toDouble / scale) / n)
      }
    } finally {
      spark.conf.set(aqeKey, aqeWas)
      spark.conf.set(shufKey, shufWas)
    }
    w
  }

  /** z = w0 + w1·x1 + … (left-associated, the order the oracle uses). */
  private def lrZ(w: Array[Double]): Column =
    w.zipWithIndex.map { case (wj, j) =>
      if (j == 0) lit(wj) else lit(wj) * col(s"__x$j")
    }.reduce(_ + _)

  /** σ̃(z) − y for the current weights, over the __x / __y columns. */
  private def lrResidual(w: Array[Double], y: Column): Column = {
    val z = lrZ(w)
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z))) - y
  }

  /** Score `df` with trained weights: `(idCol, prob_q, predicted)` where
    * `prob_q = floor(σ̃(z)·scale)` (BIGINT — hash-stable) and
    * `predicted = 1 iff z ≥ 0` (σ̃ is monotone, so the 0.5 threshold IS
    * the sign of z — no float compare at the boundary). One narrow
    * codegen'd pass, no shuffle.
    */
  def scoreLogistic(df: DataFrame, idCol: String, features: Seq[Column],
      weights: Array[Double], scale: Double = 1e6): DataFrame = {
    require(weights.length == features.length + 1)
    val named = df.select(col(idCol) +:
      features.zipWithIndex.map { case (f, j) => f.cast("double").as(s"__x${j + 1}") }: _*)
    val z = lrZ(weights)
    val p = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
    named.select(col(idCol),
      floor(p * lit(scale)).cast("long").as("prob_q"),
      when(z >= 0, lit(1)).otherwise(lit(0)).as("predicted"))
  }

  /** Argmax classification: `(idCol, predicted, score)`, one row per
    * scorable document; the winner is the highest score ROUNDED to 6dp
    * (last-ulp summation-order differences collapse into the label
    * tiebreak — same discipline as `Similarity.topKPerQuery`), score
    * reported at 4dp.
    */
  def classifyNaiveBayes(model: NbModel, docs: DataFrame, idCol: String,
      tokens: Column): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(round(col("score"), 6).desc, col("label"))
    scoreNaiveBayes(model, docs, idCol, tokens)
      .withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") === 1)
      .select(col(idCol), col("label").as("predicted"),
        round(col("score"), 4).as("score"))
  }
}
