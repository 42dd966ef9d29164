package graft.queries

import org.apache.spark.sql.SparkSession

/** Build every /tmp-staged test INPUT once, outside any timed or dumped
  * query: the archives a user would have uploaded, the files a stream
  * would have delivered, the curated bucketed/partitioned/JSONL layouts a
  * warehouse maintains ahead of queries. Every helper stages through
  * [[Staging.once]] (a root keyed by the sf dir's content fingerprint and
  * the compiled code's digest), so queries that call them directly stay
  * correct standalone — this just moves the one-time fixture generation
  * out of the first measured run.
  */
object InputPrep {
  /** Each stage is isolated: in round 9 a single failing stage
    * (stageStreams, on the events `ts` schema drift) aborted the whole
    * prep, so every LATER fixture (ANN indexes, bucketed/partitioned
    * layouts) silently fell through to its first timed consumer —
    * x_knn_ivf absorbed a 46 s index build. A stage failure must cost
    * exactly its own fixtures, and must say which stage broke.
    */
  def all(spark: SparkSession, sfDir: String): Unit = {
    val stages: Seq[(String, () => Unit)] = Seq(
      "stageZips" -> (() => CoverageQueries.stageZips(spark, sfDir)),
      "stageMediaZip" -> (() => EngineQueries.stageMediaZip(spark, sfDir)),
      "stageStreams" -> (() => ExtensionQueries.stageStreams(spark, sfDir)),
      "stageAnnIndexes" -> (() => { ExtensionQueries.stageAnnIndexes(spark, sfDir); () }),
      "stageTextIndex" -> (() => { ExtensionQueries.stageTextIndex(spark, sfDir); () }),
      "stageCascade" -> (() => { ExtensionQueries.stageCascadeFixtures(spark, sfDir); () }),
      "stageBpe" -> (() => { ExtensionQueries.stageBpeModel(spark, sfDir); () }),
      "stageUnigram" -> (() => { ExtensionQueries.stageUnigramModel(spark, sfDir); () }),
      // depends on stageAnnIndexes/stageTextIndex/stageCascade above
      // (copies their stores, then runs the one memoized sweep)
      "stageSweep" -> (() => { ExtensionQueries.stageSweepFixtures(spark, sfDir); () }),
      "stageBucketed" -> (() => ScaleQueries.stageBucketed(spark, sfDir)),
      "stagePartitioned" -> (() => ScaleQueries.stagePartitioned(spark, sfDir)),
      "stageJsonl" -> (() => ScaleQueries.stageJsonl(spark, sfDir)),
      "stageZordered" -> (() => { ScaleQueries.stageZordered(spark, sfDir); () }),
      "stageOrc" -> (() => ScaleQueries.stageOrc(spark, sfDir)),
      // r21: the two remaining idempotent "Input prep" fixtures that were
      // never registered — on a cold /tmp their one-time builds landed in
      // the FIRST consuming gate's timer (x_layout_compact absorbed the
      // 64-way shatter + compaction; x_text_phrase the positional index
      // build), the exact r9/r13 mis-billing class this object exists for
      "stageCompacted" -> (() => { ScaleQueries.stageCompacted(spark, sfDir); () }),
      "stagePositionalIndex" -> (() => { QualityQueries.stagePositionalIndex(spark, sfDir); () }))
    val failed = stages.flatMap { case (name, run) =>
      try { run(); None }
      catch { case e: Throwable =>
        System.err.println(s"[inputprep] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    if (failed.nonEmpty)
      throw new RuntimeException(s"input prep stages failed: ${failed.mkString(", ")}")
  }

  /** Force every MEMOIZED shared ingestion run (one stream maintaining
    * stores that several gates read) ahead of any timed query, so no
    * gate's reported time absorbs another gate's store build — the
    * r13 bench showed `x_stream_phrase_append` charged 5.7 s for the
    * combined text+positional stream its sibling also reads. The runs
    * stay lazily callable from the gates (standalone correctness is
    * unchanged); this only moves WHEN the one execution happens. Timed
    * separately from [[all]] by the bench (`shared_runs_sec`): these are
    * engine work under test, not fixture generation — the line keeps
    * their cost visible instead of hiding it inside staging.
    */
  def sharedRuns(spark: SparkSession, sfDir: String): Unit = {
    val runs: Seq[(String, () => Unit)] = Seq(
      "minhashStreamStore" -> (() => { ExtensionQueries.minhashStreamStore(spark, sfDir); () }),
      "textAppendIndexes" -> (() => { ExtensionQueries.textAppendIndexes(spark, sfDir); () }),
      "upsertStreamRun" -> (() => { ExtensionQueries.upsertStreamRun(spark, sfDir); () }),
      "driftStore" -> (() => { QualityQueries.driftStore(spark, sfDir); () }),
      // the monitored IVF×PQ append run + its per-prefix expected
      // counters (x_stream_recall reads both; staged once like the
      // sweep fixtures, replay mechanics spec-driven)
      "streamRecallRun" -> (() => { ExtensionQueries.stageStreamRecall(spark, sfDir); () }),
      // the composed pretraining funnel + shard export (x_pipeline_pretrain
      // and x_shard_export read its staged artifacts)
      "pretrainRun" -> (() => { PipelineQueries.stagePretrain(spark, sfDir); () }),
      // the streamed admission run (x_stream_corpus_admit reads its store)
      "corpusAdmitRun" -> (() => { PipelineQueries.stageCorpusAdmit(spark, sfDir); () }),
      // the win-matrix / score-histogram / stream-stream-join /
      // SCD2 / IVF×PQ-append maintenance streams (r17 VERDICT items
      // 1-2: their gates read the stores, the runs bill here)
      "btWinMatrixRun" -> (() => { RankingQueries.btWinMatrixStore(spark, sfDir); () }),
      "labelCountsRun" -> (() => { RankingQueries.labelCountsStore(spark, sfDir); () }),
      "aucHistogramRun" -> (() => { RankingQueries.aucHistogramStore(spark, sfDir); () }),
      "scd2Run" -> (() => { QualityQueries.scd2Store(spark, sfDir); () }),
      // the two-stream watermarked interval-join drain (x_stream_stream_join
      // reads its parquet dump; r18 VERDICT item 1 — the one maintenance
      // stream the r17 restructure memoized but forgot to prewarm)
      "ssjRun" -> (() => { RankingQueries.ssjStore(spark, sfDir); () }),
      // the SimHash-dedup signature-store maintenance (the r17/r18
      // restructure's missed sibling — x_stream_dedup_simhash reads
      // the store's pairs)
      "simhashStreamStore" -> (() => {
        ExtensionQueries.simhashStreamStore(spark, sfDir); () }),
      // the KMV-append maintenance (x_stream_distinct_kmv's append leg
      // reads the store; its deletion leg rebuilds a separate copy)
      "kmvAppendRun" -> (() => { QualityQueries.kmvAppendStore(spark, sfDir); () }),
      // the streamed quantile-summary maintenance (x_stream_quantile_sketch
      // reads its store)
      "qsketchRun" -> (() => { QualityQueries.qsketchStore(spark, sfDir); () }),
      "knnAppendRun" -> (() => { ExtensionQueries.knnAppendIndex(spark, sfDir); () }),
      // the streamed manifest-maintenance run (x_stream_manifest reads
      // its table + manifest) — engine work like every run above; on a
      // cold /tmp the 4-batch micro-batch fold (≈5 s, ~49 single-task
      // stages of stream machinery) previously landed inside the gate's
      // own timer (r21 baseline measured 5.92 s wall / 0.60 cpu there
      // vs 0.50 s warm)
      "streamManifestRun" -> (() => {
        ExtensionQueries.stageStreamManifest(spark, sfDir); () }))
    runs.foreach { case (name, run) =>
      try run()
      catch { case e: Throwable =>
        // a failed prewarm costs nothing: the owning gates re-attempt
        // the memoized run themselves and fail with their own context
        System.err.println(s"[inputprep] shared run $name failed: ${e.getMessage}")
      }
    }
  }
}
