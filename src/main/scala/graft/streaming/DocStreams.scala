package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Dedup

/** Streaming document pipelines: the incremental forms of the batch
  * dedup operators, against a PERSISTED state store (the streaming
  * analog of [[graft.ext.AnnIndex]]'s append maintenance — new documents
  * arrive forever; re-sketching the whole corpus per batch would be a
  * corpus-sized pass per micro-batch).
  */
object DocStreams {

  /** Incremental MinHash near-duplicate detection over a document
    * stream: each micro-batch is sketched ONCE (signatures + LSH band
    * keys), joined against the persisted signature store for
    * old↔new candidates, self-joined for new↔new ones, and appended
    * into the store — so every batch's work scales with the BATCH plus
    * the PRUNED store slice, never with corpus². Candidate semantics
    * match [[Dedup.minhashCandidates]]
    * run on everything seen so far: a pair (a, b) surfaces exactly once,
    * in the batch where its LATER member arrives, with the same
    * signature-estimated jaccard — the `x_stream_dedup_minhash` gate
    * pins streamed == one-shot batch on the union.
    *
    * Store pruning is PHYSICAL: the signature store is written
    * partitioned by `__pb = pmod(hash(band, bandHash), storeParts)`, and
    * each batch's scan carries the batch's own __pb values as a literal
    * partition filter — only the touched fraction of the store's files
    * is ever opened (≤ min(batch·bands, storeParts) of storeParts
    * directories; size storeParts so one partition's files stay
    * executor-friendly at the target corpus). A broadcast semi-join on
    * the batch's exact (band, bandHash) keys then row-prunes the
    * surviving partitions — the store never shuffles.
    *
    * The per-batch pass is FOLDED into three actions: one tiny collect
    * (the batch's partition values, which also materializes the cached
    * sketch), the pairs write (bucket sizing + both candidate joins in
    * one job over the cached inputs), and the store append from cache —
    * micro-batch scheduling machinery, not repeated sketching, is what
    * remains.
    *
    * The hot-bucket cap is evaluated AT ARRIVAL TIME over the store ∪
    * batch: a bucket that only later turns hot keeps the pairs it
    * emitted while small (the streaming-natural reading; the batch form
    * judges buckets once, globally). Ids must be unique across the
    * stream (same discipline as the index appends); foreachBatch is
    * at-least-once, so the returned frame dedups pairs on read.
    *
    * `storeDir` is deleted first: the run IS the store's history.
    * Layout under `storeDir`: `sigs/` (banded signatures partitioned by
    * `__pb`), `pairs/` (emitted candidates), and — when `withComponents`
    * — `comps/` ([[graft.ext.IncrementalComponents]] label generations,
    * folded per batch so the stream maintains duplicate CLUSTERS, not
    * just pairs).
    */
  def runMinhashDedupOnce(
      spark: SparkSession,
      spoolDir: String,
      storeDir: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      minEstJaccard: Double = 0.5,
      maxBucketSize: Int = 1000,
      /** Signature-store partition count — a LAYOUT knob sized to the
        * corpus like `nlist`: per-batch scan cost is proportional to the
        * touched partitions, per-batch append writes one file per touched
        * partition, so small corpora want 8–16 and a 100 TB store wants
        * thousands (each directory's files stay cacheable and a
        * micro-batch touches only its own hash range). The default is
        * sized for the small-corpus gates; the partitioned append's
        * commit cost is ~one file move per touched partition per batch —
        * machinery that amortizes at production batch sizes.
        */
      storeParts: Int = 8,
      withComponents: Boolean = false,
      /** Per-batch side hook: called with (raw batch frame, batchId)
        * inside the same foreachBatch, BEFORE the signature-store
        * append. One ingestion run can thereby maintain sibling stores
        * (e.g. the CMS counter deltas) from the same micro-batches —
        * the production shape where a document stream feeds every
        * derived store at once instead of re-reading the spool per
        * store. The hook must be idempotent per batchId (foreachBatch
        * is at-least-once); the exactly-once delta publishers are.
        */
      alsoPerBatch: (DataFrame, Long) => Unit = (_, _) => (),
  ): DataFrame = {
    // fail before the stream starts, not inside the first foreachBatch
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    runSigStoreDedupOnce(spark, spoolDir, storeDir,
      sketch = batch => Dedup.minhashBanded(
        Dedup.minhashSignatures(batch, "doc_id", "text", numHashes, shingleSize),
        numHashes, bands),
      score = (sa, sb) => Dedup.estJaccard(sa, sb, numHashes),
      scoreCol = "est_jaccard",
      keep = _ >= minEstJaccard,
      aggScore = c => round(first(c), 4),
      maxBucketSize = maxBucketSize, storeParts = storeParts,
      withComponents = withComponents, alsoPerBatch = alsoPerBatch)
  }

  /** Streaming corpus ADMISSION — the pretraining flagship's clean +
    * near-dup prefix run incrementally: document batches arrive on the
    * spool, each batch passes the per-document clean gates (quality +
    * language id, [[graft.ext.CorpusClean.qualityPredicate]]) and the
    * gated survivors feed the SAME banded signature store + incremental
    * components machinery as [[runMinhashDedupOnce]] — with the
    * PORTABLE hash family, so the admitted set replays bit-for-bit in
    * a second engine's SQL.
    *
    * The admission decision is the batch flagship's: a gated document
    * is admitted iff it is not a non-canonical member of a duplicate
    * cluster ([[readAdmitted]] — gated minus `component != id` labels).
    * Because [[graft.ext.IncrementalComponents]] maintains labels equal
    * to the batch clustering after every batch (its own gate), the
    * FINAL admitted view equals batch clean → near-dup-resolve on the
    * union — including the revocation case: a later bridge arrival can
    * merge two clusters and demote a previously-canonical doc, exactly
    * as the batch run would have. Exact duplicates need no separate
    * stage here: identical texts share identical signatures, so the
    * est=1.0 pairs subsume the batch side's exact-dedup (and a copy can
    * never disconnect a cluster the batch side would keep connected —
    * its signature is its original's). One caveat travels with the cap:
    * at-arrival bucket sizing counts copies the batch side removed
    * first, so keep `maxBucketSize` comfortably above the largest
    * duplicate-cluster size (the default 1000 is ample at gate scale).
    *
    * `storeDir` is deleted first (the run IS the store's history);
    * the per-batch `gated/` decision log is at-least-once and the
    * admitted view dedups on read, so micro-batch replays are safe —
    * the crash-replay spec pins it.
    */
  def runCorpusAdmitOnce(
      spark: SparkSession,
      spoolDir: String,
      storeDir: String,
      cleanCfg: graft.ext.CorpusClean.Config = graft.ext.CorpusClean.Config(),
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      minEstJaccard: Double = 0.5,
      maxBucketSize: Int = 1000,
      storeParts: Int = 8,
  ): Unit = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    runSigStoreDedupOnce(spark, spoolDir, storeDir,
      sketch = { batch =>
        val gated0 = batch.filter(
          graft.ext.CorpusClean.qualityPredicate(col("text"), cleanCfg))
        val gated =
          if (cleanCfg.languages.isEmpty) gated0
          else graft.ext.TextAnalysis
            .withLangId(gated0, "doc_id", "text", "__lang")
            .filter(col("__lang").isin(cleanCfg.languages.toSeq: _*))
            .drop("__lang")
        // one gate execution feeds both the decision log and the sketch
        val g = gated.localCheckpoint(eager = true)
        g.select(col("doc_id")).coalesce(1)
          .write.mode("append").parquet(s"$storeDir/gated")
        Dedup.minhashBanded(
          Dedup.minhashSignatures(g, "doc_id", "text", numHashes,
            shingleSize, portable = true),
          numHashes, bands, portable = true)
      },
      score = (sa, sb) => Dedup.estJaccard(sa, sb, numHashes),
      scoreCol = "est_jaccard",
      keep = _ >= minEstJaccard,
      // portable family: estimates are exact binary rationals k/numHashes
      // and replay copies carry identical values — first is deterministic
      aggScore = c => first(c),
      maxBucketSize = maxBucketSize, storeParts = storeParts,
      withComponents = true, alsoPerBatch = (_, _) => ())
    ()
  }

  /** The admission store's FINAL admitted view: gate-passed documents
    * that are not a non-canonical duplicate-cluster member. Replay-safe
    * (the gate log dedups on read); equals batch clean → near-dup
    * resolve on everything the stream has seen.
    */
  def readAdmitted(spark: SparkSession, storeDir: String): DataFrame = {
    val gated = graft.util.TinyParquet.openStore(spark, s"$storeDir/gated")
      .select(col("doc_id").cast("long").as("doc_id")).distinct()
    val compsPath = s"$storeDir/comps"
    if (!graft.util.Hfs.exists(spark, compsPath)) gated
    else gated.join(
      graft.ext.IncrementalComponents.read(spark, compsPath)
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id")),
      Seq("doc_id"), "left_anti")
  }

  /** Streaming PRETRAINING admission — [[runCorpusAdmitOnce]] extended
    * past the clean + near-dup prefix to the WHOLE
    * [[graft.ext.Curation.pretrain]] funnel. The insight that makes the
    * funnel incremental: every post-dedup stage decision decomposes into
    * a PER-DOCUMENT scalar (computable the batch a document arrives,
    * against frozen side inputs) plus a CORPUS-WIDE decision over those
    * scalars (a quantile cut, stratum rates, a prefix sum — all
    * counters-sized). So each micro-batch logs, per gated document, the
    * four scalars the later stages need — the decontamination verdict
    * (broadcast eval shingles, benchmark-sized), the fixed-point quality
    * score under the FROZEN trained weights, the token count, and the
    * source stratum — into `storeDir/state`, and [[finalizePretrain]]
    * rebuilds the batch flagship's admitted + packed views from that
    * state WITHOUT re-reading any document text. Document text is
    * touched exactly once, in its arrival batch; the full-batch rerun
    * the r15 verdict named is gone.
    *
    * The state log is at-least-once like the gate log: replayed batches
    * append byte-identical rows (every scalar is a deterministic
    * function of the document and the frozen side inputs), and the
    * finalizer dedups on read. Revocation composes with the prefix: a
    * late near-dup merge demotes a doc in the components store, and the
    * next finalize simply no longer selects its state row — the
    * already-exported shard set is re-reconciled by the incremental
    * shard export ([[graft.ext.ShardExport.exportIncremental]]).
    *
    * @param weights  FROZEN logistic weights ([[graft.ext.Classify
    *                 .trainLogistic]] output) — training happens once,
    *                 before the stream; admitting under drifting weights
    *                 would make admission order-dependent.
    */
  def runPretrainAdmitOnce(
      spark: SparkSession,
      spoolDir: String,
      storeDir: String,
      evalDocs: DataFrame,
      evalTextCol: String,
      features: Seq[org.apache.spark.sql.Column],
      weights: Array[Double],
      cleanCfg: graft.ext.CorpusClean.Config = graft.ext.CorpusClean.Config(),
      decontamN: Int = 13,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      minEstJaccard: Double = 0.5,
      maxBucketSize: Int = 1000,
      storeParts: Int = 8,
  ): Unit = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // benchmark-sized side input, materialized once for the whole run
    val evalFrozen = evalDocs
      .select(col(evalTextCol).as("__eval_text"))
      .localCheckpoint(eager = true)
    runSigStoreDedupOnce(spark, spoolDir, storeDir,
      sketch = { batch =>
        val gated0 = batch.filter(
          graft.ext.CorpusClean.qualityPredicate(col("text"), cleanCfg))
        val gated =
          if (cleanCfg.languages.isEmpty) gated0
          else graft.ext.TextAnalysis
            .withLangId(gated0, "doc_id", "text", "__lang")
            .filter(col("__lang").isin(cleanCfg.languages.toSeq: _*))
            .drop("__lang")
        // one gate execution feeds the decision log, the state log and
        // the sketch
        val g = gated.localCheckpoint(eager = true)
        g.select(col("doc_id")).coalesce(1)
          .write.mode("append").parquet(s"$storeDir/gated")
        // per-document downstream state — each scalar corpus-independent
        val deconPass = graft.ext.CorpusClean.decontaminate(g, "doc_id",
            "text", evalFrozen, "__eval_text", decontamN)
          .select(col("doc_id"), lit(true).as("decon_pass"))
        val scored = graft.ext.Classify.scoreLogistic(g, "doc_id",
            features, weights)
          .select(col("doc_id"), col("prob_q"))
        g.select(col("doc_id"), col("source"),
            size(graft.ext.TextAnalysis.tokens(col("text"))).cast("long")
              .as("n_tokens"))
          .join(deconPass, Seq("doc_id"), "left")
          .withColumn("decon_pass", coalesce(col("decon_pass"), lit(false)))
          .join(scored, Seq("doc_id"))
          .coalesce(1).write.mode("append").parquet(s"$storeDir/state")
        Dedup.minhashBanded(
          Dedup.minhashSignatures(g, "doc_id", "text", numHashes,
            shingleSize, portable = true),
          numHashes, bands, portable = true)
      },
      score = (sa, sb) => Dedup.estJaccard(sa, sb, numHashes),
      scoreCol = "est_jaccard",
      keep = _ >= minEstJaccard,
      aggScore = c => first(c),
      maxBucketSize = maxBucketSize, storeParts = storeParts,
      withComponents = true, alsoPerBatch = (_, _) => (),
      spoolSchema = "doc_id long, source string, text string")
    ()
  }

  /** Rebuild the batch flagship's (admitted, packed) views from a
    * [[runPretrainAdmitOnce]] store: the corpus-wide decisions —
    * quantile cut, temperature rates, packing prefix sums — recomputed
    * over the per-document STATE scalars only. No document text is
    * read; the heaviest frame here is one row per gated document.
    * Equals [[graft.ext.Curation.pretrain]] over everything the stream
    * has seen (the x_stream_pretrain gate and CorpusAdmitSpec pin it,
    * revocation included).
    */
  def finalizePretrain(
      spark: SparkSession,
      storeDir: String,
      keepFraction: Double = 0.5,
      mixAlpha: Double = 0.5,
      mixTargetFraction: Double = 0.7,
      seqLen: Int = 128,
  ): graft.ext.Curation.PretrainResult = {
    import graft.ext.{Packing, Sampling}
    // at-least-once log: replayed rows are byte-identical — dedup on read
    val state = graft.util.TinyParquet.openStore(spark, s"$storeDir/state").distinct()
    val survivors = state
      .join(readAdmitted(spark, storeDir), Seq("doc_id"), "left_semi")
      .filter(col("decon_pass"))
      .localCheckpoint(eager = true) // cut + mix + pack share it
    val kept = Sampling.keepTopFraction(
        survivors.select(col("doc_id"), col("prob_q")),
        col("prob_q"), "doc_id", keepFraction)
      .filter(col("kept")).select(col("doc_id"))
    val calibrated = survivors.join(kept, Seq("doc_id"), "left_semi")
    val mixed = Sampling.temperatureMix(calibrated, col("source"),
        col("doc_id"), mixAlpha, mixTargetFraction)
      .localCheckpoint(eager = true) // admitted view + packing share it
    graft.ext.Curation.PretrainResult(
      mixed.select(col("doc_id"), col("source")),
      Packing.packSequencesByCount(mixed, "doc_id", col("n_tokens"), seqLen))
  }

  /** Incremental SimHash near-duplicate detection over a document stream
    * — the hamming-radius sibling of [[runMinhashDedupOnce]], closing the
    * last streaming leg of the batch dedup family. Identical store
    * machinery (the signature store holds one pigeonhole-block row per
    * document per block, [[Dedup.simhashBlocked]] — the same block keys
    * the batch join uses), identical arrival semantics: a pair (a, b)
    * surfaces once, in the batch where its LATER member arrives, with
    * `hamming = popcount(sig_a XOR sig_b) ≤ maxHamming` — streamed
    * equals the one-shot batch [[Dedup.simhashPairs]] on everything seen
    * (the `x_stream_dedup_simhash` gate pins pair set AND distances; the
    * hot-block cap is judged at arrival over store ∪ batch, the
    * streaming-natural reading, exactly as in the MinHash form).
    */
  def runSimhashDedupOnce(
      spark: SparkSession,
      spoolDir: String,
      storeDir: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      storeParts: Int = 8,
      withComponents: Boolean = false,
  ): DataFrame =
    runSigStoreDedupOnce(spark, spoolDir, storeDir,
      // block index/value become the store's (band, bandHash) key pair —
      // the store layout, pruning, and hot-bucket machinery are shared
      sketch = batch => Dedup.simhashBlocked(
          Dedup.simhashSignatures(batch, "doc_id", "text"), maxHamming)
        .select(col("__id"), col("__sh").as("__sig"),
          col("__blk").as("__band"), col("__bv").as("__bh")),
      score = (sa, sb) => bit_count(sa.bitwiseXOR(sb)),
      scoreCol = "hamming",
      keep = _ <= maxHamming,
      aggScore = c => min(c),
      maxBucketSize = maxBucketSize, storeParts = storeParts,
      withComponents = withComponents,
      alsoPerBatch = (_, _) => ())

  /** The shared signature-store micro-batch loop: sketch the batch into
    * (`__id`, `__sig`, `__band`, `__bh`) rows, join against the
    * physically-partitioned persisted store (old↔new) and itself
    * (new↔new), score the candidates, append batch signatures into the
    * store. All the scale discipline lives here once — literal `__pb`
    * partition pruning, broadcast semi-joins, the at-arrival hot-bucket
    * cap, the single-writer append — and the MinHash/SimHash entry points
    * differ only in sketch and scoring.
    */
  private def runSigStoreDedupOnce(
      spark: SparkSession,
      spoolDir: String,
      storeDir: String,
      sketch: DataFrame => DataFrame,
      score: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      scoreCol: String,
      keep: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      aggScore: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      maxBucketSize: Int,
      storeParts: Int,
      withComponents: Boolean,
      alsoPerBatch: (DataFrame, Long) => Unit,
      /** Spool schema — overridable so a richer spool (e.g. the
        * pretraining funnel's `source` stratum column) flows into the
        * sketch closure; the store machinery reads only doc_id/text. */
      spoolSchema: String = "doc_id long, text string",
  ): DataFrame = {
    graft.util.Hfs.delete(spark, storeDir)
    val sigsPath = s"$storeDir/sigs"
    val pairsPath = s"$storeDir/pairs"
    StreamConf.withWidth(spark) {
      val stream = spark.readStream
        .schema(spoolSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          alsoPerBatch(batch.toDF(), batchId)
          val bandedNew = sketch(batch.toDF())
            .withColumn("__pb",
              pmod(xxhash64(col("__band"), col("__bh")), lit(storeParts)).cast("int"))
            .localCheckpoint(eager = true)
          // the batch's partition values — ≤ storeParts ints by
          // construction — become the store scan's literal partition filter
          val pbs = bandedNew.select(col("__pb")).distinct()
            .collect().map(_.getInt(0))
          // only buckets the BATCH touches can produce pairs this batch:
          // partition-prune then row-prune the store scan up front so
          // neither the bucket sizing nor the candidate join ever
          // aggregates the whole store
          val newKeys = bandedNew.select(col("__band"), col("__bh")).distinct()
          val store =
            if (graft.util.Hfs.exists(spark, sigsPath))
              prunedStoreScan(spark, sigsPath, pbs.toSeq, newKeys)
                .map(_.localCheckpoint(eager = true))
            else None
          // at-arrival bucket sizing over (pruned) store ∪ batch
          val all = store.map(_.drop("__pb").unionByName(bandedNew.drop("__pb")))
            .getOrElse(bandedNew.drop("__pb"))
          val okBuckets = all.groupBy(col("__band"), col("__bh"))
            .agg(count(lit(1)).as("__bn"))
            .filter(col("__bn") <= maxBucketSize && col("__bn") > 1)
            .select(col("__band"), col("__bh"))
          val newSide = bandedNew.join(okBuckets, Seq("__band", "__bh"), "left_semi")
          // new↔new inside the batch: plain banded self-join, a < b
          val a = newSide.select(col("__band"), col("__bh"),
            col("__id").as("id_a"), col("__sig").as("__sa"))
          val b = newSide.select(col("__band"), col("__bh"),
            col("__id").as("id_b"), col("__sig").as("__sb"))
          val newNew = a.join(b, Seq("__band", "__bh"))
            .filter(col("id_a") < col("id_b"))
            .select(col("id_a"), col("id_b"), col("__sa"), col("__sb"))
          // old↔new: the batch side is micro-batch-sized — broadcast it
          // into the store scan so the store never shuffles
          val newOld = store.map { st =>
            st.join(okBuckets, Seq("__band", "__bh"), "left_semi")
              .select(col("__band"), col("__bh"),
                col("__id").as("__oid"), col("__sig").as("__osig"))
              .join(broadcast(newSide
                .select(col("__band"), col("__bh"),
                  col("__id").as("__nid"), col("__sig").as("__nsig"))),
                Seq("__band", "__bh"))
              // under at-least-once redelivery a batch can meet its OWN
              // already-stored signatures — a (id, id) self-pair with
              // est_jaccard 1.0 would survive the read-side pair dedup
              .filter(col("__oid") =!= col("__nid"))
              .select(least(col("__oid"), col("__nid")).as("id_a"),
                greatest(col("__oid"), col("__nid")).as("id_b"),
                col("__osig").as("__sa"), col("__nsig").as("__sb"))
          }
          val pairs = newOld.map(newNew.unionByName(_)).getOrElse(newNew)
            .select(col("id_a"), col("id_b"),
              score(col("__sa"), col("__sb")).as(scoreCol))
            .filter(keep(col(scoreCol)))
            .groupBy(col("id_a"), col("id_b"))
            .agg(aggScore(col(scoreCol)).as(scoreCol))
          if (withComponents) pairs.persist() // write + label merge share it
          // one appended file per batch, not one per shuffle task: the
          // pair set is micro-batch-sized, and every extra part file is a
          // create+rename+fsync the store pays per batch forever (same
          // discipline as the sigs append below)
          pairs.coalesce(1).write.mode("append").parquet(pairsPath)
          // collapse the append to one writer task: without it every
          // shuffle task holds every partition value and the store
          // accretes tasks×storeParts files PER BATCH — the scan side
          // then pays thousands of parquet-footer opens within a few
          // batches (measured 10× CPU on the suite gate). coalesce reads
          // the checkpointed sketch blocks narrowly (no extra stage,
          // unlike a repartition) and writes one file per touched
          // partition; a deployment whose micro-batches outgrow one
          // writer swaps this for repartition(col("__pb")).
          bandedNew.coalesce(1)
            .write.mode("append").partitionBy("__pb").parquet(sigsPath)
          // invalidate any cached listings for the partitions this batch
          // appended to — scoped to the TOUCHED dirs so the per-batch
          // refresh cost is bounded by the batch's partition set, not by
          // the store's size or history (the store-wide form re-walked
          // everything under sigsPath every batch)
          pbs.foreach(p => spark.catalog.refreshByPath(s"$sigsPath/__pb=$p"))
          if (withComponents)
            // cached-pairs emptiness probe: a no-candidate batch (the
            // common trickle case) must not pay update()'s store actions
            try if (!pairs.isEmpty)
              graft.ext.IncrementalComponents.update(spark,
                s"$storeDir/comps", pairs)
            finally pairs.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    readPairsStore(spark, storeDir, scoreCol, aggScore)
  }

  /** Live view of a MinHash store's emitted candidate pairs: one row per
    * (id_a, id_b), idempotent under micro-batch replays (foreachBatch is
    * at-least-once, so the same batch's pairs can land twice — the
    * groupBy collapses them; two occurrences of a pair always carry the
    * same signatures and hence the same estimate, so `first` is
    * deterministic).
    */
  def readPairs(spark: SparkSession, storeDir: String): DataFrame =
    readPairsStore(spark, storeDir, "est_jaccard", c => round(first(c), 4))

  /** [[readPairs]] for a SimHash store: (`id_a`, `id_b`, `hamming`). */
  def readSimhashPairs(spark: SparkSession, storeDir: String): DataFrame =
    readPairsStore(spark, storeDir, "hamming", c => min(c))

  private def readPairsStore(spark: SparkSession, storeDir: String,
      scoreCol: String,
      aggScore: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val pairsPath = s"$storeDir/pairs"
    if (graft.util.Hfs.exists(spark, pairsPath))
      subtractDeleted(spark, storeDir,
          graft.util.TinyParquet.openStore(spark, pairsPath), Seq("id_a", "id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(aggScore(col(scoreCol)).as(scoreCol))
    else {
      // empty-store read: est_jaccard stores carry a double score,
      // hamming stores an int
      import spark.implicits._
      if (scoreCol == "hamming")
        Seq.empty[(Long, Long, Int)].toDF("id_a", "id_b", scoreCol)
      else Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", scoreCol)
    }
  }

  // ------------------------------------------------ takedown / tombstones
  private def idTombstonesPath(storeDir: String) = s"$storeDir/id_tombstones"

  /** Drop rows referencing a tombstoned id in ANY of `idCols` — one
    * broadcast anti-join per column (the tombstone table is
    * delete-volume-sized, never corpus-sized).
    */
  private def subtractDeleted(spark: SparkSession, storeDir: String,
      rows: DataFrame, idCols: Seq[String]): DataFrame =
    if (!graft.util.Hfs.exists(spark, idTombstonesPath(storeDir))) rows
    else {
      val t = graft.util.TinyParquet.openStore(spark, idTombstonesPath(storeDir))
      idCols.foldLeft(rows)((acc, c) =>
        acc.join(broadcast(t), acc(c) === t("__id"), "left_anti"))
    }

  /** Forget documents from a streaming dedup store — the takedown leg
    * of the signature-store family. O(|ids|) on the signature and pair
    * stores: ids land in an id-tombstone log that every read path
    * ([[readPairs]]/[[readSimhashPairs]], the per-batch
    * [[prunedStoreScan]]) subtracts through a broadcast anti-join, so
    * deleted docs stop being served AND stop pairing with future
    * arrivals; [[compactDedupStore]] folds the log into the next
    * rewrite. The components store is DERIVED from the pair set
    * (deleting a node can split a cluster — no tombstone can express
    * that), so it is rebuilt from the live pairs immediately: the pair
    * store is candidate-sized, far below the corpus, and the rebuild
    * swap-publishes with a reset generation.
    *
    * Unlike the ANN layouts there is no sequence number here: a
    * tombstoned id stays dead until the store is compacted — re-adding
    * a forgotten document requires [[compactDedupStore]] first (the
    * takedown-then-reinstate path is rare enough that the per-row __seq
    * everywhere in the sigs store is not worth its scan weight). Like
    * every maintenance op, the caller serializes this against a running
    * ingestion stream of the same store. Deleting twice, or deleting
    * absent ids, is a harmless no-op.
    */
  def deleteFromDedupStore(spark: SparkSession, storeDir: String,
      ids: DataFrame, idCol: String): Unit = {
    import graft.util.Hfs
    ids.select(col(idCol).cast("long").as("__id")).distinct()
      .coalesce(1).write.mode("append").parquet(idTombstonesPath(storeDir))
    val compsPath = s"$storeDir/comps"
    if (Hfs.exists(spark, compsPath)) {
      val live = readPairsStore(spark, storeDir, scoreColOf(spark, storeDir),
          c => first(c))
        .select(col("id_a"), col("id_b"))
        .localCheckpoint(eager = true) // probe + labeling share one execution
      // driver union-find when the live pair set fits the broadcast cap
      // (it is candidate-sized), distributed components otherwise
      val labels = graft.ext.Dedup.minIdLabels(live).getOrElse {
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF("id", "component")
      }.coalesce(1)
      val tmp = compsPath + ".rebuild-" + System.nanoTime()
      labels.withColumn("__seq", lit(0L))
        .write.mode("overwrite").parquet(tmp)
      Hfs.writeString(spark, s"$tmp/_next_seq", "1")
      graft.operators.Upsert.swapDirs(tmp, compsPath)
    }
  }

  /** Takedown batches arriving CONTINUOUSLY: id batches on a spool,
    * each driven through [[graft.ext.CascadeDelete.forget]] — the
    * streaming form of the takedown cadence (opt-out requests land all
    * day; the pipeline forgets them store-by-store as they arrive
    * instead of batching to a nightly window). Per-FILE markers under
    * `markerDir` skip already-processed spool files on a replay: markers
    * are keyed by spool file NAME, not Spark batchId — this stream runs
    * without a durable checkpoint, so batch numbering restarts at 0 and
    * is derived from file mtime ordering on every invocation; a
    * batchId-keyed marker would silently skip a never-processed
    * takedown batch whenever ids remap (a compliance hole). The marker
    * lands AFTER the forget, so a crash between the two replays the
    * file — safe, because forget is idempotent on every surface
    * (duplicate tombstones subtract identically, the components rebuild
    * is deterministic). Each batch's compaction-debt check runs inside
    * forget, so steady takedowns still accumulate into one rewrite per
    * store at the threshold.
    */
  def runForgetOnce(spark: SparkSession, spoolDir: String, markerDir: String,
      targets: graft.ext.CascadeTargets, idCol: String = "doc_id",
      compactThreshold: Double = 0.25): Unit = {
    import graft.util.Hfs
    StreamConf.withWidth(spark) {
      val q = spark.readStream
        .schema(s"$idCol long")
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          // one file per trigger, but never assume it: recover every
          // file backing this batch, drop the already-forgotten ones,
          // and re-read the fresh set from disk (ids come from exactly
          // the files the markers will name)
          // marker key = sanitized path RELATIVE to spoolDir PLUS an
          // md5 prefix of the raw relative path: a bare basename would
          // silently skip a same-named file in another subdirectory,
          // and sanitizing alone could collapse two distinct paths
          // ('batch/1.parquet' vs 'batch_1.parquet') onto one marker —
          // either way an unforgotten takedown. The hash disambiguates
          // exactly; the sanitized prefix keeps markers readable.
          val spoolPrefix = {
            val p = new org.apache.hadoop.fs.Path(spoolDir)
            p.toUri.getPath.stripSuffix("/") + "/"
          }
          def markerOf(f: String): String = {
            val p = new org.apache.hadoop.fs.Path(f).toUri.getPath
            val rel =
              if (p.startsWith(spoolPrefix)) p.stripPrefix(spoolPrefix)
              else p
            val key = rel.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
              org.apache.commons.codec.digest.DigestUtils.md5Hex(rel)
                .substring(0, 8)
            s"$markerDir/_file_$key"
          }
          // the two PRIOR marker-key generations still count as
          // "already forgotten" on a pre-existing store: forget is
          // idempotent, but re-running it for every historical spool
          // file appends redundant tombstone generations and can
          // re-trigger compactions (ADVICE r16). New markers land in
          // the current format only — legacy keys are read, never
          // written, so a store converges as its spool turns over.
          // SCOPE GUARD: legacy keys collide by construction (bare
          // basenames, lossy sanitization — the holes the hashed format
          // fixed), so they are honored ONLY for spool files that can
          // actually date from the legacy era: files no newer than the
          // newest legacy marker. A file written after the upgrade can
          // never match a legacy marker legitimately — without the
          // cutoff, a new b/batch.parquet colliding with the historical
          // _file_batch.parquet would be PERMANENTLY skipped, the exact
          // compliance hole the hash closed. Legacy markers are the
          // ones without the current format's _<md5-8> suffix.
          def legacyMarkersOf(f: String): Seq[String] = {
            val p = new org.apache.hadoop.fs.Path(f).toUri.getPath
            val rel =
              if (p.startsWith(spoolPrefix)) p.stripPrefix(spoolPrefix)
              else null
            Seq(
              // gen 1: bare basename, unsanitized
              s"$markerDir/_file_${new org.apache.hadoop.fs.Path(f).getName}",
              // gen 2: sanitized relative path without the hash suffix
              // (full-path md5 when the file sat outside the spool)
              if (rel != null)
                s"$markerDir/_file_${rel.replaceAll("[^A-Za-z0-9._-]", "_")}"
              else
                s"$markerDir/_file_" +
                  org.apache.commons.codec.digest.DigestUtils.md5Hex(p))
          }
          val legacyCutoff: Long = Hfs.list(spark, markerDir)
            .filter(_.startsWith("_file_"))
            .filterNot(_.matches(".*_[0-9a-f]{8}"))
            .map(n => Hfs.mtime(spark, s"$markerDir/$n"))
            .foldLeft(Long.MinValue)(math.max)
          val files = batch.select(input_file_name().as("__f"))
            .distinct().collect().map(_.getString(0)).sorted
          val fresh = files.filterNot(f => Hfs.exists(spark, markerOf(f)) ||
            (Hfs.mtime(spark, f) <= legacyCutoff &&
              legacyMarkersOf(f).exists(Hfs.exists(spark, _))))
          if (fresh.nonEmpty) {
            val ids = spark.read.schema(s"$idCol long").parquet(fresh: _*)
            graft.ext.CascadeDelete.forget(spark, ids, idCol,
              targets, compactThreshold)
            Hfs.mkdirs(spark, markerDir)
            fresh.foreach(f => Hfs.touch(spark, markerOf(f)))
          }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** Dead fraction of the signature store under the id-tombstone log —
    * the debt number the compaction policy prices (the
    * [[graft.ext.AnnIndex.tombstoneDebt]] shape).
    */
  def dedupStoreDebt(spark: SparkSession, storeDir: String): Double = {
    val (total, live) = dedupStoreCounts(spark, storeDir)
    if (total == 0L) 0.0 else (total - live).toDouble / total
  }

  /** (total signature rows, live rows) under the id-tombstone log. */
  private def dedupStoreCounts(spark: SparkSession, storeDir: String): (Long, Long) = {
    // absent store: no job (the Df form would run a 1-row range job)
    if (!graft.util.Hfs.exists(spark, s"$storeDir/sigs")) return (0L, 0L)
    val r = dedupStoreCountsDf(spark, storeDir).head()
    (r.getLong(0), r.getLong(1))
  }

  /** One-row (`__total`, `__live`) frame of the signature store under
    * the id-tombstone log — the ONE copy of the store's liveness
    * semantics (Hfs existence branches, distinct tombstones, broadcast
    * left join): [[dedupStoreCounts]] materializes it with `.head()`
    * for the policy callers, [[dedupStoreHealth]] rides it lazily into
    * the fleet dashboards — the tableCounts/tableCountsDf discipline
    * of [[graft.ext.AnnIndex]], so the next tombstone-format change
    * has exactly one place to land.
    */
  private def dedupStoreCountsDf(spark: SparkSession,
      storeDir: String): DataFrame = {
    val sigsPath = s"$storeDir/sigs"
    if (!graft.util.Hfs.exists(spark, sigsPath))
      spark.range(1).select(lit(0L).as("__total"), lit(0L).as("__live"))
    else if (!graft.util.Hfs.exists(spark, idTombstonesPath(storeDir)))
      graft.util.TinyParquet.openStore(spark, sigsPath).agg(count(lit(1)).as("__total"))
        .select(col("__total"), col("__total").as("__live"))
    else {
      val t = graft.util.TinyParquet.openStore(spark, idTombstonesPath(storeDir)).distinct()
      graft.util.TinyParquet.openStore(spark, sigsPath).select(col("__id"))
        .join(broadcast(t.withColumn("__dead", lit(1))), Seq("__id"), "left")
        .agg(count(lit(1)).as("__total"), count(col("__dead")).as("__dead_n"))
        .select(col("__total"),
          (col("__total") - col("__dead_n")).as("__live"))
    }
  }

  /** Live DISTINCT doc ids of the signature store (sigs minus the
    * id-tombstone log) — the membership view
    * [[graft.ext.StoreMaintenance.fsck]] audits against the corpus.
    */
  private[graft] def dedupLiveIds(spark: SparkSession,
      storeDir: String): DataFrame = {
    val sigsPath = s"$storeDir/sigs"
    val sigs =
      if (!graft.util.Hfs.exists(spark, sigsPath))
        spark.range(0).select(col("id").as("__id"))
      else graft.util.TinyParquet.openStore(spark, sigsPath)
        .select(col("__id").cast("long").as("__id")).distinct()
    if (!graft.util.Hfs.exists(spark, idTombstonesPath(storeDir))) sigs
    else sigs.join(
      graft.util.TinyParquet.openStore(spark, idTombstonesPath(storeDir))
        .select(col("__id").cast("long").as("__id")).distinct(),
      Seq("__id"), "left_anti")
  }

  /** The dedup store's row in a store-health dashboard — the
    * [[graft.ext.AnnIndex.healthReport]] shape over the signature
    * store's id-tombstone liveness.
    */
  def dedupStoreHealth(spark: SparkSession, name: String,
      storeDir: String): DataFrame = {
    // lazy (no counter job at build time): the fleet dashboards union
    // these one-row frames into ONE plan — see AnnIndex.healthReport.
    // The liveness counting itself lives in dedupStoreCountsDf (one
    // copy shared with the policy callers).
    val counts = dedupStoreCountsDf(spark, storeDir)
    counts.select(lit(name).as("layout"),
      col("__total").as("total_rows"), col("__live").as("live_rows"),
      (col("__total") - col("__live")).as("dead_rows"),
      when(col("__total") === 0L, lit(0.0))
        .otherwise((col("__total") - col("__live")).cast("double") /
          col("__total"))
        .as("tombstone_debt"))
  }

  /** The stored score column of a dedup store (est_jaccard or hamming),
    * sniffed from the pairs schema — absent store defaults to the
    * MinHash shape.
    */
  private def scoreColOf(spark: SparkSession, storeDir: String): String = {
    val pairsPath = s"$storeDir/pairs"
    if (!graft.util.Hfs.exists(spark, pairsPath)) "est_jaccard"
    else graft.util.TinyParquet.openStore(spark, pairsPath).columns
      .filterNot(Set("id_a", "id_b")).head
  }

  /** Compact the streaming dedup store: every sub-store accretes one
    * appended file set per micro-batch FOREVER (that accretion is the
    * measured failure mode — the first partitioned-store cut cost 10×
    * suite CPU purely in parquet-footer opens), and the read side papers
    * over replay duplicates with a groupBy each time. Compaction rewrites
    * each sub-store to its live view once, so a long-lived store's read
    * cost tracks its DATA size again instead of its batch count:
    *
    *   - `pairs/`: replay-deduped to one row per pair;
    *   - `sigs/`: replay-deduped ((id, band) is unique per doc, so
    *     `distinct` removes exactly the redelivered rows) and rewritten
    *     to ~one file per `__pb` partition, partitioning preserved;
    *   - `comps/`: label generations collapsed to the newest per id
    *     (generation 0 of the compacted store, `_next_seq` reset to 1).
    *
    * Each rewrite publishes via the crash-safe two-move swap
    * ([[graft.operators.Upsert.swapDirs]]); like every maintenance op the
    * caller serializes it against the running stream (compact between
    * runs, exactly like ANN compaction vs appends). Read-side results are
    * unchanged — the spec pins streamed == batch across a compaction.
    */
  def compactDedupStore(spark: SparkSession, storeDir: String): Unit = {
    import graft.util.Hfs
    val pairsPath = s"$storeDir/pairs"
    val sigsPath = s"$storeDir/sigs"
    val compsPath = s"$storeDir/comps"
    if (Hfs.exists(spark, pairsPath)) {
      val tmp = pairsPath + ".compact-" + System.nanoTime()
      // the id-tombstone log (takedowns) folds into the rewrite: dead
      // pairs/signatures are dropped physically and the log resets below
      val p = subtractDeleted(spark, storeDir,
        graft.util.TinyParquet.openStore(spark, pairsPath), Seq("id_a", "id_b"))
      // score column by schema (est_jaccard or hamming): replay copies of
      // a pair carry identical scores, so `first` is deterministic
      val scoreCol = p.columns.filterNot(Set("id_a", "id_b")).head
      p.groupBy(col("id_a"), col("id_b"))
        .agg(first(col(scoreCol)).as(scoreCol))
        .write.mode("overwrite").parquet(tmp)
      graft.operators.Upsert.swapDirs(tmp, pairsPath)
    }
    if (Hfs.exists(spark, sigsPath)) {
      val parts = Hfs.list(spark, sigsPath).count(_.startsWith("__pb="))
      if (parts > 0) {
        val tmp = sigsPath + ".compact-" + System.nanoTime()
        // repartition ON __pb sized to the live partition count: each
        // task holds whole partitions, so the partitionBy write emits
        // ~one file per partition dir (a bare distinct would leave
        // hash-partitioned tasks each writing to every dir — the exact
        // tasks×parts small-file explosion this op removes)
        subtractDeleted(spark, storeDir,
            graft.util.TinyParquet.openStore(spark, sigsPath), Seq("__id")).distinct()
          .repartition(parts, col("__pb"))
          .write.mode("overwrite").partitionBy("__pb").parquet(tmp)
        graft.operators.Upsert.swapDirs(tmp, sigsPath)
      }
    }
    if (Hfs.exists(spark, compsPath)) {
      val tmp = compsPath + ".compact-" + System.nanoTime()
      graft.ext.IncrementalComponents.read(spark, compsPath)
        .withColumn("__seq", lit(0L))
        .write.mode("overwrite").parquet(tmp)
      // the sidecar travels inside the swapped dir, so the counter and
      // the single compacted generation publish atomically together
      Hfs.writeString(spark, s"$tmp/_next_seq", "1")
      graft.operators.Upsert.swapDirs(tmp, compsPath)
    }
    // the id-tombstone log is folded into the rewrites above — clear it
    // LAST, so a crash mid-compaction leaves subtraction-at-read correct
    Hfs.delete(spark, idTombstonesPath(storeDir))
  }

  /** The per-batch store read: literal partition filter on the batch's
    * `__pb` values (static pruning — only the touched store directories
    * are listed and opened), then a broadcast semi-join on the exact
    * (band, bandHash) keys row-prunes the survivors. Exposed for the plan
    * assertion that the pruning is real.
    */
  private[graft] def prunedStoreScan(spark: SparkSession, sigsPath: String,
      pbs: Seq[Int], newKeys: DataFrame): Option[DataFrame] = {
    // list ONLY the touched partition directories (file-listing cost
    // scales with the batch's partition set, not the store's partition
    // count — on an object store the full recursive discovery is the
    // expensive half of the scan); basePath keeps __pb a partition
    // column so the isin below still plans as a PartitionFilter.
    // None when no touched partition exists yet (disjoint hash ranges):
    // the caller treats that exactly like a missing store, avoiding even
    // the root listing.
    val dirs = pbs.map(p => s"$sigsPath/__pb=$p")
      .filter(graft.util.Hfs.exists(spark, _))
    if (dirs.isEmpty) None
    // id-tombstone subtraction keeps forgotten docs from pairing with
    // future arrivals (the takedown contract, [[deleteFromDedupStore]])
    else Some(subtractDeleted(spark,
      sigsPath.stripSuffix("/sigs"),
      spark.read.option("basePath", sigsPath).parquet(dirs: _*)
        .filter(col("__pb").isin(pbs.map(Int.box): _*))
        .join(broadcast(newKeys), Seq("__band", "__bh"), "left_semi"),
      Seq("__id")))
  }

  /** Streaming ANN index maintenance: embedding batches arriving on a
    * spool are appended into a persisted IVF×PQ index one micro-batch at
    * a time, through the layout's encoder and row writer
    * ([[graft.ext.AnnIndex.append]]) —
    * the index-side half of a streaming ingestion pipeline (the table
    * side is `EventStreams.runUpsertOnce`). Quantizers stay FROZEN, so
    * the post-stream index equals a one-shot encode of everything ever
    * appended (the `x_stream_knn_append` gate pins it); stream enough
    * drift and you rebuild on your cadence, exactly as in batch. The
    * caller owns the index's existence (build it on the base corpus
    * first), id uniqueness across the stream, and not racing a rebuild
    * (AnnIndex object doc). The spool columns must be
    * (`idCol` long, `vecCol` array&lt;float&gt;) — the parameters name
    * the columns, not their types.
    *
    * Replay discipline — EXACTLY-ONCE under crash-replay. foreachBatch is
    * at-least-once and a parquet append is not idempotent, so each batch
    * goes through a staged generation + deterministic publish:
    *
    *   1. the batch's codes (and refine vectors, when the index keeps
    *      them) are written COMPLETELY under
    *      `.staged_batch_<id>/` — invisible to readers;
    *   2. publish moves every staged part file into its live cluster
    *      partition under the deterministic name `b<id>-<cluster>-<n>`;
    *   3. the `_batch_<id>` marker lands LAST, committing the batch.
    *
    * A marked batch id is skipped on redelivery (the normal at-least-once
    * case). A crash ANYWHERE before the marker — mid-stage, mid-publish —
    * leaves an unmarked batch whose replay first sweeps every `b<id>-*`
    * file out of the live partitions and the staged dir, then re-stages
    * and re-publishes: the batch lands exactly once no matter where the
    * previous attempt died. (Readers concurrent with an in-flight publish
    * can see a partial batch, exactly as with a plain parquet append —
    * maintenance/query serialization stays the caller's contract,
    * [[graft.ext.AnnIndex]] object doc.)
    *
    * `checkpointDir` must be DURABLE and paired with this index for the
    * index's lifetime: batch ids come from the checkpoint, and the
    * `_batch_<id>` markers persist in the index dir — a fresh checkpoint
    * against a marked index would restart ids at 0, silently skipping new
    * spool files that land on already-marked ids (and the run refuses to
    * start in exactly that state). Successive invocations with the same
    * checkpoint resume cleanly: processed files are never redelivered,
    * new files get fresh batch ids past every marker.
    */
  def runIvfPqAppendOnce(
      spark: SparkSession,
      spoolDir: String,
      indexDir: String,
      checkpointDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
  ): Unit = {
    import graft.util.Hfs
    require(Hfs.exists(spark, s"$indexDir/meta"),
      s"$indexDir is not a built IVF×PQ index — build on the base corpus first")
    // fail on the wrong layout BEFORE the stream starts (a flat-PQ dir
    // would otherwise die inside the first batch, wrapped in a
    // StreamingQueryException)
    val meta = graft.util.TinyParquet.readOneRow(spark, s"$indexDir/meta")
    require(meta("nlist").asInstanceOf[Int] > 0 && meta("m").asInstanceOf[Int] > 0,
      s"$indexDir is not an IVF×PQ index (m=${meta("m")}, " +
        s"nlist=${meta("nlist")})")
    requirePairedCheckpoint(spark, indexDir, checkpointDir)
    StreamConf.withWidth(spark) {
      val model = frozenForRun(spark, indexDir)
      val stream = spark.readStream
        .schema(s"$idCol long, $vecCol array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
      val q = stream.writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!Hfs.exists(spark, s"$indexDir/_batch_$batchId"))
            appendBatchExactlyOnce(spark, indexDir, model, batch.toDF(), batchId,
              idCol, vecCol)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** [[runIvfPqAppendOnce]] with a RECALL MONITOR riding the same
    * exactly-once transaction: after each batch's append, the served
    * index is measured against its own live exact vectors
    * ([[graft.ext.AnnIndex.ivfPqRecallCounters]] over the fixed
    * `probeQueries`) and one (batch_id, k, nprobe, hits, possible,
    * recall_q) row publishes into `indexDir/recall_log` under the
    * batch's deterministic file name — the marker lands only after BOTH
    * the data publish and the monitor row, so a crash between them
    * replays the batch and re-measures (the append re-publish is
    * idempotent, the log row sweeps by prefix first).
    *
    * This is the quality-over-time monitor the frozen-quantizer append
    * maintenance needs: recall drifts as appended data moves away from
    * the training sample, and the rebuild cadence is exactly the policy
    * this log informs. Cost per batch: one brute pass of the probe set
    * over live vectors — the honest price of measuring recall; size the
    * probe set accordingly.
    */
  def runIvfPqAppendWithRecallOnce(
      spark: SparkSession,
      spoolDir: String,
      indexDir: String,
      checkpointDir: String,
      probeQueries: DataFrame,
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
  ): Unit = {
    import graft.util.Hfs
    require(Hfs.exists(spark, s"$indexDir/meta"),
      s"$indexDir is not a built IVF×PQ index — build on the base corpus first")
    require(Hfs.exists(spark, s"$indexDir/vectors"),
      s"$indexDir keeps no exact vectors — build with keepVectors = true " +
        "to enable the recall monitor")
    requirePairedCheckpoint(spark, indexDir, checkpointDir)
    val probes = probeQueries.localCheckpoint(eager = true)
    StreamConf.withWidth(spark) {
      val model = frozenForRun(spark, indexDir)
      val q = spark.readStream
        .schema(s"$idCol long, $vecCol array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!Hfs.exists(spark, s"$indexDir/_batch_$batchId")) {
            appendBatchExactlyOnce(spark, indexDir, model, batch.toDF(), batchId,
              idCol, vecCol, touchMarker = false)
            val (hits, possible) = graft.ext.AnnIndex.ivfPqRecallCounters(
              spark, indexDir, probes, idCol, vecCol, k, nprobe)
            val recallQ =
              if (possible == 0L) 0L
              else math.floor(hits.toDouble / possible * 1e6).toLong
            val logDir = s"$indexDir/recall_log"
            sweepPublished(spark, logDir, s"rb$batchId", partPrefix = "")
            val staged = s"$indexDir/.staged_recall_$batchId"
            Hfs.delete(spark, staged)
            spark.range(1).select(
                lit(batchId).as("batch_id"), lit(k).as("k"),
                lit(nprobe).as("nprobe"), lit(hits).as("hits"),
                lit(possible).as("possible"), lit(recallQ).as("recall_q"))
              .coalesce(1).write.mode("overwrite").parquet(staged)
            publishStaged(spark, staged, logDir, s"rb$batchId", partPrefix = "")
            Hfs.delete(spark, staged)
            Hfs.touch(spark, s"$indexDir/_batch_$batchId")
          }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** The index's frozen model for one append run. The quantizers are
    * FROZEN for the life of the run and maintenance is serialized against
    * the stream (caller contract, [[graft.ext.AnnIndex]] object doc), so
    * the model is read ONCE with its small quantizer tables checkpointed:
    * per-batch encodes then read blocks, not parquet. The sequence number
    * is deliberately NOT hoisted: it is one sidecar file read per batch
    * ([[graft.ext.AnnIndex.nextSeq]]), and re-reading it keeps a
    * contract-violating mid-stream delete merely forbidden rather than
    * silently row-losing (a hoisted seq would stamp a later re-append
    * BELOW the intervening tombstone and the update would vanish).
    */
  private def frozenForRun(spark: SparkSession,
      indexDir: String): graft.ext.AnnIndex.Frozen = {
    val model = graft.ext.AnnIndex.frozenModel(spark, indexDir)
    model.copy(tables = model.tables.map { case (t, df) =>
      t -> df.localCheckpoint(eager = true) })
  }

  /** One batch's staged-generation append (unmarked batches only): sweep
    * any leftovers of a crashed attempt, stage the encoded batch under an
    * invisible dir through the index's row writer, publish via
    * deterministic renames, mark last.
    */
  private def appendBatchExactlyOnce(spark: SparkSession, indexDir: String,
      model: graft.ext.AnnIndex.Frozen, batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, touchMarker: Boolean = true): Unit = {
    import graft.ext.AnnIndex
    import graft.util.Hfs
    val staged = s"$indexDir/.staged_batch_$batchId"
    val prefix = s"b$batchId"
    Hfs.delete(spark, staged)
    sweepPublished(spark, s"$indexDir/codes", prefix)
    sweepPublished(spark, s"$indexDir/vectors", prefix)
    // one part per touched cluster, not one per (task × cluster): every
    // staged file becomes a publish rename against the live index, paid
    // per batch forever (same small-file discipline as the dedup store)
    val frames = AnnIndex.encode(model, batch, idCol, vecCol)
      .map { case (t, rows) => t -> rows.coalesce(1) }
    AnnIndex.writeRows(staged, model.layout, frames,
      AnnIndex.nextSeq(spark, indexDir), "overwrite")
    frames.foreach { case (t, _) =>
      publishStaged(spark, s"$staged/$t", s"$indexDir/$t", prefix) }
    Hfs.delete(spark, staged)
    // callers composing more per-batch work into the same transaction
    // (the recall monitor) mark AFTER their own publish instead
    if (touchMarker) Hfs.touch(spark, s"$indexDir/_batch_$batchId")
  }

  /** Remove every published file of one batch from a live table — the
    * replay sweep that makes a re-publish exactly-once. `partPrefix` is
    * the partition-directory prefix (`__cluster=`, `__pt=`); empty
    * sweeps the table root (unpartitioned tables like the index lens).
    */
  private def sweepPublished(spark: SparkSession, liveTable: String,
      prefix: String, partPrefix: String = "__cluster="): Unit = {
    import graft.util.Hfs
    if (Hfs.exists(spark, liveTable)) {
      val parts =
        if (partPrefix.isEmpty) Seq("")
        else Hfs.list(spark, liveTable).filter(_.startsWith(partPrefix)).map(_ + "/")
      parts.foreach { part =>
        Hfs.list(spark, s"$liveTable/$part".stripSuffix("/"))
          .filter(_.startsWith(prefix + "-"))
          .foreach(f => Hfs.delete(spark, s"$liveTable/$part$f"))
      }
    }
  }

  /** Move a staged partitioned table's part files into the live layout
    * under deterministic per-batch names (`<prefix>-<n>` within each
    * partition dir) — replayable because the sweep above clears any
    * partial previous publish first. Empty `partPrefix` publishes an
    * unpartitioned table into the live root.
    */
  private def publishStaged(spark: SparkSession, stagedTable: String,
      liveTable: String, prefix: String,
      partPrefix: String = "__cluster="): Unit = {
    import graft.util.Hfs
    val parts =
      if (partPrefix.isEmpty) Seq("")
      else Hfs.list(spark, stagedTable).filter(_.startsWith(partPrefix)).map(_ + "/")
    parts.foreach { part =>
      Hfs.mkdirs(spark, s"$liveTable/$part".stripSuffix("/"))
      Hfs.list(spark, s"$stagedTable/$part".stripSuffix("/"))
        .filter(_.startsWith("part-")).sorted.zipWithIndex.foreach { case (f, i) =>
          if (!Hfs.rename(spark, s"$stagedTable/$part$f",
              s"$liveTable/$part$prefix-$i.parquet"))
            throw new IllegalStateException(
              s"publish rename failed: $stagedTable/$part$f")
        }
    }
  }

  /** Streaming inverted-index maintenance: document batches arriving on
    * a spool are appended into a persisted [[graft.ext.TextIndex]] one
    * micro-batch at a time — the lexical leg of streaming ingestion
    * beside [[runIvfPqAppendOnce]]. Because the inverted layout appends
    * COMPOSITIONALLY (df/N/avgdl recompute over live rows; no frozen
    * model), the post-stream index equals a one-shot build of
    * everything ever indexed — the `x_stream_text_append` gate pins
    * served BM25 == from-scratch BM25 on the union. Same exactly-once
    * staged-generation publish, checkpoint pairing, and replay-sweep
    * discipline as the KNN append (docs there); postings publish into
    * their `__pt=` bucket directories, lens files into the table root.
    */
  def runTextIndexAppendOnce(
      spark: SparkSession,
      spoolDir: String,
      indexDir: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
  ): Unit = {
    import graft.util.Hfs
    require(Hfs.exists(spark, s"$indexDir/meta"),
      s"$indexDir is not a built text index — build on the base corpus first")
    requirePairedCheckpoint(spark, indexDir, checkpointDir)
    StreamConf.withWidth(spark) {
      val q = spark.readStream
        .schema(s"$idCol long, $textCol string")
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!Hfs.exists(spark, s"$indexDir/_batch_$batchId"))
            appendTextBatchExactlyOnce(spark, indexDir, batch.toDF(), batchId,
              idCol, textCol)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** One text-ingestion stream maintaining BOTH text indexes — the
    * inverted (BM25) layout and the positional (phrase/proximity)
    * layout — from the same micro-batches: the production shape where a
    * document stream feeds every derived text index at once instead of
    * each index re-reading the spool through its own stream. Each index
    * keeps its own `_batch_<id>` markers and staged-generation publish,
    * so exactly-once holds per index independently (a crash between the
    * two appends replays the batch and only the unmarked index
    * re-publishes); the single checkpoint lineage is pairing-guarded
    * against BOTH index dirs.
    */
  def runTextIndexesAppendOnce(
      spark: SparkSession,
      spoolDir: String,
      textIndexDir: String,
      posIndexDir: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
  ): Unit = {
    import graft.util.Hfs
    require(Hfs.exists(spark, s"$textIndexDir/meta"),
      s"$textIndexDir is not a built text index — build on the base corpus first")
    require(Hfs.exists(spark, s"$posIndexDir/meta"),
      s"$posIndexDir is not a built positional index — build on the base corpus first")
    requirePairedCheckpoint(spark, textIndexDir, checkpointDir)
    requirePairedCheckpoint(spark, posIndexDir, checkpointDir)
    StreamConf.withWidth(spark) {
      val q = spark.readStream
        .schema(s"$idCol long, $textCol string")
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!Hfs.exists(spark, s"$textIndexDir/_batch_$batchId"))
            appendTextBatchExactlyOnce(spark, textIndexDir, batch.toDF(),
              batchId, idCol, textCol)
          if (!Hfs.exists(spark, s"$posIndexDir/_batch_$batchId"))
            appendPositionalBatchExactlyOnce(spark, posIndexDir, batch.toDF(),
              batchId, idCol, textCol)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** Checkpoint↔index pairing guard shared by the streaming appends:
    * batch ids are only meaningful relative to ONE checkpoint lineage
    * while `_batch_<id>` markers persist in the index dir — a different
    * checkpoint would collide with them (lost or doubled batches). See
    * [[runIvfPqAppendOnce]] for the full rationale.
    */
  /** Streaming DATA-SKIPPING-MANIFEST maintenance: a document stream
    * appends micro-batches into a growing parquet table while keeping
    * the table's per-file min/max + key-fingerprint manifest
    * ([[graft.ext.Layout]]) current — so
    * [[graft.ext.Layout.manifestPrunedRead]] stays exact while the
    * table grows, at the cost of one scan of each APPENDED batch (the
    * manifest is authoritative for sealed files; nothing table-sized is
    * ever rescanned). The first batch creates the manifest with the
    * given geometry; every later batch folds in incrementally with the
    * geometry read back from the manifest schema.
    *
    * Exactly-once: each batch lands in its own `ingest_batch=<id>`
    * partition directory (an idempotent overwrite), and the manifest
    * fold is REPAIRED before the rewrite
    * ([[graft.ext.Layout.dropManifestFiles]]): a replayed batch first
    * drops any manifest rows a crashed attempt folded in for paths the
    * overwrite is about to rename away, so crash at ANY point between
    * data write, manifest fold, and the `_batch_<id>` marker converges
    * on replay. Underscore-prefixed sidecars (`_manifest`, `_batch_*`,
    * `_stream_checkpoint`) are invisible to the table's own readers.
    */
  def runManifestAppendOnce(
      spark: SparkSession,
      spoolDir: String,
      tableDir: String,
      checkpointDir: String,
      schema: String,
      statsCols: Seq[String],
      keyCols: Seq[String] = Nil,
  ): Unit = {
    import graft.util.Hfs
    requirePairedCheckpoint(spark, tableDir, checkpointDir)
    StreamConf.withWidth(spark) {
      val q = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!Hfs.exists(spark, s"$tableDir/_batch_$batchId")) {
            // repair BEFORE the rewrite: a crashed earlier attempt may
            // have folded manifest rows for files the overwrite below
            // renames away
            graft.ext.Layout.dropManifestFiles(spark, tableDir,
              s"/ingest_batch=$batchId/")
            batch.toDF().write.mode("overwrite")
              .parquet(s"$tableDir/ingest_batch=$batchId")
            if (!Hfs.exists(spark, s"$tableDir/_manifest"))
              graft.ext.Layout.writeManifest(spark, tableDir, statsCols, keyCols)
            else
              graft.ext.Layout.appendToManifest(spark, tableDir)
            Hfs.touch(spark, s"$tableDir/_batch_$batchId")
          }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  private def requirePairedCheckpoint(spark: SparkSession, indexDir: String,
      checkpointDir: String): Unit = {
    import graft.util.Hfs
    val idFile = s"$indexDir/_stream_checkpoint"
    val ckptId = Hfs.qualified(spark, checkpointDir)
    val paired =
      if (Hfs.exists(spark, idFile)) Some(Hfs.readString(spark, idFile))
        .filter(_.nonEmpty)
      else None
    paired match {
      case Some(p) =>
        require(p == ckptId,
          s"$indexDir is paired with streaming checkpoint '$p' but this " +
            s"run supplied '$ckptId' — batch ids from a different " +
            "checkpoint collide with the index's _batch_* markers; reuse " +
            "the original checkpointLocation (or rebuild and start fresh)")
      case None =>
        require(
          !Hfs.list(spark, indexDir).exists(_.startsWith("_batch_")) ||
            Hfs.exists(spark, s"$checkpointDir/commits"),
          s"$indexDir carries _batch_* markers but $checkpointDir is not " +
            "an established checkpoint — batch ids would restart at 0 and " +
            "map onto already-published batches; reuse the original " +
            "checkpointLocation (or rebuild and start fresh)")
        Hfs.writeString(spark, idFile, ckptId)
    }
  }

  /** One document batch's staged-generation append into the inverted
    * index (unmarked batches only): sweep leftovers, stage the encoded
    * postings + lens under an invisible dir, publish via deterministic
    * renames, mark last.
    */
  private def appendTextBatchExactlyOnce(spark: SparkSession,
      indexDir: String, batch: org.apache.spark.sql.DataFrame, batchId: Long,
      idCol: String, textCol: String): Unit = {
    import graft.util.Hfs
    val staged = s"$indexDir/.staged_batch_$batchId"
    val prefix = s"b$batchId"
    Hfs.delete(spark, staged)
    sweepPublished(spark, s"$indexDir/postings", prefix, "__pt=")
    sweepPublished(spark, s"$indexDir/lens", prefix, "")
    val (postings, lens) = graft.ext.TextIndex.encodeForAppend(
      spark, indexDir, batch, idCol, textCol)
    postings.coalesce(1).write.mode("overwrite").partitionBy("__pt")
      .parquet(s"$staged/postings")
    lens.coalesce(1).write.mode("overwrite").parquet(s"$staged/lens")
    publishStaged(spark, s"$staged/postings", s"$indexDir/postings", prefix, "__pt=")
    publishStaged(spark, s"$staged/lens", s"$indexDir/lens", prefix, "")
    Hfs.delete(spark, staged)
    Hfs.touch(spark, s"$indexDir/_batch_$batchId")
  }

  /** Streaming POSITIONAL-index maintenance — the phrase/proximity
    * sibling of [[runTextIndexAppendOnce]]: document batches append
    * per-occurrence (term, doc, pos) rows into their term buckets under
    * the same exactly-once staged publish, checkpoint pairing, and
    * replay-sweep discipline. Positions are per-document local facts,
    * so append == rebuild exactly — which lets the
    * `x_stream_phrase_append` gate HASH-match phrase counts over the
    * streamed index against an independent raw-text recount of the full
    * corpus, not just a boolean.
    */
  def runPositionalAppendOnce(
      spark: SparkSession,
      spoolDir: String,
      indexDir: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
  ): Unit = {
    import graft.util.Hfs
    require(Hfs.exists(spark, s"$indexDir/meta"),
      s"$indexDir is not a built positional index — build on the base corpus first")
    requirePairedCheckpoint(spark, indexDir, checkpointDir)
    StreamConf.withWidth(spark) {
      val q = spark.readStream
        .schema(s"$idCol long, $textCol string")
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!Hfs.exists(spark, s"$indexDir/_batch_$batchId"))
            appendPositionalBatchExactlyOnce(spark, indexDir, batch.toDF(),
              batchId, idCol, textCol)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  private def appendPositionalBatchExactlyOnce(spark: SparkSession,
      indexDir: String, batch: DataFrame, batchId: Long,
      idCol: String, textCol: String): Unit = {
    import graft.util.Hfs
    val staged = s"$indexDir/.staged_batch_$batchId"
    val prefix = s"b$batchId"
    Hfs.delete(spark, staged)
    sweepPublished(spark, s"$indexDir/positions", prefix, "__pt=")
    graft.ext.TextIndex.encodePositionalForAppend(spark, indexDir, batch,
        idCol, textCol)
      .coalesce(1).write.mode("overwrite").partitionBy("__pt")
      .parquet(s"$staged/positions")
    publishStaged(spark, s"$staged/positions", s"$indexDir/positions",
      prefix, "__pt=")
    Hfs.delete(spark, staged)
    Hfs.touch(spark, s"$indexDir/_batch_$batchId")
  }

  /** Streaming SKETCH maintenance: count-min counter DELTAS appended
    * exactly once per document micro-batch. Counters are associative
    * (the CMS is a sum of per-row one-hot increments), so an
    * append-only delta store summed at read time equals the one-shot
    * batch counters EXACTLY — integer equality, no band; that is the
    * `x_stream_freq_cms` gate. Deltas are depth×width-bounded per
    * batch, so the store grows by a few KB per micro-batch regardless
    * of batch size and [[readCmsCounters]] is a counters-sized
    * aggregate; compact by rewriting the summed table whenever file
    * count matters (same judgment as every delta store here).
    *
    * Exactly-once: per batch — skip if `_batch_<id>` marker exists;
    * else write the delta to a stage dir, sweep any partial previous
    * publish of THIS batch id, deterministic renames into
    * `deltas/b<id>-<i>.parquet`, then the marker. A crash at any point
    * replays to the same store (the crash-replay spec walks the
    * states). The store is DELETED at run start: a run owns its
    * history ([[graft.streaming.EventStreams.runUpsertOnce]]'s
    * contract), so markers never face a foreign checkpoint.
    */
  def runCmsAppendOnce(
      spark: SparkSession,
      spoolDir: String,
      storeDir: String,
      depth: Int,
      width: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
  ): Unit = {
    import graft.util.Hfs
    Hfs.delete(spark, storeDir)
    // run-start generation: a mid-run rebuild bumps the stamp and the
    // next publish refuses ([[storeGeneration]])
    val gen0 = storeGeneration(spark, storeDir)
    StreamConf.withWidth(spark) {
      val q = spark.readStream
        .schema(s"$idCol long, $textCol string")
        .option("maxFilesPerTrigger", "1")
        .parquet(spoolDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!Hfs.exists(spark, s"$storeDir/_batch_$batchId"))
            appendCmsBatchExactlyOnce(spark, storeDir, batch.toDF(), batchId,
              depth, width, textCol, gen0)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** An [[runMinhashDedupOnce]] `alsoPerBatch` hook that maintains a CMS
    * counter delta store from the SAME document micro-batches — one
    * ingestion run feeds both the dedup signature store and the
    * frequency sketch, instead of a second stream re-reading the spool.
    * Idempotent per batchId (marker + exactly-once delta publish), as
    * the hook contract requires.
    */
  def cmsPerBatchHook(spark: SparkSession, storeDir: String,
      depth: Int, width: Int, textCol: String = "text"): (DataFrame, Long) => Unit = {
    // generation captured at hook creation — the owning run starts
    // right after, so a rebuild landing mid-run refuses the publish
    val gen0 = storeGeneration(spark, storeDir)
    (batch, batchId) => {
      if (!graft.util.Hfs.exists(spark, s"$storeDir/_batch_$batchId"))
        appendCmsBatchExactlyOnce(spark, storeDir, batch, batchId,
          depth, width, textCol, gen0)
    }
  }

  private[streaming] def appendCmsBatchExactlyOnce(spark: SparkSession,
      storeDir: String, batch: DataFrame, batchId: Long,
      depth: Int, width: Int, textCol: String,
      expectedGen: Long = -1L): Unit =
    publishDeltaExactlyOnce(spark, storeDir,
      graft.ext.Sketch.cmsCounters(
        batch.select(explode(graft.ext.TextAnalysis.tokens(col(textCol)))
          .as("__t")),
        col("__t"), depth, width),
      batchId, expectedGen)

  /** A delta store's rebuild GENERATION: 0 for a store that has never
    * been swap-rebuilt, bumped by every rebuild
    * ([[graft.streaming.EventStreams.rebuildKmvStore]] /
    * `rebuildQuantileStore` write `_generation` = old + 1 into the
    * fresh dir before the swap). The stamp is what lets a publish
    * detect that the store it is about to append to is NOT the store
    * its run started against.
    */
  private[graft] def storeGeneration(spark: SparkSession,
      storeDir: String): Long = {
    val p = s"$storeDir/_generation"
    if (graft.util.Hfs.exists(spark, p))
      graft.util.Hfs.readString(spark, p).trim.toLong
    else 0L
  }

  /** The sketch-delta exactly-once publish, shared by every associative
    * delta store (CMS counters, KMV k-min trims): stage → replay-sweep
    * this batch id's partial publish → deterministic renames into
    * `deltas/b<id>-<i>.parquet` → marker. Idempotent per (store,
    * batchId): any crash point replays to the same store.
    *
    * `expectedGen` (≥ 0) is the generation the publishing RUN captured
    * at its start: a rebuild (takedown) swapping the store mid-run
    * bumps the stamp, and the next publish REFUSES loudly instead of
    * re-publishing pre-rebuild items — deleted data — into the fresh
    * store under the reset batch markers. This closes the documented
    * rebuild/append race structurally (the caller-serialization
    * contract stays, but violating it is now a crash, not silent
    * corruption). −1 skips the check (single-shot test publishes with
    * no owning run).
    */
  private[streaming] def publishDeltaExactlyOnce(spark: SparkSession,
      storeDir: String, delta: DataFrame, batchId: Long,
      expectedGen: Long = -1L): Unit =
    publishDeltaKeyed(spark, storeDir, delta, batchId.toString, expectedGen)

  /** The string-keyed form of the delta publish: micro-batches key by
    * their batch id; OUT-OF-BAND deltas (a delete batch's negative CMS
    * counters) key by their own namespace (`"d<n>"`) so they can never
    * collide with a stream's numbering.
    */
  private[streaming] def publishDeltaKeyed(spark: SparkSession,
      storeDir: String, delta: DataFrame, key: String,
      expectedGen: Long = -1L): Unit = {
    import graft.util.Hfs
    if (expectedGen >= 0L) {
      val cur = storeGeneration(spark, storeDir)
      if (cur > expectedGen)
        throw new IllegalStateException(
          s"stale-generation publish refused: $storeDir is at rebuild " +
            s"generation $cur but this run started against generation " +
            s"$expectedGen — the store was swap-rebuilt (takedown) while " +
            "this append run was live; restart the append run against " +
            "the fresh store instead of re-publishing pre-rebuild items")
    }
    val stage = s"$storeDir/_stage_$key"
    delta.coalesce(1).write.mode("overwrite").parquet(stage)
    val live = s"$storeDir/deltas"
    Hfs.mkdirs(spark, live)
    Hfs.list(spark, live).filter(_.startsWith(s"b$key-"))
      .foreach(f => Hfs.delete(spark, s"$live/$f"))
    Hfs.list(spark, stage).filter(_.startsWith("part-")).sorted.zipWithIndex
      .foreach { case (f, i) =>
        if (!Hfs.rename(spark, s"$stage/$f", s"$live/b$key-$i.parquet"))
          throw new IllegalStateException(s"delta publish rename failed: $stage/$f")
      }
    Hfs.delete(spark, stage)
    Hfs.touch(spark, s"$storeDir/_batch_$key")
  }

  /** Deletion leg of the streaming CMS store: counters are ASSOCIATIVE,
    * so forgetting documents publishes their token counters NEGATED
    * through the same exactly-once delta protocol the appends use — the
    * summed store then equals the batch counters over the survivors,
    * cell for cell, with no rebuild. Keyed by `key` (a caller-chosen
    * namespace like `"d0"`), idempotent per (store, key): replaying the
    * same delete cannot subtract twice. The ids/texts passed must be the
    * rows AS INGESTED — a delete of never-ingested or altered text
    * silently skews counters negative (counters carry no identity; the
    * caller owns that contract, exactly as with CDC diffs). Each
    * DISTINCT delete needs its own key: reusing a key silently no-ops
    * (that is what idempotence means here) — a takedown pipeline keys
    * by its request id.
    *
    * The KMV sketch has NO such leg: k-min retains only order statistics
    * and cannot un-see a minimum — deletion there is rebuild-on-cadence
    * ([[graft.streaming.EventStreams.rebuildKmvStore]]).
    */
  def publishCmsDelete(spark: SparkSession, storeDir: String,
      docs: DataFrame, key: String, depth: Int, width: Int,
      textCol: String = "text", expectedGen: Long = -1L): Unit = {
    // a delete delta is valid for the generation its INPUTS were decided
    // against — the caller passes the generation it read when it fixed
    // the delete set (r20 ADVICE: capturing it here, microseconds before
    // publishDeltaKeyed re-reads it, made the guard near-vacuous). The
    // -1 default keeps single-process callers working but covers only
    // the window from this call onward.
    val gen = if (expectedGen >= 0L) expectedGen
      else storeGeneration(spark, storeDir)
    if (!graft.util.Hfs.exists(spark, s"$storeDir/_batch_$key"))
      publishDeltaKeyed(spark, storeDir,
        graft.ext.Sketch.cmsCounters(
          docs.select(explode(graft.ext.TextAnalysis.tokens(col(textCol)))
            .as("__t")),
          col("__t"), depth, width)
          .select(col("d"), col("b"), (-col("n")).as("n")),
        key, gen)
  }

  /** The live counter table of a [[runCmsAppendOnce]] store: deltas
    * summed — (`d`, `b`, `n`), at most depth×width rows.
    */
  def readCmsCounters(spark: SparkSession, storeDir: String): DataFrame =
    graft.util.TinyParquet.openStore(spark, s"$storeDir/deltas")
      .groupBy(col("d"), col("b")).agg(sum(col("n")).as("n"))
}
