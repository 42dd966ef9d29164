package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{AnnIndex, CorpusClean, Dedup, Joins, Multimodal, Similarity, TextAnalysis, TextSearch}
import graft.streaming.EventStreams

/** Queries for the large-scale pipeline extensions (SURVEY §7.2 M9):
  * dedup, similarity search, text analysis, multimodal, streaming-parity.
  * Oracle SQL provided wherever DuckDB can express the same computation;
  * approximate/sketch operators (minhash, simhash, IVF) are rows-only.
  */
object ExtensionQueries {

  private def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame) =
    QueryDef(name, fn, Some(oracle))

  /** documents ∪ exact copies of every 10th doc (ids offset by 100000) —
    * the known-duplicate corpus used by the dedup queries.
    */
  private def docsWithCopies(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  /** documents ∪ near-copies (one appended token) of every 10th doc. */
  private def docsWithVariants(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zzvariant")).as("text")))
  }

  private def streamEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))

  /** The events spool the file-source stream gates read — files that, in
    * production, exist because events ARRIVED (input prep, not pipeline
    * work).
    */
  private[queries] def eventSpool(s: SparkSession, dir: String): String =
    Staging.once("stream", dir)(streamEvents(s, dir).write.mode("overwrite").parquet(_))

  /** [[eventSpool]] with every event delivered twice (planted replays). */
  private def replaySpool(s: SparkSession, dir: String): String =
    Staging.once("stream_dup", dir) { root =>
      val ev = streamEvents(s, dir)
      ev.unionByName(ev).write.mode("overwrite").parquet(root)
    }

  /** Input prep (idempotent): the persisted ANN indexes over the
    * embeddings table — the build-once/query-many production shape. The
    * flat PQ index serves `x_knn_pq`/`x_knn_pq_err`/`x_knn_pq_persist`
    * (one training instead of three); the IVF×PQ index is the
    * cluster-partitioned codes layout whose nprobe filter is parquet
    * partition pruning (`x_knn_ivfpq`). Geometry mirrors the queries:
    * m=8, ksub=16, iters=2, nlist=16 over the 64-dim embeddings.
    */
  def stageAnnIndexes(s: SparkSession, dir: String): String =
    Staging.once("annindex", dir)(buildAnnIndexes(s, dir, _))

  private def buildAnnIndexes(s: SparkSession, dir: String, tmp: String): Unit = {
    // independent fixture chains run CONCURRENTLY: the corpus here is
    // ~10³ sample rows through dozens of small chained stages, so each
    // chain is scheduler latency, not compute — Spark's scheduler accepts
    // jobs from many threads, and overlapping the chains collapses their
    // idle gaps (the measured staging dominator). Every chain writes its
    // own directory; shared inputs are read-only checkpointed frames.
    // [[graft.util.Par.all]] carries the settle-all discipline (every
    // task completes before the first failure propagates — an orphaned
    // build's late parquet commit must never land inside a fresh
    // rebuild); this wrapper adds the per-fixture name to a failure
    def inParallel(tasks: (String, () => Unit)*): Unit = {
      graft.util.Par.all(4)(tasks.map { case (n, f) => () =>
        try f()
        catch { case e: Throwable =>
          throw new RuntimeException(s"fixture build '$n' failed", e)
        }
      })
      ()
    }
    val emb = Tables.embeddings(s, dir)
    val emb16 = emb.filter(col("vec_id") < 16)
    val emb8 = emb16.filter(col("vec_id") < 8)
    // the staging corpus is tiny relative to the session's analytics
    // shuffle width: narrow it for the fixture block (same rationale as
    // StreamConf for the one-shot streams; a real index build over a
    // real corpus sizes its own job)
    graft.streaming.StreamConf.withWidth(s, 4) {
    // one training per shared artifact, fanned into every layout that
    // uses it (identical content to per-build training — the trainings
    // are deterministic — at a third of the staging job count): coarse
    // centroids feed ivf/ivfpq/ivfpq_res/ivfsq, the raw-space PQ model
    // feeds pq + ivfpq, the SQ bounds feed sq + ivfsq; the gate fixtures
    // share one lossless 16-vector model and one ksub=8 base model the
    // same way. Residual PQ still trains its own codebooks (different
    // quantization space).
    var coarse: org.apache.spark.sql.DataFrame = null
    var pqm: Similarity.PqModel = null
    var sqb: Similarity.SqBounds = null
    var coarse16: org.apache.spark.sql.DataFrame = null
    var pqm16: Similarity.PqModel = null
    var pqm8: Similarity.PqModel = null
    inParallel(
      "train_coarse" -> (() => coarse =
        Similarity.trainCentroids(emb, "vec_id", "embedding", nlist = 16, iters = 2)),
      "train_pq" -> (() => pqm =
        Similarity.pqModel(emb, "vec_id", "embedding", m = 8, ksub = 16, iters = 2)),
      "train_sqbounds" -> (() => sqb = Similarity.sqTrainBounds(emb, "embedding")),
      "train_coarse16" -> (() => coarse16 =
        Similarity.trainCentroids(emb16, "vec_id", "embedding", nlist = 4, iters = 1)),
      "train_pq16" -> (() => pqm16 =
        Similarity.pqModel(emb16, "vec_id", "embedding", m = 8, ksub = 16, iters = 1)),
      "train_pq8" -> (() => pqm8 =
        Similarity.pqModel(emb8, "vec_id", "embedding", m = 8, ksub = 8, iters = 1)))
    inParallel(
      "pq" -> (() => AnnIndex.buildPq(emb, "vec_id", "embedding", s"$tmp/pq",
        m = 8, ksub = 16, iters = 2, modelIn = Some(pqm))),
      "ivf" -> (() => AnnIndex.buildIvf(emb, "vec_id", "embedding", s"$tmp/ivf",
        nlist = 16, iters = 2, coarseIn = Some(coarse))),
      // per-side IVF indexes over the bitext mining split (X = even
      // ids, Y = odd): the pruned-probe mining gate
      // (x_mine_bitext_ivf) serves each kNN leg from the OTHER side's
      // persisted index at nprobe < nlist — the 100 TB mining path,
      // with the probe selection + pruned scan + margin arithmetic
      // all replayed from these stored tables
      "ivf_bx" -> (() => AnnIndex.buildIvf(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", s"$tmp/ivf_bx", nlist = 8, iters = 1)),
      "ivf_by" -> (() => AnnIndex.buildIvf(emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", s"$tmp/ivf_by", nlist = 8, iters = 1)),
      // keepVectors: the refine gate re-ranks against the exact vectors
      "ivfpq" -> (() => AnnIndex.buildIvfPq(emb, "vec_id", "embedding", s"$tmp/ivfpq",
        nlist = 16, m = 8, ksub = 16, iters = 2, keepVectors = true,
        coarseIn = Some(coarse), modelIn = Some(pqm))),
      // the SAME geometry trained on coarse-centroid residuals (FAISS
      // by_residual=true) — x_knn_ivfpq_residual_err pins its error band
      // against the raw-trained sibling
      "ivfpq_res" -> (() => AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
        s"$tmp/ivfpq_res", nlist = 16, m = 8, ksub = 16, iters = 2,
        byResidual = true, coarseIn = Some(coarse))),
      // SQ8: exact per-dimension bounds + byte codes; the x_knn_sq_err /
      // x_knn_sq_guarantee gates assert its ANALYTIC error bound
      "sq" -> (() => AnnIndex.buildSq(emb, "vec_id", "embedding", s"$tmp/sq",
        boundsIn = Some(sqb))),
      // IVF×SQ: the same bounds discipline under cluster partition
      // pruning; the full-probe gate pins exact equality with flat SQ
      "ivfsq" -> (() => AnnIndex.buildIvfSq(emb, "vec_id", "embedding",
        s"$tmp/ivfsq", nlist = 16, coarseIn = Some(coarse), boundsIn = Some(sqb))),
      // PCA-rotated PQ (IndexPreTransform composition): uncentered-PCA
      // rotation + flat PQ over the rotated corpus; x_knn_pcapq replays
      // the stored rotation + ADC path, the isometry gate pins exact
      // cosine preservation
      "pcapq" -> (() => AnnIndex.buildPcaPq(emb, "vec_id", "embedding",
        s"$tmp/pcapq", dim = 64, m = 8, ksub = 16, iters = 2)),
      // OPQ: the alternating-minimization rotation PCA-PQ approximates
      // (Ge et al. CVPR'13), same IndexPreTransform layout — x_knn_opq
      // replays the stored rotation + ADC path like x_knn_pcapq
      "opq" -> (() => AnnIndex.buildOpq(emb, "vec_id", "embedding",
        s"$tmp/opq", dim = 64, m = 8, ksub = 16, iters = 2, opqIters = 3)),
      // OPQ x IVF-PQ: the FAISS production composition (OPQ8,IVF16,PQ8)
      // — rotation + cluster-partitioned codes; x_knn_opqivfpq replays
      // rotation, probe, pruned ADC and ranking from the stored tables
      "opqivf" -> (() => AnnIndex.buildOpqIvfPq(emb, "vec_id", "embedding",
        s"$tmp/opqivf", dim = 64, nlist = 16, m = 8, ksub = 16, iters = 2,
        opqIters = 3)),
      // BQ: training-free sign sketches beside the exact vectors — one
      // table whose column pruning is the two-tier storage (x_knn_bq
      // replays the whole query path over it in DuckDB)
      "bq" -> (() => AnnIndex.buildBq(emb, "vec_id", "embedding",
        s"$tmp/bq", dim = 64)),
      // graph (NSW-lite): exact top-8 neighbor graph + medoid entry —
      // x_knn_graph replays the fixed-depth beam search from the stored
      // tables; the recall report carries its measured row
      "graph" -> (() => graft.ext.GraphAnn.build(emb, "vec_id", "embedding",
        s"$tmp/graph", degree = 8)),
      // graph, the 100 TB build path: IVF-candidate edges (blocked
      // self-join on the shared coarse clusters — never all-pairs) +
      // one entry point per centroid; x_knn_graph_scale replays the
      // beam trajectory over it at the shallow 3-hop operating point
      "graphivf" -> (() => graft.ext.GraphAnn.buildFromIvf(emb, "vec_id",
        "embedding", s"$tmp/graphivf", degree = 10, nlist = 16, nprobe = 6,
        coarseIn = Some(coarse))),
      // graph with α-pruned (RobustPrune) edges: same IVF candidate
      // machinery, but each node keeps the greedy α-diverse subset of a
      // 3·degree pool — short collinear edges collapse, long edges
      // appear; x_knn_graph_alpha replays the beam over it at the same
      // shallow 3-hop point
      "graphalpha" -> (() => graft.ext.GraphAnn.buildFromIvf(emb, "vec_id",
        "embedding", s"$tmp/graphalpha", degree = 10, nlist = 16,
        nprobe = 6, coarseIn = Some(coarse), alphaQ = 1200)),
      // graph with a FRESH REGION: built on 15/16ths of the corpus,
      // the held-out slice appended as the delta — x_knn_graph_delta
      // replays beam + exact delta scoring from the stored tables
      "graphdelta" -> (() => {
        graft.ext.GraphAnn.buildFromIvf(
          emb.filter(pmod(col("vec_id"), lit(16)) =!= 7), "vec_id",
          "embedding", s"$tmp/graphdelta", degree = 10, nlist = 16,
          nprobe = 6, coarseIn = Some(coarse))
        graft.ext.GraphAnn.append(s, s"$tmp/graphdelta",
          emb.filter(pmod(col("vec_id"), lit(16)) === 7),
          "vec_id", "embedding")
      }),
      // the recall report's brute-force ceiling: a deterministic
      // function of the staged embeddings (the r15 staged-reference
      // pattern) — recomputing it per timed run re-priced the whole
      // corpus scan inside the gate every round; the report's oracle
      // still replays brute from the base tables, so a drifted staged
      // ceiling hash-fails
      "recall_brute5" -> (() =>
        Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb,
            "vec_id", "embedding", 5)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$tmp/recall_brute5")),
      // MaxSim token-vector fixture: per-doc token BAGS over the first
      // 48 documents (first 8 token positions), each token's vector a
      // deterministic embedding-table lookup (hash(token) mod 64), ids
      // encoding the owning doc (tokId = doc·64 + pos) — persisted in
      // the IVF-flat layout so late-interaction serving inherits nprobe
      // partition pruning. The query side (docs < 3) is staged beside
      // it with token ids offset into a disjoint namespace.
      "maxsim" -> (() => {
        val docs = Tables.documents(s, dir).filter(col("doc_id") < 48)
          .select(col("doc_id"), col("text"))
        val emb64 = emb.filter(col("vec_id") < 64)
          .select(col("vec_id"), col("embedding"))
        val tokVecs = docs
          .select(col("doc_id"),
            posexplode(slice(TextAnalysis.tokens(col("text")), 1, 8))
              .as(Seq("pos", "tok")))
          .join(broadcast(emb64),
            pmod(xxhash64(col("tok")), lit(64)) === col("vec_id"))
          .select((col("doc_id") * 64 + col("pos")).as("__id"),
            col("embedding").as("__vec"))
          .localCheckpoint(eager = true) // build + query staging share it
        AnnIndex.buildIvf(tokVecs, "__id", "__vec", s"$tmp/maxsim",
          nlist = 8, iters = 2)
        tokVecs.filter(col("__id") < 3 * 64)
          .select((col("__id") + 10000000L).as("__qtok"),
            floor(col("__id") / 64).cast("long").as("qdoc"), col("__vec"))
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/maxsim_q")
      }),
      // BQ maintenance fixture: build half, append half, tombstone
      // {3, 11}, update {6} — x_knn_bq_maint pins the maintained index
      // against the in-query scan over the live set (training-free, so
      // the equality is exact, not just rank-stable)
      "bq_maint16" -> (() => {
        AnnIndex.buildBq(emb8, "vec_id", "embedding", s"$tmp/bq_maint16",
          dim = 64)
        AnnIndex.append(s, s"$tmp/bq_maint16",
          emb16.filter(col("vec_id") >= 8), "vec_id", "embedding")
        AnnIndex.deleteIds(s, s"$tmp/bq_maint16",
          emb16.filter(col("vec_id").isin(3, 11)), "vec_id")
        AnnIndex.update(s, s"$tmp/bq_maint16",
          emb16.filter(col("vec_id") === 6), "vec_id", "embedding")
      }),
      // the small gate indexes over the 16-vector sub-corpus: lossless
      // (ksub = corpus size) so the recall/persistence gates can pin
      // exact-equality semantics (iters=1: Lloyd is at its fixpoint after
      // init on this geometry); staged like any fixture so gate runs
      // measure the QUERY path, not a rebuild
      "ivfpq_gate16" -> (() => AnnIndex.buildIvfPq(emb16, "vec_id", "embedding",
        s"$tmp/ivfpq_gate16", nlist = 4, m = 8, ksub = 16, iters = 1,
        coarseIn = Some(coarse16), modelIn = Some(pqm16))),
      // residual lossless-mechanics fixture: ksub = corpus size makes
      // every RESIDUAL subvector its own centroid, and the offset
      // decomposition is exact on the unit sphere — so residual IVF×PQ
      // must equal brute force here (x_knn_ivfpq_res_recall)
      "ivfpq_res_gate16" -> (() => AnnIndex.buildIvfPq(emb16, "vec_id", "embedding",
        s"$tmp/ivfpq_res_gate16", nlist = 4, m = 8, ksub = 16, iters = 1,
        byResidual = true, coarseIn = Some(coarse16))),
      "pq_gate16" -> (() => AnnIndex.buildPq(emb16, "vec_id", "embedding",
        s"$tmp/pq_gate16", m = 8, ksub = 16, iters = 1, modelIn = Some(pqm16))),
      // incremental-maintenance fixture: built on the first half, second
      // half APPENDED with frozen codebooks (x_knn_pq_append)
      "pq_append16" -> (() => {
        AnnIndex.buildPq(emb8, "vec_id", "embedding", s"$tmp/pq_append16",
          m = 8, ksub = 8, iters = 1, modelIn = Some(pqm8))
        AnnIndex.append(s, s"$tmp/pq_append16",
          emb16.filter(col("vec_id") >= 8), "vec_id", "embedding")
      }),
      // delete/update-maintenance fixture (x_knn_pq_delete): build on the
      // first half, append the second, tombstone-delete {3, 11} (one
      // built id, one appended id), then UPDATE id 6 by re-appending its
      // own embedding — the update must supersede its tombstone AND not
      // leave the original generation double-counted in the ADC sum
      "ivfpq_del16" -> (() => {
        AnnIndex.buildIvfPq(emb8, "vec_id", "embedding", s"$tmp/ivfpq_del16",
          nlist = 4, m = 8, ksub = 8, iters = 1, modelIn = Some(pqm8))
        AnnIndex.appendIvfPq(s, s"$tmp/ivfpq_del16",
          emb16.filter(col("vec_id") >= 8), "vec_id", "embedding")
        AnnIndex.deleteIds(s, s"$tmp/ivfpq_del16",
          emb16.filter(col("vec_id").isin(3, 11)), "vec_id")
        AnnIndex.update(s, s"$tmp/ivfpq_del16",
          emb16.filter(col("vec_id") === 6), "vec_id", "embedding")
      }),
      // the SAME delete/update history on the flat-PQ layout, driven
      // through the CDC entry point: one snapshotDiff-shaped frame
      // (delete {3, 11}, update {6}) routed by applyDiff — the
      // x_knn_pq_delete gate pins both layouts against one
      // frozen-codebook reference encode
      "pq_del16" -> (() => {
        AnnIndex.buildPq(emb8, "vec_id", "embedding", s"$tmp/pq_del16",
          m = 8, ksub = 8, iters = 1, modelIn = Some(pqm8))
        AnnIndex.append(s, s"$tmp/pq_del16",
          emb16.filter(col("vec_id") >= 8), "vec_id", "embedding")
        AnnIndex.applyDiff(s, s"$tmp/pq_del16",
          emb16.filter(col("vec_id").isin(3, 11))
            .select(col("vec_id"), lit("delete").as("change"))
            .unionByName(emb16.filter(col("vec_id") === 6)
              .select(col("vec_id"), lit("update").as("change"))),
          "vec_id", emb16, "vec_id", "embedding")
      }))
    }
  }

  /** Input prep (idempotent): the persisted inverted text index over the
    * documents table — the lexical build-once/query-many layout beside
    * the ANN indexes — plus its maintenance fixture (build even half,
    * append odd half, tombstone %20, update doc 7).
    */
  def stageTextIndex(s: SparkSession, dir: String): String =
    Staging.once("textindex", dir) { tmp =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .localCheckpoint(eager = true) // consumed by both builds + maintenance
      graft.streaming.StreamConf.withWidth(s, 4) {
        graft.ext.TextIndex.build(docs, "doc_id", "text", s"$tmp/inv", parts = 8)
        graft.ext.TextIndex.build(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", s"$tmp/inv_maint", parts = 8)
        graft.ext.TextIndex.appendDocs(s, s"$tmp/inv_maint",
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        graft.ext.TextIndex.deleteDocs(s, s"$tmp/inv_maint",
          docs.filter(col("doc_id") % 20 === 0), "doc_id")
        graft.ext.TextIndex.updateDocs(s, s"$tmp/inv_maint",
          docs.filter(col("doc_id") === 7), "doc_id", "text")
      }
      // x_text_asof's two FROM-SCRATCH BM25 references, staged beside the
      // index (deterministic functions of the corpus + the maintenance
      // history above — the x_stream_recall discipline): the gate reads
      // and compares instead of paying two full batch scorers per rep
      import s.implicits._
      val asofQueries = Seq((0L, "window merge scan"),
        (1L, "fast customer join"), (2L, "stream batch value"))
        .toDF("qid", "qtext")
      TextSearch.bm25TopK(docs.filter(col("doc_id") % 20 =!= 0),
          "doc_id", "text", asofQueries, "qid", "qtext", 10)
        .write.mode("overwrite").parquet(s"$tmp/asof_ref0")
      TextSearch.bm25TopK(
          docs.filter(col("doc_id") % 20 =!= 0 && col("doc_id") =!= 7),
          "doc_id", "text", asofQueries, "qid", "qtext", 10)
        .write.mode("overwrite").parquet(s"$tmp/asof_ref1")
    }

  /** Input prep (idempotent): the streaming spool dirs — files that, in
    * production, exist because events ARRIVED, not because the engine ran.
    */
  def stageStreams(s: SparkSession, dir: String): Unit = {
    eventSpool(s, dir)
    replaySpool(s, dir)
    stageSessionSpool(s, dir)
    stageUpsertSpool(s, dir)
    stageDocSpool(s, dir) // shared by the minhash, simhash AND components gates
    stageEmbSpool(s, dir)
  }

  /** Documents spool for the incremental near-dup: docsWithVariants in
    * `nSlices` arrival slices keyed by a hash of the doc id, so an
    * original and its planted near-variant usually arrive in DIFFERENT
    * micro-batches — the store-join (old↔new) path does real work, not
    * just the within-batch self-join. Two slices are the minimum that
    * proves incrementality (batch 1 bootstraps the store, batch 2
    * exercises the store join AND its own self-join) and every further
    * slice only re-pays the fixed micro-batch machinery cost — the
    * measured dominator of gate wall time — without touching any new
    * code path. Fixture prep, untimed (a real spool exists because
    * documents arrived; only arrival order is synthesized, via per-file
    * mtimes).
    */
  def stageDocSpool(s: SparkSession, dir: String, nSlices: Int = 2): String =
    Staging.once("stream_docs", dir, s"_n$nSlices") { tmp =>
      val docs = docsWithVariants(s, dir).localCheckpoint(eager = true)
      (0 until nSlices).foreach { i =>
        stageSpoolFile(
          docs.filter(pmod(xxhash64(col("doc_id")), lit(nSlices)) === i), tmp, i)
      }
    }

  /** One incremental-MinHash stream run shared by the `x_stream_dedup_minhash`
    * and `x_stream_dedup_components` gates (memoized per spool content
    * fingerprint): the pairs gate and the clusters gate assert different
    * properties — pair set + estimates vs canonical labels — of the SAME
    * store machinery, so two full stream executions verified nothing the
    * shared one does not. Whichever gate runs first pays the run; both
    * read the persisted store. The cap is lifted far above the corpus on
    * the stream side (and on the gates' batch sides) so the at-arrival
    * vs global bucket-cap judgment difference is inert and streamed ==
    * batch is exact at every scale factor; storeParts is sized for the
    * gate corpus (files appended per batch = touched partitions — the
    * layout-knob doc on runMinhashDedupOnce).
    */
  /** The components gate's BATCH reference (connectedComponents over the
    * stream's final pair set), persisted per fixture CONTENT: the pair
    * set is deterministic per sf dir, so the iterative label-propagation
    * loop — formerly half the gate's cost, re-paid by every JVM that ran
    * the query — is computed once, keyed by an order-free fingerprint of
    * the pairs (the staging variant) and by the code that computes it. A
    * changed pair set (changed fixture, changed sketch family) or a
    * changed build recomputes; the gate's semantics — streamed labels ==
    * batch labels on exactly these pairs — are unchanged, only where the
    * batch side comes from.
    */
  private def batchComponentsRef(s: SparkSession, dir: String,
      streamed: DataFrame): DataFrame = {
    val fpRow = streamed.agg(
      count(lit(1)).cast("string").as("n"),
      coalesce(sum(conv(substring(md5(concat_ws(":", col("id_a"), col("id_b"))),
        1, 8), 16, 10).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .cast("string").as("h")).head()
    val base = Staging.once("compref", dir,
        s"_${fpRow.getString(0)}_${fpRow.getString(1)}") { base =>
      val nodes = streamed.select(col("id_a").as("id"))
        .unionByName(streamed.select(col("id_b").as("id"))).distinct()
      Dedup.connectedComponents(nodes, "id", streamed)
        .write.mode("overwrite").parquet(s"$base/ref")
    }
    graft.util.TinyParquet.openStore(s, s"$base/ref")
  }

  private val minhashRuns = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[queries] def minhashStreamStore(s: SparkSession, dir: String): String =
    minhashRuns.computeIfAbsent(Staging.tag(dir), _ => {
      val spool = stageDocSpool(s, dir)
      val store = s"/tmp/graft_stream_minhash/${Staging.tag(dir)}_store"
      // the CMS counter store rides the SAME ingestion run as a per-batch
      // hook (under the store root, so the run's start-of-run delete owns
      // it too) — one document stream maintains the signature store, the
      // incremental components AND the frequency sketch; the CMS gate
      // reads the deltas instead of paying a second stream
      graft.streaming.DocStreams.runMinhashDedupOnce(s, spool, store,
        maxBucketSize = 1000000, storeParts = 4, withComponents = true,
        alsoPerBatch = graft.streaming.DocStreams.cmsPerBatchHook(
          s, s"$store/cms", depth = 4, width = 64))
      store
    })

  /** Embeddings spool for the streaming index-append gate: the second
    * half of the 16-vector gate corpus in two arrival slices. Fixture
    * prep, untimed.
    */
  def stageEmbSpool(s: SparkSession, dir: String): String =
    Staging.once("stream_emb", dir) { tmp =>
      val emb = Tables.embeddings(s, dir)
        .filter(col("vec_id") >= 8 && col("vec_id") < 16)
        .select(col("vec_id"), col("embedding"))
      stageSpoolFile(emb.filter(col("vec_id") < 12), tmp, 0)
      stageSpoolFile(emb.filter(col("vec_id") >= 12), tmp, 1)
    }

  /** Documents spool for the streaming inverted-index append: the odd
    * half of the corpus in two arrival slices. Fixture prep, untimed.
    */
  def stageTextSpool(s: SparkSession, dir: String): String =
    Staging.once("stream_text", dir) { tmp =>
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
      stageSpoolFile(docs.filter(col("doc_id") % 4 === 1), tmp, 0)
      stageSpoolFile(docs.filter(col("doc_id") % 4 === 3), tmp, 1)
    }

  /** Session gap shared by the batch and incremental sessionize queries. */
  private val SessGapMs = 4L * 3600 * 1000
  /** Watermark delay for the incremental run — must cover the spool's
    * full event-time span (see runSessionizeOnce).
    */
  private val SessWatermarkDelay = "35 days"

  /** Sessionize spool: events split into `nSlices` ts-ranged files so the
    * file source (maxFilesPerTrigger=1, mtime order) delivers them as an
    * ordered feed — open sessions must survive between micro-batches —
    * plus two far-future sentinel files whose events push the final
    * watermark past every real session's end+gap, firing the event-time
    * timeouts that close trailing sessions (sentinel user_id -1 rows are
    * dropped by runSessionizeOnce). Fixture prep, untimed: a real spool
    * exists because events arrived; only its arrival ORDER is synthesized
    * here, via explicit per-file mtimes.
    */
  def stageSessionSpool(s: SparkSession, dir: String, nSlices: Int = 2): String =
    Staging.once("stream_sess", dir, s"_n$nSlices") { tmp =>
      val ev = streamEvents(s, dir)
        .localCheckpoint(eager = true) // consumed nSlices+2 times below
      val us = unix_micros(col("ts"))
      val bounds = ev.select(percentile_approx(us,
          typedLit((1 until nSlices).map(_.toDouble / nSlices)), lit(10000)).as("b"))
        .head().getSeq[Long](0)
      val maxRow = ev.agg(max(us)).head()
      if (maxRow.isNullAt(0))
        sys.error(s"stageSessionSpool: events table under $dir is empty — " +
          "cannot stage a session spool with no events")
      val maxUs = maxRow.getLong(0)
      val slice = bounds.foldLeft(lit(0)) { (acc, b) =>
        acc + when(us > b, 1).otherwise(0)
      }
      val delayUs = 35L * 24 * 3600 * 1000000L // = SessWatermarkDelay
      val sentinels = Seq(maxUs + delayUs + 2 * SessGapMs * 1000,
        maxUs + delayUs + 3 * SessGapMs * 1000)
      import s.implicits._
      val slices: Seq[org.apache.spark.sql.DataFrame] =
        (0 until nSlices).map(i => ev.filter(slice === i)) ++
          sentinels.zipWithIndex.map { case (ts, i) =>
            Seq((-1L - i, new java.sql.Timestamp(ts / 1000), -1L, "sentinel", 0.0))
              .toDF("event_id", "ts", "user_id", "event_type", "value")
              .withColumn("ts", timestamp_micros(lit(ts)))
          }
      slices.zipWithIndex.foreach { case (df, i) => stageSpoolFile(df, tmp, i) }
    }

  /** Write one spool slice as a single parquet file `spool_NNN.parquet`
    * under `tmp`, with mtime = slice order (the file source processes
    * oldest-first, so arrival order IS slice order). coalesce(1) must
    * yield exactly one part — a second one would be silently dropped and
    * the spool would lose events.
    */
  private[queries] def stageSpoolFile(df: org.apache.spark.sql.DataFrame, tmp: String, i: Int): Unit = {
    val stage = s"$tmp/.stage_$i"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val parts = new java.io.File(stage).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(parts.length == 1,
      s"stageSpoolFile: expected exactly 1 part file in $stage, found ${parts.length}")
    val target = new java.io.File(tmp, f"spool_$i%03d.parquet")
    java.nio.file.Files.move(parts.head.toPath, target.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    target.setLastModified(1600000000000L + i * 60000L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
  }

  /** Upsert spool: `nSlices` "import wave" files — slice i holds the
    * events with event_id % nSlices == i, pre-deduped to ONE row per
    * user_id (the max-(ts, event_id) row, so each file is a well-formed
    * import batch with unique keys) — delivered in slice order via
    * explicit mtimes. Cross-batch key overlap is the point: most users
    * appear in several slices, so later batches UPDATE rows earlier
    * batches created. Everything is a deterministic function of the
    * events table, so a SQL oracle can replay both the final table and
    * the created/updated split.
    */
  def stageUpsertSpool(s: SparkSession, dir: String, nSlices: Int = 3): String =
    Staging.once("stream_upsert", dir, s"_n$nSlices") { tmp =>
      import org.apache.spark.sql.expressions.Window
      val ev = streamEvents(s, dir)
      (0 until nSlices).foreach { i =>
        val slice = ev.filter(col("event_id") % nSlices === i)
          .withColumn("__rn", row_number().over(Window.partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)))
          .filter(col("__rn") === 1).drop("__rn")
        stageSpoolFile(slice, tmp, i)
      }
    }

  private val docsWithCopiesSql =
    """(SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)""".stripMargin
  private val docsWithVariantsSql =
    """(SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 100000, text || ' zzvariant' FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  // ------------------------------------------------------------- dedup
  val dedupExact = q("x_dedup_exact",
    s"""SELECT min(doc_id) AS canonical_id, count(*) AS n_dups
       |FROM $docsWithCopiesSql GROUP BY md5(text) HAVING count(*) > 1""".stripMargin) {
    (s, dir) => Dedup.exactGroups(docsWithCopies(s, dir), Seq("text"), "doc_id")
  }

  /** End-to-end dedup RESOLVE (pairs → components → keep-canonical
    * rewrite) on the known-duplicate corpus, hash-matched in SQL: the
    * candidate pairs here are exact-text star edges (member → group min,
    * linear via one text-partitioned window), so the surviving set is
    * exactly "the minimum doc_id of each text group" — which DuckDB
    * replays directly. The clustering + anti-join machinery under test
    * is the same one minhash/simhash/embedding candidates feed.
    */
  val dedupResolve = q("x_dedup_resolve",
    // a NULL text is no evidence of duplication: NULL-text docs pair with
    // nothing and all survive, on BOTH sides (the null-rejecting SQL join
    // alone would silently drop them; the window alone would group them)
    s"""WITH corpus AS (SELECT * FROM $docsWithCopiesSql)
       |SELECT doc_id FROM corpus WHERE text IS NULL
       |UNION ALL
       |SELECT c.doc_id FROM corpus c
       |JOIN (SELECT text, min(doc_id) AS m FROM corpus GROUP BY text) g
       |ON c.text = g.text WHERE c.doc_id = g.m""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val corpus = docsWithCopies(s, dir)
    val w = Window.partitionBy(col("text"))
    val pairs = corpus
      .filter(col("text").isNotNull)
      .withColumn("__m", min(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("__m"))
      .select(col("__m").as("id_a"), col("doc_id").as("id_b"))
    Dedup.dropNearDuplicates(corpus, "doc_id", pairs).select(col("doc_id"))
  }

  /** Banded-LSH MinHash candidates with the ENGINE-PORTABLE family
    * ([[graft.ext.PortableHash]]): md5-prefix shingle hashes, the affine
    * family h_k = (a_k·h + b_k) mod 2^61-1 with md5-derived constants,
    * raw-string band keys. The oracle regenerates the 64-member family
    * inline and replays signature → banding → bucket cap → pair join →
    * estimated jaccard, so the whole sketch pipeline hash-matches
    * cross-engine (previously rows-only: the XXH64 family is not
    * DuckDB-expressible; that family remains the throughput default and
    * keeps its own recall gate below). est_jaccard values are exact
    * binary rationals k/64 — bit-identical on both engines unrounded.
    */
  /** The portable affine family (a_k, b_k) as a CTE — regenerated
    * inline by every minhash oracle, never pasted constants.
    */
  private[queries] val minhashFamSql =
    """fam AS (
      |  SELECT k,
      |         CAST((CAST('0x'||substring(md5('a:'||k),1,15) AS UBIGINT) % 2305843009213693950) + 1 AS HUGEINT) AS a,
      |         CAST(CAST('0x'||substring(md5('b:'||k),1,15) AS UBIGINT) % 2305843009213693951 AS HUGEINT) AS b
      |  FROM UNNEST(generate_series(0, 63)) AS g(k))""".stripMargin

  /** The portable minhash pipeline (tokenize → 3-shingle md5 hashes →
    * 64-family affine minima → ordered signature → 16 string band keys)
    * over the CTE named `corpus`, each stage prefixed `p` — the shared
    * replay text of the self-join and cross-corpus oracles. Geometry
    * literals (3-shingles via t[i:i+2], 64 hashes, 4-row bands) are the
    * fixture parameters of both queries; change them together with the
    * Scala calls or not at all.
    */
  private[queries] def minhashCteSql(p: String, corpus: String): String =
    s"""${p}_toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\W+'), x -> x <> '') AS t
       |  FROM $corpus),
       |${p}_sh AS (
       |  SELECT DISTINCT doc_id,
       |         CAST(CAST('0x' || substring(md5(array_to_string(t[u.i:u.i+2], ' ')), 1, 15) AS UBIGINT) AS BIGINT) AS h
       |  FROM ${p}_toks, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)),
       |${p}_sig AS (
       |  SELECT doc_id, k, min(CAST((a * h + b) % 2305843009213693951 AS BIGINT)) AS m
       |  FROM ${p}_sh CROSS JOIN fam GROUP BY doc_id, k),
       |${p}_sigs AS (SELECT doc_id, list(m ORDER BY k) AS sig FROM ${p}_sig GROUP BY doc_id),
       |${p}_banded AS (
       |  SELECT doc_id, sig, array_to_string(sig[b*4+1:b*4+4], ',') || ',' || b AS bk
       |  FROM ${p}_sigs, UNNEST(generate_series(0, 15)) AS gb(b))""".stripMargin

  val dedupMinhash = q("x_dedup_minhash",
    s"""WITH corpus AS (SELECT doc_id, text FROM $docsWithVariantsSql),
       |$minhashFamSql,
       |${minhashCteSql("m", "corpus")},
       |ok AS (SELECT bk FROM m_banded GROUP BY bk HAVING count(*) > 1 AND count(*) <= 1000),
       |inb AS (SELECT m_banded.* FROM m_banded JOIN ok USING (bk)),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
       |  FROM inb a JOIN inb b USING (bk) WHERE a.doc_id < b.doc_id)
       |SELECT DISTINCT id_a, id_b,
       |       len(list_filter(range(1, 65), i -> sa[i] = sb[i])) / 64.0 AS est_jaccard
       |FROM pairs
       |WHERE len(list_filter(range(1, 65), i -> sa[i] = sb[i])) / 64.0 >= 0.5""".stripMargin) {
    (s, dir) =>
      Dedup.minhashCandidates(docsWithVariants(s, dir), "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, minEstJaccard = 0.5,
        portable = true)
  }

  /** Cross-corpus admission dedup: an INCOMING batch (every 5th doc
    * lightly edited + every 9th verbatim, under fresh ids) joined
    * against the existing corpus via [[Dedup.minhashJoin]] — the
    * "screen the new crawl against what we already hold" shape. The
    * oracle replays BOTH sides' portable sketch pipelines and the
    * combined-population bucket cap.
    */
  val dedupCross = q("x_dedup_cross",
    s"""WITH $minhashFamSql,
       |l_corpus AS (SELECT doc_id, text FROM documents),
       |r_corpus AS (
       |  SELECT doc_id + 200000 AS doc_id, text || ' zznew' AS text
       |  FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 300000, text FROM documents WHERE doc_id % 9 = 0),
       |${minhashCteSql("l", "l_corpus")},
       |${minhashCteSql("r", "r_corpus")},
       |sizes AS (
       |  SELECT bk FROM (SELECT bk FROM l_banded UNION ALL SELECT bk FROM r_banded)
       |  GROUP BY bk HAVING count(*) > 1 AND count(*) <= 1000),
       |la AS (SELECT l_banded.* FROM l_banded JOIN sizes USING (bk)),
       |rb AS (SELECT r_banded.* FROM r_banded JOIN sizes USING (bk)),
       |pairs AS (
       |  SELECT la.doc_id AS left_id, rb.doc_id AS right_id, la.sig AS sa, rb.sig AS sb
       |  FROM la JOIN rb USING (bk))
       |SELECT DISTINCT left_id, right_id,
       |       len(list_filter(range(1, 65), i -> sa[i] = sb[i])) / 64.0 AS est_jaccard
       |FROM pairs
       |WHERE len(list_filter(range(1, 65), i -> sa[i] = sb[i])) / 64.0 >= 0.5""".stripMargin) {
    (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val incoming = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zznew")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 300000).as("doc_id"), col("text")))
      Dedup.minhashJoin(docs, incoming, "doc_id", "text", portable = true)
  }

  /** SimHash near-dup pairs with PORTABLE token hashes (60-bit md5
    * prefix — signature bits 60..63 vote to 0 identically on every
    * engine): the oracle replays token hashing, the ±1 bit votes, the
    * 16-bit pigeonhole blocks with their hot-bucket cap, and the exact
    * hamming epilogue. The XXH64 form stays the throughput default
    * under its recall gate.
    */
  val dedupSimhash = q("x_dedup_simhash",
    s"""WITH corpus AS (SELECT doc_id, text FROM $docsWithVariantsSql),
       |tok AS (
       |  SELECT doc_id, u.t AS t FROM (
       |    SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\W+'), x -> x <> '') AS ts
       |    FROM corpus), UNNEST(ts) AS u(t)),
       |th AS (SELECT doc_id, CAST(CAST('0x'||substring(md5(t),1,15) AS UBIGINT) AS BIGINT) AS h FROM tok),
       |votes AS (
       |  SELECT doc_id, b, sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th, UNNEST(generate_series(0, 59)) AS g(b) GROUP BY doc_id, b),
       |sig AS (
       |  SELECT doc_id, sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sh
       |  FROM votes GROUP BY doc_id),
       |blocked AS (
       |  SELECT doc_id, sh, blk, (sh >> (blk * 16)) & 65535 AS bv
       |  FROM sig, UNNEST(generate_series(0, 3)) AS gb(blk)),
       |ok AS (SELECT blk, bv FROM blocked GROUP BY blk, bv HAVING count(*) > 1 AND count(*) <= 1000),
       |inb AS (SELECT blocked.* FROM blocked JOIN ok USING (blk, bv)),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.sh, b.sh)) AS hamming
       |  FROM inb a JOIN inb b USING (blk, bv) WHERE a.doc_id < b.doc_id)
       |SELECT id_a, id_b, min(hamming) AS hamming FROM pairs
       |WHERE hamming <= 3 GROUP BY id_a, id_b""".stripMargin) { (s, dir) =>
    Dedup.simhashPairs(docsWithVariants(s, dir), "doc_id", "text",
      maxHamming = 3, portable = true)
  }

  /** Oracle mirrors the operator's document-frequency cap (shingles with
    * df > 1000 excluded from intersection AND sizes) so the comparison is
    * exact at every sf, not just where no shingle hits the cap.
    */
  /** The shared span-pipeline CTE prefix (tokenize → k-gram enumeration
    * → census → islands → spans) used by all three span oracles — k=8 is
    * baked in as the literal 7s; change it HERE and in the three Scala
    * calls together, never in one oracle alone.
    */
  private val spanCtePrefix =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\W+'), x -> x <> '') AS t
       |  FROM $docsWithCopiesSql),
       |pos AS (
       |  SELECT doc_id, u.i AS i, array_to_string(t[u.i:u.i+7], ' ') AS g
       |  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)),
       |dup AS (SELECT g FROM pos GROUP BY g HAVING count(*) >= 2),
       |d AS (SELECT doc_id, i FROM pos WHERE g IN (SELECT g FROM dup)),
       |isl AS (SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM d),
       |spans AS (SELECT doc_id, min(i) - 1 AS s, max(i) - 1 + 7 AS e
       |          FROM isl GROUP BY doc_id, grp)""".stripMargin

  /** Span-level exact dedup: every maximal token run whose k-grams all
    * occur ≥ 2 times in the corpus (the published exact-substring dedup
    * granularity — boilerplate and copy-pasted passages duplicate at
    * span level long before documents are near-duplicates). The oracle
    * replays the whole pipeline in SQL — tokenize, enumerate k-grams,
    * census, gaps-and-islands — so a boundary bug (off-by-one span end,
    * a gram hash splitting a run) breaks the hash, not just the count.
    */
  val dedupSpans = q("x_dedup_spans",
    s"""$spanCtePrefix
       |SELECT doc_id, CAST(min(i) - 1 AS INTEGER) AS span_start,
       |       CAST(max(i) - 1 + 7 AS INTEGER) AS span_end,
       |       CAST(count(*) AS INTEGER) AS n_grams
       |FROM isl GROUP BY doc_id, grp""".stripMargin) { (s, dir) =>
    Dedup.duplicatedSpans(docsWithCopies(s, dir), "doc_id", "text", k = 8)
  }

  /** The per-document duplication profile over the same spans — the
    * filter-threshold signal (drop or trim documents past a duplicated
    * fraction).
    */
  val dedupSpanStats = q("x_dedup_span_stats",
    s"""$spanCtePrefix,
       |mk AS (SELECT doc_id, s, e,
       |         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |              THEN 1 ELSE 0 END AS nw
       |       FROM spans),
       |grp2 AS (SELECT doc_id, s, e, sum(nw) OVER (PARTITION BY doc_id ORDER BY s
       |           ROWS UNBOUNDED PRECEDING) AS g FROM mk),
       |uni AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM grp2 GROUP BY doc_id, g),
       |agg AS (SELECT doc_id, sum(e - s + 1) AS dup FROM uni GROUP BY doc_id)
       |SELECT t.doc_id,
       |       CAST(coalesce(a.dup, 0) AS INTEGER) AS dup_tokens,
       |       CAST(len(t.t) AS INTEGER) AS total_tokens,
       |       round(coalesce(a.dup, 0) / greatest(CAST(len(t.t) AS DOUBLE), 1.0), 4) AS dup_fraction
       |FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id""".stripMargin) { (s, dir) =>
    Dedup.spanDuplicationStats(docsWithCopies(s, dir), "doc_id", "text", k = 8)
  }

  /** The remediation half: documents rewritten with duplicated spans
    * CUT (the published exact-substring pipelines remove the repeated
    * passages from training text; the drop decision stays a separate
    * filter). Every input doc keeps a row — fully-duplicated docs carry
    * the empty string. Oracle rebuilds the rewrite token-by-token.
    */
  val dedupSpanRemove = q("x_dedup_span_remove",
    s"""$spanCtePrefix,
       |cov AS (SELECT DISTINCT doc_id, u.p AS p FROM spans, UNNEST(generate_series(s, e)) AS u(p)),
       |tk AS (SELECT doc_id, u.i AS i, t[u.i] AS tok FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)),
       |kept AS (
       |  SELECT tk.doc_id AS kid, string_agg(tk.tok, ' ' ORDER BY tk.i) AS clean
       |  FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.i - 1 = cov.p
       |  WHERE cov.p IS NULL GROUP BY tk.doc_id)
       |SELECT t.doc_id, coalesce(k.clean, '') AS clean_text
       |FROM toks t LEFT JOIN kept k ON t.doc_id = k.kid""".stripMargin) { (s, dir) =>
    Dedup.removeDuplicatedSpans(docsWithCopies(s, dir), "doc_id", "text", k = 8)
  }

  val dedupJaccard = q("x_dedup_ngram_jaccard",
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\W+'), x -> x <> '') AS t
       |  FROM $docsWithVariantsSql),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2),
       |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
       |  FROM toks WHERE len(t) >= 3),
       |ex AS (SELECT doc_id, unnest(g) AS s FROM sh),
       |exf AS (SELECT doc_id, s FROM (
       |          SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM ex)
       |        WHERE df <= 1000),
       |sz AS (SELECT doc_id, count(*) AS sz FROM exf GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |          FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT id_a, id_b, round(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jaccard
       |FROM inter
       |JOIN sz sa ON sa.doc_id = id_a
       |JOIN sz sb ON sb.doc_id = id_b
       |WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 4) >= 0.5""".stripMargin) {
    (s, dir) =>
      Dedup.ngramJaccardPairs(docsWithVariants(s, dir), "doc_id", "text",
        shingleSize = 3, threshold = 0.5, maxShingleDf = 1000)
  }

  private[queries] def embWithVariants(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"), col("label"))
    e.unionByName(e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.01)).cast("float")).as("embedding"),
        col("label")))
  }
  private[queries] val embWithVariantsSql =
    """(SELECT vec_id, embedding, label FROM embeddings
      | UNION ALL
      | SELECT vec_id + 100000, list_transform(embedding, x -> CAST(x * 1.01 AS FLOAT)), label
      | FROM embeddings WHERE vec_id % 10 = 0)""".stripMargin

  val dedupEmbCos = q("x_dedup_embcos",
    s"""WITH e AS (SELECT * FROM $embWithVariantsSql)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |             CAST(b.embedding AS DOUBLE[])), 4) AS cosine
       |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |            CAST(b.embedding AS DOUBLE[])), 4) >= 0.99""".stripMargin) {
    (s, dir) =>
      Dedup.embeddingCosinePairs(embWithVariants(s, dir), "vec_id", "embedding",
        "label", threshold = 0.99)
  }

  /** Embedding near-dup with LSH hyperplane blocking instead of labels —
    * the unlabeled-corpus scale path, now with the PORTABLE bucket
    * ([[graft.ext.Similarity.hyperplaneBucketPortable]]): md5-derived
    * integer hyperplanes against the 1e-6-quantized vector, sign bits
    * from exact 64-bit integer dot products — no float accumulation
    * order anywhere in the blocking, so the oracle replays bucket
    * assignment, the block-size cap, and the rounded-cosine epilogue
    * (the same `list_cosine_similarity` discipline `x_dedup_embcos`
    * already hash-matches). The gaussian-plane float form keeps its
    * recall gate.
    */
  val dedupEmbLsh = q("x_dedup_embcos_lsh",
    s"""WITH e AS (SELECT vec_id, embedding FROM $embWithVariantsSql),
       |q AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM e),
       |plane AS (
       |  SELECT k, j,
       |         (CAST(CAST('0x'||substring(md5('hp:'||k||':'||j),1,15) AS UBIGINT) AS BIGINT) % 2001) - 1000 AS w
       |  FROM UNNEST(generate_series(0, 7)) AS gk(k), UNNEST(generate_series(0, 63)) AS gj(j)),
       |dots AS (
       |  SELECT vec_id, k, sum(qv[j + 1] * w) AS dot
       |  FROM q, plane GROUP BY vec_id, k),
       |bkt AS (
       |  SELECT vec_id, sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS bucket
       |  FROM dots GROUP BY vec_id),
       |eb AS (SELECT e.vec_id, e.embedding, b.bucket FROM e JOIN bkt b USING (vec_id)),
       |ok AS (SELECT bucket FROM eb GROUP BY bucket HAVING count(*) > 1 AND count(*) <= 10000),
       |g AS (SELECT eb.* FROM eb JOIN ok USING (bucket))
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |             CAST(b.embedding AS DOUBLE[])), 4) AS cosine
       |FROM g a JOIN g b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |            CAST(b.embedding AS DOUBLE[])), 4) >= 0.99""".stripMargin) { (s, dir) =>
    val withBucket = embWithVariants(s, dir)
      .withColumn("bucket",
        graft.ext.Similarity.hyperplaneBucketPortable(col("embedding"), dim = 64))
    Dedup.embeddingCosinePairs(withBucket, "vec_id", "embedding", "bucket", threshold = 0.99)
  }

  /** SemDeDup end-to-end over the variant-planted embeddings, blocked by
    * the PERSISTED IVF coarse quantizer (the production shape: a corpus
    * carrying an ANN index reuses its trained centroids for semantic
    * dedup). Hash-matched: given the stored centroids every stage is
    * deterministic SQL — nearest-centroid assignment (cosine desc, cid
    * tie-break), within-cluster pairing at the rounded-cosine threshold,
    * connected components via recursive min-label propagation, and the
    * keep-minimum-id survivor cut. The cap is lifted far above the
    * corpus so the hot-cluster judgment is inert in the gate (cap
    * mechanics are embeddingCosinePairs', spec-covered).
    */
  val dedupSemantic = q("x_dedup_semantic",
    s"""WITH RECURSIVE e AS (SELECT vec_id, embedding FROM $embWithVariantsSql),
       |cent AS (
       |  SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivf/coarse/*.parquet')),
       |asg AS (
       |  SELECT vec_id, __cid AS cl FROM (
       |    SELECT e.vec_id, c.__cid,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.centroid) DESC,
       |             c.__cid) AS rn
       |    FROM e, cent c) WHERE rn = 1),
       |ok AS (SELECT cl FROM asg GROUP BY cl HAVING count(*) > 1 AND count(*) <= 100000),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM asg a JOIN ok USING (cl) JOIN asg b USING (cl)
       |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
       |  WHERE a.vec_id < b.vec_id
       |    AND round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |              CAST(eb.embedding AS DOUBLE[])), 4) >= 0.99),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)
       |  UNION
       |  SELECT g.dst, r.lbl FROM reach r JOIN edges g ON g.src = r.id),
       |comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id)
       |SELECT vec_id FROM e
       |WHERE vec_id NOT IN (SELECT id FROM comp WHERE id <> lbl)""".stripMargin) {
    (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    Dedup.semanticDedup(embWithVariants(s, dir), "vec_id", "embedding",
        AnnIndex.readIvf(s, s"$idx/ivf").coarse,
        threshold = 0.99, maxClusterSize = 100000)
      .select(col("vec_id"))
  }

  // -------------------------------------------------------- similarity
  val knnBrute = q("x_knn_brute",
    """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
      |         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS c
      |  FROM q, embeddings e WHERE e.vec_id <> q.qid),
      |r AS (SELECT query_id, neighbor_id, c,
      |             row_number() OVER (PARTITION BY query_id ORDER BY round(c, 4) DESC, neighbor_id) AS rank
      |      FROM scored)
      |SELECT query_id, rank, neighbor_id, round(c, 4) AS cosine FROM r WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 5)
  }

  /** IVF-flat ANN against the PERSISTED cluster-partitioned index: the
    * nprobe filter is parquet partition pruning; scoring is exact codegen
    * cosine over the surviving nprobe/nlist of the corpus.
    */
  /** Hash-matched against a DuckDB replay over the persisted index
    * tables (the x_knn_ivfsq technique): given the stored coarse
    * centroids the whole query path is deterministic SQL — probe
    * selection, the pruned cluster restriction, exact cosine over the
    * stored vectors, top-k.
    */
  val knnIvf = q("x_knn_ivf",
    """WITH qv AS (
      |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id < 5),
      |cent AS (
      |  SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivf/coarse/*.parquet')),
      |probe AS (
      |  SELECT qid, __cid,
      |         row_number() OVER (PARTITION BY qid ORDER BY
      |           list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * centroid[i]))
      |             / (sqrt(list_sum(list_transform(v, x -> x*x)))
      |                * sqrt(list_sum(list_transform(centroid, x -> x*x)))) DESC,
      |           __cid) AS pr
      |  FROM qv, cent),
      |probed AS (SELECT qid, __cid FROM probe WHERE pr <= 4),
      |vecs AS (
      |  SELECT __id AS nid, CAST(__cluster AS INTEGER) AS cl,
      |         list_transform(__vec, x -> CAST(x AS DOUBLE)) AS w
      |  FROM read_parquet('__GRAFT_ANNIDX__/ivf/vectors/*/*.parquet', hive_partitioning=1)),
      |scored AS (
      |  SELECT p.qid, vecs.nid,
      |         round(list_sum(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * vecs.w[i]))
      |           / (sqrt(list_sum(list_transform(q.v, x -> x*x)))
      |              * sqrt(list_sum(list_transform(vecs.w, x -> x*x)))), 4) AS s
      |  FROM probed p JOIN vecs ON vecs.cl = p.__cid
      |  JOIN qv q ON q.qid = p.qid
      |  WHERE p.qid <> vecs.nid),
      |ranked AS (
      |  SELECT qid AS query_id, nid AS neighbor_id, s AS cosine,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb = Tables.embeddings(s, dir)
    AnnIndex.ivfTopK(s, AnnIndex.readIvf(s, s"$idx/ivf"),
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5, nprobe = 4)
  }

  /** The autotune oracle: replay the brute-force reference and every
    * candidate's pruned serving from the stored IVF tables, count hits
    * as integers, quantize recall to fixed point, and replay the
    * smallest-meeting-candidate selection.
    */
  private def knnAutotuneSql(candidates: Seq[Int], k: Int,
      target: Long): String = {
    def cos(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))" +
        s" / (sqrt(list_sum(list_transform($a, x -> x*x)))" +
        s" * sqrt(list_sum(list_transform($b, x -> x*x))))"
    val served = candidates.map { np =>
      s"""s$np AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p.qid AS query_id, v.nid AS neighbor_id,
         |           row_number() OVER (PARTITION BY p.qid ORDER BY
         |             round(${cos("q.v", "v.w")}, 4) DESC, v.nid) AS rank
         |    FROM (SELECT qid, __cid FROM probe WHERE pr <= $np) p
         |    JOIN vecs v ON v.cl = p.__cid
         |    JOIN qv q ON q.qid = p.qid
         |    WHERE p.qid <> v.nid)
         |  WHERE rank <= $k),
         |h$np AS (
         |  SELECT $np AS np,
         |         (SELECT CAST(count(*) AS BIGINT)
         |          FROM s$np s JOIN ref USING (query_id, neighbor_id)) AS hits)""".stripMargin
    }.mkString(",\n")
    val unions = candidates.map(np => s"SELECT * FROM h$np")
      .mkString("\n  UNION ALL ")
    s"""WITH qv AS (
       |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE vec_id < 8),
       |cent AS (SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivf/coarse/*.parquet')),
       |probe AS (
       |  SELECT qid, __cid,
       |         row_number() OVER (PARTITION BY qid ORDER BY
       |           list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * centroid[i]))
       |             / (sqrt(list_sum(list_transform(v, x -> x*x)))
       |                * sqrt(list_sum(list_transform(centroid, x -> x*x)))) DESC,
       |           __cid) AS pr
       |  FROM qv, cent),
       |vecs AS (
       |  SELECT __id AS nid, CAST(__cluster AS INTEGER) AS cl,
       |         list_transform(__vec, x -> CAST(x AS DOUBLE)) AS w
       |  FROM read_parquet('__GRAFT_ANNIDX__/ivf/vectors/*/*.parquet', hive_partitioning=1)),
       |ref AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.qid AS query_id, v.nid AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.qid ORDER BY
       |             round(${cos("q.v", "v.w")}, 4) DESC, v.nid) AS rank
       |    FROM qv q, vecs v WHERE v.nid <> q.qid)
       |  WHERE rank <= $k),
       |$served,
       |r AS (
       |  $unions),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS possible FROM ref),
       |e AS (SELECT np, hits, possible,
       |             CASE WHEN possible = 0 THEN CAST(0 AS BIGINT)
       |                  ELSE CAST(floor(CAST(hits AS DOUBLE)/possible*1000000.0) AS BIGINT)
       |             END AS recall_q
       |      FROM r, tot),
       |m AS (SELECT *, recall_q >= $target AS meets FROM e),
       |sel AS (SELECT min(CASE WHEN meets THEN np END) AS mnp, max(np) AS mxnp FROM m)
       |SELECT m.np AS nprobe, m.hits, m.possible, m.recall_q, m.meets,
       |       m.np = coalesce(sel.mnp, sel.mxnp) AS chosen
       |FROM m, sel""".stripMargin
  }

  /** Recall-driven operating-point selection
    * ([[graft.ext.AnnIndex.autotuneNprobe]]) — the FAISS-autotune knob:
    * per candidate nprobe the measured recall@5 against the index's own
    * live vectors (integer hits, fixed-point recall), and `chosen` on
    * the smallest candidate meeting the target. The oracle replays the
    * reference, every candidate's pruned serving, the quantization AND
    * the selection from the stored tables — a tuner that picks a wrong
    * operating point hash-fails, not just one that mismeasures.
    */
  val knnAutotune = q("x_knn_autotune",
    knnAutotuneSql(Seq(1, 2, 4, 8), k = 5, target = 700000L)) { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb = Tables.embeddings(s, dir)
    AnnIndex.autotuneNprobe(s, s"$idx/ivf", emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 5, targetRecallQ = 700000L,
      candidates = Seq(1, 2, 4, 8))
      .withColumnRenamed("nprobe", "nprobe")
  }

  /** Product-quantization ANN (8 subspaces × 16 codes over the 64-dim
    * embeddings) against the PERSISTED index — build once (input prep),
    * query many: the timed path is a codes scan + broadcast ADC lookup,
    * zero training. Approximate ranks, so rows-only — quality is gated
    * by the lossless-mechanics, error-band, and persistence gates below.
    */
  /** Hash-matched against a DuckDB replay over the persisted index
    * tables: given the stored codebooks and codes, the ADC query path —
    * per-(query, subspace, code) LUT of partial dots, the (subspace,
    * code) join, the per-neighbor sum, top-k — is deterministic SQL.
    * The subspace width 8 is the fixture geometry (64-dim / m=8), like
    * k=5 and nprobe=4 in the sibling oracles.
    */
  val knnPq = q("x_knn_pq",
    """WITH qv AS (
      |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id < 5),
      |nq AS (
      |  SELECT qid,
      |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      |  FROM qv),
      |cb AS (
      |  SELECT __j, __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/pq/codebooks/*.parquet')),
      |lut AS (
      |  SELECT qid, __j, __cid AS code,
      |         list_sum(list_transform(generate_series(1, len(centroid)),
      |           i -> u[__j * 8 + i] * centroid[i])) AS p
      |  FROM nq, cb),
      |codes AS (
      |  SELECT __id AS nid, __j, __code FROM read_parquet('__GRAFT_ANNIDX__/pq/codes/*.parquet')),
      |scored AS (
      |  SELECT l.qid, c.nid, round(sum(l.p), 4) AS s
      |  FROM codes c JOIN lut l ON l.__j = c.__j AND l.code = c.__code
      |  WHERE l.qid <> c.nid GROUP BY l.qid, c.nid),
      |ranked AS (
      |  SELECT qid AS query_id, nid AS neighbor_id, s AS cosine_pq,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cosine_pq FROM ranked WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb = Tables.embeddings(s, dir)
    AnnIndex.pqTopK(s, s"$idx/pq", emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", 5)
  }

  /** Duplicate-cluster assembly: candidate pairs → connected components.
    * Planted topology per 10th doc: d—d+1e10, d—d+2e10, d+1e10—d+3e10
    * (a depth-2 chain from the minimum), so propagation must run more
    * than one round; ground truth is closed-form and every isolated doc
    * keeps its own id. Offsets are 1e10 so planted ids can never collide
    * with real doc_ids at any test scale factor.
    */
  val dedupComponents = q("x_dedup_components",
    """SELECT doc_id AS id, doc_id AS component FROM documents
      |UNION ALL SELECT doc_id + 10000000000, doc_id FROM documents WHERE doc_id % 10 = 0
      |UNION ALL SELECT doc_id + 20000000000, doc_id FROM documents WHERE doc_id % 10 = 0
      |UNION ALL SELECT doc_id + 30000000000, doc_id FROM documents WHERE doc_id % 10 = 0""".stripMargin) {
    (s, dir) =>
      val off = 10000000000L
      val d = Tables.documents(s, dir).select(col("doc_id"))
      val planted = d.filter(col("doc_id") % 10 === 0)
      val nodes = d.unionByName(planted.select((col("doc_id") + off).as("doc_id")))
        .unionByName(planted.select((col("doc_id") + 2 * off).as("doc_id")))
        .unionByName(planted.select((col("doc_id") + 3 * off).as("doc_id")))
      val edges = planted.select(col("doc_id").as("id_a"), (col("doc_id") + off).as("id_b"))
        .unionByName(planted.select(col("doc_id").as("id_a"), (col("doc_id") + 2 * off).as("id_b")))
        .unionByName(planted.select((col("doc_id") + off).as("id_a"), (col("doc_id") + 3 * off).as("id_b")))
      Dedup.connectedComponents(nodes, "doc_id", edges)
  }

  /** Duplicate-cluster size AUDIT over the planted component topology:
    * every 10th doc anchors a 4-node chain, everything else is a
    * singleton — so the histogram is closed-form and the whole
    * clustering + histogram pipeline hash-matches it (n_docs carried
    * per row, so the report sums back to the node count).
    */
  val dedupClusterSizes = q("x_dedup_cluster_sizes",
    """WITH d AS (
      |  SELECT count(*) AS n_total,
      |         sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS n_p
      |  FROM documents)
      |SELECT CAST(1 AS BIGINT) AS cluster_size,
      |       CAST(n_total - n_p AS BIGINT) AS n_clusters,
      |       CAST(n_total - n_p AS BIGINT) AS n_docs
      |FROM d WHERE n_total - n_p > 0
      |UNION ALL
      |SELECT 4, CAST(n_p AS BIGINT), CAST(4 * n_p AS BIGINT)
      |FROM d WHERE n_p > 0""".stripMargin) { (s, dir) =>
    val off = 10000000000L
    val d = Tables.documents(s, dir).select(col("doc_id"))
    val planted = d.filter(col("doc_id") % 10 === 0)
    val nodes = d.unionByName(planted.select((col("doc_id") + off).as("doc_id")))
      .unionByName(planted.select((col("doc_id") + 2 * off).as("doc_id")))
      .unionByName(planted.select((col("doc_id") + 3 * off).as("doc_id")))
    val edges = planted.select(col("doc_id").as("id_a"), (col("doc_id") + off).as("id_b"))
      .unionByName(planted.select(col("doc_id").as("id_a"), (col("doc_id") + 2 * off).as("id_b")))
      .unionByName(planted.select((col("doc_id") + off).as("id_a"), (col("doc_id") + 3 * off).as("id_b")))
    Dedup.clusterSizeHistogram(Dedup.connectedComponents(nodes, "doc_id", edges))
  }

  /** EFFECTIVE dataset size per source — the accounting behind every
    * training mix ("N tokens of X" means post-dedup tokens): raw vs
    * exact-dedup doc/token counts, each duplicate group attributed to
    * its canonical (min-id) member's source. The planted 'mirror'
    * source is verbatim copies of every 10th doc, so its effective
    * counts collapse to ZERO (the originals own the canonical) — the
    * cross-source attribution, not per-source-in-isolation dedup, is
    * what the oracle pins.
    */
  val corpusEffectiveSize = q("x_corpus_effective_size",
    """WITH corpus AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text, 'mirror' FROM documents WHERE doc_id % 10 = 0),
      |b AS (
      |  SELECT source AS g, doc_id AS id,
      |         coalesce(md5(text), 'null:' || CAST(doc_id AS VARCHAR)) AS h,
      |         CAST(coalesce(len(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')), 0) AS BIGINT) AS n
      |  FROM corpus),
      |raw AS (SELECT g, CAST(count(*) AS BIGINT) AS nd, CAST(sum(n) AS BIGINT) AS nt FROM b GROUP BY 1),
      |cn AS (SELECT h, arg_min(g, id) AS g, arg_min(n, id) AS n FROM b GROUP BY h),
      |eff AS (SELECT g, CAST(count(*) AS BIGINT) AS nde, CAST(sum(n) AS BIGINT) AS nte FROM cn GROUP BY 1)
      |SELECT r.g AS source, r.nd AS n_docs, r.nt AS n_tokens,
      |       coalesce(e.nde, 0) AS n_docs_effective,
      |       coalesce(e.nte, 0) AS n_tokens_effective,
      |       CASE WHEN r.nt = 0 THEN 0.0
      |            ELSE CAST(r.nt - coalesce(e.nte, 0) AS DOUBLE) / r.nt END AS token_dup_ratio
      |FROM raw r LEFT JOIN eff e USING (g)""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val corpus = docs.select(col("doc_id"), col("text"), col("source"))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"),
          lit("mirror").as("source")))
    Dedup.effectiveSize(corpus, "doc_id", "text", "source")
  }

  /** Effective dataset size under NEAR-dup clustering — the companion
    * of x_corpus_effective_size when paraphrase-level copies dominate:
    * MinHash candidate pairs over the variants corpus resolve into
    * components, the canonical (min-id) member owns each cluster's
    * accounting, and the planted 'variant' source (one-token edits of
    * every 10th doc) collapses to near-zero effective counts. The
    * oracle replays the portable sketch pipeline, the recursive
    * closure, AND the attribution arithmetic.
    */
  val corpusEffectiveNear = q("x_corpus_effective_near",
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, text, source FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text || ' zzvariant', 'variant'
       |  FROM documents WHERE doc_id % 10 = 0),
       |$minhashFamSql,
       |${minhashCteSql("m", "corpus")},
       |ok AS (SELECT bk FROM m_banded GROUP BY bk HAVING count(*) > 1 AND count(*) <= 1000),
       |inb AS (SELECT m_banded.* FROM m_banded JOIN ok USING (bk)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM inb a JOIN inb b USING (bk) WHERE a.doc_id < b.doc_id
       |    AND len(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) / 64.0 >= 0.5),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)
       |  UNION
       |  SELECT g.dst, r.lbl FROM reach r JOIN edges g ON g.src = r.id),
       |comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
       |b AS (
       |  SELECT c.source AS g, c.doc_id AS id,
       |         CAST(coalesce(len(list_filter(string_split_regex(lower(trim(c.text)), '\\W+'), x -> x <> '')), 0) AS BIGINT) AS n,
       |         coalesce(comp.lbl, c.doc_id) AS cmp
       |  FROM corpus c LEFT JOIN comp ON comp.id = c.doc_id),
       |raw AS (SELECT g, CAST(count(*) AS BIGINT) AS nd, CAST(sum(n) AS BIGINT) AS nt FROM b GROUP BY 1),
       |cn AS (SELECT cmp, arg_min(g, id) AS g, arg_min(n, id) AS n FROM b GROUP BY cmp),
       |eff AS (SELECT g, CAST(count(*) AS BIGINT) AS nde, CAST(sum(n) AS BIGINT) AS nte FROM cn GROUP BY 1)
       |SELECT r.g AS source, r.nd AS n_docs, r.nt AS n_tokens,
       |       coalesce(e.nde, 0) AS n_docs_effective,
       |       coalesce(e.nte, 0) AS n_tokens_effective,
       |       CASE WHEN r.nt = 0 THEN 0.0
       |            ELSE CAST(r.nt - coalesce(e.nte, 0) AS DOUBLE) / r.nt END AS token_dup_ratio
       |FROM raw r LEFT JOIN eff e USING (g)""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val corpus = docs.select(col("doc_id"), col("text"), col("source"))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zzvariant")).as("text"),
          lit("variant").as("source")))
    val pairs = Dedup.minhashCandidates(corpus.select(col("doc_id"), col("text")),
        "doc_id", "text", numHashes = 64, bands = 16, shingleSize = 3,
        minEstJaccard = 0.5, portable = true)
      .select(col("id_a"), col("id_b"))
    val comps = Dedup.connectedComponents(
      corpus.select(col("doc_id")), "doc_id", pairs)
    Dedup.effectiveSizeByComponents(corpus, "doc_id", "text", "source", comps)
  }

  /** Per-label embedding centroids (flat shape): the curation-side
    * aggregate over vector columns — partial-aggregated per (label, dim),
    * no vector ever crosses the shuffle whole.
    */
  val embCentroids = q("x_emb_centroids",
    """SELECT label, CAST(i - 1 AS INTEGER) AS dim,
      |       round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS mean
      |FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) g
      |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    Similarity.groupCentroidsFlat(Tables.embeddings(s, dir), "label", "embedding")
      .select(col("label"), col("dim"), round(col("mean"), 4).as("mean"))
  }

  // ----------------------------------------- approximate-operator gates
  /** Quality gates for the approximate operators: each reduces a recall
    * measurement to a BOOLEAN row the DuckDB oracle can assert (`SELECT
    * true`), so a quality regression in a sketch/ANN operator fails
    * CORRECTNESS instead of hiding behind a rows-only check.
    */

  /** IVF mechanics gate — through the SAME persisted partition-pruned
    * path as `x_knn_ivf`: with nprobe = nlist the scan is exhaustive, so
    * IVF must return EXACTLY the brute-force top-k neighbor sets.
    */
  val knnIvfRecall = q("x_knn_ivf_recall", "SELECT true AS recall_ok") { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = AnnIndex.ivfTopK(s, AnnIndex.readIvf(s, s"$idx/ivf"),
        queries, "vec_id", "embedding", 5, nprobe = 16)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    brute.join(ivf, Seq("query_id", "neighbor_id"), "left")
      .agg((count(col("__hit")) === count(lit(1))).as("recall_ok"))
  }

  /** IVF × PQ composed ANN against the PERSISTED cluster-partitioned
    * index: the nprobe filter is parquet partition pruning — only the
    * probed cluster directories are read, no corpus-sized join anywhere
    * on the query path. Approximate twice over, so rows-only; gated by
    * the combined mechanics gate below.
    */
  /** Hash-matched against a DuckDB replay over the persisted index
    * tables: the x_knn_pq ADC oracle composed with the x_knn_ivf probe
    * oracle — probe the stored coarse centroids, restrict the stored
    * cluster-partitioned codes to the probed clusters, LUT-sum, top-k.
    */
  val knnIvfPq = q("x_knn_ivfpq",
    """WITH qv AS (
      |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id < 5),
      |cent AS (
      |  SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivfpq/coarse/*.parquet')),
      |probe AS (
      |  SELECT qid, __cid,
      |         row_number() OVER (PARTITION BY qid ORDER BY
      |           list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * centroid[i]))
      |             / (sqrt(list_sum(list_transform(v, x -> x*x)))
      |                * sqrt(list_sum(list_transform(centroid, x -> x*x)))) DESC,
      |           __cid) AS pr
      |  FROM qv, cent),
      |probed AS (SELECT qid, __cid FROM probe WHERE pr <= 4),
      |nq AS (
      |  SELECT qid,
      |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      |  FROM qv),
      |cb AS (
      |  SELECT __j, __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivfpq/codebooks/*.parquet')),
      |lut AS (
      |  SELECT qid, __j, __cid AS code,
      |         list_sum(list_transform(generate_series(1, len(centroid)),
      |           i -> u[__j * 8 + i] * centroid[i])) AS p
      |  FROM nq, cb),
      |codes AS (
      |  SELECT __id AS nid, __j, __code, CAST(__cluster AS INTEGER) AS cl
      |  FROM read_parquet('__GRAFT_ANNIDX__/ivfpq/codes/*/*.parquet', hive_partitioning=1)),
      |scored AS (
      |  SELECT l.qid, c.nid, round(sum(l.p), 4) AS s
      |  FROM probed p
      |  JOIN codes c ON c.cl = p.__cid
      |  JOIN lut l ON l.qid = p.qid AND l.__j = c.__j AND l.code = c.__code
      |  WHERE l.qid <> c.nid GROUP BY l.qid, c.nid),
      |ranked AS (
      |  SELECT qid AS query_id, nid AS neighbor_id, s AS cosine_pq,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cosine_pq FROM ranked WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb = Tables.embeddings(s, dir)
    AnnIndex.ivfPqTopK(s, AnnIndex.readIvfPq(s, s"$idx/ivfpq"),
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5, nprobe = 4)
  }

  /** IVF×PQ combined mechanics gate — runs through the SAME persisted
    * partition-pruned path as `x_knn_ivfpq`, against the staged 16-vector
    * gate index: with nprobe = nlist (exhaustive probing) AND ksub =
    * corpus size (lossless quantization) BOTH approximations vanish, so
    * the composition must equal brute force.
    */
  val knnIvfPqRecall = q("x_knn_ivfpq_recall", "SELECT true AS recall_ok") { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb16 = Tables.embeddings(s, dir).filter(col("vec_id") < 16)
    val queries = emb16.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(queries, emb16, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"))
    val ivfpq = AnnIndex.ivfPqTopK(s, AnnIndex.readIvfPq(s, s"$idx/ivfpq_gate16"),
        queries, "vec_id", "embedding", 5, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    brute.join(ivfpq, Seq("query_id", "neighbor_id"), "left")
      .agg((count(col("__hit")) === count(lit(1))).as("recall_ok"))
  }

  /** PQ mechanics gate (the quantization analog of the IVF full-probe
    * gate): on a corpus of exactly ksub vectors, the deterministic init
    * makes every subvector its own centroid and Lloyd keeps them there —
    * quantization is LOSSLESS, so PQ's approximate cosine is the exact
    * cosine and the top-k must equal brute force. Runs through the
    * staged lossless gate index; with `x_knn_pq_persist` pinning
    * staged == inline-trained, lossless-indexed == brute here implies
    * the same for the inline form (and SimilaritySpec pins inline
    * losslessness directly on a 5-vector corpus).
    */
  val knnPqRecall = q("x_knn_pq_recall", "SELECT true AS recall_ok") { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb16 = Tables.embeddings(s, dir).filter(col("vec_id") < 16)
    val queries = emb16.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(queries, emb16, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"))
    val pq = AnnIndex.pqTopK(s, s"$idx/pq_gate16", queries, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    brute.join(pq, Seq("query_id", "neighbor_id"), "left")
      .agg((count(col("__hit")) === count(lit(1))).as("recall_ok"))
  }

  /** PQ error-band gate: over every scored (query, corpus) pair, the
    * ADC-approximated cosine must stay within a band of the exact cosine
    * (measured on this corpus: avg ≈ 0.073–0.076 and max ≈ 0.31–0.39
    * across sf0.001/0.01/0.1; bands give ~1.5× headroom — deterministic
    * pipeline, so drift means a code change, not noise).
    */
  val knnPqErr = q("x_knn_pq_err", "SELECT true AS err_ok") { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
    // the SAME persisted index as x_knn_pq — the trio shares one training
    val model = AnnIndex.readPq(s, s"${stageAnnIndexes(s, dir)}/pq")
    val approx = Similarity.pqScores(queries, "vec_id", "embedding", model)
    val q_ = queries.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").as("__qv"))
    val exact = emb.select(col("vec_id").cast("long").as("neighbor_id"),
        col("embedding").as("__cv"))
      .join(broadcast(q_), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("__qv"), col("__cv")).as("__c"))
    approx.join(exact, Seq("query_id", "neighbor_id"))
      .agg((avg(abs(col("cosine_pq") - col("__c"))) <= 0.12 &&
        max(abs(col("cosine_pq") - col("__c"))) <= 0.6).as("err_ok"))
  }

  /** Index-persistence gate: the top-k served from the PERSISTED PQ index
    * must equal the top-k of an in-memory model trained inline with the
    * same geometry — write → read loses nothing (codebooks, codes, and
    * the rounding/tiebreak epilogue all round-trip). Runs on the staged
    * 16-vector gate index (persistence is mechanics; the full-corpus
    * staged index's QUALITY is separately gated by `x_knn_pq_err`), so
    * the inline retrain that gives the gate its independence stays
    * sub-second. Both sides use the deterministic trainer — inequality
    * means a persistence bug, not noise.
    */
  val knnPqPersist = q("x_knn_pq_persist", "SELECT true AS persist_ok") { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb16 = Tables.embeddings(s, dir).filter(col("vec_id") < 16)
    val queries = emb16.filter(col("vec_id") < 5)
    // the two sides are independent until the compare join, and EACH
    // runs its own driver-blocking jobs before any plan exists (the
    // indexed serve's meta/codebook reads; the inline retrain's Lloyd
    // pass) — construct + materialize them concurrently so the gate's
    // wall tracks the slower side, not the sum (the x_text_asof
    // discipline); the checkpointed frames are top-k-sized
    val Seq(indexed, inline) = graft.util.Par.all(2)(Seq(
      () => AnnIndex.pqTopK(s, s"$idx/pq_gate16",
          queries, "vec_id", "embedding", 5)
        .localCheckpoint(eager = true),
      () => Similarity.pqTopK(queries, emb16, "vec_id", "embedding", 5,
          m = 8, ksub = 16, iters = 1)
        .withColumnRenamed("cosine_pq", "__c2")
        .localCheckpoint(eager = true)))
    indexed.join(inline, Seq("query_id", "rank", "neighbor_id"), "full")
      .agg((count(lit(1)) === count(col("cosine_pq")) &&
        count(lit(1)) === count(col("__c2")) &&
        max(abs(col("cosine_pq") - col("__c2"))) <= 1e-9).as("persist_ok"))
  }

  /** Index-append gate (incremental maintenance): an index built on half
    * the corpus and APPENDED with the other half under frozen codebooks
    * must serve exactly the top-k of a one-shot encode of the full
    * corpus against those same codebooks — parquet append preserved
    * every code and the layout. Encoding is deterministic given the
    * codebooks, so inequality means an append bug (lost rows, double
    * rows, partition misplacement), not quantization noise.
    */
  val knnPqAppend = q("x_knn_pq_append", "SELECT true AS append_ok") { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb16 = Tables.embeddings(s, dir).filter(col("vec_id") < 16)
    val queries = emb16.filter(col("vec_id") < 5)
    // independent sides, each with its own construction jobs (the serve's
    // meta/codebook reads vs the reference's model read + encode) —
    // concurrent construction + materialization, the x_knn_pq_persist
    // discipline
    val Seq(indexed, oneShot) = graft.util.Par.all(2)(Seq(
      () => AnnIndex.pqTopK(s, s"$idx/pq_append16",
          queries, "vec_id", "embedding", 5)
        .localCheckpoint(eager = true),
      () => {
        val appended = AnnIndex.readPq(s, s"$idx/pq_append16")
        Similarity.pqTopKWithModel(queries, "vec_id", "embedding",
            Similarity.PqModel(appended.centroids,
              Similarity.pqEncode(emb16, "vec_id", "embedding",
                appended.centroids, appended.m, appended.sub),
              appended.m, appended.sub), 5)
          .withColumnRenamed("cosine_pq", "__c2")
          .localCheckpoint(eager = true)
      }))
    indexed.join(oneShot, Seq("query_id", "rank", "neighbor_id"), "full")
      .agg((count(lit(1)) === count(col("cosine_pq")) &&
        count(lit(1)) === count(col("__c2")) &&
        max(abs(col("cosine_pq") - col("__c2"))) <= 1e-9).as("append_ok"))
  }

  /** Index delete/update gate (the snapshotDiff → index CDC loop): the
    * staged fixture is build(A) + append(B) + tombstone-delete(D = {3,
    * 11}) + update(id 6 re-appended), served through the SAME persisted
    * partition-pruned ivfPqTopK path as `x_knn_ivfpq`. It must equal a
    * one-shot encode of (A ∪ B) ∖ D against the same frozen quantizers
    * (FAISS remove_ids semantics: rebuild-equivalence modulo training,
    * which IS frozen here — encoding is deterministic, so inequality
    * means a liveness bug: a surviving deleted row, a tombstone killing
    * the updated row, or the update's two generations both alive and
    * double-summed by the ADC aggregate). nprobe = nlist, so no
    * candidate hides behind cluster pruning.
    */
  val knnPqDelete = q("x_knn_pq_delete", "SELECT true AS delete_ok") { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb16 = Tables.embeddings(s, dir).filter(col("vec_id") < 16)
    val queries = emb16.filter(col("vec_id") < 5)
    val refCorpus = emb16.filter(!col("vec_id").isin(3, 11))
    // the IVF×PQ and flat-PQ fixtures verify independently — two legs,
    // each with its own store reads + serve-path construction jobs,
    // constructed + materialized concurrently (x_text_asof discipline)
    val Seq(ivfpqOk, pqOk) = graft.util.Par.all(2)(Seq(
      () => {
        val index = AnnIndex.readIvfPq(s, s"$idx/ivfpq_del16")
        val served = AnnIndex.ivfPqTopK(s, index, queries,
          "vec_id", "embedding", 5, nprobe = 4)
        val ref = Similarity.pqTopKWithModel(queries, "vec_id", "embedding",
            Similarity.PqModel(index.codebooks,
              Similarity.pqEncode(refCorpus, "vec_id", "embedding",
                index.codebooks, index.m, index.sub),
              index.m, index.sub), 5)
          .withColumnRenamed("cosine_pq", "__c2")
        served.join(ref, Seq("query_id", "rank", "neighbor_id"), "full")
          .agg((count(lit(1)) === count(col("cosine_pq")) &&
            count(lit(1)) === count(col("__c2")) &&
            max(abs(col("cosine_pq") - col("__c2"))) <= 1e-9).as("__ivfpq_ok"))
          .localCheckpoint(eager = true)
      },
      // the flat-PQ fixture carries the same history applied through the
      // CDC entry point (applyDiff); same frozen-codebook reference
      // discipline
      () => {
        val pqModel = AnnIndex.readPq(s, s"$idx/pq_del16")
        val servedPq = Similarity.pqTopKWithModel(queries, "vec_id", "embedding",
          pqModel, 5)
        val refPq = Similarity.pqTopKWithModel(queries, "vec_id", "embedding",
            Similarity.PqModel(pqModel.centroids,
              Similarity.pqEncode(refCorpus, "vec_id", "embedding",
                pqModel.centroids, pqModel.m, pqModel.sub),
              pqModel.m, pqModel.sub), 5)
          .withColumnRenamed("cosine_pq", "__c2")
        servedPq.join(refPq, Seq("query_id", "rank", "neighbor_id"), "full")
          .agg((count(lit(1)) === count(col("cosine_pq")) &&
            count(lit(1)) === count(col("__c2")) &&
            max(abs(col("cosine_pq") - col("__c2"))) <= 1e-9).as("__pq_ok"))
          .localCheckpoint(eager = true)
      }))
    ivfpqOk.crossJoin(pqOk)
      .select((col("__ivfpq_ok") && col("__pq_ok")).as("delete_ok"))
  }

  /** Refine (exact re-rank) gate: `ivfPqTopKRefined` re-scores the ADC
    * shortlist against the index's kept exact vectors before the cut to
    * k, so its recall@k vs brute force must be ≥ the plain ADC path's
    * on the SAME staged index and probes — and the refined scores are
    * exact cosines, so every (query, neighbor) it returns must carry the
    * brute-force cosine bit-for-bit (both sides round to 4 via the
    * shared epilogue).
    */
  val knnIvfPqRefine = q("x_knn_ivfpq_refine", "SELECT true AS refine_ok") { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val index = AnnIndex.readIvfPq(s, s"$idx/ivfpq")
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .localCheckpoint(eager = true) // consumed by both recall joins; eager: size stats feed the join strategy (r21 A/B: lazy cost +46% cpu)
    // the refined and plain serve paths verify independently against the
    // ALREADY-materialized brute reference (eager checkpoint above —
    // Par legs racing an unmaterialized shared checkpoint would
    // duplicate its compute); each leg's serve runs its own pruning
    // jobs at construction, so the two legs run concurrently
    val Seq(refinedRecall, plainRecall) = graft.util.Par.all(2)(Seq(
      () => {
        val refined = AnnIndex.ivfPqTopKRefined(s, index, queries,
            "vec_id", "embedding", 5, nprobe = 4, refine = 4)
          .select(col("query_id"), col("neighbor_id"), col("cosine").as("__rc"))
        brute.join(refined, Seq("query_id", "neighbor_id"), "left")
          .agg(count(col("__rc")).as("__n"), count(lit(1)).as("__d"),
            max(abs(col("__rc") - col("cosine"))).as("__maxerr"))
          .localCheckpoint(eager = true)
      },
      () => {
        val plain = AnnIndex.ivfPqTopK(s, index, queries,
            "vec_id", "embedding", 5, nprobe = 4)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
        brute.join(plain, Seq("query_id", "neighbor_id"), "left")
          .agg(count(col("__hit")).as("__pn"))
          .localCheckpoint(eager = true)
      }))
    refinedRecall.crossJoin(plainRecall)
      .select((col("__n") >= col("__pn") &&
        coalesce(col("__maxerr") <= 1e-9, lit(true))).as("refine_ok"))
  }

  /** Time-travel (as-of) gate over the maintained IVF×PQ store: the
    * tombstone log's sequence numbers are an epoch clock
    * ([[graft.ext.AnnIndex.liveAsOf]]), so the staged
    * build(A) + append(B) + delete{3,11} + update{6} fixture serves
    * THREE distinct historical states through the same partition-pruned
    * path. Epoch 0 (post-first-delete: 6's ORIGINAL generation live)
    * and epoch 1 (mid-update: 6 absent entirely) must each equal a
    * one-shot frozen-codebook encode of that epoch's live corpus — the
    * x_knn_pq_delete reference discipline applied at two historical
    * cuts. A time-travel read that ignores the horizon serves the
    * current state and fails the epoch-1 leg (6 present); one that cuts
    * rows but not tombstones loses 6 at epoch 0. Retention = history
    * since the last compaction (the Delta-VACUUM trade, documented on
    * liveAsOf).
    */
  val knnAsOf = q("x_knn_asof", "SELECT true AS asof_ok") { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb16 = Tables.embeddings(s, dir).filter(col("vec_id") < 16)
    val queries = emb16.filter(col("vec_id") < 5)
    val index = AnnIndex.readIvfPq(s, s"$idx/ivfpq_del16")
    def ref(corpus: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopKWithModel(queries, "vec_id", "embedding",
          Similarity.PqModel(index.codebooks,
            Similarity.pqEncode(corpus, "vec_id", "embedding",
              index.codebooks, index.m, index.sub),
            index.m, index.sub), 5)
        .withColumnRenamed("cosine_pq", "__c2")
    def matches(served: org.apache.spark.sql.DataFrame,
        reference: org.apache.spark.sql.DataFrame, okCol: String) =
      served.join(reference, Seq("query_id", "rank", "neighbor_id"), "full")
        .agg((count(lit(1)) === count(col("cosine_pq")) &&
          count(lit(1)) === count(col("__c2")) &&
          max(abs(col("cosine_pq") - col("__c2"))) <= 1e-9).as(okCol))
    // epoch 0: post-delete{3,11}, 6's original generation still live;
    // epoch 1: mid-update — 6's tombstone landed, its re-append has not
    // (the horizon-past-newest-equals-live leg lives in AnnAsOfSpec).
    // Each epoch's serve runs its own driver-blocking pruning jobs at
    // construction — concurrent legs (the x_text_asof discipline)
    val Seq(ok0, ok1) = graft.util.Par.all(2)(Seq(
      () => matches(
          AnnIndex.ivfPqTopK(s, index, queries, "vec_id", "embedding", 5,
            nprobe = 4, asOf = Some(0L)),
          ref(emb16.filter(!col("vec_id").isin(3, 11))), "__ok0")
        .localCheckpoint(eager = true),
      () => matches(
          AnnIndex.ivfPqTopK(s, index, queries, "vec_id", "embedding", 5,
            nprobe = 4, asOf = Some(1L)),
          ref(emb16.filter(!col("vec_id").isin(3, 11, 6))), "__ok1")
        .localCheckpoint(eager = true)))
    ok0.crossJoin(ok1)
      .select((col("__ok0") && col("__ok1")).as("asof_ok"))
  }

  /** Residual-mode mechanics gate: on the lossless gate geometry
    * (ksub = corpus size) every RESIDUAL subvector is its own centroid,
    * so the ADC sum reconstructs ⟨q̂, r⟩ exactly — and the cosine
    * decomposition ⟨q̂, v̂⟩ = ⟨q̂, ĉ⟩ + ⟨q̂, r⟩ is exact on the unit
    * sphere, so the residual index must equal brute force through the
    * SAME persisted partition-pruned path as the raw-trained gate. This
    * is the lossless-mechanics guarantee surviving `by_residual=true`:
    * it fails if the offset term is dropped, double-counted, or
    * computed against un-normalized centroids.
    */
  val knnIvfPqResRecall = q("x_knn_ivfpq_res_recall", "SELECT true AS recall_ok") {
    (s, dir) =>
      val idx = stageAnnIndexes(s, dir)
      val emb16 = Tables.embeddings(s, dir).filter(col("vec_id") < 16)
      val queries = emb16.filter(col("vec_id") < 5)
      // brute reference vs residual-index serve — the serve side's store
      // read + probe selection are driver-blocking construction jobs, so
      // the brute side materializes concurrently with them
      val Seq(brute, res) = graft.util.Par.all(2)(Seq(
        () => Similarity.bruteForceTopK(queries, emb16, "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint(eager = true),
        () => AnnIndex.ivfPqTopK(s,
            AnnIndex.readIvfPq(s, s"$idx/ivfpq_res_gate16"),
            queries, "vec_id", "embedding", 5, nprobe = 4)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
          .localCheckpoint(eager = true)))
      brute.join(res, Seq("query_id", "neighbor_id"), "left")
        .agg((count(col("__hit")) === count(lit(1))).as("recall_ok"))
  }

  /** Residual error-band gate: over every scored (query, corpus) pair
    * under exhaustive probing, the residual-trained index's ADC deviation
    * from exact cosine must stay within a band that a BROKEN offset path
    * cannot: dropping, double-counting, or mis-normalizing the
    * per-(query, cluster) ⟨q̂, ĉ⟩ offset shifts every score by the offset
    * magnitude (avg ≈ 0.3–0.6 here), several × the raw-trained sibling's
    * lossy error. Exactness of the decomposition itself is pinned by the
    * lossless `x_knn_ivfpq_res_recall` gate; this one bounds the lossy
    * regime.
    *
    * NOT asserted: residual ≤ raw. That is a distributional claim, not an
    * invariant — by_residual quantizes finer only when the coarse
    * quantizer captures real cluster structure; on this corpus the
    * residuals of unit vectors against 16 coarse centroids carry MORE
    * variance than the vectors themselves, and the round-9 driver run
    * proved the claim breaks on regenerated data. Measured on 2026-08-13
    * testdata (deterministic pipeline — byte-identical across local[4..32],
    * see tools/ResErrProbe): res avg/max = 0.092/0.487 (sf0.001),
    * 0.091/0.501 (sf0.01), 0.094/0.630 (sf0.1); raw avg = 0.073–0.076.
    * Bands: res_avg ≤ 3 × raw_avg (relative, data-shift-proof),
    * res_avg ≤ 0.2, res_max ≤ 1.0 (absolute backstops).
    */
  val knnIvfPqResidualErr =
    q("x_knn_ivfpq_residual_err", "SELECT true AS err_ok") { (s, dir) =>
      val idx = stageAnnIndexes(s, dir)
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
      val q_ = queries.select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("__qv"))
      val exact = emb.select(col("vec_id").cast("long").as("neighbor_id"),
          col("embedding").as("__cv"))
        .join(broadcast(q_), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          Similarity.cosine(col("__qv"), col("__cv")).as("__c"))
        .localCheckpoint(eager = false) // consumed by both deviation joins (lazy: one action)
      // nprobe = nlist + unbounded k ⇒ every (query, corpus) pair scored
      def band(sub: String, avgName: String, maxName: String) =
        AnnIndex.ivfPqTopK(s, AnnIndex.readIvfPq(s, s"$idx/$sub"),
            queries, "vec_id", "embedding", k = Int.MaxValue, nprobe = 16)
          .join(exact, Seq("query_id", "neighbor_id"))
          .agg(avg(abs(col("cosine_pq") - col("__c"))).as(avgName),
            max(abs(col("cosine_pq") - col("__c"))).as(maxName))
      band("ivfpq_res", "__ravg", "__rmax")
        .crossJoin(band("ivfpq", "__avg", "__max"))
        .select((col("__ravg") <= col("__avg") * 3 &&
          col("__ravg") <= 0.2 && col("__rmax") <= 1.0).as("err_ok"))
    }

  /** SQ8 top-k over the persisted scalar-quantized index — the
    * 4×-compressed flat layout whose scan cost class matches brute force
    * on byte codes. Rows-only; its accuracy is pinned by the two
    * invariant gates below.
    */
  /** Hash-matched against a FULL pipeline replay: unlike the kmeans
    * families, every SQ stage (normalize → exact per-dim bounds → affine
    * byte encode → fused score → top-k) is deterministic arithmetic
    * DuckDB can express over the same embeddings table — the oracle
    * recomputes the index from first principles and must reproduce the
    * persisted index's served ranking row-for-row, 4dp scores included.
    * Both sides fold the per-dimension sums left-to-right in doubles, so
    * the rounded scores agree bitwise.
    */
  val knnSq = q("x_knn_sq",
    """WITH emb AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id,
      |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      |  FROM emb),
      |dims AS (
      |  SELECT i, min(u[i]) AS lo, max(u[i]) AS hi
      |  FROM q, UNNEST(generate_series(1, len(u))) AS t(i)
      |  GROUP BY i),
      |b AS (
      |  SELECT list(lo ORDER BY i) AS lo,
      |         list((hi - lo) / 255.0 ORDER BY i) AS step FROM dims),
      |codes AS (
      |  SELECT vec_id AS nid,
      |         list_transform(generate_series(1, len(u)),
      |           i -> CASE WHEN b.step[i] = 0 THEN CAST(0 AS DOUBLE)
      |                ELSE least(greatest(round((u[i] - b.lo[i]) / b.step[i], 0), 0), 255) END) AS c
      |  FROM q, b),
      |qf AS (
      |  SELECT vec_id AS qid,
      |         list_sum(list_transform(generate_series(1, len(u)), i -> u[i] * b.lo[i])) AS qoff,
      |         list_transform(generate_series(1, len(u)), i -> u[i] * b.step[i]) AS qstep
      |  FROM q, b WHERE vec_id < 5),
      |scored AS (
      |  SELECT qid, nid,
      |         round(qoff + list_sum(list_transform(generate_series(1, len(qstep)),
      |           i -> c[i] * qstep[i])), 4) AS s
      |  FROM qf, codes WHERE qid <> nid),
      |ranked AS (
      |  SELECT qid AS query_id, nid AS neighbor_id, s AS cosine_sq,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cosine_sq FROM ranked WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    AnnIndex.sqTopK(s, s"$idx/sq",
      Tables.embeddings(s, dir).filter(col("vec_id") < 5), "vec_id", "embedding", 5)
  }

  /** SQ8 error gate — an INVARIANT, not a distributional band (the
    * round-9/10 residual-PQ lesson): bounds are the exact corpus
    * per-dimension min/max, so every (query, corpus) pair's ADC score
    * must sit within the query's analytic ceiling B(q) = ½·Σ|q̂ᵢ|·stepᵢ
    * (carried per-row as `__qbound`, +1e-6 float slop). Data
    * regeneration cannot move this gate; only a code break can.
    */
  val knnSqErr = q("x_knn_sq_err", "SELECT true AS err_ok") { (s, dir) =>
    val idxDir = stageAnnIndexes(s, dir)
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val idx = AnnIndex.readSq(s, s"$idxDir/sq")
    val q_ = queries.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").as("__qv"))
    val exact = emb.select(col("vec_id").cast("long").as("neighbor_id"),
        col("embedding").as("__cv"))
      .join(broadcast(q_), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("__qv"), col("__cv")).as("__c"))
    Similarity.sqScores(queries, "vec_id", "embedding", idx.bounds, idx.codes)
      .join(exact, Seq("query_id", "neighbor_id"))
      .agg(max(abs(col("cosine_sq") - col("__c")) - col("__qbound")).as("__excess"))
      .select((col("__excess") <= 0d).as("err_ok"))
  }

  /** SQ8 retrieval guarantee — the theorem the error bound buys: any
    * corpus vector whose EXACT cosine strictly exceeds (k-th SQ score +
    * B(q)) must appear in the SQ top-k, because its own SQ score is at
    * least exact − B(q) > k-th. Checked on raw (unrounded) scores.
    * Like the err gate, this cannot be moved by data regeneration.
    */
  val knnSqGuarantee = q("x_knn_sq_guarantee", "SELECT true AS guarantee_ok") {
    (s, dir) =>
      val idxDir = stageAnnIndexes(s, dir)
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
      val idx = AnnIndex.readSq(s, s"$idxDir/sq")
      val scores = Similarity.sqScores(queries, "vec_id", "embedding",
          idx.bounds, idx.codes)
        .localCheckpoint(eager = false) // consumed by top-k, k-th and probe joins (lazy: one action)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cosine_sq").desc, col("neighbor_id"))
      val top = scores.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= 5)
        .localCheckpoint(eager = false)
      val kth = top.groupBy(col("query_id"))
        .agg(min(col("cosine_sq")).as("__kth"), max(col("__qbound")).as("__qb"))
      val q_ = queries.select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("__qv"))
      val exact = emb.select(col("vec_id").cast("long").as("neighbor_id"),
          col("embedding").as("__cv"))
        .join(broadcast(q_), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          Similarity.cosine(col("__qv"), col("__cv")).as("__c"))
      val mustHave = exact.join(broadcast(kth), Seq("query_id"))
        .filter(col("__c") > col("__kth") + col("__qb") + lit(1e-9))
      // vacuous-true when no neighbor clears the margin (same pattern as
      // the simhash radius gate): strict non-vacuousness would be a
      // data-distribution claim, which regeneration could falsify
      mustHave.join(top.select(col("query_id"), col("neighbor_id"),
          lit(1).as("__hit")), Seq("query_id", "neighbor_id"), "left")
        .agg(when(count(lit(1)) === 0, lit(true))
          .otherwise(count(lit(1)) === count(col("__hit")))
          .as("guarantee_ok"))
  }

  /** IVF×SQ top-k under real nprobe pruning — the practical large-scale
    * retrieval layout (partition-pruned scan + analytically bounded
    * scores). Rows-only; accuracy pinned by the full-probe equality gate.
    */
  /** Hash-matched against a DuckDB replay over the PERSISTED index
    * tables (the `__GRAFT_ANNIDX__` placeholder becomes the staged index
    * path at Verify-dump time): the coarse kmeans training itself is not
    * SQL-expressible, but given the stored centroids the ENTIRE query
    * path is — probe selection (top-nprobe centroids by raw cosine, id
    * tie-break), the cluster restriction, the fused byte-code scoring
    * from the stored bounds, and the top-k. Combined with x_knn_sq's
    * from-first-principles oracle (same bounds pipeline, byte-identical
    * codes — the fullprobe gate pins the layouts equal), every stage of
    * the IVF×SQ path is oracled: codes/bounds independently, pruning +
    * scoring + ranking here.
    */
  val knnIvfSq = q("x_knn_ivfsq",
    """WITH qv AS (
      |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id < 5),
      |cent AS (
      |  SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivfsq/coarse/*.parquet')),
      |probe AS (
      |  SELECT qid, __cid,
      |         row_number() OVER (PARTITION BY qid ORDER BY
      |           list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * centroid[i]))
      |             / (sqrt(list_sum(list_transform(v, x -> x*x)))
      |                * sqrt(list_sum(list_transform(centroid, x -> x*x)))) DESC,
      |           __cid) AS pr
      |  FROM qv, cent),
      |probed AS (SELECT qid, __cid FROM probe WHERE pr <= 4),
      |b AS (
      |  SELECT list(vmin ORDER BY __pos) AS lo,
      |         list((vmax - vmin) / 255.0 ORDER BY __pos) AS step
      |  FROM read_parquet('__GRAFT_ANNIDX__/ivfsq/bounds/*.parquet')),
      |nq AS (
      |  SELECT qid,
      |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      |  FROM qv),
      |qf AS (
      |  SELECT qid,
      |         list_sum(list_transform(generate_series(1, len(u)), i -> u[i] * b.lo[i])) AS qoff,
      |         list_transform(generate_series(1, len(u)), i -> u[i] * b.step[i]) AS qstep
      |  FROM nq, b),
      |codes AS (
      |  SELECT __id AS nid, CAST(__cluster AS INTEGER) AS cl,
      |         list_transform(__codes, c -> CAST(c AS DOUBLE) + 128.0) AS c
      |  FROM read_parquet('__GRAFT_ANNIDX__/ivfsq/codes/*/*.parquet', hive_partitioning=1)),
      |scored AS (
      |  SELECT p.qid, codes.nid,
      |         round(qf.qoff + list_sum(list_transform(generate_series(1, len(qf.qstep)),
      |           i -> c[i] * qf.qstep[i])), 4) AS s
      |  FROM probed p JOIN codes ON codes.cl = p.__cid
      |  JOIN qf ON qf.qid = p.qid
      |  WHERE p.qid <> codes.nid),
      |ranked AS (
      |  SELECT qid AS query_id, nid AS neighbor_id, s AS cosine_sq,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cosine_sq FROM ranked WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    AnnIndex.ivfSqTopK(s, AnnIndex.readIvfSq(s, s"$idx/ivfsq"),
      Tables.embeddings(s, dir).filter(col("vec_id") < 5),
      "vec_id", "embedding", 5, nprobe = 4)
  }

  /** IVF×SQ full-probe gate — an exact-equality INVARIANT: with
    * nprobe = nlist the pruned scan covers every cluster, and both
    * layouts score byte codes from the SAME deterministic bounds
    * pipeline with the SAME fused expression, so (rank, neighbor, score)
    * must match the flat SQ index row-for-row. nprobe is then the ONLY
    * approximation axis IVF adds over flat SQ — which pairs get scored,
    * never how.
    */
  val knnIvfSqFullProbe =
    q("x_knn_ivfsq_fullprobe", "SELECT true AS fullprobe_ok") { (s, dir) =>
      val idxDir = stageAnnIndexes(s, dir)
      val queries = Tables.embeddings(s, dir).filter(col("vec_id") < 5)
      // the flat and IVF serves are independent until the compare join,
      // each with its own store reads + probe-selection jobs — concurrent
      // construction + materialization (the x_knn_pq_persist discipline)
      val Seq(flat, ivf) = graft.util.Par.all(2)(Seq(
        () => AnnIndex.sqTopK(s, s"$idxDir/sq", queries, "vec_id", "embedding", 5)
          .select(col("query_id"), col("rank"),
            col("neighbor_id").as("__fn"), col("cosine_sq").as("__fs"))
          .localCheckpoint(eager = true),
        () => AnnIndex.ivfSqTopK(s, AnnIndex.readIvfSq(s, s"$idxDir/ivfsq"),
            queries, "vec_id", "embedding", 5, nprobe = 16)
          .select(col("query_id"), col("rank"),
            col("neighbor_id").as("__in"), col("cosine_sq").as("__is"))
          .localCheckpoint(eager = true)))
      // neighbor identity and rank stay STRICT; the score compare allows
      // one 4dp rounding step (2e-4) — the two sides run the identical
      // fused expression through different physical plans (broadcast-NL
      // flat scan vs pruned scan + joins), and a codegen/reordering change
      // could legally move a raw sum by an ulp across a rounding boundary
      // without the approximation semantics changing at all
      flat.join(ivf, Seq("query_id", "rank"), "full")
        .agg((count(lit(1)) ===
          sum(when(col("__fn") === col("__in") &&
              abs(col("__fs") - col("__is")) <= 2e-4, 1)
            .otherwise(0))).as("fullprobe_ok"))
    }

  /** MinHash gate: planted near-variants (one appended token ⇒ jaccard ≈ 1)
    * must surface as candidates with est ≥ 0.5; recall ≥ 0.95 required.
    */
  val dedupMinhashRecall = q("x_dedup_minhash_recall", "SELECT true AS recall_ok") {
    (s, dir) =>
      val planted = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 100000).as("id_b"))
      val cands = Dedup.minhashCandidates(docsWithVariants(s, dir), "doc_id", "text",
          numHashes = 64, bands = 16, shingleSize = 3, minEstJaccard = 0.5)
        .select(col("id_a"), col("id_b"), lit(1).as("__hit"))
      planted.join(cands, Seq("id_a", "id_b"), "left")
        .agg((count(col("__hit")).cast("double") / count(lit(1)) >= 0.95).as("recall_ok"))
  }

  /** SimHash mechanics gate (the analog of the IVF full-probe gate): the
    * pigeonhole block join GUARANTEES that any pair within the hamming
    * radius agrees on ≥ 1 signature block, so every planted (orig, variant)
    * pair whose true signature hamming is ≤ maxHamming MUST be recovered —
    * recall ≥ 0.95 leaves headroom only for hot-block cap drops. (A
    * fixed-radius gate on the raw plants would be sf-dependent: one
    * appended token on a short doc can flip well over 3 bits.) A user
    * tuning maxHamming / block count / bucket cap now has a harness signal.
    */
  val dedupSimhashRecall = q("x_dedup_simhash_recall", "SELECT true AS recall_ok") {
    (s, dir) =>
      // signatures computed ONCE (lineage-cut), shared by the true-hamming
      // reference and the block-join under test
      val sigs = Dedup.simhashSignatures(docsWithVariants(s, dir), "doc_id", "text")
        .localCheckpoint(true)
      val withinRadius = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 100000).as("id_b"))
        .join(sigs.select(col("__id").as("id_a"), col("__sh").as("__ha")), Seq("id_a"))
        .join(sigs.select(col("__id").as("id_b"), col("__sh").as("__hb")), Seq("id_b"))
        .filter(bit_count(col("__ha").bitwiseXOR(col("__hb"))) <= 3)
        .select(col("id_a"), col("id_b"))
      val found = Dedup.simhashPairsFromSigs(sigs, maxHamming = 3)
        .select(col("id_a"), col("id_b"), lit(1).as("__hit"))
      withinRadius.join(found, Seq("id_a", "id_b"), "left")
        .agg(when(count(lit(1)) === 0, lit(true))
          .otherwise(count(col("__hit")).cast("double") / count(lit(1)) >= 0.95)
          .as("recall_ok"))
  }

  /** Hyperplane-LSH gate: planted variants are exact scalings, so every
    * (orig, variant) pair shares all sign bits — recall must be 1.0.
    */
  val dedupEmbLshRecall = q("x_dedup_embcos_lsh_recall", "SELECT true AS recall_ok") {
    (s, dir) =>
      val planted = Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("id_a"), (col("vec_id") + 100000).as("id_b"))
      val withBucket = embWithVariants(s, dir)
        .withColumn("bucket", graft.ext.Similarity.hyperplaneBucket(col("embedding"), dim = 64))
      val pairs = Dedup.embeddingCosinePairs(withBucket, "vec_id", "embedding",
          "bucket", threshold = 0.99)
        .select(col("id_a"), col("id_b"), lit(1).as("__hit"))
      planted.join(pairs, Seq("id_a", "id_b"), "left")
        .agg((count(col("__hit")) === count(lit(1))).as("recall_ok"))
  }

  /** Composed cleaning pipeline (quality gate → language filter → exact
    * dedup) over documents + planted exact copies; SQL-expressible, so the
    * whole composition sits under the oracle.
    */
  val corpusClean = q("x_corpus_clean",
    s"""WITH d AS (SELECT doc_id, text FROM $docsWithCopiesSql),
       |t AS (
       |  SELECT doc_id, text,
       |         list_filter(string_split_regex(lower(trim(text)), '\\W+'), x -> x <> '') AS toks
       |  FROM d),
       |scored AS (
       |  SELECT doc_id, text, toks,
       |    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf'], x))) AS s_de,
       |    len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x))) AS s_en,
       |    len(list_filter(toks, x -> list_contains(['el','los','las','y','es','una','para','por','que'], x))) AS s_es,
       |    len(list_filter(toks, x -> list_contains(['le','la','les','et','est','une','pour','dans','que'], x))) AS s_fr
       |  FROM t),
       |gated AS (
       |  SELECT doc_id, text FROM scored
       |  WHERE len(toks) >= 20
       |    AND length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) >= 0.5
       |    AND greatest(s_de, s_en, s_es, s_fr) >= 1
       |    AND greatest(s_de*4+3, s_en*4+2, s_es*4+1, s_fr*4+0) % 4 = 2),
       |deduped AS (
       |  SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM gated)
       |SELECT doc_id FROM deduped WHERE rn = 1""".stripMargin) { (s, dir) =>
    CorpusClean.clean(docsWithCopies(s, dir), "doc_id", "text",
      CorpusClean.Config(minTokens = 20, minAlphaRatio = 0.5, languages = Set("en")))
      .select(col("doc_id"))
  }

  /** Budget-calibrated quality filter
    * ([[graft.ext.Sampling.keepTopFraction]]): keep EXACTLY the top
    * quarter of documents by token count under the (score DESC, id ASC)
    * total order — threshold derived from the corpus histogram + a
    * score-partitioned tie rank, no global sort. The oracle replays the
    * global order directly (row_number ≤ ⌊n/4⌋), so a calibration that
    * over/under-shoots the budget or splits ties differently hash-fails.
    */
  val qualityCalibrate = q("x_quality_calibrate",
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')) AS BIGINT) AS score
      |  FROM documents),
      |k AS (SELECT CAST(floor(0.25 * count(*)) AS BIGINT) AS k FROM t),
      |r AS (SELECT doc_id, score,
      |             row_number() OVER (ORDER BY score DESC, doc_id) AS rn
      |      FROM t)
      |SELECT r.doc_id, r.score, r.rn <= k.k AS kept FROM r, k""".stripMargin) {
    (s, dir) =>
    val scored = Tables.documents(s, dir).select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("score"))
    graft.ext.Sampling.keepTopFraction(scored, col("score"), "doc_id", 0.25)
  }

  /** Forensic corpus-clean audit ([[graft.ext.CorpusClean.cleanAudit]])
    * — "why was this document dropped": one row per input doc with each
    * stage's verdict and the first-failing-stage disposition, over the
    * same copies corpus and config as `x_corpus_clean`. The oracle
    * replays the quality gate, the stopword-argmax language id, and the
    * min-id-canonical exact-dup rule per document; CorpusCleanSpec pins
    * kept == clean() including the near-dup leg.
    */
  val corpusCleanAudit = q("x_corpus_clean_audit",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
      |t AS (
      |  SELECT doc_id, text,
      |         list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') AS toks,
      |         string_split_regex(lower(trim(text)), '\W+') AS rawtoks
      |  FROM corpus),
      |s AS (
      |  SELECT doc_id, text, toks,
      |    len(list_filter(rawtoks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf'], x))) AS s_de,
      |    len(list_filter(rawtoks, x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x))) AS s_en,
      |    len(list_filter(rawtoks, x -> list_contains(['el','los','las','y','es','una','para','por','que'], x))) AS s_es,
      |    len(list_filter(rawtoks, x -> list_contains(['le','la','les','et','est','une','pour','dans','que'], x))) AS s_fr
      |  FROM t),
      |f AS (
      |  SELECT doc_id, text,
      |         (len(toks) >= 20 AND
      |          length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) >= 0.5) AS quality_ok,
      |         CASE WHEN greatest(s_de*4+3, s_en*4+2, s_es*4+1, s_fr*4+0) // 4 < 1 THEN 'und'
      |              ELSE CASE greatest(s_de*4+3, s_en*4+2, s_es*4+1, s_fr*4+0) % 4
      |                   WHEN 3 THEN 'de' WHEN 2 THEN 'en' WHEN 1 THEN 'es' ELSE 'fr' END
      |         END AS lang_pred
      |  FROM s),
      |g AS (SELECT *, (lang_pred = 'en') AS lang_ok FROM f),
      |p AS (SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |      FROM g WHERE quality_ok AND lang_ok)
      |SELECT g.doc_id, g.quality_ok, g.lang_pred, g.lang_ok,
      |       coalesce(p.rn > 1, false) AS exact_dup,
      |       false AS near_dup,
      |       CASE WHEN NOT g.quality_ok THEN 'quality'
      |            WHEN NOT g.lang_ok THEN 'language'
      |            WHEN coalesce(p.rn, 1) > 1 THEN 'exact_dup'
      |            ELSE 'kept' END AS verdict
      |FROM g LEFT JOIN p USING (doc_id)""".stripMargin) { (s, dir) =>
    CorpusClean.cleanAudit(docsWithCopies(s, dir), "doc_id", "text",
      CorpusClean.Config(minTokens = 20, minAlphaRatio = 0.5,
        languages = Set("en")))
  }

  // ------------------------------------------------------------- text
  val textTokens = q("x_text_tokens",
    """SELECT doc_id,
      |       len(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')) AS n_tokens,
      |       len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpeish
      |FROM documents""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.bpeishCount(col("text")).as("n_bpeish"))
  }

  val textQuality = q("x_text_quality",
    """WITH t AS (
      |  SELECT doc_id, text,
      |         list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') AS toks
      |  FROM documents)
      |SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens,
      |  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text), 4) AS alpha_ratio,
      |  round(len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x)))::DOUBLE / len(toks), 4) AS stop_ratio,
      |  round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks), 4) AS avg_token_len
      |FROM t""".stripMargin) { (s, dir) =>
    val m = TextAnalysis.qualityMetrics(col("text"))
    Tables.documents(s, dir).select(col("doc_id") +: m.map { case (n, c) => c.as(n) }: _*)
  }

  val textLangId = q("x_text_langid",
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\W+') AS toks FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf'], x))) AS s_de,
      |    len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x))) AS s_en,
      |    len(list_filter(toks, x -> list_contains(['el','los','las','y','es','una','para','por','que'], x))) AS s_es,
      |    len(list_filter(toks, x -> list_contains(['le','la','les','et','est','une','pour','dans','que'], x))) AS s_fr
      |  FROM t),
      |k AS (SELECT doc_id, greatest(s_de*4+3, s_en*4+2, s_es*4+1, s_fr*4+0) AS key FROM s)
      |SELECT doc_id,
      |       CASE WHEN key // 4 < 1 THEN 'und'
      |            ELSE CASE key % 4 WHEN 3 THEN 'de' WHEN 2 THEN 'en'
      |                              WHEN 1 THEN 'es' ELSE 'fr' END END AS lang_pred
      |FROM k""".stripMargin) { (s, dir) =>
    TextAnalysis.withLangId(Tables.documents(s, dir), "doc_id", "text", "lang_pred")
      .select(col("doc_id"), col("lang_pred"))
  }

  /** PII redaction over documents with planted URL/email/phone payloads —
    * the oracle applies the identical pattern chain in RE2.
    */
  val textRedact = q("x_text_redact",
    """SELECT doc_id,
      |       regexp_replace(regexp_replace(regexp_replace(
      |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |         '@example.com or +12 345 6789' || CAST(doc_id AS VARCHAR) ||
      |         ' via https://ex.com/p?id=' || CAST(doc_id AS VARCHAR),
      |         'https?://[^\s]+', '<URL>', 'g'),
      |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |         '\+?\d[\d -]{7,}\d', '<NUM>', 'g') AS redacted
      |FROM documents""".stripMargin) { (s, dir) =>
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or +12 345 6789"),
      col("doc_id"), lit(" via https://ex.com/p?id="), col("doc_id"))
    Tables.documents(s, dir).select(col("doc_id"),
      TextAnalysis.redact(planted).as("redacted"))
  }

  val textFingerprint = q("x_text_fingerprint",
    """SELECT doc_id,
      |       md5(array_to_string(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> ''), ' ')) AS fp
      |FROM documents""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
  }

  /** Gopher-style repetition signal: duplicate word-3-gram ratio per doc
    * (planted loops via text doubled for doc_id % 10 = 0 push known docs
    * toward 0.5); the oracle replays the exact distinct/total arithmetic.
    */
  val textRepetition = q("x_text_repetition",
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\W+'), x -> x <> '') AS toks
       |  FROM (SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN text || ' ' || text
       |                            ELSE text END AS text FROM documents)),
       |g AS (SELECT doc_id, len(toks) - 2 AS total,
       |             len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
       |                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS uniq
       |      FROM t)
       |SELECT doc_id,
       |       CASE WHEN total > 0 THEN round(1 - uniq::DOUBLE / total, 4)
       |            ELSE 0.0 END AS rep_ratio
       |FROM g""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      .select(col("doc_id"),
        TextAnalysis.repetitionRatio(col("text"), 3).as("rep_ratio"))
  }

  /** Context-window chunking (128-token windows, 32-token overlap): the
    * oracle replays the exact window boundaries with list slicing.
    */
  val textChunks = q("x_text_chunks",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') AS toks
      |  FROM documents),
      |c AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, 96)) AS st
      |      FROM t WHERE len(toks) > 0)
      |SELECT doc_id, CAST(st // 96 AS INTEGER) AS chunk_idx,
      |       array_to_string(toks[st + 1 : st + 128], ' ') AS chunk,
      |       CAST(least(len(toks) - st, 128) AS INTEGER) AS n_tokens
      |FROM c""".stripMargin) { (s, dir) =>
    TextAnalysis.chunkTokens(Tables.documents(s, dir), "doc_id", "text",
      chunkSize = 128, overlap = 32)
  }

  /** Input prep (idempotent): the BPE merge list learned from the
    * documents corpus (Sennrich procedure, deterministic — frequency
    * ties break lexicographically), persisted as a (rank, lft, rgt)
    * parquet table — the trained-tokenizer artifact, built once like
    * the ANN index tables.
    */
  def stageBpeModel(s: SparkSession, dir: String): String =
    Staging.once("bpe", dir) { tmp =>
      val model = graft.ext.Bpe.learn(Tables.documents(s, dir), "text",
        numMerges = 200)
      import s.implicits._
      model.merges.zipWithIndex
        .map { case ((a, b), r) => (r, a, b) }
        .toDF("rank", "lft", "rgt")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/merges")
    }

  /** Input prep (idempotent): the trained unigram-LM vocabulary (piece,
    * logp) — the SentencePiece-style artifact beside the BPE merges.
    */
  def stageUnigramModel(s: SparkSession, dir: String): String =
    Staging.once("unigram", dir) { tmp =>
      val model = graft.ext.Unigram.learn(Tables.documents(s, dir), "text",
        maxPieceLen = 4, minCount = 2, emIters = 3, maxVocab = 4096)
      graft.ext.Unigram.save(model, s, s"$tmp/vocab")
    }

  /** Unigram-LM (SentencePiece-style) token counting (r13 VERDICT #7):
    * the EM training stays engine-side (not SQL) but its artifact — the
    * staged (piece, logp) vocabulary — is a fixture input, and the
    * Viterbi ENCODE given the vocabulary is mechanical: the oracle
    * replays the maximum-likelihood DP as a recursive CTE over each
    * distinct word, carrying the score/token-count arrays position by
    * position with the same double additions in the same order and the
    * same pinned tiebreak (max score, then smallest start = longest
    * piece), so the per-document counts hash EXACTLY. Out-of-alphabet
    * characters take the same fixed-penalty single-char fallback on
    * both sides.
    */
  val textUnigramCount = q("x_text_unigram_count",
    """WITH RECURSIVE
      |vm AS (SELECT map(list(piece), list(lp)) AS mp
      |       FROM read_parquet('__GRAFT_UNI__/vocab/*.parquet')),
      |dw AS (SELECT doc_id, w FROM (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')) AS w
      |  FROM documents WHERE text IS NOT NULL)),
      |uw AS (SELECT DISTINCT w FROM dw),
      |dp AS (
      |  SELECT w, 0 AS pos, [CAST(0.0 AS DOUBLE)] AS sc, [0] AS nt FROM uw
      |  UNION ALL
      |  SELECT w, pos + 1,
      |         list_append(sc, CASE WHEN m IS NULL THEN sc[pos + 1] + (-100.0) ELSE m END),
      |         list_append(nt, CASE WHEN m IS NULL THEN nt[pos + 1] + 1 ELSE nt[bj] + 1 END)
      |  FROM (
      |    SELECT w, pos, sc, nt,
      |           list_max(list_transform(cands, c -> c.s)) AS m,
      |           list_min(list_transform(
      |             list_filter(cands, c -> c.s = list_max(list_transform(cands, c -> c.s))),
      |             c -> c.j)) AS bj
      |    FROM (
      |      SELECT w, pos, sc, nt,
      |             list_filter(list_transform(generate_series(1, pos + 1), j ->
      |                 {'s': sc[j] + map_extract(vm.mp, substr(w, j, pos + 2 - j))[1],
      |                  'j': j}),
      |               c -> c.s IS NOT NULL) AS cands
      |      FROM dp, vm WHERE pos < length(w)))),
      |done AS (SELECT w, nt[length(w) + 1] AS n FROM dp WHERE pos = length(w)),
      |agg AS (SELECT doc_id, sum(n) AS n_unigram FROM dw JOIN done USING (w) GROUP BY doc_id)
      |SELECT d.doc_id, CAST(coalesce(a.n_unigram, 0) AS INTEGER) AS n_unigram
      |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin) {
    (s, dir) =>
    val uni = stageUnigramModel(s, dir)
    val model = graft.ext.Unigram.load(s, s"$uni/vocab")
    Tables.documents(s, dir).select(col("doc_id"),
      graft.ext.Unigram.tokenCount(col("text"), model).as("n_unigram"))
  }

  /** WordPiece-style greedy (MaxMatch) token counting over the SAME
    * persisted vocabulary as the Viterbi gate — the serving-side
    * inference rule of the WordPiece family, completing the tokenizer
    * triad (BPE merges / unigram-ML / wordpiece-greedy) on one
    * artifact. The oracle replays the longest-match walk as a recursive
    * CTE: at each position the longest piece (≤ the staged maxPieceLen
    * 4) present in the vocabulary map advances the cursor, an
    * out-of-alphabet character advances one — a different match order
    * or a missed longest piece changes counts and breaks the hash.
    */
  val textWordpieceCount = q("x_text_wordpiece_count",
    """WITH RECURSIVE
      |vm AS (SELECT map(list(piece), list(lp)) AS mp
      |       FROM read_parquet('__GRAFT_UNI__/vocab/*.parquet')),
      |dw AS (SELECT doc_id, w FROM (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')) AS w
      |  FROM documents WHERE text IS NOT NULL)),
      |uw AS (SELECT DISTINCT w FROM dw),
      |gp AS (
      |  SELECT w, 0 AS pos, 0 AS n FROM uw
      |  UNION ALL
      |  SELECT w, pos + l, n + 1 FROM (
      |    SELECT w, pos, n,
      |           coalesce(list_max(list_filter(
      |             generate_series(1, least(4, length(w) - pos)),
      |             l -> map_extract(vm.mp, substr(w, pos + 1, l))[1] IS NOT NULL)),
      |             1) AS l
      |    FROM gp, vm WHERE pos < length(w))),
      |done AS (SELECT w, n FROM gp WHERE pos = length(w)),
      |agg AS (SELECT doc_id, sum(n) AS n_wordpiece FROM dw JOIN done USING (w) GROUP BY doc_id)
      |SELECT d.doc_id, CAST(coalesce(a.n_wordpiece, 0) AS INTEGER) AS n_wordpiece
      |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin) {
    (s, dir) =>
    val uni = stageUnigramModel(s, dir)
    val model = graft.ext.Unigram.load(s, s"$uni/vocab")
    Tables.documents(s, dir).select(col("doc_id"),
      graft.ext.Unigram.greedyTokenCount(col("text"), model).as("n_wordpiece"))
  }

  /** Context-window chunking over UNIGRAM pieces — x_text_chunks_bpe's
    * recipe under the maximum-likelihood tokenizer: the recursive-CTE
    * Viterbi DP additionally carries each prefix's best-path TOKEN LIST
    * (same pinned tiebreak), words flatten back in document order, and
    * the 128/32 window replay cuts the piece stream. A wrong
    * segmentation (not just a wrong count) breaks the hash.
    */
  val textChunksUnigram = q("x_text_chunks_unigram",
    """WITH RECURSIVE
      |vm AS (SELECT map(list(piece), list(lp)) AS mp
      |       FROM read_parquet('__GRAFT_UNI__/vocab/*.parquet')),
      |dw AS (SELECT doc_id, w, wpos FROM (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')) AS w,
      |         unnest(generate_series(1, len(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')))) AS wpos
      |  FROM documents WHERE text IS NOT NULL)),
      |uw AS (SELECT DISTINCT w FROM dw),
      |dp AS (
      |  SELECT w, 0 AS pos, [CAST(0.0 AS DOUBLE)] AS sc,
      |         [CAST([] AS VARCHAR[])] AS tl FROM uw
      |  UNION ALL
      |  SELECT w, pos + 1,
      |         list_append(sc, CASE WHEN m IS NULL THEN sc[pos + 1] + (-100.0) ELSE m END),
      |         list_append(tl, CASE WHEN m IS NULL
      |           THEN list_append(tl[pos + 1], substr(w, pos + 1, 1))
      |           ELSE list_append(tl[bj], substr(w, bj, pos + 2 - bj)) END)
      |  FROM (
      |    SELECT w, pos, sc, tl,
      |           list_max(list_transform(cands, c -> c.s)) AS m,
      |           list_min(list_transform(
      |             list_filter(cands, c -> c.s = list_max(list_transform(cands, c -> c.s))),
      |             c -> c.j)) AS bj
      |    FROM (
      |      SELECT w, pos, sc, tl,
      |             list_filter(list_transform(generate_series(1, pos + 1), j ->
      |                 {'s': sc[j] + map_extract(vm.mp, substr(w, j, pos + 2 - j))[1],
      |                  'j': j}),
      |               c -> c.s IS NOT NULL) AS cands
      |      FROM dp, vm WHERE pos < length(w)))),
      |done AS (SELECT w, tl[length(w) + 1] AS syms FROM dp WHERE pos = length(w)),
      |toks AS (
      |  SELECT doc_id, flatten(list(syms ORDER BY wpos)) AS t
      |  FROM dw JOIN done USING (w) GROUP BY doc_id),
      |c AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 96)) AS st
      |      FROM toks WHERE len(t) > 0)
      |SELECT doc_id, CAST(st // 96 AS INTEGER) AS chunk_idx,
      |       array_to_string(t[st + 1 : st + 128], ' ') AS chunk,
      |       CAST(least(len(t) - st, 128) AS INTEGER) AS n_tokens
      |FROM c""".stripMargin) { (s, dir) =>
    val uni = stageUnigramModel(s, dir)
    val model = graft.ext.Unigram.load(s, s"$uni/vocab")
    graft.ext.Unigram.chunkTokens(Tables.documents(s, dir), "doc_id", "text",
      chunkSize = 128, overlap = 32, model)
  }

  /** Sequence packing under the unigram budget — x_pack_sequences_bpe's
    * pack arithmetic composed with the Viterbi counting DP: per-doc
    * piece counts prefix-sum into a global token stream cut at 128.
    */
  val packSequencesUnigram = q("x_pack_sequences_unigram",
    """WITH RECURSIVE
      |vm AS (SELECT map(list(piece), list(lp)) AS mp
      |       FROM read_parquet('__GRAFT_UNI__/vocab/*.parquet')),
      |dw AS (SELECT doc_id, w FROM (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')) AS w
      |  FROM documents WHERE text IS NOT NULL)),
      |uw AS (SELECT DISTINCT w FROM dw),
      |dp AS (
      |  SELECT w, 0 AS pos, [CAST(0.0 AS DOUBLE)] AS sc, [0] AS nt FROM uw
      |  UNION ALL
      |  SELECT w, pos + 1,
      |         list_append(sc, CASE WHEN m IS NULL THEN sc[pos + 1] + (-100.0) ELSE m END),
      |         list_append(nt, CASE WHEN m IS NULL THEN nt[pos + 1] + 1 ELSE nt[bj] + 1 END)
      |  FROM (
      |    SELECT w, pos, sc, nt,
      |           list_max(list_transform(cands, c -> c.s)) AS m,
      |           list_min(list_transform(
      |             list_filter(cands, c -> c.s = list_max(list_transform(cands, c -> c.s))),
      |             c -> c.j)) AS bj
      |    FROM (
      |      SELECT w, pos, sc, nt,
      |             list_filter(list_transform(generate_series(1, pos + 1), j ->
      |                 {'s': sc[j] + map_extract(vm.mp, substr(w, j, pos + 2 - j))[1],
      |                  'j': j}),
      |               c -> c.s IS NOT NULL) AS cands
      |      FROM dp, vm WHERE pos < length(w)))),
      |done AS (SELECT w, nt[length(w) + 1] AS ntok FROM dp WHERE pos = length(w)),
      |wc AS (SELECT doc_id, w, count(*) AS cnt FROM dw GROUP BY 1, 2),
      |t AS (
      |  SELECT d.doc_id,
      |         CAST(coalesce((SELECT sum(wc.cnt * done.ntok) FROM wc JOIN done USING (w)
      |                        WHERE wc.doc_id = d.doc_id), 0) AS BIGINT) AS n
      |  FROM documents d),
      |c AS (
      |  SELECT doc_id, n,
      |         CAST(coalesce(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
      |  FROM t),
      |e AS (
      |  SELECT doc_id, n, st, unnest(generate_series(st // 128, (st + n - 1) // 128)) AS seq_id
      |  FROM c WHERE n > 0)
      |SELECT doc_id, seq_id,
      |       greatest(seq_id * 128 - st, 0) AS doc_from,
      |       least((seq_id + 1) * 128, st + n) - st AS doc_to,
      |       greatest(st - seq_id * 128, 0) AS seq_off
      |FROM e""".stripMargin) { (s, dir) =>
    val uni = stageUnigramModel(s, dir)
    val model = graft.ext.Unigram.load(s, s"$uni/vocab")
    graft.ext.Unigram.packSequences(Tables.documents(s, dir), "doc_id",
      "text", seqLen = 128, model)
  }

  /** Context-window chunking under a REAL byte-pair encoder, now fully
    * HASH-MATCHED (retiring the suite's last rows-only exemption): the
    * merge LEARNING loop stays engine-side (it is not SQL), but its
    * artifact — the staged merges table — is a fixture input, and
    * ENCODING given the merges is mechanical: the oracle replays greedy
    * merge application as a recursive CTE over each DISTINCT word
    * (symbols = characters + `</w>`), merging ONE occurrence per step —
    * the leftmost occurrence of the lowest-ranked adjacent pair. That
    * one-at-a-time order equals the reference all-occurrences loop for
    * any LEARNED merge list: merging (a,b)→ab can only create pairs
    * involving the new symbol, and every merge involving a compound
    * symbol is learned (= ranked) after the merge that formed it, so no
    * newly-created pair can outrank the remaining occurrences.
    * Recursion depth is bounded by symbols-per-word. The encoded words
    * then flatten back in document order and the 128/32 window replay
    * of x_text_chunks cuts the sub-token stream. (Characters: DuckDB
    * substr is codepoint-based vs Scala's UTF-16 units — identical for
    * the corpus's BMP text.)
    */
  val textChunksBpe = q("x_text_chunks_bpe",
    """WITH RECURSIVE
      |rm AS (SELECT map(list(lft || chr(1) || rgt ORDER BY rank),
      |                  list(rank ORDER BY rank)) AS mp
      |       FROM read_parquet('__GRAFT_BPE__/merges/*.parquet')),
      |dw AS (
      |  SELECT doc_id, w, wpos FROM (
      |    SELECT doc_id,
      |           unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')) AS w,
      |           unnest(generate_series(1, len(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')))) AS wpos
      |    FROM documents WHERE text IS NOT NULL)),
      |uw AS (SELECT DISTINCT w FROM dw),
      |base AS (
      |  SELECT w, list_append(list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)), '</w>') AS syms
      |  FROM uw),
      |enc AS (
      |  SELECT w, syms FROM base
      |  UNION ALL
      |  SELECT w, syms[1:bp-1] || [syms[bp] || syms[bp+1]] || syms[bp+2:] AS syms
      |  FROM (
      |    SELECT w, syms,
      |           list_position(list_transform(range(1, len(syms)), i -> map_extract(rm.mp, syms[i] || chr(1) || syms[i+1])[1]),
      |                         list_min(list_transform(range(1, len(syms)), i -> map_extract(rm.mp, syms[i] || chr(1) || syms[i+1])[1]))) AS bp
      |    FROM enc, rm) WHERE bp IS NOT NULL),
      |done AS (
      |  SELECT w, syms FROM enc, rm
      |  WHERE list_min(list_transform(range(1, len(syms)), i -> map_extract(rm.mp, syms[i] || chr(1) || syms[i+1])[1])) IS NULL),
      |toks AS (
      |  SELECT doc_id, flatten(list(syms ORDER BY wpos)) AS t
      |  FROM dw JOIN done USING (w) GROUP BY doc_id),
      |c AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 96)) AS st
      |      FROM toks WHERE len(t) > 0)
      |SELECT doc_id, CAST(st // 96 AS INTEGER) AS chunk_idx,
      |       array_to_string(t[st + 1 : st + 128], ' ') AS chunk,
      |       CAST(least(len(t) - st, 128) AS INTEGER) AS n_tokens
      |FROM c""".stripMargin) { (s, dir) =>
    val bpe = stageBpeModel(s, dir)
    val model = graft.ext.Bpe.BpeModel(
      graft.util.TinyParquet.openStore(s, s"$bpe/merges").orderBy(col("rank"))
        .collect().map(r => (r.getAs[String]("lft"), r.getAs[String]("rgt")))
        .toVector)
    graft.ext.Bpe.chunkTokens(Tables.documents(s, dir), "doc_id", "text",
      chunkSize = 128, overlap = 32, model)
  }

  /** The BPE plumbing under a DuckDB-replayable identity: with ZERO
    * merges, byte-pair encoding is characters + one end-of-word marker
    * per word, so the per-document count must equal
    * Σ_words (len(word) + 1) — which SQL computes from the text alone.
    * Hash-matching this pins the UDF path's word segmentation (against
    * the same \W+ split the oracle uses), symbol initialization, and
    * count plumbing across engines; the merge LOOP on top of it is
    * pinned by BpeSpec's published worked example.
    */
  val textBpeBaseCount = q("x_text_bpe_basecount",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(coalesce(list_sum(list_transform(toks, w -> len(w) + 1)), 0) AS INTEGER) AS n_bpe
      |FROM t""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(col("doc_id"),
      graft.ext.Bpe.tokenCount(col("text"),
        graft.ext.Bpe.BpeModel(Vector.empty)).as("n_bpe"))
  }

  /** Byte-level BPE plumbing gate, hash-matched like the word-mode one:
    * the GPT-2-style pre-tokenizer PARTITIONS the string exactly and each
    * byte becomes one alphabet symbol, so with ZERO merges the token
    * count collapses to the text's UTF-8 byte length — which DuckDB
    * states independently as octet_length. Segmentation, byte mapping,
    * and the count plumbing are all on the hook; only the merge loop
    * (spec-pinned on worked examples) is inert at rank zero.
    */
  val textBpeByteCount = q("x_text_bpe_bytecount",
    "SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes FROM documents") {
    (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.ext.Bpe.ByteLevel.tokenCount(col("text"),
          graft.ext.Bpe.BpeModel(Vector.empty)).as("n_bytes"))
  }

  /** Deterministic stratified hash sampling (25% per source stratum): the
    * md5-threshold decision is engine-portable, so DuckDB replays the
    * EXACT sample — no RNG, no seed bookkeeping, reproducible at 100 TB.
    */
  val sampleStratified = q("x_sample_stratified",
    """SELECT doc_id, source FROM documents
      |WHERE md5(source || ':' || CAST(doc_id AS VARCHAR)) < '4'""".stripMargin) {
    (s, dir) =>
      graft.ext.Sampling.stratifiedHashSample(
          Tables.documents(s, dir), col("source"), col("doc_id"), "4")
        .select(col("doc_id"), col("source"))
  }

  /** Shared CTE prefix of the two DSIR queries: hashed 1..2-gram buckets
    * (md5 3-hex-char prefix, 4096 buckets), smoothed (α=1) log-likelihood
    * ratios of the planted target distribution (doc_id % 17 = 0) vs the
    * raw corpus, per-document log-weights. Mirrors
    * [[graft.ext.Sampling.importanceLogWeights]] stage for stage.
    */
  private val dsirCtePrefix =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') AS tk
      |  FROM documents),
      |rg AS (
      |  SELECT doc_id, substring(md5(g), 1, 3) AS b FROM (
      |    SELECT doc_id, unnest(tk) AS g FROM t
      |    UNION ALL
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
      |             i -> tk[i] || ' ' || tk[i + 1])) AS g
      |    FROM t WHERE len(tk) >= 2)),
      |tg AS (SELECT b FROM rg WHERE doc_id % 17 = 0),
      |rc AS (SELECT b, count(*) AS c FROM rg GROUP BY b),
      |tc AS (SELECT b, count(*) AS c FROM tg GROUP BY b),
      |tot AS (SELECT (SELECT count(*) FROM rg) AS nr, (SELECT count(*) FROM tg) AS nt),
      |ratio AS (
      |  SELECT rc.b,
      |         ln((coalesce(tc.c, 0) + 1.0) / (nt + 1.0 * 4096))
      |           - ln((rc.c + 1.0) / (nr + 1.0 * 4096)) AS lr
      |  FROM rc LEFT JOIN tc ON rc.b = tc.b, tot),
      |dc AS (SELECT doc_id, b, count(*) AS c FROM rg GROUP BY doc_id, b),
      |w AS (SELECT dc.doc_id, sum(dc.c * ratio.lr) AS logw
      |      FROM dc JOIN ratio ON dc.b = ratio.b GROUP BY dc.doc_id),
      |fw AS (SELECT d.doc_id, coalesce(w.logw, 0.0) AS logw
      |       FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id)""".stripMargin

  /** DSIR importance weights (hashed-n-gram log-likelihood ratio of the
    * planted target distribution vs the raw corpus) — hash-matched per
    * document; both engines fold the same smoothed bag models.
    */
  val dsirWeights = q("x_dsir_weights",
    s"""$dsirCtePrefix
       |SELECT doc_id, round(logw, 6) AS logw FROM fw""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    graft.ext.Sampling.importanceLogWeights(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 17 === 0), "text")
      .select(col("doc_id"), round(col("logw"), 6).as("logw"))
  }

  /** DSIR Gumbel top-k resampling with md5-derived uniforms: a without-
    * replacement importance draw that is fully deterministic — the oracle
    * replays the exact k-document sample, noise included.
    */
  val dsirResample = q("x_dsir_resample",
    s"""$dsirCtePrefix,
       |g AS (SELECT doc_id,
       |        round(logw - ln(-ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) + 0.5)
       |          / 4294967296.0)), 6) AS score
       |      FROM fw)
       |SELECT doc_id, score FROM g ORDER BY score DESC, doc_id LIMIT 100""".stripMargin) {
    (s, dir) =>
    val docs = Tables.documents(s, dir)
    graft.ext.Sampling.importanceResample(docs, "doc_id", "text",
      docs.filter(col("doc_id") % 17 === 0), "text", k = 100)
  }

  /** Weighted dataset mixing: per-source keep rates decided by the salted
    * md5 threshold (rate → 8-hex-digit prefix), so DuckDB replays the
    * EXACT mix; sources without a weight drop entirely.
    */
  private val mixWeights = Seq(
    "src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25, "src4" -> 0.1)
  val weightedMix = q("x_weighted_mix",
    s"""SELECT doc_id, source FROM documents
       |WHERE md5(source || ':' || CAST(doc_id AS VARCHAR)) <
       |  CASE source ${mixWeights.map { case (s, r) =>
             s"WHEN '$s' THEN '${graft.ext.Sampling.rateToHex(r)}'" }.mkString(" ")}
       |  ELSE '' END""".stripMargin) { (s, dir) =>
    graft.ext.Sampling.weightedMix(
        Tables.documents(s, dir), col("source"), col("doc_id"), mixWeights.toMap)
      .select(col("doc_id"), col("source"))
  }

  /** Epoch UPSAMPLING (the "source X for 2.5 epochs" training-mix
    * contract a keep-rate filter cannot express): src0 at 2.5 epochs
    * (2 full copies + an md5-threshold half), src1 at exactly 1, src2
    * at 0.25 (pure fraction, zero full copies), everything else
    * dropped. The oracle replays the epoch explode, the full/fractional
    * split, the threshold arithmetic AND the deterministic order_key —
    * so copy counts, the sampled fraction's exact row set, and the
    * reproducible shuffle all hash-match.
    */
  val upsampleEpochs = q("x_upsample_epochs",
    """WITH cfg AS (
      |  SELECT * FROM (VALUES ('src0', 3, '80000000'), ('src1', 1, ''),
      |                        ('src2', 1, '40000000')) t(src, n, frac)),
      |eps AS (
      |  SELECT src, n, frac, unnest(generate_series(0, n - 1)) AS ep FROM cfg),
      |e AS (
      |  SELECT d.doc_id, d.source, eps.n, eps.frac, eps.ep
      |  FROM documents d JOIN eps ON d.source = eps.src),
      |kept AS (
      |  SELECT * FROM e
      |  WHERE ep < n - (CASE WHEN frac <> '' THEN 1 ELSE 0 END)
      |     OR md5(CAST(ep AS VARCHAR) || ':' || source || ':' || CAST(doc_id AS VARCHAR)) < frac)
      |SELECT doc_id, source, CAST(ep AS INTEGER) AS epoch,
      |       md5('o:' || CAST(ep AS VARCHAR) || ':' || source || ':' || CAST(doc_id AS VARCHAR)) AS order_key
      |FROM kept""".stripMargin) { (s, dir) =>
    graft.ext.Sampling.epochUpsample(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        col("source"), col("doc_id"),
        Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25))
      .select(col("doc_id"), col("source"), col("epoch"), col("order_key"))
  }

  /** High-cardinality weighted mixing (the per-DOMAIN mix): a 12 000-entry
    * weights map over `l_orderkey % 12000` strata, rates formula-derived
    * (residue mod 97 → 1%..97%) so the oracle RECOMPUTES every threshold
    * in SQL instead of embedding 12k literals. Exercises the broadcast-
    * join threshold route (> 64 strata) at a cardinality the when-chain
    * could not plan and the map literal could not scan per row;
    * the per-row decision (salted md5 vs rate→hex threshold) is the same
    * engine-portable arithmetic as `x_weighted_mix`/`x_temperature_mix`,
    * so the kept row set hash-matches exactly.
    */
  private val wideMixWeights: Map[String, Double] =
    (0 until 12000).map(i => i.toString -> ((i % 97) + 1) / 100.0).toMap
  val weightedMixWide = q("x_weighted_mix_wide",
    """SELECT l_orderkey, l_linenumber FROM lineitem
      |WHERE md5(CAST(l_orderkey % 12000 AS VARCHAR) || ':' ||
      |          CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR))
      |  < printf('%08x', CAST(floor((((l_orderkey % 12000) % 97) + 1) / 100.0
      |                               * 4294967296.0) AS BIGINT))""".stripMargin) {
    (s, dir) =>
      graft.ext.Sampling.weightedMix(
          Tables.lineitem(s, dir),
          col("l_orderkey") % 12000,
          concat(col("l_orderkey"), lit("_"), col("l_linenumber")),
          wideMixWeights)
        .select(col("l_orderkey"), col("l_linenumber"))
  }

  /** Snapshot diff (CDC extract): two per-user aggregate snapshots built
    * from deterministic event slices — `after` gains the 9th slice
    * (updates for users whose newest data landed there), loses every
    * user_id % 13 == 0 (deletes), and picks up users first seen in the
    * 9th slice (inserts). The oracle replays the full-outer
    * IS-DISTINCT-FROM classification; unchanged users must vanish.
    */
  val snapshotDiffQ = q("x_snapshot_diff",
    """WITH b AS (
      |  SELECT user_id, count(*) AS n, round(sum(value), 2) AS sv
      |  FROM events WHERE event_id % 10 < 8 GROUP BY 1),
      |a AS (
      |  SELECT user_id, count(*) AS n, round(sum(value), 2) AS sv
      |  FROM events WHERE event_id % 10 < 9 AND user_id % 13 <> 0 GROUP BY 1)
      |SELECT coalesce(a.user_id, b.user_id) AS user_id,
      |       CASE WHEN b.user_id IS NULL THEN 'insert'
      |            WHEN a.user_id IS NULL THEN 'delete'
      |            WHEN a.n IS DISTINCT FROM b.n OR a.sv IS DISTINCT FROM b.sv
      |            THEN 'update' END AS change
      |FROM b FULL OUTER JOIN a USING (user_id)
      |WHERE (CASE WHEN b.user_id IS NULL THEN 'insert'
      |            WHEN a.user_id IS NULL THEN 'delete'
      |            WHEN a.n IS DISTINCT FROM b.n OR a.sv IS DISTINCT FROM b.sv
      |            THEN 'update' END) IS NOT NULL""".stripMargin) { (s, dir) =>
    val events = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"))
    def snap(f: org.apache.spark.sql.Column) = events.filter(f)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
    graft.operators.Upsert.snapshotDiff(
      snap(col("event_id") % 10 < 8),
      snap(col("event_id") % 10 < 9 && col("user_id") % 13 =!= 0),
      "user_id")
  }

  /** Temperature-weighted mixing (mT5-style p ∝ n^α): strata are
    * deliberately SKEWED (doc_id % 7 buckets ⇒ ~1:2:4 sizes) so the
    * formula has something to do — the rare stratum's rate boosts past
    * 1 and CAPS (the 'g' keep-all threshold), mid and common keep
    * graduated fractions. α = 0.5 end-to-end: sqrt is correctly rounded
    * under IEEE-754, so DuckDB recomputing counts → rates → md5
    * thresholds reproduces the exact row set (sum order pinned by
    * ORDER BY on both engines).
    */
  val temperatureMixQ = q("x_temperature_mix",
    """WITH d AS (
      |  SELECT doc_id, source,
      |         CASE WHEN doc_id % 7 = 0 THEN 'rare'
      |              WHEN doc_id % 7 IN (1, 2) THEN 'mid'
      |              ELSE 'common' END AS bucket
      |  FROM documents),
      |c AS (SELECT bucket AS s, CAST(count(*) AS DOUBLE) AS n FROM d GROUP BY 1),
      |tot AS (SELECT sum(n ORDER BY s) AS nn, sum(sqrt(n) ORDER BY s) AS z FROM c),
      |r AS (SELECT s, least(1.0, (nn * 0.7) * (sqrt(n) / z) / n) AS rate FROM c, tot),
      |thr AS (SELECT s, CASE WHEN rate >= 1.0 THEN 'g'
      |                       ELSE printf('%08x', CAST(floor(rate * 4294967296.0) AS BIGINT)) END AS h
      |        FROM r)
      |SELECT d.doc_id, d.bucket FROM d JOIN thr ON thr.s = d.bucket
      |WHERE md5(d.bucket || ':' || CAST(d.doc_id AS VARCHAR)) < thr.h""".stripMargin) {
    (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, "rare")
          .when((col("doc_id") % 7).isin(1, 2), "mid")
          .otherwise("common").as("bucket"))
      graft.ext.Sampling.temperatureMix(d, col("bucket"), col("doc_id"),
          alpha = 0.5, targetFraction = 0.7)
        .select(col("doc_id"), col("bucket"))
  }

  /** Sequence packing (128-token training sequences): the corpus token
    * stream concatenated in doc_id order and split into fixed windows —
    * documents spanning boundaries emit one row per overlapped sequence.
    * The oracle replays the exclusive prefix sum + integer arithmetic, so
    * an off-by-one in the distributed prefix sum breaks the hash.
    */
  val packSequences = q("x_pack_sequences",
    """WITH t AS (
      |  SELECT doc_id, len(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')) AS n
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n,
      |         CAST(coalesce(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
      |  FROM t),
      |e AS (
      |  SELECT doc_id, n, st, unnest(generate_series(st // 128, (st + n - 1) // 128)) AS seq_id
      |  FROM c WHERE n > 0)
      |SELECT doc_id, seq_id,
      |       greatest(seq_id * 128 - st, 0) AS doc_from,
      |       least((seq_id + 1) * 128, st + n) - st AS doc_to,
      |       greatest(st - seq_id * 128, 0) AS seq_off
      |FROM e""".stripMargin) { (s, dir) =>
    graft.ext.Packing.packSequences(Tables.documents(s, dir), "doc_id", "text", 128)
  }

  /** Sequence packing under the REAL tokenizer: the same
    * exclusive-prefix-sum window arithmetic as x_pack_sequences, but
    * budgeted by BPE sub-token counts from the persisted merges table —
    * "128 tokens" means tokenizer tokens, which is the actual training
    * contract (word counts over-pack subword-heavy documents). The
    * oracle composes the x_text_chunks_bpe recursive-CTE encoder (per
    * DISTINCT word, counts only) with the packing replay.
    */
  val packSequencesBpe = q("x_pack_sequences_bpe",
    """WITH RECURSIVE
      |rm AS (SELECT map(list(lft || chr(1) || rgt ORDER BY rank),
      |                  list(rank ORDER BY rank)) AS mp
      |       FROM read_parquet('__GRAFT_BPE__/merges/*.parquet')),
      |dw AS (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')) AS w
      |  FROM documents WHERE text IS NOT NULL),
      |wc AS (SELECT doc_id, w, count(*) AS cnt FROM dw GROUP BY 1, 2),
      |uw AS (SELECT DISTINCT w FROM wc),
      |base AS (
      |  SELECT w, list_append(list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)), '</w>') AS syms
      |  FROM uw),
      |enc AS (
      |  SELECT w, syms FROM base
      |  UNION ALL
      |  SELECT w, syms[1:bp-1] || [syms[bp] || syms[bp+1]] || syms[bp+2:] AS syms
      |  FROM (
      |    SELECT w, syms,
      |           list_position(list_transform(range(1, len(syms)), i -> map_extract(rm.mp, syms[i] || chr(1) || syms[i+1])[1]),
      |                         list_min(list_transform(range(1, len(syms)), i -> map_extract(rm.mp, syms[i] || chr(1) || syms[i+1])[1]))) AS bp
      |    FROM enc, rm) WHERE bp IS NOT NULL),
      |done AS (
      |  SELECT w, len(syms) AS ntok FROM enc, rm
      |  WHERE list_min(list_transform(range(1, len(syms)), i -> map_extract(rm.mp, syms[i] || chr(1) || syms[i+1])[1])) IS NULL),
      |t AS (
      |  SELECT d.doc_id,
      |         CAST(coalesce((SELECT sum(wc.cnt * done.ntok) FROM wc JOIN done USING (w)
      |                        WHERE wc.doc_id = d.doc_id), 0) AS BIGINT) AS n
      |  FROM documents d),
      |c AS (
      |  SELECT doc_id, n,
      |         CAST(coalesce(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
      |  FROM t),
      |e AS (
      |  SELECT doc_id, n, st, unnest(generate_series(st // 128, (st + n - 1) // 128)) AS seq_id
      |  FROM c WHERE n > 0)
      |SELECT doc_id, seq_id,
      |       greatest(seq_id * 128 - st, 0) AS doc_from,
      |       least((seq_id + 1) * 128, st + n) - st AS doc_to,
      |       greatest(st - seq_id * 128, 0) AS seq_off
      |FROM e""".stripMargin) { (s, dir) =>
    val bpe = stageBpeModel(s, dir)
    val model = graft.ext.Bpe.BpeModel(
      graft.util.TinyParquet.openStore(s, s"$bpe/merges").orderBy(col("rank"))
        .collect().map(r => (r.getAs[String]("lft"), r.getAs[String]("rgt")))
        .toVector)
    graft.ext.Bpe.packSequences(Tables.documents(s, dir), "doc_id", "text",
      128, model)
  }

  /** AS-OF join (point-in-time lookup): each event sees its user's latest
    * order-day snapshot at event time. DuckDB's native ASOF LEFT JOIN is
    * the oracle for the union + running-last formulation.
    */
  val asofJoin = q("x_asof_join",
    """WITH snap AS (
      |  SELECT o_custkey AS k, o_orderdate AS sts,
      |         round(sum(o_totalprice), 2) AS snap_total, count(*) AS snap_orders
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, s.snap_total, s.snap_orders
      |FROM events e ASOF LEFT JOIN snap s ON e.user_id = s.k AND e.ts >= s.sts""".stripMargin) {
    (s, dir) =>
      val snap = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(round(sum(col("o_totalprice")), 2).as("snap_total"),
          count(lit(1)).as("snap_orders"))
      val events = Tables.events(s, dir).select(col("event_id"), col("ts"), col("user_id"))
      graft.ext.Joins.asofJoin(events, col("user_id"), col("ts"),
          snap, col("o_custkey"), col("o_orderdate"), Seq("snap_total", "snap_orders"))
        .select(col("event_id"), col("user_id"), col("snap_total"), col("snap_orders"))
  }

  /** Train/test decontamination: docs sharing any 13-gram with the planted
    * eval set (doc_id % 17 = 0) drop — the eval docs flag themselves, so
    * the kept set is exactly what the oracle's shingle join computes.
    */
  val decontaminate = q("x_decontaminate",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') AS toks
      |  FROM documents),
      |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 12),
      |              i -> array_to_string(toks[i : i + 12], ' '))) AS s
      |       FROM t WHERE len(toks) >= 13),
      |bad AS (SELECT DISTINCT d.doc_id FROM sh d
      |        JOIN (SELECT DISTINCT s FROM sh WHERE doc_id % 17 = 0) e USING (s))
      |SELECT doc_id FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    CorpusClean.decontaminate(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 17 === 0), "text", n = 13)
      .select(col("doc_id"))
  }

  /** Count-min-sketch token frequencies beside the exact counts: the
    * fixed-size frequency summary (4×64 counters here — deliberately
    * narrow so bucket collisions REALLY occur and the min-over-depths
    * read does real work), est ≥ true by construction. Hash-matched:
    * the md5-prefix bucketing replays bit-identically, so the oracle
    * rebuilds the same counter table and the same estimates.
    */
  val freqCms = q("x_freq_cms",
    """WITH toks AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')) AS t
      |              FROM documents),
      |c AS (SELECT d, CAST('0x' || substring(md5(CAST(d AS VARCHAR) || ':' || t), 1, 8) AS UBIGINT) % 64 AS b,
      |             count(*) AS n
      |      FROM toks CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) GROUP BY 1, 2),
      |qt AS (SELECT DISTINCT unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')) AS token
      |       FROM documents WHERE doc_id < 3),
      |est AS (SELECT qt.token, min(coalesce(c.n, 0)) AS est_n
      |        FROM qt CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) AS dd
      |        LEFT JOIN c ON c.d = dd.d
      |          AND c.b = CAST('0x' || substring(md5(CAST(dd.d AS VARCHAR) || ':' || qt.token), 1, 8) AS UBIGINT) % 64
      |        GROUP BY 1),
      |tru AS (SELECT t AS token, count(*) AS true_n FROM toks GROUP BY 1)
      |SELECT est.token, est.est_n, coalesce(tru.true_n, 0) AS true_n
      |FROM est LEFT JOIN tru USING (token)""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val toks = docs.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .localCheckpoint(eager = true) // counters + exact counts share it
    val counters = graft.ext.Sketch.cmsCounters(toks, col("token"),
      depth = 4, width = 64)
    val queries = docs.filter(col("doc_id") < 3)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token")).distinct()
    val est = graft.ext.Sketch.cmsEstimate(counters, queries, "token",
      depth = 4, width = 64)
    val tru = toks.groupBy(col("token")).agg(count(lit(1)).as("true_n"))
    est.join(tru, Seq("token"), "left")
      .select(col("token"), col("est_n"),
        coalesce(col("true_n"), lit(0L)).as("true_n"))
  }

  /** Balanced per-stratum subset: exactly 5 docs per source, chosen by
    * the deterministic salted-md5 order — content-keyed, so the oracle
    * replays the exact row set (no RNG, no TABLESAMPLE).
    */
  val sampleGroupTopK = q("x_sample_group_topk",
    """WITH r AS (SELECT doc_id, source,
      |                  row_number() OVER (PARTITION BY source
      |                    ORDER BY md5(source || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |           FROM documents)
      |SELECT doc_id, source FROM r WHERE rn <= 5""".stripMargin) { (s, dir) =>
    graft.ext.Sampling.stratifiedTopK(Tables.documents(s, dir),
        col("source"), col("doc_id"), k = 5)
      .select(col("doc_id"), col("source"))
  }

  /** Compression-ratio quality signal mechanics (deflate is not
    * DuckDB-replayable, so the gate pins INVARIANTS): every ratio is
    * positive and bounded, and a document repeated four times always
    * compresses strictly better than the document itself — the exact
    * property that makes the ratio a boilerplate detector.
    */
  val textCompressionGate =
    q("x_text_compression_gate", "SELECT true AS compression_ok") { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .filter(length(col("text")) >= 64)
        .select(col("text"),
          TextAnalysis.compressionRatio(col("text")).as("__r1"),
          TextAnalysis.compressionRatio(
            concat_ws(" ", col("text"), col("text"), col("text"), col("text")))
            .as("__r4"))
      docs.agg((min(col("__r1")) > 0.0 && max(col("__r1")) <= 1.2 &&
        max(when(col("__r4") >= col("__r1"), 1).otherwise(0)) === 0)
        .as("compression_ok"))
    }

  /** The contamination AUDIT: one row per contaminated (doc, eval) pair
    * with the distinct shared 13-gram count — the evidence trail behind
    * x_decontaminate's silent drop. Hash-matched: the Spark side counts
    * distinct shingle HASHES, the oracle distinct gram strings
    * (collision-free at these corpus sizes by construction of xxhash64).
    */
  val contaminationReport = q("x_contamination_report",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') AS toks
      |  FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(toks) - 12),
      |              i -> array_to_string(toks[i : i + 12], ' '))) AS s
      |       FROM t WHERE len(toks) >= 13),
      |ev AS (SELECT DISTINCT doc_id AS eval_id, s FROM sh WHERE doc_id % 17 = 0)
      |SELECT d.doc_id, e.eval_id, count(*) AS n_shared_grams
      |FROM sh d JOIN ev e USING (s)
      |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    CorpusClean.contaminationReport(docs, "doc_id", "text",
      docs.filter(col("doc_id") % 17 === 0), "doc_id", "text", n = 13)
  }

  /** Leakage-safe 80/20 split over the copies corpus: exact-duplicate
    * groups hash on their canonical member, so a document and its
    * copies provably land in the same split (the oracle replays the
    * window + md5 threshold exactly; a row-keyed hash would scatter
    * the planted copies across the boundary).
    */
  val splitLeakageSafe = q("x_split_leakage_safe",
    s"""WITH corpus AS (SELECT * FROM $docsWithCopiesSql),
       |c AS (SELECT doc_id, CASE WHEN text IS NULL THEN doc_id
       |                          ELSE min(doc_id) OVER (PARTITION BY text) END AS canon
       |      FROM corpus)
       |SELECT doc_id,
       |       CASE WHEN md5(CAST(canon AS VARCHAR)) < 'cccccccc' THEN 'train'
       |            ELSE 'test' END AS split
       |FROM c""".stripMargin) { (s, dir) =>
    graft.ext.Sampling.leakageSafeSplit(docsWithCopies(s, dir), "doc_id",
        col("text"), trainRate = 0.8)
      .select(col("doc_id"), col("split"))
  }

  /** Bloom decontamination gate — the no-false-negative INVARIANT: the
    * Bloom screen's survivors must be a subset of the exact semi-join's
    * survivors (every truly contaminated doc gone; over-drop allowed at
    * ~fpp per shingle, under-drop never). Also requires the screen to be
    * non-degenerate (the contaminated eval members themselves must drop,
    * so an always-false filter cannot pass).
    */
  val decontaminateBloom =
    q("x_decontaminate_bloom", "SELECT true AS bloom_ok") { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val eval_ = docs.filter(col("doc_id") % 17 === 0)
      val exact = CorpusClean.decontaminate(docs, "doc_id", "text", eval_,
          "text", n = 13)
        .select(col("doc_id"), lit(1).as("__ex"))
      val bloom = CorpusClean.decontaminateBloom(docs, "doc_id", "text", eval_,
          "text", n = 13)
        .select(col("doc_id"))
        .localCheckpoint(eager = false) // consumed by the subset AND eval checks (lazy: one action)
      val subset = bloom.join(exact, Seq("doc_id"), "left")
        .agg((count(lit(1)) === count(col("__ex"))).as("__sub"))
      // eval docs long enough to shingle must screen themselves out
      val evalGone = bloom
        .join(eval_.filter(size(graft.ext.TextAnalysis.tokens(col("text"))) >= 13)
          .select(col("doc_id"), lit(1).as("__ev")), Seq("doc_id"), "left")
        .agg((count(col("__ev")) === 0).as("__gone"))
      subset.crossJoin(evalGone)
        .select((col("__sub") && col("__gone")).as("bloom_ok"))
    }

  // -------------------------------------------------------- streaming
  val streamWindow = q("x_stream_window",
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |       count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    EventStreams.windowedAgg(Tables.events(s, dir), "1 hour")
  }

  /** The same windowed aggregation through the REAL Structured Streaming
    * path: events staged to a dir, file-source readStream with watermark,
    * memory sink run to completion. Oracle identical to x_stream_window.
    */
  val streamFileWindow = q("x_stream_file_window",
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |       count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    EventStreams.runWindowedAggOnce(s, eventSpool(s, dir), "graft_stream_win")
  }

  /** Streaming exact-dedup through the REAL streaming path: events with
    * planted full replays staged to a dir, file-source readStream →
    * watermark → dropDuplicatesWithinWatermark → memory sink; dedup must
    * restore the original per-type counts the oracle computes.
    */
  val streamDedup = q("x_stream_dedup",
    """SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
    EventStreams.runDedupOnce(s, replaySpool(s, dir), "graft_stream_dedup")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
  }

  /** Incremental MinHash near-dup through the real streaming path: the
    * documents spool delivered one file per micro-batch, each batch
    * sketched once and joined against the persisted signature store
    * (old↔new) plus itself (new↔new). The gate pins streamed == one-shot
    * batch `minhashCandidates` on the full corpus — pair set AND
    * estimated jaccards — so a store-join bug (lost band, double pair,
    * wrong signature carried) fails correctness, with the planted-pair
    * recall already guaranteed by the equality to the gated batch form.
    * The stream execution is the [[minhashStreamStore]] run shared with
    * the components gate; this gate re-derives the full one-shot batch
    * candidates and pins the store's pairs against them.
    */
  val streamDedupMinhash = q("x_stream_dedup_minhash",
    "SELECT true AS stream_minhash_ok") { (s, dir) =>
    // NOT Par'd (r22 A/B: the concurrent-legs form read +10% — the store
    // read is too small to hide the added checkpoint materializations;
    // the batch side dominates either way)
    val streamed = graft.streaming.DocStreams.readPairs(s, minhashStreamStore(s, dir))
      .withColumnRenamed("est_jaccard", "__se")
    val batch = Dedup.minhashCandidates(docsWithVariants(s, dir), "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3, minEstJaccard = 0.5,
      maxBucketSize = 1000000)
    streamed.join(batch, Seq("id_a", "id_b"), "full")
      .agg((count(lit(1)) === count(col("__se")) &&
        count(lit(1)) === count(col("est_jaccard")) &&
        coalesce(max(abs(col("__se") - col("est_jaccard"))) <= 1e-9, lit(true)))
        .as("stream_minhash_ok"))
  }

  /** Incremental SimHash near-dup through the real streaming path — the
    * hamming-radius sibling of `x_stream_dedup_minhash`, same spool, same
    * signature-store machinery, pigeonhole block keys instead of LSH
    * bands. The gate pins streamed == one-shot batch `simhashPairs` on
    * the full corpus — pair set AND hamming distances.
    */
  private val simhashRuns =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One memoized SimHash-dedup stream run per fixture (the
    * [[InputPrep.sharedRuns]] discipline — the r17/r18 restructure
    * missed this sibling and it billed 6 s in-timer at r19): the
    * micro-batch ingestion maintains the signature store once per JVM;
    * the gate reads the store's pairs.
    */
  private[queries] def simhashStreamStore(s: SparkSession, dir: String): String =
    simhashRuns.computeIfAbsent(Staging.tag(dir), _ => {
      val spool = stageDocSpool(s, dir)
      val store = s"/tmp/graft_stream_simhash/${Staging.tag(dir)}_store"
      // caps inert on both sides, same reasoning as the MinHash gate;
      // storeParts sized for the gate corpus (appended files per batch =
      // touched partitions)
      graft.streaming.DocStreams.runSimhashDedupOnce(s, spool, store,
        maxHamming = 3, maxBucketSize = 1000000, storeParts = 4)
      store
    })

  val streamDedupSimhash = q("x_stream_dedup_simhash",
    "SELECT true AS stream_simhash_ok") { (s, dir) =>
    val streamed = graft.streaming.DocStreams.readSimhashPairs(s,
        simhashStreamStore(s, dir))
      .withColumnRenamed("hamming", "__sh")
    val batch = Dedup.simhashPairs(docsWithVariants(s, dir), "doc_id", "text",
      maxHamming = 3, maxBucketSize = 1000000)
    streamed.join(batch, Seq("id_a", "id_b"), "full")
      .agg((count(lit(1)) === count(col("__sh")) &&
        count(lit(1)) === count(col("hamming")) &&
        coalesce(max(when(col("__sh") =!= col("hamming"), 1).otherwise(0)) === 0,
          lit(true))).as("stream_simhash_ok"))
  }

  /** The streaming dedup loop CLOSED through clusters: the same
    * incremental MinHash stream with per-batch label maintenance
    * ([[graft.ext.IncrementalComponents]]) — near-dup pairs merge into
    * persisted duplicate clusters as they arrive, instead of requiring a
    * full batch components rerun over every pair ever seen. The gate
    * pins the streamed labels against batch `connectedComponents` over
    * the stream's own final pair set (labels are canonical min-ids, so
    * both sides must agree exactly). The stream execution is the shared
    * [[minhashStreamStore]] run (2-slice spool: store-bootstrap AND
    * cross-generation merge paths both exercised); this gate checks the
    * label store, the pairs gate checks the pair store.
    */
  val streamDedupComponents = q("x_stream_dedup_components",
    "SELECT true AS stream_components_ok") { (s, dir) =>
    val store = minhashStreamStore(s, dir)
    val streamed = graft.streaming.DocStreams.readPairs(s, store)
    val comps = graft.ext.IncrementalComponents.read(s, s"$store/comps")
    val batch = batchComponentsRef(s, dir, streamed)
      .withColumnRenamed("component", "__bc")
    comps.join(batch, Seq("id"), "full")
      .agg((count(lit(1)) === count(col("component")) &&
        count(lit(1)) === count(col("__bc")) &&
        coalesce(max(when(col("component") =!= col("__bc"), 1).otherwise(0)) === 0,
          lit(true))).as("stream_components_ok"))
  }

  /** Streaming ANN index maintenance through the real streaming path:
    * an IVF×PQ index built on the base half of the gate corpus, then the
    * other half APPENDED from a spool one micro-batch at a time under
    * frozen quantizers. Must serve exactly the one-shot encode of the
    * full corpus against those codebooks — the streaming analog of
    * `x_knn_pq_append` (a lost batch, double append, or partition
    * misplacement breaks the equality, not just the shape). The base
    * index is rebuilt per run (appends are destructive to a shared
    * fixture); that inline build is the same bounded 8-vector training
    * the persistence gate already pays.
    */
  /** One memoized append-stream run per fixture (the
    * [[InputPrep.sharedRuns]] discipline): base build + streamed
    * exactly-once appends execute once per JVM on the
    * `shared_runs_sec` line; the gate times the serve + reference
    * equivalence it exists to pin (r17 VERDICT: the in-timer run cost
    * 12.4 s at the driver condition). Index AND its paired streaming
    * checkpoint are recreated together inside the one run: batch ids
    * come from the checkpoint, markers live in the index dir — a stale
    * half would trip the fresh-checkpoint-vs-marked-index guard, so
    * the delete + build + stream stay a single unit.
    */
  private val knnAppendRuns =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[queries] def knnAppendIndex(s: SparkSession, dir: String): String =
    knnAppendRuns.computeIfAbsent(Staging.tag(dir), tag => {
      val idx = s"/tmp/graft_stream_knn/${tag}_idx"
      val ckpt = s"${idx}_ckpt"
      Seq(idx, ckpt).foreach { p =>
        val f = new java.io.File(p)
        if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
      }
      val emb16 = Tables.embeddings(s, dir).filter(col("vec_id") < 16)
      AnnIndex.buildIvfPq(emb16.filter(col("vec_id") < 8), "vec_id",
        "embedding", idx, nlist = 4, m = 8, ksub = 8, iters = 1)
      graft.streaming.DocStreams.runIvfPqAppendOnce(s,
        stageEmbSpool(s, dir), idx, ckpt)
      idx
    })

  val streamKnnAppend = q("x_stream_knn_append",
    "SELECT true AS stream_append_ok") { (s, dir) =>
    val emb16 = Tables.embeddings(s, dir).filter(col("vec_id") < 16)
    val index = AnnIndex.readIvfPq(s, knnAppendIndex(s, dir))
    val queries = emb16.filter(col("vec_id") < 5)
    val served = AnnIndex.ivfPqTopK(s, index, queries, "vec_id", "embedding",
      5, nprobe = 4)
    val ref = Similarity.pqTopKWithModel(queries, "vec_id", "embedding",
        Similarity.PqModel(index.codebooks,
          Similarity.pqEncode(emb16, "vec_id", "embedding",
            index.codebooks, index.m, index.sub),
          index.m, index.sub), 5)
      .withColumnRenamed("cosine_pq", "__c2")
    served.join(ref, Seq("query_id", "rank", "neighbor_id"), "full")
      .agg((count(lit(1)) === count(col("cosine_pq")) &&
        count(lit(1)) === count(col("__c2")) &&
        max(abs(col("cosine_pq") - col("__c2"))) <= 1e-9).as("stream_append_ok"))
  }

  /** Streaming recall monitor — quality-over-time for the frozen-
    * quantizer append maintenance: the same spool streamed through
    * [[graft.streaming.DocStreams.runIvfPqAppendWithRecallOnce]], each
    * batch logging (hits, possible, recall_q) of the served index vs
    * its own live exact vectors in the batch's exactly-once
    * transaction. The gate recomputes every batch's expected counters
    * from scratch — a one-shot frozen-quantizer encode of the prefix
    * corpus (the x_knn_pq_append invariant gives streamed state ==
    * prefix encode), measured by the same counter helper — and the log
    * must match row for row: a monitor that measured a half-published
    * batch, double-counted a replay, or logged the wrong epoch's state
    * breaks the equality.
    */
  /** One staged monitor run per fixture (the stageSweepFixtures
    * discipline — the run and its from-scratch expectation are fixture
    * machinery; idempotency lives in the persisted tables, and
    * StreamRecallSpec drives the crash-replay mechanics): the base
    * index built on vec_id < 8, the spool streamed once with the recall
    * monitor, and each batch's EXPECTED counters recomputed from a
    * one-shot frozen-quantizer encode of the prefix corpus (streamed
    * state == prefix encode, the x_knn_pq_append invariant), persisted
    * beside the log. Under the returned root: the index `idx/` (its
    * `recall_log/` is the monitor's), the stream checkpoint `ckpt/`, the
    * prefix scratch indexes `prefix<batch>/` and the counters `expected/`.
    */
  def stageStreamRecall(s: SparkSession, dir: String): String =
    Staging.once("stream_recall", dir) { root =>
      val idx = s"$root/idx"
      val emb16 = Tables.embeddings(s, dir).filter(col("vec_id") < 16)
      val spool = stageEmbSpool(s, dir)
      val queries = emb16.filter(col("vec_id") < 5)
        .localCheckpoint(eager = true)
      AnnIndex.buildIvfPq(emb16.filter(col("vec_id") < 8), "vec_id", "embedding",
        idx, nlist = 4, m = 8, ksub = 8, iters = 1, keepVectors = true)
      graft.streaming.DocStreams.runIvfPqAppendWithRecallOnce(s, spool, idx,
        s"$root/ckpt", queries, k = 5, nprobe = 2)
      val streamed = AnnIndex.readIvfPq(s, idx)
      Seq(0L -> (col("vec_id") < 12), 1L -> lit(true)).map {
        case (bid, pred) =>
          val scratch = s"$root/prefix$bid"
          val prefix = emb16.filter(pred)
          AnnIndex.buildIvfPq(prefix, "vec_id", "embedding",
            scratch, nlist = 4, m = 8, ksub = 8, iters = 1, keepVectors = true,
            coarseIn = Some(streamed.coarse), modelIn = Some(
              Similarity.PqModel(streamed.codebooks,
                Similarity.pqEncode(prefix, "vec_id", "embedding",
                  streamed.codebooks, streamed.m, streamed.sub),
                streamed.m, streamed.sub)))
          val (h, p) = AnnIndex.ivfPqRecallCounters(s, scratch, queries,
            "vec_id", "embedding", k = 5, nprobe = 2)
          val rq = if (p == 0L) 0L else math.floor(h.toDouble / p * 1e6).toLong
          s.range(1).select(lit(bid).as("batch_id"), lit(h).as("hits"),
            lit(p).as("possible"), lit(rq).as("recall_q"))
      }.reduce(_ unionByName _)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/expected")
    }

  val streamRecall = q("x_stream_recall",
    "SELECT true AS stream_recall_ok") { (s, dir) =>
    val root = stageStreamRecall(s, dir)
    val logged = graft.util.TinyParquet.openStore(s, s"$root/idx/recall_log")
      .select(col("batch_id"), col("hits"), col("possible"), col("recall_q"))
    val expected = graft.util.TinyParquet.openStore(s, s"$root/expected")
    logged.withColumn("__a", lit(1))
      .join(expected.withColumn("__b", lit(1)),
        Seq("batch_id", "hits", "possible", "recall_q"), "full")
      .agg((count(lit(1)) === lit(2) && count(col("__a")) === lit(2) &&
        count(col("__b")) === lit(2)).as("stream_recall_ok"))
  }

  /** Streaming inverted-index maintenance through the real streaming
    * path: the index built on the even half, the odd half APPENDED from
    * a spool one micro-batch at a time under the exactly-once staged
    * publish. The inverted layout appends compositionally (no frozen
    * stats), so served BM25 must equal the from-scratch computation
    * over the FULL corpus — a lost batch, double publish, or stale
    * N/avgdl breaks the equality outright.
    */
  /** One memoized run of the COMBINED text-ingestion stream per fixture
    * (the shared-run discipline): both text indexes — inverted and
    * positional — are rebuilt on the even half and the odd-half spool
    * is streamed ONCE, each micro-batch appending into both layouts
    * ([[graft.streaming.DocStreams.runTextIndexesAppendOnce]]).
    * Whichever gate runs first pays the run; both read their index.
    * Returns (inverted index dir, positional index dir).
    */
  private val textAppendRuns =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private[queries] def textAppendIndexes(s: SparkSession, dir: String): (String, String) =
    textAppendRuns.computeIfAbsent(Staging.tag(dir), _ => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val spool = stageTextSpool(s, dir)
      val idx = s"/tmp/graft_stream_text/${Staging.tag(dir)}_idx"
      val pidx = s"/tmp/graft_stream_pos/${Staging.tag(dir)}_idx"
      val ckpt = s"${idx}_ckpt"
      // indexes AND their paired checkpoint recreated together (the
      // pairing guard refuses a stale half)
      Seq(idx, pidx, ckpt).foreach { p =>
        val f = new java.io.File(p)
        if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
      }
      val base = docs.filter(col("doc_id") % 2 === 0)
      graft.ext.TextIndex.build(base, "doc_id", "text", idx, parts = 8)
      graft.ext.TextIndex.buildPositional(base, "doc_id", "text", pidx, parts = 8)
      graft.streaming.DocStreams.runTextIndexesAppendOnce(s, spool, idx, pidx, ckpt)
      (idx, pidx)
    })

  val streamTextAppend = q("x_stream_text_append",
    "SELECT true AS stream_text_ok") { (s, dir) =>
    import s.implicits._
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val (idx, _) = textAppendIndexes(s, dir)
    val queries = Seq((0L, "window merge scan"), (1L, "fast customer join"),
      (2L, "stream batch value")).toDF("qid", "qtext")
    // indexed serve vs from-scratch batch scorer — the x_text_bm25_maint
    // shape; concurrent legs (Par discipline)
    val Seq(served, ref) = graft.util.Par.all(2)(Seq(
      () => graft.ext.TextIndex.bm25TopKIndexed(s, idx, queries,
          "qid", "qtext", 10)
        .localCheckpoint(eager = true),
      () => TextSearch.bm25TopK(docs, "doc_id", "text", queries,
          "qid", "qtext", 10)
        .withColumnRenamed("score", "__s2")
        .localCheckpoint(eager = true)))
    served.join(ref, Seq("query_id", "rank", "doc_id"), "full")
      .agg((count(lit(1)) === count(col("score")) &&
        count(lit(1)) === count(col("__s2")) &&
        max(abs(col("score") - col("__s2"))) <= 1e-9).as("stream_text_ok"))
  }

  /** Stream-static join through the real streaming path: events enriched
    * with the customer dimension (market segment), aggregated per segment.
    */
  val streamStaticJoin = q("x_stream_static_join",
    """SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    val dim = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
    EventStreams.runEnrichedAggOnce(s, eventSpool(s, dir), dim, "c_custkey", "c_mktsegment",
      "graft_stream_enriched")
  }

  /** Streaming SKETCH maintenance through the real streaming path: CMS
    * counter deltas appended exactly once per micro-batch, FOLDED onto
    * the shared minhash ingestion run (the [[minhashStreamStore]]
    * memoized run's `alsoPerBatch` hook) — one document stream
    * maintains the dedup signature store, the incremental components
    * AND this frequency sketch, so the gate pays a store read instead
    * of a second stream + spool. Counters are associative, so after the
    * delete leg the summed delta store must equal the one-shot batch
    * counters over the SURVIVOR corpus EXACTLY — integer cell-for-cell
    * equality, no probabilistic band; a lost batch, double publish,
    * double-applied delete, or partial rename breaks it outright. (The standalone
    * [[graft.streaming.DocStreams.runCmsAppendOnce]] operator remains
    * the single-store entry point; its crash-replay spec pins the same
    * publish machinery this hook uses.)
    */
  val streamFreqCms = q("x_stream_freq_cms",
    "SELECT true AS stream_cms_ok") { (s, dir) =>
    val store = minhashStreamStore(s, dir)
    // DELETION leg (r13 VERDICT #2): forget the variant docs by
    // publishing their counters NEGATED through the same exactly-once
    // protocol (counters are associative; key "d0" is idempotent, so a
    // replay cannot subtract twice) — the summed store must then equal
    // the batch counters over the SURVIVORS, cell for cell. Cells whose
    // live count cancels to zero stay in the store sum as 0 rows while
    // the batch side never emits them, hence the coalesce-to-0 compare.
    // capture the store generation BEFORE fixing the delete set: the
    // delta is valid for the generation its inputs were decided against
    // (r20 ADVICE — publish-time capture made the rebuild guard vacuous)
    val gen0 = graft.streaming.DocStreams.storeGeneration(s, s"$store/cms")
    graft.streaming.DocStreams.publishCmsDelete(s, s"$store/cms",
      docsWithVariants(s, dir).filter(col("doc_id") >= 100000),
      key = "d0", depth = 4, width = 64, expectedGen = gen0)
    val streamed = graft.streaming.DocStreams.readCmsCounters(s, s"$store/cms")
    val batch = graft.ext.Sketch.cmsCounters(
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("t")),
      col("t"), depth = 4, width = 64)
      .withColumnRenamed("n", "__bn")
    streamed.join(batch, Seq("d", "b"), "full")
      .agg(coalesce(max(when(
          coalesce(col("n"), lit(0L)) =!= coalesce(col("__bn"), lit(0L)), 1)
        .otherwise(0)) === 0, lit(true)).as("stream_cms_ok"))
  }

  /** AS-OF with a staleness cap: the point-in-time lookup refuses the
    * latest snapshot when it is older than the tolerance (feature-store
    * semantics — stale features are worse than missing ones). Oracle is
    * DuckDB's native ASOF plus the explicit staleness filter.
    */
  val asofTolerance = q("x_asof_tolerance",
    """WITH snap AS (
      |  SELECT o_custkey AS k, o_orderdate AS sts,
      |         round(sum(o_totalprice), 2) AS snap_total
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id,
      |       CASE WHEN s.sts >= e.ts - INTERVAL 8600 DAY THEN s.snap_total END AS snap_total
      |FROM events e ASOF LEFT JOIN snap s ON e.user_id = s.k AND e.ts >= s.sts""".stripMargin) {
    (s, dir) =>
      val snap = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(round(sum(col("o_totalprice")), 2).as("snap_total"))
      val events = Tables.events(s, dir).select(col("event_id"), col("ts"), col("user_id"))
      graft.ext.Joins.asofJoin(events, col("user_id"), col("ts"),
          snap, col("o_custkey"), col("o_orderdate"), Seq("snap_total"),
          tolerance = Some(expr("INTERVAL 8600 DAYS")))
        .select(col("event_id"), col("user_id"), col("snap_total"))
  }

  /** Interval-containment range join through the bucketized equi-join
    * form (naive BETWEEN theta joins fall to BroadcastNestedLoop /
    * Cartesian — the range-join scale trap): per-user sessions become
    * intervals, every event whose ts falls inside an interval matches
    * (cross-user on purpose — genuine containment, not session
    * membership), aggregated per session. The oracle replays it as a
    * straight `ON ts BETWEEN start AND end` join, so bucket boundary
    * bugs (inclusive ends, bucket-crossing intervals, the decimal floor)
    * break the hash.
    */
  /** Interval-OVERLAP join (the shape rangeJoin's containment cannot
    * express): sessions of a WATCHLIST of users (every 50th id) overlap-
    * joined against the whole corpus's sessions — which sessions ran
    * concurrently with a monitored user's, one row per session pair via
    * the first-shared-bucket emission (no post-dedup), aggregated per
    * user pair with exact integer overlap durations. The watchlist keeps
    * the ANSWER near-linear (all-users × all-users concurrency on a
    * uniform fixture is genuinely quadratic — the answer, not the plan);
    * the oracle replays the straight `a.st <= b.en AND b.st <= a.en`
    * theta join, so bucket-boundary bugs, closed-endpoint handling, and
    * the structural dedup all break the hash.
    */
  val overlapJoinSessions = q("x_overlap_join",
    """WITH e AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '4 hours'
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                               ROWS UNBOUNDED PRECEDING) AS sid FROM e),
      |sess AS (SELECT user_id su, min(ts) st, max(ts) en
      |         FROM s GROUP BY user_id, sid),
      |p AS (
      |  SELECT a.su AS a_user, b.su AS b_user,
      |         epoch_us(least(a.en, b.en)) - epoch_us(greatest(a.st, b.st)) AS ov
      |  FROM sess a JOIN sess b ON a.st <= b.en AND b.st <= a.en
      |   AND a.su % 50 = 0 AND a.su <> b.su)
      |SELECT a_user, b_user, CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(sum(ov) AS BIGINT) AS overlap_us
      |FROM p GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val events = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val sess = EventStreams.sessionizeBatch(events, gapMs = 4L * 3600 * 1000)
    val a = sess.filter(col("user_id") % 50 === 0)
      .select(col("user_id").as("a_user"),
        col("start").as("a_start"), col("end").as("a_end"))
    val b = sess.select(col("user_id").as("b_user"),
      col("start").as("b_start"), col("end").as("b_end"))
    graft.ext.Joins.overlapJoin(
        a, unix_micros(col("a_start")), unix_micros(col("a_end")),
        b, unix_micros(col("b_start")), unix_micros(col("b_end")),
        bucketWidth = 6L * 3600 * 1000000L)
      .filter(col("a_user") =!= col("b_user"))
      .groupBy(col("a_user"), col("b_user"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(unix_micros(least(col("a_end"), col("b_end"))) -
          unix_micros(greatest(col("a_start"), col("b_start")))).as("overlap_us"))
  }

  val rangeJoinSessions = q("x_range_join",
    """WITH e AS (
      |  SELECT user_id, ts, event_id, value,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '4 hours'
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                               ROWS UNBOUNDED PRECEDING) AS sid FROM e),
      |sess AS (SELECT user_id su, min(ts) st, max(ts) en
      |         FROM s GROUP BY user_id, sid)
      |SELECT su AS s_user, st AS session_start,
      |       count(*) AS n_in_window, round(sum(ev.value), 2) AS sum_value
      |FROM sess JOIN events ev ON ev.ts BETWEEN st AND en
      |GROUP BY su, st""".stripMargin) { (s, dir) =>
    val events = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val sess = EventStreams.sessionizeBatch(events, gapMs = 4L * 3600 * 1000)
      .select(col("user_id").as("s_user"), col("start"), col("end"))
    val pts = events.select(col("ts").as("ev_ts"), col("value"))
    graft.ext.Joins.rangeJoin(sess,
        unix_micros(col("start")), unix_micros(col("end")),
        pts, unix_micros(col("ev_ts")), bucketWidth = 86400000000L)
      .groupBy(col("s_user"), col("start"))
      .agg(count(lit(1)).as("n_in_window"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("s_user"), col("start").as("session_start"),
        col("n_in_window"), col("sum_value"))
  }

  /** Interval containment with a WIDE interval payload through the
    * `narrowPayload` plan, in the shape where the narrow form actually
    * matters: per-TENANT enrichment — one long interval per user (their
    * whole activity span + six md5-string feature columns) against the
    * user-keyed event stream. Long intervals explode into MANY daily
    * buckets (the whole span), so the default plan would replicate
    * ~200 B of payload per (interval × bucket); the narrow plan ships
    * (rowid, start, end, key) only and re-attaches payload by rowid
    * after the match (plan-asserted payload-free explode in
    * PlanAssertionsSpec). The oracle recomputes the payload and the
    * containment from first principles, so a re-attach bug (wrong
    * rowid, lost row, crossed payload) breaks the hash.
    */
  val rangeJoinWide = q("x_range_join_wide",
    """WITH iv AS (SELECT user_id u, min(ts) st, max(ts) en FROM events GROUP BY 1)
      |SELECT u AS user_id,
      |       md5(CAST(u AS VARCHAR) || ':1') AS p1,
      |       md5(CAST(u AS VARCHAR) || ':2') AS p2,
      |       md5(CAST(u AS VARCHAR) || ':3') AS p3,
      |       md5(CAST(u AS VARCHAR) || ':4') AS p4,
      |       md5(CAST(u AS VARCHAR) || ':5') AS p5,
      |       md5(CAST(u AS VARCHAR) || ':6') AS p6,
      |       count(*) AS n_events, round(sum(e.value), 2) AS sum_value
      |FROM iv JOIN events e ON e.user_id = u AND e.ts BETWEEN st AND en
      |GROUP BY u""".stripMargin) { (s, dir) =>
    val events = Tables.events(s, dir)
      .select(col("ts"), col("user_id"), col("value"))
    val pcols = (1 to 6).map(i =>
      md5(concat(col("u").cast("string"), lit(s":$i"))).as(s"p$i"))
    val iv = events.groupBy(col("user_id").as("u"))
      .agg(min(col("ts")).as("start"), max(col("ts")).as("end"))
      .select(Seq(col("u"), col("start"), col("end")) ++ pcols: _*)
    val pts = events.select(col("ts").as("ev_ts"), col("user_id").as("ev_user"),
      col("value"))
    graft.ext.Joins.rangeJoin(iv,
        unix_micros(col("start")), unix_micros(col("end")),
        pts, unix_micros(col("ev_ts")), bucketWidth = 86400000000L,
        leftExtraKey = Some(col("u")), rightExtraKey = Some(col("ev_user")),
        narrowPayload = true)
      // group on the narrow tenant key; payload is constant per tenant,
      // so min() carries it without widening the aggregate key
      .groupBy(col("u"))
      .agg(min(col("p1")).as("p1"),
        (2 to 6).map(i => min(col(s"p$i")).as(s"p$i")) ++ Seq(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value")): _*)
      .select(Seq(col("u").as("user_id")) ++ (1 to 6).map(i => col(s"p$i")) ++
        Seq(col("n_events"), col("sum_value")): _*)
  }

  /** Streaming incremental upsert (CDC-into-table): the upsert spool's
    * files merged into a live parquet table one micro-batch at a time via
    * the SAME Upsert.merge + writeSwap as the batch import. The oracle
    * replays the end state from first principles: per user, the staged
    * row of the LAST slice containing that user (slices are event_id %
    * 3; each staged file keeps the max-(ts,event_id) row per user). The
    * stream execution is the shared [[upsertStreamRun]].
    */
  val streamUpsert = q("x_stream_upsert",
    """WITH sliced AS (
      |  SELECT event_id, ts, user_id, event_type, value, event_id % 3 AS slice,
      |         row_number() OVER (PARTITION BY event_id % 3, user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events),
      |staged AS (SELECT * FROM sliced WHERE rn = 1),
      |final AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY slice DESC) AS rn2
      |  FROM staged)
      |SELECT event_id, ts, user_id, event_type, value FROM final WHERE rn2 = 1""".stripMargin) {
    (s, dir) =>
    graft.util.TinyParquet.openStore(s, upsertStreamRun(s, dir)._1)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
  }

  /** The created/updated split of the SAME incremental run (the shared
    * [[upsertStreamRun]] — the counters and the final table are two
    * outputs of one engine execution, so one run serves both gates):
    * a user's first slice creates, each later slice updates, so created
    * = distinct users and updated = (slice,user) pairs minus created.
    */
  val streamUpsertCounters = q("x_stream_upsert_counters",
    """WITH staged AS (SELECT DISTINCT event_id % 3 AS slice, user_id FROM events)
      |SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS created,
      |       CAST(count(*) - count(DISTINCT user_id) AS BIGINT) AS updated
      |FROM staged""".stripMargin) { (s, dir) =>
    import s.implicits._
    val (_, created, updated) = upsertStreamRun(s, dir)
    Seq((created, updated)).toDF("created", "updated")
  }

  /** One incremental-upsert stream run shared by `x_stream_upsert` and
    * `x_stream_upsert_counters` (memoized per spool content fingerprint):
    * the final table and the created/updated counters are BOTH outputs of
    * the same engine execution — the two gates check the two outputs, so
    * a second identical run verified nothing the first does not.
    * Whichever gate runs first pays the run.
    */
  private val upsertRuns =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long, Long)]()
  private[queries] def upsertStreamRun(s: SparkSession, dir: String): (String, Long, Long) =
    upsertRuns.computeIfAbsent(Staging.tag(dir), _ => {
      val spool = stageUpsertSpool(s, dir)
      val table = s"/tmp/graft_stream_upsert_tbl/${Staging.tag(dir)}"
      val (created, updated) = EventStreams.runUpsertOnce(s, spool, table, "user_id")
      (table, created, updated)
    })

  val sessionize = q("x_sessionize",
    """WITH e AS (
      |  SELECT user_id, ts, event_id, value,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '4 hours'
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                               ROWS UNBOUNDED PRECEDING) AS sid FROM e)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |       count(*) AS n_events, round(sum(value), 2) AS total_value
      |FROM s GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
    val events = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    EventStreams.sessionizeBatch(events, gapMs = 4L * 3600 * 1000)
      .select(col("user_id"),
        col("start").as("session_start"), col("end").as("session_end"),
        col("n_events"), round(col("total_value"), 2).as("total_value"))
  }

  /** The SAME sessionization through the real incremental path: file
    * source delivering ts-ordered spool files one per micro-batch, open
    * sessions carried in the state store between batches, event-time
    * timeouts closing them. Oracle identical to x_sessionize — the
    * incremental operator must reproduce the batch window formulation
    * exactly.
    */
  val streamSessionize = q("x_stream_sessionize",
    """WITH e AS (
      |  SELECT user_id, ts, event_id, value,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '4 hours'
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                               ROWS UNBOUNDED PRECEDING) AS sid FROM e)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |       count(*) AS n_events, round(sum(value), 2) AS total_value
      |FROM s GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
    val tmp = stageSessionSpool(s, dir)
    EventStreams.runSessionizeOnce(s, tmp, "graft_stream_sess",
        gapMs = SessGapMs, watermarkDelay = SessWatermarkDelay)
      .select(col("user_id"),
        col("start").as("session_start"), col("end").as("session_end"),
        col("n_events"), round(col("total_value"), 2).as("total_value"))
  }

  /** The SAME incremental sessionization on Spark 4's transformWithState
    * API (explicit keyed ValueState + event-time timers, RocksDB state
    * store) — the v2 stateful-processing path must reproduce the batch
    * window formulation exactly, like the legacy-API form above. Oracle
    * identical to x_sessionize / x_stream_sessionize.
    */
  val streamSessionizeTws = q("x_stream_sessionize_tws",
    """WITH e AS (
      |  SELECT user_id, ts, event_id, value,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '4 hours'
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                               ROWS UNBOUNDED PRECEDING) AS sid FROM e)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |       count(*) AS n_events, round(sum(value), 2) AS total_value
      |FROM s GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
    val tmp = stageSessionSpool(s, dir)
    EventStreams.runSessionizeTwsOnce(s, tmp, "graft_stream_sess_tws",
        gapMs = SessGapMs, watermarkDelay = SessWatermarkDelay)
      .select(col("user_id"),
        col("start").as("session_start"), col("end").as("session_end"),
        col("n_events"), round(col("total_value"), 2).as("total_value"))
  }

  /** BM25 keyword retrieval (k1=1.2, b=0.75) for three fixed queries over
    * the documents table — the lexical-search leg beside embedding ANN.
    * The oracle replays the whole scoring pipeline (tokenize → query-term
    * postings → df → idf → per-term score → per-doc sum) in SQL; the
    * scored SET is compared (no rank column), so near-tie float ordering
    * cannot flake the hash while tf/idf/length arithmetic stays fully
    * gated.
    */
  val textBm25 = q("x_text_bm25",
    """WITH q(qid, qtext) AS (VALUES (0, 'window merge scan'),
      |                             (1, 'fast customer join'),
      |                             (2, 'stream batch value')),
      |toks AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') t
      |         FROM documents),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) n, avg(CAST(len(t) AS DOUBLE)) avg_len FROM toks),
      |qterms AS (SELECT DISTINCT qid, unnest(list_filter(string_split_regex(lower(trim(qtext)), '\W+'), x -> x <> '')) term
      |           FROM q),
      |posts AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) tf, CAST(any_value(len) AS DOUBLE) len
      |          FROM (SELECT doc_id, len(t) AS len, unnest(t) AS term FROM toks)
      |          WHERE term IN (SELECT term FROM qterms) GROUP BY 1, 2),
      |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) df FROM posts GROUP BY 1)
      |SELECT qt.qid AS query_id, p.doc_id,
      |       round(sum(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0) * p.tf * 2.2 /
      |                 (p.tf + 1.2 * (0.25 + 0.75 * p.len / s.avg_len))), 4) AS score
      |FROM posts p JOIN qterms qt USING (term) JOIN dfreq d USING (term) CROSS JOIN stats s
      |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    import s.implicits._
    val queries = Seq((0L, "window merge scan"), (1L, "fast customer join"),
      (2L, "stream batch value")).toDF("qid", "qtext")
    TextSearch.bm25Scores(Tables.documents(s, dir), "doc_id", "text",
        queries, "qid", "qtext")
      .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
  }

  /** BM25 through the PERSISTED inverted index: the query terms' buckets
    * are a literal partition filter on the postings scan (plan-asserted
    * pruning — the lexical nprobe), df/N/avgdl recomputed over live
    * rows; the oracle computes BM25 from the raw corpus, so the hash
    * match proves indexed == from-scratch row for row.
    */
  val textBm25Indexed = q("x_text_bm25_indexed",
    """WITH q(qid, qtext) AS (VALUES (0, 'window merge scan'),
      |                             (1, 'fast customer join'),
      |                             (2, 'stream batch value')),
      |toks AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') t
      |         FROM documents),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) n, avg(CAST(len(t) AS DOUBLE)) avg_len FROM toks),
      |qterms AS (SELECT DISTINCT qid, unnest(list_filter(string_split_regex(lower(trim(qtext)), '\W+'), x -> x <> '')) term
      |           FROM q),
      |posts AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) tf, CAST(any_value(len) AS DOUBLE) len
      |          FROM (SELECT doc_id, len(t) AS len, unnest(t) AS term FROM toks)
      |          WHERE term IN (SELECT term FROM qterms) GROUP BY 1, 2),
      |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) df FROM posts GROUP BY 1),
      |sc AS (SELECT qt.qid AS query_id, p.doc_id,
      |              round(sum(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0) * p.tf * 2.2 /
      |                        (p.tf + 1.2 * (0.25 + 0.75 * p.len / s.avg_len))), 4) AS score
      |       FROM posts p JOIN qterms qt USING (term) JOIN dfreq d USING (term) CROSS JOIN stats s
      |       GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |                                   ORDER BY score DESC, doc_id) AS rank
      |      FROM sc)
      |SELECT query_id, rank, doc_id, score FROM r WHERE rank <= 10""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val idx = stageTextIndex(s, dir)
      val queries = Seq((0L, "window merge scan"), (1L, "fast customer join"),
        (2L, "stream batch value")).toDF("qid", "qtext")
      graft.ext.TextIndex.bm25TopKIndexed(s, s"$idx/inv", queries,
        "qid", "qtext", 10)
  }

  /** Inverted-index maintenance parity: the staged
    * build→append→delete→update fixture must serve EXACTLY the
    * from-scratch BM25 over the live documents — postings are
    * per-document local facts recombined with live-recomputed global
    * stats, so unlike the quantizer layouts there is no frozen-model
    * drift term at all; any lost append, unsubtracted tombstone, or
    * stale stat breaks the equality.
    */
  val textBm25Maint = q("x_text_bm25_maint", "SELECT true AS bm25_maint_ok") {
    (s, dir) =>
      import s.implicits._
      val idx = stageTextIndex(s, dir)
      val queries = Seq((0L, "window merge scan"), (1L, "fast customer join"),
        (2L, "stream batch value")).toDF("qid", "qtext")
      val live = Tables.documents(s, dir).filter(col("doc_id") % 20 =!= 0)
      // indexed serve vs from-scratch batch scorer — independent until
      // the compare join, and EACH runs driver-blocking jobs at
      // construction (term-bucket pruning vs the posts lineage cut):
      // concurrent legs, the x_text_asof discipline
      val Seq(served, ref) = graft.util.Par.all(2)(Seq(
        () => graft.ext.TextIndex.bm25TopKIndexed(s, s"$idx/inv_maint",
            queries, "qid", "qtext", 10)
          .localCheckpoint(eager = true),
        () => TextSearch.bm25TopK(live, "doc_id", "text", queries,
            "qid", "qtext", 10)
          .withColumnRenamed("score", "__s2")
          .localCheckpoint(eager = true)))
      served.join(ref, Seq("query_id", "rank", "doc_id"), "full")
        .agg((count(lit(1)) === count(col("score")) &&
          count(lit(1)) === count(col("__s2")) &&
          max(abs(col("score") - col("__s2"))) <= 1e-9).as("bm25_maint_ok"))
  }

  /** Time-travel BM25 — [[knnAsOf]]'s discipline on the TEXT family:
    * the inv_maint fixture's history (build even half + append odd half
    * at epoch 0, delete %20 ending epoch 0, update doc 7 = tombstone at
    * epoch 1 + re-append at epoch 2) serves two historical states
    * through the same bucket-pruned path, each pinned against the
    * from-scratch batch scorer over that epoch's corpus — N/avgdl AND
    * postings cut at the same horizon, so historical scores are exactly
    * what the index served then. Epoch 1 (doc 7 mid-update, absent) is
    * the discriminating cut: a horizon-ignoring read serves 7 and
    * fails it.
    */
  val textAsOf = q("x_text_asof", "SELECT true AS text_asof_ok") { (s, dir) =>
    import s.implicits._
    val idx = stageTextIndex(s, dir)
    val queries = Seq((0L, "window merge scan"), (1L, "fast customer join"),
      (2L, "stream batch value")).toDF("qid", "qtext")
    // both from-scratch references are STAGED with the index (each epoch
    // is a deterministic function of the corpus + maintenance history —
    // N and avgdl cut at the same horizon); the gate pays two indexed
    // serves + two joins, the references once per staging
    def matches(asOf: Long, refPath: String, okCol: String) = {
      val served = graft.ext.TextIndex.bm25TopKIndexed(s, s"$idx/inv_maint",
        queries, "qid", "qtext", 10, asOf = Some(asOf))
      val ref = graft.util.TinyParquet.openStore(s, refPath).withColumnRenamed("score", "__s2")
      served.join(ref, Seq("query_id", "rank", "doc_id"), "full")
        .agg((count(lit(1)) === count(col("score")) &&
          count(lit(1)) === count(col("__s2")) &&
          max(abs(col("score") - col("__s2"))) <= 1e-9).as(okCol))
    }
    // epoch 0: post-%20-delete, doc 7's original generation live;
    // epoch 1: mid-update — doc 7 tombstoned, its re-append not yet in
    // (the horizon-past-newest-equals-live leg lives in AnnAsOfSpec's
    // text test). Constructed CONCURRENTLY: each indexed serve runs a
    // driver-blocking term-bucket pruning job at build time, so serial
    // construction would pay the two epochs' job chains back to back
    // (the recall report's pool discipline).
    val legs = Seq(
      ("__ok0", 0L, s"$idx/asof_ref0"),
      ("__ok1", 1L, s"$idx/asof_ref1"))
    val Seq(ok0, ok1) = graft.util.Par.all(2)(
      legs.map { case (okCol, asOf, ref) =>
        () => matches(asOf, ref, okCol).localCheckpoint(eager = true)
      })
    ok0.crossJoin(ok1)
      .select((col("__ok0") && col("__ok1")).as("text_asof_ok"))
  }

  /** Unigram-LM surprisal (CCNet-style perplexity quality signal,
    * simplified to a fully replayable form): add-one-smoothed unigram
    * log-probs trained on the corpus itself, documents scored by mean
    * per-token −ln p(t). The oracle replays counts, smoothing, and the
    * averaged logs in SQL.
    */
  val textSurprisal = q("x_text_surprisal",
    """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') t
      |              FROM documents),
      |ex AS (SELECT doc_id, unnest(t) term FROM toks),
      |tc AS (SELECT term, CAST(count(*) AS DOUBLE) c FROM ex GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS DOUBLE) tt, CAST(count(*) AS DOUBLE) v FROM tc),
      |sc AS (SELECT e.doc_id, count(*) n,
      |              avg(-ln((tc.c + 1) / (tot.tt + tot.v))) s
      |       FROM ex e JOIN tc USING (term) CROSS JOIN tot GROUP BY 1)
      |SELECT t.doc_id, coalesce(s.n, 0) AS n_tokens,
      |       round(s.s, 4) AS avg_surprisal
      |FROM toks t LEFT JOIN sc s USING (doc_id)""".stripMargin) { (s, dir) =>
    TextAnalysis.unigramSurprisal(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"),
        round(col("avg_surprisal"), 4).as("avg_surprisal"))
  }

  /** Hybrid retrieval: BM25 lexical ranks fused with embedding-cosine
    * ranks by reciprocal-rank fusion (1/(60+rank), the standard
    * score-scale-free combiner). Query q fuses text query q's BM25
    * top-20 with vector q's k-NN top-20 (documents and embeddings share
    * the id space). The oracle replays BOTH rankers and the fusion —
    * rank parity is safe because EVERY ranking (BM25, cosine, fused)
    * orders by the ROUNDED score (ulp noise collapses into the doc-id
    * tiebreak on both engines) and fused sums have ≤ 2 terms
    * (order-exact float addition).
    */
  val hybridRrf = q("x_hybrid_rrf",
    """WITH q(qid, qtext) AS (VALUES (0, 'window merge scan'),
      |                             (1, 'fast customer join'),
      |                             (2, 'stream batch value')),
      |toks AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') t
      |         FROM documents),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) n, avg(CAST(len(t) AS DOUBLE)) avg_len FROM toks),
      |qterms AS (SELECT DISTINCT qid, unnest(list_filter(string_split_regex(lower(trim(qtext)), '\W+'), x -> x <> '')) term
      |           FROM q),
      |posts AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) tf, CAST(any_value(len) AS DOUBLE) len
      |          FROM (SELECT doc_id, len(t) AS len, unnest(t) AS term FROM toks)
      |          WHERE term IN (SELECT term FROM qterms) GROUP BY 1, 2),
      |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) df FROM posts GROUP BY 1),
      |bscore AS (
      |  SELECT qt.qid, p.doc_id,
      |         sum(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0) * p.tf * 2.2 /
      |             (p.tf + 1.2 * (0.25 + 0.75 * p.len / s.avg_len))) score
      |  FROM posts p JOIN qterms qt USING (term) JOIN dfreq d USING (term) CROSS JOIN stats s
      |  GROUP BY 1, 2),
      |b20 AS (SELECT qid, doc_id, rnk FROM (
      |          SELECT qid, doc_id,
      |                 row_number() OVER (PARTITION BY qid ORDER BY round(score, 4) DESC, doc_id) rnk
      |          FROM bscore) WHERE rnk <= 20),
      |kq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
      |kscored AS (
      |  SELECT kq.qid, e.vec_id AS doc_id,
      |         list_cosine_similarity(CAST(kq.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) c
      |  FROM kq, embeddings e WHERE e.vec_id <> kq.qid),
      |k20 AS (SELECT qid, doc_id, rnk FROM (
      |          SELECT qid, doc_id,
      |                 row_number() OVER (PARTITION BY qid ORDER BY round(c, 4) DESC, doc_id) rnk
      |          FROM kscored) WHERE rnk <= 20),
      |fused AS (SELECT qid, doc_id, sum(1.0 / (60 + rnk)) rrf
      |          FROM (SELECT * FROM b20 UNION ALL SELECT * FROM k20) GROUP BY 1, 2)
      |SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank, doc_id,
      |       round(rrf, 6) AS rrf_score
      |FROM (SELECT qid, doc_id, rrf,
      |             row_number() OVER (PARTITION BY qid ORDER BY round(rrf, 6) DESC, doc_id) rank
      |      FROM fused)
      |WHERE rank <= 10""".stripMargin) { (s, dir) =>
    import s.implicits._
    val queries = Seq((0L, "window merge scan"), (1L, "fast customer join"),
      (2L, "stream batch value")).toDF("qid", "qtext")
    // NOT Par'd (r22 A/B: only the lexical side pays a construction job
    // here — the concurrent-legs form's added checkpoints read noise-to-
    // worse, same one-sided-construction lesson as x_stream_dedup_minhash)
    val bm25 = TextSearch.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        queries, "qid", "qtext", k = 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val emb = Tables.embeddings(s, dir)
    val knn = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 3), emb,
        "vec_id", "embedding", 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    TextSearch.rrfFuse(Seq(bm25, knn), k = 10)
  }

  /** Hybrid retrieval through the PERSISTED indexes — the production
    * serving composition: partition-pruned inverted-index BM25 fused
    * (RRF) with the binary-quantization ANN index, both build-once
    * layouts. Hash-matched end to end: the oracle recomputes both legs
    * from first principles (raw corpus BM25; sign-sketch hamming
    * shortlist + exact rescore) and the same fusion — so the match
    * proves BOTH persisted query paths equal their from-scratch
    * definitions composed.
    */
  val hybridIndexed = q("x_hybrid_indexed",
    """WITH q(qid, qtext) AS (VALUES (0, 'window merge scan'),
      |                             (1, 'fast customer join'),
      |                             (2, 'stream batch value')),
      |toks AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') t
      |         FROM documents),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) n, avg(CAST(len(t) AS DOUBLE)) avg_len FROM toks),
      |qterms AS (SELECT DISTINCT qid, unnest(list_filter(string_split_regex(lower(trim(qtext)), '\W+'), x -> x <> '')) term
      |           FROM q),
      |posts AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) tf, CAST(any_value(len) AS DOUBLE) len
      |          FROM (SELECT doc_id, len(t) AS len, unnest(t) AS term FROM toks)
      |          WHERE term IN (SELECT term FROM qterms) GROUP BY 1, 2),
      |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) df FROM posts GROUP BY 1),
      |bscore AS (
      |  SELECT qt.qid, p.doc_id,
      |         sum(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0) * p.tf * 2.2 /
      |             (p.tf + 1.2 * (0.25 + 0.75 * p.len / s.avg_len))) score
      |  FROM posts p JOIN qterms qt USING (term) JOIN dfreq d USING (term) CROSS JOIN stats s
      |  GROUP BY 1, 2),
      |b20 AS (SELECT qid, doc_id, rnk FROM (
      |          SELECT qid, doc_id,
      |                 row_number() OVER (PARTITION BY qid ORDER BY round(score, 4) DESC, doc_id) rnk
      |          FROM bscore) WHERE rnk <= 20),
      |kq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
      |ham AS (
      |  SELECT kq.qid, e.vec_id AS doc_id,
      |         len(list_filter(range(1, 65), i -> (kq.qv[i] > 0) <> (e.embedding[i] > 0))) AS h,
      |         list_cosine_similarity(CAST(kq.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS c
      |  FROM kq, embeddings e WHERE e.vec_id <> kq.qid),
      |short AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY h, doc_id) AS hr FROM ham),
      |k20 AS (SELECT qid, doc_id, rnk FROM (
      |          SELECT qid, doc_id,
      |                 row_number() OVER (PARTITION BY qid ORDER BY round(c, 4) DESC, doc_id) rnk
      |          FROM short WHERE hr <= 50) WHERE rnk <= 20),
      |fused AS (SELECT qid, doc_id, sum(1.0 / (60 + rnk)) rrf
      |          FROM (SELECT * FROM b20 UNION ALL SELECT * FROM k20) GROUP BY 1, 2)
      |SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank, doc_id,
      |       round(rrf, 6) AS rrf_score
      |FROM (SELECT qid, doc_id, rrf,
      |             row_number() OVER (PARTITION BY qid ORDER BY round(rrf, 6) DESC, doc_id) rank
      |      FROM fused)
      |WHERE rank <= 10""".stripMargin) { (s, dir) =>
    import s.implicits._
    val queries = Seq((0L, "window merge scan"), (1L, "fast customer join"),
      (2L, "stream batch value")).toDF("qid", "qtext")
    val inv = stageTextIndex(s, dir)
    val ann = stageAnnIndexes(s, dir)
    // the lexical and vector legs are independent until the RRF fuse,
    // each with its own index reads + pruning jobs at construction —
    // concurrent legs (the x_text_asof discipline); checkpoints are
    // top-20-sized
    val Seq(bm25, knn) = graft.util.Par.all(2)(Seq(
      () => graft.ext.TextIndex.bm25TopKIndexed(s, s"$inv/inv", queries,
          "qid", "qtext", 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
        .localCheckpoint(eager = true),
      () => AnnIndex.bqTopK(s, s"$ann/bq",
          Tables.embeddings(s, dir).filter(col("vec_id") < 3),
          "vec_id", "embedding", 20, shortlist = 50)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
        .localCheckpoint(eager = true)))
    TextSearch.rrfFuse(Seq(bm25, knn), k = 10)
  }

  // -------------------------------------------------------- multimodal
  /** Feature extraction over text payloads: the real decoder dispatch
    * (no PNG/WAV signature → 1 channel). content_hash (CRC32) is dropped
    * here — DuckDB has no CRC32 to replay; the phash branch is fully
    * oracled by `x_multimodal_phash` below.
    */
  val multimodalDecode = q("x_multimodal_decode",
    """SELECT doc_id AS id, 'text' AS modality,
      |       octet_length(encode(text)) AS byte_len,
      |       CAST(1 AS INTEGER) AS channels
      |FROM documents""".stripMargin) { (s, dir) =>
    val media = Multimodal.fromText(Tables.documents(s, dir), "doc_id", "text", "text")
    Multimodal.extractFeatures(media).drop("content_hash")
  }

  /** REAL frame extraction for video-like payloads: complete synthetic
    * animated GIFs (geometry, frame count, placement, delays, and every
    * pixel derived from doc_id) decoded back frame-by-frame — structure
    * from the block walk, `mean_luma` from a full LZW decompression of
    * each frame's pixels. The oracle replays the pixel arithmetic cell
    * by cell, so an LZW, palette, placement, or delay bug anywhere
    * breaks the hash match.
    */
  val multimodalFrames = q("x_multimodal_frames",
    """WITH geom AS (
      |  SELECT doc_id, doc_id % 13 + 4 AS w, (doc_id * 5) % 11 + 4 AS h,
      |         doc_id % 3 + 2 AS nf
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h, f.f AS f, (doc_id * 31 + f.f * 13 + x.x * 7 + y.y * 3) % 256 AS v
      |  FROM geom
      |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS f) f
      |  CROSS JOIN (SELECT unnest(generate_series(0, 16)) AS x) x
      |  CROSS JOIN (SELECT unnest(generate_series(0, 13)) AS y) y
      |  WHERE f.f < nf AND x.x < w AND y.y < h)
      |SELECT doc_id AS id, CAST(f AS INTEGER) AS frame_idx,
      |       CAST(f % 3 AS INTEGER) AS left_px,
      |       CAST((2 * f) % 3 AS INTEGER) AS top_px,
      |       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |       CAST((doc_id + f) % 500 AS INTEGER) AS delay_cs,
      |       CAST(sum(v) // (w * h) AS INTEGER) AS mean_luma
      |FROM px GROUP BY doc_id, f, w, h""".stripMargin) { (s, dir) =>
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id").cast("long").as("id"))
      .as[Long].map { id =>
        val w = (id % 13 + 4).toInt
        val h = (id * 5 % 11 + 4).toInt
        val nf = (id % 3 + 2).toInt
        Multimodal.MediaRow(id, Multimodal.synthGif(id, w, h, nf,
          (f, x, y) => ((id * 31 + f * 13 + x * 7 + y * 3) % 256).toInt,
          f => ((id + f) % 500).toInt,
          f => (f % 3, (2 * f) % 3)), "video", "gif")
      }
    Multimodal.gifFrames(media).toDF()
  }

  /** REAL AVI container walk: complete synthetic AVI files (RIFF
    * envelope, avih main header, movi frame chunks with odd sizes
    * exercising word alignment, idx1 keyframe index — all derived from
    * doc_id) parsed back frame-by-frame. The codec payload stays opaque
    * by design (no codec libraries); geometry, timing, per-frame sizes
    * and keyframe cadence are all oracle-replayed, so an offset,
    * alignment, list-recursion, or index-join bug breaks the hash.
    */
  val multimodalAviFrames = q("x_multimodal_aviframes",
    """SELECT doc_id AS id, CAST(f.f AS INTEGER) AS frame_idx,
      |       CAST(doc_id % 640 + 16 AS INTEGER) AS width,
      |       CAST((doc_id * 3) % 480 + 16 AS INTEGER) AS height,
      |       (doc_id % 3 + 1) * 33333 AS us_per_frame,
      |       CAST((doc_id * 7 + f.f * 11) % 200 + 1 AS INTEGER) AS size,
      |       f.f % 2 = 0 AS keyframe
      |FROM documents
      |CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS f) f
      |WHERE f.f < doc_id % 4 + 1""".stripMargin) { (s, dir) =>
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id").cast("long").as("id"))
      .as[Long].map { id =>
        val nf = (id % 4 + 1).toInt
        Multimodal.MediaRow(id, Multimodal.synthAvi(id,
          (id % 640 + 16).toInt, (id * 3 % 480 + 16).toInt,
          (id % 3 + 1) * 33333L,
          f => ((id * 7 + f * 11) % 200 + 1).toInt, nf), "video", "avi")
      }
    Multimodal.aviFrames(media).toDF()
  }

  /** REAL image decode: synthesized valid PNG/JPEG headers (dimensions
    * derived from doc_id) parsed back by the byte-level decoder; the oracle
    * replays the same arithmetic, so a parser bug (offset, endianness,
    * marker walk) breaks the hash match.
    */
  val multimodalImageMeta = q("x_multimodal_imagemeta",
    """SELECT doc_id AS id,
      |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
      |       CAST(doc_id % 1024 + 1 AS INTEGER) AS width,
      |       CAST((doc_id * 7) % 768 + 1 AS INTEGER) AS height
      |FROM documents""".stripMargin) { (s, dir) =>
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id").cast("long").as("id"))
      .as[Long].map { id =>
        val w = (id % 1024 + 1).toInt
        val h = (id * 7 % 768 + 1).toInt
        Multimodal.MediaRow(id, Multimodal.synthImage(id, w, h, png = id % 2 == 0),
          "image", if (id % 2 == 0) "png" else "jpeg")
      }
    Multimodal.imageMeta(media).toDF()
  }

  /** REAL audio decode: synthesized RIFF/WAVE payloads (fmt parameters
    * derived from doc_id, an odd-sized LIST chunk planted before fmt)
    * parsed back by the byte-level chunk walk; the oracle replays the same
    * arithmetic, so an offset/endianness/padding bug breaks the hash.
    */
  val multimodalAudioMeta = q("x_multimodal_audiometa",
    """SELECT doc_id AS id,
      |       CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
      |       CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS INTEGER) AS sample_rate,
      |       CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END AS INTEGER) AS bits_per_sample,
      |       doc_id % 500 + 1 AS n_frames,
      |       (doc_id % 500 + 1) * 1000 //
      |         (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END) AS duration_ms
      |FROM documents""".stripMargin) { (s, dir) =>
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id").cast("long").as("id"))
      .as[Long].map { id =>
        val ch = (id % 2 + 1).toInt
        val rate = (id % 3) match { case 0L => 8000; case 1L => 16000; case _ => 44100 }
        val bits = if (id % 2 == 0) 16 else 8
        Multimodal.MediaRow(id, Multimodal.synthWav(id, ch, rate, bits, id % 500 + 1),
          "audio", "wav")
      }
    Multimodal.audioMeta(media).toDF()
  }

  /** Synthetic phash PNG: dimensions/color type/cell pattern all derive
    * from the BASE doc id (so a perturbed variant keeps the base geometry),
    * written out under `outId`. Cell (bx,by) value =
    * (base·37 + bx·17 + by·29) % 251; the perturbed variant bumps cell
    * (0,0) by +7 mod 251 — a near-identical image whose hash differs in at
    * most a few bits.
    */
  private def phashPng(base: Long, outId: Long, perturb: Boolean): Multimodal.MediaRow = {
    val w = 8 * (base % 4 + 2).toInt
    val h = 8 * ((base * 3) % 5 + 2).toInt
    val ct = (base % 3) match { case 0L => 0; case 1L => 2; case _ => 6 }
    val bytes = Multimodal.synthPng(outId, w, h, ct, (bx, by) => {
      val v = ((base * 37 + bx * 17 + by * 29) % 251).toInt
      if (perturb && bx == 0 && by == 0) (v + 7) % 251 else v
    })
    Multimodal.MediaRow(outId, bytes, "image", "png")
  }

  /** The crossmodal fixture's cell value: md5-hashed per (base, cell) so
    * every document's image is DISTINCT (the linear phash formula is
    * additive in base, so it yields at most 251 distinct images — at
    * larger scale factors those exact-dup classes collapse the whole
    * corpus into one near-dup component, which is degenerate evidence
    * AND makes the oracle's recursive closure quadratic). Hashed cells
    * keep the image pair set essentially the planted near-copies, in
    * arithmetic DuckDB replays verbatim.
    */
  private def crossmodalCell(base: Long, bx: Int, by: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$base:$bx:$by".getBytes("UTF-8"))
      .take(2).map("%02x".format(_)).mkString
    Integer.parseInt(hex, 16) % 251
  }

  private def crossmodalPng(base: Long, outId: Long, perturb: Boolean): Multimodal.MediaRow = {
    val w = 8 * (base % 4 + 2).toInt
    val h = 8 * ((base * 3) % 5 + 2).toInt
    val ct = (base % 3) match { case 0L => 0; case 1L => 2; case _ => 6 }
    // synthPng calls the cell fn PER PIXEL — hash the 64 cells once, not
    // w×h times (the md5 was >90% of the fixture build otherwise)
    val cells = Array.tabulate(8, 8)((by, bx) => crossmodalCell(base, bx, by))
    val bytes = Multimodal.synthPng(outId, w, h, ct, (bx, by) => {
      val v = cells(by)(bx)
      if (perturb && bx == 0 && by == 0) (v + 7) % 251 else v
    })
    Multimodal.MediaRow(outId, bytes, "image", "png")
  }

  /** REAL perceptual hashing end-to-end: complete synthetic PNGs (deflated
    * + per-row-filtered IDAT, CRCs) are pixel-decoded with JDK zlib, then
    * average-hashed. The oracle rebuilds the expected hash bit string from
    * the cell arithmetic alone — an inflate/unfilter/luma/downsample bug
    * anywhere in the pipeline breaks the match.
    */
  val multimodalPhash = q("x_multimodal_phash",
    """WITH cells AS (
      |  SELECT doc_id, by, bx, (doc_id * 37 + bx * 17 + by * 29) % 251 AS v
      |  FROM documents
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS by)
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS bx)),
      |m AS (SELECT doc_id, sum(v) // 64 AS mean FROM cells GROUP BY doc_id)
      |SELECT c.doc_id AS id,
      |       CAST(8 * (c.doc_id % 4 + 2) AS INTEGER) AS width,
      |       CAST(8 * ((c.doc_id * 3) % 5 + 2) AS INTEGER) AS height,
      |       string_agg(CASE WHEN c.v > m.mean THEN '1' ELSE '0' END, ''
      |                  ORDER BY c.by, c.bx) AS phash_bits
      |FROM cells c JOIN m USING (doc_id)
      |GROUP BY c.doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id").cast("long").as("id"))
      .as[Long].map(id => phashPng(id, id, perturb = false))
    Multimodal.imagePhash(media).toDF().drop("phash")
  }

  /** Image near-dup: perceptual hashes fed through the SAME pigeonhole
    * block join as SimHash text dedup (`simhashPairsFromSigs`) — hamming
    * ≤ 3 pairs among base images + perturbed variants. Exact oracle: the
    * pair set is replayed in SQL from the cell arithmetic (the block cap
    * is lifted far above the corpus so banding is lossless and the
    * pigeonhole guarantee makes the banded join EQUAL the true pair set).
    */
  val dedupPhash = q("x_dedup_phash",
    """WITH all_docs AS (
      |  SELECT doc_id AS vid, doc_id AS base, FALSE AS pert FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, doc_id, TRUE FROM documents WHERE doc_id % 10 = 0),
      |cells AS (
      |  SELECT vid, by, bx,
      |         CASE WHEN pert AND bx = 0 AND by = 0
      |              THEN ((base * 37 + bx * 17 + by * 29) % 251 + 7) % 251
      |              ELSE (base * 37 + bx * 17 + by * 29) % 251 END AS v
      |  FROM all_docs
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS by)
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS bx)),
      |m AS (SELECT vid, sum(v) // 64 AS mean FROM cells GROUP BY vid),
      |bits AS (
      |  SELECT c.vid, c.by, c.bx, (c.v > m.mean) AS bit
      |  FROM cells c JOIN m USING (vid)),
      |sig AS (
      |  SELECT vid,
      |         coalesce(bit_or(CASE WHEN bit AND (by*8+bx) < 32 THEN 1::BIGINT << (by*8+bx) END), 0) AS lo,
      |         coalesce(bit_or(CASE WHEN bit AND (by*8+bx) >= 32 THEN 1::BIGINT << (by*8+bx-32) END), 0) AS hi
      |  FROM bits GROUP BY vid),
      |blocked AS (
      |  SELECT vid, lo, hi, blk,
      |         CASE WHEN blk = 0 THEN lo & 65535
      |              WHEN blk = 1 THEN (lo >> 16) & 65535
      |              WHEN blk = 2 THEN hi & 65535
      |              ELSE (hi >> 16) & 65535 END AS bv
      |  FROM sig, UNNEST(generate_series(0, 3)) AS g(blk)),
      |cand AS (
      |  SELECT DISTINCT a.vid AS id_a, b.vid AS id_b,
      |         a.lo AS alo, a.hi AS ahi, b.lo AS blo, b.hi AS bhi
      |  FROM blocked a JOIN blocked b USING (blk, bv) WHERE a.vid < b.vid)
      |SELECT id_a, id_b,
      |       CAST(bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) AS INTEGER) AS hamming
      |FROM cand
      |WHERE bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) <= 3""".stripMargin) {
    (s, dir) =>
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id").cast("long").as("id"))
      .as[Long].flatMap { id =>
        val base = phashPng(id, id, perturb = false)
        if (id % 10 == 0) Seq(base, phashPng(id, id + 100000, perturb = true))
        else Seq(base)
      }
    val sigs = Multimodal.imagePhash(media).toDF()
      .select(col("id").as("__id"), col("phash").as("__sh"))
      .localCheckpoint(eager = false) // image decode once; lazy — one action
    Dedup.simhashPairsFromSigs(sigs, maxHamming = 3, maxBucketSize = 1000000)
  }

  /** CROSS-MODAL duplicate clustering — the composition a multimodal
    * corpus actually needs: text near-dup pairs (portable MinHash over
    * the variants corpus) UNIONED with image near-dup pairs (pHash of
    * each document's PNG through the pigeonhole join), resolved into
    * ONE set of duplicate clusters. Evidence from either modality links
    * a pair; components make the merge transitive across modalities.
    * The oracle replays BOTH pair pipelines from first principles and
    * closes the union with a recursive min-label propagation — so the
    * sketches, the union, and the transitive resolution all hash-match.
    */
  val dedupCrossmodal = q("x_dedup_crossmodal",
    s"""WITH RECURSIVE corpus AS (SELECT doc_id, text FROM $docsWithVariantsSql),
       |$minhashFamSql,
       |${minhashCteSql("m", "corpus")},
       |ok AS (SELECT bk FROM m_banded GROUP BY bk HAVING count(*) > 1 AND count(*) <= 1000),
       |inb AS (SELECT m_banded.* FROM m_banded JOIN ok USING (bk)),
       |tpairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM inb a JOIN inb b USING (bk) WHERE a.doc_id < b.doc_id
       |    AND len(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) / 64.0 >= 0.5),
       |all_docs AS (
       |  SELECT doc_id AS vid, doc_id AS base, FALSE AS pert FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, doc_id, TRUE FROM documents WHERE doc_id % 10 = 0),
       |cells AS (
       |  SELECT vid, by, bx,
       |         CASE WHEN pert AND bx = 0 AND by = 0 THEN (hv + 7) % 251 ELSE hv END AS v
       |  FROM (
       |    SELECT vid, base, pert, by, bx,
       |           CAST(CAST('0x' || substring(md5(CAST(base AS VARCHAR) || ':' || CAST(bx AS VARCHAR) || ':' || CAST(by AS VARCHAR)), 1, 4) AS UBIGINT) % 251 AS BIGINT) AS hv
       |    FROM all_docs
       |    CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS by)
       |    CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS bx))),
       |mm AS (SELECT vid, sum(v) // 64 AS mean FROM cells GROUP BY vid),
       |bits AS (
       |  SELECT c.vid, c.by, c.bx, (c.v > mm.mean) AS bit
       |  FROM cells c JOIN mm USING (vid)),
       |isig AS (
       |  SELECT vid,
       |         coalesce(bit_or(CASE WHEN bit AND (by*8+bx) < 32 THEN 1::BIGINT << (by*8+bx) END), 0) AS lo,
       |         coalesce(bit_or(CASE WHEN bit AND (by*8+bx) >= 32 THEN 1::BIGINT << (by*8+bx-32) END), 0) AS hi
       |  FROM bits GROUP BY vid),
       |iblk AS (
       |  SELECT vid, lo, hi, blk,
       |         CASE WHEN blk = 0 THEN lo & 65535
       |              WHEN blk = 1 THEN (lo >> 16) & 65535
       |              WHEN blk = 2 THEN hi & 65535
       |              ELSE (hi >> 16) & 65535 END AS bv
       |  FROM isig, UNNEST(generate_series(0, 3)) AS g(blk)),
       |ipairs AS (
       |  SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
       |  FROM iblk a JOIN iblk b USING (blk, bv)
       |  WHERE a.vid < b.vid
       |    AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3),
       |pairs AS (SELECT id_a, id_b FROM tpairs UNION SELECT id_a, id_b FROM ipairs),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)
       |  UNION
       |  SELECT g.dst, r.lbl FROM reach r JOIN edges g ON g.src = r.id),
       |comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id)
       |SELECT n.doc_id AS id, coalesce(comp.lbl, n.doc_id) AS component
       |FROM (SELECT doc_id FROM $docsWithVariantsSql) n
       |LEFT JOIN comp ON comp.id = n.doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = docsWithVariants(s, dir)
    val tpairs = Dedup.minhashCandidates(docs, "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, minEstJaccard = 0.5,
        portable = true)
      .select(col("id_a"), col("id_b"))
    val media = Tables.documents(s, dir).select(col("doc_id").cast("long").as("id"))
      .as[Long].flatMap { id =>
        val base = crossmodalPng(id, id, perturb = false)
        if (id % 10 == 0) Seq(base, crossmodalPng(id, id + 100000, perturb = true))
        else Seq(base)
      }
    val ipairs = Dedup.simhashPairsFromSigs(
        Multimodal.imagePhash(media).toDF()
          .select(col("id").as("__id"), col("phash").as("__sh"))
          .localCheckpoint(eager = true),
        maxHamming = 3, maxBucketSize = 1000000)
      .select(col("id_a"), col("id_b"))
    Dedup.connectedComponents(docs.select(col("doc_id")), "doc_id",
      tpairs.unionByName(ipairs).distinct())
  }

  /** Binary-quantization ANN: sign-bit sketches (1 bit/dim) scanned by
    * hamming, exact cosine rescore of a 50-candidate shortlist. Fully
    * hash-matched: the sketch, the hamming ranking (ties by id) and the
    * rescore are all deterministic, so DuckDB replays the whole path
    * from first principles.
    */
  val knnBinary = q("x_knn_binary",
    """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
      |ham AS (
      |  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
      |         len(list_filter(range(1, 65), i -> (q.qv[i] > 0) <> (e.embedding[i] > 0))) AS h,
      |         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS c
      |  FROM q, embeddings e WHERE e.vec_id <> q.qid),
      |short AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY h, neighbor_id) AS hr
      |          FROM ham),
      |r AS (SELECT query_id, neighbor_id, c,
      |             row_number() OVER (PARTITION BY query_id ORDER BY round(c, 4) DESC, neighbor_id) AS rank
      |      FROM short WHERE hr <= 50)
      |SELECT query_id, rank, neighbor_id, round(c, 4) AS cosine FROM r WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.binarySketchTopK(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", dim = 64, k = 5, shortlist = 50)
  }

  /** PCA-rotated PQ against the PERSISTED composed index: the oracle
    * rotates the queries with the STORED matrix, normalizes, and replays
    * the standard ADC path over the nested PQ tables — the whole
    * IndexPreTransform query path in SQL.
    */
  val knnPcaPq = q("x_knn_pcapq",
    """WITH qv AS (
      |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id < 5),
      |rot AS (SELECT __i, __row FROM read_parquet('__GRAFT_ANNIDX__/pcapq/rotation/*.parquet')),
      |rq AS (
      |  SELECT qv.qid, rot.__i,
      |         list_sum(list_transform(range(1, 65), t -> qv.v[t] * rot.__row[t])) AS y
      |  FROM qv, rot),
      |rv AS (SELECT qid, list(y ORDER BY __i) AS v FROM rq GROUP BY qid),
      |nq AS (
      |  SELECT qid,
      |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      |  FROM rv),
      |cb AS (
      |  SELECT __j, __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/pcapq/pq/codebooks/*.parquet')),
      |lut AS (
      |  SELECT qid, __j, __cid AS code,
      |         list_sum(list_transform(generate_series(1, len(centroid)),
      |           i -> u[__j * 8 + i] * centroid[i])) AS p
      |  FROM nq, cb),
      |codes AS (
      |  SELECT __id AS nid, __j, __code FROM read_parquet('__GRAFT_ANNIDX__/pcapq/pq/codes/*.parquet')),
      |scored AS (
      |  SELECT l.qid, c.nid, round(sum(l.p), 4) AS s
      |  FROM codes c JOIN lut l ON l.__j = c.__j AND l.code = c.__code
      |  WHERE l.qid <> c.nid GROUP BY l.qid, c.nid),
      |ranked AS (
      |  SELECT qid AS query_id, nid AS neighbor_id, s AS cosine_pq,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cosine_pq FROM ranked WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
      val idx = stageAnnIndexes(s, dir)
      AnnIndex.rotatedPqTopK(s, s"$idx/pcapq",
        Tables.embeddings(s, dir).filter(col("vec_id") < 5),
        "vec_id", "embedding", 5)
  }

  /** OPQ serving (r13 VERDICT #8): the alternating-minimization
    * rotation (initialized at PCA, refined by per-iteration codebook
    * retraining + orthogonal Procrustes on the bounded sample) through
    * the same IndexPreTransform query path as PCA-PQ — queries rotated
    * against the STORED matrix, ADC over the nested PQ index. The
    * oracle replays rotation + LUT + ADC + ranking from the persisted
    * tables, so the hash pins the stored rotation and codes, not the
    * training.
    */
  val knnOpq = q("x_knn_opq",
    """WITH qv AS (
      |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id < 5),
      |rot AS (SELECT __i, __row FROM read_parquet('__GRAFT_ANNIDX__/opq/rotation/*.parquet')),
      |rq AS (
      |  SELECT qv.qid, rot.__i,
      |         list_sum(list_transform(range(1, 65), t -> qv.v[t] * rot.__row[t])) AS y
      |  FROM qv, rot),
      |rv AS (SELECT qid, list(y ORDER BY __i) AS v FROM rq GROUP BY qid),
      |nq AS (
      |  SELECT qid,
      |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      |  FROM rv),
      |cb AS (
      |  SELECT __j, __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/opq/pq/codebooks/*.parquet')),
      |lut AS (
      |  SELECT qid, __j, __cid AS code,
      |         list_sum(list_transform(generate_series(1, len(centroid)),
      |           i -> u[__j * 8 + i] * centroid[i])) AS p
      |  FROM nq, cb),
      |codes AS (
      |  SELECT __id AS nid, __j, __code FROM read_parquet('__GRAFT_ANNIDX__/opq/pq/codes/*.parquet')),
      |scored AS (
      |  SELECT l.qid, c.nid, round(sum(l.p), 4) AS s
      |  FROM codes c JOIN lut l ON l.__j = c.__j AND l.code = c.__code
      |  WHERE l.qid <> c.nid GROUP BY l.qid, c.nid),
      |ranked AS (
      |  SELECT qid AS query_id, nid AS neighbor_id, s AS cosine_pq,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cosine_pq FROM ranked WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
      val idx = stageAnnIndexes(s, dir)
      AnnIndex.rotatedPqTopK(s, s"$idx/opq",
        Tables.embeddings(s, dir).filter(col("vec_id") < 5),
        "vec_id", "embedding", 5)
  }

  /** OPQ × IVF-PQ serving — the FAISS production index string
    * (`OPQ8,IVF16,PQ8`): queries rotate against the stored matrix,
    * then ride the partition-pruned IVF-PQ ADC path over the nested
    * index. Oracle = the stored rotation prefix composed with the
    * x_knn_ivfpq replay (probe selection, pruned codes scan, ADC,
    * ranking) against the nested tables.
    */
  val knnOpqIvfPq = q("x_knn_opqivfpq",
    """WITH qv0 AS (
      |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id < 5),
      |rot AS (SELECT __i, __row FROM read_parquet('__GRAFT_ANNIDX__/opqivf/rotation/*.parquet')),
      |rq AS (
      |  SELECT qv0.qid, rot.__i,
      |         list_sum(list_transform(range(1, 65), t -> qv0.v[t] * rot.__row[t])) AS y
      |  FROM qv0, rot),
      |qv AS (SELECT qid, list(y ORDER BY __i) AS v FROM rq GROUP BY qid),
      |cent AS (
      |  SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/opqivf/ivfpq/coarse/*.parquet')),
      |probe AS (
      |  SELECT qid, __cid,
      |         row_number() OVER (PARTITION BY qid ORDER BY
      |           list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * centroid[i]))
      |             / (sqrt(list_sum(list_transform(v, x -> x*x)))
      |                * sqrt(list_sum(list_transform(centroid, x -> x*x)))) DESC,
      |           __cid) AS pr
      |  FROM qv, cent),
      |probed AS (SELECT qid, __cid FROM probe WHERE pr <= 4),
      |nq AS (
      |  SELECT qid,
      |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      |  FROM qv),
      |cb AS (
      |  SELECT __j, __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/opqivf/ivfpq/codebooks/*.parquet')),
      |lut AS (
      |  SELECT qid, __j, __cid AS code,
      |         list_sum(list_transform(generate_series(1, len(centroid)),
      |           i -> u[__j * 8 + i] * centroid[i])) AS p
      |  FROM nq, cb),
      |codes AS (
      |  SELECT __id AS nid, __j, __code, CAST(__cluster AS INTEGER) AS cl
      |  FROM read_parquet('__GRAFT_ANNIDX__/opqivf/ivfpq/codes/*/*.parquet', hive_partitioning=1)),
      |scored AS (
      |  SELECT l.qid, c.nid, round(sum(l.p), 4) AS s
      |  FROM probed p
      |  JOIN codes c ON c.cl = p.__cid
      |  JOIN lut l ON l.qid = p.qid AND l.__j = c.__j AND l.code = c.__code
      |  WHERE l.qid <> c.nid GROUP BY l.qid, c.nid),
      |ranked AS (
      |  SELECT qid AS query_id, nid AS neighbor_id, s AS cosine_pq,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cosine_pq FROM ranked WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
      val idx = stageAnnIndexes(s, dir)
      AnnIndex.opqIvfPqTopK(s, s"$idx/opqivf",
        Tables.embeddings(s, dir).filter(col("vec_id") < 5),
        "vec_id", "embedding", 5, nprobe = 4)
  }

  /** The rotation's defining invariant, pinned on real data: a pure
    * rotation preserves cosine EXACTLY, so brute-force search through
    * the stored matrix must equal brute force on the raw vectors —
    * ranks, neighbors and 4dp scores all identical.
    */
  val knnPcaPqIsometry =
    q("x_knn_pcapq_isometry", "SELECT true AS isometry_ok") { (s, dir) =>
      val idx = stageAnnIndexes(s, dir)
      val r = AnnIndex.readRotated(s, s"$idx/pcapq").rotation
      val emb = Tables.embeddings(s, dir)
      val rot = emb.select(col("vec_id"),
        Similarity.rotateExpr(col("embedding"), r).as("embedding"))
      val raw = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", 5)
      val rotated = Similarity.bruteForceTopK(rot.filter(col("vec_id") < 5), rot,
          "vec_id", "embedding", 5)
        .withColumnRenamed("cosine", "__c2")
      raw.join(rotated, Seq("query_id", "rank", "neighbor_id"), "full")
        .agg((count(lit(1)) === count(col("cosine")) &&
          count(lit(1)) === count(col("__c2")) &&
          max(abs(col("cosine") - col("__c2"))) <= 1e-9).as("isometry_ok"))
    }

  /** BQ top-k against the PERSISTED index (build once, query many):
    * hash-matched via a DuckDB replay over the stored codes table —
    * hamming from the persisted sign sketches (two's-complement
    * xor+bit_count, identical in both engines), shortlist, exact cosine
    * rescore from the persisted vectors, deterministic top-k.
    */
  val knnBq = q("x_knn_bq",
    """WITH c AS (SELECT __id, __sig, __vec
      |           FROM read_parquet('__GRAFT_ANNIDX__/bq/codes/*.parquet')),
      |q AS (SELECT __id AS qid, __vec AS qv, __sig AS qs FROM c WHERE __id < 5),
      |ham AS (
      |  SELECT q.qid AS query_id, c.__id AS neighbor_id,
      |         list_sum(list_transform(range(1, len(q.qs) + 1),
      |           i -> bit_count(xor(q.qs[i], c.__sig[i])))) AS h,
      |         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.__vec AS DOUBLE[])) AS cos
      |  FROM q, c WHERE c.__id <> q.qid),
      |short AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY h, neighbor_id) AS hr
      |          FROM ham),
      |r AS (SELECT query_id, neighbor_id, cos,
      |             row_number() OVER (PARTITION BY query_id ORDER BY round(cos, 4) DESC, neighbor_id) AS rank
      |      FROM short WHERE hr <= 50)
      |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine FROM r WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
      val idx = stageAnnIndexes(s, dir)
      AnnIndex.bqTopK(s, s"$idx/bq",
        Tables.embeddings(s, dir).filter(col("vec_id") < 5),
        "vec_id", "embedding", 5, shortlist = 50)
  }

  /** FILTERED search on the BQ layout — the metadata-predicate contract
    * extended across index families (the x_knn_filtered shape on IVF):
    * the predicate restricts BOTH the hamming pass and the exact
    * rescore before any score exists, so the shortlist never
    * under-fills. Oracle = the x_knn_bq replay with the same predicate
    * on the stored rows.
    */
  val knnBqFiltered = q("x_knn_bq_filtered",
    """WITH c AS (SELECT __id, __sig, __vec
      |           FROM read_parquet('__GRAFT_ANNIDX__/bq/codes/*.parquet')
      |           WHERE __id % 2 = 0),
      |q AS (SELECT __id AS qid, __vec AS qv, __sig AS qs
      |      FROM read_parquet('__GRAFT_ANNIDX__/bq/codes/*.parquet') WHERE __id < 5),
      |ham AS (
      |  SELECT q.qid AS query_id, c.__id AS neighbor_id,
      |         list_sum(list_transform(range(1, len(q.qs) + 1),
      |           i -> bit_count(xor(q.qs[i], c.__sig[i])))) AS h,
      |         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.__vec AS DOUBLE[])) AS cos
      |  FROM q, c WHERE c.__id <> q.qid),
      |short AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY h, neighbor_id) AS hr
      |          FROM ham),
      |r AS (SELECT query_id, neighbor_id, cos,
      |             row_number() OVER (PARTITION BY query_id ORDER BY round(cos, 4) DESC, neighbor_id) AS rank
      |      FROM short WHERE hr <= 50)
      |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine FROM r WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
      val idx = stageAnnIndexes(s, dir)
      AnnIndex.bqTopK(s, s"$idx/bq",
        Tables.embeddings(s, dir).filter(col("vec_id") < 5),
        "vec_id", "embedding", 5, shortlist = 50,
        where = pmod(col("__id"), lit(2)) === 0)
  }

  /** FILTERED search on the QUANTIZED served layout — the production
    * composition (metadata predicate + nprobe partition pruning + ADC)
    * a real vector-store user hits first: the predicate evaluates
    * inside the partition-pruned codes scan, BEFORE the LUT join and
    * ADC aggregate, so the top-k is the exact ADC top-k of the
    * probed ∩ predicate corpus (never the under-filled k of
    * post-filtering). Oracle = the x_knn_ivfpq replay with the same
    * predicate in the codes CTE.
    */
  val knnIvfPqFiltered = q("x_knn_ivfpq_filtered",
    """WITH qv AS (
      |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id < 5),
      |cent AS (
      |  SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivfpq/coarse/*.parquet')),
      |probe AS (
      |  SELECT qid, __cid,
      |         row_number() OVER (PARTITION BY qid ORDER BY
      |           list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * centroid[i]))
      |             / (sqrt(list_sum(list_transform(v, x -> x*x)))
      |                * sqrt(list_sum(list_transform(centroid, x -> x*x)))) DESC,
      |           __cid) AS pr
      |  FROM qv, cent),
      |probed AS (SELECT qid, __cid FROM probe WHERE pr <= 4),
      |nq AS (
      |  SELECT qid,
      |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      |  FROM qv),
      |cb AS (
      |  SELECT __j, __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivfpq/codebooks/*.parquet')),
      |lut AS (
      |  SELECT qid, __j, __cid AS code,
      |         list_sum(list_transform(generate_series(1, len(centroid)),
      |           i -> u[__j * 8 + i] * centroid[i])) AS p
      |  FROM nq, cb),
      |codes AS (
      |  SELECT __id AS nid, __j, __code, CAST(__cluster AS INTEGER) AS cl
      |  FROM read_parquet('__GRAFT_ANNIDX__/ivfpq/codes/*/*.parquet', hive_partitioning=1)
      |  WHERE __id % 2 = 0),
      |scored AS (
      |  SELECT l.qid, c.nid, round(sum(l.p), 4) AS s
      |  FROM probed p
      |  JOIN codes c ON c.cl = p.__cid
      |  JOIN lut l ON l.qid = p.qid AND l.__j = c.__j AND l.code = c.__code
      |  WHERE l.qid <> c.nid GROUP BY l.qid, c.nid),
      |ranked AS (
      |  SELECT qid AS query_id, nid AS neighbor_id, s AS cosine_pq,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cosine_pq FROM ranked WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    AnnIndex.ivfPqTopK(s, AnnIndex.readIvfPq(s, s"$idx/ivfpq"),
      Tables.embeddings(s, dir).filter(col("vec_id") < 5),
      "vec_id", "embedding", 5, nprobe = 4,
      where = pmod(col("__id"), lit(2)) === 0)
  }

  /** FILTERED search on the IVF×SQ served layout — same contract as
    * [[knnIvfPqFiltered]]: predicate inside the pruned codes scan,
    * pre-scoring; oracle = the x_knn_ivfsq replay with the predicate in
    * the codes CTE.
    */
  val knnIvfSqFiltered = q("x_knn_ivfsq_filtered",
    """WITH qv AS (
      |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id < 5),
      |cent AS (
      |  SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivfsq/coarse/*.parquet')),
      |probe AS (
      |  SELECT qid, __cid,
      |         row_number() OVER (PARTITION BY qid ORDER BY
      |           list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * centroid[i]))
      |             / (sqrt(list_sum(list_transform(v, x -> x*x)))
      |                * sqrt(list_sum(list_transform(centroid, x -> x*x)))) DESC,
      |           __cid) AS pr
      |  FROM qv, cent),
      |probed AS (SELECT qid, __cid FROM probe WHERE pr <= 4),
      |b AS (
      |  SELECT list(vmin ORDER BY __pos) AS lo,
      |         list((vmax - vmin) / 255.0 ORDER BY __pos) AS step
      |  FROM read_parquet('__GRAFT_ANNIDX__/ivfsq/bounds/*.parquet')),
      |nq AS (
      |  SELECT qid,
      |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      |  FROM qv),
      |qf AS (
      |  SELECT qid,
      |         list_sum(list_transform(generate_series(1, len(u)), i -> u[i] * b.lo[i])) AS qoff,
      |         list_transform(generate_series(1, len(u)), i -> u[i] * b.step[i]) AS qstep
      |  FROM nq, b),
      |codes AS (
      |  SELECT __id AS nid, CAST(__cluster AS INTEGER) AS cl,
      |         list_transform(__codes, c -> CAST(c AS DOUBLE) + 128.0) AS c
      |  FROM read_parquet('__GRAFT_ANNIDX__/ivfsq/codes/*/*.parquet', hive_partitioning=1)
      |  WHERE __id % 2 = 0),
      |scored AS (
      |  SELECT p.qid, codes.nid,
      |         round(qf.qoff + list_sum(list_transform(generate_series(1, len(qf.qstep)),
      |           i -> c[i] * qf.qstep[i])), 4) AS s
      |  FROM probed p JOIN codes ON codes.cl = p.__cid
      |  JOIN qf ON qf.qid = p.qid
      |  WHERE p.qid <> codes.nid),
      |ranked AS (
      |  SELECT qid AS query_id, nid AS neighbor_id, s AS cosine_sq,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cosine_sq FROM ranked WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    AnnIndex.ivfSqTopK(s, AnnIndex.readIvfSq(s, s"$idx/ivfsq"),
      Tables.embeddings(s, dir).filter(col("vec_id") < 5),
      "vec_id", "embedding", 5, nprobe = 4,
      where = pmod(col("__id"), lit(2)) === 0)
  }

  /** FILTERED search through the PCA rotation — [[pqTopK]]'s flat codes
    * scan takes the predicate pre-ADC (rotation touches vectors, not
    * ids, so the id predicate is unchanged); oracle = the x_knn_pcapq
    * replay with the predicate in the codes CTE.
    */
  val knnPcaPqFiltered = q("x_knn_pcapq_filtered",
    """WITH qv AS (
      |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id < 5),
      |rot AS (SELECT __i, __row FROM read_parquet('__GRAFT_ANNIDX__/pcapq/rotation/*.parquet')),
      |rq AS (
      |  SELECT qv.qid, rot.__i,
      |         list_sum(list_transform(range(1, 65), t -> qv.v[t] * rot.__row[t])) AS y
      |  FROM qv, rot),
      |rv AS (SELECT qid, list(y ORDER BY __i) AS v FROM rq GROUP BY qid),
      |nq AS (
      |  SELECT qid,
      |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      |  FROM rv),
      |cb AS (
      |  SELECT __j, __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/pcapq/pq/codebooks/*.parquet')),
      |lut AS (
      |  SELECT qid, __j, __cid AS code,
      |         list_sum(list_transform(generate_series(1, len(centroid)),
      |           i -> u[__j * 8 + i] * centroid[i])) AS p
      |  FROM nq, cb),
      |codes AS (
      |  SELECT __id AS nid, __j, __code FROM read_parquet('__GRAFT_ANNIDX__/pcapq/pq/codes/*.parquet')
      |  WHERE __id % 2 = 0),
      |scored AS (
      |  SELECT l.qid, c.nid, round(sum(l.p), 4) AS s
      |  FROM codes c JOIN lut l ON l.__j = c.__j AND l.code = c.__code
      |  WHERE l.qid <> c.nid GROUP BY l.qid, c.nid),
      |ranked AS (
      |  SELECT qid AS query_id, nid AS neighbor_id, s AS cosine_pq,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cosine_pq FROM ranked WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
      val idx = stageAnnIndexes(s, dir)
      AnnIndex.rotatedPqTopK(s, s"$idx/pcapq",
        Tables.embeddings(s, dir).filter(col("vec_id") < 5),
        "vec_id", "embedding", 5,
        where = pmod(col("__id"), lit(2)) === 0)
  }

  /** The graph layout's fixed-depth beam search as unrolled SQL CTEs
    * over the STORED tables (vectors/adjacency/entry) — namespaced by
    * `p` so the recall report embeds a second copy beside x_knn_graph's.
    * Each hop: expand beam ∪ neighbors(beam) (DISTINCT per query),
    * score against the stored vectors (rounded 4dp — the ranking
    * discipline), keep the `beamWidth` best per query. The final beam
    * CTE is `<p>b<hops>`.
    */
  private def graphBeamCtesSql(p: String, qFilter: String, hops: Int,
      beamWidth: Int, layout: String = "graph"): String = {
    val hopCtes = (1 to hops).map { t =>
      val prev = s"${p}b${t - 1}"
      s"""${p}c$t AS (
         |  SELECT DISTINCT qid, nid FROM (
         |    SELECT b.qid, unnest(a.__nbrs) AS nid
         |    FROM $prev b JOIN ${p}adj a ON a.__id = b.nid
         |    UNION ALL SELECT qid, nid FROM $prev)),
         |${p}s$t AS (
         |  SELECT c.qid, c.nid, round(list_cosine_similarity(q.qv, v.v), 4) AS s
         |  FROM ${p}c$t c JOIN ${p}q q ON q.qid = c.qid JOIN ${p}v v ON v.__id = c.nid),
         |${p}b$t AS (
         |  SELECT qid, nid, s FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
         |    FROM ${p}s$t) WHERE rn <= $beamWidth)""".stripMargin
    }.mkString(",\n")
    s"""${p}v AS (SELECT __id, list_transform(__vec, x -> CAST(x AS DOUBLE)) AS v
       |       FROM read_parquet('__GRAFT_ANNIDX__/$layout/vectors/*.parquet')),
       |${p}adj AS (SELECT __id, __nbrs FROM read_parquet('__GRAFT_ANNIDX__/$layout/adjacency/*.parquet')),
       |${p}e AS (SELECT entry FROM read_parquet('__GRAFT_ANNIDX__/$layout/entry/*.parquet')),
       |${p}q AS (SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |       FROM embeddings WHERE $qFilter),
       |${p}b0 AS (SELECT qid, entry AS nid FROM ${p}q, ${p}e),
       |$hopCtes""".stripMargin
  }

  /** Graph-ANN serving ([[graft.ext.GraphAnn]]): fixed-depth beam search
    * over the persisted NSW-lite neighbor graph — the eleventh layout,
    * the build half of the r14 build-or-justify decision. The oracle
    * replays the ENTIRE beam trajectory (entry, every hop's expansion,
    * rounded scoring, beam cuts, the self-excluded final ranking) from
    * the stored tables — a wrong edge list, a beam cut off by one, or a
    * drifted entry point all break the hash. SURVEY §17 records the
    * measured recall/cost trade vs the IVF family (the recall report
    * carries the graph row).
    */
  val knnGraph = q("x_knn_graph",
    s"""WITH ${graphBeamCtesSql("g", "vec_id < 8", 6, 16)}
       |SELECT qid AS query_id, rn AS rank, nid AS neighbor_id, s AS cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
       |      FROM gb6 WHERE qid <> nid) WHERE rn <= 5""".stripMargin) { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    // operating point beam 16 × 6 hops: the measured knee of the
    // recall/hops curve at this geometry (GraphCurve, SURVEY §17) —
    // recall@5 0.96 vs 0.11 at the naive 8×3
    graft.ext.GraphAnn.topK(s, s"$idx/graph",
      Tables.embeddings(s, dir).filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", 5, beamWidth = 16, hops = 6)
  }

  /** The SCALABLE graph build served by the unchanged beam search
    * ([[graft.ext.GraphAnn.buildFromIvf]]): candidate edges from an IVF
    * blocked self-join instead of the O(n²) brute force, one entry
    * point per coarse centroid instead of the single medoid. The oracle
    * replays the identical beam trajectory from the stored tables — the
    * layout contract means the scalable build needed NO new oracle
    * machinery, only the layout path. Operating point beam 16 × 3 hops:
    * the multi-entry seeding moves the recall knee from 6 hops to ≤3
    * (GraphCurve, SURVEY §17) — half the sequential join rounds per
    * query batch, which on a cluster is half the network round trips.
    */
  val knnGraphScale = q("x_knn_graph_scale",
    s"""WITH ${graphBeamCtesSql("gi", "vec_id < 8", 3, 16, "graphivf")}
       |SELECT qid AS query_id, rn AS rank, nid AS neighbor_id, s AS cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
       |      FROM gib3 WHERE qid <> nid) WHERE rn <= 5""".stripMargin) { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    graft.ext.GraphAnn.topK(s, s"$idx/graphivf",
      Tables.embeddings(s, dir).filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", 5, beamWidth = 16, hops = 3)
  }

  /** The graph layout with Vamana α-pruned (RobustPrune) edges
    * ([[graft.ext.GraphAnn.buildFromIvf]] alphaQ = 1200): each node's
    * adjacency is the greedy α-diverse subset of a 3·degree candidate
    * pool, so near-collinear short edges collapse into one and the
    * freed slots hold LONG edges toward other regions — DiskANN's
    * hop-cutting mechanism, the piece the exact build's decision record
    * deliberately omitted and priced. The layout contract again means
    * no new oracle machinery: the same beam replay over the stored
    * (differently-wired) tables hash-pins the trajectory at the shallow
    * 3-hop operating point. GraphAnnSpec pins the wiring semantics
    * (domination, long-edge promotion, α=∞ degeneration to top-degree);
    * SURVEY §20 records the measured recall-per-hop effect.
    */
  val knnGraphAlpha = q("x_knn_graph_alpha",
    s"""WITH ${graphBeamCtesSql("ga", "vec_id < 8", 3, 16, "graphalpha")}
       |SELECT qid AS query_id, rn AS rank, nid AS neighbor_id, s AS cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
       |      FROM gab3 WHERE qid <> nid) WHERE rn <= 5""".stripMargin) { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    graft.ext.GraphAnn.topK(s, s"$idx/graphalpha",
      Tables.embeddings(s, dir).filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", 5, beamWidth = 16, hops = 3)
  }

  /** Incremental insert on the graph layout
    * ([[graft.ext.GraphAnn.append]] — the FreshDiskANN fresh-region
    * split): rows appended after the build serve IMMEDIATELY, scored
    * exactly beside the beam's candidates. The oracle replays the beam
    * trajectory over the stored graph AND the brute scoring of the
    * stored delta, unioned into one final ranking — a delta row the
    * serve path missed, a dead row served, or a double-slotted
    * candidate all break the hash. The staged fixture holds out every
    * 16th vector from the build and appends it; the query slice
    * (vec_id < 8) includes delta member 7, so the self-exclusion
    * crosses regions. Consolidation (the buildFromIvf fold) and the
    * update-via-CDC flow are spec'd in GraphAnnSpec.
    */
  val knnGraphDelta = q("x_knn_graph_delta",
    s"""WITH ${graphBeamCtesSql("gd", "vec_id < 8", 3, 16, "graphdelta")},
       |gdd AS (SELECT __id, list_transform(__vec, x -> CAST(x AS DOUBLE)) AS v
       |        FROM read_parquet('__GRAFT_ANNIDX__/graphdelta/delta/*.parquet')),
       |gdc AS (SELECT qid, nid, s FROM gdb3
       |        UNION
       |        SELECT q.qid, d.__id, round(list_cosine_similarity(q.qv, d.v), 4)
       |        FROM gdq q, gdd d)
       |SELECT qid AS query_id, rn AS rank, nid AS neighbor_id, s AS cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
       |      FROM gdc WHERE qid <> nid) WHERE rn <= 5""".stripMargin) { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    graft.ext.GraphAnn.topK(s, s"$idx/graphdelta",
      Tables.embeddings(s, dir).filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", 5, beamWidth = 16, hops = 3)
  }

  /** Measured recall@k dashboard over EVERY persisted served layout at
    * its operating parameters (nprobe = 4, BQ shortlist = 50, graph
    * beam 16 × 6 hops) vs brute force — the serving-quality number a
    * production vector store tracks per index build. The mechanics
    * gates prove full-probe == brute; this measures what the
    * approximation actually costs where users run it. Deterministic
    * given the stored indexes (integer hits/footrule + one division),
    * so the WHOLE report hash-matches a DuckDB replay composed from the
    * per-layout oracles.
    */
  val knnRecallReport = q("x_knn_recall_report",
    s"""WITH qv AS (
      |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id < 5),
      |nq AS (
      |  SELECT qid,
      |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      |  FROM qv),
      |brute_s AS (
      |  SELECT q.qid, e.vec_id AS nid,
      |         list_cosine_similarity(CAST(q.v AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS c
      |  FROM qv q, embeddings e WHERE e.vec_id <> q.qid),
      |brute AS (
      |  SELECT qid AS query_id, nid AS neighbor_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY round(c, 4) DESC, nid) AS rank
      |  FROM brute_s QUALIFY rank <= 5),
      |tot AS (SELECT count(*) AS possible, count(DISTINCT query_id) AS nqy FROM brute),
      |ivf_cent AS (
      |  SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivf/coarse/*.parquet')),
      |ivf_probe AS (
      |  SELECT qid, __cid,
      |         row_number() OVER (PARTITION BY qid ORDER BY
      |           list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * centroid[i]))
      |             / (sqrt(list_sum(list_transform(v, x -> x*x)))
      |                * sqrt(list_sum(list_transform(centroid, x -> x*x)))) DESC,
      |           __cid) AS pr
      |  FROM qv, ivf_cent QUALIFY pr <= 4),
      |ivf_vecs AS (
      |  SELECT __id AS nid, CAST(__cluster AS INTEGER) AS cl,
      |         list_transform(__vec, x -> CAST(x AS DOUBLE)) AS w
      |  FROM read_parquet('__GRAFT_ANNIDX__/ivf/vectors/*/*.parquet', hive_partitioning=1)),
      |ivf_scored AS (
      |  SELECT p.qid, ivf_vecs.nid,
      |         round(list_sum(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * ivf_vecs.w[i]))
      |           / (sqrt(list_sum(list_transform(q.v, x -> x*x)))
      |              * sqrt(list_sum(list_transform(ivf_vecs.w, x -> x*x)))), 4) AS s
      |  FROM ivf_probe p JOIN ivf_vecs ON ivf_vecs.cl = p.__cid
      |  JOIN qv q ON q.qid = p.qid
      |  WHERE p.qid <> ivf_vecs.nid),
      |ivf_top AS (
      |  SELECT qid AS query_id, nid AS neighbor_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM ivf_scored QUALIFY rank <= 5),
      |pq_cb AS (
      |  SELECT __j, __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/pq/codebooks/*.parquet')),
      |pq_lut AS (
      |  SELECT qid, __j, __cid AS code,
      |         list_sum(list_transform(generate_series(1, len(centroid)),
      |           i -> u[__j * 8 + i] * centroid[i])) AS p
      |  FROM nq, pq_cb),
      |pq_codes AS (
      |  SELECT __id AS nid, __j, __code FROM read_parquet('__GRAFT_ANNIDX__/pq/codes/*.parquet')),
      |pq_scored AS (
      |  SELECT l.qid, c.nid, round(sum(l.p), 4) AS s
      |  FROM pq_codes c JOIN pq_lut l ON l.__j = c.__j AND l.code = c.__code
      |  WHERE l.qid <> c.nid GROUP BY l.qid, c.nid),
      |pq_top AS (
      |  SELECT qid AS query_id, nid AS neighbor_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM pq_scored QUALIFY rank <= 5),
      |ivfpq_cent AS (
      |  SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivfpq/coarse/*.parquet')),
      |ivfpq_probe AS (
      |  SELECT qid, __cid,
      |         row_number() OVER (PARTITION BY qid ORDER BY
      |           list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * centroid[i]))
      |             / (sqrt(list_sum(list_transform(v, x -> x*x)))
      |                * sqrt(list_sum(list_transform(centroid, x -> x*x)))) DESC,
      |           __cid) AS pr
      |  FROM qv, ivfpq_cent QUALIFY pr <= 4),
      |ivfpq_cb AS (
      |  SELECT __j, __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivfpq/codebooks/*.parquet')),
      |ivfpq_lut AS (
      |  SELECT qid, __j, __cid AS code,
      |         list_sum(list_transform(generate_series(1, len(centroid)),
      |           i -> u[__j * 8 + i] * centroid[i])) AS p
      |  FROM nq, ivfpq_cb),
      |ivfpq_codes AS (
      |  SELECT __id AS nid, __j, __code, CAST(__cluster AS INTEGER) AS cl
      |  FROM read_parquet('__GRAFT_ANNIDX__/ivfpq/codes/*/*.parquet', hive_partitioning=1)),
      |ivfpq_scored AS (
      |  SELECT l.qid, c.nid, round(sum(l.p), 4) AS s
      |  FROM ivfpq_probe p
      |  JOIN ivfpq_codes c ON c.cl = p.__cid
      |  JOIN ivfpq_lut l ON l.qid = p.qid AND l.__j = c.__j AND l.code = c.__code
      |  WHERE l.qid <> c.nid GROUP BY l.qid, c.nid),
      |ivfpq_top AS (
      |  SELECT qid AS query_id, nid AS neighbor_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM ivfpq_scored QUALIFY rank <= 5),
      |ivfsq_cent AS (
      |  SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivfsq/coarse/*.parquet')),
      |ivfsq_probe AS (
      |  SELECT qid, __cid,
      |         row_number() OVER (PARTITION BY qid ORDER BY
      |           list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * centroid[i]))
      |             / (sqrt(list_sum(list_transform(v, x -> x*x)))
      |                * sqrt(list_sum(list_transform(centroid, x -> x*x)))) DESC,
      |           __cid) AS pr
      |  FROM qv, ivfsq_cent QUALIFY pr <= 4),
      |ivfsq_b AS (
      |  SELECT list(vmin ORDER BY __pos) AS lo,
      |         list((vmax - vmin) / 255.0 ORDER BY __pos) AS step
      |  FROM read_parquet('__GRAFT_ANNIDX__/ivfsq/bounds/*.parquet')),
      |ivfsq_qf AS (
      |  SELECT qid,
      |         list_sum(list_transform(generate_series(1, len(u)), i -> u[i] * b.lo[i])) AS qoff,
      |         list_transform(generate_series(1, len(u)), i -> u[i] * b.step[i]) AS qstep
      |  FROM nq, ivfsq_b b),
      |ivfsq_codes AS (
      |  SELECT __id AS nid, CAST(__cluster AS INTEGER) AS cl,
      |         list_transform(__codes, c -> CAST(c AS DOUBLE) + 128.0) AS c
      |  FROM read_parquet('__GRAFT_ANNIDX__/ivfsq/codes/*/*.parquet', hive_partitioning=1)),
      |ivfsq_scored AS (
      |  SELECT p.qid, ivfsq_codes.nid,
      |         round(qf.qoff + list_sum(list_transform(generate_series(1, len(qf.qstep)),
      |           i -> c[i] * qf.qstep[i])), 4) AS s
      |  FROM ivfsq_probe p JOIN ivfsq_codes ON ivfsq_codes.cl = p.__cid
      |  JOIN ivfsq_qf qf ON qf.qid = p.qid
      |  WHERE p.qid <> ivfsq_codes.nid),
      |ivfsq_top AS (
      |  SELECT qid AS query_id, nid AS neighbor_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM ivfsq_scored QUALIFY rank <= 5),
      |bq_c AS (SELECT __id, __sig, __vec
      |         FROM read_parquet('__GRAFT_ANNIDX__/bq/codes/*.parquet')),
      |bq_q AS (SELECT __id AS qid, __vec AS qv, __sig AS qs FROM bq_c WHERE __id < 5),
      |bq_ham AS (
      |  SELECT q.qid, c.__id AS nid,
      |         list_sum(list_transform(range(1, len(q.qs) + 1),
      |           i -> bit_count(xor(q.qs[i], c.__sig[i])))) AS h,
      |         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.__vec AS DOUBLE[])) AS cos
      |  FROM bq_q q, bq_c c WHERE c.__id <> q.qid),
      |bq_short AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY h, nid) AS hr
      |             FROM bq_ham),
      |bq_top AS (
      |  SELECT qid AS query_id, nid AS neighbor_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY round(cos, 4) DESC, nid) AS rank
      |  FROM bq_short WHERE hr <= 50 QUALIFY rank <= 5),
      |pp_rot AS (SELECT __i, __row FROM read_parquet('__GRAFT_ANNIDX__/pcapq/rotation/*.parquet')),
      |pp_rq AS (
      |  SELECT qv.qid, pp_rot.__i,
      |         list_sum(list_transform(range(1, 65), t -> qv.v[t] * pp_rot.__row[t])) AS y
      |  FROM qv, pp_rot),
      |pp_rv AS (SELECT qid, list(y ORDER BY __i) AS v FROM pp_rq GROUP BY qid),
      |pp_nq AS (
      |  SELECT qid,
      |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      |  FROM pp_rv),
      |pp_cb AS (
      |  SELECT __j, __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/pcapq/pq/codebooks/*.parquet')),
      |pp_lut AS (
      |  SELECT qid, __j, __cid AS code,
      |         list_sum(list_transform(generate_series(1, len(centroid)),
      |           i -> u[__j * 8 + i] * centroid[i])) AS p
      |  FROM pp_nq, pp_cb),
      |pp_codes AS (
      |  SELECT __id AS nid, __j, __code FROM read_parquet('__GRAFT_ANNIDX__/pcapq/pq/codes/*.parquet')),
      |pp_scored AS (
      |  SELECT l.qid, c.nid, round(sum(l.p), 4) AS s
      |  FROM pp_codes c JOIN pp_lut l ON l.__j = c.__j AND l.code = c.__code
      |  WHERE l.qid <> c.nid GROUP BY l.qid, c.nid),
      |pp_top AS (
      |  SELECT qid AS query_id, nid AS neighbor_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM pp_scored QUALIFY rank <= 5),
      |m_ivf AS (SELECT count(*) AS hits, coalesce(sum(abs(s.rank - b.rank)), 0) AS fr
      |          FROM ivf_top s JOIN brute b USING (query_id, neighbor_id)),
      |m_pq AS (SELECT count(*) AS hits, coalesce(sum(abs(s.rank - b.rank)), 0) AS fr
      |         FROM pq_top s JOIN brute b USING (query_id, neighbor_id)),
      |m_ivfpq AS (SELECT count(*) AS hits, coalesce(sum(abs(s.rank - b.rank)), 0) AS fr
      |            FROM ivfpq_top s JOIN brute b USING (query_id, neighbor_id)),
      |m_ivfsq AS (SELECT count(*) AS hits, coalesce(sum(abs(s.rank - b.rank)), 0) AS fr
      |            FROM ivfsq_top s JOIN brute b USING (query_id, neighbor_id)),
      |m_bq AS (SELECT count(*) AS hits, coalesce(sum(abs(s.rank - b.rank)), 0) AS fr
      |         FROM bq_top s JOIN brute b USING (query_id, neighbor_id)),
      |m_pp AS (SELECT count(*) AS hits, coalesce(sum(abs(s.rank - b.rank)), 0) AS fr
      |         FROM pp_top s JOIN brute b USING (query_id, neighbor_id)),
      |op_rot AS (SELECT __i, __row FROM read_parquet('__GRAFT_ANNIDX__/opq/rotation/*.parquet')),
      |op_rq AS (
      |  SELECT qv.qid, op_rot.__i,
      |         list_sum(list_transform(range(1, 65), t -> qv.v[t] * op_rot.__row[t])) AS y
      |  FROM qv, op_rot),
      |op_rv AS (SELECT qid, list(y ORDER BY __i) AS v FROM op_rq GROUP BY qid),
      |op_nq AS (
      |  SELECT qid,
      |         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      |  FROM op_rv),
      |op_cb AS (
      |  SELECT __j, __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/opq/pq/codebooks/*.parquet')),
      |op_lut AS (
      |  SELECT qid, __j, __cid AS code,
      |         list_sum(list_transform(generate_series(1, len(centroid)),
      |           i -> u[__j * 8 + i] * centroid[i])) AS p
      |  FROM op_nq, op_cb),
      |op_codes AS (
      |  SELECT __id AS nid, __j, __code FROM read_parquet('__GRAFT_ANNIDX__/opq/pq/codes/*.parquet')),
      |op_scored AS (
      |  SELECT l.qid, c.nid, round(sum(l.p), 4) AS s
      |  FROM op_codes c JOIN op_lut l ON l.__j = c.__j AND l.code = c.__code
      |  WHERE l.qid <> c.nid GROUP BY l.qid, c.nid),
      |op_top AS (
      |  SELECT qid AS query_id, nid AS neighbor_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM op_scored QUALIFY rank <= 5),
      |m_op AS (SELECT count(*) AS hits, coalesce(sum(abs(s.rank - b.rank)), 0) AS fr
      |         FROM op_top s JOIN brute b USING (query_id, neighbor_id)),
      |${graphBeamCtesSql("gr", "vec_id < 5", 6, 16)},
      |gr_top AS (
      |  SELECT qid AS query_id, nid AS neighbor_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM grb6 WHERE qid <> nid QUALIFY rank <= 5),
      |m_gr AS (SELECT count(*) AS hits, coalesce(sum(abs(s.rank - b.rank)), 0) AS fr
      |         FROM gr_top s JOIN brute b USING (query_id, neighbor_id)),
      |${graphBeamCtesSql("gs", "vec_id < 5", 3, 16, "graphivf")},
      |gs_top AS (
      |  SELECT qid AS query_id, nid AS neighbor_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM gsb3 WHERE qid <> nid QUALIFY rank <= 5),
      |m_gs AS (SELECT count(*) AS hits, coalesce(sum(abs(s.rank - b.rank)), 0) AS fr
      |         FROM gs_top s JOIN brute b USING (query_id, neighbor_id)),
      |${graphBeamCtesSql("gx", "vec_id < 5", 3, 16, "graphalpha")},
      |gx_top AS (
      |  SELECT qid AS query_id, nid AS neighbor_id,
      |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
      |  FROM gxb3 WHERE qid <> nid QUALIFY rank <= 5),
      |m_gx AS (SELECT count(*) AS hits, coalesce(sum(abs(s.rank - b.rank)), 0) AS fr
      |         FROM gx_top s JOIN brute b USING (query_id, neighbor_id))
      |SELECT 'ivf' AS layout, 5 AS k, CAST(tot.nqy AS BIGINT) AS n_queries,
      |       CAST(tot.possible AS BIGINT) AS possible, CAST(m.hits AS BIGINT) AS hits,
      |       CAST(m.hits AS DOUBLE) / tot.possible AS recall_at_k,
      |       CAST(m.fr AS BIGINT) AS rank_footrule
      |FROM m_ivf m, tot
      |UNION ALL
      |SELECT 'pq', 5, CAST(tot.nqy AS BIGINT), CAST(tot.possible AS BIGINT),
      |       CAST(m.hits AS BIGINT), CAST(m.hits AS DOUBLE) / tot.possible,
      |       CAST(m.fr AS BIGINT)
      |FROM m_pq m, tot
      |UNION ALL
      |SELECT 'ivfpq', 5, CAST(tot.nqy AS BIGINT), CAST(tot.possible AS BIGINT),
      |       CAST(m.hits AS BIGINT), CAST(m.hits AS DOUBLE) / tot.possible,
      |       CAST(m.fr AS BIGINT)
      |FROM m_ivfpq m, tot
      |UNION ALL
      |SELECT 'ivfsq', 5, CAST(tot.nqy AS BIGINT), CAST(tot.possible AS BIGINT),
      |       CAST(m.hits AS BIGINT), CAST(m.hits AS DOUBLE) / tot.possible,
      |       CAST(m.fr AS BIGINT)
      |FROM m_ivfsq m, tot
      |UNION ALL
      |SELECT 'bq', 5, CAST(tot.nqy AS BIGINT), CAST(tot.possible AS BIGINT),
      |       CAST(m.hits AS BIGINT), CAST(m.hits AS DOUBLE) / tot.possible,
      |       CAST(m.fr AS BIGINT)
      |FROM m_bq m, tot
      |UNION ALL
      |SELECT 'pcapq', 5, CAST(tot.nqy AS BIGINT), CAST(tot.possible AS BIGINT),
      |       CAST(m.hits AS BIGINT), CAST(m.hits AS DOUBLE) / tot.possible,
      |       CAST(m.fr AS BIGINT)
      |FROM m_pp m, tot
      |UNION ALL
      |SELECT 'opq', 5, CAST(tot.nqy AS BIGINT), CAST(tot.possible AS BIGINT),
      |       CAST(m.hits AS BIGINT), CAST(m.hits AS DOUBLE) / tot.possible,
      |       CAST(m.fr AS BIGINT)
      |FROM m_op m, tot
      |UNION ALL
      |SELECT 'graph', 5, CAST(tot.nqy AS BIGINT), CAST(tot.possible AS BIGINT),
      |       CAST(m.hits AS BIGINT), CAST(m.hits AS DOUBLE) / tot.possible,
      |       CAST(m.fr AS BIGINT)
      |FROM m_gr m, tot
      |UNION ALL
      |SELECT 'graph_ivf', 5, CAST(tot.nqy AS BIGINT), CAST(tot.possible AS BIGINT),
      |       CAST(m.hits AS BIGINT), CAST(m.hits AS DOUBLE) / tot.possible,
      |       CAST(m.fr AS BIGINT)
      |FROM m_gs m, tot
      |UNION ALL
      |SELECT 'graph_alpha', 5, CAST(tot.nqy AS BIGINT), CAST(tot.possible AS BIGINT),
      |       CAST(m.hits AS BIGINT), CAST(m.hits AS DOUBLE) / tot.possible,
      |       CAST(m.fr AS BIGINT)
      |FROM m_gx m, tot""".stripMargin) { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
    // the ceiling is staged with the index fleet (deterministic function
    // of the embeddings); the gate's timed cost is the 12 serve paths —
    // the part that is the measurement
    val brute = graft.util.TinyParquet.openStore(s, s"$idx/recall_brute5")
    // each serve is an independent plan; the GRAPH serves additionally
    // pay their beam hops as SEQUENTIAL eager checkpoints inside topK
    // (6 + 3 hops ≈ 18 job rounds at the local job-latency floor), so
    // the serves are CONSTRUCTED concurrently (the staging block's
    // inParallel discipline) and the report reads the checkpointed
    // results — wall tracks the slowest single serve, not the sum;
    // results are byte-identical (independent deterministic plans)
    val layouts: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "ivf" -> (() => AnnIndex.ivfTopK(s, AnnIndex.readIvf(s, s"$idx/ivf"),
        queries, "vec_id", "embedding", 5, nprobe = 4)),
      "pq" -> (() => AnnIndex.pqTopK(s, s"$idx/pq", queries, "vec_id", "embedding", 5)),
      "ivfpq" -> (() => AnnIndex.ivfPqTopK(s, AnnIndex.readIvfPq(s, s"$idx/ivfpq"),
        queries, "vec_id", "embedding", 5, nprobe = 4)),
      "ivfsq" -> (() => AnnIndex.ivfSqTopK(s, AnnIndex.readIvfSq(s, s"$idx/ivfsq"),
        queries, "vec_id", "embedding", 5, nprobe = 4)),
      "bq" -> (() => AnnIndex.bqTopK(s, s"$idx/bq", queries, "vec_id", "embedding", 5,
        shortlist = 50)),
      "pcapq" -> (() => AnnIndex.rotatedPqTopK(s, s"$idx/pcapq", queries,
        "vec_id", "embedding", 5)),
      "opq" -> (() => AnnIndex.rotatedPqTopK(s, s"$idx/opq", queries,
        "vec_id", "embedding", 5)),
      "graph" -> (() => graft.ext.GraphAnn.topK(s, s"$idx/graph", queries,
        "vec_id", "embedding", 5, beamWidth = 16, hops = 6)),
      // the exact-edge vs IVF-edge comparison the scalable build is
      // priced by: same geometry, half the hop depth (centroid seeds)
      "graph_ivf" -> (() => graft.ext.GraphAnn.topK(s, s"$idx/graphivf", queries,
        "vec_id", "embedding", 5, beamWidth = 16, hops = 3)),
      // the alpha-pruned wiring at the same shallow operating point —
      // the dashboard row that would move if long edges started paying
      "graph_alpha" -> (() => graft.ext.GraphAnn.topK(s, s"$idx/graphalpha", queries,
        "vec_id", "embedding", 5, beamWidth = 16, hops = 3)),
    )
    // one submission thread per leg (10 layouts): the legs are uneven —
    // the 6-hop graph serve alone is most of the critical path — and at
    // width 4 a slow leg queued behind three cheap ones; wall should
    // track max(leg), not a 3-round schedule (results identical:
    // independent deterministic plans)
    val served = graft.util.Par.all(layouts.size)(layouts.map { case (n, f) =>
      () => n -> f().localCheckpoint(eager = true)
    })
    AnnIndex.recallReport(served, brute, 5)
  }

  /** Store-health dashboard over EVERY persisted layout plus three
    * maintained fixtures carrying real tombstones: physical row count,
    * live count under tombstone semantics, and the tombstone debt the
    * compaction policy prices — the per-store maintenance number an
    * index fleet tracks. Integer numerators + one division, so the
    * whole report hash-matches a DuckDB replay over the stored tables
    * (the maintained fixtures make the debt arithmetic nonzero, not
    * just an all-clean identity).
    */
  val indexHealth = q("x_index_health",
    """WITH d_pqd AS (SELECT __id, max(__seq) AS tseq
      |              FROM read_parquet('__GRAFT_ANNIDX__/pq_del16/tombstones/*.parquet') GROUP BY 1),
      |d_bqm AS (SELECT __id, max(__seq) AS tseq
      |          FROM read_parquet('__GRAFT_ANNIDX__/bq_maint16/tombstones/*.parquet') GROUP BY 1),
      |d_ipd AS (SELECT __id, max(__seq) AS tseq
      |          FROM read_parquet('__GRAFT_ANNIDX__/ivfpq_del16/tombstones/*.parquet') GROUP BY 1),
      |m_pqd AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |         CAST(count(CASE WHEN d.tseq IS NULL OR coalesce(c.__seq, 0) > d.tseq THEN 1 END) AS BIGINT) AS live
      |  FROM read_parquet('__GRAFT_ANNIDX__/pq_del16/codes/*.parquet') c
      |  LEFT JOIN d_pqd d ON c.__id = d.__id),
      |m_bqm AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |         CAST(count(CASE WHEN d.tseq IS NULL OR coalesce(c.__seq, 0) > d.tseq THEN 1 END) AS BIGINT) AS live
      |  FROM read_parquet('__GRAFT_ANNIDX__/bq_maint16/codes/*.parquet') c
      |  LEFT JOIN d_bqm d ON c.__id = d.__id),
      |m_ipd AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |         CAST(count(CASE WHEN d.tseq IS NULL OR coalesce(c.__seq, 0) > d.tseq THEN 1 END) AS BIGINT) AS live
      |  FROM read_parquet('__GRAFT_ANNIDX__/ivfpq_del16/codes/*/*.parquet', hive_partitioning=1) c
      |  LEFT JOIN d_ipd d ON c.__id = d.__id)
      |SELECT 'ivf' AS layout, CAST(count(*) AS BIGINT) AS total_rows,
      |       CAST(count(*) AS BIGINT) AS live_rows, CAST(0 AS BIGINT) AS dead_rows,
      |       0.0 AS tombstone_debt
      |FROM read_parquet('__GRAFT_ANNIDX__/ivf/vectors/*/*.parquet', hive_partitioning=1)
      |UNION ALL
      |SELECT 'pq', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT), 0, 0.0
      |FROM read_parquet('__GRAFT_ANNIDX__/pq/codes/*.parquet')
      |UNION ALL
      |SELECT 'ivfpq', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT), 0, 0.0
      |FROM read_parquet('__GRAFT_ANNIDX__/ivfpq/codes/*/*.parquet', hive_partitioning=1)
      |UNION ALL
      |SELECT 'ivfsq', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT), 0, 0.0
      |FROM read_parquet('__GRAFT_ANNIDX__/ivfsq/codes/*/*.parquet', hive_partitioning=1)
      |UNION ALL
      |SELECT 'bq', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT), 0, 0.0
      |FROM read_parquet('__GRAFT_ANNIDX__/bq/codes/*.parquet')
      |UNION ALL
      |SELECT 'pcapq', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT), 0, 0.0
      |FROM read_parquet('__GRAFT_ANNIDX__/pcapq/pq/codes/*.parquet')
      |UNION ALL
      |SELECT 'graph', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT), 0, 0.0
      |FROM read_parquet('__GRAFT_ANNIDX__/graph/vectors/*.parquet')
      |UNION ALL
      |SELECT 'graphivf', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT), 0, 0.0
      |FROM read_parquet('__GRAFT_ANNIDX__/graphivf/vectors/*.parquet')
      |UNION ALL
      |SELECT 'ivf_bx', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT), 0, 0.0
      |FROM read_parquet('__GRAFT_ANNIDX__/ivf_bx/vectors/*/*.parquet', hive_partitioning=1)
      |UNION ALL
      |SELECT 'ivf_by', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT), 0, 0.0
      |FROM read_parquet('__GRAFT_ANNIDX__/ivf_by/vectors/*/*.parquet', hive_partitioning=1)
      |UNION ALL
      |SELECT 'graphalpha', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT), 0, 0.0
      |FROM read_parquet('__GRAFT_ANNIDX__/graphalpha/vectors/*.parquet')
      |UNION ALL
      |SELECT 'graphdelta',
      |       (SELECT CAST(count(*) AS BIGINT) FROM read_parquet('__GRAFT_ANNIDX__/graphdelta/vectors/*.parquet'))
      |         + (SELECT CAST(count(*) AS BIGINT) FROM read_parquet('__GRAFT_ANNIDX__/graphdelta/delta/*.parquet')),
      |       (SELECT CAST(count(*) AS BIGINT) FROM read_parquet('__GRAFT_ANNIDX__/graphdelta/vectors/*.parquet'))
      |         + (SELECT CAST(count(*) AS BIGINT) FROM read_parquet('__GRAFT_ANNIDX__/graphdelta/delta/*.parquet')),
      |       0, 0.0
      |UNION ALL
      |SELECT 'pq_del16', total, live, total - live,
      |       CASE WHEN total = 0 THEN 0.0 ELSE CAST(total - live AS DOUBLE) / total END
      |FROM m_pqd
      |UNION ALL
      |SELECT 'bq_maint16', total, live, total - live,
      |       CASE WHEN total = 0 THEN 0.0 ELSE CAST(total - live AS DOUBLE) / total END
      |FROM m_bqm
      |UNION ALL
      |SELECT 'ivfpq_del16', total, live, total - live,
      |       CASE WHEN total = 0 THEN 0.0 ELSE CAST(total - live AS DOUBLE) / total END
      |FROM m_ipd""".stripMargin) { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    AnnIndex.healthReport(s, Seq(
      "ivf" -> s"$idx/ivf", "pq" -> s"$idx/pq", "ivfpq" -> s"$idx/ivfpq",
      "ivfsq" -> s"$idx/ivfsq", "bq" -> s"$idx/bq",
      "pcapq" -> s"$idx/pcapq/pq", "graph" -> s"$idx/graph",
      "graphivf" -> s"$idx/graphivf",
      "graphalpha" -> s"$idx/graphalpha",
      // the bitext-mining serving fleet (x_mine_bitext_ivf's per-side
      // indexes): the health dashboard covers every store the round
      // stages, not just the document-corpus ones
      "ivf_bx" -> s"$idx/ivf_bx", "ivf_by" -> s"$idx/ivf_by",
      // fresh-region store: health prices vectors + delta together
      "graphdelta" -> s"$idx/graphdelta",
      "pq_del16" -> s"$idx/pq_del16", "bq_maint16" -> s"$idx/bq_maint16",
      "ivfpq_del16" -> s"$idx/ivfpq_del16"))
  }

  /** BQ maintenance parity: the staged build→append→delete→update
    * fixture must serve EXACTLY the in-query scan over the live set
    * (the sketch is training-free, so no drift term exists — a lost
    * append, unsubtracted tombstone, or double-counted update
    * generation breaks the equality outright).
    */
  val knnBqMaint = q("x_knn_bq_maint", "SELECT true AS bq_maint_ok") { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb16 = Tables.embeddings(s, dir).filter(col("vec_id") < 16)
    val queries = emb16.filter(col("vec_id") < 5)
    // served index read vs from-scratch sketch reference — independent
    // until the compare join; concurrent construction + materialization
    // (the x_knn_pq_persist discipline)
    val Seq(served, ref) = graft.util.Par.all(2)(Seq(
      () => AnnIndex.bqTopK(s, s"$idx/bq_maint16", queries,
          "vec_id", "embedding", 5, shortlist = 16)
        .localCheckpoint(eager = true),
      () => Similarity.binarySketchTopK(queries,
          emb16.filter(!col("vec_id").isin(3, 11)), "vec_id", "embedding",
          dim = 64, k = 5, shortlist = 16)
        .withColumnRenamed("cosine", "__c2")
        .localCheckpoint(eager = true)))
    served.join(ref, Seq("query_id", "rank", "neighbor_id"), "full")
      .agg((count(lit(1)) === count(col("cosine")) &&
        count(lit(1)) === count(col("__c2")) &&
        max(abs(col("cosine") - col("__c2"))) <= 1e-9).as("bq_maint_ok"))
  }

  /** Exact set-similarity self-join via prefix filtering (AllPairs/
    * PPJoin): all document pairs with token-set Jaccard ≥ 0.8 over a
    * deterministic corpus slice. The oracle is the NAIVE all-pairs
    * join — equality proves the prefix filter generated every
    * qualifying candidate (completeness is the whole point of the
    * operator; a lossy block would drop pairs and fail the hash).
    */
  val setSimJoin = q("x_setsim_join",
    """WITH t AS (SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS tok
      |           FROM documents WHERE doc_id % 8 = 0),
      |p AS (SELECT a.id AS id_a, b.id AS id_b,
      |             len(list_intersect(a.tok, b.tok)) AS i,
      |             len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok)) AS u
      |      FROM t a, t b WHERE a.id < b.id)
      |SELECT id_a, id_b, round(CAST(i AS DOUBLE) / u, 4) AS jaccard
      |FROM p WHERE CAST(i AS DOUBLE) / u >= 0.8""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir).filter(col("doc_id") % 8 === 0)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    Joins.setSimJoin(docs, "doc_id", "toks", minJaccard = 0.8)
  }

  /** Multinomial Naive Bayes corpus router: trained on the %5≠0 split's
    * (text, lang) pairs, classifying the held-out %5=0 split — the
    * quality/domain-filtering workhorse shape (two counting passes to
    * train, one token join to score). Hash-matched end to end: priors,
    * Laplace-smoothed token likelihoods, per-class log scores and the
    * deterministic argmax all replay in DuckDB.
    */
  val classifyNb = q("x_classify_nb",
    """WITH tr AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |            FROM documents WHERE doc_id % 5 <> 0),
      |cls AS (SELECT lang, count(*) AS n_toks, count(DISTINCT doc_id) AS n_docs
      |        FROM tr GROUP BY 1),
      |tot AS (SELECT count(DISTINCT doc_id) AS n, count(DISTINCT tok) AS v FROM tr),
      |tc AS (SELECT lang, tok, count(*) AS cnt FROM tr GROUP BY 1, 2),
      |vocab AS (SELECT DISTINCT tok FROM tr),
      |te AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |       FROM documents WHERE doc_id % 5 = 0),
      |tv AS (SELECT te.doc_id, te.tok FROM te JOIN vocab USING (tok)),
      |sc AS (
      |  SELECT tv.doc_id, c.lang,
      |         ln(c.n_docs) - ln(t.n) +
      |         sum(ln(coalesce(tc.cnt, 0) + 1.0) - ln(c.n_toks + t.v)) AS score
      |  FROM tv CROSS JOIN tot t JOIN cls c ON true
      |  LEFT JOIN tc ON tc.lang = c.lang AND tc.tok = tv.tok
      |  GROUP BY tv.doc_id, c.lang, c.n_docs, t.n),
      |rk AS (SELECT doc_id, lang, score,
      |              row_number() OVER (PARTITION BY doc_id
      |                                 ORDER BY round(score, 6) DESC, lang) AS rnk
      |       FROM sc)
      |SELECT doc_id, lang AS predicted, round(score, 4) AS score
      |FROM rk WHERE rnk = 1""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val toks = split(col("text"), " ")
    val model = graft.ext.Classify.trainNaiveBayes(
      docs.filter(col("doc_id") % 5 =!= 0), toks, "lang")
    graft.ext.Classify.classifyNaiveBayes(
      model, docs.filter(col("doc_id") % 5 === 0), "doc_id", toks)
  }

  /** Feature expressions for the logistic classifier — shared shape with
    * [[lrOracleSql]]'s textual features: every operation is IEEE-exact
    * (integer counts from the portable tokenizer, then only ÷ and
    * greatest), so Spark and DuckDB compute bit-identical doubles and
    * the TRAINED WEIGHTS replay exactly. Order of terms and association
    * of divisions must match the SQL strings verbatim.
    */
  private[queries] def lrFeatures(): Seq[org.apache.spark.sql.Column] = {
    val t = TextAnalysis.tokens(col("text"))
    val nc = length(col("text")).cast("double")
    val gt = greatest(size(t), lit(1)).cast("double")
    // centered/rescaled by FIXED literals (a priori constants, not data
    // statistics — data-dependent standardization would need a float
    // mean whose partition-order-dependent sum breaks bit-exactness):
    // roughly zero-mean unit-ish features converge in ~8 GD passes
    // where the raw ones need 32+
    Seq(
      (nc / lit(1000.0) - lit(0.3)) * lit(4.0),
      (size(t).cast("double") / lit(100.0) - lit(0.55)) * lit(4.0),
      (length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double") /
        greatest(length(col("text")), lit(1)).cast("double") - lit(0.8)) * lit(4.0),
      (size(filter(t, x => x.isin("the", "a", "and", "of", "to", "in",
        "is", "it", "that", "for"))).cast("double") / gt - lit(0.0625)) * lit(8.0),
      (nc / gt / lit(10.0) - lit(0.55)) * lit(4.0),
    )
  }

  /** The full LR training trajectory as DuckDB SQL: `iters` gradient +
    * weight-update CTE pairs unrolled textually (no recursive-CTE
    * aggregate needed), then the held-out split scored with the final
    * weights. Bit-exact against [[graft.ext.Classify.trainLogistic]]
    * because both sides use only IEEE-exact ops and the fixed-point
    * BIGINT gradient reduction — see the Scaladoc there.
    */
  /** The word tokenizer as DuckDB SQL over a `text` column — the shared
    * spelling every text-shaped oracle uses.
    */
  private[queries] val tokenizeSql: String =
    "list_filter(string_split_regex(lower(trim(text)), '" + "\\" +
      "W+'), x -> x <> '')"

  /** The LR feature expressions as SQL over (text, __toks) — the exact
    * twins of [[lrFeatures]]; both sides must change together.
    */
  private[queries] val lrFeatSqls: Seq[String] = {
    val stop = "['the','a','and','of','to','in','is','it','that','for']"
    Seq(
      "(CAST(length(text) AS DOUBLE)/1000.0 - 0.3)*4.0",
      "(CAST(len(__toks) AS DOUBLE)/100.0 - 0.55)*4.0",
      "(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)" +
        "/CAST(greatest(length(text),1) AS DOUBLE) - 0.8)*4.0",
      s"(CAST(len(list_filter(__toks, x -> list_contains($stop, x))) AS DOUBLE)" +
        "/CAST(greatest(len(__toks),1) AS DOUBLE) - 0.0625)*8.0",
      "(CAST(length(text) AS DOUBLE)/CAST(greatest(len(__toks),1) AS DOUBLE)/10.0 - 0.55)*4.0",
    )
  }

  /** `x1, .., xk AS <feature>` select list over (text, __toks). */
  private[queries] def lrFeatSelSql: String =
    lrFeatSqls.zipWithIndex.map { case (f, i) => s"$f AS x${i + 1}" }
      .mkString(",\n         ")

  /** z = w0 + Σ wj·xj, left-associated — the summation order BOTH the
    * plan and every oracle use (weights from a CTE aliased `w`).
    */
  private[queries] def lrZSql: String =
    ("w.w0" +: (1 to lrFeatSqls.length).map(j => s"w.w$j*x$j")).mkString(" + ")

  /** The full LR TRAINING trajectory as a CTE chain (no leading WITH, no
    * trailing comma): base/f/tr/nn/wi0 … wi`iters` over the `documents`
    * table — the composable form both [[lrOracleSql]] (x_classify_lr)
    * and the composed pipeline oracle embed. The final weights CTE is
    * `wi<iters>`.
    */
  private[queries] def lrTrainCtesSql(iters: Int, lr: Double = 8.0): String = {
    val k = lrFeatSqls.length
    val xs = (1 to k).map(j => s"x$j").mkString(", ")
    def gsel(j: Int) = {
      val v = if (j == 0) "e" else s"e*x$j"
      s"sum(CAST(sign($v)*floor(abs($v)*1000000.0) AS BIGINT)) AS g$j"
    }
    val iterCtes = (0 until iters).map { i =>
      s"""gr$i AS MATERIALIZED (
         |  SELECT ${(0 to k).map(gsel).mkString(",\n         ")}
         |  FROM (SELECT 0.5 + z/(2.0*(1.0+abs(z))) - y AS e, $xs
         |        FROM (SELECT y, $xs, $lrZSql AS z FROM tr, wi$i w))),
         |wi${i + 1} AS MATERIALIZED (
         |  SELECT ${(0 to k).map(j =>
               s"w.w$j - $lr*((CAST(g.g$j AS DOUBLE)/1000000.0)/nn.n) AS w$j")
               .mkString(",\n         ")}
         |  FROM wi$i w, gr$i g, nn)""".stripMargin
    }.mkString(",\n")
    s"""base AS MATERIALIZED (
       |  SELECT doc_id, lang, text, $tokenizeSql AS __toks
       |  FROM documents),
       |f AS MATERIALIZED (
       |  SELECT doc_id,
       |         CASE WHEN len(__toks) >= 55 THEN 1.0 ELSE 0.0 END AS y,
       |         $lrFeatSelSql
       |  FROM base),
       |tr AS MATERIALIZED (SELECT * FROM f WHERE doc_id % 5 <> 0),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tr),
       |wi0 AS (SELECT ${(0 to k).map(j => s"0.0 AS w$j").mkString(", ")}),
       |$iterCtes""".stripMargin
  }

  private def lrOracleSql(iters: Int, lr: Double = 8.0): String =
    s"""WITH ${lrTrainCtesSql(iters, lr)}
       |SELECT doc_id,
       |       CAST(floor((0.5 + z/(2.0*(1.0+abs(z))))*1000000.0) AS BIGINT) AS prob_q,
       |       CASE WHEN z >= 0 THEN 1 ELSE 0 END AS predicted
       |FROM (SELECT doc_id, $lrZSql AS z FROM f, wi$iters w WHERE doc_id % 5 = 0)""".stripMargin

  /** Deterministic distributed logistic regression — the TRAINED quality/
    * routing filter (fastText/CCNet-class), with the TRAINING ITSELF under
    * oracle: full-batch GD distills a teacher gating rule (token count ≥
    * 55 — the labels a rule-based quality pass produces) into a linear
    * scorer over shape features of the %5≠0 split; the held-out %5=0
    * split is scored with the final weights (8 iterations at lr 8 over
    * the literal-centered features reach 100% held-out agreement with
    * the teacher — the model really learns the boundary, it doesn't
    * just predict the majority class).
    * The algebraic sigmoid + fixed-point BIGINT gradient reduction make
    * the whole trajectory bit-reproducible across partitionings AND
    * engines, so the DuckDB oracle replays all 8 weight updates exactly
    * — a hash mismatch is a real training divergence, not float noise.
    * At 100 TB: `iters` narrow scans with counter-sized driver state.
    */
  val classifyLr = q("x_classify_lr", lrOracleSql(8)) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val feats = lrFeatures()
    val y = when(size(TextAnalysis.tokens(col("text"))) >= 55, lit(1.0))
      .otherwise(lit(0.0))
    val w = graft.ext.Classify.trainLogistic(
      docs.filter(col("doc_id") % 5 =!= 0), feats, y, iters = 8, lr = 8.0)
    graft.ext.Classify.scoreLogistic(
      docs.filter(col("doc_id") % 5 === 0), "doc_id", feats, w)
  }

  /** Hard-negative mining over the labeled embeddings: per query the
    * top-5 most-similar vectors with a DIFFERENT label — contrastive-
    * batch construction. Same deterministic top-k discipline as
    * x_knn_brute, label disagreement in the join predicate.
    */
  val mineHardNeg = q("x_mine_hardneg",
    """WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
      |           FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
      |         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS c
      |  FROM q, embeddings e WHERE e.vec_id <> q.qid AND e.label IS DISTINCT FROM q.ql),
      |r AS (SELECT query_id, neighbor_id, c,
      |             row_number() OVER (PARTITION BY query_id ORDER BY round(c, 4) DESC, neighbor_id) AS rank
      |      FROM scored)
      |SELECT query_id, rank, neighbor_id, round(c, 4) AS cosine FROM r WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegativesTopK(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", "label", k = 5)
  }

  /** Tokenizer fertility dashboard — the fairness audit a multilingual
    * tokenizer ships with: per DETECTED language, document/word/byte
    * volume, REAL subword token counts under the persisted learned
    * vocab under BOTH inference rules — greedy WordPiece segmentation
    * (the x_text_wordpiece_count machinery, the serving shape) and
    * Viterbi unigram-ML (the x_text_unigram_count machinery, the
    * training segmentation) — and the ratios the audit reads —
    * tokens-per-word (fertility, one per rule) and bytes-per-token —
    * as exact integer divisions on the ×10⁶ grid. A language the
    * tokenizer under-serves shows up as an outlying fertility row;
    * a gap between the greedy and ML fertility flags a vocab whose
    * serving segmentation diverges from its training one (r17 VERDICT
    * item 8).
    */
  val tokenizerFertility = q("x_tokenizer_fertility",
    """WITH RECURSIVE
      |vm AS (SELECT map(list(piece), list(lp)) AS mp
      |       FROM read_parquet('__GRAFT_UNI__/vocab/*.parquet')),
      |t AS (SELECT doc_id, text,
      |             list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') AS toks
      |      FROM documents),
      |ls AS (
      |  SELECT doc_id,
      |    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf'], x))) AS s_de,
      |    len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x))) AS s_en,
      |    len(list_filter(toks, x -> list_contains(['el','los','las','y','es','una','para','por','que'], x))) AS s_es,
      |    len(list_filter(toks, x -> list_contains(['le','la','les','et','est','une','pour','dans','que'], x))) AS s_fr
      |  FROM t),
      |lk AS (SELECT doc_id, greatest(s_de*4+3, s_en*4+2, s_es*4+1, s_fr*4+0) AS key FROM ls),
      |lang AS (SELECT doc_id,
      |                CASE WHEN key // 4 < 1 THEN 'und'
      |                     ELSE CASE key % 4 WHEN 3 THEN 'de' WHEN 2 THEN 'en'
      |                                       WHEN 1 THEN 'es' ELSE 'fr' END END AS lang_pred
      |         FROM lk),
      |dw AS (SELECT doc_id, unnest(toks) AS w FROM t),
      |uw AS (SELECT DISTINCT w FROM dw),
      |gp AS (
      |  SELECT w, 0 AS pos, 0 AS n FROM uw
      |  UNION ALL
      |  SELECT w, pos + l, n + 1 FROM (
      |    SELECT w, pos, n,
      |           coalesce(list_max(list_filter(
      |             generate_series(1, least(4, length(w) - pos)),
      |             l -> map_extract(vm.mp, substr(w, pos + 1, l))[1] IS NOT NULL)),
      |             1) AS l
      |    FROM gp, vm WHERE pos < length(w))),
      |done AS (SELECT w, n FROM gp WHERE pos = length(w)),
      |dpv AS (
      |  SELECT w, 0 AS pos, [CAST(0.0 AS DOUBLE)] AS sc, [0] AS nt FROM uw
      |  UNION ALL
      |  SELECT w, pos + 1,
      |         list_append(sc, CASE WHEN m IS NULL THEN sc[pos + 1] + (-100.0) ELSE m END),
      |         list_append(nt, CASE WHEN m IS NULL THEN nt[pos + 1] + 1 ELSE nt[bj] + 1 END)
      |  FROM (
      |    SELECT w, pos, sc, nt,
      |           list_max(list_transform(cands, c -> c.s)) AS m,
      |           list_min(list_transform(
      |             list_filter(cands, c -> c.s = list_max(list_transform(cands, c -> c.s))),
      |             c -> c.j)) AS bj
      |    FROM (
      |      SELECT w, pos, sc, nt,
      |             list_filter(list_transform(generate_series(1, pos + 1), j ->
      |                 {'s': sc[j] + map_extract(vm.mp, substr(w, j, pos + 2 - j))[1],
      |                  'j': j}),
      |               c -> c.s IS NOT NULL) AS cands
      |      FROM dpv, vm WHERE pos < length(w)))),
      |donev AS (SELECT w, nt[length(w) + 1] AS n FROM dpv WHERE pos = length(w)),
      |wp AS (SELECT doc_id, sum(n) AS n_wp FROM dw JOIN done USING (w) GROUP BY doc_id),
      |wv AS (SELECT doc_id, sum(n) AS n_uv FROM dw JOIN donev USING (w) GROUP BY doc_id),
      |per AS (SELECT lang.lang_pred, len(t.toks) AS words,
      |               octet_length(encode(t.text)) AS bytes,
      |               coalesce(wp.n_wp, 0) AS toks,
      |               coalesce(wv.n_uv, 0) AS toks_ml
      |        FROM t JOIN lang USING (doc_id) LEFT JOIN wp USING (doc_id)
      |                 LEFT JOIN wv USING (doc_id)),
      |g AS (SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
      |             CAST(sum(words) AS BIGINT) AS n_words,
      |             CAST(sum(toks) AS BIGINT) AS n_tokens,
      |             CAST(sum(toks_ml) AS BIGINT) AS n_tokens_ml,
      |             CAST(sum(bytes) AS BIGINT) AS n_bytes
      |      FROM per GROUP BY 1)
      |SELECT lang_pred, n_docs, n_words, n_tokens, n_tokens_ml, n_bytes,
      |       CASE WHEN n_words > 0 THEN CAST((n_tokens * 1000000) // n_words AS BIGINT) END AS fertility_q,
      |       CASE WHEN n_words > 0 THEN CAST((n_tokens_ml * 1000000) // n_words AS BIGINT) END AS fertility_ml_q,
      |       CASE WHEN n_tokens > 0 THEN CAST((n_bytes * 1000000) // n_tokens AS BIGINT) END AS bytes_per_token_q
      |FROM g""".stripMargin) { (s, dir) =>
    val uni = stageUnigramModel(s, dir)
    val model = graft.ext.Unigram.load(s, s"$uni/vocab")
    TextAnalysis.withLangId(Tables.documents(s, dir), "doc_id", "text",
        "lang_pred")
      .select(col("lang_pred"),
        coalesce(size(TextAnalysis.tokens(col("text"))), lit(0))
          .cast("long").as("__w"),
        graft.ext.Unigram.greedyTokenCount(col("text"), model)
          .cast("long").as("__t"),
        graft.ext.Unigram.tokenCount(col("text"), model)
          .cast("long").as("__tv"),
        octet_length(col("text")).cast("long").as("__b"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("n_words"),
        sum(col("__t")).as("n_tokens"), sum(col("__tv")).as("n_tokens_ml"),
        sum(col("__b")).as("n_bytes"))
      .selectExpr("lang_pred", "n_docs", "n_words", "n_tokens",
        "n_tokens_ml", "n_bytes",
        "CASE WHEN n_words > 0 THEN CAST((n_tokens * 1000000) div n_words AS LONG) END AS fertility_q",
        "CASE WHEN n_words > 0 THEN CAST((n_tokens_ml * 1000000) div n_words AS LONG) END AS fertility_ml_q",
        "CASE WHEN n_tokens > 0 THEN CAST((n_bytes * 1000000) div n_tokens AS LONG) END AS bytes_per_token_q")
  }

  /** Per-source perplexity-percentile pruning (the CCNet head/middle
    * cut): each source keeps its 75% lowest-perplexity docs under the
    * corpus-trained bigram LM — quantile cut by exact rank on the ×10⁴
    * integer perplexity grid, so membership hash-matches.
    */
  val pplPrune = q("x_ppl_prune",
    """WITH d AS (SELECT doc_id, source, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') AS t
      |           FROM documents),
      |bg AS (SELECT doc_id, t[i] AS prev, t[i + 1] AS w
      |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM d WHERE len(t) >= 2)),
      |c2 AS (SELECT prev, w, CAST(count(*) AS DOUBLE) AS c2 FROM bg GROUP BY 1, 2),
      |cp AS (SELECT prev, CAST(count(*) AS DOUBLE) AS cp FROM bg GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT te) AS DOUBLE) AS v
      |      FROM (SELECT unnest(t) AS te FROM d)),
      |sc AS (SELECT b.doc_id,
      |              exp(-avg(ln((coalesce(c2.c2, 0) + 1.0) / (coalesce(cp.cp, 0) + v.v)))) AS ppl
      |       FROM bg b LEFT JOIN c2 ON b.prev = c2.prev AND b.w = c2.w
      |       LEFT JOIN cp ON b.prev = cp.prev CROSS JOIN v
      |       GROUP BY 1),
      |pq AS (SELECT d.doc_id, d.source,
      |              CAST(round(sc.ppl * 10000, 0) AS BIGINT) AS ppl_q
      |       FROM d LEFT JOIN sc USING (doc_id)),
      |r AS (SELECT *,
      |             row_number() OVER (PARTITION BY source ORDER BY ppl_q ASC NULLS LAST, doc_id) AS rk,
      |             count(*) OVER (PARTITION BY source) AS n
      |      FROM pq)
      |SELECT doc_id, source, ppl_q,
      |       rk <= CAST(floor(0.75 * n) AS BIGINT) AS kept
      |FROM r""".stripMargin) { (s, dir) =>
    TextAnalysis.perplexityPrune(Tables.documents(s, dir),
      "doc_id", "text", "source", keepFraction = 0.75)
  }

  /** The LSH banding planner at the dedup family's own geometry (64
    * hashes, 0.5 operating threshold): per factorization the S-curve's
    * quantized false-positive / false-negative masses and the chosen
    * minimum-error banding — the design-time justification for the
    * 16×4 production setting, hash-matched against the closed form.
    */
  val dedupLshPlan = q("x_dedup_lsh_plan",
    """WITH cand AS (SELECT b AS bands, 64 // b AS rows_per_band
      |              FROM (SELECT unnest([1, 2, 4, 8, 16, 32, 64]) AS b)),
      |grid AS (SELECT CAST(i AS DOUBLE) / 20 AS s, i * 50000 AS sq
      |         FROM (SELECT unnest(generate_series(1, 19)) AS i)),
      |p AS (SELECT bands, rows_per_band, sq,
      |             CAST(round((1 - power(1 - power(s, rows_per_band), bands)) * 1000000, 0) AS BIGINT) AS pq
      |      FROM cand, grid),
      |m AS (SELECT bands, rows_per_band,
      |             CAST(sum(CASE WHEN sq < 500000 THEN pq ELSE 0 END) AS BIGINT) AS fp_q,
      |             CAST(sum(CASE WHEN sq >= 500000 THEN 1000000 - pq ELSE 0 END) AS BIGINT) AS fn_q
      |      FROM p GROUP BY 1, 2)
      |SELECT bands, rows_per_band, fp_q, fn_q, fp_q + fn_q AS err_q,
      |       (row_number() OVER (ORDER BY fp_q + fn_q, bands) = 1) AS chosen
      |FROM m""".stripMargin) { (s, _) =>
    graft.ext.Dedup.lshPlan(s, numHashes = 64,
      jaccardThresholdQ = 500000L, gridSteps = 20)
  }

  /** Margin-based parallel-pair mining (the Artetxe & Schwenk ratio
    * margin, the LASER/CCMatrix bitext recipe): forward/backward kNN
    * over the two sides, each pair's cosine normalized by its
    * neighborhoods' mean, mutual margin-argmax mined. Fully integer
    * (4dp cosine grid, exact sums, one integer division) so the mined
    * set AND the margins hash-match the replay.
    */
  val mineBitext = q("x_mine_bitext",
    """WITH xs AS (SELECT vec_id AS xid, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
      |            FROM embeddings WHERE vec_id % 2 = 0),
      |ys AS (SELECT vec_id AS yid, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
      |       FROM embeddings WHERE vec_id % 2 = 1),
      |cs AS MATERIALIZED (
      |  SELECT xid, yid, round(list_cosine_similarity(xs.v, ys.v), 4) AS c4
      |  FROM xs, ys),
      |fk AS MATERIALIZED (
      |  SELECT xid, yid, CAST(round(c4 * 10000, 0) AS BIGINT) AS cq
      |  FROM (SELECT *, row_number() OVER (PARTITION BY xid ORDER BY c4 DESC, yid) AS rk FROM cs)
      |  WHERE rk <= 4),
      |bk AS MATERIALIZED (
      |  SELECT xid, yid, CAST(round(c4 * 10000, 0) AS BIGINT) AS cq
      |  FROM (SELECT *, row_number() OVER (PARTITION BY yid ORDER BY c4 DESC, xid) AS rk FROM cs)
      |  WHERE rk <= 4),
      |fa AS (SELECT xid, sum(cq) AS axq, count(*) AS axn FROM fk GROUP BY 1),
      |ba AS (SELECT yid, sum(cq) AS ayq, count(*) AS ayn FROM bk GROUP BY 1),
      |fm AS (SELECT fk.xid, fk.yid,
      |              CAST((cq * 2 * axn * ayn * 1000000) // (axq * ayn + ayq * axn) AS BIGINT) AS margin_q
      |       FROM fk JOIN fa USING (xid) JOIN ba USING (yid)
      |       WHERE cq > 0 AND axq * ayn + ayq * axn > 0),
      |bm AS (SELECT bk.xid, bk.yid,
      |              CAST((cq * 2 * axn * ayn * 1000000) // (axq * ayn + ayq * axn) AS BIGINT) AS margin_q
      |       FROM bk JOIN fa USING (xid) JOIN ba USING (yid)
      |       WHERE cq > 0 AND axq * ayn + ayq * axn > 0),
      |fb AS (SELECT xid, yid, margin_q
      |       FROM (SELECT *, row_number() OVER (PARTITION BY xid ORDER BY margin_q DESC, yid) AS r FROM fm)
      |       WHERE r = 1),
      |bb AS (SELECT xid, yid
      |       FROM (SELECT *, row_number() OVER (PARTITION BY yid ORDER BY margin_q DESC, xid) AS r FROM bm)
      |       WHERE r = 1)
      |SELECT fb.xid AS x_id, fb.yid AS y_id, fb.margin_q
      |FROM fb JOIN bb USING (xid, yid)
      |WHERE fb.margin_q >= 1000000""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    graft.ext.Mining.mineParallelPairs(
      emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", k = 4, marginThresholdQ = 1000000L)
  }

  /** The PRUNED-PROBE mining path under hash ([[Mining.mineParallelPairsIvf]],
    * r17 VERDICT item 4): each kNN leg is the other side's persisted
    * IVF index served at nprobe 3 of nlist 8 — partition pruning bounds
    * the scanned corpus share — and the margin/mutual epilogue runs the
    * same exact-integer arithmetic as x_mine_bitext. The oracle replays
    * the WHOLE production path from the stored tables (the x_knn_ivf
    * technique): probe selection against each side's stored coarse
    * centroids, the pruned cluster scan, 4dp top-k, then margins — a
    * drifted probe choice, a cluster that escaped pruning, or one
    * misrounded margin breaks the hash.
    */
  val mineBitextIvf = q("x_mine_bitext_ivf", {
    def cos(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))" +
        s" / (sqrt(list_sum(list_transform($a, x -> x*x)))" +
        s" * sqrt(list_sum(list_transform($b, x -> x*x))))"
    s"""WITH xq AS (SELECT vec_id AS qid, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
       |            FROM embeddings WHERE vec_id % 2 = 0),
       |yq AS (SELECT vec_id AS qid, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
       |       FROM embeddings WHERE vec_id % 2 = 1),
       |xc AS (SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivf_bx/coarse/*.parquet')),
       |yc AS (SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivf_by/coarse/*.parquet')),
       |xv AS (SELECT __id AS nid, CAST(__cluster AS INTEGER) AS cl,
       |              list_transform(__vec, x -> CAST(x AS DOUBLE)) AS w
       |       FROM read_parquet('__GRAFT_ANNIDX__/ivf_bx/vectors/*/*.parquet', hive_partitioning=1)),
       |yv AS (SELECT __id AS nid, CAST(__cluster AS INTEGER) AS cl,
       |              list_transform(__vec, x -> CAST(x AS DOUBLE)) AS w
       |       FROM read_parquet('__GRAFT_ANNIDX__/ivf_by/vectors/*/*.parquet', hive_partitioning=1)),
       |fp AS (SELECT qid, __cid FROM (
       |         SELECT qid, __cid,
       |                row_number() OVER (PARTITION BY qid ORDER BY ${cos("v", "centroid")} DESC, __cid) AS pr
       |         FROM xq, yc) WHERE pr <= 3),
       |bp AS (SELECT qid, __cid FROM (
       |         SELECT qid, __cid,
       |                row_number() OVER (PARTITION BY qid ORDER BY ${cos("v", "centroid")} DESC, __cid) AS pr
       |         FROM yq, xc) WHERE pr <= 3),
       |fk AS MATERIALIZED (
       |  SELECT qid AS xid, nid AS yid, CAST(round(s * 10000, 0) AS BIGINT) AS cq FROM (
       |    SELECT p.qid, v.nid, round(${cos("q.v", "v.w")}, 4) AS s,
       |           row_number() OVER (PARTITION BY p.qid ORDER BY round(${cos("q.v", "v.w")}, 4) DESC, v.nid) AS rk
       |    FROM fp p JOIN yv v ON v.cl = p.__cid JOIN xq q ON q.qid = p.qid)
       |  WHERE rk <= 4),
       |bk AS MATERIALIZED (
       |  SELECT qid AS yid, nid AS xid, CAST(round(s * 10000, 0) AS BIGINT) AS cq FROM (
       |    SELECT p.qid, v.nid, round(${cos("q.v", "v.w")}, 4) AS s,
       |           row_number() OVER (PARTITION BY p.qid ORDER BY round(${cos("q.v", "v.w")}, 4) DESC, v.nid) AS rk
       |    FROM bp p JOIN xv v ON v.cl = p.__cid JOIN yq q ON q.qid = p.qid)
       |  WHERE rk <= 4),
       |fa AS (SELECT xid, sum(cq) AS axq, count(*) AS axn FROM fk GROUP BY 1),
       |ba AS (SELECT yid, sum(cq) AS ayq, count(*) AS ayn FROM bk GROUP BY 1),
       |fm AS (SELECT fk.xid, fk.yid,
       |              CAST((cq * 2 * axn * ayn * 1000000) // (axq * ayn + ayq * axn) AS BIGINT) AS margin_q
       |       FROM fk JOIN fa USING (xid) JOIN ba USING (yid)
       |       WHERE cq > 0 AND axq * ayn + ayq * axn > 0),
       |bm AS (SELECT bk.xid, bk.yid,
       |              CAST((cq * 2 * axn * ayn * 1000000) // (axq * ayn + ayq * axn) AS BIGINT) AS margin_q
       |       FROM bk JOIN fa USING (xid) JOIN ba USING (yid)
       |       WHERE cq > 0 AND axq * ayn + ayq * axn > 0),
       |fb AS (SELECT xid, yid, margin_q
       |       FROM (SELECT *, row_number() OVER (PARTITION BY xid ORDER BY margin_q DESC, yid) AS r FROM fm)
       |       WHERE r = 1),
       |bb AS (SELECT xid, yid
       |       FROM (SELECT *, row_number() OVER (PARTITION BY yid ORDER BY margin_q DESC, xid) AS r FROM bm)
       |       WHERE r = 1)
       |SELECT fb.xid AS x_id, fb.yid AS y_id, fb.margin_q
       |FROM fb JOIN bb USING (xid, yid)
       |WHERE fb.margin_q >= 1000000""".stripMargin
  }) { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb = Tables.embeddings(s, dir)
    graft.ext.Mining.mineParallelPairsIvf(s, s"$idx/ivf_bx", s"$idx/ivf_by",
      emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", k = 4, nprobe = 3,
      marginThresholdQ = 1000000L)
  }

  /** Corpus-trained bigram-LM perplexity per document (CCNet-style
    * perplexity filtering, one rung above x_text_surprisal's unigram
    * form): add-1 smoothed P(w|prev), ppl = exp(−mean ln P). Counting
    * passes to train, one join to score — fully hash-matched.
    */
  val textBigramPpl = q("x_text_bigram_ppl",
    """WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') AS t
      |           FROM documents),
      |bg AS (SELECT doc_id, t[i] AS prev, t[i + 1] AS w
      |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM d WHERE len(t) >= 2)),
      |c2 AS (SELECT prev, w, CAST(count(*) AS DOUBLE) AS c2 FROM bg GROUP BY 1, 2),
      |cp AS (SELECT prev, CAST(count(*) AS DOUBLE) AS cp FROM bg GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT te) AS DOUBLE) AS v
      |      FROM (SELECT unnest(t) AS te FROM d)),
      |sc AS (SELECT b.doc_id, count(*) AS n_bigrams,
      |              exp(-avg(ln((coalesce(c2.c2, 0) + 1.0) / (coalesce(cp.cp, 0) + v.v)))) AS ppl
      |       FROM bg b LEFT JOIN c2 ON b.prev = c2.prev AND b.w = c2.w
      |       LEFT JOIN cp ON b.prev = cp.prev CROSS JOIN v
      |       GROUP BY 1)
      |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams, round(sc.ppl, 4) AS ppl
      |FROM d LEFT JOIN sc USING (doc_id)""".stripMargin) { (s, dir) =>
    TextAnalysis.bigramPerplexity(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_bigrams"), round(col("ppl"), 4).as("ppl"))
  }

  /** SCD2 dimension history from the events log: per-user validity
    * intervals of the consecutive `event_type` runs — lag/running-sum
    * run detection, half-open `[valid_from, valid_to)` tiling, current
    * row flagged. Pure window/aggregate SQL, so the replay is exact.
    */
  val scd2Intervals = q("x_scd2",
    """WITH o AS (SELECT user_id, ts, event_id, event_type,
      |                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |           FROM events),
      |f AS (SELECT *, CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS chg
      |      FROM o),
      |g AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                               ROWS UNBOUNDED PRECEDING) AS run FROM f),
      |runs AS (SELECT user_id, run, min(event_type) AS event_type,
      |                min(ts) AS valid_from, count(*) AS n_rows
      |         FROM g GROUP BY 1, 2)
      |SELECT user_id, event_type, valid_from,
      |       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to,
      |       n_rows,
      |       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) IS NULL AS is_current
      |FROM runs""".stripMargin) { (s, dir) =>
    graft.ext.Scd2.intervals(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("event_type")),
      "user_id", "ts", "event_id", "event_type")
  }

  /** Late-interaction (MaxSim) multi-vector retrieval (r13 VERDICT #3):
    * query docs score as Σ_{query token} max_{doc token} cosine over the
    * PERSISTED cluster-partitioned token-vector index — stage 1 pulls
    * per-query-token candidates through the same nprobe partition
    * pruning every IVF layout uses, stage 2 re-scores candidate docs
    * exactly over their full token bags. The oracle replays the ENTIRE
    * served path in SQL against the stored tables (probe selection,
    * rounded stage-1 ranking, the candidate pair set, exact per-token
    * max, the summed score, final ranking) — deterministic given the
    * stored vectors, so a probe bug, wrong candidate depth, or a
    * corpus-wide scoring shortcut all break the hash. No corpus-wide
    * cross join anywhere (plan-asserted).
    */
  val knnMaxSim = q("x_knn_maxsim",
    """WITH dt AS (
      |  SELECT __id, __id // 64 AS doc, CAST(__cluster AS INT) AS cl,
      |         list_transform(__vec, x -> CAST(x AS DOUBLE)) AS v
      |  FROM read_parquet('__GRAFT_ANNIDX__/maxsim/vectors/*/*.parquet', hive_partitioning=1)),
      |qt AS (
      |  SELECT __qtok, qdoc, list_transform(__vec, x -> CAST(x AS DOUBLE)) AS v
      |  FROM read_parquet('__GRAFT_ANNIDX__/maxsim_q/*.parquet')),
      |cent AS (
      |  SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/maxsim/coarse/*.parquet')),
      |probe AS (
      |  SELECT __qtok, __cid,
      |         row_number() OVER (PARTITION BY __qtok ORDER BY
      |           list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * centroid[i]))
      |             / (sqrt(list_sum(list_transform(v, x -> x*x)))
      |                * sqrt(list_sum(list_transform(centroid, x -> x*x)))) DESC,
      |           __cid) AS pr
      |  FROM qt, cent),
      |cand AS (
      |  SELECT q.__qtok, q.qdoc, d.doc,
      |         row_number() OVER (PARTITION BY q.__qtok ORDER BY
      |           round(list_cosine_similarity(q.v, d.v), 4) DESC, d.__id) AS rn
      |  FROM (SELECT __qtok, __cid FROM probe WHERE pr <= 3) p
      |  JOIN qt q ON q.__qtok = p.__qtok
      |  JOIN dt d ON d.cl = p.__cid
      |  WHERE d.__id <> q.__qtok),
      |pairs AS (SELECT DISTINCT qdoc, doc FROM cand WHERE rn <= 8 AND doc <> qdoc),
      |ref AS (
      |  SELECT p.qdoc, p.doc, q.__qtok, max(list_cosine_similarity(q.v, d.v)) AS mx
      |  FROM pairs p JOIN qt q ON q.qdoc = p.qdoc JOIN dt d ON d.doc = p.doc
      |  GROUP BY 1, 2, 3),
      |sc AS (SELECT qdoc AS query_id, doc, sum(mx) AS m FROM ref GROUP BY 1, 2),
      |r AS (SELECT query_id, doc AS doc_id, m,
      |             row_number() OVER (PARTITION BY query_id ORDER BY round(m, 4) DESC, doc) AS rank
      |      FROM sc)
      |SELECT query_id, rank, doc_id, round(m, 4) AS maxsim FROM r WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val qt = graft.util.TinyParquet.openStore(s, s"$idx/maxsim_q")
    graft.ext.MaxSim.maxSimTopK(s, s"$idx/maxsim", qt,
      "qdoc", "__qtok", "__vec", k = 5, nprobe = 3, candPerToken = 8, cap = 64)
  }

  /** FILTERED MaxSim — the metadata-predicate leg of the late-
    * interaction layout (the `x_knn_*_filtered` family member): only
    * even-id documents are searchable, with the predicate evaluated at
    * the stage-1 PRUNED scan (excluded docs never consume candidate
    * slots) and the stage-2 bag scan. Oracle = the maxsim replay with
    * the predicate on the stored token table — a post-filter
    * implementation (filter after retrieval) would starve candidate
    * depth and break the hash.
    */
  val knnMaxSimFiltered = q("x_knn_maxsim_filtered",
    """WITH dt AS (
      |  SELECT __id, __id // 64 AS doc, CAST(__cluster AS INT) AS cl,
      |         list_transform(__vec, x -> CAST(x AS DOUBLE)) AS v
      |  FROM read_parquet('__GRAFT_ANNIDX__/maxsim/vectors/*/*.parquet', hive_partitioning=1)
      |  WHERE (__id // 64) % 2 = 0),
      |qt AS (
      |  SELECT __qtok, qdoc, list_transform(__vec, x -> CAST(x AS DOUBLE)) AS v
      |  FROM read_parquet('__GRAFT_ANNIDX__/maxsim_q/*.parquet')),
      |cent AS (
      |  SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/maxsim/coarse/*.parquet')),
      |probe AS (
      |  SELECT __qtok, __cid,
      |         row_number() OVER (PARTITION BY __qtok ORDER BY
      |           list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * centroid[i]))
      |             / (sqrt(list_sum(list_transform(v, x -> x*x)))
      |                * sqrt(list_sum(list_transform(centroid, x -> x*x)))) DESC,
      |           __cid) AS pr
      |  FROM qt, cent),
      |cand AS (
      |  SELECT q.__qtok, q.qdoc, d.doc,
      |         row_number() OVER (PARTITION BY q.__qtok ORDER BY
      |           round(list_cosine_similarity(q.v, d.v), 4) DESC, d.__id) AS rn
      |  FROM (SELECT __qtok, __cid FROM probe WHERE pr <= 3) p
      |  JOIN qt q ON q.__qtok = p.__qtok
      |  JOIN dt d ON d.cl = p.__cid
      |  WHERE d.__id <> q.__qtok),
      |pairs AS (SELECT DISTINCT qdoc, doc FROM cand WHERE rn <= 8 AND doc <> qdoc),
      |ref AS (
      |  SELECT p.qdoc, p.doc, q.__qtok, max(list_cosine_similarity(q.v, d.v)) AS mx
      |  FROM pairs p JOIN qt q ON q.qdoc = p.qdoc JOIN dt d ON d.doc = p.doc
      |  GROUP BY 1, 2, 3),
      |sc AS (SELECT qdoc AS query_id, doc, sum(mx) AS m FROM ref GROUP BY 1, 2),
      |r AS (SELECT query_id, doc AS doc_id, m,
      |             row_number() OVER (PARTITION BY query_id ORDER BY round(m, 4) DESC, doc) AS rank
      |      FROM sc)
      |SELECT query_id, rank, doc_id, round(m, 4) AS maxsim FROM r WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val qt = graft.util.TinyParquet.openStore(s, s"$idx/maxsim_q")
    graft.ext.MaxSim.maxSimTopK(s, s"$idx/maxsim", qt,
      "qdoc", "__qtok", "__vec", k = 5, nprobe = 3, candPerToken = 8, cap = 64,
      docWhere = d => d % 2 === 0)
  }

  /** Store-health dashboard across the NON-ANN store families — the
    * maintenance number a store fleet tracks per day, extended beyond
    * the vector layouts (x_index_health) to the inverted/positional
    * text indexes and the streaming dedup signature store: physical
    * rows, live rows under each family's tombstone semantics
    * ((__id, __seq) max-tombstone liveness for the text layouts, the
    * id-tombstone log for the dedup store), and the debt each
    * compaction policy prices. All-integer numerators, replayed from
    * the stored tables: the full-build index reports zero debt, the
    * maintenance fixture reports its delete/update history, the
    * takedown-tombstoned positional index and signature store report
    * the cascade's forget — four different tombstone disciplines under
    * one dashboard row shape.
    */
  val storeHealth = q("x_store_health",
    """WITH d_im AS (SELECT __id, max(__seq) AS tseq
      |             FROM read_parquet('__GRAFT_TEXTIDX__/inv_maint/tombstones/*.parquet') GROUP BY 1),
      |m_im AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |         CAST(count(CASE WHEN d.tseq IS NULL OR coalesce(l.__seq, 0) > d.tseq THEN 1 END) AS BIGINT) AS live
      |  FROM read_parquet('__GRAFT_TEXTIDX__/inv_maint/lens/*.parquet') l
      |  LEFT JOIN d_im d ON l.__id = d.__id),
      |d_tp AS (SELECT __id, max(__seq) AS tseq
      |         FROM read_parquet('__GRAFT_CASCADE__/text_pos/tombstones/*.parquet') GROUP BY 1),
      |m_tp AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |         CAST(count(CASE WHEN d.tseq IS NULL OR coalesce(p.__seq, 0) > d.tseq THEN 1 END) AS BIGINT) AS live
      |  FROM read_parquet('__GRAFT_CASCADE__/text_pos/positions/*/*.parquet', hive_partitioning=1) p
      |  LEFT JOIN d_tp d ON p.__id = d.__id),
      |d_ds AS (SELECT DISTINCT __id
      |         FROM read_parquet('__GRAFT_CASCADE__/dedup_store/id_tombstones/*.parquet')),
      |m_ds AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |         CAST(count(CASE WHEN d.__id IS NULL THEN 1 END) AS BIGINT) AS live
      |  FROM read_parquet('__GRAFT_CASCADE__/dedup_store/sigs/*/*.parquet', hive_partitioning=1) s
      |  LEFT JOIN d_ds d ON s.__id = d.__id)
      |SELECT 'inv' AS layout, CAST(count(*) AS BIGINT) AS total_rows,
      |       CAST(count(*) AS BIGINT) AS live_rows, CAST(0 AS BIGINT) AS dead_rows,
      |       0.0 AS tombstone_debt
      |FROM read_parquet('__GRAFT_TEXTIDX__/inv/lens/*.parquet')
      |UNION ALL
      |SELECT 'inv_maint', total, live, total - live,
      |       CASE WHEN total = 0 THEN 0.0 ELSE CAST(total - live AS DOUBLE) / total END
      |FROM m_im
      |UNION ALL
      |SELECT 'pos_takedown', total, live, total - live,
      |       CASE WHEN total = 0 THEN 0.0 ELSE CAST(total - live AS DOUBLE) / total END
      |FROM m_tp
      |UNION ALL
      |SELECT 'dedup_sigs', total, live, total - live,
      |       CASE WHEN total = 0 THEN 0.0 ELSE CAST(total - live AS DOUBLE) / total END
      |FROM m_ds""".stripMargin) { (s, dir) =>
    val ti = stageTextIndex(s, dir)
    val cf = stageCascadeFixtures(s, dir)
    graft.ext.TextIndex.healthReport(s, Seq(
        "inv" -> s"$ti/inv", "inv_maint" -> s"$ti/inv_maint",
        "pos_takedown" -> s"$cf/text_pos"))
      .unionByName(graft.streaming.DocStreams.dedupStoreHealth(s,
        "dedup_sigs", s"$cf/dedup_store"))
  }

  /** The retrieval-eval oracle: replay both ranked systems from the
    * stored tables (the x_knn_brute / x_knn_ivf ranking SQL at k = 10,
    * nprobe = 1), derive qrels from the embeddings labels, and replay
    * the metric epilogue with the SAME double literals the Spark plan
    * uses ([[graft.ext.Eval.metricSqlFragments]]).
    */
  private def retrievalEvalSql(): String = {
    val k = 10
    val (dcg, idcg) = graft.ext.Eval.metricSqlFragments(k)
    val mCols = (1 to k).map(r =>
      s"max(CASE WHEN rank = $r THEN rel ELSE 0 END) AS m$r").mkString(",\n         ")
    s"""WITH qrels AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS doc_id
       |  FROM embeddings a, embeddings b
       |  WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id AND b.label = a.label),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
       |bscored AS (
       |  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
       |         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS c
       |  FROM q, embeddings e WHERE e.vec_id <> q.qid),
       |brute AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id ORDER BY round(c, 4) DESC, neighbor_id) AS rank
       |  FROM bscored),
       |qv AS (SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |       FROM embeddings WHERE vec_id < 10),
       |cent AS (SELECT __cid, centroid FROM read_parquet('__GRAFT_ANNIDX__/ivf/coarse/*.parquet')),
       |probe AS (
       |  SELECT qid, __cid,
       |         row_number() OVER (PARTITION BY qid ORDER BY
       |           list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * centroid[i]))
       |             / (sqrt(list_sum(list_transform(v, x -> x*x)))
       |                * sqrt(list_sum(list_transform(centroid, x -> x*x)))) DESC,
       |           __cid) AS pr
       |  FROM qv, cent),
       |vecs AS (
       |  SELECT __id AS nid, CAST(__cluster AS INTEGER) AS cl,
       |         list_transform(__vec, x -> CAST(x AS DOUBLE)) AS w
       |  FROM read_parquet('__GRAFT_ANNIDX__/ivf/vectors/*/*.parquet', hive_partitioning=1)),
       |iscored AS (
       |  SELECT p.qid, vecs.nid,
       |         round(list_sum(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * vecs.w[i]))
       |           / (sqrt(list_sum(list_transform(q.v, x -> x*x)))
       |              * sqrt(list_sum(list_transform(vecs.w, x -> x*x)))), 4) AS s
       |  FROM (SELECT qid, __cid FROM probe WHERE pr <= 1) p
       |  JOIN vecs ON vecs.cl = p.__cid
       |  JOIN qv q ON q.qid = p.qid
       |  WHERE p.qid <> vecs.nid),
       |ivf AS (
       |  SELECT qid AS query_id, nid AS neighbor_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
       |  FROM iscored),
       |lists AS (
       |  SELECT 'brute' AS system, query_id, rank, neighbor_id FROM brute WHERE rank <= $k
       |  UNION ALL
       |  SELECT 'ivf', query_id, rank, neighbor_id FROM ivf WHERE rank <= $k),
       |flags AS (
       |  SELECT l.system, l.query_id, l.rank,
       |         CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
       |  FROM lists l LEFT JOIN qrels r
       |    ON r.query_id = l.query_id AND r.doc_id = l.neighbor_id),
       |per AS (
       |  SELECT system, query_id,
       |         CAST(sum(rel) AS BIGINT) AS hits,
       |         min(CASE WHEN rel = 1 THEN rank END) AS fh,
       |         $mCols
       |  FROM flags GROUP BY 1, 2),
       |j AS (SELECT p.*, coalesce(r.rels, 0) AS rels
       |      FROM per p LEFT JOIN (SELECT query_id, CAST(count(*) AS BIGINT) AS rels
       |                            FROM qrels GROUP BY 1) r USING (query_id))
       |SELECT system, query_id, hits, rels,
       |       CAST(coalesce(fh, 0) AS BIGINT) AS first_hit,
       |       CAST(floor(CAST(hits AS DOUBLE)/10.0*1000000.0) AS BIGINT) AS prec_q,
       |       CAST(floor((CASE WHEN fh IS NULL THEN 0.0 ELSE 1.0/fh END)*1000000.0) AS BIGINT) AS mrr_q,
       |       CAST(floor((CASE WHEN rels = 0 THEN 0.0
       |                        ELSE ($dcg)/($idcg) END)*1000000.0) AS BIGINT) AS ndcg_q
       |FROM j""".stripMargin
  }

  /** Retrieval-quality eval harness ([[graft.ext.Eval.rankedEval]]):
    * label-derived qrels grade the exact brute-force ranking (the
    * ceiling) and the deliberately lossy nprobe=1 IVF ranking side by
    * side — precision@10, MRR, NDCG@10 per (system, query), every
    * metric a fixed-point BIGINT. Integer per-rank flags keep the
    * aggregation order-free; the NDCG discount/ideal tables are driver
    * literals shared verbatim with the oracle, so the hash pins the
    * whole grading pipeline, not just the rankings.
    */
  val retrievalEval = q("x_retrieval_eval", retrievalEvalSql()) { (s, dir) =>
    val idx = stageAnnIndexes(s, dir)
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val qrels = queries.select(col("vec_id").as("query_id"), col("label").as("__ql"))
      .join(emb.select(col("vec_id").as("doc_id"), col("label")),
        col("label") === col("__ql") && col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"))
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .select(lit("brute").as("system"), col("query_id"), col("rank"),
        col("neighbor_id"))
    val ivf = AnnIndex.ivfTopK(s, AnnIndex.readIvf(s, s"$idx/ivf"),
        queries, "vec_id", "embedding", 10, nprobe = 1)
      .select(lit("ivf").as("system"), col("query_id"), col("rank"),
        col("neighbor_id"))
    graft.ext.Eval.rankedEval(brute.unionByName(ivf), qrels, 10)
  }

  /** Input prep (idempotent): a parquet table built ENTIRELY by the
    * streaming manifest-maintenance run — four doc-id-quartile batches
    * arrive on a spool, each lands in its own `ingest_batch` directory
    * and folds into the per-file min/max + key-fingerprint manifest
    * incrementally ([[graft.streaming.DocStreams.runManifestAppendOnce]]).
    * Quartile batches make the per-file doc_id spans tight, so the
    * gate's range predicate genuinely prunes.
    */
  def stageStreamManifest(s: SparkSession, dir: String): String =
    Staging.once("streammanifest", dir) { tmp =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .localCheckpoint(eager = true)
      val n = docs.count()
      val qsize = math.max(1L, (n + 3) / 4)
      val spool = s"$tmp/spool"
      new java.io.File(spool).mkdirs()
      (0 until 4).foreach { i =>
        stageSpoolFile(docs.filter(col("doc_id") >= i * qsize &&
          col("doc_id") < (i + 1) * qsize), spool, i)
      }
      graft.streaming.DocStreams.runManifestAppendOnce(s, spool, s"$tmp/table",
        s"$tmp/ckpt", "doc_id long, lang string, n_chars long",
        statsCols = Seq("doc_id"), keyCols = Seq("doc_id"))
    }

  /** Streaming manifest maintenance — the data-skipping layer kept
    * CURRENT while the table grows: the staged table exists only through
    * streamed micro-batch appends, each folding its new files into the
    * manifest incrementally, and the gate answers a selective doc-id
    * range through [[graft.ext.Layout.manifestPrunedRead]] against the
    * oracle's FULL-scan replay over the source documents table. A
    * manifest that went stale (missed files → wrong pruning) loses rows
    * and hash-fails; StreamManifestSpec asserts the skip itself
    * (files read < files total) and replay convergence of the
    * repair-then-fold discipline.
    */
  val streamManifest = q("x_stream_manifest",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents WHERE doc_id BETWEEN 100 AND 299
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    val t = s"${stageStreamManifest(s, dir)}/table"
    val (pruned, _, _) = graft.ext.Layout.manifestPrunedRead(s, t,
      col("max_doc_id") >= 100 && col("min_doc_id") <= 299)
    pruned.filter(col("doc_id").between(100, 299))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
  }

  /** Cross-store referential-consistency audit
    * ([[graft.ext.StoreMaintenance.fsck]]) — the check beside the health
    * dashboards: each store's LIVE id set against the corpus it should
    * mirror. Three scopes over the cascade fixture stores prove the
    * audit detects each drift direction: vs the SURVIVOR corpus
    * (post-takedown) all three stores are consistent — the cascade
    * reached every store; vs the FULL corpus the inverted index shows
    * `missing = |takedown set|` and zero orphans — staleness reads as
    * missing, exactly; vs a RETENTION slice (even ids only) the dedup
    * store shows its odd live ids as orphans — the compliance signal
    * that a retention pass did NOT propagate. The oracle replays every
    * live set from the persisted tables (lens/positions max-tombstone
    * liveness, sigs minus the id-tombstone log) and every base from the
    * documents table.
    */
  val storeFsck = q("x_store_fsck",
    """WITH corpus AS (
      |  SELECT doc_id FROM documents WHERE doc_id < 64
      |  UNION ALL
      |  SELECT doc_id + 100000 FROM documents WHERE doc_id < 64 AND doc_id % 10 = 0),
      |survivors AS (SELECT doc_id FROM corpus WHERE doc_id % 8 <> 2),
      |retention AS (SELECT doc_id FROM survivors WHERE doc_id % 2 = 0),
      |inv_t AS (SELECT __id, max(__seq) AS tseq
      |          FROM read_parquet('__GRAFT_CASCADE__/text_inv/tombstones/*.parquet') GROUP BY 1),
      |inv_live AS (
      |  SELECT DISTINCT l.__id FROM read_parquet('__GRAFT_CASCADE__/text_inv/lens/*.parquet') l
      |  LEFT JOIN inv_t d ON l.__id = d.__id
      |  WHERE d.tseq IS NULL OR coalesce(l.__seq, 0) > d.tseq),
      |pos_t AS (SELECT __id, max(__seq) AS tseq
      |          FROM read_parquet('__GRAFT_CASCADE__/text_pos/tombstones/*.parquet') GROUP BY 1),
      |pos_live AS (
      |  SELECT DISTINCT p.__id FROM read_parquet('__GRAFT_CASCADE__/text_pos/positions/*/*.parquet', hive_partitioning=1) p
      |  LEFT JOIN pos_t d ON p.__id = d.__id
      |  WHERE d.tseq IS NULL OR coalesce(p.__seq, 0) > d.tseq),
      |ded_live AS (
      |  SELECT DISTINCT __id FROM read_parquet('__GRAFT_CASCADE__/dedup_store/sigs/*/*.parquet', hive_partitioning=1) s
      |  WHERE NOT EXISTS (SELECT 1 FROM read_parquet('__GRAFT_CASCADE__/dedup_store/id_tombstones/*.parquet') t
      |                    WHERE t.__id = s.__id)),
      |ann_t AS (SELECT __id, max(__seq) AS tseq
      |          FROM read_parquet('__GRAFT_CASCADE__/ann_pq/tombstones/*.parquet') GROUP BY 1),
      |ann_live AS (
      |  SELECT DISTINCT c.__id FROM read_parquet('__GRAFT_CASCADE__/ann_pq/codes/*.parquet') c
      |  LEFT JOIN ann_t d ON c.__id = d.__id
      |  WHERE d.tseq IS NULL OR coalesce(c.__seq, 0) > d.tseq),
      |annbase AS (SELECT vec_id FROM embeddings WHERE vec_id < 64 AND vec_id % 8 <> 2),
      |shard_rows AS (
      |  SELECT shard_id, doc_id, seq_id, doc_from, doc_to, seq_off, order_key
      |  FROM read_parquet('__GRAFT_PRETRAIN__/shards/shard_id=*/*.parquet', hive_partitioning=1)),
      |shard_man AS (SELECT * FROM read_parquet('__GRAFT_PRETRAIN__/shards/_manifest/*.parquet')),
      |shard_rec AS (
      |  SELECT shard_id, count(*) AS n_rows,
      |         CAST(sum(CAST('0x' || substring(md5(
      |           CAST(doc_id AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR) || ':' ||
      |           CAST(doc_from AS VARCHAR) || ':' || CAST(doc_to AS VARCHAR) || ':' ||
      |           CAST(seq_off AS VARCHAR)), 1, 8) AS UBIGINT)) AS VARCHAR) AS checksum,
      |         min(order_key) AS min_key, max(order_key) AS max_key
      |  FROM shard_rows GROUP BY 1),
      |shard_torn AS (
      |  SELECT CAST(count(*) AS BIGINT) AS torn
      |  FROM shard_man m FULL JOIN shard_rec r USING (shard_id)
      |  WHERE NOT coalesce(m.n_rows = r.n_rows AND m.checksum = r.checksum
      |    AND m.min_key = r.min_key AND m.max_key = r.max_key, false)),
      |packed_docs AS (SELECT DISTINCT doc_id FROM read_parquet('__GRAFT_PRETRAIN__/packed/*.parquet')),
      |shard_docs AS (SELECT DISTINCT doc_id FROM shard_rows)
      |SELECT 'text_inv' AS store, 'text' AS kind, 'survivors' AS scope,
      |       (SELECT CAST(count(*) AS BIGINT) FROM survivors) AS base_ids,
      |       (SELECT CAST(count(*) AS BIGINT) FROM inv_live) AS live_ids,
      |       (SELECT CAST(count(*) AS BIGINT) FROM survivors s
      |        WHERE NOT EXISTS (SELECT 1 FROM inv_live v WHERE v.__id = s.doc_id)) AS missing_ids,
      |       (SELECT CAST(count(*) AS BIGINT) FROM inv_live v
      |        WHERE NOT EXISTS (SELECT 1 FROM survivors s WHERE s.doc_id = v.__id)) AS orphan_ids,
      |       CAST(0 AS BIGINT) AS torn_shards,
      |       (SELECT count(*) FROM survivors s
      |        WHERE NOT EXISTS (SELECT 1 FROM inv_live v WHERE v.__id = s.doc_id)) = 0
      |       AND (SELECT count(*) FROM inv_live v
      |        WHERE NOT EXISTS (SELECT 1 FROM survivors s WHERE s.doc_id = v.__id)) = 0 AS consistent
      |UNION ALL
      |SELECT 'text_pos', 'text', 'survivors',
      |       (SELECT CAST(count(*) AS BIGINT) FROM survivors),
      |       (SELECT CAST(count(*) AS BIGINT) FROM pos_live),
      |       (SELECT CAST(count(*) AS BIGINT) FROM survivors s
      |        WHERE NOT EXISTS (SELECT 1 FROM pos_live v WHERE v.__id = s.doc_id)),
      |       (SELECT CAST(count(*) AS BIGINT) FROM pos_live v
      |        WHERE NOT EXISTS (SELECT 1 FROM survivors s WHERE s.doc_id = v.__id)),
      |       CAST(0 AS BIGINT),
      |       (SELECT count(*) FROM survivors s
      |        WHERE NOT EXISTS (SELECT 1 FROM pos_live v WHERE v.__id = s.doc_id)) = 0
      |       AND (SELECT count(*) FROM pos_live v
      |        WHERE NOT EXISTS (SELECT 1 FROM survivors s WHERE s.doc_id = v.__id)) = 0
      |UNION ALL
      |SELECT 'dedup_sigs', 'dedup', 'survivors',
      |       (SELECT CAST(count(*) AS BIGINT) FROM survivors),
      |       (SELECT CAST(count(*) AS BIGINT) FROM ded_live),
      |       (SELECT CAST(count(*) AS BIGINT) FROM survivors s
      |        WHERE NOT EXISTS (SELECT 1 FROM ded_live v WHERE v.__id = s.doc_id)),
      |       (SELECT CAST(count(*) AS BIGINT) FROM ded_live v
      |        WHERE NOT EXISTS (SELECT 1 FROM survivors s WHERE s.doc_id = v.__id)),
      |       CAST(0 AS BIGINT),
      |       (SELECT count(*) FROM survivors s
      |        WHERE NOT EXISTS (SELECT 1 FROM ded_live v WHERE v.__id = s.doc_id)) = 0
      |       AND (SELECT count(*) FROM ded_live v
      |        WHERE NOT EXISTS (SELECT 1 FROM survivors s WHERE s.doc_id = v.__id)) = 0
      |UNION ALL
      |SELECT 'text_inv', 'text', 'full',
      |       (SELECT CAST(count(*) AS BIGINT) FROM corpus),
      |       (SELECT CAST(count(*) AS BIGINT) FROM inv_live),
      |       (SELECT CAST(count(*) AS BIGINT) FROM corpus c
      |        WHERE NOT EXISTS (SELECT 1 FROM inv_live v WHERE v.__id = c.doc_id)),
      |       (SELECT CAST(count(*) AS BIGINT) FROM inv_live v
      |        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.doc_id = v.__id)),
      |       CAST(0 AS BIGINT),
      |       (SELECT count(*) FROM corpus c
      |        WHERE NOT EXISTS (SELECT 1 FROM inv_live v WHERE v.__id = c.doc_id)) = 0
      |       AND (SELECT count(*) FROM inv_live v
      |        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.doc_id = v.__id)) = 0
      |UNION ALL
      |SELECT 'dedup_sigs', 'dedup', 'retention',
      |       (SELECT CAST(count(*) AS BIGINT) FROM retention),
      |       (SELECT CAST(count(*) AS BIGINT) FROM ded_live),
      |       (SELECT CAST(count(*) AS BIGINT) FROM retention r
      |        WHERE NOT EXISTS (SELECT 1 FROM ded_live v WHERE v.__id = r.doc_id)),
      |       (SELECT CAST(count(*) AS BIGINT) FROM ded_live v
      |        WHERE NOT EXISTS (SELECT 1 FROM retention r WHERE r.doc_id = v.__id)),
      |       CAST(0 AS BIGINT),
      |       (SELECT count(*) FROM retention r
      |        WHERE NOT EXISTS (SELECT 1 FROM ded_live v WHERE v.__id = r.doc_id)) = 0
      |       AND (SELECT count(*) FROM ded_live v
      |        WHERE NOT EXISTS (SELECT 1 FROM retention r WHERE r.doc_id = v.__id)) = 0
      |UNION ALL
      |SELECT 'ann_pq', 'ann', 'survivors',
      |       (SELECT CAST(count(*) AS BIGINT) FROM annbase),
      |       (SELECT CAST(count(*) AS BIGINT) FROM ann_live),
      |       (SELECT CAST(count(*) AS BIGINT) FROM annbase b
      |        WHERE NOT EXISTS (SELECT 1 FROM ann_live v WHERE v.__id = b.vec_id)),
      |       (SELECT CAST(count(*) AS BIGINT) FROM ann_live v
      |        WHERE NOT EXISTS (SELECT 1 FROM annbase b WHERE b.vec_id = v.__id)),
      |       CAST(0 AS BIGINT),
      |       (SELECT count(*) FROM annbase b
      |        WHERE NOT EXISTS (SELECT 1 FROM ann_live v WHERE v.__id = b.vec_id)) = 0
      |       AND (SELECT count(*) FROM ann_live v
      |        WHERE NOT EXISTS (SELECT 1 FROM annbase b WHERE b.vec_id = v.__id)) = 0
      |UNION ALL
      |SELECT 'flagship_shards', 'shards', 'flagship',
      |       (SELECT CAST(count(*) AS BIGINT) FROM packed_docs),
      |       (SELECT CAST(count(*) AS BIGINT) FROM shard_docs),
      |       (SELECT CAST(count(*) AS BIGINT) FROM packed_docs p
      |        WHERE NOT EXISTS (SELECT 1 FROM shard_docs v WHERE v.doc_id = p.doc_id)),
      |       (SELECT CAST(count(*) AS BIGINT) FROM shard_docs v
      |        WHERE NOT EXISTS (SELECT 1 FROM packed_docs p WHERE p.doc_id = v.doc_id)),
      |       (SELECT torn FROM shard_torn),
      |       (SELECT count(*) FROM packed_docs p
      |        WHERE NOT EXISTS (SELECT 1 FROM shard_docs v WHERE v.doc_id = p.doc_id)) = 0
      |       AND (SELECT count(*) FROM shard_docs v
      |        WHERE NOT EXISTS (SELECT 1 FROM packed_docs p WHERE p.doc_id = v.doc_id)) = 0
      |       AND (SELECT torn FROM shard_torn) = 0""".stripMargin) {
    (s, dir) =>
    val cf = stageCascadeFixtures(s, dir)
    val corpus = cascadeDocs(s, dir).select(col("doc_id"))
    val survivors = corpus.filter(col("doc_id") % 8 =!= 2)
    val retention = survivors.filter(col("doc_id") % 2 === 0)
    import graft.ext.{StoreMaintenance, StoreRef}
    val stores = Seq(
      StoreRef("text_inv", "text", s"$cf/text_inv"),
      StoreRef("text_pos", "text", s"$cf/text_pos"),
      StoreRef("dedup_sigs", "dedup", s"$cf/dedup_store"))
    val pt = PipelineQueries.stagePretrain(s, dir)
    // the five scope audits are independent deterministic fleets — run
    // them CONCURRENTLY (each fsck call materializes its per-store rows
    // eagerly, so chaining them serialized five rounds of job floor);
    // rows identical: same frames, same union order
    graft.util.Par.all(5)(Seq[() => DataFrame](
      () => StoreMaintenance.fsck(s, survivors, "doc_id", stores)
        .withColumn("scope", lit("survivors")),
      () => StoreMaintenance.fsck(s, corpus, "doc_id", stores.take(1))
        .withColumn("scope", lit("full")),
      () => StoreMaintenance.fsck(s, retention, "doc_id", stores.drop(2))
        .withColumn("scope", lit("retention")),
      // the ANN family under the same audit: the cascade's forget
      // tombstoned the vec_ids of the takedown set, so the survivors
      // base is the embedding slice minus them
      () => StoreMaintenance.fsck(s,
          Tables.embeddings(s, dir)
            .filter(col("vec_id") < 64 && col("vec_id") % 8 =!= 2)
            .select(col("vec_id")),
          "vec_id", Seq(StoreRef("ann_pq", "ann", s"$cf/ann_pq")))
        .withColumn("scope", lit("survivors")),
      // the exported shard set joins the compliance dashboard: doc
      // membership vs the packed table it was exported from, plus the
      // manifest reconcile (torn shards) — the one persisted artifact
      // family that was outside the fsck until r16
      () => StoreMaintenance.fsck(s,
          graft.util.TinyParquet.openStore(s, s"$pt/packed").select(col("doc_id")),
          "doc_id",
          Seq(StoreRef("flagship_shards", "shards", s"$pt/shards")))
        .withColumn("scope", lit("flagship")),
    )).reduce(_ unionByName _)
  }

  /** Scratch copies of four maintenance-history fixture stores plus one
    * pristine one, swept ONCE by [[graft.ext.StoreMaintenance.sweep]] at
    * threshold 0.1, report persisted. Copies, because the sweep MUTATES
    * (compacts) its stores and the originals are read by the health
    * dashboards — and because a second sweep of the same stores would
    * see zero debt, so idempotency lives in the persisted report, not in
    * re-running the action. The fixtures are chosen to exercise every
    * decision branch: zero debt (inv), sub-threshold debt left alone
    * (inv_maint at sf0.01+), and over-threshold debt compacted through
    * three different families' rewrites (ann codes, positional text,
    * dedup signatures).
    */
  def stageSweepFixtures(s: SparkSession, dir: String): String =
    Staging.once("sweep", dir) { tmp =>
      val ti = stageTextIndex(s, dir)
      val cf = stageCascadeFixtures(s, dir)
      val ai = stageAnnIndexes(s, dir)
      Seq(s"$ti/inv" -> "inv", s"$ti/inv_maint" -> "inv_maint",
          s"$ai/pq_del16" -> "pq_del16", s"$cf/text_pos" -> "text_pos",
          s"$cf/dedup_store" -> "dedup_store").foreach { case (from, name) =>
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(from), new java.io.File(s"$tmp/$name"))
      }
      graft.ext.StoreMaintenance.sweep(s, Seq(
          graft.ext.StoreRef("inv", "text", s"$tmp/inv"),
          graft.ext.StoreRef("inv_maint", "text", s"$tmp/inv_maint"),
          graft.ext.StoreRef("pq_del16", "ann", s"$tmp/pq_del16"),
          graft.ext.StoreRef("pos_takedown", "text", s"$tmp/text_pos"),
          graft.ext.StoreRef("dedup_sigs", "dedup", s"$tmp/dedup_store")),
        threshold = 0.1)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/report")
    }

  /** Fleet maintenance sweep — the dashboard's actuator
    * ([[graft.ext.StoreMaintenance.sweep]]): one call measures
    * tombstone debt across ANN, text, and dedup stores, compacts the
    * ones at or above threshold through their own family's rewrite, and
    * reports before/after. The oracle re-derives debt_before from the
    * UNTOUCHED original fixture stores and PREDICTS the outcome
    * (compacted ⇔ debt ≥ 0.1; total_after = live_before and
    * debt_after = 0 for compacted stores, all unchanged otherwise) —
    * while the engine side MEASURES total_after/debt_after from the
    * swept copies on disk, so a compaction that dropped the wrong rows
    * or left debt behind hash-fails the gate.
    */
  val maintenanceSweep = q("x_maintenance_sweep",
    """WITH d_im AS (SELECT __id, max(__seq) AS tseq
      |             FROM read_parquet('__GRAFT_TEXTIDX__/inv_maint/tombstones/*.parquet') GROUP BY 1),
      |m_im AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |         CAST(count(CASE WHEN d.tseq IS NULL OR coalesce(l.__seq, 0) > d.tseq THEN 1 END) AS BIGINT) AS live
      |  FROM read_parquet('__GRAFT_TEXTIDX__/inv_maint/lens/*.parquet') l
      |  LEFT JOIN d_im d ON l.__id = d.__id),
      |d_pq AS (SELECT __id, max(__seq) AS tseq
      |         FROM read_parquet('__GRAFT_ANNIDX__/pq_del16/tombstones/*.parquet') GROUP BY 1),
      |m_pq AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |         CAST(count(CASE WHEN d.tseq IS NULL OR coalesce(c.__seq, 0) > d.tseq THEN 1 END) AS BIGINT) AS live
      |  FROM read_parquet('__GRAFT_ANNIDX__/pq_del16/codes/*.parquet') c
      |  LEFT JOIN d_pq d ON c.__id = d.__id),
      |d_tp AS (SELECT __id, max(__seq) AS tseq
      |         FROM read_parquet('__GRAFT_CASCADE__/text_pos/tombstones/*.parquet') GROUP BY 1),
      |m_tp AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |         CAST(count(CASE WHEN d.tseq IS NULL OR coalesce(p.__seq, 0) > d.tseq THEN 1 END) AS BIGINT) AS live
      |  FROM read_parquet('__GRAFT_CASCADE__/text_pos/positions/*/*.parquet', hive_partitioning=1) p
      |  LEFT JOIN d_tp d ON p.__id = d.__id),
      |d_ds AS (SELECT DISTINCT __id
      |         FROM read_parquet('__GRAFT_CASCADE__/dedup_store/id_tombstones/*.parquet')),
      |m_ds AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |         CAST(count(CASE WHEN d.__id IS NULL THEN 1 END) AS BIGINT) AS live
      |  FROM read_parquet('__GRAFT_CASCADE__/dedup_store/sigs/*/*.parquet', hive_partitioning=1) s
      |  LEFT JOIN d_ds d ON s.__id = d.__id),
      |r AS (
      |  SELECT 'inv' AS store, 'text' AS kind, CAST(count(*) AS BIGINT) AS total,
      |         CAST(count(*) AS BIGINT) AS live
      |  FROM read_parquet('__GRAFT_TEXTIDX__/inv/lens/*.parquet')
      |  UNION ALL SELECT 'inv_maint', 'text', total, live FROM m_im
      |  UNION ALL SELECT 'pq_del16', 'ann', total, live FROM m_pq
      |  UNION ALL SELECT 'pos_takedown', 'text', total, live FROM m_tp
      |  UNION ALL SELECT 'dedup_sigs', 'dedup', total, live FROM m_ds),
      |g AS (
      |  SELECT store, kind, total, live,
      |         CASE WHEN total = 0 THEN 0.0 ELSE CAST(total - live AS DOUBLE) / total END AS debt
      |  FROM r)
      |SELECT store, kind, total AS total_before, live AS live_before,
      |       debt AS debt_before, debt >= 0.1 AS compacted,
      |       CASE WHEN debt >= 0.1 THEN live ELSE total END AS total_after,
      |       live AS live_after,
      |       CASE WHEN debt >= 0.1 THEN 0.0 ELSE debt END AS debt_after
      |FROM g""".stripMargin) { (s, dir) =>
    val f = stageSweepFixtures(s, dir)
    graft.util.TinyParquet.openStore(s, s"$f/report")
  }

  /** The bounded corpus the cascading-delete gate forgets from: 64 docs
    * plus near-copy variants of every 10th — small enough that every
    * derived store builds in scheduler time, shaped enough that deletes
    * cross real duplicate pairs (deleting doc 10 must drop the
    * (10, 100010) pair but keep 100010 as a live singleton). Ids < 64
    * exist in the embeddings table too, so one id namespace spans all
    * stores — the "forget doc X everywhere" contract.
    */
  private def cascadeDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).filter(col("doc_id") < 64)
      .select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zzvariant")).as("text")))
  }

  /** Input prep (idempotent): every derived store the cascade gate
    * forgets from — a flat PQ ANN index (plus a PRISTINE copy serving
    * the filtered-expected comparison: same physical codes, never
    * mutated), inverted + positional text indexes, and a streaming
    * dedup signature store built through the real ingestion stream.
    * The gate MUTATES the maintained stores (tombstones, components
    * rebuild) — that mutation is idempotent (re-deleting the same ids
    * is a no-op on every surface), so the staged fixture stays valid
    * across runs without rebuilding.
    */
  def stageCascadeFixtures(s: SparkSession, dir: String): String =
    Staging.once("cascade", dir)(buildCascadeFixtures(s, dir, _))

  private def buildCascadeFixtures(s: SparkSession, dir: String, tmp: String): Unit = {
    val docs = cascadeDocs(s, dir).localCheckpoint(eager = true)
    val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 64)
      .select(col("vec_id"), col("embedding"))
    AnnIndex.buildPq(emb, "vec_id", "embedding", s"$tmp/ann_pq",
      m = 8, ksub = 16, iters = 2)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$tmp/ann_pq"), new java.io.File(s"$tmp/ann_pq_pristine"))
    graft.ext.TextIndex.build(docs, "doc_id", "text", s"$tmp/text_inv", parts = 8)
    graft.ext.TextIndex.buildPositional(docs, "doc_id", "text",
      s"$tmp/text_pos", parts = 8)
    val spool = s"$tmp/spool"
    new java.io.File(spool).mkdirs()
    (0 until 2).foreach { i =>
      stageSpoolFile(docs.filter(pmod(xxhash64(col("doc_id")), lit(2)) === i),
        spool, i)
    }
    graft.streaming.DocStreams.runMinhashDedupOnce(s, spool,
      s"$tmp/dedup_store", maxBucketSize = 1000000, storeParts = 4,
      withComponents = true)
    // the forget-everywhere maintenance runs HERE, like every other
    // staged maintenance history (the ivfpq_del16 pattern) — and it
    // runs THROUGH THE STREAMING TAKEDOWN FEED: the %8==2 delete set
    // arrives as two takedown batches on a spool, each folded through
    // CascadeDelete by [[graft.streaming.DocStreams.runForgetOnce]],
    // so the x_cascade_delete gate verifies the streamed takedown
    // path end-to-end (every served surface vs the survivors).
    // CascadeDeleteSpec drives the operator's own mechanics (compaction
    // routing, idempotency, cluster splits, batch-marker replay).
    val deletes = docs.filter(col("doc_id") % 8 === 2).select(col("doc_id"))
    val tspool = s"$tmp/takedown_spool"
    new java.io.File(tspool).mkdirs()
    stageSpoolFile(deletes.filter(col("doc_id") % 16 === 2), tspool, 0)
    stageSpoolFile(deletes.filter(col("doc_id") % 16 =!= 2), tspool, 1)
    graft.streaming.DocStreams.runForgetOnce(s, tspool,
      s"$tmp/takedown_markers", graft.ext.CascadeTargets(
        annIndexes = Seq(s"$tmp/ann_pq"),
        textIndexes = Seq(s"$tmp/text_inv", s"$tmp/text_pos"),
        dedupStores = Seq(s"$tmp/dedup_store")))
    // ---- the five FROM-SCRATCH survivor references, staged with the
    // fixtures (each is a deterministic function of the corpus + the
    // takedown history above — the x_stream_recall discipline): the
    // gate reads + compares served views against these, never
    // recomputing a reference per rep. Reference semantics unchanged
    // from the r14 inline forms.
    import s.implicits._
    val survivors = docs.filter(!(col("doc_id") % 8 === 2))
      .localCheckpoint(eager = true)
    val refDir = s"$tmp/ref"
    val queries4 = Tables.embeddings(s, dir).filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding"))
    val pristine = AnnIndex.readPq(s, s"$tmp/ann_pq_pristine")
    Similarity.pqTopKWithModel(queries4, "vec_id", "embedding",
        pristine.copy(codes = pristine.codes.filter(!(col("__id") % 8 === 2))), 5)
      .write.mode("overwrite").parquet(s"$refDir/ann")
    val qdf = Seq((0L, "window merge scan"), (1L, "fast customer join"),
      (2L, "stream batch value")).toDF("qid", "qtext")
    TextSearch.bm25TopK(survivors, "doc_id", "text", qdf,
        "qid", "qtext", 10)
      .write.mode("overwrite").parquet(s"$refDir/bm25")
    val phrase = Seq("window", "merge")
    val posts = survivors.select(col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text"))).as(Seq("__pos", "__term")))
    val anchor = posts.filter(col("__term") === phrase.head)
      .select(col("doc_id"), col("__pos"))
    phrase.zipWithIndex.drop(1).foldLeft(anchor) { case (acc, (t, k)) =>
      acc.join(posts.filter(col("__term") === t)
        .select(col("doc_id"), (col("__pos") - k).as("__pos")),
        Seq("doc_id", "__pos"))
    }.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ref"))
      .write.mode("overwrite").parquet(s"$refDir/phrase")
    val refPairs = Dedup.minhashCandidates(survivors, "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, minEstJaccard = 0.5,
        maxBucketSize = 1000000)
      .localCheckpoint(eager = true) // pairs ref + label ref share it
    refPairs.write.mode("overwrite").parquet(s"$refDir/pairs")
    // label reference: the min-id labels of the (tiny) pair set, padded
    // to one row per survivor; CascadeDeleteSpec pins the rebuild against
    // the full distributed connectedComponents
    val refLabels = Dedup.minIdLabels(refPairs.select(col("id_a"), col("id_b")))
      .getOrElse(Seq.empty[(Long, Long)].toDF("id", "component"))
      .withColumnRenamed("component", "__rc")
    survivors.select(col("doc_id").as("id"))
      .join(broadcast(refLabels), Seq("id"), "left")
      .select(col("id"), coalesce(col("__rc"), col("id")).as("component"))
      .write.mode("overwrite").parquet(s"$refDir/comps")
  }

  /** Cross-store cascading delete — "forget these ids EVERYWHERE", the
    * takedown/opt-out operation (VERDICT r13 #1): one
    * [[graft.ext.CascadeDelete.forget]] call drives tombstones through
    * the ANN index, both text-index layouts, and the streaming dedup
    * store (signatures + pairs + components), then every served surface
    * must equal a from-scratch computation over the SURVIVORS:
    *
    *   - ANN top-k == the pristine (never-mutated) copy of the same
    *     index with deleted ids filtered from its codes — byte-identical
    *     physical codes, so only the tombstone/liveness machinery
    *     differs between the sides;
    *   - BM25 top-k == the fully independent batch scorer over survivor
    *     raw text (live-N/avgdl recompute included);
    *   - phrase occurrence counts == an inline positional replay over
    *     survivor raw text (integer-exact);
    *   - dedup candidate pairs == one-shot batch `minhashCandidates`
    *     over survivors (pair set AND estimates);
    *   - duplicate-cluster labels == from-scratch connected components
    *     over the survivor pair set (min-id canonical on both sides).
    *
    * Deletes cover ids absent from some stores (the variants never
    * entered the ANN index) — absent-id tombstones must be no-ops.
    */
  val cascadeDelete = q("x_cascade_delete",
    "SELECT true AS cascade_ok") { (s, dir) =>
    val f = stageCascadeFixtures(s, dir)
    val docs = cascadeDocs(s, dir)
    val deleted = col("doc_id") % 8 === 2
    val survivors = docs.filter(!deleted)
    import s.implicits._
    // all five from-scratch references are STAGED with the fixtures
    // (deterministic functions of corpus + takedown history); the gate
    // pays the five SERVED reads + compares only — and those run
    // CONCURRENTLY (the recall report's pool discipline), because each
    // surface's CONSTRUCTION runs its own driver-blocking pruning jobs
    // (nprobe collect, term-bucket listing): thunked legs let the gate's
    // wall track the slowest surface instead of the sum of five chains
    val legs: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
      // 1. ANN: maintained (tombstoned) index vs pristine copy filtered
      () => {
        val queries = Tables.embeddings(s, dir).filter(col("vec_id") < 4)
          .select(col("vec_id"), col("embedding"))
        val served = AnnIndex.pqTopK(s, s"$f/ann_pq", queries,
            "vec_id", "embedding", 5)
          .withColumnRenamed("cosine_pq", "__s1")
          .withColumnRenamed("neighbor_id", "__id1")
        served.join(graft.util.TinyParquet.openStore(s, s"$f/ref/ann"),
          Seq("query_id", "rank"), "full")
          .agg((count(lit(1)) === count(col("__s1")) &&
            count(lit(1)) === count(col("cosine_pq")) &&
            coalesce(max(when(col("__id1") =!= col("neighbor_id") ||
                abs(col("__s1") - col("cosine_pq")) > 1e-9, 1).otherwise(0)) === 0,
              lit(true))).as("ok_ann"))
      },
      // 2. BM25 from the maintained inverted index vs batch over survivors
      () => {
        val qdf = Seq((0L, "window merge scan"), (1L, "fast customer join"),
          (2L, "stream batch value")).toDF("qid", "qtext")
        val servedBm = graft.ext.TextIndex.bm25TopKIndexed(s, s"$f/text_inv",
            qdf, "qid", "qtext", 10)
          .withColumnRenamed("score", "__s2")
        servedBm.join(graft.util.TinyParquet.openStore(s, s"$f/ref/bm25"),
            Seq("query_id", "rank", "doc_id"), "full")
          .agg((count(lit(1)) === count(col("__s2")) &&
            count(lit(1)) === count(col("score")) &&
            coalesce(max(abs(col("__s2") - col("score"))) <= 1e-9, lit(true)))
            .as("ok_bm25"))
      },
      // 3. phrase counts from the maintained positional index vs the
      // staged positional replay over survivor raw text (integer-exact)
      () => {
        val servedPh = graft.ext.TextIndex.phraseOccurrences(s,
            s"$f/text_pos", Seq("window", "merge"))
          .withColumnRenamed("n_occurrences", "__n1")
        servedPh.join(graft.util.TinyParquet.openStore(s, s"$f/ref/phrase"), Seq("doc_id"), "full")
          .agg(coalesce(max(when(col("__n1").isNull || col("n_ref").isNull ||
              col("__n1") =!= col("n_ref"), 1).otherwise(0)) === 0, lit(true))
            .as("ok_phrase"))
      },
      // 4. dedup candidate pairs vs one-shot batch over survivors (staged)
      () => {
        val servedPairs = graft.streaming.DocStreams.readPairs(s, s"$f/dedup_store")
          .withColumnRenamed("est_jaccard", "__e1")
        servedPairs.join(graft.util.TinyParquet.openStore(s, s"$f/ref/pairs"),
          Seq("id_a", "id_b"), "full")
          .agg((count(lit(1)) === count(col("__e1")) &&
            count(lit(1)) === count(col("est_jaccard")) &&
            coalesce(max(abs(col("__e1") - col("est_jaccard"))) <= 1e-9, lit(true)))
            .as("ok_pairs"))
      },
      // 5. cluster labels: rebuilt components store vs the staged
      // survivor-pair labels; CascadeDeleteSpec pins the rebuild against
      // the full distributed connectedComponents separately
      () => {
        val servedComps = graft.ext.IncrementalComponents.readWithNodes(s,
            s"$f/dedup_store/comps", survivors, "doc_id")
          .withColumnRenamed("component", "__c1")
        servedComps.join(graft.util.TinyParquet.openStore(s, s"$f/ref/comps"), Seq("id"), "full")
          .agg(coalesce(max(when(col("__c1").isNull || col("component").isNull ||
              col("__c1") =!= col("component"), 1).otherwise(0)) === 0, lit(true))
            .as("ok_comps"))
      })
    val oks = graft.util.Par.all(5)(legs.map(leg =>
      () => leg().localCheckpoint(eager = true)))
    oks.reduce(_ crossJoin _)
      .select((col("ok_ann") && col("ok_bm25") && col("ok_phrase") &&
        col("ok_pairs") && col("ok_comps")).as("cascade_ok"))
  }

  val all: Seq[QueryDef] = Seq(
    dedupExact, dedupResolve, dedupMinhash, dedupSimhash, dedupCross, dedupJaccard,
    dedupEmbCos, dedupEmbLsh, dedupSemantic,
    dedupComponents, dedupSpans, dedupSpanStats, dedupSpanRemove,
    knnBrute, knnBinary, knnIvf, knnPq, knnIvfPq, embCentroids, corpusClean,
    knnIvfRecall, knnPqRecall, knnPqErr, knnIvfPqRecall, knnPqPersist, knnPqAppend,
    knnPqDelete, knnIvfPqRefine, knnIvfPqResRecall, knnIvfPqResidualErr,
    knnSq, knnSqErr, knnSqGuarantee, knnIvfSq, knnIvfSqFullProbe,
    knnBq, knnBqMaint, knnBqFiltered, knnIvfPqFiltered, knnIvfSqFiltered,
    knnPcaPqFiltered, knnRecallReport, indexHealth, knnPcaPq, knnPcaPqIsometry,
    dedupClusterSizes, corpusEffectiveSize, corpusEffectiveNear, dedupMinhashRecall, dedupSimhashRecall, dedupEmbLshRecall,
    textTokens, textQuality, textLangId, textFingerprint, textRedact,
    textChunks, textChunksBpe, textBpeBaseCount, textBpeByteCount,
    textRepetition, textBm25, textBm25Indexed, textBm25Maint,
    textSurprisal, hybridRrf, hybridIndexed,
    sampleStratified, decontaminate, decontaminateBloom,
    contaminationReport, splitLeakageSafe, freqCms,
    sampleGroupTopK, textCompressionGate,
    dsirWeights, dsirResample,
    weightedMix, weightedMixWide, temperatureMixQ, upsampleEpochs, packSequences,
    packSequencesBpe, asofJoin, asofTolerance,
    rangeJoinSessions, rangeJoinWide, overlapJoinSessions, snapshotDiffQ,
    setSimJoin, classifyNb, scd2Intervals, mineHardNeg, textBigramPpl,
    streamWindow, streamFileWindow, streamDedup, streamDedupMinhash,
    streamDedupSimhash, streamDedupComponents, streamKnnAppend, streamFreqCms,
    streamTextAppend,
    streamStaticJoin, sessionize,
    streamSessionize, streamSessionizeTws, streamUpsert, streamUpsertCounters,
    multimodalDecode, multimodalFrames, multimodalAviFrames,
    multimodalImageMeta, multimodalAudioMeta,
    multimodalPhash, dedupPhash, dedupCrossmodal,
    cascadeDelete, knnMaxSim, knnMaxSimFiltered, knnOpq, knnOpqIvfPq, knnGraph,
    textUnigramCount,
    textChunksUnigram, packSequencesUnigram, storeHealth, maintenanceSweep,
    classifyLr, knnAsOf, storeFsck, streamManifest, retrievalEval, textAsOf,
    corpusCleanAudit, knnAutotune, streamRecall, qualityCalibrate,
    textWordpieceCount, knnGraphScale, knnGraphDelta, knnGraphAlpha,
    mineBitext, mineBitextIvf,
    dedupLshPlan, pplPrune, tokenizerFertility,
  )
}
