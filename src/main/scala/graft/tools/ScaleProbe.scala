package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{Dedup, Joins, Scd2, Graph, Similarity}

/** Dev probe for the VOLUME behavior of the newest shuffle-heavy
  * operators (SkewSpec covers skew, not volume): unions the sf corpus
  * `mult`× with salted ids, runs each operator once at 1× and once at
  * mult×, and prints wall/CPU per run so BENCH_NOTES can record observed
  * scaling. Also A/Bs the portable (md5/affine) sketch family against
  * the default XXH64 family on the three queries that switched, since
  * the portable family's cost is the price of their hash-match.
  *
  * Usage: runMain graft.tools.ScaleProbe <sfDir> [mult]
  */
object ScaleProbe {
  private def cpuMs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1000000L

  /** Optional probe-name substring filter (args 3+); empty = run all.
    * Query probes that read a prior probe's store (phrase/proximity
    * after positional_build) need the builder included in the filter.
    */
  private var only: Seq[String] = Nil

  private def time(name: String)(f: => Long): Unit = {
    if (only.nonEmpty && !only.exists(name.contains)) return
    val c0 = cpuMs(); val t0 = System.nanoTime()
    val rows = f
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuMs() - c0) / 1e3
    println(f"""{"probe":"$name","wall_s":$wall%.2f,"cpu_s":$cpu%.2f,"rows":$rows}""")
  }

  /** `mult` shifted copies: ids salted into disjoint ranges so volume
    * grows mult× while per-key density (the skew profile) is preserved.
    */
  private def fan(df: DataFrame, idCols: Seq[String], mult: Int): DataFrame =
    (0 until mult).map { i =>
      idCols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(i.toLong * 10000000L)))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val mult = if (args.length > 1) args(1).toInt else 10
    only = args.drop(2).toSeq
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .localCheckpoint(eager = true)
    val events = Tables.events(spark, sfDir).localCheckpoint(eager = true)

    for (m <- Seq(1, mult)) {
      val d = (if (m == 1) docs else fan(docs, Seq("doc_id"), m))
        .localCheckpoint(eager = true)
      val e = (if (m == 1) events
               else fan(events, Seq("event_id", "user_id"), m))
        .localCheckpoint(eager = true)

      // PPJoin set-similarity self-join over a %8 slice (the gate shape)
      time(s"setsim_join_x$m") {
        Joins.setSimJoin(
          d.filter(pmod(col("doc_id"), lit(8)) === 0)
            .select(col("doc_id"), split(col("text"), " ").as("toks")),
          "doc_id", "toks", minJaccard = 0.8).count()
      }
      // SCD2 history build over the event stream as change records
      time(s"scd2_x$m") {
        Scd2.intervals(
          e.select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
          "user_id", "ts", "event_id", "event_type").count()
      }
      // PageRank over the user co-occurrence-ish edge list
      time(s"pagerank_x$m") {
        val edges = e.select(col("user_id").as("src"),
            (pmod(col("event_id"), lit(997))).as("dst"))
          .filter(col("src") =!= col("dst"))
        Graph.pageRank(edges, "src", "dst", iters = 3).count()
      }
      // span dedup census + spans over the copies corpus
      time(s"dedup_spans_x$m") {
        val corpus = d.unionByName(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 900000000L).as("doc_id"), col("text")))
        Dedup.duplicatedSpans(corpus, "doc_id", "text").count()
      }
      // positional index build (one bucketed write) + its two query
      // shapes: the phrase chain and the slop window, both through the
      // term-bucket partition filter (the lexical nprobe)
      val pdir = s"/tmp/graft_scaleprobe_pos/x$m"
      time(s"positional_build_x$m") {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pdir))
        graft.ext.TextIndex.buildPositional(d, "doc_id", "text", pdir)
        graft.util.TinyParquet.openStore(spark, s"$pdir/positions").count()
      }
      time(s"phrase_query_x$m") {
        graft.ext.TextIndex.phraseOccurrences(spark, pdir,
          Seq("slow", "hash", "batch")).count()
      }
      time(s"proximity_query_x$m") {
        graft.ext.TextIndex.proximityOccurrences(spark, pdir,
          "hash", "batch", slop = 5).count()
      }
      // cross-corpus admission join: standing corpus × incoming batch
      // (both sides' banded sketches, bucket-capped equi-join)
      time(s"dedup_cross_x$m") {
        val incoming = d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 900000000L).as("doc_id"),
            concat(col("text"), lit(" zznew")).as("text"))
        Dedup.minhashJoin(d, incoming, "doc_id", "text",
          portable = true).count()
      }
      // margin-based bitext mining through the persisted IVF legs —
      // EVERY corpus vector is a query, so the brute cross is n²; the
      // indexed path with nlist ∝ √n holds the candidate volume at
      // ~n^1.5·nprobe. Build + serve both inside the timer (the honest
      // mining cost: the indexes exist only for this operation).
      time(s"mine_bitext_x$m") {
        val emb0 = Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding"))
        val emb = (if (m == 1) emb0 else fan(emb0, Seq("vec_id"), m))
          .localCheckpoint(eager = true)
        val xs = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
          .localCheckpoint(eager = true)
        val ys = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
          .localCheckpoint(eager = true)
        // the fold's own derivation — one formula, no drift
        val nlist = graft.ext.GraphAnn.autoFoldGeometry(xs.count(), 0, 0)._1
        val bd = s"/tmp/graft_scaleprobe_mine/x$m"
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(bd))
        graft.ext.AnnIndex.buildIvf(xs, "vec_id", "embedding", s"$bd/x",
          nlist = nlist, iters = 2)
        graft.ext.AnnIndex.buildIvf(ys, "vec_id", "embedding", s"$bd/y",
          nlist = nlist, iters = 2)
        graft.ext.Mining.mineParallelPairsIvf(spark, s"$bd/x", s"$bd/y",
          xs, ys, "vec_id", "embedding", k = 4, nprobe = 4,
          marginThresholdQ = 1000000L).count()
      }
      // exact triangles over the event projection (compact-forward
      // orientation; v stays a 150-value hub set as volume grows, so
      // this also stresses the orientation's hub defense)
      time(s"triangles_x$m") {
        Graph.triangleCount(e.select(col("user_id").as("u"),
          pmod(col("event_id"), lit(150)).as("v")), "u", "v")
          .head().getLong(0) // rows = the triangle count itself
      }
      // watchlist interval-overlap join over sessions (salting preserves
      // user_id % 50, so the watchlist share is scale-invariant)
      time(s"overlap_join_x$m") {
        val sess = graft.streaming.EventStreams.sessionizeBatch(
          e.select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")),
          gapMs = 4L * 3600 * 1000)
        val a = sess.filter(col("user_id") % 50 === 0)
          .select(col("user_id").as("a_user"),
            col("start").as("a_start"), col("end").as("a_end"))
        val b = sess.select(col("user_id").as("b_user"),
          col("start").as("b_start"), col("end").as("b_end"))
        Joins.overlapJoin(
            a, unix_micros(col("a_start")), unix_micros(col("a_end")),
            b, unix_micros(col("b_start")), unix_micros(col("b_end")),
            bucketWidth = 6L * 3600 * 1000000L)
          .filter(col("a_user") =!= col("b_user")).count()
      }
    }

    // ---- r13/r14 additions at 1× and mult× ----
    for (m <- Seq(1, mult)) {
      val d = (if (m == 1) docs else fan(docs, Seq("doc_id"), m))
        .localCheckpoint(eager = true)
      val e = (if (m == 1) events
               else fan(events, Seq("event_id", "user_id"), m))
        .localCheckpoint(eager = true)
      // near-dup effective-size accounting: LSH pairs → components →
      // the two group-by aggregations (x_corpus_effective_near shape)
      time(s"effective_near_x$m") {
        val corpus = d.unionByName(d.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 900000000L).as("doc_id"),
              concat(col("text"), lit(" zzvariant")).as("text")))
          .withColumn("src", (col("doc_id") % 4).cast("string"))
          .localCheckpoint(eager = true)
        val pairs = Dedup.minhashCandidates(corpus, "doc_id", "text",
          numHashes = 64, bands = 16, shingleSize = 3, minEstJaccard = 0.5)
        val comps = Dedup.connectedComponents(
            corpus.select(col("doc_id")), "doc_id", pairs)
          .withColumnRenamed("doc_id", "id")
        Dedup.effectiveSizeByComponents(corpus, "doc_id", "text", "src",
          comps).count()
      }
      // batch funnel over the fanned event log (x_stream_funnel's
      // reference computation — the stream side is micro-batch machinery)
      time(s"funnel_x$m") {
        graft.ext.Funnel.funnelCounts(e, "user_id", "ts", "event_id",
          Seq("view" -> (col("event_type") === "view"),
            "click" -> (col("event_type") === "click"),
            "purchase" -> (col("event_type") === "purchase"))).count()
      }
      // cross-modal composition: two modalities' pair sets unioned into
      // one components labeling (x_dedup_crossmodal's scale shape; the
      // second modality proxied by the shifted-id pair set — pair
      // generation per modality is probed separately above)
      time(s"crossmodal_components_x$m") {
        val corpus = d.unionByName(d.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 900000000L).as("doc_id"), col("text")))
          .localCheckpoint(eager = true)
        val p1 = Dedup.minhashCandidates(corpus, "doc_id", "text",
          numHashes = 64, bands = 16, shingleSize = 3, minEstJaccard = 0.5)
        val p2 = p1.select((col("id_a") + 7L).as("id_a"),
          (col("id_b") + 7L).as("id_b"), col("est_jaccard"))
        Dedup.connectedComponents(corpus.select(col("doc_id")), "doc_id",
          p1.unionByName(p2)).count()
      }
      // MaxSim: token-vector IVF build + the two-stage serve
      val mdir = s"/tmp/graft_scaleprobe_maxsim/x$m"
      time(s"maxsim_build_x$m") {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(mdir))
        val emb64 = Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") < 64).select(col("vec_id"), col("embedding"))
        val tokVecs = d.select(col("doc_id"),
            posexplode(slice(graft.ext.TextAnalysis.tokens(col("text")), 1, 8))
              .as(Seq("pos", "tok")))
          .join(broadcast(emb64),
            pmod(xxhash64(col("tok")), lit(64)) === col("vec_id"))
          .select((col("doc_id") * 64 + col("pos")).as("__id"),
            col("embedding").as("__vec"))
        graft.ext.AnnIndex.buildIvf(tokVecs, "__id", "__vec", mdir,
          nlist = 32, iters = 2)
        graft.util.TinyParquet.openStore(spark, s"$mdir/vectors").count()
      }
      time(s"maxsim_serve_x$m") {
        val qt = graft.util.TinyParquet.openStore(spark, s"$mdir/vectors")
          .filter(col("__id") < 3 * 64)
          .select((col("__id") + 10000000L).as("__qtok"),
            floor(col("__id") / 64).cast("long").as("qdoc"), col("__vec"))
        graft.ext.MaxSim.maxSimTopK(spark, mdir, qt, "qdoc", "__qtok",
          "__vec", k = 5, nprobe = 4, candPerToken = 8, cap = 64).count()
      }
      // unigram Viterbi encode under a fixed trained model
      time(s"unigram_encode_x$m") {
        val model = graft.ext.Unigram.learn(docs, "text", maxPieceLen = 4,
          minCount = 2, emIters = 1, maxVocab = 2048)
        d.select(graft.ext.Unigram.tokenCount(col("text"), model).as("n"))
          .agg(sum(col("n"))).head()
        d.count()
      }
      // manifest-pruned scan over the z-clustered fanned orders layout
      time(s"zone_pruned_x$m") {
        val zdir = s"/tmp/graft_scaleprobe_zone/x$m"
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(zdir))
        val o = (if (m == 1) Tables.orders(spark, sfDir)
                 else fan(Tables.orders(spark, sfDir), Seq("o_orderkey"), m))
          .select(col("o_orderkey"), col("o_totalprice"),
            pmod(col("o_custkey"), lit(1024)).as("xd"),
            pmod(datediff(col("o_orderdate"),
              lit(java.sql.Date.valueOf("1995-01-01"))), lit(1024)).as("yd"))
        graft.ext.Layout.clusterByZOrder(o, col("xd"), col("yd"), bits = 10,
          zdir, files = 16 * m)
        graft.ext.Layout.writeManifest(spark, zdir, Seq("xd", "yd"))
        val (pruned, nRead, nTotal) = graft.ext.Layout.manifestPrunedRead(
          spark, zdir, col("max_xd") >= 96 && col("min_xd") <= 159 &&
            col("max_yd") >= 192 && col("min_yd") <= 287)
        println(s"""{"zone_files_read":$nRead,"zone_files_total":$nTotal}""")
        pruned.filter(col("xd").between(96, 159) && col("yd").between(192, 287))
          .count()
      }
      // fleet maintenance sweep over a 20%-tombstoned inverted index:
      // counter-sized debt measurement + the live-row compaction rewrite
      // (the store build/tombstoning is fixture prep, outside the timer)
      val swdir = s"/tmp/graft_scaleprobe_sweep/x$m"
      if (only.isEmpty || only.exists(n => s"sweep_x$m".contains(n) ||
          s"fsck_x$m".contains(n))) {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(swdir))
        graft.ext.TextIndex.build(d, "doc_id", "text", s"$swdir/inv", parts = 16)
        graft.ext.TextIndex.deleteDocs(spark, s"$swdir/inv",
          d.filter(col("doc_id") % 5 === 0), "doc_id")
      }
      // cross-store audit BEFORE the sweep mutates the fixture: one
      // id-set full-outer join per store (the missing fifth shows up)
      time(s"fsck_x$m") {
        graft.ext.StoreMaintenance.fsck(spark, d.select(col("doc_id")),
          "doc_id", Seq(graft.ext.StoreRef("inv", "text", s"$swdir/inv")))
          .count()
      }
      time(s"sweep_x$m") {
        graft.ext.StoreMaintenance.sweep(spark, Seq(
          graft.ext.StoreRef("inv", "text", s"$swdir/inv")),
          threshold = 0.1).count()
      }
      // deterministic distributed LR: 8 narrow passes over the fanned
      // corpus + one scoring pass — wall should track corpus, not iters²
      time(s"classify_lr_x$m") {
        val t = graft.ext.TextAnalysis.tokens(col("text"))
        val feats = Seq(
          (length(col("text")).cast("double") / lit(1000.0) - lit(0.3)) * lit(4.0),
          (size(t).cast("double") / lit(100.0) - lit(0.55)) * lit(4.0))
        val y = when(size(t) >= 55, lit(1.0)).otherwise(lit(0.0))
        val w = graft.ext.Classify.trainLogistic(
          d.filter(col("doc_id") % 5 =!= 0), feats, y, iters = 8, lr = 8.0)
        graft.ext.Classify.scoreLogistic(
          d.filter(col("doc_id") % 5 === 0), "doc_id", feats, w).count()
      }
      // budget calibration: histogram + score-partitioned tie rank —
      // one shuffle on the (bounded-cardinality) score, one scan
      time(s"quality_calibrate_x$m") {
        graft.ext.Sampling.keepTopFraction(
          d.select(col("doc_id"),
            size(graft.ext.TextAnalysis.tokens(col("text"))).cast("long")
              .as("score")),
          col("score"), "doc_id", 0.25).filter(col("kept")).count()
      }
      // the composed pretraining funnel END-TO-END (clean → near-dup
      // resolve → decontaminate → LR calibrate → mix → pack). NOTE the
      // fan's copies share text, so the fanned corpus is a 100%-duplicate
      // stress: the EARLY stages (clean, candidates, components) see m×
      // volume, the post-dedup stages see ~1× — the cost concentration a
      // real recrawl-heavy corpus shows
      var probePacked: DataFrame = null
      time(s"pretrain_pipeline_x$m") {
        val src = d.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(20))))
        val t = graft.ext.TextAnalysis.tokens(col("text"))
        val feats = Seq(
          (length(col("text")).cast("double") / lit(1000.0) - lit(0.3)) * lit(4.0),
          (size(t).cast("double") / lit(100.0) - lit(0.55)) * lit(4.0))
        // eval set and LR training split are REFERENCE inputs (benchmark
        // + labeled data) — they stay at 1× while the corpus fans, or
        // the probe measures a growing benchmark, not a growing corpus
        val res = graft.ext.Curation.pretrain(src, "doc_id", "text", "source",
          evalDocs = docs.filter(col("doc_id") % 17 === 0), "text",
          lrTrain = docs.filter(col("doc_id") % 5 =!= 0),
          features = feats,
          teacher = when(size(t) >= 55, lit(1.0)).otherwise(lit(0.0)),
          cfg = graft.ext.Curation.PretrainConfig(lrIters = 2))
        probePacked = res.packed.localCheckpoint(eager = true)
        probePacked.count()
      }
      // deterministic shard export over the flagship's packed output
      time(s"shard_export_x$m") {
        val dst = s"/tmp/graft_scaleprobe_shards_x$m"
        graft.util.Hfs.delete(spark, dst)
        graft.ext.ShardExport.export(spark, probePacked, 8, dst).count()
      }
    }

    // ---- graph-ANN build: exact O(n²) vs IVF-candidate O(n^1.5·nprobe)
    // (r16). nlist scales ∝ √n — the standard IVF sizing, and the knob
    // that makes the blocked self-join subquadratic: candidate volume is
    // n·nprobe·(n/nlist) = n^1.5·nprobe at nlist = √n. The fanned copies
    // are exact duplicates (cost probe, not recall — GraphCurve measures
    // recall on the real corpus).
    {
      val embAll = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding")).localCheckpoint(eager = true)
      for (m <- Seq(1, mult)) {
        val em = (if (m == 1) embAll else fan(embAll, Seq("vec_id"), m))
          .localCheckpoint(eager = true)
        val nlist = math.max(4,
          math.round(math.sqrt(em.count().toDouble)).toInt)
        time(s"graph_build_brute_x$m") {
          val dir = s"/tmp/graft_scaleprobe_graph/brute_x$m"
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
          graft.ext.GraphAnn.build(em, "vec_id", "embedding", dir,
            degree = 10)
          graft.util.TinyParquet.openStore(spark, s"$dir/adjacency").count()
        }
        time(s"graph_build_ivf_x$m") {
          val dir = s"/tmp/graft_scaleprobe_graph/ivf_x$m"
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
          graft.ext.GraphAnn.buildFromIvf(em, "vec_id", "embedding", dir,
            degree = 10, nlist = nlist, nprobe = 6)
          graft.util.TinyParquet.openStore(spark, s"$dir/adjacency").count()
        }
      }
    }

    // ---- ranking/selection wave (r17): k-center is k embarrassingly
    // parallel passes (expect ~linear·k in corpus); the MMR epilogue is
    // queries·L²-bounded (expect ~linear in QUERY count, corpus-free
    // given the legs); BT's win matrix is one corpus-linear equi-join +
    // groupBy with counter-sized MM rounds; grouped AUC is one groupBy
    // into a histogram window
    {
      val embAll = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding")).localCheckpoint(eager = true)
      for (m <- Seq(1, mult)) {
        val em = (if (m == 1) embAll else fan(embAll, Seq("vec_id"), m))
          .localCheckpoint(eager = true)
        time(s"kcenter_select_x$m") {
          graft.ext.Rerank.kCenterSelect(em, "vec_id", "embedding", 6).count()
        }
      }
      // MMR: corpus fixed, query volume ×10 — the epilogue's own axis
      for (nq <- Seq(16, 16 * mult)) {
        val qs = embAll.filter(col("vec_id") < nq)
        val short = Similarity.bruteForceTopK(qs, embAll,
          "vec_id", "embedding", 12).localCheckpoint(eager = true)
        time(s"mmr_epilogue_q$nq") {
          graft.ext.Rerank.mmrRerank(short, embAll, "vec_id", "embedding",
            k = 5).count()
        }
      }
    }
    for (m <- Seq(1, mult)) {
      val dm = (if (m == 1) Tables.documents(spark, sfDir)
                else fan(Tables.documents(spark, sfDir), Seq("doc_id"), m))
        .localCheckpoint(eager = true)
      time(s"rank_bt_x$m") {
        val a = dm.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("aid"), col("source").as("asrc"),
            col("n_chars").as("ac"))
        val b = dm.select(col("doc_id").as("bid"), col("source").as("bsrc"),
          col("n_chars").as("bc"))
        val pr = a.join(b, col("bid") === col("aid") + 1)
          .filter(col("asrc") =!= col("bsrc"))
        val awins = col("ac") > col("bc") ||
          (col("ac") === col("bc") && col("aid") > col("bid"))
        graft.ext.Preference.bradleyTerry(
          pr.select(when(awins, col("asrc")).otherwise(col("bsrc")).as("w"),
            when(awins, col("bsrc")).otherwise(col("asrc")).as("l")),
          "w", "l").count()
      }
      time(s"eval_auc_x$m") {
        graft.ext.Eval.groupedAuc(
          dm.withColumn("score_q",
            graft.ext.TextAnalysis.stopwordScoreQ(col("text")))
            .filter(col("score_q").isNotNull)
            .select(col("source"), col("score_q"),
              (col("lang") === "en").as("pos")),
          "source", "score_q", "pos").count()
      }
      // r18 wave: the quantile summary is one md5 pass + a counter-
      // sized cut aggregate (expect ~linear scan, constant epilogue);
      // the PAV fit is one grid-bounded histogram shuffle + a grid-
      // sized driver sweep (expect ~linear scan, constant sweep — the
      // grid does not grow with volume)
      time(s"quantile_sketch_x$m") {
        graft.ext.Sketch.quantileSketch(dm, col("doc_id"),
          col("n_chars").cast("long"), k = 256).items.count()
      }
      time(s"calibrate_isotonic_x$m") {
        graft.ext.Calibrate.isotonicFit(
          dm.filter(col("n_chars").isNotNull),
          pmod(col("n_chars"), lit(500L)),
          col("doc_id") % 3 === 0).count()
      }
      // r19 wave: the serve is one grid-bounded window + a broadcast
      // hash probe per row (expect ~linear in the scored corpus, grid
      // epilogue constant); the overlap estimator is two distinct +
      // TakeOrdered(k) cuts (expect ~linear scan, ≤2k epilogue)
      time(s"calibrate_apply_x$m") {
        val fit = graft.ext.Calibrate.isotonicFit(
          dm.filter(col("n_chars").isNotNull && col("doc_id") % 2 === 0),
          pmod(col("n_chars"), lit(500L)), col("doc_id") % 3 === 0)
        graft.ext.Calibrate.isotonicApply(fit,
          dm.filter(col("doc_id") % 2 === 1),
          pmod(col("n_chars"), lit(500L))).count()
      }
      time(s"kmv_overlap_x$m") {
        graft.ext.Sketch.kmvOverlap(
          dm.filter(col("doc_id") % 3 =!= 0),
          dm.filter(col("doc_id") % 3 =!= 1),
          col("text"), k = 128).count()
      }
    }
    // the WMV counts spine: two groupBys + two item windows over the
    // (fanned) ballot log (expect ~linear)
    for (m <- Seq(1, mult)) {
      val e = (if (m == 1) Tables.events(spark, sfDir)
               else fan(Tables.events(spark, sfDir),
                 Seq("event_id", "user_id"), m))
        .localCheckpoint(eager = true)
      time(s"label_wmv_x$m") {
        graft.ext.Labels.weightedMajority(
          e.select((col("event_id") % 300).as("item"),
            col("user_id").as("annotator"), col("event_type").as("label")),
          "item", "annotator", "label").count()
      }
      // r19: two groupBys + counter-sized epilogues (expect ~linear)
      time(s"label_kappa_x$m") {
        graft.ext.Labels.agreementKappa(
          e.select((col("event_id") % 300).as("item"),
            col("event_type").as("label")),
          "item", "label").count()
      }
    }

    // ---- ×100 fan of the RESOLVE stage alone (pairs → components →
    // anti-join): star edges per text group (the x_dedup_resolve shape),
    // so edge volume scales with the duplicate count, not its square —
    // candidate GENERATION at clique-duplication is pair-quadratic in
    // cluster size by LSH construction and is probed at ×10 above
    if (only.isEmpty || only.exists("dedup_resolve_x100".contains)) {
      val d100 = fan(docs, Seq("doc_id"), 100).localCheckpoint(eager = true)
      time("dedup_resolve_x100") {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("text"))
        val pairs = d100.filter(col("text").isNotNull)
          .withColumn("__m", min(col("doc_id")).over(w))
          .filter(col("doc_id") =!= col("__m"))
          .select(col("__m").as("id_a"), col("doc_id").as("id_b"))
        Dedup.dropNearDuplicates(d100, "doc_id", pairs).count()
      }
    }

    // ---- portable vs XXH64 family A/B (1× corpus, gate shapes) ----
    val variants = docs.unionByName(docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zzvariant")).as("text")))
      .localCheckpoint(eager = true)
    for (portable <- Seq(false, true)) {
      val tag = if (portable) "portable" else "xxh64"
      time(s"minhash_$tag") {
        Dedup.minhashCandidates(variants, "doc_id", "text",
          numHashes = 64, bands = 16, shingleSize = 3, minEstJaccard = 0.5,
          portable = portable).count()
      }
      time(s"simhash_$tag") {
        Dedup.simhashPairs(variants, "doc_id", "text", maxHamming = 3,
          portable = portable).count()
      }
    }
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint(eager = true)
    time("emblsh_gaussian") {
      Dedup.embeddingCosinePairs(emb.withColumn("bucket",
          Similarity.hyperplaneBucket(col("embedding"), dim = 64)),
        "vec_id", "embedding", "bucket", threshold = 0.99).count()
    }
    time("emblsh_portable") {
      Dedup.embeddingCosinePairs(emb.withColumn("bucket",
          Similarity.hyperplaneBucketPortable(col("embedding"), dim = 64)),
        "vec_id", "embedding", "bucket", threshold = 0.99).count()
    }
    spark.stop()
  }
}
