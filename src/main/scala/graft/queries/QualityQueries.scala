package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{AnnIndex, Quality, Similarity, Sketch, Stats}

/** Round-12 curation/monitoring wave: portable distinct sketches, drift
  * monitoring, declarative data-quality gates, filtered + truncated-dim
  * vector search. Every query hash-matches a DuckDB replay.
  */
object QualityQueries {
  private def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame) =
    QueryDef(name, fn, Some(oracle))

  /** KMV distinct-count sketch per event_type over user_id — the
    * engine-portable companion of the CMS: k smallest md5-prefix hashes,
    * (k-1)·2^60/h_(k) estimator, small groups degenerate to exact
    * counts. The ESTIMATES hash-match (the sketch replays bit-for-bit),
    * not just an error band; `x_approx_distinct_gate` keeps pinning the
    * built-in HLL's band separately.
    */
  val distinctKmv = q("x_distinct_kmv",
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |         CAST(CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS h
      |  FROM events WHERE user_id IS NOT NULL),
      |r AS (SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
      |kept AS (SELECT event_type, max(h) AS hk, max(rn) AS n
      |         FROM r WHERE rn <= 64 GROUP BY event_type)
      |SELECT event_type,
      |       CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
      |            ELSE 63.0 * 1152921504606846976 / hk END AS est_distinct
      |FROM kept""".stripMargin) { (s, dir) =>
    Sketch.kmvDistinct(Tables.events(s, dir), "event_type", col("user_id"), 64)
  }

  /** KMV set-operation algebra ([[Sketch.kmvOverlap]], Beyer et al.
    * 2007): union / Jaccard / intersection of two document corpora
    * estimated from their text k-min sketches alone — the "how much
    * does the new crawl overlap the existing corpus" monitor, never a
    * cross-corpus join. Corpus A = sources src0-src9, corpus B =
    * src5-src14 (a genuine planted overlap: the five shared sources);
    * the oracle replays both side sketches, the union re-cut, the
    * membership flags, and the exact one-divide estimator arithmetic —
    * a drifted k-th order statistic or one misflagged membership
    * breaks the hash.
    */
  val distinctOverlap = q("x_distinct_overlap",
    """WITH d AS (SELECT text, CAST(substring(source, 4) AS INT) AS sid
      |           FROM documents WHERE text IS NOT NULL),
      |a AS (SELECT DISTINCT CAST(CAST('0x' || substring(md5(text), 1, 15) AS UBIGINT) AS BIGINT) AS h
      |      FROM d WHERE sid BETWEEN 0 AND 9),
      |b AS (SELECT DISTINCT CAST(CAST('0x' || substring(md5(text), 1, 15) AS UBIGINT) AS BIGINT) AS h
      |      FROM d WHERE sid BETWEEN 5 AND 14),
      |ka AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) rn FROM a) WHERE rn <= 128),
      |kb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) rn FROM b) WHERE rn <= 128),
      |u AS (SELECT coalesce(ka.h, kb.h) AS h,
      |             CASE WHEN ka.h IS NOT NULL THEN 1 ELSE 0 END AS ina,
      |             CASE WHEN kb.h IS NOT NULL THEN 1 ELSE 0 END AS inb
      |      FROM ka FULL JOIN kb ON ka.h = kb.h),
      |s AS (SELECT * FROM (SELECT *, row_number() OVER (ORDER BY h) rn FROM u) WHERE rn <= 128),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk,
      |             CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
      |      FROM s)
      |SELECT n_kept, n_both,
      |       CASE WHEN n_kept < 128 THEN CAST(n_kept AS DOUBLE)
      |            ELSE 127.0 * 1152921504606846976 / hk END AS est_union,
      |       CASE WHEN n_kept = 0 THEN 0.0
      |            ELSE CAST(n_both AS DOUBLE) / n_kept END AS jaccard_est,
      |       CASE WHEN n_kept < 128 THEN CAST(n_both AS DOUBLE)
      |            ELSE (CAST(n_both AS DOUBLE) / n_kept)
      |                 * (127.0 * 1152921504606846976 / hk) END AS est_intersect
      |FROM g""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("text"),
        substring(col("source"), 4, 10).cast("int").as("sid"))
    Sketch.kmvOverlap(
      d.filter(col("sid").between(0, 9)),
      d.filter(col("sid").between(5, 14)),
      col("text"), k = 128)
  }

  /** The all-pairs corpus-overlap MATRIX from per-source k-min sketches
    * ([[Sketch.kmvOverlapMatrix]]): every source pair's
    * union/Jaccard/intersection estimates in one sketch pass + a
    * (groups²·k)-bounded epilogue — the sketch companion of the exact
    * `x_dedup_matrix` (which joins; this one still runs when every
    * source is 100 TB). Same mirrored slice planted, so the mirror row
    * overlaps every source it sampled. The oracle replays the
    * per-group sketches, every pair's union re-cut and membership
    * flags, and the estimator arithmetic pair by pair; under-k pairs
    * degenerate to exact counts (the whole matrix at sf0.01, the
    * trimmed regime at sf0.1 — both gated).
    */
  val overlapMatrix = q("x_overlap_matrix",
    """WITH corpus AS (
      |  SELECT text, source FROM documents WHERE text IS NOT NULL
      |  UNION ALL
      |  SELECT text, 'mirror' FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL),
      |h AS (SELECT DISTINCT source AS g,
      |             CAST(CAST('0x' || substring(md5(text), 1, 15) AS UBIGINT) AS BIGINT) AS h
      |      FROM corpus),
      |s AS (SELECT g, h FROM (
      |        SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) rn FROM h)
      |      WHERE rn <= 64),
      |p AS (SELECT a.g AS ga, b.g AS gb
      |      FROM (SELECT DISTINCT g FROM s) a JOIN (SELECT DISTINCT g FROM s) b ON a.g < b.g),
      |it AS (SELECT p.ga, p.gb, s.h,
      |              max(CASE WHEN s.g = p.ga THEN 1 ELSE 0 END) AS ina,
      |              max(CASE WHEN s.g = p.gb THEN 1 ELSE 0 END) AS inb
      |       FROM p JOIN s ON s.g = p.ga OR s.g = p.gb
      |       GROUP BY 1, 2, 3),
      |kk AS (SELECT * FROM (
      |         SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) rn FROM it)
      |       WHERE rn <= 64),
      |g AS (SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk,
      |             CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
      |      FROM kk GROUP BY 1, 2)
      |SELECT ga AS group_a, gb AS group_b, n_kept, n_both,
      |       CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
      |            ELSE 63.0 * 1152921504606846976 / hk END AS est_union,
      |       CASE WHEN n_kept = 0 THEN 0.0
      |            ELSE CAST(n_both AS DOUBLE) / n_kept END AS jaccard_est,
      |       CASE WHEN n_kept < 64 THEN CAST(n_both AS DOUBLE)
      |            ELSE (CAST(n_both AS DOUBLE) / n_kept)
      |                 * (63.0 * 1152921504606846976 / hk) END AS est_intersect
      |FROM g""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
    val corpus = docs.select(col("text"), col("source"))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select(col("text"), lit("mirror").as("source")))
    Sketch.kmvOverlapMatrix(corpus, "source", col("text"), k = 64)
  }

  /** Mergeable quantile summary under full hash
    * ([[Sketch.quantileSketch]], r17 VERDICT item 3): the KLL-style
    * level sample over the documents' n_chars at capacity 256 —
    * md5-driven levels, smallest fitting cut, 2^L weights — probed at
    * seven percentiles. The oracle replays the ENTIRE path from the
    * same table: the level chain ([[Sketch.quantileLevelSql]] emits the
    * identical CASE), the cut selection, the kept set's weighted ranks,
    * the exact order-statistic probes — plus the rank-error invariant
    * (|est − true| ≤ 15%·n, ~5σ at this capacity) as a hashed boolean
    * column, so the summary is both bit-pinned AND provably useful.
    * Scale shape: one md5 pass, one counter-sized cut aggregate, a
    * ≤ 256-row broadcast for estimates; the probe machinery
    * (distinct-value cumulative histogram) is value-domain-bounded.
    */
  val statsQuantileSketch = q("x_quantile_sketch", {
    val lvl = Sketch.quantileLevelSql("h", 20)
    s"""WITH src AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS v
       |             FROM documents WHERE n_chars IS NOT NULL),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM src),
       |lv AS (SELECT v, $lvl AS lvl FROM (
       |        SELECT v, CAST('0x' || substring(md5('qs:' || CAST(doc_id AS VARCHAR)), 1, 15) AS UBIGINT) AS h
       |        FROM src)),
       |lc AS (SELECT lvl, count(*) AS c FROM lv GROUP BY 1),
       |lev AS (SELECT l, coalesce((SELECT sum(c) FROM lc WHERE lvl >= l), 0) AS cnt
       |        FROM (SELECT unnest(generate_series(0, 20)) AS l)),
       |lsel AS (SELECT CAST(min(l) AS INTEGER) AS lvl_sel FROM lev WHERE cnt <= 256),
       |kept AS (SELECT v FROM lv, lsel WHERE lvl >= lvl_sel),
       |nk AS (SELECT CAST(count(*) AS BIGINT) AS n_kept FROM kept),
       |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum
       |        FROM (SELECT v, count(*) AS c FROM src GROUP BY 1)),
       |probes AS (SELECT pct, greatest(1, (pct * n_total) // 100) AS idx
       |           FROM (SELECT unnest([1, 5, 25, 50, 75, 95, 99]) AS pct), n),
       |pv AS (SELECT pct, min(v) AS probe_v
       |       FROM probes JOIN cum ON cum.cum >= probes.idx GROUP BY 1),
       |tr AS (SELECT pct, probe_v,
       |              (SELECT CAST(count(*) AS BIGINT) FROM src WHERE src.v <= pv.probe_v) AS true_rank
       |       FROM pv),
       |er AS (SELECT pct, probe_v,
       |              CAST((SELECT count(*) FROM kept WHERE kept.v <= pv.probe_v)
       |                   * (CAST(1 AS BIGINT) << lsel.lvl_sel) AS BIGINT) AS est_rank
       |       FROM pv, lsel)
       |SELECT er.pct, er.probe_v, (SELECT lvl_sel FROM lsel) AS level,
       |       (SELECT n_kept FROM nk) AS n_kept,
       |       (SELECT n_total FROM n) AS n_total,
       |       er.est_rank, tr.true_rank,
       |       abs(er.est_rank - tr.true_rank) * 20 <= (SELECT n_total FROM n) * 3 AS rank_ok
       |FROM er JOIN tr USING (pct, probe_v)""".stripMargin
  }) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val src = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .localCheckpoint(eager = true) // sketch + histogram + count share it
    // three INDEPENDENT job chains off the shared src block — the sketch
    // (level selection + kept cut + size), the total count, and the
    // distinct-VALUE cumulative histogram (the probe order statistics
    // without a corpus-wide row_number: the window runs over the value
    // domain, not the rows). Each leg runs driver-blocking jobs, so they
    // overlap from a bounded pool (§2.6 — the x_text_asof discipline)
    // instead of paying the sum of three job-latency chains.
    val legs = graft.util.Par.all(3)(Seq(
      () => {
        val summary = Sketch.quantileSketch(src, col("doc_id"), col("__v"),
          k = 256, maxLevel = 20)
        val kept = summary.items.localCheckpoint(eager = true) // est + size
        (summary.level, kept, kept.count()): Any
      },
      () => src.count(): Any,
      () => src.groupBy(col("__v")).agg(count(lit(1)).as("__c"))
        .localCheckpoint(eager = true): Any))
    val (level, kept, nKept) =
      legs(0).asInstanceOf[(Int, DataFrame, Long)]
    val nTotal = legs(1).asInstanceOf[Long]
    val hist = legs(2).asInstanceOf[DataFrame]
    val cum = hist.withColumn("__cum",
      sum(col("__c")).over(Window.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val probes = s.range(1).select(explode(array(
        Seq(1, 5, 25, 50, 75, 95, 99).map(p => struct(
          lit(p).as("pct"),
          lit(math.max(1L, p.toLong * nTotal / 100L)).as("__idx"))): _*))
        .as("__s"))
      .select(col("__s.pct").as("pct"), col("__s.__idx").as("__idx"))
    val pv = probes.join(broadcast(cum), col("__cum") >= col("__idx"))
      .groupBy(col("pct")).agg(min(col("__v")).as("probe_v"))
      .localCheckpoint(eager = true) // both rank legs read it
    val tr = pv.join(broadcast(hist), col("__v") <= col("probe_v"), "left")
      .groupBy(col("pct"), col("probe_v"))
      .agg(coalesce(sum(col("__c")), lit(0L)).as("true_rank"))
    val er = pv.join(broadcast(kept.select(col("__v").as("__kv"))),
        col("__kv") <= col("probe_v"), "left")
      .groupBy(col("pct"), col("probe_v"))
      .agg((count(col("__kv")) * lit(1L << level)).as("est_rank"))
    er.join(tr, Seq("pct", "probe_v"))
      .select(col("pct"), col("probe_v"), lit(level).as("level"),
        lit(nKept).as("n_kept"), lit(nTotal).as("n_total"),
        col("est_rank"), col("true_rank"),
        (abs(col("est_rank") - col("true_rank")) * 20 <=
          lit(nTotal) * 3).as("rank_ok"))
  }

  /** One memoized quantile-sketch stream run per fixture (the
    * [[InputPrep.sharedRuns]] discipline): the micro-batch maintenance
    * publishes each batch's trimmed level items exactly once; the gate
    * reads the store.
    */
  private val qsketchRuns =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[queries] def qsketchStore(s: SparkSession, dir: String): String =
    qsketchRuns.computeIfAbsent(Staging.tag(dir), tag => {
      val store = s"/tmp/graft_stream_qsketch/${tag}_store"
      graft.streaming.EventStreams.runQuantileSketchOnce(s,
        stageEventSpool2(s, dir), store,
        key = col("event_id"),
        value = round(col("value") * 100, 0).cast("long"),
        k = 128, rowFilter = col("value").isNotNull)
      store
    })

  /** The quantile summary maintained FROM THE STREAM: per micro-batch
    * the trimmed (level, value) items publish exactly once with the
    * batch's cut as merge floor; the re-cut union must equal the
    * one-shot summary over the same event log EXACTLY — same cut level,
    * same kept multiset (level cuts only deepen under union, so no
    * batch trim can lose a row the union cut keeps). A lost batch, a
    * double publish, or a floor-less re-cut (offering the union a level
    * some batch already trimmed away) all break the equality.
    */
  val streamQuantileSketch = q("x_stream_quantile_sketch",
    "SELECT true AS stream_qsketch_ok") { (s, dir) =>
    val streamed = graft.streaming.EventStreams.readQuantileSketch(s,
      qsketchStore(s, dir), k = 128)
    val batch = Sketch.quantileSketch(
      Tables.events(s, dir).filter(col("value").isNotNull),
      col("event_id"), round(col("value") * 100, 0).cast("long"),
      k = 128)
    val a = streamed.items.groupBy(col("__lvl"), col("__v"))
      .agg(count(lit(1)).as("__na"))
    val b = batch.items.groupBy(col("__lvl"), col("__v"))
      .agg(count(lit(1)).as("__nb"))
    a.join(b, Seq("__lvl", "__v"), "full")
      .agg((lit(streamed.level == batch.level) &&
        count(lit(1)) === count(col("__na")) &&
        count(lit(1)) === count(col("__nb")) &&
        coalesce(max(when(col("__na") =!= col("__nb"), 1).otherwise(0)) === 0,
          lit(true))).as("stream_qsketch_ok"))
  }

  /** The quantile store's TAKEDOWN leg (the KMV deletion precedent,
    * r18 VERDICT scope gap 1): order statistics cannot subtract, so a
    * forget reaching a quantile-summary store is rebuild-on-cadence
    * from the survivors — wired through the real takedown cascade
    * ([[graft.ext.CascadeDelete.forget]] with a
    * [[graft.ext.QuantileStoreTarget]]), not a bespoke call. The store
    * starts as a full-corpus generation (so the crash-safe swap
    * exercises the replace path), every event_id ≡ 3 (mod 7) is
    * forgotten, and the post-forget store must equal the one-shot
    * summary of the survivors EXACTLY — the oracle replays that
    * summary from the base table (md5 level chain, smallest fitting
    * cut, kept multiset), so a stale item that out-lived its takedown
    * breaks the hash.
    */
  val streamQsketchForget = q("x_stream_qsketch_forget", {
    val lvl = Sketch.quantileLevelSql("h", 20)
    s"""WITH src AS (SELECT event_id, CAST(round(value * 100, 0) AS BIGINT) AS v
       |             FROM events
       |             WHERE value IS NOT NULL AND event_id % 7 <> 3),
       |lv AS (SELECT v, $lvl AS lvl FROM (
       |        SELECT v, CAST('0x' || substring(md5('qs:' || CAST(event_id AS VARCHAR)), 1, 15) AS UBIGINT) AS h
       |        FROM src)),
       |lc AS (SELECT lvl, count(*) AS c FROM lv GROUP BY 1),
       |lev AS (SELECT l, coalesce((SELECT sum(c) FROM lc WHERE lvl >= l), 0) AS cnt
       |        FROM (SELECT unnest(generate_series(0, 20)) AS l)),
       |lsel AS (SELECT CAST(min(l) AS INTEGER) AS lvl_sel FROM lev WHERE cnt <= 128)
       |SELECT (SELECT lvl_sel FROM lsel) AS level, lvl, v,
       |       CAST(count(*) AS BIGINT) AS cnt
       |FROM lv, lsel WHERE lvl >= lvl_sel GROUP BY 2, 3""".stripMargin
  }) { (s, dir) =>
    val store = s"/tmp/graft_stream_qsketch/${Staging.tag(dir)}_forget"
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
    val v = round(col("value") * 100, 0).cast("long")
    // the prior generation a production takedown would find
    graft.streaming.EventStreams.rebuildQuantileStore(s, store, ev,
      col("event_id"), v, k = 128)
    graft.ext.CascadeDelete.forget(s,
      Tables.events(s, dir).filter(col("event_id") % 7 === 3)
        .select(col("event_id")),
      "event_id",
      graft.ext.CascadeTargets(quantileStores = Seq(
        graft.ext.QuantileStoreTarget(store, ev, "event_id", v, k = 128))))
    val summary = graft.streaming.EventStreams.readQuantileSketch(s, store,
      k = 128)
    summary.items.groupBy(col("__lvl").as("lvl"), col("__v").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .select(lit(summary.level).as("level"), col("lvl"), col("v"),
        col("cnt"))
  }

  /** PSI drift between the even/odd event_id halves of the event stream,
    * per event_type, over 20 unit-width value bins on [0, 20) (values
    * past the domain clamp into the edge bin) — the scheduled
    * feature-drift monitor. The halves are statistically identical, so
    * healthy PSI ≈ 0 — and the oracle replays the exact smoothed
    * arithmetic, not the "close to zero" judgment.
    */
  val driftPsi = q("x_drift_psi",
    """WITH e AS (
      |  SELECT event_type, value, event_id % 2 AS side FROM events
      |  WHERE value IS NOT NULL),
      |b AS (
      |  SELECT event_type,
      |         CAST(least(greatest(floor((value - 0.0) / 1.0), 0), 19) AS INT) AS bin,
      |         CASE WHEN side = 0 THEN 1 ELSE 0 END AS r,
      |         CASE WHEN side = 1 THEN 1 ELSE 0 END AS c
      |  FROM e),
      |counts AS (SELECT event_type, bin, sum(r) AS nr, sum(c) AS nc FROM b GROUP BY 1, 2),
      |tot AS (SELECT event_type, sum(nr) AS tr, sum(nc) AS tc FROM counts GROUP BY 1),
      |dom AS (
      |  SELECT t.event_type, t.tr, t.tc, bb.bin,
      |         coalesce(counts.nr, 0) AS nr, coalesce(counts.nc, 0) AS nc
      |  FROM tot t
      |  CROSS JOIN (SELECT UNNEST(generate_series(0, 19)) AS bin) bb
      |  LEFT JOIN counts ON counts.event_type = t.event_type AND counts.bin = bb.bin)
      |SELECT event_type, CAST(tr AS BIGINT) AS n_ref, CAST(tc AS BIGINT) AS n_cur,
      |       round(sum(((nr + 0.5) / (tr + 10.0) - (nc + 0.5) / (tc + 10.0))
      |             * ln(((nr + 0.5) / (tr + 10.0)) / ((nc + 0.5) / (tc + 10.0)))), 6) AS psi
      |FROM dom
      |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
    Stats.psi(e.filter(col("event_id") % 2 === 0),
      e.filter(col("event_id") % 2 === 1),
      "event_type", col("value"), bins = 20, lo = 0.0, hi = 20.0)
  }

  /** KS drift beside PSI over the same halves and bins: the largest gap
    * between the binned CDFs — PSI fires on relative tail shifts, KS on
    * the worst cumulative gap; monitoring stacks run both. The cumsum,
    * share division, and max-gap all replay exactly.
    */
  val driftKs = q("x_drift_ks",
    """WITH e AS (
      |  SELECT event_type, value, event_id % 2 AS side FROM events
      |  WHERE value IS NOT NULL),
      |b AS (
      |  SELECT event_type,
      |         CAST(least(greatest(floor((value - 0.0) / 1.0), 0), 19) AS INT) AS bin,
      |         CASE WHEN side = 0 THEN 1 ELSE 0 END AS r,
      |         CASE WHEN side = 1 THEN 1 ELSE 0 END AS c
      |  FROM e),
      |counts AS (SELECT event_type, bin, sum(r) AS nr, sum(c) AS nc FROM b GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, bin, nr, nc,
      |         sum(nr) OVER (PARTITION BY event_type ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cr,
      |         sum(nc) OVER (PARTITION BY event_type ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cc
      |  FROM counts),
      |tot AS (SELECT event_type, sum(nr) AS tr, sum(nc) AS tc FROM counts GROUP BY 1)
      |SELECT t.event_type, CAST(t.tr AS BIGINT) AS n_ref, CAST(t.tc AS BIGINT) AS n_cur,
      |       max(abs(CAST(cr AS DOUBLE) / tr - CAST(cc AS DOUBLE) / tc)) AS ks
      |FROM cum JOIN tot t USING (event_type)
      |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
    Stats.ksDrift(e.filter(col("event_id") % 2 === 0),
      e.filter(col("event_id") % 2 === 1),
      "event_type", col("value"), bins = 20, lo = 0.0, hi = 20.0)
  }

  /** Declarative data-quality gate over orders: four row expectations in
    * ONE counter-aggregate scan plus referential integrity to customer
    * as a broadcast anti-join — the publish-time contract report. The
    * price-cap rule is deliberately tight enough to FIRE on real rows,
    * so the report's violation arithmetic (not just all-zero passes) is
    * what hash-matches.
    */
  val dqExpectations = q("x_dq_expectations",
    """SELECT 'o_orderkey_not_null' AS rule,
      |       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) = 0 AS pass
      |FROM orders
      |UNION ALL
      |SELECT 'o_totalprice_under_400k',
      |       CAST(sum(CASE WHEN o_totalprice IS NULL OR NOT (o_totalprice >= 0 AND o_totalprice < 400000) THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(count(*) AS BIGINT),
      |       CAST(sum(CASE WHEN o_totalprice IS NULL OR NOT (o_totalprice >= 0 AND o_totalprice < 400000) THEN 1 ELSE 0 END) AS BIGINT) = 0
      |FROM orders
      |UNION ALL
      |SELECT 'o_orderstatus_in_domain',
      |       CAST(sum(CASE WHEN o_orderstatus IS NULL OR o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(count(*) AS BIGINT),
      |       CAST(sum(CASE WHEN o_orderstatus IS NULL OR o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT) = 0
      |FROM orders
      |UNION ALL
      |SELECT 'o_orderdate_after_1994',
      |       CAST(sum(CASE WHEN o_orderdate IS NULL OR NOT (o_orderdate >= DATE '1995-01-01') THEN 1 ELSE 0 END) AS BIGINT),
      |       CAST(count(*) AS BIGINT),
      |       CAST(sum(CASE WHEN o_orderdate IS NULL OR NOT (o_orderdate >= DATE '1995-01-01') THEN 1 ELSE 0 END) AS BIGINT) = 0
      |FROM orders
      |UNION ALL
      |SELECT 'o_custkey_in_customer',
      |       CAST((SELECT count(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |             WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL) AS BIGINT),
      |       CAST((SELECT count(*) FROM orders) AS BIGINT),
      |       CAST((SELECT count(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |             WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL) AS BIGINT) = 0""".stripMargin) {
    (s, dir) =>
      val orders = Tables.orders(s, dir)
      Quality.expectations(orders, Seq(
        "o_orderkey_not_null" -> col("o_orderkey").isNotNull,
        "o_totalprice_under_400k" ->
          (col("o_totalprice") >= 0 && col("o_totalprice") < 400000),
        "o_orderstatus_in_domain" ->
          col("o_orderstatus").isin("O", "F", "P"),
        "o_orderdate_after_1994" ->
          (col("o_orderdate") >= lit(java.sql.Date.valueOf("1995-01-01"))),
      )).unionByName(Quality.referentialViolations(orders, "o_custkey",
        Tables.customer(s, dir), "c_custkey", "o_custkey_in_customer"))
  }

  /** FILTERED vector search against the persisted IVF index: the
    * metadata predicate (even neighbor ids here) composes with nprobe
    * partition pruning INSIDE the pruned codes scan, and the result is
    * the exact top-k of the probed ∩ predicate corpus — never the
    * under-filled k of post-filtering a top-k list. Oracle = the
    * x_knn_ivf replay with the same predicate on the stored rows.
    */
  val knnFiltered = q("x_knn_filtered",
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
      |  FROM read_parquet('__GRAFT_ANNIDX__/ivf/vectors/*/*.parquet', hive_partitioning=1)
      |  WHERE __id % 2 = 0),
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
      val idx = ExtensionQueries.stageAnnIndexes(s, dir)
      AnnIndex.ivfTopK(s, AnnIndex.readIvf(s, s"$idx/ivf"),
        Tables.embeddings(s, dir).filter(col("vec_id") < 5),
        "vec_id", "embedding", 5, nprobe = 4,
        where = pmod(col("__id"), lit(2)) === 0)
  }

  /** Matryoshka-style truncated-dimension search: score on the LEADING
    * 16 of 64 dimensions (the MRL deployment trick — a prefix of an
    * embedding trained for it is itself an embedding; cosine needs no
    * re-normalization since it normalizes per pair). The cheap first
    * pass of a truncate-then-rerank cascade, exact over its truncated
    * geometry — so it hash-matches, unlike a recall-banded approximation.
    */
  val knnMrl = q("x_knn_mrl",
    """WITH q AS (
      |  SELECT vec_id AS qid, embedding[1:16] AS qv FROM embeddings WHERE vec_id < 5),
      |c AS (SELECT vec_id, embedding[1:16] AS cv FROM embeddings),
      |scored AS (
      |  SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
      |         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[])) AS s
      |  FROM q, c WHERE c.vec_id <> q.qid),
      |r AS (SELECT query_id, neighbor_id, s,
      |             row_number() OVER (PARTITION BY query_id ORDER BY round(s, 4) DESC, neighbor_id) AS rank
      |      FROM scored)
      |SELECT query_id, rank, neighbor_id, round(s, 4) AS cosine FROM r WHERE rank <= 5""".stripMargin) {
    (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", 5)
  }

  /** Exact triangle count over a deterministic unipartite projection of
    * the event log (user ids and event-id buckets share the 0..149 id
    * space, so triangles exist) — the compact-forward degree-ordered
    * orientation: the wedge join fans out by ORIENTED degree, so hubs
    * never explode it. Oracle replays simplification, degrees, the
    * packed (degree·2^32 + id) orientation key, wedges and closure.
    */
  val triangleCount = q("x_triangle_count",
    """WITH g AS (SELECT user_id AS u, event_id % 150 AS v FROM events),
      |raw AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
      |        FROM g WHERE u <> v AND u IS NOT NULL AND v IS NOT NULL),
      |deg AS (SELECT n, count(*) AS c
      |        FROM (SELECT a AS n FROM raw UNION ALL SELECT b FROM raw)
      |        GROUP BY 1),
      |keyed AS (
      |  SELECT a, b, da.c * 4294967296 + a AS ka, db.c * 4294967296 + b AS kb
      |  FROM raw JOIN deg da ON da.n = a JOIN deg db ON db.n = b),
      |e AS (SELECT CASE WHEN ka < kb THEN a ELSE b END AS s,
      |             CASE WHEN ka < kb THEN b ELSE a END AS d,
      |             greatest(ka, kb) AS kd
      |      FROM keyed),
      |w AS (SELECT e1.d AS d1, e2.d AS d2
      |      FROM e e1 JOIN e e2 ON e1.s = e2.s AND e1.kd < e2.kd)
      |SELECT CAST(count(*) AS BIGINT) AS n_triangles
      |FROM w JOIN e ON e.s = w.d1 AND e.d = w.d2""".stripMargin) { (s, dir) =>
    graft.ext.Graph.triangleCount(
      Tables.events(s, dir).select(col("user_id").as("u"),
        pmod(col("event_id"), lit(150)).as("v")), "u", "v")
  }

  /** Point-in-time dimension read: the SCD2 history of x_scd2 queried
    * as of 2024-01-10 — each user's state row whose [valid_from,
    * valid_to) interval contains T; users first seen after T are
    * absent. One pushed filter over the history, no join.
    */
  val scd2AsOf = q("x_scd2_asof",
    """WITH o AS (SELECT user_id, ts, event_id, event_type,
      |                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |           FROM events),
      |f AS (SELECT *, CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS chg
      |      FROM o),
      |g AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                               ROWS UNBOUNDED PRECEDING) AS run FROM f),
      |runs AS (SELECT user_id, run, min(event_type) AS event_type,
      |                min(ts) AS valid_from, count(*) AS n_rows
      |         FROM g GROUP BY 1, 2),
      |hist AS (
      |  SELECT user_id, event_type, valid_from,
      |         lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to,
      |         n_rows
      |  FROM runs)
      |SELECT user_id, event_type, valid_from, valid_to, n_rows
      |FROM hist
      |WHERE valid_from <= TIMESTAMP '2024-01-10 00:00:00'
      |  AND (valid_to IS NULL OR TIMESTAMP '2024-01-10 00:00:00' < valid_to)""".stripMargin) {
    (s, dir) =>
      val hist = graft.ext.Scd2.intervals(
        Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
          col("event_type")),
        "user_id", "ts", "event_id", "event_type")
      graft.ext.Scd2.asOf(hist,
          lit(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")))
        .drop("is_current")
  }

  /** Ordered funnel view → click → purchase over the FIRST 36 HOURS
    * of the event stream (the full month saturates: every user
    * eventually does everything; the narrow window leaves a real
    * 72 → 30 → 8-shaped funnel so the strictly-after chaining is
    * exercised, not just membership). Each stage is reached strictly
    * after the user's previous-stage moment. Timestamps are unique in
    * this corpus, so the oracle's min(ts) chain replays the operator's
    * (ts, tie) order exactly.
    */
  val funnel = q("x_funnel",
    """WITH ew AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-02 12:00:00'),
      |v AS (SELECT user_id, min(ts) AS t FROM ew WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t
      |      FROM ew e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS t
      |      FROM ew e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY 1)
      |SELECT 0 AS stage_index, 'view' AS stage, CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
      |UNION ALL
      |SELECT 1, 'click', CAST((SELECT count(*) FROM c) AS BIGINT)
      |UNION ALL
      |SELECT 2, 'purchase', CAST((SELECT count(*) FROM p) AS BIGINT)""".stripMargin) {
    (s, dir) =>
      graft.ext.Funnel.funnelCounts(
        Tables.events(s, dir)
          .filter(col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-02 12:00:00"))),
        "user_id", "ts", "event_id", Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
  }

  /** Hashing-trick feature vector over (event_type × integer value
    * bin) — the no-vocabulary featurizer; signed buckets so collisions
    * cancel in expectation. The full k-bucket vector hash-matches the
    * replay, which is exactly the train/serve-skew check two stacks
    * would run. Weights accumulate in FIXED-POINT int64 (1e-4 units):
    * per-row floor is a deterministic IEEE expression and the integer
    * sum is order-free, so the vector — including the derived double —
    * is bit-exact with no rounding tolerance.
    */
  val featureHash = q("x_feature_hash",
    """WITH f AS (
      |  SELECT event_type || ':' || CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS feat, value
      |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      |h AS (
      |  SELECT CAST(CAST('0x' || substring(md5(feat), 1, 15) AS UBIGINT) AS BIGINT) % 32 AS bucket,
      |         (CASE WHEN CAST(CAST('0x' || substring(md5('s:' || feat), 1, 15) AS UBIGINT) AS BIGINT) % 2 = 0
      |              THEN 1 ELSE -1 END) * CAST(floor(value * 10000) AS BIGINT) AS wq
      |  FROM f)
      |SELECT bucket, CAST(sum(wq) AS BIGINT) AS weight_q,
      |       CAST(sum(wq) AS DOUBLE) / 10000 AS weight,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM h GROUP BY 1""".stripMargin) { (s, dir) =>
    Sketch.featureHash(Tables.events(s, dir),
      concat(col("event_type"), lit(":"),
        floor(col("value")).cast("long").cast("string")),
      col("value"), 32)
  }

  /** SEMANTIC decontamination — the embedding-space leg of the
    * train/test firewall beside the lexical 13-gram drop: corpus rows
    * within rounded-cosine 0.99 of ANY benchmark vector are removed
    * (paraphrases and translations that n-grams miss). The planted
    * 1.01-scaled variants of benchmark vectors must vanish; the oracle
    * replays the NOT EXISTS against the broadcast-sized bench side.
    */
  val decontaminateSemantic = q("x_decontaminate_semantic",
    s"""WITH a AS (SELECT vec_id, embedding FROM ${ExtensionQueries.embWithVariantsSql}),
       |corpus AS (SELECT vec_id, embedding FROM a WHERE vec_id >= 20),
       |bench AS (SELECT embedding AS bv FROM embeddings WHERE vec_id < 20)
       |SELECT c.vec_id FROM corpus c
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM bench b
       |  WHERE round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
       |              CAST(b.bv AS DOUBLE[])), 4) >= 0.99)""".stripMargin) { (s, dir) =>
    val all = ExtensionQueries.embWithVariants(s, dir)
    graft.ext.CorpusClean.decontaminateSemantic(
        all.filter(col("vec_id") >= 20).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding",
        Tables.embeddings(s, dir).filter(col("vec_id") < 20),
        "embedding", threshold = 0.99)
      .select(col("vec_id"))
  }

  /** Token-budget mixing — the unit training corpora are specified in:
    * per source, documents admitted in deterministic md5 order until
    * the source's cumulative token count would cross 800 (row-count
    * mixes over-weight long-document sources; "N tokens of X" is the
    * real contract). Window cumsum per source; the oracle replays
    * order, counts, and the cut.
    */
  val tokenBudgetMix = q("x_token_budget_mix",
    """WITH t AS (
      |  SELECT doc_id, source,
      |         len(list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')) AS tok,
      |         md5(CAST(doc_id AS VARCHAR)) AS ord
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source,
      |         sum(tok) OVER (PARTITION BY source ORDER BY ord, CAST(doc_id AS VARCHAR)
      |                        ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT doc_id, source FROM c WHERE cum <= 800""".stripMargin) { (s, dir) =>
    graft.ext.Sampling.tokenBudgetMix(
        Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text")),
        col("source"), col("text"), col("doc_id"), budget = 800L)
      .select(col("doc_id"), col("source"))
  }

  /** Cross-source duplication matrix — dedup observability: exact-dup
    * PAIR counts per (source, source), in closed form from
    * per-(text, source) multiplicities (n_a·n_b cross, C(n,2) within) —
    * no pair set materializes. A mirrored slice of every 10th doc
    * plants known cross-source mass.
    */
  val dedupMatrix = q("x_dedup_matrix",
    """WITH corpus AS (
      |  SELECT text, source FROM documents
      |  UNION ALL
      |  SELECT text, 'mirror' FROM documents WHERE doc_id % 10 = 0),
      |g AS (SELECT md5(text) AS h, source AS s, count(*) AS n
      |      FROM corpus WHERE text IS NOT NULL GROUP BY 1, 2)
      |SELECT a.s AS source_a, b.s AS source_b,
      |       CAST(sum(CASE WHEN a.s = b.s THEN (a.n * (a.n - 1)) // 2
      |                     ELSE a.n * b.n END) AS BIGINT) AS n_pairs
      |FROM g a JOIN g b ON a.h = b.h AND a.s <= b.s
      |GROUP BY 1, 2
      |HAVING sum(CASE WHEN a.s = b.s THEN (a.n * (a.n - 1)) // 2
      |               ELSE a.n * b.n END) > 0""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val corpus = docs.select(col("text"), col("source"))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select(col("text"), lit("mirror").as("source")))
    graft.ext.Dedup.crossSourceDupMatrix(corpus, "text", "source")
  }

  /** Streaming KMV maintenance through the real streaming path: per
    * micro-batch k-min trims published exactly once into a delta store;
    * k-min is associative, so the re-minimized union must equal the
    * one-shot batch sketch EXACTLY — estimate-for-estimate, the same
    * integer-free determinism as the CMS gate.
    */
  /** One memoized KMV-append stream run per fixture (the
    * [[InputPrep.sharedRuns]] discipline — this gate ran its stream
    * in-timer through r19's first rep, 4.8 s): the micro-batch
    * maintenance publishes per-batch k-min deltas exactly once; the
    * gate reads the store. The DELETION leg rebuilds a SEPARATE
    * gate-owned store copy, so the shared append store survives
    * repeated gate invocations in one JVM.
    */
  private val kmvRuns =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[queries] def kmvAppendStore(s: SparkSession, dir: String): String =
    kmvRuns.computeIfAbsent(Staging.tag(dir), tag => {
      val store = s"/tmp/graft_stream_kmv/${tag}_store"
      graft.streaming.EventStreams.runKmvAppendOnce(s,
        stageEventSpool2(s, dir), store, "event_type", "user_id", k = 64)
      store
    })

  val streamDistinctKmv = q("x_stream_distinct_kmv",
    "SELECT true AS stream_kmv_ok") { (s, dir) =>
    val streamed = graft.streaming.EventStreams.readKmvEstimates(s,
        kmvAppendStore(s, dir), "event_type", k = 64)
      .withColumnRenamed("est_distinct", "__se")
    val batch = Sketch.kmvDistinct(Tables.events(s, dir), "event_type",
      col("user_id"), 64)
    val okAppend = streamed.join(batch, Seq("event_type"), "full")
      .agg((count(lit(1)) === count(col("__se")) &&
        count(lit(1)) === count(col("est_distinct")) &&
        coalesce(max(when(col("__se") =!= col("est_distinct"), 1).otherwise(0)) === 0,
          lit(true))).as("__ok_append"))
    // DELETION leg (r13 VERDICT #2): k-min cannot subtract — forgetting
    // users is rebuild-on-cadence from the live set (stale-high until
    // the rebuild; the cadence IS the staleness bound). After rebuilding
    // from the survivor events, the store's estimates must equal the
    // one-shot batch sketch over the same survivors exactly. The
    // rebuild targets its own store path: a rebuild never reads prior
    // store content, and swapping the SHARED append store out from
    // under the memoized run would poison the next invocation.
    val live = Tables.events(s, dir).filter(col("user_id") % 10 =!= 3)
    val forgetStore = s"/tmp/graft_stream_kmv/${Staging.tag(dir)}_forget"
    graft.streaming.EventStreams.rebuildKmvStore(s, forgetStore, live,
      "event_type", "user_id", k = 64)
    val rebuilt = graft.streaming.EventStreams.readKmvEstimates(s, forgetStore,
        "event_type", k = 64)
      .withColumnRenamed("est_distinct", "__re")
    val batchLive = Sketch.kmvDistinct(live, "event_type", col("user_id"), 64)
    val okRebuild = rebuilt.join(batchLive, Seq("event_type"), "full")
      .agg((count(lit(1)) === count(col("__re")) &&
        count(lit(1)) === count(col("est_distinct")) &&
        coalesce(max(when(col("__re") =!= col("est_distinct"), 1).otherwise(0)) === 0,
          lit(true))).as("__ok_rebuild"))
    okAppend.crossJoin(okRebuild)
      .select((col("__ok_append") && col("__ok_rebuild")).as("stream_kmv_ok"))
  }

  /** Cross-segment audience overlap FROM THE STREAM: the two sides'
    * k-min sketches are re-minimized straight out of the
    * [[kmvAppendStore]] delta store's per-group rows (k-min is
    * associative, so each side's union of batch trims IS its one-shot
    * sketch), and the overlap estimator runs over them —
    * "how many users do the view and click segments share" becomes a
    * store read, never an event-log rescan. The oracle replays both
    * side sketches from the raw events plus the full estimator
    * arithmetic, so streamed == batch bit-for-bit.
    */
  val streamDistinctOverlap = q("x_stream_distinct_overlap",
    """WITH h AS (SELECT DISTINCT event_type,
      |             CAST(CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS h
      |           FROM events WHERE user_id IS NOT NULL),
      |ka AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) rn
      |                      FROM h WHERE event_type = 'view') WHERE rn <= 64),
      |kb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) rn
      |                      FROM h WHERE event_type = 'click') WHERE rn <= 64),
      |u AS (SELECT coalesce(ka.h, kb.h) AS h,
      |             CASE WHEN ka.h IS NOT NULL THEN 1 ELSE 0 END AS ina,
      |             CASE WHEN kb.h IS NOT NULL THEN 1 ELSE 0 END AS inb
      |      FROM ka FULL JOIN kb ON ka.h = kb.h),
      |s AS (SELECT * FROM (SELECT *, row_number() OVER (ORDER BY h) rn FROM u) WHERE rn <= 64),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk,
      |             CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
      |      FROM s)
      |SELECT n_kept, n_both,
      |       CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
      |            ELSE 63.0 * 1152921504606846976 / hk END AS est_union,
      |       CASE WHEN n_kept = 0 THEN 0.0
      |            ELSE CAST(n_both AS DOUBLE) / n_kept END AS jaccard_est,
      |       CASE WHEN n_kept < 64 THEN CAST(n_both AS DOUBLE)
      |            ELSE (CAST(n_both AS DOUBLE) / n_kept)
      |                 * (63.0 * 1152921504606846976 / hk) END AS est_intersect
      |FROM g""".stripMargin) { (s, dir) =>
    val d = graft.util.TinyParquet.openStore(s, s"${kmvAppendStore(s, dir)}/deltas")
    def side(t: String) = d.filter(col("__g") === t).select(col("__h"))
    Sketch.kmvOverlapFromHashes(side("view"), side("click"), k = 64)
  }

  /** The cross-segment overlap MATRIX from the stream: every
    * event_type pair's audience union/Jaccard/intersection, with both
    * sketch sides re-minimized from the SAME shared KMV delta store
    * the pairwise gate reads ([[Sketch.kmvOverlapMatrixFromHashes]]) —
    * the full segment-overlap dashboard as one store read + a
    * (groups²·k)-bounded epilogue. Oracle replays every pair from the
    * raw events; streamed matrix == batch matrix bit-for-bit.
    */
  val streamOverlapMatrix = q("x_stream_overlap_matrix",
    """WITH h AS (SELECT DISTINCT event_type AS g,
      |             CAST(CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS h
      |           FROM events WHERE user_id IS NOT NULL),
      |s AS (SELECT g, h FROM (
      |        SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) rn FROM h)
      |      WHERE rn <= 64),
      |p AS (SELECT a.g AS ga, b.g AS gb
      |      FROM (SELECT DISTINCT g FROM s) a JOIN (SELECT DISTINCT g FROM s) b ON a.g < b.g),
      |it AS (SELECT p.ga, p.gb, s.h,
      |              max(CASE WHEN s.g = p.ga THEN 1 ELSE 0 END) AS ina,
      |              max(CASE WHEN s.g = p.gb THEN 1 ELSE 0 END) AS inb
      |       FROM p JOIN s ON s.g = p.ga OR s.g = p.gb
      |       GROUP BY 1, 2, 3),
      |kk AS (SELECT * FROM (
      |         SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) rn FROM it)
      |       WHERE rn <= 64),
      |g AS (SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk,
      |             CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
      |      FROM kk GROUP BY 1, 2)
      |SELECT ga AS group_a, gb AS group_b, n_kept, n_both,
      |       CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
      |            ELSE 63.0 * 1152921504606846976 / hk END AS est_union,
      |       CASE WHEN n_kept = 0 THEN 0.0
      |            ELSE CAST(n_both AS DOUBLE) / n_kept END AS jaccard_est,
      |       CASE WHEN n_kept < 64 THEN CAST(n_both AS DOUBLE)
      |            ELSE (CAST(n_both AS DOUBLE) / n_kept)
      |                 * (63.0 * 1152921504606846976 / hk) END AS est_intersect
      |FROM g""".stripMargin) { (s, dir) =>
    Sketch.kmvOverlapMatrixFromHashes(
      graft.util.TinyParquet.openStore(s, s"${kmvAppendStore(s, dir)}/deltas")
        .select(col("__g"), col("__h")),
      k = 64)
  }

  /** Streaming funnel through the real streaming path (Spark 4
    * `transformWithState`, RocksDB state store): per-user stage keys
    * accumulate across micro-batches over the SAME 2-slice event spool
    * the KMV gate stages (shared-spool discipline), each batch
    * re-derives the strict (ts, tie) chain, and the latest per-user
    * reach must reproduce the one-shot batch funnel EXACTLY — the
    * hash-keyed slices interleave users across batches, so late
    * stage-0 arrivals that resurrect earlier stage-1 keys are
    * genuinely exercised, not just within-batch ordering.
    */
  val streamFunnel = q("x_stream_funnel",
    "SELECT true AS stream_funnel_ok") { (s, dir) =>
    val spool = stageEventSpool2(s, dir)
    val streamed = graft.streaming.EventStreams.runFunnelOnce(s, spool,
      "graft_stream_funnel", Seq("view", "click", "purchase"))
    val sCounts = streamed.filter(col("upto") >= 1)
      .select(explode(sequence(lit(0), col("upto") - 1)).as("stage_index"))
      .groupBy(col("stage_index")).agg(count(lit(1)).as("__sn"))
    val batch = graft.ext.Funnel.funnelCounts(Tables.events(s, dir),
      "user_id", "ts", "event_id", Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase")))
    batch.join(sCounts, Seq("stage_index"), "left")
      .agg(coalesce(
        max(when(col("n_users") =!= coalesce(col("__sn"), lit(0L)), 1)
          .otherwise(0)) === 0, lit(true)).as("stream_funnel_ok"))
  }

  /** Streaming drift monitoring through the real streaming path: the
    * odd event_id half (the "arriving month") streams over the shared
    * 2-slice event spool, each micro-batch publishing its fixed-domain
    * bin counts exactly once into a delta store; PSI of the summed
    * store against the frozen even-half reference must equal the batch
    * [[graft.ext.Stats.psi]] over the same halves — bin counts are
    * associative, so the scheduled monitor becomes a store read instead
    * of a corpus rescan. Counts compare cell-exact; the psi doubles to
    * 1e-9 (same-engine summation-order headroom).
    */
  /** One memoized drift-counts stream run per fixture, shared by the
    * PSI and KS gates (the batch monitors run as a pair off one binning
    * — so do the streamed ones, off one store). */
  private val driftRuns =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[queries] def driftStore(s: SparkSession, dir: String): String =
    driftRuns.computeIfAbsent(Staging.tag(dir), _ => {
      val spool = stageEventSpool2(s, dir)
      val store = s"/tmp/graft_stream_drift/${Staging.tag(dir)}_store"
      graft.streaming.EventStreams.runDriftCountsOnce(s, spool, store,
        "event_type", "value", bins = 20, lo = 0.0, hi = 20.0,
        rowFilter = col("event_id") % 2 === 1)
      store
    })

  val streamDriftPsi = q("x_stream_drift_psi",
    "SELECT true AS stream_drift_ok") { (s, dir) =>
    val store = driftStore(s, dir)
    val e = Tables.events(s, dir)
    // both sides UNROUNDED (roundDp=None): rounding both to 6dp first
    // turns a summation-order straddle at the rounding boundary into a
    // 1e-6 jump the 1e-9 band cannot absorb (r13 ADVICE) — the gate
    // compares raw sums; the user-facing psi reports stay rounded
    val streamed = graft.streaming.EventStreams.readDriftPsi(s, store,
        e.filter(col("event_id") % 2 === 0), "event_type", col("value"),
        bins = 20, lo = 0.0, hi = 20.0, roundDp = None)
      .withColumnRenamed("psi", "__sp").withColumnRenamed("n_ref", "__snr")
      .withColumnRenamed("n_cur", "__snc")
    val batch = Stats.psi(e.filter(col("event_id") % 2 === 0),
      e.filter(col("event_id") % 2 === 1),
      "event_type", col("value"), bins = 20, lo = 0.0, hi = 20.0,
      roundDp = None)
    streamed.join(batch, Seq("event_type"), "full")
      .agg((count(lit(1)) === count(col("__sp")) &&
        count(lit(1)) === count(col("psi")) &&
        coalesce(max(when(col("__snr") =!= col("n_ref") ||
            col("__snc") =!= col("n_cur") ||
            abs(col("__sp") - col("psi")) > 1e-9, 1)
          .otherwise(0)) === 0, lit(true))).as("stream_drift_ok"))
  }

  /** KS from the SAME streamed drift store (one store, both monitors —
    * the batch psi/ks pairing on the streaming side): the binned-CDF
    * max gap computed off the summed counters must equal the batch
    * [[graft.ext.Stats.ksDrift]] over the same halves. KS is pure
    * integer-cumsum arithmetic, so the doubles compare EXACTLY — no
    * tolerance band.
    */
  val streamDriftKs = q("x_stream_drift_ks",
    "SELECT true AS stream_ks_ok") { (s, dir) =>
    val store = driftStore(s, dir)
    val e = Tables.events(s, dir)
    val streamed = graft.streaming.EventStreams.readDriftKs(s, store,
        e.filter(col("event_id") % 2 === 0), "event_type", col("value"),
        bins = 20, lo = 0.0, hi = 20.0)
      .withColumnRenamed("ks", "__sk").withColumnRenamed("n_ref", "__snr")
      .withColumnRenamed("n_cur", "__snc")
    val batch = Stats.ksDrift(e.filter(col("event_id") % 2 === 0),
      e.filter(col("event_id") % 2 === 1),
      "event_type", col("value"), bins = 20, lo = 0.0, hi = 20.0)
    streamed.join(batch, Seq("event_type"), "full")
      .agg((count(lit(1)) === count(col("__sk")) &&
        count(lit(1)) === count(col("ks")) &&
        coalesce(max(when(col("__snr") =!= col("n_ref") ||
            col("__snc") =!= col("n_cur") ||
            col("__sk") =!= col("ks"), 1)
          .otherwise(0)) === 0, lit(true))).as("stream_ks_ok"))
  }

  /** Exact phrase search through the PERSISTED positional index: the
    * offset-chained positional join ("slow hash batch" anchored on its
    * first term, each later term equi-joined at anchor+k), the phrase's
    * term buckets a literal partition filter — the lexical nprobe. The
    * oracle is INDEPENDENT, not a replay: it recounts occurrences by
    * scanning the raw tokenized text, so index construction, bucket
    * routing, position encoding and the join chain are all on trial at
    * once.
    */
  val textPhrase = q("x_text_phrase",
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') AS t
      |  FROM documents),
      |occ AS (
      |  SELECT doc_id,
      |         len(list_filter(range(1, greatest(len(t) - 1, 1)),
      |             i -> t[i] = 'slow' AND t[i+1] = 'hash' AND t[i+2] = 'batch')) AS n_occurrences
      |  FROM toks)
      |SELECT doc_id, CAST(n_occurrences AS BIGINT) AS n_occurrences
      |FROM occ WHERE n_occurrences > 0""".stripMargin) { (s, dir) =>
    val idx = stagePositionalIndex(s, dir)
    graft.ext.TextIndex.phraseOccurrences(s, idx,
      Seq("slow", "hash", "batch"))
  }

  /** Proximity search ("customer query"~2) through the same positional
    * index: co-occurring position pairs within 2 tokens, any order —
    * the near() operator. Independent oracle again: position pairs
    * recounted from raw tokenized text.
    */
  val textProximity = q("x_text_proximity",
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') AS t
      |  FROM documents),
      |pa AS (SELECT doc_id, u.i AS p FROM toks,
      |       UNNEST(generate_series(1, len(t))) AS u(i) WHERE t[u.i] = 'customer'),
      |pb AS (SELECT doc_id, u.i AS p FROM toks,
      |       UNNEST(generate_series(1, len(t))) AS u(i) WHERE t[u.i] = 'query')
      |SELECT pa.doc_id, CAST(count(*) AS BIGINT) AS n_pairs
      |FROM pa JOIN pb ON pa.doc_id = pb.doc_id AND abs(pa.p - pb.p) <= 2
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    graft.ext.TextIndex.proximityOccurrences(s, stagePositionalIndex(s, dir),
      "customer", "query", slop = 2)
  }

  /** Streaming positional-index maintenance through the real streaming
    * path, on the COMBINED text-ingestion run (one stream appends each
    * micro-batch into the inverted AND positional layouts —
    * [[ExtensionQueries.textAppendIndexes]]; whichever text gate runs
    * first pays the stream). Positions are per-doc local facts
    * (append == rebuild), so phrase counts served from the streamed
    * index HASH-match the independent raw-text recount over the FULL
    * corpus — a lost batch, double publish, or partial rename shows up
    * as a wrong count, not a failed boolean.
    */
  val streamPhraseAppend = q("x_stream_phrase_append",
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'), x -> x <> '') AS t
      |  FROM documents),
      |occ AS (
      |  SELECT doc_id,
      |         len(list_filter(range(1, greatest(len(t) - 1, 1)),
      |             i -> t[i] = 'slow' AND t[i+1] = 'hash' AND t[i+2] = 'batch')) AS n_occurrences
      |  FROM toks)
      |SELECT doc_id, CAST(n_occurrences AS BIGINT) AS n_occurrences
      |FROM occ WHERE n_occurrences > 0""".stripMargin) { (s, dir) =>
    val (_, pidx) = ExtensionQueries.textAppendIndexes(s, dir)
    graft.ext.TextIndex.phraseOccurrences(s, pidx, Seq("slow", "hash", "batch"))
  }

  /** Input prep (idempotent): the positional index over documents. */
  def stagePositionalIndex(s: SparkSession, dir: String): String =
    Staging.once("posindex", dir)(graft.ext.TextIndex.buildPositional(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", _, parts = 8))

  /** Streaming SCD2 maintenance through the real streaming path (r13
    * VERDICT #6, the history family's streaming leg): the event log
    * arrives over the shared 2-slice spool — hash-sliced, so a user's
    * observations interleave across batches and out-of-order arrival is
    * genuinely exercised — and `transformWithState` folds each batch
    * into per-key validity intervals
    * ([[graft.streaming.EventStreams.runScd2Once]]). The served table
    * (latest version per key) must equal the one-shot batch
    * [[graft.ext.Scd2.intervals]] on the union EXACTLY: run boundaries,
    * three-valued null semantics, half-open tiling, n_rows, and the
    * is_current flags all compare cell-for-cell.
    */
  /** One memoized SCD2 stream run per fixture (the
    * [[InputPrep.sharedRuns]] discipline): the RocksDB-provider
    * micro-batch run executes once per JVM on the `shared_runs_sec`
    * line and persists its served interval table; the gate times the
    * store read + the batch equivalence it exists to pin (r17 VERDICT:
    * the in-timer run cost 13.7 s at the driver condition).
    */
  private val scd2Runs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[queries] def scd2Store(s: SparkSession, dir: String): String =
    scd2Runs.computeIfAbsent(Staging.tag(dir), tag => {
      val store = s"/tmp/graft_stream_scd2/${tag}_store"
      graft.streaming.EventStreams.runScd2Once(s, stageEventSpool2(s, dir),
          s"graft_stream_scd2_$tag")
        .write.mode("overwrite").parquet(store)
      store
    })

  val streamScd2 = q("x_stream_scd2",
    "SELECT true AS stream_scd2_ok") { (s, dir) =>
    val streamed = graft.util.TinyParquet.openStore(s, scd2Store(s, dir))
    val batch = graft.ext.Scd2.intervals(Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
        "user_id", "ts", "event_id", "event_type")
      .withColumnRenamed("event_type", "__ba")
      .withColumnRenamed("valid_to", "__bto")
      .withColumnRenamed("n_rows", "__bn")
      .withColumnRenamed("is_current", "__bc")
    streamed.join(batch, Seq("user_id", "valid_from"), "full")
      .agg((count(lit(1)) === count(col("n_rows")) &&
        count(lit(1)) === count(col("__bn")) &&
        coalesce(max(when(not(col("attr") <=> col("__ba")) ||
            not(col("valid_to") <=> col("__bto")) ||
            col("n_rows") =!= col("__bn") ||
            col("is_current") =!= col("__bc"), 1).otherwise(0)) === 0,
          lit(true))).as("stream_scd2_ok"))
  }

  /** Plain events in TWO hash-keyed arrival slices — two is the minimum
    * that proves store incrementality (batch 1 bootstraps the delta
    * store, batch 2 exercises re-minimization against it) and every
    * further slice only re-pays the fixed micro-batch machinery cost,
    * the measured dominator of gate wall time (the stageDocSpool
    * argument, applied to the event side). Fixture prep, untimed.
    */
  private def stageEventSpool2(s: SparkSession, dir: String): String =
    Staging.once("stream_events2", dir) { tmp =>
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .localCheckpoint(eager = true)
      (0 until 2).foreach { i =>
        ExtensionQueries.stageSpoolFile(
          e.filter(pmod(xxhash64(col("event_id")), lit(2)) === i), tmp, i)
      }
    }

  /** URL canonicalization dedup (the web-corpus key): three planted
    * per-doc variants — case-shuffled host, explicit default port,
    * reordered params, tracking params, a fragment — must collapse to
    * ONE canonical form per doc. The oracle replays every rule
    * (lowercase scheme/host, default-port strip, fragment drop, utm_
    * filter, param sort, empty path → "/"); a missed rule leaves a
    * group of < 3 and breaks the hash.
    */
  val urlCanonical = q("x_url_canonical",
    """WITH raw AS (
      |  SELECT doc_id, unnest([
      |    'HTTPS://Example.COM:443/p/' || CAST(doc_id AS VARCHAR) || '?b=2&utm_source=feed&a=1#top',
      |    'https://example.com/p/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2',
      |    'https://EXAMPLE.com:443/p/' || CAST(doc_id AS VARCHAR) || '?utm_campaign=x&b=2&a=1']) AS u
      |  FROM documents),
      |parts AS (SELECT u,
      |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(u, '^[^:]+://([^/:?#]+)', 1)) AS host,
      |    regexp_extract(u, '^[^:]+://[^/:?#]+:([0-9]+)', 1) AS port,
      |    regexp_extract(u, '^[^:]+://[^/?#]+([^?#]*)', 1) AS path,
      |    regexp_extract(u, '\?([^#]*)', 1) AS query
      |  FROM raw),
      |canon AS (SELECT u,
      |    scheme || '://' || host ||
      |    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
      |              OR (scheme = 'https' AND port = '443') THEN ''
      |         ELSE ':' || port END ||
      |    CASE WHEN path = '' THEN '/' ELSE path END ||
      |    CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END AS cu
      |  FROM (SELECT *, list_sort(list_filter(string_split(query, '&'),
      |                    p -> p <> '' AND substring(p, 1, 4) <> 'utm_')) AS ps
      |        FROM parts))
      |SELECT cu AS canon_url, CAST(count(*) AS BIGINT) AS n_raw,
      |       CAST(count(DISTINCT u) AS BIGINT) AS n_distinct_raw
      |FROM canon GROUP BY 1""".stripMargin) { (s, dir) =>
    val id = col("doc_id").cast("string")
    val raw = Tables.documents(s, dir).select(explode(array(
      concat(lit("HTTPS://Example.COM:443/p/"), id,
        lit("?b=2&utm_source=feed&a=1#top")),
      concat(lit("https://example.com/p/"), id, lit("?a=1&b=2")),
      concat(lit("https://EXAMPLE.com:443/p/"), id,
        lit("?utm_campaign=x&b=2&a=1")))).as("u"))
    raw.groupBy(graft.ext.TextAnalysis.canonicalUrl(col("u")).as("canon_url"))
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("u")).as("n_distinct_raw"))
  }

  /** Character-level Shannon entropy per document (the gibberish /
    * boilerplate band check), 4dp grid, summed over the SORTED distinct
    * character list with the ln-based form and a shared ln(2) literal so
    * both engines fold identical doubles in the same order.
    */
  val textEntropy = q("x_text_entropy",
    """WITH c AS (SELECT doc_id, regexp_extract_all(text, '[\s\S]') AS chars FROM documents),
      |u AS (SELECT doc_id, chars, list_sort(list_distinct(chars)) AS uq,
      |             CAST(len(chars) AS DOUBLE) AS n
      |      FROM c)
      |SELECT doc_id,
      |       CASE WHEN n > 0 THEN round(
      |         -list_sum(list_transform(uq, ch ->
      |            (CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE) / n)
      |            * ln(CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE) / n)))
      |          / 0.6931471805599453, 4)
      |       END AS entropy
      |FROM u""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(col("doc_id"),
      graft.ext.TextAnalysis.charEntropyQ(col("text")).as("entropy"))
  }

  val all: Seq[QueryDef] = Seq(distinctKmv, driftPsi, driftKs, dqExpectations,
    knnFiltered, knnMrl, triangleCount, scd2AsOf, funnel, featureHash, streamScd2,
    decontaminateSemantic, tokenBudgetMix, dedupMatrix, streamDistinctKmv,
    streamFunnel, streamDriftPsi, streamDriftKs, textPhrase, textProximity,
    streamPhraseAppend, urlCanonical, textEntropy,
    statsQuantileSketch, streamQuantileSketch, streamQsketchForget,
    distinctOverlap, overlapMatrix, streamDistinctOverlap,
    streamOverlapMatrix)
}
