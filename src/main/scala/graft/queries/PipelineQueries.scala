package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.TextAnalysis

/** The composed pretraining-corpus pipeline queries — the extension
  * surface's analogue of `ep1_engine_import`: one flagship that runs
  * EVERY curation stage in one execution (clean → near-dup resolve →
  * decontaminate → learned quality calibration → temperature mix →
  * sequence packing, [[graft.ext.Curation.pretrain]]) under ONE DuckDB
  * oracle composed from the per-stage replays, plus the deterministic
  * training-shard export over its packed output
  * ([[graft.ext.ShardExport]]).
  *
  * The pipeline is staged once per sf dir (a memoized shared run, the
  * `x_stream_recall` discipline — deterministic function of the input
  * tables, so re-runs skip it); both queries read the staged artifacts
  * while their oracles recompute the WHOLE funnel from the base tables.
  * A divergence anywhere — a gate admitting one extra document, a
  * duplicate cluster resolved to the wrong canonical, one weight update
  * off in the 8-step LR trajectory, a mix threshold rounding differently
  * — shifts the packed offsets or the shard checksums and breaks the
  * hash.
  */
object PipelineQueries {

  private def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame) =
    QueryDef(name, fn, Some(oracle))

  /** Pipeline geometry — ONE set of literals shared by the Spark staging
    * and the SQL replay below; change them together or not at all. The
    * minhash geometry (64 hashes / 16 bands / 3-shingles) is additionally
    * pinned by [[ExtensionQueries.minhashCteSql]]'s own literals.
    */
  private val KeepFraction = 0.5
  private val MixTarget = 0.7
  private val SeqLen = 128
  private val Shards = 8
  private val LrIters = 8

  /** The flagship's raw corpus: documents ∪ exact copies of every 10th
    * doc (ids +100000) ∪ near-variants of every (10k+5)th doc
    * (ids +200000, one appended token) — planted work for BOTH dedup
    * stages, sources inherited so the mix stage sees real strata.
    */
  private[queries] def pretrainCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("source"), col("text")))
      .unionByName(d.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 200000).as("doc_id"), col("source"),
          concat(col("text"), lit(" zzvariant")).as("text")))
  }

  /** Stage the composed pipeline once per sf dir: run
    * [[graft.ext.Curation.pretrain]] (the single-execution composition),
    * persist the admitted and packed views, then export the packed
    * sequences as the fixed shard set. Staged once per data and code
    * ([[Staging.once]]); listed in [[InputPrep.sharedRuns]]
    * so the one execution is timed on its own bench line, not inside
    * whichever gate happens to run first.
    */
  def stagePretrain(s: SparkSession, dir: String): String =
    Staging.once("pretrain", dir) { tmp =>
      val docs = Tables.documents(s, dir)
      val res = graft.ext.Curation.pretrain(
        corpus = pretrainCorpus(s, dir),
        idCol = "doc_id", textCol = "text", sourceCol = "source",
        evalDocs = docs.filter(col("doc_id") % 17 === 0), evalTextCol = "text",
        lrTrain = docs.filter(col("doc_id") % 5 =!= 0),
        features = ExtensionQueries.lrFeatures(),
        teacher = when(size(TextAnalysis.tokens(col("text"))) >= 55, lit(1.0))
          .otherwise(lit(0.0)),
        cfg = graft.ext.Curation.PretrainConfig(
          keepFraction = KeepFraction, mixTargetFraction = MixTarget,
          seqLen = SeqLen, lrIters = LrIters))
      res.admitted.write.mode("overwrite").parquet(s"$tmp/admitted")
      res.packed.write.mode("overwrite").parquet(s"$tmp/packed")
      graft.ext.ShardExport.export(s, graft.util.TinyParquet.openStore(s, s"$tmp/packed"),
        Shards, s"$tmp/shards")
      // incremental re-export fixture: a PRIOR generation (every
      // doc_id % 7 == 3 doc absent — a revocation-shaped delta) is
      // exported first, then the current packed generation applied
      // incrementally: only shards whose membership changed rewrite,
      // and x_shard_export_incr pins the resulting manifest against
      // the FULL re-export's oracle
      val packedFull = graft.util.TinyParquet.openStore(s, s"$tmp/packed")
      graft.ext.ShardExport.export(s,
        packedFull.filter(col("doc_id") % 7 =!= 3), Shards,
        s"$tmp/shards_incr")
      graft.ext.ShardExport.exportIncremental(s, packedFull, Shards,
        s"$tmp/shards_incr")
    }

  // --------------------------------------------------------------- SQL
  /** The whole funnel as one CTE chain (no leading WITH; the caller
    * prepends WITH RECURSIVE — the duplicate-component closure is the
    * one genuinely recursive member). Stage replays are the per-stage
    * oracles' own proven SQL, composed over each other's outputs:
    * x_corpus_clean → x_dedup_minhash (+ a transitive-closure component
    * resolve) → x_decontaminate → x_classify_lr + x_quality_calibrate →
    * x_temperature_mix → x_pack_sequences.
    */
  /** The funnel PREFIX (raw corpus → clean → near-dup resolve) as its
    * own CTE chain ending at `deduped` — shared by the full flagship
    * replay and the streaming-admission gate (whose admitted set is
    * exactly this prefix).
    */
  private def cleanDedupCtesSql: String = {
    val tok = ExtensionQueries.tokenizeSql
    s"""corpus AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, source, text FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 200000, source, text || ' zzvariant' FROM documents WHERE doc_id % 10 = 5),
       |ct AS (
       |  SELECT doc_id, source, text, $tok AS toks
       |  FROM corpus),
       |cs AS (
       |  SELECT doc_id, source, text, toks,
       |    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf'], x))) AS s_de,
       |    len(list_filter(toks, x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x))) AS s_en,
       |    len(list_filter(toks, x -> list_contains(['el','los','las','y','es','una','para','por','que'], x))) AS s_es,
       |    len(list_filter(toks, x -> list_contains(['le','la','les','et','est','une','pour','dans','que'], x))) AS s_fr
       |  FROM ct),
       |cg AS (
       |  SELECT doc_id, source, text FROM cs
       |  WHERE len(toks) >= 20
       |    AND length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) >= 0.5
       |    AND greatest(s_de, s_en, s_es, s_fr) >= 1
       |    AND greatest(s_de*4+3, s_en*4+2, s_es*4+1, s_fr*4+0) % 4 = 2),
       |cleaned AS MATERIALIZED (
       |  SELECT doc_id, source, text
       |  FROM (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM cg)
       |  WHERE rn = 1),
       |${ExtensionQueries.minhashFamSql},
       |${ExtensionQueries.minhashCteSql("m", "cleaned")},
       |mok AS (SELECT bk FROM m_banded GROUP BY bk HAVING count(*) > 1 AND count(*) <= 1000),
       |minb AS (SELECT m_banded.* FROM m_banded JOIN mok USING (bk)),
       |mpairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM minb a JOIN minb b USING (bk)
       |  WHERE a.doc_id < b.doc_id
       |    AND len(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) / 64.0 >= 0.5),
       |mund AS (SELECT id_a AS a, id_b AS b FROM mpairs
       |         UNION ALL SELECT id_b, id_a FROM mpairs),
       |mreach AS (
       |  SELECT a AS src, b AS dst FROM mund
       |  UNION
       |  SELECT r.src, u.b FROM mreach r JOIN mund u ON r.dst = u.a WHERE r.src <> u.b),
       |mcomp AS (SELECT src AS id, least(src, min(dst)) AS component FROM mreach GROUP BY src),
       |deduped AS MATERIALIZED (
       |  SELECT c.doc_id, c.source, c.text
       |  FROM cleaned c LEFT JOIN mcomp ON c.doc_id = mcomp.id
       |  WHERE mcomp.id IS NULL OR mcomp.component = c.doc_id)""".stripMargin
  }

  private def pretrainCtesSql: String = {
    val tok = ExtensionQueries.tokenizeSql
    s"""$cleanDedupCtesSql,
       |dt AS (SELECT doc_id, $tok AS toks FROM deduped),
       |dsh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 12),
       |               i -> array_to_string(toks[i : i + 12], ' '))) AS s13
       |        FROM dt WHERE len(toks) >= 13),
       |et AS (SELECT doc_id, $tok AS toks FROM documents WHERE doc_id % 17 = 0),
       |esh AS (SELECT DISTINCT unnest(list_transform(generate_series(1, len(toks) - 12),
       |               i -> array_to_string(toks[i : i + 12], ' '))) AS s13
       |        FROM et WHERE len(toks) >= 13),
       |dbad AS (SELECT DISTINCT d.doc_id FROM dsh d JOIN esh USING (s13)),
       |decon AS MATERIALIZED (
       |  SELECT deduped.* FROM deduped WHERE doc_id NOT IN (SELECT doc_id FROM dbad)),
       |${ExtensionQueries.lrTrainCtesSql(LrIters, 8.0)},
       |pf AS (SELECT doc_id, ${ExtensionQueries.lrFeatSelSql}
       |       FROM (SELECT doc_id, text, $tok AS __toks FROM decon)),
       |psc AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(floor((0.5 + z/(2.0*(1.0+abs(z))))*1000000.0) AS BIGINT) AS prob_q
       |  FROM (SELECT doc_id, ${ExtensionQueries.lrZSql} AS z FROM pf, wi$LrIters w)),
       |kq AS (SELECT CAST(floor($KeepFraction * count(*)) AS BIGINT) AS k FROM psc),
       |ckeep AS (
       |  SELECT doc_id FROM
       |    (SELECT doc_id, row_number() OVER (ORDER BY prob_q DESC, doc_id) AS rn FROM psc), kq
       |  WHERE rn <= k),
       |calib AS MATERIALIZED (SELECT d.* FROM decon d JOIN ckeep USING (doc_id)),
       |mcnt AS (SELECT source AS s, CAST(count(*) AS DOUBLE) AS n FROM calib GROUP BY 1),
       |mtot AS (SELECT sum(n ORDER BY s) AS nn, sum(sqrt(n) ORDER BY s) AS z FROM mcnt),
       |mrate AS (SELECT s, least(1.0, (nn * $MixTarget) * (sqrt(n) / z) / n) AS rate FROM mcnt, mtot),
       |mthr AS (SELECT s, CASE WHEN rate >= 1.0 THEN 'g'
       |                        ELSE printf('%08x', CAST(floor(rate * 4294967296.0) AS BIGINT)) END AS h
       |         FROM mrate),
       |mixed AS MATERIALIZED (
       |  SELECT c.doc_id, c.text FROM calib c JOIN mthr ON mthr.s = c.source
       |  WHERE md5(c.source || ':' || CAST(c.doc_id AS VARCHAR)) < mthr.h),
       |pt AS (SELECT doc_id, len($tok) AS n FROM mixed),
       |pc AS (SELECT doc_id, n,
       |              CAST(coalesce(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
       |       FROM pt),
       |pe AS (SELECT doc_id, n, st, unnest(generate_series(st // $SeqLen, (st + n - 1) // $SeqLen)) AS seq_id
       |       FROM pc WHERE n > 0),
       |packed AS (
       |  SELECT doc_id, seq_id,
       |         greatest(seq_id * $SeqLen - st, 0) AS doc_from,
       |         least((seq_id + 1) * $SeqLen, st + n) - st AS doc_to,
       |         greatest(st - seq_id * $SeqLen, 0) AS seq_off
       |  FROM pe)""".stripMargin
  }

  // ----------------------------------------------------------- queries
  /** The end-to-end pretraining flagship: the staged packed-sequence
    * table of the full curation funnel, hash-matched against the
    * from-base-tables SQL replay of every stage. One admitted-set or
    * offset divergence anywhere in six composed stages breaks it.
    */
  val pipelinePretrain = q("x_pipeline_pretrain",
    s"""WITH RECURSIVE
       |$pretrainCtesSql
       |SELECT doc_id, seq_id, doc_from, doc_to, seq_off FROM packed""".stripMargin) {
    (s, dir) =>
      val t = stagePretrain(s, dir)
      graft.util.TinyParquet.openStore(s, s"$t/packed")
        .select(col("doc_id"), col("seq_id"), col("doc_from"),
          col("doc_to"), col("seq_off"))
  }

  /** Deterministic training-shard export over the flagship's packed
    * sequences: the PUBLISHED shard manifest (assignment + order keys +
    * counts + exact decimal checksums), hash-matched against the same
    * funnel replay carried through the shard/checksum arithmetic. The
    * re-export-determinism and load-time reconcile mechanics live in
    * ShardExportSpec.
    */
  val shardExportQ = q("x_shard_export",
    s"""WITH RECURSIVE
       |$pretrainCtesSql,
       |sa AS (
       |  SELECT *,
       |         CAST(CAST('0x' || substring(md5('s:' || CAST(seq_id AS VARCHAR)), 1, 15) AS UBIGINT) % $Shards AS INT) AS shard_id,
       |         md5('o:' || CAST(seq_id AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR) || ':' || CAST(doc_from AS VARCHAR)) AS order_key
       |  FROM packed)
       |SELECT shard_id, count(*) AS n_rows,
       |       CAST(sum(CAST('0x' || substring(md5(
       |         CAST(doc_id AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR) || ':' ||
       |         CAST(doc_from AS VARCHAR) || ':' || CAST(doc_to AS VARCHAR) || ':' ||
       |         CAST(seq_off AS VARCHAR)), 1, 8) AS UBIGINT)) AS VARCHAR) AS checksum,
       |       min(order_key) AS min_key, max(order_key) AS max_key
       |FROM sa GROUP BY 1""".stripMargin) { (s, dir) =>
    val t = stagePretrain(s, dir)
    graft.util.TinyParquet.openStore(s, s"$t/shards/_manifest")
      .select(col("shard_id"), col("n_rows"), col("checksum"),
        col("min_key"), col("max_key"))
  }

  /** Stage the streaming admission run once per sf dir: the flagship's
    * corpus delivered as four interleaved spool batches (doc_id % 4, so
    * planted copies/variants arrive in different batches than their
    * originals — merges and revocations really happen), driven through
    * [[graft.streaming.DocStreams.runCorpusAdmitOnce]].
    */
  def stageCorpusAdmit(s: SparkSession, dir: String): String =
    Staging.once("corpusadmit", dir) { tmp =>
      val spool = s"$tmp/spool"
      new java.io.File(spool).mkdirs()
      val corpus = pretrainCorpus(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
        .localCheckpoint(eager = true) // four slices, one corpus build
      (0 until 4).foreach { i =>
        ExtensionQueries.stageSpoolFile(
          corpus.filter(pmod(col("doc_id"), lit(4)) === i), spool, i)
      }
      // the FULL incremental funnel: weights trained once (frozen) before
      // the stream — identical trajectory to the batch flagship's —
      // then per-batch state logging and the text-free finalize
      val docs = Tables.documents(s, dir)
      val w = graft.ext.Classify.trainLogistic(
        docs.filter(col("doc_id") % 5 =!= 0),
        ExtensionQueries.lrFeatures(),
        when(size(TextAnalysis.tokens(col("text"))) >= 55, lit(1.0))
          .otherwise(lit(0.0)),
        LrIters, 8.0)
      graft.streaming.DocStreams.runPretrainAdmitOnce(s, spool, s"$tmp/store",
        evalDocs = docs.filter(col("doc_id") % 17 === 0), evalTextCol = "text",
        features = ExtensionQueries.lrFeatures(), weights = w)
      val res = graft.streaming.DocStreams.finalizePretrain(s, s"$tmp/store",
        keepFraction = KeepFraction, mixTargetFraction = MixTarget,
        seqLen = SeqLen)
      res.admitted.write.mode("overwrite").parquet(s"$tmp/admitted")
      res.packed.write.mode("overwrite").parquet(s"$tmp/packed")
      // the continuous-delivery last mile: the STREAMED funnel's packed
      // table lands in the shard set through the changed-shard-only
      // path — a stale prior generation (the same revocation-shaped
      // delta the batch fixture uses) brought up to date incrementally,
      // so x_stream_shard_export pins stream → delta-export end to end
      val packedStream = graft.util.TinyParquet.openStore(s, s"$tmp/packed")
      graft.ext.ShardExport.export(s,
        packedStream.filter(col("doc_id") % 7 =!= 3), Shards,
        s"$tmp/shards_stream")
      graft.ext.ShardExport.exportIncremental(s, packedStream, Shards,
        s"$tmp/shards_stream")
    }

  /** Streaming corpus admission gate: the streamed store's FINAL
    * admitted view, hash-matched against the batch flagship PREFIX
    * (clean → near-dup resolve) replayed from the base tables — the
    * portable hash family makes the streamed decisions themselves
    * SQL-replayable, so this is a full HASH gate, not a rows-only one.
    * A missed merge, a skipped gate, or an unrevoked demotion breaks it.
    */
  val streamCorpusAdmit = q("x_stream_corpus_admit",
    s"""WITH RECURSIVE
       |$cleanDedupCtesSql
       |SELECT doc_id FROM deduped""".stripMargin) { (s, dir) =>
    val t = stageCorpusAdmit(s, dir)
    graft.streaming.DocStreams.readAdmitted(s, s"$t/store")
  }

  /** Changed-shard-only re-export gate: the manifest AFTER
    * [[graft.ext.ShardExport.exportIncremental]] brought a stale prior
    * generation (a revocation-shaped delta) up to the current packed
    * table must equal the manifest of a FULL export of that table — so
    * the oracle is x_shard_export's own full-funnel replay, verbatim. A
    * shard the diff failed to rewrite, a stale row left in the
    * manifest, or a deleted shard that survived all break the hash; the
    * untouched-files-not-rewritten mechanics live in ShardExportSpec.
    */
  val shardExportIncr = q("x_shard_export_incr",
    s"""WITH RECURSIVE
       |$pretrainCtesSql,
       |sa AS (
       |  SELECT *,
       |         CAST(CAST('0x' || substring(md5('s:' || CAST(seq_id AS VARCHAR)), 1, 15) AS UBIGINT) % $Shards AS INT) AS shard_id,
       |         md5('o:' || CAST(seq_id AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR) || ':' || CAST(doc_from AS VARCHAR)) AS order_key
       |  FROM packed)
       |SELECT shard_id, count(*) AS n_rows,
       |       CAST(sum(CAST('0x' || substring(md5(
       |         CAST(doc_id AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR) || ':' ||
       |         CAST(doc_from AS VARCHAR) || ':' || CAST(doc_to AS VARCHAR) || ':' ||
       |         CAST(seq_off AS VARCHAR)), 1, 8) AS UBIGINT)) AS VARCHAR) AS checksum,
       |       min(order_key) AS min_key, max(order_key) AS max_key
       |FROM sa GROUP BY 1""".stripMargin) { (s, dir) =>
    val t = stagePretrain(s, dir)
    graft.util.TinyParquet.openStore(s, s"$t/shards_incr/_manifest")
      .select(col("shard_id"), col("n_rows"), col("checksum"),
        col("min_key"), col("max_key"))
  }

  /** Streaming pretraining gate — the stream-equals-batch discipline on
    * the WHOLE funnel: the streamed store's text-free finalize
    * ([[graft.streaming.DocStreams.finalizePretrain]] over the logged
    * per-document state) must reproduce the batch flagship's packed
    * table bit-for-bit, so the oracle is the SAME full-funnel replay
    * x_pipeline_pretrain uses. A drifted frozen weight, a missed
    * revocation, one wrong logged token count, or a quantile cut over
    * the wrong survivor set shifts the packed offsets and breaks the
    * hash.
    */
  val streamPretrain = q("x_stream_pretrain",
    s"""WITH RECURSIVE
       |$pretrainCtesSql
       |SELECT doc_id, seq_id, doc_from, doc_to, seq_off FROM packed""".stripMargin) {
    (s, dir) =>
      val t = stageCorpusAdmit(s, dir)
      graft.util.TinyParquet.openStore(s, s"$t/packed")
        .select(col("doc_id"), col("seq_id"), col("doc_from"),
          col("doc_to"), col("seq_off"))
  }

  /** The continuous-delivery capstone: training shards maintained FROM
    * THE STREAM — the streamed funnel's packed table (x_stream_pretrain
    * pins it equal to the batch flagship's) drives the changed-shard-
    * only re-export over a stale prior generation, and the published
    * manifest must equal a full export of the batch funnel — so the
    * oracle is the same full-funnel shard replay x_shard_export uses.
    * Closes the loop the r15/r16 rounds built piecewise: documents
    * arrive as micro-batches, training shards update incrementally,
    * nothing downstream can tell.
    */
  val streamShardExport = q("x_stream_shard_export",
    s"""WITH RECURSIVE
       |$pretrainCtesSql,
       |sa AS (
       |  SELECT *,
       |         CAST(CAST('0x' || substring(md5('s:' || CAST(seq_id AS VARCHAR)), 1, 15) AS UBIGINT) % $Shards AS INT) AS shard_id,
       |         md5('o:' || CAST(seq_id AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR) || ':' || CAST(doc_from AS VARCHAR)) AS order_key
       |  FROM packed)
       |SELECT shard_id, count(*) AS n_rows,
       |       CAST(sum(CAST('0x' || substring(md5(
       |         CAST(doc_id AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR) || ':' ||
       |         CAST(doc_from AS VARCHAR) || ':' || CAST(doc_to AS VARCHAR) || ':' ||
       |         CAST(seq_off AS VARCHAR)), 1, 8) AS UBIGINT)) AS VARCHAR) AS checksum,
       |       min(order_key) AS min_key, max(order_key) AS max_key
       |FROM sa GROUP BY 1""".stripMargin) { (s, dir) =>
    val t = stageCorpusAdmit(s, dir)
    graft.util.TinyParquet.openStore(s, s"$t/shards_stream/_manifest")
      .select(col("shard_id"), col("n_rows"), col("checksum"),
        col("min_key"), col("max_key"))
  }

  val all: Seq[QueryDef] = Seq(pipelinePretrain, shardExportQ,
    streamCorpusAdmit, streamPretrain, shardExportIncr, streamShardExport)
}
