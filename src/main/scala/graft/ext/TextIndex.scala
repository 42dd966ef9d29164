package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Cols.qcol

/** Persisted inverted index — the LEXICAL sibling of the
  * [[AnnIndex]] layouts: build once, query many, maintain between
  * rebuilds. [[TextSearch.bm25Scores]] recomputes postings from the raw
  * corpus per query batch; at 100 TB that is a full tokenize+shuffle per
  * query, so this layout pays it once at build time:
  *
  *   - `postings/` — (__term, __id, __tf, __len, __seq) PARTITIONED BY
  *     `__pt = pmod(xxhash64(__term), parts)`: a query's term set maps
  *     to ≤ |terms| buckets, and the scan carries them as a literal
  *     partition filter — the lexical analog of IVF's nprobe pruning
  *     (only the touched term-bucket directories are ever listed);
  *   - `lens/` — (__id, __len, __seq), one row per document INCLUDING
  *     zero-token docs (they carry no postings but still count toward
  *     N and the average length);
  *   - `meta/` — (parts); tombstones + `_next_seq` shared with the ANN
  *     maintenance machinery ([[AnnIndex.deleteIds]]).
  *
  * Every query-time quantity (document frequency, N, avgdl) is
  * recomputed from LIVE rows, so append(build(A), B) == build(A∪B) and
  * delete-then-query == build(live) EXACTLY — postings are per-document
  * local facts with no global coupling, which is what makes the
  * inverted layout compositional where quantizer layouts need frozen
  * codebooks. Rebuild (swap-published) is only ever needed to reclaim
  * tombstone debt, exactly like BQ.
  */
object TextIndex {

  final case class InvIndex(postingsPath: String, lensPath: String,
      parts: Int, dir: String)

  private def bucket(term: Column, parts: Int): Column =
    pmod(xxhash64(term), lit(parts)).cast("int")

  /** One tokenized pass → postings + lens frames for `docs`. */
  private def encode(docs: DataFrame, idCol: String, textCol: String,
      parts: Int, seq: Long): (DataFrame, DataFrame) = {
    val toks = docs.select(qcol(idCol).cast("long").as("__id"),
      TextAnalysis.tokens(qcol(textCol)).as("__t"))
    val lens = toks.select(col("__id"), size(col("__t")).cast("long").as("__len"),
      lit(seq).as("__seq"))
    val postings = toks
      .select(col("__id"), size(col("__t")).cast("long").as("__len"),
        explode(col("__t")).as("__term"))
      .groupBy(col("__term"), col("__id"))
      .agg(count(lit(1)).as("__tf"), first(col("__len")).as("__len"))
      .withColumn("__seq", lit(seq))
      .withColumn("__pt", bucket(col("__term"), parts))
    (postings, lens)
  }

  /** Build + persist. `parts` is the term-bucket partition count — a
    * layout knob sized like `storeParts` on the signature store: each
    * bucket's files should stay scan-friendly at the corpus size.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, dir: String,
      parts: Int = 16): Unit = {
    require(parts > 0, s"parts must be positive: $parts")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(parts).toDF("parts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    val (postings, lens) = encode(docs, idCol, textCol, parts, seq = 0L)
    postings.repartition(parts, col("__pt"))
      .write.partitionBy("__pt").mode("overwrite").parquet(s"$dir/postings")
    lens.write.mode("overwrite").parquet(s"$dir/lens")
  }

  def read(spark: SparkSession, dir: String): InvIndex = {
    val parts = graft.util.TinyParquet.readOneRow(spark, s"$dir/meta")("parts").asInstanceOf[Int]
    InvIndex(s"$dir/postings", s"$dir/lens", parts, dir)
  }

  /** Append new documents — compositional (no frozen statistics): the
    * batch's postings land in their term-bucket directories (one file
    * per touched bucket) and the lens row count/sum shift N and avgdl
    * exactly as a rebuild would. Same duplicate-id caller contract as
    * every index append (re-adding a live id goes through
    * [[updateDocs]]).
    */
  def appendDocs(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    val idx = read(spark, dir)
    val seq = AnnIndex.nextSeq(spark, dir)
    val (postings, lens) = encode(docs, idCol, textCol, idx.parts, seq)
    postings.coalesce(1)
      .write.partitionBy("__pt").mode("append").parquet(idx.postingsPath)
    lens.coalesce(1).write.mode("append").parquet(idx.lensPath)
  }

  /** Encode one append batch against the stored geometry — the
    * (postings, lens) frames a caller stages/publishes itself (the
    * streaming exactly-once append); [[appendDocs]] is the plain
    * parquet-append form of the same encode.
    */
  private[graft] def encodeForAppend(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val idx = read(spark, dir)
    encode(batch, idCol, textCol, idx.parts, AnnIndex.nextSeq(spark, dir))
  }

  /** Tombstone-delete documents (shared maintenance machinery). */
  def deleteDocs(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Unit =
    AnnIndex.deleteIds(spark, dir, ids, idCol)

  def updateDocs(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    deleteDocs(spark, dir, docs, idCol)
    appendDocs(spark, dir, docs, idCol, textCol)
  }

  /** Compact: live postings/lens rewritten, tombstone log reset,
    * swap-published; partitioning preserved with ~one file per bucket.
    */
  def compact(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val idx = read(spark, dir)
    val tmp = dir + ".compact-" + System.nanoTime()
    val livePostings = AnnIndex.liveOnly(spark, dir,
      graft.util.TinyParquet.openStore(spark, idx.postingsPath))
    // the refuse-to-compact-to-empty guard every layout carries: an
    // all-tombstoned index is a rebuild-or-drop decision (a zero-row
    // parquet rewrite would leave an unreadable dir)
    val liveLens = AnnIndex.requireLive(
      AnnIndex.liveOnly(spark, dir, graft.util.TinyParquet.openStore(spark, idx.lensPath)), dir)
    Seq(idx.parts).toDF("parts")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
    livePostings.withColumn("__seq", lit(0L))
      .repartition(idx.parts, col("__pt"))
      .write.partitionBy("__pt").mode("overwrite").parquet(s"$tmp/postings")
    liveLens.withColumn("__seq", lit(0L))
      .write.mode("overwrite").parquet(s"$tmp/lens")
    graft.operators.Upsert.swapDirs(tmp, dir)
  }

  /** BM25 top-k against the persisted index: the query vocabulary's
    * term buckets become a LITERAL partition filter on the postings
    * scan (only touched bucket directories are listed/opened — the
    * pruning is plan-asserted), document frequency and corpus stats
    * recomputed over live rows, scoring identical to
    * [[TextSearch.bm25TopK]] — indexed == from-scratch, row for row.
    */
  def bm25TopKIndexed(spark: SparkSession, dir: String, queries: DataFrame,
      qidCol: String, qtextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      /** Time-travel horizon ([[graft.ext.AnnIndex.liveAsOf]]): serve
        * the index state as of maintenance epoch ≤ S — corpus stats
        * (N, avgdl) and postings BOTH cut at the same horizon, so the
        * historical scores are exactly what the index served then.
        * None = live view.
        */
      asOf: Option[Long] = None): DataFrame = {
    val idx = read(spark, dir)
    val qterms = queries.select(qcol(qidCol).cast("long").as("__q"),
        explode(TextAnalysis.tokens(qcol(qtextCol))).as("__term")).distinct()
      .localCheckpoint(eager = true) // bucket collect + scoring join
    val pts = qterms.select(bucket(col("__term"), idx.parts).as("__pt"))
      .distinct().collect().map(_.getInt(0)) // ≤ |query terms| values
    val dirs = pts.map(p => s"${idx.postingsPath}/__pt=$p")
      .filter(graft.util.Hfs.exists(spark, _))
    val stats = AnnIndex.liveAsOf(spark, dir,
        graft.util.TinyParquet.openStore(spark, idx.lensPath), asOf)
      .agg(count(lit(1)).cast("double").as("__n"),
        avg(col("__len").cast("double")).as("__avg"))
    if (dirs.isEmpty)
      // no queried term bucket exists — nothing can score
      return spark.range(0).select(col("id").as("query_id"),
        lit(0).as("rank"), col("id").as("doc_id"), lit(0.0).as("score"))
    val vocab = qterms.select(col("__term")).distinct()
    val posts = AnnIndex.liveAsOf(spark, dir,
        spark.read.option("basePath", idx.postingsPath).parquet(dirs: _*)
          .filter(col("__pt").isin(pts.map(Int.box): _*)), asOf)
      .join(broadcast(vocab), Seq("__term"))
      .select(col("__term"), col("__id").as("__d"),
        col("__tf").cast("double").as("__tf"),
        col("__len").cast("double").as("__len"))
    // posts feeds both the df aggregate and the scoring join as TWO
    // partition-pruned scans (deliberately no lineage cut: re-reading a
    // few bucket directories beats materializing them, and the pruning
    // stays visible in the executed plan)
    val dfreq = posts.groupBy(col("__term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val scored = posts
      .join(broadcast(qterms), Seq("__term"))
      .join(broadcast(dfreq), Seq("__term"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0))
      .withColumn("__s",
        col("__idf") * col("__tf") * (k1 + 1) /
          (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__len") / col("__avg"))))
      .groupBy(col("__q"), col("__d"))
      .agg(sum(col("__s")).as("score"))
      .select(col("__q").as("query_id"), col("__d").as("doc_id"), col("score"))
    Similarity.topKPerQuery(scored, "score", "doc_id", k)
  }

  // ------------------------------------------------ positional layout
  /** POSITIONAL postings — the phrase/proximity-query layout: one
    * (__term, __id, __pos, __len, __seq) row per token OCCURRENCE
    * (multiplicity and order preserved, unlike the tf-aggregated
    * `postings/`), same term-bucket partitioning, persisted beside the
    * base index at `dir/positions`. Positions are per-document local
    * facts like everything else in the inverted layout, so maintenance
    * composes identically: an appended batch's rows land in their
    * buckets and the union IS the rebuilt index — the tombstone/__seq
    * machinery is shared.
    */
  def buildPositional(docs: DataFrame, idCol: String, textCol: String,
      dir: String, parts: Int = 16): Unit = {
    require(parts > 0, s"parts must be positive: $parts")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(parts).toDF("parts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    positionalRows(docs, idCol, textCol, parts, seq = 0L)
      .repartition(parts, col("__pt"))
      .write.partitionBy("__pt").mode("overwrite").parquet(s"$dir/positions")
  }

  /** Compositional append for the positional layout (no frozen stats —
    * the [[appendDocs]] contract).
    */
  def appendPositional(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    val parts = graft.util.TinyParquet.readOneRow(spark, s"$dir/meta")("parts").asInstanceOf[Int]
    val seq = AnnIndex.nextSeq(spark, dir)
    positionalRows(docs, idCol, textCol, parts, seq)
      .coalesce(1)
      .write.partitionBy("__pt").mode("append").parquet(s"$dir/positions")
  }

  /** [[encodeForAppend]] for the positional layout — the rows frame a
    * streaming exactly-once append stages/publishes itself.
    */
  private[graft] def encodePositionalForAppend(spark: SparkSession,
      dir: String, batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val parts = graft.util.TinyParquet.readOneRow(spark, s"$dir/meta")("parts").asInstanceOf[Int]
    positionalRows(batch, idCol, textCol, parts, AnnIndex.nextSeq(spark, dir))
  }

  private def positionalRows(docs: DataFrame, idCol: String, textCol: String,
      parts: Int, seq: Long): DataFrame =
    docs.select(qcol(idCol).cast("long").as("__id"),
        posexplode(TextAnalysis.tokens(qcol(textCol))).as(Seq("__pos", "__term")))
      .withColumn("__seq", lit(seq))
      .withColumn("__pt", bucket(col("__term"), parts))

  /** Exact phrase occurrences from the positional index: the classic
    * offset-chained positional join — anchor on the phrase's FIRST term
    * and equi-join each later term at (__id, anchor position + k). The
    * phrase's ≤ |phrase| term buckets arrive as a literal partition
    * filter (the lexical nprobe, same as BM25), every join is an
    * equi-join on (doc, position), and the per-term frames are
    * df-sized, so cost tracks the RAREST phrase term's postings —
    * phrase search never rescans text. Tombstones subtract exactly as
    * in every layout.
    *
    * Output: (`doc_id`, `n_occurrences` > 0).
    */
  /** PROXIMITY search over the positional layout: documents where the
    * two terms co-occur within `slop` token positions (any order) —
    * "near(a, b, 3)", the query operators like `"a b"~3` compile to.
    * Same pruned two-bucket scan as [[phraseOccurrences]]; the
    * candidate join is an equi-join on the document id with the
    * |Δpos| ≤ slop band applied after — per-doc fan-out is
    * tf(a)·tf(b), the positional-index price every proximity engine
    * pays (documents where BOTH terms are frequent do the work; the
    * doc-id equi-join keeps it off the shuffle).
    *
    * Output: (`doc_id`, `n_pairs` = co-occurring position pairs > 0).
    */
  def proximityOccurrences(spark: SparkSession, dir: String,
      termA: String, termB: String, slop: Int): DataFrame = {
    require(slop >= 1, s"slop must be >= 1: $slop")
    require(termA.toLowerCase != termB.toLowerCase,
      "proximity of a term with itself is phraseOccurrences territory")
    val posts = positionalScan(spark, dir, Seq(termA, termB))
    if (posts.isEmpty) return spark.range(0)
      .select(col("id").as("doc_id"), col("id").as("n_pairs"))
    val p = posts.get
    val a = p.filter(col("__term") === termA.toLowerCase)
      .select(col("__id"), col("__pos").as("__pa"))
    val b = p.filter(col("__term") === termB.toLowerCase)
      .select(col("__id"), col("__pos").as("__pb"))
    a.join(b, Seq("__id"))
      .filter(abs(col("__pa") - col("__pb")) <= slop)
      .groupBy(col("__id").as("doc_id"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** The pruned, live positional read shared by phrase and proximity:
    * None when no queried term bucket exists on disk.
    */
  private def positionalScan(spark: SparkSession, dir: String,
      terms: Seq[String]): Option[DataFrame] = {
    val parts = graft.util.TinyParquet.readOneRow(spark, s"$dir/meta")("parts").asInstanceOf[Int]
    val pts = terms.map(t =>
      math.floorMod(org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(org.apache.spark.unsafe.types.UTF8String.fromString(t.toLowerCase),
          org.apache.spark.sql.types.StringType, 42L),
        parts.toLong).toInt).distinct
    val dirs = pts.map(p => s"$dir/positions/__pt=$p")
      .filter(graft.util.Hfs.exists(spark, _))
    if (dirs.isEmpty) None
    else Some(AnnIndex.liveOnly(spark, dir,
        spark.read.option("basePath", s"$dir/positions").parquet(dirs: _*))
      .select(col("__term"), col("__id"), col("__pos"))
      .localCheckpoint(eager = true))
  }

  def phraseOccurrences(spark: SparkSession, dir: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val terms = phrase.map(_.toLowerCase)
    // plan-side bucket arithmetic (positionalScan) must equal the
    // stored `bucket()` column exactly — asserted by the membership
    // filter below rather than trusted: the scan prunes to the computed
    // buckets AND re-filters by term, so a wrong bucket yields an empty
    // frame (a loud zero in the gate), never a wrong match
    val scanned = positionalScan(spark, dir, terms)
    if (scanned.isEmpty) return spark.range(0)
      .select(col("id").as("doc_id"), col("id").as("n_occurrences"))
    val posts = scanned.get
    val anchor = posts.filter(col("__term") === terms.head)
      .select(col("__id"), col("__pos"))
    terms.zipWithIndex.drop(1).foldLeft(anchor) { case (acc, (t, k)) =>
      acc.join(posts.filter(col("__term") === t)
          .select(col("__id"), (col("__pos") - k).as("__pos")),
        Seq("__id", "__pos"))
    }
      .groupBy(col("__id").as("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  // ------------------------------------------------ maintenance policy
  /** Dead fraction of the layout's main table under tombstone semantics
    * — the same debt number [[graft.ext.AnnIndex.tombstoneDebt]] prices
    * for the vector layouts, measured over `lens/` (one row per doc;
    * the postings table's dead fraction tracks it) for the inverted
    * layout and `positions/` for the positional one.
    */
  def tombstoneDebt(spark: SparkSession, dir: String): Double = {
    val table =
      if (graft.util.Hfs.exists(spark, s"$dir/lens")) s"$dir/lens"
      else s"$dir/positions"
    val (total, live) = AnnIndex.tableCounts(spark, dir, table)
    if (total == 0L) 0.0 else (total - live).toDouble / total
  }

  /** [[graft.ext.AnnIndex.healthReport]] for the text layouts: per
    * layout the physical row count of its main table (lens for the
    * inverted index — one row per doc generation; positions for the
    * positional one), the live count under tombstone semantics, and the
    * debt the compaction policy prices. All-integer numerators plus one
    * division — hash-matchable against a replay over the stored tables.
    */
  def healthReport(spark: SparkSession,
      layouts: Seq[(String, String)]): DataFrame = {
    require(layouts.nonEmpty, "no layouts to report")
    // concurrent one-job-per-store measurement over the lazy counter
    // frames — see AnnIndex.healthReport (same restructure, same rows,
    // same A/B evidence against the single-giant-union alternative)
    graft.util.Par.all(8)(layouts.map { case (name, dir) => () =>
      val table =
        if (graft.util.Hfs.exists(spark, s"$dir/lens")) s"$dir/lens"
        else s"$dir/positions"
      AnnIndex.tableCountsDf(spark, dir, table).select(lit(name).as("layout"),
        col("__total").as("total_rows"), col("__live").as("live_rows"),
        (col("__total") - col("__live")).as("dead_rows"),
        when(col("__total") === 0L, lit(0.0))
          .otherwise((col("__total") - col("__live")).cast("double") /
            col("__total"))
          .as("tombstone_debt"))
        .localCheckpoint(eager = true)
    }).reduce(_ unionByName _)
  }

  /** [[compact]] for the positional layout: live occurrence rows
    * rewritten (~one file per term bucket, partitioning preserved),
    * tombstone log reset, swap-published.
    */
  def compactPositional(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val parts = graft.util.TinyParquet.readOneRow(spark, s"$dir/meta")("parts").asInstanceOf[Int]
    val tmp = dir + ".compact-" + System.nanoTime()
    val live = AnnIndex.requireLive(
      AnnIndex.liveOnly(spark, dir,
        graft.util.TinyParquet.openStore(spark, s"$dir/positions")), dir)
    Seq(parts).toDF("parts")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
    live.withColumn("__seq", lit(0L))
      .repartition(parts, col("__pt"))
      .write.partitionBy("__pt").mode("overwrite").parquet(s"$tmp/positions")
    graft.operators.Upsert.swapDirs(tmp, dir)
  }

  /** The text-layout compaction policy (the
    * [[graft.ext.AnnIndex.compactIfNeeded]] shape): measure
    * [[tombstoneDebt]] and, at or above `threshold`, route to the
    * layout's compaction; returns whether one ran.
    */
  def compactIfNeeded(spark: SparkSession, dir: String,
      threshold: Double = 0.25): Boolean = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    if (tombstoneDebt(spark, dir) < threshold) false
    else {
      if (graft.util.Hfs.exists(spark, s"$dir/lens")) compact(spark, dir)
      else compactPositional(spark, dir)
      true
    }
  }
}
