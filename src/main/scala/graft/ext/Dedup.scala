package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Cols.qcol

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, exact n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design notes (100 TB stance):
  *   - Exact dedup is one hash-groupBy — a single shuffle on a 16-byte key.
  *   - MinHash signatures are computed columnar (no UDF); the only shuffles
  *     are the band-bucket self-join and the candidate-pair dedup. Band
  *     buckets bound the quadratic blow-up; skewed buckets (boilerplate
  *     shingle sets) are capped via `maxBucketSize`.
  *   - SimHash near-dup uses the pigeonhole block trick: hamming ≤ k pairs
  *     must agree on ≥ 1 of (k+1) signature blocks, so candidates come from
  *     equi-joins on block values — never a cross join.
  *   - Exact Jaccard verifies candidates by an explode + equi-join on the
  *     shared shingle (set-intersection as a join, no per-pair list scan).
  */
object Dedup {

  // -------------------------------------------------------------- exact
  /** Exact duplicate groups by content hash of `cols`: one row per group
    * with > 1 member: (canonical id = min, member count).
    */
  def exactGroups(df: DataFrame, cols: Seq[String], idCol: String): DataFrame =
    df.groupBy(md5(concat_ws("\u0000", cols.map(qcol): _*)).as("__h"))
      .agg(min(qcol(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))
      .filter(col("n_dups") > 1)
      .drop("__h")

  /** Exact dedup: keep the lowest-id row per distinct content. */
  def dropExactDuplicates(df: DataFrame, cols: Seq[String], idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(concat_ws("\u0000", cols.map(qcol): _*)))
      .orderBy(qcol(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** End-to-end near-duplicate RESOLVE — the rewrite step every candidate
    * generator in this file feeds ([[minhashCandidates]],
    * [[simhashPairsFromSigs]], [[ngramJaccardPairs]],
    * [[embeddingCosinePairs]], or any user pair frame): cluster the
    * pairs into connected components (a≈b, b≈c collapse even when
    * a≉c directly), keep each cluster's canonical (minimum-id) member,
    * drop the rest.
    *
    * Scale shape: the pairs are evaluated once and the graph is resolved
    * by [[nearDuplicateLosers]] — on the driver when its edges fit a
    * broadcast, else by distributed label propagation over the touched
    * ids only (pair endpoints — at production duplication rates a small
    * fraction of the corpus). The corpus itself is touched by exactly one
    * anti-join against the loser set; nothing corpus-sized enters the
    * resolve.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    df.join(nearDuplicateLosers(pairs, aCol, bCol),
      qcol(idCol).cast("long") === col("__nid"), "left_anti")

  /** The ids a keep-the-minimum-id resolve of a pair graph drops: every
    * node whose connected component has a smaller id, one row each, as
    * (`__nid`: long). [[dropNearDuplicates]] anti-joins with it;
    * [[CorpusClean.cleanAudit]] flags it.
    *
    * The pairs are evaluated ONCE: projected to long `(a, b)` edges,
    * minus rows with a null endpoint or a == b (a null never equi-joins
    * and a self-loop moves no label, so neither makes a loser), and
    * eagerly checkpointed, then resolved by [[minIdLabels]] — on the
    * driver when the edges fit a broadcast, where the losers come back as
    * a local relation with no further job before the caller's action.
    */
  def nearDuplicateLosers(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs
      .select(qcol(aCol).cast("long").as("a"), qcol(bCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .localCheckpoint(eager = true) // the pairs' one evaluation
    import spark.implicits._
    minIdLabels(edges)
      .map(_.filter(col("id") =!= col("component")).select(col("id").as("__nid")))
      .getOrElse(Seq.empty[Long].toDF("__nid"))
  }

  /** Min-id component labels (`id`, `component`: long) of every endpoint
    * of a two-column long edge frame — [[connectedComponents]]' label
    * contract over the edges' own nodes. Where the graph is resolved
    * depends on its size against `cap` =
    * `spark.sql.autoBroadcastJoinThreshold` / 16 (two longs per edge —
    * the size Spark already lets the driver collect and broadcast):
    *   - ≤ cap edges: one `limit(cap + 1)` collect (it scans partitions
    *     incrementally, so a huge graph costs at most cap + 1 rows), then
    *     union-find on the driver over primitive arrays; the labels come
    *     back as a local relation in id order. The driver's share is
    *     bounded by the threshold.
    *   - more than cap edges, or a threshold ≤ 0: [[connectedComponents]]
    *     over `edges`, with nothing on the driver.
    * None when the collect finds no edge at all (the distributed path
    * answers an empty graph with an empty frame instead).
    */
  private[graft] def minIdLabels(edges: DataFrame, maxIter: Int = 20): Option[DataFrame] = {
    val spark = edges.sparkSession
    val Array(a, b) = edges.columns
    val cap = math.min(
      org.apache.spark.sql.GraftSqlBridge.broadcastThreshold(spark) / 16,
      Int.MaxValue - 1L).toInt
    val small =
      if (cap <= 0) None
      else Some(edges.limit(cap + 1).collect()).filter(_.length <= cap)
    small match {
      case Some(rows) if rows.isEmpty => None
      case Some(rows) =>
        import spark.implicits._
        val (ids, roots) = unionFind(rows)
        Some(ids.zip(roots).toSeq.toDF("id", "component"))
      case None =>
        val nodes = edges.select(qcol(a).as("id"))
          .unionByName(edges.select(qcol(b).as("id"))).distinct()
        Some(connectedComponents(nodes, "id", edges, a, b, maxIter))
    }
  }

  /** Union-find over collected (a, b) long edges: (the sorted distinct
    * endpoints, each one's component minimum). Nodes are indexed by
    * binary search into the sorted endpoints, so index order is id order
    * and linking the larger root under the smaller keeps every root its
    * component's minimum.
    */
  private def unionFind(edges: Array[org.apache.spark.sql.Row]): (Array[Long], Array[Long]) = {
    val ends = new Array[Long](2 * edges.length)
    var i = 0
    while (i < edges.length) {
      ends(2 * i) = edges(i).getLong(0)
      ends(2 * i + 1) = edges(i).getLong(1)
      i += 1
    }
    java.util.Arrays.sort(ends)
    var m = 0
    i = 0
    while (i < ends.length) {
      if (m == 0 || ends(i) != ends(m - 1)) { ends(m) = ends(i); m += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(ends, m)
    val parent = Array.tabulate(m)(identity)
    def find(x0: Int): Int = { // path halving
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.foreach { e =>
      val ra = find(java.util.Arrays.binarySearch(ids, e.getLong(0)))
      val rb = find(java.util.Arrays.binarySearch(ids, e.getLong(1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    (ids, Array.tabulate(m)(k => ids(find(k))))
  }

  // ------------------------------------------------------------ minhash
  // (Per-document signatures are produced inside `minhashCandidates` by
  // the native `plans.MinHashAgg` aggregate; a separate Column-level
  // signature helper was removed — its SQL-expression hash family could
  // silently drift from the aggregate's, yielding incomparable sketches.)

  /** Per-document MinHash signatures: explode shingle hashes + ONE native
    * signature aggregate (plans.MinHashAgg): the per-family minima fold
    * map-side in a tight JVM loop over a primitive buffer; only numHashes
    * longs per doc reach the shuffle. (numHashes separate
    * min(xxhash64(h, k)) aggregates walk an expression tree per family
    * per shingle — measured as the pipeline's dominant cost.) Documents
    * with fewer than `shingleSize` tokens produce no row.
    * Output: (`__id`, `__sig`).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, shingleSize: Int = 3,
      portable: Boolean = false): DataFrame = {
    val sh = df.select(qcol(idCol).cast("long").as("__id"),
      explode(TextAnalysis.shingleHashes(qcol(textCol), shingleSize, portable))
        .as("__h"))
    val sigExpr = org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.MinHashAgg(
        org.apache.spark.sql.GraftSqlBridge.expression(col("__h")),
        numHashes, portable = portable).toAggregateExpression())
    sh.groupBy(col("__id")).agg(sigExpr.as("__sig"))
  }

  /** LSH banding of precomputed signatures: one (id, band, bandHash) row
    * per band, signature carried along for the estimated-jaccard epilogue.
    * Output: (`__id`, `__sig`, `__band`, `__bh`).
    */
  def minhashBanded(sigs: DataFrame, numHashes: Int, bands: Int,
      portable: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    // portable band key: the raw "v1,v2,..,vr,band" string itself — the
    // xxhash64 exists only to shorten the shuffle/store key, and a
    // replaying engine joins on the same string with no hash function
    // involved. (Key TYPE therefore differs per family: long for the
    // default, string for portable — each signature store carries
    // exactly one family, so the column never mixes.)
    def key(b: Column): Column = {
      val s = concat_ws(",", slice(col("__sig"), b * rows + 1, lit(rows)), b.cast("string"))
      if (portable) s else xxhash64(s)
    }
    sigs.select(col("__id"), col("__sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), key(_)))
        .as(Seq("__band", "__bh")))
  }

  /** Signature-estimated jaccard of two carried signature columns. */
  private[graft] def estJaccard(sa: Column, sb: Column, numHashes: Int): Column =
    size(filter(zip_with(sa, sb, (x, y) => x === y), e => e))
      .cast("double") / numHashes

  /** LSH banding: candidate pairs whose signatures collide in ≥ 1 band,
    * with the signature-estimated jaccard attached.
    *
    * Output: (`id_a`, `id_b`, `est_jaccard`), id_a < id_b.
    */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      minEstJaccard: Double = 0.5,
      maxBucketSize: Int = 1000,
      /** Engine-portable family ([[PortableHash]]): md5-prefix shingle
        * hashes, the affine family over 2^61-1, raw-string band keys —
        * every stage replayable bit-for-bit in a second engine's SQL.
        * est_jaccard is then emitted UNROUNDED: each value is an exact
        * binary rational k/numHashes, identical on every engine, while
        * decimal rounding is the one step whose tie behavior engines
        * disagree on. Default (false) keeps the faster XXH64 family.
        */
      portable: Boolean = false,
  ): DataFrame = {
    // validate BEFORE the eager signature materialization below — the
    // banding require alone would fire only after the corpus-wide sketch
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sigs = minhashSignatures(df, idCol, textCol, numHashes, shingleSize,
      portable)
      // consumed by bucket sizing + both sides of the candidate self-join;
      // one signature row per doc is tiny — lineage-cut materialization
      // (no cacheManager entry to leak; blocks GC-release with the frame).
      // EAGER deliberately (r21 A/B): lazy lost the materialized size
      // stats and the bucket-cap/self-joins replanned away from broadcast
      // (+10-13% on the minhash family)
      .localCheckpoint(eager = true)

    // (id, band, bandHash) — one shuffle key per band
    val banded = minhashBanded(sigs, numHashes, bands, portable)

    // cap pathological buckets (boilerplate documents): a bucket of size m
    // yields m^2/2 pairs — drop buckets beyond maxBucketSize
    val bucketSizes = banded.groupBy(col("__band"), col("__bh"))
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucketSize && col("__bn") > 1)
    val inBuckets = banded.join(bucketSizes, Seq("__band", "__bh"))

    val a = inBuckets.select(col("__band"), col("__bh"), col("__id").as("id_a"), col("__sig").as("__sa"))
    val b = inBuckets.select(col("__band"), col("__bh"), col("__id").as("id_b"), col("__sig").as("__sb"))
    a.join(b, Seq("__band", "__bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccard(col("__sa"), col("__sb"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .groupBy(col("id_a"), col("id_b"))
      .agg((if (portable) first(col("est_jaccard"))
            else round(first(col("est_jaccard")), 4)).as("est_jaccard"))
  }

  /** Cross-corpus near-duplicate JOIN — dedupe an INCOMING batch against
    * an EXISTING corpus (the "new crawl vs what we already hold" shape,
    * run before admission so the store never accumulates near-copies):
    * MinHash signatures on both sides from the same family, LSH banding
    * on both, candidates from the band-key equi-join LEFT × RIGHT only
    * (within-side duplication is [[minhashCandidates]]' job — a batch is
    * typically self-deduped first), estimated-jaccard epilogue. Id
    * spaces may overlap freely: output pairs are (left, right) roles,
    * not an ordered self-join.
    *
    * The hot-bucket cap reads the COMBINED bucket population (a
    * boilerplate band key is pathological regardless of which side
    * floods it); a capped bucket drops whole, same judgment as the
    * self-join. Scale shape identical too: one shuffle per side keyed
    * on band keys, join fan-out bounded by cap² per bucket — the
    * incoming batch is usually the small side and its banded rows
    * broadcast under AQE when they fit.
    *
    * Output: (`left_id`, `right_id`, `est_jaccard`).
    */
  def minhashJoin(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      minEstJaccard: Double = 0.5,
      maxBucketSize: Int = 1000,
      portable: Boolean = false,
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sl = minhashSignatures(left, idCol, textCol, numHashes, shingleSize,
      portable).localCheckpoint(eager = true) // eager: size stats feed broadcast (r21 A/B)
    val sr = minhashSignatures(right, idCol, textCol, numHashes, shingleSize,
      portable).localCheckpoint(eager = true)
    val bl = minhashBanded(sl, numHashes, bands, portable)
    val br = minhashBanded(sr, numHashes, bands, portable)
    val sizes = bl.select(col("__band"), col("__bh"))
      .unionByName(br.select(col("__band"), col("__bh")))
      .groupBy(col("__band"), col("__bh"))
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > 1 && col("__bn") <= maxBucketSize)
      .select(col("__band"), col("__bh"))
    val a = bl.join(sizes, Seq("__band", "__bh"))
      .select(col("__band"), col("__bh"), col("__id").as("left_id"),
        col("__sig").as("__sa"))
    val b = br.join(sizes, Seq("__band", "__bh"))
      .select(col("__band"), col("__bh"), col("__id").as("right_id"),
        col("__sig").as("__sb"))
    a.join(b, Seq("__band", "__bh"))
      .select(col("left_id"), col("right_id"),
        estJaccard(col("__sa"), col("__sb"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .groupBy(col("left_id"), col("right_id"))
      .agg((if (portable) first(col("est_jaccard"))
            else round(first(col("est_jaccard")), 4)).as("est_jaccard"))
  }

  /** Cross-source duplication MATRIX — dedup observability: how many
    * exact-duplicate pairs each (source, source) combination carries,
    * the "which domains copy which" report a curation review reads
    * before deciding canonical-keep policy. Computed in CLOSED FORM
    * from per-(text, source) counts — a text duplicated n_a times in a
    * and n_b times in b contributes n_a·n_b cross pairs and
    * C(n_s, 2) within-source pairs — so no pair set ever materializes:
    * one counting group-by plus a self-join bounded by the number of
    * SOURCES sharing a text (a handful), never by duplicate
    * multiplicity. Null texts carry no duplication evidence and are
    * excluded (the dedupResolve convention).
    *
    * Output: (`source_a` ≤ `source_b`, `n_pairs` > 0).
    */
  def crossSourceDupMatrix(df: DataFrame, textCol: String,
      srcCol: String): DataFrame = {
    val g = df.filter(qcol(textCol).isNotNull)
      .groupBy(md5(qcol(textCol)).as("__h"), qcol(srcCol).as("__src"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint(eager = true) // both sides of the source pairing; eager: size stats feed the self-join strategy
    val a = g.select(col("__h"), col("__src").as("__sa"), col("__n").as("__na"))
    val b = g.select(col("__h"), col("__src").as("__sb"), col("__n").as("__nb"))
    a.join(b, Seq("__h"))
      .filter(col("__sa") <= col("__sb"))
      .select(col("__sa").as("source_a"), col("__sb").as("source_b"),
        // the pair-count arithmetic stays integral: Spark's `/` on longs
        // returns double, so C(n,2) goes through an exact-valued double
        // and is cast back (n(n−1) is even; exact below 2^52 pairs)
        when(col("__sa") === col("__sb"),
            (col("__na") * (col("__na") - 1) / 2).cast("long"))
          .otherwise(col("__na") * col("__nb")).as("__p"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("__p")).as("n_pairs"))
      .filter(col("n_pairs") > 0)
  }

  // ----------------------------------------------------- exact jaccard
  /** Exact word-n-gram Jaccard similarity for all pairs sharing ≥ 1
    * shingle, thresholded. Intersections computed by explode + equi-join
    * (set intersection as a join — scales with shingle co-occurrence, not
    * with the pair cross product).
    *
    * Shingles with document frequency > `maxShingleDf` are dropped from the
    * whole computation (intersection AND sizes): a boilerplate shingle
    * shared by m docs contributes m² join rows while carrying no dedup
    * signal, so without the cap one ubiquitous shingle is a quadratic
    * candidate explosion. Jaccard stays exact over the retained shingle
    * universe — the guard is self-consistent, not an approximation bolted
    * onto the exact formula.
    *
    * Output: (`id_a`, `id_b`, `jaccard`), id_a < id_b, jaccard ≥ threshold.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      maxShingleDf: Int = 1000,
  ): DataFrame = {
    // Everything downstream (sizes + both sides of the pair self-join)
    // consumes the df-filtered exploded frame — materialize THAT once
    // (lineage-cut localCheckpoint: spills via MEMORY_AND_DISK, leaves no
    // cacheManager entry, blocks GC-release), so the tokenize + shingle +
    // distinct pipeline and the df-filter join run once.
    // Join on the 64-bit shingle hash, not the string — smaller shuffle key.
    // df-filter via partial-aggregated counts + semi-join. A window count
    // over __s would funnel every occurrence of a hot shingle into ONE
    // task — exactly the boilerplate skew the cap defends against; the
    // groupBy collapses hot keys map-side instead.
    val ex = df.select(qcol(idCol).cast("long").as("__id"),
      explode(TextAnalysis.shingleHashes(qcol(textCol), shingleSize)).as("__s"))
      .localCheckpoint(eager = false) // lazy: one returned plan
    val rare = ex.groupBy(col("__s")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxShingleDf)
      .select(col("__s"))
    val exf = ex.join(rare, Seq("__s"), "left_semi")
      .localCheckpoint(eager = false) // lazy: one returned plan
    val sizes = exf.groupBy(col("__id")).agg(count(lit(1)).as("__sz"))
    val inter = exf.select(col("__id").as("id_a"), col("__s"))
      .join(exf.select(col("__id").as("id_b"), col("__s")), Seq("__s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("__inter"))
    inter
      .join(sizes.withColumnRenamed("__id", "id_a").withColumnRenamed("__sz", "__sza"), Seq("id_a"))
      .join(sizes.withColumnRenamed("__id", "id_b").withColumnRenamed("__sz", "__szb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("__inter").cast("double") /
          (col("__sza") + col("__szb") - col("__inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------------------------ simhash
  /** 64-bit SimHash of word tokens: per-bit vote of token hashes. Columnar:
    * for each bit position the sum of ±1 contributions decides the bit.
    */
  def simhash(text: Column): Column = {
    val th = transform(TextAnalysis.tokens(text), t => xxhash64(t))
    // votes[b] = Σ tokens (bit b set ? +1 : -1); bit b of simhash = votes[b] > 0
    val votes = aggregate(th,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)),
        (a, b) => a + when(call_function("shiftright", h, b).bitwiseAND(1) === 1, 1)
          .otherwise(-1)))
    aggregate(zip_with(votes, sequence(lit(0), lit(63)),
      (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Per-document 64-bit SimHash signatures — the FAST distributed form:
    * explode tokens → ONE native vote aggregate (`plans.SimHashAgg`: a
    * primitive 64-int buffer folded map-side; the 64-separate-`sum(when)`
    * form dispatches 64 expression trees per token, and the `simhash`
    * Column fold above allocates a 64-int array per token — both slower).
    * Zero-token documents produce no row. Output: (`__id`, `__sh`).
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
      /** Portable token hashes ([[PortableHash]]: 60-bit md5 prefix,
        * applied AFTER the explode so the md5 stays inside whole-stage
        * codegen). Bits 60..63 of every token hash are then 0, so those
        * signature bits vote to 0 on every engine — the signature is
        * effectively 60-bit, the bit-vote algebra unchanged.
        */
      portable: Boolean = false): DataFrame = {
    val tok = df.select(qcol(idCol).cast("long").as("__id"),
      explode(TextAnalysis.tokens(qcol(textCol))).as("__t"))
    val th = tok.select(col("__id"),
      (if (portable) PortableHash.md5Prefix15(col("__t"))
       else xxhash64(col("__t"))).as("__h"))
    val sigExpr = org.apache.spark.sql.GraftSqlBridge.column(
      graft.plans.SimHashAgg(
        org.apache.spark.sql.GraftSqlBridge.expression(col("__h"))).toAggregateExpression())
    th.groupBy(col("__id")).agg(sigExpr.as("__sh"))
  }

  /** SimHash near-duplicate pairs with hamming distance ≤ maxHamming, via
    * the pigeonhole block join: split the 64-bit signature into
    * (maxHamming+1) blocks — any pair within distance k agrees on ≥ 1 block.
    *
    * Output: (`id_a`, `id_b`, `hamming`).
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      /** Hot-block guard, same failure mode as MinHash buckets: many
        * near-empty/boilerplate docs agreeing on one 16-bit block value
        * yield m² candidate rows. Blocks above the cap are dropped — a true
        * near-dup pair loses only that block's vote and still surfaces via
        * its other (maxHamming) blocks unless ALL its blocks are hot.
        */
      maxBucketSize: Int = 1000,
      portable: Boolean = false,
  ): DataFrame =
    // signatures feed bucket sizing + both self-join sides — materialize
    // once (lineage cut, one long per doc)
    simhashPairsFromSigs(
      simhashSignatures(df, idCol, textCol, portable)
        .localCheckpoint(eager = false), // lazy: one returned plan
      maxHamming, maxBucketSize)

  /** Pigeonhole block join over precomputed (`__id`, `__sh`) signatures —
    * lets a caller that also needs the raw signatures (e.g. the recall
    * gate) compute them once.
    */
  /** Pigeonhole blocking of precomputed (`__id`, `__sh`) signatures: one
    * (id, block index, block value) row per block — any pair within
    * hamming distance `maxHamming` agrees on ≥ 1 of the (maxHamming+1)
    * blocks. Shared by the batch pair join and the streaming signature
    * store so both derive identical block keys.
    * Output: (`__id`, `__sh`, `__blk`, `__bv`).
    */
  private[graft] def simhashBlocked(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    val blockBits = 64 / nBlocks
    sigs.select(col("__id"), col("__sh"),
      posexplode(transform(sequence(lit(0), lit(nBlocks - 1)),
        b => call_function("shiftright", col("__sh"), b * blockBits)
          .bitwiseAND(lit((1L << blockBits) - 1))))
        .as(Seq("__blk", "__bv")))
  }

  def simhashPairsFromSigs(
      sigs: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
  ): DataFrame = {
    val blocked = simhashBlocked(sigs, maxHamming)
    // cap pathological block buckets (mirrors the MinHash bucket cap)
    val blockSizes = blocked.groupBy(col("__blk"), col("__bv"))
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucketSize && col("__bn") > 1)
      .select(col("__blk"), col("__bv"))
    val inBlocks = blocked.join(blockSizes, Seq("__blk", "__bv"))
    val a = inBlocks.select(col("__blk"), col("__bv"), col("__id").as("id_a"), col("__sh").as("__ha"))
    val b = inBlocks.select(col("__blk"), col("__bv"), col("__id").as("id_b"), col("__sh").as("__hb"))
    a.join(b, Seq("__blk", "__bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id_a"), col("id_b")).agg(min(col("hamming")).as("hamming"))
  }

  // ------------------------------------------------ duplicate clusters
  /** EFFECTIVE dataset size under exact dedup — the accounting number a
    * training-data pipeline reports per source per snapshot: raw
    * doc/token counts beside the counts after collapsing exact-text
    * duplicates to one canonical member (min id), with each duplicate
    * group attributed to its CANONICAL's group — so "how many of source
    * X's tokens survive dedup" answers globally, not per source in
    * isolation. "N tokens of X" is the contract training mixes are
    * specified in; the raw row count over-states a duplicated crawl.
    *
    * Null texts carry no content identity and never collapse (each
    * keeps an id-salted key). `token_dup_ratio` is ONE IEEE division of
    * integer counts (0.0 for an empty group), so the whole report
    * reproduces bit-for-bit.
    *
    * Scale shape: one md5-keyed hash aggregate over (group, id, token
    * count) — map-side combined, nothing wider than a 16-byte key plus
    * three numbers shuffles; the report is groups-sized.
    *
    * Output: (`groupCol`, `n_docs`, `n_tokens`, `n_docs_effective`,
    * `n_tokens_effective`, `token_dup_ratio`).
    */
  def effectiveSize(df: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val base = df.select(qcol(groupCol).as("__g"),
        qcol(idCol).cast("long").as("__eid"),
        coalesce(md5(qcol(textCol)),
          concat(lit("null:"), qcol(idCol).cast("string"))).as("__h"),
        coalesce(size(TextAnalysis.tokens(qcol(textCol))), lit(0))
          .cast("long").as("__n"))
      .localCheckpoint(eager = true) // raw and canonical sides share it; eager: size stats survive
    val raw = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"))
    // canonical member per exact-text group: min (id, group, tokens) —
    // deterministic, and the struct carries the attribution columns
    val canon = base
      .groupBy(col("__h"))
      .agg(min(struct(col("__eid"), col("__g"), col("__n"))).as("__c"))
      .select(col("__c.__g").as("__g"), col("__c.__n").as("__n"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_docs_effective"),
        sum(col("__n")).as("n_tokens_effective"))
    raw.join(canon, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n_docs"), col("n_tokens"),
        coalesce(col("n_docs_effective"), lit(0L)).as("n_docs_effective"),
        coalesce(col("n_tokens_effective"), lit(0L)).as("n_tokens_effective"),
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise((col("n_tokens") - coalesce(col("n_tokens_effective"), lit(0L)))
            .cast("double") / col("n_tokens"))
          .as("token_dup_ratio"))
  }

  /** [[effectiveSize]] under a PRECOMPUTED duplicate clustering (near-
    * dup components, cross-modal merges — any labeling): canonical =
    * the min-id member of each component; rows absent from `components`
    * are singletons. Same output shape and attribution semantics as the
    * exact form — the near-dup accounting completes the "N tokens of X"
    * pair (exact dedup understates savings when paraphrase-level copies
    * dominate a crawl).
    *
    * Component labels may live in an ARBITRARY namespace (not
    * necessarily member ids), so singleton fallback keys are kept
    * disjoint from label keys by a tag column instead of a bare
    * coalesce: an unlabeled row whose id happens to equal some
    * component label must stay a singleton, not be merged into that
    * unrelated cluster (r13 ADVICE).
    */
  def effectiveSizeByComponents(df: DataFrame, idCol: String,
      textCol: String, groupCol: String, components: DataFrame): DataFrame = {
    val base = df.select(qcol(groupCol).as("__g"),
        qcol(idCol).cast("long").as("__eid"),
        coalesce(size(TextAnalysis.tokens(qcol(textCol))), lit(0))
          .cast("long").as("__n"))
      .join(components.select(col("id").cast("long").as("__eid"),
        col("component").cast("long").as("__comp")), Seq("__eid"), "left")
      .select(col("__g"), col("__eid"), col("__n"),
        when(col("__comp").isNotNull,
            struct(lit(0).as("ns"), col("__comp").as("v")))
          .otherwise(struct(lit(1).as("ns"), col("__eid").as("v")))
          .as("__comp"))
      .localCheckpoint(eager = true) // raw and canonical sides share it; eager: size stats survive
    val raw = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"))
    val canon = base
      .groupBy(col("__comp"))
      .agg(min(struct(col("__eid"), col("__g"), col("__n"))).as("__c"))
      .select(col("__c.__g").as("__g"), col("__c.__n").as("__n"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_docs_effective"),
        sum(col("__n")).as("n_tokens_effective"))
    raw.join(canon, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n_docs"), col("n_tokens"),
        coalesce(col("n_docs_effective"), lit(0L)).as("n_docs_effective"),
        coalesce(col("n_tokens_effective"), lit(0L)).as("n_tokens_effective"),
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise((col("n_tokens") - coalesce(col("n_tokens_effective"), lit(0L)))
            .cast("double") / col("n_tokens"))
          .as("token_dup_ratio"))
  }

  /** Duplicate-cluster size histogram over a components labeling — the
    * dedup AUDIT number: how many clusters of each size, covering how
    * many documents (n_docs = cluster_size · n_clusters, carried
    * explicitly so the report self-checks and sums to the corpus).
    * Curation runs read it per snapshot: a fattening tail says
    * boilerplate is flooding the candidate generator before any
    * downstream job notices. Two counter-sized hash aggregates —
    * map-side combined, output bounded by the number of DISTINCT
    * cluster sizes; nothing corpus-sized shuffles twice.
    *
    * Output: (`cluster_size`, `n_clusters`, `n_docs`).
    */
  def clusterSizeHistogram(components: DataFrame,
      componentCol: String = "component"): DataFrame =
    components.groupBy(qcol(componentCol).as("__c"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("__n"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("__n")).as("n_docs"))
      .select(col("__n").as("cluster_size"), col("n_clusters"), col("n_docs"))

  /** Connected components over a candidate-pair graph — the final step of
    * fuzzy dedup: MinHash/SimHash/Jaccard emit PAIRS, but a keep-one
    * policy needs CLUSTERS (a≈b and b≈c must collapse to one canonical
    * document even when a≉c directly).
    *
    * Min-label propagation: each node repeatedly adopts the smallest
    * component label among itself and its neighbors, converging in
    * O(graph diameter) rounds — near-dup clusters are dense and shallow,
    * so a handful of rounds suffices (for adversarial long-chain graphs
    * use the large-star/small-star contraction instead). Each round is
    * one equi-join + one min-aggregate, lineage-cut with a
    * `localCheckpoint` so the iteration count never stacks plans; the
    * convergence probe is a count over the already-materialized blocks
    * (carrying the previous label as a column) — no second execution of
    * the round, nothing quadratic, no driver data.
    *
    * Output: (`id`, `component` = min node id reachable), one row per
    * node of `nodes`; isolated nodes keep their own id.
    *
    * `maxIter` bounds the propagation ROUNDS INCLUDING the zero-change
    * round that confirms convergence, so graphs of diameter < maxIter
    * succeed; at the bound the result cannot be confirmed converged and
    * is refused (conservative: a loud error, never silently-partial
    * labels).
    */
  def connectedComponents(
      nodes: DataFrame,
      idCol: String,
      edges: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIter: Int = 20,
      /** When min-label propagation hits `maxIter` without converging
        * (graph diameter ≥ maxIter — long LSH chains in boilerplate-heavy
        * corpora), escalate to large-star/small-star contraction
        * (O(log n) expected rounds) instead of refusing. `false` restores
        * the strict loud-error behavior.
        */
      starFallback: Boolean = true,
  ): DataFrame = {
    val sym = edges
      .select(qcol(aCol).cast("long").as("src"), qcol(bCol).cast("long").as("dst"))
      .unionByName(edges.select(qcol(bCol).cast("long").as("src"), qcol(aCol).cast("long").as("dst")))
      .distinct()
      .localCheckpoint(eager = true)
    var labels = nodes.select(qcol(idCol).cast("long").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(eager = true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbr = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("component"))
      val next = labels.withColumnRenamed("component", "__prev")
        .join(labels.unionByName(nbr)
          .groupBy(col("id")).agg(min(col("component")).as("component")), Seq("id"))
        // EAGER deliberately (r22 A/B re-measured the lazy fusion: lazy
        // checkpoint materialized by the convergence count read +4–13%
        // on every components gate — the lazy LogicalRDD carries no size
        // stats, so the next round's label join loses its broadcast and
        // replans; the eager form's stats adapt the strategy per scale)
        .localCheckpoint(eager = true) // the round's one real execution
      // convergence probe reads the checkpointed blocks — no recompute
      changed = next.filter(col("component") =!= col("__prev")).count()
      labels = next.drop("__prev")
      i += 1
    }
    // partially-propagated labels would make a dedup keep/drop the wrong
    // docs SILENTLY — never return them: escalate to star contraction
    // (diameter-independent) or refuse loudly
    if (changed > 0) {
      if (starFallback) return starContractComponents(nodes, idCol, edges, aCol, bCol)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing); graph diameter exceeds maxIter " +
          "(enable starFallback or raise maxIter)")
    }
    labels
  }

  /** Connected components via alternating large-star / small-star
    * contraction (the two-operation MapReduce algorithm of Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * converges in O(log n) EXPECTED rounds regardless of graph DIAMETER,
    * so it is the escalation path when min-label propagation (O(diameter)
    * rounds) meets an adversarially long chain.
    *
    *   - large-star(u): every neighbor v > u re-attaches to m =
    *     min(Γ(u) ∪ {u});
    *   - small-star(u): u and its smaller neighbors attach to that m.
    *
    * Each step is one groupBy-min + one equi-join + distinct over the
    * edge frame (lineage-cut per round); at the fixpoint every component
    * is a star centered on its minimum id. Same output contract as
    * `connectedComponents`: one row per node, `component` = min reachable
    * id, isolated nodes self-labeled.
    *
    * Convergence is detected by (count, two independent hash sums)
    * equality over the edge set — a 128-bit-ish fingerprint; a collision
    * would need two distinct edge sets agreeing on all three aggregates
    * in the same round.
    */
  def starContractComponents(
      nodes: DataFrame,
      idCol: String,
      edges: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxRounds: Int = 50,
  ): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("__mv"))
        .select(col("u"), least(col("u"), col("__mv")).as("__m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("__m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // input oriented u > v (largeStar emits v > u ≥ m as (v, m))
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("__m"))
      e.join(mins, Seq("u"))
        .select(col("v").as("u"), col("__m").as("v"))
        .unionByName(mins.select(col("u"), col("__m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def fingerprint(e: DataFrame): (Long, BigDecimal, BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")), lit(BigDecimal(0))),
        coalesce(sum(crc32(concat_ws(":", col("u"), col("v"))).cast("decimal(38,0)")),
          lit(BigDecimal(0)))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)))
    }
    var e = edges
      .select(qcol(aCol).cast("long").as("u"), qcol(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
      .localCheckpoint(eager = true)
    var fp = fingerprint(e)
    var converged = false
    var i = 0
    while (!converged && i < maxRounds) {
      val next = smallStar(largeStar(e)).localCheckpoint(eager = true)
      val nfp = fingerprint(next)
      converged = nfp == fp
      e = next
      fp = nfp
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"starContractComponents did not converge in $maxRounds rounds " +
        "(expected O(log n)); the graph is adversarial or maxRounds is too small")
    // fixpoint edges are (child, root) with one root per child (anything
    // else would not be a fixpoint); min-agg guards the invariant anyway
    val roots = e.groupBy(col("u")).agg(min(col("v")).as("__root"))
      .select(col("u").as("__node"), col("__root"))
    nodes.select(qcol(idCol).cast("long").as("id")).distinct()
      .join(roots, col("id") === col("__node"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("component"))
  }

  // ------------------------------------------- duplicated substring spans
  /** Exact duplicated-substring SPANS — the span-level exact dedup of the
    * published dedup literature (find every maximal token run whose
    * k-grams all occur elsewhere in the corpus), complementing the
    * whole-document operators: boilerplate headers, license blocks, and
    * copy-pasted passages duplicate at span granularity long before two
    * documents are near-duplicates.
    *
    * A position is duplicated iff its token k-gram occurs ≥ 2 times in
    * the corpus (within- OR cross-document — a self-repeating document
    * is duplication too); maximal runs of consecutive duplicated
    * positions collapse to one span via gaps-and-islands. Output:
    * (`doc_id`, `span_start`, `span_end`, `n_grams`) — 0-based token
    * indices, span covers tokens [span_start, span_end], n_grams =
    * duplicated k-grams inside it.
    *
    * Scale shape: one explode (corpus token count rows), one k-row
    * sliding window per document building each gram hash, one
    * map-side-combining count by 64-bit gram hash, one SEMI-join back
    * (duplicated-or-not is a membership test — a hot gram never fans
    * out), one per-document window for the islands. O(tokens·k) work
    * total, nothing quadratic, nothing corpus². 64-bit gram hashing
    * means a collision can mark a unique gram duplicated — vanishing at
    * corpus scale and the standard trade everywhere else in this file.
    *
    * The one per-KEY term is the per-document window: a pathological
    * single document is one external-sort window run — spillable row
    * space, no giant in-memory array (SkewSpec "span census skew" pins
    * a 300k-token single-doc book against the same tokens spread over
    * 512 docs — measured ~5× wall, i.e. the serialization of the one
    * window run, where the quadratic in-expression form this replaced
    * did not finish at all; the spec is the regression guard).
    * Escalation (chunking one
    * document across rows) is not warranted below multi-million-token
    * documents; past that, split upstream with
    * [[graft.ext.TextAnalysis.chunkTokens]]-style slicing (span indices
    * then become per-chunk).
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    import org.apache.spark.sql.expressions.Window
    // POSITIONAL k-gram hashes — NOT plans.ShingleHashes, whose set
    // semantics (right for MinHash sketches) would both drop within-doc
    // repeats from the census and misalign positions after the dedup.
    // Built in ROW space: explode per-token hashes, then a k-row sliding
    // window per document assembles each position's hash-slice and
    // hashes it structurally. The first cut built the gram array inside
    // one in-expression `transform` over the token-hash array — but
    // higher-order functions run interpreted with NO common-subexpression
    // elimination, so the inner token-hash array was re-evaluated per
    // position: O(tokens²) PER DOCUMENT. Invisible on sf-scale documents,
    // measured fatal on a 300k-token single-doc book (SkewSpec "span
    // census skew" is the regression guard). The window form is
    // O(tokens·k), spillable, and sorts by the same (doc_id, __pos) the
    // downstream gaps-and-islands window needs anyway.
    val toks = df.select(qcol(idCol).cast("long").as("doc_id"),
      posexplode(transform(TextAnalysis.tokens(qcol(textCol)),
        t => xxhash64(t))).as(Seq("__pos", "__th")))
    val wk = Window.partitionBy(col("doc_id")).orderBy(col("__pos"))
      .rowsBetween(Window.currentRow, k - 1)
    // collect_list is documented order-NONdeterministic — frame order
    // happens to survive today's window implementation, but the gram
    // identity must not hang on an implementation detail (out-of-order
    // collection would silently diverge equal k-grams across partitions).
    // Collect (__pos, __th) structs and sort by the in-frame-unique
    // __pos before extracting the hash slice: k=8 element sort, free
    // next to the window itself.
    val grams = toks
      .withColumn("__slice",
        collect_list(struct(col("__pos"), col("__th"))).over(wk))
      .filter(size(col("__slice")) === k) // tail positions have no full gram
      .select(col("doc_id"), col("__pos"),
        xxhash64(transform(array_sort(col("__slice")), e => e("__th"))).as("__h"))
      // consumed by the duplicate census AND the semi-join probe side
      .localCheckpoint(eager = false) // lazy: one returned plan
    val dup = grams.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select(col("__h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("__pos"))
    grams.join(dup, Seq("__h"), "left_semi")
      .withColumn("__grp", col("__pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + lit(k - 1)).cast("int").as("span_end"),
        count(lit(1)).cast("int").as("n_grams"))
      .drop("__grp")
  }

  /** Per-document duplication profile over [[duplicatedSpans]]:
    * (`doc_id`, `dup_tokens`, `total_tokens`, `dup_fraction`) — the
    * filter-threshold signal (drop or trim documents past a duplicated
    * fraction). Documents with no duplicated span report zero.
    */
  def spanDuplicationStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spans can OVERLAP in token space (duplicated-position runs
    // separated by < k positions each extend k-1 past their last gram) —
    // dup_tokens counts the UNION of covered positions, so overlapping
    // spans merge via the running-max interval sweep before summing
    // (summing extents would overcount and dup_fraction could top 1.0)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("span_start"))
    val prevMax = max(col("span_end"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val spans = duplicatedSpans(df, idCol, textCol, k)
      .withColumn("__new",
        when(col("span_start") > coalesce(prevMax, lit(-1)), 1).otherwise(0))
      .withColumn("__g", sum(col("__new")).over(w))
      .groupBy(col("doc_id"), col("__g"))
      .agg(min(col("span_start")).as("__s"), max(col("span_end")).as("__e"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__e") - col("__s") + 1).as("__dup"))
    df.select(qcol(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokenCount(qcol(textCol)).as("total_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__dup"), lit(0L)).cast("int").as("dup_tokens"),
        col("total_tokens"),
        round(coalesce(col("__dup"), lit(0L)) /
          greatest(col("total_tokens").cast("double"), lit(1.0)), 4)
          .as("dup_fraction"))
  }

  /** The REMEDIATION half of span-level dedup: rewrite each document
    * with every duplicated span's tokens removed (the published
    * exact-substring pipelines cut the repeated passages from training
    * text rather than dropping whole documents). Output:
    * (`doc_id`, `clean_text`) for EVERY input document — a fully
    * duplicated (or token-less) document keeps a row with an empty
    * string, so the drop decision stays a separate, visible filter.
    *
    * Tokens are the lowercase word tokens the span indices refer to;
    * the rewrite joins survivors with single spaces (original casing,
    * punctuation and spacing are not reconstructed — the output is the
    * training-text form, same normalization as every operator here).
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val covered = duplicatedSpans(df, idCol, textCol, k)
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("__pos"))
      .distinct() // overlapping spans cover positions twice
    val toks = df.select(qcol(idCol).cast("long").as("doc_id"),
      posexplode(TextAnalysis.tokens(qcol(textCol))).as(Seq("__pos", "__t")))
    val kept = toks.join(covered, Seq("doc_id", "__pos"), "left_anti")
      .groupBy(col("doc_id"))
      // order survives the shuffle via sort_array over (pos, token)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__t")))),
        s => s.getField("__t")), " ").as("__clean"))
    df.select(qcol(idCol).cast("long").as("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__clean"), lit("")).as("clean_text"))
  }

  // -------------------------------------------------- embedding cosine
  /** Embedding near-duplicate pairs: cosine ≥ threshold within a blocking
    * key (pre-computed cluster/LSH bucket/label). The blocking key keeps the
    * pair space linear-ish.
    *
    * A block of m rows self-joins into m²/2 pairs, so a constant or skewed
    * blocking key would silently go quadratic. Blocks larger than
    * `maxBlockSize` are therefore DROPPED from pairing entirely (the
    * `maxBucketSize` discipline of [[minhashCandidates]] /
    * [[simhashCandidates]]): an oversized block carries no dedup signal
    * proportional to its cost, and dropping keeps the worst-case join
    * fan-out at maxBlockSize² per block instead of corpus². To force
    * all-pairs on genuinely small data, pass a constant block column AND
    * raise `maxBlockSize` past the row count — the cap makes that choice
    * explicit rather than a silent default.
    *
    * Output: (`id_a`, `id_b`, `cosine`).
    */
  def embeddingCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double = 0.99,
      maxBlockSize: Int = 10000,
  ): DataFrame = {
    val base = df.select(qcol(blockCol).as("__blk"), qcol(idCol).cast("long").as("__id"),
      qcol(vecCol).as("__v"))
    // size gate first: only blocks that can produce a pair (n > 1) and are
    // below the fan-out cap reach the self-join
    val okBlocks = base.groupBy(col("__blk"))
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > 1 && col("__bn") <= maxBlockSize)
      .select(col("__blk"))
    val gated = base.join(okBlocks, Seq("__blk"), "left_semi")
    val a = gated.select(col("__blk"), col("__id").as("id_a"), col("__v").as("__va"))
    val b = gated.select(col("__blk"), col("__id").as("id_b"), col("__v").as("__vb"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("__va"), col("__vb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic near-duplicate candidates (Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): block by a TRAINED coarse quantizer —
    * each vector's block is its nearest centroid by cosine — then pair
    * exhaustively only within a cluster. The centroids are the same
    * (`__cid`, `centroid`) frame [[Similarity.trainCentroids]] produces
    * and the IVF index layouts persist, so a corpus that already carries
    * an ANN index reuses its coarse quantizer for free and the blocking
    * is as principled as the index's own nprobe geometry.
    *
    * Scale shape: centroids broadcast into a one-pass assignment (no
    * corpus shuffle), one shuffle on the cluster key for the blocked
    * self-join, `maxClusterSize` bounding the per-cluster n² exactly
    * like [[embeddingCosinePairs]]'s block cap (an over-full cluster
    * means the quantizer is too coarse for dedup — retrain with a larger
    * nlist rather than letting one block go quadratic).
    */
  def semanticDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      threshold: Double = 0.99,
      maxClusterSize: Int = 10000,
  ): DataFrame =
    embeddingCosinePairs(
      Similarity.assign(df, (idCol, vecCol), centroids),
      idCol, vecCol, "__cluster", threshold, maxClusterSize)

  /** The keep-one-per-cluster closure of [[semanticDupPairs]]: candidate
    * pairs → connected components → each component keeps its minimum-id
    * member ([[dropNearDuplicates]]); rows in no pair all survive.
    * Returns the surviving rows of `df` with its original columns.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      threshold: Double = 0.99,
      maxClusterSize: Int = 10000,
  ): DataFrame =
    dropNearDuplicates(df, idCol,
      semanticDupPairs(df, idCol, vecCol, centroids, threshold, maxClusterSize))

  /** The LSH banding PLANNER — the design-time trade study behind every
    * (numHashes, bands) choice above (the x_knn_autotune discipline
    * applied to the dedup family): for each factorization numHashes =
    * bands × rows, the S-curve P(candidate | jaccard = s) =
    * 1 − (1 − s^rows)^bands is evaluated on a fixed similarity grid and
    * split at the operating threshold into a FALSE-POSITIVE mass (the
    * curve's area below the threshold — pairs the banding surfaces that
    * the verifier then discards, the wasted candidate volume) and a
    * FALSE-NEGATIVE mass (the area above it that the banding misses —
    * true duplicates that never become candidates). `chosen` marks the
    * minimum-total-error geometry (ties to fewer bands — fewer bucket
    * shuffles). All masses are integers on the ×10⁶ grid (each curve
    * point quantized before the order-free integer sum), so the report
    * hash-matches a closed-form replay; the whole computation is a few
    * hundred rows of per-row arithmetic — nothing corpus-sized.
    */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, numHashes: Int = 64,
      jaccardThresholdQ: Long = 500000L, gridSteps: Int = 20): DataFrame = {
    require(numHashes > 0, s"numHashes must be positive: $numHashes")
    require(gridSteps > 1 && 1000000 % gridSteps == 0,
      s"gridSteps must divide the 1e6 quantization grid: $gridSteps")
    require(jaccardThresholdQ > 0 && jaccardThresholdQ < 1000000,
      s"threshold must be inside (0, 1) on the 1e6 grid: $jaccardThresholdQ")
    import spark.implicits._
    val cands = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b)).toDF("bands", "rows_per_band")
    val grid = spark.range(1, gridSteps)
      .select(col("id"), (col("id").cast("double") / gridSteps).as("__s"),
        (col("id") * (1000000L / gridSteps)).as("__sq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("err_q"), col("bands"))
    cands.crossJoin(broadcast(grid)) // divisors × grid — dozens of rows
      .withColumn("__pq", round(
        (lit(1.0) - pow(lit(1.0) - pow(col("__s"), col("rows_per_band")),
          col("bands"))) * 1000000, 0).cast("long"))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(
        sum(when(col("__sq") < jaccardThresholdQ, col("__pq"))
          .otherwise(lit(0L))).as("fp_q"),
        sum(when(col("__sq") >= jaccardThresholdQ, lit(1000000L) - col("__pq"))
          .otherwise(lit(0L))).as("fn_q"))
      .withColumn("err_q", col("fp_q") + col("fn_q"))
      .withColumn("chosen", row_number().over(w) === 1)
  }
}
