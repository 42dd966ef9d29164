package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Cols.qcol

/** Graph-based ANN — the eleventh persisted index layout, answering the
  * build-or-justify decision on the HNSW/Vamana family (VERDICT r14 #6)
  * with a BUILD: a single-layer navigable neighbor graph ("NSW-lite" —
  * DiskANN/Vamana's serving shape without the hierarchy) persisted as
  * parquet, served by a fixed-width, fixed-depth BEAM SEARCH of
  * iterative id lookups.
  *
  * Layout under `dir` (meta carries layout = "graph"):
  *   - `vectors/`   (__id, __vec)            — the corpus vectors;
  *   - `adjacency/` (__id, __nbrs long[])    — each node's `degree`
  *     exact top-cosine neighbors (id-sorted: beam search is
  *     set-semantics, storage order must not matter);
  *   - `entry/`     (entry, degree)          — the search entry point:
  *     the corpus MEDOID (max rounded cosine to the mean vector, min id
  *     tie) — the standard Vamana start.
  *
  * Serving (`topK`) is DETERMINISTIC given the stored graph: beam_0 =
  * {entry}; each hop scores beam ∪ neighbors(beam) per query and keeps
  * the `beamWidth` best by (cosine rounded 4dp DESC, id) — the library's
  * ranking discipline — for `hops` FIXED hops (no early exit: a
  * data-dependent exit would make the served set depend on float
  * convergence tests; fixed depth makes the whole path replayable in a
  * second engine's SQL, which is how the x_knn_graph gate hash-pins it).
  *
  * Scale shape: the beam lives on the driver; each hop is ONE Spark
  * job — a union of the `vectors/` and `adjacency/` scans filtered to
  * the candidate ids not fetched yet — and the driver scores and ranks
  * the candidates with the Column path's own arithmetic. A fetched row
  * carries both the vector and the neighbour list of its id, so the
  * next hop's expansion is already on the driver: a serve is hops + 1
  * lookup jobs (entry points, then one per hop) plus the final ranking,
  * which stays a lazy Spark plan. The driver's share is bounded by the
  * batch, not the corpus: a hop takes in at most queries × beamWidth ×
  * (degree + 1) rows — the candidate set a broadcast-join hop would
  * ship from the driver anyway — and no id is fetched twice. Serve
  * cost is hops × beamWidth × degree vector reads per query,
  * INDEPENDENT of corpus size — the property that makes graph indexes
  * the production high-recall family. The graph tables are read by id,
  * so a deployment sorts or buckets both by __id and the filtered scans
  * skip row groups.
  *
  * Two builds, one layout: [[build]] is the exact top-`degree` neighbor
  * graph by brute force — deterministic and oracle-able, the right
  * gate-scale choice — and [[buildFromIvf]] is the 100 TB path
  * (candidate edges from an IVF blocked self-join, one entry point per
  * coarse centroid). The serving path reads only the LAYOUT and does
  * not care how edges were produced. What the exact build deliberately
  * omits from full Vamana: the hierarchy (HNSW's upper layers —
  * replaced by the medoid entry; buildFromIvf's centroid multi-entry is
  * the cheap substitute) and alpha-pruned long edges (diversity
  * pruning) — the recall-report rows measure what that costs at this
  * geometry; SURVEY §17 records the resulting trade vs the IVF family.
  */
object GraphAnn {

  def build(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      degree: Int = 8): Unit = {
    require(degree > 0, s"degree must be positive: $degree")
    val spark = corpus.sparkSession
    val c = corpus.select(qcol(idCol).cast("long").as("__id"),
        qcol(vecCol).as("__vec"))
      .localCheckpoint(eager = true) // vectors + edges + medoid share it
    AnnIndex.writeMeta(spark, dir, m = 0, sub = 0, nlist = -1,
      layout = "graph")
    c.write.mode("overwrite").parquet(s"$dir/vectors")
    // exact top-degree neighbors per node (self excluded by the brute
    // top-k contract); stored id-sorted — set semantics
    Similarity.bruteForceTopK(c, c, "__id", "__vec", degree)
      .groupBy(col("query_id").as("__id"))
      .agg(array_sort(collect_set(col("neighbor_id"))).as("__nbrs"))
      .write.mode("overwrite").parquet(s"$dir/adjacency")
    // medoid entry: the row nearest the mean vector. The mean is a
    // DIMENSION-sized driver value (bounded collect), re-broadcast as a
    // literal array — no corpus-sized driver state
    val dim = c.select(size(col("__vec"))).head().getInt(0)
    val meanRow = c.select((0 until dim).map(i =>
      avg(element_at(col("__vec"), i + 1).cast("double")).as(s"_m$i")): _*)
      .head()
    val mean = array((0 until dim).map(i => lit(meanRow.getDouble(i))): _*)
    val entry = c.select(col("__id"),
        Similarity.cosine(col("__vec"), mean).as("__c"))
      .orderBy(round(col("__c"), 4).desc, col("__id")).limit(1)
      .select(col("__id")).head().getLong(0)
    import spark.implicits._
    Seq((entry, degree, 0)).toDF("entry", "degree", "alpha_q")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/entry")
  }

  /** The 100 TB build path the exact [[build]] documents: candidate
    * edges come from the IVF machinery instead of the all-pairs brute
    * force. Each node probes its `nprobe` nearest coarse clusters
    * (broadcast centroids — never the corpus) and scores only against
    * the members of those clusters — one shuffle hash join on the
    * cluster id, so the pair volume is ~n·nprobe·(n/nlist) instead of
    * n²; with the standard nlist ≈ √n sizing that is O(n^1.5·nprobe).
    * The persisted LAYOUT is identical (vectors/adjacency/entry, meta
    * layout = "graph") and the serving path explicitly does not care
    * how edges were produced — [[topK]] replays unchanged, so the
    * x_knn_graph_scale gate hash-pins the whole beam trajectory over an
    * IVF-built graph with no new oracle machinery.
    *
    * Two deliberate differences from the exact build:
    *   - edges are the top-`degree` of the PROBED candidates (a true
    *     top-degree edge outside every probed cluster is missed — the
    *     standard IVF-candidate approximation; the recall-report row
    *     measures what it costs);
    *   - the entry table carries ONE ENTRY PER COARSE CLUSTER (the
    *     member nearest its centroid) instead of the single global
    *     medoid — multi-seeding every region is the cheapest hierarchy
    *     substitute and is what cuts the recall knee from 6 hops to ≤3
    *     at this geometry (GraphCurve, SURVEY §17).
    */
  def buildFromIvf(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, degree: Int = 8, nlist: Int = 16, nprobe: Int = 4,
      iters: Int = 2, maxTrainRows: Int = 0,
      /** Already-trained coarse centroids — the [[AnnIndex.buildIvf]]
        * `coarseIn` discipline (one training fanned into every layout
        * that shares it). */
      coarseIn: Option[DataFrame] = None,
      /** Vamana's diversity prune (RobustPrune), on a ×1000 integer
        * grid: 0 = off (plain top-`degree` edges); e.g. 1200 = α 1.2.
        * When on, each node's edges are the greedy α-diverse subset of
        * its top-3·degree candidates — a candidate is dominated when an
        * already-kept neighbor s sits much closer to it than the node
        * does (α·d(s,c) ≤ d(node,c)), so near-collinear short edges
        * collapse into one and the freed slots hold LONG edges toward
        * other regions. Long edges are what cut beam hops at fixed
        * recall (the DiskANN result); [[topK]] is unchanged — diversity
        * is a property of the stored adjacency.
        */
      alphaQ: Int = 0): Unit = {
    require(degree > 0, s"degree must be positive: $degree")
    require(nlist > 0 && nprobe > 0 && nprobe <= nlist,
      s"need 0 < nprobe ($nprobe) <= nlist ($nlist)")
    require(alphaQ == 0 || alphaQ >= 1000,
      s"alphaQ is ×1000 (α ≥ 1; 0 = off): $alphaQ")
    val spark = corpus.sparkSession
    val c = corpus.select(qcol(idCol).cast("long").as("__id"),
        qcol(vecCol).as("__vec"))
      .localCheckpoint(eager = true) // vectors + probes + members share it
    AnnIndex.writeMeta(spark, dir, m = 0, sub = 0, nlist = -1,
      layout = "graph")
    c.write.mode("overwrite").parquet(s"$dir/vectors")
    val coarse = coarseIn.getOrElse(
      Similarity.trainCentroids(c, "__id", "__vec", nlist, iters,
        maxTrainRows))
    // each node as a MEMBER: its own (single) cluster assignment —
    // the one build-time corpus shuffle, exactly like buildIvfPq
    val members = Similarity.assign(c, ("__id", "__vec"), coarse)
      .select(col("__cluster"), col("__id").as("__nid"),
        col("__vec").as("__nv"))
      .localCheckpoint(eager = true) // edge candidates + entries share it
    val adjacency =
      if (alphaQ == 0)
        Similarity.topKPerQuery(
          ivfCandidateEdges(c, members, coarse, nprobe), "__s", "__nid", degree)
          .groupBy(col("query_id").as("__id"))
          .agg(array_sort(collect_set(col("__nid"))).as("__nbrs"))
      else {
        // α prune wants CHOICE: pool 3·degree candidates, keep ≤ degree
        // diverse ones. Per-node work is pool²·dim (bounded constants);
        // the shuffle is the same degree-cut groupBy, just 3× the rows
        val pool = Similarity.topKPerQuery(
          ivfCandidateEdges(c, members, coarse, nprobe), "__s", "__nid",
          degree * 3)
        pool
          .join(members.select(col("__nid"), col("__nv")), Seq("__nid"))
          .groupBy(col("query_id").as("__id"))
          .agg(collect_list(struct(col("rank"), col("__nid"),
            col("__s").as("__cq"), col("__nv"))).as("__cands"))
          .select(col("__id"),
            robustPruneUdf(lit(degree), lit(alphaQ), col("__cands"))
              .as("__nbrs"))
      }
    adjacency.write.mode("overwrite").parquet(s"$dir/adjacency")
    // one entry per coarse cluster: the member nearest its own centroid
    // (rounded-cosine DESC, min id — the family's ranking discipline);
    // ≤ nlist rows by construction
    val entryW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cluster"))
      .orderBy(round(col("__ec"), 4).desc, col("__nid"))
    members
      .join(broadcast(coarse), col("__cluster") === col("__cid"))
      .select(col("__cluster"), col("__nid"),
        Similarity.cosine(col("__nv"), col("centroid")).as("__ec"))
      .withColumn("__rk", row_number().over(entryW))
      .filter(col("__rk") === 1)
      .select(col("__nid").as("entry"), lit(degree).as("degree"),
        lit(alphaQ).as("alpha_q"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/entry")
  }

  /** The persisted α knob of a graph store's entry table — 0 (off) for
    * stores written before the column existed, exactly their semantics.
    */
  private def readAlphaQ(entry: DataFrame): Int =
    if (entry.columns.contains("alpha_q")) entry.head().getAs[Int]("alpha_q")
    else 0

  /** One node's greedy RobustPrune (Vamana/DiskANN): walk the candidate
    * pool in serving-rank order (cosine DESC, id — already deterministic
    * from topKPerQuery); keep a candidate unless an already-kept
    * neighbor DOMINATES it — α·d(kept, cand) ≤ d(node, cand) on the
    * quantized cosine-distance grid (d = 10⁴ − round(cos,4)·10⁴) — and
    * stop at `degree`. Near-collinear short edges collapse into their
    * first representative; the freed slots fall to farther, diverse
    * candidates (the long edges that cut beam hops). Driver-free and
    * bounded: the pool is ≤ 3·degree rows, pairwise work ≤ pool²·dim
    * per node, inside one UDF call per adjacency row. Build-side only —
    * the gate oracles replay the SERVE from the stored adjacency, so
    * the prune needs determinism, not SQL expressibility.
    */
  private[ext] def robustPrune(degree: Int, alphaQ: Int,
      cands: Seq[(Int, Long, Double, Seq[Double])]): Array[Long] = {
    val ordered = cands.sortBy(_._1)
    val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
    val it = ordered.iterator
    while (kept.size < degree && it.hasNext) {
      val (_, nid, cq, v) = it.next()
      val dPC = 10000L - math.round(cq * 10000)
      val dominated = kept.exists { case (_, kv) =>
        val dSC = 10000L - quant4(cosD(kv, v))
        alphaQ * dSC <= 1000L * dPC
      }
      if (!dominated) kept += ((nid, v))
    }
    kept.map(_._1).sorted.toArray
  }

  /** round(cos, 4)·10⁴ as a long — the family grid, HALF_UP like the
    * Column-side `round`.
    */
  private def quant4(c: Double): Long =
    BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.movePointRight(4).longValue

  /** Single-pass double cosine — the same fold [[graft.plans.CosineSimilarity]]
    * runs, for the build-side pairwise prune tests.
    */
  private def cosD(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }

  private def toDoubles(v: Seq[Any]): Seq[Double] = v.map {
    case f: Float => f.toDouble
    case d: Double => d
    case x: Number => x.doubleValue()
  }

  private val robustPruneUdf = udf(
    (degree: Int, alphaQ: Int, cands: Seq[org.apache.spark.sql.Row]) =>
      robustPrune(degree, alphaQ, cands.map(r => (
        r.getAs[Int]("rank"), r.getAs[Long]("__nid"),
        r.getAs[Double]("__cq"), toDoubles(r.getSeq[Any](r.fieldIndex("__nv")))))))

  /** [[buildFromIvf]]'s candidate-edge stage, exposed for the plan
    * assertion: each node probes its nprobe nearest centroids
    * (broadcast centroids into the corpus — nlist rows, never the other
    * way), then scores only against the members of those clusters — a
    * blocked self-join ON THE CLUSTER ID whose candidate volume is
    * probers(cluster) × members(cluster), summed: never all-pairs, no
    * cartesian anywhere (plan-asserted). SYMMETRIZED before the degree
    * cut — the NSW/Vamana bidirectional-insertion step: cosine is
    * symmetric, so the swapped pair is a free candidate for the OTHER
    * endpoint; a true neighbor q's own probes missed still reaches q's
    * list whenever the neighbor probed q's cluster (measured: lifts the
    * 16-beam 3-hop recall@5 ceiling from 0.83 to the exact-build band).
    * distinct: a pair co-occurring in several probed clusters scores
    * identically (deterministic cosine), so duplicates collapse instead
    * of double-filling ranks.
    */
  private[graft] def ivfCandidateEdges(c: DataFrame, members: DataFrame,
      coarse: DataFrame, nprobe: Int): DataFrame = {
    val probes = Similarity.probeClusters(
      c.select(col("__id").as("query_id"), col("__vec").as("__qv")),
      coarse, nprobe)
    val scored = probes.join(members, Seq("__cluster"))
      .filter(col("query_id") =!= col("__nid"))
      .select(col("query_id"), col("__nid"),
        Similarity.cosine(col("__qv"), col("__nv")).as("__s"))
    scored
      .unionByName(scored.select(col("__nid").as("query_id"),
        col("query_id").as("__nid"), col("__s")))
      .distinct()
  }

  /** Append rows into the graph store's FRESH REGION (`delta/`) — the
    * production incremental-insert shape for graph indexes (the
    * FreshDiskANN split): new vectors land in a small append-only delta
    * that [[topK]] scores EXACTLY (brute force — the delta is bounded
    * by the compaction cadence, the knob a deployment already operates),
    * while the navigable graph itself stays immutable between
    * consolidations. In-place edge insertion would need reverse-edge
    * updates to existing adjacency rows — an upsert semantics the
    * layout's oracle-replayable append-only tables deliberately don't
    * carry; the fold happens at [[compact]], where the whole survivor
    * set gets fresh subquadratic edges ([[buildFromIvf]]).
    *
    * CDC contract matches every other layout: appends are new ids, an
    * update is deleteIds + append (the tombstone kills the graph row at
    * its lower seq; the delta row outlives it).
    */
  def append(spark: SparkSession, dir: String, rows: DataFrame,
      idCol: String, vecCol: String): Unit = {
    require(AnnIndex.readLayout(spark, dir) == "graph",
      s"$dir is not a graph index — each layout has its own append")
    val seq = AnnIndex.nextSeq(spark, dir)
    rows.select(qcol(idCol).cast("long").as("__id"),
        qcol(vecCol).as("__vec"))
      .withColumn("__seq", lit(seq))
      .coalesce(1) // batch-sized fresh region: one file per append
      .write.mode("append").parquet(s"$dir/delta")
  }

  /** Beam-search top-k over a persisted graph index. Output:
    * (query_id, rank, neighbor_id, cosine) — the family contract,
    * self-matches excluded from the FINAL ranking (every serving path
    * in the family does); the beam itself may pass through the query's
    * own node (navigation). A non-empty fresh region ([[append]]) is
    * scored exactly beside the beam's candidates — new rows are
    * servable the moment they land, at brute-force quality.
    */
  def topK(spark: SparkSession, dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      beamWidth: Int = 8, hops: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(beamWidth > 0, s"beamWidth must be positive: $beamWidth")
    require(hops > 0, s"hops must be positive: $hops")
    // the beam needs strictly more slack than k: the final ranking
    // filters self-matches and tombstoned beam members AFTER the beam
    // was cut, so beamWidth == k could under-fill the result even when
    // >= k live neighbors exist. Widened INTERNALLY rather than
    // rejected — beamWidth == k was a legal call before the r16
    // tightening, and throwing on it broke callers at runtime for a
    // condition the search can absorb itself (ADVICE r16).
    val beam0 = math.max(beamWidth, k + 1)
    require(AnnIndex.readLayout(spark, dir) == "graph",
      s"$dir is not a graph index — each layout has its own reader")
    // ALL stored entry points seed the beam: the exact build writes the
    // single medoid (classic Vamana start), [[buildFromIvf]] writes one
    // per coarse centroid — the cheapest hierarchy substitute (the
    // medoid-only start is why fringe regions sat 6 hops out; seeding
    // every cluster cuts the knee to ≤3 hops, GraphCurve). Bounded
    // (≤ nlist rows by construction) — driver-side tiny read, no Spark
    // job on the serve path's construction.
    val entries = graft.util.TinyParquet.readRows(spark, s"$dir/entry")
      .map(_("entry").asInstanceOf[Long]).sorted
    val v = graft.util.TinyParquet.openStore(spark, s"$dir/vectors")
    // DiskANN-style lazy deletes: tombstoned nodes may still ROUTE (the
    // beam reads `vectors/` unfiltered — removing routers before
    // consolidation punches navigation holes), but the FINAL ranking
    // serves live ids only ([[AnnIndex.liveOnly]] — the same per-id
    // tombstone broadcast every layout uses). [[compact]] is the
    // consolidation.
    val vLive = AnnIndex.liveOnly(spark, dir, v)
    val adj = graft.util.TinyParquet.openStore(spark, s"$dir/adjacency")
    val q0 = queries.select(qcol(idCol).cast("long").as("query_id"),
        qcol(vecCol).as("__qv"))
    val beam = new DriverBeam(v, adj, q0, beam0)
    beam.fetch(entries, withQueries = true, withAdj = true)
    var frontier: Map[Long, Seq[Long]] = beam.queryIds.map(_ -> entries).toMap
    for (h <- 1 to hops) frontier = beam.hop(frontier, withAdj = h < hops)
    // the query batch as it was read for scoring: the final ranking
    // joins these rows instead of re-running the caller's plan
    val q = spark.createDataFrame(
      java.util.Arrays.asList(beam.queryRows: _*), q0.schema)
    val beamFrame = {
      import org.apache.spark.sql.types._
      spark.createDataFrame(java.util.Arrays.asList(frontier.toSeq.sortBy(_._1)
          .flatMap { case (qid, ids) => ids.map(n => Row(qid, n)) }: _*),
        StructType(Seq(
          StructField("query_id", LongType, q0.schema("query_id").nullable),
          StructField("__nid", LongType))))
    }
    // fresh region: every LIVE delta row is a final candidate for every
    // query (exact — the delta's share of the store is priced by
    // [[AnnIndex.compactIfNeeded]]'s delta-debt trigger, so appends
    // cannot grow it past the fold threshold), scored beside the beam's
    // survivors against the combined live vector set. distinct dedups
    // candidate IDS from the two paths; a bare re-append WITHOUT the
    // CDC delete still leaves two live vector rows for one id and they
    // both rank — the same two-generations-both-survive contract
    // [[AnnIndex.liveOnly]] documents for every layout's append.
    val deltaPath = s"$dir/delta"
    val (finalCands, finalVecs) =
      if (!graft.util.Hfs.exists(spark, deltaPath)) (beamFrame, vLive)
      else {
        // no checkpoint, not even a lazy one: it would prepare the plan
        // now and start its broadcast jobs before the caller's action.
        // The delta is small; its two uses read it twice
        val dLive = AnnIndex.liveOnly(spark, dir,
            graft.util.TinyParquet.openStore(spark, deltaPath))
          .select(col("__id"), col("__vec"))
        val cands = beamFrame.unionByName(
            q.select(col("query_id"))
              .crossJoin(broadcast(dLive.select(col("__id").as("__nid")))))
          .distinct()
        (cands, vLive.select(col("__id"), col("__vec")).unionByName(dLive))
      }
    // the final ranking stays lazy, in Spark: both candidate-side frames
    // broadcast into the corpus-sized vector tables, which never shuffle
    // (plan-asserted)
    val scored = finalVecs
      .join(broadcast(finalCands), finalCands("__nid") === finalVecs("__id"))
      .drop("__id")
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("__nid"),
        Similarity.cosine(col("__qv"), col("__vec")).as("cosine"))
      .filter(col("query_id") =!= col("__nid"))
    Similarity.topKPerQuery(scored, "cosine", "__nid", k)
      .withColumnRenamed("__nid", "neighbor_id")
  }

  /** The beam's driver-side state for one [[topK]] call. Each graph node
    * is fetched ONCE per serve — its vector rows and neighbour list
    * together — by [[fetch]], one Spark job that unions the `vectors/`
    * and `adjacency/` scans filtered to the ids not fetched yet. A hop
    * then needs only the rows of the new neighbours: the neighbour lists
    * of the beam it expands came along when the beam's members were
    * fetched. Scoring and ranking run here, with Spark's arithmetic:
    * the [[graft.plans.CosineSimilarity]] fold, `max` over an id's
    * vector rows (nulls ignored, NaN greatest), and the rounded-4dp
    * DESC NULLS LAST, id ASC order of `Similarity.topKPerQuery`.
    *
    * Footprint: a hop fetches at most queries × beam × (degree + 1)
    * rows and no id twice per serve — batch-sized, never corpus-sized.
    */
  private final class DriverBeam(v: DataFrame, adj: DataFrame, q0: DataFrame,
      width: Int) {
    import scala.collection.mutable
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

    private def isFloat(df: DataFrame, c: String): Boolean =
      df.schema(c).dataType match {
        case ArrayType(FloatType, _) => true
        case ArrayType(DoubleType, _) => false
        case t => throw new IllegalArgumentException(
          s"graph-ANN vectors must be array<float|double>, $c is ${t.simpleString}")
      }
    private val (vFloat, qFloat) = (isFloat(v, "__vec"), isFloat(q0, "__qv"))
    // null elements read as 0, as the fold reads them off UnsafeArrayData
    private def arrayData(s: scala.collection.Seq[Any], float: Boolean): ArrayData =
      if (s == null) null
      else if (float) ArrayData.toArrayData(s.map(x =>
        if (x == null) 0f else x.asInstanceOf[Float]).toArray)
      else ArrayData.toArrayData(s.map(x =>
        if (x == null) 0.0 else x.asInstanceOf[Double]).toArray)

    private val qVecs = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[ArrayData]]
    private val vecs = mutable.HashMap.empty[Long, mutable.ArrayBuffer[ArrayData]]
    private val nbrs = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    private val fetched = mutable.HashSet.empty[Long]
    private val qRows = mutable.ArrayBuffer.empty[Row]

    /** Query ids in first-seen order (null ids never match a join). */
    def queryIds: Seq[Long] = qVecs.keys.toSeq
    /** The query rows exactly as read, in `q0`'s schema. */
    def queryRows: Seq[Row] = qRows.toSeq

    /** One job: the vector rows (and, with `withAdj`, the neighbour
      * lists) of `ids`, plus the query rows on the first call.
      */
    def fetch(ids: Seq[Long], withQueries: Boolean, withAdj: Boolean): Unit = {
      val want = ids.filterNot(fetched).distinct
      if (want.isEmpty && !withQueries) return
      fetched ++= want
      val hit = col("__id").isin(want: _*)
      val parts =
        Seq(v.filter(hit).select(lit(1).as("__k"), col("__id"), col("__vec"))) ++
          (if (withAdj) Seq(adj.filter(hit)
            .select(lit(2).as("__k"), col("__id"), col("__nbrs"))) else Nil) ++
          (if (withQueries) Seq(q0.select(lit(0).as("__k"),
            col("query_id").as("__id"), col("__qv"))) else Nil)
      val rows = parts.reduce(_.unionByName(_, allowMissingColumns = true)).collect()
      rows.foreach { r =>
        val id = r.getAs[Any]("__id")
        r.getAs[Int]("__k") match {
          case 0 =>
            val qv = r.getAs[scala.collection.Seq[Any]]("__qv")
            qRows += Row(id, qv)
            if (id != null)
              qVecs.getOrElseUpdate(id.asInstanceOf[Long], mutable.ArrayBuffer.empty) +=
                arrayData(qv, qFloat)
          case 1 =>
            vecs.getOrElseUpdate(id.asInstanceOf[Long], mutable.ArrayBuffer.empty) +=
              arrayData(r.getAs[scala.collection.Seq[Any]]("__vec"), vFloat)
          case _ =>
            val ns = r.getAs[scala.collection.Seq[Any]]("__nbrs")
            if (ns != null)
              nbrs.getOrElseUpdate(id.asInstanceOf[Long], mutable.ArrayBuffer.empty) ++=
                ns.collect { case n: Long => n }
        }
      }
    }

    /** One hop: per query, score beam ∪ neighbours(beam) and keep the
      * `width` best. Ids without a vector row drop out (the inner join's
      * rule); tombstoned ids stay — dead nodes route.
      */
    def hop(beam: Map[Long, Seq[Long]], withAdj: Boolean): Map[Long, Seq[Long]] = {
      val cands = beam.map { case (qid, b) =>
        qid -> (b ++ b.flatMap(n => nbrs.getOrElse(n, Nil))).distinct }
      fetch(cands.values.flatten.toSeq.sorted, withQueries = false, withAdj)
      cands.map { case (qid, cs) =>
        val qvs = qVecs(qid)
        qid -> cs.filter(vecs.contains)
          .map(n => (n, round4(vecs(n).foldLeft(null: java.lang.Double) { (m, vv) =>
            qvs.foldLeft(m)((m2, qv) => maxOf(m2,
              if (qv == null || vv == null) null
              else graft.plans.CosineSimilarity.eval(qv, qFloat, vv, vFloat)))
          })))
          .sortWith { case ((na, sa), (nb, sb)) =>
            val c = if (sa == null) { if (sb == null) 0 else 1 }
              else if (sb == null) -1
              else sparkCompare(sb, sa)
            if (c != 0) c < 0 else na < nb
          }
          .take(width).map(_._1)
      }
    }
  }

  /** Spark's double order: -0.0 equals 0.0, NaN equals NaN and sorts
    * above every number.
    */
  private def sparkCompare(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** Spark's `max`: nulls ignored, in [[sparkCompare]] order. */
  private def maxOf(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
    if (a == null) b else if (b == null) a
    else if (sparkCompare(a, b) >= 0) a else b

  /** Spark's `round(x, 4)` on a double; null stays null. */
  private def round4(x: java.lang.Double): java.lang.Double =
    if (x == null || x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP)
      .doubleValue

  /** The fold's knob derivation: explicit positive values pass through;
    * 0 = auto — nlist = max(16, round(√n)) (the standard IVF sizing the
    * [[buildFromIvf]] doc names) and nprobe = ⌈3/8·nlist⌉ capped at
    * nlist (the 16/6 gate ratio). Keeps a sweep-triggered fold
    * subquadratic at ANY store size instead of pinning nlist=16
    * (ADVICE r16: candidate volume would degrade to ~n²/16).
    */
  private[graft] def autoFoldGeometry(n: => Long, foldNlist: Int,
      foldNprobe: Int): (Int, Int) = {
    // n is by-name: the live count is a real Spark job, and a caller
    // pinning BOTH knobs (the gate/spec fixtures) must not pay it
    val nlist =
      if (foldNlist > 0) foldNlist
      else math.max(16L, math.round(math.sqrt(n.toDouble))).toInt
    val nprobe =
      if (foldNprobe > 0) foldNprobe
      else math.min(nlist, (nlist * 3 + 7) / 8)
    (nlist, nprobe)
  }

  /** Consolidate lazy deletes ([[AnnIndex.deleteIds]] tombstones) into a
    * physical rewrite — the Vamana/DiskANN "consolidate" operation: dead
    * rows leave the vectors AND adjacency tables, edges through dead
    * nodes are REPAIRED (a dead neighbor is replaced by the dead node's
    * own neighbors — the in-neighbor→out-neighbor splice — then each
    * node's candidate set is re-scored against its vector and cut back
    * to `degree`), the tombstone log resets with the new generation
    * (the two-move swap every layout's compaction uses), and if the
    * ENTRY died the medoid is recomputed over the survivors. The splice
    * keeps the graph navigable through dead ROUTERS (the common case:
    * a deleted node whose in-edges carried traffic). What it cannot
    * save — by construction, not by omission — is a region whose ONLY
    * connector had no in-edges at all (e.g. the sole bridge that was
    * also the entry): no surviving list references it, so there is
    * nothing to splice. That state is a REBUILD, exactly the
    * reclaim-vs-reset trade every quantized layout documents for its
    * own compaction (codebooks frozen vs retrained); the recall
    * monitor/report is the detector. One exploded self-join over edge
    * rows (n × degree), one scoring join, one key-partitioned window —
    * linear in the graph. Fully-tombstoned refuses loudly
    * ([[AnnIndex.requireLive]] — rebuild-or-drop). Routed from
    * [[AnnIndex.compactIfNeeded]] so the maintenance sweep prices
    * graph stores like every other family.
    */
  def compact(spark: SparkSession, dir: String,
      /** How many levels of a dead chain the edge splice follows; ≥2
        * closes the two-deep-chain disconnection gap, deeper chains
        * remain the documented rebuild-detector territory. */
      spliceDepth: Int = 2,
      /** Fold geometry when a fresh region exists: the [[buildFromIvf]]
        * candidate-blocking knobs. 0 (the default) = AUTO — nlist is
        * derived from the LIVE row count as max(16, round(√n)) and
        * nprobe as ⌈3/8·nlist⌉ (the 16/6 ratio the gate geometry uses),
        * so a sweep-triggered fold ([[AnnIndex.compactIfNeeded]] passes
        * no knobs) keeps the blocked self-join's candidate volume at
        * O(n^1.5·nprobe) at ANY store size instead of degrading to
        * ~n²/16 under a fixed small nlist (ADVICE r16). Explicit
        * positive values override — the spec/gate fixtures pin theirs. */
      foldNlist: Int = 0, foldNprobe: Int = 0): Unit = {
    require(spliceDepth > 0, s"spliceDepth must be positive: $spliceDepth")
    require(foldNlist >= 0 && foldNprobe >= 0,
      s"fold knobs must be 0 (auto) or positive: $foldNlist/$foldNprobe")
    require(AnnIndex.readLayout(spark, dir) == "graph",
      s"$dir is not a graph index — each layout has its own compaction")
    // a non-empty fresh region makes this a FOLD, not a splice: the
    // delta rows need edges AND in-edges (without in-edges a new node
    // is unreachable by navigation), so the whole survivor set gets
    // fresh subquadratic candidate edges + centroid entries — the
    // FreshDiskANN merge, Spark-native. The tombstone log and the delta
    // reset with the new generation like every layout's compaction.
    if (graft.util.Hfs.exists(spark, s"$dir/delta")) {
      val live = AnnIndex.requireLive(
        AnnIndex.liveOnly(spark, dir, graft.util.TinyParquet.openStore(spark, s"$dir/vectors"))
          .select(col("__id"), col("__vec"))
          .unionByName(
            AnnIndex.liveOnly(spark, dir, graft.util.TinyParquet.openStore(spark, s"$dir/delta"))
              .select(col("__id"), col("__vec")))
          .localCheckpoint(eager = true), dir)
      val entry0 = graft.util.TinyParquet.openStore(spark, s"$dir/entry")
      val degree0 = entry0.head().getInt(1)
      // the fold rebuilds with the STORE'S OWN wiring: an α-pruned
      // store stays α-pruned through every sweep-triggered fold (the
      // knob is persisted beside degree; pre-α stores read as 0 = off)
      val alpha0 = readAlphaQ(entry0)
      // auto geometry: the fold is the one call site that cannot know
      // the store's size up front (the sweep routes here with defaults),
      // so it derives nlist from the live count it already materialized.
      // One count over the checkpointed survivor frame — counter-sized.
      val (nlist, nprobe) =
        autoFoldGeometry(live.count(), foldNlist, foldNprobe)
      val tmp = dir + ".compact-" + System.nanoTime()
      buildFromIvf(live, "__id", "__vec", tmp, degree = degree0,
        nlist = nlist, nprobe = nprobe, alphaQ = alpha0)
      graft.operators.Upsert.swapDirs(tmp, dir)
      return
    }
    val live = AnnIndex.requireLive(
      AnnIndex.liveOnly(spark, dir, graft.util.TinyParquet.openStore(spark, s"$dir/vectors"))
        .select(col("__id"), col("__vec"))
        .localCheckpoint(eager = true), dir) // rewrite + repair + entry share it
    val tmp = dir + ".compact-" + System.nanoTime()
    AnnIndex.writeMeta(spark, tmp, m = 0, sub = 0, nlist = -1,
      layout = "graph")
    live.write.mode("overwrite").parquet(s"$tmp/vectors")
    val liveIds = live.select(col("__id"))
    val adj0 = graft.util.TinyParquet.openStore(spark, s"$dir/adjacency")
      .localCheckpoint(eager = true) // edge explode + splice lookup share it
    val edges = adj0.join(liveIds, Seq("__id"), "left_semi")
      .select(col("__id").as("__src"), explode(col("__nbrs")).as("__dst"))
      .localCheckpoint(eager = true) // direct edges + dead-edge probe share it
    // edges whose target died: splice in the dead target's own neighbors,
    // following a dead CHAIN up to `spliceDepth` levels (the single-level
    // form dropped an edge whose dead target's neighbors were ALSO dead —
    // a two-deep dead chain could disconnect more than the documented
    // zero-in-edge case). Each level's frontier is only the still-dead
    // targets of the previous one, so the loop cost shrinks per level.
    val liveDst = liveIds.withColumnRenamed("__id", "__dst")
    val adjDst = adj0.select(col("__id").as("__dst"), col("__nbrs").as("__dn"))
    var cands = edges
    var frontier = edges
    var level = 0
    var drained = false
    while (level < spliceDepth && !drained) {
      frontier = frontier
        .join(liveDst, Seq("__dst"), "left_anti")
        .join(adjDst, Seq("__dst"))
        .select(col("__src"), explode(col("__dn")).as("__dst"))
        .distinct()
        .localCheckpoint(eager = true) // next level re-probes this one
      // empty frontier = no dead chain this deep: skip the remaining
      // levels' join rounds (isEmpty on the just-checkpointed frame is
      // a first-partition read, far below a full level's job chain)
      drained = frontier.isEmpty
      if (!drained) cands = cands.unionByName(frontier)
      level += 1
    }
    cands = cands
      .join(liveDst, Seq("__dst"), "left_semi")
      .filter(col("__src") =!= col("__dst"))
      .distinct()
    // re-rank each node's candidates by cosine (the build's own rule)
    // and cut back to the stored degree — one key-partitioned window
    val entry0 = graft.util.TinyParquet.openStore(spark, s"$dir/entry")
    val degree0 = entry0.head().getInt(1)
    val alpha0 = readAlphaQ(entry0)
    val sv = live.select(col("__id").as("__src"), col("__vec").as("__sv"))
    val dv = live.select(col("__id").as("__dst"), col("__vec").as("__dv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__src"))
      .orderBy(col("__cq").desc, col("__dst"))
    val scored = cands.join(sv, Seq("__src")).join(dv, Seq("__dst"))
      .withColumn("__cq", round(Similarity.cosine(col("__sv"), col("__dv")), 4))
      .withColumn("__rk", row_number().over(w))
    // an α-wired store keeps its diversity discipline through the splice:
    // re-cut with the SAME RobustPrune the build ran (3·degree pool,
    // α-domination, ≤ degree kept) instead of a plain top-degree cut —
    // otherwise spliced nodes silently lose their long edges while the
    // entry metadata still claims the α (r17 ADVICE)
    val recut =
      if (alpha0 == 0)
        scored.filter(col("__rk") <= degree0)
          .groupBy(col("__src").as("__id"))
          .agg(array_sort(collect_set(col("__dst"))).as("__nbrs"))
      else
        scored.filter(col("__rk") <= degree0 * 3)
          .groupBy(col("__src").as("__id"))
          .agg(collect_list(struct(col("__rk").as("rank"),
            col("__dst").as("__nid"), col("__cq"),
            col("__dv").as("__nv"))).as("__cands"))
          .select(col("__id"),
            robustPruneUdf(lit(degree0), lit(alpha0), col("__cands"))
              .as("__nbrs"))
    recut.write.mode("overwrite").parquet(s"$tmp/adjacency")
    // entry survival: keep the LIVE entry points (a multi-entry table —
    // [[buildFromIvf]] — loses only the seeds that died); if every entry
    // died, recompute the medoid over survivors (same rule as build).
    // Both collects are bounded by the entry-point count (≤ nlist).
    val entriesAll = graft.util.TinyParquet.openStore(spark, s"$dir/entry")
      .select(col("entry")).collect().map(_.getLong(0)).sorted
    val liveEntrySet = live
      .filter(col("__id").isin(entriesAll.map(Long.box): _*))
      .select(col("__id")).collect().map(_.getLong(0)).toSet
    val keptEntries = entriesAll.filter(liveEntrySet)
    val finalEntries: Seq[Long] =
      if (keptEntries.nonEmpty) keptEntries.toSeq
      else {
        val dim = live.select(size(col("__vec"))).head().getInt(0)
        val meanRow = live.select((0 until dim).map(i =>
          avg(element_at(col("__vec"), i + 1).cast("double")).as(s"_m$i")): _*)
          .head()
        val mean = array((0 until dim).map(i => lit(meanRow.getDouble(i))): _*)
        Seq(live.select(col("__id"),
            Similarity.cosine(col("__vec"), mean).as("__c"))
          .orderBy(round(col("__c"), 4).desc, col("__id")).limit(1)
          .select(col("__id")).head().getLong(0))
      }
    import spark.implicits._
    finalEntries.map(e => (e, degree0, alpha0))
      .toDF("entry", "degree", "alpha_q")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/entry")
    graft.operators.Upsert.swapDirs(tmp, dir)
  }
}
