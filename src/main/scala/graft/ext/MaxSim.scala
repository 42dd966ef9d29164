package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Late-interaction (MaxSim / ColBERT-style) multi-vector retrieval: a
  * document is a BAG of token vectors, a query scores as
  * `maxsim(q, d) = Σ_{qt ∈ q} max_{dt ∈ d} cos(qt, dt)` — each query
  * token finds its best-matching document token, and the per-token
  * evidence sums. The one modern retrieval shape between single-vector
  * ANN (one vector loses token-level evidence) and BM25 (no semantics).
  *
  * Serving composes with the [[AnnIndex]] machinery instead of inventing
  * its own: token vectors persist in the IVF-flat layout (vectors
  * partitioned by coarse cluster), so candidate generation is the same
  * nprobe PARTITION PRUNING every other index enjoys — stage 1 retrieves
  * per-QUERY-TOKEN candidates from the probed partitions only; stage 2
  * re-scores candidate documents exactly over their full token bags
  * (reading the vectors table row-pruned by a broadcast of the candidate
  * doc set). No corpus-wide cross join anywhere: the only corpus-sized
  * scan is partition-pruned, and the refine join is keyed on the
  * candidate doc ids.
  *
  * Token-vector ids ENCODE their document: `tokId = docId·cap + pos`
  * (pos < cap), so doc attribution is integer division — replayable in
  * SQL against the stored tables, which is what the `x_knn_maxsim` gate
  * hash-checks.
  */
object MaxSim {

  /** Serve MaxSim top-k documents. `queryToks` carries one row per query
    * token: (`qdocCol` — the query's id, `qtokCol` — a token id UNIQUE
    * across query tokens and DISJOINT from corpus token ids, `vecCol`).
    * `cap` is the id-encoding stride of the stored token ids;
    * `candPerToken` the stage-1 depth per query token. Self-retrieval
    * (doc == query doc) is excluded, the retrieval-gate convention.
    */
  /** `docWhere` is FILTERED SEARCH at the document grain: a predicate
    * builder applied to the doc-id expression, evaluated at the STAGE-1
    * pruned scan (excluded docs never consume candidate slots — the
    * post-filter pitfall where a filter applied after retrieval starves
    * the top-k is avoided, the same predicate-below-scoring discipline
    * as the quantized layouts' `where`), and again on the stage-2 bag
    * scan. Keys whole documents; default admits everything.
    */
  def maxSimTopK(spark: SparkSession, indexDir: String, queryToks: DataFrame,
      qdocCol: String, qtokCol: String, vecCol: String, k: Int,
      nprobe: Int, candPerToken: Int, cap: Int,
      docWhere: Column => Column = _ => lit(true)): DataFrame = {
    require(cap > 0 && k > 0 && nprobe > 0 && candPerToken > 0,
      s"bad maxsim geometry: cap=$cap k=$k nprobe=$nprobe cand=$candPerToken")
    val idx = AnnIndex.readIvf(spark, indexDir)
    val qt = queryToks.select(col(qdocCol).cast("long").as("__qdoc"),
        col(qtokCol).cast("long").as("__qtok"), col(vecCol).as("__qv"))
      .localCheckpoint(eager = false) // stage 1, the pair map and the refine share it (lazy)
    // stage 1: per query token, top candidates through the partition-
    // pruned IVF path (each token is its own "query" to the index);
    // the doc predicate evaluates INSIDE the pruned scan via the ivf
    // layout's own filtered-search hook, on the stored token id
    val cand = AnnIndex.ivfTopK(spark, idx,
      qt.select(col("__qtok"), col("__qv")), "__qtok", "__qv",
      candPerToken, nprobe, where = docWhere(expr(s"__id div $cap")))
    // candidate (query doc, corpus doc) pairs — stage-1-sized, broadcastable
    val pairs = cand
      .join(qt.select(col("__qtok").as("query_id"), col("__qdoc")), Seq("query_id"))
      // exact integral division (`div`), not floor(double /): a double
      // round-trip silently corrupts doc attribution for ids past 2^53
      .select(col("__qdoc"), expr(s"neighbor_id div $cap").as("__doc"))
      .filter(col("__qdoc") =!= col("__doc"))
      .distinct()
      .localCheckpoint(eager = false) // lazy: one returned plan
    // stage 2: exact MaxSim over the candidates' FULL token bags — the
    // vectors scan is row-pruned to candidate docs via the broadcast
    // semi-join, never corpus-wide
    val dt = AnnIndex.liveOnly(spark, indexDir,
        graft.util.TinyParquet.openStore(spark, s"$indexDir/vectors")
          .filter(docWhere(expr(s"__id div $cap"))))
      .select(expr(s"__id div $cap").as("__doc"), col("__vec"))
      .join(broadcast(pairs.select(col("__doc")).distinct()), Seq("__doc"), "left_semi")
    val perTok = broadcast(pairs)
      .join(qt, Seq("__qdoc"))
      .join(dt, Seq("__doc"))
      .groupBy(col("__qdoc"), col("__doc"), col("__qtok"))
      .agg(max(Similarity.cosine(col("__qv"), col("__vec"))).as("__mx"))
    val scored = perTok.groupBy(col("__qdoc").as("query_id"), col("__doc").as("doc_id"))
      .agg(sum(col("__mx")).as("maxsim"))
    Similarity.topKPerQuery(scored, "maxsim", "doc_id", k)
  }
}
