package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Cols.qcol

/** Incremental connected components over a growing candidate-pair graph —
  * the missing last step of the STREAMING dedup loop: the incremental
  * MinHash form emits pairs per micro-batch, but a keep-one policy needs
  * CLUSTERS, and re-running batch components over every pair ever seen is
  * a corpus-sized pass per micro-batch.
  *
  * The persisted store (`compsDir`) holds `(id, component, __seq)`
  * label generations; the live view is each id's newest generation
  * ([[read]]). Each [[update]] touches only the subgraph the new pairs
  * can affect:
  *
  *   1. the batch's ids are resolved to their current component labels
  *      (broadcast semi-join — the store never shuffles);
  *   2. every member of those touched components is pulled (one store
  *      scan row-pruned by a broadcast semi-join on the label set);
  *   3. batch components runs on (new pairs ∪ member→label star edges) —
  *      a subgraph sized by the touched components, not the corpus;
  *   4. fresh labels append as a new generation.
  *
  * Labels are canonical (min reachable id), and component merging is
  * confluent, so incremental updates converge to EXACTLY the batch
  * result on the union of all pairs — the `x_stream_dedup_components`
  * gate pins it. Per-update cost scales with |batch pairs| + |touched
  * components|; the store is append-only generations (the same
  * discipline as the ANN tombstone log), compacted by any full rewrite.
  *
  * Only ids that appeared in some pair are tracked (an isolated document
  * is its own cluster by definition); [[readWithNodes]] restores the
  * one-row-per-node contract of [[Dedup.connectedComponents]].
  */
object IncrementalComponents {

  /** Live view of the label store: (`id`, `component`), newest generation
    * per id (one hash aggregate — no window, no corpus shuffle beyond the
    * groupBy on id).
    */
  def read(spark: SparkSession, compsDir: String): DataFrame =
    graft.util.TinyParquet.openStore(spark, compsDir)
      .groupBy(col("id"))
      .agg(max_by(col("component"), col("__seq")).as("component"))

  /** [[read]] padded to one row per node of `nodes`: ids never seen in a
    * pair label themselves — the exact output contract of the batch
    * [[Dedup.connectedComponents]].
    */
  def readWithNodes(spark: SparkSession, compsDir: String, nodes: DataFrame,
      idCol: String): DataFrame = {
    val base = nodes.select(qcol(idCol).cast("long").as("id")).distinct()
    val labels =
      if (graft.util.Hfs.exists(spark, compsDir)) read(spark, compsDir)
      else base.limit(0).withColumn("component", col("id"))
    base.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Merge one batch of candidate pairs into the persisted labels.
    *
    * The touched subgraph is usually micro-batch-sized, so its labels
    * come from [[Dedup.minIdLabels]]: one bounded collect of the subgraph
    * edges and an in-memory union-find on the driver replace the
    * multi-round distributed label propagation — ~3 Spark actions per
    * update instead of ~10 — and a subgraph past the broadcast cap falls
    * back to [[Dedup.connectedComponents]] automatically; both paths
    * append the same canonical min-id labels.
    */
  def update(spark: SparkSession, compsDir: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b", maxIter: Int = 20): Unit = {
    val edges = pairs
      .select(qcol(aCol).cast("long").as("u"), qcol(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val exists = graft.util.Hfs.exists(spark, compsDir)
    val (subEdges, seq) =
      if (!exists) (edges, 0L)
      else {
        val stored = graft.util.TinyParquet.openStore(spark, compsDir)
        val batchIds = edges.select(col("u").as("id"))
          .unionByName(edges.select(col("v").as("id"))).distinct()
        // labels the batch can touch: ≤ 2·|batch pairs| of them by
        // construction. The id semi-join pushes below the per-id
        // aggregate (grouping-column key), so only the batch ids' own
        // generation rows are ever aggregated — the store itself never
        // shuffles here.
        val touched = stored.join(broadcast(batchIds), Seq("id"), "left_semi")
          .groupBy(col("id"))
          .agg(max_by(col("component"), col("__seq")).as("component"))
          .select(col("component")).distinct()
        // members of the touched components: ROW-prune the raw store on
        // the broadcast label set BEFORE aggregating, so the per-id
        // max_by shuffles only touched-component generations, never the
        // corpus. Pruning pre-aggregation is sound because an id's
        // labels only DECREASE across generations and a component's
        // members relabel atomically in one update — so a stored row
        // carrying a LIVE label L implies its id's live label is L
        // (were the id later merged away to L' < L, every member of L
        // was relabeled in that same update and L would not be live).
        val members = stored
          .join(broadcast(touched), Seq("component"), "left_semi")
          .groupBy(col("id"))
          .agg(max_by(col("component"), col("__seq")).as("component"))
        // each touched component collapses to its star: member→label
        // edges carry the component's full connectivity into the
        // subgraph (every stored component has ≥ 2 members, so every
        // member id appears on some star edge)
        val memberEdges = members
          .select(col("id").as("u"), col("component").as("v"))
          .filter(col("u") =!= col("v"))
        (edges.unionByName(memberEdges), readNextSeq(spark, compsDir))
      }
    val labels = Dedup.minIdLabels(subEdges, maxIter) match {
      case Some(l) => l.coalesce(1) // one file per label generation
      case None => return
    }
    val stamped = labels.withColumn("__seq", lit(seq))
    if (exists) {
      // counter FIRST, labels second: a crash between the two leaves a
      // gap in the sequence (harmless); the reverse order could reuse a
      // seq, making the per-id max_by ambiguous between two generations
      graft.util.Hfs.writeString(spark, s"$compsDir/_next_seq", (seq + 1L).toString)
      stamped.write.mode("append").parquet(compsDir)
    } else {
      // first generation: overwrite clears the dir, so the counter can
      // only land after; a crash between the two is the pre-sidecar
      // store shape, which the fallback scan reads correctly
      stamped.write.mode("overwrite").parquet(compsDir)
      graft.util.Hfs.writeString(spark, s"$compsDir/_next_seq", (seq + 1L).toString)
    }
  }

  /** The next label generation, from the `_next_seq` sidecar — one tiny
    * file read per update instead of a `max(__seq)` column scan whose
    * cost grows with the store's label history (an underscore name, so
    * parquet readers ignore it like `_SUCCESS`). A pre-sidecar store
    * pays the scan once more and adopts the sidecar on that update.
    */
  private def readNextSeq(spark: SparkSession, compsDir: String): Long = {
    val f = s"$compsDir/_next_seq"
    if (graft.util.Hfs.exists(spark, f))
      graft.util.Hfs.readString(spark, f).trim.toLong
    else
      graft.util.TinyParquet.openStore(spark, compsDir).agg(max(col("__seq")))
        .head().getLong(0) + 1L
  }
}
