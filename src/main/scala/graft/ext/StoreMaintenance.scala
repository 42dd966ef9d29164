package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One persisted store a maintenance sweep owns: a display `name`, the
  * family (`"ann"` — any [[AnnIndex]] layout, routed by its stored
  * layout marker; `"text"` — inverted or positional [[TextIndex]];
  * `"dedup"` — a streaming signature store,
  * [[graft.streaming.DocStreams]]), and its directory.
  */
final case class StoreRef(name: String, kind: String, dir: String)

/** Fleet-wide compaction sweep — the ACTUATOR for the store-health
  * dashboards ([[AnnIndex.healthReport]], [[TextIndex.healthReport]],
  * [[graft.streaming.DocStreams.dedupStoreHealth]]): measure every
  * store's tombstone debt, compact the ones at or above the threshold
  * through their own family's rewrite, re-measure, and return one
  * report frame. This is the single maintenance-cadence entry point a
  * production pipeline schedules (nightly, or after takedown batches)
  * instead of remembering N per-store policies.
  *
  * Scale shape: measurement is one counter-sized aggregate per store
  * (the health-report scan); compaction cost is each family's own
  * live-row rewrite, paid only where debt crossed the threshold. The
  * driver holds one 9-field tuple per store — never rows.
  */
object StoreMaintenance {

  private val kinds = Set("ann", "text", "dedup")
  /** fsck additionally audits exported training-shard sets ("shards" —
    * [[ShardExport]] directories): membership by doc_id plus the
    * manifest reconcile (torn-shard count). They never route to sweep:
    * a shard set has no tombstones to compact — its maintenance verb is
    * [[ShardExport.exportIncremental]].
    */
  private val fsckKinds = kinds + "shards"

  /** (total rows, live rows, debt) via the store family's own
    * health-report measurement — the same numbers the dashboards serve.
    */
  private def health(spark: SparkSession,
      ref: StoreRef): (Long, Long, Double) = {
    val df = ref.kind match {
      case "ann"  => AnnIndex.healthReport(spark, Seq(ref.name -> ref.dir))
      case "text" => TextIndex.healthReport(spark, Seq(ref.name -> ref.dir))
      case "dedup" =>
        graft.streaming.DocStreams.dedupStoreHealth(spark, ref.name, ref.dir)
    }
    val r = df.select(col("total_rows"), col("live_rows"),
      col("tombstone_debt")).head()
    (r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  /** Live DISTINCT-id view of one store under its family's tombstone
    * semantics — the membership [[fsck]] audits. One narrow scan +
    * the per-id tombstone broadcast; ids only, never payload columns.
    */
  private def liveIds(spark: SparkSession, ref: StoreRef): DataFrame = ref.kind match {
    case "ann" =>
      // an fsck of a composed ROOT audits the store that actually serves
      val dir = AnnIndex.storeDir(spark, ref.dir)
      val layout = AnnIndex.readLayout(spark, dir)
      val main = AnnIndex.liveOnly(spark, dir, graft.util.TinyParquet.openStore(spark,
          AnnIndex.primaryTable(dir, layout)))
        .select(col("__id").cast("long").as("__id"))
      // a graph store's fresh region serves — its live ids are members
      val withDelta =
        if (layout == "graph" &&
            graft.util.Hfs.exists(spark, s"$dir/delta"))
          main.unionByName(
            AnnIndex.liveOnly(spark, dir, graft.util.TinyParquet.openStore(spark, s"$dir/delta"))
              .select(col("__id").cast("long").as("__id")))
        else main
      withDelta.distinct()
    case "text" =>
      val table =
        if (graft.util.Hfs.exists(spark, s"${ref.dir}/lens")) s"${ref.dir}/lens"
        else s"${ref.dir}/positions"
      AnnIndex.liveOnly(spark, ref.dir, graft.util.TinyParquet.openStore(spark, table))
        .select(col("__id").cast("long").as("__id")).distinct()
    case "dedup" =>
      graft.streaming.DocStreams.dedupLiveIds(spark, ref.dir)
    case "shards" =>
      // column-pruned scan of the shard data files: doc membership only
      graft.util.TinyParquet.openStore(spark, ref.dir)
        .select(col("doc_id").cast("long").as("__id")).distinct()
  }

  /** Cross-store referential-consistency audit — the fsck beside the
    * health dashboards: health counts rows WITHIN a store, fsck checks
    * each store's live id set AGAINST the corpus it is supposed to
    * mirror. Per store: `missing_ids` = base ids with no live row
    * (ingestion gaps, or a delete that over-reached) and `orphan_ids` =
    * live ids absent from the base (takedowns/retention that never
    * propagated — the compliance number). `consistent` iff both are 0.
    *
    * Scale shape: one distinct-id projection per store full-outer-joined
    * against the (checkpointed) base id set — narrow id-only frames, one
    * aggregation pass per store, and the driver holds one counter row
    * per store. Run it on the maintenance cadence right after
    * [[sweep]]; a nonzero orphan count after a takedown batch is the
    * signal that some store missed the cascade.
    */
  def fsck(spark: SparkSession, base: DataFrame, idCol: String,
      stores: Seq[StoreRef]): DataFrame = {
    require(stores.nonEmpty, "no stores to audit")
    val bad = stores.filterNot(s => fsckKinds(s.kind))
    require(bad.isEmpty,
      s"unknown store kind(s): ${bad.map(s => s"${s.name}=${s.kind}").mkString(", ")}")
    val b = base.select(graft.functions.Cols.qcol(idCol).cast("long").as("__id"))
      .distinct().withColumn("__b", lit(1))
      .localCheckpoint(eager = true) // joined once per store
    // per-store audits run CONCURRENTLY, each ONE job over a lazy frame
    // that folds the membership counters AND the shard-set torn count
    // into a single aggregate — the old shape ran a blocking `.head()`
    // per store plus a separate torn count per shard set, N+1 sequential
    // driver round trips of almost pure scheduling floor (r21 baseline:
    // x_store_fsck 79 stages / 5.5 s wall at 2.7 cpu-s). Results are
    // identical: independent deterministic counters, same rows/types.
    graft.util.Par.all(math.min(8, stores.size))(stores.map { ref => () =>
      // shard sets carry a second integrity axis beside membership: the
      // per-shard manifest reconcile — a torn shard (count/checksum/
      // extrema drift, a missing directory, an unmanifested extra) is
      // inconsistent even when the surviving doc ids happen to match.
      // Kept lazy: count(when(!consistent)) ≡ filter(!consistent).count.
      val torn = ref.kind match {
        case "shards" =>
          ShardExport.verify(spark, ref.dir)
            .agg(count(when(!col("consistent"), 1)).as("__torn"))
        case _ => spark.range(1).select(lit(0L).as("__torn"))
      }
      b.join(liveIds(spark, ref).withColumn("__l", lit(1)),
          Seq("__id"), "full")
        .agg(count(col("__b")).as("__base"), count(col("__l")).as("__live"),
          count(when(col("__l").isNull, 1)).as("__missing"),
          count(when(col("__b").isNull, 1)).as("__orphans"))
        .crossJoin(torn) // 1×1: attaches the torn counter, never data
        .select(
          lit(ref.name).as("store"), lit(ref.kind).as("kind"),
          col("__base").as("base_ids"), col("__live").as("live_ids"),
          col("__missing").as("missing_ids"), col("__orphans").as("orphan_ids"),
          col("__torn").as("torn_shards"),
          (col("__missing") === 0L && col("__orphans") === 0L &&
            col("__torn") === 0L).as("consistent"))
        .localCheckpoint(eager = true)
    }).reduce(_ unionByName _)
  }

  /** Sweep the fleet: per store, debt at or above `threshold` routes to
    * that family's compaction ([[AnnIndex.compactIfNeeded]] /
    * [[TextIndex.compactIfNeeded]] /
    * [[graft.streaming.DocStreams.compactDedupStore]]); the report row
    * carries before/after counts so the caller can both audit the
    * decision (debt_before vs threshold) and verify the rewrite did its
    * job (total_after == live_before, debt_after == 0 for every
    * compacted store). Same caller contract as each per-store policy:
    * serialize the sweep against appends/streams on the same stores.
    * The degenerate fully-tombstoned store still refuses to compact
    * (each family's requireLive guard) — a rebuild-or-drop decision the
    * sweep propagates loudly rather than masking.
    */
  def sweep(spark: SparkSession, stores: Seq[StoreRef],
      threshold: Double = 0.25): DataFrame = {
    require(stores.nonEmpty, "no stores to sweep")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    val bad = stores.filterNot(s => kinds(s.kind))
    require(bad.isEmpty,
      s"unknown store kind(s): ${bad.map(s => s"${s.name}=${s.kind}").mkString(", ")}")
    require(stores.map(_.name).distinct.size == stores.size,
      "duplicate store names in sweep")
    stores.map { ref =>
      val (tb, lb, db) = health(spark, ref)
      val compacted = ref.kind match {
        case "ann"  => AnnIndex.compactIfNeeded(spark, ref.dir, threshold)
        case "text" => TextIndex.compactIfNeeded(spark, ref.dir, threshold)
        case "dedup" =>
          if (db >= threshold) {
            // the ANN/text families refuse via their own requireLive;
            // compactDedupStore has no such guard (a direct caller may
            // legitimately empty a store), so the sweep enforces the
            // same rebuild-or-drop contract here — a fully-tombstoned
            // store must fail loudly, not compact to silently empty
            require(lb > 0L, s"refusing to compact fully-tombstoned " +
              s"dedup store '${ref.name}' (${ref.dir}): 0 live rows — " +
              "rebuild or drop it")
            graft.streaming.DocStreams.compactDedupStore(spark, ref.dir)
            true
          } else false
      }
      val (ta, la, da) = if (compacted) health(spark, ref) else (tb, lb, db)
      spark.range(1).select(
        lit(ref.name).as("store"), lit(ref.kind).as("kind"),
        lit(tb).as("total_before"), lit(lb).as("live_before"),
        lit(db).as("debt_before"), lit(compacted).as("compacted"),
        lit(ta).as("total_after"), lit(la).as("live_after"),
        lit(da).as("debt_after"))
    }.reduce(_ unionByName _)
  }
}
