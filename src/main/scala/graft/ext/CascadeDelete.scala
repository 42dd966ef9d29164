package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Cols.qcol

/** The stores one "forget these documents" request must reach. Paths are
  * store ROOTS: any [[AnnIndex]] layout (pq/ivf/ivfpq/sq/ivfsq/bq; a
  * PCA-PQ root delegates its tombstones itself), [[TextIndex]] inverted
  * and positional layouts, and [[graft.streaming.DocStreams]] dedup
  * signature stores (sigs + pairs + comps).
  */
final case class CascadeTargets(
    annIndexes: Seq[String] = Nil,
    textIndexes: Seq[String] = Nil,
    dedupStores: Seq[String] = Nil,
    quantileStores: Seq[QuantileStoreTarget] = Nil)

/** A quantile-summary delta store a forget must reach
  * ([[graft.streaming.EventStreams.runQuantileSketchOnce]]). Order
  * statistics cannot subtract, so the deletion contract is
  * rebuild-on-cadence from the live rows
  * ([[graft.streaming.EventStreams.rebuildQuantileStore]]) — the
  * forget anti-joins the delete set out of `rows` on `keyCol` and
  * swap-publishes the survivors' one-shot summary. `rows` is the
  * store's FULL source frame (the same one the append stream reads);
  * `value` the sketched expression; (`k`, `maxLevel`) the store's
  * capacity contract.
  */
final case class QuantileStoreTarget(
    storeDir: String,
    rows: DataFrame,
    keyCol: String,
    value: org.apache.spark.sql.Column,
    k: Int,
    maxLevel: Int = 20)

/** Cross-store cascading delete — the takedown/opt-out operation a
  * production corpus runs on a cadence: one id set driven through EVERY
  * derived store a document touches, as one contract instead of N
  * per-store calls a caller can forget half of.
  *
  * Reference context: the reference engine deletes a record in one
  * table per request (`server/services/csv-import.js:341-405` finds and
  * overwrites by key); it has no derived stores to keep consistent.
  * At 100 TB a document fans out into ANN codes, inverted/positional
  * postings, dedup signatures, candidate pairs, and cluster labels —
  * this operator is the closure of that fan-out under deletion.
  *
  * Mechanics per store family (each O(|ids|), never corpus-sized):
  *   - ANN layouts: [[AnnIndex.deleteIds]] tombstones (delete → re-append
  *     stays expressible via the __seq discipline);
  *   - text layouts: [[TextIndex.deleteDocs]] (same tombstone log; BM25
  *     N/avgdl recompute over live rows, so served scores shift to the
  *     survivor corpus immediately);
  *   - dedup stores: [[graft.streaming.DocStreams.deleteFromDedupStore]]
  *     (id-tombstone log + immediate components rebuild from live pairs
  *     — a node removal can SPLIT a cluster, which no tombstone can
  *     express);
  *   - quantile-summary stores:
  *     [[graft.streaming.EventStreams.rebuildQuantileStore]] over the
  *     survivors (order statistics cannot subtract, so the KMV
  *     rebuild-on-cadence contract — this one is O(live), priced by the
  *     rebuild cadence rather than per-request).
  *
  * Every store's tombstone debt is then priced by its own compaction
  * policy ([[AnnIndex.compactIfNeeded]] / [[TextIndex.compactIfNeeded]] /
  * [[graft.streaming.DocStreams.dedupStoreDebt]] →
  * `compactDedupStore`): steady low-rate takedowns accumulate into one
  * rewrite per store instead of many.
  *
  * Idempotent: re-running the same forget is a no-op on every surface
  * (duplicate tombstones subtract identically; the components rebuild is
  * deterministic). Like all maintenance, the caller serializes a forget
  * against rebuilds/streams of the same stores.
  *
  * Returns a per-store report: (`target`, `kind`, `compacted`) — the
  * audit row a takedown pipeline logs per request.
  */
object CascadeDelete {

  def forget(spark: SparkSession, ids: DataFrame, idCol: String,
      targets: CascadeTargets, compactThreshold: Double = 0.25): DataFrame = {
    require(targets.annIndexes.nonEmpty || targets.textIndexes.nonEmpty ||
      targets.dedupStores.nonEmpty || targets.quantileStores.nonEmpty,
      "no stores to cascade into")
    require(compactThreshold > 0.0 && compactThreshold <= 1.0,
      s"compactThreshold must be in (0, 1]: $compactThreshold")
    // one materialization of the delete set, reused across every
    // LONG-keyed store family (ANN/text/dedup ids are long by
    // contract; ANSI makes a malformed id a loud cast error). LAZY:
    // a quantile-only cascade must not force the long cast — quantile
    // keys are arbitrary expressions and compare on their NATIVE type
    // below.
    lazy val del = ids.select(qcol(idCol).cast("long").as("__id")).distinct()
      .localCheckpoint(eager = true)
    // materialize the shared delete set BEFORE the fleet: Par legs
    // racing an unmaterialized checkpoint would duplicate its compute
    if (targets.annIndexes.nonEmpty || targets.textIndexes.nonEmpty ||
        targets.dedupStores.nonEmpty) { val _ = del }
    // each target must be an INDEPENDENT store directory, because the
    // per-store legs run CONCURRENTLY below and a shared store would
    // race (AnnIndex.deleteIds does a non-atomic read-modify-write of
    // _next_seq; a misordered seq kills a later append). The contract
    // is ENFORCED, not assumed: ANN roots resolve through the composed-
    // layout routing deleteIds itself applies (AnnIndex.storeDir: a
    // pcapq/opq root and its nested pq dir are the SAME physical
    // store), and the resolved set must be pairwise distinct and
    // non-nested across all four target families.
    locally {
      val resolved: Seq[String] =
        targets.annIndexes.map(d => AnnIndex.storeDir(spark, d)) ++
        targets.textIndexes ++ targets.dedupStores ++
        targets.quantileStores.map(_.storeDir)
      val ds = resolved.map(_.replaceAll("/+$", ""))
      for (i <- ds.indices; j <- ds.indices if i < j) {
        val (a, b) = (ds(i), ds(j))
        require(a != b && !a.startsWith(b + "/") && !b.startsWith(a + "/"),
          s"forget: target store dirs overlap ('$a' vs '$b') — the " +
            "concurrent per-store legs would race on one physical store")
      }
    }
    // the takedown's wall tracks the slowest store instead of the sum
    // of per-store job floors. Within one store the delete →
    // debt-check → compact order is preserved inside its leg; report
    // rows are identical (order-free content).
    val legs: Seq[() => (String, String, Boolean)] =
      targets.annIndexes.map { dir => () =>
        AnnIndex.deleteIds(spark, dir, del, "__id")
        (dir, "ann", AnnIndex.compactIfNeeded(spark, dir, compactThreshold))
      } ++
      targets.textIndexes.map { dir => () =>
        TextIndex.deleteDocs(spark, dir, del, "__id")
        (dir, "text", TextIndex.compactIfNeeded(spark, dir, compactThreshold))
      } ++
      targets.dedupStores.map { dir => () =>
        graft.streaming.DocStreams.deleteFromDedupStore(spark, dir, del, "__id")
        val compacted =
          graft.streaming.DocStreams.dedupStoreDebt(spark, dir) >= compactThreshold
        if (compacted) graft.streaming.DocStreams.compactDedupStore(spark, dir)
        (dir, "dedup", compacted)
      } ++
      targets.quantileStores.map { t => () =>
        // order statistics cannot subtract: rebuild from the survivors
        // (a rebuild IS a full compaction — no tombstone debt remains).
        // The delete set casts to the STORE key's native type, verified
        // faithful: quantile keys are arbitrary expressions, and casting
        // the CORPUS side to long turns a non-numeric key into null — an
        // anti-join condition that is never true, so the "rebuild" would
        // silently republish the full summary while reporting success.
        val keyType = t.rows.select(qcol(t.keyCol)).schema.head.dataType
        val delKeys = ids.select(qcol(idCol).as("__src"))
          .filter(col("__src").isNotNull)
          // try_cast: under ANSI an unrepresentable id must surface as a
          // null we can refuse on, not an executor NumberFormatException
          .select(col("__src"), col("__src").try_cast(keyType).as("__key"))
          .localCheckpoint(eager = true)
        val lost = delKeys.filter(col("__key").isNull).count()
        require(lost == 0,
          s"forget: $lost delete ids not representable in the quantile " +
            s"store's key type $keyType (${t.storeDir}) — the anti-join " +
            "would silently keep every row")
        val live = t.rows.join(delKeys.select(col("__key")).distinct(),
          qcol(t.keyCol) === col("__key"), "left_anti")
        graft.streaming.EventStreams.rebuildQuantileStore(spark, t.storeDir,
          live, qcol(t.keyCol), t.value, t.k, t.maxLevel)
        (t.storeDir, "qsketch", true)
      }
    val report = graft.util.Par.all(math.min(8, legs.size))(legs)
    import spark.implicits._
    report.toDF("target", "kind", "compacted")
  }
}
