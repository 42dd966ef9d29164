package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Batched load with optional upsert (find-by-key → update-else-create) and
  * per-row result accounting.
  *
  * Ports `importData` (reference: server/services/csv-import.js:362-409):
  * the reference issues 1-2 DB round-trips per row; here the whole batch is
  * one MERGE-emulation over Parquet:
  *
  *   merged = target ANTI-JOIN incoming (by key)  ∪  incoming
  *
  * Within-batch duplicate keys: the reference processes rows sequentially so
  * the LAST occurrence wins; emulated with row_number over input order
  * descending (SURVEY §7.5.5).
  *
  * Counters (`created`/`updated`, reference :364-368) are LAZY: a
  * dedicated column-pruned aggregate over the key join runs only when a
  * counter is read, so the common import-then-write path stays a single
  * execution with no counter job at all.
  *
  * Physical write is rewrite-and-swap (plain Parquet has no MERGE): write
  * merged to a temp dir, atomically move into place. At cluster scale this
  * is the same pattern as a Delta/Iceberg overwrite commit minus the
  * transaction log — a known, documented trade-off.
  */
object Upsert {

  /** Merge output with LAZY counters: consumers that only act on `merged`
    * (the common import-then-write path) never pay a counter job — the
    * whole import is their ONE action. Counters, when read, run a
    * dedicated column-pruned aggregate over the key join.
    *
    * Deliberately NOT an `observe()` on the merged plan: a metrics node
    * records only the rows the first action actually processed, so a
    * caller whose first action is partial (`show`, `take`, `limit`) would
    * cache silently-partial counts. A dedicated aggregate is correct
    * under any action order — with ONE ordering constraint: the thunk
    * re-reads `target`'s source, so counters must run BEFORE the target
    * is overwritten in place. That constraint is ENFORCED, not just
    * documented: `writeSwap(result, …)` snapshots the counters before the
    * swap by default, and when the caller opts out of the snapshot (pure
    * single-execution hot path) it poisons unread counters so a
    * read-after-swap fails loudly instead of silently re-counting against
    * the post-merge table.
    */
  final class MergeResult(
      val merged: DataFrame,
      countersThunk: () => (Long, Long),
      // does the counter thunk re-read the merge target? The append path's
      // thunk counts only `incoming`, so replacing the target can't skew
      // it and a post-swap read stays safe (no poisoning).
      targetDependentCounters: Boolean = true) {
    @volatile private var memo: Option[(Long, Long)] = None
    @volatile private var poison: Option[String] = None
    private def counters: (Long, Long) = synchronized {
      memo.getOrElse {
        poison.foreach(reason => throw new IllegalStateException(
          s"merge counters read after the merge target was replaced ($reason); " +
            "read created/updated (or call snapshotCounters()) before writeSwap, " +
            "or let writeSwap snapshot them (snapshotCounters = true)"))
        val c = countersThunk()
        memo = Some(c)
        c
      }
    }
    def created: Long = counters._1
    def updated: Long = counters._2
    /** Force the counter aggregate NOW (idempotent) — run this while the
      * pre-merge target still exists if counters are wanted after a swap.
      */
    def snapshotCounters(): Unit = counters
    /** Called after the merge target has been replaced: any counters not
      * yet computed become loud errors (re-running the thunk would count
      * against the post-merge table — silently wrong, never acceptable).
      * A no-op when the thunk never reads the target (append mode): the
      * count stays correct after any number of swaps.
      */
    def invalidateUnread(reason: String): Unit = synchronized {
      if (targetDependentCounters && memo.isEmpty) poison = Some(reason)
    }
  }

  private val OrderCol = "__ins_order"

  /** Deduplicate incoming rows by key, last occurrence wins. Hash-aggregate
    * max-by (the input-order id is the struct's leading field) instead of a
    * window: partial aggregation map-side, no per-partition sort.
    *
    * `orderCol` names a column that already holds the input order and is
    * dropped from the result. It must be drawn before any wide transform:
    * `monotonically_increasing_id()` drawn here, after the caller's
    * shuffles, numbers rows in shuffle-output order, not in input order.
    * Without it the id is drawn here, which is only right when
    * `incoming` is still in input order.
    */
  def dedupLastWins(incoming: DataFrame, key: String,
      orderCol: Option[String] = None): DataFrame = {
    val kept = incoming.columns.filterNot(c => orderCol.contains(c))
    val others = kept.filterNot(_ == key)
    orderCol.fold(incoming.withColumn(OrderCol, monotonically_increasing_id()))(c =>
        incoming.withColumnRenamed(c, OrderCol))
      .groupBy(col(key))
      .agg(max(struct(col(OrderCol) +: others.map(col): _*)).as("__m"))
      .select(col(key) +: others.map(c => col("__m").getField(c).as(c)): _*)
      // restore original column order
      .select(kept.map(col): _*)
  }

  /** Pure merge: returns the merged frame plus created/updated counts.
    * `upsert=false` reproduces plain insert (every incoming row appended,
    * created = incoming count, reference :391-397). `orderCol`: the
    * input-order column for the last-wins dedup ([[dedupLastWins]]);
    * it never reaches the merged frame.
    */
  def merge(target: DataFrame, incoming: DataFrame, key: String, upsert: Boolean,
      orderCol: Option[String] = None): MergeResult = {
    if (!upsert) {
      val rows = orderCol.fold(incoming)(incoming.drop(_))
      new MergeResult(target.unionByName(rows, allowMissingColumns = true),
        () => (rows.count(), 0L), targetDependentCounters = false)
    } else {
      // The deduped frame feeds BOTH the anti-join probe and the union
      // branch. No cache: the anti-join probe is column-pruned to a
      // distinct-keys pass by the optimizer, so per action the heavy
      // upstream runs once full + once keys-only.
      val deduped = dedupLastWins(incoming, key, orderCol)
      val kept = target.join(deduped.select(col(key)), Seq(key), "left_anti")
      new MergeResult(kept.unionByName(deduped, allowMissingColumns = true),
        () => {
          // one aggregate over the key join (column-pruned to the key):
          // updated = deduped keys hitting a DISTINCT target key (dup
          // target keys count once), created = the rest
          val keys = target.select(col(key)).distinct().withColumn("__ex", lit(1))
          val r = deduped.join(keys, Seq(key), "left")
            .agg(count(lit(1)).as("n"), count(col("__ex")).as("upd")).head()
          (r.getLong(0) - r.getLong(1), r.getLong(1))
        })
    }
  }

  /** Rewrite-and-swap of a merge result. By default the lazy counters are
    * snapshotted BEFORE the swap (one column-pruned aggregate — the
    * reference import API returns created/updated on every import, so
    * counters-after-write is the natural call order and must be correct).
    * `snapshotCounters = false` keeps the pure single-execution hot path
    * for callers that never read counters; with it, any later counter
    * read fails loudly instead of silently re-counting against the
    * post-merge table.
    */
  def writeSwap(spark: SparkSession, result: MergeResult, tableDir: String,
      snapshotCounters: Boolean): Unit = {
    if (snapshotCounters) result.snapshotCounters()
    writeSwap(spark, result.merged, tableDir)
    result.invalidateUnread(s"writeSwap to $tableDir")
  }

  /** Rewrite-and-swap write of a merged table directory. Raw-frame form:
    * prefer `writeSwap(spark, result: MergeResult, …)`, which keeps the
    * merge's lazy counters safe across the swap; with this form the
    * caller must read counters BEFORE swapping (the counter aggregate
    * re-reads the pre-merge target, which this call replaces).
    */
  /** Snapshot diff — the CDC extract, inverse of `merge`: classify every
    * key across two generations of a table as `insert` (new key),
    * `delete` (key gone), or `update` (key present in both, any
    * non-key column changed). Unchanged keys are dropped — at 100 TB
    * the diff is small even when the snapshots are not, and downstream
    * (incremental re-embedding, re-deduplication, index append) only
    * wants the delta.
    *
    * One full outer join on the key; change detection is PER-COLUMN
    * null-safe equality (`<=>`) — no row hashing, so there are no
    * false collisions and an external engine replays it with
    * `IS DISTINCT FROM`. Both frames must share the schema. Output:
    * the key column + `change` ('insert' | 'update' | 'delete').
    * A NULL key never equi-matches, so a null-key row in `before`
    * classifies as delete and one in `after` as insert — the SQL
    * FULL OUTER JOIN convention, replayed identically by the oracle.
    *
    * PRECONDITION: the key is unique within each snapshot (the natural
    * state of a table generation — the upsert path this diffs is keyed).
    * Duplicate keys fan out M×N through the full outer join and emit one
    * classified row PER PAIR (duplicated update/unchanged verdicts);
    * dedup the snapshots first if the source can repeat keys.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame, key: String): DataFrame = {
    require(before.columns.toSeq == after.columns.toSeq,
      s"snapshotDiff needs identical schemas; " +
        s"got ${before.columns.mkString(",")} vs ${after.columns.mkString(",")}")
    val payload = before.columns.filterNot(_ == key).toSeq
    // presence markers, NOT key nullness, decide which side a row came
    // from: a null-KEY row also has a null key column after the join,
    // so testing __bk/__ak would misclassify it
    val b = before.select(Seq(col(key).as("__bk"), lit(true).as("__bp")) ++
      payload.map(c => col(c).as(s"__b_$c")): _*)
    val a = after.select(Seq(col(key).as("__ak"), lit(true).as("__ap")) ++
      payload.map(c => col(c).as(s"__a_$c")): _*)
    val changed = payload.map(c => !(col(s"__b_$c") <=> col(s"__a_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    b.join(a, col("__bk") === col("__ak"), "full_outer")
      .withColumn("change",
        when(col("__bp").isNull, "insert")
          .when(col("__ap").isNull, "delete")
          .when(changed, "update"))
      .filter(col("change").isNotNull)
      .select(coalesce(col("__ak"), col("__bk")).as(key), col("change"))
  }

  /** The swap's filesystem, resolved through the Hadoop layer — the SAME
    * layer Spark's reads and writes go through, so the probes and moves
    * agree with the data access on every scheme (a `java.nio` probe of an
    * `hdfs://` table always answers "absent", which turned a live table
    * into a silently-empty merge target; the index layer fixed this class
    * of split-brain in [[graft.util.Hfs]], this is the table layer's turn).
    */
  private def swapFs(path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(SparkSession.active.sessionState.newHadoopConf()), p)
  }

  /** Schemes whose DIRECTORY rename is a single atomic metadata operation
    * — the property the two-move swap protocol depends on. Object stores
    * (s3a, gs, abfs, …) emulate rename as copy-then-delete; a swap there
    * could expose a partial or mixed table to a concurrent reader, so it
    * refuses loudly at plan time instead of failing as silent corruption.
    */
  private val atomicRenameSchemes = Set("file", "hdfs", "viewfs")

  private def requireAtomicRename(fs: FileSystem, p: HPath): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    require(atomicRenameSchemes.contains(scheme),
      s"table swap requires atomic directory rename, which scheme '$scheme' " +
        s"($p) does not provide — write the table on file/hdfs/viewfs, or use " +
        "a commit-log table format for object stores")
  }

  /** Hadoop `rename` onto an EXISTING directory nests src INSIDE dst (mv
    * semantics) rather than failing; the swap protocol guarantees dst is
    * absent at every move, so enforce it and surface a real error.
    */
  private def renameStrict(fs: FileSystem, src: HPath, dst: HPath): Unit = {
    if (fs.exists(dst))
      throw new IllegalStateException(s"swap target exists, refusing rename: $dst")
    if (!fs.rename(src, dst))
      throw new IllegalStateException(s"swap rename failed: $src -> $dst")
  }

  /** Crash recovery for the two-move swap: if a prior swap died between
    * move(dir->bak) and move(tmp->dir), the table dir is missing and .bak
    * holds the ONLY copy — move it back. Callers that read `tableDir` as
    * a merge target MUST call this before the existence check (a missing
    * dir would otherwise read as an empty table and the next swap's
    * leftover cleanup would permanently destroy the last generation).
    * No-op when the dir exists or there is no .bak.
    */
  def restoreIfCrashed(tableDir: String): Unit = {
    val (fs, dir) = swapFs(tableDir)
    val bak = new HPath(tableDir + ".bak")
    if (fs.exists(bak) && !fs.exists(dir)) {
      requireAtomicRename(fs, dir)
      renameStrict(fs, bak, dir)
    }
  }

  def writeSwap(spark: SparkSession, merged: DataFrame, tableDir: String): Unit = {
    // defense-in-depth: restore a crashed swap before the lazy `merged`
    // plan executes (read-path callers should already have called
    // restoreIfCrashed before building the merge)
    restoreIfCrashed(tableDir)
    val tmp = tableDir + ".tmp-" + System.nanoTime()
    merged.write.mode("overwrite").parquet(tmp)
    swapDirs(tmp, tableDir)
  }

  /** The two-move atomic directory replacement underlying `writeSwap`,
    * usable for ANY on-disk artifact (single parquet table or a
    * multi-table directory like an ANN index): `tmpDir` becomes
    * `targetDir`; a concurrent reader sees the old generation or the
    * new one, never a partial or mixed state. Includes the full crash
    * discipline — restore a stranded `.bak` whose dir is missing, clear
    * a true post-swap leftover, and clean up the replaced generation.
    */
  def swapDirs(tmpDir: String, targetDir: String): Unit = {
    val (fs, dir) = swapFs(targetDir)
    requireAtomicRename(fs, dir)
    val bak = new HPath(targetDir + ".bak")
    restoreIfCrashed(targetDir)
    if (fs.exists(bak)) {
      // dir also exists (the missing-dir case was restored above), so
      // this .bak is a true post-swap leftover; a rename onto it would
      // nest the live generation inside it and wedge every later swap
      // of this target — clear it first
      fs.delete(bak, true)
    }
    if (fs.exists(dir)) {
      renameStrict(fs, dir, bak)
    }
    renameStrict(fs, new HPath(tmpDir), dir)
    if (fs.exists(bak)) {
      // best-effort cleanup of the previous generation
      fs.delete(bak, true)
    }
  }
}
