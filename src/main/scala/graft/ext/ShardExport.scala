package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic training-shard export — the final mile a training job
  * actually consumes: the packed-sequence table written as a FIXED
  * number of shards, each shard internally ordered by a content-derived
  * key, with a per-shard manifest row (row count + integer checksum)
  * the loader can verify before a single batch is built.
  *
  * Determinism is the whole contract:
  *   - shard assignment hashes the SEQUENCE id (a sequence is the
  *     training unit — its rows never split across shards), through the
  *     engine-portable md5 family;
  *   - within-shard order is a content-keyed md5 (`order_key`, the
  *     [[Sampling.epochUpsample]] `order_key` discipline) — no
  *     timestamps, no partition-order dependence, so a re-export from
  *     the same packed table reproduces byte-identical shard content;
  *   - the manifest checksum is the [[graft.queries]] reconcile
  *     machinery: per row an md5-prefix-8 integer over the canonical
  *     field string, summed exactly as DECIMAL(38,0) — order-free,
  *     overflow-free, replayable in any engine.
  *
  * Scale shape: one hash shuffle into `shards` writer tasks (each task
  * sorts only its own shard — never a global sort), one counter-sized
  * aggregation for the manifest. At 100 TB the shard count is the
  * parallelism knob exactly like a real tokenized-dataset export.
  */
object ShardExport {

  /** The canonical per-row checksum term: md5-prefix-8 (32 bits) of the
    * colon-joined fields, as a DECIMAL(38,0) so the per-shard SUM is
    * exact at any row count.
    */
  private def rowCheck: org.apache.spark.sql.Column =
    conv(substring(md5(concat_ws(":",
      col("doc_id"), col("seq_id"), col("doc_from"), col("doc_to"),
      col("seq_off"))), 1, 8), 16, 10).cast("decimal(38,0)")

  /** Assign shard ids and within-shard order keys to a packed-sequence
    * table ((doc_id, seq_id, doc_from, doc_to, seq_off) rows —
    * [[Packing.packSequences]] output). Pure per-row arithmetic, no
    * shuffle: `shard_id = md5_60bit('s:' || seq_id) mod shards`,
    * `order_key = md5('o:' || seq_id || ':' || doc_id || ':' || doc_from)`.
    */
  def assign(packed: DataFrame, shards: Int): DataFrame = {
    require(shards > 0, s"shards must be positive: $shards")
    packed
      .withColumn("shard_id",
        pmod(PortableHash.md5Prefix15(concat(lit("s:"), col("seq_id"))),
          lit(shards.toLong)).cast("int"))
      .withColumn("order_key",
        md5(concat_ws(":", lit("o"), col("seq_id"), col("doc_id"),
          col("doc_from"))))
  }

  /** Export `packed` as `shards` shard files under `dst/shard_id=N/` and
    * publish the manifest at `dst/_manifest`. Returns the manifest:
    * one row per NON-EMPTY shard — (shard_id, n_rows, checksum,
    * min_key, max_key). Each shard lands as one file whose row order is
    * `order_key` ascending (ties impossible: the key embeds the unique
    * (seq_id, doc_id, doc_from) grain).
    */
  def export(spark: SparkSession, packed: DataFrame, shards: Int,
      dst: String): DataFrame = {
    val a = assign(packed, shards)
      .localCheckpoint(eager = true) // data write + manifest share one execution
    // each output task owns whole shards (hash partition ON shard_id into
    // `shards` tasks), sorted so the partitionBy write emits one
    // deterministically-ordered file per shard directory
    a.repartition(shards, col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("order_key"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(dst)
    // the shard COUNT is the layout (the mod divisor): record it so an
    // incremental re-export under a different count fails loudly
    // instead of producing a silently-wrong diff
    graft.util.Hfs.writeString(spark, s"$dst/_shards", shards.toString)
    val m = manifestOf(a)
      .localCheckpoint(eager = true) // materialize before the write below
    m.coalesce(1).write.mode("overwrite").parquet(s"$dst/_manifest")
    m
  }

  /** The manifest rows of an assigned frame (shared by [[export]] and
    * the verification replay): per shard the row count, the exact
    * decimal checksum, and the order-key extrema (a loader can range-
    * check a shard's physical order without re-sorting).
    */
  def manifestOf(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_rows"),
        sum(rowCheck).cast("string").as("checksum"),
        min(col("order_key")).as("min_key"),
        max(col("order_key")).as("max_key"))

  /** Changed-shard-only re-export — the incremental composition the r15
    * verdict asked for: given a NEW generation of the packed table and
    * an existing export at `dst` (same `shards` count — the count is
    * the layout), recompute the would-be manifest by the same pure
    * per-row arithmetic, diff it against the PUBLISHED manifest
    * (null-safe: a one-sided row is a change by definition), rewrite
    * only the shards whose manifest row changed, delete shards whose
    * membership emptied, and publish the new manifest. Untouched shard
    * files are never opened, never rewritten — byte-identical across
    * the re-export (spec), which is what lets a training job resume
    * from cached shards after a revocation. Determinism makes each
    * REWRITTEN shard byte-identical to what a full [[export]] would
    * produce (same rows, same content-keyed order, same writer), so the
    * x_shard_export_incr gate hash-pins the incremental manifest with
    * the FULL re-export's oracle.
    *
    * Returns the change report: (shard_id, change ∈ new|rewritten|
    * deleted) — one row per touched shard, ≤ `shards` rows (the bounded
    * driver collect that drives the per-shard rewrites).
    *
    * Crash safety: rewritten shards are STAGED under a hidden sibling
    * and swapped in only after every staged write finished, so the
    * published view can only tear during the (metadata-speed) swap
    * phase, not the write phase. A crash anywhere before the final
    * manifest publish is healed by re-running exportIncremental with
    * the same inputs: the published manifest is still the OLD one, so
    * the diff re-selects exactly the touched shards and determinism
    * re-produces identical bytes for any that already swapped.
    */
  def exportIncremental(spark: SparkSession, packed: DataFrame, shards: Int,
      dst: String): DataFrame = {
    import spark.implicits._
    require(graft.util.Hfs.exists(spark, s"$dst/_manifest"),
      s"$dst has no published manifest — incremental re-export needs a " +
        "prior export (run export first)")
    // shard-count drift guard: the count is the hash-assignment layout,
    // so diffing a manifest produced under a different `shards` would
    // rewrite everything while CLAIMING a small delta. Sidecar absent =
    // a pre-guard export; accepted as-is (the manifest diff is then the
    // only protection, and any count drift rewrites every shard anyway).
    if (graft.util.Hfs.exists(spark, s"$dst/_shards")) {
      val recorded = graft.util.Hfs.readString(spark, s"$dst/_shards").trim.toInt
      require(recorded == shards,
        s"$dst was exported with $recorded shards; incremental re-export " +
          s"with $shards would silently re-key every sequence — re-export " +
          "fully to change the shard count")
    }
    val a = assign(packed, shards)
      .localCheckpoint(eager = true) // manifest + per-shard rewrites share it
    val m = manifestOf(a)
      .localCheckpoint(eager = true) // diff + publish share it
    val old = graft.util.TinyParquet.openStore(spark, s"$dst/_manifest")
      .select(col("shard_id"), col("n_rows").as("__o_rows"),
        col("checksum").as("__o_ck"), col("min_key").as("__o_min"),
        col("max_key").as("__o_max"))
    val changed = old.join(m, Seq("shard_id"), "full")
      .filter(!coalesce(
        col("n_rows") === col("__o_rows") &&
          col("checksum") === col("__o_ck") &&
          col("min_key") === col("__o_min") &&
          col("max_key") === col("__o_max"),
        lit(false)))
      .select(col("shard_id"),
        when(col("n_rows").isNull, lit("deleted"))
          .when(col("__o_rows").isNull, lit("new"))
          .otherwise(lit("rewritten")).as("change"))
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    // per-shard rewrites are STAGED under a dot-prefixed sibling (hidden
    // from every parquet listing) and swapped in only after ALL of them
    // landed: the in-place form rewrote live shard directories for the
    // whole (minutes-long at production shard counts) write phase while
    // the OLD manifest stayed published, so a crash mid-run left a
    // mixed-generation shard set that verify() flagged torn and a
    // manifest-trusting reader saw as a stale view with some shards
    // already advanced (ADVICE r16). Staging shrinks the inconsistency
    // window from the write phase to the metadata swaps below. The legs
    // run on the shared pool (each is one sorted single-task write job;
    // at a production shard count a sequential loop would serialize
    // hundreds of job-latency floors) and touch disjoint directories,
    // so concurrency is safe and the result is identical.
    // sweep stale stage dirs first: a crash during a PRIOR run's write
    // phase leaks its nanoTime-suffixed stage (the heal path makes any
    // earlier stage garbage by construction — the re-run re-stages
    // everything it needs), and retries must not accumulate copies
    graft.util.Hfs.list(spark, dst).filter(_.startsWith(".incr-stage-"))
      .foreach(n => graft.util.Hfs.delete(spark, s"$dst/$n"))
    val stage = s"$dst/.incr-stage-${System.nanoTime()}"
    graft.util.Par.all(8)(changed.toSeq.collect {
      case (sid, change) if change != "deleted" => () =>
        // one sorted writer task per touched shard — identical file
        // content to the full export's partitionBy write of this shard
        a.filter(col("shard_id") === sid).drop("shard_id")
          .coalesce(1).sortWithinPartitions(col("order_key"))
          .write.mode("overwrite").parquet(s"$stage/shard_id=$sid")
    })
    // the swap phase: per-shard delete + rename pairs, then the manifest
    // publish. NOT atomic across shards — a crash HERE still tears, but
    // the tear is healed by RE-RUNNING exportIncremental with the same
    // inputs: the old manifest is still the published one, so the diff
    // re-selects every touched shard (determinism re-produces identical
    // bytes for the ones that already swapped).
    changed.foreach { case (sid, change) =>
      graft.util.Hfs.delete(spark, s"$dst/shard_id=$sid")
      if (change != "deleted") {
        // a FALSE rename (FileSystem.rename reports, it doesn't throw)
        // must abort BEFORE the manifest publish: publishing the new
        // manifest over a lost shard is the one tear the re-run heal
        // cannot repair (the re-run would diff against the NEW manifest,
        // find no change, and never rewrite the missing shard)
        if (!graft.util.Hfs.rename(spark, s"$stage/shard_id=$sid",
            s"$dst/shard_id=$sid"))
          throw new IllegalStateException(
            s"rename of staged shard $sid into $dst failed — aborting " +
              "before the manifest publish; re-run exportIncremental to heal")
      }
    }
    graft.util.Hfs.delete(spark, stage)
    m.coalesce(1).write.mode("overwrite").parquet(s"$dst/_manifest")
    graft.util.Hfs.writeString(spark, s"$dst/_shards", shards.toString)
    changed.toSeq.toDF("shard_id", "change")
  }

  /** Reconcile an exported shard set against its own manifest — the
    * load-time integrity check a training job runs: recompute each
    * shard's count/checksum/extrema FROM THE SHARD FILES and diff
    * against the published manifest. Returns one row per shard with
    * both sides and `consistent`; any false row means the export was
    * torn or tampered. One column-pruned scan of the shard table.
    */
  def verify(spark: SparkSession, dst: String): DataFrame = {
    val data = graft.util.TinyParquet.openStore(spark, dst)
    val recomputed = manifestOf(data)
      .withColumnRenamed("n_rows", "actual_rows")
      .withColumnRenamed("checksum", "actual_checksum")
      .withColumnRenamed("min_key", "actual_min")
      .withColumnRenamed("max_key", "actual_max")
    // coalesce to FALSE: a one-sided row (a shard directory missing
    // entirely, or an extra shard no manifest row names) is the WORST
    // tear, and a NULL comparison would let it escape both
    // filter(consistent) and filter(!consistent)
    graft.util.TinyParquet.openStore(spark, s"$dst/_manifest")
      .join(recomputed, Seq("shard_id"), "full")
      .withColumn("consistent",
        coalesce(
          col("n_rows") === col("actual_rows") &&
            col("checksum") === col("actual_checksum") &&
            col("min_key") === col("actual_min") &&
            col("max_key") === col("actual_max"),
          lit(false)))
  }
}
