package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout management — the table-maintenance operators a
  * 100 TB lakehouse actually runs nightly: multi-dimensional z-order
  * clustering (so min/max file statistics prune scans on EITHER
  * predicate column, not just the sort leader) and small-file
  * compaction (so a streaming sink's thousand 2 MB files become a
  * scan-friendly handful).
  */
object Layout {

  /** Z-order (Morton) interleave of two non-negative integer columns,
    * `bits` bits each: bit b of x lands at position 2b, bit b of y at
    * 2b+1, so sorting by the result interleaves the two dimensions and
    * any contiguous z-range covers a bounded rectangle of (x, y) — the
    * property that makes per-file min/max stats selective on both
    * columns. Pure codegen'd bitwise built-ins (2·bits shift/and/or
    * terms, constant-folded offsets), engine-portable:
    * `sum(((x>>b)&1)*2^(2b) + ((y>>b)&1)*2^(2b+1))` replays it in SQL.
    * Inputs must be in [0, 2^bits); out-of-range bits are simply not
    * examined (values hash into the same curve cell as their low bits —
    * callers mod/bucket first, which is also what keeps the curve
    * dense).
    */
  def zOrder2(x: Column, y: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1, 31]: $bits")
    (0 until bits).map { b =>
      shiftleft(shiftright(x.cast("long"), b).bitwiseAND(1), 2 * b)
        .bitwiseOR(shiftleft(shiftright(y.cast("long"), b).bitwiseAND(1), 2 * b + 1))
    }.reduce((a, c) => a.bitwiseOR(c))
  }

  /** Rewrite `df` clustered on the z-curve of two dimension columns:
    * range-partition on the z-value (each output file owns a contiguous
    * z-range ⇒ a bounded rectangle of both dims), sort within
    * partitions (parquet row-group stats get the same locality), write
    * `files` parquet files. The write is the one shuffle; queries then
    * prune by footer stats forever after — the classic
    * write-once/scan-many trade.
    */
  def clusterByZOrder(df: DataFrame, xCol: Column, yCol: Column, bits: Int,
      dst: String, files: Int): Unit = {
    require(files > 0, s"files must be positive: $files")
    df.withColumn("__z", zOrder2(xCol, yCol, bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(dst)
  }

  /** Write the per-file min/max column-stats MANIFEST of a parquet
    * table — the data-skipping layer that turns the z-order clustering
    * into actual file pruning (each z-clustered file owns a bounded
    * rectangle of both dimensions, so its min/max are tight). One
    * column-pruned scan of exactly `statsCols`, grouped by
    * `input_file_name` — the manifest is FILES-sized, lands at
    * `<table>/_manifest` (underscore-prefixed: invisible to the table's
    * own readers, the `_SUCCESS` convention), and rewrites atomically
    * on recompute. Nulls don't widen a file's [min, max] (min/max skip
    * them), so a pruned read is exact only for null-rejecting
    * predicates — the standard zone-map contract.
    */
  def writeManifest(spark: SparkSession, tableDir: String,
      statsCols: Seq[String], keyCols: Seq[String] = Nil,
      keyBits: Int = 256): Unit = {
    val m = manifestRows(spark, tableDir, statsCols, keyCols, keyBits, None)
    val tmp = s"$tableDir/.manifest-${System.nanoTime()}"
    m.coalesce(1).write.mode("overwrite").parquet(tmp)
    graft.util.Hfs.delete(spark, s"$tableDir/_manifest")
    if (!graft.util.Hfs.rename(spark, tmp, s"$tableDir/_manifest"))
      throw new IllegalStateException(s"manifest publish failed: $tableDir")
  }

  /** Fold files APPENDED since the last manifest into it incrementally:
    * stats are computed for the new files only (the manifest is
    * authoritative for files it already covers — per-file stats never
    * change after a parquet file is sealed), so maintaining the
    * manifest costs one scan of the APPENDED data, not the table. The
    * geometry (stats/key columns, bits) is read back from the existing
    * manifest's schema so an append can never silently change it.
    */
  def appendToManifest(spark: SparkSession, tableDir: String): Unit = {
    val mPath = s"$tableDir/_manifest"
    require(graft.util.Hfs.exists(spark, mPath),
      s"no manifest to append to at $tableDir — writeManifest first")
    val existing = graft.util.TinyParquet.openStore(spark, mPath)
    val statsCols = existing.columns.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_") }.toSeq
    val keyCols = existing.columns.collect {
      case c if c.startsWith("key_") => c.stripPrefix("key_") }.toSeq
    // bits ride the schema via the stored bucket domain? No — the bucket
    // arithmetic must match the original exactly, so the bit count is
    // recorded in the manifest itself as a constant column
    val keyBits =
      if (existing.columns.contains("__key_bits"))
        existing.select(col("__key_bits")).head().getInt(0)
      else 256
    // find the appended files by FILESYSTEM listing, not by scanning
    // the table: the manifest is files-sized (bounded collect), and a
    // row-level anti-join would re-read every sealed file per
    // micro-batch — exactly the table-sized cost this entry point
    // exists to avoid. Paths compare scheme-normalized (input_file_name
    // spells file:///, FileStatus spells file:/).
    def uriPath(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val knownPaths = existing.select(col("__file"))
      .collect().map(r => uriPath(r.getString(0))).toSet
    val freshFiles = graft.util.Hfs.listDataFiles(spark, tableDir)
      .filterNot(f => knownPaths(uriPath(f)))
    if (freshFiles.isEmpty) return
    val fresh = manifestRows(spark, tableDir, statsCols, keyCols, keyBits,
      onlyFiles = Some(freshFiles))
    val merged = existing.unionByName(fresh)
    val tmp = s"$tableDir/.manifest-${System.nanoTime()}"
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    graft.util.Hfs.delete(spark, mPath)
    if (!graft.util.Hfs.rename(spark, tmp, mPath))
      throw new IllegalStateException(s"manifest publish failed: $tableDir")
  }

  /** Drop manifest rows whose file path contains `pathContains` — the
    * REPAIR half of replay-safe streaming maintenance: a re-delivered
    * micro-batch overwrites its own `ingest_batch=<id>` directory, which
    * renames every file in it, so any manifest rows folded in by the
    * earlier (crashed) attempt now point at dead paths. Dropping by the
    * batch directory substring is exact (the caller knows which dir it
    * is about to rewrite) and needs no filesystem listing. No-op when no
    * manifest exists yet.
    */
  def dropManifestFiles(spark: SparkSession, tableDir: String,
      pathContains: String): Unit = {
    val mPath = s"$tableDir/_manifest"
    if (!graft.util.Hfs.exists(spark, mPath)) return
    val kept = graft.util.TinyParquet.openStore(spark, mPath)
      .filter(!col("__file").contains(pathContains))
      .localCheckpoint(eager = true) // read fully before the overwrite
    val tmp = s"$tableDir/.manifest-${System.nanoTime()}"
    kept.coalesce(1).write.mode("overwrite").parquet(tmp)
    graft.util.Hfs.delete(spark, mPath)
    if (!graft.util.Hfs.rename(spark, tmp, mPath))
      throw new IllegalStateException(s"manifest publish failed: $tableDir")
  }

  private def manifestRows(spark: SparkSession, tableDir: String,
      statsCols: Seq[String], keyCols: Seq[String], keyBits: Int,
      onlyFiles: Option[Seq[String]]): DataFrame = {
    require(statsCols.nonEmpty, "no stats columns")
    require(keyBits > 0 && keyBits <= 65536, s"keyBits out of range: $keyBits")
    import org.apache.spark.sql.functions.input_file_name
    // incremental callers name the appended files explicitly — the scan
    // opens ONLY those paths (file pruning at the source, not a
    // read-everything-then-anti-join)
    val reader = spark.read.option("basePath", tableDir)
    val src = onlyFiles match {
      case Some(paths) => reader.parquet(paths: _*)
      case None => reader.parquet(tableDir)
    }
    val df = src.select(input_file_name().as("__file") +:
      (statsCols ++ keyCols).distinct.map(col): _*)
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
      // per-file KEY-membership fingerprint: the sorted distinct bucket
      // set of the engine-portable hash — the zone-map answer to point
      // lookups, where min/max spans are useless on a hashed or
      // high-cardinality key. False positives only (a present bucket
      // may be another key's), never false negatives — pruning keeps
      // every file that could hold the key
      keyCols.map(c => array_sort(collect_set(
        pmod(graft.ext.PortableHash.md5Prefix15(col(c)), lit(keyBits))
          .cast("int"))).as(s"key_$c")) ++
      Seq(count(lit(1)).as("n_rows")) ++
      (if (keyCols.nonEmpty) Seq(first(lit(keyBits)).as("__key_bits")) else Nil)
    df.groupBy(col("__file")).agg(aggs.head, aggs.tail: _*)
  }

  /** The manifest `keep` predicate for a point lookup `keyCol = value`:
    * a file survives iff its fingerprint contains the value's bucket.
    * Compose with min/max range predicates with `&&`.
    */
  def keyMember(keyCol: String, value: Column, keyBits: Int = 256): Column =
    array_contains(col(s"key_$keyCol"),
      pmod(graft.ext.PortableHash.md5Prefix15(value), lit(keyBits)).cast("int"))

  /** Predicate-driven FILE pruning through the manifest: keep only the
    * files whose stats row satisfies `keep` (a Column over the
    * manifest's `min_<c>`/`max_<c>` columns — e.g. for
    * `x BETWEEN a AND b` pass `max_x >= a && min_x <= b`), and read
    * just those. The manifest filter runs DRIVER-side over a
    * files-sized table (the bounded-collect discipline); at 100 TB this
    * is the scan that opens 40 of 40,000 files instead of listing them
    * all. Returns (pruned frame, files read, files total) so callers
    * and specs can assert the skip actually happened. Soundness is the
    * caller's `keep` being IMPLIED by the row predicate — the gate
    * hash-checks it against a full-scan replay.
    */
  def manifestPrunedRead(spark: SparkSession, tableDir: String,
      keep: Column): (DataFrame, Int, Int) = {
    val m = graft.util.TinyParquet.openStore(spark, s"$tableDir/_manifest")
    val total = m.select(col("__file")).count().toInt
    val files = m.filter(keep).select(col("__file"))
      .collect().map(_.getString(0))
    val df =
      if (files.isEmpty) graft.util.TinyParquet.openStore(spark, tableDir).limit(0)
      else spark.read.option("basePath", tableDir).parquet(files.toSeq: _*)
    (df, files.length, total)
  }

  /** Compact a fragmented parquet table to ~`targetBytes` per output
    * file: measure the actual on-disk footprint, round-robin
    * `repartition` to the implied file count (even file sizes — a
    * `coalesce` would skip the shuffle but inherit the input's skew,
    * and a compaction that writes one giant and many tiny files has
    * not compacted), rewrite to `dst`. Returns the file count chosen.
    * Content is preserved row-for-row (the roundtrip gate hash-matches
    * it); only the physical layout changes.
    */
  def compactParquet(spark: SparkSession, src: String, dst: String,
      targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val path = new org.apache.hadoop.fs.Path(src)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val files = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    graft.util.TinyParquet.openStore(spark, src).repartition(files)
      .write.mode("overwrite").parquet(dst)
    files
  }
}
