package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.registry._

/** API façade mirroring the reference's 7 HTTP endpoints
  * (reference: server/routes/index.js:3-67; controllers/csv-import.js) with
  * the same result shapes, re-expressed over Spark frames.
  *
  * | Reference endpoint           | Method here        |
  * |------------------------------|--------------------|
  * | GET  /content-types          | contentTypes       |
  * | POST /preview/:ct            | preview            |
  * | POST /upload/:ct (validate)  | validate           |
  * | POST /import/:ct             | importCsv          |
  * | POST /export/:ct             | exportCsv          |
  * | POST /upload-zip             | (sources.ZipSource)|
  * | POST /upload-media-zip       | (sources.ZipSource + operators.Media) |
  */
final class Engine(
    val spark: SparkSession,
    val registry: ContentTypeRegistry,
    /** uid → (stored table frame, id column name) */
    tables: String => (DataFrame, String),
) {

  // ------------------------------------------------------------ results
  final case class ValidationReport(
      valid: Boolean,
      errors: Seq[String],
      warnings: Seq[String],
      totalRows: Long,
      invalidRows: Long,
      preview: Seq[Map[String, String]],
  )
  /** Import output with LAZY counters and errors.
    *
    * Per-field execution cost (each is an INDEPENDENT pipeline run —
    * laziness trades total work for hot-path latency):
    *   - `merged` action: the full pipeline, once. The hot path.
    *   - `created`/`updated` (first read): one dedicated column-pruned
    *     aggregate over the key join — the validation/resolution upstream
    *     re-executes, pruned to the key columns.
    *   - `errors` (first read): re-derives the invalid branch (capped
    *     collect) — the exceptional path, not the hot one.
    * A caller consuming ALL of merged + counters + errors re-runs the
    * (pruned) upstream ~3×; callers doing that repeatedly should persist
    * their own copy of `merged`. `release()` drops the media-library
    * cache once results are consumed — skipping it leaks that cache for
    * the session.
    *
    * ORDERING: the counter aggregate re-reads the pre-merge target, so
    * counters must run before the target directory is replaced. Use
    * `writeTo` (snapshots counters before the swap by default, and makes
    * a counter read after an opted-out swap a loud error) instead of
    * sequencing `Upsert.writeSwap` by hand.
    */
  final class ImportResult(
      val merged: DataFrame,
      val warnings: Seq[String],
      mergeResult: Upsert.MergeResult,
      errorsThunk: () => Seq[String],
      releaseThunk: () => Unit,
  ) {
    def created: Long = mergeResult.created
    def updated: Long = mergeResult.updated
    def totalProcessed: Long = created + updated
    lazy val errors: Seq[String] = errorsThunk()
    /** Force the counter aggregate now (idempotent), while the pre-merge
      * target still exists.
      */
    def snapshotCounters(): Unit = mergeResult.snapshotCounters()
    /** Write `merged` over the target table via rewrite-and-swap. By
      * default counters are snapshotted first so `created`/`updated`
      * stay valid afterwards; `snapshotCounters = false` keeps the pure
      * single-execution path and poisons unread counters instead.
      */
    def writeTo(tableDir: String, snapshotCounters: Boolean = true): Unit =
      Upsert.writeSwap(spark, mergeResult, tableDir, snapshotCounters)
    def release(): Unit = releaseThunk()
  }

  /** GET /content-types — importable tables with schema summaries
    * (reference: controllers/csv-import.js:133-204).
    */
  def contentTypes: Seq[ContentType] = registry.importable.values.toSeq.sortBy(_.uid)

  /** POST /preview — first `n` raw rows + headers, no validation
    * (reference: controllers/csv-import.js:89-128, limit 10).
    */
  def preview(csv: DataFrame, n: Int = 10): (Seq[String], Seq[Map[String, String]]) =
    (csv.columns.toSeq, headRows(csv, n))

  private def headRows(df: DataFrame, n: Int): Seq[Map[String, String]] =
    df.limit(n).collect().toSeq.map(r =>
      df.columns.zipWithIndex.map { case (c, i) =>
        c -> Option(r.get(i)).map(_.toString).orNull
      }.toMap)

  /** POST /upload — validate + preview(5) (reference: controllers:25-84). */
  def validate(csv: DataFrame, uid: String): ValidationReport = {
    val ct = registry.contentTypeOrThrow(uid)
    val plan = HeaderMapper.plan(csv.columns.toSeq, ct)
    val (relErrs, relWarns) = HeaderMapper.validateRelationTargets(plan, registry)
    val result = Validator.validate(csv, plan, ct)
    // one aggregate job yields both counts — not two pipeline re-executions
    val counts = result.routed.agg(
      count(lit(1)).as("total"),
      count(when(size(col(Validator.ErrorsCol)) > 0, 1)).as("invalid")).head()
    val (total, invalid) = (counts.getLong(0), counts.getLong(1))
    ValidationReport(
      valid = plan.errors.isEmpty && relErrs.isEmpty && invalid == 0,
      errors = plan.errors ++ relErrs,
      warnings = plan.warnings ++ relWarns,
      totalRows = total,
      invalidRows = invalid,
      preview = headRows(csv, 5),
    )
  }

  /** POST /import — the EP1 pipeline: validate → resolve relations →
    * assemble components → merge (upsert or append)
    * (reference: controllers/csv-import.js:209-295).
    */
  def importCsv(
      csv: DataFrame,
      uid: String,
      upsert: Boolean = false,
      upsertField: String = "id",
      /** media library frame from `uploadZip`/`uploadMediaZip` —
        * (`field`, `file_id`, `name`, …); matched file ids are attached to
        * each row's media fields (reference: controllers/csv-import.js:
        * 267-272 → services/csv-import.js:377-379, :1201-1246)
        */
      mediaFiles: Option[DataFrame] = None,
      /** row column matched against file names; defaults to `upsertField`
        * (reference: services/csv-import.js:1205)
        */
      mediaMatchField: Option[String] = None,
  ): ImportResult = {
    val ct = registry.contentTypeOrThrow(uid)
    val plan = HeaderMapper.plan(csv.columns.toSeq, ct)
    val (relErrs, relWarns) = HeaderMapper.validateRelationTargets(plan, registry)
    require(plan.errors.isEmpty && relErrs.isEmpty,
      (plan.errors ++ relErrs).mkString("; ")) // validation gate (:241-252)

    val validated = Validator.validate(csv, plan, ct)
    // No persist of the routed frame: the hot path (write `merged`) is a
    // single action now — counters and errors are lazy, computed only
    // when read — so there is no second consumer to amortize a cache for
    var df = validated.valid

    // relation resolution (J1-J3)
    plan.valid.foreach {
      case HeaderMapping.RelationSearch(h, a, field) =>
        val (target, idCol) = tables(a.target.get)
        df =
          if (a.isMultiRelation)
            RelationResolver.resolveMultiByField(df, h, target, idCol, field, a.name).drop(h)
          else
            RelationResolver.resolveByField(df, h, target, idCol, field, a.name).drop(h)
      case HeaderMapping.Direct(_, a) if a.isRelation =>
        val (target, idCol) = tables(a.target.get)
        df =
          if (a.isMultiRelation)
            // bare multi: comma-split, J2 cascade per element (:475-493)
            RelationResolver.resolveMultiBare(df, a.name, target, idCol, s"__${a.name}_ids")
              .withColumn(a.name, col(s"__${a.name}_ids")).drop(s"__${a.name}_ids")
          else
            RelationResolver.resolveBare(df, a.name, target, idCol, s"__${a.name}_rid")
              .withColumn(a.name, col(s"__${a.name}_rid")).drop(s"__${a.name}_rid")
      case _ => ()
    }

    // component assembly (N1-N3, J5)
    val lookup: Components.RelationLookup = (d, valueCol, targetUid, field, out) => {
      val (target, idCol) = tables(targetUid)
      RelationResolver.resolveByField(d, valueCol, target, idCol, field, out)
    }
    Components.sourcesFromPlan(plan, registry).foreach { src =>
      df = Components.assemble(df, src, lookup)
    }

    // media attachment (J6/F8): per media field, prefix-match the library
    // files against the match column and attach the sorted id array
    // (reference: services/csv-import.js:1201-1246). The theta matcher keeps
    // the literal exact/numbered/starts-with semantics for arbitrary keys.
    var released: () => Unit = () => ()
    mediaFiles.foreach { mfRaw =>
      // the library frame is consumed once per media field (match join) —
      // persist so its upstream (zip scan, bucketing, id assignment) runs
      // once; released via ImportResult.release()
      val mf = mfRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      released = () => { mf.unpersist(blocking = false); () }
      val matchCol = mediaMatchField.getOrElse(upsertField)
      val mediaAttrs = ct.attributes.filter(_.isMedia).map(_.name)
      // ONE pass over the persisted library yields the present-field set
      // AND the per-field file counts the theta guard needs (result is
      // one row per media FIELD — schema-sized, never data)
      val fieldCounts = mf.groupBy(col("field")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      mediaAttrs.filter(fieldCounts.contains).foreach { f =>
        df = Media.matchFilesTheta(df, matchCol,
          mf.filter(col("field") === f), "name", "file_id", f,
          knownFileCount = fieldCounts.get(f))
      }
    }
    // load (S7/S8) — counters stay lazy; nothing runs until the caller
    // acts on `merged` (or reads a counter). The validator's row number
    // rides along to here: it was drawn on the CSV scan, before every
    // shuffle above, so it is the input order the last-wins dedup needs;
    // the merge drops it
    val (target, _) = tables(uid)
    val merged = Upsert.merge(target, df, upsertField, upsert,
      orderCol = Some(Validator.RowNumCol))
    new ImportResult(
      merged = merged.merged,
      warnings = plan.warnings ++ relWarns,
      mergeResult = merged,
      errorsThunk = () => validated.invalid
        .select(explode(col(Validator.ErrorsCol)).as("e"))
        .limit(1000).collect().map(_.getString(0)).toSeq,
      releaseThunk = released)
  }

  /** POST /export — EP3: populate → flatten → audit-drop → cap
    * (reference: controllers/csv-import.js:300-466).
    */
  def exportCsv(
      uid: String,
      filter: Option[org.apache.spark.sql.Column] = None,
      limit: Int = 1000,
  ): DataFrame = {
    val ct = registry.contentTypeOrThrow(uid)
    val (stored, idCol) = tables(uid)
    var df = filter.fold(stored)(stored.filter)
    ct.attributes.foreach { a =>
      if (a.isRelation) {
        val (target, tIdCol) = tables(a.target.get)
        val display = displayField(a.target.get, tIdCol)
        df =
          if (a.isMultiRelation) Exporter.populateMultiRelation(df, a.name, target, tIdCol, display)
          else Exporter.populateRelation(df, a.name, target, tIdCol, display)
      } else if (a.isComponent) {
        if (a.repeatable) {
          val max = Exporter.maxArraySize(df, a.name)
          df = Exporter.flattenRepeatableComponent(df, a.name, max)
        } else df = Exporter.flattenSingleComponent(df, a.name)
      }
    }
    Exporter.dropAudit(df).orderBy(graft.functions.Cols.qcol(idCol)).limit(limit)
  }

  /** POST /upload-zip — extract every archive under `zipDir` and register
    * all entries in the media library for one field
    * (reference: services/csv-import.js:808-926). Distributed: binaryFile
    * scan + per-partition expansion (S5), ids via the two-phase rank by
    * (entry path, archive) — deterministic, no single-task sort (S9).
    *
    * Returns (`field`, `file_id`, `name` = basename, `path`, `mime`,
    * `size`) — the shape `importCsv(mediaFiles = …)` consumes.
    */
  def uploadZip(zipDir: String, mediaField: String): DataFrame = {
    // distinct + size tiebreak: one archive MAY contain duplicate entry
    // paths (legal in ZIP) — identical (archive, name, size) triples
    // collapse, and size disambiguates the rest, so the id order is total
    // and file_id assignment deterministic
    val entries = graft.sources.ZipSource.readZips(spark, zipDir)
      .select(col("archive"), col("name"), col("size")).distinct()
    Ids.globalRowNumber(entries, Seq(col("name"), col("archive"), col("size")), "file_id")
      .select(lit(mediaField).as("field"), col("file_id"),
        element_at(split(col("name"), "/"), -1).as("name"),
        col("name").as("path"), Media.mimeType(col("name")).as("mime"), col("size"))
  }

  /** POST /upload-media-zip — folder-structured media upload
    * (reference: services/csv-import.js:931-1137): entries at depth ≥ 2
    * bucket into media fields by path segment (S6); if NO entry lands in a
    * structured folder, every file distributes to fields by filename
    * keyword instead (:1013-1021, F10); unique files are registered once
    * (J8 — content-keyed on (basename, size), a documented strengthening of
    * the reference's per-path upload cache) with distributed deterministic
    * ids (S9).
    *
    * Returns (`field`, `file_id`, `name`, `path`, `mime`, `size`).
    */
  def uploadMediaZip(
      zipDir: String,
      uid: String,
      fieldKeywords: Map[String, Seq[String]] = Media.defaultFieldKeywords,
  ): DataFrame = {
    val ct = registry.contentTypeOrThrow(uid)
    val mediaFields = ct.attributes.filter(_.isMedia).map(_.name)
    require(mediaFields.nonEmpty, s"$uid has no media fields")
    val base = element_at(split(col("name"), "/"), -1)
    // entry METADATA only (archive/name/size — never content bytes),
    // consumed by the structured-mode probe and both sides of the dedup
    // join: one lineage-cut materialization, no lingering cache entry
    val entries = graft.sources.ZipSource.readZips(spark, zipDir)
      .filter(size(split(col("name"), "/")) >= 2) // root entries ignored (:971)
      .select(col("archive"), col("name"), col("size"))
      .localCheckpoint(eager = true)
    val bucketed = graft.sources.ZipSource.bucketByField(entries, mediaFields)
    val structured = bucketed.filter(col("bucket").isNotNull)
    // "any structured folder?" is ONE boolean for the whole upload — a
    // limit-1 probe of the persisted entry list, not a data collect
    val fielded =
      if (!structured.isEmpty) structured.withColumnRenamed("bucket", "field")
      else {
        // keyword distribution — one file may serve several fields (:1017)
        val hits = array(mediaFields.map { f =>
          val kws = fieldKeywords.getOrElse(f, Nil)
          if (kws.isEmpty) lit(null).cast("string")
          else when(kws.map(kw => lower(base).contains(kw.toLowerCase)).reduce(_ || _), lit(f))
        }: _*)
        bucketed.drop("bucket").withColumn("field", explode(filter(hits, h => h.isNotNull)))
      }
    // ids are assigned only to files that belong to SOME field bucket
    // (reference builds allUniqueFiles from folderFiles, :1028-1036), with
    // the J8 upload-once dedup on (basename, size). Both join sides derive
    // from `entries` — rename columns so the self-join is unambiguous.
    val uploadable = fielded.select(col("archive"), col("name"), col("size")).distinct()
    val unique = graft.sources.ZipSource.dedupEntries(uploadable)
    // size tiebreak keeps the order total when one archive repeats a path
    val withIds = Ids.globalRowNumber(unique,
        Seq(col("name"), col("archive"), col("size")), "file_id")
      .select(base.as("__ubase"), col("size").as("__usize"), col("file_id"))
    // one row per (field, file_id): two same-(basename, size) entries in
    // different folders collapse to the canonical upload, so a record's
    // matched id array never carries the same id twice
    fielded
      .select(col("field"), col("name").as("path"), base.as("__fbase"),
        col("size").as("__fsize"))
      .join(withIds, col("__fbase") === col("__ubase") && col("__fsize") === col("__usize"))
      .groupBy(col("field"), col("file_id"))
      .agg(first(col("__fbase")).as("name"), min(col("path")).as("path"),
        first(col("__fsize")).as("size"))
      .select(col("field"), col("file_id"), col("name"),
        col("path"), Media.mimeType(col("path")).as("mime"), col("size"))
  }

  /** Display attribute for relation flattening: the target's first schema
    * attribute, name/title/displayName/id fallback
    * (reference: controllers/csv-import.js:391, :409).
    */
  private def displayField(targetUid: String, idCol: String): String = {
    val (target, _) = tables(targetUid)
    registry.contentType(targetUid)
      .flatMap(_.attributes.headOption.map(_.name))
      .filter(target.columns.contains)
      .orElse(Seq("name", "title", "displayName").find(target.columns.contains))
      .getOrElse(idCol)
  }
}
