package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.Engine
import graft.functions.Casts
import graft.functions.Cols.qcol
import graft.operators._
import graft.registry._

/** Content types of the import workloads: a lineitem-shaped table with an
  * explicit-field relation (`part.name`), a bare relation (`supplier`), a
  * bare many-relation (`tags`), a single component (`ship`) and a
  * repeatable one (`notes`); the admin-UI variant adds two media fields.
  */
object Schema {
  import AttrKind._
  val part = ContentType("api::part.part", "Part", Seq(Attribute("name", StringK, required = true)))
  val supplier = ContentType("api::supplier.supplier", "Supplier",
    Seq(Attribute("name", StringK, required = true)))
  val tag = ContentType("api::tag.tag", "Tag", Seq(Attribute("name", StringK, required = true)))
  val ship = ComponentType("bench.ship", Seq(Attribute("instruct", StringK), Attribute("mode", StringK)))
  val note = ComponentType("bench.note", Seq(Attribute("code", StringK), Attribute("qty", IntegerK)))
  private val lineAttrs = Seq(
    Attribute("lkey", StringK, required = true, unique = true),
    Attribute("quantity", IntegerK),
    Attribute("price", DecimalK),
    Attribute("discount", DecimalK),
    Attribute("returnflag", EnumerationK, enumValues = Seq("A", "N", "R")),
    Attribute("shipdate", DateK),
    Attribute("part", RelationK, target = Some(part.uid), relationKind = Some("manyToOne")),
    Attribute("supplier", RelationK, target = Some(supplier.uid), relationKind = Some("manyToOne")),
    Attribute("tags", RelationK, target = Some(tag.uid), relationKind = Some("manyToMany")),
    Attribute("ship", ComponentK, component = Some(ship.uid)),
    Attribute("notes", ComponentK, component = Some(note.uid), repeatable = true))
  val lineitem = ContentType("api::lineitem.lineitem", "Lineitem", lineAttrs)
  val listing = ContentType("api::listing.listing", "Listing",
    lineAttrs ++ Seq(Attribute("image", MediaK), Attribute("document", MediaK)))
  val registry = ContentTypeRegistry(Seq(part, supplier, tag, lineitem, listing), Seq(ship, note))
  val dims: Seq[ContentType] = Seq(part, supplier, tag)
}

/** Shared machinery of `bulk_import` and `ui_session`: set-up of the
  * stored tables, the composed Engine calls, the staged layer-by-layer
  * replay of the same pipeline, and the checks.
  */
abstract class ImportWorkload(ctx: Ctx) extends Workload {
  protected def spec: Gen.ImportSpec
  protected def ct: ContentType
  protected val spark = ctx.spark
  protected var data: Gen.ImportData = _
  protected var dir: File = _
  protected def tableDir = new File(dir, "table")
  protected def seedDir = new File(dir, "seed")
  protected def in(name: String) = new File(dir, s"in/$name")

  def setup(d: File): Unit = {
    dir = d
    data = Gen.importData(new File(d, "in"), ctx.seed, spec)
    Schema.dims.foreach { t =>
      spark.read.option("header", true).schema("id LONG, name STRING")
        .csv(in(s"${t.uid.split('.').last}.csv").getPath)
        .write.parquet(new File(d, t.uid.split('.').last).getPath)
    }
    spark.read.schema(ct.sparkType(Schema.registry)).json(in("stored.jsonl").getPath)
      .repartition(ctx.cores).write.parquet(seedDir.getPath)
  }

  protected def dim(t: ContentType): DataFrame =
    spark.read.parquet(new File(dir, t.uid.split('.').last).getPath)

  protected def engine(): Engine = {
    val dims = Schema.dims.map(t => t.uid -> dim(t)).toMap
    new Engine(spark, Schema.registry, uid =>
      if (uid == ct.uid) (spark.read.parquet(tableDir.getPath), "lkey") else (dims(uid), "id"))
  }

  protected def readCsv(f: File): DataFrame = spark.read.option("header", true).csv(f.getPath)

  /** Restore the stored table to its seeded state (untimed), so every
    * operation meets the same table and the same planted upsert overlap.
    */
  protected def restore(): Unit = Files.copyDir(seedDir, tableDir)

  /** Counters, final row count and the sampled rows against the replay.
    * A duplicated key must hold its last valid CSV occurrence. Holding an
    * earlier one fails the check and is also counted in
    * `last_wins_violations`: `Upsert.dedupLastWins` draws its order key
    * after the relation and component shuffles, so its "last" is not the
    * CSV's last.
    */
  protected def checkImport(e: Gen.ImportExpect, created: Long, updated: Long): (Seq[String], Map[String, Long]) = {
    val f = mutable.ArrayBuffer[String]()
    if (created != e.created) f += s"created $created, expected ${e.created}"
    if (updated != e.updated) f += s"updated $updated, expected ${e.updated}"
    val t = spark.read.parquet(tableDir.getPath)
    val n = t.count()
    if (n != e.finalRows) f += s"stored rows $n, expected ${e.finalRows}"
    val got = t.filter(col("lkey").isin(e.sample.map(_.key): _*))
      .select(col("lkey"), col("quantity"), col("part"), col("supplier"), col("tags"),
        col("ship.mode"), when(col("notes").isNotNull, size(col("notes"))))
      .collect().groupBy(_.getString(0))
    var violations = 0L
    e.sample.foreach { x =>
      got.get(x.key) match {
        case Some(Array(r)) =>
          def opt[T](i: Int): Option[T] = if (r.isNullAt(i)) None else Some(r.getAs[T](i))
          val row = Gen.ExpectedRow(x.key, opt[Int](1), opt[Long](2), opt[Long](3),
            opt[scala.collection.Seq[Long]](4).map(_.toSeq), opt[String](5), opt[Int](6))
          if (x.earlier.contains(row)) {
            violations += 1
            f += s"row ${x.key}: kept an earlier CSV occurrence, not the last"
          } else if (row != x.expected) f += s"row ${x.key}: got $row, expected ${x.expected}"
        case other => f += s"row ${x.key}: ${other.map(_.length).getOrElse(0)} stored copies"
      }
    }
    (f.toSeq, Map("last_wins_violations" -> violations,
      "sampled_duplicate_keys" -> e.sample.count(_.earlier.nonEmpty).toLong))
  }

  /** `Exporter.flattenRepeatableComponent` indexes every row up to the
    * table-wide maximum with `element_at`, which throws under Spark's
    * default ANSI mode on a shorter array. A diagnostic on two rows, one
    * and two items, beside the operations' own export checks.
    */
  override def probes(): Seq[String] = {
    import spark.implicits._
    val df = Seq(("a", Seq(("x", 1))), ("b", Seq(("x", 1), ("y", 2)))).toDF("lkey", "notes")
    val outcome = scala.util.Try(Exporter.flattenRepeatableComponent(df, "notes", 2).collect())
    Seq(outcome.fold(e => s"probe: exporting a ragged repeatable component fails (${e.getClass.getSimpleName})",
      _ => "probe: exporting a ragged repeatable component works"))
  }

  // ------------------------------------------------------------- staged
  /** The import pipeline of `Engine.importCsv` replayed one module call at
    * a time, each output forced before the next layer consumes it.
    * Returns the layer-specific ratios.
    */
  protected def stagedImport(t: Tracer, csv: DataFrame, csvRows: Long,
      mediaZipDir: Option[File]): mutable.Map[String, Double] = {
    val stats = mutable.Map[String, Double]()
    val validated = t.span("operators.Validator", "construct") {
      Validator.validate(csv, HeaderMapper.plan(csv.columns.toSeq, ct), ct)
    }
    var df = t.span("operators.Validator", "exec")(ctx.force(validated.valid))
    val validRows = df.count()
    stats("operators.Validator.rows_out") = validRows
    stats("Validator.invalid_ratio") = 1.0 - validRows.toDouble / csvRows
    val plan = HeaderMapper.plan(csv.columns.toSeq, ct)
    val dims = Schema.dims.map(d => d.uid -> dim(d)).toMap
    var hits, values = 0.0
    def resolveStep(in: String, out: String, multi: Boolean)(resolve: DataFrame => DataFrame): Unit = {
      df = t.span("operators.RelationResolver", "construct")(resolve(df))
      df = t.span("operators.RelationResolver", "exec")(ctx.force(df))
      val r = df.agg(
        if (multi) sum(size(Casts.splitTrim(qcol(in)))) else count(when(!Casts.isMissing(qcol(in)), 1)),
        if (multi) sum(when(col(out).isNotNull, size(col(out)))) else count(col(out))).head()
      values += (if (r.isNullAt(0)) 0L else r.getLong(0))
      hits += (if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    plan.valid.foreach {
      case HeaderMapping.RelationSearch(h, a, field) =>
        resolveStep(h, a.name, a.isMultiRelation) { d =>
          if (a.isMultiRelation) RelationResolver.resolveMultiByField(d, h, dims(a.target.get), "id", field, a.name)
          else RelationResolver.resolveByField(d, h, dims(a.target.get), "id", field, a.name)
        }
        df = df.drop(h)
      case HeaderMapping.Direct(_, a) if a.isRelation =>
        val out = s"__${a.name}_ids"
        resolveStep(a.name, out, a.isMultiRelation) { d =>
          if (a.isMultiRelation) RelationResolver.resolveMultiBare(d, a.name, dims(a.target.get), "id", out)
          else RelationResolver.resolveBare(d, a.name, dims(a.target.get), "id", out)
        }
        df = df.withColumn(a.name, col(out)).drop(out)
      case _ => ()
    }
    stats("RelationResolver.hit_ratio") = if (values == 0) 0.0 else hits / values
    val lookup: Components.RelationLookup = (d, v, uid, field, out) =>
      RelationResolver.resolveByField(d, v, dims(uid), "id", field, out)
    Components.sourcesFromPlan(plan, Schema.registry).foreach { src =>
      df = t.span("operators.Components", "construct")(Components.assemble(df, src, lookup))
      df = t.span("operators.Components", "exec")(ctx.force(df))
    }
    mediaZipDir.foreach { z =>
      // the media library as Engine.uploadMediaZip builds it: the ZIP scan,
      // folder bucketing and upload-once dedup of sources.ZipSource
      val lib = t.span("sources.ZipSource", "construct")(engine().uploadMediaZip(z.getPath, ct.uid))
      val forced = t.span("sources.ZipSource", "exec")(ctx.force(lib))
      stats("sources.ZipSource.rows_out") = forced.count()
      val counts = forced.groupBy(col("field")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      ct.attributes.filter(_.isMedia).map(_.name).filter(counts.contains).foreach { f =>
        df = t.span("operators.Media", "construct") {
          Media.matchFilesTheta(df, "lkey", forced.filter(col("field") === f), "name", "file_id", f,
            knownFileCount = counts.get(f))
        }
        df = t.span("operators.Media", "exec")(ctx.force(df))
      }
      val m = df.agg(count(col("image")), count(lit(1))).head()
      stats("Media.matched_ratio") = m.getLong(0).toDouble / math.max(1L, m.getLong(1))
    }
    df = df.drop(Validator.RowNumCol)
    val merged = t.span("operators.Upsert", "construct") {
      Upsert.merge(spark.read.parquet(tableDir.getPath), df, "lkey", upsert = true)
    }
    t.span("operators.Upsert", "exec") {
      t.span("operators.Upsert", "counters")(merged.snapshotCounters())
      t.span("operators.Upsert", "swap") {
        Upsert.writeSwap(spark, merged, tableDir.getPath, snapshotCounters = false)
      }
    }
    stats("operators.Upsert.rows_out") = merged.created + merged.updated
    stats("Upsert.update_ratio") = merged.updated.toDouble / math.max(1L, merged.created + merged.updated)
    stats
  }

  /** `Engine.exportCsv`'s populate → flatten → audit-drop → cap, staged.
    * `sink` forces the output (CSV write or collect). Read amplification
    * is over the rows the export is asked for (the cap, or the whole
    * table), so it stays defined when the export throws.
    */
  protected def stagedExport(t: Tracer, limit: Int, stats: mutable.Map[String, Double])(
      sink: DataFrame => Long): Unit = {
    val before = t.snapshot()
    val out = t.span("operators.Exporter", "construct") {
      var d = spark.read.parquet(tableDir.getPath)
      d = Exporter.populateRelation(d, "part", dim(Schema.part), "id", "name")
      d = Exporter.populateRelation(d, "supplier", dim(Schema.supplier), "id", "name")
      d = Exporter.populateMultiRelation(d, "tags", dim(Schema.tag), "id", "name")
      d = Exporter.flattenSingleComponent(d, "ship")
      d = Exporter.flattenRepeatableComponent(d, "notes", Exporter.maxArraySize(d, "notes"))
      Exporter.dropAudit(d).orderBy(col("lkey")).limit(limit)
    }
    val rows = t.span("operators.Exporter", "exec")(ctx.attempt("staged export")(sink(out)))
      .fold(msg => { System.err.println(s"[check] $msg"); 0L }, identity)
    val read = t.snapshot().minus(before).recordsRead
    stats("operators.Exporter.rows_out") = rows
    stats("Exporter.read_amplification") = read.toDouble / math.min(limit.toLong, data.expect.finalRows)
  }
}

/** `bulk_import`: one large CSV imported with upsert into a pre-seeded
  * stored table and written with `writeTo`, then the whole stored table
  * exported through `exportCsv` + `Exporter.writeCsv`.
  */
final class BulkImport(ctx: Ctx, rows: Int) extends ImportWorkload(ctx) {
  val name = "bulk_import"
  val primaryLabel = "import"
  val secondaryLabel = "export"
  val rateName = "import_rows_per_s"
  protected val spec = Gen.ImportSpec(rows = rows, stored = rows / 2, parts = 20000,
    suppliers = 1000, tags = 64)
  protected val ct: ContentType = Schema.lineitem
  private def exportDir = new File(dir, "export")

  def op(i: Int): Op = {
    restore()
    val (res, ms) = ctx.measure {
      val r = ctx.tracer.span("api.Engine", "construct") {
        engine().importCsv(readCsv(in("import.csv")), ct.uid, upsert = true, upsertField = "lkey")
      }
      ctx.tracer.span("api.Engine", "exec")(r.writeTo(tableDir.getPath))
      r
    }
    val (exported, exportMs) = ctx.measure(ctx.attempt("export") {
      val out = ctx.tracer.span("api.Engine", "construct")(engine().exportCsv(ct.uid, limit = Int.MaxValue))
      ctx.tracer.span("api.Engine", "exec")(Exporter.writeCsv(out, exportDir.getPath))
    })
    val e = data.expect
    val (failures, observed) = checkImport(e, res.created, res.updated)
    Op(ms, e.csvRows, Some(exportMs),
      failures ++ exported.fold(Seq(_), _ => checkExport(e.finalRows)), observed)
  }

  private def checkExport(expected: Long): Seq[String] = {
    val back = spark.read.option("header", true).csv(exportDir.getPath)
    val n = back.count()
    val missing = Seq("part.name", "supplier.name", "tags.name", "ship.mode", "notes.1.code")
      .filterNot(back.columns.contains)
    (if (n != expected) Seq(s"exported rows $n, expected $expected") else Nil) ++
      missing.map(c => s"export lacks column $c")
  }

  def staged(i: Int, t: Tracer): Map[String, Double] = {
    restore()
    t.span("op", "staged") {
      val stats = stagedImport(t, readCsv(in("import.csv")), data.expect.csvRows, None)
      stagedExport(t, Int.MaxValue, stats) { out =>
        Exporter.writeCsv(out, exportDir.getPath); data.expect.finalRows
      }
      stats.toMap
    }
  }

  override def report(ops: Seq[Op]): Seq[String] = {
    val e = data.expect
    val exportS = ops.flatMap(_.secondMs).sum / 1e3
    val exportThrew = ops.exists(_.failures.exists(_.startsWith("export threw")))
    Seq(if (exportThrew) "export_rows_per_s n/a 1/s (the export threw)"
      else f"export_rows_per_s ${e.finalRows * ops.size / exportS}%.3f 1/s",
      s"planted: csv_rows=${e.csvRows} invalid=${e.invalidRows} duplicate_key_rows=${e.duplicateRows} " +
        s"contains_fallback_values=${e.containsValues} upsert_overlap=${e.updated} " +
        s"stored_rows_after=${e.finalRows} repeatable_sizes=${e.noteSizes.mkString("/")}")
  }
}

/** `ui_session`: the admin-UI request shape — preview → validate →
  * uploadMediaZip → importCsv(upsert, mediaFiles) → writeTo → capped
  * export — against a fixed-size stored table. The warm-up and every
  * timed operation run the same 1,000-row request, restored stored table
  * included, so traced and untraced runs time the same work.
  */
final class UiSession(ctx: Ctx, storedRows: Int) extends ImportWorkload(ctx) {
  val name = "ui_session"
  val primaryLabel = "request"
  val secondaryLabel = "validate"
  val rateName = "request_rows_per_s"
  override val secondaryNested = true
  /** One set-up per run: the warm-up operation costs more than the two
    * set-ups it replaces.
    */
  override val setups = 1
  protected val spec = Gen.ImportSpec(rows = Gen.RequestSizes.head, stored = storedRows, parts = 2000,
    suppliers = 100, tags = 64, requests = 1)
  protected val ct: ContentType = Schema.listing
  private def mediaDir = new File(dir, "in/media000")

  def op(i: Int): Op = {
    val (f, n, e) = data.requestFiles(0)
    restore()
    var validateMs = 0.0
    val ((report, preview, res, exported), ms) = ctx.measure {
      val eng = ctx.tracer.span("api.Engine", "construct")(engine())
      val csv = readCsv(f)
      val (_, preview) = ctx.tracer.span("api.Engine", "exec")(eng.preview(csv))
      val (report, vms) = ctx.time(ctx.tracer.span("api.Engine", "exec")(eng.validate(csv, ct.uid)))
      validateMs = vms
      val res = ctx.tracer.span("api.Engine", "construct") {
        eng.importCsv(csv, ct.uid, upsert = true, upsertField = "lkey",
          mediaFiles = Some(eng.uploadMediaZip(mediaDir.getPath, ct.uid)))
      }
      ctx.tracer.span("api.Engine", "exec")(res.writeTo(tableDir.getPath))
      res.release()
      val exported = ctx.attempt("export") {
        val out = ctx.tracer.span("api.Engine", "construct")(engine().exportCsv(ct.uid))
        ctx.tracer.span("api.Engine", "exec")(out.collect())
      }
      (report, preview, res, exported)
    }
    val f0 = mutable.ArrayBuffer[String]()
    if (report.totalRows != n || report.invalidRows != e.invalidRows)
      f0 += s"validate: ${report.invalidRows}/${report.totalRows} invalid, expected ${e.invalidRows}/$n"
    if (preview.size != math.min(10, n)) f0 += s"preview rows ${preview.size}"
    exported.fold(f0 += _, rows => if (rows.length != math.min(1000L, e.finalRows)) f0 += s"export rows ${rows.length}")
    val matched = spark.read.parquet(tableDir.getPath).filter(col("image").isNotNull).count()
    if (matched != e.mediaMatchedRows) f0 += s"media-matched rows $matched, expected ${e.mediaMatchedRows}"
    val (failures, observed) = checkImport(e, res.created, res.updated)
    Op(ms, n, Some(validateMs), f0.toSeq ++ failures, observed)
  }

  def staged(i: Int, t: Tracer): Map[String, Double] = {
    val (f, n, _) = data.requestFiles(0)
    restore()
    t.span("op", "staged") {
      val csv = readCsv(f)
      t.span("api.Engine", "exec")(engine().preview(csv))
      val stats = stagedImport(t, csv, n, Some(mediaDir))
      stagedExport(t, 1000, stats)(_.collect().length.toLong)
      stats.toMap
    }
  }

  override def report(ops: Seq[Op]): Seq[String] = {
    val rs = data.requestFiles.map(_._3)
    Seq(s"planted per ${rs.size} requests: invalid=${rs.map(_.invalidRows).sum} " +
      s"duplicate_key_rows=${rs.map(_.duplicateRows).sum} upsert_overlap=${rs.map(_.updated).sum} " +
      s"media_prefix_collisions=${rs.map(_.mediaPrefixCollisions).sum} " +
      s"media_matched_rows=${rs.map(_.mediaMatchedRows).sum} " +
      s"repeatable_sizes=${rs.flatMap(_.noteSizes).distinct.sorted.mkString("/")}")
  }
}
