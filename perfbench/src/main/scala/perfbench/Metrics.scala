package perfbench

import scala.collection.mutable

/** The metric catalogue: every name the benchmark reports, with its unit.
  * `BENCHMARK.json` lists the same names (a test keeps them in step).
  */
object Metrics {
  val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"

  /** End-to-end metrics of an untraced run, the same names for every
    * workload (perfbench/README.md maps them to each workload). The
    * secondary operation's latency and the throughput (a fixed row count
    * over `op_ms_p50`) are reported in the text lines only.
    */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op_ms_p50" -> "ms", "live_heap_mb" -> "MB")

  /** The repo's modules, in pipeline order. */
  val layers: Seq[String] = Seq("api.Engine", "operators.Validator", "operators.RelationResolver",
    "operators.Components", "operators.Media", "sources.ZipSource", "operators.Upsert",
    "operators.Exporter", "ext.CorpusClean", "ext.Dedup", "ext.Classify", "ext.Sampling",
    "ext.Packing", "ext.ShardExport", "ext.AnnIndex", "ext.GraphAnn")

  val perLayerFields: Seq[(String, String)] = Seq("construct_ms" -> "ms", "construct_jobs" -> "count",
    "exec_ms" -> "ms", "cpu_ms" -> "ms", "jobs" -> "count", "stages" -> "count")

  /** Layer-specific ratios and times reported by the staged replays. */
  val specific: Seq[(String, String)] = Seq(
    "RelationResolver.hit_ratio" -> "ratio", "Validator.invalid_ratio" -> "ratio",
    "Upsert.update_ratio" -> "ratio", "Upsert.counters_ms" -> "ms", "Upsert.swap_ms" -> "ms",
    "Exporter.read_amplification" -> "ratio", "Media.matched_ratio" -> "ratio",
    "Dedup.pairs_per_doc" -> "ratio", "AnnIndex.jobs_per_query" -> "count",
    "AnnIndex.recall_at_10" -> "ratio", "GraphAnn.recall_at_10" -> "ratio")

  /** The engine under all layers, per end-to-end action. */
  val spark: Seq[(String, String)] = Seq("spark.planning_ms" -> "ms", "spark.jobs" -> "count",
    "spark.tasks" -> "count", "spark.gc_ms" -> "ms", "spark.shuffle_bytes" -> "bytes",
    "spark.scan_amplification" -> "ratio", "spark.busy_cores" -> "cores")

  /** Accounting of the traced run itself. */
  val trace: Seq[(String, String)] = Seq("trace.overhead_pct" -> "%", "trace.composed_ms" -> "ms",
    "trace.layer_self_ms" -> "ms", "trace.gap_ms" -> "ms", "trace.harness_ms" -> "ms",
    "host.probe_before_ms" -> "ms", "host.probe_after_ms" -> "ms")

  val perLayer: Seq[(String, String)] =
    layers.flatMap(l => perLayerFields.map { case (f, u) => s"$l.$f" -> u }) ++ specific ++ spark ++ trace

  /** The layers and ratios only the import workloads (`ui_session`,
    * `bulk_import`) exercise. Those workloads are not in `BENCHMARK.json`
    * while the engine fails their checks, so its per-layer set leaves them
    * out; a traced run still prints them in its text lines.
    */
  val importLayers: Seq[String] = layers.takeWhile(_ != "ext.CorpusClean")
  val importSpecific: Set[String] = Set("RelationResolver.hit_ratio", "Validator.invalid_ratio",
    "Upsert.update_ratio", "Upsert.counters_ms", "Upsert.swap_ms", "Exporter.read_amplification",
    "Media.matched_ratio")

  /** The per-layer metrics of `BENCHMARK.json`: the traced JSON result. */
  val benchmarked: Seq[(String, String)] = perLayer.filterNot { case (n, _) =>
    importSpecific(n) || importLayers.exists(l => n.startsWith(l + "."))
  }
}

/** The traced mode's loop and its per-layer metrics. Each round runs the
  * composed operation untraced and traced, then the staged replay.
  */
final class TracedRun(ctx: Ctx, w: Workload) {
  private val t = ctx.tracer
  var rounds = 0
  private val untracedMs, tracedMs = mutable.ArrayBuffer[Double]()
  private val actions = mutable.ArrayBuffer[(Counters, Double)]()
  private var inputRows = 0L
  private val stats = mutable.ArrayBuffer[Map[String, Double]]()

  private def wall(o: Op): Double = o.ms + (if (w.secondaryNested) 0.0 else o.secondMs.getOrElse(0.0))

  /** One round; the untraced and traced composed runs swap order every
    * round so neither always meets the warmer JVM. The listener bus is
    * drained before tracing stops, so no event of a traced span is dropped.
    */
  def round(): Seq[Op] = {
    val i = rounds + 1
    def untraced(): Op = { t.on = false; w.op(i) }
    def traced(): Op = {
      t.on = true
      ctx.measured.clear()
      t.request = i
      val c = t.span("op", "composed")(w.op(i))
      actions ++= ctx.measured
      t.flush()
      t.on = false
      c
    }
    val (u, c) = if (rounds % 2 == 0) { val a = untraced(); (a, traced()) }
      else { val b = traced(); (untraced(), b) }
    inputRows += c.rows
    t.on = true
    stats += w.staged(i, t)
    t.flush()
    t.on = false
    untracedMs += wall(u)
    tracedMs += wall(c)
    rounds += 1
    Seq(u, c)
  }

  def metrics(lines: mutable.ArrayBuffer[String]): Seq[(String, Double, String)] = {
    val spans = t.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = if (s.parent == 0L) s else root(byId(s.parent))
    val self = t.selfMs(spans)
    val r = rounds.toDouble
    val out = mutable.LinkedHashMap[String, Double]()
    for (l <- Metrics.layers) {
      val under = if (l == "api.Engine") "composed" else "staged"
      val sel = spans.filter(s => s.layer == l && root(s).kind == under)
      val construct = sel.filter(_.kind == "construct")
      val all = t.countersOf(sel.map(_.id))
      out(s"$l.construct_ms") = construct.map(_.ms).sum / r
      out(s"$l.construct_jobs") = t.countersOf(construct.map(_.id)).jobs / r
      out(s"$l.exec_ms") = sel.filter(_.kind == "exec").map(_.ms).sum / r
      out(s"$l.cpu_ms") = all.cpuMs / r
      out(s"$l.jobs") = all.jobs / r
      out(s"$l.stages") = all.stages / r
    }
    val staged = spans.filter(s => s.layer == "op" && s.kind == "staged")
    val inStaged = spans.filter(s => s.layer != "op" && root(s).kind == "staged")
    def kindMs(layer: String, kind: String) =
      inStaged.filter(s => s.layer == layer && s.kind == kind).map(_.ms).sum / r
    val merged = stats.flatMap(_.toSeq).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum / vs.size }
    Metrics.specific.foreach { case (n, _) => out(n) = merged.getOrElse(n, 0.0) }
    out("Upsert.counters_ms") = kindMs("operators.Upsert", "counters")
    out("Upsert.swap_ms") = kindMs("operators.Upsert", "swap")
    val annQueries = inStaged.count(s => s.layer == "ext.AnnIndex" && s.kind == "exec") * AnnServe.Batch
    out("AnnIndex.jobs_per_query") = t.countersOf(inStaged.filter(s => s.layer == "ext.AnnIndex" &&
      (s.kind == "construct" || s.kind == "exec")).map(_.id)).jobs.toDouble / math.max(1, annQueries)
    val n = math.max(1, actions.size).toDouble
    val sum = actions.foldLeft(new Counters) { case (acc, (c, _)) =>
      acc.jobs += c.jobs; acc.tasks += c.tasks; acc.gcMs += c.gcMs; acc.shuffleBytes += c.shuffleBytes
      acc.recordsRead += c.recordsRead; acc.runMs += c.runMs; acc.planningMs += c.planningMs; acc }
    val actionWall = actions.map(_._2).sum
    out("spark.planning_ms") = sum.planningMs / n
    out("spark.jobs") = sum.jobs / n
    out("spark.tasks") = sum.tasks / n
    out("spark.gc_ms") = sum.gcMs / n
    out("spark.shuffle_bytes") = sum.shuffleBytes / n
    out("spark.scan_amplification") = sum.recordsRead.toDouble / math.max(1L, inputRows)
    out("spark.busy_cores") = sum.runMs / math.max(1e-9, actionWall * ctx.cores)
    val composed = Stats.median(tracedMs.toSeq)
    val layerSelf = inStaged.map(s => self(s.id)).sum / r
    val harness = staged.map(s => self(s.id)).sum / r
    out("trace.overhead_pct") = (composed / Stats.median(untracedMs.toSeq) - 1.0) * 100.0
    out("trace.composed_ms") = tracedMs.sum / r
    out("trace.layer_self_ms") = layerSelf
    out("trace.gap_ms") = layerSelf - tracedMs.sum / r
    out("trace.harness_ms") = harness
    lines += f"traced rounds $rounds: composed ${tracedMs.sum / r}%.1f ms/op traced vs " +
      f"${untracedMs.sum / r}%.1f untraced (overhead ${out("trace.overhead_pct")}%.1f%% by medians)"
    lines += f"staged replay: layer self-times $layerSelf%.1f ms + harness $harness%.1f ms per op; " +
      f"composition gap (layer sum - composed) ${out("trace.gap_ms")}%.1f ms"
    val un = t.unattributed
    lines += f"jobs outside any span: ${un.jobs} (${un.cpuMs}%.0f ms executor CPU)"
    Metrics.layers.foreach { l =>
      val rows = merged.get(s"$l.rows_out").map(v => f" rows_out $v%.0f").getOrElse("")
      val s = inStaged.filter(_.layer == l).map(x => self(x.id)).sum / r
      if (s > 0 || l == "api.Engine")
        lines += f"layer $l self ${if (l == "api.Engine") out(s"$l.construct_ms") + out(s"$l.exec_ms") else s}%.1f ms$rows"
    }
    Metrics.perLayer.filterNot(m => m._1.startsWith("host.")).map { case (name, unit) =>
      (name, out.getOrElse(name, 0.0), unit)
    }
  }
}
