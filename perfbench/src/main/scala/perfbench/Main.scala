package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end benchmark of the engine.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> [--work <dir>]
  * }}}
  *
  * Runs one workload in one process on `local[N]` (N = available cores,
  * shuffle partitions = N): set-up (the median of the set-ups is
  * `setup_s`), one untimed warm-up operation, then a closed loop of
  * operations for `--seconds`, each followed by its checks. With
  * `--trace 0` the last stdout line carries the end-to-end metrics; with
  * `--trace 1` the per-layer metrics of the traced mode.
  */
object Main {

  val workloads: Seq[String] = Seq("bulk_import", "ui_session", "curation", "ann_serve")

  def make(name: String, ctx: Ctx): Workload = name match {
    case "bulk_import" => new BulkImport(ctx, rows = Sizes.bulkRows)
    case "ui_session" => new UiSession(ctx, storedRows = Sizes.uiStoredRows)
    case "curation" => new CurationRun(ctx, base = Sizes.curationBase, copies = Sizes.curationCopies)
    case "ann_serve" => new AnnServe(ctx, corpusSize = Sizes.annCorpus)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(workloads.contains(workload), s"--workload must be one of ${workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", ".bench_work"))
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit =
      System.err.println(f"[phase] $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")
    phase("session ready")
    val tracer = new Tracer(spark)
    if (traced) tracer.install()
    val ctx = new Ctx(spark, seed, cores, tracer)
    val w = make(workload, ctx)
    val runDir = new File(work, s"$workload-run")
    Files.delete(runDir)

    val probeBefore = HostProbe.run(spark, cores)
    phase("probe done")
    val setups = (1 to (if (traced) 1 else w.setups)).map { k =>
      val d = new File(runDir, s"setup$k")
      if (k > 1) Files.delete(new File(runDir, s"setup${k - 1}"))
      ctx.time(w.setup(d))._2 / 1e3
    }
    phase("setups done")

    val ops = mutable.ArrayBuffer[Op]()
    val lines = mutable.ArrayBuffer[String]()
    // untimed in both modes, its checks counted: no timed operation, and
    // neither side of the traced overhead comparison, meets the cold JVM
    ops += w.op(0)
    // after exactly one operation in every run, so the reading does not
    // depend on how many timed operations fit in --seconds
    val liveHeapMb = Heap.liveMb(spark)
    phase("warm-up done")
    val t0 = System.nanoTime()
    var last = 0.0
    // a closed loop that starts no operation it expects to end past --seconds
    def more(first: Boolean) = first || (System.nanoTime() - t0) / 1e9 + last <= seconds
    def timedIteration(body: => Unit): Unit = {
      val s = System.nanoTime(); body; last = (System.nanoTime() - s) / 1e9
    }
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val timed = mutable.ArrayBuffer[Op]()
        while (more(timed.isEmpty)) timedIteration {
          timed += w.op(timed.size + 1)
          System.err.println(f"[op] ${timed.size} ${timed.last.ms}%.1f ms" +
            timed.last.secondMs.fold("")(x => f" second $x%.1f ms"))
        }
        ops ++= timed
        endToEnd(w, timed.toSeq, Stats.median(setups), liveHeapMb, lines)
      } else {
        val t = new TracedRun(ctx, w)
        while (more(t.rounds == 0)) timedIteration(ops ++= t.round())
        tracer.write(new File(work, s"traces/$workload-seed$seed.jsonl"))
        t.metrics(lines)
      }
    phase("loop done")
    val probeAfter = HostProbe.run(spark, cores)
    lines ++= w.probes()
    spark.stop()
    Files.delete(runDir)
    phase("stopped")

    val failed = ops.count(_.failures.nonEmpty)
    ops.flatMap(_.failures).distinct.take(20).foreach(f => System.err.println(s"[check] $f"))
    println(s"workload $workload seed $seed cores $cores mode ${if (traced) "traced" else "untraced"}")
    println(f"host_probe_ms before $probeBefore%.1f after $probeAfter%.1f (drift only, never used to normalize)")
    println(f"setup_s ${Stats.median(setups)}%.3f s (median of ${setups.map(s => f"$s%.3f").mkString(", ")})")
    println(f"peak_rss_mb ${HostProbe.peakRssMb()}%.1f MB")
    lines.foreach(println)
    w.report(ops.toSeq).foreach(println)
    val observed = ops.flatMap(_.observed).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    if (observed.getOrElse("last_wins_violations", 0L) > 0)
      println(s"last_wins_violations ${observed("last_wins_violations")} of " +
        s"${observed("sampled_duplicate_keys")} sampled duplicate keys hold an earlier CSV occurrence")
    println(f"failed_op_fraction ${failed.toDouble / ops.size}%.4f ratio ($failed of ${ops.size} ops)")
    val all = metrics ++ (if (traced) Seq(("host.probe_before_ms", probeBefore, "ms"),
      ("host.probe_after_ms", probeAfter, "ms")) else Nil)
    all.foreach { case (n, v, u) => println(f"metric $n $v%.6f $u") }
    val reported = if (traced) all.filter(m => Metrics.benchmarked.exists(_._1 == m._1)) else all
    println(Json.result(failed == 0, ops.size, failed, reported))
  }

  /** The end-to-end metrics of an untraced run (names in `Metrics`). */
  def endToEnd(w: Workload, ops: Seq[Op], setupS: Double, liveHeapMb: Double,
      lines: mutable.ArrayBuffer[String]): Seq[(String, Double, String)] = {
    val ms = ops.map(_.ms)
    val second = ops.flatMap(_.secondMs)
    val rate = ops.map(_.rows).sum / (ms.sum / 1e3)
    lines += f"${w.primaryLabel}_ms_p50 ${Stats.median(ms)}%.3f ms (${ms.size} ops)"
    lines += (Stats.tail(ms) match {
      case Some((p, v, beyond)) => f"${w.primaryLabel}_ms_tail $v%.3f ms (p$p, $beyond samples beyond)"
      case None => s"${w.primaryLabel}_ms_tail n/a ms (${ms.size} samples; a tail needs ${Stats.TailBeyond} beyond it)"
    })
    lines += f"${w.rateName} $rate%.3f 1/s"
    if (second.nonEmpty) lines += f"${w.secondaryLabel}_ms_p50 ${Stats.median(second)}%.3f ms (${second.size} ops)"
    Seq(
      ("setup_s", setupS, "s"),
      ("op_ms_p50", Stats.median(ms), "ms"),
      ("live_heap_mb", liveHeapMb, "MB"))
  }
}

/** Workload volumes (kept small enough that every run fits its budget). */
object Sizes {
  val bulkRows = 15000
  val uiStoredRows = 20000
  val curationBase = 800
  val curationCopies = 3
  val annCorpus = 2000
}

/** A fixed synthetic workload no engine code calls: a range aggregate and
  * a fixed-size shuffle, on RDDs so that the cold run pays no SQL code
  * generation. Timed before and after each run to notice host drift;
  * never used to normalize a metric.
  */
object HostProbe {
  def run(spark: SparkSession, cores: Int): Double = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    sc.range(0L, 5000000L, 1L, cores).map(_ % 7).sum()
    sc.range(0L, 500000L, 1L, cores).map(x => (x % 1009, x)).reduceByKey(_ + _, cores).count()
    (System.nanoTime() - t0) / 1e6
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) return Runtime.getRuntime.totalMemory() / 1048576.0
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

/** Heap the process keeps live: heap in use after a full collection. */
object Heap {
  /** The least of three readings, each after draining the listener bus
    * (its status listeners hold per-query state until they see the end
    * event) and a full collection (whose weak references let Spark's
    * cleaner release broadcast and shuffle state for the next one).
    */
  def liveMb(spark: SparkSession): Double = (1 to 3).map { _ =>
    org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
    System.gc()
    Thread.sleep(200)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ") +
      "}}"
}
