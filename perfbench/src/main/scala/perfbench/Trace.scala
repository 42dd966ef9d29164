package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side counters of one span (or of the whole run). */
final class Counters {
  var jobs, stages, tasks, shuffleBytes, recordsRead = 0L
  var runMs, cpuMs, gcMs, planningMs = 0.0
  def copy(): Counters = {
    val c = new Counters
    c.jobs = jobs; c.stages = stages; c.tasks = tasks; c.shuffleBytes = shuffleBytes
    c.recordsRead = recordsRead; c.runMs = runMs; c.cpuMs = cpuMs; c.gcMs = gcMs
    c.planningMs = planningMs; c
  }
  def minus(o: Counters): Counters = {
    val c = copy()
    c.jobs -= o.jobs; c.stages -= o.stages; c.tasks -= o.tasks
    c.shuffleBytes -= o.shuffleBytes; c.recordsRead -= o.recordsRead
    c.runMs -= o.runMs; c.cpuMs -= o.cpuMs; c.gcMs -= o.gcMs
    c.planningMs -= o.planningMs; c
  }
}

/** One timed region of benchmark code around a call into a layer.
  * `kind` is `construct` (the public call itself), `exec` (forcing that
  * layer's output) or `op` (one whole end-to-end action).
  */
final class Span(val id: Long, val layer: String, val kind: String, val parent: Long,
    val request: Long) {
  @volatile var startNs = 0L
  @volatile var endNs = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** The traced mode: spans kept in memory, jobs tagged per span with
  * `setJobGroup` from benchmark code, and a `SparkListener` plus a
  * `QueryExecutionListener` counting jobs, stages, tasks, executor
  * CPU/GC, shuffle bytes, input records and planning time per span.
  * With `on = false` spans run their body untouched and the listeners
  * ignore events — the untraced side of the overhead comparison.
  */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  @volatile var request = 0L
  private val sc = spark.sparkContext
  private var nextId = 0L
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private val bySpan = mutable.HashMap[Long, Counters]()
  private val stageSpan = mutable.HashMap[Int, Long]()
  val total = new Counters

  private def counters(span: Long): Counters = bySpan.getOrElseUpdate(span, new Counters)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = g.filter(_.startsWith("pb-")).map(_.drop(3).toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageSpan(s) = span)
      counters(span).jobs += 1; total.jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) Tracer.this.synchronized {
      counters(stageSpan.getOrElse(e.stageInfo.stageId, -1L)).stages += 1; total.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) Tracer.this.synchronized {
      val m = e.taskMetrics
      Seq(counters(stageSpan.getOrElse(e.stageId, -1L)), total).foreach { c =>
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1e6
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private object Queries extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) Tracer.this.synchronized {
        total.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Queries)
  }

  /** Wait until every posted listener event has been delivered. */
  def flush(): Unit = org.apache.spark.GraftListenerBridge.flushListeners(sc)

  def snapshot(): Counters = { flush(); synchronized(total.copy()) }

  def span[T](layer: String, kind: String)(body: => T): T = {
    if (!on) return body
    val parent = stack.get()
    val s = synchronized {
      nextId += 1
      val sp = new Span(nextId, layer, kind, parent.headOption.map(_.id).getOrElse(0L), request)
      spans += sp; sp
    }
    sc.setJobGroup(s"pb-${s.id}", s"$layer.$kind", interruptOnCancel = false)
    stack.set(s :: parent)
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.set(parent)
      parent.headOption match {
        case Some(p) => sc.setJobGroup(s"pb-${p.id}", s"${p.layer}.${p.kind}", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Span id -> duration minus the durations of its direct children. */
  def selfMs(all: Seq[Span]): Map[Long, Double] = {
    val children = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.map(s => s.id -> (s.ms - children.getOrElse(s.id, 0.0))).toMap
  }

  def countersOf(ids: Iterable[Long]): Counters = synchronized {
    val c = new Counters
    ids.flatMap(bySpan.get).foreach { x =>
      c.jobs += x.jobs; c.stages += x.stages; c.tasks += x.tasks
      c.shuffleBytes += x.shuffleBytes; c.recordsRead += x.recordsRead
      c.runMs += x.runMs; c.cpuMs += x.cpuMs; c.gcMs += x.gcMs
    }
    c
  }

  def unattributed: Counters = countersOf(Seq(-1L))

  /** The spans as JSON lines, written once when the run ends. */
  def write(f: File): Unit = {
    val all = allSpans
    val self = selfMs(all)
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    Gen.writeText(f, all.iterator.map { s =>
      val c = countersOf(Seq(s.id))
      f"""{"id":${s.id},"layer":"${s.layer}","kind":"${s.kind}","parent":${s.parent},""" +
        f""""request":${s.request},"start_ms":${(s.startNs - t0) / 1e6}%.3f,""" +
        f""""end_ms":${(s.endNs - t0) / 1e6}%.3f,"self_ms":${self(s.id)}%.3f,""" +
        f""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        f""""cpu_ms":${c.cpuMs}%.3f,"records_read":${c.recordsRead}}"""
    })
  }
}
