package perfbench

import java.io.File
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Outcome of one end-to-end operation. `ms` is the primary operation's
  * wall time, `secondMs` the workload's secondary operation (export,
  * validate, shard export, index write), `rows` the items the primary
  * operation processed. `failures` names every check that did not hold;
  * `observed` counts known-defect sightings that are reported, not failed.
  */
final case class Op(ms: Double, rows: Long, secondMs: Option[Double], failures: Seq[String],
    observed: Map[String, Long] = Map.empty)

/** A benchmark workload: one closed loop with one client. */
trait Workload {
  def name: String
  /** Report names of the primary and secondary operation (`<label>_ms_p50`,
    * `<label>_ms_tail`) and of the primary throughput.
    */
  def primaryLabel: String
  def secondaryLabel: String
  def rateName: String
  /** Whether the secondary operation runs inside the primary one's timing. */
  def secondaryNested: Boolean = false
  /** Set-ups per untraced run; `setup_s` is their median. */
  def setups: Int = 3
  /** Build inputs, stored tables and indexes under `dir`; everything here
    * counts in `setup_s`, never in a timed metric.
    */
  def setup(dir: File): Unit
  /** One composed end-to-end operation (timed), then its checks (not
    * timed). Operation 0 is the untimed warm-up.
    */
  def op(i: Int): Op
  /** The same operation staged layer by layer under the tracer: every
    * public module call in a `construct` span and the forcing of its
    * output in an `exec` span. Returns layer-specific ratios.
    */
  def staged(i: Int, t: Tracer): Map[String, Double]
  /** Known-defect probes run once after the loop; one report line each. */
  def probes(): Seq[String] = Nil
  /** Extra lines for the human-readable report. */
  def report(ops: Seq[Op]): Seq[String] = Nil
}

/** Shared run context. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int, val tracer: Tracer) {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e6)
  }

  /** Counter deltas and wall times of the end-to-end regions timed with
    * [[measure]] while the tracer is on (the `spark` layer's input).
    */
  val measured: scala.collection.mutable.ArrayBuffer[(Counters, Double)] =
    scala.collection.mutable.ArrayBuffer()

  /** [[time]] for an end-to-end action: under the tracer it also records
    * the action's Spark counters, snapshotted outside the timed region.
    */
  def measure[T](body: => T): (T, Double) = {
    val before = if (tracer.on) Some(tracer.snapshot()) else None
    val out = time(body)
    before.foreach(b => measured += ((tracer.snapshot().minus(b), out._2)))
    out
  }

  /** One step of an operation whose throw is a failed check, not the end
    * of the run: the operation goes on and its other checks still run.
    */
  def attempt[T](what: String)(body: => T): Either[String, T] =
    try Right(body) catch {
      case NonFatal(e) =>
        val msg = Option(e.getMessage).map(_.linesIterator.next().take(200)).getOrElse("")
        Left(s"$what threw ${e.getClass.getSimpleName}: $msg")
    }

  /** Force a frame and cut its lineage (the staged hand-off between layers). */
  def force(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def copyDir(src: File, dst: File): Unit = {
    delete(dst)
    dst.mkdirs()
    Option(src.listFiles()).foreach(_.sortBy(_.getName).foreach { f =>
      val t = new File(dst, f.getName)
      if (f.isDirectory) copyDir(f, t)
      else java.nio.file.Files.copy(f.toPath, t.toPath)
    })
  }
}
