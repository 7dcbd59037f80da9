package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload is run with. */
final case class Ctx(spark: SparkSession, seed: Long, work: Path,
    sfDir: Option[String], bank: Path)

/** The samples of one measured phase. */
final class Phase {
  var attempted = 0L
  var failed = 0L
  val latencies: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty[Double]
  /** Work units completed (documents, rows or query executions). */
  var units = 0.0
  /** Seconds spent inside timed operations. */
  var busy = 0.0
  /** Failed output checks and failed operations, in order. */
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]
  /** Extra per-workload samples reported beside the metrics. */
  val extra: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Time one operation worth `units`. A failed operation adds no latency
    * sample; it counts as failed and beyond the tail.
    * @param latency whether the operation is a latency sample (the daily
    *   snapshot apply counts toward throughput only)
    * @return the operation's result, None if it failed
    */
  def op[T](units: Double, label: String, latency: Boolean = true)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      if (latency) latencies += dt
      busy += dt
      this.units += units
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        problems += s"$label failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  def sample(key: String, v: Double): Unit =
    extra.getOrElseUpdate(key, mutable.ArrayBuffer.empty[Double]) += v
}

/** One benchmark workload: set up once, then iterate. */
trait Workload {
  /** What one iteration counts for against the run's `--seconds`: a run
    * measures `ceil(seconds / nominalSeconds)` whole iterations, so every
    * run measures the same mix of operations whatever the machine's speed.
    */
  def nominalSeconds: Double
  /** Untimed by the caller; part of `setup_s`. */
  def setup(): Unit
  /** One iteration (a pass, a day or a round), timing each operation and
    * checking its outputs.
    */
  def iterate(p: Phase, tr: Tracer): Unit
  def close(): Unit = ()
}
