package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final case class Ctx(
    spark: SparkSession,
    tracer: Tracer,
    seed: Long,
    dataDir: String,
    workDir: String,
    cores: Int)

/** Outcome of one timed phase of a workload.
  *
  * `ops` holds the latency of every foreground operation that
  * completed AND passed its check; failed operations and failed checks
  * are only counted (`failed`), never sampled. */
final class Phase {
  val ops = new Samples
  var attempted = 0L
  var failed = 0L
  /** Units of work completed in the timed region (client ops or cells
    * committed) and the wall seconds that region took. */
  var units = 0.0
  var wallS = 0.0
  /** Wall seconds of each repetition of the workload's whole-table step. */
  val bulkS = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** Named counts the workload measures from outside (file censuses). */
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val notes = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Run one checked operation: a thrown op or a false check counts as
    * a failure and records no sample. */
  def attempt(op: => Double, check: => Boolean, what: => String): Unit = {
    attempted += 1
    try {
      val ms = op
      if (check) ops.add(ms)
      else { failed += 1; note(s"$what failed its check") }
    } catch {
      case e: Exception =>
        failed += 1
        note(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** A check outside any timed operation. */
  def check(ok: => Boolean, what: => String): Unit = {
    attempted += 1
    val good = try ok catch {
      case e: Exception =>
        note(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"); false
    }
    if (!good) { failed += 1; note(s"$what failed") }
  }

  def note(s: String): Unit = if (notes.size < 20) notes += s.take(300)

  def add(count: String, v: Double): Unit =
    counts(count) = counts.getOrElse(count, 0.0) + v
}

trait Workload {
  /** Build the workload's tables from the generated inputs (timed as
    * set-up; may run more than once, each time from scratch). */
  def build(rep: Int): Unit
  /** Untimed warm pass (JIT, codegen, file listing, fixtures). */
  def warm(): Unit
  /** One timed phase of about `seconds` seconds. */
  def measure(seconds: Double): Phase
  /** Extra result fields: input sizes and workload facts. */
  def facts: Map[String, String] = Map.empty
}
