package graftbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One recorded op: its kind, the phase it ran in (`setup`, `loop` or
  * `epilogue`), wall time, whether its output checked out, the rows it
  * returned or committed and, in the traced run, its per-layer trace. */
final case class Op(kind: String, phase: String, ms: Double, ok: Boolean,
    rows: Long, trace: Option[OpTrace])

/**
 * Closed-loop, single-client op runner. Each op clears Spark's cache, then
 * times the graft call plus materialising its result; the output check runs
 * after the clock stops. Ops of the `warmup` phase are not recorded; only
 * `loop` ops make the end-to-end metrics.
 */
final class Runner(val spark: SparkSession, val tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Live dirs of the table at each loop lookup, read outside the clock. */
  val liveDirs = mutable.ArrayBuffer.empty[Double]
  private var phase = "warmup"
  private def measuring = phase != "warmup"

  def enter(p: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    warn(f"$phase done, entering $p at ${up / 1e3}%.1f s")
    phase = p
  }

  def sampleLiveDirs(n: => Int): Unit = if (phase == "loop") liveDirs += n.toDouble

  private def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) if measuring => t.span(name)(body)
    case _ => body
  }

  /** A call into `graft.sources` (the catalog), until it returns. */
  def call[T](body: => T): T = span("sources.call")(body)

  /** A call into `graft.operators` that builds a query. */
  def build[T](body: => T): T = span("operators.call")(body)

  /** Materialising a result: the Spark action that runs the plan. */
  def action[T](body: => T): T = span("exec.action")(body)

  /** Runs one op. `body` returns the number of rows the op produced and a
    * check of its output against the expected answer. */
  def op(kind: String)(body: => (Long, () => Boolean)): Unit = {
    spark.catalog.clearCache()
    val tr = if (measuring) tracer else None
    val mark = tr.map(_.begin())
    val t0 = System.nanoTime()
    val out = Try(body)
    val ms = (System.nanoTime() - t0) / 1e6
    val trace = tr.map(_.end(ops.size, mark.get))
    val (rows, ok) = out match {
      case Success((n, check)) =>
        val ok = Try(check()) match {
          case Success(v) => v
          case Failure(e) => warn(s"$kind check failed: $e"); false
        }
        if (!ok) warn(s"$kind returned a wrong answer")
        (n, ok)
      case Failure(e) => warn(s"$kind failed: $e"); (0L, false)
    }
    if (measuring) ops += Op(kind, phase, ms, ok, rows, trace)
  }

  def warn(msg: String): Unit = System.err.println(s"[graftbench] $msg")
}
