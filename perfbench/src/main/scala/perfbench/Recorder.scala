package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext

/** Wraps every facade call of a measured phase: times it, counts it as
  * attempted, and counts an exception or a refusal as a failed op. A
  * failed call enters the latency samples as +Inf, so it misses every
  * percentile instead of being timed as a success. With tracing on, the
  * call runs under a span id that the [[Attribution]] listener reads
  * from each job's properties.
  */
final class Recorder(sc: SparkContext, trace: Boolean) {
  private val nextSpan = new AtomicLong(0L)
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val spans = mutable.ArrayBuffer.empty[Span]
  var attempted = 0L
  var failed = 0L

  /** A set-up call: traced like a measured one, but neither timed into
    * the samples nor counted as attempted; a failure fails the run.
    */
  def setup[T](op: String)(body: => T): T = {
    val id = nextSpan.getAndIncrement()
    if (trace) sc.setLocalProperty(Attribution.SpanProperty, id.toString)
    val w0 = System.currentTimeMillis()
    try body
    finally {
      if (trace) {
        sc.setLocalProperty(Attribution.SpanProperty, null)
        spans += Span(id, op, w0, System.currentTimeMillis())
      }
    }
  }

  def call[T](op: String)(body: => T): Option[T] = {
    val id = nextSpan.getAndIncrement()
    if (trace) sc.setLocalProperty(Attribution.SpanProperty, id.toString)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    attempted += 1
    val out =
      try Some(body)
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] $op failed (${Recorder.kind(e)}): " +
            s"${e.getClass.getName}: ${e.getMessage}")
          None
      } finally {
        if (trace) sc.setLocalProperty(Attribution.SpanProperty, null)
      }
    val ms = (System.nanoTime() - t0) / 1e6
    samples.getOrElseUpdate(op, mutable.ArrayBuffer.empty) +=
      (if (out.isDefined) ms else Double.PositiveInfinity)
    if (trace) spans += Span(id, op, w0, System.currentTimeMillis())
    out
  }

  def of(op: String): Seq[Double] = samples.getOrElse(op, Nil).toSeq
}

object Recorder {
  /** A refusal is the engine declining a request by policy (deadline,
    * WAL or lease capacity, admission limits); anything else is an error.
    * Both count as failed ops.
    */
  def kind(e: Throwable): String = e match {
    case _: graft.index.ServingDeadlineExceeded => "refusal"
    case _: graft.streaming.Wal.WalAtCapacity => "refusal"
    case _: graft.segments.Segments.CatalogLeaseHeld => "refusal"
    case _: graft.ingest.IngestRejected => "refusal"
    case _ => "error"
  }

  /** Nearest-rank percentile over sorted samples (+Inf for failures). */
  def pctl(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
}
