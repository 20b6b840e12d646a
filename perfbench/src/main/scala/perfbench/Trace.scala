package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Maps a Spark call site to the engine module that issued the job: the
  * innermost `graft.*` frame wins. `graft.<pkg>.X` frames belong to
  * module `<pkg>` (index, segments, ingest, streaming, operators, ...);
  * classes directly in package `graft` (the facade, `Graft.scala`)
  * belong to module `graft`.
  */
object Modules {
  private val Frame = """(?:^|[\s/])(graft\.[A-Za-z0-9_$.]+)\(""".r

  def moduleOfFrame(qualifiedMethod: String): String = {
    val parts = qualifiedMethod.split('.')
    if (parts.length >= 4 && parts(1).headOption.exists(_.isLower)) parts(1)
    else "graft"
  }

  /** Module of the innermost `graft.*` frame of a long-form call site
    * (one stack frame a line, innermost first), if any.
    */
  def moduleOf(callSite: String): Option[String] =
    frameOf(callSite).map(moduleOfFrame)

  /** The innermost `graft.*` frame's qualified method name. */
  def frameOf(callSite: String): Option[String] =
    if (callSite == null) None
    else callSite.linesIterator
      .flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1)))
      .nextOption()
}

/** One job as the listener saw it. Times are the scheduler's wall clock. */
final class JobRec(val jobId: Int, val span: Long, val frame: Option[String],
    val viaSql: Boolean, val startMs: Long) {
  def module: Option[String] = frame.map(Modules.moduleOfFrame)
  @volatile var endMs: Long = -1L
  @volatile var tasks: Int = 0
  @volatile var inputBytes: Long = 0L
  @volatile var shuffleBytes: Long = 0L
  @volatile var outputBytes: Long = 0L
}

/** Attributes every Spark job to an engine module and to the benchmark
  * span (one facade call) that caused it.
  *
  * The module comes from the innermost `graft.*` frame in the job's
  * stage call sites. Jobs that Spark SQL submits from its own threads
  * (broadcast builds, adaptive query stages) carry no engine frame; for
  * those the module comes from the call site recorded by the SQL
  * execution the job belongs to, found through the
  * `spark.sql.execution.id` job property. The span comes from the
  * [[Attribution.SpanProperty]] local property, which Spark copies into
  * every job the calling thread (or a thread it spawned) submits.
  *
  * With `attribute` off (the untraced runs) it only sums task output
  * bytes, for write amplification.
  */
final class Attribution(attribute: Boolean) extends SparkListener {
  private val sqlFrame = new ConcurrentHashMap[Long, Option[String]]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  // output bytes of every task, spanned or not (write amplification)
  @volatile var totalOutputBytes: Long = 0L

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if attribute =>
      sqlFrame.put(s.executionId, Modules.frameOf(s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (attribute) {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Attribution.SpanProperty)))
      .map(_.toLong).getOrElse(-1L)
    // the result stage is created last: read call sites newest-first
    val fromStages = e.stageInfos.sortBy(-_.stageId).iterator
      .flatMap(s => Modules.frameOf(s.details)).nextOption()
    val fromSql = if (fromStages.isDefined) None else props
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(sqlFrame.get(id.toLong)).flatten)
    val rec = new JobRec(e.jobId, span, fromStages.orElse(fromSql),
      fromSql.isDefined, e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val out = m.outputMetrics.bytesWritten
      synchronized { totalOutputBytes += out }
      Option(stageJob.get(e.stageId)).foreach { r =>
        r.synchronized {
          r.tasks += 1
          r.inputBytes += m.inputMetrics.bytesRead
          r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          r.outputBytes += out
        }
      }
    }
  }

  /** Every job seen so far, in submission order. */
  def jobRecords: Seq[JobRec] = {
    val out = mutable.ArrayBuffer.empty[JobRec]
    jobs.values().forEach(r => out += r)
    out.sortBy(_.jobId).toSeq
  }
}

object Attribution {
  val SpanProperty = "perfbench.span"

  /** Block until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.PerfbenchBridge.waitForListeners(sc)
}

/** One facade call. */
final case class Span(id: Long, op: String, startMs: Long, endMs: Long)

/** Per-layer aggregation of a traced run: jobs grouped by (module, op),
  * each figure a mean per call of the op, plus each op's self time —
  * its wall time minus the union of its jobs' intervals.
  */
object Layers {
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def metrics(spans: Seq[Span], jobs: Seq[JobRec]): (Map[String, Double], Int) = {
    val bySpan = jobs.filter(_.span >= 0).groupBy(_.span)
    val spanIds = spans.map(_.id).toSet
    val mine = bySpan.filter { case (s, _) => spanIds(s) }
    val unattributed = mine.valuesIterator.flatten.count(_.module.isEmpty)
    val out = mutable.LinkedHashMap.empty[String, Double]
    spans.groupBy(_.op).foreach { case (op, ss) =>
      val calls = ss.length.toDouble
      val self = ss.map { s =>
        val iv = mine.getOrElse(s.id, Nil).map(j =>
          (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
          .filter { case (a, b) => b > a }
        (s.endMs - s.startMs) - unionMs(iv)
      }
      out(s"graft.$op.self_ms") = self.sum / calls
      val opJobs = ss.flatMap(s => mine.getOrElse(s.id, Nil).map(j => (s, j)))
      opJobs.groupBy(_._2.module.getOrElse("unattributed")).foreach {
        case (module, sj) =>
          val busy = sj.groupBy(_._1.id).valuesIterator
            .map(v => unionMs(v.map(p => (p._2.startMs, p._2.endMs)))).sum
          val js = sj.map(_._2)
          val mb = 1024.0 * 1024.0
          out(s"$module.$op.jobs") = js.length / calls
          out(s"$module.$op.busy_ms") = busy / calls
          out(s"$module.$op.tasks") = js.map(_.tasks).sum / calls
          out(s"$module.$op.input_mb") = js.map(_.inputBytes).sum / mb / calls
          out(s"$module.$op.shuffle_mb") = js.map(_.shuffleBytes).sum / mb / calls
          out(s"$module.$op.output_mb") = js.map(_.outputBytes).sum / mb / calls
      }
    }
    (out.toMap, unattributed)
  }
}
