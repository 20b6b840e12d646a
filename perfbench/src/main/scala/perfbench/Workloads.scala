package perfbench

import java.io.File
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Graft, GraftConfig}

/** The benchmark's own record of what the store must hold: every live id
  * with its vector, so each answer can be checked (no deleted or unknown
  * id) and scored against an exact top-10.
  */
final class Model(gen: Gen, prefix: String) {
  private val ids = mutable.ArrayBuffer.empty[String]
  private val pos = mutable.HashMap.empty[String, Int]
  /** Live vectors by the engine's id hash. */
  val live = mutable.HashMap.empty[Long, Array[Float]]
  private var minted = 0L
  /** User payload bytes admitted so far: id bytes, plus 4 B per vector
    * element for rows that carry a vector.
    */
  var payloadBytes = 0L

  def liveCount: Int = ids.length

  /** Live payload bytes: what the store must keep at minimum. */
  def liveBytes: Long =
    ids.iterator.map(id => id.getBytes(StandardCharsets.UTF_8).length + 4L * gen.dim).sum

  /** A batch of distinct ids: `nNew` fresh rows, `nOver` overwrites of
    * live ids, `nDel` deletes of live ids (null vector, deleted = true).
    * The model changes only when [[applied]] is called, after the store
    * admitted the batch.
    */
  def batch(nNew: Int, nOver: Int, nDel: Int): Seq[(String, Array[Float], Boolean)] = {
    val taken = mutable.HashSet.empty[String]
    def pickLive(): String = {
      var id = ids(gen.nextInt(ids.length))
      while (taken(id)) id = ids(gen.nextInt(ids.length))
      taken += id
      id
    }
    val fresh = Seq.fill(nNew) { minted += 1; (s"$prefix-$minted", gen.point(), false) }
    val over = Seq.fill(math.min(nOver, ids.length / 2))((pickLive(), gen.point(), false))
    val del = Seq.fill(math.min(nDel, ids.length / 4))((pickLive(), null: Array[Float], true))
    fresh ++ over ++ del
  }

  def applied(rows: Seq[(String, Array[Float], Boolean)]): Unit = rows.foreach {
    case (id, v, deleted) =>
      payloadBytes += id.getBytes(StandardCharsets.UTF_8).length +
        (if (v == null) 0L else 4L * v.length)
      val h = Gen.idHash(id)
      if (deleted) {
        live.remove(h)
        pos.remove(id).foreach { i =>
          val last = ids.remove(ids.length - 1)
          if (last != id) { ids(i) = last; pos(last) = i }
        }
      } else {
        live(h) = v
        if (!pos.contains(id)) { pos(id) = ids.length; ids += id }
      }
  }

  def topK(q: Array[Float]): Set[Long] = Gen.exactTopK(q, live, Bench.K)
}

/** What one run measured. `e2e` holds the end-to-end metrics, `layers`
  * the per-layer ones (filled only by a traced run).
  */
final case class RunResult(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, checks: Seq[String])

/** Shared plumbing of the workloads: the store handle under the
  * shipped config with the benchmark's geometry, batch conversion, the
  * checks, and the metrics every workload reports.
  */
final class Bench(val spark: SparkSession, workDir: File, val seed: Long,
    seconds: Int, val trace: Boolean, val att: Attribution) {
  import Bench._

  val cfg: GraftConfig = {
    val c = GraftConfig.load("configs/graft-default.yaml")
    c.copy(collection = c.collection.copy(dim = Dim),
      delta = c.delta.copy(nlist = NList),
      stable = c.stable.copy(pqM = PqM))
  }
  val gen = new Gen(seed, Dim, Clusters)
  val model = new Model(gen, s"s$seed")
  val rec = new Recorder(spark.sparkContext, trace)
  val failures = mutable.ArrayBuffer.empty[String]
  private var stores = 0

  /** A fresh store directory for one set-up. */
  def newStoreDir(): String = {
    stores += 1
    new File(workDir, s"store$stores").getAbsolutePath
  }

  def df(rows: Seq[(String, Array[Float], Boolean)]): DataFrame = {
    val l = new java.util.ArrayList[Row](rows.size)
    rows.foreach { case (id, v, d) =>
      l.add(Row(id, if (v == null) null else v.iterator.map(_.toDouble).toSeq, d))
    }
    spark.createDataFrame(l, BatchSchema)
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failures += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }

  /** Every returned id must be live, and the answer must be full. */
  def checkAnswer(op: String, ans: Array[(Long, Double)]): Unit = {
    check(ans.length == math.min(K, model.liveCount),
      s"$op returned ${ans.length} results, wanted $K")
    ans.foreach { case (h, _) =>
      check(model.live.contains(h), s"$op returned id_hash $h, which is deleted or unknown")
    }
  }

  def recall(ans: Array[(Long, Double)], truth: Set[Long]): Double =
    ans.count(a => truth(a._1)).toDouble / K

  // ---- timing and state ----------------------------------------------

  /** Time a whole set-up. */
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private var deadline = 0L
  private var measureStart = 0L
  private var measureEnd = 0L
  def startMeasuring(): Unit = {
    measureStart = System.nanoTime()
    deadline = measureStart + seconds * 1000000000L
  }
  def measuring: Boolean = System.nanoTime() < deadline
  def stopMeasuring(): Unit = measureEnd = System.nanoTime()

  /** Run `body` with the measured phase's clock stopped: its time counts
    * neither toward `--seconds` nor toward the measured wall time.
    */
  def paused[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val d = System.nanoTime() - t0
      measureStart += d
      deadline += d
    }
  }
  def measuredSeconds: Double = (measureEnd - measureStart) / 1e9

  /** Driver heap in use after a full collection, in MiB: the least of
    * three collections, so garbage that one collection leaves behind does
    * not count as retained.
    */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    Seq.fill(3) {
      System.gc()
      Thread.sleep(50)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** The `.parquet` data files under the store's segment roots. */
  def segmentFiles(dir: String): Int = {
    val root = new File(dir, "store")
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(root)
  }

  def walBytes(dir: String): Long = treeBytes(new File(dir, "wal"))

  /** Write and space amplification of the store as it stands: task
    * output bytes of every job so far plus the WAL, per byte of user
    * payload admitted; store directory bytes per live payload byte. Each
    * workload takes them at a fixed point of its stream, so the figures
    * do not depend on how many rounds fit in the measured phase.
    */
  def amplification(g: Graft): (Double, Double) = {
    Attribution.drain(spark.sparkContext) // every task's output counted
    ((att.totalOutputBytes + walBytes(g.baseDir)).toDouble / model.payloadBytes,
      treeBytes(new File(g.baseDir)).toDouble / model.liveBytes)
  }

  /** The end-to-end metrics every workload reports. `slowRead` names the
    * op whose median is `slow_read_p50_ms`.
    */
  def e2e(setupS: Double, slowRead: String, items: Long, recallAt10: Double,
      amp: (Double, Double), heapMb: Double): Map[String, Double] =
    Map(
      "setup_s" -> setupS,
      "search_p50_ms" -> Recorder.pctl(rec.of("search"), 50),
      "slow_read_p50_ms" -> Recorder.pctl(rec.of(slowRead), 50),
      "items_per_s" -> items / measuredSeconds,
      "recall_at_10" -> recallAt10,
      "write_amp" -> amp._1,
      "space_amp" -> amp._2,
      "ok_ratio" -> (1.0 - rec.failed.toDouble / math.max(1L, rec.attempted)),
      "retained_heap_mb" -> heapMb)

  /** Per-layer metrics of a traced run: job attribution per (module, op),
    * each op's wall-time median, plus the workload's own counters.
    */
  def layers(extra: Map[String, Double]): Map[String, Double] =
    if (!trace) Map.empty
    else {
      Attribution.drain(spark.sparkContext)
      val (byLayer, unattributed) = Layers.metrics(rec.spans.toSeq, att.jobRecords)
      val perOp = rec.samples.map { case (op, xs) => s"op.$op.p50_ms" -> Recorder.pctl(xs.toSeq, 50) }
      byLayer ++ perOp ++ extra + ("env.unattributed_jobs" -> unattributed.toDouble)
    }

  def result(e2e: Map[String, Double], extra: Map[String, Double]): RunResult =
    RunResult(e2e, layers(extra), rec.attempted, rec.failed, failures.toSeq)
}

object Bench {
  val Dim = 128
  val PqM = 16
  val K = 10
  /** Rows in the serve/mixed corpus, and the layout's list count ~√N. */
  val N = 4000
  val NList = math.round(math.sqrt(N.toDouble)).toInt
  /** Latent clusters: well above nlist, so no list collapses. */
  val Clusters = 8 * NList
  /** The first batch trains the layout; nlist is clamped to rows/4. */
  val FirstBatch = 1000
  /** `search` recall floor; a run below it fails its checks. */
  val RecallFloor = 0.60
  /** `searchPq` recall floor. */
  val PqRecallFloor = 0.60

  val BatchSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = true),
    StructField("deleted", BooleanType, nullable = false)))

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()
}

/** The workloads. Each is a closed loop with one client thread:
  * every facade call waits for its reply before the next is issued.
  */
object Workloads {
  import Bench._

  /** Set-up shared by `serve` and `mixed`: a fresh store holding the
    * seeded corpus, compacted, with the serving index built.
    */
  private def compactedStore(b: Bench, corpus: Seq[(String, Array[Float], Boolean)],
      q: Array[Float]): Graft = {
    val g = Graft.open(b.spark, b.newStoreDir(), b.cfg)
    g.upsert(b.df(corpus.take(FirstBatch)))
    corpus.drop(FirstBatch).grouped(b.cfg.limits.maxUpsertBatch)
      .foreach(part => g.upsert(b.df(part)))
    b.rec.setup("compact")(g.compact())
    g.search(q, K)
    g
  }

  /** `serve`: read only, over a compacted store with a warm PQ tier whose
    * driver-resident level holds about half the coded corpus, so the PQ
    * door serves partly from the driver and partly from the block
    * manager. The stream cycles `search` ×6 then `searchPq` ×1, with a
    * `searchPqBatch` of 20 queries every fourth cycle. The mix is an
    * assumption (see the README); it sets how many calls of each op a run
    * samples and the pooled `items_per_s`, while each latency metric is
    * the median of one op.
    */
  def serve(b: Bench): RunResult = {
    val corpus = b.model.batch(N, 0, 0)
    val queries = IndexedSeq.fill(256)(b.gen.point())
    var g: Graft = null
    val setup = b.timed {
      g = compactedStore(b, corpus, queries(0))
      g.warmPqTier(localBudgetBytes = N.toLong * PqM / 2)
    }
    b.model.applied(corpus)
    val amp = b.amplification(g)
    // recall on fixed queries before the measured phase, which also warms
    // every door's code path: the adaptive nprobe controller has not moved
    // yet, so one seed gives one figure
    val rS = evalRecall(b, g, queries.slice(1, 1 + EvalQueries))
    val pqQueries = queries.slice(1 + EvalQueries, 1 + EvalQueries + EvalPq)
    val rP = pqQueries.map { q =>
      val ans = g.searchPq(q, K)
      b.checkAnswer("search_pq", ans)
      b.recall(ans, b.model.topK(q))
    }.sum / EvalPq
    g.searchPqBatch(queries.slice(1, 1 + BatchQueries), K)
      .foreach(b.checkAnswer("search_pq_batch", _))
    var qi = 1 + EvalQueries + EvalPq
    def nextQ(): Int = { qi += 1; qi % queries.length }
    var items = 0L
    var step = 0L
    b.startMeasuring()
    while (b.measuring) {
      if (step % Cycle < Cycle - 1) {
        val i = nextQ()
        val ans = b.rec.call("search")(g.search(queries(i), K))
        ans.foreach { a => b.checkAnswer("search", a); items += 1 }
      } else {
        val i = nextQ()
        val ans = b.rec.call("search_pq")(g.searchPq(queries(i), K))
        ans.foreach { a => b.checkAnswer("search_pq", a); items += 1 }
        if ((step / Cycle) % 4 == 3) {
          val is = Seq.fill(BatchQueries)(nextQ())
          b.rec.call("search_pq_batch")(g.searchPqBatch(is.map(queries), K))
            .foreach { res =>
              res.foreach(b.checkAnswer("search_pq_batch", _))
              items += res.length
            }
        }
      }
      step += 1
    }
    b.stopMeasuring()
    val heap = b.retainedHeapMb()
    b.check(rS >= RecallFloor, f"search recall@10 $rS%.3f below floor $RecallFloor")
    b.check(rP >= PqRecallFloor, f"searchPq recall@10 $rP%.3f below floor $PqRecallFloor")
    val count = g.liveView.count()
    b.check(count == b.model.liveCount, s"liveView.count() $count != ${b.model.liveCount}")
    val (local, dist, stored) = g.pqDoorRoutes
    val routes = math.max(1L, local + dist + stored)
    val extra = Map(
      "index.search.recall_at_10" -> rS,
      "index.search_pq.recall_at_10" -> rP,
      "index.pq_local_ratio" -> local.toDouble / routes,
      "index.nprobe" -> g.currentNprobe.toDouble)
    val e2e = b.e2e(setup, "search_pq", items, rS, amp, heap)
    g.close()
    b.result(e2e, extra)
  }

  /** `mixed`: read after write over a compacted store. Each round is one
    * small upsert (new ids, overwrites and deleted rows), the first
    * `search` after it — which rebuilds the serving index over the whole
    * store — then a run of steady `search` requests, then `maintain()`.
    */
  def mixed(b: Bench): RunResult = {
    val corpus = b.model.batch(N, 0, 0)
    val queries = IndexedSeq.fill(256)(b.gen.point())
    var g: Graft = null
    val setup = b.timed { g = compactedStore(b, corpus, queries(0)) }
    b.model.applied(corpus)
    var items = 0L
    var files = 0L
    var deltaSum = 0L
    var walRows = 0L
    val wal0 = b.walBytes(g.baseDir)
    val evalQueries = queries.slice(queries.length - EvalQueries, queries.length)
    var amp: (Double, Double) = null
    var r = 0.0
    var qi = 0
    b.startMeasuring()
    while (b.measuring) {
      val rows = b.model.batch(MixedNew, MixedOver, MixedDel)
      val f0 = if (b.trace) b.segmentFiles(g.baseDir) else 0
      val batch = b.df(rows)
      b.rec.call("upsert")(g.upsert(batch)).foreach { _ =>
        b.model.applied(rows); items += rows.length; walRows += rows.length
        if (b.trace) files += b.segmentFiles(g.baseDir) - f0
      }
      if (b.trace) deltaSum += deltaSegments(b, g)
      (0 to MixedSearches).foreach { s =>
        qi = (qi + 1) % queries.length
        val q = queries(qi)
        val ans = b.rec.call(if (s == 0) "search_fresh" else "search")(g.search(q, K))
        ans.foreach { a => b.checkAnswer("search", a); items += 1 }
      }
      b.rec.call("maintain")(g.maintain())
      // the end of the first round is a fixed point of the stream: recall
      // and amplification taken there do not depend on how many rounds
      // fit in the measured phase
      if (amp == null) b.paused {
        amp = b.amplification(g)
        r = evalRecall(b, g, evalQueries)
      }
    }
    b.stopMeasuring()
    val walGrowth = b.walBytes(g.baseDir) - wal0
    val heap = b.retainedHeapMb()
    b.check(r >= RecallFloor, f"search recall@10 $r%.3f below floor $RecallFloor")
    val count = g.liveView.count()
    b.check(count == b.model.liveCount, s"liveView.count() $count != ${b.model.liveCount}")
    val writes = math.max(1, b.rec.of("upsert").length)
    val extra = Map(
      "index.search.recall_at_10" -> r,
      "index.nprobe" -> g.currentNprobe.toDouble,
      "segments.files_per_flush" -> files.toDouble / writes,
      "segments.delta_segments" -> deltaSum.toDouble / writes,
      "streaming.wal_bytes_per_row" -> walGrowth.toDouble / math.max(1L, walRows))
    val e2e = b.e2e(setup, "search_fresh", items, r, amp, heap)
    g.close()
    b.result(e2e, extra)
  }

  /** Mean `search` recall@10 over `qs` against the live set, checking
    * every answer.
    */
  private def evalRecall(b: Bench, g: Graft, qs: Seq[Array[Float]]): Double =
    qs.map { q =>
      val ans = g.search(q, K)
      b.checkAnswer("search", ans)
      b.recall(ans, b.model.topK(q))
    }.sum / qs.length

  private def deltaSegments(b: Bench, g: Graft): Int =
    graft.segments.Segments.catalogDescriptors(b.spark, g.baseDir).count(!_.is_stable)

  val EvalQueries = 50
  val EvalPq = 5
  val Cycle = 7
  val BatchQueries = 20
  val MixedNew = 90
  val MixedOver = 180
  val MixedDel = 30
  /** Steady searches a round, after the first search. */
  val MixedSearches = 12

  val all: Map[String, Bench => RunResult] =
    Map("serve" -> serve, "mixed" -> mixed)
}
