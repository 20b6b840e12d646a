package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Runs one workload against the `graft.Graft` facade and prints its
  * metrics. Invoked by `perfbench/run.py`, from the repository root:
  *
  * {{{
  * perfbench.Main --workload serve|mixed --seed N --seconds S
  *   --trace 0|1 --work-dir DIR
  * }}}
  *
  * The last stdout line is `PERFBENCH {json}` with the run's metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val run = Workloads.all.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val workDir = new File(opt("work-dir"))
    workDir.mkdirs()

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(workDir, "spark").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val att = new Attribution(attribute = trace)
    sc.addSparkListener(att)
    try {
      val before = Env.probe(sc)
      val b = new Bench(spark, workDir, seed, seconds, trace, att)
      val r = run(b)
      val after = Env.probe(sc)
      System.err.println(f"[perfbench] env before: job floor ${before._1}%.2f ms, " +
        f"cpu loop ${before._2}%.1f ms; after: job floor ${after._1}%.2f ms, " +
        f"cpu loop ${after._2}%.1f ms")
      val env = Map(
        "env.job_floor_ms" -> (before._1 + after._1) / 2,
        "env.cpu_loop_ms" -> (before._2 + after._2) / 2)
      // a traced run also reports its end-to-end figures, prefixed, so
      // the tracing overhead reads as traced minus untraced
      val metrics =
        if (trace) r.layers ++ env ++ r.e2e.map { case (k, v) => s"traced.$k" -> v }
        else r.e2e
      println("PERFBENCH " + Json.obj(Seq(
        "correct" -> Json.bool(r.checks.isEmpty),
        "attempted" -> r.attempted.toString,
        "failed" -> r.failed.toString,
        "checks" -> Json.arr(r.checks.map(Json.str)),
        "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) }))))
    } finally spark.stop()
  }
}

/** Box weather beside each result: the scheduler's floor (a one-task
  * empty job) and a fixed CPU loop, each the median of a few tries.
  */
object Env {
  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  def probe(sc: org.apache.spark.SparkContext): (Double, Double) = {
    val floor = median(Seq.fill(5) {
      val t0 = System.nanoTime()
      sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t0) / 1e6
    })
    val cpu = median(Seq.fill(3) {
      val t0 = System.nanoTime()
      var x = 1L
      var i = 0
      while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      sink = x
      (System.nanoTime() - t0) / 1e6
    })
    (floor, cpu)
  }

  // keeps the CPU loop's result live
  @volatile private var sink = 0L
}

/** Just enough JSON writing for the result line. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN) "null"
    else if (d.isInfinite) (if (d > 0) "1e300" else "-1e300")
    else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
