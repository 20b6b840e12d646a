package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, GraftConfig}

class AttributionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a frame maps to its engine package; the facade is module graft") {
    assert(Modules.moduleOfFrame("graft.segments.Segments$.writeSegment") == "segments")
    assert(Modules.moduleOfFrame("graft.index.ServingIndex.$anonfun$search$2") == "index")
    assert(Modules.moduleOfFrame("graft.Graft.upsert") == "graft")
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:100)",
      "app//graft.operators.Lww$.latestBy(Lww.scala:10)",
      "graft.Graft.liveView(Graft.scala:20)",
      "perfbench.Main$.main(Main.scala:1)").mkString("\n")
    assert(Modules.frameOf(site).contains("graft.operators.Lww$.latestBy"))
    assert(Modules.moduleOf(site).contains("operators"))
    assert(Modules.moduleOf("perfbench.Main$.main(Main.scala:1)").isEmpty)
  }

  test("facade jobs attribute to segments, index and ingest") {
    val sc = spark.sparkContext
    val att = new Attribution(attribute = true)
    sc.addSparkListener(att)
    val c = GraftConfig.default
    val cfg = c.copy(collection = c.collection.copy(dim = 8),
      delta = c.delta.copy(nlist = 4))
    val dir = Files.createTempDirectory("perfbench-attr").toString
    val gen = new Gen(1L, 8, 16)
    val rows = new java.util.ArrayList[Row]()
    (0 until 200).foreach(i =>
      rows.add(Row(s"a$i", gen.point().map(_.toDouble).toSeq, false)))
    val batch = spark.createDataFrame(rows, Bench.BatchSchema)
    val g = Graft.open(spark, dir, cfg)
    try {
      sc.setLocalProperty(Attribution.SpanProperty, "1")
      g.upsert(batch)
      sc.setLocalProperty(Attribution.SpanProperty, "2")
      assert(g.search(gen.point(), 5).length == 5)
      sc.setLocalProperty(Attribution.SpanProperty, null)
    } finally {
      g.close()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    Attribution.drain(sc)
    val jobs = att.jobRecords.filter(_.span >= 0)
    def framed(span: Long, frag: String) =
      jobs.filter(j => j.span == span && j.frame.exists(_.contains(frag)))

    val writes = framed(1, "Segments$.writeSegment")
    assert(writes.nonEmpty && writes.forall(_.module.contains("segments")))
    val serving = framed(2, "ServingIndex")
    assert(serving.nonEmpty && serving.forall(_.module.contains("index")))
    val guard = framed(1, "IngestGuard$.validateBatch")
    assert(guard.nonEmpty && guard.forall(_.module.contains("ingest")))
    assert(guard.exists(_.viaSql),
      "validateBatch's asynchronous SQL job should attribute through its execution id")
    assert(jobs.forall(_.module.isDefined),
      s"unattributed: ${jobs.filter(_.module.isEmpty).map(_.jobId)}")
    val (layers, unattributed) = Layers.metrics(
      Seq(Span(1, "upsert", 0L, Long.MaxValue), Span(2, "search", 0L, Long.MaxValue)),
      jobs)
    assert(unattributed == 0)
    assert(layers("segments.upsert.jobs") >= 1.0)
    assert(layers("index.search.jobs") >= 1.0)
  }
}
