package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{DocGen, ExtractJob}

/** The listener attributes jobs of a real library call, including jobs that
  * adaptive execution submits from pool threads. */
class TracerSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("jobs of ExtractJob.run are attributed to graft layers") {
    import spark.implicits._
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer.listener)
    try {
      val dir = Files.createTempDirectory(
        Files.createDirectories(Paths.get("target")), "perfbench-tracer").toString
      val docs = spark.createDataset((0L until 200L).map(DocGen.docFor))
      tracer.call("ExtractJob.run") {
        ExtractJob.run(spark, docs, dir, "r", native = true)
      }
      tracer.call("probe", Some("plans")) {
        docs.toDF().join(docs.toDF(), "doc_id").write.format("noop").mode("overwrite").save()
      }
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val jobs = tracer.jobSpans
      val calls = tracer.callSpans
      val run = jobs.filter(_.callId == calls.head.id)
      val probe = jobs.filter(_.callId == calls(1).id)
      assert(run.nonEmpty && probe.nonEmpty)
      assert(run.map(_.layer).toSet.subsetOf(Set("pipeline", "manifest")), run.map(_.layer))
      assert(run.exists(_.layer == "pipeline"))
      assert(probe.forall(_.layer == "plans"))
      assert(LayerReport.attributedFrac(jobs) == 1.0)
      assert(run.map(_.tasks).sum > 0)
    } finally spark.sparkContext.removeSparkListener(tracer.listener)
  }

  test("a job outside the library with no layer named is unattributed") {
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer.listener)
    try {
      tracer.call("bare")(spark.range(100).count())
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val jobs = tracer.jobSpans
      assert(jobs.nonEmpty && jobs.forall(_.layer == Layers.Unattributed))
      assert(LayerReport.attributedFrac(jobs) == 0.0)
    } finally spark.sparkContext.removeSparkListener(tracer.listener)
  }

  test("a job from a graft file outside the reported layers is not attributed") {
    def job(id: Int, site: String): JobSpan = {
      val layer = Layers.innermostFrame(site).fold(Layers.Unattributed)(_._1)
      JobSpan(id, 0, layer, site, onPar = false, 0L, 1L, 1L, 1L, 0L, 0L, 0L)
    }
    val jobs = Seq(
      job(0, "graft.ExtractJob$.runGated(pipeline.scala:145)"),
      job(1, "graft.Sources$.load(sources.scala:10)"),
      job(2, "graft.Par$.$anonfun$par$1(util.scala:33)"),
      job(3, "perfbench.Workloads$.extract(Workloads.scala:120)"))
    assert(jobs.map(_.layer) == Seq("pipeline", "graft", "util", Layers.Unattributed))
    assert(LayerReport.attributedFrac(jobs) == 0.25)
  }
}
