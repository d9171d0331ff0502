package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {

  private def stack(frames: String*): String = frames.mkString("\n")

  private def layer(stack: String): Option[String] = Layers.innermostFrame(stack).map(_._1)

  test("a frame line parses to class and file") {
    assert(Layers.parseFrame("graft.ExtractJob$.runGated(pipeline.scala:145)") ==
      Some("graft.ExtractJob$" -> "pipeline.scala"))
    assert(Layers.parseFrame("  at app//graft.Par$.$anonfun$par2$1(util.scala:41)") ==
      Some("graft.Par$" -> "util.scala"))
    assert(Layers.parseFrame("java.base/java.lang.Thread.run(Thread.java:840)") ==
      Some("java.lang.Thread" -> "Thread.java"))
    assert(Layers.parseFrame("<unknown>").isEmpty)
  }

  test("each library module maps to its layer") {
    val cases = Seq(
      "graft.plans.ExtractExpression.eval(ExtractExpression.scala:10)" -> "plans",
      "graft.plans.GraftFunctions$.extractColumnar(GraftExtensions.scala:45)" -> "plans",
      "graft.Classify$.extractDoc(classify.scala:20)" -> "classify",
      "graft.ExtractJob$.runGated(pipeline.scala:145)" -> "pipeline",
      "graft.ExtractJob$.$anonfun$runGated$3(pipeline.scala:171)" -> "pipeline",
      "graft.Manifest$.fileIdStats(manifest.scala:150)" -> "manifest",
      "graft.Manifest.readData(manifest.scala:300)" -> "manifest",
      "graft.ops.Dedup$.mat(dedup.scala:99)" -> "ops.dedup",
      "graft.ops.Dedup$$anonfun$1.apply(dedup.scala:99)" -> "ops.dedup",
      "graft.ops.Lm$.trainBigramLm(lm.scala:40)" -> "ops",
      "graft.streaming.EventStream$.admissionOutcome(EventStream.scala:700)" -> "streaming",
      "graft.CorpusMain$StageStore.apply(CorpusMain.scala:120)" -> "CorpusMain",
      "graft.CorpusPrep$.langGateEn(CorpusMain.scala:70)" -> "CorpusMain",
      "graft.IncrementalCorpus$.packIncrements(IncrementalCorpus.scala:140)" -> "IncrementalCorpus",
      "graft.Par$.$anonfun$par$1(util.scala:33)" -> "util")
    cases.foreach { case (frame, want) =>
      assert(layer(frame) == Some(want), frame)
    }
  }

  test("the innermost graft frame decides, past Spark and Scala frames") {
    val s = stack(
      "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1500)",
      "graft.ops.Dedup$.mat(dedup.scala:99)",
      "graft.streaming.EventStream$.admissionOutcome(EventStream.scala:700)",
      "graft.IncrementalCorpus$.admitIncrement(IncrementalCorpus.scala:107)",
      "perfbench.Workloads$.increment(Workloads.scala:200)")
    assert(layer(s) == Some("ops.dedup"))
  }

  test("a stack without graft frames has no layer") {
    val s = stack(
      "org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:200)",
      "perfbench.Workloads$.extract(Workloads.scala:120)",
      "java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)")
    assert(layer(s).isEmpty)
    assert(layer("").isEmpty)
  }

  test("jobs run on a Par lane belong to the layer that opened the lane") {
    // as Spark records a lane of ExtractJob.runGated: the caller's closure
    // runs straight from the Future, with no graft.Par frame
    val s = stack(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
      "graft.ExtractJob$.scanStats(pipeline.scala:347)",
      "graft.ExtractJob$.$anonfun$runGated$3(pipeline.scala:171)",
      "scala.concurrent.Future$.$anonfun$apply$1(Future.scala:691)",
      "java.base/java.lang.Thread.run(Thread.java:840)")
    assert(layer(s) == Some("pipeline"))
    assert(Layers.innermostFrame(s).map(_._2) ==
      Some("graft.ExtractJob$.scanStats(pipeline.scala:347)"))
    assert(Layers.onParLane(s))
    assert(Layers.onParLane("graft.Par$.$anonfun$par2$1(util.scala:41)"))
    assert(!Layers.onParLane(stack(
      "graft.ExtractJob$.writeMetrics(pipeline.scala:363)",
      "graft.ExtractJob$.runGated(pipeline.scala:193)")))
  }
}
