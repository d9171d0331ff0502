package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One call the benchmark makes into the library. `layer` names the layer
  * a probe enters directly; its jobs are launched from benchmark code, so
  * their stacks hold no `graft.*` frame. */
final case class CallSpan(id: Int, name: String, layer: Option[String],
    startMs: Long, endMs: Long)

/** One Spark job, parented to the call span it ran in. `site` is the frame
  * that decided its layer. */
final case class JobSpan(jobId: Int, callId: Int, layer: String, site: String,
    onPar: Boolean, startMs: Long, endMs: Long, tasks: Long, taskMs: Long, gcMs: Long,
    shuffleBytes: Long, outBytes: Long)

/** Records call spans from the benchmark and, when tracing, one span per
  * Spark job with its task counters. A job belongs to the layer of the
  * innermost `graft.*` frame of the SQL execution that launched it; only a
  * job outside any SQL execution uses its own call site, because adaptive
  * execution submits stage jobs from pool threads whose stacks show no
  * caller. Spans stay in memory until the run ends. */
final class Tracer {

  private val calls = ArrayBuffer.empty[CallSpan]

  /** Times `body` as one call span; a failure propagates after the span is
    * closed. */
  def call[A](name: String, layer: Option[String] = None)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val start = System.currentTimeMillis()
    try {
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    } finally synchronized {
      calls += CallSpan(calls.length, name, layer, start, System.currentTimeMillis())
    }
  }

  def callSpans: Seq[CallSpan] = synchronized(calls.toList)

  private final class Acc(val jobId: Int, val startMs: Long,
      val frame: Option[(String, String)], val onPar: Boolean) {
    @volatile var endMs: Long = -1L
    var tasks, taskMs, gcMs, shuffleBytes, outBytes = 0L
  }

  private val execStacks = new ConcurrentHashMap[Long, String]()
  private val jobs = new ConcurrentHashMap[Int, Acc]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()

  val listener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStacks.put(s.executionId, s.details)
      case _ =>
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val execId = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val stack = execId.flatMap(id => Option(execStacks.get(id)))
        .getOrElse(j.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
      jobs.put(j.jobId, new Acc(j.jobId, j.time, Layers.innermostFrame(stack),
        Layers.onParLane(stack)))
      j.stageIds.foreach(s => stageToJob.putIfAbsent(s, j.jobId))
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach(_.endMs = j.time)

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(t.stageId)).flatMap(id => Option(jobs.get(id))).foreach { a =>
        a.synchronized {
          a.tasks += 1
          if (t.taskInfo != null) a.taskMs += t.taskInfo.duration
          val m = t.taskMetrics
          if (m != null) {
            a.gcMs += m.jvmGCTime
            a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            a.outBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  /** Job spans inside call spans, each resolved to its layer. Call after
    * the listener bus has drained. */
  def jobSpans: Seq[JobSpan] = {
    val cs = callSpans
    jobs.values().asScala.toSeq.sortBy(_.jobId).flatMap { a =>
      cs.find(c => a.startMs >= c.startMs && a.startMs <= c.endMs).map { c =>
        val layer = a.frame.map(_._1).orElse(c.layer).getOrElse(Layers.Unattributed)
        val end = if (a.endMs >= 0) a.endMs else c.endMs
        a.synchronized {
          JobSpan(a.jobId, c.id, layer, a.frame.fold("")(_._2), a.onPar, a.startMs, end,
            a.tasks, a.taskMs,
            a.gcMs, a.shuffleBytes, a.outBytes)
        }
      }
    }
  }
}

/** Per-layer counters over a set of job spans. */
object LayerReport {

  val Counters: Seq[(String, String)] = Seq("jobs" -> "count", "tasks" -> "count",
    "task_s" -> "s", "busy_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB",
    "out_mb" -> "MB")

  private val MB = 1024.0 * 1024.0

  def layerMetrics(jobs: Seq[JobSpan]): Seq[(String, Double, String)] =
    Layers.All.flatMap { l =>
      val js = jobs.filter(_.layer == l)
      Seq(
        (s"$l.jobs", js.length.toDouble, "count"),
        (s"$l.tasks", js.map(_.tasks).sum.toDouble, "count"),
        (s"$l.task_s", js.map(_.taskMs).sum / 1e3, "s"),
        (s"$l.busy_s", Stats.unionLength(js.map(j => (j.startMs, j.endMs))) / 1e3, "s"),
        (s"$l.gc_s", js.map(_.gcMs).sum / 1e3, "s"),
        (s"$l.shuffle_mb", js.map(_.shuffleBytes).sum / MB, "MB"),
        (s"$l.out_mb", js.map(_.outBytes).sum / MB, "MB"))
    }

  /** Wall time of the calls during which no job of theirs ran. */
  def driverGapMs(calls: Seq[CallSpan], jobs: Seq[JobSpan]): Long =
    calls.map { c =>
      val busy = Stats.coveredWithin((c.startMs, c.endMs),
        jobs.filter(_.callId == c.id).map(j => (j.startMs, j.endMs)))
      (c.endMs - c.startMs) - busy
    }.sum

  /** Share of jobs attributed to one of the reported layers. A job whose
    * innermost `graft.*` frame lies in no reported layer does not count. */
  def attributedFrac(jobs: Seq[JobSpan]): Double =
    if (jobs.isEmpty) 1.0
    else jobs.count(j => Layers.All.contains(j.layer)).toDouble / jobs.length

  /** One JSON object per line: the call spans, then the job spans. */
  def spansJson(calls: Seq[CallSpan], jobs: Seq[JobSpan]): Seq[String] =
    calls.map(c => s"""{"span":"call","id":${c.id},"name":${Json.str(c.name)},""" +
      s""""probe_layer":${c.layer.fold("null")(Json.str)},""" +
      s""""start_ms":${c.startMs},"end_ms":${c.endMs}}""") ++
      jobs.map(j => s"""{"span":"job","id":${j.jobId},"parent":${j.callId},""" +
        s""""layer":${Json.str(j.layer)},"site":${Json.str(j.site)},"par_lane":${j.onPar},""" +
        s""""start_ms":${j.startMs},""" +
        s""""end_ms":${j.endMs},"tasks":${j.tasks},"task_ms":${j.taskMs},"gc_ms":${j.gcMs},""" +
        s""""shuffle_bytes":${j.shuffleBytes},"out_bytes":${j.outBytes}}""")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
