package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints one JSON result as the last line of
  * standard output; details go to the lines before it and to standard
  * error. With `--prepare 1` it instead builds what runs keep across runs,
  * the increment base corpus, if that is missing, and prints nothing. */
object Main {

  /** The end-to-end metrics every workload reports (tracing off). */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "call_p50_s" -> "s",
    "docs_per_s" -> "docs/s", "stored_bytes_per_doc" -> "B/doc",
    "retained_heap_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val run: Bench => Unit = workload match {
      case "extract" => Workloads.extract
      case "increment" => Workloads.increment
      case other => sys.error(s"unknown workload $other")
    }
    val prepare = opts.get("prepare").contains("1")
    if (prepare && Workloads.baseReady(Bench.stateOf(work))) return

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bench = new Bench(spark, work, workload, seed, seconds, trace, cores)
    if (trace) spark.sparkContext.addSparkListener(bench.tracer.listener)
    try {
      if (prepare) Workloads.buildIncrementBase(bench)
      else {
        run(bench)
        bench.finish()
      }
    } finally {
      spark.stop()
      bench.log("stopped")
    }
  }
}

object Bench {
  /** What runs keep across runs, the increment base and the traces: the
    * parent of the directory that holds each run's work directory. */
  def stateOf(work: Path): Path = work.getParent.getParent
}

/** State of one run: the session, the measurements and the outcome of
  * every attempted call and check. */
final class Bench(val spark: SparkSession, val work: Path, val workload: String,
    val seed: Long, val seconds: Int, val trace: Boolean, val cores: Int) {

  val tracer = new Tracer
  private var measuringStarted = false
  var attempted = 0
  var failed = 0
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]

  def dir(name: String): String = work.resolve(name).toString

  val state: Path = Bench.stateOf(work)

  private val bornNs = System.nanoTime()

  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - bornNs) / 1e9}%.1fs] $msg")

  /** Starts the measuring clock: `measuring` is true for `seconds` from
    * here. */
  def startMeasuring(): Unit = {
    log("set-up done, measuring")
    measuringStarted = true
    startNs = System.nanoTime()
  }
  private var startNs = 0L

  def measuring: Boolean =
    measuringStarted && System.nanoTime() - startNs < seconds * 1000000000L

  /** One timed call into the library. A failure counts against the run and
    * yields None; it is never recorded as a time. A probe names the layer
    * it calls directly. */
  def timed[A](name: String, probe: Option[String] = None)(body: => A): Option[(A, Double)] = {
    attempted += 1
    try Some(tracer.call(name, probe)(body))
    catch {
      case e: Exception =>
        failed += 1
        log(s"call $name failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** One output check; each failure it reports, or an exception, fails it. */
  def check(name: String)(failures: => Seq[String]): Unit = {
    attempted += 1
    val found =
      try failures
      catch { case e: Exception => Seq(s"check raised $e") }
    if (found.nonEmpty) {
      failed += 1
      found.take(10).foreach(f => log(s"check $name FAILED: $f"))
    }
  }

  def sample(name: String, x: Double): Unit =
    samples(name) = samples.getOrElse(name, Nil) :+ x

  def setLayer(name: String, value: Double, unit: String): Unit = layer(name) = (value, unit)

  /** Median of repeated set-ups; each repetition gets its own index. */
  def setup(reps: Int)(once: Int => Unit): Unit = {
    val times = (0 until reps).map { r =>
      val t0 = System.nanoTime(); once(r); (System.nanoTime() - t0) / 1e9
    }
    samples("setup_s") = times
    e2e("setup_s") = Stats.median(times)
  }

  def bytesUnder(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  /** Derives the run's remaining metrics, writes the trace and prints the
    * result. */
  def finish(): Unit = {
    log("calls and checks done")
    e2e("retained_heap_mb") = retainedHeapMb()
    val pinned = spark.sparkContext.getPersistentRDDs.size
    if (trace) finishTrace(pinned)
    val detail = samples.map { case (k, xs) =>
      val tail = Stats.tailPercentile(xs)
        .map { case (p, v) => s""","tail_p":${Json.num(p)},"tail":${Json.num(v)}""" }
        .getOrElse("")
      s"""${Json.str(k)}:{"n":${xs.length},"median":${Json.num(Stats.median(xs))}$tail,""" +
        s""""values":[${xs.map(Json.num).mkString(",")}]}"""
    }.mkString(",")
    println(s"""{"perfbench_detail":{"workload":${Json.str(workload)},"seed":$seed,""" +
      s""""trace":$trace,"pinned_rdds_after":$pinned,"samples":{$detail}}}""")
    val metrics =
      if (trace) Workloads.PerLayer.map { case (k, unit) =>
        k -> layer.getOrElse(k, (0.0, unit)) }
      else Main.EndToEnd.map { case (k, unit) => k -> (e2e.getOrElse(k, Double.NaN), unit) }
    val body = metrics.map { case (k, (v, unit)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(unit)}}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{$body}}""")
  }

  private def finishTrace(pinned: Int): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val calls = tracer.callSpans
    val jobs = tracer.jobSpans
    val timedCalls = calls.filter(_.layer.isEmpty)
    val timedIds = timedCalls.map(_.id).toSet
    val timedJobs = jobs.filter(j => timedIds(j.callId))
    val wallMs = timedCalls.map(c => c.endMs - c.startMs).sum
    LayerReport.layerMetrics(jobs).foreach { case (k, v, u) => setLayer(k, v, u) }
    setLayer("util.par_jobs", jobs.count(_.onPar).toDouble, "count")
    setLayer("trace.jobs", jobs.length.toDouble, "count")
    setLayer("trace.attributed_frac", LayerReport.attributedFrac(jobs), "ratio")
    setLayer("driver_gap_s", LayerReport.driverGapMs(timedCalls, timedJobs) / 1e3, "s")
    setLayer("slot_util",
      if (wallMs == 0) 0.0 else timedJobs.map(_.taskMs).sum.toDouble / (wallMs * cores), "ratio")
    setLayer("pinned_rdds_after", pinned.toDouble, "count")
    setLayer("error_rate", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio")
    e2e.get("call_p50_s").foreach(v => setLayer("trace.call_p50_s", v, "s"))
    Workloads.traceExtras(this, calls, jobs)
    val out = state.resolve("traces")
    Files.createDirectories(out)
    val file = out.resolve(s"$workload-seed$seed.jsonl")
    Files.write(file, LayerReport.spansJson(calls, jobs).mkString("", "\n", "\n").getBytes("UTF-8"))
    log(s"trace: ${jobs.length} jobs in ${calls.length} calls written to $file")
  }
}
