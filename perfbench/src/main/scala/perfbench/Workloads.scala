package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft._

/** The workloads. Each stages its seeded inputs (set-up), then calls
  * the library for the run's measuring time and checks what it wrote. */
object Workloads {

  // ---- extract ------------------------------------------------------------

  /** The backfill edits this rule's canonical template. The new shape
    * shares no prefix with the old one, so a leftover old ref is visible. */
  val EditedRule = "chanboard"
  val NewCanonical = "chanboard://${board}/${tim}.${ext}"
  val OldShape = "^https://chanboard\\.test/"
  val NewShape = "^chanboard://"

  def editedRules: Seq[ExtractorRule] = Registry.rules.map(r =>
    if (r.name == EditedRule) r.copy(canonical = NewCanonical) else r)

  /** Committed docs compared with the reference oracle per check. */
  val OracleSample = 1000

  def extract(b: Bench): Unit = {
    val spark = b.spark
    import spark.implicits._
    val start = Inputs.extractStart(b.seed)
    val n = Inputs.ExtractDocs
    b.setup(3)(r => spark.range(start, start + n, 1, b.cores).map(i => DocGen.docFor(i))
      .write.mode("overwrite").partitionBy("bucket").parquet(b.dir(s"raw-$r")))
    val docs = spark.read.parquet(b.dir("raw-0")).as[RawDoc]

    // one untimed round over the same input first: until the JIT has
    // compiled the extraction and write paths, each call runs faster than
    // the last, and a median of such calls follows how busy the host is
    ExtractJob.run(spark, docs, b.dir("table-warm"), "warm", native = true)
    ExtractJob.backfill(spark, docs, b.dir("table-warm"), "warm-backfill", editedRules)
    deleteTree(Paths.get(b.dir("table-warm")))

    val sampleIds = {
      val rnd = new scala.util.Random(b.seed)
      Seq.fill(OracleSample)(start + rnd.nextInt(n.toInt)).distinct
    }
    b.startMeasuring()
    var i = 0
    var lastTable = ""
    while (i < 3 || (b.measuring && i < 8)) {
      val tbl = b.dir(s"table-$i")
      val table = new Manifest(tbl, spark.sessionState.newHadoopConf())
      b.timed("ExtractJob.run")(
        ExtractJob.run(spark, docs, tbl, s"run-$i", native = true)
      ).foreach { case (snap, runS) =>
        b.sample("ExtractJob.run_s", runS)
        b.check("extract: committed rows")(
          Checks.committedRows(snap.buckets.map(_.rows).sum, n))
        if (i == 0) b.check("extract: oracle sample") {
          val ids = sampleIds.map(DocGen.docId)
          val got = table.readData(spark).where($"doc_id".isin(ids: _*))
            .as[ExtractedDoc].collect()
            .map(d => d.doc_id -> Checks.spansOf(d)).toMap
          Checks.oracleSample(sampleIds.map(DocGen.docFor), got)
        }
        b.timed("ExtractJob.backfill")(
          ExtractJob.backfill(spark, docs, tbl, s"backfill-$i", editedRules)
        ).foreach { case (post, backfillS) =>
          b.sample("ExtractJob.backfill_s", backfillS)
          b.sample("call_s", runS + backfillS)
          b.check("extract: rows after backfill")(
            Checks.committedRows(post.buckets.map(_.rows).sum, n))
          if (i == 0) {
            val refs = table.readData(spark)
              .select($"doc_id", explode($"spans.media_ref").as("ref"))
              .agg(sum(when($"ref".rlike(OldShape), 1L).otherwise(0L)),
                sum(when($"ref".rlike(NewShape), 1L).otherwise(0L)),
                countDistinct(when($"ref".rlike(NewShape), $"doc_id")))
              .head()
            b.check("extract: backfill shapes")(
              Checks.backfillShapes(refs.getLong(0), refs.getLong(1)))
            // docs the backfill re-extracted: every row of a bucket whose
            // files it replaced
            val before = snap.buckets.map(s => s.bucket -> s.files).toMap
            val rewritten = post.buckets.filter(s => before.get(s.bucket).forall(_ != s.files))
            val redone = rewritten.map(_.rows).sum
            b.setLayer("pipeline.backfill_useful_frac",
              if (redone == 0) 0.0 else refs.getLong(2).toDouble / redone, "ratio")
          }
        }
        lastTable = tbl
      }
      if (i > 0) deleteTree(Paths.get(b.dir(s"table-${i - 1}")))
      i += 1
    }
    if (b.samples.contains("call_s")) {
      b.e2e("call_p50_s") = Stats.median(b.samples("call_s"))
      b.e2e("docs_per_s") = n / Stats.median(b.samples("ExtractJob.run_s"))
      b.e2e("stored_bytes_per_doc") = b.bytesUnder(lastTable).toDouble / n
      b.setLayer("extract.backfill_s", Stats.median(b.samples("ExtractJob.backfill_s")), "s")
    }

    if (b.trace) {
      // layer probes: the same input through the native expression alone
      // and through the typed engine alone, into a sink that writes nothing
      b.timed("probe.extract_spans", Some("plans")) {
        plans.GraftFunctions.extractColumnar(docs.toDF())
          .write.format("noop").mode("overwrite").save()
      }.foreach { case (_, s) => b.setLayer("plans.raw_docs_per_s", n / s, "docs/s") }
      b.timed("probe.classify", Some("classify")) {
        ExtractJob.transform(docs).toDF().write.format("noop").mode("overwrite").save()
      }.foreach { case (_, s) => b.setLayer("classify.raw_docs_per_s", n / s, "docs/s") }
    }
  }

  // ---- increment ----------------------------------------------------------

  /** `CorpusMain.run`'s committed stages, in pipeline order. */
  val CorpusStages: Seq[String] = Seq("extracted", "texts", "pairs", "host_edges",
    "host_rank", "cleaned", "lang_en", "exact", "deduped", "substr", "lm_model",
    "lm_kept", "split_pairs", "split", "eval_holdout", "bpe_merges", "domain_cfg",
    "mixed", "shards", "vocab", "sequences", "profile")

  private val CorpusBuckets = 4

  def increment(b: Bench): Unit = {
    val spark = b.spark
    import spark.implicits._
    val base = baseDir(b.state)
    require(baseReady(b.state), s"no increment base at $base: build it with --prepare 1 first")
    val baseIdx = streaming.EventStream
      .readCorpus(spark, IncrementalCorpus.corpusTableDir(base.toString), CorpusBuckets)
      .select($"doc_id").as[String].collect().sorted.map(Inputs.indexOf).toIndexedSeq
    b.setup(3) { r =>
      copyTable(base, Paths.get(b.dir(s"out-$r")))
      val staged = (1 to Inputs.IncrementsStaged).flatMap(k =>
        Inputs.increment(b.seed, k, baseIdx).map(d =>
          IncrementDoc(k, d.doc_id, d.spans, d.domain, d.bucket)))
      spark.createDataset(staged).write.partitionBy("batch").parquet(b.dir(s"increments-$r"))
    }
    def batch(r: Int, k: Int): Dataset[RawDoc] = spark.read.parquet(b.dir(s"increments-$r"))
      .where($"batch" === k).drop("batch").as[RawDoc]

    // one untimed increment into another copy first, for the same reason
    // as extract's untimed round: otherwise the first timed admit runs cold
    IncrementalCorpus.admitIncrement(spark, batch(1, 1), b.dir("out-1"), 1L)
    IncrementalCorpus.packIncrements(spark, b.dir("out-1"))

    val out = b.dir("out-0")
    val bytesBefore = b.bytesUnder(out)

    b.startMeasuring()
    var k = 1
    var docs = 0L
    val packed = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    while (k <= 2 || (b.measuring && k <= Inputs.IncrementsStaged)) {
      val inc = batch(0, k)
      val n = inc.count()
      b.timed("IncrementalCorpus.admitIncrement")(
        IncrementalCorpus.admitIncrement(spark, inc, out, k.toLong)
      ).foreach { case (_, admitS) =>
        b.timed("IncrementalCorpus.packIncrements")(
          IncrementalCorpus.packIncrements(spark, out)
        ).foreach { case (rows, packS) =>
          b.sample("admit_s", admitS)
          b.sample("pack_s", packS)
          b.sample("call_s", admitS + packS)
          packed(k.toLong) = rows
          docs += n
        }
      }
      k += 1
    }

    val corpusDir = IncrementalCorpus.corpusTableDir(out)
    val admissions = streaming.EventStream.readAdmissionMetrics(spark, corpusDir, CorpusBuckets)
      .select($"batch_id", $"input_rows", $"admitted", $"exact_dropped", $"near_dropped",
        $"poisoned").as[(Long, Long, Long, Long, Long, Long)].collect()
      .map { case (id, in, a, e, nd, p) => Checks.Admission(id, in, a, e, nd, p) }.toSeq
    b.check("increment: admission balance")(Checks.admissionBalance(admissions))
    b.check("increment: ids admitted once") {
      streaming.EventStream.readCorpus(spark, corpusDir, CorpusBuckets)
        .groupBy($"doc_id").count().where($"count" > 1)
        .as[(String, Long)].collect().toMap.pipe(Checks.uniqueIds)
    }
    b.check("increment: packed rows equal admitted rows")(Checks.packedEqualsAdmitted(
      packed.toMap,
      admissions.filter(a => packed.contains(a.batchId)).map(a => a.batchId -> a.admitted).toMap))

    if (b.samples.contains("call_s")) {
      val calls = b.samples("call_s")
      b.e2e("call_p50_s") = Stats.median(calls)
      b.e2e("docs_per_s") = docs.toDouble / calls.length / Stats.median(calls)
      b.e2e("stored_bytes_per_doc") = (b.bytesUnder(out) - bytesBefore).toDouble / docs
      val admits = b.samples("admit_s")
      b.setLayer("increment.admit_s", Stats.median(admits), "s")
      b.setLayer("increment.pack_s", Stats.median(b.samples("pack_s")), "s")
      b.setLayer("increment.growth", admits.last / admits.head, "ratio")
      val timedRows = admissions.filter(a => packed.contains(a.batchId))
      val input = timedRows.map(_.inputRows).sum.toDouble
      if (input > 0) {
        b.setLayer("increment.admitted_frac", timedRows.map(_.admitted).sum / input, "ratio")
        b.setLayer("increment.near_dropped_frac", timedRows.map(_.nearDropped).sum / input, "ratio")
      }
    }
  }

  /** The base corpus: `CorpusMain.run`, `bootstrap` and a first
    * `packIncrements`. It does not depend on the seed and takes longer than
    * the rest of a run, so it is built once per build of the checkout (the
    * build drops it), in a JVM of its own (a measured JVM must not be warmed
    * by it), checked, and copied for each run. The build records `CorpusMain.run`'s wall time and per-stage
    * figures beside it; traced runs report them. */
  def baseDir(state: Path): Path = state.resolve(s"cache/increment-base-n${Inputs.BaseDocs}")
  private def baseRecord(state: Path): Path = baseDir(state).resolve("corpus-stages.json")
  def baseReady(state: Path): Boolean = Files.exists(baseRecord(state))

  def buildIncrementBase(b: Bench): Unit = {
    val spark = b.spark
    val dir = baseDir(b.state)
    deleteTree(dir)
    val out = dir.toString
    val t0 = System.nanoTime()
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer.listener)
    val (counts, _) = tracer.call("CorpusMain.run")(
      CorpusMain.run(spark, Inputs.BaseDocs, out, b.cores * 2))
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tracer.listener)
    IncrementalCorpus.bootstrap(spark, out, CorpusBuckets)
    IncrementalCorpus.packIncrements(spark, out)
    val failures = checkCorpus(b, out, Inputs.BaseDocs, counts.toMap)
    if (failures.nonEmpty)
      throw new IllegalStateException(s"base corpus fails its checks: ${failures.mkString("; ")}")
    val stages = corpusStages(dir, tracer.callSpans.head, tracer.jobSpans)
    Files.write(baseRecord(b.state), stages.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}\n").getBytes(StandardCharsets.UTF_8))
    b.log(f"built the increment base in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** Checks of the base corpus `CorpusMain.run` committed. */
  private def checkCorpus(b: Bench, out: String, n: Long,
      counts: Map[String, Long]): Seq[String] = {
    val spark = b.spark
    import spark.implicits._
    val bySplit = CorpusMain.readStage(spark, out, "split").groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    val holdout = CorpusMain.readStage(spark, out, "eval_holdout").count()
    val rnd = new scala.util.Random(n)
    val sample = Seq.fill(200)(rnd.nextInt(n.toInt).toLong).distinct.map(DocGen.docFor)
    val got = CorpusMain.readStage(spark, out, "extracted")
      .where($"doc_id".isin(sample.map(_.doc_id): _*))
      .select($"doc_id", $"spans").as[(String, Seq[OutSpan])].collect()
      .map { case (id, ss) => id -> ss.sortBy(_.offset).map(s => (s.kind, s.text, s.media_ref)) }
      .toMap
    Checks.funnelMonotone(n, counts) ++
      Checks.splitPartition(bySplit.getOrElse("test", 0L), bySplit.getOrElse("train", 0L),
        bySplit.values.sum, counts.getOrElse("lm_kept", -1L), holdout) ++
      Checks.oracleSample(sample, got)
  }

  /** `CorpusMain.run`'s wall time and, per stage, the time and the jobs
    * between the previous stage's commit and its own (the commit time is
    * the mtime of the stage's snapshot file). */
  private def corpusStages(outDir: Path, call: CallSpan,
      jobs: Seq[JobSpan]): Seq[(String, Double)] = {
    val commits = CorpusStages.flatMap { s =>
      val meta = outDir.resolve("stages").resolve(s).resolve("meta")
      if (!Files.isDirectory(meta)) None
      else {
        val st = Files.list(meta)
        try st.iterator().asScala.filter(_.getFileName.toString.startsWith("snap-"))
          .map(p => Files.getLastModifiedTime(p).toMillis).maxOption.map(s -> _)
        finally st.close()
      }
    }.sortBy(_._2)
    var prev = call.startMs
    ("corpus.run_s" -> (call.endMs - call.startMs) / 1e3) +: commits.flatMap { case (s, at) =>
      val n = jobs.count(j => j.startMs > prev && j.startMs <= at)
      val row = Seq(s"corpus.stage.${s}_s" -> (at - prev) / 1e3, s"corpus.stage.$s.jobs" -> n.toDouble)
      prev = at
      row
    }
  }

  /** Copies a directory of manifest tables. Snapshots name their data files
    * by absolute URI, so the copy's metadata is re-pointed at the copy. */
  def copyTable(from: Path, to: Path): Unit = {
    val src = from.toAbsolutePath.toString + "/"
    val dst = to.toAbsolutePath.toString + "/"
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else if (p.getParent.getFileName.toString == "meta") {
        val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        Files.write(target, text.replace(src, dst).getBytes(StandardCharsets.UTF_8))
      } else Files.copy(p, target)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }

  // ---- per-layer report ---------------------------------------------------

  /** Every per-layer metric, in report order. */
  val PerLayer: Seq[(String, String)] =
    Layers.All.flatMap(l => LayerReport.Counters.map { case (c, u) => s"$l.$c" -> u }) ++ Seq(
      "util.par_jobs" -> "count", "trace.jobs" -> "count",
      "trace.attributed_frac" -> "ratio", "trace.call_p50_s" -> "s",
      "driver_gap_s" -> "s", "slot_util" -> "ratio", "pinned_rdds_after" -> "count",
      "error_rate" -> "ratio",
      "extract.backfill_s" -> "s", "pipeline.backfill_useful_frac" -> "ratio",
      "plans.raw_docs_per_s" -> "docs/s", "classify.raw_docs_per_s" -> "docs/s",
      "increment.admit_s" -> "s", "increment.pack_s" -> "s",
      "increment.admit_jobs" -> "count", "increment.pack_jobs" -> "count",
      "increment.admitted_frac" -> "ratio", "increment.near_dropped_frac" -> "ratio",
      "increment.growth" -> "ratio", "corpus.run_s" -> "s") ++
      CorpusStages.flatMap(s => Seq(s"corpus.stage.${s}_s" -> "s", s"corpus.stage.$s.jobs" -> "count"))

  /** Workload-specific figures derived from the spans. */
  def traceExtras(b: Bench, calls: Seq[CallSpan], jobs: Seq[JobSpan]): Unit = {
    def jobsPerCall(name: String): Seq[Double] = calls.filter(_.name == name)
      .map(c => jobs.count(_.callId == c.id).toDouble)
    if (b.workload == "increment") {
      for ((name, key) <- Seq("IncrementalCorpus.admitIncrement" -> "admit",
          "IncrementalCorpus.packIncrements" -> "pack")) {
        val n = jobsPerCall(name)
        if (n.nonEmpty) b.setLayer(s"increment.${key}_jobs", Stats.median(n), "count")
      }
      val text = new String(Files.readAllBytes(baseRecord(b.state)), StandardCharsets.UTF_8)
      "\"([^\"]+)\":([-0-9.eE]+)".r.findAllMatchIn(text).foreach { m =>
        b.setLayer(m.group(1), m.group(2).toDouble, if (m.group(1).endsWith(".jobs")) "count" else "s")
      }
    }
  }
}
