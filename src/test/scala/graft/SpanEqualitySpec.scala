package graft

import org.scalatest.funsuite.AnyFunSuite

/** THE invariant (SURVEY.md §5.2-1, BASELINE.json input_hint): for every
  * fixture and generated doc, the distributed pipeline's span sequence
  * equals the single-threaded oracle's on (kind, text, media_ref, order),
  * with offsets dense and strictly increasing. */
class SpanEqualitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def seq(d: ExtractedDoc): Seq[(String, String, String)] =
    d.spans.map(s => (s.kind, s.text, s.media_ref))

  private def runPipeline(docs: Seq[RawDoc]): Map[String, ExtractedDoc] =
    ExtractJob.transform(spark.createDataset(docs), 4)
      .collect().map(d => d.doc_id -> d).toMap

  test("hand-written fixtures: pipeline == oracle span-for-span") {
    val docs = DocGen.fixtures
    val actual = runPipeline(docs)
    val failures = docs.flatMap { d =>
      val exp = ReferenceOracle.extract(d)
      val act = actual(d.doc_id)
      if (seq(act) != seq(exp) || act.extractor != exp.extractor ||
          act.confidence != exp.confidence ||
          act.spans.map(_.offset) != act.spans.indices)
        Some(s"${d.doc_id}: expected ${seq(exp)} [${exp.extractor}, ${exp.confidence}], " +
          s"got ${act.spans} [${act.extractor}, ${act.confidence}]")
      else None
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("2000 generated docs: pipeline == oracle span-for-span") {
    val docs = (0L until 2000L).map(DocGen.docFor)
    val actual = runPipeline(docs)
    docs.foreach { d =>
      val exp = ReferenceOracle.extract(d)
      val act = actual(d.doc_id)
      assert(seq(act) == seq(exp), s"span mismatch for ${d.doc_id}")
      assert(act.extractor == exp.extractor, s"extractor mismatch for ${d.doc_id}")
      assert(math.abs(act.confidence - exp.confidence) == 0.0, s"confidence mismatch for ${d.doc_id}")
    }
  }

  test("extract_spans is callable from SQL after extension registration") {
    plans.GraftFunctions.register(spark)
    spark.createDataset(DocGen.fixtures).toDF().createOrReplaceTempView("__fx")
    val n = spark.sql(
      "SELECT doc_id, extract_spans(spans).extractor AS e FROM __fx").count()
    assert(n == DocGen.fixtures.size)
  }

  test("null text/media_ref normalize to empty in the engine and the oracle") {
    // foreign parquet can carry nulls the generator never produces; the
    // engine and the oracle must agree (null → "")
    val doc = RawDoc("n0000000001", Vector(
      RawSpan("title", null, null, 0),
      RawSpan("text", "the table scan joins the fast row", null, 1),
      RawSpan("media", null, "https://media.gfyclip.test/NullTest.mp4", 2),
      RawSpan("media", null, null, 3)), "src0", DocGen.bucketOf("n0000000001"))
    val oracle = ReferenceOracle.extract(doc)
    val got = runPipeline(Seq(doc))(doc.doc_id)
    assert(seq(got) == seq(oracle), s"engine=${seq(got)} oracle=${seq(oracle)}")
    assert(got.spans.map(_.kind) == Seq("title", "text", "media"))
    assert(got.spans.forall(s => s.text != null && s.media_ref != null))
  }

  test("an edited registry runs through the same engine: gfyclip canonical with ?rev=2 == oracle + suffix") {
    val rev = "?rev=2"
    val rules = Registry.rules.map(r =>
      if (r.name == "gfyclip") r.copy(canonical = r.canonical + rev) else r)
    val docs = DocGen.fixtures ++ (0L until 2000L).map(DocGen.docFor)
    val actual = ExtractJob.transform(spark.createDataset(docs), 4, rules)
      .collect().map(d => d.doc_id -> d).toMap
    var edited = 0
    docs.foreach { d =>
      val exp = ReferenceOracle.extract(d)
      val expSeq = seq(exp).map { case (k, t, r) =>
        (k, t, if (r.startsWith("https://gfyclip.test/")) r + rev else r)
      }
      val act = actual(d.doc_id)
      assert(seq(act) == expSeq, s"span mismatch for ${d.doc_id}")
      assert(act.extractor == exp.extractor, s"extractor mismatch for ${d.doc_id}")
      edited += act.spans.count(_.media_ref.endsWith(rev))
    }
    assert(edited > 0, "the edited canonical must show up")
  }

  test("two rule sets in one select stay two columns (no merge of the expressions)") {
    val rules = Registry.rules.map(r =>
      if (r.name == "gfyclip") r.copy(canonical = r.canonical + "?rev=2") else r)
    def refs(rs: Seq[ExtractorRule]) =
      plans.GraftFunctions.extractSpans($"spans", rs).getField("spans").getField("media_ref")
    val row = spark.createDataset(Seq(DocGen.fixtures.find(_.doc_id == "f0000000006").get))
      .select(refs(Registry.rules).as("a"), refs(rules).as("b"))
      .as[(Seq[String], Seq[String])].head()
    assert(row._1.filter(_.nonEmpty) == Seq("https://gfyclip.test/AbcDef"))
    assert(row._2.filter(_.nonEmpty) == Seq("https://gfyclip.test/AbcDef?rev=2"))
  }

  test("offsets are dense 0..n-1 and strictly increasing") {
    val docs = (0L until 500L).map(DocGen.docFor)
    runPipeline(docs).values.foreach { d =>
      assert(d.spans.map(_.offset) == d.spans.indices.map(identity))
    }
  }

  test("specific fixture semantics") {
    val byId = runPipeline(DocGen.fixtures)
    // empty doc → no spans, textonly
    assert(byId("f0000000000").spans.isEmpty)
    assert(byId("f0000000000").extractor == "textonly")
    // all boilerplate → empty
    assert(byId("f0000000001").spans.isEmpty)
    // variant run mp4 wins, canonicalized
    assert(seq(byId("f0000000006")).collect { case ("media", _, r) => r } ==
      Seq("https://gfyclip.test/AbcDef"))
    // two adjacent groups stay two spans
    assert(byId("f0000000007").spans.count(_.kind == "media") == 2)
    // registry order beats doc order: gfyclip later in doc still wins dispatch
    assert(byId("f0000000014").extractor == "gfyclip")
    assert(byId("f0000000013").extractor == "chanboard")
    // out-of-order input offsets are honored: title(2) before text(5)
    assert(byId("f0000000017").spans.map(_.kind) == Seq("title", "text"))
    // generic passthrough media
    assert(seq(byId("f0000000009")) ==
      Seq(("media", "", "https://cdn.src4.test/file1.bin")))
    // multi-item album: items stay ordered, each collapsed to best variant
    assert(seq(byId("f0000000024")).collect { case ("media", _, r) => r } ==
      Seq("https://albumhost.test/alb1/100", "https://albumhost.test/alb1/101"))
    assert(byId("f0000000024").extractor == "albumhost")
    // a variant run broken by text does NOT merge across the break
    assert(seq(byId("f0000000025")).collect { case ("media", _, r) => r } ==
      Seq("https://albumhost.test/alb2/100", "https://albumhost.test/alb2/100"))
    // dispatch priority: lower registry index wins over doc position
    assert(byId("f0000000026").extractor == "chanboard")
    assert(byId("f0000000027").extractor == "gfyclip")
    assert(seq(byId("f0000000027")).collect { case ("media", _, r) => r } ==
      Seq("https://albumhost.test/alb4/100", "https://gfyclip.test/Mid",
        "https://albumhost.test/alb4/101"))
  }
}
