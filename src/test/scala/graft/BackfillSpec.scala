package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Selective rule-change backfill (ExtractJob.backfill): the affected set
  * is derived from the registry DIFF at SPAN level (old canonical shapes +
  * new raw patterns over the committed refs), only buckets carrying the
  * diff's footprint are rewritten, and the result is value-identical to a
  * full re-run under the new rules. Also pins the append-then-commit write
  * contract (the pre-backfill snapshot stays readable) and the no-op
  * convergence (an empty diff or an absent footprint moves nothing).
  */
class BackfillSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_backfill_").toString

  /** Full value view of a table read: doc → (extractor, ordered spans). */
  private def docView(df: org.apache.spark.sql.DataFrame): Map[String, (String, Seq[(String, String, String, Int)])] =
    df.as[ExtractedDoc].collect()
      .map(d => d.doc_id -> (d.extractor,
        d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq))
      .toMap

  private def expectedView(docs: org.apache.spark.sql.Dataset[RawDoc],
      rules: Seq[ExtractorRule]): Map[String, (String, Seq[(String, String, String, Int)])] =
    ExtractJob.transform(docs, rules = rules).collect()
      .map(d => d.doc_id -> (d.extractor,
        d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq))
      .toMap

  private def span(kind: String, text: String, ref: String, off: Int) =
    RawSpan(kind, text, ref, off)

  /** Handcrafted corpus with a KNOWN albumhost footprint: buckets 0 and 1
    * hold docs whose spans reference albumhost (bucket 1's doc is labeled
    * gfyclip — dispatch priority — so span-level detection is what finds
    * it); buckets 2..7 hold docs with no albumhost refs at all. */
  private def plantedDocs(): org.apache.spark.sql.Dataset[RawDoc] = {
    val ds = Seq(
      RawDoc("da1", Vector(
        span("title", "album page one", "", 0),
        span("media", "", "https://i.albumhost.test/abc1/100.mp4", 1),
        span("media", "", "https://i.albumhost.test/abc1/100.webm", 2),
        span("text", "this text should be long enough to keep", "", 3)), "src1", 0),
      // labeled gfyclip (rule 0 wins dispatch) but CARRIES albumhost spans:
      // the case the extractor-label heuristic misses
      RawDoc("dm1", Vector(
        span("media", "", "https://media.gfyclip.test/MixA.mp4", 0),
        span("media", "", "https://i.albumhost.test/mix9/100.jpg", 1),
        span("text", "mixed doc body text that is plenty long", "", 2)), "src2", 1),
      RawDoc("dg1", Vector(
        span("media", "", "https://media.gfyclip.test/SoloB.webm", 0),
        span("text", "gfy only document with enough words here", "", 1)), "src3", 2),
      RawDoc("dc1", Vector(
        span("media", "", "https://img.chanboard.test/g/1400000010.jpg", 0),
        span("text", "chan only document with enough words here", "", 1)), "src4", 3),
      RawDoc("dt1", Vector(
        span("title", "text only", "", 0),
        span("text", "a text only document with enough words to keep", "", 1)), "src5", 4),
      RawDoc("du1", Vector(
        span("media", "", "https://cdn.src6.test/file42.bin", 0),
        span("text", "generic passthrough document with enough words", "", 1)), "src6", 5)
    )
    spark.createDataset(ds)
  }

  test("rule REMOVAL: span-level diff footprint selects buckets; result matches full re-run") {
    val docs = plantedDocs()
    val dir = freshDir()
    ExtractJob.run(spark, docs, dir, "base", resume = false)
    val m = new Manifest(dir)
    val snap0 = m.head().get
    val before = snap0.buckets.map(b => b.bucket -> b.files).toMap
    val baseline = docView(m.readData(spark))
    // sanity: the mixed doc is NOT labeled albumhost — the label heuristic
    // would have missed its bucket
    assert(baseline("dm1")._1 == "gfyclip")

    val rulesB = Registry.rules.filterNot(_.name == "albumhost")
    val snap1 = ExtractJob.backfill(spark, docs, dir, "bf-remove",
      newRules = rulesB)

    // value equivalence vs an uncommitted full re-run under rulesB
    assert(docView(m.readData(spark)) === expectedView(docs, rulesB))
    // the change is visible: dm1's album ref is now raw passthrough
    assert(docView(m.readData(spark))("dm1")._2
      .exists(_._3 == "https://i.albumhost.test/mix9/100.jpg"))

    // selectivity: exactly buckets 0 and 1 (the albumhost footprint) moved
    val after = snap1.buckets.map(b => b.bucket -> b.files).toMap
    for (b <- 0 until DocGen.NumBuckets) {
      if (b <= 1)
        assert(after(b).nonEmpty && after(b).toSet.intersect(before(b).toSet).isEmpty,
          s"bucket $b must be rewritten with fresh files")
      else assert(after(b) === before(b), s"bucket $b must be untouched")
    }

    // metrics: the backfill run covers exactly the rewritten buckets
    val bfMetrics = spark.read.parquet(s"$dir/metrics")
      .where($"run_id" === "bf-remove")
      .select($"bucket").as[Int].collect().toSet
    assert(bfMetrics === Set(0, 1))

    // append-then-commit: the PRE-backfill snapshot still serves the old
    // values (no file it references was overwritten)
    assert(docView(m.readData(spark, asOf = Some(snap0.id))) === baseline)

    // no-op convergence: the albumhost footprint is gone from the table,
    // so the same diff selects nothing — HEAD unchanged
    val snap2 = ExtractJob.backfill(spark, docs, dir, "bf-again",
      newRules = rulesB)
    assert(snap2.id === snap1.id)

    // empty diff is a no-op regardless of table content
    val snap3 = ExtractJob.backfill(spark, docs, dir, "bf-same",
      newRules = rulesB, oldRules = rulesB)
    assert(snap3.id === snap1.id)
  }

  test("rule EDIT (canonical template change) converges to the new-registry table") {
    val docs = DocGen.generate(spark, 400, 8)
    val dir = freshDir()
    ExtractJob.run(spark, docs, dir, "base", resume = false)
    val m = new Manifest(dir)

    val rulesC = Registry.rules.map(r =>
      if (r.name == "gfyclip") r.copy(canonical = "https://gfyclip.test/${id}?rev=2") else r)
    ExtractJob.backfill(spark, docs, dir, "bf-edit", newRules = rulesC)

    val got = docView(m.readData(spark))
    assert(got === expectedView(docs, rulesC))
    assert(got.values.exists(_._2.exists(_._3.contains("?rev=2"))))
  }

  test("rule ADDITION: new pattern claims raw passthrough refs; result matches full re-run") {
    val docs = DocGen.generate(spark, 400, 8)
    val dir = freshDir()
    ExtractJob.run(spark, docs, dir, "base", resume = false)
    val m = new Manifest(dir)

    // appended rule matches DocGen's generic refs (cdn.<domain>.test/fileN.bin)
    val added = ExtractorRule(
      name = "cdnfile",
      pattern = """https?://cdn\.(?<dom>[a-z0-9]+)\.test/file(?<id>[0-9]+)\.(?<ext>[a-z0-9]+)""",
      canonical = "https://${dom}.test/files/${id}")
    val rulesD = Registry.rules :+ added
    ExtractJob.backfill(spark, docs, dir, "bf-add", newRules = rulesD)

    assert(docView(m.readData(spark)) === expectedView(docs, rulesD))
    assert(m.readData(spark).where($"extractor" === "cdnfile").count() > 0)
  }

  test("an EDIT of two rules in one call (gfyclip + chanboard canonicals) matches a full re-run") {
    val docs = DocGen.generate(spark, 400, 8)
    val dir = freshDir()
    ExtractJob.run(spark, docs, dir, "base", resume = false)
    val m = new Manifest(dir)

    // both rules carry an (?<ext>…) group: the footprint predicate must not
    // join their patterns into one regex
    val rulesE = Registry.rules.map {
      case r if r.name == "gfyclip" => r.copy(canonical = "https://gfyclip.test/${id}?rev=2")
      case r if r.name == "chanboard" => r.copy(canonical = "chanboard://${board}/${tim}.${ext}")
      case r => r
    }
    ExtractJob.backfill(spark, docs, dir, "bf-edit2", newRules = rulesE)

    val got = docView(m.readData(spark))
    assert(got === expectedView(docs, rulesE))
    assert(got.values.exists(_._2.exists(_._3.contains("?rev=2"))))
    assert(got.values.exists(_._2.exists(_._3.startsWith("chanboard://"))))
  }

  test("backfill records zone maps: every file in HEAD has a FileStat") {
    val docs = DocGen.generate(spark, 400, 8)
    val dir = freshDir()
    ExtractJob.run(spark, docs, dir, "base", resume = false)
    val rulesC = Registry.rules.map(r =>
      if (r.name == "gfyclip") r.copy(canonical = "https://gfyclip.test/${id}?rev=2") else r)
    val before = new Manifest(dir).head().get
    val snap = ExtractJob.backfill(spark, docs, dir, "bf-stats", newRules = rulesC)
    assert(snap.id > before.id, "the edit must rewrite some bucket")
    snap.buckets.foreach { b =>
      assert(b.stats.map(_.file).toSet == b.files.toSet,
        s"bucket ${b.bucket}: files without a zone map: ${b.files.filterNot(b.stats.map(_.file).toSet)}")
    }
  }
}
