package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY.md §5.2-3): extraction is deterministic,
  * order-preserving (kept text spans form a subsequence of input), offsets
  * monotone, and partition-invariant — the distributed-correctness property
  * the single-machine reference never needed. */
class PropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic forAll: 300 samples from fixed seeds (scalatestplus
    * bridge is not in the offline cache, so we drive Gen directly). */
  private def checkAll[A](gen: Gen[A])(p: A => Boolean): Unit = {
    (0 until 300).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(1000L + i)).foreach { a =>
        assert(p(a), s"property failed for sample #$i: $a")
      }
    }
  }

  private val kinds = Gen.oneOf("title", "text", "nav", "ad", "footer", "link", "media")
  private val word = Gen.oneOf(DocGen.Vocab)
  private val textGen = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  private val refGen = Gen.oneOf(
    Gen.const(""),
    Gen.oneOf("mp4", "webm", "gif").map(e => s"https://media.gfyclip.test/GenX.$e"),
    Gen.chooseNum(1L, 9L).map(t => s"https://img.chanboard.test/g/140000000$t.jpg"),
    Gen.const("https://cdn.other.test/f.bin"))

  private val spanGen: Gen[(String, String, String)] = for {
    k <- kinds; t <- textGen; r <- refGen
  } yield (k, t, if (k == "media") r else "")

  private val docGen: Gen[RawDoc] = for {
    n <- Gen.chooseNum(0, 24)
    ss <- Gen.listOfN(n, spanGen)
    idn <- Gen.chooseNum(0L, 999999L)
  } yield RawDoc(f"p$idn%010d",
    ss.zipWithIndex.map { case ((k, t, r), i) => RawSpan(k, t, r, i) }.toVector,
    "src0", DocGen.bucketOf(f"p$idn%010d"))

  /** The 300 sampled docs, re-keyed by sample index (ids unique), and
    * their extraction — ONE batch through the engine, not one job per doc. */
  private lazy val sampled: Seq[RawDoc] = (0 until 300).flatMap { i =>
    docGen.apply(Gen.Parameters.default, Seed(1000L + i)).map { d =>
      val id = f"p$i%010d"
      d.copy(doc_id = id, bucket = DocGen.bucketOf(id))
    }
  }
  private def extractSampled(): Map[String, ExtractedDoc] =
    ExtractJob.transform(spark.createDataset(sampled), 4)
      .collect().map(d => d.doc_id -> d).toMap
  private lazy val extracted = extractSampled()

  private def checkSampled(p: (RawDoc, ExtractedDoc) => Boolean): Unit =
    sampled.foreach(d => assert(p(d, extracted(d.doc_id)), s"property failed for $d"))

  test("deterministic: extracting twice gives identical results") {
    assert(extractSampled() == extracted)
  }

  test("kept text spans are a subsequence of input texts") {
    checkSampled { (d, out) =>
      val inTexts = d.spans.sortBy(_.offset).map(_.text)
      val outTexts = out.spans.filter(s => s.kind == "text" || s.kind == "title").map(_.text)
      // subsequence check
      var i = 0
      outTexts.forall { t =>
        val j = inTexts.indexOf(t, i)
        if (j >= 0) { i = j + 1; true } else false
      }
    }
  }

  test("offsets dense and monotone") {
    checkSampled((_, out) => out.spans.map(_.offset) == out.spans.indices)
  }

  test("partition invariance: same output set under 1, 3, 8 partitions") {
    val docs = (0L until 300L).map(DocGen.docFor)
    def run(parts: Int): Set[(String, Seq[(String, String, String)])] =
      ExtractJob.transform(spark.createDataset(docs).repartition(parts), parts)
        .collect().map(d => d.doc_id -> d.spans.map(s => (s.kind, s.text, s.media_ref)).toSeq)
        .toSet
    val r1 = run(1)
    assert(run(3) == r1)
    assert(run(8) == r1)
  }

  test("generator determinism: docFor is a pure function of the index") {
    val a = (0L until 200L).map(DocGen.docFor)
    val b = (0L until 200L).reverse.map(DocGen.docFor).reverse
    assert(a == b)
    // distributed generation matches driver-side generation
    val dist = DocGen.generate(spark, 200, 7).collect().sortBy(_.doc_id).toSeq
    assert(dist == a)
  }

  test("cleaning properties: line-pruning matches a plain-Scala reference; embeddings are bag functions") {
    val docTextGen = Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpusGen = Gen.chooseNum(2, 12).flatMap(n => Gen.listOfN(n, docTextGen))
    checkAllFew(corpusGen) { texts =>
      // independent reference: a line (4-word chunk) survives iff it
      // appears in fewer than 2 distinct docs; survivors keep doc order
      val docLines = texts.map(_.split(" ").grouped(4).map(_.mkString(" ")).toList)
      val hot = docLines.zipWithIndex
        .flatMap { case (ls, i) => ls.distinct.map(_ -> i) }
        .groupBy(_._1).collect { case (l, xs) if xs.map(_._2).distinct.size >= 2 => l }
        .toSet
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = ops.Cleaning.pruneRepeatedLines(df, "doc_id", "text", 4, 2)
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
      docLines.zipWithIndex.forall { case (ls, i) =>
        val kept = ls.filterNot(hot)
        out(i.toLong) == ((ls.size, kept.size, kept.mkString(" ")))
      }
    }
    // hashEmbed is a pure function of the word BAG: permutation-invariant
    checkAllFew(docTextGen) { t =>
      val shuffled = new scala.util.Random(42).shuffle(t.split(" ").toList).mkString(" ")
      val df = Seq((1L, t), (2L, shuffled)).toDF("doc_id", "text")
      val v = ops.Embed.hashEmbed(df, "text", 8).select($"doc_id", $"vec")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      v(1L) == v(2L) && v(1L).map(math.abs).sum <= t.split(" ").length
    }
  }

  /** 40 samples (Spark-action properties are costlier than pure ones). */
  private def checkAllFew[A](gen: Gen[A])(p: A => Boolean): Unit = {
    (0 until 40).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(2000L + i)).foreach { a =>
        assert(p(a), s"property failed for sample #$i: $a")
      }
    }
  }

  test("BPE word-merge scan == String.replace reference on random words × random composed merge tables") {
    // alphabet {a,b,c} forces heavy symbol collisions; merge tables are
    // generated COMPOSITIONALLY (each rank may consume symbols produced by
    // earlier ranks — the chaining regime where ordered semantics bite).
    // Reference = the exact column-applier spec, driver-side:
    // symbolize → fold of String.replace(" l r", " lr") → split.
    def refWord(w: String, merges: Seq[(String, String)]): Seq[String] = {
      val sym = w.flatMap(c => s" $c")
      val merged = merges.foldLeft(sym: String) { case (acc, (l, r)) =>
        acc.replace(s" $l $r", s" $l$r")
      }
      merged.trim.split(" ").toSeq.filter(_.nonEmpty)
    }
    val wordGen = Gen.chooseNum(0, 14)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c"))).map(_.mkString)
    val mergesGen: Gen[List[(String, String)]] = for {
      n <- Gen.chooseNum(0, 10)
      idx <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 32), Gen.chooseNum(0, 32)))
    } yield {
      val pool = scala.collection.mutable.ArrayBuffer("a", "b", "c")
      idx.map { case (i, j) =>
        val l = pool(i % pool.length); val r = pool(j % pool.length)
        pool += (l + r)
        (l, r)
      }.toList
    }
    checkAll(Gen.zip(wordGen, mergesGen)) { case (w, merges) =>
      ops.Bpe.applyWord(w, merges.toArray).toSeq == refWord(w, merges)
    }
  }

  test("mixture sampling is partition-invariant and repartition-stable") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"source")
    def ids(df: org.apache.spark.sql.DataFrame) =
      ops.Sampling.mixtureSample(df, "doc_id", "source", Map("src1" -> 3000), 7000)
        .select($"doc_id").as[Long].collect().toSet
    val base = ids(docs)
    assert(ids(docs.repartition(13)) == base)
    assert(ids(docs.coalesce(1)) == base)
  }

  test("round-5 ops are partition-invariant: NB predictions, DSIR selection, BM25 top-k") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"lang", $"text")
    val train = docs.where($"doc_id" < 100)

    val nbModel = ops.NaiveBayes.trainNb(train, "text", "lang").localCheckpoint()
    def preds(df: org.apache.spark.sql.DataFrame) =
      ops.NaiveBayes.nbClassify(df, "doc_id", "text", nbModel)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val basePreds = preds(docs)
    assert(preds(docs.repartition(13)) == basePreds)
    assert(preds(docs.coalesce(1)) == basePreds)

    import org.apache.spark.sql.functions.{array_join, reverse, split}
    val target = ops.Lm.trainBigramLm(train.select($"text"), "text").localCheckpoint()
    val raw = ops.Lm.trainBigramLm(
      train.select(array_join(reverse(split($"text", " ")), " ").as("text")),
      "text").localCheckpoint()
    def sel(df: org.apache.spark.sql.DataFrame) =
      ops.Sampling.dsirSample(
        ops.Sampling.importanceWeights(df, "doc_id", "text", target, raw),
        "doc_id", k = 20).select($"doc_id").as[Long].collect().toSet
    val baseSel = sel(docs)
    assert(sel(docs.repartition(13)) == baseSel)
    assert(sel(docs.coalesce(1)) == baseSel)

    def hits(df: org.apache.spark.sql.DataFrame) = {
      val post = ops.Bm25.postings(df, "doc_id", "text")
      val dict = ops.Bm25.dictionary(post, "doc_id")
      ops.Bm25.bm25TopK(post, dict, "doc_id", Seq("hash", "join"), k = 15)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    }
    val baseHits = hits(docs)
    assert(hits(docs.repartition(13)) == baseHits)
    assert(hits(docs.coalesce(1)) == baseHits)
  }

  test("late-round-5 ops are partition-invariant: normalized dedup, best retention, domain pruning, cross-hits") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"source", $"text")

    // normalizedDedup: every doc gets an UPPERCASED mirror — keepers must
    // be exactly the originals, under any partitioning
    val mirrored = docs.select($"doc_id", $"text")
      .union(docs.select($"doc_id" + 100000, upper($"text")))
    def normIds(df: org.apache.spark.sql.DataFrame) =
      ops.Dedup.normalizedDedup(df, "doc_id", "text")
        .select($"doc_id").as[Long].collect().toSet
    val baseNorm = normIds(mirrored)
    assert(baseNorm.forall(_ < 100000), "every mirror must collapse onto its original")
    assert(normIds(mirrored.repartition(13)) == baseNorm)
    assert(normIds(mirrored.coalesce(1)) == baseNorm)

    // dedupCorpusBest: fixed pair graph, score = doc_id % 7
    val scored = docs.select($"doc_id", ($"doc_id" % 7).as("score"))
    val pairs = Seq((1L, 5L), (5L, 7L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    def bestIds(df: org.apache.spark.sql.DataFrame) =
      ops.Dedup.dedupCorpusBest(df, "doc_id", "score", pairs)
        .select($"doc_id").as[Long].collect().toSet
    val baseBest = bestIds(scored)
    assert(bestIds(scored.repartition(13)) == baseBest)
    assert(bestIds(scored.coalesce(1)) == baseBest)

    // pruneRepeatedLinesByDomain: planted per-source boilerplate
    val planted = docs.select($"doc_id", $"source".as("domain"),
      when($"doc_id" % 3 === 0,
        concat(lit(ops.Cleaning.BoilerLine + " "), $"text")).otherwise($"text").as("text"))
    def pruned(df: org.apache.spark.sql.DataFrame) =
      ops.Cleaning.pruneRepeatedLinesByDomain(df, "doc_id", "domain", "text", 8, 5)
        .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getInt(3), r.getString(4))).toMap
    val basePruned = pruned(planted)
    assert(pruned(planted.repartition(13)) == basePruned)

    // semanticCrossHits: hit counts stable under corpus repartitioning
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id",
        expr("transform(embedding, x -> cast(floor(cast(x as double)*1000) as bigint))").as("qv"))
    val bench = e.where($"vec_id" < 8).localCheckpoint()
    val corpus = e.where($"vec_id" >= 8)
      .union(bench.select($"vec_id" + 4000, $"qv")).localCheckpoint()
    def xhits(df: org.apache.spark.sql.DataFrame) =
      ops.Similarity.semanticCrossHits(df, bench, "vec_id", "qv",
          threshold = 0.99, nCentroids = 4, nProbe = 2)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val baseX = xhits(corpus)
    assert((0L until 8L).forall(i => baseX.getOrElse(i + 4000, 0) >= 1))
    assert(xhits(corpus.repartition(13)) == baseX)
  }

  test("planFiles pruning is lossless and monotone under random zone maps") {
    // random snapshots: files with random inclusive id ranges, some with
    // NO recorded stat; random query ranges. The safety property: every
    // file whose TRUE range overlaps the query survives pruning (no stat
    // → always planned), and pruning only ever REMOVES files.
    val idGen = Gen.chooseNum(0, 999).map(i => f"d$i%04d")
    val fileGen = for {
      lo <- idGen; hi <- idGen; hasStat <- Gen.oneOf(true, false)
    } yield {
      val (mn, mx) = if (lo <= hi) (lo, hi) else (hi, lo)
      (s"f_${mn}_$mx", mn, mx, hasStat)
    }
    val snapGen = for {
      n <- Gen.chooseNum(0, 12)
      fs <- Gen.listOfN(n, fileGen)
      qlo <- idGen; qhi <- idGen
    } yield (fs.zipWithIndex.map { case ((f, mn, mx, st), i) => (s"$i$f", mn, mx, st) },
             if (qlo <= qhi) (qlo, qhi) else (qhi, qlo))
    val m = new Manifest(java.nio.file.Files.createTempDirectory("pf_prop_").toString)
    checkAll(snapGen) { case (files, (qlo, qhi)) =>
      val st = Manifest.BucketState(0, files.size.toLong,
        files.map(_._3).maxOption.getOrElse(""),
        files.map(_._1),
        files.filter(_._4).map(f => Manifest.FileStat(f._1, f._2, f._3)))
      val snap = Manifest.Snapshot(0, -1, "prop", Seq(st))
      val planned = m.planFiles(snap, idRange = Some((qlo, qhi))).toSet
      val all = m.planFiles(snap).toSet
      planned.subsetOf(all) &&
      files.forall { case (f, mn, mx, hasStat) =>
        val overlaps = mx >= qlo && mn <= qhi
        // statless: always planned (lossless). statted: planned IFF the
        // recorded range overlaps (lossless AND exact — no overshoot).
        if (!hasStat) planned.contains(f) else planned.contains(f) == overlaps
      }
    }
  }
}
