package perfbench

import scala.util.Random

import graft.{DocGen, RawDoc, RawSpan}

/** A staged increment doc: a [[RawDoc]] tagged with its increment. */
final case class IncrementDoc(batch: Int, doc_id: String, spans: Seq[RawSpan],
    domain: String, bucket: Int)

/** Seeded inputs. Every document comes from `DocGen.docFor` over an index
  * range the seed picks; the program sees only the generated docs. */
object Inputs {

  /** Docs staged for the `extract` workload. */
  val ExtractDocs = 40000L

  /** First doc index of the `extract` input: one of 64 disjoint ranges. */
  def extractStart(seed: Long): Long = 10000000L * (1 + new Random(seed).nextInt(64))

  /** Size of the base corpus the `increment` workload admits against
    * (`CorpusMain.run` generates docs 0 until n itself). */
  val BaseDocs = 2000L

  /** Docs per increment and how many increments are staged (a run admits
    * as many as fit in its measuring time). */
  val IncrementDocs = 500
  val IncrementsStaged = 8

  /** Shares of an increment that re-deliver a base corpus doc unchanged
    * (exact duplicate) and that copy one with one word changed under a new
    * id (near duplicate); the rest are fresh docs. */
  val ExactShare = 0.15
  val NearShare = 0.15

  /** A fresh id range per seed and batch, far above every base index. */
  private def freshIndex(seed: Long, batch: Int, i: Int): Long =
    1000000000L + (math.abs(seed) % 1000) * 1000000L + batch * 10000L + i

  /** Near-duplicate ids live in their own range so they never collide with
    * fresh or base ids. */
  private def nearIndex(seed: Long, batch: Int, i: Int): Long =
    5000000000L + (math.abs(seed) % 1000) * 1000000L + batch * 10000L + i

  /** `doc` under a new id with one word of its longest text span replaced. */
  def perturbed(doc: RawDoc, newIdx: Long): RawDoc = {
    val id = DocGen.docId(newIdx)
    val texts = doc.spans.zipWithIndex.filter { case (s, _) =>
      (s.kind == "text" || s.kind == "title") && s.text.nonEmpty }
    val spans =
      if (texts.isEmpty) doc.spans :+ RawSpan("text", "perturbed", "",
        doc.spans.map(_.offset).maxOption.getOrElse(-1) + 1)
      else {
        val (s, at) = texts.maxBy(_._1.text.length)
        val words = s.text.split(' ')
        words(words.length / 2) = "perturbed"
        doc.spans.updated(at, s.copy(text = words.mkString(" ")))
      }
    RawDoc(id, spans, doc.domain, DocGen.bucketOf(id))
  }

  /** One increment: fresh docs, exact re-deliveries and near copies of
    * base corpus docs (`baseIdx` are indices of docs in the base corpus). */
  def increment(seed: Long, batch: Int, baseIdx: IndexedSeq[Long]): Seq[RawDoc] = {
    val rnd = new Random(seed * 1000003L + batch)
    val nExact = (IncrementDocs * ExactShare).toInt
    val nNear = (IncrementDocs * NearShare).toInt
    val nFresh = IncrementDocs - nExact - nNear
    val fresh = (0 until nFresh).map(i => DocGen.docFor(freshIndex(seed, batch, i)))
    val exact = (0 until nExact).map(_ => DocGen.docFor(baseIdx(rnd.nextInt(baseIdx.length))))
    val near = (0 until nNear).map(i =>
      perturbed(DocGen.docFor(baseIdx(rnd.nextInt(baseIdx.length))), nearIndex(seed, batch, i)))
    // exact re-deliveries may pick one base doc twice; an increment carries
    // each id once, as a crawl increment would
    (fresh ++ exact ++ near).groupBy(_.doc_id).values.map(_.head).toSeq.sortBy(_.doc_id)
  }

  def indexOf(docId: String): Long = docId.stripPrefix("d").toLong
}
