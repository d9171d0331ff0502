package perfbench

import graft.{ExtractedDoc, RawDoc, ReferenceOracle}

/** Output checks. Each returns the failures it found; an empty result
  * passes. They take plain collected values so that tests can feed them a
  * damaged output. */
object Checks {

  type Span = (String, String, String)

  /** Committed rows of an extraction equal the docs that were staged. */
  def committedRows(committed: Long, staged: Long): Seq[String] =
    if (committed == staged) Nil
    else Seq(s"committed $committed rows for $staged staged docs")

  /** Span sequence of an extracted doc on (kind, text, media_ref), in
    * offset order. */
  def spansOf(d: ExtractedDoc): Seq[Span] =
    d.spans.sortBy(_.offset).map(s => (s.kind, s.text, s.media_ref))

  /** Every sampled raw doc has a committed row whose spans equal the
    * reference oracle's, span for span. */
  def oracleSample(sample: Seq[RawDoc], committed: Map[String, Seq[Span]]): Seq[String] =
    sample.flatMap { d =>
      val want = spansOf(ReferenceOracle.extract(d))
      committed.get(d.doc_id) match {
        case None => Some(s"${d.doc_id}: sampled doc missing from the table")
        case Some(got) if got != want => Some(s"${d.doc_id}: spans differ from the oracle")
        case _ => None
      }
    }

  /** After a rule edit, no committed ref keeps the old canonical shape
    * and the new shape is present. */
  def backfillShapes(oldShapeRefs: Long, newShapeRefs: Long): Seq[String] =
    (if (oldShapeRefs == 0) Nil
     else Seq(s"$oldShapeRefs refs keep the edited rule's old canonical shape")) ++
      (if (newShapeRefs > 0) Nil
       else Seq("no ref carries the edited rule's new canonical shape"))

  /** Stage counts of the corpus funnel, in pipeline order, that may only
    * shrink. */
  val Funnel: Seq[String] = Seq("extracted", "with_text", "cleaned", "lang_en",
    "exact_deduped", "near_deduped", "substr", "lm_kept")

  def funnelMonotone(raw: Long, counts: Map[String, Long]): Seq[String] = {
    val missing = Funnel.filterNot(counts.contains)
    if (missing.nonEmpty) Seq(s"funnel stages missing: ${missing.mkString(",")}")
    else {
      val chain = ("raw" -> raw) +: Funnel.map(n => n -> counts(n))
      val grow = chain.sliding(2).collect {
        case Seq((a, x), (b, y)) if y > x => s"funnel grows from $a=$x to $b=$y"
      }.toSeq
      val empty = if (counts("lm_kept") > 0) Nil else Seq("funnel keeps no docs")
      val extracted = if (counts("extracted") == raw) Nil
        else Seq(s"extracted ${counts("extracted")} of $raw generated docs")
      grow ++ empty ++ extracted
    }
  }

  /** The split relation divides the kept docs: test + train = split =
    * kept, and the holdout holds exactly the test side. */
  def splitPartition(test: Long, train: Long, split: Long, kept: Long,
      holdout: Long): Seq[String] =
    (if (test + train == split) Nil
     else Seq(s"split test $test + train $train != split $split")) ++
      (if (split == kept) Nil else Seq(s"split $split != lm_kept $kept")) ++
      (if (holdout == test) Nil else Seq(s"eval_holdout $holdout != split test $test"))

  final case class Admission(batchId: Long, inputRows: Long, admitted: Long,
      exactDropped: Long, nearDropped: Long, poisoned: Long)

  /** Every admission-metrics row accounts for each input row once. */
  def admissionBalance(rows: Seq[Admission]): Seq[String] =
    rows.flatMap { r =>
      val out = r.admitted + r.exactDropped + r.nearDropped + r.poisoned
      if (out == r.inputRows) None
      else Some(s"batch ${r.batchId}: admitted+dropped+poisoned $out != input ${r.inputRows}")
    }

  /** No doc id appears twice in the admitted corpus. */
  def uniqueIds(idCounts: Map[String, Long]): Seq[String] =
    idCounts.collect { case (id, n) if n > 1 => s"$id admitted $n times" }.toSeq.sorted

  /** Every increment packed exactly the rows it admitted. */
  def packedEqualsAdmitted(packed: Map[Long, Long], admitted: Map[Long, Long]): Seq[String] =
    (packed.keySet ++ admitted.keySet).toSeq.sorted.flatMap { b =>
      val p = packed.getOrElse(b, -1L)
      val a = admitted.getOrElse(b, -1L)
      if (p == a) None else Some(s"batch $b: packed $p rows, admitted $a")
    }
}
