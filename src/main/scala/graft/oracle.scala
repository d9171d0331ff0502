package graft

/** Single-threaded golden oracle (SURVEY.md §5.1).
  *
  * Independent, deliberately naive re-implementation of the extraction spec
  * — functional style, regex via scala matching, no shared code with
  * [[plans.ExtractExpression]] beyond the spec constants in [[Registry]]
  * and [[Classify]]; the DuckDB replay in `Queries.classifierCtes` is the
  * third copy, so keep the three in sync. The distributed
  * pipeline must agree with this span-for-span (kind, text, media_ref,
  * order) on every fixture and generated doc; this preserves the shape of
  * qetch's extractor test strategy (known input → exact expected ordered
  * record sequence) with goldens we can actually compute, since
  * /root/reference was empty at survey time (SURVEY.md §0).
  */
object ReferenceOracle {

  private val Gfy = """https?://media\.gfyclip\.test/([A-Za-z][A-Za-z0-9]*)\.(mp4|webm|gif)""".r
  private val Chan = """https?://img\.chanboard\.test/([a-z]+)/(\d+)\.([a-z0-9]+)""".r
  private val Alb = """https?://i\.albumhost\.test/([a-z0-9]+)/(\d+)\.([a-z0-9]+)""".r

  /** (ruleIndex, groupKey, canonicalRef, ext) for a matched ref. */
  private def matchRef(ref: String): Option[(Int, String, String, String)] = ref match {
    case Gfy(id, ext)          => Some((0, s"gfyclip:$id", s"https://gfyclip.test/$id", ext))
    case Chan(board, tim, ext) => Some((1, s"chanboard:$board/$tim", s"https://chanboard.test/$board/$tim.$ext", ext))
    case Alb(album, item, ext) => Some((2, s"albumhost:$album/$item", s"https://albumhost.test/$album/$item", ext))
    case _                     => None
  }

  private def words(t: String): List[String] = t.split(" ").filter(_.nonEmpty).toList

  def extract(doc: RawDoc): ExtractedDoc = {
    // null text/media_ref normalize to "" (same contract as the
    // extract_spans expression)
    val spans = doc.spans
      .map(s => RawSpan(s.kind, Option(s.text).getOrElse(""),
        Option(s.media_ref).getOrElse(""), s.offset))
      .sortBy(_.offset).toList
    val n = spans.length

    // dispatch: smallest registry index matching any media ref
    val matchedIdxs = spans.collect {
      case s if s.kind == "media" && s.media_ref.nonEmpty => matchRef(s.media_ref).map(_._1)
    }.flatten
    val hasMedia = spans.exists(s => s.kind == "media" && s.media_ref.nonEmpty)
    val extractor =
      if (matchedIdxs.nonEmpty) Registry.rules(matchedIdxs.min).name
      else if (hasMedia) Registry.GenericExtractor
      else Registry.TextOnlyExtractor

    // classification, recursive over the span list so media variant runs are
    // consumed as groups
    def classify(rest: List[(RawSpan, Int)]): List[OutSpan] = rest match {
      case Nil => Nil
      case (s, i) :: tail =>
        s.kind match {
          case "nav" | "ad" | "footer" => classify(tail)
          case "title" => OutSpan("title", s.text, "", -1) :: classify(tail)
          case "text" =>
            val adj = (i > 0 && spans(i - 1).kind == "title") ||
              (i + 1 < n && spans(i + 1).kind == "title")
            val ws = words(s.text)
            val stops = ws.count(Classify.Stopwords.contains)
            val keep = ws.length >= 5 || (ws.length >= 3 && stops >= 1) || (adj && ws.length >= 2)
            if (keep) OutSpan("text", s.text, "", -1) :: classify(tail) else classify(tail)
          case "link" =>
            if (words(s.text).length >= 8) OutSpan("text", s.text, "", -1) :: classify(tail)
            else classify(tail)
          case "media" =>
            matchRef(s.media_ref) match {
              case Some((_, key, _, ext0)) =>
                // take the maximal consecutive-media run with the same key
                val group = ((s, i) :: tail).takeWhile { case (t, _) =>
                  t.kind == "media" && matchRef(t.media_ref).exists(_._2 == key)
                }
                val best = group
                  .map { case (t, _) => matchRef(t.media_ref).get }
                  .maxBy { case (_, _, _, ext) => Registry.quality(ext) } // max keeps FIRST on tie? verify below
                // scala maxBy returns the first maximal element — earliest
                // variant wins ties, matching the pipeline.
                OutSpan("media", s.text, best._3, -1) ::
                  classify(((s, i) :: tail).drop(group.length))
              case None =>
                if (s.media_ref.nonEmpty) OutSpan("media", s.text, s.media_ref, -1) :: classify(tail)
                else classify(tail)
            }
          case _ => classify(tail)
        }
    }

    val kept = classify(spans.zipWithIndex)
    val renumbered = kept.zipWithIndex.map { case (s, i) => s.copy(offset = i) }.toVector
    val conf = if (n == 0) 0.0 else renumbered.length.toDouble / n
    ExtractedDoc(doc.doc_id, renumbered, extractor, conf, doc.domain, doc.bucket, n)
  }
}
