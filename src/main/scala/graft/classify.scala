package graft

/** Classifier spec constants shared by the extraction engine
  * ([[plans.ExtractExpression]]), the [[ReferenceOracle]] and the DuckDB
  * replays in [[Queries]] (SURVEY.md §2C).
  *
  * The classifier generalizes qetch's per-site `handle_*` extractors
  * (qetch/extractors/gfycat.py::GfycatExtractor.handle_basic,
  * fourchan.py::FourChanExtractor.handle_thread — 1 document → N ordered
  * content records) into a DOM-heuristic main-content pass: text-density
  * rules decide keep/drop per span, media spans resolve to their canonical
  * best-quality variant, and output offsets are renumbered dense 0..n-1
  * preserving input order. All keep/drop decisions are integer arithmetic
  * (SURVEY.md §7.5-1).
  */
object Classify {

  /** Small fixed stopword list — the text-density signal. */
  val Stopwords: Set[String] = Set(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "from", "this", "that", "be")
}
