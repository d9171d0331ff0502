package perfbench

/** Maps the call-site stack of a Spark job to the library module that
  * launched it: the innermost `graft.*` frame decides. */
object Layers {

  /** The layers reported, in report order. `util` (`graft.Par`) is not
    * among them: a `Par` lane runs its caller's closure, so the innermost
    * frame of a job on a lane is the caller's. */
  val All: Seq[String] = Seq("plans", "classify", "pipeline", "manifest",
    "ops.dedup", "ops", "streaming", "CorpusMain", "IncrementalCorpus")

  /** Jobs whose stack holds no `graft.*` frame and that were not launched
    * inside a benchmark call naming a layer. */
  val Unattributed = "other"

  private val ByFile: Map[String, String] = Map(
    "classify.scala" -> "classify",
    "pipeline.scala" -> "pipeline",
    "manifest.scala" -> "manifest",
    "CorpusMain.scala" -> "CorpusMain",
    "IncrementalCorpus.scala" -> "IncrementalCorpus",
    "util.scala" -> "util")

  /** (class name, file name) of one rendered stack frame such as
    * `graft.ExtractJob$.runGated(pipeline.scala:145)`, optionally preceded
    * by `at ` or a `loader/module/` prefix. */
  def parseFrame(line: String): Option[(String, String)] = {
    val s = line.trim.stripPrefix("at ").trim
    val open = s.indexOf('(')
    if (open <= 0) None
    else {
      val qualified = s.substring(0, open)
      val afterPrefix = qualified.substring(qualified.lastIndexOf('/') + 1)
      val dot = afterPrefix.lastIndexOf('.')
      if (dot <= 0) None
      else {
        val file = s.substring(open + 1).takeWhile(c => c != ':' && c != ')')
        Some(afterPrefix.substring(0, dot) -> file)
      }
    }
  }

  /** The layer of one frame, or None for a frame outside `graft.*`. */
  def layerOfFrame(cls: String, file: String): Option[String] =
    if (!cls.startsWith("graft.")) None
    else if (cls.startsWith("graft.plans.")) Some("plans")
    else if (cls.startsWith("graft.ops.Dedup")) Some("ops.dedup")
    else if (cls.startsWith("graft.ops.")) Some("ops")
    else if (cls.startsWith("graft.streaming.")) Some("streaming")
    else Some(ByFile.getOrElse(file, "graft"))

  /** The innermost `graft.*` frame of a call-site stack (newest frame
    * first, one frame per line, as Spark renders it) with its layer. */
  def innermostFrame(stack: String): Option[(String, String)] =
    stack.split('\n').iterator.flatMap { line =>
      parseFrame(line).flatMap { case (c, f) => layerOfFrame(c, f) }.map(_ -> line.trim)
    }.nextOption()

  /** Whether the stack runs on a `graft.Par` lane. The lane's own frame is
    * usually gone (Scala passes the caller's closure straight to the
    * `Future`), so a `scala.concurrent` frame below the caller marks it. */
  def onParLane(stack: String): Boolean =
    stack.split('\n').iterator.flatMap(parseFrame).exists { case (c, _) =>
      c.startsWith("graft.Par") || c.startsWith("scala.concurrent.") }
}
