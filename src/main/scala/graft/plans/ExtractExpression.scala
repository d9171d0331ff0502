package graft.plans

import graft.{CompiledRegistry, ExtractorRule, Registry}
import java.util.regex.Matcher
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `extract_spans(spans)` — the extraction classifier as a native Catalyst
  * expression (SURVEY.md §7.6), and the ONLY extraction engine: batch,
  * backfill, streams and the corpus pipelines all run it.
  *
  * It evaluates directly over Tungsten rows: input UTF8String/ArrayData are
  * READ IN PLACE, kept span text is re-emitted as the same UTF8String
  * reference (zero copy), word/stopword counting scans UTF-8 bytes without
  * materializing Strings, and only matched media refs ever allocate (regex
  * needs a String). An object-per-span path (case classes per doc) drives
  * constant young-GC safepoints at 32 threads.
  *
  * `rules` is the registry the expression dispatches on (first match wins);
  * it is part of the expression's identity, so two rule sets in one plan
  * are two different columns. The expression owns one [[CompiledRegistry]]
  * — patterns, needles and UTF-8 names compile once per task.
  *
  * Semantics are asserted span-for-span against the independent
  * [[graft.ReferenceOracle]] (SpanEqualitySpec) and the DuckDB replay in
  * `Queries.classifierCtes`; keep the three in sync.
  *
  * Returns struct(spans: array<struct<kind,text,media_ref,offset:int>>,
  * extractor: string, confidence: double).
  */
case class ExtractExpression(child: Expression, rules: Seq[ExtractorRule] = Registry.rules)
    extends UnaryExpression {

  @transient private lazy val registry = new CompiledRegistry(rules)

  override def dataType: DataType = ExtractExpression.outType
  // a null spans array yields a null result (default nullSafeEval contract)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "extract_spans"
  // plan strings show the input only, not every rule's regex
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(spansRaw: Any): Any =
    ExtractExpression.extract(spansRaw.asInstanceOf[ArrayData], registry)

  /** Real codegen (no CodegenFallback): a direct call into the
    * JIT-compiled classifier with this expression's registry as a
    * reference object. The heavy per-doc work stays in one JVM method (the
    * standard pattern for complex expressions, cf. Spark's regexp
    * expressions calling into helper objects); what codegen buys is the
    * removal of the fallback boundary — the enclosing Project stays inside
    * WholeStageCodegen, with no interpreted-projection / boxing bridge per
    * row (measured 1.16–1.22× end-to-end in the steal-free 2–8-core zone,
    * BENCH/BASELINE.md "doGenCode delta"). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val reg = ctx.addReferenceObj("registry", registry)
    nullSafeCodeGen(ctx, ev, childVar =>
      s"${ev.value} = graft.plans.ExtractExpression.extract($childVar, $reg);")
  }
}

object ExtractExpression {
  import graft.Classify.Stopwords

  val spanType: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("media_ref", StringType, nullable = false),
    StructField("offset", IntegerType, nullable = false)))

  val outType: StructType = StructType(Seq(
    StructField("spans", ArrayType(spanType, containsNull = false), nullable = false),
    StructField("extractor", StringType, nullable = false),
    StructField("confidence", DoubleType, nullable = false)))

  // cached UTF8String constants (never re-encoded per row)
  private val K_TITLE = UTF8String.fromString("title")
  private val K_TEXT = UTF8String.fromString("text")
  private val K_NAV = UTF8String.fromString("nav")
  private val K_AD = UTF8String.fromString("ad")
  private val K_FOOTER = UTF8String.fromString("footer")
  private val K_LINK = UTF8String.fromString("link")
  private val K_MEDIA = UTF8String.fromString("media")
  private val EMPTY = UTF8String.fromString("")
  private val X_GENERIC = UTF8String.fromString(Registry.GenericExtractor)
  private val X_TEXTONLY = UTF8String.fromString(Registry.TextOnlyExtractor)

  /** Stopword lookup without String allocation: stopwords are short ASCII —
    * pack up to 8 bytes into a Long key. (All Classify.Stopwords are ≤ 4
    * chars; guard on length ≤ 8 anyway.) */
  private val stopKeys: java.util.HashSet[java.lang.Long] = {
    val s = new java.util.HashSet[java.lang.Long]()
    Stopwords.foreach { w =>
      require(w.length <= 8)
      s.add(packAscii(w.getBytes("US-ASCII"), 0, w.length))
    }
    s
  }

  private def packAscii(bytes: Array[Byte], from: Int, len: Int): Long = {
    var k = 0L; var i = 0
    while (i < len) { k = (k << 8) | (bytes(from + i) & 0xffL); i += 1 }
    k | (len.toLong << 56)
  }

  /** Scan UTF-8 bytes of a text span once: packs (wordCount, stopwordCount)
    * into a long (no tuple allocation). Reads bytes in place via
    * UTF8String.getByte — no copy. Words are runs of non-space bytes
    * (multi-byte UTF-8 is never 0x20, so the byte scan is correct for any
    * input). */
  private def wordStats(t: UTF8String): Long = {
    val n = t.numBytes()
    var words = 0; var stops = 0
    var i = 0; var start = -1
    var key = 0L; var ascii = true
    while (i <= n) {
      val b: Byte = if (i == n) ' '.toByte else t.getByte(i)
      if (b == ' '.toByte) {
        if (start >= 0) {
          words += 1
          val len = i - start
          if (ascii && len <= 8 &&
            stopKeys.contains(key | (len.toLong << 56))) stops += 1
          start = -1; key = 0L; ascii = true
        }
      } else {
        if (start < 0) start = i
        if (b < 0) ascii = false
        else if (i - start < 8) key = (key << 8) | (b & 0xffL)
      }
      i += 1
    }
    (words.toLong << 32) | (stops.toLong & 0xffffffffL)
  }

  /** Extract one document's spans under the compiled registry `reg`. */
  def extract(arr: ArrayData, reg: CompiledRegistry): InternalRow = {
    val n = arr.numElements()
    val patterns = reg.patterns; val needles = reg.needles

    // ---- gather (kind-code, row) sorted by offset. kind codes:
    // 0 title, 1 text, 2 link, 3 media, 4 boilerplate, 5 unknown
    // pack (offset, idx) into a long so the sort is primitive (no boxing);
    // offset occupies the high 32 bits (shifted to unsigned order), so
    // Arrays.sort(long[]) sorts by offset with idx as the stable tiebreak
    val packed = new Array[Long](n)
    var i = 0
    while (i < n) {
      val st = arr.getStruct(i, 4)
      val off = if (st == null || st.isNullAt(3)) Int.MaxValue else st.getInt(3)
      packed(i) = ((off.toLong - Int.MinValue) << 32) | i.toLong
      i += 1
    }
    java.util.Arrays.sort(packed)
    val order = new Array[Int](n)
    i = 0
    while (i < n) { order(i) = (packed(i) & 0xffffffffL).toInt; i += 1 }

    def kindCode(k: UTF8String): Int =
      if (k.equals(K_TEXT)) 1
      else if (k.equals(K_MEDIA)) 3
      else if (k.equals(K_TITLE)) 0
      else if (k.equals(K_LINK)) 2
      else if (k.equals(K_NAV) || k.equals(K_AD) || k.equals(K_FOOTER)) 4
      else 5

    val kinds = new Array[Int](n)
    i = 0
    while (i < n) {
      val st = arr.getStruct(order(i), 4)
      // null struct / null kind → unknown (dropped); valid data never
      // carries such spans
      kinds(i) =
        if (st == null || st.isNullAt(0)) 5 else kindCode(st.getUTF8String(0))
      i += 1
    }
    @inline def span(pos: Int): InternalRow = arr.getStruct(order(pos), 4)
    @inline def u8(st: InternalRow, ord: Int): UTF8String = {
      val v = if (st.isNullAt(ord)) null else st.getUTF8String(ord)
      if (v == null) EMPTY else v
    }

    // ---- single dispatch pass: rule index + Matcher per media span,
    // computed exactly ONCE (the classify loop and its variant-run scan
    // reuse these — previously each media span was regex-matched 2-3×).
    // ruleIdx: -1 = media with no matching rule; -2 = not media / empty ref
    val ruleIdx = new Array[Int](n)
    val matchers = new Array[Matcher](n)
    var bestRule = Int.MaxValue
    var hasMedia = false
    i = 0
    while (i < n) {
      ruleIdx(i) = -2
      if (kinds(i) == 3) {
        val ref = u8(span(i), 2)
        if (ref.numBytes() > 0) {
          hasMedia = true
          // first match in registry order (CompiledRegistry.dispatch, inline)
          var found = -1
          var refStr: String = null
          var r = 0
          while (found < 0 && r < patterns.length) {
            if (needles(r) == null || ref.contains(needles(r))) {
              if (refStr == null) refStr = ref.toString
              val m = patterns(r).matcher(refStr)
              if (m.matches()) { found = r; matchers(i) = m }
            }
            r += 1
          }
          ruleIdx(i) = found
          if (found >= 0 && found < bestRule) bestRule = found
        }
      }
      i += 1
    }
    val extractor =
      if (bestRule != Int.MaxValue) reg.namesU8(bestRule)
      else if (hasMedia) X_GENERIC
      else X_TEXTONLY

    // ---- classify
    val out = new java.util.ArrayList[InternalRow](n)
    def emit(kind: UTF8String, text: UTF8String, ref: UTF8String): Unit =
      out.add(new GenericInternalRow(Array[Any](kind, text, ref, out.size())))

    i = 0
    while (i < n) {
      val s = span(i)
      kinds(i) match {
        case 4 | 5 => // boilerplate / unknown: drop
        case 0 => emit(K_TITLE, u8(s, 1), EMPTY)
        case 1 =>
          val t = u8(s, 1)
          val ws = wordStats(t)
          val words = (ws >>> 32).toInt; val stops = ws.toInt
          val adj = (i > 0 && kinds(i - 1) == 0) || (i + 1 < n && kinds(i + 1) == 0)
          if (words >= 5 || (words >= 3 && stops >= 1) || (adj && words >= 2))
            emit(K_TEXT, t, EMPTY)
        case 2 =>
          val t = u8(s, 1)
          if ((wordStats(t) >>> 32) >= 8) emit(K_TEXT, t, EMPTY)
        case 3 =>
          if (ruleIdx(i) >= 0) {
            // variant run: consecutive media spans with the same group key
            // (rule/matcher reused from the dispatch pass — no re-matching)
            val rule = reg.rules(ruleIdx(i)); val m = matchers(i)
            val key = reg.groupKey(rule, m)
            var bestQ = Registry.quality(reg.extOf(rule, m))
            var bestRuleR = rule; var bestM = m
            var j = i + 1; var run = true
            while (run && j < n && kinds(j) == 3 && ruleIdx(j) >= 0) {
              val r2 = reg.rules(ruleIdx(j)); val m2 = matchers(j)
              if (reg.groupKey(r2, m2) == key) {
                val q2 = Registry.quality(reg.extOf(r2, m2))
                if (q2 > bestQ) { bestQ = q2; bestM = m2; bestRuleR = r2 }
                j += 1
              } else run = false
            }
            emit(K_MEDIA, u8(s, 1),
              UTF8String.fromString(reg.canonicalize(bestRuleR, bestM)))
            i = j - 1
          } else {
            val ref = u8(s, 2)
            if (ref.numBytes() > 0) emit(K_MEDIA, u8(s, 1), ref)
          }
      }
      i += 1
    }

    val conf = if (n == 0) 0.0 else out.size().toDouble / n
    new GenericInternalRow(Array[Any](
      new GenericArrayData(out.toArray(new Array[InternalRow](out.size()))),
      extractor, conf))
  }
}
