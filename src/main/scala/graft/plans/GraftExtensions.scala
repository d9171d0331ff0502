package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ExpressionColumns
import graft.{ExtractorRule, Registry}

/** Registration of graft's native expressions.
  *
  * Two entry points:
  *  - `spark.sql.extensions=graft.plans.GraftExtensions` (spark-submit) —
  *    the idiomatic SparkSessionExtensions route;
  *  - [[GraftFunctions.register]] for an already-built session (tests,
  *    harness mains).
  *
  * After either, `extract_spans(spans)` is available in SQL and expr();
  * [[GraftFunctions.extractSpans]] is the Column form, which also takes a
  * registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.extractSpansDescriptor)
  }
}

object GraftFunctions {

  private[plans] val extractSpansDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("extract_spans"),
    new ExpressionInfo(classOf[ExtractExpression].getName, "extract_spans"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "extract_spans takes exactly one argument")
      ExtractExpression(children.head)
    })

  /** Idempotent runtime registration on an existing session. */
  def register(spark: SparkSession): Unit = {
    val (id, info, builder) = extractSpansDescriptor
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }

  /** `extract_spans(spans)` under `rules` as a Column — the Scala route
    * that can carry an edited registry (SQL syntax always dispatches on the
    * built-in one). */
  def extractSpans(spans: Column, rules: Seq[ExtractorRule] = Registry.rules): Column =
    ExpressionColumns.column(ExtractExpression(ExpressionColumns.expression(spans), rules))

  /** Extraction as one native expression — no object stage, zero-copy
    * span text — under `rules` (default: the built-in registry; a backfill
    * passes its edited set). Output columns match ExtractedDoc. */
  def extractColumnar(docs: DataFrame, rules: Seq[ExtractorRule] = Registry.rules): DataFrame = {
    import org.apache.spark.sql.functions.{col, size}
    docs.select(col("doc_id"), extractSpans(col("spans"), rules).as("__ex"),
        size(col("spans")).as("__n_in"), col("domain"), col("bucket"))
      .select(col("doc_id"), col("__ex.spans").as("spans"),
        col("__ex.extractor").as("extractor"),
        col("__ex.confidence").as("confidence"),
        col("domain"), col("bucket"),
        col("__n_in").as("spans_in"))
  }
}
