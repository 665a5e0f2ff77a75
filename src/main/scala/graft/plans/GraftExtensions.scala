package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** SparkSessionExtensions entry point for the engine's Catalyst tier:
  *
  *  - registers `exact_percentile(col, array(p...))` as a SQL function
  *    (the primitive-buffer TypedImperativeAggregate from graft.expr);
  *  - injects [[StrataUnionRewrite]], the opt-in optimizer rule that
  *    collapses the stratification FILTERED path (union of per-stratum
  *    global aggregates) into one grouped aggregate (SURVEY §4's
  *    large-cardinality strata rewrite).
  *
  * Enable with:
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.exactPercentileDescriptor)
    ext.injectFunction(GraftExtensions.removeAccentsDescriptor)
    ext.injectFunction(GraftExtensions.normalizeTextDescriptor)
    ext.injectFunction(GraftExtensions.dotProductDescriptor)
    ext.injectFunction(GraftExtensions.cosineDescriptor)
    ext.injectFunction(GraftExtensions.jaroDescriptor)
    ext.injectFunction(GraftExtensions.jaroWinklerDescriptor)
    ext.injectFunction(GraftExtensions.charEntropyDescriptor)
    GraftExtensions.columnFunctionDescriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => StrataUnionRewrite)
  }
}

object GraftExtensions {

  /** Evaluate the foldable percentage argument. SQL literals like 0.25
    * arrive as DECIMAL, so element conversion is type-directed. */
  private def percentagesOf(e: Expression): Seq[Double] = {
    require(e.foldable, "exact_percentile percentages must be foldable")
    def toD(v: Any): Double = v match {
      case d: java.lang.Double                     => d
      case f: java.lang.Float                      => f.toDouble
      case n: java.lang.Number                     => n.doubleValue()
      case d: org.apache.spark.sql.types.Decimal   => d.toDouble
      case other => throw new IllegalArgumentException(
        s"unsupported percentage literal: $other")
    }
    (e.dataType, e.eval()) match {
      case (org.apache.spark.sql.types.ArrayType(et, _), a: ArrayData) =>
        a.toObjectArray(et).map(toD).toSeq
      case (_, v) => Seq(toD(v))
    }
  }

  val exactPercentileDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("exact_percentile"),
    new ExpressionInfo(classOf[graft.expr.ExactPercentile].getName,
      "exact_percentile"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2,
        "usage: exact_percentile(col, percentage | array(percentages))")
      graft.expr.ExactPercentile(
        org.apache.spark.sql.catalyst.expressions.Cast(exprs.head, DoubleType),
        percentagesOf(exprs(1)))
    })

  val removeAccentsDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("remove_accents"),
    new ExpressionInfo(classOf[graft.expr.RemoveAccents].getName,
      "remove_accents"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1, "usage: remove_accents(col)")
      graft.expr.RemoveAccents(exprs.head)
    })

  val normalizeTextDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("normalize_text"),
    new ExpressionInfo(classOf[graft.expr.NormalizeText].getName,
      "normalize_text"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1, "usage: normalize_text(col)")
      graft.expr.NormalizeText(exprs.head)
    })

  /** Engine Column-builders surfaced as one-arg SQL functions: any
    * `Column => Column` composes into an Expression builder through the
    * bridge, so the text-analysis tier is callable from plain SQL
    * (`SELECT graft_quality(text) FROM docs`). */
  val columnFunctionDescriptors: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.graft.Bridge
    def oneArg(name: String, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = (
      FunctionIdentifier(name),
      new ExpressionInfo(GraftExtensions.getClass.getName, name),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"usage: $name(col)")
        Bridge.resolvedExpression(f(Bridge.column(exprs.head)))
      })
    Seq(
      oneArg("graft_fingerprint", graft.pipeline.TextAnalysis.fingerprint),
      oneArg("graft_simhash", graft.pipeline.Dedup.simhash),
      oneArg("graft_quality", graft.pipeline.TextAnalysis.qualityScore),
      oneArg("graft_token_count",
        c => graft.pipeline.TextAnalysis.tokenCount(c).cast("int")),
      oneArg("graft_lang_id", graft.pipeline.TextAnalysis.languageId))
  }

  val dotProductDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[graft.expr.DotProduct].getName, "graft_dot"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "usage: graft_dot(array_col, array_col)")
      graft.expr.DotProduct(
        org.apache.spark.sql.catalyst.expressions.Cast(exprs.head,
          org.apache.spark.sql.types.ArrayType(DoubleType)),
        org.apache.spark.sql.catalyst.expressions.Cast(exprs(1),
          org.apache.spark.sql.types.ArrayType(DoubleType)))
    })

  val charEntropyDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_char_entropy"),
    new ExpressionInfo(classOf[graft.expr.CharEntropy].getName,
      "graft_char_entropy"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1, "usage: graft_char_entropy(str_col)")
      graft.expr.CharEntropy(exprs.head)
    })

  val jaroDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_jaro"),
    new ExpressionInfo(classOf[graft.expr.JaroSimilarity].getName,
      "graft_jaro"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "usage: graft_jaro(str_col, str_col)")
      graft.expr.JaroSimilarity(exprs.head, exprs(1))
    })

  val jaroWinklerDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_jaro_winkler"),
    new ExpressionInfo(classOf[graft.expr.JaroWinklerSimilarity].getName,
      "graft_jaro_winkler"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2,
        "usage: graft_jaro_winkler(str_col, str_col)")
      graft.expr.JaroWinklerSimilarity(exprs.head, exprs(1))
    })

  /** graft_cosine(a, b): composed from the native graft_dot kernels —
    * dot(a,b) / sqrt(dot(a,a)·dot(b,b)), matching DuckDB's
    * list_cosine_similarity fold order. */
  val cosineDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[graft.expr.DotProduct].getName, "graft_cosine"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, "usage: graft_cosine(array_col, array_col)")
      import org.apache.spark.sql.graft.Bridge
      Bridge.resolvedExpression(graft.pipeline.Dedup.cosine(
        Bridge.column(exprs.head), Bridge.column(exprs(1))))
    })
}
