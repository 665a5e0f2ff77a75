package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro and Jaro-Winkler string similarity as NATIVE codegen'd Catalyst
  * expressions — the fuzzy-matching scalar Spark lacks (it ships only
  * `levenshtein`). Entity-resolution pipelines score candidate pairs
  * with JW after blocking; keeping the kernel inside whole-stage
  * codegen means the verify pass over candidate pairs is one fused
  * loop, not a per-row UDF round-trip.
  *
  * Semantics pinned to the de-facto standard (and probed against
  * DuckDB's jaro_similarity / jaro_winkler_similarity so the oracle
  * can replay results):
  *  - either side empty → 0.0 (DuckDB convention, NOT the classic 1.0
  *    for two empties);
  *  - match window = max(len)/2 − 1, transpositions halved;
  *  - Winkler boost only when jaro > 0.7, prefix capped at 4, p = 0.1.
  * Comparison is per UTF-16 code unit (identical to byte-wise engines
  * on ASCII; astral-plane pairs count as two units). */
abstract class JaroBase extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType.isInstanceOf[StringType] &&
        right.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two string inputs, got " +
        s"${left.dataType} and ${right.dataType}")
  override def dataType: DataType = DoubleType
}

case class JaroSimilarity(left: Expression, right: Expression)
    extends JaroBase {
  override def prettyName: String = "graft_jaro"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    JaroWinkler.jaro(l.asInstanceOf[UTF8String].toString,
      r.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.expr.JaroWinkler$$.MODULE$$.jaro($l.toString(), $r.toString())")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroSimilarity =
    copy(left = newLeft, right = newRight)
}

case class JaroWinklerSimilarity(left: Expression, right: Expression)
    extends JaroBase {
  override def prettyName: String = "graft_jaro_winkler"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    JaroWinkler.jaroWinkler(l.asInstanceOf[UTF8String].toString,
      r.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.expr.JaroWinkler$$.MODULE$$.jaroWinkler(" +
        s"$l.toString(), $r.toString())")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerSimilarity =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** Classic Jaro similarity; called from generated code. */
  def jaro(a: String, b: String): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    if (la == 1 && lb == 1) return if (a.charAt(0) == b.charAt(0)) 1.0 else 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var matches = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // transpositions: matched chars compared in order
    var t = 0
    var j = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(j)) j += 1
        if (a.charAt(i) != b.charAt(j)) t += 1
        j += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / la + m / lb + (m - t / 2.0) / m) / 3.0
  }

  /** Jaro-Winkler: prefix boost (cap 4, p = 0.1) above the 0.7
    * threshold; called from generated code. */
  def jaroWinkler(a: String, b: String): Double = {
    val j = jaro(a, b)
    if (j <= 0.7) return j
    var prefix = 0
    val max = math.min(4, math.min(a.length, b.length))
    while (prefix < max && a.charAt(prefix) == b.charAt(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }

  def of(a: Column, b: Column): Column =
    Bridge.column(JaroSimilarity(Bridge.expression(a), Bridge.expression(b)))
  def winkler(a: Column, b: Column): Column =
    Bridge.column(JaroWinklerSimilarity(
      Bridge.expression(a), Bridge.expression(b)))
}
