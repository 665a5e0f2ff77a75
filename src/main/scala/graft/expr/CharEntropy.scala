package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shannon entropy of a string's CHARACTER distribution (bits per
  * char), as a native codegen'd expression — the cheap gibberish/
  * boilerplate filter: natural prose sits ~4-4.5 bits, single-char
  * runs at 0, base64/random keys push toward log2(alphabet), and
  * mojibake from double-encoding spikes it. One fused per-row pass —
  * a quality-filter predicate like `char_entropy(text) between 2 and 5`
  * never leaves whole-stage codegen.
  *
  *   H = − Σ_c (n_c / n) · log2(n_c / n)     over Unicode CODEPOINTS
  *
  * (codepoints, not UTF-16 units, so astral chars count once and the
  * result matches engines that split on codepoints). Empty string → 0.
  * Summation iterates the codepoint→count map in FIRST-APPEARANCE
  * order, so the value is deterministic for a given string. */
case class CharEntropy(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_entropy requires a string input, got ${child.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_char_entropy"

  override protected def nullSafeEval(input: Any): Any =
    CharEntropy.entropy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expr.CharEntropy$$.MODULE$$.entropy($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object CharEntropy {

  private val LOG2 = math.log(2.0)

  /** Codepoint-distribution entropy in bits; called from generated
    * code. Insertion-ordered map keeps the summation order (and so the
    * double result) deterministic per input. */
  def entropy(s: UTF8String): Double = {
    val str = s.toString
    if (str.isEmpty) return 0.0
    val counts = new java.util.LinkedHashMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      val cell = counts.get(cp)
      if (cell == null) counts.put(cp, Array(1L)) else cell(0) += 1
    }
    var h = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next()(0).toDouble / n
      h -= p * (math.log(p) / LOG2)
    }
    h
  }

  def of(c: Column): Column =
    Bridge.column(CharEntropy(Bridge.expression(c)))
}
