package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Accent folding as a NATIVE Catalyst expression (reference
  * `remove_accents`, handyspark/sql/string.py:22-29: NFKD-normalize then
  * strip combining marks).
  *
  * Implemented with `doGenCode` so it stays inside whole-stage codegen —
  * a Scala UDF here would break the codegen span and pay per-row
  * encoder/null-boxing overhead. Null propagation comes from the standard
  * null-safe unary scaffolding.
  */
case class RemoveAccents(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"remove_accents requires a string input, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = "remove_accents"

  override protected def nullSafeEval(input: Any): Any =
    RemoveAccents.strip(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expr.RemoveAccents$$.MODULE$$.strip($c)")

  override protected def withNewChildInternal(newChild: Expression): RemoveAccents =
    copy(child = newChild)
}

object RemoveAccents {
  private val marks = java.util.regex.Pattern.compile("\\p{M}")

  /** NFKD-normalize + drop combining marks; called from generated code. */
  def strip(s: UTF8String): UTF8String = {
    val norm = java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFKD)
    UTF8String.fromString(marks.matcher(norm).replaceAll(""))
  }

  def of(c: Column): Column = Bridge.column(RemoveAccents(Bridge.expression(c)))
}
