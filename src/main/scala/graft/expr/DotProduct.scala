package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Dot product of two double-array columns as a NATIVE codegen'd Catalyst
  * expression — the scalar kernel of every embedding operator (cosine
  * similarity, norms via dot(a, a)).
  *
  * The HOF formulation `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
  * evaluates interpreted lambdas per element AND materializes the zipped
  * intermediate array per row; this expression is one fused loop inside
  * whole-stage codegen. For array<double> inputs (the only type this
  * expression accepts — callers pre-cast) semantics match the HOF form
  * exactly, so oracle results are bit-identical:
  *
  *  - summation is sequential ascending (same fp rounding order as
  *    DuckDB's list_* kernels);
  *  - mismatched lengths → NULL (zip_with pads the shorter side with
  *    nulls, which nullifies the HOF sum);
  *  - a NULL element on either side → NULL.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(t: DataType) = t match {
    case ArrayType(DoubleType, _) => true
    case _                        => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two array<double> inputs, got " +
        s"${left.dataType} and ${right.dataType}")
  override def dataType: DataType = DoubleType
  // a non-null pair of arrays can still produce NULL (length mismatch /
  // null element), so the expression manages its own result nullability
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    DotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val aEv = left.genCode(ctx)
    val bEv = right.genCode(ctx)
    val boxed = ctx.freshName("dotBoxed")
    ev.copy(code =
      code"""
        ${aEv.code}
        ${bEv.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${aEv.isNull} && !${bEv.isNull}) {
          java.lang.Double $boxed = graft.expr.DotProduct$$.MODULE$$.dotBoxed(
            ${aEv.value}, ${bEv.value});
          if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.doubleValue(); }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** Fused dot kernel; called from generated code. Returns null (boxed) on
    * length mismatch or null element, mirroring the HOF semantics. */
  def dotBoxed(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  private[expr] def dot(a: ArrayData, b: ArrayData): Any = dotBoxed(a, b)

  def of(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
}
