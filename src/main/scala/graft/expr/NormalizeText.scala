package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The CCNet/Gopher "fuzzy-exact" canonical text key as ONE native
  * Catalyst expression — byte-identical to the four-op column chain
  *
  *   trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9\\s]", " "),
  *        "\\s+", " "))
  *
  * but in a single pass with zero intermediate strings. The chain's
  * semantics collapse to: after Unicode lowercasing, every code unit
  * outside [a-z0-9] is a separator (whether Java-\s whitespace or a char
  * the first regexp turned into a space — both fall into the second
  * regexp's \s+ run), separator runs between kept runs emit a single
  * 0x20, and leading/trailing separators vanish (trim strips the one
  * space a boundary run collapses to).
  *
  * Why an expression and not the regex chain: the chain is the measured
  * per-row CPU wall of the normalized-dedup family (two full regex
  * scans + two materialized intermediates per document). This version
  * does one scan; pure-ASCII inputs (the overwhelming majority of any
  * web corpus) take a byte-level path with a single output allocation
  * and no UTF-16 decode at all. Non-ASCII inputs fall back to
  * `UTF8String.toLowerCase` — the exact routine Spark's `lower` uses
  * under UTF8_BINARY collation — so lowercasing stays bit-compatible
  * (e.g. İ → i+combining-dot, which the separator pass then handles
  * identically to the regex chain).
  *
  * Stays inside whole-stage codegen via `doGenCode` (a UDF here would
  * split the span and box every row). Null-propagating unary.
  */
case class NormalizeText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"normalize_text requires a string input, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_text"

  override protected def nullSafeEval(input: Any): Any =
    NormalizeText.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expr.NormalizeText$$.MODULE$$.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

object NormalizeText {

  /** Single-pass normalization; called from generated code. */
  def normalize(s: UTF8String): UTF8String = {
    val n = s.numBytes
    // ASCII fast path: scan bytes directly; bail to the Unicode path on
    // the first high byte (UTF-8 continuation/lead bytes are negative as
    // JVM signed bytes). Output can never exceed the input length —
    // every input byte maps to at most one output byte.
    val out = new Array[Byte](n)
    var o = 0
    var pendingSep = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0) return normalizeUnicode(s) // non-ASCII: full path
      val c =
        if (b >= 'A' && b <= 'Z') (b + 32).toByte
        else b
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSep && o > 0) { out(o) = ' '; o += 1 }
        pendingSep = false
        out(o) = c; o += 1
      } else pendingSep = true
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** Unicode path: lowercase with the same routine Spark's `lower`
    * uses, then the identical keep/separator pass over UTF-16 units.
    * Surrogate pairs are two separator units → one separator run →
    * same single space the regex chain produces for the code point. */
  private def normalizeUnicode(s: UTF8String): UTF8String = {
    val lowered = s.toLowerCase.toString
    val n = lowered.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSep = false
    var i = 0
    while (i < n) {
      val c = lowered.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSep && sb.length > 0) sb.append(' ')
        pendingSep = false
        sb.append(c)
      } else pendingSep = true
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  def of(c: Column): Column = Bridge.column(NormalizeText(Bridge.expression(c)))
}
