package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fixed-point character-entropy of a string as ONE native expression:
  * text → milli-bits, H = (n·ml2(n) − Σ cnt·ml2(cnt)) div n over the
  * per-code-point histogram, where ml2 is the repo's shared fixed-point
  * milli-log2 (exponent via bit length, octave fraction by floor-div
  * interpolation — `QualityClassifier.ml2`'s formula verbatim, so the
  * value is integer-identical to the explode+aggregate audit form
  * `text_char_entropy`; `CharEntropySpec` pins that on fixtures and the
  * whole corpus).
  *
  * Why an expression and not higher-order functions: the admission-gate
  * form ([[graft.operators.TextAnalysis.charEntropyMilliCol]]) must stay a
  * row-local projection — no explode, no exchange — but Spark evaluates
  * lambda functions INTERPRETED, and both per-row histogram shapes
  * (distinct×filter, sorted-run fold) measured seconds-per-thousand-docs:
  * ~35 s for the composed pipeline at sf0.1 against v1's 1.2 s. This
  * expression is one fused O(chars) Java loop inside whole-stage codegen
  * (the [[Md5MinLanes]] posture): an int[128] fast path for ASCII plus a
  * boxed map for the astronomically-rare rest.
  *
  * Unit note: counts are per Unicode CODE POINT; the audit form counts
  * `split(text, '')` elements. The two coincide on every BMP string (and
  * exactly on this ASCII corpus — spec-pinned); supplementary-plane text
  * would differ only by surrogate-pair accounting, and the gate's band
  * semantics do not care at that resolution. */
case class CharEntropyMilli(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_char_entropy needs string, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_char_entropy"

  override protected def nullSafeEval(input: Any): Any =
    CharEntropyMilli.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.CharEntropyMilli.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharEntropyMilli {

  /** The shared fixed-point milli-log2 — `QualityClassifier.ml2` in Java
    * form, for positive x. */
  private def ml2(x: Long): Long = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    1000L * e + ((x - (1L << e)) * 1000L) / (1L << e)
  }

  /** Static entry shared by the interpreted eval and the generated code
    * (the codegen emits one static call — the loop itself never inflates
    * the generated method past JIT limits). Empty string → 0, matching
    * the audit form's COALESCE sentinel. */
  def compute(u: UTF8String): Long = {
    val s = u.toString
    val len = s.length
    if (len == 0) return 0L
    val ascii = new Array[Int](128)
    var other: java.util.HashMap[Integer, Array[Int]] = null
    var n = 0L
    var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.HashMap[Integer, Array[Int]]()
        val cell = other.computeIfAbsent(cp, _ => new Array[Int](1))
        cell(0) += 1
      }
    }
    var sum = 0L
    var c = 0
    while (c < 128) {
      val cnt = ascii(c)
      if (cnt > 0) sum += cnt.toLong * ml2(cnt.toLong)
      c += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) {
        val cnt = it.next()(0).toLong
        sum += cnt * ml2(cnt)
      }
    }
    (n * ml2(n) - sum) / n
  }

  /** Column API: fixed-point char-entropy milli-bits of a string column
    * (null text → 0, the audit form's sentinel). */
  def charEntropyMilli(text: Column): Column =
    org.apache.spark.sql.functions.coalesce(
      GraftBridge.column(CharEntropyMilli(GraftBridge.expression(text))),
      org.apache.spark.sql.functions.lit(0L))
}
