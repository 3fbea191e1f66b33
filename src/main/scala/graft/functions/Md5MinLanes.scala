package graft.functions

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** md5-keyed MinHash signature of a shingle-STRING array as one native
  * expression: lane k's value is `min(md5(k || ":" || shingle))` over the
  * doc's shingles — BIT-IDENTICAL to the composable HOF form
  * `transform(sequence(0, lanes-1), k => array_min(transform(sh,
  * s => md5(concat(k, ":", s)))))` (Spark's Md5 is lowercase hex over
  * UTF-8 bytes = commons-codec `md5Hex`; `array_min` on strings is
  * UTF8String binary order = byte order on ASCII hex — Md5MinLanesSpec
  * pins the equality), and to the DuckDB oracle's identical md5 chain.
  *
  * Why an expression: the HOF form is a nested lambda tree evaluated
  * INTERPRETED — lanes × shingles md5 calls each pay expression-tree
  * dispatch and a concat allocation, and the tree blocks whole-stage
  * codegen (the round-17 char-entropy lesson). Here the whole signature
  * is one fused loop — prefix bytes per lane precomputed once, one
  * byte-array concat per (shingle, lane), straight into codegen via a
  * static call. The md5 keying (not xxhash64) is what keeps
  * [[graft.operators.MinHashLSH]] DuckDB-replayable. */
case class Md5MinLanes(child: Expression, lanes: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if lanes > 0 && lanes <= Md5MinLanes.MaxLanes =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"lanes must be in 1..${Md5MinLanes.MaxLanes}, got $lanes")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_md5_minhash needs array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_md5_minhash"

  override protected def nullSafeEval(input: Any): Any =
    Md5MinLanes.compute(input.asInstanceOf[ArrayData], lanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Md5MinLanes.compute($a, $lanes);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5MinLanes {
  /** Hard ceiling on the lane count — bounds the precomputed prefix table
    * and catches a mistyped lane constant loud. */
  val MaxLanes = 64

  /** `"k:"` as UTF-8 bytes per lane, computed once per JVM — the only
    * per-(shingle, lane) work left is one array concat + one md5. */
  private val prefixes: Array[Array[Byte]] =
    Array.tabulate(MaxLanes)(k => s"$k:".getBytes("UTF-8"))

  /** Static (forwarder) entry point shared by the interpreted and
    * generated paths — one implementation, zero drift. */
  def compute(a: ArrayData, lanes: Int): ArrayData = {
    val n = a.numElements()
    val mins = new Array[UTF8String](lanes)
    var j = 0
    while (j < n) {
      if (!a.isNullAt(j)) { // array_min skips nulls; match it
        val s = a.getUTF8String(j).getBytes
        var k = 0
        while (k < lanes) {
          val p = prefixes(k)
          val buf = new Array[Byte](p.length + s.length)
          System.arraycopy(p, 0, buf, 0, p.length)
          System.arraycopy(s, 0, buf, p.length, s.length)
          val h = UTF8String.fromString(DigestUtils.md5Hex(buf))
          if (mins(k) == null || h.compareTo(mins(k)) < 0) mins(k) = h
          k += 1
        }
      }
      j += 1
    }
    new GenericArrayData(mins.asInstanceOf[Array[Any]])
  }

  /** Column API: 8-lane-style md5 minhash signature of an array<string>
    * shingle column. */
  def md5MinLanes(sh: Column, lanes: Int): Column =
    GraftBridge.column(Md5MinLanes(GraftBridge.expression(sh), lanes))
}
