package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_strings(text, k)` — the DISTINCT word-level k-shingles of a text
  * column as strings, in one pass. The string-emitting sibling of
  * [[ShingleHashes]] (same whitespace tokenization, same "whole text"
  * fallback for < k tokens, same insertion order as `array_distinct`).
  *
  * Replaces the composed
  * `array_distinct(shingles(tokens(text), k))` in the exact set-similarity
  * join: that form is a regex split + THREE higher-order functions (filter,
  * transform, per-element concat_ws over a slice) — every HOF is
  * CodegenFallback, interpreted per element with a fresh slice allocation
  * per shingle — and it was q143's single heaviest stage (the eager shingle
  * checkpoint: 4.0 s warm of the 8.4 s total at sf0.1; guide §1.2 per-task
  * work). This kernel is one linear scan per document.
  */
case class ShingleStrings(child: Expression, k: Int)
  extends UnaryExpression {

  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_strings"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${other.sql}")
  }

  /** The kernel, callable from generated code. */
  def computeShingles(u: UTF8String): GenericArrayData =
    new GenericArrayData(ShingleStrings.distinctShingles(u, k))

  override def nullSafeEval(v: Any): Any = computeShingles(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleStrKernel", this, classOf[ShingleStrings].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.computeShingles($a);")
  }

  override protected def withNewChildInternal(c: Expression): ShingleStrings = copy(child = c)
}

object ShingleStrings {

  /** Distinct k-shingle strings of a text, insertion-ordered — the string
    * twin of [[ShingleHashes.distinctHashes]] (hashing each returned shingle
    * with xxhash64 seed 42 reproduces that function exactly). */
  def distinctShingles(u: UTF8String, k: Int): Array[Any] = {
    val toks = TextKernel.tokenize(u.toString, lower = false)
    val out = mutable.LinkedHashSet.empty[String]
    if (toks.length < k) {
      out += toks.mkString(" ")
    } else {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j <= toks.length - k) {
        sb.setLength(0)
        var t = 0
        while (t < k) {
          if (t > 0) sb.append(' ')
          sb.append(toks(j + t))
          t += 1
        }
        out += sb.toString
        j += 1
      }
    }
    val arr = new Array[Any](out.size)
    var idx = 0
    out.foreach { sh => arr(idx) = UTF8String.fromString(sh); idx += 1 }
    arr
  }
}
