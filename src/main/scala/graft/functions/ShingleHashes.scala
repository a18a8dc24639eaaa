package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_hashes(text, k)` — distinct 64-bit hashes of the word-level
  * k-shingles of a text column, in one pass.
  *
  * Semantically identical to the composed pipeline
  * `array_distinct(transform(shingles(tokens(text), k), s => xxhash64(s)))`
  * (same whitespace tokenization, same "whole text" fallback for < k tokens,
  * same xxhash64 seed 42), but the composed form is a chain of regex split +
  * interpreted lambda filter + transform + concat_ws + distinct — and
  * Catalyst re-inlines it at every use site. MinHash candidate generation
  * evaluates it on both sides of the bucket self-join plus the verification
  * rejoin, so the per-evaluation cost is the whole operator's floor.
  */
case class ShingleHashes(child: Expression, k: Int)
  extends UnaryExpression {

  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${other.sql}")
  }

  /** The kernel, callable from generated code. */
  def computeHashes(u: UTF8String): GenericArrayData =
    new GenericArrayData(ShingleHashes.distinctHashes(u, k))

  override def nullSafeEval(v: Any): Any = computeHashes(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleKernel", this, classOf[ShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.computeHashes($a);")
  }

  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

object ShingleHashes {

  /** Distinct 64-bit k-shingle hashes of a text, insertion-ordered. Shared
    * by [[ShingleHashes]] and [[MinHashBands]] so both sides of a MinHash
    * pipeline see identical shingle sets. */
  def distinctHashes(u: UTF8String, k: Int): Array[Long] = {
    // whitespace tokenization, empties dropped (== tokens() semantics)
    val toks = TextKernel.tokenize(u.toString, lower = false)
    val out = mutable.LinkedHashSet.empty[Long]
    def hashOf(sh: String): Long =
      XXH64.hashUTF8String(UTF8String.fromString(sh), 42L)
    if (toks.length < k) {
      out += hashOf(toks.mkString(" "))
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
        out += hashOf(sb.toString)
        j += 1
      }
    }
    out.toArray
  }
}
