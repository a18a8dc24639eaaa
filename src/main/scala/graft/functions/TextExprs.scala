package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text-analysis kernels. The composed `functions._` forms
  * re-tokenize the text at every reference (CollapseProject inlining — the
  * same effect measured in the MinHash pipeline); these walk the string once
  * per row.
  */
private[graft] object TextKernel {
  /** Java regex `\s`, i.e. `[ \t\n\x0B\f\r]`: the separator class of the
    * composed `TextAnalysis.tokens` (`split(c, "\\s+")`). Not
    * `Character.isWhitespace`, which also splits on U+001C–U+001F and the
    * Unicode space separators (U+3000, U+2028, ...). */
  @inline def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Whitespace tokens of `s`, optionally lower-cased. */
  def tokenize(s: String, lower: Boolean): Array[String] = {
    val src = if (lower) s.toLowerCase(java.util.Locale.ROOT) else s
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = src.length
    while (i < n) {
      while (i < n && isSpace(src.charAt(i))) i += 1
      val start = i
      while (i < n && !isSpace(src.charAt(i))) i += 1
      if (i > start) out += src.substring(start, i)
    }
    out.toArray
  }
}

/** `word_shingles(text, k)` — word-level k-shingles as strings, with
  * multiplicity (unlike [[ShingleHashes]], which is distinct hashes); the
  * whole text joined when fewer than k tokens. One pass per row. */
case class WordShingles(child: Expression, k: Int)
  extends UnaryExpression {

  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${other.sql}")
  }

  /** The kernel, callable from generated code. */
  def computeShingles(u: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val toks = TextKernel.tokenize(u.toString, lower = false)
    val out =
      if (toks.length < k) Array(UTF8String.fromString(toks.mkString(" ")))
      else {
        val res = new Array[AnyRef](toks.length - k + 1)
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
          res(j) = UTF8String.fromString(sb.toString)
          j += 1
        }
        res.asInstanceOf[Array[AnyRef]]
      }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = computeShingles(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingleKernel", this, classOf[WordShingles].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.computeShingles($a);")
  }

  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}

/** `lang_id(text)` — stopword-overlap language ID over the engine's
  * stopword tables; deterministic argmax with ties to the lexicographically
  * larger code; "und" when nothing matches. One tokenization pass per row. */
case class LangId(child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${other.sql}")
  }

  // (langCode, stopword set) sorted by code — argmax keeps the LAST max,
  // matching greatest(struct(score, lang)) tie semantics
  @transient private lazy val tables: Array[(String, java.util.HashSet[String])] =
    graft.operators.TextAnalysis.stopwords.toArray.sortBy(_._1).map { case (lang, ws) =>
      val s = new java.util.HashSet[String]()
      ws.foreach(s.add)
      (lang, s)
    }

  /** The kernel, callable from generated code. */
  def computeLang(u: UTF8String): UTF8String = {
    val toks = TextKernel.tokenize(u.toString, lower = true)
    // score = |distinct tokens ∩ stopwords| (array_intersect is set-valued)
    var bestLang: String = null
    var bestScore = 0
    var ti = 0
    val seen = new java.util.HashSet[String]()
    while (ti < tables.length) {
      val (lang, set) = tables(ti)
      seen.clear()
      var s = 0
      var i = 0
      while (i < toks.length) {
        val t = toks(i)
        if (set.contains(t) && seen.add(t)) s += 1
        i += 1
      }
      if (s >= bestScore) { bestScore = s; bestLang = lang } // >= keeps last max
      ti += 1
    }
    if (bestScore > 0) UTF8String.fromString(bestLang) else UTF8String.fromString("und")
  }

  override def nullSafeEval(v: Any): Any = computeLang(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langIdKernel", this, classOf[LangId].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.computeLang($a);")
  }

  override protected def withNewChildInternal(c: Expression): LangId = copy(child = c)
}

/** `quality_score(text)` — composite [0,1] quality heuristic: mean of the
  * unique-token ratio and alpha-char ratio, gated to 0 for texts under 3
  * tokens. Same semantics as the composed TextAnalysis.qualityScore, one
  * pass. */
case class QualityScore(child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "quality_score"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${other.sql}")
  }

  /** The kernel, callable from generated code: primitive-returning. */
  def computeScore(u: UTF8String): Double = {
    val s = u.toString
    val toks = TextKernel.tokenize(s, lower = false)
    if (toks.length < 3) return 0.0
    val uniq = new java.util.HashSet[String]()
    toks.foreach(uniq.add)
    var alpha = 0
    var i = 0
    while (i < s.length) {
      if (Character.isLetter(s.charAt(i))) alpha += 1
      i += 1
    }
    val uniqRatio = uniq.size.toDouble / toks.length
    val alphaRatio = alpha.toDouble / s.length
    (uniqRatio + alphaRatio) / 2.0
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Double.valueOf(computeScore(v.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qualityKernel", this, classOf[QualityScore].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.computeScore($a);")
  }

  override protected def withNewChildInternal(c: Expression): QualityScore = copy(child = c)
}

/** `gopher_stats(text)` — the token-derived inputs of the Gopher quality
  * rules (Rae et al. 2021 §A1.1) in ONE tokenization pass per row:
  * `{n_tokens, token_chars, n_alpha_words, n_stop_hits}`. The composed
  * `functions._` form re-tokenizes the text once per metric (measured ~3×
  * slower on q80); this walks the string once. `n_stop_hits` counts
  * DISTINCT Gopher stop words present (the rule's semantics — matches
  * `array_intersect`'s set behavior in the composed form). */
case class GopherStats(child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("token_chars", LongType, nullable = false),
    StructField("n_alpha_words", LongType, nullable = false),
    StructField("n_stop_hits", LongType, nullable = false)))
  override def prettyName: String = "gopher_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${other.sql}")
  }

  @transient private lazy val stops: Array[String] =
    graft.operators.TextAnalysis.gopherStopwords.toArray

  /** The kernel, callable from generated code. */
  def computeStats(u: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = u.toString
    val n = s.length
    var nTok = 0L
    var chars = 0L
    var alphaWords = 0L
    var stopMask = 0
    var i = 0
    while (i < n) {
      while (i < n && TextKernel.isSpace(s.charAt(i))) i += 1
      val start = i
      var hasLetter = false
      while (i < n && !TextKernel.isSpace(s.charAt(i))) {
        if (!hasLetter && Character.isLetter(s.charAt(i))) hasLetter = true
        i += 1
      }
      if (i > start) {
        nTok += 1
        chars += i - start
        if (hasLetter) alphaWords += 1
        // distinct stop words present: case-insensitive compare against the
        // 8-entry table (tokens are short; linear probe beats allocation)
        var w = 0
        while (w < stops.length) {
          if ((stopMask & (1 << w)) == 0 && stops(w).length == i - start) {
            var c = 0
            var eq = true
            while (eq && c < stops(w).length) {
              if (Character.toLowerCase(s.charAt(start + c)) != stops(w).charAt(c)) eq = false
              c += 1
            }
            if (eq) stopMask |= 1 << w
          }
          w += 1
        }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, chars, alphaWords, java.lang.Integer.bitCount(stopMask).toLong))
  }

  override def nullSafeEval(v: Any): Any = computeStats(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gopherStatsKernel", this, classOf[GopherStats].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.computeStats($a);")
  }

  override protected def withNewChildInternal(c: Expression): GopherStats = copy(child = c)
}
