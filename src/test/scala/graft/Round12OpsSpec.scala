package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 optimization guards: internals changed for speed must stay
  * bit-identical to the shapes they replaced. */
class Round12OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  /** The OLD q279 replicate pipeline (r11 form): per-row hex-digit bitmask,
    * ×R explode, declarative (g, b) aggregation with decimal buffers — the
    * ground truth the single-pass [[graft.functions.ReplicateMoments]]
    * aggregate must reproduce exactly. */
  private def repsViaExplode(base: DataFrame, r: Int): DataFrame =
    base
      .withColumn("mask", when(col("h").isNotNull,
        (0 until r).map(b =>
            when(ascii(col("h").substr(lit(b + 1), lit(1))) <= 55,
              lit(1L << b)).otherwise(0L))
          .reduce(_ + _)))
      .select(col("g"), col("v"), col("mask"))
      .withColumn("b", explode(sequence(lit(0), lit(r - 1))))
      .withColumn("parm", expr("(shiftright(mask, b) & 1) = 1"))
      .groupBy("g", "b")
      .agg(sum(when(col("parm"), 1L).otherwise(0L)).as("m1"),
        sum(when(col("parm"), col("v").cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("t1"))

  private def repsViaAgg(base: DataFrame, r: Int): DataFrame =
    base
      .groupBy("g")
      .agg(GraftFunctions.replicate_moments(col("h"), col("v"), r).as("rm"))
      .select(col("g"), posexplode(col("rm")).as(Seq("b", "m")))
      .select(col("g"), col("b").cast("int").as("b"),
        col("m").getField("m1").as("m1"), col("m").getField("t1").as("t1"))

  test("replicate_moments_agg ≡ explode pipeline (incl. NULL md5, NULL value, negatives)") {
    val rows = Seq(
      ("A", Some("k1"), Some(120L)),
      ("A", Some("k2"), Some(-35L)),
      ("A", Some("k3"), None), // NULL value: counted in m1, skipped by t1
      ("A", None, Some(99L)), // NULL key ⇒ NULL md5 ⇒ no pseudo-arm
      ("B", Some("k4"), Some(7L)),
      ("B", Some("k5"), Some(Long.MaxValue / 4)),
      ("B", Some("k6"), Some(Long.MaxValue / 4)),
      ("C", None, None),
      ("D", Some("kx"), None)) // bit-set slots with ONLY a null value ⇒ t1 NULL
    val base = rows.toDF("g", "k", "v0")
      .select(col("g"), col("v0").as("v"), md5(col("k").cast("string")).as("h"))
    for (r <- Seq(4, 16, 32)) {
      def canon(df: DataFrame) = df.select("g", "b", "m1", "t1").collect()
        .map(x => (x.getString(0), x.getInt(1), x.getLong(2),
          Option(x.getDecimal(3)).map(_.toPlainString).getOrElse("NULL"))).toSet
      val expect = canon(repsViaExplode(base, r))
      val got = canon(repsViaAgg(base, r))
      assert(got == expect, s"r=$r")
    }
  }

  /** The OLD q226 bootstrap cell pipeline (pre-r12): per-(row, replicate)
    * weight law through a ×B explode — ground truth for
    * [[graft.functions.BootstrapMoments]]. */
  private def cellsViaExplode(base: DataFrame, b: Int): DataFrame = {
    val a = ascii(col("h").substr(col("b") + 1, lit(1)))
    val weight = when(a <= 53, 0L)
      .when(a <= 57 || a <= 98 && a >= 97, 1L)
      .when(a <= 100, 2L).otherwise(3L)
    base
      .withColumn("b", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("w", weight)
      .groupBy("g", "b")
      .agg(sum(col("w")).as("wsum"),
        sum(col("w").cast("decimal(38,0)") * col("t").cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("wt"),
        sum(when(col("b") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("b") === 0, col("t").cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("s0"))
  }

  private def cellsViaAgg(base: DataFrame, b: Int): DataFrame =
    base
      .groupBy("g")
      .agg(GraftFunctions.bootstrap_moments(col("h"), col("t"), b).as("bm"))
      .select(col("g"), posexplode(col("bm")).as(Seq("b", "m")))
      .select(col("g"), col("b"),
        col("m").getField("wsum").as("wsum"), col("m").getField("wt").as("wt"),
        col("m").getField("n0").as("n0"), col("m").getField("s0").as("s0"))

  test("bootstrap_moments_agg ≡ explode pipeline (incl. NULL md5, NULL value, negatives)") {
    val rows = Seq(
      ("A", Some("o1"), Some(1050L)),
      ("A", Some("o2"), Some(-990L)),
      ("A", Some("o3"), None), // NULL value: in wsum/n0, not in wt/s0
      ("A", None, Some(77L)), // NULL key ⇒ NULL md5 ⇒ weight 3 each slot
      ("B", Some("o4"), Some(3L)),
      ("B", Some("o5"), Some(Long.MaxValue / 8)),
      ("C", None, None), // group with no non-null value ⇒ wt/s0 NULL
      ("D", Some("ox"), None))
    val base = rows.toDF("g", "k", "v0")
      .select(col("g"), col("v0").as("t"), md5(col("k").cast("string")).as("h"))
      .repartition(4) // force partial/final buffer serialization
    for (b <- Seq(4, 32)) {
      def canon(df: DataFrame) = df.select("g", "b", "wsum", "wt", "n0", "s0")
        .collect()
        .map(x => (x.getString(0), x.getInt(1), x.getLong(2),
          Option(x.getDecimal(3)).map(_.toPlainString).getOrElse("NULL"),
          x.getLong(4),
          Option(x.getDecimal(5)).map(_.toPlainString).getOrElse("NULL"))).toSet
      assert(canon(cellsViaAgg(base, b)) == canon(cellsViaExplode(base, b)), s"b=$b")
    }
  }

  test("shingle_strings ≡ array_distinct(shingles(tokens(text))) on edge cases") {
    import graft.operators.{Dedup, TextAnalysis}
    import org.apache.spark.unsafe.types.UTF8String
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b a b a b", // repeated shingles → dedup order matters
      "one two", // fewer tokens than k → whole-text fallback
      "single",
      "", // no tokens → one empty shingle
      "   leading and   multiple   spaces\ttabs\nnewlines  ",
      "x y z x y z x y z",
      // U+3000, U+2028 and U+001C are Character.isWhitespace but not regex
      // \s; U+00A0 is neither: all four stay inside a token
      "alpha\u3000beta gamma\u2028delta\u001Cepsilon zeta\u00A0eta theta iota",
      "\u3000 lead  \t\u001C  tail \u2028 end")
    val df = texts.toDF("text")
    val toks = TextAnalysis.tokens(col("text"))
    val composed = df.select(col("text"),
      array_distinct(Dedup.shingles(toks, 3)).as("sh"), Dedup.shingles(toks, 3).as("all"))
    val kernel = df.select(col("text"),
      org.apache.spark.sql.graft.GraftBridge.column(
        graft.functions.ShingleStrings(
          org.apache.spark.sql.graft.GraftBridge.expression(col("text")), 3)).as("sh"),
      TextAnalysis.wordShingles(col("text"), 3).as("all"))
    def rows(d: DataFrame) = d.collect().map(r =>
      r.getString(0) -> (r.getSeq[String](1), r.getSeq[String](2))).toMap
    val a = rows(composed)
    val b = rows(kernel)
    assert(a == b) // same shingles, same order (array_distinct keeps first occurrence)
    val viaHashes = df.select(col("text"), GraftFunctions.shingle_hashes(col("text"), 3))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    texts.foreach { t =>
      assert(graft.functions.TextKernel.tokenize(t, lower = false).toSeq ==
        t.split("\\s+").filter(_.nonEmpty).toSeq, t)
      // and the hash twin sees exactly these shingles
      val viaHash = viaHashes(t)
      val hashed = b(t)._1.map(s =>
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
          UTF8String.fromString(s), 42L))
      assert(viaHash == hashed, t)
    }
  }

  test("nano_units + nano_d2 ≡ the aggregate(zip_with(...)) decimal chain") {
    val d2Sql = """aggregate(
      |  zip_with(a, b, (x, y) ->
      |    CAST(CAST(x AS DECIMAL(10,9)) * 1000000000 AS BIGINT)
      |      - CAST(CAST(y AS DECIMAL(10,9)) * 1000000000 AS BIGINT)),
      |  CAST(0 AS DECIMAL(38,0)),
      |  (acc, d) -> CAST(acc + CAST(d AS DECIMAL(38,0))
      |    * CAST(d AS DECIMAL(38,0)) AS DECIMAL(38,0)))""".stripMargin
    val rnd = new scala.util.Random(17)
    def vec(n: Int): Seq[Float] = Seq.fill(n)((rnd.nextDouble() * 19 - 9.5).toFloat)
    // in-grid rows + a length mismatch; out-of-grid/NaN components make the
    // OLD chain THROW under Spark 4's default ANSI casts (and are rejected
    // upstream by requireNanoGridSafe), so the kernel's NULL behavior for
    // them is asserted separately below
    val rows: Seq[(Seq[Float], Seq[Float])] = Seq(
      (vec(64), vec(64)),
      (Seq(0.1f, -0.25f, 9.9999f), Seq(-0.1f, 0.25f, -9.9999f)),
      (Seq(1.5f), Seq(1.5f)),
      (Seq(9.999999f, 0f), Seq(-9.999999f, 0f)), // near the grid edge
      (vec(8), vec(7))) // length mismatch → NULL
    val df = rows.toDF("a", "b")
    def bridge(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      org.apache.spark.sql.graft.GraftBridge.column(e)
    def ex(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graft.GraftBridge.expression(c)
    val both = df.select(
      expr(d2Sql).as("old"),
      bridge(graft.functions.NanoD2Longs(
        ex(bridge(graft.functions.NanoUnits(ex(col("a"))))),
        ex(bridge(graft.functions.NanoUnits(ex(col("b"))))))).as("neu"))
      .collect()
    both.zipWithIndex.foreach { case (r, i) =>
      val o = Option(r.getDecimal(0)).map(_.toPlainString)
      val n = Option(r.getDecimal(1)).map(_.toPlainString)
      assert(o == n, s"row $i: old=$o new=$n")
    }
    // the realistic rows (first four) must be non-null, the mismatch null
    assert(both.take(4).forall(_.getDecimal(0) != null))
    assert(both.drop(4).forall(_.getDecimal(1) == null))
    // kernel-level: out-of-grid and NaN components yield NULL (the non-ANSI
    // cast behavior; unreachable behind requireNanoGridSafe)
    val edge = Seq((Seq(10.5f, 1f), Seq(0f, 1f)), (Seq(Float.NaN, 1f), Seq(0f, 1f)))
      .toDF("a", "b")
      .select(bridge(graft.functions.NanoD2Longs(
        ex(bridge(graft.functions.NanoUnits(ex(col("a"))))),
        ex(bridge(graft.functions.NanoUnits(ex(col("b"))))))).as("d"))
      .collect()
    assert(edge.forall(_.isNullAt(0)))
  }

  test("replicate_moments_agg 128-bit sums survive partial/final serialization") {
    // many partitions force serialize/deserialize + merge of partial buffers;
    // values near Long.MaxValue force the 128-bit carry path
    val n = 64
    val big = Long.MaxValue / 2
    val base = spark.range(n).repartition(8)
      .select(lit("G").as("g"), lit(big).as("v"),
        md5(col("id").cast("string")).as("h"))
    val got = repsViaAgg(base, 8).select("b", "m1", "t1").collect()
      .map(x => (x.getInt(0), x.getLong(1), new java.math.BigDecimal(x.getDecimal(2).toPlainString)))
    val expect = repsViaExplode(base, 8).select("b", "m1", "t1").collect()
      .map(x => (x.getInt(0), x.getLong(1), new java.math.BigDecimal(x.getDecimal(2).toPlainString)))
    assert(got.sortBy(_._1).toSeq == expect.sortBy(_._1).toSeq)
    // sanity: sums really exceeded 2^63 (the carry path was exercised)
    assert(got.exists(_._3.compareTo(new java.math.BigDecimal(Long.MaxValue)) > 0))
  }
}
