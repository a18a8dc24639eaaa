package graft

import graft.GraftFunctions._
import graft.sketch.SketchMergeException

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{Decimal, DecimalType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The contract every stored-sketch reader keeps through the one
  * [[graft.functions.SketchRead]] node, table-driven over all of them:
  * NULL and `X''` are both "no sketch" in every sketch argument, a wrong
  * input type fails analysis naming the function, a corrupt payload fails
  * with a typed error, SQL equals the Column API, generated code equals
  * interpreted evaluation, and a foldable sketch reused across rows reads
  * the same on every row. */
class SketchReadContractSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.session

  /** What a reader gives when some but not all of its sketches are missing. */
  private sealed trait Missing
  /** NULL. */
  private case object Undefined extends Missing
  /** The other sketch: no sketch is the union's empty set. */
  private case object Identity extends Missing
  /** 0.0: the Jaccard similarity of the empty set with any other. */
  private case object Disjoint extends Missing

  /** A reader over `sketches` stored sketches of the column `family` of
    * [[stores]], plus the column `key` for a probe. */
  private case class Reader(name: String, family: String, sketches: Int, probe: Boolean,
      missing: Missing, api: Seq[Column] => Column)

  private val readers = Seq(
    Reader("sketch_estimate", "hll", 1, false, Undefined, c => sketch_estimate(c(0))),
    Reader("sketch_union", "hll", 2, false, Identity, c => sketch_union(c(0), c(1))),
    Reader("sketch_intersection_estimate", "hll", 2, false, Undefined,
      c => sketch_intersection_estimate(c(0), c(1))),
    Reader("theta_estimate", "theta", 1, false, Undefined, c => theta_estimate(c(0))),
    Reader("theta_retained", "theta", 1, false, Undefined, c => theta_retained(c(0))),
    Reader("theta_fraction", "theta", 1, false, Undefined, c => theta_fraction(c(0))),
    Reader("theta_union", "theta", 2, false, Identity, c => theta_union(c(0), c(1))),
    Reader("theta_intersect", "theta", 2, false, Undefined, c => theta_intersect(c(0), c(1))),
    Reader("theta_difference", "theta", 2, false, Undefined, c => theta_difference(c(0), c(1))),
    Reader("theta_jaccard", "theta", 2, false, Disjoint, c => theta_jaccard(c(0), c(1))),
    Reader("cm_estimate", "cm", 1, true, Undefined, c => cm_estimate(c(0), c(1))),
    Reader("cm_total", "cm", 1, false, Undefined, c => cm_total(c(0))),
    Reader("agms_join_size", "agms", 2, false, Undefined, c => agms_join_size(c(0), c(1))),
    Reader("agms_f2", "agms", 1, false, Undefined, c => agms_f2(c(0))),
    Reader("might_contain", "bloom", 1, true, Undefined, c => might_contain(c(0), c(1))))

  /** Four groups, one stored sketch of each family per group (small theta
    * k, so the thetas sample), the empty and NULL BINARY columns `e` and
    * `n`, each family's group-0 sketch as `<family>0` on every row, and a
    * probe key. Cached, so projections over it run in generated code. */
  private lazy val stores: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 400).map(i => (i % 4, i * 7919L % 150 + i % 4 * 40)).toDF("g", "k")
      .createOrReplaceTempView("read_src")
    val perGroup = spark.sql(
      """SELECT g, approx_distinct(k) AS hs, approx_distinct(k).binary AS hll,
        |  theta_sketch_agg(k, 16) AS theta, cm_sketch_agg(k, 256, 4) AS cm,
        |  agms_sketch_agg(k, 256, 4) AS agms, bloom_agg(k, 6400, 3) AS bloom,
        |  CAST(g * 61 AS BIGINT) AS key, X'' AS e, CAST(NULL AS BINARY) AS n
        |FROM read_src GROUP BY g""".stripMargin)
    val first = perGroup.where("g = 0").select(
      Seq("hll", "theta", "cm", "agms", "bloom").map(f => col(f).as(s"${f}0")): _*)
    val df = perGroup.crossJoin(first).cache()
    df.createOrReplaceTempView("read_in")
    assert(df.count() == 4)
    df
  }

  override def afterAll(): Unit = stores.unpersist()

  private def call(r: Reader, sketchArgs: Seq[String]): String =
    s"${r.name}(${(sketchArgs ++ (if (r.probe) Seq("key") else Nil)).mkString(", ")})"

  private def full(r: Reader): Seq[String] = Seq.fill(r.sketches)(r.family)

  /** One value per group, in group order; BINARY compared by content. */
  private def rows(select: String): Seq[Any] = {
    stores
    spark.sql(s"SELECT $select FROM read_in ORDER BY g").collect().toSeq.map(normal)
  }

  private def normal(r: Row): Any = r.get(0) match {
    case b: Array[Byte] => b.toSeq
    case v => v
  }

  private def hex(bytes: Array[Byte]): String = bytes.map(b => f"$b%02X").mkString("X'", "", "'")

  private def failsWithMergeException(run: => Any): Boolean = {
    val e = intercept[Exception](run)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(c =>
      c.isInstanceOf[SketchMergeException] ||
        String.valueOf(c.getMessage).contains("SketchMergeException"))
  }

  test("NULL and X'' are both no sketch in every sketch argument, as literals and columns") {
    val absent = Seq("CAST(NULL AS BINARY)", "X''", "n", "e")
    for (r <- readers; none <- absent) {
      val allMissing = rows(call(r, Seq.fill(r.sketches)(none)))
      assert(allMissing.forall(_ == null), s"${call(r, Seq.fill(r.sketches)(none))}: $allMissing")
      for (i <- 0 until r.sketches if r.sketches == 2) {
        val args = full(r).updated(i, none)
        val expected = r.missing match {
          case Undefined => Seq.fill(4)(null)
          case Identity => rows(r.family)
          case Disjoint => Seq.fill(4)(0.0)
        }
        assert(rows(call(r, args)) == expected, call(r, args))
      }
    }
  }

  test("a wrong input type fails analysis naming the function") {
    val sketchStruct = "named_struct('type', 'HLL', 'cardinality', 1L, 'binary', X'')"
    for (r <- readers; i <- 0 until r.sketches; wrong <- Seq("1", "'x'", sketchStruct)
         if !(wrong == sketchStruct && r.family == "hll")) {
      val bad = call(r, full(r).updated(i, wrong))
      val e = intercept[AnalysisException](rows(bad))
      assert(e.getMessage.contains(s"${r.name}: expects a BINARY serialized"), s"$bad: ${e.getMessage}")
    }
    for (r <- readers if r.probe) {
      val e = intercept[AnalysisException](rows(s"${r.name}(${r.family}, array(key))"))
      assert(e.getMessage.contains(s"${r.name}: unsupported key type ARRAY<BIGINT>"), e.getMessage)
    }
    for (r <- readers) {
      val e = intercept[Exception](rows(call(r, full(r) :+ r.family)))
      assert(e.getMessage.contains(s"${r.name} requires exactly"), e.getMessage)
    }
  }

  test("a corrupt non-empty payload fails with a typed error, as literal and column") {
    for (r <- readers; i <- 0 until r.sketches; junk <- Seq("X'7F010203'", "unhex(CONCAT('7F01020', g))")) {
      val bad = call(r, full(r).updated(i, junk))
      assert(failsWithMergeException(rows(bad)), bad)
    }
  }

  test("SQL and the Column API agree; the HLL result struct reads as its binary") {
    for (r <- readers) {
      val args = full(r) ++ (if (r.probe) Seq("key") else Nil)
      val viaApi = stores.orderBy("g").select(r.api(args.map(col))).collect().toSeq.map(normal)
      assert(viaApi == rows(call(r, full(r))), r.name)
      if (r.family == "hll")
        assert(rows(call(r, Seq.fill(r.sketches)("hs"))) == rows(call(r, full(r))), r.name)
    }
  }

  test("whole-stage codegen on, off and interpreted evaluation agree") {
    val first = stores.where("g = 0").head()
    def results(): Seq[Seq[Any]] = readers.flatMap { r =>
      val literal = hex(first.getAs[Array[Byte]](r.family))
      Seq(rows(call(r, full(r))), rows(call(r, full(r).updated(0, literal))),
        rows(call(r, full(r).updated(r.sketches - 1, "e"))))
    }
    val modes = Seq(
      Seq("spark.sql.codegen.wholeStage" -> "true"),
      Seq("spark.sql.codegen.wholeStage" -> "false"),
      Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    val got = modes.map { confs =>
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try results() finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    assert(got.forall(_ == got.head))
    assert(got.head.exists(_.exists(_ != null)))
  }

  test("a foldable sketch reused across rows reads the same as a per-row column") {
    val first = stores.where("g = 0").head()
    for (r <- readers; i <- 0 until r.sketches) {
      val literal = hex(first.getAs[Array[Byte]](r.family))
      val viaLiteral = rows(call(r, full(r).updated(i, literal)))
      assert(viaLiteral == rows(call(r, full(r).updated(i, s"${r.family}0"))), s"${r.name} arg $i")
      if (r.sketches == 2) assert(viaLiteral.distinct.length > 1, s"${r.name}: rows must differ")
    }
  }

  test("a DECIMAL key probes alike at any scale; one without trailing zeros keeps its hash") {
    for ((v, built, probed) <- Seq(("1.5", "DECIMAL(10,1)", "DECIMAL(12,2)"),
        ("0.0", "DECIMAL(4,1)", "DECIMAL(5,2)"), ("-2.50", "DECIMAL(6,2)", "DECIMAL(9,4)"))) {
      val r = spark.sql(
        s"""SELECT might_contain((SELECT bloom_agg(CAST($v AS $built))), CAST($v AS $probed)),
           |  cm_estimate((SELECT cm_sketch_agg(CAST($v AS $built))), CAST($v AS $probed))""".stripMargin)
        .head()
      assert(r.getBoolean(0) && r.getLong(1) == 1L, s"$v as $built, probed as $probed: $r")
    }
    // the string hash of earlier builds, of the value with trailing zeros stripped
    for ((v, hashedAs) <- Seq("1.5" -> "1.5", "-0.25" -> "-0.25", "100" -> "100", "0" -> "0",
        "1.50" -> "1.5", "100.00" -> "100", "0.00" -> "0", "-2.500" -> "-2.5")) {
      val d = Decimal(BigDecimal(v))
      val got = graft.functions.TypedXxHash.kernel(DecimalType(12, d.scale), 7L)(d)
      assert(got == XXH64.hashUTF8String(UTF8String.fromString(hashedAs), 7L), v)
    }
  }
}
