package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end aggregate tests over the driver's sf0.001 fixtures (SURVEY §5). */
class ApproxDistinctSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  import GraftFunctions._

  private val sf = "/root/testdata/sf0.001"
  private lazy val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
  private lazy val events = graft.sources.Tables.events(spark, sf)
  private val sigma16 = 1.04 / math.sqrt(1 << 16)

  private def within(est: Long, exact: Long, k: Double = 3.0): Unit = {
    val relErr = math.abs(est - exact).toDouble / exact
    assert(relErr <= k * sigma16, s"est=$est exact=$exact relErr=$relErr")
  }

  test("global approx_distinct(l_orderkey) ~ 1473") {
    val row = lineitem.agg(approx_distinct(col("l_orderkey")).as("d")).select("d.*").head()
    assert(row.getString(0) == "HLL")
    within(row.getLong(1), 1473)
  }

  test("grouped approx_distinct matches exact per group") {
    val got = lineitem.groupBy("l_returnflag")
      .agg(approx_distinct(col("l_orderkey")).as("d"))
      .select(col("l_returnflag"), col("d.cardinality").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = lineitem.groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == exact.keySet)
    exact.foreach { case (k, n) => within(got(k), n) }
  }

  test("LC algo, small-cardinality events.user_id is exact-ish") {
    val est = events.agg(approx_distinct(col("user_id"), "lc", 65536).as("d"))
      .select(col("d.cardinality")).head().getLong(0)
    assert(est == 15, s"LC est=$est, exact=15")
  }

  test("SQL registration: approx_distinct with literal args") {
    lineitem.createOrReplaceTempView("lineitem_t")
    val r = spark.sql(
      "SELECT approx_distinct(l_partkey, 'hll', 14) AS d FROM lineitem_t").select("d.*").head()
    assert(r.getString(0) == "HLL")
    val relErr = math.abs(r.getLong(1) - 200).toDouble / 200
    assert(relErr <= 3 * 1.04 / math.sqrt(1 << 14))
  }

  test("typed literal parameters: a wrong literal type fails analysis naming the parameter") {
    import spark.implicits._
    Seq((1L, 1.5, "a"), (2L, 2.5, "b"), (3L, 4.0, "a")).toDF("k", "v", "item")
      .createOrReplaceTempView("typed_params")
    // call -> the parameter its analysis error names; None: the call runs
    val table = Seq(
      "approx_distinct(k, 'hll', 'abc')" -> Some("precision"),
      "approx_quantiles(v, array(0.5D), '200')" -> Some("k"),
      "bloom_agg(k, '6400')" -> Some("numBits"),
      "approx_top_k(item, 2.5)" -> Some("k"),
      "dd_quantiles(v, array(0.5D), 0.01)" -> None)
    for ((call, param) <- table) {
      def run() = spark.sql(s"SELECT $call FROM typed_params").head()
      param match {
        case Some(p) =>
          val e = intercept[org.apache.spark.sql.AnalysisException](run())
          assert(e.getMessage.contains(s"$p must be an integral literal"), s"$call: ${e.getMessage}")
        case None => // DECIMAL 0.01 reads as the DOUBLE alpha 0.01
          assert(run() == spark.sql(
            "SELECT dd_quantiles(v, array(0.5D), 0.01D) FROM typed_params").head())
      }
    }
  }

  test("re-aggregation of stored sketches equals one-shot (E3)") {
    val daily = lineitem.groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(approx_distinct(col("l_orderkey")).as("sk"))
    val merged = daily.agg(approx_distinct(col("sk")).as("d"))
      .select(col("d.cardinality")).head().getLong(0)
    val oneShot = lineitem.agg(approx_distinct(col("l_orderkey")).as("d"))
      .select(col("d.cardinality")).head().getLong(0)
    assert(merged == oneShot, s"re-agg $merged != one-shot $oneShot")
  }

  test("partitioning invariance: 1 vs 32 partitions give identical sketch bytes") {
    val b1 = lineitem.repartition(1).agg(approx_distinct(col("l_orderkey")).as("d"))
      .select(col("d.binary")).head().getAs[Array[Byte]](0)
    val b32 = lineitem.repartition(32).agg(approx_distinct(col("l_orderkey")).as("d"))
      .select(col("d.binary")).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(b1, b32))
  }

  test("nulls ignored; all-null group and empty input give NULL result") {
    import spark.implicits._
    val df = Seq[(String, java.lang.Long)](("a", 1L), ("a", null), ("b", null))
      .toDF("k", "v")
    val rows = df.groupBy("k").agg(approx_distinct(col("v")).as("d"))
      .collect().map(r => r.getString(0) -> r.get(1)).toMap
    assert(rows("a") != null)
    assert(rows("b") == null)
    val empty = df.filter(col("k") === "zzz").agg(approx_distinct(col("v")).as("d")).head()
    assert(empty.get(0) == null)
  }

  test("scalar sketch functions: estimate, union, intersection") {
    import spark.implicits._
    val df = (1 to 3000).map(i => (if (i <= 2000) "a" else "b", i.toLong)).toDF("seg", "v")
    // overlap: a = 1..2000, b = 2001..3000 (disjoint)
    val sketches = df.groupBy("seg").agg(approx_distinct(col("v")).as("sk"))
    val both = sketches.agg(
      min(when(col("seg") === "a", col("sk"))).as("sa"),
      min(when(col("seg") === "b", col("sk"))).as("sb"))
    val r = both.select(
      sketch_estimate(col("sa")).as("ea"),
      sketch_estimate(sketch_union(col("sa"), col("sb"))).as("eu"),
      sketch_intersection_estimate(col("sa"), col("sb")).as("ei")).head()
    within(r.getLong(0), 2000)
    within(r.getLong(1), 3000)
    // disjoint sets: intersection estimate should be tiny relative to union
    assert(r.getLong(2) <= (3 * sigma16 * 3000).toLong + 10)

    // overlapping: a = 1..2000, c = 1500..2500 => overlap 501
    val dfc = (1500 to 2500).map(_.toLong).toDF("v")
    val skc = dfc.agg(approx_distinct(col("v")).as("sk")).head().getStruct(0)
    val ska = sketches.filter(col("seg") === "a").select("sk").head().getStruct(0)
    val sa = graft.sketch.Sketch.deserialize(ska.getAs[Array[Byte]]("binary"))
    val sc = graft.sketch.Sketch.deserialize(skc.getAs[Array[Byte]]("binary"))
    val ea = sa.estimate; val ec = sc.estimate
    sa.mergeInPlace(sc)
    val inter = ea + ec - sa.estimate
    assert(math.abs(inter - 501) <= (4 * sigma16 * 2500).toLong + 10, s"inter=$inter")
  }

  test("sketch_merge_agg over a BINARY sketch column") {
    val daily = lineitem.groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(approx_distinct(col("l_orderkey")).as("sk"))
      .select(col("day"), col("sk.binary").as("skb"))
    val merged = daily.agg(sketch_merge_agg(col("skb")).as("d"))
      .select(col("d.cardinality")).head().getLong(0)
    within(merged, 1473)
  }

  test("withApproxDistinctOver: window-style estimate attached per row") {
    val got = graft.operators.SketchQueries.withApproxDistinctOver(
      lineitem, Seq("l_returnflag"), "l_orderkey", "n_orders")
    assert(got.count() == lineitem.count()) // row-preserving
    val perGroup = got.select("l_returnflag", "n_orders").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = lineitem.groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perGroup.keySet == exact.keySet)
    exact.foreach { case (k, n) => within(perGroup(k), n) }
  }

  test("all atomic input types hash correctly; complex types rejected") {
    import spark.implicits._
    val n = 500
    val df = (1 to n).map { i =>
      (s"s$i", i.toLong, i.toDouble / 3.0, BigDecimal(i) / 7,
        java.sql.Date.valueOf(f"2024-${i % 12 + 1}%02d-${i % 28 + 1}%02d"),
        Array(i.toByte, (i >> 8).toByte), i % 2 == 0)
    }.toDF("s", "l", "d", "dec", "dt", "bin", "b")
    val r = df.agg(
      approx_distinct(col("s")).getField("cardinality").as("ns"),
      approx_distinct(col("l")).getField("cardinality").as("nl"),
      approx_distinct(col("d")).getField("cardinality").as("nd"),
      approx_distinct(col("dec")).getField("cardinality").as("ndec"),
      approx_distinct(col("dt")).getField("cardinality").as("ndt"),
      approx_distinct(col("bin")).getField("cardinality").as("nbin"),
      approx_distinct(col("b")).getField("cardinality").as("nb")).head()
    within(r.getLong(0), n); within(r.getLong(1), n); within(r.getLong(2), n)
    within(r.getLong(3), n); within(r.getLong(5), n)
    assert(r.getLong(4) <= n) // dates collapse to ~336 distinct
    assert(r.getLong(6) == 2) // boolean domain
    // complex input type is a clean analysis error
    val arrDf = Seq(Seq(1, 2)).toDF("a")
    val e = intercept[Exception](
      arrDf.agg(approx_distinct(col("a"))).collect())
    assert(e.getMessage.contains("DATATYPE_MISMATCH") ||
      e.getMessage.contains("unsupported input type"))
  }

  test("cross-check vs Spark built-ins") {
    val r = lineitem.agg(
      approx_distinct(col("l_orderkey")).as("ours"),
      approx_count_distinct(col("l_orderkey")).as("spark_hllpp"),
      countDistinct(col("l_orderkey")).as("exact")).head()
    val ours = r.getStruct(0).getLong(1)
    val exact = r.getLong(2)
    within(ours, exact)
    // built-in HLL++ default rsd 5%: just sanity-band it
    assert(math.abs(r.getLong(1) - exact).toDouble / exact < 0.15)
    // third engine: Spark's DataSketches HLL surface (SURVEY §2b) — all
    // three independent estimators must bracket the same truth
    val ds = lineitem.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(l_orderkey))").as("ds"))
      .head().getLong(0)
    assert(math.abs(ds - exact).toDouble / exact < 0.15)
  }

  test("maintained sketch MV == from-scratch sketch, bit-exact; replay idempotent") {
    import graft.operators.SketchQueries
    val path = java.nio.file.Files.createTempDirectory("graft-skmv-test").toString
    val base = events.select(col("event_type"), col("user_id"))
    val delta = events.limit(200)
      .select(col("event_type"), (col("user_id") + 5000L).as("user_id"))
    SketchQueries.sketchMvBatch(base, "event_type", "user_id", path, 0L)
    SketchQueries.sketchMvBatch(delta, "event_type", "user_id", path, 1L)
    def mvEst(): Map[String, Long] =
      spark.read.parquet(path).filter(col("batch_id") === 1L)
        .select(col("event_type"), sketch_estimate(col("sk")).as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShot = base.unionByName(delta)
      .groupBy("event_type")
      .agg(approx_distinct(col("user_id")).getField("cardinality").as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = mvEst()
    // merge associativity: incremental merge must equal the one-shot
    // sketch EXACTLY, not just within the envelope
    assert(got == oneShot, s"mv=$got oneShot=$oneShot")
    // replaying the delta batch overwrites its own version, same result
    SketchQueries.sketchMvBatch(delta, "event_type", "user_id", path, 1L)
    assert(mvEst() == got, "replay changed the maintained estimate")
  }
}
