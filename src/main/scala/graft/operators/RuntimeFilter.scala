package graft.operators

import graft.GraftFunctions
import graft.sources.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bloom-filter runtime join pruning — the distributed pattern for joining
  * a huge fact table against a selective dimension at 100 TB:
  *
  *  1. aggregate the dimension's join keys into one Bloom filter
  *     ([[graft.functions.BloomAgg]] — partial filters OR across the
  *     shuffle, so the build is one narrow pass over the dim);
  *  2. plant that aggregation as a SCALAR SUBQUERY in the fact-side probe
  *     (`dim.agg(bloom_agg(..)).scalar()` — the same move Spark's own
  *     InjectRuntimeFilter makes): nothing executes until the query's own
  *     action, the filter bytes never appear as a plan literal, and the
  *     subquery result is materialized exactly once per query run
  *     (`might_contain`, [[graft.functions.SketchRead]], then deserializes once per task);
  *  3. finish with the exact join.
  *
  * Because a Bloom filter has NO false negatives, step 2 never drops a
  * matching row — the result is provably identical to the plain join, which
  * is exactly what the q64 oracle checks. The win at scale: the shuffle
  * after step 2 carries only fact rows that can match (plus the FPR), not
  * the whole fact table.
  */
object RuntimeFilter {

  /** Max auto-sized filter: 2^27 bits = 16 MiB — past this (n ≈ 14M keys at
    * 1% FPR) the filter caps and the realized FPR degrades gracefully; the
    * join after the prefilter keeps the result exact regardless. */
  val MaxAutoBits: Int = 1 << 27

  /** Dimension-side row estimate WITHOUT running a job: catalog/CBO row
    * count when present, else optimizer `sizeInBytes` over the schema's
    * declared row width. Overestimating is safe (a bigger filter only
    * lowers the FPR), which suits the stats' no-CBO bias of ignoring
    * filter selectivity. */
  private def estimatedRows(dim: DataFrame): Long = {
    val stats = dim.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).getOrElse {
      val width = math.max(8L, dim.schema.map(_.dataType.defaultSize.toLong).sum)
      (stats.sizeInBytes / width).toLong
    }.max(1L)
  }

  /** Optimal Bloom geometry for n keys at the target FPR:
    * m = −n·ln(fpr)/ln²2 bits (rounded up to a 64-bit word), k = (m/n)·ln 2
    * hash probes. */
  private[graft] def bloomGeometry(n: Long, fpr: Double): (Int, Int) = {
    val mRaw = math.ceil(-n.toDouble * math.log(fpr) / (math.log(2) * math.log(2)))
    val m = math.min(MaxAutoBits.toDouble, math.max(64.0, mRaw)).toLong
    val mWords = (((m + 63) / 64) * 64).toInt
    val k = math.max(1, math.min(16,
      math.round(mWords.toDouble / n.toDouble * math.log(2)).toInt))
    (mWords, k)
  }

  /** Semi-join `fact` to `dim` with a bloom prefilter on the fact side.
    * Identical rows to a plain LEFT SEMI join, cheaper shuffle.
    *
    * Fully lazy: the filter is built by a scalar subquery when the query
    * itself runs — constructing this DataFrame triggers no job. Sizing is
    * automatic from the dim's plan statistics (override with
    * `expectedDistinct` when the caller knows the key count, or pin
    * `numBits`/`numHashes` explicitly). */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, numBits: Int = 0, numHashes: Int = 0,
      fpr: Double = 0.01, expectedDistinct: Long = 0L): DataFrame = {
    require(fpr > 0 && fpr < 1, s"fpr must be in (0,1), got $fpr")
    val n = if (expectedDistinct > 0) expectedDistinct else estimatedRows(dim)
    val (autoBits, autoHashes) = bloomGeometry(n, fpr)
    val m = if (numBits > 0) numBits else autoBits
    val k = if (numHashes > 0) numHashes else autoHashes
    val bloom = dim.agg(GraftFunctions.bloom_agg(col(dimKey), m, k)).scalar()
    val dimKeys = dim.select(col(dimKey).as("__dim_key"))
    fact
      .filter(GraftFunctions.might_contain(bloom, col(factKey)))
      .join(dimKeys, col(factKey) === col("__dim_key"), "left_semi")
  }

  /** Revenue by order priority for customers in the BUILDING segment,
    * computed as bloom-prefilter → exact semi-join. The oracle runs the
    * plain semi-join; hash equality proves the no-false-negative contract
    * end-to-end through the Catalyst wiring. */
  def q64BloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
    bloomSemiJoin(Tables.orders(spark, dir), building, "o_custkey", "c_custkey")
      .groupBy("o_orderpriority")
      // decimal-anchored double sum: order-independent, so the hash gate is
      // deterministic under any partitioning (same pattern as Relational)
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  val declared: Map[String, Query] = Map(
    "q64_bloom_semi_join" -> Query(q64BloomSemiJoin,
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))
}
