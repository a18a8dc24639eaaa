package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D Pareto skyline (minimize x, maximize y): the points no other point
  * beats on both axes.
  *
  * The textbook NOT-EXISTS formulation is an all-pairs dominance join —
  * O(n²) and dead at scale. In 2-D the skyline has a sort-scan
  * characterization: over DISTINCT points in (x asc, y desc) order, a
  * point survives iff its y strictly exceeds the running max of every
  * earlier point's y (earlier rows are exactly those with x' < x, or
  * x' = x with y' > y — each dominates unless beaten on y). That gives a
  * distributed two-phase plan with NO quadratic step:
  *
  *   1. reduce to distinct points with multiplicity (one shuffle);
  *   2. LOCAL prune: hash the points into x-range buckets, run the
  *      sort-scan within each bucket — a point dominated inside its
  *      bucket is dominated globally, so dropping it is always safe;
  *   3. GLOBAL pass: rerun the same scan over the few survivors (per
  *      bucket at most the bucket's own frontier) in one tiny partition.
  *
  * Phases 2 and 3 are the same window expression at two granularities —
  * the local/global decomposition every distributed skyline paper uses
  * (e.g. Börzsönyi et al., ICDE'01, the block-nested variant), expressed
  * declaratively so Catalyst plans hash exchanges + sorts, never a
  * cross join. */
object Skyline {

  private def scanSurvivors(pts: DataFrame, bucketed: Boolean): DataFrame = {
    val part =
      if (bucketed) Window.partitionBy("__bkt") else Window.partitionBy()
    val w = part.orderBy(col("x"), col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("__mq", max(col("y")).over(w))
      .filter(col("__mq").isNull || col("y") > col("__mq"))
      .drop("__mq")
  }

  /** Skyline of (`xCol` min-better, `yCol` max-better): distinct surviving
    * points with their multiplicity `n`. */
  def skyline2d(df: DataFrame, xCol: String, yCol: String,
      nBuckets: Int = 32): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    val pts = df.select(col(xCol).as("x"), col(yCol).as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n"))
    val bounds = pts.agg(min("x").as("xlo"), max("x").as("xhi"))
    val local = scanSurvivors(
      pts.join(broadcast(bounds))
        .withColumn("__bkt",
          when(col("xhi") === col("xlo"), lit(0))
            .otherwise(least(lit(nBuckets - 1),
              floor((col("x") - col("xlo")) / (col("xhi") - col("xlo")) *
                nBuckets).cast("int"))))
        .drop("xlo", "xhi"),
      bucketed = true).drop("__bkt")
    // survivors are per-bucket frontiers — the global pass is one small
    // partition over a frontier-sized set, not the corpus
    scanSurvivors(local, bucketed = false)
      .select(col("x").as(xCol), col("y").as(yCol), col("n"))
  }

  // ---- declared query ----

  /** Pareto-optimal (cheapest price, largest quantity) lineitem points.
    * Raw column values pass through untouched (no float arithmetic), so
    * the gate is a strict hash match against the oracle's one-pass
    * sort-scan twin. */
  def q129Skyline(spark: SparkSession, dir: String): DataFrame =
    skyline2d(Tables.lineitem(spark, dir), "l_extendedprice", "l_quantity")
      .orderBy("l_extendedprice")

  val declared: Map[String, Query] = Map(
    // the same sort-scan characterization, single-pass in SQL
    "q129_skyline" -> Query(q129Skyline,
      """WITH pts AS (
        |  SELECT l_extendedprice AS x, l_quantity AS y,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |s AS (
        |  SELECT *, MAX(y) OVER (ORDER BY x, y DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mq
        |  FROM pts)
        |SELECT x AS l_extendedprice, y AS l_quantity, n
        |FROM s WHERE mq IS NULL OR y > mq
        |ORDER BY l_extendedprice""".stripMargin))
}
