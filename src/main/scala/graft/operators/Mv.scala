package graft.operators

import graft.plans.MvRewrite
import graft.sources.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared queries for the materialized-view aggregate rewrite
  * ([[graft.plans.MvRewrite]]): a dashboard aggregate written against the
  * BASE fact table, answered from a maintained summary by a Catalyst
  * optimizer rule.
  */
object Mv {

  /** The q147 MV geometry, shared with the plan-pin spec. */
  val dims: Seq[String] = Seq("l_returnflag", "l_linestatus")
  val sumCols: Seq[String] = Seq("l_quantity", "l_extendedprice")
  val minMaxCols: Seq[String] = Seq("l_discount", "l_tax")
  val sketchCols: Seq[String] = Seq("l_orderkey")

  /** Copy the base table under its own temp root, build + install the MV
    * for it, and return (basePath, base DF, mvPath). The copy is a
    * test-isolation device ONLY: the rewrite rule stays scoped to this
    * query's private base path, so the other 140+ queries sharing the
    * Verify/Bench session keep their own plans (a production deploy would
    * register the real fact path once, deliberately, for every session).
    */
  def installLineitemMv(spark: SparkSession, dir: String):
      (String, DataFrame, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft-mv").toString
    val basePath = s"$root/fact_lineitem.parquet"
    val mvPath = s"$root/mv_lineitem_rfls"
    Tables.lineitem(spark, dir).write.mode("overwrite").parquet(basePath)
    val base = spark.read.parquet(basePath)
    MvRewrite.buildSummary(base, dims, sumCols, sumScale = 2, minMaxCols,
      mvPath, sketchCols = sketchCols)
    MvRewrite.install(spark, mvPath, "/fact_lineitem.parquet", dims,
      sumCols, sumScale = 2, minMaxCols, sketchCols = sketchCols)
    (basePath, base, mvPath)
  }

  /** The q147 aggregate, written against whatever `base` frame is given —
    * the declared query runs it over the MV-registered base (rewrite
    * fires); the spec also runs it over the raw table (rewrite can't
    * match) to pin bit-equality of the two plans. */
  def q147Shape(base: DataFrame): DataFrame =
    base.filter(col("l_linestatus") === "F")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"),
        min(col("l_discount")).as("min_disc"),
        max(col("l_tax")).as("max_tax"))
      .orderBy("l_returnflag")

  /** Fact-table dashboard aggregate transparently answered from the MV.
    * Strict hash gate: the oracle computes the same aggregate from the raw
    * lineitem rows in DuckDB, so a rewrite that dropped rows, double
    * counted a partial, or mis-merged a partial sum hash-mismatches. The
    * DECIMAL casts make every sum (and the avg's Σsum/Σcnt) exact, so
    * re-association through the MV cannot move a bit. The plan-pin spec
    * asserts the physical scan under the aggregate reads the MV files,
    * not the fact files. */
  def q147MvRewrite(spark: SparkSession, dir: String): DataFrame = {
    val (_, base, _) = installLineitemMv(spark, dir)
    q147Shape(base)
  }

  // ---- fk join elimination (q153) ----

  /** Copy orders/customer under a private root and declare the
    * customer pk + orders.o_custkey RI constraint for it (same
    * test-isolation scoping as the MV registration above). */
  def installOrdersCustomerFk(spark: SparkSession, dir: String):
      (DataFrame, DataFrame) = {
    val root = java.nio.file.Files.createTempDirectory("graft-fk").toString
    Tables.orders(spark, dir).write.mode("overwrite")
      .parquet(s"$root/fact_orders.parquet")
    Tables.customer(spark, dir).write.mode("overwrite")
      .parquet(s"$root/dim_customer.parquet")
    graft.plans.JoinElimination.install(spark, Seq(
      graft.plans.JoinElimination.FkConstraint(
        "/dim_customer.parquet", "c_custkey", Set("o_custkey"))))
    (spark.read.parquet(s"$root/fact_orders.parquet"),
      spark.read.parquet(s"$root/dim_customer.parquet"))
  }

  /** The q153 aggregate: a BI-style star join whose select list touches
    * only fact columns. */
  def q153Shape(orders: DataFrame, customer: DataFrame): DataFrame =
    orders.join(customer,
        orders("o_custkey") === customer("c_custkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .orderBy("o_orderstatus")

  /** Star join eliminated under declared constraints: the query joins
    * orders to customer but aggregates only order columns, so
    * [[graft.plans.FkJoinElimination]] drops the join (plan-pinned in
    * JoinEliminationSpec). Strict gate: the oracle EXECUTES the join —
    * if the declared uniqueness/RI ever stopped holding, elimination and
    * oracle would diverge and this query would go red. */
  def q153JoinElimination(spark: SparkSession, dir: String): DataFrame = {
    val (orders, customer) = installOrdersCustomerFk(spark, dir)
    q153Shape(orders, customer)
  }

  /** The q160 rollup shape: subtotals + grand total answered from the MV
    * through the grouping-sets rewrite (Aggregate-over-Expand re-based on
    * the summary with identical per-set nulling and grouping ids). */
  def q160Shape(base: DataFrame): DataFrame =
    base.rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        min(col("l_discount")).as("min_disc"),
        max(col("l_tax")).as("max_tax"))
      .orderBy(asc_nulls_first("l_returnflag"),
        asc_nulls_first("l_linestatus"))

  /** ROLLUP over the fact table answered from the MV. Strict gate: the
    * oracle computes GROUP BY ROLLUP on the raw rows, so any per-set
    * nulling or grouping-id drift in the rewritten Expand mismatches. */
  def q160RollupMv(spark: SparkSession, dir: String): DataFrame = {
    val (_, base, _) = installLineitemMv(spark, dir)
    q160Shape(base)
  }

  /** Grouped `approx_distinct` transparently answered by MERGING the
    * MV's stored partial sketches — the approximate-aggregate pushdown.
    * By merge associativity the rewritten estimate is bit-identical to
    * sketching the fact rows (pinned in MvRewriteSpec), so the usual
    * exact-count + envelope gate applies unchanged; the exact count is
    * deliberately computed on the RAW table so its countDistinct cannot
    * block the est aggregate's rewrite. */
  def q162ApproxMv(spark: SparkSession, dir: String): DataFrame = {
    val (_, base, _) = installLineitemMv(spark, dir)
    val envelope = 3 * 1.04 / math.sqrt(1 << 16)
    val est = base.groupBy("l_returnflag")
      .agg(graft.GraftFunctions.approx_distinct(col("l_orderkey"))
        .getField("cardinality").as("est"))
    val exact = Tables.lineitem(spark, dir).groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("n_exact"))
    exact.join(est, "l_returnflag")
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("est").cast("double") - col("n_exact").cast("double")) /
          col("n_exact").cast("double") <= lit(envelope)).as("est_ok"))
      .orderBy("l_returnflag")
  }

  val declared: Map[String, Query] = Map(
    "q147_mv_rewrite" -> Query(q147MvRewrite,
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  MIN(l_discount) AS min_disc, MAX(l_tax) AS max_tax
        |FROM lineitem WHERE l_linestatus = 'F'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q153_join_elimination" -> Query(q153JoinElimination,
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    "q160_rollup_mv" -> Query(q160RollupMv,
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  MIN(l_discount) AS min_disc, MAX(l_tax) AS max_tax
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin),
    // exact distinct per flag; the driver's envelope convention (q30)
    "q162_approx_mv" -> Query(q162ApproxMv,
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact,
        |  true AS est_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin))
}
