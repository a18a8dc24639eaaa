package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational capability surface (SURVEY §2b): everything the reference
  * delegated to its host engine (Hive 0.9/Hadoop MR), re-expressed as
  * declarative Spark DataFrame plans so Catalyst supplies pushdown, pruning,
  * join selection and AQE for free. Each query has a DuckDB oracle in
  * [[graft.SparkEntry.oracleSql]].
  *
  * Cross-engine determinism rules (the oracle gate hashes values):
  *  - money sums go through DECIMAL(18,2) (exact, order-independent) and are
  *    cast back to DOUBLE at the end — identical bits in Spark and DuckDB;
  *    raw double sums would differ by summation order;
  *  - counts / ranks are cast to BIGINT (DuckDB's COUNT/ROW_NUMBER type);
  *  - every result has a total ORDER BY with a unique tiebreak column.
  *
  * Scale notes (100 TB posture): dimension joins are `broadcast()`; fact-fact
  * work shuffles on join/group keys only after filters (pushed to parquet);
  * no collect()-driven logic anywhere.
  */
object Relational {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def sumMoney(c: Column): Column = sum(dec(c)).cast("double")

  /** TPC-H Q1 flavor: full-scan aggregate with partial (map-side) agg. */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sumMoney(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Projection + predicate: both must reach the parquet scan (PushedFilters). */
  def q02FilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
        col("l_quantity") < 10)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  /** TPC-H Q3 flavor: dim-filtered 3-way join. `customer` grows with scale
    * factor, so it carries NO broadcast hint — Spark's size threshold / AQE
    * broadcasts it while it fits and falls back to a shuffle join at scale
    * (a forced hint would OOM the build side at 100 TB). */
  def q03JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  /** Semi join (EXISTS): orders having any high-quantity line. */
  def q04SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val big = Tables.lineitem(spark, dir).filter(col("l_quantity") >= 45)
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Anti join (NOT EXISTS): customers that never ordered. */
  def q05AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** TPC-H Q6 flavor: selective scan-aggregate (filters pushed down). */
  def q06RevenueAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("2000-01-01").cast("timestamp") &&
        col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))

  /** Left outer join + per-customer rollup. */
  def q07OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(sum(dec(col("o_totalprice"))).cast("double"), lit(0.0)).as("total_spend"))
      .orderBy("c_custkey")
  }

  /** Window ranking: top-2 orders per customer (deterministic tiebreak). */
  def q08WindowTopN(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 2)
      .select("o_custkey", "o_orderkey", "rn")
      .orderBy("o_custkey", "rn")
  }

  /** Window running aggregate along a time axis within each supplier.
    * `l_quantity` is the FINAL tiebreak: the synthetic data carries
    * duplicate (orderkey, linenumber) keys, so without it the ordering
    * is not total and the running sum diverges between engines at any
    * duplicated prefix (observed at sf0.1); with it, tied rows are
    * identical in every column the sum reads, so order is irrelevant. */
  def q09WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .withColumn("running_qty", sum("l_quantity").over(w))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** RANGE-frame window along real time: per-user trailing-1-hour event
    * count and value sum — the time-interval frame flavor q09's ROWS frame
    * doesn't cover. RANGE makes ties self-consistent (every row with the
    * same (user, ts) sees the identical frame), so no unique tiebreak
    * column is needed for cross-engine determinism; the frame is computed
    * on epoch micros, matching the micros truncation `Tables.events`
    * applies to the nanos source column. One shuffle on user_id. */
  def q88TimeRangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        count(lit(1)).over(w).as("n_1h"),
        sum("value").over(w).cast("decimal(18,2)").cast("double").as("value_1h"))
      .orderBy("event_id")
  }

  /** The ranking/distribution window battery q08/q09/q88 don't cover:
    * ntile, percent_rank, cume_dist, lag/lead with defaults, and
    * first/last_value over an explicit full-partition ROWS frame — one
    * query completes the window-function surface. The window order
    * (o_totalprice, o_orderkey) is a total order per partition, so every
    * rank/tile/offset is cross-engine deterministic; one shuffle on the
    * partition key, all eight functions ride the same Window exec. */
  def q114WindowBattery(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") < 150)
      .select(
        col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        lag(col("o_totalprice"), 1, -1.0).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1, -1.0).over(w).as("next_price"),
        first(col("o_orderkey")).over(full).as("cheapest_key"),
        last(col("o_orderkey")).over(full).as("dearest_key"))
      .orderBy("o_orderkey")
  }

  /** Global top-k (TakeOrderedAndProject — no full sort at scale). */
  def q10TopK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .limit(15)

  /** Exact distinct aggregation (the thing approx_distinct approximates). */
  def q11DistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))

  /** Set op: customers with both F- and O-status orders (INTERSECT). */
  def q12Intersect(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
      .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** Set op: F-status customers minus P-status customers (EXCEPT). */
  def q13Except(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
      .except(o.filter(col("o_orderstatus") === "P").select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** FULL OUTER join: customers and suppliers per nation, preserving
    * nations populated on only one side (the join flavor q07's left outer
    * doesn't cover). Aggregated per nation key so the null-expansion
    * semantics — not just row counts — are oracle-checked. */
  def q85FullOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").as("nk_c")).agg(count(lit(1)).as("n_customers"))
    val s = Tables.supplier(spark, dir)
      .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("n_suppliers"))
    c.join(s, col("nk_c") === col("nk_s"), "full")
      .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .orderBy("nationkey")
  }

  /** MULTISET set ops — EXCEPT ALL / INTERSECT ALL keep duplicate
    * cardinality, unlike q12/q13's set variants: a customer with three F
    * orders and one O order has two (F minus O) survivors and one
    * intersect survivor. Emitted as per-key surviving multiplicities. */
  def q86MultisetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
    val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
    val ex = f.exceptAll(open).groupBy("custkey")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
    val in = f.intersectAll(open).groupBy("custkey")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
    ex.unionByName(in).select("op", "custkey", "n").orderBy("op", "custkey")
  }

  /** ROLLUP with grouping_id — multi-level aggregate in one pass. */
  def q14Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Scalar string/date/math functions (host-engine surface, SURVEY §2b). */
  def q15ScalarFns(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("pri_up"),
        substring(col("o_orderpriority"), 1, 1).as("pri_code"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mth"),
        length(col("o_orderstatus")).cast("long").as("status_len"),
        round(dec(col("o_totalprice")) / 1000, 0).cast("double").as("kprice"))
      .orderBy("o_orderkey")

  /** GROUP BY + HAVING. */
  def q16Having(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 15)
      .orderBy("o_custkey")

  /** Scalar subquery: orders within 10% of the max price. */
  def q17ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val mx = o.agg(max("o_totalprice").as("mx"))
    o.join(broadcast(mx))
      .filter(col("o_totalprice") >= col("mx") * 0.9)
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** TPC-H Q5 flavor: 5-way star join → revenue per nation. Only the
    * genuinely fixed-size dims (nation: ≤25 rows, region: 5) carry broadcast
    * hints; `customer` scales with the data, so its join is left to the
    * optimizer's size threshold / AQE. */
  def q18StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** CASE-expression bucketing + conditional aggregation. */
  def q19CaseBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("qty_bucket",
        when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 30, "mid")
          .otherwise("high"))
      .groupBy("qty_bucket")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"))
      .orderBy("qty_bucket")

  /** Grouped join on derived time key: order-year revenue by priority. */
  def q20YearAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"), col("o_orderpriority"))
      .agg(sumMoney(col("o_totalprice")).as("total"), count(lit(1)).as("n"))
      .orderBy("yr", "o_orderpriority")

  /** CUBE over two dims (all four grouping sets in one pass). */
  def q21Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sumMoney(col("o_totalprice")).as("total"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Semi-structured JSON column: extract + aggregate (events.props). */
  def q22JsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(sum("k").as("sum_k"), max("k").as("max_k"), count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Range (non-equi) self-join: same-user event pairs within 5 minutes.
    * Plans as an equi join on user_id with the range as a join filter — the
    * key carries the shuffle, the range never explodes beyond the key group. */
  def q24RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("event_id", "ts", "user_id")
    e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_id") < col("b.event_id") &&
          col("b.ts") >= col("a.ts") - expr("INTERVAL 5 MINUTES") &&
          col("b.ts") <= col("a.ts") + expr("INTERVAL 5 MINUTES"))
      .groupBy(col("a.user_id").as("user_id"))
      .agg(count(lit(1)).as("n_close_pairs"))
      .orderBy("user_id")
  }

  /** Exact interpolated percentiles per group (both engines use the same
    * continuous-quantile definition). */
  def q25Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        expr("percentile(l_quantity, 0.99)").as("p99"))
      .orderBy("l_returnflag")

  /** Explicit GROUPING SETS (the general form behind rollup/cube). */
  def q26GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_gs")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
        |  CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  /** Pivot: one column per l_linestatus value (conditional-agg oracle). */
  def q27Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("l_returnflag")

  /** Null semantics: null-safe equality, null grouping, coalesce — the
    * cross-engine traps, pinned. */
  def q28NullSemantics(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("maybe", when(col("o_orderkey") % 7 === 0, col("o_orderpriority")))
    o.groupBy(col("maybe"))
      .agg(count(lit(1)).as("n_rows"), count(col("maybe")).as("n_nonnull"),
        sum(when(col("maybe") <=> lit(null), 1L).otherwise(0L)).as("n_nullsafe_eq_null"))
      .orderBy(col("maybe").asc_nulls_first)
  }

  /** Date arithmetic + string-function depth (trim/replace/position). */
  def q29DateStringFns(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        datediff(lit("2000-01-01").cast("date"), to_date(col("o_orderdate")))
          .cast("long").as("days_to_y2k"),
        date_add(to_date(col("o_orderdate")), 30).as("due_date"),
        regexp_replace(col("o_orderpriority"), "-", "_").as("pri_us"),
        expr("instr(o_orderpriority, '-')").cast("long").as("pos_dash"),
        trim(concat(lit("  "), col("o_orderstatus"), lit(" "))).as("st"),
        lpad(col("o_orderkey").cast("string"), 8, "0").as("key_padded"))
      .orderBy("o_orderkey")

  /** Recursive CTE (`WITH RECURSIVE`, Spark 4.1 native): ancestor-path
    * rollup over the 4-ary containment hierarchy parent(k) = k div 4
    * derived from the part keys — every part's depth and cumulative
    * exact-cents retail price along its path to a root (keys < 4). The
    * engine executes the standard delta-iteration semantics (each round
    * joins only the PREVIOUS round's rows to the parts table, so total
    * work is parts × log₄(maxkey), never quadratic); the `node >= 4`
    * guard is the termination edge (key 0 is its own div-4 parent). The
    * oracle runs the identical recursion in DuckDB. */
  def q299RecursiveCte(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir).createOrReplaceTempView("part_rc")
    spark.sql(
      """WITH RECURSIVE walk(pk, node, acc) AS (
        |  SELECT p_partkey, p_partkey,
        |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |  FROM part_rc
        |  UNION ALL
        |  SELECT w.pk, p.p_partkey,
        |    w.acc + CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)
        |  FROM walk w JOIN part_rc p ON p.p_partkey = w.node div 4
        |  WHERE w.node >= 4)
        |SELECT pk AS p_partkey, CAST(COUNT(*) AS BIGINT) AS depth,
        |  CAST(MAX(acc) AS BIGINT) AS path_price_c
        |FROM walk GROUP BY pk ORDER BY pk""".stripMargin)
  }

  /** LATERAL correlated subquery with per-row ORDER BY + LIMIT — the
    * top-k-per-group idiom as SQL text (the DataFrame twin is a ranked
    * window + filter; LATERAL proves the planner's correlated-subquery
    * decorrelation end-to-end): the 3 richest customers of every region
    * by exact-cents account balance, customer-key tiebreak. */
  def q300LateralTopk(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_lt")
    Tables.nation(spark, dir).createOrReplaceTempView("nation_lt")
    Tables.region(spark, dir).createOrReplaceTempView("region_lt")
    spark.sql(
      """SELECT r.r_name, l.c_custkey, l.bal_c
        |FROM region_lt r,
        |LATERAL (
        |  SELECT c.c_custkey,
        |    CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS bal_c
        |  FROM customer_lt c
        |  JOIN nation_lt n ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  ORDER BY bal_c DESC, c.c_custkey LIMIT 3) l
        |ORDER BY r.r_name, l.bal_c DESC, l.c_custkey""".stripMargin)
  }

  /** UNPIVOT (wide → long): lineitem's four numeric measures melted to
    * (measure, value) rows in ONE scan — the relational dual of q27's
    * PIVOT — then profiled per measure on the exact centi grid. The
    * unpivot is a projection-time explode, not a join: 4× row fan-out,
    * zero extra exchanges before the group-by. */
  def q301UnpivotMeasures(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_up")
    spark.sql(
      """SELECT k AS measure, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_c,
        |  CAST(MIN(CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS min_c,
        |  CAST(MAX(CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS max_c
        |FROM (SELECT l_quantity, l_extendedprice, l_discount, l_tax
        |      FROM lineitem_up)
        |  UNPIVOT (v FOR k IN (l_quantity, l_extendedprice, l_discount,
        |    l_tax))
        |GROUP BY k ORDER BY k""".stripMargin)
  }

  val declared: Map[String, Query] = Map(
    // identical recursion in DuckDB (// = integral division)
    "q299_recursive_cte" -> Query(q299RecursiveCte,
      """WITH RECURSIVE walk(pk, node, acc) AS (
        |  SELECT p_partkey, p_partkey,
        |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |  FROM part
        |  UNION ALL
        |  SELECT w.pk, p.p_partkey,
        |    w.acc + CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)
        |  FROM walk w JOIN part p ON p.p_partkey = w.node // 4
        |  WHERE w.node >= 4)
        |SELECT pk AS p_partkey, CAST(COUNT(*) AS BIGINT) AS depth,
        |  CAST(MAX(acc) AS BIGINT) AS path_price_c
        |FROM walk GROUP BY pk ORDER BY pk""".stripMargin),
    "q300_lateral_topk" -> Query(q300LateralTopk,
      """SELECT r.r_name, l.c_custkey, l.bal_c
        |FROM region r,
        |LATERAL (
        |  SELECT c.c_custkey,
        |    CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS bal_c
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  ORDER BY bal_c DESC, c.c_custkey LIMIT 3) l
        |ORDER BY r.r_name, l.bal_c DESC, l.c_custkey""".stripMargin),
    "q301_unpivot_measures" -> Query(q301UnpivotMeasures,
      """SELECT k AS measure, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_c,
        |  CAST(MIN(CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS min_c,
        |  CAST(MAX(CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS max_c
        |FROM (SELECT l_quantity, l_extendedprice, l_discount, l_tax
        |      FROM lineitem)
        |  UNPIVOT (v FOR k IN (l_quantity, l_extendedprice, l_discount,
        |    l_tax))
        |GROUP BY k ORDER BY k""".stripMargin),
    "q114_window_battery" -> Query(q114WindowBattery,
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume,
        |  LAG(o_totalprice, 1, -1.0) OVER w AS prev_price,
        |  LEAD(o_totalprice, 1, -1.0) OVER w AS next_price,
        |  FIRST_VALUE(o_orderkey) OVER wf AS cheapest_key,
        |  LAST_VALUE(o_orderkey) OVER wf AS dearest_key
        |FROM orders WHERE o_custkey < 150
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey),
        |       wf AS (PARTITION BY o_orderpriority
        |              ORDER BY o_totalprice, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING
        |                       AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin),
    "q29_date_string_fns" -> Query(q29DateStringFns,
      """SELECT o_orderkey,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
        |  REPLACE(o_orderpriority, '-', '_') AS pri_us,
        |  CAST(POSITION('-' IN o_orderpriority) AS BIGINT) AS pos_dash,
        |  TRIM('  ' || o_orderstatus || ' ') AS st,
        |  LPAD(CAST(o_orderkey AS VARCHAR), 8, '0') AS key_padded
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    "q26_grouping_sets" -> Query(q26GroupingSets,
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    "q27_pivot" -> Query(q27Pivot,
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (l_linestatus = 'F') AS "F",
        |  COUNT(*) FILTER (l_linestatus = 'O') AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q28_null_semantics" -> Query(q28NullSemantics,
      """SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_orderpriority END AS maybe,
        |  COUNT(*) AS n_rows,
        |  COUNT(CASE WHEN o_orderkey % 7 = 0 THEN o_orderpriority END) AS n_nonnull,
        |  CAST(SUM(CASE WHEN (CASE WHEN o_orderkey % 7 = 0 THEN o_orderpriority END)
        |           IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq_null
        |FROM orders GROUP BY 1 ORDER BY maybe ASC NULLS FIRST""".stripMargin),
    "q24_range_join" -> Query(q24RangeJoin,
      """SELECT a.user_id, COUNT(*) AS n_close_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND b.ts >= a.ts - INTERVAL 5 MINUTE AND b.ts <= a.ts + INTERVAL 5 MINUTE
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin),
    "q25_percentiles" -> Query(q25Percentiles,
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  quantile_cont(l_quantity, 0.99) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q21_cube" -> Query(q21Cube,
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),
    "q22_json_props" -> Query(q22JsonProps,
      """SELECT event_type, CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  MAX(CAST(props->>'k' AS BIGINT)) AS max_k, COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q01_pricing_summary" -> Query(q01PricingSummary,
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    "q02_filter_project" -> Query(q02FilterProject,
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    "q03_join_agg" -> Query(q03JoinAgg,
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    "q04_semi_join" -> Query(q04SemiJoin,
      """SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    "q05_anti_join" -> Query(q05AntiJoin,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    "q06_revenue_agg" -> Query(q06RevenueAgg,
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '2000-01-01'
        |  AND l_quantity < 24""".stripMargin),
    "q07_outer_join" -> Query(q07OuterJoin,
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
    "q08_window_topn" -> Query(q08WindowTopN,
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin),
    "q09_window_running" -> Query(q09WindowRunning,
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  SUM(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
    "q10_topk" -> Query(q10TopK,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin),
    "q11_distinct_agg" -> Query(q11DistinctAgg,
      """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin),
    "q12_intersect" -> Query(q12Intersect,
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY custkey""".stripMargin),
    "q13_except" -> Query(q13Except,
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY custkey""".stripMargin),
    "q85_full_outer_join" -> Query(q85FullOuterJoin,
      """SELECT COALESCE(c.nk, s.nk) AS nationkey,
        |  COALESCE(c.n_customers, 0) AS n_customers,
        |  COALESCE(s.n_suppliers, 0) AS n_suppliers
        |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
        |ON c.nk = s.nk
        |ORDER BY nationkey""".stripMargin),
    "q86_multiset_ops" -> Query(q86MultisetOps,
      """WITH f AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'),
        |o AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'),
        |ex AS (SELECT 'except_all' AS op, custkey, COUNT(*) AS n
        |       FROM (SELECT custkey FROM f EXCEPT ALL SELECT custkey FROM o)
        |       GROUP BY custkey),
        |ia AS (SELECT 'intersect_all' AS op, custkey, COUNT(*) AS n
        |       FROM (SELECT custkey FROM f INTERSECT ALL SELECT custkey FROM o)
        |       GROUP BY custkey)
        |SELECT op, custkey, CAST(n AS BIGINT) AS n FROM ex
        |UNION ALL
        |SELECT op, custkey, CAST(n AS BIGINT) AS n FROM ia
        |ORDER BY op, custkey""".stripMargin),
    "q88_time_range_window" -> Query(q88TimeRangeWindow,
      """SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(CAST(SUM(value) OVER w AS DECIMAL(18,2)) AS DOUBLE) AS value_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),
    "q14_rollup" -> Query(q14Rollup,
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
        |  COUNT(*) AS n_rows, CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    "q15_scalar_fns" -> Query(q15ScalarFns,
      """SELECT o_orderkey, UPPER(o_orderpriority) AS pri_up,
        |  SUBSTRING(o_orderpriority, 1, 1) AS pri_code,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mth,
        |  CAST(LENGTH(o_orderstatus) AS BIGINT) AS status_len,
        |  CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) / 1000, 0) AS DOUBLE) AS kprice
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    "q16_having" -> Query(q16Having,
      """SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        |GROUP BY o_custkey HAVING COUNT(*) >= 15 ORDER BY o_custkey""".stripMargin),
    "q17_scalar_subquery" -> Query(q17ScalarSubquery,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice >= (SELECT MAX(o_totalprice) FROM orders) * 0.9
        |ORDER BY o_orderkey""".stripMargin),
    "q18_star_join" -> Query(q18StarJoin,
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
    "q19_case_buckets" -> Query(q19CaseBuckets,
      """SELECT CASE WHEN l_quantity < 10 THEN 'low'
        |            WHEN l_quantity < 30 THEN 'mid'
        |            ELSE 'high' END AS qty_bucket,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned
        |FROM lineitem GROUP BY 1 ORDER BY qty_bucket""".stripMargin),
    "q20_year_agg" -> Query(q20YearAgg,
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1, 2 ORDER BY yr, o_orderpriority""".stripMargin))
}
