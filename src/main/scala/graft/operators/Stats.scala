package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical testing and profiling over distributed frames: contingency
  * independence (χ²), equi-depth histograms, two-proportion experiment
  * tests, and CUSUM changepoint detection.
  *
  * Every operator reduces the fact table to a SMALL statistic frame first
  * (cells, buckets, per-variant counts, per-key prefixes) and does the
  * numerically delicate part there — the engine's standard float
  * discipline applies throughout: order-sensitive double sums are
  * DECIMAL-quantized term-wise, every division is a single double op on
  * exact inputs, so the declared queries are strict hash gates, not
  * tolerance checks.
  *
  * CUSUM's recursion S⁺_i = max(0, S⁺_{i−1} + dev_i) looks inherently
  * sequential, but has the classic prefix-scan closed form
  * `S⁺_i = P_i − min(0, min_{j≤i} P_j)` over the deviation prefix sums
  * P — so it runs as two running windows on ONE key-hash exchange, the
  * same shape every engine sequence operator here uses (no per-key
  * iteration, no UDAF state).
  */
object Stats {

  /** Pearson χ² independence test between two categorical columns, with
    * Cramér's V. The full r×c grid (including observed-zero cells, which
    * a bare groupBy would silently drop from the statistic) is built by
    * crossing the two marginal frames — both already reduced to distinct
    * category values, so the cross join is cells-sized, never data-sized.
    * One scan, one groupBy shuffle; χ² terms are DECIMAL-quantized so the
    * cell-order sum is exact. */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val obs = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val ra = obs.groupBy("__a").agg(sum("__o").as("__ra"))
    val cb = obs.groupBy("__b").agg(sum("__o").as("__cb"))
    val grid = ra.crossJoin(cb)
      .join(obs, Seq("__a", "__b"), "left")
      .na.fill(0L, Seq("__o"))
      .withColumn("__n", sum(col("__o")).over(Window.partitionBy()))
    val e = col("__ra").cast("double") * col("__cb").cast("double") /
      col("__n").cast("double")
    val dev = col("__o").cast("double") - col("__e")
    grid.withColumn("__e", e)
      .withColumn("__term", (dev * dev / col("__e")).cast("decimal(38,12)"))
      .agg(
        sum(col("__term")).cast("double").as("chi2"),
        ((countDistinct(col("__a")) - 1) *
          (countDistinct(col("__b")) - 1)).as("dof"),
        max(col("__n")).as("n"),
        least(countDistinct(col("__a")), countDistinct(col("__b")))
          .as("__minrc"))
      .select(col("chi2"), col("dof"), col("n"),
        sqrt(col("chi2") / (col("n").cast("double") *
          (col("__minrc") - 1).cast("double"))).as("cramers_v"))
  }

  /** G-test of independence (log-likelihood ratio, Sokal & Rohlf 1981)
    * over the same contingency reduction as [[chiSquare]]:
    * G = 2·Σ O·ln(O/E). Unlike χ², additive across partitions of the
    * table (the property that makes it the right screen when cells
    * will later be pooled or drilled), and unlike χ² the zero cells
    * contribute EXACTLY 0 — so only observed cells are scanned, no
    * zero-filled grid. Cell counts and margins are exact integers; each
    * O·ln(O/E) term is DECIMAL-quantized before the order-free sum (the
    * [[chiSquare]] float discipline; ln crosses the engine boundary at
    * well under the quantization step). */
  def gTest(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val obs = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val ra = obs.groupBy("__a").agg(sum("__o").as("__ra"))
    val cb = obs.groupBy("__b").agg(sum("__o").as("__cb"))
    val e = dd(col("__ra")) * dd(col("__cb")) / dd(col("__n"))
    val tot = obs.agg(sum(col("__o")).cast("long").as("__n"))
    obs.join(broadcast(ra), "__a").join(broadcast(cb), "__b")
      .crossJoin(broadcast(tot)) // 1-row total — no global window
      .withColumn("__term",
        (lit(2.0) * dd(col("__o")) * log(dd(col("__o")) / e))
          .cast("decimal(38,12)"))
      .agg(sum(col("__term")).cast("double").as("g_stat"),
        ((countDistinct(col("__a")) - 1) *
          (countDistinct(col("__b")) - 1)).as("dof"),
        max(col("__n")).as("n"))
  }

  /** Equi-depth (equal-frequency) histogram of `valCol` per group: `k`
    * buckets of near-equal row count via `ntile` over the (value, tie)
    * total order — the optimizer-statistics primitive (selectivity
    * estimation wants equal-mass, not equal-width, buckets). The tie
    * column makes the order total, so bucket assignment — and therefore
    * the gate — is deterministic in any engine. One window sort per
    * group key (at 100 TB: a range-partitioned sort, Spark's standard
    * window path; no driver-side quantile pass). */
  def equiDepthHistogram(df: DataFrame, groupCol: String, valCol: String,
      tieCols: Seq[String], k: Int): DataFrame = {
    require(k >= 1, s"bucket count must be positive: $k")
    val w = Window.partitionBy(groupCol)
      .orderBy(col(valCol) +: tieCols.map(col): _*)
    df.withColumn("__bkt", ntile(k).over(w))
      .groupBy(col(groupCol), col("__bkt").as("bucket"))
      .agg(min(col(valCol)).as("lo"), max(col(valCol)).as("hi"),
        count(lit(1)).as("n"))
      .orderBy(col(groupCol), col("bucket"))
  }

  /** Two-proportion z-test between two experiment variants on a per-unit
    * binary outcome: pooled p̂, z = (p₁−p₂)/√(p̂(1−p̂)(1/n₁+1/n₂)).
    * `unitOutcomes` must be one row per unit with `variantCol` ∈ two
    * values and a boolean `successCol`. The reduction to (n, x) per
    * variant is one groupBy; the test statistic is a fixed expression
    * shape over four exact integers, so it is bit-identical in any IEEE
    * engine (quantize downstream if composing further). */
  def twoProportionZ(unitOutcomes: DataFrame, variantCol: String,
      successCol: String): DataFrame = {
    val per = unitOutcomes.groupBy(variantCol)
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol), 1L).otherwise(0L)).as("x"))
    // two rows → one: deterministic variant order via min/max tags
    val ab = per.agg(
      min(struct(col(variantCol).as("v"), col("n"), col("x"))).as("a"),
      max(struct(col(variantCol).as("v"), col("n"), col("x"))).as("b"))
    val n1 = col("a.n").cast("double")
    val n2 = col("b.n").cast("double")
    val p1 = col("a.x").cast("double") / n1
    val p2 = col("b.x").cast("double") / n2
    val pp = (col("a.x") + col("b.x")).cast("double") /
      (col("a.n") + col("b.n")).cast("double")
    ab.select(
      col("a.v").as("variant_a"), col("a.n").as("n_a"), col("a.x").as("x_a"),
      col("b.v").as("variant_b"), col("b.n").as("n_b"), col("b.x").as("x_b"),
      p1.as("p_a"), p2.as("p_b"),
      ((p1 - p2) / sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n2)))
        .cast("decimal(20,12)").as("z"))
  }

  /** One-sided CUSUM changepoint scan per key: deviations
    * `dev = x − μ_key − slack` against the key's own mean, folded through
    * `S⁺_i = max(0, S⁺_{i−1} + dev_i)`, alarms where S⁺ exceeds
    * `threshold`. Computed via the prefix closed form (see object doc):
    * running sum + running min over the per-key time order — ONE
    * key-hash exchange carries the mean window, both scans, and the
    * final per-key report.
    *
    * The whole state machine runs on exact 64-bit integers: values are
    * snapped to a 10⁻⁶ grid (exact for money-like inputs; a documented
    * quantization otherwise) via an exact decimal shift, μ is a
    * TRUNCATING integer division (`div` / hugeint `//` agree in any
    * engine), and S⁺/alarms/peak are plain long arithmetic — no double
    * enters until the final peak/10⁶ report, whose inputs are < 2⁵³, so
    * nothing can ulp-flip between engines. (The first draft quantized
    * doubles to DECIMAL mid-stream; JVM and DuckDB round a double's
    * SHORTEST vs EXACT decimal form respectively, which drifts one
    * scaled unit on ~0.04% of values — integers close that door.)
    * Returns per-key: alarms, peak S⁺, first alarm instant. */
  def cusum(events: DataFrame, tsCol: String, keyCol: String, valCol: String,
      tieCol: String, slack: Double, threshold: Double): DataFrame = {
    require(threshold > 0, s"threshold must be positive: $threshold")
    val slackU = math.round(slack * 1e6)
    val thresholdU = math.round(threshold * 1e6)
    val wKey = Window.partitionBy(keyCol)
    val wOrd = wKey.orderBy(col("__us"), col(tieCol))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__us", expr(s"unix_micros($tsCol)"))
      .withColumn("__vu",
        (col(valCol).cast("decimal(18,6)") * 1000000).cast("long"))
      .withColumn("__muu",
        expr(s"sum(__vu) over (partition by $keyCol) div " +
          s"count(1) over (partition by $keyCol)"))
      .withColumn("__dev", col("__vu") - col("__muu") - lit(slackU))
      .withColumn("__p", sum(col("__dev")).over(wRun))
      .withColumn("__s",
        col("__p") - least(lit(0L), min(col("__p")).over(wRun)))
      .withColumn("__alarm", col("__s") > lit(thresholdU))
      .groupBy(keyCol)
      .agg(
        sum(when(col("__alarm"), 1L).otherwise(0L)).as("n_alarms"),
        (max(col("__s")).cast("double") / lit(1e6)).as("peak_cusum"),
        min(when(col("__alarm"), col("__us"))).as("first_alarm_us"))
      .orderBy(keyCol)
  }

  /** RFM segmentation: per entity, quintile scores for Recency (last
    * activity instant), Frequency (order count), and Monetary (total
    * spend on the exact centi-unit grid), each via `ntile(5)` over a
    * TOTAL order (metric, entity key) so assignment is deterministic in
    * any engine; returns per-(r,f,m)-cell counts and exact spend totals.
    * Higher score = more recent / frequent / valuable.
    *
    * The three quintile assignments are range-partitioned rank
    * composition ([[Rank.globalRankPrefix]] + the exact `ntile`
    * arithmetic of [[Rank.ntileFromRank]]) over the already-reduced
    * per-entity frame — three distributed sorts, zero single-partition
    * windows, identical output to `ntile(5)` under the same total
    * (metric, entity) order. */
  def rfmSegments(orders: DataFrame, custCol: String, dateCol: String,
      amountCol: String): DataFrame = {
    val per = orders.groupBy(col(custCol).as("__cust"))
      .agg(max(expr(s"unix_micros($dateCol)")).as("__last_us"),
        count(lit(1)).as("__n_orders"),
        sum((col(amountCol).cast("decimal(18,2)") * 100).cast("long"))
          .as("__spend_c"))
    val n = per.agg(count(lit(1)).as("__n"))
    def score(df: DataFrame, metric: String, out: String): DataFrame =
      Rank.globalRankPrefix(df, Seq(col(metric), col("__cust")))
        .crossJoin(broadcast(n)) // 1-row build side
        .withColumn(out, Rank.ntileFromRank("__rn", "__n", 5))
        .drop("__rn", "__n")
    val scored = score(score(score(per, "__last_us", "r"),
      "__n_orders", "f"), "__spend_c", "m")
    scored.groupBy("r", "f", "m")
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("__spend_c")).cast("double") / lit(100.0)).as("total_spend"))
      .orderBy("r", "f", "m")
  }

  /** Gini concentration coefficient of a non-negative per-entity value
    * within each group, from the closed form over the ascending sort:
    * G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ), i = 1-based rank under the
    * total (x, entity) order. Everything is exact long arithmetic on the
    * centi-unit values until one final double division of two < 2⁵³
    * integers — the engine's integer-exactness discipline. One group-key
    * exchange carries the rank window and the aggregate. */
  def giniByGroup(perEntity: DataFrame, groupCol: String, entityCol: String,
      valueCentsCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol)
      .orderBy(col(valueCentsCol), col(entityCol))
    perEntity
      .withColumn("__i", row_number().over(w).cast("long"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCentsCol)).as("__sx"),
        sum(col("__i") * col(valueCentsCol)).as("__six"))
      .select(col(groupCol), col("n"),
        ((lit(2L) * col("__six") - (col("n") + 1) * col("__sx"))
          .cast("double") /
          (col("n") * col("__sx")).cast("double")).as("gini"))
  }

  /** ABC (Pareto) classification: items ranked by revenue descending,
    * classified by cumulative revenue share — A carries the first `cutA`
    * of revenue, B up to `cutB`, C the tail (the 80/15/5 inventory rule).
    * Returns per-class item counts, revenue, and share. Revenue on the
    * exact centi grid; the descending cumulative is range-partitioned
    * rank composition over the already-reduced per-item frame
    * ([[Rank.globalRankPrefix]] — no single-partition window), the
    * total a 1-row broadcast; shares are single divisions of exact
    * longs. */
  def abcClassification(df: DataFrame, itemCol: String, valueCol: String,
      cutA: Double = 0.8, cutB: Double = 0.95): DataFrame = {
    require(cutA > 0 && cutA < cutB && cutB < 1, s"bad cuts: $cutA/$cutB")
    val per = df.groupBy(col(itemCol).as("__item"))
      .agg(sum((col(valueCol).cast("decimal(18,2)") * 100).cast("long"))
        .as("__rev_c"))
    val tot = per.agg(sum(col("__rev_c")).as("__tot_c"))
    Rank.globalRankPrefix(per, Seq(desc("__rev_c"), col("__item")),
        Seq("__cum_c" -> col("__rev_c")))
      .crossJoin(broadcast(tot)) // 1-row build side
      .withColumn("__share",
        col("__cum_c").cast("double") / col("__tot_c").cast("double"))
      .withColumn("abc_class",
        when(col("__share") <= cutA, "A")
          .when(col("__share") <= cutB, "B").otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_items"),
        (sum(col("__rev_c")).cast("double") / lit(100.0)).as("revenue"),
        (sum(col("__rev_c")).cast("double") /
          first(col("__tot_c")).cast("double")).as("share_of_total"))
      .orderBy("abc_class")
  }

  /** Moving-average crossover detection over a counted time series: daily
    * volumes, `shortN`- vs `longN`-bucket trailing means, and the buckets
    * where the short mean crosses the long one ("golden"/"death" cross).
    * The comparison is the exact integer cross-multiplication
    * `Σshort·n_long > Σlong·n_short` — never a double compare, so a
    * crossing can't ulp-flip between engines; the reported means are
    * exact-ratio doubles. Trailing frames are ROWS-based over OBSERVED
    * buckets (empty buckets don't emit rows — the observed-series MA).
    * The series frame is the day-count reduction of the fact table, so
    * the global-order windows are calendar-sized, never data-sized. */
  def maCrossovers(events: DataFrame, tsCol: String, bucketSeconds: Long,
      shortN: Int, longN: Int): DataFrame = {
    require(0 < shortN && shortN < longN, s"need 0 < short < long: $shortN/$longN")
    val bucketUs = bucketSeconds * 1000000L
    val daily = events
      .select(expr(s"unix_micros($tsCol) div $bucketUs").as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__n"))
    val ord = Window.orderBy("__b")
    val wS = ord.rowsBetween(-(shortN - 1), 0)
    val wL = ord.rowsBetween(-(longN - 1), 0)
    // decimal comparison — window-sum × window-count stays exact even if
    // bucket populations reach long-wrap scale
    val d38ma = (c: Column) => c.cast("decimal(38,0)")
    val above = d38ma(col("__ss")) * d38ma(col("__cl")) >
      d38ma(col("__sl")) * d38ma(col("__cs"))
    daily
      .withColumn("__ss", sum(col("__n")).over(wS))
      .withColumn("__cs", count(lit(1)).over(wS))
      .withColumn("__sl", sum(col("__n")).over(wL))
      .withColumn("__cl", count(lit(1)).over(wL))
      .withColumn("__above", above)
      .withColumn("__prev", lag(col("__above"), 1).over(ord))
      .filter(col("__prev").isNotNull && col("__prev") =!= col("__above"))
      .select((col("__b") * bucketSeconds).as("bucket_epoch"),
        when(col("__above"), "golden").otherwise("death").as("signal"),
        (col("__ss").cast("double") / col("__cs").cast("double"))
          .as("ma_short"),
        (col("__sl").cast("double") / col("__cl").cast("double"))
          .as("ma_long"))
      .orderBy("bucket_epoch")
  }

  // ---- declared queries ----

  /** Independence of return flag × line status on lineitem. Strict hash
    * gate: exact cell counts, quantized χ² terms, fixed expression shape
    * for E, V. */
  def q166ChiSquare(spark: SparkSession, dir: String): DataFrame =
    chiSquare(Tables.lineitem(spark, dir), "l_returnflag", "l_linestatus")

  /** Independence of order priority × order status by log-likelihood
    * ratio — the additive companion to q166's χ². */
  def q340GTest(spark: SparkSession, dir: String): DataFrame =
    gTest(Tables.orders(spark, dir), "o_orderpriority", "o_orderstatus")

  /** 8-bucket equi-depth histogram of extended price per return flag.
    * The (price, orderkey, linenumber) order is total, so ntile — and
    * the gate — is deterministic. */
  def q167EquidepthHist(spark: SparkSession, dir: String): DataFrame =
    equiDepthHistogram(Tables.lineitem(spark, dir), "l_returnflag",
      "l_extendedprice", Seq("l_orderkey", "l_linenumber"), k = 8)

  /** A/B test: users split by id parity (the deterministic assignment any
    * engine reproduces), success = the user purchases more than they
    * click (a scale-free outcome — "ever purchases" saturates to p = 1
    * on this fixture, making the pooled variance 0). z quantized
    * DECIMAL(20,12) — the engines' only disagreement is final-ulp. */
  def q168AbTest(spark: SparkSession, dir: String): DataFrame = {
    val units = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >
        sum(when(col("event_type") === "click", 1L).otherwise(0L)))
        .as("converted"))
      .select(when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B")
        .as("variant"), col("converted"))
    twoProportionZ(units, "variant", "converted")
  }

  /** CUSUM scan of event values per event type (slack 0.5σ-ish in fixture
    * units, threshold 40): which event streams drifted above their own
    * mean, when. Strict hash gate on exact decimal CUSUM state. */
  def q169Cusum(spark: SparkSession, dir: String): DataFrame =
    cusum(Tables.events(spark, dir), "ts", "event_type", "value",
      "event_id", slack = 5.0, threshold = 40.0)

  /** The q169 CUSUM answered by the STREAMING per-key state fold run on
    * the batch frame (the q133 batch-twin move), against the same
    * data-derived baseline means: greedy fold and prefix closed form
    * provably agree through the DuckDB gate, since this query reuses
    * q169's oracle verbatim. The baseline collect is key-cardinality
    * rows (event types — model-sized, the documented driver-boundedness
    * argument for every frozen-baseline monitor here). */
  def q174CusumState(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val mu = ev
      .withColumn("__vu",
        (col("value").cast("decimal(18,6)") * 1000000).cast("long"))
      .groupBy("event_type")
      .agg(expr("sum(__vu) div count(1)").as("__muu"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.streaming.StreamOps.streamingCusum(ev, "ts", "event_type", "value",
        "event_id", mu, slackU = 5000000L, thresholdU = 40000000L)
      .orderBy("event_type")
  }

  /** RFM quintiles over the orders fact. Strict hash gate: exact counts,
    * centi-exact spend, ntile over total orders. */
  def q175Rfm(spark: SparkSession, dir: String): DataFrame =
    rfmSegments(Tables.orders(spark, dir), "o_custkey", "o_orderdate",
      "o_totalprice")

  /** Per-nation Gini of customer spend, INCLUDING zero-spend customers
    * (a concentration measure over the whole customer base, not only
    * buyers). Strict hash gate: exact integer sums, one double division. */
  def q176Gini(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("__spend_c"))
    val per = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey"), col("c_custkey"),
        coalesce(col("__spend_c"), lit(0L)).as("spend_c"))
    giniByGroup(per, "c_nationkey", "c_custkey", "spend_c")
      .orderBy("c_nationkey")
  }

  /** ABC classes over parts by lineitem revenue. Strict hash gate:
    * centi-exact revenue, deterministic (revenue desc, part) rank. */
  def q186Abc(spark: SparkSession, dir: String): DataFrame =
    abcClassification(Tables.lineitem(spark, dir), "l_partkey",
      "l_extendedprice")

  /** Golden/death crossovers of the 7- vs 28-day event-volume means.
    * Strict hash gate: exact integer cross-multiplied comparisons. */
  def q187MaCross(spark: SparkSession, dir: String): DataFrame =
    maCrossovers(Tables.events(spark, dir), "ts", bucketSeconds = 86400L,
      shortN = 7, longN = 28)

  /** Seasonal-naive forecast backtest: forecast(bucket) = actual(bucket −
    * season), evaluated on every bucket where BOTH sides are occupied;
    * per-key MAE and bias. The baseline every real forecaster must beat —
    * and the same machinery backtests any stored forecast column.
    *
    * Shape: one (key, bucket) count aggregation, then a self-join at
    * lag `season` ON THE SAME (k, b) hash partitioning — co-partitioned,
    * no second exchange at scale. Errors are exact long sums; MAE/bias
    * are each one double division. */
  def seasonalNaiveBacktest(events: DataFrame, tsCol: String, keyCol: String,
      bucketSeconds: Long, season: Int): DataFrame = {
    require(bucketSeconds > 0 && season >= 1, s"bad args: $bucketSeconds $season")
    val buck = events.select(col(keyCol).as("k"),
        expr(s"unix_micros($tsCol) div ${bucketSeconds * 1000000L}").as("b"))
      .groupBy("k", "b").agg(count(lit(1)).as("n"))
    val fc = buck.select(col("k"), (col("b") + season).as("b"),
      col("n").as("n_fc"))
    buck.join(fc, Seq("k", "b"))
      .groupBy(col("k").as(keyCol))
      .agg(count(lit(1)).as("n_buckets"),
        sum(abs(col("n") - col("n_fc"))).as("abs_err_sum"),
        sum(col("n") - col("n_fc")).as("err_sum"))
      .select(col(keyCol), col("n_buckets"), col("abs_err_sum"),
        col("err_sum"),
        (col("abs_err_sum").cast("double") / col("n_buckets")).as("mae"),
        (col("err_sum").cast("double") / col("n_buckets")).as("bias"))
      .orderBy(keyCol)
  }

  /** Hourly event volume per type forecast by "same hour yesterday". */
  def q190SeasonalNaive(spark: SparkSession, dir: String): DataFrame =
    seasonalNaiveBacktest(Tables.events(spark, dir), "ts", "event_type",
      bucketSeconds = 3600L, season = 24)

  /** First threshold crossing of a per-key running total — reorder-point /
    * quota-alert analytics: WHEN did each key's cumulative flow first
    * reach the threshold, and at what exact total. One window over one
    * key-hash exchange; the running sum is exact integer cents (the
    * measure is a double fixture column, quantized DECIMAL(18,2)·100
    * before accumulation), and the order (date, orderkey, linenumber) is
    * a total order, so the crossing row is engine-independent. */
  def thresholdCrossing(df: DataFrame, keyCol: String, orderCols: Seq[String],
      measureCol: String, thresholdCents: Long): DataFrame = {
    val w = Window.partitionBy(keyCol)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wr = Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)
    df.withColumn("__c",
        (col(measureCol).cast("decimal(18,2)") * 100).cast("long"))
      .withColumn("cum_cents", sum(col("__c")).over(w))
      .filter(col("cum_cents") >= thresholdCents)
      .withColumn("__rn", row_number().over(wr))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col(orderCols.head).as("cross_at"),
        col("cum_cents"))
      .orderBy(keyCol)
  }

  /** Per part: first ship event at which cumulative shipped quantity
    * reaches 500 units. */
  def q191ThresholdCrossing(spark: SparkSession, dir: String): DataFrame =
    thresholdCrossing(Tables.lineitem(spark, dir), "l_partkey",
      Seq("l_shipdate", "l_orderkey", "l_linenumber"), "l_quantity",
      thresholdCents = 50000L)

  /** Rank-migration report: deterministic revenue ranks per quarter
    * (exact-cents revenue, ties broken by item id), consecutive quarters
    * joined, top movers by |rank delta|. The league-table analytics shape:
    * two windowed rankings on one (quarter)-partitioned exchange, then a
    * self-join at lag 1 on the (item) key. Output bounded to topK with a
    * total-order tiebreak. */
  def rankMigration(df: DataFrame, itemCol: String, dateCol: String,
      priceCol: String, topK: Int): DataFrame = {
    val per = df.select(col(itemCol).as("item"),
        (year(col(dateCol)) * 4 + quarter(col(dateCol)) - 1)
          .cast("long").as("yq"),
        (col(priceCol).cast("decimal(18,2)") * 100).cast("long").as("c"))
      .groupBy("item", "yq").agg(sum(col("c")).as("rev_c"))
    val wq = Window.partitionBy("yq").orderBy(desc("rev_c"), col("item"))
    val ranked = per.withColumn("rnk", row_number().over(wq).cast("long"))
    val prev = ranked.select(col("item"), (col("yq") + 1).as("yq"),
      col("rnk").as("rnk_prev"))
    ranked.join(prev, Seq("item", "yq"))
      .select(col("yq"), col("item"), col("rnk_prev"), col("rnk"),
        (col("rnk_prev") - col("rnk")).as("delta"))
      .orderBy(abs(col("delta")).desc, col("item"), col("yq"))
      .limit(topK)
  }

  /** Top-25 part revenue-rank movers between consecutive ship quarters. */
  def q192RankMigration(spark: SparkSession, dir: String): DataFrame =
    rankMigration(Tables.lineitem(spark, dir), "l_partkey", "l_shipdate",
      "l_extendedprice", topK = 25)

  /** Percentile time series — the latency-dashboard staple: exact
    * interpolated quantiles of a measure per (key, time bucket). One
    * (key, bucket) aggregation; `percentile` buffers per-group values
    * (fine at dashboard granularities — a bucket holds one key's slice of
    * one period; swap to KLL per the q146 pattern for billion-row
    * buckets). Spark's interpolating `percentile` and DuckDB's
    * `quantile_cont` share the R-7 definition, so the gate is exact (the
    * q152 precedent). */
  def bucketPercentileSeries(events: DataFrame, tsCol: String, keyCol: String,
      valCol: String, bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds must be positive: $bucketSeconds")
    events.select(col(keyCol).as("k"),
        expr(s"unix_micros($tsCol) div ${bucketSeconds * 1000000L}").as("b"),
        col(valCol).as("v"))
      .groupBy("k", "b")
      .agg(count(lit(1)).as("n"),
        expr("percentile(v, array(0.5D, 0.95D))").as("pq"))
      .select(col("k").as(keyCol),
        (col("b") * bucketSeconds).as("bucket_epoch"), col("n"),
        col("pq")(0).as("p50"), col("pq")(1).as("p95"))
      .orderBy(col(keyCol), col("bucket_epoch"))
  }

  /** Six-hourly p50/p95 of event `value` per type. */
  def q193PercentileSeries(spark: SparkSession, dir: String): DataFrame =
    bucketPercentileSeries(Tables.events(spark, dir), "ts", "event_type",
      "value", bucketSeconds = 6 * 3600L)

  /** Supervised equi-depth binning — the feature-engineering report:
    * exact decile cutpoints over the measure, every row assigned
    * `bin = #{cutpoints < v}` (so ties with a cutpoint fall LEFT — both
    * engines share the rule because the comparison is on identical
    * doubles), then per-bin volume, positive-target count/rate, and the
    * observed value range. The q167 histogram plus the supervised layer
    * (per-bin target rate) that binned-feature pipelines actually want.
    *
    * Scale shape: ONE aggregation row of cutpoints (exact interpolated
    * percentile — swap to KLL at billion-row inputs, the q146 move),
    * broadcast to the scan; binning is a scalar expression, the per-bin
    * reduce is map-side combined. No global sort, no single-partition
    * window — the NTILE formulation would need exactly that. */
  def supervisedBins(df: DataFrame, valCol: String, posCond: Column,
      nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2: $nBins")
    val ps = (1 until nBins).map(i => i.toDouble / nBins)
    val cuts = df.agg(
      expr(s"percentile($valCol, array(${ps.mkString(",")}))").as("__cs"))
    val bin = (0 until nBins - 1).map(i =>
        when(col(valCol) > col("__cs")(i), 1L).otherwise(0L))
      .reduce(_ + _)
    df.crossJoin(broadcast(cuts)) // 1-row build side: the cutpoint vector
      .withColumn("bin", bin)
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(posCond, 1L).otherwise(0L)).as("n_pos"),
        min(col(valCol)).as("v_min"), max(col(valCol)).as("v_max"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n")).as("pos_rate"),
        col("v_min"), col("v_max"))
      .orderBy("bin")
  }

  /** Return-rate by extended-price decile: does price band predict
    * returns. */
  def q195SupervisedBins(spark: SparkSession, dir: String): DataFrame =
    supervisedBins(Tables.lineitem(spark, dir), "l_extendedprice",
      col("l_returnflag") === "R", nBins = 10)

  /** Lag-k autocorrelation of the per-key bucket-count series — the
    * seasonality-strength detector (r at lag 24h ≈ daily periodicity).
    * The series is DENSIFIED first (per-key bucket grid from min to max,
    * missing buckets = 0 — the q100 resample move; skipping the fill
    * would silently correlate only co-occupied hours), then paired with
    * itself at lag k on the same (key, bucket) hash partitioning.
    *
    * Float discipline: all five moment sums are exact integers
    * (DECIMAL(38,0) products — BIGINT·BIGINT overflows at warehouse
    * volumes), and Pearson r is ONE fixed-shape double expression over
    * them, so the gate is exact. Zero-variance sides are excluded (r
    * undefined). Per-key grid length is bounded by the observed span —
    * the q100 scale argument. */
  def laggedAutocorrelation(events: DataFrame, tsCol: String, keyCol: String,
      bucketSeconds: Long, lagBuckets: Int): DataFrame = {
    require(bucketSeconds > 0 && lagBuckets >= 1,
      s"bad args: $bucketSeconds $lagBuckets")
    val buck = events.select(col(keyCol).as("k"),
        expr(s"unix_micros($tsCol) div ${bucketSeconds * 1000000L}").as("b"))
      .groupBy("k", "b").agg(count(lit(1)).as("n"))
    val grid = buck.groupBy("k").agg(min("b").as("b0"), max("b").as("b1"))
      .select(col("k"), explode(sequence(col("b0"), col("b1"))).as("b"))
    val dense = grid.join(buck, Seq("k", "b"), "left")
      .select(col("k"), col("b"), coalesce(col("n"), lit(0L)).as("x"))
    val lagged = dense.select(col("k"), (col("b") + lagBuckets).as("b"),
      col("x").as("y"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    dense.join(lagged, Seq("k", "b"))
      .groupBy(col("k").as(keyCol))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d(col("x")) * d(col("y"))).cast("decimal(38,0)").as("sxy"),
        sum(d(col("x")) * d(col("x"))).cast("decimal(38,0)").as("sxx"),
        sum(d(col("y")) * d(col("y"))).cast("decimal(38,0)").as("syy"))
      .withColumn("num", d(col("n_pairs")) * col("sxy") -
        d(col("sx")) * d(col("sy")))
      .withColumn("d1", d(col("n_pairs")) * col("sxx") -
        d(col("sx")) * d(col("sx")))
      .withColumn("d2", d(col("n_pairs")) * col("syy") -
        d(col("sy")) * d(col("sy")))
      .filter(col("d1") > 0 && col("d2") > 0)
      .select(col(keyCol), col("n_pairs"),
        (col("num").cast("double") /
          sqrt(col("d1").cast("double") * col("d2").cast("double")))
          .as("r"))
      .orderBy(keyCol)
  }

  /** Daily-seasonality strength: hourly volume autocorrelation at lag 24
    * per event type. */
  def q197Autocorrelation(spark: SparkSession, dir: String): DataFrame =
    laggedAutocorrelation(Tables.events(spark, dir), "ts", "event_type",
      bucketSeconds = 3600L, lagBuckets = 24)

  /** Survival curve over entity lifetimes (Kaplan-Meier without
    * censoring): lifetime = whole days between an entity's first and last
    * event; S(t) = fraction of entities surviving ≥ t, evaluated at every
    * observed lifetime. One key reduce to lifetimes, then the curve is a
    * reverse running sum over the LIFETIME HISTOGRAM — a frame whose row
    * count is bounded by the observation span in days, so the global
    * (unpartitioned) window is over a statistic, never over entities. */
  def survivalCurve(events: DataFrame, tsCol: String,
      keyCol: String): DataFrame = {
    val lt = events.withColumn("__us", expr(s"unix_micros($tsCol)"))
      .groupBy(col(keyCol))
      .agg(expr("(max(__us) - min(__us)) div 86400000000").as("t_days"))
    val hist = lt.groupBy("t_days").agg(count(lit(1)).as("n_t"))
    val total = lt.agg(count(lit(1)).as("n_total"))
    val wRev = Window.orderBy(desc("t_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("n_survivors", sum(col("n_t")).over(wRev))
      .crossJoin(broadcast(total)) // 1-row build side
      .select(col("t_days"), col("n_survivors"),
        (col("n_survivors").cast("double") / col("n_total")).as("s"))
      .orderBy("t_days")
  }

  /** User survival: fraction of users active ≥ t days after first
    * being seen. */
  def q199SurvivalCurve(spark: SparkSession, dir: String): DataFrame =
    survivalCurve(Tables.events(spark, dir), "ts", "user_id")

  /** Per-group simple OLS — distributed regression as exact moment sums:
    * slope/intercept of y on x and r², with both measures quantized to
    * integer centi-units first (the fixtures' 2-dp doubles), so the five
    * moments are exact DECIMAL(38,0) sums and the fit is a fixed-shape
    * double finish (the q197 discipline). Map-side-combined aggregation,
    * one shuffle; zero-variance-x groups excluded (undefined slope).
    * Slope/intercept/r² come out in the ORIGINAL units (the 100×
    * quantization cancels: slope = cov_c/var_c, intercept rescaled by
    * /100). */
  def groupOls(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val xc = (col(xCol).cast("decimal(18,2)") * 100).cast("long")
    val yc = (col(yCol).cast("decimal(18,2)") * 100).cast("long")
    df.select(col(groupCol).as("g"), xc.as("x"), yc.as("y"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d(col("x")) * d(col("y"))).cast("decimal(38,0)").as("sxy"),
        sum(d(col("x")) * d(col("x"))).cast("decimal(38,0)").as("sxx"),
        sum(d(col("y")) * d(col("y"))).cast("decimal(38,0)").as("syy"))
      .withColumn("cov", d(col("n")) * col("sxy") -
        d(col("sx")) * d(col("sy")))
      .withColumn("vx", d(col("n")) * col("sxx") -
        d(col("sx")) * d(col("sx")))
      .withColumn("vy", d(col("n")) * col("syy") -
        d(col("sy")) * d(col("sy")))
      .filter(col("vx") > 0)
      .select(col("g").as(groupCol), col("n"),
        (col("cov").cast("double") / col("vx").cast("double")).as("slope"),
        ((col("sy").cast("double") - col("cov").cast("double") /
            col("vx").cast("double") * col("sx").cast("double")) /
          col("n").cast("double") / 100.0).as("intercept"),
        when(col("vy") > 0,
          (col("cov").cast("double") * col("cov").cast("double")) /
            (col("vx").cast("double") * col("vy").cast("double")))
          .as("r2"))
      .orderBy(groupCol)
  }

  /** Does discount predict quantity, per return flag: the price-
    * sensitivity regression. */
  def q200GroupOls(spark: SparkSession, dir: String): DataFrame =
    groupOls(Tables.lineitem(spark, dir), "l_returnflag", "l_discount",
      "l_quantity")

  /** Exact weighted percentile per group (lower weighted median for
    * p = 1/2): the smallest value v whose cumulative weight reaches
    * p·W. The threshold is a RATIONAL (pNum/pDen) and weights are
    * quantized to integer centi-units, so the crossing test
    * `cumw·pDen ≥ pNum·W` is pure integer arithmetic — no float
    * boundary. Values are pre-aggregated per (group, v) BEFORE the
    * running sum, so the window runs over the value histogram (bounded
    * by distinct values per group), not over rows, and no tiebreak
    * order is needed. */
  def weightedPercentile(df: DataFrame, groupCol: String, valCol: String,
      weightCol: String, pNum: Int, pDen: Int): DataFrame = {
    require(pNum > 0 && pDen > 0 && pNum <= pDen,
      s"p must be a rational in (0,1]: $pNum/$pDen")
    val perV = df.select(col(groupCol).as("g"), col(valCol).as("v"),
        (col(weightCol).cast("decimal(18,2)") * 100).cast("long").as("w"))
      .groupBy("g", "v").agg(sum(col("w")).as("wv"))
    val wCum = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("g")
    perV
      .withColumn("cumw", sum(col("wv")).over(wCum))
      .withColumn("tw", sum(col("wv")).over(wTot))
      .filter(col("cumw") * pDen >= lit(pNum) * col("tw"))
      .groupBy(col("g").as(groupCol))
      .agg(min(col("v")).as("p_value"), min(col("tw")).as("total_w_cents"))
      .orderBy(groupCol)
  }

  /** Quantity-weighted median extended price per return flag. */
  def q202WeightedMedian(spark: SparkSession, dir: String): DataFrame =
    weightedPercentile(Tables.lineitem(spark, dir), "l_returnflag",
      "l_extendedprice", "l_quantity", pNum = 1, pDen = 2)

  /** Lead-lag cross-correlation profile between two keys' bucket-count
    * series: r(l) = corr(x_t, y_{t+l}) for every lag in [−L, L] — does
    * one signal LEAD the other, and by how much. Both series densify
    * onto the SHARED observation span (zero-filled, the q197 rule);
    * the lag fan-out is a tiny literal table cross-joined before one
    * co-partitioned bucket join; per-lag moments follow the exact
    * DECIMAL(38,0) discipline with the one-double-expression Pearson
    * finish. */
  def leadLagCorrelation(events: DataFrame, tsCol: String, keyCol: String,
      keyX: String, keyY: String, bucketSeconds: Long,
      maxLag: Int): DataFrame = {
    require(bucketSeconds > 0 && maxLag >= 1, s"bad args: $bucketSeconds $maxLag")
    val spark = events.sparkSession
    import spark.implicits._
    val buck = events
      .filter(col(keyCol) === keyX || col(keyCol) === keyY)
      .select(col(keyCol).as("k"),
        expr(s"unix_micros($tsCol) div ${bucketSeconds * 1000000L}").as("b"))
      .groupBy("k", "b").agg(count(lit(1)).as("n"))
    val span = buck.agg(min("b").as("b0"), max("b").as("b1"))
    val grid = span.select(explode(sequence(col("b0"), col("b1"))).as("b"))
    def dense(key: String, out: String) =
      grid.join(buck.filter(col("k") === key).drop("k"), Seq("b"), "left")
        .select(col("b"), coalesce(col("n"), lit(0L)).as(out))
    val lags = (-maxLag to maxLag).toDF("lag")
    val d = (c: Column) => c.cast("decimal(38,0)")
    dense(keyX, "x").crossJoin(broadcast(lags)) // small literal fan-out
      .join(dense(keyY, "y").select((col("b")).as("by"), col("y")),
        col("by") === col("b") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d(col("x")) * d(col("y"))).cast("decimal(38,0)").as("sxy"),
        sum(d(col("x")) * d(col("x"))).cast("decimal(38,0)").as("sxx"),
        sum(d(col("y")) * d(col("y"))).cast("decimal(38,0)").as("syy"))
      .withColumn("num", d(col("n_pairs")) * col("sxy") -
        d(col("sx")) * d(col("sy")))
      .withColumn("d1", d(col("n_pairs")) * col("sxx") -
        d(col("sx")) * d(col("sx")))
      .withColumn("d2", d(col("n_pairs")) * col("syy") -
        d(col("sy")) * d(col("sy")))
      .filter(col("d1") > 0 && col("d2") > 0)
      .select(col("lag"), col("n_pairs"),
        (col("num").cast("double") /
          sqrt(col("d1").cast("double") * col("d2").cast("double")))
          .as("r"))
      .orderBy("lag")
  }

  /** Does 'view' volume lead 'purchase' volume: hourly cross-correlation
    * at lags −12h..+12h. */
  def q203LeadLag(spark: SparkSession, dir: String): DataFrame =
    leadLagCorrelation(Tables.events(spark, dir), "ts", "event_type",
      keyX = "view", keyY = "purchase", bucketSeconds = 3600L, maxLag = 12)

  /** ROLLING Pearson correlation between two keys' bucket-count series
    * over a trailing window of `windowBuckets` buckets — the continuous
    * monitor version of [[leadLagCorrelation]] (is the co-movement
    * stable or regime-switching?). Series densify onto the SHARED span
    * (q197 rule); all five co-moments are DECIMAL(38,0) window sums over
    * the bucket histogram, each r one double expression; warm-up rows
    * (window not yet full) are suppressed so every emitted r is over
    * exactly `windowBuckets` points. The global-ordered window runs over
    * the span/step-bounded series — a statistic, never raw events. */
  def rollingCorrelation(events: DataFrame, tsCol: String, keyCol: String,
      keyX: String, keyY: String, bucketSeconds: Long,
      windowBuckets: Int): DataFrame = {
    require(bucketSeconds > 0 && windowBuckets >= 2,
      s"bad args: $bucketSeconds $windowBuckets")
    val stepUs = bucketSeconds * 1000000L
    val buck = events
      .filter(col(keyCol) === keyX || col(keyCol) === keyY)
      .select(col(keyCol).as("k"),
        expr(s"unix_micros($tsCol) div $stepUs").as("b"))
      .groupBy("k", "b").agg(count(lit(1)).as("n"))
    val grid = buck.agg(min("b").as("b0"), max("b").as("b1"))
      .select(explode(sequence(col("b0"), col("b1"))).as("b"))
    def dense(key: String, out: String) =
      grid.join(buck.filter(col("k") === key).drop("k"), Seq("b"), "left")
        .select(col("b"), coalesce(col("n"), lit(0L)).as(out))
    val d = (c: Column) => c.cast("decimal(38,0)")
    val w = Window.orderBy("b")
      .rowsBetween(-(windowBuckets - 1), Window.currentRow)
    val nD = lit(windowBuckets.toLong).cast("decimal(38,0)")
    dense(keyX, "x").join(dense(keyY, "y"), "b")
      .withColumn("rn", count(lit(1)).over(w))
      .withColumn("sx", sum(d(col("x"))).over(w).cast("decimal(38,0)"))
      .withColumn("sy", sum(d(col("y"))).over(w).cast("decimal(38,0)"))
      .withColumn("sxy",
        sum(d(col("x")) * d(col("y"))).over(w).cast("decimal(38,0)"))
      .withColumn("sxx",
        sum(d(col("x")) * d(col("x"))).over(w).cast("decimal(38,0)"))
      .withColumn("syy",
        sum(d(col("y")) * d(col("y"))).over(w).cast("decimal(38,0)"))
      .filter(col("rn") === windowBuckets.toLong)
      .withColumn("num", nD * col("sxy") - col("sx") * col("sy"))
      .withColumn("d1", nD * col("sxx") - col("sx") * col("sx"))
      .withColumn("d2", nD * col("syy") - col("sy") * col("sy"))
      .select((col("b") * stepUs).as("ts_us"),
        when(col("d1") > 0 && col("d2") > 0,
          dd(col("num")) / sqrt(dd(col("d1")) * dd(col("d2"))))
          .as("r"))
      .orderBy("ts_us")
  }

  /** 24-hour rolling view/purchase correlation: regime monitor. */
  def q213RollingCorr(spark: SparkSession, dir: String): DataFrame =
    rollingCorrelation(Tables.events(spark, dir), "ts", "event_type",
      keyX = "view", keyY = "purchase", bucketSeconds = 3600L,
      windowBuckets = 24)

  /** Period-over-period REVENUE BRIDGE per group: the classic
    * price/volume/mix decomposition — for every item present in both
    * periods, volume effect = (q₂−q₁)·p₁ and price effect = (p₂−p₁)·q₂
    * (their sum telescopes exactly to Δrevenue per item); items only in
    * P2 are "new", only in P1 "discontinued" (exact cents). Quantities
    * and revenues are quantized to integer centi-units at the scan (the
    * q202 rule); the two float effects quantize per-item on a 1e-4 grid
    * before the group sum. One join + two hash aggregations on the same
    * (group, item) partitioning; the FULL OUTER item alignment is
    * item-histogram-sized. */
  def revenueBridge(lineitem: DataFrame, part: DataFrame, y1: Int,
      y2: Int): DataFrame = {
    val li = lineitem
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .withColumn("yr", year(col("l_shipdate")))
      .filter(col("yr") === y1 || col("yr") === y2)
      .select(col("p_brand").as("brand"), col("l_partkey").as("pk"),
        col("yr"),
        (col("l_quantity").cast("decimal(18,2)") * 100).cast("long").as("q"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("rev"))
    val per = li.groupBy("brand", "pk", "yr")
      .agg(sum("q").as("q"), sum("rev").as("rev"))
    val a = per.filter(col("yr") === y1)
      .select(col("brand"), col("pk"), col("q").as("q1"), col("rev").as("rev1"))
    val b = per.filter(col("yr") === y2)
      .select(col("brand"), col("pk"), col("q").as("q2"), col("rev").as("rev2"))
    val fxg = (c: Column) =>
      floor(c * lit(1e4) + lit(0.5)).cast("long").cast("decimal(38,0)")
    val both = col("q1").isNotNull && col("q2").isNotNull
    a.join(b, Seq("brand", "pk"), "full_outer")
      .withColumn("p1", dd(col("rev1")) / dd(col("q1")))
      .withColumn("p2", dd(col("rev2")) / dd(col("q2")))
      .withColumn("vol",
        when(both, (dd(col("q2")) - dd(col("q1"))) * col("p1")))
      .withColumn("prc",
        when(both, (col("p2") - col("p1")) * dd(col("q2"))))
      .groupBy("brand")
      .agg(sum(coalesce(col("rev1"), lit(0L))).as("rev1_cents"),
        sum(coalesce(col("rev2"), lit(0L))).as("rev2_cents"),
        (sum(fxg(col("vol"))).cast("decimal(38,0)").cast("double") /
          lit(1e4)).as("volume_effect_cents"),
        (sum(fxg(col("prc"))).cast("decimal(38,0)").cast("double") /
          lit(1e4)).as("price_effect_cents"),
        sum(when(col("q1").isNull, col("rev2")).otherwise(0L))
          .as("new_cents"),
        sum(when(col("q2").isNull, -col("rev1")).otherwise(0L))
          .as("discontinued_cents"))
      .orderBy("brand")
  }

  /** 1997→1998 revenue bridge per part brand. */
  def q218RevenueBridge(spark: SparkSession, dir: String): DataFrame =
    revenueBridge(Tables.lineitem(spark, dir), Tables.part(spark, dir),
      1997, 1998)

  /** POPULATION STABILITY INDEX per key between the first and second
    * half of the observation span (the q110 corpus-midpoint pivot):
    * bins are the reference period's exact deciles (the q195 broadcast-
    * cutpoint rule, bin = #{cuts < v}), both periods' bin shares are
    * Laplace-smoothed (c+½)/(n+½·B) so empty bins stay finite, and
    * PSI = Σ (p₂−p₁)·ln(p₂/p₁) with each term DECIMAL(38,12)-quantized.
    * The industry drift score (PSI > 0.2 ⇒ investigate), complementing
    * the nonparametric KS gate (q141): one scan for cuts, one binned
    * aggregation, a bins×keys histogram after that. */
  def psiDrift(events: DataFrame, tsCol: String, keyCol: String,
      valCol: String, nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2: $nBins")
    val mm = events.agg(min(unix_micros(col(tsCol))).as("mn"),
        max(unix_micros(col(tsCol))).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    val ev = events.crossJoin(broadcast(mm)) // 1-row build side
      .select(col(keyCol).as("k"), col(valCol).as("v"),
        (unix_micros(col(tsCol)) < col("mid")).as("isA"))
    val ps = (1 until nBins).map(i => i.toDouble / nBins)
    val cuts = ev.filter(col("isA")).groupBy("k")
      .agg(expr(s"percentile(v, array(${ps.mkString(",")}))").as("cs"))
    val binExpr = (0 until nBins - 1).map(i =>
        when(col("v") > col("cs")(i), 1L).otherwise(0L))
      .reduce(_ + _)
    val counts = ev.join(broadcast(cuts), "k")
      .withColumn("bin", binExpr)
      .groupBy("k", "bin")
      .agg(sum(when(col("isA"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isA"), 1L).otherwise(0L)).as("cb"))
    val grid = cuts.select(col("k"),
      explode(sequence(lit(0L), lit(nBins - 1L))).as("bin"))
    val tot = Window.partitionBy("k")
    grid.join(counts, Seq("k", "bin"), "left")
      .na.fill(0L, Seq("ca", "cb"))
      .withColumn("na", sum("ca").over(tot))
      .withColumn("nb", sum("cb").over(tot))
      .withColumn("pa", (col("ca").cast("double") + lit(0.5)) /
        (col("na").cast("double") + lit(0.5 * nBins)))
      .withColumn("pb", (col("cb").cast("double") + lit(0.5)) /
        (col("nb").cast("double") + lit(0.5 * nBins)))
      .withColumn("term",
        ((col("pb") - col("pa")) * log(col("pb") / col("pa")))
          .cast("decimal(38,12)"))
      .groupBy(col("k").as(keyCol))
      .agg(min("na").as("n_ref"), min("nb").as("n_cur"),
        sum("term").cast("decimal(38,12)").cast("double").as("psi"))
      .orderBy(keyCol)
  }

  /** Has each event type's value distribution drifted half-over-half. */
  def q220PsiDrift(spark: SparkSession, dir: String): DataFrame =
    psiDrift(Tables.events(spark, dir), "ts", "event_type", "value",
      nBins = 10)

  /** Shannon entropy of a categorical mix per entity (how DIVERSE is
    * each entity's behavior), plus the [0,1]-normalized variant
    * H / ln(#distinct categories seen). Two aggregations on the SAME
    * entity-hash partitioning (per-(entity,category) counts, then the
    * per-entity term sum), so the entropy arithmetic runs over the
    * entity×category histogram — never over raw rows. Each −p·ln p term
    * is DECIMAL(38,12)-quantized before the order-sensitive sum (the
    * chiSquare float discipline), keeping the gate a hash check. */
  def categoricalEntropy(df: DataFrame, entityCol: String,
      catCol: String): DataFrame = {
    val counts = df.groupBy(col(entityCol).as("e"), col(catCol).as("c"))
      .agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy("e")
    val p = col("n").cast("double") / col("nt").cast("double")
    counts
      .withColumn("nt", sum(col("n")).over(tot))
      .withColumn("term", (-p * log(p)).cast("decimal(38,12)"))
      .groupBy(col("e").as(entityCol))
      .agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("n_cats"),
        sum(col("term")).as("entropy_q"))
      .select(col(entityCol), col("n_events"), col("n_cats"),
        col("entropy_q").cast("double").as("entropy_nats"),
        when(col("n_cats") > 1, col("entropy_q").cast("double") /
          log(col("n_cats").cast("double"))).otherwise(lit(0.0))
          .as("norm_entropy"))
      .orderBy(entityCol)
  }

  /** Per-user event-type mix entropy: behavioral-diversity scores. */
  def q204MixEntropy(spark: SparkSession, dir: String): DataFrame =
    categoricalEntropy(Tables.events(spark, dir), "user_id", "event_type")

  /** Inter-arrival-time profile per category: gaps are measured WITHIN
    * each (entity, category) stream (the fine partitioning key — never
    * a one-partition global sort per category), then reduced to exact
    * integer-µs moment sums per category, finishing with one double
    * expression each for mean, coefficient of variation, and the
    * Goh–Barabási burstiness index B = (σ−μ)/(σ+μ) ∈ [−1, 1]
    * (B→1 bursty, B≈0 Poisson, B<0 regular/periodic). Equal-timestamp
    * ties contribute 0-gaps regardless of tie order, so the result is
    * order-deterministic. */
  def interArrivalProfile(events: DataFrame, tsCol: String,
      entityCol: String, catCol: String): DataFrame = {
    val w = Window.partitionBy("e", "c").orderBy("us")
    val d = (c: Column) => c.cast("decimal(38,0)")
    events
      .select(col(entityCol).as("e"), col(catCol).as("c"),
        unix_micros(col(tsCol)).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("c").as(catCol))
      .agg(count(lit(1)).as("n_gaps"),
        sum(d(col("gap"))).cast("decimal(38,0)").as("sg"),
        sum(d(col("gap")) * d(col("gap"))).cast("decimal(38,0)").as("sgg"))
      .withColumn("mean_us",
        col("sg").cast("double") / col("n_gaps").cast("double"))
      .withColumn("var_us",
        (d(col("n_gaps")) * col("sgg") - col("sg") * col("sg"))
          .cast("double") /
          (col("n_gaps").cast("double") * col("n_gaps").cast("double")))
      .withColumn("sd_us", sqrt(col("var_us")))
      .select(col(catCol), col("n_gaps"), col("mean_us"), col("sd_us"),
        (col("sd_us") / col("mean_us")).as("cv"),
        ((col("sd_us") - col("mean_us")) / (col("sd_us") + col("mean_us")))
          .as("burstiness"))
      .orderBy(catCol)
  }

  /** How bursty is each event type within user streams. */
  def q205Interarrival(spark: SparkSession, dir: String): DataFrame =
    interArrivalProfile(Tables.events(spark, dir), "ts", "user_id",
      "event_type")

  /** Single best changepoint per key over its zero-filled bucket-count
    * series: the split t maximizing the between-segment SSE reduction
    * G(t) = S_t²/t + (S_n−S_t)²/(n−t) − S_n²/n (binary-segmentation
    * step 1, the offline twin of the CUSUM monitors q169/q174). Prefix
    * sums are exact DECIMAL over integer counts; each gain is one fixed
    * double expression on those exact inputs, so the argmax (earliest t
    * wins ties via a total-order ROW_NUMBER) is engine-deterministic.
    * All windows run over the per-key bucket HISTOGRAM — span/step
    * bounded, never raw events. */
  def changepoint(events: DataFrame, tsCol: String, keyCol: String,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, s"bucket must be positive: $bucketSeconds")
    val stepUs = bucketSeconds * 1000000L
    val buck = events
      .select(col(keyCol).as("k"),
        expr(s"unix_micros($tsCol) div $stepUs").as("b"))
      .groupBy("k", "b").agg(count(lit(1)).as("n"))
    val wRun = Window.partitionBy("k").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("k")
    val d = (c: Column) => c.cast("decimal(38,0)")
    val base = buck.groupBy("k").agg(min("b").as("b0"), max("b").as("b1"))
      .select(col("k"), col("b0"),
        explode(sequence(col("b0"), col("b1"))).as("b"))
      .join(buck.withColumnRenamed("k", "k2").withColumnRenamed("b", "bb"),
        col("k") === col("k2") && col("b") === col("bb"), "left")
      .select(col("k"), col("b0"), col("b"),
        coalesce(col("n"), lit(0L)).as("x"))
      .withColumn("t", row_number().over(Window.partitionBy("k").orderBy("b")))
      .withColumn("st", sum(d(col("x"))).over(wRun).cast("decimal(38,0)"))
      .withColumn("nb", count(lit(1)).over(wAll))
      .withColumn("sn", sum(d(col("x"))).over(wAll).cast("decimal(38,0)"))
    val gains = base.filter(col("t") < col("nb"))
      .withColumn("gain",
        dd(col("st")) * dd(col("st")) / dd(col("t")) +
        (dd(col("sn")) - dd(col("st"))) * (dd(col("sn")) - dd(col("st"))) /
          (dd(col("nb")) - dd(col("t"))) -
        dd(col("sn")) * dd(col("sn")) / dd(col("nb")))
    gains
      .withColumn("rk", row_number().over(
        Window.partitionBy("k").orderBy(col("gain").desc, col("t"))))
      .filter(col("rk") === 1)
      .select(col("k").as(keyCol), col("nb").as("n_buckets"),
        // first bucket of the right segment, as epoch µs (the q100 rule:
        // raw timestamps hash differently across engines on tz flavor)
        ((col("b") + 1) * stepUs).as("cp_us"),
        (dd(col("st")) / dd(col("t"))).as("mean_before"),
        ((dd(col("sn")) - dd(col("st"))) / (dd(col("nb")) - dd(col("t"))))
          .as("mean_after"),
        col("gain"))
      .orderBy(keyCol)
  }

  /** Where does each event type's hourly volume shift most sharply. */
  def q206Changepoint(spark: SparkSession, dir: String): DataFrame =
    changepoint(Tables.events(spark, dir), "ts", "event_type", 3600L)

  /** Maximum drawdown of a per-key cumulative "equity curve" — the
    * risk-analytics staple (how far below its running peak did the
    * cumulative measure fall, and when). The measure is micro-quantized
    * (the q169 CUSUM rule) so the equity prefix sum and its running max
    * are exact longs; drawdown is their exact difference, and only the
    * final unit rescale is a double. The trough row is picked by a total
    * order (drawdown desc, time, id), so the gate is deterministic. Two
    * running windows + one rank window on ONE key-hash exchange. */
  def maxDrawdown(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valCol: String): DataFrame = {
    val wRun = Window.partitionBy("k").orderBy(col("us"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPick = Window.partitionBy("k")
      .orderBy(col("dd").desc, col("us"), col("id"))
    events
      .select(col(keyCol).as("k"), expr(s"unix_micros($tsCol)").as("us"),
        col(idCol).as("id"),
        (col(valCol).cast("decimal(18,6)") * 1000000).cast("long").as("vu"))
      .withColumn("eq", sum(col("vu")).over(wRun))
      .withColumn("peak", max(col("eq")).over(wRun))
      .withColumn("dd", col("peak") - col("eq"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("k")))
      .withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("k").as(keyCol), col("cnt").as("n_events"),
        (col("dd").cast("double") / 1000000.0).as("max_drawdown"),
        col("us").as("trough_us"),
        (col("peak").cast("double") / 1000000.0).as("peak_equity"))
      .orderBy(keyCol)
  }

  /** Worst peak-to-trough slide of each event type's cumulative value. */
  def q271MaxDrawdown(spark: SparkSession, dir: String): DataFrame =
    maxDrawdown(Tables.events(spark, dir), "event_type", "ts", "event_id",
      "value")

  /** Grubbs' outlier test per slice: G = max|x − mean| / sd, plus WHICH
    * row achieves it. The centi-exact moment reduction (n, Σv, Σv²) is
    * one map-side-combined aggregation; per-row deviations are the exact
    * integers |n·x − Σv| (no float mean subtraction), the argmax is a
    * total order (deviation desc, key), and G is a fixed-shape double
    * finish over exact DECIMALs — the [[chiSquare]]/[[Ml.welchTTest]]
    * float discipline. The join back to rows is stats-frame-sized
    * (broadcast). Slices with n < 3 are excluded (test undefined). */
  def grubbsTest(df: DataFrame, groupCol: String, valCol: String,
      keyCol: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val per = df.select(col(groupCol).as("g"),
      (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("x"),
      col(keyCol).as("key"))
    val stats = per.groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(d(col("x"))).cast("decimal(38,0)").as("s"),
        sum(d(col("x")) * d(col("x"))).cast("decimal(38,0)").as("ss"))
      .filter(col("n") >= 3)
    val wPick = Window.partitionBy("g")
      .orderBy(col("dev").desc, col("key"))
    per.join(broadcast(stats), "g")
      .withColumn("dev",
        abs(d(col("x")) * d(col("n")) - col("s")).cast("decimal(38,0)"))
      .withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("g").as(groupCol), col("n"),
        col("key").as("outlier_key"),
        (dd(col("x")) / 100.0).as("outlier_value"),
        (dd(col("s")) / dd(col("n")) / 100.0).as("mean"),
        ((dd(col("dev")) / dd(col("n"))) /
          sqrt(dd(d(col("n")) * col("ss") - col("s") * col("s")) /
            (dd(col("n")) * dd(col("n") - 1)))).as("g_stat"))
      .orderBy(groupCol)
  }

  /** Most extreme order value per priority class, Grubbs-scored. */
  def q276Grubbs(spark: SparkSession, dir: String): DataFrame =
    grubbsTest(Tables.orders(spark, dir), "o_orderpriority",
      "o_totalprice", "o_orderkey")

  /** Generalized ESD outlier trajectory (Rosner 1983) — [[grubbsTest]]
    * iterated: remove the most extreme point, recompute the moments
    * WITHOUT it, test the next — the multi-outlier procedure Grubbs
    * alone gets wrong through masking (a second outlier inflates s and
    * hides the first). `rounds` is a small constant; each round is one
    * exact-moment aggregation plus an argmax picked by a struct-max
    * groupBy (max(dev), min(key) on ties — NO raw-row rank window), and
    * removal is a broadcast anti-join on the (group, key) winners.
    * Winners pin via localCheckpoint so the next round's exclusion sees
    * exactly one materialization. R_i is the Grubbs shape on the
    * post-removal moments; `keyCol` must be row-unique (tie-break and
    * anti-join key). */
  def esdOutliers(df: DataFrame, groupCol: String, valCol: String,
      keyCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 5, s"rounds must be in [1,5]: $rounds")
    val d = (c: Column) => c.cast("decimal(38,0)")
    val base = df.select(col(groupCol).as("g"),
      (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("x"),
      col(keyCol).as("key"))
    var cur = base
    val outs = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val stats = cur.groupBy("g")
        .agg(count(lit(1)).as("n"),
          sum(d(col("x"))).cast("decimal(38,0)").as("s"),
          sum(d(col("x")) * d(col("x"))).cast("decimal(38,0)").as("ss"))
        .filter(col("n") >= 3)
        .localCheckpoint(true) // read twice below: pick + score
      val winner = cur.join(broadcast(stats), "g")
        .withColumn("dev",
          abs(d(col("x")) * d(col("n")) - col("s")).cast("decimal(38,0)"))
        .groupBy("g")
        .agg(max(struct(col("dev"), (-col("key")).as("nk"), col("x")))
          .as("w"))
        .select(col("g"), col("w.dev").as("dev"), (-col("w.nk")).as("key"),
          col("w.x").as("x"))
        .localCheckpoint(true)
      outs += winner.join(broadcast(stats), "g")
        .select(col("g"), lit(r.toLong).as("round"), col("n"),
          col("key").as("outlier_key"),
          (dd(col("x")) / 100.0).as("outlier_value"),
          (dd(col("s")) / dd(col("n")) / 100.0).as("mean"),
          // all-equal degenerate: s² = n·ss ⇒ zero spread, R undefined
          when(d(col("n")) * col("ss") > col("s") * col("s"),
            (dd(col("dev")) / dd(col("n"))) /
              sqrt(dd(d(col("n")) * col("ss") - col("s") * col("s")) /
                (dd(col("n")) * dd(col("n") - 1)))).as("r_stat"))
      cur = cur.join(winner.select("g", "key"), Seq("g", "key"),
        "left_anti")
    }
    outs.result().reduce(_ unionAll _)
      .withColumnRenamed("g", groupCol)
      .orderBy(groupCol, "round")
  }

  /** Three-round ESD sweep of order values per priority class — the
    * masking-proof extension of q276. */
  def q344EsdOutliers(spark: SparkSession, dir: String): DataFrame =
    esdOutliers(Tables.orders(spark, dir), "o_orderpriority",
      "o_totalprice", "o_orderkey", rounds = 3)

  /** Forecast-accuracy battery for the seasonal-naive backtest
    * ([[seasonalNaiveBacktest]]'s MAE/bias, completed with RMSE, MAPE and
    * MASE — the scale-free score forecasters actually compare on:
    * MAE ÷ the in-sample naive-1 MAE, so "beat 1.0" means "beat persistence").
    * Evaluation buckets are those where the actual, the season-lag and
    * the 1-lag values ALL exist, so every metric sums over the same
    * support. Error sums are exact longs; MAPE's per-bucket ratios are
    * DECIMAL-quantized before summing (order-insensitive); each final
    * metric is one double expression. The lag joins are self-joins on
    * the same (key, bucket) hash partitioning — co-partitioned, no extra
    * exchange at scale. */
  def forecastAccuracy(events: DataFrame, tsCol: String, keyCol: String,
      bucketSeconds: Long, season: Int): DataFrame = {
    require(bucketSeconds > 0 && season >= 2, s"bad args: $bucketSeconds $season")
    val buck = events.select(col(keyCol).as("k"),
        expr(s"unix_micros($tsCol) div ${bucketSeconds * 1000000L}").as("b"))
      .groupBy("k", "b").agg(count(lit(1)).as("n"))
    val fc = buck.select(col("k"), (col("b") + season).as("b"),
      col("n").as("n_fc"))
    val prev = buck.select(col("k"), (col("b") + 1).as("b"),
      col("n").as("n_prev"))
    buck.join(fc, Seq("k", "b")).join(prev, Seq("k", "b"))
      .groupBy(col("k").as(keyCol))
      .agg(count(lit(1)).as("n_buckets"),
        sum(abs(col("n") - col("n_fc"))).as("sae"),
        sum((col("n") - col("n_fc")) * (col("n") - col("n_fc"))).as("sse"),
        sum((dd(abs(col("n") - col("n_fc"))) / dd(col("n")))
          .cast("decimal(38,15)")).cast("decimal(38,15)").as("sape"),
        sum(abs(col("n") - col("n_prev"))).as("sae1"))
      .filter(col("sae1") > 0)
      .select(col(keyCol), col("n_buckets"),
        (dd(col("sae")) / dd(col("n_buckets"))).as("mae"),
        sqrt(dd(col("sse")) / dd(col("n_buckets"))).as("rmse"),
        (dd(col("sape")) * 100.0 / dd(col("n_buckets"))).as("mape_pct"),
        (dd(col("sae")) / dd(col("sae1"))).as("mase"))
      .orderBy(keyCol)
  }

  /** How good is "same hour yesterday" as an hourly volume forecast,
    * per event type — MAE/RMSE/MAPE/MASE on the common support. */
  def q277ForecastAccuracy(spark: SparkSession, dir: String): DataFrame =
    forecastAccuracy(Tables.events(spark, dir), "ts", "event_type",
      bucketSeconds = 3600L, season = 24)

  /** Nelson–Aalen cumulative hazard over entity lifetimes — the
    * estimator-of-choice companion to [[survivalCurve]]'s Kaplan–Meier
    * shape: H(t) = Σ_{s ≤ t} d_s / n_s over the lifetime histogram, with
    * n_s = entities surviving ≥ s (the reverse running sum). Per-time
    * hazard increments are DECIMAL-quantized before the cumulative sum
    * (order-exact), the final H and exp(−H) are double finishes. All
    * windows run over the day-histogram STATISTIC frame, never over
    * entities. */
  def nelsonAalen(events: DataFrame, tsCol: String,
      keyCol: String): DataFrame = {
    val lt = events.withColumn("__us", expr(s"unix_micros($tsCol)"))
      .groupBy(col(keyCol))
      .agg(expr("(max(__us) - min(__us)) div 86400000000").as("t_days"))
    val hist = lt.groupBy("t_days").agg(count(lit(1)).as("d"))
    val wRev = Window.orderBy(desc("t_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCum = Window.orderBy("t_days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("n_at_risk", sum(col("d")).over(wRev))
      .withColumn("h_inc", (col("d").cast("double") /
        col("n_at_risk").cast("double")).cast("decimal(38,15)"))
      .withColumn("cum_hazard",
        sum(col("h_inc")).over(wCum).cast("decimal(38,15)").cast("double"))
      .select(col("t_days"), col("d"), col("n_at_risk"), col("cum_hazard"),
        exp(-col("cum_hazard")).as("s_na"))
      .orderBy("t_days")
  }

  /** Cumulative hazard of user churn by lifetime day (Nelson–Aalen). */
  def q282NelsonAalen(spark: SparkSession, dir: String): DataFrame =
    nelsonAalen(Tables.events(spark, dir), "ts", "user_id")

  /** Lorenz curve of a per-entity measure by decile — the inequality
    * curve behind [[giniByGroup]]'s scalar: decile d's share and
    * cumulative share of the total. Entities are ranked by the exact
    * centi-long measure with the entity id as tiebreak (total order →
    * deterministic gate); shares are exact-integer ratios finished as
    * doubles. The decile assignment is range-partitioned rank
    * composition + exact ntile arithmetic (the q175 RFM shape — zero
    * single-partition windows); the k-row decile frame's cumulative is a
    * triangular broadcast self-join (k is a constant). */
  def lorenzCurve(perEntity: DataFrame, entityCol: String,
      measureCol: String, k: Int): DataFrame = {
    require(k >= 2, s"decile count must be >= 2: $k")
    val ent = perEntity.select(col(entityCol).as("e"), col(measureCol).as("m"))
    val n = ent.agg(count(lit(1)).as("__n"))
    val tot = ent.agg(sum(col("m")).as("total"))
    val byDec = Rank.globalRankPrefix(ent, Seq(col("m"), col("e")))
      .crossJoin(broadcast(n)) // 1-row build side
      .withColumn("decile", Rank.ntileFromRank("__rn", "__n", k))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_entities"), sum(col("m")).as("sc"))
    val lower = byDec.select(col("decile").as("__d2"), col("sc").as("__sc2"))
    byDec
      .join(broadcast(lower), col("__d2") <= col("decile"))
      .groupBy("decile", "n_entities", "sc")
      .agg(sum(col("__sc2")).as("cum"))
      .crossJoin(broadcast(tot)) // 1-row build side
      .select(col("decile").cast("int").as("decile"), col("n_entities"),
        (dd(col("sc")) / 100.0).as("spend"),
        (dd(col("sc")) / dd(col("total"))).as("share"),
        (dd(col("cum")) / dd(col("total"))).as("cum_share"))
      .orderBy("decile")
  }

  /** Customer-spend concentration: the Lorenz curve over all customers
    * (zero-spend customers included — the LEFT-join rule q176 uses). */
  def q283LorenzCurve(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("__spend_c"))
    val per = Tables.customer(spark, dir)
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("__spend_c"), lit(0L)).as("spend_c"))
    lorenzCurve(per, "c_custkey", "spend_c", 10)
  }

  /** Historical VaR + CVaR (expected shortfall) per group: the exact
    * lower p-percentile of the value distribution and the exact mean of
    * the tail at or below it. The percentile crossing runs on the
    * per-(group, value) HISTOGRAM (bounded by distinct values, the
    * [[weightedPercentile]] rule) with the pure-integer gate
    * `pDen·cum ≥ pNum·total`, and the tail mean is an exact decimal
    * sum over the same histogram — both sides of the gate see identical
    * integers, so VaR and CVaR hash-gate. One histogram aggregation +
    * one per-group window + one k-row broadcast back. */
  def varCvar(df: DataFrame, groupCol: String, valCol: String,
      pNum: Int, pDen: Int): DataFrame = {
    require(pNum > 0 && pDen > 0 && pNum < pDen,
      s"p must be a rational in (0,1): $pNum/$pDen")
    val perV = df.select(col(groupCol).as("g"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("g")
    val cum = perV
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("tw", sum(col("cnt")).over(wTot))
    val cross = cum.filter(col("cum") * pDen >= lit(pNum) * col("tw"))
      .groupBy("g").agg(min(col("v")).as("var_v"))
    perV.join(broadcast(cross), "g")
      .groupBy(col("g").as(groupCol))
      .agg(sum(col("cnt")).as("n"),
        min(col("var_v")).as("vv"),
        sum(when(col("v") <= col("var_v"), col("cnt"))
          .otherwise(0L)).as("tail_n"),
        sum(when(col("v") <= col("var_v"),
          (col("v") * col("cnt")).cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("tail_sum"))
      .select(col(groupCol), col("n"), col("tail_n"),
        (col("vv").cast("double") / lit(100.0)).as("var_p"),
        (col("tail_sum").cast("double") / col("tail_n").cast("double") /
          lit(100.0)).as("cvar_p"))
      .orderBy(groupCol)
  }

  /** 5th-percentile order value and the mean of that worst tail, per
    * priority class — the historical VaR/ES pair. */
  def q294VarCvar(spark: SparkSession, dir: String): DataFrame =
    varCvar(Tables.orders(spark, dir), "o_orderpriority", "o_totalprice",
      pNum = 1, pDen = 20)

  /** OHLC resampling — the candlestick reduction every market/metrics
    * store ships: per (key, day) the first/highest/lowest/last value
    * plus count and exact mean. First/last are picked by a TOTAL
    * (ts, tiebreak) order via min/max STRUCT aggregates — fully
    * map-side-combinable, no window exchange at all — over the
    * mergeable [[ohlcCells]] sufficient statistics the streaming store
    * shares. */
  def ohlcBars(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String): DataFrame =
    ohlcFromCells(ohlcCells(events, keyCol, tsCol, tieCol, valCol), keyCol)

  /** Per-(key, day) mergeable OHLC cells — the sufficient statistics
    * behind [[ohlcBars]]: open/close ride as min/max STRUCTs over the
    * total (us, tiebreak, value) order (struct min/max is an idempotent
    * semilattice — merge-safe across any batching), high/low are plain
    * min/max, count + exact centi sum are additive. One map-side-
    * combinable aggregation, NO window exchange — and the same frame is
    * the streaming store's unit ([[graft.streaming.StreamOps
    * .streamingOhlcIngest]]). */
  private[graft] def ohlcCells(events: DataFrame, keyCol: String,
      tsCol: String, tieCol: String, valCol: String): DataFrame = {
    val base = events.select(col(keyCol).as("k"),
      date_format(col(tsCol), "yyyy-MM-dd").as("day"),
      expr(s"unix_micros($tsCol)").as("us"), col(tieCol).as("tie"),
      col(valCol).as("v"),
      (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
    base.groupBy("k", "day").agg(
      min(struct(col("us"), col("tie"), col("v"))).as("o"),
      max(struct(col("us"), col("tie"), col("v"))).as("c"),
      max(col("v")).as("high"), min(col("v")).as("low"),
      count(lit(1)).as("n_events"),
      sum(col("vc")).as("sum_c"))
  }

  /** Merge OHLC cells (possibly from many store batches) and finish to
    * the candlestick frame — min/max structs pick the global first/last
    * event, counts and sums add, so the finish is batching-invariant. */
  private[graft] def ohlcFromCells(cells: DataFrame,
      keyCol: String): DataFrame =
    cells.groupBy("k", "day").agg(
        min(col("o")).as("o"), max(col("c")).as("c"),
        max(col("high")).as("high"), min(col("low")).as("low"),
        sum(col("n_events")).as("n_events"),
        sum(col("sum_c")).as("sum_c"))
      .select(col("k").as(keyCol), col("day"),
        col("o.v").as("open"), col("high"), col("low"),
        col("c.v").as("close"), col("n_events"),
        (col("sum_c").cast("double") / col("n_events").cast("double") /
          lit(100.0)).as("mean_value"))
      .orderBy(keyCol, "day")

  /** Daily open/high/low/close/mean of event values per event type —
    * the candlestick view of the event stream. */
  def q295OhlcBars(spark: SparkSession, dir: String): DataFrame =
    ohlcBars(Tables.events(spark, dir), "event_type", "ts", "event_id",
      "value")

  /** Dickey–Fuller unit-root regression per group: Δy_t = a + γ·y_{t−1}
    * + ε over the day-bucketed series, reporting γ and its t statistic
    * (the DF test statistic — strongly negative rejects a unit root,
    * i.e. the series mean-reverts). The lag pair frame is one day-window
    * lag on exact centi longs; γ, SSE and se(γ) all come from one
    * exact-DECIMAL moment pass via the closed forms
    * γ = cov/vx, SSE = (vy − cov²/vx)/n, se(γ)² = s²·n/vx with
    * s² = SSE/(n−2) — a fixed-shape double finish on exact integers. */
  def dickeyFuller(df: DataFrame, groupCol: String, dateCol: String,
      valCol: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val daily = df.select(col(groupCol).as("g"),
        datediff(col(dateCol), lit("1992-01-01")).as("x"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("g", "x").agg(sum(col("vc")).as("rev"))
    val wDay = Window.partitionBy("g").orderBy("x")
    val pairs = daily
      .withColumn("ylag", lag(col("rev"), 1).over(wDay))
      .filter(col("ylag").isNotNull)
      .withColumn("dy", col("rev") - col("ylag"))
    val m = pairs.groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(col("ylag")).as("s1"), sum(col("dy")).as("sd"),
        sum(d(col("ylag")) * d(col("ylag"))).cast("decimal(38,0)").as("s11"),
        sum(d(col("ylag")) * d(col("dy"))).cast("decimal(38,0)").as("s1d"),
        sum(d(col("dy")) * d(col("dy"))).cast("decimal(38,0)").as("sdd"))
      .withColumn("cov", (d(col("n")) * col("s1d") -
        d(col("s1")) * d(col("sd"))).cast("decimal(38,0)"))
      .withColumn("vx", (d(col("n")) * col("s11") -
        d(col("s1")) * d(col("s1"))).cast("decimal(38,0)"))
      .withColumn("vy", (d(col("n")) * col("sdd") -
        d(col("sd")) * d(col("sd"))).cast("decimal(38,0)"))
      .filter(col("vx") > 0 && col("n") > 2)
    val gamma = dd(col("cov")) / dd(col("vx"))
    val sse = (dd(col("vy")) - dd(col("cov")) * dd(col("cov")) /
      dd(col("vx"))) / dd(col("n"))
    val s2 = sse / dd(col("n") - 2)
    val seG = sqrt(s2 * dd(col("n")) / dd(col("vx")))
    m.select(col("g").as(groupCol), col("n").as("n_pairs"),
        gamma.as("gamma"), (gamma / seG).as("t_df"))
      .orderBy(groupCol)
  }

  /** Does daily revenue mean-revert or wander (unit root), per return
    * flag — the DF regression's γ and t statistic. */
  def q296DickeyFuller(spark: SparkSession, dir: String): DataFrame =
    dickeyFuller(Tables.lineitem(spark, dir), "l_returnflag", "l_shipdate",
      "l_extendedprice")

  /** Autocorrelation function of a daily exact-cents series at lags
    * 1..`maxLag`, plus the cumulative Ljung–Box portmanteau statistic —
    * "is there ANY serial structure" (the all-lags complement of q287's
    * lag-1 Durbin–Watson). The series is the zero-filled complete day
    * grid (gaps are real zeros, so both engines see the identical
    * vector). Everything up to the final divisions is exact DECIMAL(38,0)
    * integer algebra — with S = Σx, n days:
    *   n²·num_k = n²·Σ_{t≤n−k} x_t·x_{t+k} − n·S·(H_k + T_k) + (n−k)·S²
    *   n²·den   = n²·Σx²  − n·S²
    * (H_k/T_k = head/tail partial sums), r_k = num/den is one double
    * division, and Q_ℓ = n(n+2)·Σ_{k≤ℓ} r_k²/(n−k) accumulates
    * DECIMAL-quantized terms over the ≤maxLag-row statistic frame via a
    * triangular broadcast self-join. Shape: one day-grid aggregation +
    * maxLag equi-joins ON THE DAY HISTOGRAM (span-bounded, not
    * row-bounded) — scales by calendar span, not data volume. */
  def acfLjungBox(df: DataFrame, dateCol: String, valCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1: $maxLag")
    val daily0 = df
      .select(datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("d").agg(sum("vc").as("x"))
    val span = daily0.agg(min("d").as("mn"), max("d").as("mx"))
    val daily = span.select(explode(sequence(col("mn"), col("mx"))).as("d"))
      .join(daily0, Seq("d"), "left").na.fill(0L, Seq("x"))
    val m = daily.agg(count(lit(1)).as("n"),
      sum(d380(col("x"))).cast("decimal(38,0)").as("s"),
      sum(d380(col("x")) * d380(col("x"))).cast("decimal(38,0)").as("sxx"))
    val lags = daily.sparkSession.range(1, maxLag + 1)
      .select(col("id").as("k"))
    val pairs = daily.crossJoin(broadcast(lags)) // day grid × maxLag
      .join(daily.select(col("d").as("d2"), col("x").as("x2")),
        col("d2") === col("d") + col("k"))
      .groupBy("k").agg(
        sum(d380(col("x")) * d380(col("x2"))).cast("decimal(38,0)")
          .as("sxy"),
        sum(d380(col("x"))).cast("decimal(38,0)").as("hk"),
        sum(d380(col("x2"))).cast("decimal(38,0)").as("tk"))
    val terms = pairs.crossJoin(broadcast(m)) // 1-row statistic frame
      .withColumn("num", (d380(col("n")) * d380(col("n")) * col("sxy")
        - d380(col("n")) * col("s") * (col("hk") + col("tk"))
        + (d380(col("n")) - d380(col("k"))) * col("s") * col("s"))
        .cast("decimal(38,0)"))
      .withColumn("den", (d380(col("n")) * d380(col("n")) * col("sxx")
        - d380(col("n")) * col("s") * col("s")).cast("decimal(38,0)"))
      .withColumn("r", dd(col("num")) / dd(col("den")))
      .withColumn("lb_term",
        (col("r") * col("r") / dd(col("n") - col("k")))
          .cast("decimal(38,15)"))
      .select(col("k"), col("n"), col("r"), col("lb_term"))
    val lower = terms.select(col("k").as("__k2"), col("lb_term").as("__t2"))
    terms.join(broadcast(lower), col("__k2") <= col("k"))
      .groupBy("k", "n", "r")
      .agg((dd(col("n")) * dd(col("n") + 2) *
        dd(sum(col("__t2")).cast("decimal(38,15)"))).as("q_lb"))
      .select(col("k").as("lag"), col("r"), col("q_lb"))
      .orderBy("lag")
  }

  /** Serial structure of daily order revenue: ACF at lags 1..14 with the
    * cumulative Ljung–Box Q. */
  def q304AcfLjungBox(spark: SparkSession, dir: String): DataFrame =
    acfLjungBox(Tables.orders(spark, dir), "o_orderdate", "o_totalprice",
      maxLag = 14)

  /** Cross-correlation function between TWO hourly series at lags
    * −maxLag..maxLag — the lead/lag detector ("do clicks lead purchases,
    * and by how many hours?"): r(k) = corr(x_t, y_{t+k}) over the
    * overlapping stretch of the zero-filled complete hour grid. The q304
    * shape generalized to a series PAIR with signed lags: one grid
    * aggregation, then (2·maxLag+1) equi-joins on the span-bounded grid;
    * per lag all five moments (Σx Σy Σxy Σx² Σy²) accumulate in exact
    * DECIMAL(38,0) over the overlap rows and the Pearson quotient is the
    * single double step. Scales by calendar span, not event volume. */
  def crossCorrelation(events: DataFrame, tsCol: String, xCond: Column,
      xVal: Column, yCond: Column, yVal: Column, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1: $maxLag")
    val hourly0 = events
      .select(expr(s"unix_micros($tsCol) div 3600000000").as("h"),
        when(xCond, xVal).otherwise(0L).as("xv"),
        when(yCond, yVal).otherwise(0L).as("yv"))
      .groupBy("h").agg(sum("xv").as("x"), sum("yv").as("y"))
    val span = hourly0.agg(min("h").as("mn"), max("h").as("mx"))
    val grid = span.select(explode(sequence(col("mn"), col("mx"))).as("h"))
      .join(hourly0, Seq("h"), "left").na.fill(0L, Seq("x", "y"))
    val lags = events.sparkSession.range(-maxLag, maxLag + 1)
      .select(col("id").as("k"))
    grid.crossJoin(broadcast(lags))
      .join(grid.select(col("h").as("h2"), col("y").as("y2")),
        col("h2") === col("h") + col("k"))
      .groupBy("k").agg(count(lit(1)).as("m"),
        sum(d380(col("x"))).cast("decimal(38,0)").as("sx"),
        sum(d380(col("y2"))).cast("decimal(38,0)").as("sy"),
        sum(d380(col("x")) * d380(col("y2"))).cast("decimal(38,0)").as("sxy"),
        sum(d380(col("x")) * d380(col("x"))).cast("decimal(38,0)").as("sxx"),
        sum(d380(col("y2")) * d380(col("y2"))).cast("decimal(38,0)")
          .as("syy"))
      .withColumn("num",
        (d380(col("m")) * col("sxy") - col("sx") * col("sy"))
          .cast("decimal(38,0)"))
      .withColumn("dx", (d380(col("m")) * col("sxx") - col("sx") * col("sx"))
        .cast("decimal(38,0)"))
      .withColumn("dy", (d380(col("m")) * col("syy") - col("sy") * col("sy"))
        .cast("decimal(38,0)"))
      .filter(col("dx") > 0 && col("dy") > 0)
      .select(col("k").as("lag"), col("m").as("n_hours"),
        (dd(col("num")) / sqrt(dd(col("dx")) * dd(col("dy")))).as("ccf"))
      .orderBy("lag")
  }

  /** Do clicks lead purchase revenue: hourly click counts vs hourly
    * purchase cents, CCF at lags −6..+6. */
  def q320CrossCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    crossCorrelation(Tables.events(spark, dir), "ts",
      col("event_type") === "purchase", cents,
      col("event_type") === "click", lit(1L), maxLag = 6)
  }

  /** AR(2) fit by Yule–Walker on the zero-filled daily grid, plus the
    * 1/2/3-step-ahead forecasts — the minimal autoregressive forecaster
    * (and the unit the Box–Jenkins loop iterates): biased
    * autocovariances c_k share one exact integer numerator family
    * A_k = n²·Σx_t x_{t+k} − n·s·(H_k+T_k) + (n−k)·s² (the q304 ACF
    * algebra), so ρ₁, ρ₂ are ratios of exact DECIMAL(38,0) integers and
    * φ₁ = ρ₁(1−ρ₂)/(1−ρ₁²), φ₂ = (ρ₂−ρ₁²)/(1−ρ₁²), the innovation-
    * variance share 1−φ₁ρ₁−φ₂ρ₂ and the recursive forecasts are fixed
    * double shapes on them. Scales with the calendar span (grid-sized
    * joins), not the fact-table row count. */
  def ar2YuleWalker(df: DataFrame, dateCol: String, valCol: String)
      : DataFrame = {
    val daily0 = df
      .select(datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("d").agg(sum("vc").as("x"))
    val span = daily0.agg(min("d").as("mn"), max("d").as("mx"))
    val daily = span.select(explode(sequence(col("mn"), col("mx"))).as("d"))
      .join(daily0, Seq("d"), "left").na.fill(0L, Seq("x"))
    val m = daily.agg(count(lit(1)).as("n"),
      sum(d380(col("x"))).cast("decimal(38,0)").as("s"),
      sum(d380(col("x")) * d380(col("x"))).cast("decimal(38,0)").as("sxx"))
    val lags = daily.sparkSession.range(1, 3).select(col("id").as("k"))
    val pairs = daily.crossJoin(broadcast(lags))
      .join(daily.select(col("d").as("d2"), col("x").as("x2")),
        col("d2") === col("d") + col("k"))
      .groupBy("k").agg(
        sum(d380(col("x")) * d380(col("x2"))).cast("decimal(38,0)")
          .as("sxy"),
        sum(d380(col("x"))).cast("decimal(38,0)").as("hk"),
        sum(d380(col("x2"))).cast("decimal(38,0)").as("tk"))
    val ak = (sxy: Column, hk: Column, tk: Column, k: Int) =>
      (d380(col("n")) * d380(col("n")) * sxy
        - d380(col("n")) * col("s") * (hk + tk)
        + (d380(col("n")) - lit(k)) * col("s") * col("s"))
        .cast("decimal(38,0)")
    val l1 = pairs.filter(col("k") === 1)
      .select(col("sxy").as("sxy1"), col("hk").as("h1"), col("tk").as("t1"))
    val l2 = pairs.filter(col("k") === 2)
      .select(col("sxy").as("sxy2"), col("hk").as("h2"), col("tk").as("t2"))
    val tail = daily.crossJoin(broadcast(daily.agg(max("d").as("mx"))))
      .filter(col("d") >= col("mx") - 1)
      .agg(sum(when(col("d") === col("mx"), col("x")).otherwise(0L))
        .as("xl"),
        sum(when(col("d") === col("mx") - 1, col("x")).otherwise(0L))
          .as("xl1"))
    val one = m.crossJoin(broadcast(l1)).crossJoin(broadcast(l2))
      .crossJoin(broadcast(tail))
      .withColumn("a0", (d380(col("n")) * d380(col("n")) * col("sxx")
        - d380(col("n")) * col("s") * col("s")).cast("decimal(38,0)"))
      .withColumn("a1", ak(col("sxy1"), col("h1"), col("t1"), 1))
      .withColumn("a2", ak(col("sxy2"), col("h2"), col("t2"), 2))
      .withColumn("rho1", dd(col("a1")) / dd(col("a0")))
      .withColumn("rho2", dd(col("a2")) / dd(col("a0")))
      .withColumn("den", lit(1.0) - col("rho1") * col("rho1"))
      .withColumn("phi1", col("rho1") * (lit(1.0) - col("rho2")) / col("den"))
      .withColumn("phi2", (col("rho2") - col("rho1") * col("rho1")) / col("den"))
      .withColumn("mu", dd(col("s")) / dd(col("n")))
      .withColumn("f1", col("mu") + col("phi1") * (dd(col("xl")) - col("mu"))
        + col("phi2") * (dd(col("xl1")) - col("mu")))
      .withColumn("f2", col("mu") + col("phi1") * (col("f1") - col("mu"))
        + col("phi2") * (dd(col("xl")) - col("mu")))
      .withColumn("f3", col("mu") + col("phi1") * (col("f2") - col("mu"))
        + col("phi2") * (col("f1") - col("mu")))
    one.select(col("n"), col("rho1"), col("rho2"), col("phi1"), col("phi2"),
      (lit(1.0) - col("phi1") * col("rho1") - col("phi2") * col("rho2"))
        .as("innov_share"),
      (dd(col("xl")) / 100.0).as("last_value"),
      (col("f1") / 100.0).as("forecast_1"),
      (col("f2") / 100.0).as("forecast_2"),
      (col("f3") / 100.0).as("forecast_3"))
  }

  /** Tomorrow / day-after / day-3 revenue forecasts from the AR(2) the
    * daily order series implies. */
  def q343Ar2Forecast(spark: SparkSession, dir: String): DataFrame =
    ar2YuleWalker(Tables.orders(spark, dir), "o_orderdate", "o_totalprice")

  /** Simple-exponential-smoothing hyperparameter SWEEP: fold the daily
    * series once per candidate α ∈ {¼, ½, ¾} and score each by total
    * one-step-ahead absolute error — the grid-search-as-a-query shape
    * (candidates fan out as keys and evaluate in parallel; the model
    * picker reads the smallest `sae_total`). The q308 determinism
    * contract: the recurrence runs on integer cents with α = q/4 and an
    * explicit floor — l_t = l_{t−1} + ⌊q·(x_t − l_{t−1})/4⌋ — so the
    * fold state is exactly reproducible in any engine (q·Δ ≤ 3·|Δ| is
    * exact in a double, /4 is a power of two); the error sum |x − l| is
    * plain long arithmetic. One day-grid reduction feeds all arms. */
  def sesAlphaSweep(df: DataFrame, dateCol: String, valCol: String)
      : DataFrame = {
    val daily0 = df
      .select(datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("d").agg(sum("vc").as("x"))
    val span = daily0.agg(min("d").as("mn"), max("d").as("mx"))
    val grid = span.select(explode(sequence(col("mn"), col("mx"))).as("d"))
      .join(daily0, Seq("d"), "left").na.fill(0L, Seq("x"))
    val arr = grid.agg(sort_array(collect_list(struct(col("d"), col("x"))))
      .as("xs"))
    val alphas = df.sparkSession.range(1, 4).select(col("id").as("q"))
    arr.crossJoin(broadcast(alphas))
      .select(col("q"), size(col("xs")).cast("long").as("n_days"),
        expr(
          """aggregate(
            |  slice(xs, 2, size(xs) - 1),
            |  named_struct('l', xs[0].x, 's', CAST(0 AS BIGINT)),
            |  (acc, e) -> named_struct(
            |    'l', acc.l + CAST(FLOOR(q * (e.x - acc.l) / 4.0)
            |      AS BIGINT),
            |    's', acc.s + abs(e.x - acc.l)))""".stripMargin).as("st"))
      .select(col("q").as("alpha_quarters"), col("n_days"),
        (dd(col("st.l")) / 100.0).as("level_final"),
        (dd(col("st.s")) / 100.0).as("sae_total"),
        (dd(col("st.s")) / (dd(col("n_days")) - 1.0) / 100.0).as("mae"))
      .orderBy("alpha_quarters")
  }

  /** Which smoothing weight tracks daily revenue best — the 3-arm SES
    * sweep a forecast tuner runs before committing a model. */
  def q350SesSweep(spark: SparkSession, dir: String): DataFrame =
    sesAlphaSweep(Tables.orders(spark, dir), "o_orderdate", "o_totalprice")

  /** Hurst exponent by rescaled-range (R/S) analysis (Hurst 1951;
    * Mandelbrot & Wallis 1969): split the day grid into disjoint blocks
    * of w ∈ {16, 32, 64, 128} days, per block compute R = range of the
    * demeaned prefix sums and S = population σ, then H = the slope of
    * mean ln(R/S) on ln w — H ≈ ½ is a random walk, > ½ long-range
    * persistence (revenue momentum), < ½ mean reversion. The demeaned
    * prefix range stays EXACT integer algebra: dev_j·n_b = cumsum_j·n_b
    * − j·s_b, so R·n_b = max − min of those; S² comes from the exact
    * block moments; ln(R/S) is one fixed double shape per block,
    * DECIMAL-quantized into per-size means, and the 4-point OLS slope
    * is closed-form on the quantized means. Prefix windows partition by
    * (size, block) — grid-scaled, never single-partition. */
  def hurstRs(df: DataFrame, dateCol: String, valCol: String,
      sizes: Seq[Int] = Seq(16, 32, 64, 128)): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 4), s"bad sizes: $sizes")
    val daily0 = df
      .select(datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("d").agg(sum("vc").as("x"))
    val span = daily0.agg(min("d").as("mn"), max("d").as("mx"))
    val grid = span.select(col("mn"),
        explode(sequence(col("mn"), col("mx"))).as("d"))
      .join(daily0, Seq("d"), "left").na.fill(0L, Seq("x"))
      .select((col("d") - col("mn")).as("t"), col("x"))
      .localCheckpoint(true) // one materialization feeds every size
    val sz = df.sparkSession.createDataFrame(
      sizes.map(s => Tuple1(s.toLong))).toDF("w")
    val blocks = grid.crossJoin(broadcast(sz))
      .select(col("w"), expr("t div w").as("blk"),
        expr("t % w").as("j"), col("x"))
    val wCum = Window.partitionBy("w", "blk").orderBy("j")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stats = blocks
      .withColumn("cum", sum(d380(col("x"))).over(wCum))
      .groupBy("w", "blk")
      .agg(count(lit(1)).as("nb"),
        sum(d380(col("x"))).cast("decimal(38,0)").as("sb"),
        sum(d380(col("x")) * d380(col("x"))).cast("decimal(38,0)")
          .as("ssb"),
        collect_list(struct(col("j"), col("cum"))).as("cums"))
    // dev_j·n_b = cum_j·n_b − (j+1)·s_b needs the block totals, so the
    // dev range is computed from the collected (j, cum) pairs —
    // block-width-bounded arrays (≤ max size), exact decimal algebra
    // inside the higher-order functions, order-insensitive (max/min)
    val ranged = stats
      .filter(col("nb") === col("w")) // complete blocks only
      .withColumn("devs", expr(
        "transform(cums, c -> c.cum * nb - (c.j + 1) * sb)"))
      .withColumn("rn", expr("array_max(devs) - array_min(devs)"))
      .withColumn("s2n",
        (d380(col("nb")) * col("ssb") - col("sb") * col("sb"))
          .cast("decimal(38,0)"))
      .filter(col("s2n") > 0 && col("rn") > 0)
      // R/S = (rng/n_b) / sqrt(s2n/n_b²) = rng / sqrt(s2n) — one shape
      .withColumn("lnrs",
        (log(dd(col("rn")) / sqrt(dd(col("s2n"))))).cast("decimal(38,12)"))
    val perSize = ranged.groupBy("w")
      .agg(count(lit(1)).as("n_blocks"),
        (sum(col("lnrs")).cast("decimal(38,12)").cast("double") /
          dd(count(lit(1)))).as("mean_ln_rs"))
      .withColumn("ln_w", log(dd(col("w"))))
    // 4-point OLS slope on the per-size means: a tiny statistic frame,
    // but the sums are still DECIMAL-quantized for order-freedom
    val q15 = (c: Column) => c.cast("decimal(38,15)")
    val fit = perSize.agg(count(lit(1)).as("np"),
        sum(q15(col("ln_w"))).cast("decimal(38,15)").as("sx"),
        sum(q15(col("mean_ln_rs"))).cast("decimal(38,15)").as("sy"),
        sum(q15(col("ln_w") * col("mean_ln_rs"))).cast("decimal(38,15)")
          .as("sxy"),
        sum(q15(col("ln_w") * col("ln_w"))).cast("decimal(38,15)")
          .as("sxx"))
      .select(((dd(col("np")) * dd(col("sxy")) -
        dd(col("sx")) * dd(col("sy"))) /
        (dd(col("np")) * dd(col("sxx")) -
          dd(col("sx")) * dd(col("sx")))).as("hurst"))
    perSize.crossJoin(broadcast(fit))
      .select(col("w").as("window_days"), col("n_blocks"),
        col("mean_ln_rs"), col("hurst"))
      .orderBy("window_days")
  }

  /** Does daily revenue trend persist or mean-revert — R/S Hurst
    * exponent over 16–128-day blocks. */
  def q351Hurst(spark: SparkSession, dir: String): DataFrame =
    hurstRs(Tables.orders(spark, dir), "o_orderdate", "o_totalprice")

  /** Trimmed mean per group — the robust location estimate between the
    * mean (outlier-hostage) and the median (throws away 98% of the
    * data): drop exactly g = ⌊n/`trimDenom`⌋ observations from EACH
    * tail, average the rest. Computed entirely on the value HISTOGRAM
    * (the q290/q284 rank-algebra discipline, never a raw-row sort):
    * each cell's surviving multiplicity is its count minus the overlap
    * of its cumulative span with the bottom-g and top-g windows — two
    * greatest/least expressions on exact integer cumulatives — so the
    * trimmed sum is one histogram-sized pass and per-task work scales
    * with the value domain. */
  def trimmedMean(df: DataFrame, groupCol: String, valCol: String,
      trimDenom: Int = 10): DataFrame = {
    require(trimDenom >= 3, s"trim denominator must be >= 3: $trimDenom")
    val hist = df.select(col(groupCol).as("g"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("g")
    hist
      .withColumn("ccum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wTot))
      .withColumn("gcut", expr(s"n div $trimDenom"))
      .withColumn("prev", col("ccum") - col("c"))
      // overlap of (prev, ccum] with the bottom-g / top-g rank windows
      .withColumn("tb", greatest(lit(0L),
        least(col("ccum"), col("gcut")) - least(col("prev"), col("gcut"))))
      .withColumn("tt", greatest(lit(0L),
        col("ccum") - greatest(col("prev"), col("n") - col("gcut"))))
      .groupBy(col("g").as(groupCol))
      .agg(max("n").as("n"), max("gcut").as("trimmed_each_side"),
        // decimal products: c is a data-scaled count, v is cents — the
        // long product wraps silently (non-ANSI) past ~9e18
        sum(d380(col("c") - col("tb") - col("tt")) * d380(col("v")))
          .cast("decimal(38,0)").as("ts"),
        sum(d380(col("c")) * d380(col("v"))).cast("decimal(38,0)")
          .as("rs"))
      .filter(col("n") > col("trimmed_each_side") * 2)
      .select(col(groupCol), col("n"), col("trimmed_each_side"),
        (dd(col("ts")) / dd(col("n") - col("trimmed_each_side") * 2)
          / 100.0).as("trimmed_mean"),
        (dd(col("rs")) / dd(col("n")) / 100.0).as("raw_mean"))
      .orderBy(groupCol)
  }

  /** 10%-per-tail trimmed mean of extended price per return flag, next
    * to the raw mean it robustifies. */
  def q352TrimmedMean(spark: SparkSession, dir: String): DataFrame =
    trimmedMean(Tables.lineitem(spark, dir), "l_returnflag",
      "l_extendedprice")

  /** Simpson's-paradox screen: compare the MARGINAL x→y regression
    * slope against the pooled WITHIN-STRATUM slope for each candidate
    * stratifier — when they disagree in sign, aggregate dashboards and
    * per-segment dashboards tell opposite stories and every downstream
    * decision needs the stratified number (Simpson 1951; the classic
    * observational-data audit). Pooled-within slope = Σ_g C_xy(g)/n_g ÷
    * Σ_g C_xx(g)/n_g (each group's centered cross-moments exact
    * integers, each ratio one quantized double term), marginal slope
    * from the same group moments re-summed — ONE scan per stratifier,
    * group-count-sized frames after it. */
  def simpsonsScreen(df: DataFrame, xCol: String, yCol: String,
      stratifiers: Seq[String]): DataFrame = {
    require(stratifiers.nonEmpty, "need at least one stratifier")
    val xc = (col(xCol).cast("decimal(18,2)") * 100).cast("long")
    val yc = (col(yCol).cast("decimal(18,2)") * 100).cast("long")
    val per = stratifiers.map { s =>
      val cls = df.select(col(s).cast("string").as("g"), xc.as("x"),
          yc.as("y"))
        .groupBy("g")
        .agg(count(lit(1)).as("ng"),
          sum(d380(col("x"))).cast("decimal(38,0)").as("sx"),
          sum(d380(col("y"))).cast("decimal(38,0)").as("sy"),
          sum(d380(col("x")) * d380(col("y"))).cast("decimal(38,0)")
            .as("sxy"),
          sum(d380(col("x")) * d380(col("x"))).cast("decimal(38,0)")
            .as("sxx"))
      val cxy = (d380(col("ng")) * col("sxy") - col("sx") * col("sy"))
        .cast("decimal(38,0)")
      val cxx = (d380(col("ng")) * col("sxx") - col("sx") * col("sx"))
        .cast("decimal(38,0)")
      cls
        .withColumn("wxy", (dd(cxy) / dd(col("ng"))).cast("decimal(38,6)"))
        .withColumn("wxx", (dd(cxx) / dd(col("ng"))).cast("decimal(38,6)"))
        .agg(count(lit(1)).as("k_strata"), sum("ng").as("n"),
          sum(d380(col("sx"))).cast("decimal(38,0)").as("tx"),
          sum(d380(col("sy"))).cast("decimal(38,0)").as("ty"),
          sum(col("sxy")).cast("decimal(38,0)").as("txy"),
          sum(col("sxx")).cast("decimal(38,0)").as("txx"),
          sum(col("wxy")).cast("decimal(38,6)").as("pxy"),
          sum(col("wxx")).cast("decimal(38,6)").as("pxx"))
        .select(lit(s).as("stratifier"), col("k_strata"), col("n"),
          (dd(d380(col("n")) * col("txy") - col("tx") * col("ty")) /
            dd(d380(col("n")) * col("txx") - col("tx") * col("tx")))
            .as("slope_marginal"),
          (dd(col("pxy")) / dd(col("pxx"))).as("slope_within"))
        .withColumn("sign_reversed",
          ((col("slope_marginal") > 0) =!= (col("slope_within") > 0))
            .cast("long"))
    }
    per.reduce(_ unionAll _).orderBy("stratifier")
  }

  /** Does the discount→revenue slope survive stratification by flag /
    * status / tax band — the aggregation-bias tripwire. */
  def q355Simpsons(spark: SparkSession, dir: String): DataFrame =
    simpsonsScreen(
      Tables.lineitem(spark, dir).withColumn("tax_band",
        (col("l_tax").cast("decimal(18,2)") * 100).cast("long")
          .cast("string")),
      "l_discount", "l_extendedprice",
      Seq("l_linestatus", "l_returnflag", "tax_band"))

  /** Granger-causality screen between two event series on the
    * zero-filled hourly grid (Granger 1969): does x's past improve the
    * 1-lag autoregression of y — F = (SSR_r − SSR_f)/(SSR_f/(m−3)) from
    * the nested OLS pair y_t ~ y_{t−1} vs y_t ~ y_{t−1} + x_{t−1}, run
    * in BOTH directions (the asymmetry is the signal; q320's CCF is
    * symmetric and can't orient the arrow). All nine raw moments of
    * (y, y₁, x₁) accumulate exactly in DECIMAL(38,0) over the lag-
    * joined grid; centered sums, the 2×2 solve and both SSRs are fixed
    * double shapes on them. Grid-sized work, two statistic rows out. */
  def grangerScreen(events: DataFrame, tsCol: String, xCond: Column,
      xVal: Column, yCond: Column, yVal: Column): DataFrame = {
    val hourly0 = events
      .select(expr(s"unix_micros($tsCol) div 3600000000").as("h"),
        when(xCond, xVal).otherwise(0L).as("xv"),
        when(yCond, yVal).otherwise(0L).as("yv"))
      .groupBy("h").agg(sum("xv").as("x"), sum("yv").as("y"))
    val span = hourly0.agg(min("h").as("mn"), max("h").as("mx"))
    val grid = span.select(explode(sequence(col("mn"), col("mx"))).as("h"))
      .join(hourly0, Seq("h"), "left").na.fill(0L, Seq("x", "y"))
      .localCheckpoint(true) // two directional frames read one grid
    val lagged = grid.join(
      grid.select(col("h").as("hp"), col("x").as("xp"), col("y").as("yp")),
      col("hp") === col("h") - 1)
    def direction(name: String, yc: Column, y1: Column, x1: Column)
        : DataFrame =
      lagged.agg(count(lit(1)).as("m"),
          sum(d380(yc)).cast("decimal(38,0)").as("sy"),
          sum(d380(y1)).cast("decimal(38,0)").as("sa"),
          sum(d380(x1)).cast("decimal(38,0)").as("sb"),
          sum(d380(yc) * d380(yc)).cast("decimal(38,0)").as("syy"),
          sum(d380(yc) * d380(y1)).cast("decimal(38,0)").as("sya"),
          sum(d380(yc) * d380(x1)).cast("decimal(38,0)").as("syb"),
          sum(d380(y1) * d380(y1)).cast("decimal(38,0)").as("saa"),
          sum(d380(y1) * d380(x1)).cast("decimal(38,0)").as("sab"),
          sum(d380(x1) * d380(x1)).cast("decimal(38,0)").as("sbb"))
        .withColumn("caa", (d380(col("m")) * col("saa") - col("sa") * col("sa"))
          .cast("decimal(38,0)"))
        .withColumn("cab", (d380(col("m")) * col("sab") - col("sa") * col("sb"))
          .cast("decimal(38,0)"))
        .withColumn("cbb", (d380(col("m")) * col("sbb") - col("sb") * col("sb"))
          .cast("decimal(38,0)"))
        .withColumn("cya", (d380(col("m")) * col("sya") - col("sy") * col("sa"))
          .cast("decimal(38,0)"))
        .withColumn("cyb", (d380(col("m")) * col("syb") - col("sy") * col("sb"))
          .cast("decimal(38,0)"))
        .withColumn("cyy", (d380(col("m")) * col("syy") - col("sy") * col("sy"))
          .cast("decimal(38,0)"))
        // restricted: y ~ y1; full adds x1. SSR×m² stays a fixed double
        // shape on the exact centered sums (their squares pass 10³⁸).
        .withColumn("ssr_r_m", dd(col("cyy")) - dd(col("cya")) * dd(col("cya"))
          / dd(col("caa")))
        .withColumn("det", dd(col("caa")) * dd(col("cbb"))
          - dd(col("cab")) * dd(col("cab")))
        .withColumn("b1", (dd(col("cbb")) * dd(col("cya"))
          - dd(col("cab")) * dd(col("cyb"))) / col("det"))
        .withColumn("b2", (dd(col("caa")) * dd(col("cyb"))
          - dd(col("cab")) * dd(col("cya"))) / col("det"))
        .withColumn("ssr_f_m", dd(col("cyy")) - col("b1") * dd(col("cya"))
          - col("b2") * dd(col("cyb")))
        .select(lit(name).as("direction"), col("m"),
          // SSR = (Cyy − β·C)/m, reported in squared value units (/10⁴
          // converts cents² → dollars²); the m and unit scales cancel
          // inside F
          (col("ssr_r_m") / dd(col("m")) / 1e4).as("ssr_restricted"),
          (col("ssr_f_m") / dd(col("m")) / 1e4).as("ssr_full"),
          // perfect-fit guard: ssr_f = 0 exactly would divide by zero
          // (ANSI); an exact fit means unbounded evidence -> NULL
          when(col("ssr_f_m") > 0, (col("ssr_r_m") - col("ssr_f_m")) /
            (col("ssr_f_m") / (dd(col("m")) - 3.0))).as("f_stat"))
    direction("x_to_y", col("y"), col("yp"), col("xp"))
      .unionAll(direction("y_to_x", col("x"), col("xp"), col("yp")))
      .orderBy("direction")
  }

  /** Do hourly clicks Granger-cause hourly purchase revenue, or the
    * reverse — orients the q320 lead/lag arrow. */
  def q347Granger(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    grangerScreen(Tables.events(spark, dir), "ts",
      col("event_type") === "click", lit(1L),
      col("event_type") === "purchase", cents)
  }

  /** Seasonality detection by FOLDING, not Fourier: for each candidate
    * period p, bucket the complete hourly count series by phase
    * (hour − min) mod p and take the between-phase share of total
    * variance, strength_p = SS_between / SS_total ∈ [0,1] — a strong
    * periodic component at p concentrates variance between phases. No
    * trigonometry crosses the engine boundary (cos/sin ulp differences
    * are the classic cross-engine hash killer): SS_total is exact
    * integer algebra (n²·SS_t = n²Σx² − nS²) and SS_between's per-phase
    * terms s_r²/n_r are single divisions of exact integers,
    * DECIMAL-quantized before the phase sum. One grid aggregation + one
    * (period, phase) reduce per candidate — span-bounded frames. */
  def seasonalStrength(df: DataFrame, tsCol: String,
      periods: Seq[Int], bucketSeconds: Long): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2), s"bad periods")
    val bUs = bucketSeconds * 1000000L
    val hourly0 = df
      .select(expr(s"unix_micros($tsCol) div $bUs").as("h"))
      .groupBy("h").agg(count(lit(1)).as("x"))
    val span = hourly0.agg(min("h").as("mn"), max("h").as("mx"))
    val grid = span.select(col("mn"),
        explode(sequence(col("mn"), col("mx"))).as("h"))
      .join(hourly0, Seq("h"), "left").na.fill(0L, Seq("x"))
    val m = grid.agg(count(lit(1)).as("n"),
      sum(d380(col("x"))).cast("decimal(38,0)").as("s"),
      sum(d380(col("x")) * d380(col("x"))).cast("decimal(38,0)").as("sxx"))
    val perDf = df.sparkSession.createDataFrame(
      periods.map(Tuple1(_))).toDF("p")
    val phases = grid.crossJoin(broadcast(perDf))
      .groupBy(col("p"), ((col("h") - col("mn")) % col("p")).as("ph"))
      .agg(count(lit(1)).as("nr"),
        sum(d380(col("x"))).cast("decimal(38,0)").as("sr"))
      .withColumn("bt", (dd(col("sr")) * dd(col("sr")) / dd(col("nr")))
        .cast("decimal(38,6)"))
      .groupBy("p")
      .agg(sum(col("bt")).cast("decimal(38,6)").as("btsum"))
    phases.crossJoin(broadcast(m)) // 1-row statistic frame
      .select(col("p").cast("long").as("period"),
        ((dd(col("btsum")) - dd(col("s")) * dd(col("s")) / dd(col("n"))) /
          (dd(col("sxx")) - dd(col("s")) * dd(col("s")) / dd(col("n"))))
          .as("strength"))
      .orderBy("period")
  }

  /** Which cycle drives event arrivals: fold the hourly event-count
    * series by candidate periods (6 h … 2 d) and rank the between-phase
    * variance shares. */
  def q305SeasonalStrength(spark: SparkSession, dir: String): DataFrame =
    seasonalStrength(Tables.events(spark, dir), "ts",
      periods = Seq(4, 6, 8, 12, 24, 48), bucketSeconds = 3600L)

  /** Holt linear-trend exponential smoothing — the sequential-recurrence
    * operator class (level/trend state carried day to day), which has no
    * window/groupBy shape at all: it is a per-key ORDERED FOLD. Expressed
    * Spark-natively as `aggregate()` (a codegen'd higher-order function)
    * over each key's date-sorted value array — the array is CALENDAR-span
    * bounded (one element per day), not data bounded, so the fold input
    * is the same day histogram every series operator here reduces to,
    * and keys fold in parallel.
    *
    * Cross-engine determinism: the recurrence runs on INTEGER cents with
    * α = 1/2, β = 1/4 and explicit `floor(x / 2^k)` steps —
    *   l_t = ⌊(x_t + l_{t−1} + b_{t−1}) / 2⌋
    *   b_t = ⌊(l_t − l_{t−1}) / 4⌋ + ⌊3·b_{t−1} / 4⌋
    * (floor of an exact-in-double quotient; no decimal re-scaling whose
    * tie-rounding rule differs between engines, no float accumulation).
    * Missing days are zero-filled so both engines fold the identical
    * vector. Emits the full (key, day, level, trend) trajectory — the
    * whole path is hash-gated, not just the final state. */
  def holtLinear(df: DataFrame, keyCol: String, dateCol: String,
      valCol: String): DataFrame = {
    val daily = df
      .select(col(keyCol).as("k"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("k", "d").agg(sum("vc").as("x"))
    val span = daily.groupBy("k").agg(min("d").as("mn"), max("d").as("mx"))
    val grid = span
      .select(col("k"), explode(sequence(col("mn"), col("mx"))).as("d"))
      .join(daily, Seq("k", "d"), "left").na.fill(0L, Seq("x"))
    grid.groupBy("k")
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("xs"))
      .select(col("k"), explode(expr(
        """aggregate(
          |  slice(xs, 2, size(xs) - 1),
          |  array(named_struct('d', xs[0].d, 'l', xs[0].x,
          |    'b', CAST(0 AS BIGINT))),
          |  (acc, e) -> array_append(acc, named_struct(
          |    'd', e.d,
          |    'l', CAST(FLOOR((e.x + element_at(acc, -1).l
          |      + element_at(acc, -1).b) / 2.0) AS BIGINT),
          |    'b', CAST(FLOOR((CAST(FLOOR((e.x + element_at(acc, -1).l
          |        + element_at(acc, -1).b) / 2.0) AS BIGINT)
          |        - element_at(acc, -1).l) / 4.0) AS BIGINT)
          |      + CAST(FLOOR(3.0 * element_at(acc, -1).b / 4.0)
          |        AS BIGINT))))""".stripMargin)).as("st"))
      .select(col("k").as(keyCol), col("st.d").as("d"),
        col("st.l").as("level_c"), col("st.b").as("trend_c"))
      .orderBy(keyCol, "d")
  }

  /** Smoothed daily-revenue level and trend per return flag — the
    * forecasting state every inventory planner carries. */
  def q308HoltLinear(spark: SparkSession, dir: String): DataFrame =
    holtLinear(Tables.lineitem(spark, dir), "l_returnflag", "l_shipdate",
      "l_extendedprice")

  /** Holt–Winters ADDITIVE seasonal smoothing (weekly cycle, m = 7) —
    * [[holtLinear]]'s level/trend fold extended with a 7-slot seasonal
    * state, completing the exponential-smoothing family: the state a
    * demand forecaster actually carries when the series has a weekday
    * cycle. Same Spark-native shape: a per-key ordered `aggregate()`
    * fold over the calendar-bounded day array, keys folding in parallel.
    *
    * Cross-engine determinism (the q308 contract, plus a seasonal row):
    * α = 1/2, β = 1/4, γ = 1/2 on INTEGER cents with explicit floors —
    *   l_t = ⌊(x_t − s_{t−7} + l + b) / 2⌋
    *   b_t = ⌊(l_t − l) / 4⌋ + ⌊3·b / 4⌋
    *   s_t = ⌊(x_t − l_t + s_{t−7}) / 2⌋   (only phase d mod 7 updates)
    * seeded l₁ = x₁, b₁ = 0, s ≡ 0. The full (key, day, level, trend,
    * seasonal) trajectory is hash-gated against a recursive-CTE twin
    * that carries the 7-slot state as a LIST column. */
  def holtWinters(df: DataFrame, keyCol: String, dateCol: String,
      valCol: String): DataFrame = {
    val daily = df
      .select(col(keyCol).as("k"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("k", "d").agg(sum("vc").as("x"))
    val span = daily.groupBy("k").agg(min("d").as("mn"), max("d").as("mx"))
    val grid = span
      .select(col("k"), explode(sequence(col("mn"), col("mx"))).as("d"))
      .join(daily, Seq("k", "d"), "left").na.fill(0L, Seq("x"))
    // Fold-accumulator layout (r11 optimization, guide §1.2 "per-task
    // work"): the live (l, b, s[7]) state rides at the TOP of the
    // accumulator struct and the emitted trajectory is an array of FLAT
    // (d, l, b, sc) structs — only the day's own seasonal slot is kept per
    // row. The previous layout appended the full 7-slot seasonal array to
    // every emitted element, so each array_append deep-copied n nested
    // arrays (O(n²) array allocations per key across the fold; measured
    // r11: 6.8 s → 3.6 s warm solo at sf0.1). Arithmetic is unchanged — same
    // floors, same order — so the trajectory is bit-identical.
    val ph = "CAST(e.d % 7 AS INT)"
    val sOld = s"element_at(acc.s, $ph + 1)"
    val lNew = s"CAST(FLOOR((e.x - $sOld + acc.l + acc.b) / 2.0)" +
      " AS BIGINT)"
    val bNew = s"CAST(FLOOR(($lNew - acc.l) / 4.0) AS BIGINT)" +
      s" + CAST(FLOOR(3.0 * acc.b / 4.0) AS BIGINT)"
    val sNew = s"CAST(FLOOR((e.x - $lNew + $sOld) / 2.0) AS BIGINT)"
    grid.groupBy("k")
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("xs"))
      .select(col("k"), explode(expr(
        s"""aggregate(
           |  slice(xs, 2, size(xs) - 1),
           |  named_struct('l', xs[0].x, 'b', CAST(0 AS BIGINT),
           |    's', array_repeat(CAST(0 AS BIGINT), 7),
           |    'out', array(named_struct('d', xs[0].d, 'l', xs[0].x,
           |      'b', CAST(0 AS BIGINT), 'sc', CAST(0 AS BIGINT)))),
           |  (acc, e) -> named_struct(
           |    'l', $lNew,
           |    'b', $bNew,
           |    's', transform(acc.s,
           |      (sv, i) -> IF(i = $ph, $sNew, sv)),
           |    'out', array_append(acc.out, named_struct(
           |      'd', e.d, 'l', $lNew, 'b', $bNew, 'sc', $sNew))),
           |  acc -> acc.out)""".stripMargin))
        .as("st"))
      .select(col("k").as(keyCol), col("st.d").as("d"),
        col("st.l").as("level_c"), col("st.b").as("trend_c"),
        col("st.sc").as("seasonal_c"))
      .orderBy(keyCol, "d")
  }

  /** Weekday-aware smoothed daily order revenue per priority class —
    * level, trend AND the weekly seasonal component, the full
    * forecasting state. */
  def q326HoltWinters(spark: SparkSession, dir: String): DataFrame =
    holtWinters(Tables.orders(spark, dir), "o_orderpriority",
      "o_orderdate", "o_totalprice")

  /** Page's two-sided CUSUM drift detector (Page 1954) — the SEQUENTIAL
    * complement to q310's retrospective binary segmentation: per key,
    * carry the cumulative-deviation pair
    *   S⁺_t = max(0, S⁺_{t−1} + x_t − μ₀ − k)
    *   S⁻_t = max(0, S⁻_{t−1} + μ₀ − k − x_t)
    * day to day and flag an alarm whenever either exceeds the decision
    * threshold h — the page-on-drift monitor a feature store runs beside
    * the retrospective PSI/KS views ([[Audit]] q142/q331).
    *
    * Calibration is self-contained and integer: μ₀ = ⌊Σ first-28-days /
    * 28⌋ on the cent grid, allowance k = ⌊μ₀/20⌋ (0.05 μ₀), threshold
    * h = ⌊μ₀/4⌋ (0.25 μ₀). Same Spark-native shape as [[holtLinear]]:
    * a per-key ordered `aggregate()` fold over the calendar-bounded,
    * zero-filled day array (keys fold in parallel; state is two longs).
    * All arithmetic is exact BIGINT (max/add), the only quotients are
    * floors of exact-in-double ratios, so the whole (key, day, S⁺, S⁻,
    * alarms) trajectory is bit-reproducible and hash-gated against a
    * recursive-CTE twin. Keys whose span is ≤ 28 days have no
    * post-baseline trajectory and are dropped. */
  def cusumDrift(df: DataFrame, keyCol: String, dateCol: String,
      valCol: String): DataFrame = {
    val daily = df
      .select(col(keyCol).as("k"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("k", "d").agg(sum("vc").as("x"))
    val span = daily.groupBy("k").agg(min("d").as("mn"), max("d").as("mx"))
    val grid = span
      .select(col("k"), explode(sequence(col("mn"), col("mx"))).as("d"))
      .join(daily, Seq("k", "d"), "left").na.fill(0L, Seq("x"))
    val prev = "element_at(acc, -1)"
    grid.groupBy("k")
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("xs"))
      .filter(size(col("xs")) > 28)
      .withColumn("mu0", expr(
        """CAST(FLOOR(aggregate(slice(xs, 1, 28), CAST(0 AS BIGINT),
          |  (a, e) -> a + e.x) / 28.0) AS BIGINT)""".stripMargin))
      .withColumn("kc", expr("CAST(FLOOR(mu0 / 20.0) AS BIGINT)"))
      .withColumn("h", expr("CAST(FLOOR(mu0 / 4.0) AS BIGINT)"))
      .select(col("k"), col("mu0"), col("kc"), col("h"), explode(expr(
        s"""aggregate(
           |  slice(xs, 29, size(xs) - 28),
           |  array(named_struct('d', xs[27].d,
           |    'sp', CAST(0 AS BIGINT), 'sn', CAST(0 AS BIGINT))),
           |  (acc, e) -> array_append(acc, named_struct(
           |    'd', e.d,
           |    'sp', greatest(CAST(0 AS BIGINT),
           |      $prev.sp + e.x - mu0 - kc),
           |    'sn', greatest(CAST(0 AS BIGINT),
           |      $prev.sn + mu0 - kc - e.x))))""".stripMargin)).as("st"))
      // the first emitted row is the baseline-state anchor (day 28 of
      // the key's span, S⁺ = S⁻ = 0) — kept: it pins where monitoring
      // starts, and both engines seed it identically
      .select(col("k").as(keyCol), col("st.d").as("d"),
        col("mu0").as("mu0_c"), col("kc").as("k_c"), col("h").as("h_c"),
        col("st.sp").as("sp_c"), col("st.sn").as("sn_c"),
        when(col("st.sp") > col("h"), 1L).otherwise(0L).as("alarm_up"),
        when(col("st.sn") > col("h"), 1L).otherwise(0L).as("alarm_dn"))
      .orderBy(keyCol, "d")
  }

  /** Did daily revenue drift off its opening-month baseline, per return
    * flag — the sequential CUSUM alarm trajectory. */
  def q334CusumDrift(spark: SparkSession, dir: String): DataFrame =
    cusumDrift(Tables.lineitem(spark, dir), "l_returnflag", "l_shipdate",
      "l_extendedprice")

  /** Theil–Sen robust trend, GLOBAL-series variant: the MEDIAN of all
    * pairwise day-to-day slopes of the daily series — one gross outlier
    * day cannot move it (the robust complement of the OLS slopes in
    * q275/q287). [[Ml.theilSen]] (q247) is the per-KEY form whose median
    * window partitions by key; a single global series has no partition
    * key, which is exactly the single-partition-window trap — so this
    * variant selects the exact AVERAGE median (both middle elements, the
    * textbook estimator) through the range-partitioned rank helper
    * instead. The pair
    * frame is the day histogram squared (span-bounded: C(days, 2) pairs
    * regardless of row count); slopes are exact-integer differences
    * finished by one correctly-rounded double division, so both engines
    * order the identical doubles; the exact median picks the middle
    * element(s) by [[Rank.globalRankPrefix]] under the total (slope, d1,
    * d2) order — no single-partition sort. Returns n_pairs + slope in
    * cents/day. */
  def theilSen(df: DataFrame, dateCol: String, valCol: String): DataFrame = {
    // r11: the pair count is C(days, 2) — arithmetic on the day count
    // instead of a second full materialization of the triangular pair
    // join (guide §2.4: the BroadcastNestedLoopJoin over days² now runs
    // once; the broadcast-side subjob becomes a cheap day count). An
    // eager checkpoint of `daily` was also tried and measured WORSE — it
    // serializes an extra job while the lazy twin subtrees run as
    // parallel stages inside the one pair job.
    val daily = df
      .select(datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("d").agg(sum("vc").as("x"))
    val a = daily.select(col("d").as("d1"), col("x").as("x1"))
    val b = daily.select(col("d").as("d2"), col("x").as("x2"))
    val pairs = a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        (dd(col("x2") - col("x1")) / dd(col("d2") - col("d1")))
          .as("slope"))
    val n = daily.agg(count(lit(1)).as("__nd"))
      .select(expr("__nd * (__nd - 1) div 2").as("nn"))
    Rank.globalRankPrefix(pairs, Seq(col("slope"), col("d1"), col("d2")))
      .crossJoin(broadcast(n)) // 1-row build side
      .filter(col("__rn") === expr("(nn + 1) div 2") ||
        col("__rn") === expr("(nn + 2) div 2"))
      .agg(max(col("nn")).as("n_pairs"),
        avg(col("slope")).as("slope_c_per_day"))
  }

  /** Robust daily-revenue trend of the order stream. */
  def q309TheilSen(spark: SparkSession, dir: String): DataFrame =
    theilSen(Tables.orders(spark, dir), "o_orderdate", "o_totalprice")

  /** Level-shift changepoint (binary segmentation, depth 1): the split
    * day t that best explains the daily series as two constant levels —
    * since total Σx² is split-invariant, argmin SSE ⇔ argmax of
    * f(t) = S_L²/n_L + S_R²/n_R, which needs ONLY the prefix sums (longs
    * at any SF; no x² that would overflow), computed range-partitioned
    * by [[Rank.globalRankPrefix]]. Per-day objectives are single double
    * divisions of exact integers, DECIMAL(38,6)-quantized so the argmax
    * is an exact comparison; deterministic tiebreak = earliest day. The
    * candidate frame is the day grid — span-bounded. Returns the split
    * day, both exact-cents level means, and the variance-explained
    * gain. */
  def changepoint(df: DataFrame, dateCol: String,
      valCol: String): DataFrame = {
    val daily0 = df
      .select(datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("d").agg(sum("vc").as("x"))
    val span = daily0.agg(min("d").as("mn"), max("d").as("mx"))
    val grid = span.select(explode(sequence(col("mn"), col("mx"))).as("d"))
      .join(daily0, Seq("d"), "left").na.fill(0L, Seq("x"))
    val tot = grid.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val objs = Rank.globalRankPrefix(grid, Seq(col("d")),
        Seq("sl" -> col("x")))
      .crossJoin(broadcast(tot)) // 1-row statistic frame
      .filter(col("__rn") < col("n")) // split AFTER day t needs a right side
      .withColumn("obj",
        ((dd(d380(col("sl")) * d380(col("sl"))) / dd(col("__rn"))) +
          (dd(d380(col("s") - col("sl")) * d380(col("s") - col("sl"))) /
            dd(col("n") - col("__rn")))).cast("decimal(38,6)"))
    // single-pass argmax: max over (obj, −d, …) picks the best objective
    // with the EARLIEST-day tiebreak in one aggregation — no self-join
    // whose inferred isnotnull(obj) predicate could be pushed past the
    // rn < n guard and re-evaluate the division on the guarded row
    objs.agg(max(struct(col("obj"), (-col("d")).as("negd"), col("d"),
        col("__rn").as("rn"), col("sl"), col("n"), col("s"))).as("w"))
      .select(col("w.d").as("split_day"),
        (dd(col("w.sl")) / dd(col("w.rn")) / 100.0).as("mean_left"),
        (dd(col("w.s") - col("w.sl")) / dd(col("w.n") - col("w.rn"))
          / 100.0).as("mean_right"),
        (dd(col("w.obj")) - dd(d380(col("w.s")) * d380(col("w.s"))) /
          dd(col("w.n"))).as("gain_c2"))
  }

  /** When did daily order revenue shift level — the depth-1 binary
    * segmentation every monitoring pipeline runs first. */
  def q310Changepoint(spark: SparkSession, dir: String): DataFrame =
    changepoint(Tables.orders(spark, dir), "o_orderdate", "o_totalprice")

  /** STL-lite ADDITIVE decomposition of a daily series into
    * trend + weekday-seasonal + residual (the additive/weekly twin of
    * q234's multiplicative hour-of-day decomposition — additive is the
    * right model when the seasonal swing doesn't scale with the level,
    * and its identity closes EXACTLY in integers, which a multiplicative
    * model cannot), ALL ON THE INTEGER CENT GRID:
    * trend = centered 7-day moving average (sum of the 7-day window via
    * a bounded ±3 offset self-join on the zero-filled day grid, then
    * ⌊·/7⌋); seasonal = per-weekday mean of the detrended series
    * (⌊Σ/n_w⌋); residual closes the identity exactly. Floor of an
    * exact-in-double quotient is the one cross-engine-safe rounding
    * (decimal rescaling ties differ between engines); the quotients here
    * sit ≥ 7 orders of magnitude away from the nearest representable
    * boundary. Interior days only (the centered window must be full).
    * Every frame is the day histogram. */
  def stlDecompose(df: DataFrame, dateCol: String,
      valCol: String): DataFrame = {
    val daily0 = df
      .select(datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("d").agg(sum("vc").as("x"))
    val span = daily0.agg(min("d").as("mn"), max("d").as("mx"))
    val grid = span.select(col("mn"), col("mx"),
        explode(sequence(col("mn"), col("mx"))).as("d"))
      .join(daily0, Seq("d"), "left").na.fill(0L, Seq("x"))
    val offs = df.sparkSession.range(-3, 4).select(col("id").as("o"))
    val trend = grid.crossJoin(broadcast(offs))
      .filter(col("d") + col("o") >= col("mn") &&
        col("d") + col("o") <= col("mx"))
      .select((col("d") + col("o")).as("dc"), col("x"))
      .groupBy(col("dc").as("d"))
      .agg(count(lit(1)).as("nw"), sum(col("x")).as("s7"))
      .filter(col("nw") === 7) // interior: full centered window
      .select(col("d"),
        expr("CAST(FLOOR(s7 / 7.0) AS BIGINT)").as("trend_c"))
    val det = grid.join(trend, Seq("d"))
      .withColumn("det", col("x") - col("trend_c"))
      .withColumn("wd", pmod(col("d"), lit(7L)))
    val seasonal = det.groupBy("wd")
      .agg(expr("CAST(FLOOR(SUM(det) / CAST(COUNT(1) AS DOUBLE)) AS BIGINT)")
        .as("seasonal_c"))
    det.join(broadcast(seasonal), Seq("wd"))
      .select(col("d"), col("x").as("x_c"), col("trend_c"),
        col("seasonal_c"),
        (col("det") - col("seasonal_c")).as("resid_c"))
      .orderBy("d")
  }

  /** Daily revenue decomposed into trend / weekday cycle / residual. */
  def q311StlDecompose(spark: SparkSession, dir: String): DataFrame =
    stlDecompose(Tables.orders(spark, dir), "o_orderdate", "o_totalprice")

  /** 1-D density clustering (single-linkage DBSCAN on a line): maximal
    * runs of cent-quantized values where consecutive DISTINCT values are
    * ≤ `epsCents` apart, kept as clusters when they carry ≥ `minPts`
    * points. THE scalable special case of DBSCAN — on one dimension
    * density-connectivity is exactly the gaps-and-islands structure, so
    * no neighborhood join is ever needed.
    *
    * Scale shape: all work runs over the VALUE HISTOGRAM (groupBy value →
    * counts), never raw rows, so per-task cost is domain-bounded; the two
    * ordered passes (previous-value gap, then island prefix-sum) both go
    * through [[Rank.globalRankPrefix]]'s range-partitioned rank
    * composition — no single-partition window anywhere, including the
    * final cluster numbering. The gap lookup is a self-equijoin on the
    * dense global rank (rank n ⋈ rank n−1), a hash join on a unique key
    * rather than a lag window. */
  def densityIslands(df: DataFrame, valCol: String, epsCents: Long,
      minPts: Long): DataFrame = {
    require(epsCents >= 1, s"epsCents must be >= 1: $epsCents")
    require(minPts >= 1, s"minPts must be >= 1: $minPts")
    val hist = df
      .select((col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("vc").agg(count(lit(1)).as("cnt"))
    val rk = Rank.globalRankPrefix(hist, Seq(col("vc")))
      .localCheckpoint(false) // feeds both sides of the rank self-join
    val brk = rk.join(
        rk.select((col("__rn") + 1).as("__rn"), col("vc").as("prev")),
        Seq("__rn"), "left")
      .withColumn("brk",
        when(col("prev").isNull || col("vc") - col("prev") > epsCents, 1L)
          .otherwise(0L))
    val isl = Rank.globalRankPrefix(brk, Seq(col("vc")),
        Seq("island" -> col("brk")))
      .groupBy("island")
      .agg(min("vc").as("lo_cents"), max("vc").as("hi_cents"),
        count(lit(1)).as("n_values"), sum("cnt").as("n_points"))
      .filter(col("n_points") >= minPts)
    Rank.globalRankPrefix(isl, Seq(col("lo_cents")), rnCol = "cluster_id")
      .select(col("cluster_id").cast("int").as("cluster_id"),
        col("lo_cents"), col("hi_cents"),
        (col("hi_cents") - col("lo_cents")).as("width_cents"),
        col("n_values"), col("n_points"))
      .orderBy("cluster_id")
  }

  /** Where does event-value mass pool — density clusters over the
    * event-amount line (eps = 10¢, minPts = 30): the amount modes an
    * anomaly / pricing-tier analysis actually wants, without assuming a
    * cluster count up front (13–15 data-driven clusters at both gated
    * SFs; the long-tail amounts correctly fall out as noise). */
  def q323DensityIslands(spark: SparkSession, dir: String): DataFrame =
    densityIslands(Tables.events(spark, dir), "value",
      epsCents = 10L, minPts = 30L)

  /** Chow structural-break test per group: did the linear daily-revenue
    * trend CHANGE at a known break date (policy launch, repricing,
    * pipeline migration)? Fit y = a + b·t by OLS on the full span and on
    * each side of the break, then
    *   F = ((RSS_pooled − (RSS₁+RSS₂)) / k) / ((RSS₁+RSS₂) / (n − 2k)),
    * k = 2 parameters (Chow 1960). One grouped scan produces BOTH
    * segments' exact moment sets via conditional sums (no second pass,
    * no window); pooled moments are the exact integer adds of the
    * segment moments. RSS for each fit comes from the closed form
    * RSS = (vy − cov²/vx)/n on exact DECIMAL(38,0) n-scaled central
    * moments (the q296 Dickey–Fuller discipline) — doubles appear only
    * in the final fixed-shape finish, so the statistic is
    * engine-reproducible. Scale: the moment frame is |groups| rows; the
    * scan is map-side combined. */
  def chowTest(df: DataFrame, groupCol: String, dateCol: String,
      valCol: String, breakDate: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val dz = lit(0).cast("decimal(38,0)")
    val sd = df.select(col(groupCol).as("g"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("x"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("g", "x").agg(sum("vc").as("y"))
      .withColumn("s",
        when(col("x") < datediff(lit(breakDate), lit("1992-01-01")), 0)
          .otherwise(1))
    def segSums(i: Int) = Seq(
      sum(when(col("s") === i, 1L).otherwise(0L)).as(s"n$i"),
      sum(when(col("s") === i, col("x")).otherwise(0L)).as(s"sx$i"),
      sum(when(col("s") === i, col("y")).otherwise(0L)).as(s"sy$i"),
      sum(when(col("s") === i, d(col("x")) * d(col("x"))).otherwise(dz))
        .cast("decimal(38,0)").as(s"sxx$i"),
      sum(when(col("s") === i, d(col("x")) * d(col("y"))).otherwise(dz))
        .cast("decimal(38,0)").as(s"sxy$i"),
      sum(when(col("s") === i, d(col("y")) * d(col("y"))).otherwise(dz))
        .cast("decimal(38,0)").as(s"syy$i"))
    val aggs = segSums(0) ++ segSums(1)
    val m = sd.groupBy("g").agg(aggs.head, aggs.tail: _*)
    // exact pooled moments = segment adds; RSS finishes are the only doubles
    def rssOf(n: Column, sx: Column, sy: Column, sxx: Column, sxy: Column,
        syy: Column): (Column, Column) = {
      val cov = (d(n) * d(sxy) - d(sx) * d(sy)).cast("decimal(38,0)")
      val vx = (d(n) * d(sxx) - d(sx) * d(sx)).cast("decimal(38,0)")
      val vy = (d(n) * d(syy) - d(sy) * d(sy)).cast("decimal(38,0)")
      (vx, (dd(vy) - dd(cov) * dd(cov) / dd(vx)) / dd(n))
    }
    val (vx1, rss1) = rssOf(col("n0"), col("sx0"), col("sy0"),
      col("sxx0"), col("sxy0"), col("syy0"))
    val (vx2, rss2) = rssOf(col("n1"), col("sx1"), col("sy1"),
      col("sxx1"), col("sxy1"), col("syy1"))
    val np = col("n0") + col("n1")
    val (vxp, rssp) = rssOf(np, col("sx0") + col("sx1"),
      col("sy0") + col("sy1"),
      (col("sxx0") + col("sxx1")).cast("decimal(38,0)"),
      (col("sxy0") + col("sxy1")).cast("decimal(38,0)"),
      (col("syy0") + col("syy1")).cast("decimal(38,0)"))
    val srss = rss1 + rss2
    val ok = vx1 > 0 && vx2 > 0 && vxp > 0 &&
      col("n0") > lit(2L) && col("n1") > lit(2L) && srss > 0
    m.select(col("g").as(groupCol),
        col("n0").as("n_pre"), col("n1").as("n_post"),
        when(ok, rssp).as("rss_pooled"),
        when(ok, srss).as("rss_split"),
        when(ok, ((rssp - srss) / lit(2.0)) / (srss / dd(np - lit(4L))))
          .as("f_chow"))
      .orderBy(groupCol)
  }

  /** Did the revenue trend break at the 1995-06-17 span midpoint, per
    * return flag — the Chow F on the daily series. */
  def q360ChowTest(spark: SparkSession, dir: String): DataFrame =
    chowTest(Tables.lineitem(spark, dir), "l_returnflag", "l_shipdate",
      "l_extendedprice", "1995-06-17")

  /** Gaussian kernel density estimate evaluated on a FIXED grid per
    * group — the smooth view of a value distribution that histograms
    * (q167 equidepth, q323 density islands) quantize away:
    *   f̂(x₀) = Σ_v cnt(v)·exp(−(x₀−v)²/(2h²)) / (n·h·√(2π)).
    * The scan reduces to the exact per-cent value histogram FIRST (the
    * kernel sum is over distinct values, not raw rows), each kernel term
    * is quantized to DECIMAL(38,15) so the sum is order-independent
    * (the q348 Anderson–Darling discipline — float sums over a shuffle
    * are not associative), and the density finish is one fixed double
    * shape. Grid and bandwidth are caller constants, so output is
    * |groups| × |grid| rows regardless of data scale. */
  def kdeGrid(df: DataFrame, groupCol: String, valCol: String,
      gridLoCents: Long, gridHiCents: Long, gridStepCents: Long,
      bandwidth: Double): DataFrame = {
    val hist = df.select(col(groupCol).as("g"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("g", "vc").agg(count(lit(1)).as("cnt"))
    val grid = df.sparkSession
      .range(gridLoCents, gridHiCents + 1L, gridStepCents)
      .select(col("id").as("x0"))
    hist.crossJoin(broadcast(grid))
      .select(col("g"), col("x0"), col("cnt"),
        ((dd(col("x0")) - dd(col("vc"))) / lit(100.0)).as("u"))
      .select(col("g"), col("x0"), col("cnt"),
        (dd(col("cnt")) * exp(-(col("u") * col("u"))
          / lit(2.0 * bandwidth * bandwidth)))
          .cast("decimal(38,15)").as("term"))
      .groupBy("g", "x0")
      .agg(sum("term").cast("decimal(38,15)").as("tsum"),
        sum("cnt").as("n"))
      .select(col("g").as(groupCol), (dd(col("x0")) / lit(100.0)).as("x"),
        col("n"),
        (dd(col("tsum")) / (dd(col("n")) * lit(bandwidth)
          * sqrt(lit(2.0 * math.Pi)))).as("density"))
      .orderBy(groupCol, "x")
  }

  /** Where does event-value probability mass sit, smoothly — Gaussian
    * KDE (h = 25) of event amounts on the 0..500-by-25 grid per event
    * type. */
  def q361KdeGrid(spark: SparkSession, dir: String): DataFrame =
    kdeGrid(Tables.events(spark, dir), "event_type", "value",
      0L, 50000L, 2500L, 25.0)

  /** Croston's method for INTERMITTENT demand — the forecasting state
    * for series that are zero most days (a part sells ~30 times across
    * seven years): separate exponential smoothing of the nonzero demand
    * SIZE z and the inter-demand INTERVAL p, updated only at demand
    * occurrences (Croston 1972); forecast per period = z/p. Like q308
    * Holt, this is a per-key ORDERED FOLD, expressed as a codegen'd
    * `aggregate()` over each key's date-sorted occurrence array — but
    * folding the OCCURRENCE list (bounded by the key's demand count),
    * not a zero-filled calendar grid, because zero days change no state.
    * Cross-engine determinism: α = 1/2 on integer centi-units with
    * explicit floors — z' = ⌊(x+z)/2⌋, p' = ⌊(gap+p)/2⌋, seeded
    * z₁ = x₁, p₁ = 1. The full trajectory is hash-gated. */
  def croston(df: DataFrame, keyCol: String, dateCol: String,
      valCol: String): DataFrame = {
    val occ = df.select(col(keyCol).as("k"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("xc"))
      .groupBy("k", "d").agg(sum("xc").as("x"))
      .filter(col("x") > 0)
    occ.groupBy("k")
      .agg(sort_array(collect_list(struct(col("d"), col("x")))).as("xs"))
      .select(col("k"), explode(expr(
        """aggregate(
          |  slice(xs, 2, size(xs) - 1),
          |  array(named_struct('d', xs[0].d, 'x', xs[0].x,
          |    'z', xs[0].x, 'p', CAST(1 AS BIGINT))),
          |  (acc, e) -> array_append(acc, named_struct(
          |    'd', e.d, 'x', e.x,
          |    'z', CAST(FLOOR((e.x + element_at(acc, -1).z) / 2.0)
          |      AS BIGINT),
          |    'p', CAST(FLOOR(((e.d - element_at(acc, -1).d)
          |      + element_at(acc, -1).p) / 2.0) AS BIGINT))))"""
          .stripMargin)).as("st"))
      .select(col("k").as(keyCol), col("st.d").as("d"),
        col("st.x").as("demand_c"), col("st.z").as("z_c"),
        col("st.p").as("p_days"),
        (col("st.z").cast("double") / lit(100.0)
          / col("st.p").cast("double")).as("forecast"))
      .orderBy(keyCol, "d")
  }

  /** Per-part intermittent-demand forecast state: smoothed demand size,
    * smoothed reorder interval and the Croston rate after every sale. */
  def q362Croston(spark: SparkSession, dir: String): DataFrame =
    croston(Tables.lineitem(spark, dir), "l_partkey", "l_shipdate",
      "l_quantity")

  /** Engle–Granger two-step cointegration test for every ordered pair of
    * group series: do two trending daily-revenue series share a common
    * stochastic trend (their spread mean-reverts) or merely drift
    * together? Step 1 regresses y on x by OLS over the common-day frame
    * (exact integer moments, double finish); step 2 runs the q296
    * Dickey–Fuller regression on the FLOOR-quantized residual spread —
    * strongly negative t rejects "no cointegration" (Engle & Granger
    * 1987). Residual quantization to whole cents keeps the second-stage
    * moments exact integers; α, β are fixed double shapes on exact
    * moments, so e = y − α − βx is the same IEEE double in any engine
    * and its floor is reproducible (cents-scale residuals sit ~1e8 from
    * the nearest ulp-ambiguous integer). Pairs come from a self-join of
    * the |groups|×|days| daily frame on day — |groups| is small (a
    * slice dimension), so the pair frame is bounded by pairs×days. */
  def engleGranger(df: DataFrame, groupCol: String, dateCol: String,
      valCol: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val daily = df.select(col(groupCol).as("g"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("x"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("g", "x").agg(sum("vc").as("v"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.x") === col("b.x") && col("a.g") < col("b.g"))
      .select(col("a.g").as("ga"), col("b.g").as("gb"),
        col("a.x").as("x"), col("a.v").as("ya"), col("b.v").as("yb"))
    val m = pairs.groupBy("ga", "gb").agg(
        count(lit(1)).as("n"), sum("ya").as("sa"), sum("yb").as("sb"),
        sum(d(col("ya")) * d(col("ya"))).cast("decimal(38,0)").as("saa"),
        sum(d(col("ya")) * d(col("yb"))).cast("decimal(38,0)").as("sab"))
      .withColumn("vx", (d(col("n")) * col("saa")
        - d(col("sa")) * d(col("sa"))).cast("decimal(38,0)"))
      .withColumn("cov", (d(col("n")) * col("sab")
        - d(col("sa")) * d(col("sb"))).cast("decimal(38,0)"))
      .filter(col("vx") > 0 && col("n") > 2)
      .withColumn("beta", dd(col("cov")) / dd(col("vx")))
      .withColumn("alpha",
        (dd(col("sb")) - col("beta") * dd(col("sa"))) / dd(col("n")))
    val resid = pairs
      .join(broadcast(m.select("ga", "gb", "alpha", "beta")),
        Seq("ga", "gb"))
      .withColumn("e", floor(dd(col("yb")) - col("alpha")
        - col("beta") * dd(col("ya"))).cast("long"))
    val wDay = Window.partitionBy("ga", "gb").orderBy("x")
    val pr = resid.withColumn("elag", lag(col("e"), 1).over(wDay))
      .filter(col("elag").isNotNull)
      .withColumn("de", col("e") - col("elag"))
    val m2 = pr.groupBy("ga", "gb").agg(
        count(lit(1)).as("m"), sum("elag").as("s1"), sum("de").as("sd"),
        sum(d(col("elag")) * d(col("elag"))).cast("decimal(38,0)")
          .as("s11"),
        sum(d(col("elag")) * d(col("de"))).cast("decimal(38,0)")
          .as("s1d"),
        sum(d(col("de")) * d(col("de"))).cast("decimal(38,0)").as("sdd"))
      .withColumn("cv", (d(col("m")) * col("s1d")
        - d(col("s1")) * d(col("sd"))).cast("decimal(38,0)"))
      .withColumn("vx2", (d(col("m")) * col("s11")
        - d(col("s1")) * d(col("s1"))).cast("decimal(38,0)"))
      .withColumn("vy2", (d(col("m")) * col("sdd")
        - d(col("sd")) * d(col("sd"))).cast("decimal(38,0)"))
      .filter(col("vx2") > 0 && col("m") > 2)
    val gamma = dd(col("cv")) / dd(col("vx2"))
    val sse = (dd(col("vy2"))
      - dd(col("cv")) * dd(col("cv")) / dd(col("vx2"))) / dd(col("m"))
    val s2 = sse / dd(col("m") - 2)
    val seG = sqrt(s2 * dd(col("m")) / dd(col("vx2")))
    m2.join(broadcast(m.select(col("ga"), col("gb"),
        col("n").as("n_days"), col("alpha"), col("beta"))),
        Seq("ga", "gb"))
      .select(col("ga").as("g_x"), col("gb").as("g_y"), col("n_days"),
        col("alpha"), col("beta"), gamma.as("gamma"),
        (gamma / seG).as("t_eg"))
      .orderBy("g_x", "g_y")
  }

  /** Are the return-flag revenue streams cointegrated pairwise — the
    * spread-trading / shared-demand-trend question. */
  def q363EngleGranger(spark: SparkSession, dir: String): DataFrame =
    engleGranger(Tables.lineitem(spark, dir), "l_returnflag", "l_shipdate",
      "l_extendedprice")

  /** Gumbel extreme-value fit on monthly block maxima of the daily
    * series, with method-of-moments parameters and T-block return
    * levels — "what daily revenue should we expect to see exceeded once
    * a year / once in five years" (the EVT capacity-planning view that
    * q294's in-sample VaR cannot extrapolate to). Block maxima of exact
    * cents are engine-exact; β̂ = s·√6/π, μ̂ = m − γ·β̂ (γ = the
    * Euler–Mascheroni constant), x_T = μ̂ − β̂·ln(−ln(1−1/T)) are fixed
    * double shapes on the exact (n, Σ, Σ²) block-max moments. */
  def gumbelReturnLevels(df: DataFrame, groupCol: String, dateCol: String,
      valCol: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val bm = df.select(col(groupCol).as("g"),
        (year(col(dateCol)) * 12 + month(col(dateCol))).cast("long")
          .as("mth"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("x"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("g", "mth", "x").agg(sum("vc").as("v"))
      .groupBy("g", "mth").agg(max("v").as("mx"))
    val m = bm.groupBy("g").agg(count(lit(1)).as("n"), sum("mx").as("s"),
        sum(d(col("mx")) * d(col("mx"))).cast("decimal(38,0)").as("s2"))
      .filter(col("n") > 1)
      .withColumn("vv", (d(col("n")) * col("s2")
        - d(col("s")) * d(col("s"))).cast("decimal(38,0)"))
    val mean = dd(col("s")) / dd(col("n"))
    val varr = dd(col("vv")) / (dd(col("n")) * dd(col("n") - 1))
    val beta = sqrt(varr) * sqrt(lit(6.0)) / lit(math.Pi)
    val mu = mean - lit(0.5772156649015329) * beta
    def rl(t: Double) =
      mu - beta * log(-log(lit(1.0) - lit(1.0) / lit(t)))
    m.select(col("g").as(groupCol), col("n").as("n_blocks"),
        (mean / 100.0).as("mean_max"), (beta / 100.0).as("gumbel_beta"),
        (mu / 100.0).as("gumbel_mu"), (rl(12.0) / 100.0).as("rl_12"),
        (rl(60.0) / 100.0).as("rl_60"))
      .orderBy(groupCol)
  }

  /** Once-a-year and once-in-five-years daily-revenue extremes per
    * return flag from the monthly block-maxima Gumbel fit. */
  def q365GumbelMaxima(spark: SparkSession, dir: String): DataFrame =
    gumbelReturnLevels(Tables.lineitem(spark, dir), "l_returnflag",
      "l_shipdate", "l_extendedprice")

  /** 2-D grid density clustering (grid-granular DBSCAN) over an
    * value plane: hash every point into an (xCell × yCell) cell, call a
    * cell CORE when its 3×3 neighborhood holds ≥ minPtsFrac of all
    * points (a RELATIVE density threshold — see below), and
    * connect 8-adjacent core cells into clusters — q323's 1-D density
    * islands lifted to two dimensions, and the standard way DBSCAN is
    * made scan-parallel (cell counts are one map-side-combined groupBy;
    * every later step runs on the CELL frame, whose size is bounded by
    * the grid, not the row count — the exact property that survives a
    * 100× scale-up). Cells encode to integer ids so min-label
    * components are engine-reproducible; points in non-core cells are
    * noise (reported in the summary row contract via n_points of
    * clusters vs the caller's total). Uses [[Dedup.connectedComponents]]
    * for the core-cell graph; isolated core cells come back as their
    * own singleton clusters. */
  def gridDensityClusters2d(df: DataFrame, xCol: Column, yCol: Column,
      xCell: Double, yCell: Double, minPtsFrac: Double): DataFrame = {
    val cx = floor(xCol.cast("double") / lit(xCell)).cast("long")
    val cy = floor(yCol.cast("double") / lit(yCell)).cast("long")
    val pts = df.select(cx.as("cx"), cy.as("cy"))
    // RELATIVE density threshold (fraction of total rows): the same
    // declaration stays meaningful across scale factors — an absolute
    // minPts silently degrades to "everything is one cluster" when the
    // data grows 10x
    val tot = pts.agg(count(lit(1)).as("nt"))
    val cells = pts.groupBy("cx", "cy").agg(count(lit(1)).as("n"))
    // 3×3 neighborhood sums via a 9-offset EXPLODE + equi-join: each cell
    // probes its (cx+dx, cy+dy) neighbors on a hash-joinable key. The
    // naive `abs(Δcx) ≤ 1 AND abs(Δcy) ≤ 1` self-join is a pure non-equi
    // condition, which Spark can only plan as BroadcastNestedLoopJoin —
    // O(cells²) in occupied-cell count, a scale-killer once the grid is
    // data-scaled. The offset fan-out is a constant ×9 and the join is
    // one hash shuffle — linear (plan-pinned in WindowPlanSpec).
    val offs = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val nb = cells
      .select(col("cx"), col("cy"), col("n"), explode(offs).as("o"))
      .select(col("cx"), col("cy"), col("n"),
        (col("cx") + col("o.dx")).as("nx"),
        (col("cy") + col("o.dy")).as("ny"))
      .join(cells.select(col("cx").as("nx"), col("cy").as("ny"),
        col("n").as("on")), Seq("nx", "ny"))
      .groupBy("cx", "cy")
      .agg(max(col("n")).as("n"), sum(col("on")).as("nn"))
    val core = nb.crossJoin(broadcast(tot))
      .filter(col("nn") >=
        ceil(col("nt").cast("double") * lit(minPtsFrac)).cast("long"))
    // SCAN-LINE component build: hash-min CC straight over cells needs
    // diameter rounds, and a dense value stripe is hundreds of cells
    // long — the iteration count would track the GRID, not the cluster
    // structure. Collapse each row (fixed cy) to its maximal cx-runs
    // first (1-D islands — one bounded window per row), then run CC on
    // the SEGMENT graph: diameter ≤ 2·(number of rows), a constant of
    // the grid, regardless of how long the stripes grow.
    val wRow = Window.partitionBy("cy").orderBy("cx")
    val segs = core
      .withColumn("brk",
        when(col("cx") - lag(col("cx"), 1).over(wRow) === 1L, 0L)
          .otherwise(1L))
      .withColumn("seg", sum("brk").over(
        wRow.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("cy", "seg")
      .agg(min("cx").as("lo"), max("cx").as("hi"),
        count(lit(1)).as("n_cells"), sum("n").as("n_points"))
      // the id encoding is injective only for lo ≥ −1000 and
      // cy ∈ [−1000, 98999] — out-of-range grids must fail LOUDLY, not
      // silently collide (assert_true raises at run time; it is a no-op
      // column when the contract holds)
      .filter(assert_true(col("lo") >= -1000L && col("cy") >= -1000L &&
        col("cy") <= 98999L, lit("gridDensityClusters2d: cell coordinates " +
        "outside the encodable id range — shrink the grid or re-origin " +
        "the plane")).isNull)
      .withColumn("id", (col("lo") + 1000L) * 100000L + (col("cy") + 1000L))
    // 8-connectivity: segments in adjacent rows touch when their
    // one-cell-widened cx ranges overlap
    val edges = segs.as("a").join(segs.as("b"),
        col("b.cy") === col("a.cy") + 1L &&
          col("a.lo") <= col("b.hi") + 1L &&
          col("b.lo") <= col("a.hi") + 1L)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // segment-graph diameter is bounded by the segment count along a
    // zigzag chain, not by rows alone — give the label loop headroom
    val comp = Dedup.connectedComponents(edges, maxIter = 64)
    segs.join(comp, Seq("id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("id")))
      .groupBy("comp")
      .agg(sum("n_cells").as("n_cells"), sum("n_points").as("n_points"),
        min("lo").as("cx_lo"), max("hi").as("cx_hi"),
        min("cy").as("cy_lo"), max("cy").as("cy_hi"))
      .select(col("comp").as("cluster_id"), col("n_cells"),
        col("n_points"), col("cx_lo"), col("cx_hi"), col("cy_lo"),
        col("cy_hi"))
      .orderBy("cluster_id")
  }

  /** Where does (amount × time-of-day) event mass clump — grid density
    * clusters over the value/hour plane (25¢ × 2 h cells, core =
    * neighborhood ≥ 0.2% of the log): the pricing-tier-by-daypart map.
    * (The embeddings table's leading 2-D planes are isotropic blobs —
    * verified; the event-amount plane carries the real multimodal
    * structure, 25 clusters at sf0.01 / 11 at sf0.1.) */
  def q366GridDbscan(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    gridDensityClusters2d(ev, col("value"), hour(col("ts")),
      xCell = 0.25, yCell = 2.0, minPtsFrac = 0.002)
  }

  /** LOESS-style local linear smoother evaluated on a fixed day grid:
    * at each grid point x₀, fit a tricube-weighted linear regression
    * over the days within the bandwidth and report ŷ(x₀) = a + b·x₀ —
    * the trend view that a global OLS line (q275) flattens and a moving
    * average (q187) lags. Cleveland's LOWESS with the span expressed as
    * a fixed day bandwidth: w = (1−|u|³)³, u = (x−x₀)/h. Shape: the
    * day histogram range-joins the per-group grid (≤ h/step matches per
    * day — linear), weighted moments are DECIMAL(38,12)-quantized
    * term-wise, and each grid point's 2×2 solve is a fixed double
    * finish. Cubes are explicit products — no pow() at the gate. */
  def loessGrid(df: DataFrame, groupCol: String, dateCol: String,
      valCol: String, gridStep: Long, bandwidth: Double): DataFrame = {
    val dw = (c: Column) => c.cast("decimal(38,12)")
    val daily = df.select(col(groupCol).as("g"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("x"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("y"))
      .groupBy("g", "x").agg(sum("y").as("y"))
    val grid = daily.groupBy("g").agg(min("x").as("mn"), max("x").as("mx"))
      .select(col("g"),
        explode(sequence(col("mn"), col("mx"), lit(gridStep))).as("x0"))
    val u = (dd(col("x")) - dd(col("x0"))) / lit(bandwidth)
    val au3 = abs(u) * abs(u) * abs(u)
    val tri = (lit(1.0) - au3) * (lit(1.0) - au3) * (lit(1.0) - au3)
    val m = daily.join(broadcast(grid), Seq("g"))
      .filter(abs(col("x") - col("x0")) < lit(bandwidth))
      .select(col("g"), col("x0"), dw(tri).as("w"),
        dw(tri * dd(col("x"))).as("wx"), dw(tri * dd(col("y"))).as("wy"),
        dw(tri * dd(col("x")) * dd(col("x"))).as("wxx"),
        dw(tri * dd(col("x")) * dd(col("y"))).as("wxy"))
      .groupBy("g", "x0").agg(count(lit(1)).as("n_local"),
        sum("w").cast("decimal(38,12)").as("sw"),
        sum("wx").cast("decimal(38,12)").as("swx"),
        sum("wy").cast("decimal(38,12)").as("swy"),
        sum("wxx").cast("decimal(38,12)").as("swxx"),
        sum("wxy").cast("decimal(38,12)").as("swxy"))
    val den = dd(col("sw")) * dd(col("swxx")) - dd(col("swx")) * dd(col("swx"))
    val b = (dd(col("sw")) * dd(col("swxy"))
      - dd(col("swx")) * dd(col("swy"))) / den
    val a = (dd(col("swy")) - b * dd(col("swx"))) / dd(col("sw"))
    m.filter(col("n_local") >= 3)
      .select(col("g").as(groupCol), col("x0"), col("n_local"),
        when(den > 0, (a + b * dd(col("x0"))) / lit(100.0))
          .as("yhat"))
      .orderBy(groupCol, "x0")
  }

  /** The smoothed daily-revenue trend per return flag: tricube local
    * lines every 100 days with a 150-day bandwidth. */
  def q372LoessGrid(spark: SparkSession, dir: String): DataFrame =
    loessGrid(Tables.lineitem(spark, dir), "l_returnflag", "l_shipdate",
      "l_extendedprice", gridStep = 100L, bandwidth = 150.0)

  /** Poisson overdispersion check for daily event counts: the variance/
    * mean dispersion index with its (n−1)·D χ² statistic (Fisher's
    * index of dispersion) — the gate between Poisson and negative-
    * binomial modeling that every count-forecast (q190/q343) quietly
    * assumes an answer to. Days without events COUNT (the calendar
    * span is zero-filled per group, the q308 grid discipline); all
    * moments are exact integers off one scan, the index is a fixed
    * double finish. */
  def dispersionIndex(df: DataFrame, groupCol: String,
      tsCol: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val daily = df.select(col(groupCol).as("g"),
        datediff(to_date(col(tsCol)), lit("1992-01-01")).cast("long")
          .as("day"))
      .groupBy("g", "day").agg(count(lit(1)).as("k"))
    val grid = daily.groupBy("g")
      .agg(min("day").as("mn"), max("day").as("mx"))
      .select(col("g"), explode(sequence(col("mn"), col("mx"))).as("day"))
      .join(daily, Seq("g", "day"), "left").na.fill(0L, Seq("k"))
    val m = grid.groupBy("g").agg(count(lit(1)).as("n"),
        sum("k").as("s"),
        sum(d(col("k")) * d(col("k"))).cast("decimal(38,0)").as("s2"))
      .filter(col("n") > 1 && col("s") > 0)
      .withColumn("vv", (d(col("n")) * col("s2")
        - d(col("s")) * d(col("s"))).cast("decimal(38,0)"))
    val mean = dd(col("s")) / dd(col("n"))
    val varr = dd(col("vv")) / (dd(col("n")) * dd(col("n") - 1))
    m.select(col("g").as(groupCol), col("n").as("n_days"),
        mean.as("mean_per_day"), varr.as("var_per_day"),
        (varr / mean).as("dispersion"),
        (dd(col("n") - 1) * (varr / mean)).as("chi2"))
      .orderBy(groupCol)
  }

  /** Are arrivals Poisson or bursty, per event type — the dispersion
    * index over the zero-filled daily count series. */
  def q375Dispersion(spark: SparkSession, dir: String): DataFrame =
    dispersionIndex(Tables.events(spark, dir), "event_type", "ts")

  /** Frequency movers between the first and second half of the span —
    * which keys' SHARE of activity shifted, scored by the two-proportion
    * z statistic. The categorical drill-down PSI (q220/q331) cannot
    * give: PSI says "the part mix moved 0.08", this says "these exact
    * parts did it, this hard". One scan to per-key half counts,
    * z = (p₂−p₁)/√(p̄(1−p̄)(1/N₁+1/N₂)) as a fixed double shape on
    * exact counts, and the declared set is |z| ≥ zMin (a deterministic
    * predicate on engine-identical doubles — no fragile top-k over
    * near-tied scores). */
  def frequencyMovers(df: DataFrame, keyCol: String, dateCol: String,
      splitDate: String, zMin: Double): DataFrame = {
    val half = when(col("__d") < datediff(lit(splitDate),
      lit("1992-01-01")), 0).otherwise(1)
    val counts = df.select(col(keyCol).as("k"),
        datediff(col(dateCol), lit("1992-01-01")).as("__d"))
      .withColumn("h", half)
      .groupBy("k").agg(
        sum(when(col("h") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("h") === 1, 1L).otherwise(0L)).as("n2"))
    val tot = counts.agg(sum("n1").as("t1"), sum("n2").as("t2"))
    val p1 = dd(col("n1")) / dd(col("t1"))
    val p2 = dd(col("n2")) / dd(col("t2"))
    val pbar = dd(col("n1") + col("n2")) / dd(col("t1") + col("t2"))
    val se = sqrt(pbar * (lit(1.0) - pbar) *
      (lit(1.0) / dd(col("t1")) + lit(1.0) / dd(col("t2"))))
    val z = (p2 - p1) / se
    counts.crossJoin(broadcast(tot))
      .filter(col("n1") + col("n2") > 0)
      .withColumn("z", z)
      .filter(abs(col("z")) >= zMin)
      .select(col("k").as(keyCol), col("n1").as("n_early"),
        col("n2").as("n_late"), col("z"))
      .orderBy(keyCol)
  }

  /** Which parts' demand share moved hardest across the span midpoint —
    * the |z| ≥ 3 movers. */
  def q377FrequencyMovers(spark: SparkSession, dir: String): DataFrame =
    frequencyMovers(Tables.lineitem(spark, dir), "l_partkey",
      "l_shipdate", "1995-06-17", zMin = 3.0)

  /** OLS daily trend with Newey–West (HAC, Bartlett kernel) standard
    * errors: a serially-correlated series makes the classical OLS se(b)
    * lie (q287's Durbin–Watson DETECTS the autocorrelation; this is
    * what you do about it). Residuals are FLOOR-quantized to whole
    * cents (the q363 discipline) so every autocovariance term
    * Σ uₜuₜ₋ₗ of the scaled scores u = (n·x − Σx)·e is an exact
    * DECIMAL(38,0) sum; the Bartlett-weighted sandwich and the robust
    * t statistic are one fixed double finish. Lag products come from L
    * lags over the per-group day window (calendar-bounded). */
  def neweyWestTrend(df: DataFrame, groupCol: String, dateCol: String,
      valCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag >= 1: $maxLag")
    val d = (c: Column) => c.cast("decimal(38,0)")
    val daily = df.select(col(groupCol).as("g"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("x"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("y"))
      .groupBy("g", "x").agg(sum("y").as("y"))
    val m0 = daily.groupBy("g").agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(d(col("x")) * d(col("x"))).cast("decimal(38,0)").as("sxx"),
        sum(d(col("x")) * d(col("y"))).cast("decimal(38,0)").as("sxy"))
      .withColumn("vx", (d(col("n")) * col("sxx")
        - d(col("sx")) * d(col("sx"))).cast("decimal(38,0)"))
      .withColumn("cov", (d(col("n")) * col("sxy")
        - d(col("sx")) * d(col("sy"))).cast("decimal(38,0)"))
      .filter(col("vx") > 0 && col("n") > 2)
      .withColumn("b", dd(col("cov")) / dd(col("vx")))
      .withColumn("a",
        (dd(col("sy")) - col("b") * dd(col("sx"))) / dd(col("n")))
      .select("g", "n", "sx", "vx", "a", "b")
    // scaled score u = (n*x - sx) * e  — exact longs (e floored cents)
    val scored = daily.join(broadcast(m0), Seq("g"))
      .withColumn("e", floor(dd(col("y")) - col("a")
        - col("b") * dd(col("x"))).cast("long"))
      // decimal at creation: e is a daily-sum residual (data-scaled cents)
      // and (n·x − sx) is calendar² — the long product wraps at 100 TB
      .withColumn("u", ((d(col("n")) * d(col("x")) - d(col("sx")))
        * d(col("e"))).cast("decimal(38,0)"))
    val wDay = Window.partitionBy("g").orderBy("x")
    val lagged = (1 to maxLag).foldLeft(scored) { (acc, l) =>
      acc.withColumn(s"u_$l", lag(col("u"), l).over(wDay)) }
    val gAggs = (sum(d(col("u")) * d(col("u"))).cast("decimal(38,0)")
        .as("s0")) +:
      (1 to maxLag).map(l => sum(d(col("u")) * d(col(s"u_$l")))
        .cast("decimal(38,0)").as(s"s$l"))
    val vms = lagged.groupBy("g").agg(gAggs.head, gAggs.tail: _*)
    val nw = (1 to maxLag).map(l =>
      lit(2.0 * (1.0 - l.toDouble / (maxLag + 1.0))) *
        dd(col(s"s$l"))).foldLeft(dd(col("s0")))(_ + _)
    val denom = dd(col("n")) * dd(col("n")) *
      (dd(col("vx")) / dd(col("n"))) * (dd(col("vx")) / dd(col("n")))
    val seNw = sqrt(nw / denom)
    m0.join(vms, Seq("g"))
      .select(col("g").as(groupCol), col("n").as("n_days"),
        col("b").as("slope"), seNw.as("se_nw"),
        (col("b") / seNw).as("t_nw"))
      .orderBy(groupCol)
  }

  /** The daily-revenue trend per return flag with autocorrelation-
    * robust (Bartlett lag-7) standard errors. */
  def q378NeweyWest(spark: SparkSession, dir: String): DataFrame =
    neweyWestTrend(Tables.lineitem(spark, dir), "l_returnflag",
      "l_shipdate", "l_extendedprice", maxLag = 7)

  /** Quantile shift profile between the early and late halves of the
    * span: the exact lower empirical decile of the value distribution
    * in each half, side by side — WHERE in the distribution the drift
    * lives, which a KS max-gap (q141) or a PSI scalar (q220) cannot
    * localize ("the median moved 2%, the p90 moved 11%"). Quantiles
    * come from cumulative counts over the per-cent value HISTOGRAM
    * (half-partitioned windows over histogram rows, never raw rows);
    * deciles ride a broadcast frame. All outputs exact BIGINT cents
    * except the one ratio. */
  def quantileShiftProfile(df: DataFrame, valCol: Column, dateCol: String,
      splitDate: String, nQ: Int): DataFrame = {
    require(nQ >= 2, s"nQ >= 2: $nQ")
    val base = df.select(
        (valCol.cast("decimal(18,2)") * 100).cast("long").as("vc"),
        when(datediff(col(dateCol), lit("1992-01-01")) <
          datediff(lit(splitDate), lit("1992-01-01")), 0).otherwise(1)
          .as("h"))
      .groupBy("h", "vc").agg(count(lit(1)).as("cnt"))
    // r12 (guide §2.3): the old shape crossJoined EVERY histogram row with
    // the nQ−1 decile targets and re-filtered + min-aggregated the ×9
    // product. Instead each histogram row EMITS exactly the deciles it is
    // the minimal qualifying row for: d ∈ (dmax(cum − cnt), dmax(cum)] with
    // dmax(c) = (c·nQ) div n — algebraically `min vc with cum ≥
    // ceil(n·d/nQ)`, same exact integer arithmetic, zero re-scan. The
    // cumulative count keeps the per-half running window (2 partitions —
    // fine: the histogram is value-domain-sized, not row-sized; a
    // range-partitioned prefix-sum variant measured FASTER warm but its
    // cold run — extra sampling pass + checkpoint — pushed the query past
    // the bench's 8 s single-run threshold, 4.7 → 9.0 s recorded; kept the
    // window). (Measured at sf0.1: warm 4.1–5.5 s → ~2.5 s.)
    val wOrd = Window.partitionBy("h").orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("h")
    val quant = base.withColumn("cum", sum("cnt").over(wOrd))
      .withColumn("n", sum("cnt").over(wAll))
      .withColumn("dhi", expr(s"least((cum * $nQ) div n, ${nQ - 1})"))
      .withColumn("dlo", expr(s"greatest(((cum - cnt) * $nQ) div n + 1, 1)"))
      .filter(col("dhi") >= col("dlo"))
      .select(col("h"), col("vc").as("q"),
        explode(sequence(col("dlo"), col("dhi"))).as("d"))
    quant.filter(col("h") === 0)
      .select(col("d"), col("q").as("q_early_c"))
      .join(quant.filter(col("h") === 1)
        .select(col("d"), col("q").as("q_late_c")), Seq("d"))
      .select(col("d").as("decile"), col("q_early_c"), col("q_late_c"),
        (col("q_late_c") - col("q_early_c")).as("shift_c"),
        ((col("q_late_c") - col("q_early_c")).cast("double") /
          col("q_early_c").cast("double")).as("shift_frac"))
      .orderBy("decile")
  }

  /** Did price drift live in the tails or the middle — the decile-by-
    * decile shift of extended price across the span midpoint. */
  def q379QuantileShift(spark: SparkSession, dir: String): DataFrame =
    quantileShiftProfile(Tables.lineitem(spark, dir),
      col("l_extendedprice"), "l_shipdate", "1995-06-17", nQ = 10)

  /** Parametric (exponential) churn-hazard comparison per segment:
    * treat each customer's order span as exposure, their going quiet
    * `churnDays` before the log's end as the event, and compare
    * per-segment hazard rates λ = events/exposure with the ratio to
    * the overall rate and its log-scale CI (exp(±1.96/√d)) — the
    * parametric complement of the nonparametric survival family
    * (q199 KM / q282 Nelson–Aalen / q268 log-rank). Exact integer
    * event and exposure-day sums; rates and CIs are fixed double
    * shapes. Customers with a single order contribute one exposure
    * day. */
  def exponentialHazard(orders: DataFrame, custCol: String,
      dateCol: String, segments: DataFrame, segKey: String,
      segCol: String, churnDays: Long): DataFrame = {
    val per = orders.select(col(custCol).as("c"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("day"))
      .groupBy("c").agg(min("day").as("fd"), max("day").as("ld"))
    val mx = per.agg(max("ld").as("mxd"))
    val scored = per.crossJoin(broadcast(mx))
      .join(segments.select(col(segKey).as("c"), col(segCol).as("seg")),
        Seq("c"))
      .select(col("seg"),
        (col("ld") - col("fd") + 1L).as("exp_days"),
        when(col("ld") < col("mxd") - lit(churnDays), 1L).otherwise(0L)
          .as("ev"))
    val bySeg = scored.groupBy("seg").agg(count(lit(1)).as("n_cust"),
      sum("ev").as("n_churned"), sum("exp_days").as("exposure_days"))
    val all = bySeg.agg(sum("n_churned").as("d_all"),
      sum("exposure_days").as("e_all"))
    val lam = dd(col("n_churned")) / dd(col("exposure_days"))
    val lamAll = dd(col("d_all")) / dd(col("e_all"))
    val hr = lam / lamAll
    val halfW = lit(1.96) / sqrt(dd(col("n_churned")))
    bySeg.crossJoin(broadcast(all))
      .filter(col("n_churned") > 0 && col("exposure_days") > 0)
      .select(col("seg"), col("n_cust"), col("n_churned"),
        col("exposure_days"),
        (lam * lit(1000.0)).as("lambda_per_kday"),
        hr.as("hazard_ratio"),
        (hr * exp(lit(0.0) - halfW)).as("hr_ci_lo"),
        (hr * exp(halfW)).as("hr_ci_hi"))
      .orderBy("seg")
  }

  /** Which market segments churn fastest under an exponential model —
    * hazard ratios vs the book, with log-scale CIs. */
  def q381ExponentialHazard(spark: SparkSession, dir: String): DataFrame =
    exponentialHazard(Tables.orders(spark, dir), "o_custkey",
      "o_orderdate", Tables.customer(spark, dir), "c_custkey",
      "c_mktsegment", churnDays = 180L)

  /** Herfindahl–Hirschman concentration per market: Σ share² of each
    * member's exact revenue cents, plus the effective-competitor count
    * 1/HHI — the concentration scalar the Lorenz/Gini pair (q283/q176)
    * summarizes as a curve ("is this nation's supply base 2 effective
    * suppliers or 40"). Each share² term is DECIMAL(38,18)-quantized
    * so the sum is order-independent; member revenues are exact longs
    * from one scan. */
  def herfindahl(df: DataFrame, marketCol: String, memberCol: String,
      valCol: Column): DataFrame = {
    val cells = df.select(col(marketCol).as("mkt"),
        col(memberCol).as("mem"),
        (valCol.cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("mkt", "mem").agg(sum("vc").as("v"))
    val tot = cells.groupBy("mkt").agg(sum("v").as("t"),
      count(lit(1)).as("n_members"))
    cells.join(tot, Seq("mkt"))
      .filter(col("t") > 0)
      .select(col("mkt"), col("n_members"),
        ((dd(col("v")) / dd(col("t"))) * (dd(col("v")) / dd(col("t"))))
          .cast("decimal(38,18)").as("term"))
      .groupBy("mkt", "n_members")
      .agg(sum("term").cast("decimal(38,18)").as("hhi"))
      .select(col("mkt").as(marketCol), col("n_members"),
        dd(col("hhi")).as("hhi"),
        (lit(1.0) / dd(col("hhi"))).as("effective_members"))
      .orderBy(marketCol)
  }

  /** How concentrated is each nation's supply revenue — HHI and the
    * effective supplier count. */
  def q386Herfindahl(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_extendedprice"))
    val sup = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    herfindahl(li.join(sup, Seq("l_suppkey")), "s_nationkey",
      "l_suppkey", col("l_extendedprice"))
  }

  /** Coverage counts per market: how many top members does it take to
    * cover 50 / 80 / 95% of the market's revenue — the "N80" planning
    * number q386's HHI and q283's Lorenz curve imply but don't state.
    * Members rank by exact revenue cents (desc, id tiebreak) under a
    * market-partitioned window over the MEMBER frame (bounded by the
    * member count, not the fact rows); each threshold test is the
    * exact integer comparison 100·cum ≥ p·total, so every output is a
    * BIGINT. */
  def coverageCounts(df: DataFrame, marketCol: String, memberCol: String,
      valCol: Column, pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p > 0 && p < 100),
      s"pcts in 1..99: $pcts")
    val cells = df.select(col(marketCol).as("mkt"),
        col(memberCol).as("mem"),
        (valCol.cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("mkt", "mem").agg(sum("vc").as("v"))
    val w = Window.partitionBy("mkt").orderBy(desc("v"), col("mem"))
    val cum = cells
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum", sum("v").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t", sum("v").over(Window.partitionBy("mkt")))
      .filter(col("t") > 0)
    val aggs = (count(lit(1)).as("n_members")) +: pcts.map(p =>
      min(when(col("cum") * 100L >= lit(p.toLong) * col("t"), col("rk")))
        .as(s"n$p"))
    cum.groupBy("mkt").agg(aggs.head, aggs.tail: _*)
      .select((col("mkt").as(marketCol) +: col("n_members") +:
        pcts.map(p => col(s"n$p"))): _*)
      .orderBy(marketCol)
  }

  /** How many suppliers cover half / most / nearly all of each
    * nation's revenue — the N50/N80/N95 counts. */
  def q387CoverageCounts(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_extendedprice"))
    val sup = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    coverageCounts(li.join(sup, Seq("l_suppkey")), "s_nationkey",
      "l_suppkey", col("l_extendedprice"), Seq(50, 80, 95))
  }

  /** Brown–Forsythe robust variance-homogeneity test (the median-centered
    * Levene 1960 / Brown & Forsythe 1974 variant): one-way ANOVA F on the
    * absolute deviations z = |x − median_g| — the heteroscedasticity screen
    * that, unlike Bartlett (q344), does not collapse under non-normal
    * tails. Per-group medians are exact integers on the 2× cent grid
    * (2·median = lower+upper central order stats from the per-group value
    * HISTOGRAM's cumulative counts — never a raw-row sort), z is an exact
    * long, the ANOVA moments are exact DECIMAL sums, and each s²/n term is
    * DECIMAL(38,6)-quantized (the logRankTest move; t is ~1e18-scale, so
    * micro precision sits far below the double ulp both engines share)
    * before the cross-group sum. Shape: one histogram groupBy + bounded
    * per-group windows + one broadcast join of the k-row median frame —
    * per-task work scales with the value DOMAIN. */
  def brownForsythe(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val per = df.select(col(groupCol).as("g"),
      (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("x"))
    val wCum = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("g")
    val med2 = per.groupBy("g", "x").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("ng", sum("cnt").over(wTot))
      .groupBy("g")
      .agg((min(when(col("cum") >= expr("(ng + 1) div 2"), col("x"))) +
        min(when(col("cum") >= expr("(ng + 2) div 2"), col("x"))))
        .as("med2"))
    val m = per.join(broadcast(med2), "g")
      .select(col("g"), abs(col("x") * 2 - col("med2")).as("z"))
      .groupBy("g").agg(count(lit(1)).as("n"),
        sum(d380(col("z"))).cast("decimal(38,0)").as("s1"),
        sum(d380(col("z")) * d380(col("z"))).cast("decimal(38,0)")
          .as("s2"))
    m.agg(count(lit(1)).as("n_groups"), sum("n").as("n_total"),
        sum("s1").cast("decimal(38,0)").as("st"),
        sum("s2").cast("decimal(38,0)").as("q2"),
        // Σ s1_g²/n_g, micro-quantized per group before the k-term sum —
        // DECIMAL(38,6) cast, NOT ⌊t·1e6⌋: the term is ~1e18-scale, and
        // Spark's floor(double) returns a LONG that would wrap
        (sum((dd(col("s1")) * dd(col("s1")) / dd(col("n")))
          .cast("decimal(38,6)")).cast("decimal(38,6)").cast("double"))
          .as("a"))
      .filter(col("n_groups") > 1 && col("n_total") > col("n_groups"))
      .select(col("n_groups"), col("n_total"),
        (col("n_groups") - 1).as("df1"),
        (col("n_total") - col("n_groups")).as("df2"),
        when(dd(col("q2")) - col("a") > 0,
          ((col("a") - dd(col("st")) * dd(col("st")) / dd(col("n_total")))
            / dd(col("n_groups") - 1)) /
          ((dd(col("q2")) - col("a")) /
            dd(col("n_total") - col("n_groups")))).as("f_bf"))
  }

  /** Is price spread itself different across return flags — the robust
    * (median-centered) variance-homogeneity F. */
  def q388BrownForsythe(spark: SparkSession, dir: String): DataFrame =
    brownForsythe(Tables.lineitem(spark, dir), "l_returnflag",
      "l_extendedprice")

  /** Jonckheere–Terpstra ordered-alternative k-sample trend test
    * (Jonckheere 1954; Hollander & Wolfe §6.2): with groups in a
    * PRE-SPECIFIED order, JT = Σ_{i<j} U_ij (Mann–Whitney counts between
    * every ordered group pair) detects a monotone location trend that
    * an unordered ANOVA/Kruskal–Wallis dilutes. The caller supplies the
    * ordering (an ordered-alternative test is meaningless without one);
    * groups outside it are ignored.
    *
    * Shape: the value HISTOGRAM is pivoted to one count column per group
    * (k is caller-fixed), cumulative counts ride one range-partitioned
    * rank pass ([[Rank.globalRankPrefix]] — no single-partition window),
    * and every pairwise U is assembled cell-wise from prefix counts:
    * 2·JT = Σ_cells Σ_i c_i·(2·Σ_{j<i}(cum_j−c_j) + Σ_{j<i}c_j) — exact
    * DECIMAL integers (c·cum products would wrap a long at data scale).
    * The null mean and TIE-CORRECTED variance (Hollander & Wolfe 6.19)
    * are fixed double shapes over exact group-size and tie moments. */
  def jonckheereTerpstra(df: DataFrame, groupCol: String,
      ordering: Seq[String], valCol: String): DataFrame = {
    require(ordering.size >= 2 && ordering.distinct.size == ordering.size,
      s"need >= 2 distinct ordered groups: $ordering")
    val k = ordering.size
    val per = df.select(col(groupCol).as("g"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("x"))
      .filter(col("g").isin(ordering: _*))
    val cAggs = (0 until k).map(i =>
      sum(when(col("g") === ordering(i), 1L).otherwise(0L)).as(s"c$i"))
    val hist = per.groupBy("x").agg(cAggs.head, cAggs.tail: _*)
    val cum = Rank.globalRankPrefix(hist, Seq(col("x")),
      (0 until k).map(i => s"m$i" -> col(s"c$i")))
    val jt2c = (1 until k).map { i =>
      val lLess = (0 until i).map(j => col(s"m$j") - col(s"c$j"))
        .reduce(_ + _)
      val tEq = (0 until i).map(j => col(s"c$j")).reduce(_ + _)
      d380(col(s"c$i")) * (d380(lLess) * 2 + d380(tEq))
    }.reduce(_ + _)
    val t = (0 until k).map(j => col(s"c$j")).reduce(_ + _) // tie size
    val stat = cum.agg(
      sum(jt2c).cast("decimal(38,0)").as("jt2"),
      sum(d380(t) * d380(t - 1) * d380(t * 2 + 5)).cast("decimal(38,0)")
        .as("t25"),
      sum(d380(t) * d380(t - 1) * d380(t - 2)).cast("decimal(38,0)")
        .as("t12"),
      sum(d380(t) * d380(t - 1)).cast("decimal(38,0)").as("t1"))
    val nAggs = (0 until k).map(i => sum(col(s"c$i")).as(s"n$i"))
    val sizes = cum.agg(nAggs.head, nAggs.tail: _*)
    val nTot = (0 until k).map(i => col(s"n$i")).reduce(_ + _)
    val g25 = (0 until k).map(i => d380(col(s"n$i")) *
      d380(col(s"n$i") - 1) * d380(col(s"n$i") * 2 + 5)).reduce(_ + _)
    val g12 = (0 until k).map(i => d380(col(s"n$i")) *
      d380(col(s"n$i") - 1) * d380(col(s"n$i") - 2)).reduce(_ + _)
    val g1 = (0 until k).map(i => d380(col(s"n$i")) *
      d380(col(s"n$i") - 1)).reduce(_ + _)
    val sumSq = (0 until k).map(i => d380(col(s"n$i")) *
      d380(col(s"n$i"))).reduce(_ + _)
    stat.crossJoin(broadcast(sizes)) // 1-row build side
      .select(col("jt2"), col("t25"), col("t12"), col("t1"),
        nTot.as("nn"), sumSq.as("sq"), g25.as("g25"), g12.as("g12"),
        g1.as("g1"))
      .filter(col("nn") > 2)
      .select(col("nn").as("n_total"), lit(k.toLong).as("n_groups"),
        (dd(col("jt2")) / 2.0).as("jt_u"),
        ((dd(d380(col("nn")) * d380(col("nn")) - col("sq"))) / 4.0)
          .as("e_jt"),
        ((dd(d380(col("nn")) * d380(col("nn") - 1) *
            d380(col("nn") * 2 + 5) - col("g25") - col("t25"))) / 72.0 +
          dd(col("g12")) * dd(col("t12")) /
            (lit(36.0) * dd(col("nn")) * dd(col("nn") - 1) *
              dd(col("nn") - 2)) +
          dd(col("g1")) * dd(col("t1")) /
            (lit(8.0) * dd(col("nn")) * dd(col("nn") - 1))).as("var_jt"))
      .withColumn("z", when(col("var_jt") > 0,
        (col("jt_u") - col("e_jt")) / sqrt(col("var_jt"))))
  }

  /** Does order value trend monotonically DOWN the priority ladder —
    * the ordered-alternative test the priority encoding implies. */
  def q390JonckheereTerpstra(spark: SparkSession, dir: String): DataFrame =
    jonckheereTerpstra(Tables.orders(spark, dir), "o_orderpriority",
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
      "o_totalprice")

  /** Wald–Wolfowitz runs test on the daily series' median split — is the
    * above/below-median sign SEQUENCE random, or does it clump (regimes,
    * stickiness) / alternate (overcorrection)? Mean-level tests can't see
    * either. Per group: daily exact-cent sums, the exact 2×median from
    * the DAY-VALUE histogram (the q290 crossing), days AT the median
    * dropped (Wald–Wolfowitz's treatment), runs counted by one lag over
    * the calendar-bounded day frame, and the classic
    * E[R] = 1 + 2·n₁n₀/N, Var[R] = 2n₁n₀(2n₁n₀−N)/(N²(N−1)) finish —
    * exact integers into fixed double shapes. */
  def runsTest(df: DataFrame, groupCol: String, dateCol: String,
      valCol: String): DataFrame = {
    val daily = df.select(col(groupCol).as("g"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("g", "d").agg(sum("vc").as("y"))
    val wCum = Window.partitionBy("g").orderBy("y")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("g")
    val med2 = daily.groupBy("g", "y").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("ng", sum("cnt").over(wTot))
      .groupBy("g")
      .agg((min(when(col("cum") >= expr("(ng + 1) div 2"), col("y"))) +
        min(when(col("cum") >= expr("(ng + 2) div 2"), col("y"))))
        .as("med2"))
    val signed = daily.join(broadcast(med2), "g")
      .filter(col("y") * 2 =!= col("med2")) // ties at the median drop
      .select(col("g"), col("d"),
        when(col("y") * 2 > col("med2"), 1L).otherwise(0L).as("s"))
    val wDay = Window.partitionBy("g").orderBy("d")
    val n1 = col("n_above")
    val n0 = col("n_below")
    val nn = n1 + n0
    signed
      .withColumn("brk",
        when(lag(col("s"), 1).over(wDay).isNull ||
          lag(col("s"), 1).over(wDay) =!= col("s"), 1L).otherwise(0L))
      .groupBy("g")
      .agg(sum(when(col("s") === 1, 1L).otherwise(0L)).as("n_above"),
        sum(when(col("s") === 0, 1L).otherwise(0L)).as("n_below"),
        sum("brk").as("runs"))
      .filter(n1 > 0 && n0 > 0 && nn > 1)
      .select(col("g").as(groupCol), col("n_above"), col("n_below"),
        col("runs"),
        (lit(1.0) + lit(2.0) * dd(n1) * dd(n0) / dd(nn)).as("e_runs"),
        ((dd(col("runs")) -
          (lit(1.0) + lit(2.0) * dd(n1) * dd(n0) / dd(nn))) /
          sqrt(dd(d380(n1) * d380(n0) * 2) *
            dd(d380(n1) * d380(n0) * 2 - d380(nn)) /
            (dd(nn) * dd(nn) * dd(nn - 1)))).as("z"))
      .orderBy(groupCol)
  }

  /** Do above/below-median revenue days clump into regimes per return
    * flag — the randomness-of-sequence screen. */
  def q391RunsTest(spark: SparkSession, dir: String): DataFrame =
    runsTest(Tables.lineitem(spark, dir), "l_returnflag", "l_shipdate",
      "l_extendedprice")

  /** Mann–Kendall monotone-trend test per group (Mann 1945, Kendall
    * 1975) — the nonparametric "is this series drifting" screen that
    * sees what Cox–Stuart's paired sign test (q405) throws away:
    * S = Σ_{i<j} sgn(y_j − y_i) over the day-ordered series, with the
    * tie-corrected null variance Var S = [n(n−1)(2n+5) −
    * Σ_t t(t−1)(2t+5)]/18 and the continuity-corrected z. Also reports
    * Kendall's τ_b against time (ties in y corrected; time has none).
    *
    * Scale shape: the series is first reduced to the per-day STATISTIC
    * frame (exact-cent sums), and the pair walk is a self-join of that
    * day frame within each group — calendar-bounded O(days²), ~3k days
    * per decade regardless of fact-table size, the same bounded-frame
    * discipline as q290/q391. Ties come from one day-value groupBy.
    * Exact integers everywhere; z/τ are fixed double finishes. Groups
    * with var = 0 (constant series / n < 3: every pair ties) report
    * z NULL rather than 0/0. */
  def mannKendall(df: DataFrame, groupCol: String, dateCol: String,
      valCol: String): DataFrame = {
    val daily = df.select(col(groupCol).as("g"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("g", "d").agg(sum("vc").as("y"))
    val b = daily.select(col("g").as("g2"), col("d").as("d2"),
      col("y").as("y2"))
    val s = daily.join(b, col("g") === col("g2") && col("d") < col("d2"))
      .groupBy("g")
      .agg(sum(signum(dd(col("y2") - col("y"))).cast("long")).as("s"))
    val ties = daily.groupBy("g", "y").agg(count(lit(1)).as("t"))
      .groupBy("g")
      .agg(sum(col("t")).as("n"),
        sum(d380(col("t")) * d380(col("t") - 1) * d380(col("t") * 2 + 5))
          .cast("decimal(38,0)").as("t25"),
        sum(d380(col("t")) * d380(col("t") - 1)).cast("decimal(38,0)")
          .as("t1"))
    val n = col("n")
    val varS = (dd(d380(n) * d380(n - 1) * d380(n * 2 + 5) - col("t25"))) /
      18.0
    val pairs = dd(d380(n) * d380(n - 1)) / 2.0
    // left join: a single-day group has NO pairs and would vanish from
    // the inner join — report it with S = 0 (and NULL z via the guard)
    ties.join(s, Seq("g"), "left").na.fill(0L, Seq("s"))
      .select(col("g").as(groupCol), col("n").as("n_days"), col("s"),
        varS.as("var_s"),
        when(dd(col("t1")) / 2.0 < pairs, dd(col("s")) /
          sqrt((pairs - dd(col("t1")) / 2.0) * pairs)).as("tau_b"))
      .withColumn("z", when(col("var_s") > 0,
        (dd(col("s")) - signum(dd(col("s")))) / sqrt(col("var_s"))))
      .orderBy(groupCol)
  }

  /** Is daily revenue drifting monotonically per return flag — the
    * Mann–Kendall S/z/τ_b trend screen over the day series. */
  def q416MannKendall(spark: SparkSession, dir: String): DataFrame =
    mannKendall(Tables.lineitem(spark, dir), "l_returnflag", "l_shipdate",
      "l_extendedprice")

  /** Fano-factor burstiness per key: variance-to-mean ratio of per-bucket
    * event counts over the GLOBAL calendar span (empty buckets count as
    * zeros — burstiness without them is meaningless). Fano = 1 for a
    * Poisson process; ≫ 1 = bursty (retries, batch jobs, incidents);
    * ≪ 1 = paced/throttled — the queue-health monitor next to q375's
    * dispersion view. One map-side-combined bucket groupBy per key + the
    * 1-row global span; Σc and Σc² are exact, the moments-over-B finish
    * is one fixed double shape. Bucket count is calendar-bounded. */
  def fanoFactor(events: DataFrame, tsCol: String, keyCol: String,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds: $bucketSeconds")
    val us = bucketSeconds * 1000000L
    val b = events.select(col(keyCol).as("k"),
      expr(s"unix_micros($tsCol) div $us").as("b"))
    val span = b.agg(((max("b") - min("b")) + 1).as("nb"))
    b.groupBy("k", "b").agg(count(lit(1)).as("c"))
      .groupBy("k")
      .agg(sum("c").as("n_events"), count(lit(1)).as("n_active"),
        sum(d380(col("c")) * d380(col("c"))).cast("decimal(38,0)")
          .as("s2"))
      .crossJoin(broadcast(span)) // 1-row build side
      .select(col("k").as(keyCol), col("n_events"),
        col("nb").as("n_buckets_span"), col("n_active").as("n_buckets_active"),
        (dd(col("n_events")) / dd(col("nb"))).as("mean_per_bucket"),
        ((dd(col("s2")) / dd(col("nb")) -
          (dd(col("n_events")) / dd(col("nb"))) *
          (dd(col("n_events")) / dd(col("nb")))) /
          (dd(col("n_events")) / dd(col("nb")))).as("fano"))
      .orderBy(keyCol)
  }

  /** Which event types arrive in bursts vs a steady drip — hourly
    * Fano factors over the full log span. */
  def q398FanoFactor(spark: SparkSession, dir: String): DataFrame =
    fanoFactor(Tables.events(spark, dir), "ts", "event_type", 3600L)

  /** Record-breaking-rate trend detector: per group, count the days whose
    * value exceeds EVERY previous day, and compare against the
    * exchangeability baseline — under any i.i.d./exchangeable series the
    * expected record count after n observations is H_n = Σ 1/t (Rényi
    * 1962), regardless of the value distribution. Ratio ≫ 1 = upward
    * drift (records keep falling), ≪ 1 = an early peak the series never
    * re-touches — an assumption-free complement to the slope tests
    * (q200/q247): no linearity, no variance model. Strict records (ties
    * don't break). One calendar-bounded day frame, one lagged-max window
    * per group; 1/t terms pico-quantized DECIMAL(38,12) before the
    * order-insensitive sum. */
  def recordBreaks(df: DataFrame, groupCol: String, dateCol: String,
      valCol: String): DataFrame = {
    val q3812 = (c: Column) => c.cast("decimal(38,12)")
    val daily = df.select(col(groupCol).as("g"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("g", "d").agg(sum("vc").as("y"))
    val wDay = Window.partitionBy("g").orderBy("d")
    val wPrev = wDay.rowsBetween(Window.unboundedPreceding, -1)
    daily
      .withColumn("pm", max("y").over(wPrev))
      .withColumn("t", row_number().over(wDay).cast("long"))
      .withColumn("rec",
        when(col("pm").isNull || col("y") > col("pm"), 1L).otherwise(0L))
      .groupBy("g")
      .agg(count(lit(1)).as("n_days"), sum("rec").as("n_records"),
        sum(q3812(lit(1.0) / dd(col("t")))).cast("decimal(38,12)")
          .as("h"))
      .select(col("g").as(groupCol), col("n_days"), col("n_records"),
        dd(col("h")).as("expected_records"),
        (dd(col("n_records")) / dd(col("h"))).as("record_ratio"))
      .orderBy(groupCol)
  }

  /** Are revenue records still being broken at the exchangeable rate per
    * return flag — the distribution-free drift check. */
  def q397RecordBreaks(spark: SparkSession, dir: String): DataFrame =
    recordBreaks(Tables.lineitem(spark, dir), "l_returnflag", "l_shipdate",
      "l_extendedprice")

  /** Logistic (Verhulst) growth fit on an adoption curve: new-entity
    * counts vs cumulative adoption obey ΔN ≈ r·N − (r/K)·N² under
    * logistic growth, so the through-origin quadratic OLS of daily new
    * entities on the prior cumulative gives the growth rate r and the
    * carrying capacity K = −a/b in closed form — the "how big does this
    * get" forecast a raw trend line can't answer (it has no saturation
    * term). Entities enter at their FIRST appearance (one min-reduce);
    * the (N, ΔN) day frame rides one range-partitioned rank pass; every
    * OLS moment (up to Σ N⁴) is an EXACT integer DECIMAL(38,0) sum —
    * exact up to ~5·10⁸ total entities (beyond that Σ N⁴ crosses 38
    * digits; pre-aggregate to weeks or rescale first — documented
    * bound, loud NULL under the non-ANSI cast rather than a wrap); the
    * 2×2 solve is a fixed double finish. r² uses the no-intercept
    * convention 1 − SSE/Σy². */
  def logisticGrowthFit(df: DataFrame, dateCol: String,
      idCol: String): DataFrame = {
    val days = df.select(col(idCol).as("id"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"))
      .groupBy("id").agg(min("d").as("d"))
      .groupBy("d").agg(count(lit(1)).as("nw"))
    val cum = Rank.globalRankPrefix(days, Seq(col("d")),
      Seq("cn" -> col("nw")))
    val pts = cum
      .select((col("cn") - col("nw")).as("x"), col("nw").as("y"))
      .filter(col("x") > 0) // day 1 has no installed base to grow from
    val m = pts.agg(count(lit(1)).as("n_days"),
      sum(d380(col("x")) * d380(col("x"))).cast("decimal(38,0)").as("s2"),
      sum(d380(col("x")) * d380(col("x")) * d380(col("x")))
        .cast("decimal(38,0)").as("s3"),
      sum(d380(col("x")) * d380(col("x")) * d380(col("x")) * d380(col("x")))
        .cast("decimal(38,0)").as("s4"),
      sum(d380(col("x")) * d380(col("y"))).cast("decimal(38,0)").as("sxy"),
      sum(d380(col("x")) * d380(col("x")) * d380(col("y")))
        .cast("decimal(38,0)").as("sx2y"),
      sum(d380(col("y")) * d380(col("y"))).cast("decimal(38,0)").as("syy"))
    val tot = df.select(col(idCol).as("id")).distinct()
      .agg(count(lit(1)).as("n_total"))
    val det = dd(col("s2")) * dd(col("s4")) - dd(col("s3")) * dd(col("s3"))
    val a = (dd(col("sxy")) * dd(col("s4")) -
      dd(col("sx2y")) * dd(col("s3"))) / det
    val b = (dd(col("s2")) * dd(col("sx2y")) -
      dd(col("s3")) * dd(col("sxy"))) / det
    val sse = dd(col("syy")) - a * dd(col("sxy")) - b * dd(col("sx2y"))
    m.crossJoin(broadcast(tot)) // 1-row build side
      .filter(col("n_days") > 2 && det =!= 0.0)
      .select(col("n_days"), col("n_total"),
        a.as("r_growth"),
        when(b < 0, -a / b).as("k_capacity"),
        (lit(1.0) - sse / dd(col("syy"))).as("r2"))
  }

  /** How big does the customer base get — logistic growth rate and
    * carrying capacity from the first-order adoption curve. */
  def q412LogisticGrowth(spark: SparkSession, dir: String): DataFrame =
    logisticGrowthFit(Tables.orders(spark, dir), "o_orderdate",
      "o_custkey")

  /** Distribution-free confidence interval for the MEDIAN via order
    * statistics: the interval between ranks ⌊(n − z√n)/2⌋ and
    * ⌈(n + z√n)/2⌉ + 1 covers the median with ≈ 95% confidence under
    * NO distributional assumption (the binomial rank argument) — the
    * uncertainty statement a point median (q290's crossing) lacks.
    * Rank convention documented above; ranks clamp to [1, n]. Exact
    * crossings on the per-group value histogram; the only doubles are
    * z√n (one fixed shape each, floored/ceiled identically in both
    * engines). */
  def medianCI(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val per = df.select(col(groupCol).as("g"),
      (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("x"))
    val wCum = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("g")
    val z = lit(1.959963984540054)
    per.groupBy("g", "x").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wTot))
      .withColumn("rl", greatest(lit(1L),
        floor((dd(col("n")) - z * sqrt(dd(col("n")))) / 2.0)
          .cast("long")))
      .withColumn("rh", least(col("n"),
        (ceil((dd(col("n")) + z * sqrt(dd(col("n")))) / 2.0) + 1)
          .cast("long")))
      .groupBy("g")
      .agg(max("n").as("n"),
        (min(when(col("cum") >= expr("(n + 1) div 2"), col("x"))) +
          min(when(col("cum") >= expr("(n + 2) div 2"), col("x"))))
          .as("med2"),
        min(when(col("cum") >= col("rl"), col("x"))).as("lo"),
        min(when(col("cum") >= col("rh"), col("x"))).as("hi"))
      .filter(col("n") > 3)
      .select(col("g").as(groupCol), col("n"),
        (dd(col("med2")) / 200.0).as("median"),
        (dd(col("lo")) / 100.0).as("ci_lo"),
        (dd(col("hi")) / 100.0).as("ci_hi"))
      .orderBy(groupCol)
  }

  /** 95% distribution-free median CI of extended price per return
    * flag. */
  def q414MedianCI(spark: SparkSession, dir: String): DataFrame =
    medianCI(Tables.lineitem(spark, dir), "l_returnflag",
      "l_extendedprice")

  /** Cox–Stuart trend test: pair the i-th day of each group's daily
    * series with the (i + ⌈n/2⌉)-th and sign-test the pairs — the
    * simplest distribution-free monotone-trend check (Cox & Stuart
    * 1955), the sign-test sibling of the record-break rate ([[q397RecordBreaks]]):
    * robust to any monotone rescaling and to arbitrary
    * marginal distributions. Ties drop (the sign-test convention); the
    * middle day drops when n is odd. z = (2·S⁺ − m)/√m is the binomial
    * normal approximation on the m non-tied pairs. Shape: one
    * calendar-bounded day frame, one rank window, one self-equi-join on
    * (group, paired index) — day-frame-sized throughout. */
  def coxStuart(df: DataFrame, groupCol: String, dateCol: String,
      valCol: String): DataFrame = {
    val daily = df.select(col(groupCol).as("g"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("d"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("g", "d").agg(sum("vc").as("y"))
    val wDay = Window.partitionBy("g").orderBy("d")
    val wTot = Window.partitionBy("g")
    val idx = daily
      .withColumn("rn", row_number().over(wDay).cast("long"))
      .withColumn("nd", count(lit(1)).over(wTot))
      .withColumn("off", expr("(nd + 1) div 2"))
    val late = idx.select(col("g"), (col("rn") - col("off")).as("rn"),
      col("y").as("y2"))
    idx.join(late, Seq("g", "rn"))
      .filter(col("y") =!= col("y2")) // ties drop
      .groupBy("g")
      .agg(max("nd").as("n_days"), count(lit(1)).as("n_pairs"),
        sum(when(col("y2") > col("y"), 1L).otherwise(0L)).as("n_up"))
      .filter(col("n_pairs") > 0)
      .select(col("g").as(groupCol), col("n_days"), col("n_pairs"),
        col("n_up"),
        ((dd(col("n_up")) * 2.0 - dd(col("n_pairs"))) /
          sqrt(dd(col("n_pairs")))).as("z"))
      .orderBy(groupCol)
  }

  /** Is second-half daily revenue systematically above first-half per
    * return flag — the paired-halves sign trend. */
  def q405CoxStuart(spark: SparkSession, dir: String): DataFrame =
    coxStuart(Tables.lineitem(spark, dir), "l_returnflag", "l_shipdate",
      "l_extendedprice")

  /** Winsorized mean per group — [[trimmedMean]]'s CLAMPING sibling
    * (Tukey): the g = ⌊n/denom⌋ smallest observations are replaced by the
    * (g+1)-th order statistic and the g largest by the (n−g)-th, keeping
    * n constant (trimming changes the effective sample; winsorizing keeps
    * weights). Same histogram rank algebra: per-cell surviving
    * multiplicity from cumulative-span overlap, the two clamp values from
    * conditional-min crossings, the winsorized sum assembled exactly in
    * DECIMAL — one histogram pass, no raw-row sort. */
  def winsorizedMean(df: DataFrame, groupCol: String, valCol: String,
      trimDenom: Int = 10): DataFrame = {
    require(trimDenom >= 3, s"trim denominator must be >= 3: $trimDenom")
    val per = df.select(col(groupCol).as("g"),
      (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("x"))
    val wCum = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("g")
    val cells = per.groupBy("g", "x").agg(count(lit(1)).as("c"))
      .withColumn("ccum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wTot))
      .withColumn("gcut", expr(s"n div $trimDenom"))
      .withColumn("prev", col("ccum") - col("c"))
    val clamps = cells.groupBy("g")
      .agg(max("n").as("n"), max("gcut").as("gcut"),
        min(when(col("ccum") >= col("gcut") + 1, col("x"))).as("lo"),
        min(when(col("ccum") >= col("n") - col("gcut"), col("x")))
          .as("hi"))
    cells
      .withColumn("tb", greatest(lit(0L),
        least(col("ccum"), col("gcut")) - least(col("prev"), col("gcut"))))
      .withColumn("tt", greatest(lit(0L),
        col("ccum") - greatest(col("prev"), col("n") - col("gcut"))))
      .groupBy("g")
      .agg(sum(d380(col("c") - col("tb") - col("tt")) * d380(col("x")))
          .cast("decimal(38,0)").as("mid"),
        sum("tb").as("nb"), sum("tt").as("nt"))
      .join(broadcast(clamps), "g")
      .filter(col("n") > col("gcut") * 2)
      .select(col("g").as(groupCol), col("n"),
        col("gcut").as("clamped_each_side"),
        (dd(col("lo")) / 100.0).as("lo_clamp"),
        (dd(col("hi")) / 100.0).as("hi_clamp"),
        (dd(col("mid") + d380(col("nb")) * d380(col("lo")) +
          d380(col("nt")) * d380(col("hi"))) / dd(col("n")) / 100.0)
          .as("winsorized_mean"))
      .orderBy(groupCol)
  }

  /** 10%-per-tail winsorized mean of extended price per return flag —
    * the clamping companion to q352's trimmed mean. */
  def q401WinsorizedMean(spark: SparkSession, dir: String): DataFrame =
    winsorizedMean(Tables.lineitem(spark, dir), "l_returnflag",
      "l_extendedprice")

  /** Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010) between two
    * top-k rankings: the prefix-weighted set-overlap measure for "did the
    * ranking change" audits — unlike rank-correlation over matched items
    * (q192's migration deltas, Kendall/Spearman q267/q222) it is defined
    * for rankings over DIFFERENT item sets and weights the head of the
    * list geometrically, which is what matters when only the top of the
    * ranking is ever consumed (search results, curation top-k, feature
    * importances). p is fixed at 1/2 so every depth weight (1−p)·p^{d−1}
    * = 2^{−d} is an exact power of two — no libm `pow` drift between
    * engines; rbo_min is the truncated-sum lower bound, rbo_ext the
    * standard extrapolation that assigns the residual weight the depth-k
    * agreement.
    *
    * Inputs are k-row (item, rnk) frames, so EVERYTHING here is
    * model-sized: the full-outer item join is ≤2k rows, the depth frame
    * is k rows, and the one non-equi join (overlap-at-depth counting,
    * max(r1,r2) ≤ d) is a ≤2k×k broadcast nested loop over those bounded
    * frames — the data-scaled work happened upstream in whatever
    * distributed top-k produced the inputs. Depth agreement terms
    * A_d·2^{−d} are DECIMAL(38,18)-quantized before the order-sensitive
    * sum (the engine float discipline), so the gate is a hash check. */
  def rankBiasedOverlap(ranked1: DataFrame, ranked2: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val joined = ranked1.select(col("item"), col("rnk").as("r1"))
      .join(ranked2.select(col("item"), col("rnk").as("r2")),
        Seq("item"), "full_outer")
      .select(coalesce(col("r1"), lit(k + 1L)).as("r1"),
        coalesce(col("r2"), lit(k + 1L)).as("r2"))
    val depths = ranked1.sparkSession.range(1, k + 1L)
      .select(col("id").as("d"),
        (lit(1.0) / pow(lit(2.0), col("id").cast("double"))).as("w"))
    val terms = broadcast(depths)
      .join(joined, greatest(col("r1"), col("r2")) <= col("d"), "left")
      .groupBy("d", "w")
      .agg(count(col("r1")).as("ov"))
      .select(((dd(col("ov")) / dd(col("d"))) * col("w"))
        .cast("decimal(38,18)").as("term"))
      .agg(sum(col("term")).as("rbo_q"))
    val common = joined
      .agg(sum(when(col("r1") <= k && col("r2") <= k, 1L).otherwise(0L))
        .as("n_common"))
    common.crossJoin(broadcast(terms))
      .select(lit(k.toLong).as("k"), col("n_common"),
        (dd(col("n_common")) / dd(lit(2L * k) - col("n_common")))
          .as("jaccard_topk"),
        dd(col("rbo_q")).as("rbo_min"),
        (dd(col("rbo_q")) +
          (dd(col("n_common")) / dd(lit(k.toLong))) /
            pow(lit(2.0), lit(k.toDouble))).as("rbo_ext"))
  }

  /** Did the head of the part-revenue ranking survive the half-year —
    * RBO between 1995H1 and 1995H2 top-25 parts by gross revenue. Each
    * half's ranking is a distributed TakeOrdered (revenue-cents desc,
    * partkey asc — a total order) over one partkey aggregation; RBO then
    * runs entirely on the two 25-row frames. */
  def q424RankBiasedOverlap(spark: SparkSession, dir: String): DataFrame = {
    val k = 25
    def half(lo: String, hi: String): DataFrame = {
      val agg = Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_partkey").as("item"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("c"))
        .groupBy("item").agg(sum("c").as("rev_c"))
        .orderBy(desc("rev_c"), col("item")).limit(k)
      agg.select(col("item"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(desc("rev_c"), col("item"))).cast("long").as("rnk"))
    }
    rankBiasedOverlap(half("1995-01-01", "1995-07-01"),
      half("1995-07-01", "1996-01-01"), k)
  }

  /** Theil-T inequality index with its exact between/within-group
    * decomposition (Theil 1967; Shorrocks 1980 on decomposability) —
    * the concentration audit Gini (q176) and Lorenz (q283) cannot give:
    * T = Σ_g s_g·T_g + Σ_g s_g·ln(μ_g/μ) splits total inequality into
    * the part explained by the grouping and the part inside groups, so
    * a corpus/revenue owner can answer "is concentration BETWEEN my
    * segments or WITHIN them". x must be positive.
    *
    * Scale shape: one key aggregation reduces the fact table to the
    * entity frame; group sums are a G-row statistic frame that joins
    * back BROADCAST; each entity's (x/μ_g)·ln(x/μ_g) term is a
    * fixed-order double expression on exact cent/count inputs,
    * DECIMAL(38,12)-quantized before the per-group sum. Nothing is
    * globally sorted and nothing collects. */
  def theilDecomposition(entities: DataFrame, groupCol: String,
      centsCol: String): DataFrame = {
    val base = entities.select(col(groupCol).as("g"),
      col(centsCol).cast("decimal(38,0)").as("x"))
    val gstats = base.groupBy("g")
      .agg(count(lit(1)).as("n_g"), sum("x").cast("decimal(38,0)").as("s_g"))
    val tot = gstats.agg(sum("n_g").as("n_all"),
      sum("s_g").cast("decimal(38,0)").as("s_all"))
    val within = base.join(broadcast(gstats), "g")
      .select(col("g"),
        ((dd(col("x")) * dd(col("n_g")) / dd(col("s_g"))) *
          log(dd(col("x")) * dd(col("n_g")) / dd(col("s_g"))))
          .cast("decimal(38,12)").as("term"))
      .groupBy("g").agg(sum("term").as("tsum"))
    gstats.join(within, "g").crossJoin(broadcast(tot))
      .select(col("g").as(groupCol), col("n_g").as("n_entities"),
        (dd(col("s_g")) / dd(col("s_all"))).as("share"),
        (dd(col("s_g")) * dd(col("n_all")) /
          (dd(col("n_g")) * dd(col("s_all")))).as("mean_ratio"),
        (dd(col("tsum")) / dd(col("n_g"))).as("theil_within"),
        ((dd(col("s_g")) / dd(col("s_all"))) *
          (dd(col("tsum")) / dd(col("n_g")))).as("within_contrib"),
        ((dd(col("s_g")) / dd(col("s_all"))) *
          log(dd(col("s_g")) * dd(col("n_all")) /
            (dd(col("n_g")) * dd(col("s_all"))))).as("between_term"))
      .orderBy(groupCol)
  }

  /** Is customer spend concentrated between market segments or within
    * them — Theil-T decomposition of per-customer lifetime spend (cents)
    * by segment. */
  def q425TheilDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("c"))
      .groupBy("o_custkey").agg(sum("c").as("cents"))
    val seg = Tables.customer(spark, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    theilDecomposition(spend.join(seg, "o_custkey"),
      "c_mktsegment", "cents")
  }

  /** Fleiss' kappa (Fleiss 1971) — chance-corrected agreement among n
    * interchangeable raters assigning N items to k categories: the
    * multi-rater generalization Cohen's κ (q262, exactly 2 raters)
    * cannot express. κ = (P̄ − P̄ₑ)/(1 − P̄ₑ) with per-item agreement
    * P_i = (Σ_j n_ij² − n)/(n(n−1)) and chance agreement Σ_j p_j².
    * The curation use is weak supervision: if cheap heuristic
    * "annotators" don't agree beyond chance, their majority vote is
    * not a label.
    *
    * Input is the long (item, label) frame — n rows per item (the
    * precondition; raters_per_item_min/max expose violations). Exact
    * path: n_ij, the P_i numerators and the chance numerator Σ_j c_j²
    * are all integers, so P̄, P̄ₑ and κ are fixed-order double
    * expressions over exact sums. Shape: two histogram aggregations
    * (item×category, then category), one item reduction — nothing is
    * ordered, nothing collects. */
  def fleissKappa(labels: DataFrame, itemCol: String,
      labelCol: String, nRaters: Int): DataFrame = {
    require(nRaters >= 2, s"nRaters must be >= 2: $nRaters")
    val nij = labels.select(col(itemCol).as("i"), col(labelCol).as("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("nij"))
    val perItem = nij.groupBy("i")
      .agg(sum(col("nij") * col("nij")).as("ss"), sum("nij").as("n"))
    val pbar = perItem
      .agg(count(lit(1)).as("n_items"),
        sum(col("ss") - col("n")).as("agree_num"), max("n").as("n_max"),
        min("n").as("n_min"))
    // chance term is EXACT integers end-to-end: sum p_j^2 =
    // (sum c_j^2) / (sum c_j)^2, one double division at the finish
    val pe = nij.groupBy("j").agg(sum("nij").as("cj"))
      .agg(count(lit(1)).as("n_categories"),
        sum("cj").as("n_labels"),
        sum(d380(col("cj")) * d380(col("cj"))).cast("decimal(38,0)")
          .as("pe_num"))
    val pBarE = dd(col("agree_num")) /
      (dd(col("n_items")) * lit(nRaters.toDouble) *
        lit((nRaters - 1).toDouble))
    val peE = dd(col("pe_num")) / (dd(col("n_labels")) * dd(col("n_labels")))
    pbar.crossJoin(broadcast(pe))
      .select(col("n_items"), col("n_categories"),
        col("n_min").as("raters_per_item_min"),
        col("n_max").as("raters_per_item_max"),
        pBarE.as("p_bar"), peE.as("p_e"),
        ((pBarE - peE) / (lit(1.0) - peE)).as("kappa"))
  }

  /** Do three cheap document-size heuristics agree as weak labelers —
    * Fleiss' κ over char-tercile, token-tercile and distinct-token-
    * tercile classes (thresholds are corpus terciles, fixed so the
    * labeling is deterministic and engine-portable). */
  def q427FleissKappa(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val cls = (v: Column, lo: Int, hi: Int) =>
      when(v < lo, 0L).when(v < hi, 1L).otherwise(2L)
    val docs = Tables.documents(spark, dir).select(col("doc_id"),
      cls(col("n_chars"), 216, 379).as("r_chars"),
      cls(size(toks).cast("long"), 39, 69).as("r_tokens"),
      cls(size(array_distinct(toks)).cast("long"), 22, 27).as("r_distinct"))
    val long = docs.select(col("doc_id"),
      explode(array(col("r_chars"), col("r_tokens"), col("r_distinct")))
        .as("label"))
    fleissKappa(long, "doc_id", "label", nRaters = 3)
  }

  /** Median-of-means — the robust location estimator whose error bound
    * survives heavy tails and adversarial rows (Nemirovsky & Yudin
    * 1983; Lugosi & Mendelson 2019 survey): split the data into B
    * deterministic blocks, take each block's exact mean, return the
    * median of the B means. Unlike trimming (q352) or winsorizing
    * (q401) it needs no order statistics over the DATA — only over the
    * B-row block-mean frame — so it is the one robust mean whose
    * distributed cost is a plain aggregation. Blocks are assigned by
    * key arithmetic (not hash) so both engines agree row-for-row.
    *
    * Per group: one (group, block) aggregation on exact cent sums, a
    * B-row interpolated median per group (Spark `percentile` ==
    * DuckDB `quantile_cont`, both R-7 — the q152 precedent), and the
    * plain mean for contrast. */
  def medianOfMeans(df: DataFrame, groupCol: String, blockCol: Column,
      centsCol: Column, nBlocks: Int): DataFrame = {
    require(nBlocks >= 2, s"nBlocks must be >= 2: $nBlocks")
    val blocks = df
      .select(col(groupCol).as("g"), (blockCol % nBlocks).as("b"),
        centsCol.cast("decimal(38,0)").as("x"))
      .groupBy("g", "b")
      .agg(sum("x").cast("decimal(38,0)").as("sx"), count(lit(1)).as("nx"))
      .withColumn("block_mean", dd(col("sx")) / dd(col("nx")))
    blocks.groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n_blocks"), sum("nx").as("n_rows"),
        (dd(sum("sx").cast("decimal(38,0)")) / dd(sum("nx")))
          .as("mean_cents"),
        expr("percentile(block_mean, 0.5)").as("mom_cents"))
      .orderBy(groupCol)
  }

  /** Heavy-tail-safe average order value per priority class:
    * median-of-means over 32 deterministic order-key blocks vs the
    * plain mean. */
  def q429MedianOfMeans(spark: SparkSession, dir: String): DataFrame =
    medianOfMeans(Tables.orders(spark, dir), "o_orderpriority",
      pmod(col("o_orderkey"), lit(97L)), // co-prime spreader, then % B
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
      nBlocks = 32)

  /** Delete-one-block jackknife standard error for a RATIO estimator
    * (Quenouille 1956; Tukey 1958; the delete-group form in Shao & Tu
    * 1995) — error bars for Σy/Σx metrics (net/gross ratio, CTR,
    * dedup rate) computed WITHOUT resampling the data: rows land in B
    * deterministic arithmetic blocks, and every leave-one-block-out
    * replicate R_(b) = (ΣY − y_b)/(ΣX − x_b) is algebra over the
    * B-row block-sum frame. The bootstrap (q226) resamples rows; this
    * touches the data exactly once, which is the only affordable
    * design at fact-table scale.
    *
    * Exactness: block sums are cent decimals; each replicate is one
    * double division, DECIMAL(38,12)-quantized (the scale both
    * engines' double-to-decimal casts agree on) so the replicate mean
    * is an exact sum; squared deviations are computed from the exact
    * (B·R_b − ΣR) numerator and DECIMAL(38,10)-quantized before the
    * variance sum. var = (B−1)/B · Σ(R_b − R̄)² via the fixed-order
    * Σterm·(B−1)/B³ form. */
  def blockJackknifeRatio(df: DataFrame, groupCol: String,
      blockCol: Column, numCents: Column, denCents: Column,
      nBlocks: Int): DataFrame = {
    require(nBlocks >= 2, s"nBlocks must be >= 2: $nBlocks")
    val blocks = df
      .select(col(groupCol).as("g"), (blockCol % nBlocks).as("b"),
        numCents.cast("decimal(38,0)").as("y"),
        denCents.cast("decimal(38,0)").as("x"))
      .groupBy("g", "b")
      .agg(sum("y").cast("decimal(38,0)").as("sy"),
        sum("x").cast("decimal(38,0)").as("sx"), count(lit(1)).as("nr"))
    val gstats = blocks.groupBy("g")
      .agg(sum("sy").cast("decimal(38,0)").as("ty"),
        sum("sx").cast("decimal(38,0)").as("tx"),
        sum("nr").as("n_rows"), count(lit(1)).as("nb"))
    val reps = blocks.join(broadcast(gstats), "g")
      .select(col("g"), col("nb"),
        (dd(col("ty") - col("sy")) / dd(col("tx") - col("sx")))
          .cast("decimal(38,12)").as("rb"))
    val rsum = reps.groupBy("g").agg(sum("rb").as("srb"))
    val terms = reps.join(broadcast(rsum), "g")
      .select(col("g"),
        ((dd(col("rb")) * dd(col("nb")) - dd(col("srb"))) *
          (dd(col("rb")) * dd(col("nb")) - dd(col("srb"))))
          .cast("decimal(38,10)").as("t2"))
      .groupBy("g").agg(sum("t2").as("st2"))
    gstats.join(terms, "g")
      .select(col("g").as(groupCol), col("n_rows"), col("nb").as("n_blocks"),
        (dd(col("ty")) / dd(col("tx"))).as("ratio"),
        sqrt(dd(col("st2")) * dd(col("nb") - 1) /
          (dd(col("nb")) * dd(col("nb")) * dd(col("nb")))).as("jk_se"),
        (dd(col("ty")) / dd(col("tx")) -
          lit(1.96) * sqrt(dd(col("st2")) * dd(col("nb") - 1) /
            (dd(col("nb")) * dd(col("nb")) * dd(col("nb"))))).as("ci_lo"),
        (dd(col("ty")) / dd(col("tx")) +
          lit(1.96) * sqrt(dd(col("st2")) * dd(col("nb") - 1) /
            (dd(col("nb")) * dd(col("nb")) * dd(col("nb"))))).as("ci_hi"))
      .orderBy(groupCol)
  }

  /** Net-of-discount revenue share per return flag with delete-a-block
    * jackknife error bars — 40 arithmetic blocks over the order key. */
  def q430BlockJackknife(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // exact cent-x-percent units: price cents x (100 - discount%), never
    // a double product rounded to cents (the engines' double->decimal
    // casts round .xx5-adjacent doubles differently)
    val pc = (col("l_extendedprice").cast("decimal(18,2)") * 100)
      .cast("long")
    val d100 = (col("l_discount").cast("decimal(4,2)") * 100).cast("long")
    blockJackknifeRatio(li, "l_returnflag",
      pmod(col("l_orderkey") + col("l_linenumber").cast("long") * 7919L,
        lit(40L)),
      pc * (lit(100L) - d100), pc * 100L,
      nBlocks = 40)
  }

  /** Pettitt change-point test (Pettitt 1979) — the rank-based,
    * distribution-free single change-point detector: U_t = 2Σ_{i≤t}r_i
    * − t(n+1) over the series ranks, K = max|U_t|, with the standard
    * p ≈ min(1, 2·exp(−6K²/(n³+n²))). Complements the SSE change-points
    * (q206 mean-shift, q310 piecewise) exactly where they fail: no
    * normality assumption, immune to outliers, detects a LEVEL shift
    * in any monotone transform of the data.
    *
    * Exactness: doubled average ranks 2r = 2·rank_min + ties − 1 keep
    * every U_t an exact integer (the halves cancel in U's definition);
    * K and t* come off one per-key prefix window over the
    * period-histogram frame; only the final p-value touches doubles
    * (exp is engine-stable on identical inputs — the q282/q359
    * precedent). Shape: the fact table reduces to the (key, period)
    * aggregate first; every window is partitioned by key over
    * bounded period counts. */
  def pettittTest(series: DataFrame, keyCol: String, tCol: String,
      xCol: String): DataFrame = {
    val base = series.select(col(keyCol).as("k"), col(tCol).as("t"),
      col(xCol).as("x"))
    // doubled average rank 2r = 2*rank_min + ties - 1 stays integral, so
    // U_t = sum_{i<=t} 2r_i - t(n+1) is exact (the 2x is already in U's
    // classical definition)
    val ranked = base
      .withColumn("n", count(lit(1)).over(Window.partitionBy("k")))
      .withColumn("r2",
        lit(2L) * rank().over(Window.partitionBy("k").orderBy("x"))
          .cast("long") +
          count(lit(1)).over(Window.partitionBy("k", "x")) - 1L)
      .withColumn("tidx", row_number()
        .over(Window.partitionBy("k").orderBy("t")).cast("long"))
      .withColumn("u", sum("r2").over(Window.partitionBy("k").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)) -
        col("tidx") * (col("n") + 1L))
    val best = ranked.filter(col("tidx") < col("n"))
      .withColumn("rn", row_number().over(Window.partitionBy("k")
        .orderBy(abs(col("u")).desc, col("t"))))
      .filter(col("rn") === 1)
      .select(col("k"), col("t").as("cp_t"), abs(col("u")).as("k_stat"),
        col("n"))
    val sides = base.join(best.select("k", "cp_t"), "k")
      .groupBy("k")
      .agg(sum(when(col("t") <= col("cp_t"), col("x")).otherwise(lit(0L)))
        .as("sb"),
        sum(when(col("t") <= col("cp_t"), 1L).otherwise(0L)).as("nb"),
        sum(when(col("t") > col("cp_t"), col("x")).otherwise(lit(0L)))
          .as("sa"),
        sum(when(col("t") > col("cp_t"), 1L).otherwise(0L)).as("na"))
    best.join(sides, "k")
      .select(col("k").as(keyCol), col("n").as("n_periods"),
        col("cp_t").as("changepoint_t"), col("k_stat"),
        least(lit(1.0), lit(2.0) * exp(lit(-6.0) *
          dd(col("k_stat")) * dd(col("k_stat")) /
          (dd(col("n")) * dd(col("n")) * dd(col("n")) +
            dd(col("n")) * dd(col("n"))))).as("p_approx"),
        (dd(col("sb")) / dd(col("nb"))).as("mean_before"),
        (dd(col("sa")) / dd(col("na"))).as("mean_after"))
      .orderBy(keyCol)
  }

  /** Did any nation's monthly revenue stream break level — Pettitt
    * rank change-point over each nation's month×revenue-cents series. */
  def q431Pettitt(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
    val series = li.select(col("n_name"),
      date_trunc("month", col("l_shipdate")).as("m"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("c"))
      .groupBy("n_name", "m").agg(sum("c").as("rev_c"))
    pettittTest(series, "n_name", "m", "rev_c")
  }

  /** Stuart–Maxwell test of marginal homogeneity for paired 3-category
    * labels (Stuart 1955; Maxwell 1970) — "did the label DISTRIBUTION
    * shift between two labelings of the same items", the k = 3
    * generalization of McNemar (q285) and the drift companion to
    * agreement tests (q262/q427): two raters can agree poorly yet have
    * identical marginals, or agree well while one systematically
    * promotes a class. For k = 3 the χ² (df = 2) has the closed form
    * A/B with A = Σᵢ (n_jk + n_kj)·dᵢ² over {i,j,k} = {1,2,3} and
    * B = Σ pairwise products of the symmetrized off-diagonal sums —
    * all INTEGER arithmetic (the ½ factors cancel), so χ² is one
    * double division and p = exp(−χ²/2) (df = 2 survival) the only
    * libm call. Perfect agreement (all off-diagonals 0) yields NULL
    * χ² — marginal homogeneity holds trivially and the statistic is
    * 0/0. Shape: one contingency aggregation to ≤9 cells, then
    * single-row algebra. */
  def stuartMaxwell(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cell = (i: Int, j: Int) =>
      sum(when(col("a") === i && col("b") === j, 1L).otherwise(0L))
    val m = df.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
      .agg(count(lit(1)).as("n"),
        cell(0, 1).as("n12"), cell(1, 0).as("n21"),
        cell(0, 2).as("n13"), cell(2, 0).as("n31"),
        cell(1, 2).as("n23"), cell(2, 1).as("n32"),
        sum(when(col("a") === 0, 1L).otherwise(0L)).as("ra1"),
        sum(when(col("a") === 1, 1L).otherwise(0L)).as("ra2"),
        sum(when(col("a") === 2, 1L).otherwise(0L)).as("ra3"),
        sum(when(col("b") === 0, 1L).otherwise(0L)).as("cb1"),
        sum(when(col("b") === 1, 1L).otherwise(0L)).as("cb2"),
        sum(when(col("b") === 2, 1L).otherwise(0L)).as("cb3"))
    val dq = (c: Column) => c.cast("decimal(38,0)")
    val s12 = dq(col("n12") + col("n21"))
    val s13 = dq(col("n13") + col("n31"))
    val s23 = dq(col("n23") + col("n32"))
    val d1 = col("ra1") - col("cb1")
    val d2 = col("ra2") - col("cb2")
    val d3 = col("ra3") - col("cb3")
    // exact DECIMAL products — count-squared terms overflow LONG at
    // petascale item counts
    val a = (s23 * dq(d1) * dq(d1) + s13 * dq(d2) * dq(d2) +
      s12 * dq(d3) * dq(d3)).cast("decimal(38,0)")
    val b = (s12 * s13 + s12 * s23 + s13 * s23).cast("decimal(38,0)")
    m.select(col("n").as("n_items"),
      d1.as("d1"), d2.as("d2"), d3.as("d3"),
      when(b > 0, dd(a) / dd(b)).as("chi2"),
      lit(2L).as("df"),
      when(b > 0, exp(-(dd(a) / dd(b)) / lit(2.0))).as("p_value"))
  }

  /** Do the char-tercile and token-tercile document labelers promote
    * different classes — Stuart–Maxwell marginal homogeneity over the
    * q427 heuristic pair. */
  def q432StuartMaxwell(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val cls = (v: Column, lo: Int, hi: Int) =>
      when(v < lo, 0L).when(v < hi, 1L).otherwise(2L)
    val docs = Tables.documents(spark, dir).select(
      cls(col("n_chars"), 216, 379).as("r_chars"),
      cls(size(toks).cast("long"), 39, 69).as("r_tokens"))
    stuartMaxwell(docs, "r_chars", "r_tokens")
  }

  /** Turning-point test of serial randomness (Bienaymé 1874; Kendall &
    * Stuart): count interior STRICT local maxima/minima of each key's
    * series; under i.i.d. continuity E[T] = 2(n−2)/3 and
    * Var[T] = (16n−29)/90, so z = (T−E)/σ flags over-smooth (z ≪ 0,
    * trends/level shifts) or over-jittery (z ≫ 0, oscillation)
    * series. Complements the sign-based runs test (q291/q391): T
    * counts EXTREMA, not sign runs, and needs no median split.
    * Equal-neighbor ties produce no turning point (strict
    * inequalities), so integer series are handled deterministically;
    * T, E-numerators and variance are exact integers until the final
    * z division. One lag/lead window per key over the period
    * histogram. */
  def turningPointTest(series: DataFrame, keyCol: String, tCol: String,
      xCol: String): DataFrame = {
    val w = Window.partitionBy("k").orderBy("t")
    series.select(col(keyCol).as("k"), col(tCol).as("t"),
      col(xCol).as("x"))
      .withColumn("pv", lag("x", 1).over(w))
      .withColumn("nx", lead("x", 1).over(w))
      .withColumn("tp", when(col("pv").isNotNull && col("nx").isNotNull &&
        ((col("x") > col("pv") && col("x") > col("nx")) ||
          (col("x") < col("pv") && col("x") < col("nx"))), 1L)
        .otherwise(0L))
      .groupBy(col("k").as(keyCol))
      .agg(count(lit(1)).as("n_periods"), sum("tp").as("turning_points"))
      .select(col(keyCol), col("n_periods"), col("turning_points"),
        (lit(2.0) * dd(col("n_periods") - 2L) / lit(3.0))
          .as("expected_tp"),
        ((dd(col("turning_points")) -
          lit(2.0) * dd(col("n_periods") - 2L) / lit(3.0)) /
          sqrt(dd(lit(16L) * col("n_periods") - 29L) / lit(90.0)))
          .as("z_score"))
      .orderBy(keyCol)
  }

  /** Is each nation's monthly revenue stream serially random or
    * trending — turning-point z over the q431 series. */
  def q433TurningPoint(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
    val series = li.select(col("n_name"),
      date_trunc("month", col("l_shipdate")).as("m"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("c"))
      .groupBy("n_name", "m").agg(sum("c").as("rev_c"))
    turningPointTest(series, "n_name", "m", "rev_c")
  }

  /** Kupiec proportion-of-failures VaR backtest (Kupiec 1995) — does
    * an out-of-sample exception RATE match the VaR confidence level:
    * LR_POF = −2[(n−x)ln(1−p) + x·ln p − (n−x)ln(1−x/n) − x·ln(x/n)],
    * χ²(1) under H₀ (reject at 3.84). The model here is the classic
    * historical-simulation VaR: the p-quantile of the TRAIN window's
    * per-period totals (R-7 interpolation, the engine-shared
    * definition), backtested on the later window — the train/test
    * split is what makes the test non-degenerate. x = 0 and x = n use
    * the standard 0·ln 0 = 0 limit. Counts are exact; ln runs on
    * identical doubles (q204 precedent). One per-key aggregation per
    * window plus a K-row quantile frame joined back broadcast. */
  def kupiecPof(series: DataFrame, keyCol: String, tCol: String,
      xCol: String, splitAt: Column, p: Double): DataFrame = {
    require(p > 0 && p < 1, s"p must be in (0,1): $p")
    val base = series.select(col(keyCol).as("k"), col(tCol).as("t"),
      col(xCol).cast("double").as("x"))
    val varTrain = base.filter(col("t") < splitAt).groupBy("k")
      .agg(expr(s"percentile(x, $p)").as("var_p"),
        count(lit(1)).as("n_train"))
    val xOverN = dd(col("x_exc")) / dd(col("n_test"))
    val lr = lit(-2.0) * (
      dd(col("n_test") - col("x_exc")) * log(lit(1.0 - p)) +
        dd(col("x_exc")) * log(lit(p)) -
        when(col("x_exc") === col("n_test"), lit(0.0))
          .otherwise(dd(col("n_test") - col("x_exc")) *
            log(lit(1.0) - xOverN)) -
        when(col("x_exc") === 0L, lit(0.0))
          .otherwise(dd(col("x_exc")) * log(xOverN)))
    base.filter(col("t") >= splitAt)
      .join(broadcast(varTrain), "k")
      .groupBy(col("k").as(keyCol))
      .agg(max("var_p").as("var_p"), max("n_train").as("n_train"),
        count(lit(1)).as("n_test"),
        sum(when(col("x") < col("var_p"), 1L).otherwise(0L)).as("x_exc"))
      .select(col(keyCol), col("var_p"), col("n_train"), col("n_test"),
        col("x_exc"),
        (dd(col("x_exc")) / dd(col("n_test"))).as("exception_rate"),
        lr.as("lr_pof"))
      .orderBy(keyCol)
  }

  /** Does 5%-VaR fitted on pre-1998 monthly nation revenue hold up
    * after — Kupiec POF exception-rate backtest. */
  def q434KupiecPof(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
    val series = li.select(col("n_name"),
      date_trunc("month", col("l_shipdate")).as("m"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("c"))
      .groupBy("n_name", "m").agg(sum("c").as("rev_c"))
    kupiecPof(series, "n_name", "m", "rev_c",
      lit("1998-01-01").cast("timestamp"), p = 0.05)
  }

  /** One ESD oracle round: moments over the surviving rows b{r−1},
    * winner pick by (dev desc, key), remainder b{r}. */
  private def esdRoundSql(r: Int): String =
    s"""s$r AS (
       |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
       |    CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT)
       |      AS ss
       |  FROM b${r - 1} GROUP BY g HAVING COUNT(*) >= 3),
       |w$r AS (
       |  SELECT * FROM (
       |    SELECT b.g, b.k, b.x, s.n, s.s, s.ss,
       |      ABS(CAST(b.x AS HUGEINT) * CAST(s.n AS HUGEINT) - s.s) AS dev,
       |      ROW_NUMBER() OVER (PARTITION BY b.g
       |        ORDER BY ABS(CAST(b.x AS HUGEINT) * CAST(s.n AS HUGEINT)
       |          - s.s) DESC, b.k) AS rk
       |    FROM b${r - 1} b JOIN s$r s USING (g)) z
       |  WHERE rk = 1),
       |b$r AS (
       |  SELECT b.g, b.x, b.k FROM b${r - 1} b
       |  LEFT JOIN w$r ON w$r.g = b.g AND w$r.k = b.k
       |  WHERE w$r.k IS NULL)""".stripMargin

  private def esdRowSql(r: Int): String =
    s"""SELECT g AS o_orderpriority, CAST($r AS BIGINT) AS round, n,
       |  k AS outlier_key, CAST(x AS DOUBLE) / 100.0 AS outlier_value,
       |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean,
       |  CASE WHEN CAST(n AS HUGEINT) * ss > s * s THEN
       |    (CAST(dev AS DOUBLE) / CAST(n AS DOUBLE))
       |      / sqrt(CAST(CAST(n AS HUGEINT) * ss - s * s AS DOUBLE)
       |        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) END AS r_stat
       |FROM w$r""".stripMargin

  /** One Granger direction: exact moments of (y, y₁, x₁) over the
    * lagged grid, centered sums in HUGEINT, double finish mirroring
    * [[grangerScreen]]'s expression shapes. */
  private def grangerDirSql(name: String, yc: String, y1: String,
      x1: String): String =
    s"""  SELECT '$name' AS direction, CAST(m AS BIGINT) AS m,
       |    ssr_r_m / CAST(m AS DOUBLE) / 10000.0 AS ssr_restricted,
       |    ssr_f_m / CAST(m AS DOUBLE) / 10000.0 AS ssr_full,
       |    CASE WHEN ssr_f_m > 0 THEN (ssr_r_m - ssr_f_m)
       |      / (ssr_f_m / (CAST(m AS DOUBLE) - 3.0)) END AS f_stat
       |  FROM (
       |    SELECT m,
       |      CAST(cyy AS DOUBLE) - CAST(cya AS DOUBLE) * CAST(cya AS DOUBLE)
       |        / CAST(caa AS DOUBLE) AS ssr_r_m,
       |      CAST(cyy AS DOUBLE)
       |        - (CAST(cbb AS DOUBLE) * CAST(cya AS DOUBLE)
       |           - CAST(cab AS DOUBLE) * CAST(cyb AS DOUBLE))
       |          / (CAST(caa AS DOUBLE) * CAST(cbb AS DOUBLE)
       |             - CAST(cab AS DOUBLE) * CAST(cab AS DOUBLE))
       |          * CAST(cya AS DOUBLE)
       |        - (CAST(caa AS DOUBLE) * CAST(cyb AS DOUBLE)
       |           - CAST(cab AS DOUBLE) * CAST(cya AS DOUBLE))
       |          / (CAST(caa AS DOUBLE) * CAST(cbb AS DOUBLE)
       |             - CAST(cab AS DOUBLE) * CAST(cab AS DOUBLE))
       |          * CAST(cyb AS DOUBLE) AS ssr_f_m
       |    FROM (
       |      SELECT m,
       |        m * saa - sa * sa AS caa, m * sab - sa * sb AS cab,
       |        m * sbb - sb * sb AS cbb, m * sya - sy * sa AS cya,
       |        m * syb - sy * sb AS cyb, m * syy - sy * sy AS cyy
       |      FROM (
       |        SELECT CAST(COUNT(*) AS HUGEINT) AS m,
       |          CAST(SUM($yc) AS HUGEINT) AS sy,
       |          CAST(SUM($y1) AS HUGEINT) AS sa,
       |          CAST(SUM($x1) AS HUGEINT) AS sb,
       |          CAST(SUM($yc * $yc) AS HUGEINT) AS syy,
       |          CAST(SUM($yc * $y1) AS HUGEINT) AS sya,
       |          CAST(SUM($yc * $x1) AS HUGEINT) AS syb,
       |          CAST(SUM($y1 * $y1) AS HUGEINT) AS saa,
       |          CAST(SUM($y1 * $x1) AS HUGEINT) AS sab,
       |          CAST(SUM($x1 * $x1) AS HUGEINT) AS sbb
       |        FROM lagged) mom) cen) fin""".stripMargin

  /** One q355 stratifier block: per-stratum exact moments, quantized
    * within-slope terms, marginal slope from the re-summed moments. */
  private def simpsonsDirSql(s: String): String =
    s"""  SELECT '$s' AS stratifier, k_strata, n,
       |    CAST(CAST(n AS HUGEINT) * txy - tx * ty AS DOUBLE)
       |      / CAST(CAST(n AS HUGEINT) * txx - tx * tx AS DOUBLE)
       |      AS slope_marginal,
       |    CAST(pxy AS DOUBLE) / CAST(pxx AS DOUBLE) AS slope_within,
       |    CAST(CASE WHEN
       |        (CAST(CAST(n AS HUGEINT) * txy - tx * ty AS DOUBLE)
       |          / CAST(CAST(n AS HUGEINT) * txx - tx * tx AS DOUBLE) > 0)
       |        <> (CAST(pxy AS DOUBLE) / CAST(pxx AS DOUBLE) > 0)
       |      THEN 1 ELSE 0 END AS BIGINT) AS sign_reversed
       |  FROM (
       |    SELECT CAST(COUNT(*) AS BIGINT) AS k_strata,
       |      CAST(SUM(ng) AS BIGINT) AS n,
       |      CAST(SUM(sx) AS HUGEINT) AS tx, CAST(SUM(sy) AS HUGEINT)
       |        AS ty,
       |      CAST(SUM(sxy) AS HUGEINT) AS txy, CAST(SUM(sxx) AS HUGEINT)
       |        AS txx,
       |      CAST(SUM(wxy) AS DECIMAL(38,6)) AS pxy,
       |      CAST(SUM(wxx) AS DECIMAL(38,6)) AS pxx
       |    FROM (
       |      SELECT *,
       |        CAST(CAST(CAST(ng AS HUGEINT) * sxy - sx * sy AS DOUBLE)
       |          / CAST(ng AS DOUBLE) AS DECIMAL(38,6)) AS wxy,
       |        CAST(CAST(CAST(ng AS HUGEINT) * sxx - sx * sx AS DOUBLE)
       |          / CAST(ng AS DOUBLE) AS DECIMAL(38,6)) AS wxx
       |      FROM (
       |        SELECT CAST($s AS VARCHAR) AS g,
       |          CAST(COUNT(*) AS BIGINT) AS ng,
       |          CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
       |          CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
       |          CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
       |            AS HUGEINT) AS sxy,
       |          CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
       |            AS HUGEINT) AS sxx
       |        FROM base GROUP BY 1) g1) g2) g3""".stripMargin

  val declared: Map[String, Query] = Map(
    "q432_stuart_maxwell" -> Query(q432StuartMaxwell,
      """WITH feat AS (
        |  SELECT n_chars,
        |    len(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents),
        |lab AS (
        |  SELECT CAST(CASE WHEN n_chars < 216 THEN 0
        |      WHEN n_chars < 379 THEN 1 ELSE 2 END AS BIGINT) AS a,
        |    CAST(CASE WHEN tok < 39 THEN 0
        |      WHEN tok < 69 THEN 1 ELSE 2 END AS BIGINT) AS b
        |  FROM feat),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n12,
        |    CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n21,
        |    CAST(SUM(CASE WHEN a = 0 AND b = 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n13,
        |    CAST(SUM(CASE WHEN a = 2 AND b = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n31,
        |    CAST(SUM(CASE WHEN a = 1 AND b = 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n23,
        |    CAST(SUM(CASE WHEN a = 2 AND b = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n32,
        |    CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ra1,
        |    CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ra2,
        |    CAST(SUM(CASE WHEN a = 2 THEN 1 ELSE 0 END) AS BIGINT) AS ra3,
        |    CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb1,
        |    CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb2,
        |    CAST(SUM(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS cb3
        |  FROM lab),
        |e AS (
        |  SELECT n, ra1 - cb1 AS d1, ra2 - cb2 AS d2, ra3 - cb3 AS d3,
        |    CAST(CAST(n23 + n32 AS DECIMAL(38,0))
        |        * CAST(ra1 - cb1 AS DECIMAL(38,0))
        |        * CAST(ra1 - cb1 AS DECIMAL(38,0))
        |      + CAST(n13 + n31 AS DECIMAL(38,0))
        |        * CAST(ra2 - cb2 AS DECIMAL(38,0))
        |        * CAST(ra2 - cb2 AS DECIMAL(38,0))
        |      + CAST(n12 + n21 AS DECIMAL(38,0))
        |        * CAST(ra3 - cb3 AS DECIMAL(38,0))
        |        * CAST(ra3 - cb3 AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS a2,
        |    CAST(CAST(n12 + n21 AS DECIMAL(38,0))
        |        * CAST(n13 + n31 AS DECIMAL(38,0))
        |      + CAST(n12 + n21 AS DECIMAL(38,0))
        |        * CAST(n23 + n32 AS DECIMAL(38,0))
        |      + CAST(n13 + n31 AS DECIMAL(38,0))
        |        * CAST(n23 + n32 AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS b2
        |  FROM m)
        |SELECT n AS n_items, d1, d2, d3,
        |  CASE WHEN b2 > 0 THEN CAST(a2 AS DOUBLE) / CAST(b2 AS DOUBLE)
        |    END AS chi2,
        |  CAST(2 AS BIGINT) AS df,
        |  CASE WHEN b2 > 0 THEN
        |    exp(-(CAST(a2 AS DOUBLE) / CAST(b2 AS DOUBLE)) / 2.0)
        |    END AS p_value
        |FROM e""".stripMargin),
    "q433_turning_point" -> Query(q433TurningPoint,
      """WITH series AS (
        |  SELECT n.n_name, CAST(date_trunc('month', l.l_shipdate)
        |      AS TIMESTAMP) AS m,
        |    CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT n_name AS k, rev_c AS x,
        |    lag(rev_c) OVER w AS pv, lead(rev_c) OVER w AS nx
        |  FROM series WINDOW w AS (PARTITION BY n_name ORDER BY m)),
        |agg AS (
        |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_periods,
        |    CAST(SUM(CASE WHEN pv IS NOT NULL AND nx IS NOT NULL AND
        |      ((x > pv AND x > nx) OR (x < pv AND x < nx))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS turning_points
        |  FROM t GROUP BY 1)
        |SELECT k AS n_name, n_periods, turning_points,
        |  2.0 * CAST(n_periods - 2 AS DOUBLE) / 3.0 AS expected_tp,
        |  (CAST(turning_points AS DOUBLE)
        |    - 2.0 * CAST(n_periods - 2 AS DOUBLE) / 3.0)
        |    / sqrt(CAST(16 * n_periods - 29 AS DOUBLE) / 90.0) AS z_score
        |FROM agg ORDER BY 1""".stripMargin),
    "q434_kupiec_pof" -> Query(q434KupiecPof,
      """WITH series AS (
        |  SELECT n.n_name, CAST(date_trunc('month', l.l_shipdate)
        |      AS TIMESTAMP) AS m,
        |    CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  GROUP BY 1, 2),
        |tr AS (
        |  SELECT n_name AS k,
        |    quantile_cont(CAST(rev_c AS DOUBLE), 0.05) AS var_p,
        |    CAST(COUNT(*) AS BIGINT) AS n_train
        |  FROM series WHERE m < TIMESTAMP '1998-01-01' GROUP BY 1),
        |te AS (
        |  SELECT s.n_name AS k, t.var_p, t.n_train,
        |    CAST(COUNT(*) AS BIGINT) AS n_test,
        |    CAST(SUM(CASE WHEN CAST(s.rev_c AS DOUBLE) < t.var_p
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x_exc
        |  FROM series s JOIN tr t ON s.n_name = t.k
        |  WHERE s.m >= TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2, 3)
        |SELECT k AS n_name, var_p, n_train, n_test, x_exc,
        |  CAST(x_exc AS DOUBLE) / CAST(n_test AS DOUBLE)
        |    AS exception_rate,
        |  -2.0 * (CAST(n_test - x_exc AS DOUBLE) * ln(0.95)
        |    + CAST(x_exc AS DOUBLE) * ln(0.05)
        |    - (CASE WHEN x_exc = n_test THEN 0.0
        |        ELSE CAST(n_test - x_exc AS DOUBLE)
        |          * ln(1.0 - CAST(x_exc AS DOUBLE)
        |            / CAST(n_test AS DOUBLE)) END)
        |    - (CASE WHEN x_exc = 0 THEN 0.0
        |        ELSE CAST(x_exc AS DOUBLE)
        |          * ln(CAST(x_exc AS DOUBLE) / CAST(n_test AS DOUBLE))
        |        END)) AS lr_pof
        |FROM te ORDER BY 1""".stripMargin),
    "q430_block_jackknife" -> Query(q430BlockJackknife,
      """WITH rows_ AS (
        |  SELECT l_returnflag AS g,
        |    (l_orderkey + CAST(l_linenumber AS BIGINT) * 7919) % 40 AS b,
        |    CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT)
        |      * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
        |        AS BIGINT)) AS DECIMAL(38,0)) AS y,
        |    CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) * 100 AS DECIMAL(38,0)) AS x
        |  FROM lineitem),
        |blocks AS (
        |  SELECT g, b, CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
        |    CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
        |    CAST(COUNT(*) AS BIGINT) AS nr
        |  FROM rows_ GROUP BY 1, 2),
        |gstats AS (
        |  SELECT g, CAST(SUM(sy) AS DECIMAL(38,0)) AS ty,
        |    CAST(SUM(sx) AS DECIMAL(38,0)) AS tx,
        |    CAST(SUM(nr) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS nb
        |  FROM blocks GROUP BY 1),
        |reps AS (
        |  SELECT b2.g, gs.nb,
        |    CAST(CAST(gs.ty - b2.sy AS DOUBLE)
        |      / CAST(gs.tx - b2.sx AS DOUBLE) AS DECIMAL(38,12)) AS rb
        |  FROM blocks b2 JOIN gstats gs ON b2.g = gs.g),
        |rsum AS (SELECT g, SUM(rb) AS srb FROM reps GROUP BY 1),
        |terms AS (
        |  SELECT r.g,
        |    CAST(SUM(CAST(
        |      (CAST(r.rb AS DOUBLE) * CAST(r.nb AS DOUBLE)
        |        - CAST(s.srb AS DOUBLE)) *
        |      (CAST(r.rb AS DOUBLE) * CAST(r.nb AS DOUBLE)
        |        - CAST(s.srb AS DOUBLE)) AS DECIMAL(38,10)))
        |      AS DECIMAL(38,10)) AS st2
        |  FROM reps r JOIN rsum s ON r.g = s.g GROUP BY 1)
        |SELECT gs.g AS l_returnflag, gs.n_rows, gs.nb AS n_blocks,
        |  CAST(gs.ty AS DOUBLE) / CAST(gs.tx AS DOUBLE) AS ratio,
        |  sqrt(CAST(t.st2 AS DOUBLE) * CAST(gs.nb - 1 AS DOUBLE)
        |    / (CAST(gs.nb AS DOUBLE) * CAST(gs.nb AS DOUBLE)
        |      * CAST(gs.nb AS DOUBLE))) AS jk_se,
        |  CAST(gs.ty AS DOUBLE) / CAST(gs.tx AS DOUBLE)
        |    - 1.96 * sqrt(CAST(t.st2 AS DOUBLE) * CAST(gs.nb - 1 AS DOUBLE)
        |      / (CAST(gs.nb AS DOUBLE) * CAST(gs.nb AS DOUBLE)
        |        * CAST(gs.nb AS DOUBLE))) AS ci_lo,
        |  CAST(gs.ty AS DOUBLE) / CAST(gs.tx AS DOUBLE)
        |    + 1.96 * sqrt(CAST(t.st2 AS DOUBLE) * CAST(gs.nb - 1 AS DOUBLE)
        |      / (CAST(gs.nb AS DOUBLE) * CAST(gs.nb AS DOUBLE)
        |        * CAST(gs.nb AS DOUBLE))) AS ci_hi
        |FROM gstats gs JOIN terms t ON gs.g = t.g ORDER BY 1""".stripMargin),
    "q431_pettitt" -> Query(q431Pettitt,
      """WITH series AS (
        |  SELECT n.n_name, CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP) AS m,
        |    CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT n_name AS k, m AS t, rev_c AS x,
        |    CAST(COUNT(*) OVER (PARTITION BY n_name) AS BIGINT) AS n,
        |    CAST(2 * RANK() OVER (PARTITION BY n_name ORDER BY rev_c)
        |      + COUNT(*) OVER (PARTITION BY n_name, rev_c) - 1
        |      AS BIGINT) AS r2,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY m)
        |      AS BIGINT) AS tidx
        |  FROM series),
        |u AS (
        |  SELECT k, t, x, n, tidx,
        |    SUM(r2) OVER (PARTITION BY k ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) - tidx * (n + 1) AS u
        |  FROM ranked),
        |best AS (
        |  SELECT k, t AS cp_t, CAST(abs(u) AS BIGINT) AS k_stat, n
        |  FROM (
        |    SELECT k, t, u, n, ROW_NUMBER() OVER
        |      (PARTITION BY k ORDER BY abs(u) DESC, t) AS rn
        |    FROM u WHERE tidx < n)
        |  WHERE rn = 1),
        |sides AS (
        |  SELECT s.k,
        |    CAST(SUM(CASE WHEN s.t <= b.cp_t THEN s.x ELSE 0 END)
        |      AS BIGINT) AS sb,
        |    CAST(SUM(CASE WHEN s.t <= b.cp_t THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN s.t > b.cp_t THEN s.x ELSE 0 END)
        |      AS BIGINT) AS sa,
        |    CAST(SUM(CASE WHEN s.t > b.cp_t THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na
        |  FROM u s JOIN best b ON s.k = b.k GROUP BY 1)
        |SELECT b.k AS n_name, b.n AS n_periods, b.cp_t AS changepoint_t,
        |  b.k_stat,
        |  least(1.0, 2.0 * exp(-6.0
        |    * CAST(b.k_stat AS DOUBLE) * CAST(b.k_stat AS DOUBLE)
        |    / (CAST(b.n AS DOUBLE) * CAST(b.n AS DOUBLE)
        |        * CAST(b.n AS DOUBLE)
        |      + CAST(b.n AS DOUBLE) * CAST(b.n AS DOUBLE))))
        |    AS p_approx,
        |  CAST(d.sb AS DOUBLE) / CAST(d.nb AS DOUBLE) AS mean_before,
        |  CAST(d.sa AS DOUBLE) / CAST(d.na AS DOUBLE) AS mean_after
        |FROM best b JOIN sides d ON b.k = d.k ORDER BY 1""".stripMargin),
    "q427_fleiss_kappa" -> Query(q427FleissKappa,
      """WITH feat AS (
        |  SELECT doc_id, n_chars,
        |    len(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS tok,
        |    len(list_distinct(list_filter(
        |      regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS du
        |  FROM documents),
        |lab AS (
        |  SELECT doc_id AS i, unnest([
        |    CAST(CASE WHEN n_chars < 216 THEN 0
        |      WHEN n_chars < 379 THEN 1 ELSE 2 END AS BIGINT),
        |    CAST(CASE WHEN tok < 39 THEN 0
        |      WHEN tok < 69 THEN 1 ELSE 2 END AS BIGINT),
        |    CAST(CASE WHEN du < 22 THEN 0
        |      WHEN du < 27 THEN 1 ELSE 2 END AS BIGINT)]) AS j
        |  FROM feat),
        |nij AS (
        |  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS nij
        |  FROM lab GROUP BY 1, 2),
        |per AS (
        |  SELECT i, CAST(SUM(nij * nij) AS BIGINT) AS ss,
        |    CAST(SUM(nij) AS BIGINT) AS n
        |  FROM nij GROUP BY 1),
        |pbar AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(ss - n) AS BIGINT) AS agree_num,
        |    CAST(MIN(n) AS BIGINT) AS n_min,
        |    CAST(MAX(n) AS BIGINT) AS n_max
        |  FROM per),
        |pe AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
        |    CAST(SUM(cj) AS BIGINT) AS n_labels,
        |    CAST(SUM(CAST(cj AS DECIMAL(38,0)) * CAST(cj AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS pe_num
        |  FROM (SELECT j, CAST(SUM(nij) AS BIGINT) AS cj
        |        FROM nij GROUP BY 1))
        |SELECT b.n_items, e.n_categories,
        |  b.n_min AS raters_per_item_min, b.n_max AS raters_per_item_max,
        |  CAST(b.agree_num AS DOUBLE)
        |    / (CAST(b.n_items AS DOUBLE) * 3.0 * 2.0) AS p_bar,
        |  CAST(e.pe_num AS DOUBLE)
        |    / (CAST(e.n_labels AS DOUBLE) * CAST(e.n_labels AS DOUBLE))
        |    AS p_e,
        |  (CAST(b.agree_num AS DOUBLE)
        |      / (CAST(b.n_items AS DOUBLE) * 3.0 * 2.0)
        |    - CAST(e.pe_num AS DOUBLE)
        |      / (CAST(e.n_labels AS DOUBLE) * CAST(e.n_labels AS DOUBLE)))
        |  / (1.0 - CAST(e.pe_num AS DOUBLE)
        |      / (CAST(e.n_labels AS DOUBLE) * CAST(e.n_labels AS DOUBLE)))
        |    AS kappa
        |FROM pbar b CROSS JOIN pe e""".stripMargin),
    "q429_median_of_means" -> Query(q429MedianOfMeans,
      """WITH blocks AS (
        |  SELECT o_orderpriority AS g, (o_orderkey % 97) % 32 AS b,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS DECIMAL(38,0)) AS sx,
        |    CAST(COUNT(*) AS BIGINT) AS nx
        |  FROM orders GROUP BY 1, 2),
        |bm AS (
        |  SELECT g, sx, nx,
        |    CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE) AS block_mean
        |  FROM blocks)
        |SELECT g AS o_orderpriority,
        |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(SUM(nx) AS BIGINT) AS n_rows,
        |  CAST(CAST(SUM(sx) AS DECIMAL(38,0)) AS DOUBLE)
        |    / CAST(SUM(nx) AS DOUBLE) AS mean_cents,
        |  quantile_cont(block_mean, 0.5) AS mom_cents
        |FROM bm GROUP BY 1 ORDER BY 1""".stripMargin),
    "q424_rank_biased_overlap" -> Query(q424RankBiasedOverlap,
      """WITH h1 AS (
        |  SELECT l_partkey AS item,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS rev_c
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |    AND l_shipdate < TIMESTAMP '1995-07-01'
        |  GROUP BY 1 ORDER BY rev_c DESC, item LIMIT 25),
        |h2 AS (
        |  SELECT l_partkey AS item,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS rev_c
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-07-01'
        |    AND l_shipdate < TIMESTAMP '1996-01-01'
        |  GROUP BY 1 ORDER BY rev_c DESC, item LIMIT 25),
        |r1 AS (
        |  SELECT item, CAST(ROW_NUMBER() OVER
        |    (ORDER BY rev_c DESC, item) AS BIGINT) AS r1 FROM h1),
        |r2 AS (
        |  SELECT item, CAST(ROW_NUMBER() OVER
        |    (ORDER BY rev_c DESC, item) AS BIGINT) AS r2 FROM h2),
        |j AS (
        |  SELECT COALESCE(r1.r1, 26) AS r1, COALESCE(r2.r2, 26) AS r2
        |  FROM r1 FULL OUTER JOIN r2 ON r1.item = r2.item),
        |d AS (
        |  SELECT CAST(x AS BIGINT) AS d,
        |    1.0 / power(2.0, CAST(x AS DOUBLE)) AS w
        |  FROM generate_series(1, 25) t(x)),
        |ov AS (
        |  SELECT d.d, d.w, COUNT(j.r1) AS ov
        |  FROM d LEFT JOIN j ON GREATEST(j.r1, j.r2) <= d.d
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT SUM(CAST((CAST(ov AS DOUBLE) / CAST(d AS DOUBLE)) * w
        |    AS DECIMAL(38,18))) AS rbo_q
        |  FROM ov),
        |c AS (
        |  SELECT CAST(SUM(CASE WHEN r1 <= 25 AND r2 <= 25 THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_common FROM j)
        |SELECT CAST(25 AS BIGINT) AS k, c.n_common,
        |  CAST(c.n_common AS DOUBLE) / CAST(50 - c.n_common AS DOUBLE)
        |    AS jaccard_topk,
        |  CAST(s.rbo_q AS DOUBLE) AS rbo_min,
        |  CAST(s.rbo_q AS DOUBLE) +
        |    (CAST(c.n_common AS DOUBLE) / CAST(25 AS DOUBLE))
        |      / power(2.0, 25.0) AS rbo_ext
        |FROM c, s""".stripMargin),
    "q425_theil_decomposition" -> Query(q425TheilDecomposition,
      """WITH spend AS (
        |  SELECT o_custkey,
        |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT c.c_mktsegment AS g, CAST(s.cents AS DECIMAL(38,0)) AS x
        |  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey),
        |gstats AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    CAST(SUM(x) AS DECIMAL(38,0)) AS s_g
        |  FROM base GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_g) AS BIGINT) AS n_all,
        |    CAST(SUM(s_g) AS DECIMAL(38,0)) AS s_all
        |  FROM gstats),
        |within AS (
        |  SELECT b.g,
        |    SUM(CAST(
        |      (CAST(b.x AS DOUBLE) * CAST(gs.n_g AS DOUBLE)
        |        / CAST(gs.s_g AS DOUBLE)) *
        |      ln(CAST(b.x AS DOUBLE) * CAST(gs.n_g AS DOUBLE)
        |        / CAST(gs.s_g AS DOUBLE))
        |      AS DECIMAL(38,12))) AS tsum
        |  FROM base b JOIN gstats gs ON b.g = gs.g
        |  GROUP BY 1)
        |SELECT gs.g AS c_mktsegment, gs.n_g AS n_entities,
        |  CAST(gs.s_g AS DOUBLE) / CAST(t.s_all AS DOUBLE) AS share,
        |  CAST(gs.s_g AS DOUBLE) * CAST(t.n_all AS DOUBLE)
        |    / (CAST(gs.n_g AS DOUBLE) * CAST(t.s_all AS DOUBLE))
        |    AS mean_ratio,
        |  CAST(w.tsum AS DOUBLE) / CAST(gs.n_g AS DOUBLE)
        |    AS theil_within,
        |  (CAST(gs.s_g AS DOUBLE) / CAST(t.s_all AS DOUBLE)) *
        |    (CAST(w.tsum AS DOUBLE) / CAST(gs.n_g AS DOUBLE))
        |    AS within_contrib,
        |  (CAST(gs.s_g AS DOUBLE) / CAST(t.s_all AS DOUBLE)) *
        |    ln(CAST(gs.s_g AS DOUBLE) * CAST(t.n_all AS DOUBLE)
        |      / (CAST(gs.n_g AS DOUBLE) * CAST(t.s_all AS DOUBLE)))
        |    AS between_term
        |FROM gstats gs JOIN within w ON gs.g = w.g CROSS JOIN tot t
        |ORDER BY 1""".stripMargin),
    "q388_brown_forsythe" -> Query(q388BrownForsythe,
      """WITH per AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS x
        |  FROM lineitem),
        |hist AS (
        |  SELECT g, x, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM per GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, x, cnt,
        |    SUM(cnt) OVER (PARTITION BY g ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(cnt) OVER (PARTITION BY g) AS ng
        |  FROM hist),
        |med AS (
        |  SELECT g,
        |    MIN(CASE WHEN cum >= (ng + 1) // 2 THEN x END)
        |      + MIN(CASE WHEN cum >= (ng + 2) // 2 THEN x END) AS med2
        |  FROM cum GROUP BY g),
        |z AS (
        |  SELECT p.g, ABS(p.x * 2 - m.med2) AS z
        |  FROM per p JOIN med m ON p.g = m.g),
        |mom AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(z AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
        |    CAST(SUM(CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s2
        |  FROM z GROUP BY g),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(SUM(n) AS BIGINT) AS n_total,
        |    CAST(SUM(s1) AS DECIMAL(38,0)) AS st,
        |    CAST(SUM(s2) AS DECIMAL(38,0)) AS q2,
        |    CAST(SUM(CAST(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |        / CAST(n AS DOUBLE) AS DECIMAL(38,6)))
        |      AS DECIMAL(38,6)) AS aq
        |  FROM mom),
        |fin AS (
        |  SELECT *, CAST(aq AS DOUBLE) AS a FROM agg)
        |SELECT n_groups, n_total,
        |  CAST(n_groups - 1 AS BIGINT) AS df1,
        |  CAST(n_total - n_groups AS BIGINT) AS df2,
        |  CASE WHEN CAST(q2 AS DOUBLE) - a > 0 THEN
        |    ((a - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
        |        / CAST(n_total AS DOUBLE))
        |      / CAST(n_groups - 1 AS DOUBLE))
        |    / ((CAST(q2 AS DOUBLE) - a)
        |      / CAST(n_total - n_groups AS DOUBLE)) END AS f_bf
        |FROM fin WHERE n_groups > 1 AND n_total > n_groups""".stripMargin),
    "q390_jonckheere_terpstra" -> Query(q390JonckheereTerpstra,
      """WITH per AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',
        |    '4-NOT SPECIFIED','5-LOW')),
        |hist AS (
        |  SELECT x,
        |    CAST(SUM(CASE WHEN g = '1-URGENT' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN g = '2-HIGH' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN g = '3-MEDIUM' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c2,
        |    CAST(SUM(CASE WHEN g = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c3,
        |    CAST(SUM(CASE WHEN g = '5-LOW' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c4
        |  FROM per GROUP BY x),
        |cum AS (
        |  SELECT *, SUM(c0) OVER w AS m0, SUM(c1) OVER w AS m1,
        |    SUM(c2) OVER w AS m2, SUM(c3) OVER w AS m3,
        |    SUM(c4) OVER w AS m4,
        |    c0 + c1 + c2 + c3 + c4 AS t
        |  FROM hist
        |  WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)),
        |stat AS (
        |  SELECT
        |    CAST(SUM(
        |      CAST(c1 AS DECIMAL(38,0)) *
        |        (CAST((m0 - c0) AS DECIMAL(38,0)) * 2
        |          + CAST(c0 AS DECIMAL(38,0)))
        |      + CAST(c2 AS DECIMAL(38,0)) *
        |        (CAST((m0 - c0) + (m1 - c1) AS DECIMAL(38,0)) * 2
        |          + CAST(c0 + c1 AS DECIMAL(38,0)))
        |      + CAST(c3 AS DECIMAL(38,0)) *
        |        (CAST((m0 - c0) + (m1 - c1) + (m2 - c2) AS DECIMAL(38,0))
        |          * 2 + CAST(c0 + c1 + c2 AS DECIMAL(38,0)))
        |      + CAST(c4 AS DECIMAL(38,0)) *
        |        (CAST((m0 - c0) + (m1 - c1) + (m2 - c2) + (m3 - c3)
        |          AS DECIMAL(38,0)) * 2
        |          + CAST(c0 + c1 + c2 + c3 AS DECIMAL(38,0)))
        |    ) AS DECIMAL(38,0)) AS jt2,
        |    CAST(SUM(CAST(t AS DECIMAL(38,0)) * CAST(t - 1 AS DECIMAL(38,0))
        |      * CAST(t * 2 + 5 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS t25,
        |    CAST(SUM(CAST(t AS DECIMAL(38,0)) * CAST(t - 1 AS DECIMAL(38,0))
        |      * CAST(t - 2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS t12,
        |    CAST(SUM(CAST(t AS DECIMAL(38,0)) * CAST(t - 1 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS t1,
        |    CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(c2) AS BIGINT) AS n2, CAST(SUM(c3) AS BIGINT) AS n3,
        |    CAST(SUM(c4) AS BIGINT) AS n4
        |  FROM cum),
        |wide AS (
        |  SELECT jt2, t25, t12, t1,
        |    n0 + n1 + n2 + n3 + n4 AS nn,
        |    CAST(n0 AS DECIMAL(38,0)) * CAST(n0 AS DECIMAL(38,0))
        |      + CAST(n1 AS DECIMAL(38,0)) * CAST(n1 AS DECIMAL(38,0))
        |      + CAST(n2 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0))
        |      + CAST(n3 AS DECIMAL(38,0)) * CAST(n3 AS DECIMAL(38,0))
        |      + CAST(n4 AS DECIMAL(38,0)) * CAST(n4 AS DECIMAL(38,0))
        |      AS sq,
        |    CAST(n0 AS DECIMAL(38,0)) * CAST(n0 - 1 AS DECIMAL(38,0))
        |        * CAST(n0 * 2 + 5 AS DECIMAL(38,0))
        |      + CAST(n1 AS DECIMAL(38,0)) * CAST(n1 - 1 AS DECIMAL(38,0))
        |        * CAST(n1 * 2 + 5 AS DECIMAL(38,0))
        |      + CAST(n2 AS DECIMAL(38,0)) * CAST(n2 - 1 AS DECIMAL(38,0))
        |        * CAST(n2 * 2 + 5 AS DECIMAL(38,0))
        |      + CAST(n3 AS DECIMAL(38,0)) * CAST(n3 - 1 AS DECIMAL(38,0))
        |        * CAST(n3 * 2 + 5 AS DECIMAL(38,0))
        |      + CAST(n4 AS DECIMAL(38,0)) * CAST(n4 - 1 AS DECIMAL(38,0))
        |        * CAST(n4 * 2 + 5 AS DECIMAL(38,0)) AS g25,
        |    CAST(n0 AS DECIMAL(38,0)) * CAST(n0 - 1 AS DECIMAL(38,0))
        |        * CAST(n0 - 2 AS DECIMAL(38,0))
        |      + CAST(n1 AS DECIMAL(38,0)) * CAST(n1 - 1 AS DECIMAL(38,0))
        |        * CAST(n1 - 2 AS DECIMAL(38,0))
        |      + CAST(n2 AS DECIMAL(38,0)) * CAST(n2 - 1 AS DECIMAL(38,0))
        |        * CAST(n2 - 2 AS DECIMAL(38,0))
        |      + CAST(n3 AS DECIMAL(38,0)) * CAST(n3 - 1 AS DECIMAL(38,0))
        |        * CAST(n3 - 2 AS DECIMAL(38,0))
        |      + CAST(n4 AS DECIMAL(38,0)) * CAST(n4 - 1 AS DECIMAL(38,0))
        |        * CAST(n4 - 2 AS DECIMAL(38,0)) AS g12,
        |    CAST(n0 AS DECIMAL(38,0)) * CAST(n0 - 1 AS DECIMAL(38,0))
        |      + CAST(n1 AS DECIMAL(38,0)) * CAST(n1 - 1 AS DECIMAL(38,0))
        |      + CAST(n2 AS DECIMAL(38,0)) * CAST(n2 - 1 AS DECIMAL(38,0))
        |      + CAST(n3 AS DECIMAL(38,0)) * CAST(n3 - 1 AS DECIMAL(38,0))
        |      + CAST(n4 AS DECIMAL(38,0)) * CAST(n4 - 1 AS DECIMAL(38,0))
        |      AS g1
        |  FROM stat),
        |fin AS (
        |  SELECT CAST(nn AS BIGINT) AS n_total,
        |    CAST(5 AS BIGINT) AS n_groups,
        |    CAST(jt2 AS DOUBLE) / 2.0 AS jt_u,
        |    CAST(CAST(nn AS DECIMAL(38,0)) * CAST(nn AS DECIMAL(38,0))
        |      - sq AS DOUBLE) / 4.0 AS e_jt,
        |    CAST(CAST(nn AS DECIMAL(38,0)) * CAST(nn - 1 AS DECIMAL(38,0))
        |        * CAST(nn * 2 + 5 AS DECIMAL(38,0)) - g25 - t25 AS DOUBLE)
        |        / 72.0
        |      + CAST(g12 AS DOUBLE) * CAST(t12 AS DOUBLE)
        |        / (36.0 * CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)
        |          * CAST(nn - 2 AS DOUBLE))
        |      + CAST(g1 AS DOUBLE) * CAST(t1 AS DOUBLE)
        |        / (8.0 * CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE))
        |      AS var_jt
        |  FROM wide WHERE nn > 2)
        |SELECT n_total, n_groups, jt_u, e_jt, var_jt,
        |  CASE WHEN var_jt > 0 THEN (jt_u - e_jt) / sqrt(var_jt) END AS z
        |FROM fin""".stripMargin),
    "q391_runs_test" -> Query(q391RunsTest,
      """WITH daily AS (
        |  SELECT l_returnflag AS g,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
        |      AS BIGINT) AS d,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |hist AS (
        |  SELECT g, y, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM daily GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, y, cnt,
        |    SUM(cnt) OVER (PARTITION BY g ORDER BY y
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(cnt) OVER (PARTITION BY g) AS ng
        |  FROM hist),
        |med AS (
        |  SELECT g,
        |    MIN(CASE WHEN cum >= (ng + 1) // 2 THEN y END)
        |      + MIN(CASE WHEN cum >= (ng + 2) // 2 THEN y END) AS med2
        |  FROM cum GROUP BY g),
        |signed AS (
        |  SELECT d.g, d.d,
        |    CASE WHEN d.y * 2 > m.med2 THEN 1 ELSE 0 END AS s
        |  FROM daily d JOIN med m ON d.g = m.g
        |  WHERE d.y * 2 <> m.med2),
        |brk AS (
        |  SELECT g, s,
        |    CASE WHEN LAG(s) OVER (PARTITION BY g ORDER BY d) IS NULL
        |      OR LAG(s) OVER (PARTITION BY g ORDER BY d) <> s
        |      THEN 1 ELSE 0 END AS b
        |  FROM signed),
        |agg AS (
        |  SELECT g, CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_above,
        |    CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_below,
        |    CAST(SUM(b) AS BIGINT) AS runs
        |  FROM brk GROUP BY g)
        |SELECT g AS l_returnflag, n_above, n_below, runs,
        |  1.0 + 2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        |    / CAST(n_above + n_below AS DOUBLE) AS e_runs,
        |  (CAST(runs AS DOUBLE)
        |    - (1.0 + 2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        |      / CAST(n_above + n_below AS DOUBLE)))
        |  / sqrt(CAST(CAST(n_above AS DECIMAL(38,0))
        |      * CAST(n_below AS DECIMAL(38,0)) * 2 AS DOUBLE)
        |    * CAST(CAST(n_above AS DECIMAL(38,0))
        |      * CAST(n_below AS DECIMAL(38,0)) * 2
        |      - CAST(n_above + n_below AS DECIMAL(38,0)) AS DOUBLE)
        |    / (CAST(n_above + n_below AS DOUBLE)
        |      * CAST(n_above + n_below AS DOUBLE)
        |      * CAST(n_above + n_below - 1 AS DOUBLE))) AS z
        |FROM agg
        |WHERE n_above > 0 AND n_below > 0 AND n_above + n_below > 1
        |ORDER BY 1""".stripMargin),
    "q416_mann_kendall" -> Query(q416MannKendall,
      """WITH daily AS (
        |  SELECT l_returnflag AS g,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
        |      AS BIGINT) AS d,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |s AS (
        |  SELECT a.g, CAST(SUM(CASE WHEN b.y > a.y THEN 1
        |    WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM daily a JOIN daily b ON a.g = b.g AND a.d < b.d
        |  GROUP BY a.g),
        |ties AS (
        |  SELECT g, CAST(SUM(t) AS BIGINT) AS n,
        |    CAST(SUM(CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5))
        |      AS DECIMAL(38,0)) AS t25,
        |    CAST(SUM(CAST(t AS DECIMAL(38,0)) * (t - 1))
        |      AS DECIMAL(38,0)) AS t1
        |  FROM (SELECT g, y, CAST(COUNT(*) AS BIGINT) AS t
        |    FROM daily GROUP BY 1, 2)
        |  GROUP BY g),
        |fin AS (
        |  SELECT t.g, t.n, COALESCE(s.s, 0) AS s,
        |    CAST(CAST(t.n AS DECIMAL(38,0)) * (t.n - 1) * (2 * t.n + 5)
        |      - t.t25 AS DOUBLE) / 18.0 AS var_s,
        |    CAST(CAST(t.n AS DECIMAL(38,0)) * (t.n - 1) AS DOUBLE) / 2.0
        |      AS pairs,
        |    CAST(t.t1 AS DOUBLE) / 2.0 AS th
        |  FROM ties t LEFT JOIN s ON t.g = s.g)
        |SELECT g AS l_returnflag, n AS n_days, s, var_s,
        |  CASE WHEN th < pairs THEN
        |    CAST(s AS DOUBLE) / sqrt((pairs - th) * pairs) END AS tau_b,
        |  CASE WHEN var_s > 0 THEN
        |    (CAST(s AS DOUBLE) - sign(CAST(s AS DOUBLE))) / sqrt(var_s)
        |  END AS z
        |FROM fin
        |ORDER BY 1""".stripMargin),
    "q412_logistic_growth" -> Query(q412LogisticGrowth,
      """WITH firstd AS (
        |  SELECT o_custkey AS id,
        |    CAST(MIN(datediff('day', DATE '1992-01-01', o_orderdate))
        |      AS BIGINT) AS d
        |  FROM orders GROUP BY 1),
        |days AS (
        |  SELECT d, CAST(COUNT(*) AS BIGINT) AS nw FROM firstd
        |  GROUP BY d),
        |cum AS (
        |  SELECT d, nw,
        |    SUM(nw) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cn
        |  FROM days),
        |pts AS (
        |  SELECT cn - nw AS x, nw AS y FROM cum),
        |fp AS (SELECT * FROM pts WHERE x > 0),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s2,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))
        |      * CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s3,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))
        |      * CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s4,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))
        |      * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx2y,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS syy
        |  FROM fp),
        |tot AS (
        |  SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_total
        |  FROM orders),
        |f AS (
        |  SELECT n_days, n_total,
        |    CAST(s2 AS DOUBLE) * CAST(s4 AS DOUBLE)
        |      - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) AS det,
        |    CAST(sxy AS DOUBLE) AS dxy, CAST(sx2y AS DOUBLE) AS dx2y,
        |    CAST(s2 AS DOUBLE) AS d2, CAST(s3 AS DOUBLE) AS d3,
        |    CAST(s4 AS DOUBLE) AS d4, CAST(syy AS DOUBLE) AS dyy
        |  FROM m, tot WHERE n_days > 2),
        |g AS (
        |  SELECT n_days, n_total, dyy, dxy, dx2y,
        |    (dxy * d4 - dx2y * d3) / det AS a,
        |    (d2 * dx2y - d3 * dxy) / det AS b
        |  FROM f WHERE det <> 0)
        |SELECT n_days, n_total, a AS r_growth,
        |  CASE WHEN b < 0 THEN -a / b END AS k_capacity,
        |  1.0 - (dyy - a * dxy - b * dx2y) / dyy AS r2
        |FROM g""".stripMargin),
    "q414_median_ci" -> Query(q414MedianCI,
      """WITH hist AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS x,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, x, cnt,
        |    SUM(cnt) OVER (PARTITION BY g ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(cnt) OVER (PARTITION BY g) AS n
        |  FROM hist),
        |rr AS (
        |  SELECT *,
        |    GREATEST(1, CAST(FLOOR((CAST(n AS DOUBLE)
        |      - 1.959963984540054 * sqrt(CAST(n AS DOUBLE))) / 2.0)
        |      AS BIGINT)) AS rl,
        |    LEAST(n, CAST(CEIL((CAST(n AS DOUBLE)
        |      + 1.959963984540054 * sqrt(CAST(n AS DOUBLE))) / 2.0) + 1
        |      AS BIGINT)) AS rh
        |  FROM cum),
        |agg AS (
        |  SELECT g, CAST(MAX(n) AS BIGINT) AS n,
        |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN x END)
        |      + MIN(CASE WHEN cum >= (n + 2) // 2 THEN x END) AS med2,
        |    MIN(CASE WHEN cum >= rl THEN x END) AS lo,
        |    MIN(CASE WHEN cum >= rh THEN x END) AS hi
        |  FROM rr GROUP BY g)
        |SELECT g AS l_returnflag, n,
        |  CAST(med2 AS DOUBLE) / 200.0 AS median,
        |  CAST(lo AS DOUBLE) / 100.0 AS ci_lo,
        |  CAST(hi AS DOUBLE) / 100.0 AS ci_hi
        |FROM agg WHERE n > 3 ORDER BY 1""".stripMargin),
    "q405_cox_stuart" -> Query(q405CoxStuart,
      """WITH daily AS (
        |  SELECT l_returnflag AS g,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
        |      AS BIGINT) AS d,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |idx AS (
        |  SELECT g, y,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY d)
        |      AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS nd
        |  FROM daily),
        |wo AS (SELECT *, (nd + 1) // 2 AS off FROM idx),
        |pairs AS (
        |  SELECT a.g, a.nd, a.y AS y, b.y AS y2
        |  FROM wo a JOIN wo b ON a.g = b.g AND b.rn - b.off = a.rn
        |  WHERE a.y <> b.y),
        |agg AS (
        |  SELECT g, CAST(MAX(nd) AS BIGINT) AS n_days,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN y2 > y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_up
        |  FROM pairs GROUP BY g)
        |SELECT g AS l_returnflag, n_days, n_pairs, n_up,
        |  (CAST(n_up AS DOUBLE) * 2.0 - CAST(n_pairs AS DOUBLE))
        |    / sqrt(CAST(n_pairs AS DOUBLE)) AS z
        |FROM agg WHERE n_pairs > 0 ORDER BY 1""".stripMargin),
    "q397_record_breaks" -> Query(q397RecordBreaks,
      """WITH daily AS (
        |  SELECT l_returnflag AS g,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
        |      AS BIGINT) AS d,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |seq AS (
        |  SELECT g, y,
        |    MAX(y) OVER (PARTITION BY g ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY d)
        |      AS BIGINT) AS t
        |  FROM daily),
        |agg AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(CASE WHEN pm IS NULL OR y > pm THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_records,
        |    CAST(SUM(CAST(1.0 / CAST(t AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DECIMAL(38,12)) AS h
        |  FROM seq GROUP BY g)
        |SELECT g AS l_returnflag, n_days, n_records,
        |  CAST(h AS DOUBLE) AS expected_records,
        |  CAST(n_records AS DOUBLE) / CAST(h AS DOUBLE) AS record_ratio
        |FROM agg ORDER BY 1""".stripMargin),
    "q398_fano_factor" -> Query(q398FanoFactor,
      """WITH b AS (
        |  SELECT event_type AS k, epoch_us(ts) // 3600000000 AS b
        |  FROM events),
        |span AS (SELECT (MAX(b) - MIN(b)) + 1 AS nb FROM b),
        |pc AS (
        |  SELECT k, b, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |m AS (
        |  SELECT k, CAST(SUM(c) AS BIGINT) AS n_events,
        |    CAST(COUNT(*) AS BIGINT) AS n_active,
        |    CAST(SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s2
        |  FROM pc GROUP BY k)
        |SELECT k AS event_type, n_events,
        |  CAST(nb AS BIGINT) AS n_buckets_span,
        |  n_active AS n_buckets_active,
        |  CAST(n_events AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_per_bucket,
        |  (CAST(s2 AS DOUBLE) / CAST(nb AS DOUBLE)
        |    - (CAST(n_events AS DOUBLE) / CAST(nb AS DOUBLE))
        |      * (CAST(n_events AS DOUBLE) / CAST(nb AS DOUBLE)))
        |  / (CAST(n_events AS DOUBLE) / CAST(nb AS DOUBLE)) AS fano
        |FROM m, span ORDER BY event_type""".stripMargin),
    "q401_winsorized_mean" -> Query(q401WinsorizedMean,
      """WITH hist AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |pre AS (
        |  SELECT *, SUM(c) OVER wc AS ccum, SUM(c) OVER wt AS n
        |  FROM hist
        |  WINDOW wc AS (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wt AS (PARTITION BY g)),
        |t AS (SELECT *, n // 10 AS gcut, ccum - c AS prev FROM pre),
        |clamps AS (
        |  SELECT g, MAX(n) AS n, MAX(gcut) AS gcut,
        |    MIN(CASE WHEN ccum >= gcut + 1 THEN v END) AS lo,
        |    MIN(CASE WHEN ccum >= n - gcut THEN v END) AS hi
        |  FROM t GROUP BY g),
        |t2 AS (
        |  SELECT *,
        |    GREATEST(0, LEAST(ccum, gcut) - LEAST(prev, gcut)) AS tb,
        |    GREATEST(0, ccum - GREATEST(prev, n - gcut)) AS tt
        |  FROM t),
        |mids AS (
        |  SELECT g,
        |    CAST(SUM(CAST(c - tb - tt AS DECIMAL(38,0))
        |      * CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS mid,
        |    CAST(SUM(tb) AS BIGINT) AS nb, CAST(SUM(tt) AS BIGINT) AS nt
        |  FROM t2 GROUP BY g)
        |SELECT m.g AS l_returnflag, CAST(cl.n AS BIGINT) AS n,
        |  CAST(cl.gcut AS BIGINT) AS clamped_each_side,
        |  CAST(cl.lo AS DOUBLE) / 100.0 AS lo_clamp,
        |  CAST(cl.hi AS DOUBLE) / 100.0 AS hi_clamp,
        |  CAST(m.mid + CAST(m.nb AS DECIMAL(38,0))
        |      * CAST(cl.lo AS DECIMAL(38,0))
        |    + CAST(m.nt AS DECIMAL(38,0)) * CAST(cl.hi AS DECIMAL(38,0))
        |    AS DOUBLE) / CAST(cl.n AS DOUBLE) / 100.0 AS winsorized_mean
        |FROM mids m JOIN clamps cl ON m.g = cl.g
        |WHERE cl.n > cl.gcut * 2
        |ORDER BY 1""".stripMargin),
    "q355_simpsons" -> Query(q355Simpsons,
      ("""WITH base AS (
        |  SELECT l_linestatus, l_returnflag,
        |    CAST(CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS VARCHAR) AS tax_band,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS y
        |  FROM lineitem)
        |SELECT * FROM (""".stripMargin + "\n" +
        Seq("l_linestatus", "l_returnflag", "tax_band")
          .map(simpsonsDirSql).mkString("\nUNION ALL\n") + "\n" +
        """) u ORDER BY stratifier""")),
    "q352_trimmed_mean" -> Query(q352TrimmedMean,
      """WITH hist AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |pre AS (
        |  SELECT *, SUM(c) OVER wc AS ccum, SUM(c) OVER wt AS n
        |  FROM hist
        |  WINDOW wc AS (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wt AS (PARTITION BY g)),
        |t AS (SELECT *, n // 10 AS gcut, ccum - c AS prev FROM pre),
        |t2 AS (
        |  SELECT *,
        |    GREATEST(0, LEAST(ccum, gcut) - LEAST(prev, gcut)) AS tb,
        |    GREATEST(0, ccum - GREATEST(prev, n - gcut)) AS tt
        |  FROM t)
        |SELECT g AS l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MAX(gcut) AS BIGINT) AS trimmed_each_side,
        |  CAST(SUM((c - tb - tt) * v) AS DOUBLE)
        |    / CAST(MAX(n) - MAX(gcut) * 2 AS DOUBLE) / 100.0
        |    AS trimmed_mean,
        |  CAST(SUM(c * v) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) / 100.0
        |    AS raw_mean
        |FROM t2 GROUP BY g HAVING MAX(n) > MAX(gcut) * 2
        |ORDER BY 1""".stripMargin),
    "q350_ses_sweep" -> Query(q350SesSweep,
      """WITH RECURSIVE daily0 AS (
        |  SELECT date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS d,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |span AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM daily0),
        |grid AS (
        |  SELECT gs.d, CAST(COALESCE(daily0.x, 0) AS BIGINT) AS x
        |  FROM (SELECT unnest(generate_series((SELECT mn FROM span),
        |    (SELECT mx FROM span))) AS d) gs
        |  LEFT JOIN daily0 ON daily0.d = gs.d),
        |g2 AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, x FROM grid),
        |nn AS (SELECT CAST(MAX(i) AS BIGINT) AS n FROM g2),
        |r AS (
        |  SELECT a.q, CAST(1 AS BIGINT) AS i, g.x AS l,
        |    CAST(0 AS BIGINT) AS sae
        |  FROM (SELECT UNNEST([1, 2, 3]) AS q) a JOIN g2 g ON g.i = 1
        |  UNION ALL
        |  SELECT r.q, r.i + 1,
        |    r.l + CAST(FLOOR(r.q * (g.x - r.l) / 4.0) AS BIGINT),
        |    r.sae + ABS(g.x - r.l)
        |  FROM r JOIN g2 g ON g.i = r.i + 1)
        |SELECT CAST(q AS BIGINT) AS alpha_quarters,
        |  (SELECT n FROM nn) AS n_days,
        |  CAST(l AS DOUBLE) / 100.0 AS level_final,
        |  CAST(sae AS DOUBLE) / 100.0 AS sae_total,
        |  CAST(sae AS DOUBLE) / (CAST((SELECT n FROM nn) AS DOUBLE) - 1.0)
        |    / 100.0 AS mae
        |FROM r WHERE i = (SELECT n FROM nn)
        |ORDER BY alpha_quarters""".stripMargin),
    "q351_hurst" -> Query(q351Hurst,
      """WITH daily0 AS (
        |  SELECT date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS d,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |span AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM daily0),
        |grid AS (
        |  SELECT gs.d - (SELECT mn FROM span) AS t,
        |    CAST(COALESCE(daily0.x, 0) AS BIGINT) AS x
        |  FROM (SELECT unnest(generate_series((SELECT mn FROM span),
        |    (SELECT mx FROM span))) AS d) gs
        |  LEFT JOIN daily0 ON daily0.d = gs.d),
        |blocks AS (
        |  SELECT w, t // w AS blk, t % w AS j, x
        |  FROM grid CROSS JOIN (SELECT UNNEST([16, 32, 64, 128]) AS w) s),
        |cum AS (
        |  SELECT *, SUM(CAST(x AS HUGEINT))
        |    OVER (PARTITION BY w, blk ORDER BY j
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM blocks),
        |st AS (
        |  SELECT w, blk, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sb,
        |    CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT)
        |      AS ssb
        |  FROM blocks GROUP BY 1, 2),
        |dv AS (
        |  SELECT c.w, c.blk,
        |    MAX(c.cum * s.nb - (c.j + 1) * s.sb)
        |      - MIN(c.cum * s.nb - (c.j + 1) * s.sb) AS rn
        |  FROM cum c JOIN st s USING (w, blk) GROUP BY 1, 2),
        |rb AS (
        |  SELECT s.w, dv.rn,
        |    CAST(s.nb AS HUGEINT) * s.ssb - s.sb * s.sb AS s2n
        |  FROM st s JOIN dv USING (w, blk) WHERE s.nb = s.w),
        |lnb AS (
        |  SELECT w, CAST(ln(CAST(rn AS DOUBLE) / sqrt(CAST(s2n AS DOUBLE)))
        |    AS DECIMAL(38,12)) AS lnrs
        |  FROM rb WHERE s2n > 0 AND rn > 0),
        |ps AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    CAST(CAST(SUM(lnrs) AS DECIMAL(38,12)) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS mean_ln_rs
        |  FROM lnb GROUP BY w),
        |ps2 AS (SELECT *, ln(CAST(w AS DOUBLE)) AS ln_w FROM ps),
        |fit AS (
        |  SELECT (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS hurst
        |  FROM (
        |    SELECT CAST(COUNT(*) AS BIGINT) AS np,
        |      CAST(SUM(CAST(ln_w AS DECIMAL(38,15))) AS DECIMAL(38,15))
        |        AS sx,
        |      CAST(SUM(CAST(mean_ln_rs AS DECIMAL(38,15)))
        |        AS DECIMAL(38,15)) AS sy,
        |      CAST(SUM(CAST(ln_w * mean_ln_rs AS DECIMAL(38,15)))
        |        AS DECIMAL(38,15)) AS sxy,
        |      CAST(SUM(CAST(ln_w * ln_w AS DECIMAL(38,15)))
        |        AS DECIMAL(38,15)) AS sxx
        |    FROM ps2) z)
        |SELECT CAST(w AS BIGINT) AS window_days, n_blocks, mean_ln_rs,
        |  hurst
        |FROM ps2 CROSS JOIN fit ORDER BY window_days""".stripMargin),
    "q340_g_test" -> Query(q340GTest,
      """WITH obs AS (
        |  SELECT o_orderpriority AS a, o_orderstatus AS b,
        |    CAST(COUNT(*) AS BIGINT) AS o
        |  FROM orders GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM obs GROUP BY a),
        |cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM obs GROUP BY b),
        |t AS (
        |  SELECT obs.a, obs.b, obs.o,
        |    CAST(SUM(o) OVER () AS BIGINT) AS n,
        |    CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
        |      / CAST(SUM(o) OVER () AS DOUBLE) AS e
        |  FROM obs JOIN ra USING (a) JOIN cb USING (b))
        |SELECT
        |  CAST(SUM(CAST(2.0 * CAST(o AS DOUBLE)
        |    * ln(CAST(o AS DOUBLE) / e) AS DECIMAL(38,12))) AS DOUBLE)
        |    AS g_stat,
        |  CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS BIGINT)
        |    AS dof,
        |  MAX(n) AS n
        |FROM t""".stripMargin),
    "q343_ar2_forecast" -> Query(q343Ar2Forecast,
      """WITH daily0 AS (
        |  SELECT date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS d,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |span AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM daily0),
        |grid AS (
        |  SELECT gs.d, CAST(COALESCE(daily0.x, 0) AS HUGEINT) AS x
        |  FROM (SELECT unnest(generate_series((SELECT mn FROM span),
        |    (SELECT mx FROM span))) AS d) gs
        |  LEFT JOIN daily0 ON daily0.d = gs.d),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS s,
        |    CAST(SUM(x * x) AS HUGEINT) AS sxx
        |  FROM grid),
        |p1 AS (SELECT CAST(SUM(a.x * b.x) AS HUGEINT) AS sxy1,
        |    CAST(SUM(a.x) AS HUGEINT) AS h1,
        |    CAST(SUM(b.x) AS HUGEINT) AS t1
        |  FROM grid a JOIN grid b ON b.d = a.d + 1),
        |p2 AS (SELECT CAST(SUM(a.x * b.x) AS HUGEINT) AS sxy2,
        |    CAST(SUM(a.x) AS HUGEINT) AS h2,
        |    CAST(SUM(b.x) AS HUGEINT) AS t2
        |  FROM grid a JOIN grid b ON b.d = a.d + 2),
        |tl AS (SELECT
        |    CAST(SUM(CASE WHEN d = (SELECT mx FROM span) THEN x ELSE 0 END)
        |      AS HUGEINT) AS xl,
        |    CAST(SUM(CASE WHEN d = (SELECT mx FROM span) - 1 THEN x
        |      ELSE 0 END) AS HUGEINT) AS xl1
        |  FROM grid),
        |c AS (SELECT n, s, xl, xl1,
        |    n * n * sxx - n * s * s AS a0,
        |    n * n * sxy1 - n * s * (h1 + t1) + (n - 1) * s * s AS a1,
        |    n * n * sxy2 - n * s * (h2 + t2) + (n - 2) * s * s AS a2
        |  FROM m CROSS JOIN p1 CROSS JOIN p2 CROSS JOIN tl),
        |d1 AS (SELECT n, s, xl, xl1,
        |    CAST(a1 AS DOUBLE) / CAST(a0 AS DOUBLE) AS rho1,
        |    CAST(a2 AS DOUBLE) / CAST(a0 AS DOUBLE) AS rho2
        |  FROM c),
        |d2 AS (SELECT *, 1.0 - rho1 * rho1 AS den FROM d1),
        |d3 AS (SELECT *,
        |    rho1 * (1.0 - rho2) / den AS phi1,
        |    (rho2 - rho1 * rho1) / den AS phi2,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu
        |  FROM d2),
        |d4 AS (SELECT *,
        |    mu + phi1 * (CAST(xl AS DOUBLE) - mu)
        |       + phi2 * (CAST(xl1 AS DOUBLE) - mu) AS f1
        |  FROM d3),
        |d5 AS (SELECT *,
        |    mu + phi1 * (f1 - mu) + phi2 * (CAST(xl AS DOUBLE) - mu) AS f2
        |  FROM d4),
        |d6 AS (SELECT *,
        |    mu + phi1 * (f2 - mu) + phi2 * (f1 - mu) AS f3
        |  FROM d5)
        |SELECT CAST(n AS BIGINT) AS n, rho1, rho2, phi1, phi2,
        |  1.0 - phi1 * rho1 - phi2 * rho2 AS innov_share,
        |  CAST(xl AS DOUBLE) / 100.0 AS last_value,
        |  f1 / 100.0 AS forecast_1, f2 / 100.0 AS forecast_2,
        |  f3 / 100.0 AS forecast_3
        |FROM d6""".stripMargin),
    "q344_esd_outliers" -> Query(q344EsdOutliers,
      ("""WITH b0 AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    o_orderkey AS k
        |  FROM orders),""".stripMargin + "\n" +
        (1 to 3).map(esdRoundSql).mkString(",\n") + "\n" +
        (1 to 3).map(esdRowSql).mkString("", "\nUNION ALL\n",
          "\nORDER BY o_orderpriority, round"))),
    "q347_granger" -> Query(q347Granger,
      ("""WITH hourly0 AS (
        |  SELECT CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS h,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |span AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM hourly0),
        |grid AS (
        |  SELECT gs.h, CAST(COALESCE(hourly0.x, 0) AS HUGEINT) AS x,
        |    CAST(COALESCE(hourly0.y, 0) AS HUGEINT) AS y
        |  FROM (SELECT unnest(generate_series((SELECT mn FROM span),
        |    (SELECT mx FROM span))) AS h) gs
        |  LEFT JOIN hourly0 ON hourly0.h = gs.h),
        |lagged AS (
        |  SELECT a.x, a.y, b.x AS xp, b.y AS yp
        |  FROM grid a JOIN grid b ON b.h = a.h - 1)
        |SELECT * FROM (""".stripMargin + "\n" +
        grangerDirSql("x_to_y", "y", "yp", "xp") + "\n" +
        """UNION ALL""" + "\n" +
        grangerDirSql("y_to_x", "x", "xp", "yp") + "\n" +
        """) u ORDER BY direction""")),
    "q323_density_islands" -> Query(q323DensityIslands,
      """WITH h AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS vc,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |s AS (
        |  SELECT vc, cnt,
        |    CASE WHEN LAG(vc) OVER (ORDER BY vc) IS NULL
        |      OR vc - LAG(vc) OVER (ORDER BY vc) > 10 THEN 1 ELSE 0 END
        |      AS brk
        |  FROM h),
        |i AS (
        |  SELECT vc, cnt, SUM(brk) OVER (ORDER BY vc
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM s),
        |g AS (
        |  SELECT island, MIN(vc) AS lo_cents, MAX(vc) AS hi_cents,
        |    CAST(COUNT(*) AS BIGINT) AS n_values,
        |    CAST(SUM(cnt) AS BIGINT) AS n_points
        |  FROM i GROUP BY 1)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY lo_cents) AS INT)
        |    AS cluster_id,
        |  lo_cents, hi_cents, hi_cents - lo_cents AS width_cents,
        |  n_values, n_points
        |FROM g WHERE n_points >= 30 ORDER BY cluster_id""".stripMargin),
    "q310_changepoint" -> Query(q310Changepoint,
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS d,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |span AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM daily),
        |grid AS (
        |  SELECT gs.d, CAST(COALESCE(daily.x, 0) AS HUGEINT) AS x
        |  FROM (SELECT unnest(generate_series((SELECT mn FROM span),
        |    (SELECT mx FROM span))) AS d) gs
        |  LEFT JOIN daily ON daily.d = gs.d),
        |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |  CAST(SUM(x) AS HUGEINT) AS s FROM grid),
        |cum AS (
        |  SELECT d, CAST(ROW_NUMBER() OVER (ORDER BY d) AS HUGEINT) AS rn,
        |    CAST(SUM(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
        |      AS HUGEINT) AS sl
        |  FROM grid),
        |objs AS (
        |  SELECT d, rn, sl, n, s,
        |    CAST(CAST(sl * sl AS DOUBLE) / CAST(rn AS DOUBLE)
        |      + CAST((s - sl) * (s - sl) AS DOUBLE)
        |        / CAST(n - rn AS DOUBLE) AS DECIMAL(38,6)) AS obj
        |  FROM cum CROSS JOIN tot WHERE rn < n),
        |best AS (SELECT MAX(obj) AS obj FROM objs),
        |pick AS (
        |  SELECT o.* FROM objs o JOIN best USING (obj)
        |  ORDER BY d LIMIT 1)
        |SELECT d AS split_day,
        |  CAST(sl AS DOUBLE) / CAST(rn AS DOUBLE) / 100.0 AS mean_left,
        |  CAST(s - sl AS DOUBLE) / CAST(n - rn AS DOUBLE) / 100.0
        |    AS mean_right,
        |  CAST(obj AS DOUBLE)
        |    - CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE) AS gain_c2
        |FROM pick""".stripMargin),
    "q311_stl_decompose" -> Query(q311StlDecompose,
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS d,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |span AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM daily),
        |grid AS (
        |  SELECT gs.d, COALESCE(daily.x, 0) AS x
        |  FROM (SELECT unnest(generate_series((SELECT mn FROM span),
        |    (SELECT mx FROM span))) AS d) gs
        |  LEFT JOIN daily ON daily.d = gs.d),
        |trend AS (
        |  SELECT g2.d, CAST(FLOOR(SUM(g.x) / 7.0) AS BIGINT) AS trend_c
        |  FROM grid g2 JOIN grid g ON g.d BETWEEN g2.d - 3 AND g2.d + 3
        |  GROUP BY g2.d HAVING COUNT(*) = 7),
        |det AS (
        |  SELECT g.d, g.x, t.trend_c, g.x - t.trend_c AS det,
        |    g.d % 7 AS wd
        |  FROM grid g JOIN trend t USING (d)),
        |seasonal AS (
        |  SELECT wd, CAST(FLOOR(SUM(det) / CAST(COUNT(*) AS DOUBLE))
        |    AS BIGINT) AS seasonal_c
        |  FROM det GROUP BY wd)
        |SELECT d.d, d.x AS x_c, d.trend_c, s.seasonal_c,
        |  d.det - s.seasonal_c AS resid_c
        |FROM det d JOIN seasonal s USING (wd) ORDER BY d.d""".stripMargin),
    // the identical integer floor-recurrence as a recursive CTE: one
    // step per day index, joined to the zero-filled per-key grid
    "q326_holt_winters" -> Query(q326HoltWinters, {
      // the recursive twin carries the 7-slot seasonal state as a LIST;
      // the phase-selective update is an explicit 7-way list_value (no
      // indexed-lambda dependence), each slot the exact CASE mirror of
      // Spark's transform(..., (sv, i) -> IF(i = phase, sNew, sv))
      val sOldD = "h.s[CAST(g.d % 7 AS INT) + 1]"
      val lNewD = s"CAST(FLOOR((g.x - $sOldD + h.l + h.b) / 2.0) AS BIGINT)"
      val bNewD = s"CAST(FLOOR(($lNewD - h.l) / 4.0) AS BIGINT)" +
        " + CAST(FLOOR(3.0 * h.b / 4.0) AS BIGINT)"
      val sNewD = s"CAST(FLOOR((g.x - $lNewD + $sOldD) / 2.0) AS BIGINT)"
      val slots = (0 to 6).map(i =>
        s"CASE WHEN g.d % 7 = $i THEN $sNewD ELSE h.s[${i + 1}] END")
        .mkString(",\n|      ")
      s"""WITH RECURSIVE daily AS (
         |  SELECT o_orderpriority AS k,
         |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
         |      AS d,
         |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |      AS BIGINT)) AS BIGINT) AS x
         |  FROM orders GROUP BY 1, 2),
         |span AS (SELECT k, MIN(d) AS mn, MAX(d) AS mx FROM daily
         |  GROUP BY k),
         |gridd AS (
         |  SELECT s.k, unnest(generate_series(s.mn, s.mx)) AS d
         |  FROM span s),
         |grid AS (
         |  SELECT g.k, g.d, COALESCE(dd.x, 0) AS x,
         |    ROW_NUMBER() OVER (PARTITION BY g.k ORDER BY g.d) AS rn
         |  FROM gridd g LEFT JOIN daily dd ON dd.k = g.k AND dd.d = g.d),
         |hw AS (
         |  SELECT k, rn, d, x AS l, CAST(0 AS BIGINT) AS b,
         |    [CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |     CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |     CAST(0 AS BIGINT)] AS s
         |  FROM grid WHERE rn = 1
         |  UNION ALL
         |  SELECT g.k, g.rn, g.d,
         |    $lNewD,
         |    $bNewD,
         |    [$slots]
         |  FROM hw h JOIN grid g ON g.k = h.k AND g.rn = h.rn + 1)
         |SELECT k AS o_orderpriority, d, l AS level_c, b AS trend_c,
         |  s[CAST(d % 7 AS INT) + 1] AS seasonal_c
         |FROM hw ORDER BY 1, 2""".stripMargin
    }),
    // Page CUSUM twin: same day grid as q308, recursion carries the
    // (S⁺, S⁻) pair from the rn=28 baseline anchor; all-integer updates
    "q334_cusum_drift" -> Query(q334CusumDrift,
      """WITH RECURSIVE daily AS (
        |  SELECT l_returnflag AS k,
        |    date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
        |      AS d,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1, 2),
        |span AS (SELECT k, MIN(d) AS mn, MAX(d) AS mx FROM daily
        |  GROUP BY k),
        |keys AS (SELECT k FROM span WHERE mx - mn + 1 > 28),
        |gridd AS (
        |  SELECT s.k, unnest(generate_series(s.mn, s.mx)) AS d
        |  FROM span s JOIN keys USING (k)),
        |grid AS (
        |  SELECT g.k, g.d, COALESCE(dd.x, 0) AS x,
        |    ROW_NUMBER() OVER (PARTITION BY g.k ORDER BY g.d) AS rn
        |  FROM gridd g LEFT JOIN daily dd ON dd.k = g.k AND dd.d = g.d),
        |params AS (
        |  SELECT k, mu0, CAST(FLOOR(mu0 / 20.0) AS BIGINT) AS kc,
        |    CAST(FLOOR(mu0 / 4.0) AS BIGINT) AS h
        |  FROM (SELECT k, CAST(FLOOR(SUM(x) / 28.0) AS BIGINT) AS mu0
        |        FROM grid WHERE rn <= 28 GROUP BY k)),
        |cusum AS (
        |  SELECT g.k, g.rn, g.d, CAST(0 AS BIGINT) AS sp,
        |    CAST(0 AS BIGINT) AS sn
        |  FROM grid g WHERE g.rn = 28
        |  UNION ALL
        |  SELECT g.k, g.rn, g.d,
        |    GREATEST(CAST(0 AS BIGINT), c.sp + g.x - p.mu0 - p.kc),
        |    GREATEST(CAST(0 AS BIGINT), c.sn + p.mu0 - p.kc - g.x)
        |  FROM cusum c JOIN grid g ON g.k = c.k AND g.rn = c.rn + 1
        |  JOIN params p ON p.k = c.k)
        |SELECT c.k AS l_returnflag, c.d, p.mu0 AS mu0_c, p.kc AS k_c,
        |  p.h AS h_c, c.sp AS sp_c, c.sn AS sn_c,
        |  CAST(CASE WHEN c.sp > p.h THEN 1 ELSE 0 END AS BIGINT)
        |    AS alarm_up,
        |  CAST(CASE WHEN c.sn > p.h THEN 1 ELSE 0 END AS BIGINT)
        |    AS alarm_dn
        |FROM cusum c JOIN params p ON p.k = c.k
        |ORDER BY 1, 2""".stripMargin),
    "q308_holt_linear" -> Query(q308HoltLinear,
      """WITH RECURSIVE daily AS (
        |  SELECT l_returnflag AS k,
        |    date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
        |      AS d,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1, 2),
        |span AS (SELECT k, MIN(d) AS mn, MAX(d) AS mx FROM daily
        |  GROUP BY k),
        |gridd AS (
        |  SELECT s.k, unnest(generate_series(s.mn, s.mx)) AS d
        |  FROM span s),
        |grid AS (
        |  SELECT g.k, g.d, COALESCE(dd.x, 0) AS x,
        |    ROW_NUMBER() OVER (PARTITION BY g.k ORDER BY g.d) AS rn
        |  FROM gridd g LEFT JOIN daily dd ON dd.k = g.k AND dd.d = g.d),
        |hw AS (
        |  SELECT k, rn, d, x AS l, CAST(0 AS BIGINT) AS b
        |  FROM grid WHERE rn = 1
        |  UNION ALL
        |  SELECT g.k, g.rn, g.d,
        |    CAST(FLOOR((g.x + h.l + h.b) / 2.0) AS BIGINT),
        |    CAST(FLOOR((CAST(FLOOR((g.x + h.l + h.b) / 2.0) AS BIGINT)
        |        - h.l) / 4.0) AS BIGINT)
        |      + CAST(FLOOR(3.0 * h.b / 4.0) AS BIGINT)
        |  FROM hw h JOIN grid g ON g.k = h.k AND g.rn = h.rn + 1)
        |SELECT k AS l_returnflag, d, l AS level_c, b AS trend_c
        |FROM hw ORDER BY 1, 2""".stripMargin),
    "q309_theil_sen" -> Query(q309TheilSen,
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS d,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |pairs AS (
        |  SELECT a.d AS d1, b.d AS d2,
        |    CAST(b.x - a.x AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM pairs),
        |ranked AS (
        |  SELECT slope, ROW_NUMBER() OVER (ORDER BY slope, d1, d2) AS rn
        |  FROM pairs)
        |SELECT MAX(nn) AS n_pairs, AVG(slope) AS slope_c_per_day
        |FROM ranked, n
        |WHERE rn = (nn + 1) // 2 OR rn = (nn + 2) // 2""".stripMargin),
    // exact integer ACF algebra on HUGEINT (int128) — DuckDB's decimal
    // multiply caps at precision 38 at bind time, so the oracle carries
    // the same exact values in int128 instead; identical doubles out
    "q320_cross_correlation" -> Query(q320CrossCorrelation,
      """WITH e AS (
        |  SELECT CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS h,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      ELSE 0 END AS xv,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS yv
        |  FROM events),
        |hourly AS (
        |  SELECT h, CAST(SUM(xv) AS BIGINT) AS x, CAST(SUM(yv) AS BIGINT)
        |    AS y FROM e GROUP BY h),
        |span AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM hourly),
        |grid AS (
        |  SELECT gs.h, COALESCE(hourly.x, 0) AS x, COALESCE(hourly.y, 0) AS y
        |  FROM (SELECT UNNEST(generate_series(mn, mx)) AS h FROM span) gs
        |  LEFT JOIN hourly ON hourly.h = gs.h),
        |cells AS (
        |  SELECT k, CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(CAST(a.x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
        |    CAST(SUM(CAST(b.y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
        |    CAST(SUM(CAST(a.x AS DECIMAL(38,0)) * CAST(b.y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(CAST(a.x AS DECIMAL(38,0)) * CAST(a.x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(b.y AS DECIMAL(38,0)) * CAST(b.y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
        |  FROM grid a
        |  CROSS JOIN (SELECT UNNEST(range(-6, 7)) AS k)
        |  JOIN grid b ON b.h = a.h + k
        |  GROUP BY k),
        |calc AS (
        |  SELECT k, m,
        |    CAST(CAST(m AS DECIMAL(38,0)) * sxy - sx * sy AS DECIMAL(38,0))
        |      AS num,
        |    CAST(CAST(m AS DECIMAL(38,0)) * sxx - sx * sx AS DECIMAL(38,0))
        |      AS dx,
        |    CAST(CAST(m AS DECIMAL(38,0)) * syy - sy * sy AS DECIMAL(38,0))
        |      AS dy
        |  FROM cells)
        |SELECT CAST(k AS BIGINT) AS lag, m AS n_hours,
        |  CAST(num AS DOUBLE) / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))
        |    AS ccf
        |FROM calc WHERE dx > 0 AND dy > 0 ORDER BY lag""".stripMargin),
    "q304_acf_ljung_box" -> Query(q304AcfLjungBox,
      """WITH daily0 AS (
        |  SELECT date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS d,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |span AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM daily0),
        |grid AS (
        |  SELECT gs.d, CAST(COALESCE(daily0.x, 0) AS HUGEINT) AS x
        |  FROM (SELECT unnest(generate_series((SELECT mn FROM span),
        |    (SELECT mx FROM span))) AS d) gs
        |  LEFT JOIN daily0 ON daily0.d = gs.d),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS s,
        |    CAST(SUM(x * x) AS HUGEINT) AS sxx
        |  FROM grid),
        |pairs AS (
        |  SELECT kk.k,
        |    CAST(SUM(a.x * b.x) AS HUGEINT) AS sxy,
        |    CAST(SUM(a.x) AS HUGEINT) AS hk,
        |    CAST(SUM(b.x) AS HUGEINT) AS tk
        |  FROM (SELECT unnest(range(1, 15)) AS k) kk
        |  CROSS JOIN grid a
        |  JOIN grid b ON b.d = a.d + kk.k
        |  GROUP BY kk.k),
        |terms AS (
        |  SELECT k, n,
        |    CAST(n*n*sxy - n*s*(hk + tk) + (n - CAST(k AS HUGEINT))*s*s
        |      AS DOUBLE)
        |    / CAST(n*n*sxx - n*s*s AS DOUBLE) AS r
        |  FROM pairs CROSS JOIN m),
        |t2 AS (
        |  SELECT k, n, r,
        |    CAST(r * r / CAST(n - CAST(k AS HUGEINT) AS DOUBLE)
        |      AS DECIMAL(38,15)) AS t
        |  FROM terms)
        |SELECT a.k AS lag, a.r,
        |  CAST(a.n AS DOUBLE) * CAST(a.n + 2 AS DOUBLE)
        |    * CAST(CAST(SUM(b.t) AS DECIMAL(38,15)) AS DOUBLE) AS q_lb
        |FROM t2 a JOIN t2 b ON b.k <= a.k
        |GROUP BY a.k, a.n, a.r ORDER BY lag""".stripMargin),
    "q305_seasonal_strength" -> Query(q305SeasonalStrength,
      """WITH hourly0 AS (
        |  SELECT CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS h,
        |    COUNT(*) AS x
        |  FROM events GROUP BY 1),
        |span AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM hourly0),
        |grid AS (
        |  SELECT gs.h, (SELECT mn FROM span) AS mn,
        |    CAST(COALESCE(hourly0.x, 0) AS HUGEINT) AS x
        |  FROM (SELECT unnest(generate_series((SELECT mn FROM span),
        |    (SELECT mx FROM span))) AS h) gs
        |  LEFT JOIN hourly0 ON hourly0.h = gs.h),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS s,
        |    CAST(SUM(x * x) AS HUGEINT) AS sxx
        |  FROM grid),
        |phases AS (
        |  SELECT pp.p, (g.h - g.mn) % pp.p AS ph,
        |    CAST(COUNT(*) AS HUGEINT) AS nr,
        |    CAST(SUM(g.x) AS HUGEINT) AS sr
        |  FROM (SELECT unnest([4, 6, 8, 12, 24, 48]) AS p) pp
        |  CROSS JOIN grid g
        |  GROUP BY 1, 2),
        |bt AS (
        |  SELECT p, CAST(SUM(CAST(CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)
        |      / CAST(nr AS DOUBLE) AS DECIMAL(38,6))) AS DECIMAL(38,6))
        |    AS btsum
        |  FROM phases GROUP BY p)
        |SELECT CAST(p AS BIGINT) AS period,
        |  (CAST(btsum AS DOUBLE)
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |  / (CAST(sxx AS DOUBLE)
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |    AS strength
        |FROM bt CROSS JOIN m ORDER BY period""".stripMargin),
    "q294_var_cvar" -> Query(q294VarCvar,
      """WITH perv AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |cum AS (
        |  SELECT *, SUM(cnt) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY g) AS tw
        |  FROM perv),
        |crossing AS (
        |  SELECT g, MIN(v) AS var_v FROM cum
        |  WHERE cum * 20 >= 1 * tw GROUP BY g)
        |SELECT p.g AS o_orderpriority,
        |  CAST(SUM(p.cnt) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN p.v <= c.var_v THEN p.cnt ELSE 0 END)
        |    AS BIGINT) AS tail_n,
        |  CAST(MIN(c.var_v) AS DOUBLE) / CAST(100.0 AS DOUBLE) AS var_p,
        |  CAST(SUM(CASE WHEN p.v <= c.var_v
        |      THEN CAST(p.v * p.cnt AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE)
        |    / CAST(SUM(CASE WHEN p.v <= c.var_v THEN p.cnt ELSE 0 END)
        |      AS DOUBLE)
        |    / CAST(100.0 AS DOUBLE) AS cvar_p
        |FROM perv p JOIN crossing c ON c.g = p.g
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "q295_ohlc_bars" -> Query(q295OhlcBars,
      """WITH base AS (
        |  SELECT event_type AS k, strftime(ts, '%Y-%m-%d') AS day,
        |    epoch_us(ts) AS us, event_id AS tie, value AS v,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |rk AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY k, day
        |      ORDER BY us, tie) AS ra,
        |    ROW_NUMBER() OVER (PARTITION BY k, day
        |      ORDER BY us DESC, tie DESC) AS rd
        |  FROM base)
        |SELECT k AS event_type, day,
        |  MAX(CASE WHEN ra = 1 THEN v END) AS open,
        |  MAX(v) AS high, MIN(v) AS low,
        |  MAX(CASE WHEN rd = 1 THEN v END) AS close,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(vc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    / CAST(100.0 AS DOUBLE) AS mean_value
        |FROM rk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q296_dickey_fuller" -> Query(q296DickeyFuller,
      """WITH daily AS (
        |  SELECT l_returnflag AS g,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1, 2),
        |pr AS (
        |  SELECT g, x, rev,
        |    LAG(rev) OVER (PARTITION BY g ORDER BY x) AS ylag
        |  FROM daily),
        |pp AS (
        |  SELECT g, ylag, rev - ylag AS dy FROM pr WHERE ylag IS NOT NULL),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(ylag) AS BIGINT) AS s1,
        |    CAST(SUM(dy) AS BIGINT) AS sd,
        |    CAST(SUM(CAST(ylag AS DECIMAL(38,0))
        |      * CAST(ylag AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s11,
        |    CAST(SUM(CAST(ylag AS DECIMAL(38,0))
        |      * CAST(dy AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1d,
        |    CAST(SUM(CAST(dy AS DECIMAL(38,0))
        |      * CAST(dy AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sdd
        |  FROM pp GROUP BY g),
        |cv AS (
        |  SELECT g, n,
        |    CAST(CAST(n AS DECIMAL(38,0)) * s1d
        |      - CAST(s1 AS DECIMAL(38,0)) * CAST(sd AS DECIMAL(38,0))
        |      AS DECIMAL(38,0)) AS cov,
        |    CAST(CAST(n AS DECIMAL(38,0)) * s11
        |      - CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0))
        |      AS DECIMAL(38,0)) AS vx,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sdd
        |      - CAST(sd AS DECIMAL(38,0)) * CAST(sd AS DECIMAL(38,0))
        |      AS DECIMAL(38,0)) AS vy
        |  FROM m),
        |ff AS (
        |  SELECT g, n, vx,
        |    CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE) AS gamma,
        |    (CAST(vy AS DOUBLE) - CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE)
        |      / CAST(vx AS DOUBLE)) / CAST(n AS DOUBLE) AS sse
        |  FROM cv WHERE vx > 0 AND n > 2)
        |SELECT g AS l_returnflag, n AS n_pairs, gamma,
        |  gamma / SQRT(sse / CAST(n - 2 AS DOUBLE) * CAST(n AS DOUBLE)
        |    / CAST(vx AS DOUBLE)) AS t_df
        |FROM ff ORDER BY 1""".stripMargin),
    "q271_max_drawdown" -> Query(q271MaxDrawdown,
      """WITH e AS (
        |  SELECT event_type, event_id, CAST(epoch_us(ts) AS BIGINT) AS us,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vu
        |  FROM events),
        |c AS (
        |  SELECT *, CAST(SUM(vu) OVER (PARTITION BY event_type
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS eq
        |  FROM e),
        |r AS (
        |  SELECT *, MAX(eq) OVER (PARTITION BY event_type
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS peak,
        |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM c),
        |d AS (SELECT *, peak - eq AS dd FROM r),
        |k AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY dd DESC, us, event_id) AS rk
        |  FROM d)
        |SELECT event_type, CAST(cnt AS BIGINT) AS n_events,
        |  CAST(dd AS DOUBLE) / 1000000.0 AS max_drawdown,
        |  us AS trough_us,
        |  CAST(peak AS DOUBLE) / 1000000.0 AS peak_equity
        |FROM k WHERE rk = 1 ORDER BY event_type""".stripMargin),
    "q276_grubbs" -> Query(q276Grubbs,
      """WITH per AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    o_orderkey AS key
        |  FROM orders),
        |stats AS (
        |  SELECT g, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS ss
        |  FROM per GROUP BY g HAVING COUNT(*) >= 3),
        |j AS (
        |  SELECT per.*, stats.n, stats.s, stats.ss,
        |    CAST(ABS(CAST(x AS DECIMAL(38,0)) * CAST(stats.n AS DECIMAL(38,0))
        |      - stats.s) AS DECIMAL(38,0)) AS dev
        |  FROM per JOIN stats USING (g)),
        |k AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY dev DESC, key) AS rk
        |  FROM j)
        |SELECT g AS o_orderpriority, n, key AS outlier_key,
        |  CAST(x AS DOUBLE) / 100.0 AS outlier_value,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean,
        |  (CAST(dev AS DOUBLE) / CAST(n AS DOUBLE))
        |    / SQRT(CAST(CAST(n AS DECIMAL(38,0)) * ss - s * s AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS g_stat
        |FROM k WHERE rk = 1 ORDER BY 1""".stripMargin),
    "q277_forecast_accuracy" -> Query(q277ForecastAccuracy,
      """WITH buck AS (
        |  SELECT event_type AS k,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS b,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT a.k, a.n, f.n AS n_fc, p.n AS n_prev
        |  FROM buck a
        |  JOIN buck f ON f.k = a.k AND f.b + 24 = a.b
        |  JOIN buck p ON p.k = a.k AND p.b + 1 = a.b),
        |agg AS (
        |  SELECT k, COUNT(*) AS n_buckets,
        |    CAST(SUM(ABS(n - n_fc)) AS BIGINT) AS sae,
        |    CAST(SUM((n - n_fc) * (n - n_fc)) AS BIGINT) AS sse,
        |    CAST(SUM(CAST(CAST(ABS(n - n_fc) AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS DECIMAL(38,15))) AS DECIMAL(38,15)) AS sape,
        |    CAST(SUM(ABS(n - n_prev)) AS BIGINT) AS sae1
        |  FROM j GROUP BY k HAVING SUM(ABS(n - n_prev)) > 0)
        |SELECT k AS event_type, n_buckets,
        |  CAST(sae AS DOUBLE) / CAST(n_buckets AS DOUBLE) AS mae,
        |  SQRT(CAST(sse AS DOUBLE) / CAST(n_buckets AS DOUBLE)) AS rmse,
        |  CAST(sape AS DOUBLE) * 100.0 / CAST(n_buckets AS DOUBLE)
        |    AS mape_pct,
        |  CAST(sae AS DOUBLE) / CAST(sae1 AS DOUBLE) AS mase
        |FROM agg ORDER BY 1""".stripMargin),
    "q282_nelson_aalen" -> Query(q282NelsonAalen,
      """WITH lt AS (
        |  SELECT user_id,
        |    (MAX(CAST(epoch_us(ts) AS BIGINT))
        |      - MIN(CAST(epoch_us(ts) AS BIGINT))) // 86400000000 AS t_days
        |  FROM events GROUP BY user_id),
        |hist AS (SELECT t_days, COUNT(*) AS d FROM lt GROUP BY t_days),
        |r AS (
        |  SELECT *, CAST(SUM(d) OVER (ORDER BY t_days DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
        |  FROM hist),
        |inc AS (
        |  SELECT *, CAST(CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)
        |    AS DECIMAL(38,15)) AS h_inc
        |  FROM r),
        |cum AS (
        |  SELECT *, CAST(CAST(SUM(h_inc) OVER (ORDER BY t_days
        |    ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,15)) AS DOUBLE)
        |    AS cum_hazard
        |  FROM inc)
        |SELECT t_days, d, n_at_risk, cum_hazard,
        |  EXP(-cum_hazard) AS s_na
        |FROM cum ORDER BY t_days""".stripMargin),
    "q283_lorenz_curve" -> Query(q283LorenzCurve,
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS spend_c
        |  FROM orders GROUP BY o_custkey),
        |per AS (
        |  SELECT c.c_custkey AS e, COALESCE(s.spend_c, 0) AS m
        |  FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey),
        |dec AS (
        |  SELECT *, ntile(10) OVER (ORDER BY m, e) AS decile
        |  FROM per),
        |g AS (
        |  SELECT decile, COUNT(*) AS n_entities,
        |    CAST(SUM(m) AS BIGINT) AS sc
        |  FROM dec GROUP BY decile),
        |t AS (
        |  SELECT *, CAST(SUM(sc) OVER () AS BIGINT) AS total,
        |    CAST(SUM(sc) OVER (ORDER BY decile
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM g)
        |SELECT CAST(decile AS INT) AS decile, n_entities,
        |  CAST(sc AS DOUBLE) / 100.0 AS spend,
        |  CAST(sc AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        |  CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
        |FROM t ORDER BY decile""".stripMargin),
    "q220_psi_drift" -> Query(q220PsiDrift,
      """WITH mid AS (
        |  SELECT (MIN(CAST(epoch_us(ts) AS BIGINT))
        |    + MAX(CAST(epoch_us(ts) AS BIGINT))) // 2 AS mid
        |  FROM events),
        |ev AS (
        |  SELECT event_type AS k, value AS v,
        |    CAST(epoch_us(ts) AS BIGINT) < (SELECT mid FROM mid) AS isa
        |  FROM events),
        |cuts AS (
        |  SELECT k,
        |    quantile_cont(v, 0.1) AS c1, quantile_cont(v, 0.2) AS c2,
        |    quantile_cont(v, 0.3) AS c3, quantile_cont(v, 0.4) AS c4,
        |    quantile_cont(v, 0.5) AS c5, quantile_cont(v, 0.6) AS c6,
        |    quantile_cont(v, 0.7) AS c7, quantile_cont(v, 0.8) AS c8,
        |    quantile_cont(v, 0.9) AS c9
        |  FROM ev WHERE isa GROUP BY 1),
        |binned AS (
        |  SELECT ev.k,
        |    CAST((CASE WHEN v > c1 THEN 1 ELSE 0 END) +
        |      (CASE WHEN v > c2 THEN 1 ELSE 0 END) +
        |      (CASE WHEN v > c3 THEN 1 ELSE 0 END) +
        |      (CASE WHEN v > c4 THEN 1 ELSE 0 END) +
        |      (CASE WHEN v > c5 THEN 1 ELSE 0 END) +
        |      (CASE WHEN v > c6 THEN 1 ELSE 0 END) +
        |      (CASE WHEN v > c7 THEN 1 ELSE 0 END) +
        |      (CASE WHEN v > c8 THEN 1 ELSE 0 END) +
        |      (CASE WHEN v > c9 THEN 1 ELSE 0 END) AS BIGINT) AS bin,
        |    isa
        |  FROM ev JOIN cuts ON cuts.k = ev.k),
        |counts AS (
        |  SELECT k, bin,
        |    CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM binned GROUP BY 1, 2),
        |grid AS (
        |  SELECT k, CAST(unnest(range(0, 10)) AS BIGINT) AS bin FROM cuts),
        |dense AS (
        |  SELECT g.k, g.bin, COALESCE(c.ca, 0) AS ca, COALESCE(c.cb, 0) AS cb
        |  FROM grid g LEFT JOIN counts c ON c.k = g.k AND c.bin = g.bin),
        |t AS (
        |  SELECT *, CAST(SUM(ca) OVER (PARTITION BY k) AS BIGINT) AS na,
        |    CAST(SUM(cb) OVER (PARTITION BY k) AS BIGINT) AS nb
        |  FROM dense),
        |terms AS (
        |  SELECT k, na, nb,
        |    CAST(((CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 5.0)
        |      - (CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 5.0))
        |      * ln(((CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 5.0))
        |        / ((CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 5.0)))
        |      AS DECIMAL(38,12)) AS term
        |  FROM t)
        |SELECT k AS event_type, MIN(na) AS n_ref, MIN(nb) AS n_cur,
        |  CAST(CAST(SUM(term) AS DECIMAL(38,12)) AS DOUBLE) AS psi
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin),
    "q218_revenue_bridge" -> Query(q218RevenueBridge,
      """WITH li AS (
        |  SELECT p.p_brand AS brand, l.l_partkey AS pk,
        |    year(l.l_shipdate) AS yr,
        |    CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q,
        |    CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS rev
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE year(l.l_shipdate) IN (1997, 1998)),
        |per AS (
        |  SELECT brand, pk, yr, CAST(SUM(q) AS BIGINT) AS q,
        |    CAST(SUM(rev) AS BIGINT) AS rev
        |  FROM li GROUP BY 1, 2, 3),
        |a AS (SELECT brand, pk, q AS q1, rev AS rev1 FROM per WHERE yr = 1997),
        |b AS (SELECT brand, pk, q AS q2, rev AS rev2 FROM per WHERE yr = 1998),
        |j AS (
        |  SELECT COALESCE(a.brand, b.brand) AS brand, q1, rev1, q2, rev2,
        |    CAST(rev1 AS DOUBLE) / CAST(q1 AS DOUBLE) AS p1,
        |    CAST(rev2 AS DOUBLE) / CAST(q2 AS DOUBLE) AS p2
        |  FROM a FULL OUTER JOIN b ON a.brand = b.brand AND a.pk = b.pk),
        |e AS (
        |  SELECT brand, q1, rev1, q2, rev2,
        |    CASE WHEN q1 IS NOT NULL AND q2 IS NOT NULL THEN
        |      (CAST(q2 AS DOUBLE) - CAST(q1 AS DOUBLE)) * p1 END AS vol,
        |    CASE WHEN q1 IS NOT NULL AND q2 IS NOT NULL THEN
        |      (p2 - p1) * CAST(q2 AS DOUBLE) END AS prc
        |  FROM j)
        |SELECT brand,
        |  CAST(SUM(COALESCE(rev1, 0)) AS BIGINT) AS rev1_cents,
        |  CAST(SUM(COALESCE(rev2, 0)) AS BIGINT) AS rev2_cents,
        |  CAST(CAST(SUM(CAST(CAST(floor(vol * 1e4 + 0.5) AS BIGINT)
        |    AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) / 1e4
        |    AS volume_effect_cents,
        |  CAST(CAST(SUM(CAST(CAST(floor(prc * 1e4 + 0.5) AS BIGINT)
        |    AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) / 1e4
        |    AS price_effect_cents,
        |  CAST(SUM(CASE WHEN q1 IS NULL THEN rev2 ELSE 0 END) AS BIGINT)
        |    AS new_cents,
        |  CAST(SUM(CASE WHEN q2 IS NULL THEN -rev1 ELSE 0 END) AS BIGINT)
        |    AS discontinued_cents
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),
    "q213_rolling_corr" -> Query(q213RollingCorr,
      """WITH buck AS (
        |  SELECT event_type AS k,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2),
        |span AS (SELECT MIN(b) AS b0, MAX(b) AS b1 FROM buck),
        |grid AS (SELECT unnest(range(b0, b1 + 1)) AS b FROM span),
        |xy AS (
        |  SELECT g.b,
        |    COALESCE(bx.n, 0) AS x, COALESCE(by.n, 0) AS y
        |  FROM grid g
        |  LEFT JOIN buck bx ON bx.k = 'view' AND bx.b = g.b
        |  LEFT JOIN buck by ON by.k = 'purchase' AND by.b = g.b),
        |mom AS (
        |  SELECT b,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS rn,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) OVER w
        |      AS DECIMAL(38,0)) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) OVER w
        |      AS DECIMAL(38,0)) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      OVER w AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      OVER w AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      OVER w AS DECIMAL(38,0)) AS syy
        |  FROM xy
        |  WINDOW w AS (ORDER BY b ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT b,
        |    CAST(24 AS DECIMAL(38,0)) * sxy - sx * sy AS num,
        |    CAST(24 AS DECIMAL(38,0)) * sxx - sx * sx AS d1,
        |    CAST(24 AS DECIMAL(38,0)) * syy - sy * sy AS d2
        |  FROM mom WHERE rn = 24)
        |SELECT CAST(b * 3600000000 AS BIGINT) AS ts_us,
        |  CASE WHEN d1 > 0 AND d2 > 0 THEN
        |    CAST(num AS DOUBLE) / sqrt(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE))
        |  END AS r
        |FROM f ORDER BY 1""".stripMargin),
    "q206_changepoint" -> Query(q206Changepoint,
      """WITH buck AS (
        |  SELECT event_type AS k,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT k, MIN(b) AS b0, MAX(b) AS b1 FROM buck GROUP BY 1),
        |grid AS (SELECT k, unnest(range(b0, b1 + 1)) AS b FROM span),
        |dense AS (
        |  SELECT g.k, g.b, COALESCE(buck.n, 0) AS x
        |  FROM grid g LEFT JOIN buck ON buck.k = g.k AND buck.b = g.b),
        |pre AS (
        |  SELECT k, b,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY k ORDER BY b) AS BIGINT)
        |      AS t,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) OVER (PARTITION BY k
        |      ORDER BY b ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,0)) AS st,
        |    CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS nb,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) OVER (PARTITION BY k)
        |      AS DECIMAL(38,0)) AS sn
        |  FROM dense),
        |gains AS (
        |  SELECT *,
        |    CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(t AS DOUBLE)
        |    + (CAST(sn AS DOUBLE) - CAST(st AS DOUBLE))
        |      * (CAST(sn AS DOUBLE) - CAST(st AS DOUBLE))
        |      / (CAST(nb AS DOUBLE) - CAST(t AS DOUBLE))
        |    - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(nb AS DOUBLE)
        |      AS gain
        |  FROM pre WHERE t < nb),
        |best AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY k
        |    ORDER BY gain DESC, t) AS rk
        |  FROM gains)
        |SELECT k AS event_type, nb AS n_buckets,
        |  CAST((b + 1) * 3600000000 AS BIGINT) AS cp_us,
        |  CAST(st AS DOUBLE) / CAST(t AS DOUBLE) AS mean_before,
        |  (CAST(sn AS DOUBLE) - CAST(st AS DOUBLE))
        |    / (CAST(nb AS DOUBLE) - CAST(t AS DOUBLE)) AS mean_after,
        |  gain
        |FROM best WHERE rk = 1 ORDER BY 1""".stripMargin),
    "q204_mix_entropy" -> Query(q204MixEntropy,
      """WITH cnt AS (
        |  SELECT user_id AS e, event_type AS c,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT *, CAST(SUM(n) OVER (PARTITION BY e) AS BIGINT) AS nt
        |  FROM cnt),
        |terms AS (
        |  SELECT e, n, nt,
        |    CAST(-(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * ln(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))
        |      AS DECIMAL(38,12)) AS term
        |  FROM t),
        |agg AS (
        |  SELECT e AS user_id, CAST(SUM(n) AS BIGINT) AS n_events,
        |    CAST(COUNT(*) AS BIGINT) AS n_cats,
        |    CAST(SUM(term) AS DECIMAL(38,12)) AS hq
        |  FROM terms GROUP BY 1)
        |SELECT user_id, n_events, n_cats,
        |  CAST(hq AS DOUBLE) AS entropy_nats,
        |  CASE WHEN n_cats > 1
        |    THEN CAST(hq AS DOUBLE) / ln(CAST(n_cats AS DOUBLE))
        |    ELSE 0.0 END AS norm_entropy
        |FROM agg ORDER BY 1""".stripMargin),
    "q205_interarrival" -> Query(q205Interarrival,
      """WITH g AS (
        |  SELECT event_type AS c,
        |    CAST(epoch_us(ts) AS BIGINT)
        |      - LAG(CAST(epoch_us(ts) AS BIGINT)) OVER (
        |        PARTITION BY user_id, event_type
        |        ORDER BY epoch_us(ts)) AS gap
        |  FROM events),
        |m AS (
        |  SELECT c AS event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |    CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sg,
        |    CAST(SUM(CAST(gap AS DECIMAL(38,0)) * CAST(gap AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sgg
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1),
        |f AS (
        |  SELECT event_type, n_gaps,
        |    CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_us,
        |    sqrt(CAST(CAST(n_gaps AS DECIMAL(38,0)) * sgg - sg * sg
        |        AS DOUBLE)
        |      / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE))) AS sd_us
        |  FROM m)
        |SELECT event_type, n_gaps, mean_us, sd_us,
        |  sd_us / mean_us AS cv,
        |  (sd_us - mean_us) / (sd_us + mean_us) AS burstiness
        |FROM f ORDER BY 1""".stripMargin),
    "q202_weighted_median" -> Query(q202WeightedMedian,
      """WITH perv AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS wv
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT *, CAST(SUM(wv) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
        |    CAST(SUM(wv) OVER (PARTITION BY g) AS BIGINT) AS tw
        |  FROM perv)
        |SELECT g AS l_returnflag, MIN(v) AS p_value,
        |  MIN(tw) AS total_w_cents
        |FROM c WHERE cumw * 2 >= tw GROUP BY 1 ORDER BY 1""".stripMargin),
    "q203_lead_lag" -> Query(q203LeadLag,
      """WITH buck AS (
        |  SELECT event_type AS k,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2),
        |span AS (SELECT MIN(b) AS b0, MAX(b) AS b1 FROM buck),
        |grid AS (SELECT unnest(range(b0, b1 + 1)) AS b FROM span),
        |dx AS (SELECT g.b, COALESCE(buck.n, 0) AS x FROM grid g
        |  LEFT JOIN buck ON buck.k = 'view' AND buck.b = g.b),
        |dy AS (SELECT g.b, COALESCE(buck.n, 0) AS y FROM grid g
        |  LEFT JOIN buck ON buck.k = 'purchase' AND buck.b = g.b),
        |lags AS (SELECT unnest(range(-12, 13)) AS lag),
        |pairs AS (
        |  SELECT l.lag, dx.x, dy.y
        |  FROM dx CROSS JOIN lags l
        |  JOIN dy ON dy.b = dx.b + l.lag),
        |m AS (
        |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS syy
        |  FROM pairs GROUP BY 1),
        |f AS (
        |  SELECT lag, n_pairs,
        |    CAST(n_pairs AS DECIMAL(38,0)) * sxy
        |      - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) AS num,
        |    CAST(n_pairs AS DECIMAL(38,0)) * sxx
        |      - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)) AS d1,
        |    CAST(n_pairs AS DECIMAL(38,0)) * syy
        |      - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) AS d2
        |  FROM m)
        |SELECT CAST(lag AS INTEGER) AS lag, n_pairs,
        |  CAST(num AS DOUBLE)
        |    / sqrt(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)) AS r
        |FROM f WHERE d1 > 0 AND d2 > 0 ORDER BY 1""".stripMargin),
    "q199_survival_curve" -> Query(q199SurvivalCurve,
      """WITH lt AS (
        |  SELECT user_id,
        |    (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 86400000000
        |      AS t_days
        |  FROM events GROUP BY 1),
        |hist AS (
        |  SELECT t_days, CAST(COUNT(*) AS BIGINT) AS n_t
        |  FROM lt GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM lt)
        |SELECT t_days,
        |  CAST(SUM(n_t) OVER (ORDER BY t_days DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_survivors,
        |  CAST(SUM(n_t) OVER (ORDER BY t_days DESC
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / n_total AS s
        |FROM hist, tot ORDER BY t_days""".stripMargin),
    "q200_group_ols" -> Query(q200GroupOls,
      """WITH q AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS syy
        |  FROM q GROUP BY 1),
        |f AS (
        |  SELECT g, n, sx, sy,
        |    CAST(n AS DECIMAL(38,0)) * sxy
        |      - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) AS cov,
        |    CAST(n AS DECIMAL(38,0)) * sxx
        |      - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)) AS vx,
        |    CAST(n AS DECIMAL(38,0)) * syy
        |      - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) AS vy
        |  FROM m)
        |SELECT g AS l_returnflag, n,
        |  CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE) AS slope,
        |  (CAST(sy AS DOUBLE) - CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE)
        |    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0
        |    AS intercept,
        |  CASE WHEN vy > 0 THEN (CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE))
        |    / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) END AS r2
        |FROM f WHERE vx > 0 ORDER BY 1""".stripMargin),
    "q197_autocorrelation" -> Query(q197Autocorrelation,
      """WITH buck AS (
        |  SELECT event_type AS k,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT k, unnest(range(MIN(b), MAX(b) + 1)) AS b
        |  FROM buck GROUP BY k),
        |dense AS (
        |  SELECT g.k, g.b, COALESCE(buck.n, 0) AS x
        |  FROM grid g LEFT JOIN buck ON g.k = buck.k AND g.b = buck.b),
        |pairs AS (
        |  SELECT a.k, a.x, l.x AS y
        |  FROM dense a JOIN dense l ON a.k = l.k AND l.b = a.b - 24),
        |m AS (
        |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS syy
        |  FROM pairs GROUP BY 1),
        |f AS (
        |  SELECT k, n_pairs,
        |    CAST(n_pairs AS DECIMAL(38,0)) * sxy
        |      - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) AS num,
        |    CAST(n_pairs AS DECIMAL(38,0)) * sxx
        |      - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)) AS d1,
        |    CAST(n_pairs AS DECIMAL(38,0)) * syy
        |      - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) AS d2
        |  FROM m)
        |SELECT k AS event_type, n_pairs,
        |  CAST(num AS DOUBLE)
        |    / sqrt(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)) AS r
        |FROM f WHERE d1 > 0 AND d2 > 0 ORDER BY 1""".stripMargin),
    "q195_supervised_bins" -> Query(q195SupervisedBins,
      """WITH cuts AS (
        |  SELECT quantile_cont(l_extendedprice, 0.1) AS c1,
        |    quantile_cont(l_extendedprice, 0.2) AS c2,
        |    quantile_cont(l_extendedprice, 0.3) AS c3,
        |    quantile_cont(l_extendedprice, 0.4) AS c4,
        |    quantile_cont(l_extendedprice, 0.5) AS c5,
        |    quantile_cont(l_extendedprice, 0.6) AS c6,
        |    quantile_cont(l_extendedprice, 0.7) AS c7,
        |    quantile_cont(l_extendedprice, 0.8) AS c8,
        |    quantile_cont(l_extendedprice, 0.9) AS c9
        |  FROM lineitem),
        |b AS (
        |  SELECT CAST(
        |      (CASE WHEN l_extendedprice > c1 THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > c2 THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > c3 THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > c4 THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > c5 THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > c6 THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > c7 THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > c8 THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > c9 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS bin,
        |    l_extendedprice AS v,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        |  FROM lineitem, cuts)
        |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(pos) AS BIGINT) AS n_pos,
        |  CAST(SUM(pos) AS DOUBLE) / COUNT(*) AS pos_rate,
        |  MIN(v) AS v_min, MAX(v) AS v_max
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
    "q193_percentile_series" -> Query(q193PercentileSeries,
      """SELECT event_type,
        |  (CAST(epoch_us(ts) AS BIGINT) // 21600000000) * 21600
        |    AS bucket_epoch,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.95) AS p95
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q190_seasonal_naive" -> Query(q190SeasonalNaive,
      """WITH buck AS (
        |  SELECT event_type AS k,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT a.k AS event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(ABS(a.n - f.n)) AS BIGINT) AS abs_err_sum,
        |  CAST(SUM(a.n - f.n) AS BIGINT) AS err_sum,
        |  CAST(SUM(ABS(a.n - f.n)) AS DOUBLE) / COUNT(*) AS mae,
        |  CAST(SUM(a.n - f.n) AS DOUBLE) / COUNT(*) AS bias
        |FROM buck a JOIN buck f ON a.k = f.k AND f.b = a.b - 24
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "q191_threshold_crossing" -> Query(q191ThresholdCrossing,
      """WITH r AS (
        |  SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |        AS BIGINT)) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        |  FROM lineitem),
        |f AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
        |  FROM r WHERE cum_cents >= 50000)
        |SELECT l_partkey, l_shipdate AS cross_at, cum_cents
        |FROM f WHERE rn = 1 ORDER BY l_partkey""".stripMargin),
    "q192_rank_migration" -> Query(q192RankMigration,
      """WITH per AS (
        |  SELECT l_partkey AS item,
        |    year(l_shipdate) * 4 + quarter(l_shipdate) - 1 AS yq,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM lineitem GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY yq
        |    ORDER BY rev_c DESC, item) AS BIGINT) AS rnk
        |  FROM per)
        |SELECT a.yq, a.item, b.rnk AS rnk_prev, a.rnk,
        |  b.rnk - a.rnk AS delta
        |FROM ranked a JOIN ranked b
        |  ON a.item = b.item AND a.yq = b.yq + 1
        |ORDER BY ABS(b.rnk - a.rnk) DESC, a.item, a.yq
        |LIMIT 25""".stripMargin),
    "q186_abc_classes" -> Query(q186Abc,
      """WITH per AS (
        |  SELECT l_partkey AS item,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM lineitem GROUP BY l_partkey),
        |ranked AS (
        |  SELECT *, CAST(SUM(rev_c) OVER (ORDER BY rev_c DESC, item
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
        |    CAST(SUM(rev_c) OVER () AS BIGINT) AS tot_c
        |  FROM per),
        |classed AS (
        |  SELECT *, CASE
        |    WHEN CAST(cum_c AS DOUBLE) / CAST(tot_c AS DOUBLE) <= 0.8
        |      THEN 'A'
        |    WHEN CAST(cum_c AS DOUBLE) / CAST(tot_c AS DOUBLE) <= 0.95
        |      THEN 'B'
        |    ELSE 'C' END AS abc_class
        |  FROM ranked),
        |agg AS (
        |  SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(rev_c) AS DOUBLE) / 100.0 AS revenue
        |  FROM classed GROUP BY abc_class)
        |SELECT abc_class, n_items, revenue,
        |  revenue / SUM(revenue) OVER () AS share_of_total
        |FROM agg ORDER BY abc_class""".stripMargin),
    "q187_ma_crossover" -> Query(q187MaCross,
      """WITH daily AS (
        |  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT b,
        |    CAST(SUM(n) OVER (ORDER BY b ROWS BETWEEN 6 PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS ss,
        |    CAST(COUNT(*) OVER (ORDER BY b ROWS BETWEEN 6 PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cs,
        |    CAST(SUM(n) OVER (ORDER BY b ROWS BETWEEN 27 PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS sl,
        |    CAST(COUNT(*) OVER (ORDER BY b ROWS BETWEEN 27 PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cl
        |  FROM daily),
        |sig AS (
        |  SELECT *, ss * cl > sl * cs AS above,
        |    LAG(ss * cl > sl * cs) OVER (ORDER BY b) AS prev
        |  FROM w)
        |SELECT b * 86400 AS bucket_epoch,
        |  CASE WHEN above THEN 'golden' ELSE 'death' END AS signal,
        |  CAST(ss AS DOUBLE) / CAST(cs AS DOUBLE) AS ma_short,
        |  CAST(sl AS DOUBLE) / CAST(cl AS DOUBLE) AS ma_long
        |FROM sig WHERE prev IS NOT NULL AND prev <> above
        |ORDER BY bucket_epoch""".stripMargin),
    // full r×c grid (zero cells included), same quantized term shape
    "q166_chi_square" -> Query(q166ChiSquare,
      """WITH obs AS (
        |  SELECT l_returnflag AS a, l_linestatus AS b,
        |    CAST(COUNT(*) AS BIGINT) AS o
        |  FROM lineitem GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM obs GROUP BY a),
        |cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM obs GROUP BY b),
        |grid AS (
        |  SELECT ra.a, cb.b, ra.ra, cb.cb, COALESCE(obs.o, 0) AS o
        |  FROM ra CROSS JOIN cb LEFT JOIN obs ON obs.a = ra.a AND obs.b = cb.b),
        |t AS (
        |  SELECT *, CAST(SUM(o) OVER () AS BIGINT) AS n,
        |    CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(SUM(o) OVER ()
        |      AS DOUBLE) AS e
        |  FROM grid),
        |terms AS (
        |  SELECT n, CAST((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
        |    / e AS DECIMAL(38,12)) AS term,
        |    a, b
        |  FROM t)
        |SELECT CAST(SUM(term) AS DOUBLE) AS chi2,
        |  CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS BIGINT)
        |    AS dof,
        |  MAX(n) AS n,
        |  sqrt(CAST(SUM(term) AS DOUBLE) / (CAST(MAX(n) AS DOUBLE) *
        |    CAST(LEAST(COUNT(DISTINCT a), COUNT(DISTINCT b)) - 1 AS DOUBLE)))
        |    AS cramers_v
        |FROM terms""".stripMargin),
    "q167_equidepth_hist" -> Query(q167EquidepthHist,
      """WITH t AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    ntile(8) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(bucket AS BIGINT) AS bucket,
        |  MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM t GROUP BY 1, 2 ORDER BY l_returnflag, bucket""".stripMargin),
    "q168_ab_test" -> Query(q168AbTest,
      """WITH u AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >
        |      SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM events GROUP BY user_id),
        |v AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |    converted
        |  FROM u),
        |per AS (
        |  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM v GROUP BY variant),
        |ab AS (
        |  SELECT MIN(variant) AS va, MAX(variant) AS vb FROM per),
        |j AS (
        |  SELECT ab.va, ab.vb, pa.n AS n_a, pa.x AS x_a, pb.n AS n_b,
        |    pb.x AS x_b
        |  FROM ab JOIN per pa ON pa.variant = ab.va
        |    JOIN per pb ON pb.variant = ab.vb)
        |SELECT va AS variant_a, n_a, x_a, vb AS variant_b, n_b, x_b,
        |  CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
        |  CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
        |  CAST(CAST((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |    AS DECIMAL(20,12)) AS DOUBLE) AS z
        |FROM j""".stripMargin),
    // prefix closed form of the max(0, ·) fold, S⁺ = P − min(0, run-min P),
    // in exact integer micro-units; HUGEINT // = Spark's div (truncating)
    "q169_cusum" -> Query(q169Cusum, cusumSql),
    // the state fold and the closed form must produce identical reports —
    // same oracle as q169 by construction
    "q174_cusum_state" -> Query(q174CusumState, cusumSql),
    // same total (metric, custkey) ntile orders, centi-exact spend
    "q175_rfm" -> Query(q175Rfm,
      """WITH per AS (
        |  SELECT o_custkey AS cust,
        |    MAX(epoch_us(o_orderdate)) AS last_us,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS spend_c
        |  FROM orders GROUP BY o_custkey),
        |scored AS (
        |  SELECT ntile(5) OVER (ORDER BY last_us, cust) AS r,
        |    ntile(5) OVER (ORDER BY n_orders, cust) AS f,
        |    ntile(5) OVER (ORDER BY spend_c, cust) AS m,
        |    spend_c
        |  FROM per)
        |SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(spend_c) AS DOUBLE) / 100.0 AS total_spend
        |FROM scored GROUP BY r, f, m ORDER BY r, f, m""".stripMargin),
    // same rank window and closed form on exact centi-longs
    "q176_gini" -> Query(q176Gini,
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS spend_c
        |  FROM orders GROUP BY o_custkey),
        |per AS (
        |  SELECT c.c_nationkey, c.c_custkey,
        |    COALESCE(s.spend_c, 0) AS spend_c
        |  FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey),
        |ranked AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |    ORDER BY spend_c, c_custkey) AS BIGINT) AS i
        |  FROM per),
        |agg AS (
        |  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(spend_c) AS BIGINT) AS sx,
        |    CAST(SUM(i * spend_c) AS BIGINT) AS six
        |  FROM ranked GROUP BY c_nationkey)
        |SELECT c_nationkey, n,
        |  CAST(2 * six - (n + 1) * sx AS DOUBLE) / CAST(n * sx AS DOUBLE)
        |    AS gini
        |FROM agg ORDER BY c_nationkey""".stripMargin),
    "q360_chow_test" -> Query(q360ChowTest,
      """WITH daily AS (
        |  SELECT l_returnflag AS g,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |sd AS (
        |  SELECT g, x, y,
        |    CASE WHEN x < datediff('day', DATE '1992-01-01',
        |      DATE '1995-06-17') THEN 0 ELSE 1 END AS s
        |  FROM daily),
        |m AS (
        |  SELECT g,
        |    CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN s = 0 THEN x ELSE 0 END) AS BIGINT) AS sx1,
        |    CAST(SUM(CASE WHEN s = 1 THEN x ELSE 0 END) AS BIGINT) AS sx2,
        |    CAST(SUM(CASE WHEN s = 0 THEN y ELSE 0 END) AS BIGINT) AS sy1,
        |    CAST(SUM(CASE WHEN s = 1 THEN y ELSE 0 END) AS BIGINT) AS sy2,
        |    CAST(SUM(CASE WHEN s = 0 THEN CAST(x AS DECIMAL(38,0))
        |      * CAST(x AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0))
        |      AS sxx1,
        |    CAST(SUM(CASE WHEN s = 1 THEN CAST(x AS DECIMAL(38,0))
        |      * CAST(x AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0))
        |      AS sxx2,
        |    CAST(SUM(CASE WHEN s = 0 THEN CAST(x AS DECIMAL(38,0))
        |      * CAST(y AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0))
        |      AS sxy1,
        |    CAST(SUM(CASE WHEN s = 1 THEN CAST(x AS DECIMAL(38,0))
        |      * CAST(y AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0))
        |      AS sxy2,
        |    CAST(SUM(CASE WHEN s = 0 THEN CAST(y AS DECIMAL(38,0))
        |      * CAST(y AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0))
        |      AS syy1,
        |    CAST(SUM(CASE WHEN s = 1 THEN CAST(y AS DECIMAL(38,0))
        |      * CAST(y AS DECIMAL(38,0)) ELSE 0 END) AS DECIMAL(38,0))
        |      AS syy2
        |  FROM sd GROUP BY g),
        |r AS (
        |  SELECT g, n1, n2,
        |    CAST(n1 AS DECIMAL(38,0)) * sxx1
        |      - CAST(sx1 AS DECIMAL(38,0)) * CAST(sx1 AS DECIMAL(38,0))
        |      AS vx1,
        |    CAST(n2 AS DECIMAL(38,0)) * sxx2
        |      - CAST(sx2 AS DECIMAL(38,0)) * CAST(sx2 AS DECIMAL(38,0))
        |      AS vx2,
        |    CAST(n1 + n2 AS DECIMAL(38,0)) * (sxx1 + sxx2)
        |      - CAST(sx1 + sx2 AS DECIMAL(38,0))
        |      * CAST(sx1 + sx2 AS DECIMAL(38,0)) AS vxp,
        |    (CAST(CAST(n1 AS DECIMAL(38,0)) * syy1
        |        - CAST(sy1 AS DECIMAL(38,0)) * CAST(sy1 AS DECIMAL(38,0))
        |        AS DOUBLE)
        |      - CAST(CAST(n1 AS DECIMAL(38,0)) * sxy1
        |          - CAST(sx1 AS DECIMAL(38,0)) * CAST(sy1 AS DECIMAL(38,0))
        |          AS DOUBLE)
        |        * CAST(CAST(n1 AS DECIMAL(38,0)) * sxy1
        |          - CAST(sx1 AS DECIMAL(38,0)) * CAST(sy1 AS DECIMAL(38,0))
        |          AS DOUBLE)
        |        / CAST(CAST(n1 AS DECIMAL(38,0)) * sxx1
        |          - CAST(sx1 AS DECIMAL(38,0)) * CAST(sx1 AS DECIMAL(38,0))
        |          AS DOUBLE)) / CAST(n1 AS DOUBLE) AS rss1,
        |    (CAST(CAST(n2 AS DECIMAL(38,0)) * syy2
        |        - CAST(sy2 AS DECIMAL(38,0)) * CAST(sy2 AS DECIMAL(38,0))
        |        AS DOUBLE)
        |      - CAST(CAST(n2 AS DECIMAL(38,0)) * sxy2
        |          - CAST(sx2 AS DECIMAL(38,0)) * CAST(sy2 AS DECIMAL(38,0))
        |          AS DOUBLE)
        |        * CAST(CAST(n2 AS DECIMAL(38,0)) * sxy2
        |          - CAST(sx2 AS DECIMAL(38,0)) * CAST(sy2 AS DECIMAL(38,0))
        |          AS DOUBLE)
        |        / CAST(CAST(n2 AS DECIMAL(38,0)) * sxx2
        |          - CAST(sx2 AS DECIMAL(38,0)) * CAST(sx2 AS DECIMAL(38,0))
        |          AS DOUBLE)) / CAST(n2 AS DOUBLE) AS rss2,
        |    (CAST(CAST(n1 + n2 AS DECIMAL(38,0)) * (syy1 + syy2)
        |        - CAST(sy1 + sy2 AS DECIMAL(38,0))
        |        * CAST(sy1 + sy2 AS DECIMAL(38,0)) AS DOUBLE)
        |      - CAST(CAST(n1 + n2 AS DECIMAL(38,0)) * (sxy1 + sxy2)
        |          - CAST(sx1 + sx2 AS DECIMAL(38,0))
        |          * CAST(sy1 + sy2 AS DECIMAL(38,0)) AS DOUBLE)
        |        * CAST(CAST(n1 + n2 AS DECIMAL(38,0)) * (sxy1 + sxy2)
        |          - CAST(sx1 + sx2 AS DECIMAL(38,0))
        |          * CAST(sy1 + sy2 AS DECIMAL(38,0)) AS DOUBLE)
        |        / CAST(CAST(n1 + n2 AS DECIMAL(38,0)) * (sxx1 + sxx2)
        |          - CAST(sx1 + sx2 AS DECIMAL(38,0))
        |          * CAST(sx1 + sx2 AS DECIMAL(38,0)) AS DOUBLE))
        |      / CAST(n1 + n2 AS DOUBLE) AS rssp
        |  FROM m)
        |SELECT g AS l_returnflag, n1 AS n_pre, n2 AS n_post,
        |  CASE WHEN vx1 > 0 AND vx2 > 0 AND vxp > 0 AND n1 > 2 AND n2 > 2
        |    AND rss1 + rss2 > 0 THEN rssp END AS rss_pooled,
        |  CASE WHEN vx1 > 0 AND vx2 > 0 AND vxp > 0 AND n1 > 2 AND n2 > 2
        |    AND rss1 + rss2 > 0 THEN rss1 + rss2 END AS rss_split,
        |  CASE WHEN vx1 > 0 AND vx2 > 0 AND vxp > 0 AND n1 > 2 AND n2 > 2
        |    AND rss1 + rss2 > 0
        |    THEN ((rssp - (rss1 + rss2)) / 2.0)
        |      / ((rss1 + rss2) / CAST(n1 + n2 - 4 AS DOUBLE)) END
        |    AS f_chow
        |FROM r ORDER BY 1""".stripMargin),
    "q361_kde_grid" -> Query(q361KdeGrid,
      """WITH hist AS (
        |  SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT CAST(range AS BIGINT) AS x0
        |  FROM range(0, 50001, 2500)),
        |terms AS (
        |  SELECT g, x0, cnt,
        |    CAST(CAST(cnt AS DOUBLE) * exp(
        |      -(((CAST(x0 AS DOUBLE) - CAST(vc AS DOUBLE)) / 100.0)
        |        * ((CAST(x0 AS DOUBLE) - CAST(vc AS DOUBLE)) / 100.0))
        |      / 1250.0) AS DECIMAL(38,15)) AS term
        |  FROM hist CROSS JOIN grid)
        |SELECT g AS event_type, CAST(x0 AS DOUBLE) / 100.0 AS x,
        |  CAST(SUM(cnt) AS BIGINT) AS n,
        |  CAST(CAST(SUM(term) AS DECIMAL(38,15)) AS DOUBLE)
        |    / (CAST(CAST(SUM(cnt) AS BIGINT) AS DOUBLE) * 25.0
        |      * sqrt(2 * pi())) AS density
        |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q362_croston" -> Query(q362Croston,
      """WITH RECURSIVE occ AS (
        |  SELECT l_partkey AS k,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
        |      AS BIGINT) AS d,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1, 2
        |  HAVING SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) > 0),
        |seq AS (
        |  SELECT k, d, x,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY d) AS rn,
        |    d - LAG(d) OVER (PARTITION BY k ORDER BY d) AS gap
        |  FROM occ),
        |rec AS (
        |  SELECT k, rn, d, x, x AS z, CAST(1 AS BIGINT) AS p
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT s.k, s.rn, s.d, s.x,
        |    CAST(FLOOR((s.x + r.z) / 2.0) AS BIGINT),
        |    CAST(FLOOR((s.gap + r.p) / 2.0) AS BIGINT)
        |  FROM rec r JOIN seq s ON s.k = r.k AND s.rn = r.rn + 1)
        |SELECT k AS l_partkey, d, x AS demand_c, z AS z_c, p AS p_days,
        |  CAST(z AS DOUBLE) / 100.0 / CAST(p AS DOUBLE) AS forecast
        |FROM rec ORDER BY 1, 2""".stripMargin),
    "q363_engle_granger" -> Query(q363EngleGranger,
      """WITH daily AS (
        |  SELECT l_returnflag AS g,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.g AS ga, b.g AS gb, a.x AS x, a.v AS ya, b.v AS yb
        |  FROM daily a JOIN daily b ON a.x = b.x AND a.g < b.g),
        |m AS (
        |  SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(ya) AS BIGINT) AS sa, CAST(SUM(yb) AS BIGINT) AS sb,
        |    CAST(SUM(CAST(ya AS DECIMAL(38,0)) * CAST(ya AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS saa,
        |    CAST(SUM(CAST(ya AS DECIMAL(38,0)) * CAST(yb AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sab
        |  FROM pairs GROUP BY 1, 2),
        |fit AS (
        |  SELECT ga, gb, n,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sab
        |      - CAST(sa AS DECIMAL(38,0)) * CAST(sb AS DECIMAL(38,0))
        |      AS DOUBLE)
        |    / CAST(CAST(n AS DECIMAL(38,0)) * saa
        |      - CAST(sa AS DECIMAL(38,0)) * CAST(sa AS DECIMAL(38,0))
        |      AS DOUBLE) AS beta,
        |    CAST(n AS DECIMAL(38,0)) * saa
        |      - CAST(sa AS DECIMAL(38,0)) * CAST(sa AS DECIMAL(38,0))
        |      AS vx,
        |    sa, sb
        |  FROM m),
        |ab AS (
        |  SELECT ga, gb, n AS n_days, beta,
        |    (CAST(sb AS DOUBLE) - beta * CAST(sa AS DOUBLE))
        |      / CAST(n AS DOUBLE) AS alpha
        |  FROM fit WHERE vx > 0 AND n > 2),
        |resid AS (
        |  SELECT p.ga, p.gb, p.x, ab.n_days, ab.alpha, ab.beta,
        |    CAST(FLOOR(CAST(p.yb AS DOUBLE) - ab.alpha
        |      - ab.beta * CAST(p.ya AS DOUBLE)) AS BIGINT) AS e
        |  FROM pairs p JOIN ab ON ab.ga = p.ga AND ab.gb = p.gb),
        |pr AS (
        |  SELECT *, LAG(e) OVER (PARTITION BY ga, gb ORDER BY x) AS elag
        |  FROM resid),
        |pp AS (
        |  SELECT ga, gb, n_days, alpha, beta, elag, e - elag AS de
        |  FROM pr WHERE elag IS NOT NULL),
        |m2 AS (
        |  SELECT ga, gb, MAX(n_days) AS n_days, MAX(alpha) AS alpha,
        |    MAX(beta) AS beta,
        |    CAST(COUNT(*) AS BIGINT) AS mm,
        |    CAST(SUM(elag) AS BIGINT) AS s1,
        |    CAST(SUM(de) AS BIGINT) AS sd,
        |    CAST(SUM(CAST(elag AS DECIMAL(38,0))
        |      * CAST(elag AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s11,
        |    CAST(SUM(CAST(elag AS DECIMAL(38,0))
        |      * CAST(de AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1d,
        |    CAST(SUM(CAST(de AS DECIMAL(38,0))
        |      * CAST(de AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sdd
        |  FROM pp GROUP BY 1, 2),
        |cv AS (
        |  SELECT ga, gb, n_days, alpha, beta, mm,
        |    CAST(CAST(mm AS DECIMAL(38,0)) * s1d
        |      - CAST(s1 AS DECIMAL(38,0)) * CAST(sd AS DECIMAL(38,0))
        |      AS DECIMAL(38,0)) AS cv,
        |    CAST(CAST(mm AS DECIMAL(38,0)) * s11
        |      - CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0))
        |      AS DECIMAL(38,0)) AS vx2,
        |    CAST(CAST(mm AS DECIMAL(38,0)) * sdd
        |      - CAST(sd AS DECIMAL(38,0)) * CAST(sd AS DECIMAL(38,0))
        |      AS DECIMAL(38,0)) AS vy2
        |  FROM m2),
        |ff AS (
        |  SELECT ga, gb, n_days, alpha, beta, mm, vx2,
        |    CAST(cv AS DOUBLE) / CAST(vx2 AS DOUBLE) AS gamma,
        |    (CAST(vy2 AS DOUBLE) - CAST(cv AS DOUBLE) * CAST(cv AS DOUBLE)
        |      / CAST(vx2 AS DOUBLE)) / CAST(mm AS DOUBLE) AS sse
        |  FROM cv WHERE vx2 > 0 AND mm > 2)
        |SELECT ga AS g_x, gb AS g_y, n_days, alpha, beta, gamma,
        |  gamma / SQRT(sse / CAST(mm - 2 AS DOUBLE) * CAST(mm AS DOUBLE)
        |    / CAST(vx2 AS DOUBLE)) AS t_eg
        |FROM ff ORDER BY 1, 2""".stripMargin),
    "q365_gumbel_maxima" -> Query(q365GumbelMaxima,
      """WITH daily AS (
        |  SELECT l_returnflag AS g,
        |    CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)
        |      AS mth,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1, 2, 3),
        |bm AS (
        |  SELECT g, mth, CAST(MAX(v) AS BIGINT) AS mx
        |  FROM daily GROUP BY 1, 2),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(mx) AS BIGINT) AS s,
        |    CAST(SUM(CAST(mx AS DECIMAL(38,0)) * CAST(mx AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s2
        |  FROM bm GROUP BY 1),
        |p AS (
        |  SELECT g, n,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    sqrt(CAST(CAST(n AS DECIMAL(38,0)) * s2
        |        - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))
        |        AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
        |      * sqrt(6.0) / pi() AS beta
        |  FROM m WHERE n > 1),
        |q AS (
        |  SELECT g, n, mean, beta,
        |    mean - 0.5772156649015329 * beta AS mu
        |  FROM p)
        |SELECT g AS l_returnflag, n AS n_blocks, mean / 100.0 AS mean_max,
        |  beta / 100.0 AS gumbel_beta, mu / 100.0 AS gumbel_mu,
        |  (mu - beta * ln(-ln(1.0 - 1.0 / 12.0))) / 100.0 AS rl_12,
        |  (mu - beta * ln(-ln(1.0 - 1.0 / 60.0))) / 100.0 AS rl_60
        |FROM q ORDER BY 1""".stripMargin),
    "q366_grid_dbscan" -> Query(q366GridDbscan,
      """WITH RECURSIVE tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM events),
        |pts AS (
        |  SELECT CAST(FLOOR(CAST(value AS DOUBLE) / 0.25) AS BIGINT)
        |      AS cx,
        |    CAST(FLOOR(CAST(hour(ts) AS DOUBLE) / 2.0) AS BIGINT) AS cy
        |  FROM events),
        |cells AS (
        |  SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM pts GROUP BY 1, 2),
        |nb AS (
        |  SELECT c.cx, c.cy, MAX(c.n) AS n, CAST(SUM(o.n) AS BIGINT) AS nn
        |  FROM cells c JOIN cells o
        |    ON abs(c.cx - o.cx) <= 1 AND abs(c.cy - o.cy) <= 1
        |  GROUP BY 1, 2),
        |core AS (
        |  SELECT cx, cy, n,
        |    (cx + 1000) * 100000 + (cy + 1000) AS id
        |  FROM nb, tot
        |  WHERE nn >= CAST(CEIL(CAST(nt AS DOUBLE) * 0.002) AS BIGINT)),
        |adj AS (
        |  SELECT a.id AS s, b.id AS t FROM core a JOIN core b
        |  ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
        |    AND a.id <> b.id),
        |reach AS (
        |  SELECT id AS s, id AS t FROM core
        |  UNION
        |  SELECT r.s, a.t FROM reach r JOIN adj a ON a.s = r.t),
        |comp AS (
        |  SELECT s AS id, CAST(MIN(t) AS BIGINT) AS comp
        |  FROM reach GROUP BY s)
        |SELECT comp AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
        |  CAST(SUM(n) AS BIGINT) AS n_points,
        |  CAST(MIN(cx) AS BIGINT) AS cx_lo, CAST(MAX(cx) AS BIGINT) AS cx_hi,
        |  CAST(MIN(cy) AS BIGINT) AS cy_lo, CAST(MAX(cy) AS BIGINT) AS cy_hi
        |FROM core JOIN comp USING (id)
        |GROUP BY comp ORDER BY cluster_id""".stripMargin),
    "q372_loess_grid" -> Query(q372LoessGrid,
      """WITH daily AS (
        |  SELECT l_returnflag AS g,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |span AS (SELECT g, MIN(x) AS mn, MAX(x) AS mx
        |         FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT g, CAST(unnest(generate_series(mn, mx, 100)) AS BIGINT)
        |    AS x0
        |  FROM span),
        |t0 AS (
        |  SELECT d.g, gr.x0, d.x, d.y,
        |    (CAST(d.x AS DOUBLE) - CAST(gr.x0 AS DOUBLE)) / 150.0 AS u
        |  FROM daily d JOIN grid gr ON gr.g = d.g
        |  WHERE abs(d.x - gr.x0) < 150.0),
        |t1 AS (SELECT g, x0, x, y, abs(u) * abs(u) * abs(u) AS au3
        |       FROM t0),
        |t2 AS (SELECT g, x0, x, y,
        |    (1.0 - au3) * (1.0 - au3) * (1.0 - au3) AS tri
        |  FROM t1),
        |m AS (
        |  SELECT g, x0, CAST(COUNT(*) AS BIGINT) AS n_local,
        |    CAST(SUM(CAST(tri AS DECIMAL(38,12))) AS DECIMAL(38,12))
        |      AS sw,
        |    CAST(SUM(CAST(tri * CAST(x AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DECIMAL(38,12)) AS swx,
        |    CAST(SUM(CAST(tri * CAST(y AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DECIMAL(38,12)) AS swy,
        |    CAST(SUM(CAST(tri * CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |      AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS swxx,
        |    CAST(SUM(CAST(tri * CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
        |      AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS swxy
        |  FROM t2 GROUP BY 1, 2)
        |SELECT g AS l_returnflag, x0, n_local,
        |  CASE WHEN CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
        |      - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE) > 0
        |    THEN ((CAST(swy AS DOUBLE)
        |        - ((CAST(sw AS DOUBLE) * CAST(swxy AS DOUBLE)
        |            - CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE))
        |          / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
        |            - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)))
        |          * CAST(swx AS DOUBLE)) / CAST(sw AS DOUBLE)
        |      + ((CAST(sw AS DOUBLE) * CAST(swxy AS DOUBLE)
        |          - CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE))
        |        / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
        |          - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)))
        |        * CAST(x0 AS DOUBLE)) / 100.0 END AS yhat
        |FROM m WHERE n_local >= 3 ORDER BY 1, 2""".stripMargin),
    "q375_dispersion" -> Query(q375Dispersion,
      """WITH daily AS (
        |  SELECT event_type AS g,
        |    CAST(datediff('day', DATE '1992-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS k
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT g, MIN(day) AS mn, MAX(day) AS mx
        |         FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT s.g, CAST(unnest(generate_series(mn, mx, 1)) AS BIGINT)
        |    AS day
        |  FROM span s),
        |filled AS (
        |  SELECT gr.g, gr.day, COALESCE(d.k, 0) AS k
        |  FROM grid gr LEFT JOIN daily d
        |    ON d.g = gr.g AND d.day = gr.day),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(k) AS BIGINT) AS s,
        |    CAST(SUM(CAST(k AS DECIMAL(38,0)) * CAST(k AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s2
        |  FROM filled GROUP BY 1),
        |f AS (
        |  SELECT g, n,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    CAST(CAST(n AS DECIMAL(38,0)) * s2
        |        - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))
        |        AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS varr
        |  FROM m WHERE n > 1 AND s > 0)
        |SELECT g AS event_type, n AS n_days, mean AS mean_per_day,
        |  varr AS var_per_day, varr / mean AS dispersion,
        |  CAST(n - 1 AS DOUBLE) * (varr / mean) AS chi2
        |FROM f ORDER BY 1""".stripMargin),
    "q377_frequency_movers" -> Query(q377FrequencyMovers,
      """WITH c AS (
        |  SELECT l_partkey AS k,
        |    CAST(SUM(CASE WHEN datediff('day', DATE '1992-01-01',
        |        l_shipdate) < datediff('day', DATE '1992-01-01',
        |        DATE '1995-06-17') THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN datediff('day', DATE '1992-01-01',
        |        l_shipdate) < datediff('day', DATE '1992-01-01',
        |        DATE '1995-06-17') THEN 0 ELSE 1 END) AS BIGINT) AS n2
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1,
        |        CAST(SUM(n2) AS BIGINT) AS t2 FROM c),
        |z AS (
        |  SELECT k, n1, n2,
        |    (CAST(n2 AS DOUBLE) / CAST(t2 AS DOUBLE)
        |      - CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE))
        |    / sqrt((CAST(n1 + n2 AS DOUBLE) / CAST(t1 + t2 AS DOUBLE))
        |      * (1.0 - CAST(n1 + n2 AS DOUBLE) / CAST(t1 + t2 AS DOUBLE))
        |      * (1.0 / CAST(t1 AS DOUBLE) + 1.0 / CAST(t2 AS DOUBLE)))
        |      AS z
        |  FROM c CROSS JOIN t WHERE n1 + n2 > 0)
        |SELECT k AS l_partkey, n1 AS n_early, n2 AS n_late, z
        |FROM z WHERE abs(z) >= 3.0 ORDER BY 1""".stripMargin),
    "q378_newey_west" -> Query(q378NeweyWest,
      """WITH daily AS (
        |  SELECT l_returnflag AS g,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxy
        |  FROM daily GROUP BY g),
        |f0 AS (
        |  SELECT g, n, sx,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sxx
        |      - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
        |      AS DECIMAL(38,0)) AS vx,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sxy
        |      - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
        |      AS DOUBLE)
        |    / CAST(CAST(n AS DECIMAL(38,0)) * sxx
        |      - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
        |      AS DOUBLE) AS b,
        |    sy
        |  FROM m),
        |f1 AS (
        |  SELECT g, n, sx, vx, b,
        |    (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE) AS a
        |  FROM f0 WHERE vx > 0 AND n > 2),
        |sc AS (
        |  SELECT d.g, d.x, f.n, f.vx, f.b,
        |    (f.n * d.x - f.sx) * CAST(FLOOR(CAST(d.y AS DOUBLE) - f.a
        |      - f.b * CAST(d.x AS DOUBLE)) AS BIGINT) AS u
        |  FROM daily d JOIN f1 f ON f.g = d.g),
        |lg AS (
        |  SELECT g, n, vx, b, u,
        |    LAG(u, 1) OVER w AS u_1, LAG(u, 2) OVER w AS u_2,
        |    LAG(u, 3) OVER w AS u_3, LAG(u, 4) OVER w AS u_4,
        |    LAG(u, 5) OVER w AS u_5, LAG(u, 6) OVER w AS u_6,
        |    LAG(u, 7) OVER w AS u_7
        |  FROM sc WINDOW w AS (PARTITION BY g ORDER BY x)),
        |vm AS (
        |  SELECT g, MAX(n) AS n, MAX(vx) AS vx, MAX(b) AS b,
        |    CAST(SUM(CAST(u AS DECIMAL(38,0)) * CAST(u AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s0,
        |    CAST(SUM(CAST(u AS DECIMAL(38,0)) * CAST(u_1 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s1,
        |    CAST(SUM(CAST(u AS DECIMAL(38,0)) * CAST(u_2 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s2,
        |    CAST(SUM(CAST(u AS DECIMAL(38,0)) * CAST(u_3 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s3,
        |    CAST(SUM(CAST(u AS DECIMAL(38,0)) * CAST(u_4 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s4,
        |    CAST(SUM(CAST(u AS DECIMAL(38,0)) * CAST(u_5 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s5,
        |    CAST(SUM(CAST(u AS DECIMAL(38,0)) * CAST(u_6 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s6,
        |    CAST(SUM(CAST(u AS DECIMAL(38,0)) * CAST(u_7 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s7
        |  FROM lg GROUP BY g),
        |fin AS (
        |  SELECT g, n, b,
        |    sqrt((((((((CAST(s0 AS DOUBLE)
        |      + 2.0 * (1.0 - 1.0 / 8.0) * CAST(s1 AS DOUBLE))
        |      + 2.0 * (1.0 - 2.0 / 8.0) * CAST(s2 AS DOUBLE))
        |      + 2.0 * (1.0 - 3.0 / 8.0) * CAST(s3 AS DOUBLE))
        |      + 2.0 * (1.0 - 4.0 / 8.0) * CAST(s4 AS DOUBLE))
        |      + 2.0 * (1.0 - 5.0 / 8.0) * CAST(s5 AS DOUBLE))
        |      + 2.0 * (1.0 - 6.0 / 8.0) * CAST(s6 AS DOUBLE))
        |      + 2.0 * (1.0 - 7.0 / 8.0) * CAST(s7 AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        * (CAST(vx AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(vx AS DOUBLE) / CAST(n AS DOUBLE)))) AS se_nw
        |  FROM vm)
        |SELECT g AS l_returnflag, n AS n_days, b AS slope, se_nw,
        |  b / se_nw AS t_nw
        |FROM fin ORDER BY 1""".stripMargin),
    "q379_quantile_shift" -> Query(q379QuantileShift,
      """WITH base AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS vc,
        |    CASE WHEN datediff('day', DATE '1992-01-01', l_shipdate)
        |      < datediff('day', DATE '1992-01-01', DATE '1995-06-17')
        |      THEN 0 ELSE 1 END AS h
        |  FROM lineitem),
        |hist AS (
        |  SELECT h, vc, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM base GROUP BY 1, 2),
        |cum AS (
        |  SELECT h, vc,
        |    CAST(SUM(cnt) OVER (PARTITION BY h ORDER BY vc
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(SUM(cnt) OVER (PARTITION BY h) AS BIGINT) AS n
        |  FROM hist),
        |qs AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS d),
        |quant AS (
        |  SELECT h, d, CAST(MIN(vc) AS BIGINT) AS q
        |  FROM cum CROSS JOIN qs
        |  WHERE cum >= CAST(CEIL(CAST(n AS DOUBLE) * CAST(d AS DOUBLE)
        |    / 10.0) AS BIGINT)
        |  GROUP BY 1, 2)
        |SELECT e.d AS decile, e.q AS q_early_c, l.q AS q_late_c,
        |  CAST(l.q - e.q AS BIGINT) AS shift_c,
        |  CAST(l.q - e.q AS DOUBLE) / CAST(e.q AS DOUBLE) AS shift_frac
        |FROM (SELECT d, q FROM quant WHERE h = 0) e
        |JOIN (SELECT d, q FROM quant WHERE h = 1) l USING (d)
        |ORDER BY decile""".stripMargin),
    "q381_exponential_hazard" -> Query(q381ExponentialHazard,
      """WITH per AS (
        |  SELECT o_custkey AS c,
        |    CAST(MIN(datediff('day', DATE '1992-01-01', o_orderdate))
        |      AS BIGINT) AS fd,
        |    CAST(MAX(datediff('day', DATE '1992-01-01', o_orderdate))
        |      AS BIGINT) AS ld
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT CAST(MAX(ld) AS BIGINT) AS mxd FROM per),
        |sc AS (
        |  SELECT cu.c_mktsegment AS seg, per.ld - per.fd + 1 AS exp_days,
        |    CASE WHEN per.ld < mx.mxd - 180 THEN 1 ELSE 0 END AS ev
        |  FROM per CROSS JOIN mx
        |  JOIN customer cu ON cu.c_custkey = per.c),
        |bseg AS (
        |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |    CAST(SUM(ev) AS BIGINT) AS n_churned,
        |    CAST(SUM(exp_days) AS BIGINT) AS exposure_days
        |  FROM sc GROUP BY 1),
        |tall AS (
        |  SELECT CAST(SUM(n_churned) AS BIGINT) AS d_all,
        |    CAST(SUM(exposure_days) AS BIGINT) AS e_all
        |  FROM bseg)
        |SELECT seg, n_cust, n_churned, exposure_days,
        |  CAST(n_churned AS DOUBLE) / CAST(exposure_days AS DOUBLE)
        |    * 1000.0 AS lambda_per_kday,
        |  (CAST(n_churned AS DOUBLE) / CAST(exposure_days AS DOUBLE))
        |    / (CAST(d_all AS DOUBLE) / CAST(e_all AS DOUBLE))
        |    AS hazard_ratio,
        |  (CAST(n_churned AS DOUBLE) / CAST(exposure_days AS DOUBLE))
        |    / (CAST(d_all AS DOUBLE) / CAST(e_all AS DOUBLE))
        |    * exp(0.0 - 1.96 / sqrt(CAST(n_churned AS DOUBLE)))
        |    AS hr_ci_lo,
        |  (CAST(n_churned AS DOUBLE) / CAST(exposure_days AS DOUBLE))
        |    / (CAST(d_all AS DOUBLE) / CAST(e_all AS DOUBLE))
        |    * exp(1.96 / sqrt(CAST(n_churned AS DOUBLE))) AS hr_ci_hi
        |FROM bseg CROSS JOIN tall
        |WHERE n_churned > 0 AND exposure_days > 0
        |ORDER BY seg""".stripMargin),
    "q386_herfindahl" -> Query(q386Herfindahl,
      """WITH cells AS (
        |  SELECT s.s_nationkey AS mkt, l.l_suppkey AS mem,
        |    CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT mkt, CAST(SUM(v) AS BIGINT) AS t,
        |    CAST(COUNT(*) AS BIGINT) AS n_members
        |  FROM cells GROUP BY 1),
        |h AS (
        |  SELECT c.mkt, tot.n_members,
        |    CAST(SUM(CAST((CAST(c.v AS DOUBLE) / CAST(tot.t AS DOUBLE))
        |      * (CAST(c.v AS DOUBLE) / CAST(tot.t AS DOUBLE))
        |      AS DECIMAL(38,18))) AS DECIMAL(38,18)) AS hhi
        |  FROM cells c JOIN tot ON tot.mkt = c.mkt AND tot.t > 0
        |  GROUP BY 1, 2)
        |SELECT mkt AS s_nationkey, n_members, CAST(hhi AS DOUBLE) AS hhi,
        |  1.0 / CAST(hhi AS DOUBLE) AS effective_members
        |FROM h ORDER BY 1""".stripMargin),
    "q387_coverage_counts" -> Query(q387CoverageCounts,
      """WITH cells AS (
        |  SELECT s.s_nationkey AS mkt, l.l_suppkey AS mem,
        |    CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT mkt,
        |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rk,
        |    CAST(SUM(v) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS cum,
        |    CAST(SUM(v) OVER (PARTITION BY mkt) AS BIGINT) AS t
        |  FROM cells
        |  WINDOW w AS (PARTITION BY mkt ORDER BY v DESC, mem))
        |SELECT mkt AS s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(MIN(CASE WHEN cum * 100 >= 50 * t THEN rk END) AS BIGINT)
        |    AS n50,
        |  CAST(MIN(CASE WHEN cum * 100 >= 80 * t THEN rk END) AS BIGINT)
        |    AS n80,
        |  CAST(MIN(CASE WHEN cum * 100 >= 95 * t THEN rk END) AS BIGINT)
        |    AS n95
        |FROM cum WHERE t > 0 GROUP BY 1 ORDER BY 1""".stripMargin))

  // lazy: referenced by `declared` above in object-initialization order
  private lazy val cusumSql: String =
      """WITH e AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS us,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vu
        |  FROM events),
        |m AS (
        |  SELECT *, CAST(CAST(SUM(vu) OVER (PARTITION BY event_type)
        |      AS HUGEINT)
        |    // (COUNT(*) OVER (PARTITION BY event_type)) AS BIGINT) AS muu
        |  FROM e),
        |d AS (
        |  SELECT *, vu - muu - 5000000 AS dev
        |  FROM m),
        |p AS (
        |  SELECT *, CAST(SUM(dev) OVER (PARTITION BY event_type
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pf
        |  FROM d),
        |r AS (
        |  SELECT *, MIN(pf) OVER (PARTITION BY event_type
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS runmin
        |  FROM p),
        |s AS (
        |  SELECT event_type, us, pf - LEAST(0, runmin) AS sp
        |  FROM r)
        |SELECT event_type,
        |  CAST(SUM(CASE WHEN sp > 40000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alarms,
        |  CAST(MAX(sp) AS DOUBLE) / 1000000.0 AS peak_cusum,
        |  MIN(CASE WHEN sp > 40000000 THEN us END) AS first_alarm_us
        |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin
}
