package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge

/** Deterministic, engine-reproducible sampling for training-data pipelines.
  *
  * `df.sample` / `sampleBy` draw from a per-partition PRNG: the sample
  * changes with partition layout, reruns aren't reproducible across
  * repartitions, and no external system can verify membership. Here each
  * row's inclusion is a pure function of its KEY: the MD5-derived 64-bit
  * hash of `key:seed` mapped to a uniform double in [0, 1), sampled iff
  * u < fraction. Properties a 100 TB pipeline needs:
  *
  *  - deterministic under any partitioning, repartition, or rerun;
  *  - stable under data growth: a row's membership never changes when other
  *    rows appear (consistent train/eval splits across dataset versions);
  *  - seed changes decorrelate samples (disjoint-ish overlap at p1·p2);
  *  - externally verifiable: MD5 is bit-identical everywhere, so an oracle
  *    recomputes the EXACT member set (q70) — no statistical acceptance.
  *
  * The hash is a projection: sampling pushes into the scan, costs no
  * shuffle, and composes with every downstream operator.
  */
object Sampling {

  /** Uniform [0, 1) double derived from the row key: top 53 bits of
    * md5_hash64(key || ':' || seed) over 2^53 — exactly representable, and
    * reproducible in SQL as `(hu >> 11) / 2^53` on the unsigned value. */
  def uniformFromKey(key: Column, seed: Long): Column = {
    val h = GraftBridge.column(graft.functions.Md5Hash64(
      GraftBridge.expression(concat(key.cast("string"), lit(":" + seed)))))
    // logical shift brings the signed long into [0, 2^53)
    shiftrightunsigned(h, 11).cast("double") / lit((1L << 53).toDouble)
  }

  /** Keep each row iff its key's uniform draw is below `fraction`. */
  def deterministicSample(df: DataFrame, keyCol: String, fraction: Double,
      seed: Long = 42L): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1], got $fraction")
    df.filter(uniformFromKey(col(keyCol), seed) < lit(fraction))
  }

  /** Per-stratum fractions (missing strata keep nothing). */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame = {
    require(fractions.nonEmpty, "at least one stratum fraction required")
    val u = uniformFromKey(col(keyCol), seed)
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (stratum, f)) =>
      when(col(strataCol) === stratum, lit(f)).otherwise(acc)
    }
    df.filter(u < frac)
  }

  /** Disjoint train/eval/test split by key: assigns each row to the first
    * bucket whose cumulative fraction exceeds its uniform draw. Adding or
    * removing OTHER rows never moves a row between splits. */
  def splitByKey(df: DataFrame, keyCol: String, fractions: Seq[(String, Double)],
      seed: Long = 42L): DataFrame = {
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val u = uniformFromKey(col(keyCol), seed)
    val cum = fractions.scanLeft(0.0)(_ + _._2).tail
    val assign = fractions.zip(cum).reverse.foldLeft(lit(fractions.last._1)) {
      case (acc, ((name, _), hi)) => when(u < hi, lit(name)).otherwise(acc)
    }
    df.withColumn("split", assign)
  }

  /** Weighted Bernoulli sample: keep a row iff u < min(1, rate·w) — each
    * row's inclusion probability proportional to its weight (clamped at 1),
    * deterministic in the row KEY exactly like [[deterministicSample]].
    * The training-mix use: weight = token count or quality score, so
    * higher-value documents are over-sampled REPRODUCIBLY — same sample
    * under any partitioning, rerun, or corpus growth, and externally
    * auditable. Prefer a power-of-two `1/rate` (the q79 oracle uses
    * w/2048): scaling by 2^−k only shifts the exponent, so the threshold
    * is bit-identical in every IEEE engine and membership stays
    * hash-exact, not approximately-equal. */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column,
      ratePerUnit: Double, seed: Long = 42L): DataFrame = {
    require(ratePerUnit > 0, s"ratePerUnit must be positive, got $ratePerUnit")
    df.filter(uniformFromKey(col(keyCol), seed) <
      least(lit(1.0), weight.cast("double") * lit(ratePerUnit)))
  }

  /** EXACT-SIZE per-stratum sample: the `k` rows of each stratum whose
    * key-derived uniform draws are smallest (ties to the smaller key) —
    * "give me exactly 30 docs per language, reproducibly". Deterministic
    * under any partitioning and rerun like every sampler here; unlike the
    * fraction-based samplers it is NOT growth-stable (a new row with a
    * smaller draw displaces the current k-th — inherent to any exact-k
    * contract; use [[deterministicSample]] when stability across corpus
    * versions matters more than exact size).
    *
    * Scale shape: the rank filter compiles to WindowGroupLimit (Spark
    * 3.5+), which takes the per-partition top-k BEFORE the stratum
    * shuffle — so the shuffle carries at most k·partitions rows per
    * stratum, not the stratum. ScaleSpec pins the plan. */
  def fixedSizeSample(df: DataFrame, strataCol: String, keyCol: String,
      k: Int, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(uniformFromKey(col(keyCol), seed), col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** QUOTA resampling — down-sample each stratum to ≈ a target row budget:
    * rate_s = min(1, quota_s / n_s) with n_s the stratum's CURRENT count,
    * membership the same deterministic key-hash draw as every sampler here.
    * This is training-mix rebalancing ("cap web crawl at N docs, keep all
    * of wikipedia") where the caller states the TARGET, not the rate — the
    * rate falls out of the data.
    *
    * Strata absent from `quotas` keep nothing (explicit budget or drop —
    * the safe default for curation). Two passes at scale: a column-pruned
    * count of the strata column (tiny agg — stratum cardinality rows —
    * broadcast back), then the scan-level membership filter; no row-level
    * shuffle ever carries the data. Both the counts and the division are
    * exact (IEEE double of exact longs), so an oracle recomputes the EXACT
    * member set. */
  def quotaSample(df: DataFrame, strataCol: String, keyCol: String,
      quotas: Map[String, Long], seed: Long = 42L): DataFrame = {
    require(quotas.nonEmpty, "at least one stratum quota required")
    require(quotas.values.forall(_ >= 0), "quotas must be >= 0")
    val quotaCol = quotas.foldLeft(lit(null).cast("double")) { case (acc, (s, q)) =>
      when(col(strataCol) === s, lit(q.toDouble)).otherwise(acc)
    }
    // NOTE: least() skips NULLs in both Spark and DuckDB, so a missing
    // quota must become rate 0 BEFORE the clamp, not after
    val rates = df.groupBy(strataCol).agg(count(lit(1)).as("__n"))
      .withColumn("__rate", when(quotaCol.isNull, lit(0.0))
        .otherwise(least(lit(1.0), quotaCol / col("__n").cast("double"))))
      .select(col(strataCol), col("__rate"))
    df.join(broadcast(rates), Seq(strataCol))
      .filter(uniformFromKey(col(keyCol), seed) < col("__rate"))
      .select(df.columns.map(col): _*)
  }

  /** Stratified document sample — 50% of en, 20% of every other language —
    * emitting the member ids themselves: the oracle recomputes the EXACT
    * member set from first principles (md5 → uniform → threshold), so the
    * gate is strict hash equality on membership, not a rate envelope. */
  def q70StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val langs = Seq("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.2, "ja" -> 0.2)
    stratifiedSample(docs, "lang", "doc_id", langs.toMap)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Train/eval/test split audit: per (lang, split) counts. Exact oracle —
    * the split assignment is a pure function of doc_id. */
  def q71SplitByKey(spark: SparkSession, dir: String): DataFrame =
    splitByKey(Tables.documents(spark, dir), "doc_id",
        Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
      .orderBy("lang", "split")

  /** Length-weighted document sample: inclusion probability n_chars/2048
    * (clamped at 1) — longer documents over-sampled in exact proportion.
    * 2048 is a power of two, so the per-row threshold is the exact scaling
    * of an exact integer and the oracle recomputes the IDENTICAL member
    * set (strict hash gate on membership, like q70). */
  def q79WeightedSample(spark: SparkSession, dir: String): DataFrame =
    weightedSample(Tables.documents(spark, dir), "doc_id", col("n_chars"),
        1.0 / 2048.0)
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")

  /** Exactly 30 docs per language, membership hash-exact against the
    * oracle's identical (u, doc_id) ranking. */
  def q84FixedSizeSample(spark: SparkSession, dir: String): DataFrame =
    fixedSizeSample(Tables.documents(spark, dir), "lang", "doc_id", 30)
      .select(col("lang"), col("doc_id"))
      .orderBy("lang", "doc_id")

  /** Budget-targeted source rebalance: keep ~10 docs of src0, ~40 of src1
    * (above the sf0.01 stratum size — clamps to keep-all), ~15 of src2, ~5
    * of src3, nothing else. The oracle recomputes counts, rates, and the
    * EXACT member set from first principles — strict hash gate. */
  def q94QuotaSample(spark: SparkSession, dir: String): DataFrame =
    quotaSample(Tables.documents(spark, dir), "source", "doc_id",
        Map("src0" -> 10L, "src1" -> 40L, "src2" -> 15L, "src3" -> 5L))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  /** Training-mixture weights over corpus domains: temperature-scaled
    * (α = 0.5) sampling weights from per-domain token mass, plus the token
    * allocation and implied epoch count under a fixed training budget.
    *
    * w_d ∝ T_d^α — α = 0.5 keeps head domains from drowning the tail (the
    * UniMax/multilingual-sampling move) while still favoring bigger pools.
    * α is fixed at 0.5 deliberately: T^0.5 is `sqrt`, which IEEE requires
    * correctly rounded in every engine, whereas a general `pow` is not —
    * so the declared query can hash-gate bit-exactly. The per-domain
    * sqrt terms are DECIMAL-quantized before the denominator sum, making
    * the normalization order-independent (the q126 discipline).
    *
    * One aggregation pass over the corpus (token counting folds into the
    * groupBy's partial aggregates); the domain table is tiny, so the
    * denominator cross-join broadcasts one row. epochs_d > 1 flags domains
    * the budget would force to repeat — the signal mixture designers act
    * on. */
  def mixtureWeights(df: DataFrame, domainCols: Seq[String],
      textCol: String, budgetTokens: Long): DataFrame = {
    require(domainCols.nonEmpty, "at least one domain column")
    require(budgetTokens > 0, s"budget must be positive: $budgetTokens")
    val dom = df.groupBy(domainCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col(textCol))).as("n_tokens"))
      .withColumn("__s",
        sqrt(col("n_tokens").cast("double")).cast("decimal(28,12)"))
    val denom = dom.agg(sum(col("__s")).as("__denom"))
    dom.crossJoin(denom) // 1-row build side
      .withColumn("weight",
        col("__s").cast("double") / col("__denom").cast("double"))
      .select(domainCols.map(col) ++ Seq(
        col("n_docs"), col("n_tokens"), col("weight"),
        (col("weight") * lit(budgetTokens)).as("alloc_tokens"),
        (col("weight") * lit(budgetTokens) / col("n_tokens"))
          .as("epochs")): _*)
      .orderBy(domainCols.map(col): _*)
  }

  /** Mixture weights per (source, lang) under a 10M-token budget. Strict
    * hash gate: exact integer token mass, correctly-rounded sqrt, decimal
    * denominator, identically-ordered double expressions. */
  def q149MixtureWeights(spark: SparkSession, dir: String): DataFrame =
    mixtureWeights(Tables.documents(spark, dir), Seq("source", "lang"),
      "text", budgetTokens = 10000000L)

  /** Approximate query processing (AQP): per-group COUNT/SUM estimated by
    * Horvitz–Thompson scale-up (x/p) of the deterministic `fraction`
    * hash-sample, reported next to the exact aggregates with relative
    * errors — the "answer the dashboard from 10% of the scan" primitive,
    * with its accuracy report attached.
    *
    * This REPORT query computes both sides in one conditional-aggregate
    * scan (the gate needs the exact twin); a production AQP call runs
    * only the sampled branch, where the hash predicate is a projection
    * pushed to the scan — a 1/p cost reduction with zero extra shuffle.
    * Money values ride the exact centi-unit grid; the only doubles are
    * the final scale-up divisions and error ratios, expression-shape
    * pinned. */
  def sampleAggregateEstimate(df: DataFrame, keyCol: Column, groupCol: String,
      valueCol: String, fraction: Double, seed: Long = 42L): DataFrame = {
    require(fraction > 0.0 && fraction < 1.0,
      s"fraction must be in (0,1): $fraction")
    val in = uniformFromKey(keyCol, seed) < lit(fraction)
    val v100 = (col(valueCol).cast("decimal(18,2)") * 100).cast("long")
    df.withColumn("__in", in).withColumn("__v100", v100)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_exact"),
        sum(col("__v100")).as("__sx"),
        sum(when(col("__in"), 1L).otherwise(0L)).as("n_sample"),
        sum(when(col("__in"), col("__v100")).otherwise(0L)).as("__ss"))
      .select(col(groupCol), col("n_exact"), col("n_sample"),
        (col("n_sample").cast("double") / lit(fraction)).as("n_est"),
        (col("__sx").cast("double") / lit(100.0)).as("sum_exact"),
        (col("__ss").cast("double") / lit(100.0) / lit(fraction))
          .as("sum_est"))
      .withColumn("rel_err_sum",
        abs(col("sum_est") - col("sum_exact")) / col("sum_exact"))
      .orderBy(groupCol)
  }

  /** Revenue per return flag estimated from the deterministic 10% sample,
    * with exact twins and relative errors. Strict hash gate: the oracle
    * recomputes the md5 sample membership and every division from first
    * principles. */
  def q184SampleEstimate(spark: SparkSession, dir: String): DataFrame =
    sampleAggregateEstimate(Tables.lineitem(spark, dir),
      concat(col("l_orderkey"), lit("_"), col("l_linenumber")),
      "l_returnflag", "l_extendedprice", fraction = 0.1)

  /** Kish design diagnostics for a weighted sample: effective sample
    * size n_eff = (Σw)²/Σw² and the design effect deff = n·Σw²/(Σw)²
    * (Kish 1965) — how much variance the weighting costs vs an
    * equal-weight sample of the same n, the number every weighted
    * estimate's CI must be widened by. One map-side-combined scan to
    * exact integer weight moments per stratum; the ratios are fixed
    * double shapes. Weighted mean of the value column rides the same
    * scan. */
  def designEffect(df: DataFrame, groupCol: String, weightCol: Column,
      valCol: Column): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val base = df.select(col(groupCol).as("g"),
      floor(weightCol).cast("long").as("w"),
      (valCol.cast("decimal(18,2)") * 100).cast("long").as("yc"))
    base.groupBy("g").agg(
        count(lit(1)).as("n"), sum("w").as("sw"),
        sum(d(col("w")) * d(col("w"))).cast("decimal(38,0)").as("sw2"),
        sum(d(col("w")) * d(col("yc"))).cast("decimal(38,0)").as("swy"))
      .filter(col("sw") > 0)
      .select(col("g").as(groupCol), col("n"),
        (dd(col("sw")) * dd(col("sw")) / dd(col("sw2"))).as("n_eff"),
        (dd(col("n")) * dd(col("sw2")) / (dd(col("sw")) * dd(col("sw"))))
          .as("deff"),
        (dd(col("swy")) / dd(col("sw")) / 100.0).as("weighted_mean"))
      .orderBy(groupCol)
  }

  /** If lineitems were quantity-weighted draws, how much design effect
    * does the weighting carry per return flag. */
  def q368DesignEffect(spark: SparkSession, dir: String): DataFrame =
    designEffect(Tables.lineitem(spark, dir), "l_returnflag",
      col("l_quantity"), col("l_extendedprice"))

  /** Neyman optimal allocation (Neyman 1934): split a sampling/labeling
    * budget across strata ∝ N_h·σ_h — the minimum-variance allocation
    * for a stratified mean, and THE answer to "where do the annotation
    * dollars go": big AND internally-diverse strata get the samples, a
    * huge-but-constant stratum gets almost none. Reported next to the
    * proportional allocation (∝ N_h) it improves on. Integerization is
    * the largest-remainder method (floor every share, hand the leftover
    * units to the largest fractional remainders, stratum-name
    * tie-break) — allocations sum EXACTLY to the budget, deterministic.
    *
    * Exactness: per-stratum moments are exact centi-cent DECIMAL sums
    * from ONE map-side-combined scan; σ_h = √(N·Σx² − (Σx)²)/N is a
    * fixed double shape (IEEE sqrt is correctly rounded — no libm
    * drift), and the remainder ranking compares doubles both engines
    * derive identically. The k-strata frame rides driver-free windows
    * (statistic-frame-sized). Degenerate: a zero-variance stratum has
    * weight 0 → 0 Neyman samples (the estimator needs none — its mean
    * is known exactly); an ALL-constant population (ΣN_hσ_h = 0) yields
    * NULL Neyman allocations (undefined) with proportional intact. */
  def neymanAllocation(df: DataFrame, strataCol: String, valCol: String,
      budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1: $budget")
    val per = df.select(col(strataCol).as("g"),
      (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("x"))
    val m = per.groupBy("g").agg(count(lit(1)).as("n"),
      sum(d380(col("x"))).cast("decimal(38,0)").as("sx"),
      sum(d380(col("x")) * col("x")).cast("decimal(38,0)").as("sxx"))
    val sd = (sqrt(dd(col("n")) * dd(col("sxx")) -
      dd(col("sx")) * dd(col("sx"))) / dd(col("n")) / 100.0).as("sd")
    val w = m.select(col("g"), col("n"), sd)
      .withColumn("wgt", dd(col("n")) * col("sd"))
    val wTot = Window.partitionBy() // k-strata statistic frame
    // largest-remainder integerization, shared by both allocations
    def lr(share: Column): Column = {
      val ideal = share * budget.toDouble
      val base = floor(ideal).cast("long")
      val rem = ideal - base
      // rank remainders desc (stratum asc tiebreak); top (budget − Σbase)
      // strata get one extra unit
      val rk = row_number().over(Window.partitionBy()
        .orderBy(rem.desc, col("g").asc))
      base + when(rk <= lit(budget) - sum(base).over(wTot), 1L)
        .otherwise(0L)
    }
    // ANSI guard: the division must be conditional ITSELF — window sort
    // keys inside lr() evaluate for every row regardless of the outer
    // when(), so w_tot = 0 would throw DIVIDE_BY_ZERO before the NULL
    // branch ever applies
    val neyShare =
      when(col("w_tot") > 0, col("wgt") / col("w_tot")).otherwise(lit(0.0))
    w.withColumn("w_tot", sum("wgt").over(wTot))
      .withColumn("n_tot", sum("n").over(wTot))
      .withColumn("alloc_neyman",
        when(col("w_tot") > 0, lr(neyShare)))
      .withColumn("alloc_proportional",
        lr(dd(col("n")) / dd(col("n_tot"))))
      .select(col("g").as(strataCol), col("n").as("n_pop"), col("sd"),
        when(col("w_tot") > 0, col("wgt") / col("w_tot"))
          .as("share_neyman"),
        col("alloc_neyman"), col("alloc_proportional"))
      .orderBy(strataCol)
  }

  /** Where should 1,000 audit samples go across order priorities —
    * Neyman vs proportional allocation over order value. */
  def q423NeymanAllocation(spark: SparkSession, dir: String): DataFrame =
    neymanAllocation(Tables.orders(spark, dir), "o_orderpriority",
      "o_totalprice", budget = 1000L)

  /** CTE computing the uniform draw per document, reproduced from first
    * principles (same md5 derivation as the q46 simhash oracle). */
  private def uniformCte(seed: Long): String =
    s"""WITH h AS (
       |  SELECT doc_id, lang, source, n_chars, substr(md5(doc_id::VARCHAR || ':$seed'), 1, 16) AS s
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, lang, source, n_chars,
       |    ((list_sum([ (strpos('0123456789abcdef', s[i]) - 1)::HUGEINT * (1::HUGEINT << (4*(16-i)))
       |                 FOR i IN range(1, 17) ]) >> 11))::DOUBLE / 9007199254740992.0 AS u
       |  FROM h)""".stripMargin

  val declared: Map[String, Query] = Map(
    "q423_neyman_allocation" -> Query(q423NeymanAllocation,
      """WITH per AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
        |      AS sxx
        |  FROM per GROUP BY g),
        |w AS (
        |  SELECT g, n,
        |    sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE) / 100.0 AS sd
        |  FROM m),
        |w2 AS (
        |  SELECT g, n, sd, CAST(n AS DOUBLE) * sd AS wgt,
        |    SUM(CAST(n AS DOUBLE) * sd) OVER () AS w_tot,
        |    SUM(n) OVER () AS n_tot
        |  FROM w),
        |ideals AS (
        |  SELECT g, n, sd, wgt / w_tot AS share_ney,
        |    wgt / w_tot * 1000.0 AS iney,
        |    CAST(n AS DOUBLE) / CAST(n_tot AS DOUBLE) * 1000.0 AS iprop
        |  FROM w2),
        |fl AS (
        |  SELECT g, n, sd, share_ney,
        |    CAST(floor(iney) AS BIGINT) AS bn, iney - floor(iney) AS rn,
        |    CAST(floor(iprop) AS BIGINT) AS bp,
        |    iprop - floor(iprop) AS rp
        |  FROM ideals),
        |rk AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (ORDER BY rn DESC, g ASC) AS kn,
        |    ROW_NUMBER() OVER (ORDER BY rp DESC, g ASC) AS kp,
        |    SUM(bn) OVER () AS sbn, SUM(bp) OVER () AS sbp
        |  FROM fl)
        |SELECT g AS o_orderpriority, n AS n_pop, sd, share_ney
        |    AS share_neyman,
        |  bn + CASE WHEN kn <= 1000 - sbn THEN 1 ELSE 0 END
        |    AS alloc_neyman,
        |  bp + CASE WHEN kp <= 1000 - sbp THEN 1 ELSE 0 END
        |    AS alloc_proportional
        |FROM rk
        |ORDER BY 1""".stripMargin),
    // md5 membership from first principles, centi-exact sums, the same
    // scale-up division chain
    "q184_sample_estimate" -> Query(q184SampleEstimate,
      """WITH h AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v100,
        |    substr(md5(l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR
        |      || ':42'), 1, 16) AS s
        |  FROM lineitem),
        |d AS (
        |  SELECT l_returnflag, v100,
        |    ((list_sum([ (strpos('0123456789abcdef', s[i]) - 1)::HUGEINT
        |                 * (1::HUGEINT << (4*(16-i)))
        |                 FOR i IN range(1, 17) ]) >> 11))::DOUBLE
        |      / 9007199254740992.0 AS u
        |  FROM h),
        |a AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS BIGINT) AS n_exact,
        |    CAST(SUM(v100) AS BIGINT) AS sx,
        |    CAST(SUM(CASE WHEN u < 0.1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_sample,
        |    CAST(SUM(CASE WHEN u < 0.1 THEN v100 ELSE 0 END) AS BIGINT)
        |      AS ss
        |  FROM d GROUP BY 1)
        |SELECT l_returnflag, n_exact, n_sample,
        |  CAST(n_sample AS DOUBLE) / 0.1 AS n_est,
        |  CAST(sx AS DOUBLE) / 100.0 AS sum_exact,
        |  CAST(ss AS DOUBLE) / 100.0 / 0.1 AS sum_est,
        |  ABS(CAST(ss AS DOUBLE) / 100.0 / 0.1 - CAST(sx AS DOUBLE) / 100.0)
        |    / (CAST(sx AS DOUBLE) / 100.0) AS rel_err_sum
        |FROM a ORDER BY l_returnflag""".stripMargin),
    "q70_stratified_sample" -> Query(q70StratifiedSample,
      s"""${uniformCte(42L)}
         |SELECT doc_id, lang FROM d
         |WHERE u < CASE WHEN lang = 'en' THEN 0.5
         |              WHEN lang IN ('de','fr','es','ja') THEN 0.2
         |              ELSE 0.0 END
         |ORDER BY doc_id""".stripMargin),
    "q71_split_by_key" -> Query(q71SplitByKey,
      s"""${uniformCte(42L)}
         |SELECT lang,
         |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'eval' ELSE 'test' END AS split,
         |  COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
         |FROM d GROUP BY 1, 2 ORDER BY lang, split""".stripMargin),
    "q79_weighted_sample" -> Query(q79WeightedSample,
      s"""${uniformCte(42L)}
         |SELECT doc_id, n_chars FROM d
         |WHERE u < LEAST(1.0, n_chars / 2048.0)
         |ORDER BY doc_id""".stripMargin),
    "q84_fixed_size_sample" -> Query(q84FixedSizeSample,
      s"""${uniformCte(42L)}
         |SELECT lang, doc_id FROM (
         |  SELECT lang, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rn
         |  FROM d)
         |WHERE rn <= 30 ORDER BY lang, doc_id""".stripMargin),
    "q94_quota_sample" -> Query(q94QuotaSample,
      s"""${uniformCte(42L)},
         |n AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
         |r AS (SELECT source,
         |  CASE WHEN q IS NULL THEN 0.0
         |       ELSE LEAST(1.0, q / cnt::DOUBLE) END AS rate
         |  FROM (SELECT source, cnt,
         |    CASE source WHEN 'src0' THEN 10.0 WHEN 'src1' THEN 40.0
         |                WHEN 'src2' THEN 15.0 WHEN 'src3' THEN 5.0 END AS q
         |  FROM n))
         |SELECT d.doc_id, d.source FROM d JOIN r USING (source)
         |WHERE d.u < r.rate ORDER BY d.doc_id""".stripMargin),
    // same expression shapes: exact long token sums, sqrt (correctly
    // rounded), DECIMAL(28,12) quantized terms, exact decimal denominator,
    // left-associated double arithmetic for weight/alloc/epochs
    "q149_mixture_weights" -> Query(q149MixtureWeights,
      """WITH d AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1, 2),
        |s AS (
        |  SELECT *, CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,12))
        |    AS sd FROM d),
        |t AS (SELECT SUM(sd) AS denom FROM s)
        |SELECT source, lang, n_docs, n_tokens,
        |  CAST(sd AS DOUBLE) / CAST(denom AS DOUBLE) AS weight,
        |  CAST(sd AS DOUBLE) / CAST(denom AS DOUBLE) * 10000000 AS alloc_tokens,
        |  CAST(sd AS DOUBLE) / CAST(denom AS DOUBLE) * 10000000 / n_tokens
        |    AS epochs
        |FROM s CROSS JOIN t ORDER BY source, lang""".stripMargin),
    "q368_design_effect" -> Query(q368DesignEffect,
      """WITH base AS (
        |  SELECT l_returnflag AS g,
        |    CAST(FLOOR(l_quantity) AS BIGINT) AS w,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS yc
        |  FROM lineitem),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(w) AS BIGINT) AS sw,
        |    CAST(SUM(CAST(w AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sw2,
        |    CAST(SUM(CAST(w AS DECIMAL(38,0)) * CAST(yc AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS swy
        |  FROM base GROUP BY 1)
        |SELECT g AS l_returnflag, n,
        |  CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE)
        |    AS n_eff,
        |  CAST(n AS DOUBLE) * CAST(sw2 AS DOUBLE)
        |    / (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)) AS deff,
        |  CAST(swy AS DOUBLE) / CAST(sw AS DOUBLE) / 100.0
        |    AS weighted_mean
        |FROM m WHERE sw > 0 ORDER BY 1""".stripMargin))
}
