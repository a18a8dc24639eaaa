package graft.operators

import graft.GraftFunctions
import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature-engineering and model-diagnostics operators for training-data
  * pipelines: leakage-proof target encoding, rank statistics (Spearman),
  * and information-theoretic feature association (mutual information).
  *
  * The shared scale discipline: every operator reduces the fact table to a
  * SMALL statistic frame first (category×fold cells, contingency cells,
  * per-key moment rows) and does the numerically delicate part there.
  * Order-sensitive double sums are DECIMAL-quantized term-wise (the
  * [[Stats]] float discipline), integer/decimal arithmetic is exact until
  * a single fixed-shape double finish, so the declared queries hash-gate
  * against the DuckDB oracle.
  */
object Ml {

  /** Out-of-fold (OOF) target mean encoding — the leakage-proof way to
    * turn a categorical column into a numeric feature: each fold's rows
    * are encoded with the target mean computed from the OTHER folds only,
    * so a model trained on the encoded column never sees its own row's
    * target. Folds are deterministic (`keyCol % nFolds`), so the encoding
    * is reproducible and incremental-friendly.
    *
    * Shape: ONE groupBy to the (category × fold) cell frame (map-side
    * combined), then per-category totals as a window over that statistic
    * frame — no second scan, no join back to the fact table. The output
    * is the encoding TABLE (category, fold → oof_mean), which downstream
    * joins back to rows as a broadcast (cells = |categories|·nFolds).
    * Target sums are exact centi-unit DECIMALs; the mean is one double
    * division. */
  def targetEncoding(df: DataFrame, catCol: String, targetCol: String,
      foldKeyCol: String, nFolds: Int): DataFrame = {
    require(nFolds >= 2, s"need at least 2 folds: $nFolds")
    val cents = (col(targetCol).cast("decimal(18,2)") * 100).cast("long")
    val cells = df
      .select(col(catCol).as("cat"), (col(foldKeyCol) % nFolds).as("fold"),
        cents.as("t"))
      .groupBy("cat", "fold")
      .agg(count(lit(1)).as("n_fold"), sum(d380(col("t"))).as("s_fold"))
    val w = Window.partitionBy("cat")
    cells
      .withColumn("n_all", sum("n_fold").over(w))
      .withColumn("s_all", sum("s_fold").over(w))
      .filter(col("n_all") > col("n_fold")) // OOF undefined if fold = all
      .select(col("cat").as(catCol), col("fold"), col("n_fold"),
        (dd(col("s_all") - col("s_fold")) /
          dd(col("n_all") - col("n_fold")) / 100.0).as("oof_mean"))
      .orderBy(catCol, "fold")
  }

  /** Encode order priority with the out-of-fold mean order value:
    * the feature a GBM would want for `o_orderpriority`, built without
    * target leakage. */
  def q221TargetEncoding(spark: SparkSession, dir: String): DataFrame =
    targetEncoding(Tables.orders(spark, dir), "o_orderpriority",
      "o_totalprice", "o_orderkey", nFolds = 5)

  /** Spearman rank correlation per group between two measures — the
    * monotonic-trend test (robust to outliers and any monotone rescaling,
    * unlike Pearson). Ties get average ranks, carried as the INTEGER
    * 2·rank_avg = 2·rank() + ties − 1 so every moment below is exact.
    *
    * Shape: both rank windows share ONE key-hash exchange (same
    * partitioning, two sort orders), then one groupBy reduces to per-key
    * moment rows; ρ is a fixed-shape double finish over exact DECIMAL
    * moments (the q200 OLS discipline). Per-key window sorts are Spark's
    * standard range-sort path at scale. */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val byK = (o: Column) => Window.partitionBy("g").orderBy(o)
    val tiesX = Window.partitionBy("g", "x")
    val tiesY = Window.partitionBy("g", "y")
    val ranked = df
      .select(col(groupCol).as("g"), col(xCol).as("x"), col(yCol).as("y"))
      .withColumn("rx2",
        lit(2) * rank().over(byK(col("x"))) + count(lit(1)).over(tiesX) - 1)
      .withColumn("ry2",
        lit(2) * rank().over(byK(col("y"))) + count(lit(1)).over(tiesY) - 1)
    val m = ranked.groupBy("g").agg(
      count(lit(1)).as("n"),
      sum("rx2").as("sx"), sum("ry2").as("sy"),
      sum(d380(col("rx2")) * d380(col("ry2"))).cast("decimal(38,0)").as("sxy"),
      sum(d380(col("rx2")) * d380(col("rx2"))).cast("decimal(38,0)").as("sxx"),
      sum(d380(col("ry2")) * d380(col("ry2"))).cast("decimal(38,0)").as("syy"))
    val cov = d380(col("n")) * col("sxy") - d380(col("sx")) * d380(col("sy"))
    val vx = d380(col("n")) * col("sxx") - d380(col("sx")) * d380(col("sx"))
    val vy = d380(col("n")) * col("syy") - d380(col("sy")) * d380(col("sy"))
    m.withColumn("vx", vx).withColumn("vy", vy).withColumn("cov", cov)
      .filter(col("vx") > 0 && col("vy") > 0)
      .select(col("g").as(groupCol), col("n"),
        (dd(col("cov")) / sqrt(dd(col("vx")) * dd(col("vy")))).as("rho"))
      .orderBy(groupCol)
  }

  /** Is each event type's value drifting monotonically over time:
    * Spearman ρ between timestamp and value per type (ρ near ±1 = steady
    * trend, near 0 = stationary). */
  def q222SpearmanTrend(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), expr("unix_micros(ts)").as("t_us"),
        col("value"))
    spearman(ev, "event_type", "t_us", "value")
  }

  /** Mutual information between two categorical columns, with the
    * entropies and the [0,1] normalized MI = I/√(H_a·H_b) — the feature-
    * selection / redundancy measure a training pipeline runs over feature
    * pairs. Computed entirely on the contingency-cell statistic frame
    * (one groupBy shuffle; marginals are windows over cells): each
    * p·ln-term is DECIMAL(38,12)-quantized before its sum (the chiSquare
    * discipline). Observed-zero cells contribute exactly 0 to I by
    * definition, so the sparse cell frame is the correct support. */
  def mutualInformation(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("nab"))
    val wa = Window.partitionBy("a")
    val wb = Window.partitionBy("b")
    val wAll = Window.partitionBy()
    val g = cells
      .withColumn("na", sum("nab").over(wa))
      .withColumn("nb", sum("nab").over(wb))
      .withColumn("n", sum("nab").over(wAll))
    val miTerm = (dd(col("nab")) / dd(col("n"))) *
      log(dd(col("nab")) * dd(col("n")) / (dd(col("na")) * dd(col("nb"))))
    // entropy terms counted once per marginal value: only on the cell
    // where this `a` (resp. `b`) first appears in its partition's order
    val firstA = row_number().over(wa.orderBy("b")) === 1
    val firstB = row_number().over(wb.orderBy("a")) === 1
    val pa = dd(col("na")) / dd(col("n"))
    val pb = dd(col("nb")) / dd(col("n"))
    g.withColumn("mi_t", miTerm.cast("decimal(38,12)"))
      .withColumn("ha_t",
        when(firstA, (-pa * log(pa)).cast("decimal(38,12)"))
          .otherwise(lit(0).cast("decimal(38,12)")))
      .withColumn("hb_t",
        when(firstB, (-pb * log(pb)).cast("decimal(38,12)"))
          .otherwise(lit(0).cast("decimal(38,12)")))
      .agg(max(col("n")).as("n"),
        sum("mi_t").cast("decimal(38,12)").as("mi_q"),
        sum("ha_t").cast("decimal(38,12)").as("ha_q"),
        sum("hb_t").cast("decimal(38,12)").as("hb_q"))
      .select(col("n"), dd(col("mi_q")).as("mi_nats"),
        dd(col("ha_q")).as("h_a"), dd(col("hb_q")).as("h_b"),
        when(col("ha_q") > 0 && col("hb_q") > 0,
          dd(col("mi_q")) / sqrt(dd(col("ha_q")) * dd(col("hb_q"))))
          .otherwise(lit(0.0)).as("nmi"))
  }

  /** How much does order priority tell you about order status: the
    * feature-pair association scan's unit cell. */
  def q223MutualInformation(spark: SparkSession, dir: String): DataFrame =
    mutualInformation(Tables.orders(spark, dir), "o_orderpriority",
      "o_orderstatus")

  /** Mann–Whitney U test per group between two samples (`sideCol` true =
    * sample A) — the nonparametric two-sample location test (no normality
    * assumption; the rank-based complement to the KS-drift gate q141).
    * Average-tie ranks are carried as the integer 2·rank_avg, the tie
    * correction Σ(t³−t) is exact, and z is one fixed-shape double finish
    * over exact integers:
    * U₁ = R₁ − n₁(n₁+1)/2,  z = (U₁ − n₁n₂/2) / √var,
    * var = n₁n₂/12 · ((n+1) − Σ(t³−t)/(n(n−1))).
    *
    * Shape: ranks come from the per-group VALUE HISTOGRAM (the q290
    * algebra) — one (g, v)-cell aggregation, a (g)-partitioned running
    * count over distinct values (2·rank_avg = 2·cum_below + t + 1), one
    * groupBy to per-key scalars. No raw-row sort: per-task work scales
    * with each group's distinct-value count, not its row count. */
  def mannWhitney(df: DataFrame, groupCol: String, valCol: String,
      sideCol: String): DataFrame = {
    val pergv = df
      .select(col(groupCol).as("g"), col(valCol).as("v"),
        col(sideCol).cast("boolean").as("isa"))
      .groupBy("g", "v")
      .agg(count(lit(1)).as("t"),
        sum(when(col("isa"), 1L).otherwise(0L)).as("a"))
    val wCum = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = pergv
      .withColumn("cumt", sum(col("t")).over(wCum))
      .withColumn("r2", lit(2L) * (col("cumt") - col("t")) + col("t") + 1)
    val m = ranked.groupBy("g").agg(
      sum(col("a")).as("n1"),
      sum(col("t") - col("a")).as("n2"),
      // decimal product: a ~ group rows, r2 ~ 2·group rows — the long
      // product wraps silently (non-ANSI) past ~3e9 rows per group
      sum(d380(col("a")) * d380(col("r2"))).cast("decimal(38,0)")
        .as("r1x2"),
      sum(d380(col("t")) * d380(col("t")) * d380(col("t")) - d380(col("t")))
        .cast("decimal(38,0)").as("tcube"))
    val n = col("n1") + col("n2")
    val u1 = (dd(col("r1x2")) - dd(col("n1")) * dd(col("n1") + 1)) / 2.0
    val varU = dd(col("n1")) * dd(col("n2")) / 12.0 *
      (dd(n + 1) - dd(col("tcube")) / (dd(n) * dd(n - 1)))
    m.filter(col("n1") > 0 && col("n2") > 0 && n > 1)
      .select(col("g").as(groupCol), col("n1"), col("n2"), u1.as("u"),
        when(varU > 0,
          (u1 - dd(col("n1")) * dd(col("n2")) / 2.0) / sqrt(varU))
          .otherwise(lit(0.0)).as("z"))
      .orderBy(groupCol)
  }

  /** Did each event type's value distribution shift half-over-half:
    * the rank-based drift test (first time-half = sample A, the q220
    * split rule). */
  def q224MannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        expr("unix_micros(ts)").as("us"))
    val mid = ev.agg(((min("us") + max("us")) / lit(2L)).cast("long")
      .as("mid"))
    mannWhitney(
      ev.crossJoin(broadcast(mid)).withColumn("isa", col("us") < col("mid")),
      "event_type", "value", "isa")
  }

  /** One-way ANOVA of a numeric target across the levels of a categorical
    * factor: F = (SSB/(k−1)) / (SSW/(n−k)) — is the between-class
    * variance real. Class moments (n_c, Σt, Σt²) are exact centi-unit
    * DECIMALs from ONE map-side-combined groupBy; the sums of squares are
    * per-class DECIMAL(38,6)-quantized double terms (each one division on
    * exact inputs), so the statistic hash-gates. Output in original
    * target units (the 100× quantization divides out). */
  def anovaF(df: DataFrame, catCol: String, targetCol: String): DataFrame = {
    val cents = (col(targetCol).cast("decimal(18,2)") * 100).cast("long")
    val cls = df.select(col(catCol).as("c"), cents.as("t"))
      .groupBy("c")
      .agg(count(lit(1)).as("nc"), sum(d380(col("t"))).as("sc"),
        sum(d380(col("t")) * d380(col("t"))).cast("decimal(38,0)").as("sqc"))
    // per-class term s_c²/n_c : one double division on exact decimals
    val term = (dd(col("sc")) * dd(col("sc")) / dd(col("nc")))
      .cast("decimal(38,6)")
    cls.withColumn("term", term)
      .agg(count(lit(1)).as("k"), sum("nc").as("n"),
        sum(d380(col("sc"))).cast("decimal(38,0)").as("s"),
        sum(col("sqc")).cast("decimal(38,0)").as("sq"),
        sum(col("term")).cast("decimal(38,6)").as("tsum"))
      .filter(col("k") > 1 && col("n") > col("k"))
      .select(col("k"), col("n"),
        ((dd(col("tsum")) - dd(col("s")) * dd(col("s")) / dd(col("n"))) /
          1e4).as("ssb"),
        ((dd(col("sq")) - dd(col("tsum"))) / 1e4).as("ssw"),
        (((dd(col("tsum")) - dd(col("s")) * dd(col("s")) / dd(col("n"))) /
          dd(col("k") - 1)) /
          ((dd(col("sq")) - dd(col("tsum"))) / dd(col("n") - col("k"))))
          .as("f"))
  }

  /** Does order priority explain order value: the one-way ANOVA gate. */
  def q225AnovaF(spark: SparkSession, dir: String): DataFrame =
    anovaF(Tables.orders(spark, dir), "o_orderpriority", "o_totalprice")

  /** Intraclass correlation ICC(1) — what SHARE of a metric's variance
    * sits between groups rather than within them (Shrout & Fleiss
    * 1979; the unbalanced one-way random-effects form): the number
    * that decides whether per-group modeling / clustered standard
    * errors / hierarchical pooling is worth it, where [[anovaF]] only
    * answers "is there any difference". From the same one-scan exact
    * moments: MSB = SSB/(k−1), MSW = SSW/(N−k), the unbalanced group
    * size n₀ = (N − Σnᵢ²/N)/(k−1), ICC = (MSB−MSW)/(MSB+(n₀−1)·MSW).
    * Σnᵢ² is exact DECIMAL; everything else is the q225 fixed-shape
    * double finish on quantized cell terms. */
  def icc1(df: DataFrame, groupCol: String, targetCol: String)
      : DataFrame = {
    val cents = (col(targetCol).cast("decimal(18,2)") * 100).cast("long")
    val cls = df.select(col(groupCol).as("c"), cents.as("t"))
      .groupBy("c")
      .agg(count(lit(1)).as("nc"), sum(d380(col("t"))).as("sc"),
        sum(d380(col("t")) * d380(col("t"))).cast("decimal(38,0)")
          .as("sqc"))
    val term = (dd(col("sc")) * dd(col("sc")) / dd(col("nc")))
      .cast("decimal(38,6)")
    cls.withColumn("term", term)
      .agg(count(lit(1)).as("k"), sum("nc").as("n"),
        sum(d380(col("sc"))).cast("decimal(38,0)").as("s"),
        sum(col("sqc")).cast("decimal(38,0)").as("sq"),
        sum(col("term")).cast("decimal(38,6)").as("tsum"),
        sum(d380(col("nc")) * d380(col("nc"))).cast("decimal(38,0)")
          .as("nsq"))
      .filter(col("k") > 1 && col("n") > col("k"))
      .withColumn("msb",
        (dd(col("tsum")) - dd(col("s")) * dd(col("s")) / dd(col("n"))) /
          dd(col("k") - 1) / 1e4)
      .withColumn("msw",
        (dd(col("sq")) - dd(col("tsum"))) / dd(col("n") - col("k")) / 1e4)
      .withColumn("n0",
        (dd(col("n")) - dd(col("nsq")) / dd(col("n"))) / dd(col("k") - 1))
      .select(col("k"), col("n"), col("msb"), col("msw"), col("n0"),
        when(col("msb") + (col("n0") - 1.0) * col("msw") > 0,
          (col("msb") - col("msw")) /
            (col("msb") + (col("n0") - 1.0) * col("msw"))).as("icc"))
  }

  /** How much of order value is a customer-segment effect — the
    * clustering-strength gate before hierarchical modeling. */
  def q354Icc(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    icc1(o.join(c, o("o_custkey") === c("c_custkey")), "c_mktsegment",
      "o_totalprice")
  }

  /** Brown–Forsythe variance-homogeneity test — [[anovaF]]'s missing
    * precondition check, and the robust (median-centered) Levene
    * variant: F over the absolute deviations z = |x − median_g|. The
    * per-group median is exact-integer (2·median = lower + upper
    * median of the centi-values, the q202 crossing discipline), so z
    * rides as the exact long |2x − 2med| (the doubled scale cancels in
    * F); the finish is [[anovaF]]'s fixed double shape over exact
    * DECIMAL moments of z. One rank window per group + one broadcast
    * of the k-row median frame + one moment aggregation. */
  def brownForsythe(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val per = df.select(col(groupCol).as("g"),
      (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("x"))
    val wOrd = Window.partitionBy("g").orderBy("x")
    val wG = Window.partitionBy("g")
    val med = per
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("ng", count(lit(1)).over(wG))
      .withColumn("fl", expr("(ng + 1) div 2"))
      .withColumn("ce", expr("(ng + 2) div 2"))
      .filter(col("rn") === col("fl") || col("rn") === col("ce"))
      .groupBy("g")
      .agg((sum(when(col("rn") === col("fl"), col("x")).otherwise(0L)) +
        sum(when(col("rn") === col("ce"), col("x")).otherwise(0L)))
        .as("med2"))
    val z = per.join(broadcast(med), "g")
      .select(col("g"), abs(col("x") * 2 - col("med2")).as("z"))
    val cls = z.groupBy("g")
      .agg(count(lit(1)).as("nc"), sum(d380(col("z"))).as("sc"),
        sum(d380(col("z")) * d380(col("z"))).cast("decimal(38,0)").as("sqc"))
    val term = (dd(col("sc")) * dd(col("sc")) / dd(col("nc")))
      .cast("decimal(38,6)")
    cls.withColumn("term", term)
      .agg(count(lit(1)).as("k"), sum("nc").as("n"),
        sum(d380(col("sc"))).cast("decimal(38,0)").as("s"),
        sum(col("sqc")).cast("decimal(38,0)").as("sq"),
        sum(col("term")).cast("decimal(38,6)").as("tsum"))
      .filter(col("k") > 1 && col("n") > col("k"))
      .select(col("k"), col("n"),
        (((dd(col("tsum")) - dd(col("s")) * dd(col("s")) / dd(col("n"))) /
          dd(col("k") - 1)) /
          ((dd(col("sq")) - dd(col("tsum"))) / dd(col("n") - col("k"))))
          .as("f_bf"))
  }

  /** Are order-value spreads comparable across priorities — the
    * variance-homogeneity gate ANOVA assumes. */
  def q280BrownForsythe(spark: SparkSession, dir: String): DataFrame =
    brownForsythe(Tables.orders(spark, dir), "o_orderpriority",
      "o_totalprice")

  /** Bartlett's variance-homogeneity test (Bartlett 1937) — the
    * normal-theory companion to [[brownForsythe]] (BF is robust to
    * non-normality, Bartlett is the more powerful screen when normality
    * holds; a pipeline reports both): χ² = [(N−k)·ln s²_p −
    * Σ(nᵢ−1)·ln s²ᵢ] / C with the Bartlett correction
    * C = 1 + (Σ 1/(nᵢ−1) − 1/(N−k)) / (3(k−1)). Per-group variances
    * come from exact DECIMAL moments in ONE scan; the ln terms are
    * per-group fixed double shapes DECIMAL-quantized before the
    * order-free sum (group-count-sized frame). Scale-invariant in the
    * value unit, so the cent grid is used as-is. */
  def bartlett(df: DataFrame, groupCol: String, valCol: String)
      : DataFrame = {
    val per = df.select(col(groupCol).as("g"),
      (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("x"))
    val cls = per.groupBy("g")
      .agg(count(lit(1)).as("nc"), sum(d380(col("x"))).as("sc"),
        sum(d380(col("x")) * d380(col("x"))).cast("decimal(38,0)")
          .as("sqc"))
      .filter(col("nc") >= 2)
      // s²ᵢ (cents²) as ONE fixed double shape on the exact moments
      .withColumn("v", dd(d380(col("nc")) * col("sqc") -
        col("sc") * col("sc")) / (dd(col("nc")) * dd(col("nc") - 1)))
      .filter(col("v") > 0)
      .withColumn("lnv",
        ((dd(col("nc")) - 1.0) * log(col("v"))).cast("decimal(38,12)"))
      .withColumn("inv",
        (lit(1.0) / (dd(col("nc")) - 1.0)).cast("decimal(38,15)"))
      // numerator of the pooled variance, exact: Σ(nᵢ·sqᵢ − sᵢ²)/nᵢ is
      // not exact — pool on the within-group SS instead: SSW·nᵢ terms
      .withColumn("ssw",
        (dd(d380(col("nc")) * col("sqc") - col("sc") * col("sc")) /
          dd(col("nc"))).cast("decimal(38,6)"))
    cls.agg(count(lit(1)).as("k"), sum("nc").as("n"),
        sum(col("ssw")).cast("decimal(38,6)").as("sswsum"),
        sum(col("lnv")).cast("decimal(38,12)").as("lnsum"),
        sum(col("inv")).cast("decimal(38,15)").as("invsum"))
      .filter(col("k") > 1 && col("n") > col("k"))
      .withColumn("vp", dd(col("sswsum")) / (dd(col("n")) - dd(col("k"))))
      .withColumn("c", lit(1.0) +
        (dd(col("invsum")) - lit(1.0) / (dd(col("n")) - dd(col("k")))) /
          (lit(3.0) * (dd(col("k")) - 1.0)))
      .select(col("k"), col("n"),
        (((dd(col("n")) - dd(col("k"))) * log(col("vp")) -
          dd(col("lnsum"))) / col("c")).as("chi2_bartlett"),
        (col("k") - 1).as("dof"))
  }

  /** The q280 variance screen re-run under normal theory: order-value
    * spread homogeneity across priorities, Bartlett-corrected. */
  def q349Bartlett(spark: SparkSession, dir: String): DataFrame =
    bartlett(Tables.orders(spark, dir), "o_orderpriority", "o_totalprice")

  /** Distribution-free confidence interval for a per-group mean via a
    * DETERMINISTIC Poisson-style bootstrap: replicate `b`'s weight for a
    * row comes from the `b`-th hex digit of `md5(key)` — ONE hash per
    * row feeds all B ≤ 32 replicates — mapped through the exact
    * mean-1 / variance-1 integer law {0:6/16, 1:6/16, 2:2/16, 3:2/16}
    * (the Poisson(1) surrogate every engine computes bit-identically;
    * no RNG state, so replicas are reproducible and shard-order-
    * independent — the property that matters on a cluster). The B-fold
    * fan-out happens under ONE map-side-combined aggregation to
    * (group × replicate) cells, so executor state is G·B scalars
    * regardless of input size; the CI is exact order statistics over
    * each group's B replicate means.
    *
    * At 100 TB: B× scan CPU (tunable, hash hoisted out of the fan-out),
    * no extra shuffle beyond the cell frame — the standard scale-out
    * bootstrap shape (Poisson bootstrap, Chamandy et al. 2012). */
  def bootstrapMeanCI(df: DataFrame, groupCol: String, valCol: String,
      keyCol: String, b: Int, loRank: Int, hiRank: Int): DataFrame = {
    require(b >= 4 && b <= 32 && loRank >= 1 && hiRank <= b &&
      loRank < hiRank, s"bad bootstrap geometry: b=$b [$loRank,$hiRank]")
    val cents = (col(valCol).cast("decimal(18,2)") * 100).cast("long")
    // hex digit b+1 of the per-ROW hash → ascii → the mean-1 weight law:
    // '0'-'5' → 0, '6'-'9','a','b' → 1, 'c','d' → 2, 'e','f' → 3.
    // r12 (guide §2.3 — don't multiply rows to aggregate them): the ×B
    // explode + (g, b) decimal aggregation collapses into ONE single-pass
    // TypedImperativeAggregate ([[graft.functions.BootstrapMoments]])
    // holding B×(weight-sum, exact 128-bit weighted sum) per group — the
    // same weight law evaluated per row instead of per (row × replicate),
    // with the unweighted slot-0 moments riding along as before.
    // Bit-identical wsum/wt/n0/s0 (equivalence pinned in Round12OpsSpec).
    val cells = df
      .select(col(groupCol).as("g"), col(keyCol).as("k"), cents.as("t"))
      .withColumn("h", md5(col("k").cast("string")))
      .groupBy("g")
      .agg(GraftFunctions.bootstrap_moments(col("h"), col("t"), b).as("bm"))
      .select(col("g"), posexplode(col("bm")).as(Seq("b", "m")))
      .select(col("g"), col("b"),
        col("m").getField("wsum").as("wsum"),
        col("m").getField("wt").as("wt"),
        col("m").getField("n0").as("n0"),
        col("m").getField("s0").as("s0"))
    val reps = cells.filter(col("wsum") > 0)
      .withColumn("rmean", dd(col("wt")) / dd(col("wsum")) / 100.0)
    val wOrd = Window.partitionBy("g").orderBy(col("rmean"), col("b"))
    val wG = Window.partitionBy("g")
    reps
      .withColumn("rk", row_number().over(wOrd))
      .withColumn("nb", count(lit(1)).over(wG))
      .withColumn("mean",
        (dd(sum(col("s0")).over(wG)) / dd(sum(col("n0")).over(wG)) / 100.0))
      .filter(col("rk") === loRank || col("rk") === hiRank)
      .groupBy(col("g").as(groupCol))
      .agg(max(col("mean")).as("mean"),
        min(when(col("rk") === loRank, col("rmean"))).as("ci_lo"),
        min(when(col("rk") === hiRank, col("rmean"))).as("ci_hi"),
        max(col("nb")).as("n_replicates"))
      .orderBy(groupCol)
  }

  /** 90%-ish CI (2nd..31st of 32 replicate means) for mean order value
    * per order status — the error bar every dashboard aggregate should
    * carry, computed without distributional assumptions. */
  def q226BootstrapCI(spark: SparkSession, dir: String): DataFrame =
    bootstrapMeanCI(Tables.orders(spark, dir), "o_orderstatus",
      "o_totalprice", "o_orderkey", b = 32, loRank = 2, hiRank = 31)

  /** Out-of-vocabulary rate per corpus slice: the tokenizer-coverage
    * audit a training pipeline runs before committing to a vocabulary —
    * what fraction of each slice's tokens fall outside the corpus
    * top-`vocabSize` vocabulary (by document frequency, term-asc
    * tiebreak). High-OOV slices are where a tokenizer will shatter text
    * into bytes.
    *
    * Shape: one tokenize pass → (doc, term) frame; the vocabulary is a
    * distributed top-V (TakeOrdered — no single-partition window) and
    * joins back as a BROADCAST build side; per-slice rates are exact
    * long ratios. The token frame shuffles once for the df count and
    * once for the slice rollup. */
  def oovRate(docs: DataFrame, sliceCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be positive: $vocabSize")
    val toks = docs.select(col(sliceCol).as("slice"), col("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val vocab = toks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("term")).limit(vocabSize)
      .select("term")
    toks.join(broadcast(vocab.withColumn("iv", lit(1L))), Seq("term"), "left")
      .groupBy("slice")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("slice").as(sliceCol), col("n_docs"), col("n_tokens"),
        col("n_oov"),
        (dd(col("n_oov")) / dd(col("n_tokens"))).as("oov_rate"))
      .orderBy(sliceCol)
  }

  /** Which language slices does a 500-term vocabulary cover worst. */
  def q227OovRate(spark: SparkSession, dir: String): DataFrame =
    oovRate(Tables.documents(spark, dir), "lang", "text", vocabSize = 500)

  /** EWMA smoothing of a per-key hourly series with α = 1/2 and a
    * 16-bucket truncated horizon — EXACT: the weights 2^−d are exact
    * decimals, the bucket means are (exact-sum / exact-count) doubles
    * quantized to DECIMAL(18,8), so the weighted sum is decimal
    * arithmetic and the smoothed value one double finish. Missing hours
    * simply don't contribute (weights renormalize over observed buckets)
    * — the sparse-series convention.
    *
    * Shape: raw events reduce to the per-(key, hour) statistic frame
    * FIRST (one map-side-combined groupBy); the 16-lag horizon is an
    * EQUI-join of that small frame against itself via an exploded lag
    * offset (bucket + d = target) — never a range join, never a window
    * whose weights depend on position (which plain window aggs can't
    * express). At 100 TB the fan-out is 16× the HOURLY frame, not the
    * event count. */
  def ewmaHourly(events: DataFrame, tsCol: String, keyCol: String,
      valCol: String): DataFrame =
    ewmaFromHourlyCells(hourlyCells(events, tsCol, keyCol, valCol), keyCol)

  /** Per-(key, hour) moment cells: count + exact micro-unit sum — the
    * MERGEABLE sufficient statistics for [[ewmaFromHourlyCells]] (cells
    * from disjoint batches add componentwise, which is what lets the
    * streaming ingest maintain this frame under idempotent `batch_id`
    * partitions and still reproduce the one-shot EWMA exactly). */
  private[graft] def hourlyCells(events: DataFrame, tsCol: String,
      keyCol: String, valCol: String): DataFrame = {
    val bucketUs = 3600L * 1000000L
    events
      .select(col(keyCol).as("k"),
        expr(s"unix_micros($tsCol) div $bucketUs").as("b"),
        (col(valCol).cast("decimal(18,6)") * 1000000L).cast("long").as("vq"))
      .groupBy("k", "b")
      .agg(count(lit(1)).as("c"), sum(d380(col("vq"))).as("s"))
  }

  /** The exact EWMA finish over an hourly cell frame (see
    * [[ewmaHourly]]); `cells` must carry (k, b, c, s). */
  private[graft] def ewmaFromHourlyCells(cells: DataFrame,
      keyCol: String): DataFrame = {
    val hourly = cells.withColumn("m",
      (dd(col("s")) / dd(col("c")) / 1e6).cast("decimal(16,8)"))
    val lagged = hourly
      .withColumn("d", explode(sequence(lit(0), lit(15))))
      .withColumn("tb", col("b") + col("d"))
      .withColumn("w", expr("cast(power(0.5d, d) as decimal(16,15))"))
    lagged.join(hourly.select(col("k"), col("b").as("tb")), Seq("k", "tb"))
      .groupBy(col("k"), col("tb"))
      .agg(count(lit(1)).as("n_lags"),
        sum(col("m") * col("w")).as("num"),
        sum(col("w")).as("den"))
      .select(col("k").as(keyCol), col("tb").as("bucket"), col("n_lags"),
        (dd(col("num")) / dd(col("den"))).as("ewma"))
      .orderBy(keyCol, "bucket")
  }

  /** Smoothed hourly value level per event type (the monitoring
    * dashboard's EWMA line), exactly reproducible. */
  def q228Ewma(spark: SparkSession, dir: String): DataFrame =
    ewmaHourly(Tables.events(spark, dir), "ts", "event_type", "value")

  /** Purged forward-chaining time-series cross-validation folds: k
    * equal-width time slices; fold i's training set is everything
    * STRICTLY before the slice start minus an embargo gap — the split
    * that keeps look-ahead AND boundary leakage (autocorrelated rows
    * straddling the cut) out of a temporal model's backtest.
    *
    * Shape: one scan reduced against a broadcast 1-row (min, max) frame
    * with k unrolled conditional counters, then the 1-row result explodes
    * to the k-row fold report — integer-µs grid arithmetic throughout,
    * no shuffle beyond the scalar aggregate. */
  def purgedTimeFolds(events: DataFrame, tsCol: String, k: Int,
      embargoUs: Long): DataFrame = {
    require(k >= 2 && embargoUs >= 0, s"bad fold geometry k=$k g=$embargoUs")
    val us = expr(s"unix_micros($tsCol)")
    val span = events.agg(min(us).as("mn"), max(us).as("mx"))
      .withColumn("width", expr(s"(mx - mn) div $k + 1"))
    val withFold = events.select(us.as("us")).crossJoin(broadcast(span))
      .withColumn("fold", expr("(us - mn) div width"))
    val counters = (0 until k).flatMap { i =>
      val start = col("mn") + lit(i.toLong) * col("width")
      Seq(
        sum(when(col("fold") === i, 1L).otherwise(0L)).as(s"test_$i"),
        sum(when(col("us") < start - embargoUs, 1L).otherwise(0L))
          .as(s"train_$i"))
    }
    val one = withFold.groupBy("mn", "width")
      .agg(counters.head, counters.tail: _*)
    one.select(col("mn"), col("width"),
        explode(array((0 until k).map { i =>
          struct(lit(i.toLong).as("fold"), col(s"test_$i").as("n_test"),
            col(s"train_$i").as("n_train"))
        }: _*)).as("f"))
      .select(col("f.fold").as("fold"),
        (col("mn") + col("f.fold").cast("long") * col("width"))
          .as("test_start_us"),
        (col("mn") + (col("f.fold").cast("long") + 1) * col("width"))
          .as("test_end_us"),
        col("f.n_test").as("n_test"), col("f.n_train").as("n_train"))
      .orderBy("fold")
  }

  /** 5-fold purged time CV over the event stream with a 1-hour embargo. */
  def q229PurgedCv(spark: SparkSession, dir: String): DataFrame =
    purgedTimeFolds(Tables.events(spark, dir), "ts", k = 5,
      embargoUs = 3600L * 1000000L)

  /** Categorical Naive Bayes, trained and applied in one plan: class
    * priors and per-feature likelihoods (Laplace α = 1) from three
    * map-side-combined count aggregations, then the score grid =
    * (observed feature combos) × (classes) — every frame cells-sized,
    * so the argmax is a tiny window, never a data-sized sort. The score
    *   P(c)·P(f₁|c)·P(f₂|c)
    *   = nc(n₁+1)(n₂+1) / (n·(nc+V₁)·(nc+V₂))
    * is ONE fixed-shape double expression over exact counts (no logs, no
    * accumulation order), and the argmax tiebreaks class-asc, so the
    * prediction table hash-gates. */
  /** The full (combo × class) NB score grid behind [[naiveBayes2]] —
    * columns (f1, f2, c, score, n); also feeds the calibration report,
    * which needs every class's score, not just the argmax. */
  private[graft] def nbScoredGrid(df: DataFrame, f1Col: String,
      f2Col: String, classCol: String): DataFrame = {
    val base = df.select(col(f1Col).as("f1"), col(f2Col).as("f2"),
      col(classCol).as("c"))
    val cls = base.groupBy("c").agg(count(lit(1)).as("nc"))
    val l1 = base.groupBy("f1", "c").agg(count(lit(1)).as("n1"))
    val l2 = base.groupBy("f2", "c").agg(count(lit(1)).as("n2"))
    val scal = base.agg(count(lit(1)).as("n"),
      countDistinct("f1").as("v1"), countDistinct("f2").as("v2"))
    val combos = base.select("f1", "f2").distinct()
    val grid = combos.crossJoin(broadcast(cls))
      .join(l1, Seq("f1", "c"), "left").na.fill(0L, Seq("n1"))
      .join(l2, Seq("f2", "c"), "left").na.fill(0L, Seq("n2"))
      .crossJoin(broadcast(scal))
    val score = dd(col("nc")) * dd(col("n1") + 1) * dd(col("n2") + 1) /
      (dd(col("n")) * dd(col("nc") + col("v1")) *
        dd(col("nc") + col("v2")))
    grid.select(col("f1"), col("f2"), col("c"), score.as("score"),
      col("n"))
  }

  def naiveBayes2(df: DataFrame, f1Col: String, f2Col: String,
      classCol: String): DataFrame = {
    nbScoredGrid(df, f1Col, f2Col, classCol)
      .withColumn("rk", row_number().over(Window.partitionBy("f1", "f2")
        .orderBy(desc("score"), asc("c"))))
      .filter(col("rk") === 1)
      .select(col("f1").as(f1Col), col("f2").as(f2Col),
        col("c").as("predicted"), col("score"), col("n").as("n_train"))
      .orderBy(f1Col, f2Col)
  }

  /** Predict order priority from (market segment, order status): the
    * canonical categorical NB — trained distributed, applied to the
    * observed feature grid. */
  def q230NaiveBayes(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    naiveBayes2(
      o.join(c, o("o_custkey") === c("c_custkey")),
      "c_mktsegment", "o_orderstatus", "o_orderpriority")
  }

  /** Stratified average treatment effect — the covariate-adjusted
    * difference in means: within each stratum compare treated vs control
    * means, then weight the differences by stratum mass (over strata
    * with BOTH arms supported). The observational-data replacement for
    * q168's randomized two-proportion test.
    *
    * Shape: one groupBy to per-stratum arm moments (exact centi-unit
    * sums), the ATE is a window sum of DECIMAL(38,12)-quantized
    * per-stratum terms over that tiny frame. */
  def stratifiedAte(df: DataFrame, stratumCol: String, treatedCond: Column,
      outcomeCol: String): DataFrame = {
    val cents = (col(outcomeCol).cast("decimal(18,2)") * 100).cast("long")
    val arms = df
      .select(col(stratumCol).as("s"), treatedCond.as("t"), cents.as("y"))
      .groupBy("s")
      .agg(count(lit(1)).as("n"),
        sum(when(col("t"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("t"), d380(col("y")))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("s1"),
        sum(when(!col("t"), d380(col("y")))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("s0"))
      .withColumn("n0", col("n") - col("n1"))
      .filter(col("n1") > 0 && col("n0") > 0)
    val w = Window.partitionBy()
    val meanT = dd(col("s1")) / dd(col("n1")) / 100.0
    val meanC = dd(col("s0")) / dd(col("n0")) / 100.0
    arms
      .withColumn("nn", sum("n").over(w))
      .withColumn("term",
        ((dd(col("n")) * (meanT - meanC)) / dd(col("nn")))
          .cast("decimal(38,12)"))
      .withColumn("ate", sum("term").over(w).cast("double"))
      .select(col("s").as(stratumCol), col("n"), col("n1").as("n_treated"),
        meanT.as("mean_treated"), meanC.as("mean_control"),
        (meanT - meanC).as("diff"), col("ate"))
      .orderBy(stratumCol)
  }

  /** Does a deep discount (≥ 5%) move quantity, controlling for return
    * flag: the stratified ATE over the lineitem stream. */
  def q231StratifiedAte(spark: SparkSession, dir: String): DataFrame =
    stratifiedAte(Tables.lineitem(spark, dir), "l_returnflag",
      col("l_discount") >= 0.05, "l_quantity")

  /** Offline (counterfactual) policy evaluation — "what would the NEW
    * action policy have earned on the logged traffic" without an A/B
    * test, the standard bandit-log primitive (Horvitz–Thompson /
    * Li et al. WSDM'11):
    *
    *   - IPS:   V̂ = (1/n) Σ rᵢ · π(aᵢ|xᵢ) / μ(aᵢ|xᵢ)
    *   - SNIPS: V̂ = Σ rᵢ·wᵢ / Σ wᵢ  (self-normalized — trades the
    *     unbiasedness of IPS for bounded variance when weights are big)
    *   - DM: the naive mean reward over matching rows (biased — rides
    *     along so the report shows all three estimators side by side).
    *
    * `actions` maps each context to (logged-arm column already computed
    * upstream). The logging propensities are KNOWN here (the md5-digit
    * arms are 8/16, 4/16, 4/16 by construction), so the weights are the
    * exact integers 2 and 4 — reward·weight sums stay in integer cents
    * until the final divisions. One map-side-combined aggregation to a
    * context-sized frame; no joins, no shuffle beyond the cell frame. */
  def ipsPolicyValue(df: DataFrame, contextCol: String, armCol: Column,
      targetArm: Column, propensityInv: Column, rewardCol: String)
      : DataFrame = {
    val cents = (col(rewardCol).cast("decimal(18,2)") * 100).cast("long")
    df.select(col(contextCol).as("x"), armCol.as("a"), targetArm.as("pi"),
        propensityInv.as("w"), cents.as("r"))
      .withColumn("m", col("a") === col("pi"))
      .groupBy("x")
      .agg(count(lit(1)).as("n"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_match"),
        sum(when(col("m"), d380(col("r")))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("s_dm"),
        sum(when(col("m"), d380(col("w")) * d380(col("r")))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("s_ips"),
        sum(when(col("m"), col("w")).otherwise(0L)).as("s_w"))
      .select(col("x").as(contextCol), col("n"), col("n_match"),
        when(col("n_match") > 0, dd(col("s_dm")) / dd(col("n_match")) / 100.0)
          .as("dm_value"),
        (dd(col("s_ips")) / dd(col("n")) / 100.0).as("ips_value"),
        when(col("s_w") > 0, dd(col("s_ips")) / dd(col("s_w")) / 100.0)
          .as("snips_value"))
      .orderBy(contextCol)
  }

  /** Evaluate a "serve arm 1 to converters' contexts, arm 0 elsewhere"
    * policy on the event log. Logged arms come from the first md5 hex
    * digit of event_id (deterministic, engine-portable): '0'–'7' → arm 0
    * (μ = 1/2, w = 2), '8'–'b' → arm 1, 'c'–'f' → arm 2 (μ = 1/4,
    * w = 4). The target policy plays arm 1 on purchase/signup contexts
    * and arm 0 otherwise, so both weight values exercise the estimator. */
  def q316IpsPolicyValue(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val a = ascii(substring(md5(col("event_id").cast("string")), 1, 1))
    val arm = when(a <= 55, 0)
      .when(a === 56 || a === 57 || a === 97 || a === 98, 1).otherwise(2)
    val target = when(col("event_type").isin("purchase", "signup"), 1)
      .otherwise(0)
    val wInv = when(target === 0, 2L).otherwise(4L)
    ipsPolicyValue(ev, "event_type", arm, target, wInv, "value")
  }

  /** Difference-in-differences — the workhorse quasi-experimental
    * estimator when treatment wasn't randomized but a PRE period exists:
    * parallel-trends baseline from the control group's pre→post drift,
    * effect = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre). The four
    * cell means come from one map-side-combined pass of exact integer
    * cents (+ squared-cents for the Welch-style SE: se² = Σ s²ᵢ/nᵢ over
    * the four cells); slices with any cell under 2 rows are excluded
    * (the filtered-exclusion discipline — no NaN rows). Frame is
    * slice-sized; everything before the final sqrt is exact. */
  def diffInDiff(df: DataFrame, sliceCol: String, treatedCond: Column,
      postCond: Column, outcomeCol: String): DataFrame = {
    val cents = (col(outcomeCol).cast("decimal(18,2)") * 100).cast("long")
    val cell = (t: Boolean, p: Boolean) => {
      val in = col("t") === lit(t) && col("p") === lit(p)
      val tag = (if (t) "t" else "c") + (if (p) "1" else "0")
      Seq(sum(when(in, 1L).otherwise(0L)).as(s"n_$tag"),
        sum(when(in, d380(col("y"))).otherwise(lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as(s"s_$tag"),
        sum(when(in, d380(col("y")) * d380(col("y")))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as(s"q_$tag"))
    }
    val aggs = Seq((true, false), (true, true), (false, false), (false, true))
      .flatMap { case (t, p) => cell(t, p) }
    val mean = (tag: String) => dd(col(s"s_$tag")) / dd(col(s"n_$tag"))
    // unbiased cell variance of the MEAN: (q − s²/n) / (n−1) / n
    val varM = (tag: String) =>
      (dd(col(s"q_$tag")) - dd(col(s"s_$tag")) * dd(col(s"s_$tag")) /
        dd(col(s"n_$tag"))) / dd(col(s"n_$tag") - 1) / dd(col(s"n_$tag"))
    df.select(col(sliceCol).as("g"), treatedCond.as("t"), postCond.as("p"),
        cents.as("y"))
      .groupBy("g").agg(aggs.head, aggs.tail: _*)
      .filter(col("n_t0") >= 2 && col("n_t1") >= 2 &&
        col("n_c0") >= 2 && col("n_c1") >= 2)
      .withColumn("did", (mean("t1") - mean("t0") - (mean("c1") - mean("c0")))
        / 100.0)
      .withColumn("se",
        sqrt(varM("t1") + varM("t0") + varM("c1") + varM("c0")) / 100.0)
      .select(col("g").as(sliceCol), col("n_t0"), col("n_t1"), col("n_c0"),
        col("n_c1"), col("did"), col("se"),
        (col("did") / col("se")).as("t_stat"))
      .orderBy(sliceCol)
  }

  /** Per event type: did the (md5-assigned) treated users' spend move
    * differently across the mid-log cutover than controls'. Treatment is
    * assigned at the USER grain (first md5 hex digit of user_id ≤ '7' —
    * the unit that would actually be randomized), post is the global
    * midpoint instant of the log. */
  def q317DiffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val mm = ev.agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    val au = ascii(substring(md5(col("user_id").cast("string")), 1, 1))
    diffInDiff(ev.crossJoin(broadcast(mm)), "event_type",
      au <= 55, unix_micros(col("ts")) >= col("mid"), "value")
  }

  /** Cumulative gains / lift curve of a score against a binary outcome:
    * rank the population by score deciles (percentile cutpoints
    * BROADCAST to the scan — the q195 move; a global ntile would be a
    * single-partition sort), walk bins best-first, report capture rate
    * and lift vs random. The model-eval primitive for any propensity /
    * churn / risk ranking. All counts exact; capture and lift are
    * one-division doubles over the 10-row bin frame. */
  def gainsCurve(df: DataFrame, scoreCol: String, posCond: Column,
      nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2: $nBins")
    val ps = (1 until nBins).map(i => i.toDouble / nBins)
    val cuts = df.agg(
      expr(s"percentile($scoreCol, array(${ps.mkString(",")}))").as("__cs"))
    val bin = (0 until nBins - 1).map(i =>
        when(col(scoreCol) > col("__cs")(i), 1L).otherwise(0L))
      .reduce(_ + _)
    val bins = df.crossJoin(broadcast(cuts))
      .withColumn("bin", bin)
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(posCond, 1L).otherwise(0L)).as("n_pos"))
    val wCum = Window.orderBy(desc("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    bins
      .withColumn("cum_n", sum("n").over(wCum))
      .withColumn("cum_pos", sum("n_pos").over(wCum))
      .withColumn("nn", sum("n").over(wAll))
      .withColumn("np", sum("n_pos").over(wAll))
      .select(col("bin"), col("n"), col("n_pos"),
        (dd(col("cum_n")) / dd(col("nn"))).as("cum_frac"),
        (dd(col("cum_pos")) / dd(col("np"))).as("capture"),
        ((dd(col("cum_pos")) / dd(col("np"))) /
          (dd(col("cum_n")) / dd(col("nn")))).as("lift"))
      .orderBy(desc("bin"))
  }

  /** If order value ranked a "will end up F-status" model, how much of
    * the F mass do the top deciles capture. */
  def q232GainsCurve(spark: SparkSession, dir: String): DataFrame =
    gainsCurve(Tables.orders(spark, dir), "o_totalprice",
      col("o_orderstatus") === "F", nBins = 10)

  /** Int8 scalar-quantization audit for an embedding column: per-vector
    * symmetric quantization (scale = max|x|/127, q = round(x/scale)),
    * reconstruction error rolled up per label — the "can we ship int8
    * embeddings" report (4× memory / bandwidth for ANN serving).
    *
    * Exactness: element errors are computed in double from exact
    * float→double promotions with one fixed expression shape, each
    * squared-error term is DECIMAL-quantized before the per-vector sum,
    * and per-vector MSEs are DECIMAL-quantized before the per-label mean
    * — no order-sensitive double accumulation anywhere.
    *
    * Shape: posexplode to the element frame, ONE vec-hash exchange
    * carries the per-vector max window and the per-vector reduce, then a
    * label rollup of the tiny per-vector frame. The 64× element fan-out
    * is the audit's honest cost (it reads every element exactly once —
    * the same work any quantizer must do). */
  def int8QuantAudit(emb: DataFrame, idCol: String, embCol: String,
      labelCol: String): DataFrame = {
    val el = emb.select(col(idCol).as("id"), col(labelCol).as("lbl"),
      posexplode(col(embCol)).as(Seq("pos", "x")))
    val wVec = Window.partitionBy("id")
    val xd = dd(col("x"))
    val scale = dd(col("mx")) / 127.0
    val qv = round(xd / scale)
    val err = xd - qv * scale
    val perVec = el
      .withColumn("mx", max(abs(col("x"))).over(wVec))
      .withColumn("term",
        when(col("mx") > 0, (err * err).cast("decimal(28,18)"))
          .otherwise(lit(0).cast("decimal(28,18)")))
      .withColumn("aerr", when(col("mx") > 0, abs(err)).otherwise(lit(0.0)))
      .groupBy("id", "lbl")
      .agg(count(lit(1)).as("dim"),
        sum(col("term")).cast("decimal(38,18)").as("sse"),
        max(col("aerr")).as("amax"))
      .withColumn("mse", (dd(col("sse")) / dd(col("dim")))
        .cast("decimal(28,18)"))
    perVec.groupBy(col("lbl").as(labelCol))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("mse")).cast("decimal(38,18)").cast("double") /
          count(lit(1)).cast("double")).as("mean_mse"),
        max(col("amax")).as("max_abs_err"))
      .orderBy(labelCol)
  }

  /** Per-label int8 reconstruction-error report for the embedding
    * corpus. */
  def q233Int8Quant(spark: SparkSession, dir: String): DataFrame =
    int8QuantAudit(Tables.embeddings(spark, dir), "vec_id", "embedding",
      "label")

  /** Multiplicative seasonal decomposition of a per-key hourly count
    * series: x ≈ trend · seasonal, residual = x / (trend · s_h). Trend
    * is a centered 25-hour moving average over the DENSIFIED grid
    * (missing hours = 0 — the q197 rule; skipping the fill would bend
    * the trend toward busy hours), the seasonal index s_h is each
    * hour-of-day's mean over the key's grand mean. The monitoring
    * primitive behind q137's anomaly flags, exposed as a full
    * decomposition.
    *
    * All means are single divisions of exact integer sums; the residual
    * is one fixed-shape double expression, so the gate is strict. Full
    * 25-bucket windows only (partial edges excluded by count) keep the
    * trend well-defined. */
  def seasonalDecompose(events: DataFrame, tsCol: String, keyCol: String)
      : DataFrame = {
    val bucketUs = 3600L * 1000000L
    val buck = events.select(col(keyCol).as("k"),
        expr(s"unix_micros($tsCol) div $bucketUs").as("b"))
      .groupBy("k", "b").agg(count(lit(1)).as("n"))
    val grid = buck.groupBy("k").agg(min("b").as("b0"), max("b").as("b1"))
      .select(col("k"), explode(sequence(col("b0"), col("b1"))).as("b"))
    val dense = grid.join(buck, Seq("k", "b"), "left")
      .select(col("k"), col("b"), coalesce(col("n"), lit(0L)).as("x"))
    val wTrend = Window.partitionBy("k").orderBy("b")
      .rowsBetween(-12, 12)
    val withTrend = dense
      .withColumn("ts_", sum("x").over(wTrend))
      .withColumn("tc_", count(lit(1)).over(wTrend))
      .withColumn("h", pmod(col("b"), lit(24L)))
    val hod = dense.withColumn("h", pmod(col("b"), lit(24L)))
      .groupBy("k", "h").agg(sum("x").as("sh"), count(lit(1)).as("ch"))
    val grand = dense.groupBy("k")
      .agg(sum("x").as("sg"), count(lit(1)).as("cg"))
    val trend = dd(col("ts_")) / dd(col("tc_"))
    val seasonal = (dd(col("sh")) / dd(col("ch"))) /
      (dd(col("sg")) / dd(col("cg")))
    withTrend
      .join(hod, Seq("k", "h"))
      .join(grand, Seq("k"))
      .filter(col("tc_") === 25) // full centered windows only
      .select(col("k").as(keyCol), col("b").as("bucket"), col("x"),
        trend.as("trend"), seasonal.as("seasonal"),
        when(trend > 0 && seasonal > 0, dd(col("x")) / (trend * seasonal))
          .as("residual"))
      .orderBy(keyCol, "bucket")
  }

  /** Hourly volume per event type split into trend × daily-seasonal ×
    * residual. */
  def q234SeasonalDecompose(spark: SparkSession, dir: String): DataFrame =
    seasonalDecompose(Tables.events(spark, dir), "ts", "event_type")

  /** NDCG@k of cosine retrieval against same-label relevance — the
    * ranking-quality eval for the ANN/embedding stack: for each probe,
    * rank the corpus by cosine, mark neighbors sharing the probe's label
    * relevant, and score the top-k list with the standard log2 discount;
    * the ideal DCG uses the probe label's true support (capped at k), so
    * NDCG = 1 means "every retrievable relevant met the top of the
    * list".
    *
    * Shape: probes broadcast against the corpus (probe-bounded brute
    * force — the q50 pattern), one probe-hash window for ranks, DCG
    * terms DECIMAL-quantized; the IDCG lookup is a k-row literal frame
    * joined broadcast. */
  def ndcgAtK(emb: DataFrame, idCol: String, embCol: String,
      labelCol: String, nProbes: Int, k: Int): DataFrame = {
    require(nProbes >= 1 && k >= 1, s"bad geometry: $nProbes $k")
    val probes = emb.filter(col(idCol) < nProbes)
      .select(col(idCol).as("pid"), col(embCol).as("pv"),
        col(labelCol).as("plbl"))
    val corpus = emb.select(col(idCol).as("id"), col(embCol).as("v"),
      col(labelCol).as("lbl"))
    val ranked = corpus.crossJoin(broadcast(probes))
      .filter(col("id") =!= col("pid"))
      .withColumn("sim", Similarity.cosine(col("v"), col("pv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("pid").orderBy(desc("sim"), asc("id"))))
      .filter(col("rank") <= k)
      .withColumn("rel", when(col("lbl") === col("plbl"), 1L)
        .otherwise(0L))
    val dcg = ranked.groupBy("pid", "plbl")
      .agg(sum("rel").as("n_rel_topk"),
        sum((dd(col("rel")) / log2(dd(col("rank")) + 1.0))
          .cast("decimal(38,12)")).cast("decimal(38,12)").as("dcg_q"))
    val support = corpus.groupBy(col("lbl").as("plbl"))
      .agg(count(lit(1)).as("n_lbl"))
    // cumulative ideal DCG for r = 1..k, as a k-row literal frame
    val spark0 = emb.sparkSession
    import spark0.implicits._
    // ascending-i double sum, the shape the oracle's ordered cumsum
    // reproduces; ≤ k terms, so cross-engine log ulps stay ≪ 1e-9
    val idcg = (1 to k).map { r =>
      (r.toLong, (1 to r).map(i =>
        1.0 / (math.log(i + 1.0) / math.log(2.0))).sum)
    }.toDF("r", "idcg")
    dcg.join(support, Seq("plbl"))
      .withColumn("r", least(lit(k.toLong), col("n_lbl") - 1))
      .join(broadcast(idcg), Seq("r"))
      .select(col("pid").as(idCol), col("plbl").as(labelCol),
        col("n_rel_topk"), dd(col("dcg_q")).as("dcg"), col("idcg"),
        when(col("idcg") > 0, dd(col("dcg_q")) / col("idcg"))
          .otherwise(lit(0.0)).as("ndcg"))
      .orderBy(idCol)
  }

  /** Retrieval quality of raw cosine search over the embedding corpus:
    * NDCG@10 with same-label relevance for the first 20 probes. */
  def q235Ndcg(spark: SparkSession, dir: String): DataFrame =
    ndcgAtK(Tables.embeddings(spark, dir), "vec_id", "embedding", "label",
      nProbes = 20, k = 10)

  /** Engine-portable token hash: the numeric value of the first 6 hex
    * digits of md5(term), mod `nBuckets` — cryptographic spread, exact
    * same integer in any engine with md5 (the deterministic alternative
    * to engine-private hash functions, which never agree across
    * engines). 6 digits = 24 bits, plenty above any practical bucket
    * count. */
  private def md5Bucket(term: Column, nBuckets: Int): Column = {
    val h = md5(term)
    // hex digit value via ascii: '0'-'9' → a−48, 'a'-'f' → a−87
    val v = (1 to 6).map { i =>
      val a = ascii(substring(h, i, 1))
      when(a >= 97, a - 87).otherwise(a - 48).cast("long") *
        lit(1L << (4 * (6 - i)))
    }.reduce(_ + _)
    pmod(v, lit(nBuckets.toLong))
  }

  /** Feature-hashing (hashing-trick) audit: project the corpus
    * vocabulary into `nBuckets` hash buckets and report each bucket's
    * load — distinct terms (collisions), token mass, and the share of
    * mass owned by the bucket's dominant term. The go/no-go report
    * before replacing an unbounded vocabulary with a fixed-width hashed
    * feature space (the standard trick for streaming featurization —
    * no vocabulary state at all).
    *
    * Shape: one tokenize pass → per-(bucket, term) counts (map-side
    * combined), then a bucket rollup; every frame after the first
    * groupBy is vocabulary-sized. The hash is [[md5Bucket]], so the
    * bucket assignment — and the gate — is engine-exact. */
  def featureHashingAudit(docs: DataFrame, textCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2: $nBuckets")
    val termCounts = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .withColumn("bucket", md5Bucket(col("term"), nBuckets))
    termCounts.groupBy("bucket")
      .agg(count(lit(1)).as("n_terms"),
        sum("n").as("n_tokens"),
        max("n").as("max_term_tokens"))
      .select(col("bucket"), col("n_terms"), col("n_tokens"),
        (dd(col("max_term_tokens")) / dd(col("n_tokens")))
          .as("dominant_share"))
      .orderBy("bucket")
  }

  /** 64-bucket hashed-vocabulary load report over the document corpus. */
  def q236FeatureHashing(spark: SparkSession, dir: String): DataFrame =
    featureHashingAudit(Tables.documents(spark, dir), "text", nBuckets = 64)

  /** ROC AUC of a numeric score against a binary outcome, per group —
    * computed exactly via the rank-sum identity
    * AUC = (R₊ − n₊(n₊+1)/2) / (n₊·n₋) with average-tie ranks (the
    * probabilistic AUC definition, ties counted half). The same integer
    * rank machinery as [[mannWhitney]]; AUC is its U normalized — the
    * model-ranking metric every score column should be able to report
    * in one pass.
    *
    * One key-hash exchange (rank + tie windows), one groupBy finish. */
  def rocAuc(df: DataFrame, groupCol: String, scoreCol: String,
      posCond: Column): DataFrame = {
    val wRank = Window.partitionBy("g").orderBy(col("v"))
    val wTies = Window.partitionBy("g", "v")
    val ranked = df
      .select(col(groupCol).as("g"), col(scoreCol).as("v"),
        posCond.as("pos"))
      .withColumn("r2",
        lit(2) * rank().over(wRank) + count(lit(1)).over(wTies) - 1)
    ranked.groupBy("g")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("nn"),
        sum(when(col("pos"), col("r2")).otherwise(lit(0L))).as("rpx2"))
      .filter(col("np") > 0 && col("nn") > 0)
      .select(col("g").as(groupCol), col("np").as("n_pos"),
        col("nn").as("n_neg"),
        ((dd(col("rpx2")) / 2.0 -
          dd(col("np")) * dd(col("np") + 1) / 2.0) /
          (dd(col("np")) * dd(col("nn")))).as("auc"))
      .orderBy(groupCol)
  }

  /** How well does order value rank F-status orders, per market
    * segment: the exact per-slice AUC audit. */
  def q237RocAuc(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    rocAuc(o.join(c, o("o_custkey") === c("c_custkey")),
      "c_mktsegment", "o_totalprice", col("o_orderstatus") === "F")
  }

  /** Per-class evaluation of the [[naiveBayes2]] classifier ON its
    * training table (apparent error — the sanity floor every model
    * report starts from): confusion-derived precision, recall, F1 and
    * support per class. The prediction table is combo-sized and joins
    * back BROADCAST; per-class measures come off one (actual,
    * predicted) contingency aggregation. Macro metrics are exact count
    * ratios. */
  def classifierReport(df: DataFrame, f1Col: String, f2Col: String,
      classCol: String): DataFrame = {
    val pred = naiveBayes2(df, f1Col, f2Col, classCol)
      .select(col(f1Col).as("f1"), col(f2Col).as("f2"), col("predicted"))
    val joined = df
      .select(col(f1Col).as("f1"), col(f2Col).as("f2"),
        col(classCol).as("actual"))
      .join(broadcast(pred), Seq("f1", "f2"))
    val cells = joined.groupBy("actual", "predicted")
      .agg(count(lit(1)).as("n"))
    val byActual = cells.groupBy(col("actual").as("cls"))
      .agg(sum("n").as("support"),
        sum(when(col("predicted") === col("actual"), col("n"))
          .otherwise(lit(0L))).as("tp"))
    val byPred = cells.groupBy(col("predicted").as("cls"))
      .agg(sum("n").as("n_predicted"))
    byActual.join(byPred, Seq("cls"), "left")
      .na.fill(0L, Seq("n_predicted"))
      .select(col("cls").as(classCol), col("support"), col("tp"),
        col("n_predicted"),
        when(col("n_predicted") > 0, dd(col("tp")) / dd(col("n_predicted")))
          .otherwise(lit(0.0)).as("prec"),
        (dd(col("tp")) / dd(col("support"))).as("recall"),
        when(col("n_predicted") > 0 && col("tp") > 0,
          lit(2.0) * (dd(col("tp")) / dd(col("n_predicted"))) *
            (dd(col("tp")) / dd(col("support"))) /
            (dd(col("tp")) / dd(col("n_predicted")) +
              dd(col("tp")) / dd(col("support"))))
          .otherwise(lit(0.0)).as("f1"))
      .orderBy(classCol)
  }

  /** Confusion-matrix report for the q230 priority classifier. */
  def q238ClassifierReport(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    classifierReport(o.join(c, o("o_custkey") === c("c_custkey")),
      "c_mktsegment", "o_orderstatus", "o_orderpriority")
  }

  /** Leave-one-group-out influence: how much does dropping each group
    * move the global mean of a measure — the group-granular data-
    * valuation scan (which sources/tenants/shards is the statistic
    * leaning on). Exact: per-group sums, the global totals as a window
    * over the group frame, both means single divisions of exact
    * DECIMALs. */
  def looGroupInfluence(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val cents = (col(valCol).cast("decimal(18,2)") * 100).cast("long")
    val g = df.select(col(groupCol).as("g"), cents.as("t"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum(d380(col("t"))).as("s"))
    val w = Window.partitionBy()
    val base = dd(col("sn")) / dd(col("nn")) / 100.0
    val without = (dd(col("sn") - col("s"))) /
      dd(col("nn") - col("n")) / 100.0
    g.withColumn("nn", sum("n").over(w))
      .withColumn("sn", sum("s").over(w))
      .filter(col("nn") > col("n")) // dropping the only group: undefined
      .select(col("g").as(groupCol), col("n"),
        base.as("mean_all"), without.as("mean_without"),
        (base - without).as("influence"))
      .orderBy(groupCol)
  }

  /** Which market segment is the global average order value leaning
    * on. */
  def q239LooInfluence(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    looGroupInfluence(o.join(c, o("o_custkey") === c("c_custkey")),
      "c_mktsegment", "o_totalprice")
  }

  /** Calibration report + expected calibration error (ECE) for the
    * [[naiveBayes2]] classifier: the winning class's NORMALIZED posterior
    * is its confidence; rows bucket into 10 equal-width confidence bins;
    * each bin compares its mean confidence against its empirical
    * accuracy; ECE is the support-weighted absolute gap. The go/no-go
    * check before anyone treats a model score as a probability.
    *
    * Float discipline: per-class scores are DECIMAL-quantized before the
    * per-combo normalizing sum (5-term double addition would be order-
    * sensitive), confidences are DECIMAL-quantized before the per-bin
    * mean, ECE terms before the bin sum — every gate-visible number is a
    * fixed-shape division of exact decimals. Shape: the grid is
    * combo-sized, rows join the prediction table BROADCAST, and the bin
    * frame is 10 rows. */
  def calibrationEce(df: DataFrame, f1Col: String, f2Col: String,
      classCol: String): DataFrame = {
    val grid = nbScoredGrid(df, f1Col, f2Col, classCol)
      .withColumn("score_q", col("score").cast("decimal(28,18)"))
    val wCombo = Window.partitionBy("f1", "f2")
    val pred = grid
      .withColumn("ssum", sum("score_q").over(wCombo))
      .withColumn("rk", row_number().over(
        wCombo.orderBy(desc("score"), asc("c"))))
      .filter(col("rk") === 1)
      .select(col("f1"), col("f2"), col("c").as("predicted"),
        (dd(col("score_q")) / dd(col("ssum"))).cast("decimal(28,18)")
          .as("conf_q"))
    val rows = df.select(col(f1Col).as("f1"), col(f2Col).as("f2"),
        col(classCol).as("actual"))
      .join(broadcast(pred), Seq("f1", "f2"))
      .withColumn("bin",
        least(lit(9L), floor(dd(col("conf_q")) * 10.0).cast("long")))
    val bins = rows.groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("actual") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"),
        sum(col("conf_q")).cast("decimal(38,18)").as("conf_sum"))
    val w = Window.partitionBy()
    val acc = dd(col("n_correct")) / dd(col("n"))
    val mconf = dd(col("conf_sum")) / dd(col("n"))
    bins
      .withColumn("nn", sum("n").over(w))
      .withColumn("term",
        ((dd(col("n")) * abs(acc - mconf)) / dd(col("nn")))
          .cast("decimal(38,12)"))
      .withColumn("ece", sum("term").over(w).cast("double"))
      .select(col("bin"), col("n"), acc.as("accuracy"),
        mconf.as("mean_conf"), col("ece"))
      .orderBy("bin")
  }

  /** Is the q230 priority classifier's confidence honest: per-bin
    * reliability plus the corpus ECE. */
  def q240CalibrationEce(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    calibrationEce(o.join(c, o("o_custkey") === c("c_custkey")),
      "c_mktsegment", "o_orderstatus", "o_orderpriority")
  }

  /** Zipf-law fit over the corpus term-frequency distribution: OLS of
    * ln(freq) on ln(rank) across the top-`fitTerms` terms — the
    * corpus-health scalar (natural-language corpora sit near slope −1;
    * a flat slope says boilerplate/templating, a cliff says tiny
    * vocabulary). Ranking is a distributed top-V (TakeOrdered with a
    * term-asc tiebreak — no single-partition window over the
    * vocabulary); the fit runs on the V-row statistic frame with
    * ln-terms DECIMAL-quantized before the moment sums, finish in one
    * fixed double shape (the q200 OLS discipline). */
  def zipfFit(docs: DataFrame, textCol: String, fitTerms: Int): DataFrame = {
    require(fitTerms >= 10, s"need a real fit window: $fitTerms")
    val top = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("term")).limit(fitTerms)
    val ranked = top
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("n"), asc("term"))))
      .select(log(dd(col("rank"))).cast("decimal(18,12)").as("x"),
        log(dd(col("n"))).cast("decimal(18,12)").as("y"))
    val m = ranked.agg(count(lit(1)).as("nf"),
      sum(col("x")).cast("decimal(38,12)").as("sx"),
      sum(col("y")).cast("decimal(38,12)").as("sy"),
      sum(col("x") * col("y")).cast("decimal(38,24)").as("sxy"),
      sum(col("x") * col("x")).cast("decimal(38,24)").as("sxx"),
      sum(col("y") * col("y")).cast("decimal(38,24)").as("syy"))
    val cov = dd(col("nf")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))
    val vx = dd(col("nf")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))
    val vy = dd(col("nf")) * dd(col("syy")) - dd(col("sy")) * dd(col("sy"))
    m.select(col("nf").as("n_terms_fit"),
        (cov / vx).as("slope"),
        ((dd(col("sy")) - cov / vx * dd(col("sx"))) / dd(col("nf")))
          .as("intercept"),
        ((cov * cov) / (vx * vy)).as("r2"))
  }

  /** Does the corpus obey Zipf: rank-frequency power-law fit over the
    * top 1000 terms. */
  def q241ZipfFit(spark: SparkSession, dir: String): DataFrame =
    zipfFit(Tables.documents(spark, dir), "text", fitTerms = 1000)

  /** Term burstiness — the index of dispersion (variance/mean) of a
    * term's per-document count, over the documents that CONTAIN it:
    * bursty terms (D ≫ 1) concentrate in few docs (topical/boilerplate
    * markers), D ≈ 1 is Poisson background. The top-`k` burstiest terms
    * above a df floor — the screen for template contamination that raw
    * frequency ranking misses.
    *
    * One tokenize pass → (doc, term) counts (map-side combined), one
    * term rollup to exact integer moments, a fixed-shape double finish,
    * distributed TakeOrdered for the report. */
  def termBurstiness(docs: DataFrame, idCol: String, textCol: String,
      minDf: Long, k: Int): DataFrame = {
    val perDoc = docs
      .select(col(idCol).as("doc"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("doc", "term").agg(count(lit(1)).as("c"))
    val m = perDoc.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("c").as("tf"),
        sum(d380(col("c")) * d380(col("c"))).cast("decimal(38,0)")
          .as("sq"))
      .filter(col("df") >= minDf)
    val mean = dd(col("tf")) / dd(col("df"))
    val varc = dd(col("sq")) / dd(col("df")) - mean * mean
    m.select(col("term"), col("df"), col("tf"),
        (varc / mean).as("dispersion"))
      .orderBy(desc("dispersion"), asc("term")).limit(k)
  }

  /** The 20 burstiest terms of the corpus (df ≥ 5). */
  def q242TermBurstiness(spark: SparkSession, dir: String): DataFrame =
    termBurstiness(Tables.documents(spark, dir), "doc_id", "text",
      minDf = 5L, k = 20)

  /** First `digits` hex digits of md5(s) as a long — the engine-portable
    * 4·digits-bit row hash (any engine with md5 + ascii computes the
    * identical integer; engine-native hash functions never agree across
    * engines, which is exactly what a cross-replica checksum cannot
    * tolerate). */
  private def md5Long(s: Column, digits: Int): Column = {
    require(digits >= 1 && digits <= 15, s"md5Long digits: $digits")
    val h = md5(s)
    (1 to digits).map { i =>
      val a = ascii(substring(h, i, 1))
      when(a >= 97, a - 87).otherwise(a - 48).cast("long") *
        lit(1L << (4 * (digits - i)))
    }.reduce(_ + _)
  }

  /** Content checksum per partition-sized slice of a table: each row
    * canonicalizes to a '|'-joined string (numerics as exact integers —
    * cents, epoch-µs — NEVER engine-formatted floats/dates), hashes
    * through [[md5Long]], and the per-slice SUM of row hashes is the
    * checksum — commutative, so shard order, partitioning, and merge
    * plan are all irrelevant. Equal checksums + equal counts ⇒ replicas
    * agree slice-by-slice; a mismatch localizes the diff to a slice (the
    * reconciliation primitive behind CDC pipelines — pairs with the q136
    * snapshot diff, which then finds the exact rows). One scan, one
    * map-side-combined groupBy. */
  def tableChecksum(df: DataFrame, sliceCol: Column,
      canonicalCols: Seq[Column]): DataFrame = {
    val row = concat_ws("|", canonicalCols: _*)
    df.select(sliceCol.as("slice"), md5Long(row, 12).as("h"))
      .groupBy("slice")
      .agg(count(lit(1)).as("n_rows"),
        sum(d380(col("h"))).cast("decimal(38,0)").as("checksum"))
      .orderBy("slice")
  }

  /** Monthly content checksums of the orders table (canonical integer
    * encoding: cents + epoch-µs). */
  def q243TableChecksum(spark: SparkSession, dir: String): DataFrame =
    tableChecksum(Tables.orders(spark, dir),
      expr("date_trunc('month', o_orderdate)").cast("date").cast("string"),
      Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        expr("unix_micros(o_orderdate)"), col("o_orderpriority")))

  /** Histogram-intersection similarity between every pair of per-key
    * value distributions: HI(a,b) = Σ_bins min(p_a, p_b) ∈ [0,1] — the
    * cheap, bounded distribution-similarity matrix (1 = identical mix,
    * 0 = disjoint support) that complements the two-sample TESTS (KS,
    * MW) with a similarity VIEW. Bins are an equi-width grid over the
    * global [min, max] (broadcast 1-row frame). The pair space is
    * |keys|², but over the (key × bins) STATISTIC frame — never over
    * rows.
    *
    * min(p_a, p_b) terms: each p is an exact-count ratio; the min of
    * two identical-input doubles agrees across engines, and terms are
    * DECIMAL-quantized before the bin sum. */
  def histogramIntersection(df: DataFrame, keyCol: String, valCol: String,
      nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins: $nBins")
    val span = df.agg(min(col(valCol)).as("mn"), max(col(valCol)).as("mx"))
    val binned = df.select(col(keyCol).as("k"), col(valCol).as("v"))
      .crossJoin(broadcast(span))
      .withColumn("bin", least(lit(nBins - 1),
        floor((col("v") - col("mn")) / (col("mx") - col("mn")) * nBins)
          .cast("int")))
      .groupBy("k", "bin").agg(count(lit(1)).as("c"))
      .withColumn("n", sum("c").over(Window.partitionBy("k")))
    val a = binned.select(col("k").as("ka"), col("bin"),
      (dd(col("c")) / dd(col("n"))).as("pa"))
    val b = binned.select(col("k").as("kb"), col("bin"),
      (dd(col("c")) / dd(col("n"))).as("pb"))
    a.join(b, Seq("bin"))
      .filter(col("ka") < col("kb"))
      .withColumn("term", least(col("pa"), col("pb"))
        .cast("decimal(38,12)"))
      .groupBy("ka", "kb")
      .agg(sum("term").cast("decimal(38,12)").cast("double")
        .as("hist_intersection"))
      .orderBy("ka", "kb")
  }

  /** How alike are the event types' value distributions, pairwise. */
  def q244HistIntersection(spark: SparkSession, dir: String): DataFrame =
    histogramIntersection(Tables.events(spark, dir), "event_type", "value",
      nBins = 20)

  /** Split-conformal prediction interval per category, evaluated
    * honestly on a held-out fold: fold 0 trains the predictor (the
    * category mean), fold 1 calibrates (the ⌈(n+1)(1−α)⌉-th smallest
    * absolute residual becomes the interval half-width — the standard
    * split-conformal quantile), fold 2 measures empirical coverage.
    * The distribution-free "how wide must the error bar be" machine —
    * conformal guarantees ≥ 1−α coverage regardless of the data law.
    *
    * EXACT throughout: with pred = s/n a rational, residual ordering
    * and the coverage test both run on the integer |y·n − s| (common
    * denominator per category) — no float boundary anywhere; doubles
    * appear only in the report columns. Shape: one groupBy for the
    * fold moments, one key-hash window for the order statistic, exact
    * conditional counts for coverage. */
  def conformalInterval(df: DataFrame, catCol: String, targetCol: String,
      foldKeyCol: String, alphaNum: Int, alphaDen: Int): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen,
      s"alpha must be in (0,1): $alphaNum/$alphaDen")
    val cents = (col(targetCol).cast("decimal(18,2)") * 100).cast("long")
    val base = df.select(col(catCol).as("cat"),
      (col(foldKeyCol) % 3).as("fold"), cents.as("y"),
      col(foldKeyCol).as("tie"))
    val train = base.filter(col("fold") === 0).groupBy("cat")
      .agg(count(lit(1)).as("n_train"), sum(d380(col("y"))).as("s"))
    val cal = base.filter(col("fold") === 1)
      .join(broadcast(train), Seq("cat"))
      .withColumn("num",
        abs(d380(col("y")) * d380(col("n_train")) - col("s"))
          .cast("decimal(38,0)"))
    val wCal = Window.partitionBy("cat")
    // k = ceil((n_cal + 1) * (1 - alpha)) as exact integer arithmetic:
    // ceil(a·(den−num)/den) = (a·(den−num) + den − 1) div den
    val calRanked = cal
      .withColumn("n_cal", count(lit(1)).over(wCal))
      .withColumn("kNum",
        ((col("n_cal") + 1) * (alphaDen - alphaNum) + alphaDen - 1)
          .cast("long"))
      .withColumn("k", expr(s"kNum div $alphaDen"))
      .withColumn("rk", row_number().over(
        wCal.orderBy(col("num"), col("tie"))))
    val qhat = calRanked
      .filter(col("rk") === least(col("k"), col("n_cal")))
      .select(col("cat"), col("n_cal"), col("num").as("qnum"))
    val test = base.filter(col("fold") === 2)
      .join(broadcast(train), Seq("cat"))
      .join(broadcast(qhat), Seq("cat"))
      .groupBy("cat")
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(d380(col("y")) * d380(col("n_train")) - col("s"))
          <= col("qnum"), 1L).otherwise(0L)).as("n_covered"))
    train.join(qhat, Seq("cat")).join(test, Seq("cat"))
      .select(col("cat").as(catCol), col("n_train"), col("n_cal"),
        col("n_test"),
        (dd(col("s")) / dd(col("n_train")) / 100.0).as("pred"),
        (dd(col("qnum")) / dd(col("n_train")) / 100.0).as("q_hat"),
        (dd(col("n_covered")) / dd(col("n_test"))).as("coverage"))
      .orderBy(catCol)
  }

  /** 90% conformal interval for order value by priority — trained,
    * calibrated, and coverage-audited on disjoint folds. */
  def q245ConformalInterval(spark: SparkSession, dir: String): DataFrame =
    conformalInterval(Tables.orders(spark, dir), "o_orderpriority",
      "o_totalprice", "o_orderkey", alphaNum = 1, alphaDen = 10)

  /** Hard-negative mining for embedding training: for each probe, the
    * top-k most-similar vectors with a DIFFERENT label — the negatives
    * a contrastive loss learns most from (random negatives are too
    * easy; these sit right at the decision boundary). Probe-bounded
    * brute force (the q50/q235 pattern: probes broadcast, one rank
    * window), rank-deterministic output. */
  def hardNegatives(emb: DataFrame, idCol: String, embCol: String,
      labelCol: String, nProbes: Int, k: Int): DataFrame = {
    require(nProbes >= 1 && k >= 1, s"bad geometry: $nProbes $k")
    val probes = emb.filter(col(idCol) < nProbes)
      .select(col(idCol).as("pid"), col(embCol).as("pv"),
        col(labelCol).as("plbl"))
    emb.select(col(idCol).as("neg_id"), col(embCol).as("v"),
        col(labelCol).as("neg_label"))
      .crossJoin(broadcast(probes))
      .filter(col("neg_label") =!= col("plbl"))
      .withColumn("sim", Similarity.cosine(col("v"), col("pv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("pid").orderBy(desc("sim"), asc("neg_id"))))
      .filter(col("rank") <= k)
      .select(col("pid").as(idCol), col("rank").cast("long").as("rank"),
        col("neg_id"), col("neg_label"))
      .orderBy(idCol, "rank")
  }

  /** Top-5 boundary negatives for the first 20 probes. */
  def q246HardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegatives(Tables.embeddings(spark, dir), "vec_id", "embedding",
      "label", nProbes = 20, k = 5)

  /** Theil–Sen robust trend per key: the MEDIAN of all pairwise slopes
    * of the hourly-mean series — the slope estimator a single wild hour
    * cannot move (29% breakdown point; OLS breaks at one outlier).
    * Runs over the per-key HOURLY statistic frame, so the pair space is
    * O(B²) in the key's bucket count, never in rows — bounded by the
    * observation span. (At a multi-year span, the standard scale path is
    * hash-sampling the pair space; the estimator is median-stable under
    * uniform pair sampling.)
    *
    * Determinism: bucket means are identical-input doubles, each slope
    * is one double op, the median is an exact order statistic with a
    * (b1, b2) tiebreak — no accumulation anywhere. */
  def theilSen(events: DataFrame, tsCol: String, keyCol: String,
      valCol: String): DataFrame = {
    // (r11 audit note: a rank-composition rewrite of the two per-key
    // windows — globalRankPrefix under (k, slope, b1, b2) minus per-key
    // offsets, with C(nb,2) computed arithmetically — was built and
    // MEASURED SLOWER at sf0.1, 5.9 s vs 3.9 s warm: the handful-of-keys
    // window sorts already run in parallel tasks, while the rewrite's
    // pair-frame persist + extra joins serialize. Kept as-was.)
    val cells = hourlyCells(events, tsCol, keyCol, valCol)
      .withColumn("m", dd(col("s")) / dd(col("c")) / 1e6)
      .select("k", "b", "m")
    val pairs = cells.select(col("k"), col("b").as("b1"), col("m").as("m1"))
      .join(cells.select(col("k"), col("b").as("b2"), col("m").as("m2")),
        Seq("k"))
      .filter(col("b1") < col("b2"))
      .withColumn("slope",
        (col("m2") - col("m1")) / dd(col("b2") - col("b1")))
    val w = Window.partitionBy("k")
    pairs
      .withColumn("np", count(lit(1)).over(w))
      .withColumn("rk", row_number().over(
        w.orderBy(col("slope"), col("b1"), col("b2"))))
      .filter(col("rk") === expr("(np + 1) div 2")) // lower median
      .select(col("k").as(keyCol), col("np").as("n_pairs"),
        col("slope").as("theil_sen_slope"))
      .orderBy(keyCol)
  }

  /** Robust hourly-value trend per event type (µ-units per hour). */
  def q247TheilSen(spark: SparkSession, dir: String): DataFrame =
    theilSen(Tables.events(spark, dir), "ts", "event_type", "value")

  /** Item-item kNN from co-occurrence — the classic collaborative-
    * filtering similarity: items sharing many baskets score
    * co / √(n_a·n_b) (cosine over binary basket vectors). The pair
    * space comes from the WITHIN-BASKET self-join, so it is
    * Σ_baskets k², bounded by basket size — the shape that scales to
    * billions of baskets (never an item × item cross join). Probe-
    * bounded report: top-k neighbors for items below `probeMax`.
    *
    * Exact counts; cosine is one fixed double shape; ranking tiebreaks
    * (cos desc, neighbor asc). */
  def itemKnn(baskets: DataFrame, basketCol: String, itemCol: String,
      probeMax: Long, k: Int): DataFrame = {
    // Materialize the distinct (basket, item) relation ONCE: it feeds four
    // consumers (both sides of the within-basket self-join and the item
    // counts used twice), which previously re-ran the scan + distinct per
    // consumer — 1 parquet scan instead of 3 (guide §2.4). The probe
    // filter is applied BEFORE the self-join/aggregation, not after it:
    // Catalyst pushed it through the lazy plan already, the explicit form
    // keeps it just as tight over the checkpointed frame. (`counts` stays
    // lazy: its two consumers re-aggregate the checkpointed frame as
    // parallel stages, cheaper than another serialized checkpoint job.)
    val bi = baskets.select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .distinct().localCheckpoint(true)
    val counts = bi.groupBy("it").agg(count(lit(1)).as("n"))
    val co = bi.filter(col("it") < probeMax)
      .select(col("bk"), col("it").as("ia"))
      .join(bi.select(col("bk"), col("it").as("ib")), Seq("bk"))
      .filter(col("ia") =!= col("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("co"))
    co.join(counts.select(col("it").as("ia"), col("n").as("na")), Seq("ia"))
      .join(counts.select(col("it").as("ib"), col("n").as("nb")), Seq("ib"))
      .withColumn("cosine",
        dd(col("co")) / sqrt(dd(col("na")) * dd(col("nb"))))
      .withColumn("rank", row_number().over(Window.partitionBy("ia")
        .orderBy(desc("cosine"), asc("ib"))))
      .filter(col("rank") <= k)
      .select(col("ia").as(itemCol), col("rank").cast("long").as("rank"),
        col("ib").as("neighbor"), col("co"), col("cosine"))
      .orderBy(itemCol, "rank")
  }

  /** "Parts bought together": top-10 co-purchase neighbors for the
    * first 50 parts. */
  def q248ItemKnn(spark: SparkSession, dir: String): DataFrame =
    itemKnn(Tables.lineitem(spark, dir), "l_orderkey", "l_partkey",
      probeMax = 50L, k = 10)

  /** Rank-2 ALS matrix factorization (Zhou et al. 2008, the canonical
    * distributed recommender trainer) — alternate closed-form ridge
    * solves between user and item factor tables: each half-step
    * aggregates, per entity, the 2×2 normal equations A = Σ ffᵀ + λI,
    * b = Σ r·f over that entity's ratings and solves them algebraically
    * (det = (a11+λ)(a22+λ) − a12²; no iterative linear solver, no BLAS).
    * Item factors seed deterministically at (1, ((i mod 97) − 48)/97) —
    * no RNG, and the ridge makes every A positive definite so the solve
    * never degenerates.
    *
    * This is exactly how ALS scales to 100 TB of interactions: each
    * half-step is ONE join of the ratings fact against the model-sized
    * factor table (broadcastable) + ONE groupBy shuffle on the entity
    * key; rounds are a small constant, state is two doubles per entity,
    * and nothing ever collects to the driver. Determinism: every
    * order-sensitive Σ is pico-unit-quantized per term (⌊t·1e12 + ½⌋,
    * the q216/q333 rule) and summed exactly in DECIMAL(38,0); the 2×2
    * solve is a fixed IEEE op sequence on those sums, so both engines
    * produce bit-identical factors round after round. λ = 0.125 (exactly
    * representable). Returns the factors of the `topN` most-rated users
    * and items (count-desc, id-asc — a total order). */
  /** One ALS half-step: solve the per-`entity` 2×2 ridge normal equations
    * from the ratings fact joined against the OTHER side's factor frame.
    * The factor frame is MODEL-sized (one row per distinct entity) while
    * `rt` is the fact table — the model side carries an explicit broadcast
    * hint: after localCheckpoint the factor frame has no stats, so without
    * the hint the planner can fall back to a sort-merge join that
    * reshuffles the fact table every half-step (r9 driver run: 93 s vs
    * 4.5 s sealed). Plan-pinned in TrainerPlanSpec.
    *
    * Entity-cardinality bound on the hint (ADVICE r10): the broadcast
    * side is one ~40 B row per distinct entity, so the hint is safe up to
    * ~10⁸ entities against default 8 GB executors — covering catalog-scale
    * item domains and most user domains. Past that (billions of users at
    * 100 TB), swap the hint for SHUFFLE_HASH on the factor side: it also
    * avoids re-sorting/reshuffling the fact (the r9 regression) without a
    * driver-side broadcast ceiling, at the cost of one hash shuffle of the
    * model frame per half-step. The trainer here keeps BROADCAST because
    * its factor frames are topN-bounded model frames by construction. */
  private[graft] def alsHalfStep(rt: DataFrame, entity: String,
      joinKey: String, f: DataFrame, lambda: Double): DataFrame = {
    val piq = (c: Column) => floor(c * 1e12 + 0.5).cast("decimal(38,0)")
    val unq = (c: Column) => c.cast("decimal(38,0)").cast("double") / 1e12
    rt.join(broadcast(f), joinKey)
      .groupBy(entity)
      .agg(unq(sum(piq(dd(col("f1")) * dd(col("f1"))))).as("a11"),
        unq(sum(piq(dd(col("f1")) * dd(col("f2"))))).as("a12"),
        unq(sum(piq(dd(col("f2")) * dd(col("f2"))))).as("a22"),
        unq(sum(piq(dd(col("r")) * dd(col("f1"))))).as("b1"),
        unq(sum(piq(dd(col("r")) * dd(col("f2"))))).as("b2"))
      .withColumn("det", (col("a11") + lambda) * (col("a22") + lambda) -
        col("a12") * col("a12"))
      .select(col(entity),
        (((col("a22") + lambda) * col("b1") - col("a12") * col("b2")) /
          col("det")).as("f1"),
        (((col("a11") + lambda) * col("b2") - col("a12") * col("b1")) /
          col("det")).as("f2"))
  }

  private def alsTrain(ratings0: DataFrame, userCol: String,
      itemCol: String, ratingCol: String, rounds: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val lambda = 0.125
    val rt = ratings0
      .select(col(userCol).as("u"), col(itemCol).as("i"),
        col(ratingCol).cast("long").as("r"))
      .groupBy("u", "i").agg(sum("r").as("r"))
      .localCheckpoint(true)
    def halfStep(entity: String, joinKey: String, f: DataFrame): DataFrame =
      alsHalfStep(rt, entity, joinKey, f, lambda)
    var itemF = rt.select("i").distinct()
      .select(col("i"), lit(1.0).as("f1"),
        (((col("i") % 97) - 48).cast("double") / 97.0).as("f2"))
      .localCheckpoint(true)
    var userF: DataFrame = rt.sparkSession.emptyDataFrame
    for (r <- 1 to rounds) {
      // eager checkpoints: the new frame is materialized before the frame
      // it supersedes is freed, so the free is safe (lineage is truncated)
      val newU = halfStep("u", "i", itemF).localCheckpoint(true)
      if (r > 1) graft.plans.Checkpoints.free(userF)
      userF = newU
      val newI = halfStep("i", "u", userF).localCheckpoint(true)
      graft.plans.Checkpoints.free(itemF)
      itemF = newI
    }
    (rt, userF, itemF)
  }

  def alsFactors(ratings0: DataFrame, userCol: String, itemCol: String,
      ratingCol: String, rounds: Int, topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1: $topN")
    val (rt, userF, itemF) =
      alsTrain(ratings0, userCol, itemCol, ratingCol, rounds)
    val ucnt = rt.groupBy("u").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("u")).limit(topN)
    val icnt = rt.groupBy("i").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("i")).limit(topN)
    userF.join(ucnt, "u")
      .select(lit("user").as("kind"), col("u").as("id"),
        col("n").as("n_interactions"), col("f1"), col("f2"))
      .union(itemF.join(icnt, "i")
        .select(lit("item").as("kind"), col("i").as("id"),
          col("n").as("n_interactions"), col("f1"), col("f2")))
      .orderBy("kind", "id")
  }

  /** Two ALS rounds over (customer, part, Σ quantity) purchase
    * strengths — the factor table a recommender serves, hash-gated for
    * the 10 most-active customers and parts. */
  def q336AlsFactors(spark: SparkSession, dir: String): DataFrame =
    alsFactors(
      Tables.lineitem(spark, dir).join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey")),
      "o_custkey", "l_partkey", "l_quantity", rounds = 2, topN = 10)

  /** Top-k recommendation SERVING from the [[alsFactors]] model — the
    * step a recommender actually ships: score(u, i) = u·f ⋅ i·f over the
    * candidate item set, EXCLUDING items the user already interacted
    * with, rank per user. Probe users are the `nUsers` most active
    * (count-desc, id-asc — total order).
    *
    * Shape: the probe-user factor rows are a broadcast statistic frame
    * crossed against the FULL item-factor table (items stream, users
    * ride along), seen pairs leave via a left-anti join against the
    * ratings keyed to the probe users, and the per-user top-k is a
    * window over |probe| × |items| rows. At 100 TB this exact-scoring
    * frame is the RERANKER tail of the funnel — candidate generation
    * over the full catalog belongs to the ANN family (q50/q93/q98),
    * this operator is the exact gate those candidates feed. The score
    * is one fixed IEEE shape (two products, one add) on the
    * bit-identical factor tables, so ranking and the gate are exact. */
  def alsRecommendTopK(ratings0: DataFrame, userCol: String,
      itemCol: String, ratingCol: String, rounds: Int, nUsers: Int,
      k: Int): DataFrame = {
    require(nUsers >= 1 && k >= 1, s"bad args: $nUsers $k")
    val (rt, userF, itemF) =
      alsTrain(ratings0, userCol, itemCol, ratingCol, rounds)
    val probe = rt.groupBy("u").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("u")).limit(nUsers).select("u")
    val uf = userF.join(probe, "u")
      .select(col("u"), col("f1").as("uf1"), col("f2").as("uf2"))
    val seen = rt.join(probe, "u").select("u", "i")
    itemF.crossJoin(broadcast(uf))
      .join(seen, Seq("u", "i"), "left_anti")
      .withColumn("score",
        col("uf1") * col("f1") + col("uf2") * col("f2"))
      .withColumn("rank", row_number().over(Window.partitionBy("u")
        .orderBy(desc("score"), asc("i"))))
      .filter(col("rank") <= k)
      .select(col("u").as("custkey"), col("rank").cast("long").as("rank"),
        col("i").as("partkey"), col("score"))
      .orderBy("custkey", "rank")
  }

  /** Five unseen parts per most-active customer, scored by the q336
    * rank-2 model. */
  def q339AlsRecommend(spark: SparkSession, dir: String): DataFrame =
    alsRecommendTopK(
      Tables.lineitem(spark, dir).join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey")),
      "o_custkey", "l_partkey", "l_quantity", rounds = 2, nUsers = 10,
      k = 5)

  /** Two-way ANOVA with interaction: does factor A, factor B, or their
    * INTERACTION explain the target — the screen that tells a feature
    * pipeline whether two categoricals are worth crossing. Sums of
    * squares via the standard cell-moment identities
    * (SSA = Σ s_a²/n_a − S²/N, SSAB = Σ s_ab²/n_ab − Σ s_a²/n_a −
    * Σ s_b²/n_b + S²/N, SSW = Σy² − Σ s_ab²/n_ab), every s²/n term a
    * single division on exact DECIMAL cell moments, quantized before
    * its sum (the q225 discipline). One scan → cell frame; everything
    * after is cells-sized. */
  def twoWayAnova(df: DataFrame, aCol: String, bCol: String,
      targetCol: String): DataFrame = {
    val cents = (col(targetCol).cast("decimal(18,2)") * 100).cast("long")
    val cells = df.select(col(aCol).as("a"), col(bCol).as("b"),
        cents.as("t"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n"), sum(d380(col("t"))).as("s"),
        sum(d380(col("t")) * d380(col("t"))).cast("decimal(38,0)")
          .as("sq"))
    val term = (c: Column, n: Column) =>
      (dd(c) * dd(c) / dd(n)).cast("decimal(38,6)")
    val byA = cells.groupBy("a").agg(sum("n").as("na"),
        sum(d380(col("s"))).cast("decimal(38,0)").as("sa"))
      .agg(count(lit(1)).as("ka"),
        sum(term(col("sa"), col("na"))).cast("decimal(38,6)").as("ta"))
    val byB = cells.groupBy("b").agg(sum("n").as("nb"),
        sum(d380(col("s"))).cast("decimal(38,0)").as("sb"))
      .agg(count(lit(1)).as("kb"),
        sum(term(col("sb"), col("nb"))).cast("decimal(38,6)").as("tb"))
    val byCell = cells.agg(count(lit(1)).as("kab"), sum("n").as("nn"),
      sum(d380(col("s"))).cast("decimal(38,0)").as("ss"),
      sum(col("sq")).cast("decimal(38,0)").as("sqq"),
      sum(term(col("s"), col("n"))).cast("decimal(38,6)").as("tab"))
    val j = byCell.crossJoin(broadcast(byA)).crossJoin(broadcast(byB))
    val corr = dd(col("ss")) * dd(col("ss")) / dd(col("nn"))
    val ssa = (dd(col("ta")) - corr) / 1e4
    val ssb = (dd(col("tb")) - corr) / 1e4
    val ssab = (dd(col("tab")) - dd(col("ta")) - dd(col("tb")) + corr) / 1e4
    val ssw = (dd(col("sqq")) - dd(col("tab"))) / 1e4
    val dfw = dd(col("nn")) - dd(col("kab"))
    j.select(col("ka"), col("kb"), col("nn").as("n"),
      ssa.as("ssa"), ssb.as("ssb"), ssab.as("ssab"), ssw.as("ssw"),
      when(ssw > 0, (ssa / (dd(col("ka")) - 1.0)) / (ssw / dfw))
        .as("f_a"),
      when(ssw > 0, (ssb / (dd(col("kb")) - 1.0)) / (ssw / dfw))
        .as("f_b"),
      when(ssw > 0, (ssab / ((dd(col("ka")) - 1.0) *
        (dd(col("kb")) - 1.0))) / (ssw / dfw)).as("f_ab"))
  }

  /** Priority × market-segment effects on order value, with the
    * interaction term. */
  def q249TwoWayAnova(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    twoWayAnova(o.join(c, o("o_custkey") === c("c_custkey")),
      "o_orderpriority", "c_mktsegment", "o_totalprice")
  }

  /** CUPED variance reduction for experiment metrics: adjust each
    * unit's metric by its PRE-PERIOD covariate, y_cv = y − θ(x − x̄)
    * with θ = cov(x,y)/var(x) — the industry-standard trick that cuts
    * experiment runtimes by the metric's pre-period predictability
    * (variance shrinks by ρ², Deng et al. WSDM'13). Units here are
    * users, the pre/post split is the stream's time midpoint, variants
    * a deterministic unit hash.
    *
    * Everything reduces to exact per-variant DECIMAL moments (one
    * groupBy over the per-user frame); θ, the adjusted means, and the
    * pooled ρ² are fixed-shape double finishes — the adjusted mean
    * needs NO second pass (ȳ_v − θ(x̄_v − x̄) is moment algebra). */
  def cuped(events: DataFrame, tsCol: String, unitCol: String,
      valCol: String): DataFrame = {
    val us = expr(s"unix_micros($tsCol)")
    val mid = events.agg(((min(us) + max(us)) / lit(2L)).cast("long")
      .as("mid"))
    val cents = (col(valCol).cast("decimal(18,6)") * 1000000L).cast("long")
    val perUnit = events.select(col(unitCol).as("u"), us.as("t"),
        cents.as("v"))
      .crossJoin(broadcast(mid))
      .groupBy("u")
      .agg(sum(when(col("t") < col("mid"), d380(col("v")))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("x"),
        sum(when(col("t") >= col("mid"), d380(col("v")))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("y"))
      .withColumn("variant", pmod(col("u"), lit(2L)))
    val m = perUnit.groupBy("variant").agg(count(lit(1)).as("n"),
      sum(col("x")).cast("decimal(38,0)").as("sx"),
      sum(col("y")).cast("decimal(38,0)").as("sy"),
      sum(col("x") * col("y")).cast("decimal(38,0)").as("sxy"),
      sum(col("x") * col("x")).cast("decimal(38,0)").as("sxx"),
      sum(col("y") * col("y")).cast("decimal(38,0)").as("syy"))
    val w = Window.partitionBy()
    val g = m
      .withColumn("gn", sum("n").over(w))
      .withColumn("gsx", sum("sx").over(w).cast("decimal(38,0)"))
      .withColumn("gsy", sum("sy").over(w).cast("decimal(38,0)"))
      .withColumn("gsxy", sum("sxy").over(w).cast("decimal(38,0)"))
      .withColumn("gsxx", sum("sxx").over(w).cast("decimal(38,0)"))
      .withColumn("gsyy", sum("syy").over(w).cast("decimal(38,0)"))
    val cov = dd(col("gn")) * dd(col("gsxy")) -
      dd(col("gsx")) * dd(col("gsy"))
    val vx = dd(col("gn")) * dd(col("gsxx")) -
      dd(col("gsx")) * dd(col("gsx"))
    val vy = dd(col("gn")) * dd(col("gsyy")) -
      dd(col("gsy")) * dd(col("gsy"))
    val theta = cov / vx
    val meanY = dd(col("sy")) / dd(col("n")) / 1e6
    val meanX = dd(col("sx")) / dd(col("n")) / 1e6
    val gMeanX = dd(col("gsx")) / dd(col("gn")) / 1e6
    val rho2 = (cov * cov) / (vx * vy)
    g.select(col("variant"), col("n"), meanY.as("mean_y"),
        (meanY - theta * (meanX - gMeanX)).as("mean_y_cuped"),
        rho2.as("rho2"), rho2.as("var_reduction"))
      .orderBy("variant")
  }

  /** Pre/post CUPED adjustment of per-user event value, variants by
    * user-id parity. */
  def q250Cuped(spark: SparkSession, dir: String): DataFrame =
    cuped(Tables.events(spark, dir), "ts", "user_id", "value")

  /** Experiment power analysis from pilot moments: the per-variant
    * sample size needed to detect the PILOT's observed effect (and a
    * grid of relative MDEs) at α = 0.05 two-sided, 80% power —
    * n = 2σ̂²(z_{α/2}+z_β)²/δ². The "how long must this test run"
    * calculator, computed from one exact-moment pass over the pilot
    * (pooled variance from DECIMAL sums; z constants are IEEE literals,
    * identical in any engine). Output: one row per MDE level. */
  def powerAnalysis(df: DataFrame, variantCol: Column, valCol: String,
      mdeRelPcts: Seq[Int]): DataFrame = {
    require(mdeRelPcts.nonEmpty && mdeRelPcts.forall(p => p > 0),
      s"bad MDE grid: $mdeRelPcts")
    val zSum2 = lit(7.84888) // (z₀.₀₂₅ + z₀.₈)² = (1.959964 + 0.841621)²
    val cents = (col(valCol).cast("decimal(18,2)") * 100).cast("long")
    val m = df.select(variantCol.as("v"), cents.as("y"))
      .groupBy("v")
      .agg(count(lit(1)).as("n"), sum(d380(col("y"))).as("s"),
        sum(d380(col("y")) * d380(col("y"))).cast("decimal(38,0)")
          .as("sq"))
    // pooled variance over both variants, exact sums → one double shape
    val g = m.agg(sum("n").as("n"),
      sum(d380(col("s"))).cast("decimal(38,0)").as("s"),
      sum(col("sq")).cast("decimal(38,0)").as("sq"),
      min(struct(col("v"), col("n"), col("s"))).as("a"),
      max(struct(col("v"), col("n"), col("s"))).as("b"))
    val mean = dd(col("s")) / dd(col("n"))
    val variance = (dd(col("sq")) - dd(col("s")) * dd(col("s")) /
      dd(col("n"))) / (dd(col("n")) - 1.0)
    val obsDelta = dd(col("b.s")) / dd(col("b.n")) -
      dd(col("a.s")) / dd(col("a.n"))
    val spark0 = df.sparkSession
    import spark0.implicits._
    val grid = mdeRelPcts.map(p => p.toLong).toDF("mde_rel_pct")
    g.crossJoin(broadcast(grid))
      .withColumn("delta", mean * dd(col("mde_rel_pct")) / 100.0)
      .select(col("mde_rel_pct"), (mean / 100.0).as("pilot_mean"),
        (variance / 1e4).as("pilot_var"),
        (obsDelta / 100.0).as("observed_delta"),
        ceil(lit(2.0) * variance * zSum2 /
          (col("delta") * col("delta"))).cast("long")
          .as("n_per_variant"),
        when(obsDelta =!= 0.0,
          ceil(lit(2.0) * variance * zSum2 / (obsDelta * obsDelta))
            .cast("long")).as("n_for_observed"))
      .orderBy("mde_rel_pct")
  }

  /** How many orders per arm would an order-value experiment need, for
    * 1/2/5/10% relative MDEs (variants by order-key parity as the
    * pilot split). */
  def q251PowerAnalysis(spark: SparkSession, dir: String): DataFrame =
    powerAnalysis(Tables.orders(spark, dir), pmod(col("o_orderkey"),
      lit(2L)), "o_totalprice", Seq(1, 2, 5, 10))

  /** Quantile treatment effects: the treated-vs-control difference at
    * each decile of the outcome distribution — where in the
    * distribution the treatment acts (a mean shift, a tail effect, or
    * a spread change all look identical to the mean test q168 but
    * separate cleanly here). Exact interpolated per-variant percentiles
    * (Spark `percentile` ≡ DuckDB `quantile_cont`, the q193 law), one
    * aggregation per variant on centi-units. */
  def quantileTreatmentEffect(df: DataFrame, treatedCond: Column,
      valCol: String): DataFrame = {
    val spark0 = df.sparkSession
    import spark0.implicits._
    val cents = (col(valCol).cast("decimal(18,2)") * 100).cast("long")
    val ps = (1 to 9).map(_ / 10.0)
    val per = df.select(treatedCond.as("t"), cents.as("y"))
      .groupBy("t")
      .agg(count(lit(1)).as("n"),
        expr(s"percentile(y, array(${ps.mkString(",")}))").as("qs"))
    val q = per.select(col("t"), col("n"),
      posexplode(col("qs")).as(Seq("i", "qv")))
    val tSide = q.filter(col("t")).select(col("i"),
      col("n").as("n_treated"), col("qv").as("q_treated"))
    val cSide = q.filter(!col("t")).select(col("i"),
      col("n").as("n_control"), col("qv").as("q_control"))
    tSide.join(cSide, Seq("i"))
      .select(((col("i") + 1) * 10).cast("long").as("percentile"),
        col("n_treated"), col("n_control"),
        (col("q_treated") / 100.0).as("q_treated"),
        (col("q_control") / 100.0).as("q_control"),
        ((col("q_treated") - col("q_control")) / 100.0).as("qte"))
      .orderBy("percentile")
  }

  /** Where in the order-value distribution does a deep discount act:
    * decile-wise treatment effects on the lineitem outcome. */
  def q252Qte(spark: SparkSession, dir: String): DataFrame =
    quantileTreatmentEffect(Tables.lineitem(spark, dir),
      col("l_discount") >= 0.05, "l_extendedprice")

  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    * are maximal stopword-free token runs; each word scores
    * degree/frequency (degree = Σ length of phrases containing it);
    * a phrase scores the sum of its word scores — multi-word domain
    * terms beat bare frequency ranking. Corpus-level report: top-k
    * distinct phrases.
    *
    * Shape: ONE doc-hash exchange carries the boundary-numbering window
    * and the phrase reassembly (same key); word scores are a
    * vocabulary-sized frame joined back by token; phrase-score terms
    * are DECIMAL-quantized before their sum, ranking tiebreaks
    * phrase-asc, so the report is exact. */
  def rakeKeyphrases(docs: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], maxPhraseLen: Int, k: Int): DataFrame = {
    require(maxPhraseLen >= 1 && k >= 1, s"bad rake: $maxPhraseLen $k")
    val toks = docs.select(col(idCol).as("doc"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("isStop", col("tok").isin(stopwords: _*))
    val wDoc = Window.partitionBy("doc").orderBy("pos")
    val content = toks
      .withColumn("pid",
        sum(when(col("isStop"), 1L).otherwise(0L)).over(wDoc))
      .filter(!col("isStop"))
    val phrases = content.groupBy("doc", "pid")
      .agg(count(lit(1)).as("plen"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("phrase"))
      .filter(col("plen") <= maxPhraseLen)
    val wordStats = content
      .join(phrases.select("doc", "pid", "plen"), Seq("doc", "pid"))
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum("plen").as("degree"))
      .withColumn("wscore",
        (dd(col("degree")) / dd(col("freq"))).cast("decimal(28,12)"))
    val scored = content
      .join(phrases.select("doc", "pid", "plen", "phrase"),
        Seq("doc", "pid"))
      .join(wordStats.select("tok", "wscore"), Seq("tok"))
      .groupBy("doc", "pid", "phrase")
      .agg(sum(col("wscore")).cast("decimal(38,12)").as("pscore"))
    scored.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("pscore")).cast("double").as("score"))
      .orderBy(desc("score"), asc("phrase")).limit(k)
  }

  /** Top-20 RAKE keyphrases of the English document slice. */
  def q253RakeKeyphrases(spark: SparkSession, dir: String): DataFrame =
    rakeKeyphrases(Tables.documents(spark, dir).filter(col("lang") === "en"),
      "doc_id", "text", TextAnalysis.stopwords("en"), maxPhraseLen = 4,
      k = 20)

  /** Cross-source content-overlap matrix: for every source pair, how
    * many distinct content keys (order-insensitive token bags — the q44
    * fingerprint rule) appear in BOTH, plus the Jaccard overlap — the
    * corpus-governance view that catches one feed mirroring another
    * before dedup spends compute on it. Keys reduce per source first
    * (DISTINCT), the pair space is the per-KEY self-join (fan-out
    * bounded by sources-per-key), counts exact. */
  def sourceOverlap(docs: DataFrame, sourceCol: String,
      textCol: String): DataFrame = {
    val keyed = docs.select(col(sourceCol).as("src"),
        concat_ws(" ", sort_array(TextAnalysis.tokens(col(textCol))))
          .as("key"))
      .distinct()
    val counts = keyed.groupBy("src").agg(count(lit(1)).as("n"))
    val co = keyed.select(col("src").as("sa"), col("key"))
      .join(keyed.select(col("src").as("sb"), col("key")), Seq("key"))
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("co"))
    co.join(counts.select(col("src").as("sa"), col("n").as("na")),
        Seq("sa"))
      .join(counts.select(col("src").as("sb"), col("n").as("nb")),
        Seq("sb"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("na"), col("nb"), col("co"),
        (dd(col("co")) / dd(col("na") + col("nb") - col("co")))
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Which document feeds mirror each other's content. */
  def q254SourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlap(Tables.documents(spark, dir), "source", "text")

  /** Covariate-balance audit for an observational comparison: the
    * standardized mean difference SMD = (x̄₁ − x̄₀)/√((s₁²+s₀²)/2) of
    * each numeric covariate between treated and control — the pre-test
    * that decides whether q231's stratified ATE is even admissible
    * (|SMD| ≤ 0.1 is the conventional balance bar). One pass computes
    * ALL covariates' per-arm moments (exact centi-unit DECIMALs);
    * each SMD is a fixed double shape; the output is one row per
    * covariate with the flag. */
  def covariateBalance(df: DataFrame, treatedCond: Column,
      covariates: Seq[String]): DataFrame = {
    require(covariates.nonEmpty, "need at least one covariate")
    // ONE scan: fan each row out to its |covariates| (name, value) pairs
    // under a map-side-combined (covariate × arm) aggregation
    val fan = df.select(treatedCond.as("t"),
        explode(array(covariates.map(c => struct(lit(c).as("cv"),
          (col(c).cast("decimal(18,2)") * 100).cast("long").as("y"))): _*))
          .as("e"))
      .select(col("t"), col("e.cv").as("cv"), col("e.y").as("y"))
    val per = fan.groupBy("cv", "t")
      .agg(count(lit(1)).as("n"), sum(d380(col("y"))).as("s"),
        sum(d380(col("y")) * d380(col("y"))).cast("decimal(38,0)")
          .as("sq"))
      .groupBy("cv")
      .agg(min(struct(col("t"), col("n"), col("s"), col("sq"))).as("c0"),
        max(struct(col("t"), col("n"), col("s"), col("sq"))).as("c1"))
      .select(col("cv").as("covariate"),
        col("c0.n").as("n_control"), col("c1.n").as("n_treated"),
        (dd(col("c0.s")) / dd(col("c0.n")) / 100.0).as("mean_control"),
        (dd(col("c1.s")) / dd(col("c1.n")) / 100.0).as("mean_treated"),
        col("c0.sq").as("sq0"), col("c0.s").as("s0"),
        col("c1.sq").as("sq1"), col("c1.s").as("s1"))
    val v0 = (dd(col("sq0")) - dd(col("s0")) * dd(col("s0")) /
      dd(col("n_control"))) / (dd(col("n_control")) - 1.0) / 1e4
    val v1 = (dd(col("sq1")) - dd(col("s1")) * dd(col("s1")) /
      dd(col("n_treated"))) / (dd(col("n_treated")) - 1.0) / 1e4
    val smd = (col("mean_treated") - col("mean_control")) /
      sqrt((v0 + v1) / 2.0)
    per.select(col("covariate"), col("n_control"), col("n_treated"),
        col("mean_control"), col("mean_treated"),
        when(v0 + v1 > 0, smd).otherwise(lit(0.0)).as("smd"),
        when(v0 + v1 > 0, abs(smd) <= 0.1).otherwise(lit(true))
          .as("balanced"))
      .orderBy("covariate")
  }

  /** Are deep-discount lineitems comparable to the rest on quantity,
    * tax, and price BEFORE reading q231's effect: the balance table. */
  def q255CovariateBalance(spark: SparkSession, dir: String): DataFrame =
    covariateBalance(Tables.lineitem(spark, dir),
      col("l_discount") >= 0.05,
      Seq("l_extendedprice", "l_quantity", "l_tax"))

  /** Log-log price elasticity per slice: OLS of ln(quantity) on
    * ln(price) — the slope IS the elasticity (% demand change per 1%
    * price change), the unit-free summary every pricing analysis
    * reports. Observations aggregate to (slice, part) means first
    * (price variation lives BETWEEN parts), ln terms are
    * DECIMAL-quantized, and the fit reuses the exact-moment OLS
    * discipline. */
  def priceElasticity(li: DataFrame, sliceCol: String, priceCol: String,
      qtyCol: String): DataFrame = {
    val perPart = li
      .select(col(sliceCol).as("g"), col("l_partkey").as("p"),
        (col(priceCol).cast("decimal(18,2)") * 100).cast("long").as("pr"),
        (col(qtyCol).cast("decimal(18,2)") * 100).cast("long").as("qy"))
      .groupBy("g", "p")
      .agg(count(lit(1)).as("n"), sum(d380(col("pr"))).as("spr"),
        sum(d380(col("qy"))).as("sqy"))
      .filter(col("spr") > 0 && col("sqy") > 0)
      .select(col("g"),
        log(dd(col("spr")) / dd(col("n")) / 100.0)
          .cast("decimal(18,12)").as("x"),
        log(dd(col("sqy")) / dd(col("n")) / 100.0)
          .cast("decimal(18,12)").as("y"))
    val m = perPart.groupBy("g").agg(count(lit(1)).as("n"),
      sum(col("x")).cast("decimal(38,12)").as("sx"),
      sum(col("y")).cast("decimal(38,12)").as("sy"),
      sum(col("x") * col("y")).cast("decimal(38,24)").as("sxy"),
      sum(col("x") * col("x")).cast("decimal(38,24)").as("sxx"),
      sum(col("y") * col("y")).cast("decimal(38,24)").as("syy"))
    val cov = dd(col("n")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))
    val vx = dd(col("n")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))
    val vy = dd(col("n")) * dd(col("syy")) - dd(col("sy")) * dd(col("sy"))
    m.filter(vx > 0)
      .select(col("g").as(sliceCol), col("n").as("n_parts"),
        (cov / vx).as("elasticity"),
        when(vy > 0, (cov * cov) / (vx * vy)).as("r2"))
      .orderBy(sliceCol)
  }

  /** How price-sensitive is demand per return-flag slice. */
  def q256PriceElasticity(spark: SparkSession, dir: String): DataFrame =
    priceElasticity(Tables.lineitem(spark, dir), "l_returnflag",
      "l_extendedprice", "l_quantity")

  /** Rolling-window OLS slope per key: the regression-based trend
    * monitor — at each hour, the slope of the hourly-mean series over
    * the trailing `windowBuckets` observed hours (a leading indicator
    * where the EWMA q228 is a smoother). All five moments are window
    * sums of EXACT decimals over the hourly statistic frame (bucket
    * index × quantized mean products), the slope one fixed double
    * finish — so a 100 TB deployment runs it as one key-hash window
    * over cells, and the gate is strict. Windows shorter than 3 points
    * are suppressed (slope meaningless). */
  def rollingOls(events: DataFrame, tsCol: String, keyCol: String,
      valCol: String, windowBuckets: Int): DataFrame = {
    require(windowBuckets >= 3, s"window too short: $windowBuckets")
    val cells = hourlyCells(events, tsCol, keyCol, valCol)
      .withColumn("m",
        (dd(col("s")) / dd(col("c")) / 1e6).cast("decimal(16,8)"))
    val w = Window.partitionBy("k").orderBy("b")
      .rowsBetween(-(windowBuckets - 1), 0)
    val wKey = Window.partitionBy("k")
    // center the regressor per key: slope is shift-invariant, and small
    // b values keep EVERY product below 38 decimal digits, so cov and
    // vx stay EXACT decimals (raw epoch-hour moments have ~18
    // significant digits — double rounding there turns the cancellation
    // n·Σxy − Σx·Σy into a 1e-9-level slope wobble)
    val centered = cells
      .withColumn("bb", (col("b") - min("b").over(wKey))
        .cast("decimal(12,0)"))
    val withM = centered
      .withColumn("nw", count(lit(1)).over(w).cast("decimal(4,0)"))
      .withColumn("sx", sum(col("bb")).over(w).cast("decimal(12,0)"))
      .withColumn("sy", sum(col("m")).over(w).cast("decimal(20,8)"))
      .withColumn("sxy", sum((col("bb") * col("m")).cast("decimal(28,8)"))
        .over(w).cast("decimal(28,8)"))
      .withColumn("sxx", sum((col("bb") * col("bb")).cast("decimal(25,0)"))
        .over(w).cast("decimal(28,0)"))
    val cov = (col("nw") * col("sxy") - col("sx") * col("sy"))
    val vx = (col("nw") * col("sxx") - col("sx") * col("sx"))
    withM.filter(col("nw") >= 3 && vx > 0)
      .select(col("k").as(keyCol), col("b").as("bucket"),
        col("nw").cast("long").as("n_window"),
        (dd(cov) / dd(vx)).as("slope"))
      .orderBy(keyCol, "bucket")
  }

  /** Trailing-24h value trend per event type, refreshed hourly. */
  def q257RollingOls(spark: SparkSession, dir: String): DataFrame =
    rollingOls(Tables.events(spark, dir), "ts", "event_type", "value",
      windowBuckets = 24)

  /** Qini uplift curve: walk the population best-score-first in decile
    * steps and plot cumulative incremental conversions
    * (treated-positives − control-positives rescaled to the treated
    * volume) — the eval curve for "whom should we treat" models, where
    * plain response curves (q232) mislead because they ignore the
    * control arm. Deciles via broadcast percentile cutpoints (the q195
    * move); per-decile arm counts exact; the curve is a 10-row window.
    * The random-targeting baseline rides along so the uplift AUC gap
    * is readable per row. */
  def qiniCurve(df: DataFrame, scoreCol: String, treatedCond: Column,
      posCond: Column, nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins: $nBins")
    val ps = (1 until nBins).map(i => i.toDouble / nBins)
    val cuts = df.agg(
      expr(s"percentile($scoreCol, array(${ps.mkString(",")}))").as("__cs"))
    val bin = (0 until nBins - 1).map(i =>
        when(col(scoreCol) > col("__cs")(i), 1L).otherwise(0L))
      .reduce(_ + _)
    val bins = df.crossJoin(broadcast(cuts))
      .withColumn("bin", bin)
      .groupBy("bin")
      .agg(sum(when(treatedCond, 1L).otherwise(0L)).as("nt"),
        sum(when(treatedCond && posCond, 1L).otherwise(0L)).as("pt"),
        sum(when(!treatedCond, 1L).otherwise(0L)).as("nc"),
        sum(when(!treatedCond && posCond, 1L).otherwise(0L)).as("pc"))
    val wCum = Window.orderBy(desc("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val b = bins
      .withColumn("cnt", sum("nt").over(wCum))
      .withColumn("cpt", sum("pt").over(wCum))
      .withColumn("cnc", sum("nc").over(wCum))
      .withColumn("cpc", sum("pc").over(wCum))
      .withColumn("tnt", sum("nt").over(wAll))
      .withColumn("tpt", sum("pt").over(wAll))
      .withColumn("tnc", sum("nc").over(wAll))
      .withColumn("tpc", sum("pc").over(wAll))
      .filter(col("cnc") > 0)
    val qini = dd(col("cpt")) -
      dd(col("cpc")) * dd(col("cnt")) / dd(col("cnc"))
    // random-targeting expectation at this depth: overall uplift × share
    val qiniRand = (dd(col("tpt")) -
      dd(col("tpc")) * dd(col("tnt")) / dd(col("tnc"))) *
      (dd(col("cnt")) / dd(col("tnt")))
    b.select(col("bin"), col("nt"), col("pt"), col("nc"), col("pc"),
        qini.as("qini"), qiniRand.as("qini_random"),
        (qini - qiniRand).as("qini_gap"))
      .orderBy(desc("bin"))
  }

  /** If order value targeted the discount, how many incremental
    * R-returns does each decile of targeting depth buy (the uplift
    * read of the q232 population). */
  def q258QiniCurve(spark: SparkSession, dir: String): DataFrame =
    qiniCurve(Tables.lineitem(spark, dir), "l_extendedprice",
      col("l_discount") >= 0.05, col("l_returnflag") === "R", nBins = 10)

  /** Weight-of-Evidence / Information-Value binning — the credit-risk
    * feature-screening standard: per equi-depth bin of a numeric
    * feature, WoE = ln(bin's share of positives / share of negatives);
    * IV = Σ (share_pos − share_neg)·WoE grades the feature's predictive
    * power (< 0.02 useless, > 0.3 strong). Bins via broadcast
    * percentile cutpoints (q195), counts exact, WoE terms computed on
    * the 10-row bin frame with the 0.5 Laplace guard for empty cells,
    * DECIMAL-quantized before the IV sum. */
  def woeIv(df: DataFrame, featureCol: String, posCond: Column,
      nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins: $nBins")
    val ps = (1 until nBins).map(i => i.toDouble / nBins)
    val cuts = df.agg(expr(
      s"percentile($featureCol, array(${ps.mkString(",")}))").as("__cs"))
    val bin = (0 until nBins - 1).map(i =>
        when(col(featureCol) > col("__cs")(i), 1L).otherwise(0L))
      .reduce(_ + _)
    val bins = df.crossJoin(broadcast(cuts))
      .withColumn("bin", bin)
      .groupBy("bin")
      .agg(sum(when(posCond, 1L).otherwise(0L)).as("np"),
        sum(when(!posCond, 1L).otherwise(0L)).as("nn"))
    val w = Window.partitionBy()
    val shareP = (dd(col("np")) + 0.5) / (dd(col("tp")) + 0.5)
    val shareN = (dd(col("nn")) + 0.5) / (dd(col("tn")) + 0.5)
    val woe = log(shareP / shareN)
    bins
      .withColumn("tp", sum("np").over(w))
      .withColumn("tn", sum("nn").over(w))
      .withColumn("woe", woe)
      .withColumn("iv_term",
        ((shareP - shareN) * woe).cast("decimal(38,12)"))
      .withColumn("iv", sum("iv_term").over(w).cast("double"))
      .select(col("bin"), col("np").as("n_pos"), col("nn").as("n_neg"),
        col("woe"), col("iv"))
      .orderBy("bin")
  }

  /** How predictive is order value of F-status, WoE-graded by decile. */
  def q259WoeIv(spark: SparkSession, dir: String): DataFrame =
    woeIv(Tables.orders(spark, dir), "o_totalprice",
      col("o_orderstatus") === "F", nBins = 10)

  /** Per-group bivariate moment cells — count and the five exact
    * centi-unit sums (Σx, Σy, Σxy, Σx², Σy²): the MERGEABLE sufficient
    * statistics behind the whole moment-algebra family here (OLS q200,
    * Pearson, CUPED θ, ANOVA). Cells from disjoint batches add
    * componentwise, which is what lets [[graft.streaming.StreamOps
    * .streamingMomentsIngest]] maintain them under idempotent batch
    * partitions and refit EXACTLY at read time. */
  private[graft] def momentCells(df: DataFrame, groupCol: String,
      xCol: String, yCol: String): DataFrame = {
    val xc = (col(xCol).cast("decimal(18,2)") * 100).cast("long")
    val yc = (col(yCol).cast("decimal(18,2)") * 100).cast("long")
    df.select(col(groupCol).as("g"), xc.as("x"), yc.as("y"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(d380(col("x"))).cast("decimal(38,0)").as("sx"),
        sum(d380(col("y"))).cast("decimal(38,0)").as("sy"),
        sum(d380(col("x")) * d380(col("y"))).cast("decimal(38,0)")
          .as("sxy"),
        sum(d380(col("x")) * d380(col("x"))).cast("decimal(38,0)")
          .as("sxx"),
        sum(d380(col("y")) * d380(col("y"))).cast("decimal(38,0)")
          .as("syy"))
  }

  /** The OLS finish over a (merged) moment-cell frame — identical
    * arithmetic to [[groupOls]], so a streamed store refit reproduces
    * the one-shot fit bit-for-bit. */
  private[graft] def olsFromMomentCells(cells: DataFrame,
      groupCol: String): DataFrame = {
    val cov = d380(col("n")) * col("sxy") - col("sx") * col("sy")
    val vx = d380(col("n")) * col("sxx") - col("sx") * col("sx")
    val vy = d380(col("n")) * col("syy") - col("sy") * col("sy")
    cells.withColumn("cov", cov).withColumn("vx", vx).withColumn("vy", vy)
      .filter(col("vx") > 0)
      .select(col("g").as(groupCol), col("n"),
        (dd(col("cov")) / dd(col("vx"))).as("slope"),
        ((dd(col("sy")) - dd(col("cov")) / dd(col("vx")) *
          dd(col("sx"))) / dd(col("n")) / 100.0).as("intercept"),
        when(col("vy") > 0, (dd(col("cov")) * dd(col("cov"))) /
          (dd(col("vx")) * dd(col("vy")))).as("r2"))
      .orderBy(groupCol)
  }

  /** Welch's unequal-variance two-sample t-test per slice — the
    * default A/B significance test when arm variances differ (the
    * Student pooled test is the special case nobody should assume).
    * Per (slice, arm) the exact centi-unit moments (n, Σv, Σv²) are
    * one map-side-combined aggregation; t and the Welch–Satterthwaite
    * df are a fixed-shape double finish over those integers, so both
    * engines compute identical IEEE ops: aᵢ = varᵢ/nᵢ from
    * nᵢΣv²−(Σv)² (all DECIMAL-exact), t = Δmean/√(a₁+a₂),
    * df = (a₁+a₂)²/(a₁²/(n₁−1)+a₂²/(n₂−1)). Slices missing an arm or
    * with nᵢ < 2 are excluded (test undefined). */
  def welchTTest(df: DataFrame, groupCol: String, armCond: Column,
      valCol: String): DataFrame = {
    val cents = (col(valCol).cast("decimal(18,2)") * 100).cast("long")
    val cells = df
      .select(col(groupCol).as("g"), armCond.as("arm"), cents.as("v"))
      .groupBy("g", "arm")
      .agg(count(lit(1)).as("n"),
        sum(d380(col("v"))).cast("decimal(38,0)").as("s"),
        sum(d380(col("v")) * d380(col("v"))).cast("decimal(38,0)")
          .as("ss"))
    def pick(c: String, arm: Boolean) =
      max(when(col("arm") === arm, col(c))).as(c + (if (arm) "1" else "2"))
    val byG = cells.groupBy("g")
      .agg(pick("n", true), pick("s", true), pick("ss", true),
        pick("n", false), pick("s", false), pick("ss", false))
      .filter(col("n1") >= 2 && col("n2") >= 2)
    def a(i: Int) = // varᵢ/nᵢ in cents², exact integers until the division
      dd(d380(col(s"n$i")) * col(s"ss$i") - col(s"s$i") * col(s"s$i")) /
        (dd(col(s"n$i")) * dd(col(s"n$i") - 1) * dd(col(s"n$i")))
    val se2 = a(1) + a(2)
    byG
      .withColumn("a1", a(1)).withColumn("a2", a(2))
      .select(col("g").as(groupCol),
        col("n1").as("n_arm"), col("n2").as("n_rest"),
        ((dd(col("s1")) / dd(col("n1")) - dd(col("s2")) / dd(col("n2")))
          / 100.0).as("mean_diff"),
        ((dd(col("s1")) / dd(col("n1")) - dd(col("s2")) / dd(col("n2")))
          / sqrt(col("a1") + col("a2"))).as("t_stat"),
        ((col("a1") + col("a2")) * (col("a1") + col("a2")) /
          (col("a1") * col("a1") / dd(col("n1") - 1) +
            col("a2") * col("a2") / dd(col("n2") - 1))).as("welch_df"))
      .orderBy(groupCol)
  }

  /** Does the promo arm (discount ≥ 5%) move revenue, per return
    * flag — Welch-tested. */
  def q260WelchTTest(spark: SparkSession, dir: String): DataFrame =
    welchTTest(Tables.lineitem(spark, dir), "l_returnflag",
      col("l_discount") >= 0.05, "l_extendedprice")

  /** Average precision (the area under the precision–recall curve as
    * rankers report it): AP = mean over positives of precision@their
    * rank, under a TOTAL order (score desc, unique key asc tiebreak) so
    * both engines rank identically. The right metric when positives are
    * rare and ROC AUC (q237) flatters. One key-hash exchange for the
    * per-slice ranking window; precision terms are exact-count ratios
    * summed per slice. */
  def averagePrecision(df: DataFrame, groupCol: String, scoreCol: String,
      keyCol: String, posCond: Column): DataFrame = {
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("k"))
    val ranked = df
      .select(col(groupCol).as("g"), col(scoreCol).as("v"),
        col(keyCol).as("k"), posCond.as("pos"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cp", sum(when(col("pos"), 1L).otherwise(0L)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ranked.groupBy("g")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        count(lit(1)).as("n"),
        sum(when(col("pos"),
          (dd(col("cp")) / dd(col("rn"))).cast("decimal(38,15)"))
          .otherwise(lit(null))).as("sp"))
      .filter(col("np") > 0)
      .select(col("g").as(groupCol), col("n"), col("np").as("n_pos"),
        (dd(col("sp")) / dd(col("np"))).as("avg_precision"))
      .orderBy(groupCol)
  }

  /** How well order value ranks F-status orders per market segment,
    * PR-style — the rare-positive complement to the q237 AUC. */
  def q261AvgPrecision(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    averagePrecision(o.join(c, o("o_custkey") === c("c_custkey")),
      "c_mktsegment", "o_totalprice", "o_orderkey",
      col("o_orderstatus") === "F")
  }

  /** Cohen's kappa — chance-corrected agreement between two
    * categorical labelings, κ = (p₀ − pₑ)/(1 − pₑ): the standard
    * annotator-agreement / model-vs-heuristic audit. Computed entirely
    * on the (a, b) contingency-cell frame: p₀ from the diagonal, pₑ
    * from the marginal products — exact integer counts until the two
    * final divisions. */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.select(col(aCol).as("a"), col(bCol).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("nc"))
    val w = Window.partitionBy()
    val withM = cells
      .withColumn("n", sum("nc").over(w))
      .withColumn("ra", sum("nc").over(Window.partitionBy("a")))
      .withColumn("cb", sum("nc").over(Window.partitionBy("b")))
    withM.agg(
      max(col("n")).as("n"),
      sum(when(col("a") === col("b"), col("nc")).otherwise(lit(0L)))
        .as("agree"),
      sum(when(col("a") === col("b"),
        d380(col("ra")) * d380(col("cb"))).otherwise(lit(null)))
        .cast("decimal(38,0)").as("pe_num"))
      .select(col("n"), col("agree"),
        (dd(col("agree")) / dd(col("n"))).as("p_o"),
        (dd(col("pe_num")) / (dd(col("n")) * dd(col("n")))).as("p_e"),
        ((dd(col("agree")) / dd(col("n")) -
          dd(col("pe_num")) / (dd(col("n")) * dd(col("n")))) /
          (lit(1.0) - dd(col("pe_num")) / (dd(col("n")) * dd(col("n")))))
          .as("kappa"))
  }

  /** Beyond-chance agreement between the NB-predicted priority (q230)
    * and the actual one. */
  def q262CohensKappa(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val df = o.join(c, o("o_custkey") === c("c_custkey"))
    val pred = naiveBayes2(df, "c_mktsegment", "o_orderstatus",
        "o_orderpriority")
      .select(col("c_mktsegment").as("f1"), col("o_orderstatus").as("f2"),
        col("predicted"))
    cohensKappa(
      df.select(col("c_mktsegment").as("f1"),
          col("o_orderstatus").as("f2"),
          col("o_orderpriority").as("actual"))
        .join(broadcast(pred), Seq("f1", "f2")),
      "actual", "predicted")
  }

  /** Pairwise Jensen–Shannon divergence between per-key distributions
    * over a FIXED bin domain (here: a categorical/bucketed column with
    * a known range) — the symmetric, bounded [0, ln 2] distribution
    * distance PSI (q220) and KS (q141) don't give. Bins are densified
    * against the full domain first (a zero-mass bin still contributes
    * p·ln 2 on the other side — an inner join would silently drop it),
    * KL terms are 0-guarded and DECIMAL-quantized before the per-pair
    * sum. The pair space is (keys² × bins) — a statistic frame, never
    * row-data-sized. */
  def jsDivergence(df: DataFrame, keyCol: String, binCol: Column,
      nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins: $nBins")
    val cnt = df.select(col(keyCol).as("k"), binCol.cast("int").as("h"))
      .groupBy("k", "h").agg(count(lit(1)).as("c"))
    val grid = cnt.select("k").distinct()
      .crossJoin(broadcast(binDomain(nBins)))
    val full = grid.join(cnt, Seq("k", "h"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("p", dd(col("c")) / dd(sum("c")
        .over(Window.partitionBy("k"))))
    val a = full.select(col("k").as("ka"), col("h"), col("p").as("pa"))
    val b = full.select(col("k").as("kb"), col("h"), col("p").as("pb"))
    val m = (col("pa") + col("pb")) / 2.0
    val kl = (p: Column) =>
      when(p > 0, p * log(p / m)).otherwise(lit(0.0))
    a.join(b, Seq("h"))
      .filter(col("ka") < col("kb"))
      .withColumn("term",
        ((kl(col("pa")) + kl(col("pb"))) / 2.0).cast("decimal(38,15)"))
      .groupBy("ka", "kb")
      .agg(sum("term").cast("decimal(38,15)").cast("double")
        .as("jsd_nats"))
      .withColumn("jsd_bits", col("jsd_nats") / math.log(2.0))
      .orderBy("ka", "kb")
  }

  /** The dense 0..nBins−1 bin domain as a broadcastable frame. */
  private def binDomain(nBins: Int): DataFrame =
    SparkSession.active.range(nBins).select(col("id").cast("int").as("h"))

  /** Which event types have genuinely different hour-of-day usage
    * profiles — JS divergence over the 24-bin diurnal histograms. */
  def q263JsDivergence(spark: SparkSession, dir: String): DataFrame =
    jsDivergence(Tables.events(spark, dir), "event_type",
      hour(col("ts")), nBins = 24)

  /** Kendall's τ-b rank correlation per slice — EXACT on the full data
    * via the contingency-cell identity: quantize both variables to
    * centi-units, reduce to (x, y, count) cells, then count concordant/
    * discordant pairs as Σ c₁·c₂ over ordered CELL pairs (x₁<x₂ with
    * y₁<y₂ / y₁>y₂) and the tie corrections from the marginals —
    * integer arithmetic end-to-end, one sqrt at the finish. The naive
    * row-pair count is O(n²); the cell-pair space is (distinct value
    * pairs)² — a statistic frame whenever the variables are discrete or
    * quantized (here ≤ 50×11 cells per slice), independent of row
    * count. Complements Spearman (q222): τ-b treats ties symmetrically
    * and is the standard when the scale is ordinal. */
  def kendallTau(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val xc = (col(xCol).cast("decimal(18,2)") * 100).cast("long")
    val yc = (col(yCol).cast("decimal(18,2)") * 100).cast("long")
    val cells = df.select(col(groupCol).as("g"), xc.as("x"), yc.as("y"))
      .groupBy("g", "x", "y").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds 2 join sides + 3 marginal aggs
    val a = cells.select(col("g"), col("x").as("x1"), col("y").as("y1"),
      col("c").as("c1"))
    val b = cells.select(col("g"), col("x").as("x2"), col("y").as("y2"),
      col("c").as("c2"))
    val cd = a.join(b, Seq("g")).filter(col("x1") < col("x2"))
      .groupBy("g")
      .agg(coalesce(sum(when(col("y1") < col("y2"),
          d380(col("c1")) * d380(col("c2")))), lit(0))
          .cast("decimal(38,0)").as("cc"),
        coalesce(sum(when(col("y1") > col("y2"),
          d380(col("c1")) * d380(col("c2")))), lit(0))
          .cast("decimal(38,0)").as("dc"))
    val n = cells.groupBy("g").agg(sum("c").as("n"))
    val tx = cells.groupBy("g", "x").agg(sum("c").as("t"))
      .groupBy("g").agg(sum(d380(col("t")) * d380(col("t") - 1))
        .cast("decimal(38,0)").as("tx2"))
    val ty = cells.groupBy("g", "y").agg(sum("c").as("t"))
      .groupBy("g").agg(sum(d380(col("t")) * d380(col("t") - 1))
        .cast("decimal(38,0)").as("ty2"))
    // n0−n1 = (n(n−1) − Σtx(tx−1))/2 etc.; the /2 cancels inside sqrt
    val vx = d380(col("n")) * d380(col("n") - 1) - col("tx2")
    val vy = d380(col("n")) * d380(col("n") - 1) - col("ty2")
    cd.join(n, "g").join(tx, "g").join(ty, "g")
      .withColumn("vx", vx).withColumn("vy", vy)
      .filter(col("vx") > 0 && col("vy") > 0)
      .select(col("g").as(groupCol), col("n"),
        col("cc").as("concordant"), col("dc").as("discordant"),
        ((dd(col("cc")) - dd(col("dc"))) * 2.0 /
          sqrt(dd(col("vx")) * dd(col("vy")))).as("tau_b"))
      .orderBy(groupCol)
  }

  /** Ordinal association between quantity and discount per return
    * flag — τ-b's tie-aware answer to q222's Spearman ρ. */
  def q267KendallTau(spark: SparkSession, dir: String): DataFrame =
    kendallTau(Tables.lineitem(spark, dir), "l_returnflag",
      "l_quantity", "l_discount")

  /** Wasserstein-1 (earth-mover) distance between each key's first-half
    * and second-half value distributions — the drift measure that knows
    * HOW FAR mass moved, not just that it moved (PSI q220 and KS q141
    * are both blind to displacement size). W1 = ∫|F_A − F_B| dv on the
    * merged value grid: per (key, value) cells carry both halves'
    * counts, the CDFs are running integer sums, and each segment's term
    * |cumA·n_B − cumB·n_A|·gap/(n_A·n_B) keeps the CDF difference an
    * exact integer cross-product before its one double scaling —
    * DECIMAL-quantized, order-free sum. One value-histogram-sized
    * shuffle per key; keys empty in either half are excluded
    * (distance undefined). */
  def wassersteinDrift(events: DataFrame, tsCol: String, keyCol: String,
      valCol: String): DataFrame = {
    val mm = events.agg(min(unix_micros(col(tsCol))).as("mn"),
        max(unix_micros(col(tsCol))).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    val cells = events.crossJoin(broadcast(mm))
      .select(col(keyCol).as("k"), col(valCol).as("v"),
        (unix_micros(col(tsCol)) < col("mid")).as("isA"))
      .groupBy("k", "v")
      .agg(sum(when(col("isA"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isA"), 1L).otherwise(0L)).as("cb"))
    val wCum = Window.partitionBy("k").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("k")
    cells
      .withColumn("cuma", sum("ca").over(wCum))
      .withColumn("cumb", sum("cb").over(wCum))
      .withColumn("na", sum("ca").over(wTot))
      .withColumn("nb", sum("cb").over(wTot))
      .withColumn("nextv",
        lead("v", 1).over(Window.partitionBy("k").orderBy("v")))
      .filter(col("nextv").isNotNull && col("na") > 0 && col("nb") > 0)
      .withColumn("term", (dd(abs(d380(col("cuma")) * d380(col("nb")) -
          d380(col("cumb")) * d380(col("na")))) /
        (dd(col("na")) * dd(col("nb"))) * (col("nextv") - col("v")))
        .cast("decimal(38,15)"))
      .groupBy(col("k").as(keyCol))
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        sum("term").cast("decimal(38,15)").cast("double").as("w1"))
      .orderBy(keyCol)
  }

  /** How far did each event type's value distribution MOVE half-over-
    * half — the earth-mover companion to the q220 PSI gate. */
  def q269Wasserstein(spark: SparkSession, dir: String): DataFrame =
    wassersteinDrift(Tables.events(spark, dir), "ts", "event_type",
      "value")

  /** Per-(key, value-cent) half-split histogram cells: counts of each
    * key's first-half (`ca`) and second-half (`cb`) occurrences on the
    * exact cent grid, the shared reduction for the two-sample distance
    * family ([[wassersteinDrift]] / [[energyDistanceDrift]] /
    * [[cramerVonMisesDrift]]). One groupBy to the value-histogram frame;
    * everything downstream is histogram-sized. */
  private def halfSplitCells(events: DataFrame, tsCol: String,
      keyCol: String, valCol: String): DataFrame = {
    val mm = events.agg(min(unix_micros(col(tsCol))).as("mn"),
        max(unix_micros(col(tsCol))).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    events.crossJoin(broadcast(mm))
      .select(col(keyCol).as("k"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("v"),
        (unix_micros(col(tsCol)) < col("mid")).as("isA"))
      .groupBy("k", "v")
      .agg(sum(when(col("isA"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isA"), 1L).otherwise(0L)).as("cb"))
  }

  /** Energy distance between each key's first-half and second-half
    * value distributions (Székely & Rizzo 2004): D² = 2E|X−Y| − E|X−X′|
    * − E|Y−Y′| — zero iff the distributions are equal, sensitive to ANY
    * difference (location, scale, shape), where Wasserstein (q269)
    * measures displacement and KS (q141) only the max CDF gap. Each
    * E|·| is an all-pairs |x−y| mean, but never materialized as pairs:
    * on the sorted cent histogram, Σ_pairs |x−y| = Σ_k c_k·(v_k·C_{<k}
    * − S_{<k}) via prefix counts/sums — histogram-sized windows keyed
    * per event type, exact DECIMAL(38,0) integers throughout, one
    * double finish per key. The same rank algebra that killed the
    * raw-row windows (q284/q224): per-task work scales with the value
    * DOMAIN, not the row count. */
  def energyDistanceDrift(events: DataFrame, tsCol: String,
      keyCol: String, valCol: String): DataFrame = {
    val cells = halfSplitCells(events, tsCol, keyCol, valCol)
    val wPrev = Window.partitionBy("k").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("pca", coalesce(sum(d380(col("ca"))).over(wPrev),
        lit(0).cast("decimal(38,0)")))
      .withColumn("pcb", coalesce(sum(d380(col("cb"))).over(wPrev),
        lit(0).cast("decimal(38,0)")))
      .withColumn("psa",
        coalesce(sum(d380(col("ca")) * d380(col("v"))).over(wPrev),
          lit(0).cast("decimal(38,0)")))
      .withColumn("psb",
        coalesce(sum(d380(col("cb")) * d380(col("v"))).over(wPrev),
          lit(0).cast("decimal(38,0)")))
      .groupBy(col("k").as(keyCol))
      .agg(sum("ca").as("n_a"), sum("cb").as("n_b"),
        // each cross pair (x∈A, y∈B) counted once at its larger value
        sum(d380(col("ca")) * (d380(col("v")) * col("pcb") - col("psb")) +
            d380(col("cb")) * (d380(col("v")) * col("pca") - col("psa")))
          .cast("decimal(38,0)").as("sab"),
        sum(d380(col("ca")) * (d380(col("v")) * col("pca") - col("psa")))
          .cast("decimal(38,0)").as("saa"),
        sum(d380(col("cb")) * (d380(col("v")) * col("pcb") - col("psb")))
          .cast("decimal(38,0)").as("sbb"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col(keyCol), col("n_a"), col("n_b"),
        // E|X−Y| − ordered-pair means in cents → dollars at /100
        (dd(col("sab")) / (dd(col("n_a")) * dd(col("n_b"))) / 100.0)
          .as("e_xy"),
        (dd(col("saa")) * 2.0 / (dd(col("n_a")) * dd(col("n_a"))) / 100.0)
          .as("e_xx"),
        (dd(col("sbb")) * 2.0 / (dd(col("n_b")) * dd(col("n_b"))) / 100.0)
          .as("e_yy"))
      .withColumn("energy", col("e_xy") * 2.0 - col("e_xx") - col("e_yy"))
      .orderBy(keyCol)
  }

  /** How differently is each event type's value distributed half-over-
    * half, by the all-pairs energy metric — completes the drift battery
    * (PSI q220 bins, KS q141 max-gap, W1 q269 displacement, JS q263
    * information). */
  def q342EnergyDistance(spark: SparkSession, dir: String): DataFrame =
    energyDistanceDrift(Tables.events(spark, dir), "ts", "event_type",
      "value")

  /** Two-sample Cramér–von Mises criterion per key (Anderson 1962):
    * T = nm/N² · Σ_{z ∈ pooled} (F_A(z) − F_B(z))² — the whole-CDF
    * integral test where KS (q141) takes only the max gap, so T sees
    * cumulative small departures KS misses. On the cent histogram the
    * pooled-point sum is Σ_k (a_k+b_k)·(cumA_k·m − cumB_k·n)² / (nm)²,
    * an exact integer cross-product per cell (the q269 CDF discipline);
    * T = S/(N²·n·m) is the single double finish. Histogram-sized
    * windows per key, never raw-row. */
  def cramerVonMisesDrift(events: DataFrame, tsCol: String,
      keyCol: String, valCol: String): DataFrame = {
    val cells = halfSplitCells(events, tsCol, keyCol, valCol)
    val wCum = Window.partitionBy("k").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("k")
    cells
      .withColumn("cuma", sum(d380(col("ca"))).over(wCum))
      .withColumn("cumb", sum(d380(col("cb"))).over(wCum))
      .withColumn("na", sum(d380(col("ca"))).over(wTot))
      .withColumn("nb", sum(d380(col("cb"))).over(wTot))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("gap", (col("cuma") * col("nb") - col("cumb") * col("na"))
        .cast("decimal(38,0)"))
      .groupBy(col("k").as(keyCol))
      .agg(max(col("na")).cast("long").as("n_a"),
        max(col("nb")).cast("long").as("n_b"),
        sum((d380(col("ca")) + d380(col("cb"))) * col("gap") * col("gap"))
          .cast("decimal(38,0)").as("s"))
      .select(col(keyCol), col("n_a"), col("n_b"),
        (dd(col("s")) / (dd(col("n_a") + col("n_b")) *
          dd(col("n_a") + col("n_b")) * dd(col("n_a")) * dd(col("n_b"))))
          .as("t_stat"))
      .orderBy(keyCol)
  }

  /** The CDF-integral drift test on the same half-split contrast as
    * q269/q342 — flags the types whose whole value distribution moved,
    * not just its extremes. */
  def q346CramerVonMises(spark: SparkSession, dir: String): DataFrame =
    cramerVonMisesDrift(Tables.events(spark, dir), "ts", "event_type",
      "value")

  /** Two-sample Anderson–Darling statistic per key (Pettitt 1976, the
    * k = 2 Scholz–Stephens form on the tie-grouped value histogram):
    * AD = Σ_k (a_k+b_k)·gap_k² / (n·m·cumN_k·(N−cumN_k)) over pooled
    * cells below the top one — the variance-weighted CDF integral that
    * up-weights the TAILS where CvM (q346) weights uniformly and KS
    * (q141) sees only the max; the completion of the CDF-test family
    * (max / uniform-integral / tail-weighted-integral). gap = cumA·m −
    * cumB·n is the exact integer CDF cross-product (q269/q346
    * discipline); each cell's rational is one fixed double shape,
    * DECIMAL-quantized before the order-free sum. Histogram-sized,
    * per-key-partitioned windows only. */
  def andersonDarlingDrift(events: DataFrame, tsCol: String,
      keyCol: String, valCol: String): DataFrame = {
    val cells = halfSplitCells(events, tsCol, keyCol, valCol)
    val wCum = Window.partitionBy("k").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("k")
    cells
      .withColumn("cuma", sum(d380(col("ca"))).over(wCum))
      .withColumn("cumb", sum(d380(col("cb"))).over(wCum))
      .withColumn("na", sum(d380(col("ca"))).over(wTot))
      .withColumn("nb", sum(d380(col("cb"))).over(wTot))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("cumn", (col("cuma") + col("cumb")).cast("decimal(38,0)"))
      .withColumn("nn", (col("na") + col("nb")).cast("decimal(38,0)"))
      .filter(col("cumn") < col("nn")) // top cell: H = 1 term excluded
      .withColumn("gap", (col("cuma") * col("nb") - col("cumb") * col("na"))
        .cast("decimal(38,0)"))
      .withColumn("term",
        ((dd(col("ca") + col("cb")) * dd(col("gap")) * dd(col("gap"))) /
          (dd(col("na")) * dd(col("nb")) * dd(col("cumn")) *
            dd(col("nn") - col("cumn")))).cast("decimal(38,15)"))
      .groupBy(col("k").as(keyCol))
      .agg(max(col("na")).cast("long").as("n_a"),
        max(col("nb")).cast("long").as("n_b"),
        sum(col("term")).cast("decimal(38,15)").cast("double")
          .as("ad_stat"))
      .orderBy(keyCol)
  }

  /** Tail-weighted drift per event type on the q269/q342/q346 half-
    * split contrast — the test that fires first when only the extremes
    * moved. */
  def q348AndersonDarling(spark: SparkSession, dir: String): DataFrame =
    andersonDarlingDrift(Tables.events(spark, dir), "ts", "event_type",
      "value")

  /** Mantel–Haenszel pooled odds ratio + Cochran–Mantel–Haenszel χ²
    * across strata (Mantel & Haenszel 1959): THE confounding-aware 2×2
    * analysis — a crude exposure/outcome odds ratio can reverse sign
    * under stratum imbalance (Simpson, the q355 screen); MH pools the
    * per-stratum tables with n-weighted terms instead. OR_MH =
    * Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ); CMH χ² (1 dof, no continuity
    * correction — documented) = (Σ(aᵢ − E aᵢ))² / Σ Vᵢ with
    * E aᵢ = r₁ᵢc₁ᵢ/nᵢ, Vᵢ = r₁ᵢr₀ᵢc₁ᵢc₀ᵢ/(nᵢ²(nᵢ−1)).
    *
    * Shape: one groupBy to the k-row stratum cell frame; each stratum's
    * four terms are fixed double shapes over exact long margins
    * (products stay in doubles — a decimal r₁r₀c₁c₀ product would
    * overflow 38 digits at data scale), pico-quantized DECIMAL(38,12)
    * before the order-insensitive cross-stratum sums (the [[logRankTest]]
    * discipline). */
  def mantelHaenszel(df: DataFrame, stratumCol: String,
      exposedCond: Column, outcomeCond: Column): DataFrame = {
    val q3812 = (c: Column) => c.cast("decimal(38,12)")
    val cells = df.select(col(stratumCol).as("g"), exposedCond.as("e"),
        outcomeCond.as("y"))
      .groupBy("g").agg(
        sum(when(col("e") && col("y"), 1L).otherwise(0L)).as("a"),
        sum(when(col("e") && !col("y"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("e") && col("y"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("e") && !col("y"), 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .filter(col("n") > 1)
    cells.agg(count(lit(1)).as("n_strata"), sum("n").as("n_total"),
        sum(q3812(dd(col("a")) * dd(col("d")) / dd(col("n"))))
          .cast("decimal(38,12)").as("r"),
        sum(q3812(dd(col("b")) * dd(col("c")) / dd(col("n"))))
          .cast("decimal(38,12)").as("s"),
        sum(q3812(dd(col("a")) -
          dd(col("a") + col("b")) * dd(col("a") + col("c")) /
            dd(col("n")))).cast("decimal(38,12)").as("ome"),
        sum(q3812(dd(col("a") + col("b")) * dd(col("c") + col("d")) /
            dd(col("n")) * dd(col("a") + col("c")) *
            dd(col("b") + col("d")) / (dd(col("n")) * dd(col("n") - 1))))
          .cast("decimal(38,12)").as("v"))
      .select(col("n_strata"), col("n_total"),
        when(dd(col("s")) > 0, dd(col("r")) / dd(col("s"))).as("or_mh"),
        when(dd(col("v")) > 0,
          dd(col("ome")) * dd(col("ome")) / dd(col("v"))).as("chi2_cmh"))
  }

  /** Does urgent priority raise the odds of a FINISHED order once the
    * market segment confound is stratified away — the MH pooled OR the
    * crude 2×2 (and q355's Simpson screen) motivates. */
  def q389MantelHaenszel(spark: SparkSession, dir: String): DataFrame =
    mantelHaenszel(
      Tables.orders(spark, dir).join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        Seq("o_custkey")),
      "c_mktsegment",
      col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
      col("o_orderstatus") === "F")

  /** Hellinger distance between each key's first-half and second-half
    * value distributions — the bounded [0,1] member of the drift battery
    * (PSI q331 is unbounded and bin-sensitive, JS q263 is information-
    * flavored, energy q342 metric-flavored; Hellinger's √-overlap form
    * H² = 1 − Σ√(pᵢqᵢ) is THE standard bounded affinity score).
    * Each cell's Bhattacharyya term √(pᵢqᵢ) is one fixed IEEE shape
    * (two divisions, one multiply, one correctly-rounded sqrt) on exact
    * counts, pico-quantized before the order-insensitive sum; the
    * finish is max(0, 1−BC) under one sqrt. One histogram groupBy per
    * key (the [[energyDistanceDrift]] shape, minus the windows). */
  def hellingerDrift(events: DataFrame, tsCol: String, keyCol: String,
      valCol: String): DataFrame = {
    val q3812 = (c: Column) => c.cast("decimal(38,12)")
    val cells = halfSplitCells(events, tsCol, keyCol, valCol)
    val tot = cells.groupBy("k").agg(sum("ca").as("na"),
      sum("cb").as("nb"))
    cells.join(broadcast(tot), "k")
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("k"), col("na"), col("nb"),
        q3812(sqrt((dd(col("ca")) / dd(col("na"))) *
          (dd(col("cb")) / dd(col("nb"))))).as("t"))
      .groupBy("k")
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        sum("t").cast("decimal(38,12)").as("bc"))
      .select(col("k").as(keyCol), col("n_a"), col("n_b"),
        dd(col("bc")).as("bhattacharyya"),
        sqrt(greatest(lit(0.0), lit(1.0) - dd(col("bc"))))
          .as("hellinger"))
      .orderBy(keyCol)
  }

  /** How far has each event type's value distribution moved half-over-
    * half on the bounded √-overlap scale — the drift battery's [0,1]
    * member. */
  def q396HellingerDrift(spark: SparkSession, dir: String): DataFrame =
    hellingerDrift(Tables.events(spark, dir), "ts", "event_type", "value")

  /** Two-sample log-rank test — THE censoring-aware "do these cohorts
    * convert/churn at different speeds" test (Mantel 1966), the
    * significance companion to the q199 Kaplan–Meier curve: comparing
    * raw conversion rates ignores that slow converters are still
    * at risk. Per subject: duration to first death-event (censored at
    * last observation otherwise). At each death time t the
    * hypergeometric terms E₁ₜ = dₜ·n₁ₜ/nₜ and
    * Vₜ = dₜ·n₁ₜ·n₀ₜ·(nₜ−dₜ)/(nₜ²(nₜ−1)) are computed on the
    * days×arms cell frame — at-risk counts are suffix sums realized as
    * a (death-times ⋈ cells, d ≥ t) join, statistic-frame-sized —
    * with integer numerators exact and each term DECIMAL-quantized.
    * z = (O₁−E₁)/√V ≈ N(0,1) under "same hazard". */
  def logRankTest(events: DataFrame, tsCol: String, userCol: String,
      armCond: Column, deathCond: Column): DataFrame = {
    val ev = events.select(col(userCol).as("u"),
      unix_micros(col(tsCol)).as("us"), armCond.as("arm"),
      deathCond.as("isd"))
    val subj = ev.groupBy("u")
      .agg(max("arm").as("arm"), min("us").as("t0"),
        max("us").as("tend"),
        min(when(col("isd"), col("us"))).as("tdeath"))
      .select(col("arm"),
        expr("(coalesce(tdeath, tend) - t0) div 86400000000").as("d"),
        col("tdeath").isNotNull.as("event"))
    val cells = subj.groupBy("arm", "d")
      .agg(sum(when(col("event"), 1L).otherwise(0L)).as("dth"),
        count(lit(1)).as("tot"))
      .localCheckpoint(true) // feeds risk join + death lookup + totals
    val times = cells.groupBy("d").agg(sum("dth").as("dall"))
      .filter(col("dall") > 0).select(col("d").as("t"))
    val risk = times.join(cells, cells("d") >= times("t"))
      .groupBy("t")
      .agg(sum(when(col("arm"), col("tot")).otherwise(0L)).as("n1"),
        sum(when(!col("arm"), col("tot")).otherwise(0L)).as("n0"))
    val death = cells.groupBy(col("d").as("t"))
      .agg(sum(when(col("arm"), col("dth")).otherwise(0L)).as("d1"),
        sum(when(!col("arm"), col("dth")).otherwise(0L)).as("d0"))
    val nt = col("n1") + col("n0")
    val dt = col("d1") + col("d0")
    val terms = risk.join(death, "t")
      .filter(nt > 1)
      .select(col("d1"),
        ((dd(dt) * dd(col("n1"))) / dd(nt)).cast("decimal(38,12)")
          .as("e1"),
        (dd(d380(dt) * d380(col("n1")) * d380(col("n0")) *
          d380(nt - dt)) / (dd(nt) * dd(nt) * dd(nt - 1)))
          .cast("decimal(38,12)").as("v"))
    val arms = subj.agg(
      sum(when(col("arm"), 1L).otherwise(0L)).as("n_arm"),
      sum(when(!col("arm"), 1L).otherwise(0L)).as("n_rest"))
    terms.agg(sum("d1").as("observed_a"),
        sum("e1").cast("decimal(38,12)").cast("double").as("expected_a"),
        sum("v").cast("decimal(38,12)").cast("double").as("variance"))
      .crossJoin(broadcast(arms)) // 1-row build side
      .select(col("n_arm"), col("n_rest"), col("observed_a"),
        col("expected_a"), col("variance"),
        ((dd(col("observed_a")) - col("expected_a")) /
          sqrt(col("variance"))).as("z"))
  }

  /** Nelson–Aalen cumulative-hazard trajectory — the censoring-aware
    * estimator Ĥ(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ over event times (Nelson 1972,
    * Aalen 1978): where Kaplan–Meier (q199) gives survival S(t), the NA
    * curve gives the INTEGRATED RISK — its slope is the hazard rate, so
    * flattening = risk decay, kinks = regime changes. Completes the
    * survival family (KM q199, log-rank q268, exponential hazard q381).
    * Same subject derivation as [[logRankTest]] (duration to first
    * death-event, censored at last observation); at-risk counts via the
    * statistic-frame suffix join; each dᵢ/nᵢ increment quantized
    * DECIMAL(38,12) and accumulated by one range-partitioned rank pass
    * over the death-time frame ([[Rank.globalRankPrefix]] prefix sums
    * are LONG, so the quantized increments ride as pico-integers). */
  def nelsonAalen(events: DataFrame, tsCol: String, userCol: String,
      deathCond: Column): DataFrame = {
    val ev = events.select(col(userCol).as("u"),
      unix_micros(col(tsCol)).as("us"), deathCond.as("isd"))
    val subj = ev.groupBy("u")
      .agg(min("us").as("t0"), max("us").as("tend"),
        min(when(col("isd"), col("us"))).as("tdeath"))
      .select(
        expr("(coalesce(tdeath, tend) - t0) div 86400000000").as("d"),
        col("tdeath").isNotNull.as("event"))
    val cells = subj.groupBy("d")
      .agg(sum(when(col("event"), 1L).otherwise(0L)).as("dth"),
        count(lit(1)).as("tot"))
      .localCheckpoint(true) // feeds risk join + death-time frame
    val times = cells.filter(col("dth") > 0).select(col("d").as("t"),
      col("dth"))
    val risk = times.join(cells.select(col("d"), col("tot")),
        cells("d") >= times("t"))
      .groupBy("t", "dth").agg(sum("tot").as("n_risk"))
      // pico-integer increment: ⌊d/n·1e12 + ½⌋ (values ≤ 1, the q216
      // rule) so the running sum below stays an exact LONG
      .withColumn("incq",
        floor(dd(col("dth")) / dd(col("n_risk")) * 1e12 + 0.5)
          .cast("long"))
    Rank.globalRankPrefix(risk, Seq(col("t")), Seq("cum" -> col("incq")))
      .select(col("t").as("t_days"), col("dth").as("n_deaths"),
        col("n_risk"),
        (col("cum").cast("double") / 1e12).as("na_cum_hazard"))
      .orderBy("t_days")
  }

  /** Cumulative first-purchase hazard by lifetime day — the integrated
    * conversion-risk curve over the event log. */
  def q413NelsonAalen(spark: SparkSession, dir: String): DataFrame =
    nelsonAalen(Tables.events(spark, dir), "ts", "user_id",
      col("event_type") === "purchase")

  /** Do even- and odd-keyed users reach their first purchase at the
    * same hazard — the experiment-arm log-rank gate. */
  def q268LogRank(spark: SparkSession, dir: String): DataFrame =
    logRankTest(Tables.events(spark, dir), "ts", "user_id",
      col("user_id") % 2 === 0, col("event_type") === "purchase")

  /** Partial correlation r_xy·z per slice — the correlation between x
    * and y with a confounder z linearly removed:
    * r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)). All nine
    * cross-moments are exact centi-unit DECIMAL sums from ONE map-side-
    * combined aggregation; each pairwise r and the final partial r are
    * fixed-shape double finishes (centered second moments are cast to
    * double BEFORE multiplying — their decimal product would overflow
    * 38 digits at scale). Slices with a degenerate marginal (zero
    * variance) or |r_xz| = 1 / |r_yz| = 1 are excluded (undefined). */
  def partialCorrelation(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, zCol: String): DataFrame = {
    val q = (c: String) => (col(c).cast("decimal(18,2)") * 100).cast("long")
    val m = df.select(col(groupCol).as("g"), q(xCol).as("x"),
        q(yCol).as("y"), q(zCol).as("z"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(d380(col("x"))).cast("decimal(38,0)").as("sx"),
        sum(d380(col("y"))).cast("decimal(38,0)").as("sy"),
        sum(d380(col("z"))).cast("decimal(38,0)").as("sz"),
        sum(d380(col("x")) * d380(col("x"))).cast("decimal(38,0)").as("sxx"),
        sum(d380(col("y")) * d380(col("y"))).cast("decimal(38,0)").as("syy"),
        sum(d380(col("z")) * d380(col("z"))).cast("decimal(38,0)").as("szz"),
        sum(d380(col("x")) * d380(col("y"))).cast("decimal(38,0)").as("sxy"),
        sum(d380(col("x")) * d380(col("z"))).cast("decimal(38,0)").as("sxz"),
        sum(d380(col("y")) * d380(col("z"))).cast("decimal(38,0)").as("syz"))
    def cm(sab: String, sa: String, sb: String) = // centered co-moment
      (d380(col("n")) * col(sab) - col(sa) * col(sb)).cast("decimal(38,0)")
    val withV = m
      .withColumn("cxy", cm("sxy", "sx", "sy"))
      .withColumn("cxz", cm("sxz", "sx", "sz"))
      .withColumn("cyz", cm("syz", "sy", "sz"))
      .withColumn("vx", cm("sxx", "sx", "sx"))
      .withColumn("vy", cm("syy", "sy", "sy"))
      .withColumn("vz", cm("szz", "sz", "sz"))
      .filter(col("vx") > 0 && col("vy") > 0 && col("vz") > 0)
      .withColumn("rxy", dd(col("cxy")) / sqrt(dd(col("vx")) * dd(col("vy"))))
      .withColumn("rxz", dd(col("cxz")) / sqrt(dd(col("vx")) * dd(col("vz"))))
      .withColumn("ryz", dd(col("cyz")) / sqrt(dd(col("vy")) * dd(col("vz"))))
      .filter(col("rxz") * col("rxz") < 1.0 && col("ryz") * col("ryz") < 1.0)
    withV.select(col("g").as(groupCol), col("n"), col("rxy"), col("rxz"),
        col("ryz"),
        ((col("rxy") - col("rxz") * col("ryz")) /
          sqrt((lit(1.0) - col("rxz") * col("rxz")) *
            (lit(1.0) - col("ryz") * col("ryz")))).as("r_xy_z"))
      .orderBy(groupCol)
  }

  /** Does revenue still track quantity once the discount level is
    * controlled for, per return flag. */
  def q274PartialCorr(spark: SparkSession, dir: String): DataFrame =
    partialCorrelation(Tables.lineitem(spark, dir), "l_returnflag",
      "l_extendedprice", "l_quantity", "l_discount")

  /** Two-regressor OLS per slice by the closed-form normal equations —
    * the smallest genuinely multivariate regression, solved exactly from
    * the same one-pass moment frame [[groupOls]] uses: centered moments
    * S₁₁ S₂₂ S₁₂ S₁y S₂y (exact DECIMALs), Cramer's rule in doubles
    * (decimal products of two centered moments would overflow — cast
    * first, the [[partialCorrelation]] rule), R² from the explained-sum
    * identity b₁S₁y + b₂S₂y over Syy. Collinear slices (det ≤ 0) are
    * excluded. The 100× quantization cancels in the slopes; the
    * intercept rescales by /100. */
  def olsTwoFeatures(df: DataFrame, groupCol: String, x1Col: String,
      x2Col: String, yCol: String): DataFrame = {
    val q = (c: String) => (col(c).cast("decimal(18,2)") * 100).cast("long")
    val m = df.select(col(groupCol).as("g"), q(x1Col).as("a"),
        q(x2Col).as("b"), q(yCol).as("y"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(d380(col("a"))).cast("decimal(38,0)").as("sa"),
        sum(d380(col("b"))).cast("decimal(38,0)").as("sb"),
        sum(d380(col("y"))).cast("decimal(38,0)").as("sy"),
        sum(d380(col("a")) * d380(col("a"))).cast("decimal(38,0)").as("saa"),
        sum(d380(col("b")) * d380(col("b"))).cast("decimal(38,0)").as("sbb"),
        sum(d380(col("a")) * d380(col("b"))).cast("decimal(38,0)").as("sab"),
        sum(d380(col("a")) * d380(col("y"))).cast("decimal(38,0)").as("say"),
        sum(d380(col("b")) * d380(col("y"))).cast("decimal(38,0)").as("sby"),
        sum(d380(col("y")) * d380(col("y"))).cast("decimal(38,0)").as("syy"))
    def cm(sab: String, sa: String, sb: String) =
      (d380(col("n")) * col(sab) - col(sa) * col(sb)).cast("decimal(38,0)")
    val withS = m
      .withColumn("s11", cm("saa", "sa", "sa"))
      .withColumn("s22", cm("sbb", "sb", "sb"))
      .withColumn("s12", cm("sab", "sa", "sb"))
      .withColumn("s1y", cm("say", "sa", "sy"))
      .withColumn("s2y", cm("sby", "sb", "sy"))
      .withColumn("syy_c", cm("syy", "sy", "sy"))
      .withColumn("det", dd(col("s11")) * dd(col("s22")) -
        dd(col("s12")) * dd(col("s12")))
      .filter(col("det") > 0 && col("syy_c") > 0)
      .withColumn("b1", (dd(col("s1y")) * dd(col("s22")) -
        dd(col("s2y")) * dd(col("s12"))) / col("det"))
      .withColumn("b2", (dd(col("s2y")) * dd(col("s11")) -
        dd(col("s1y")) * dd(col("s12"))) / col("det"))
    withS.select(col("g").as(groupCol), col("n"), col("b1"), col("b2"),
        ((dd(col("sy")) - col("b1") * dd(col("sa")) -
          col("b2") * dd(col("sb"))) / dd(col("n")) / 100.0)
          .as("intercept"),
        ((col("b1") * dd(col("s1y")) + col("b2") * dd(col("s2y"))) /
          dd(col("syy_c"))).as("r2"))
      .orderBy(groupCol)
  }

  /** Revenue modeled on quantity AND discount jointly, per return flag —
    * the two-feature exact OLS. */
  def q275OlsTwo(spark: SparkSession, dir: String): DataFrame =
    olsTwoFeatures(Tables.lineitem(spark, dir), "l_returnflag",
      "l_quantity", "l_discount", "l_extendedprice")

  /** Standardized ridge regression with two features, closed form —
    * [[olsTwoFeatures]] with an L2 penalty on the CORRELATION-scale
    * normal equations: solve [[1+λ, r12],[r12, 1+λ]]·b = [r1y, r2y].
    * Working on correlations (not raw moments) makes the penalty
    * scale-free — the textbook "standardize before ridge" rule — and
    * the whole solve is three exact-decimal correlations followed by a
    * fixed-shape 2×2 Cramer finish in doubles. The unpenalized (λ=0)
    * standardized OLS coefficients ride along so the shrinkage is
    * visible per slice. Same one-pass moment frame, one shuffle. */
  def ridgeTwoFeatures(df: DataFrame, groupCol: String, x1Col: String,
      x2Col: String, yCol: String, lambda: Double): DataFrame = {
    require(lambda >= 0, s"lambda must be >= 0: $lambda")
    val q = (c: String) => (col(c).cast("decimal(18,2)") * 100).cast("long")
    val m = df.select(col(groupCol).as("g"), q(x1Col).as("a"),
        q(x2Col).as("b"), q(yCol).as("y"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(d380(col("a"))).cast("decimal(38,0)").as("sa"),
        sum(d380(col("b"))).cast("decimal(38,0)").as("sb"),
        sum(d380(col("y"))).cast("decimal(38,0)").as("sy"),
        sum(d380(col("a")) * d380(col("a"))).cast("decimal(38,0)").as("saa"),
        sum(d380(col("b")) * d380(col("b"))).cast("decimal(38,0)").as("sbb"),
        sum(d380(col("a")) * d380(col("b"))).cast("decimal(38,0)").as("sab"),
        sum(d380(col("a")) * d380(col("y"))).cast("decimal(38,0)").as("say"),
        sum(d380(col("b")) * d380(col("y"))).cast("decimal(38,0)").as("sby"),
        sum(d380(col("y")) * d380(col("y"))).cast("decimal(38,0)").as("syy"))
    def cm(sab: String, sa: String, sb: String) =
      (d380(col("n")) * col(sab) - col(sa) * col(sb)).cast("decimal(38,0)")
    val withR = m
      .withColumn("v1", cm("saa", "sa", "sa"))
      .withColumn("v2", cm("sbb", "sb", "sb"))
      .withColumn("vy", cm("syy", "sy", "sy"))
      .withColumn("c12", cm("sab", "sa", "sb"))
      .withColumn("c1y", cm("say", "sa", "sy"))
      .withColumn("c2y", cm("sby", "sb", "sy"))
      .filter(col("v1") > 0 && col("v2") > 0 && col("vy") > 0)
      .withColumn("r12", dd(col("c12")) / sqrt(dd(col("v1")) * dd(col("v2"))))
      .withColumn("r1y", dd(col("c1y")) / sqrt(dd(col("v1")) * dd(col("vy"))))
      .withColumn("r2y", dd(col("c2y")) / sqrt(dd(col("v2")) * dd(col("vy"))))
    val lam = lit(lambda)
    val detR = (lit(1.0) + lam) * (lit(1.0) + lam) - col("r12") * col("r12")
    val detO = lit(1.0) - col("r12") * col("r12")
    withR.filter(detO > 0)
      .select(col("g").as(groupCol), col("n"), col("r12"),
        ((col("r1y") * (lit(1.0) + lam) - col("r2y") * col("r12")) / detR)
          .as("b1_ridge"),
        ((col("r2y") * (lit(1.0) + lam) - col("r1y") * col("r12")) / detR)
          .as("b2_ridge"),
        ((col("r1y") - col("r2y") * col("r12")) / detO).as("b1_ols"),
        ((col("r2y") - col("r1y") * col("r12")) / detO).as("b2_ols"))
      .orderBy(groupCol)
  }

  /** Shrunk standardized quantity/discount coefficients for revenue,
    * per return flag (λ = 0.1), next to their OLS twins. */
  def q286RidgeTwo(spark: SparkSession, dir: String): DataFrame =
    ridgeTwoFeatures(Tables.lineitem(spark, dir), "l_returnflag",
      "l_quantity", "l_discount", "l_extendedprice", lambda = 0.1)

  /** Daily-revenue trend residuals per group — the shared frame for the
    * residual-diagnostic tests ([[durbinWatson]], [[breuschPagan]]):
    * day-bucket the measure (exact centi-long sums), fit the per-group
    * day-index trend from exact DECIMAL moments (the [[Stats.groupOls]]
    * shape), then broadcast the k-row (a, b) fit back and emit each
    * day's residual e = rev − (a + b·x). Each consumer quantizes e to
    * an integer scale of its choice BEFORE any squaring, so every
    * downstream sum is exact decimal addition and the statistic is
    * bit-reproducible in any engine. Day index x is days since the
    * epoch base (small int); a and b are the ONLY doubles in e. */
  private def dailyTrendResiduals(df: DataFrame, groupCol: String,
      dateCol: String, valCol: String): DataFrame = {
    val daily = df.select(col(groupCol).as("g"),
        datediff(col(dateCol), lit("1992-01-01")).as("x"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("g", "x").agg(sum(col("vc")).as("rev"))
    val fit = daily.groupBy("g")
      .agg(count(lit(1)).as("nd"),
        sum(col("x")).as("sx"),
        sum(d380(col("rev"))).cast("decimal(38,0)").as("sy"),
        sum(d380(col("x")) * d380(col("rev"))).cast("decimal(38,0)")
          .as("sxy"),
        sum(d380(col("x")) * d380(col("x"))).cast("decimal(38,0)").as("sxx"))
      .withColumn("cov", (d380(col("nd")) * col("sxy") -
        d380(col("sx")) * col("sy")).cast("decimal(38,0)"))
      .withColumn("vx", (d380(col("nd")) * col("sxx") -
        d380(col("sx")) * d380(col("sx"))).cast("decimal(38,0)"))
      .filter(col("vx") > 0)
      .withColumn("b", dd(col("cov")) / dd(col("vx")))
      .withColumn("a", (dd(col("sy")) - col("b") * dd(col("sx"))) /
        dd(col("nd")))
      .select("g", "nd", "a", "b")
    daily.join(broadcast(fit), "g")
      .select(col("g"), col("nd"), col("x"),
        (dd(col("rev")) - (col("a") + col("b") * dd(col("x")))).as("e"))
  }

  /** Durbin–Watson autocorrelation-of-residuals diagnostic per group:
    * DW = Σ(e_t − e_{t−1})² / Σe_t² over the day-ordered residuals of
    * the daily-revenue trend fit — the classic "is there serial
    * structure the trend missed" test (DW ≈ 2 means none, → 0 positive,
    * → 4 negative autocorrelation). Residuals are integer-quantized
    * before differencing ([[dailyTrendResiduals]]), so both sums are
    * exact decimals and the statistic is one double division; the lag
    * runs in a per-group day-ordered window — one shuffle after the
    * day-bucket aggregation. */
  def durbinWatson(df: DataFrame, groupCol: String, dateCol: String,
      valCol: String): DataFrame = {
    val res = dailyTrendResiduals(df, groupCol, dateCol, valCol)
      .withColumn("eq", col("e").cast("decimal(38,0)"))
    val wDay = Window.partitionBy("g").orderBy("x")
    res.withColumn("dq", col("eq") - lag(col("eq"), 1).over(wDay))
      .groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n_days"),
        sum((col("dq") * col("dq")).cast("decimal(38,0)")).as("num"),
        sum((col("eq") * col("eq")).cast("decimal(38,0)")).as("den"))
      .filter(col("den") > 0)
      .select(col(groupCol), col("n_days"),
        (dd(col("num")) / dd(col("den"))).as("dw"))
      .orderBy(groupCol)
  }

  /** Does daily revenue drift serially around its trend, per return
    * flag — the DW autocorrelation gate. */
  def q287DurbinWatson(spark: SparkSession, dir: String): DataFrame =
    durbinWatson(Tables.lineitem(spark, dir), "l_returnflag", "l_shipdate",
      "l_extendedprice")

  /** Breusch–Pagan heteroskedasticity test per group: regress the
    * SQUARED trend residuals on the day index and report LM = n·R² —
    * "does the error variance itself trend over time". The squared
    * residuals are exact integers ([[dailyTrendResiduals]] quantizes
    * first), the auxiliary regression's R² is a Pearson correlation
    * squared over exact DECIMAL moments, and the LM statistic is one
    * double expression. Same single shuffle as [[durbinWatson]]. */
  def breuschPagan(df: DataFrame, groupCol: String, dateCol: String,
      valCol: String): DataFrame = {
    // residuals quantized to integer DOLLARS (not centi) here: the
    // auxiliary Pearson needs (Σz)² and centi² units would push it past
    // DECIMAL(38) at the sf1 stress scale
    val res = dailyTrendResiduals(df, groupCol, dateCol, valCol)
      .withColumn("ed", (col("e") / lit(100.0)).cast("decimal(38,0)"))
      .withColumn("z", (col("ed") * col("ed")).cast("decimal(38,0)"))
    res.groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("z")).as("sz"),
        sum((d380(col("x")) * col("z")).cast("decimal(38,0)")).as("sxz"),
        sum(d380(col("x")) * d380(col("x"))).cast("decimal(38,0)").as("sxx"),
        sum((col("z") * col("z")).cast("decimal(38,0)")).as("szz"))
      .withColumn("cov", (d380(col("n_days")) * col("sxz") -
        d380(col("sx")) * col("sz")).cast("decimal(38,0)"))
      .withColumn("vx", (d380(col("n_days")) * col("sxx") -
        d380(col("sx")) * d380(col("sx"))).cast("decimal(38,0)"))
      .withColumn("vz", (d380(col("n_days")) * col("szz") -
        col("sz") * col("sz")).cast("decimal(38,0)"))
      .filter(col("vx") > 0 && col("vz") > 0)
      .withColumn("r2_aux", (dd(col("cov")) * dd(col("cov"))) /
        (dd(col("vx")) * dd(col("vz"))))
      .select(col(groupCol), col("n_days"), col("r2_aux"),
        (dd(col("n_days")) * col("r2_aux")).as("bp_lm"))
      .orderBy(groupCol)
  }

  /** Is the day-to-day revenue noise getting louder over the years, per
    * return flag — the BP heteroskedasticity screen. */
  def q288BreuschPagan(spark: SparkSession, dir: String): DataFrame =
    breuschPagan(Tables.lineitem(spark, dir), "l_returnflag", "l_shipdate",
      "l_extendedprice")

  /** Jarque–Bera normality test per group from EXACT centered power
    * sums: skewness m₃/m₂^1.5, excess kurtosis m₄/m₂² − 3, and
    * JB = n·(S²/6 + K²/24). Naive raw-moment formulas cancel
    * catastrophically at Σx⁴ scale, so this is the two-pass stable
    * shape made distributed: pass 1 takes each group's floor-mean as an
    * integer offset c (k-row broadcast), pass 2 sums the exact integer
    * deviations d = x − c to the fourth power (DECIMAL(38,0) — d⁴ fits
    * with 10³ headroom at fixture scale), and the tiny residual shift
    * δ = Σd/n < 1 enters only through the standard about-c → about-mean
    * correction in doubles. Two scans, one k-row broadcast, no window. */
  def jarqueBera(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val per = df.select(col(groupCol).as("g"),
      (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("xc"))
    // integer div (not /): both engines' float division could round the
    // quotient across an integer boundary before the truncating cast
    val base = per.groupBy("g")
      .agg(sum(col("xc")).as("sxc"), count(lit(1)).as("ng"))
      .select(col("g"), expr("sxc div ng").as("c"))
    val mom = per.join(broadcast(base), "g")
      .select(col("g"), (col("xc") - col("c")).as("d"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(d380(col("d"))).cast("decimal(38,0)").as("s1"),
        sum(d380(col("d")) * d380(col("d"))).cast("decimal(38,0)").as("s2"),
        sum(d380(col("d")) * d380(col("d")) * d380(col("d")))
          .cast("decimal(38,0)").as("s3"),
        sum(d380(col("d")) * d380(col("d")) * d380(col("d")) * d380(col("d")))
          .cast("decimal(38,0)").as("s4"))
      .withColumn("delta", dd(col("s1")) / dd(col("n")))
      .withColumn("m2", dd(col("s2")) / dd(col("n")) -
        col("delta") * col("delta"))
      .withColumn("m3", dd(col("s3")) / dd(col("n")) -
        lit(3.0) * col("delta") * dd(col("s2")) / dd(col("n")) +
        lit(2.0) * col("delta") * col("delta") * col("delta"))
      .withColumn("m4", dd(col("s4")) / dd(col("n")) -
        lit(4.0) * col("delta") * dd(col("s3")) / dd(col("n")) +
        lit(6.0) * col("delta") * col("delta") * dd(col("s2")) / dd(col("n")) -
        lit(3.0) * col("delta") * col("delta") * col("delta") * col("delta"))
      .filter(col("m2") > 0)
      .withColumn("skewness", col("m3") / sqrt(col("m2") * col("m2") *
        col("m2")))
      .withColumn("kurtosis_ex", col("m4") / (col("m2") * col("m2")) -
        lit(3.0))
    mom.select(col("g").as(groupCol), col("n"), col("skewness"),
        col("kurtosis_ex"),
        (dd(col("n")) * (col("skewness") * col("skewness") / lit(6.0) +
          col("kurtosis_ex") * col("kurtosis_ex") / lit(24.0))).as("jb"))
      .orderBy(groupCol)
  }

  /** Are order values normally distributed within each priority class —
    * the JB moment-based normality screen. */
  def q289JarqueBera(spark: SparkSession, dir: String): DataFrame =
    jarqueBera(Tables.orders(spark, dir), "o_orderpriority", "o_totalprice")

  /** Mood's median test — the coarsest, most assumption-free k-sample
    * location test: dichotomize every value against the GRAND median and
    * chi-square the resulting k×2 above/at-or-below table. The grand
    * median is exact-integer (2·median = lower+upper over the value
    * HISTOGRAM's cumulative counts — the crossing runs over distinct
    * values, not rows), the cell counts are exact longs via the strict
    * `2x > med2` integer gate, and each group's chi-square contribution
    * is a fixed-shape double over exact integers. Two scans + one
    * histogram window + one 1-row broadcast. */
  def moodsMedianTest(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val per = df.select(col(groupCol).as("g"),
      (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("x"))
    val hist = per.groupBy("x").agg(count(lit(1)).as("cnt"))
    val tot = per.agg(count(lit(1)).as("nn"))
    val cum = Rank.globalRankPrefix(hist, Seq(col("x")),
        Seq("cum" -> col("cnt"))) // range-partitioned running count
      .crossJoin(broadcast(tot)) // 1-row build side
      .withColumn("fl", expr("(nn + 1) div 2"))
      .withColumn("ce", expr("(nn + 2) div 2"))
    val med2 = cum
      .agg((min(when(col("cum") >= col("fl"), col("x"))) +
        min(when(col("cum") >= col("ce"), col("x")))).as("med2"))
    val cells = per.crossJoin(broadcast(med2))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(when(col("x") * 2 > col("med2"), 1L).otherwise(0L)).as("above"))
    val glob = cells.agg(sum(col("n")).as("nt"), sum(col("above")).as("at"))
    cells.crossJoin(broadcast(glob)) // 1-row build side
      // degenerate split (every value on one side of the grand median):
      // expected counts would be 0 → NaN/Inf chi2 — excluded, the same
      // filtered-exclusion discipline as the vx>0 guards elsewhere
      .filter(col("at") > 0 && col("at") < col("nt"))
      .withColumn("ea", dd(col("n")) * dd(col("at")) / dd(col("nt")))
      .withColumn("eb",
        dd(col("n")) * dd(col("nt") - col("at")) / dd(col("nt")))
      .select(col("g").as(groupCol), col("n"), col("above"),
        (col("n") - col("above")).as("at_or_below"),
        col("ea").as("exp_above"),
        ((dd(col("above")) - col("ea")) * (dd(col("above")) - col("ea")) /
          col("ea") +
          (dd(col("n") - col("above")) - col("eb")) *
          (dd(col("n") - col("above")) - col("eb")) / col("eb"))
          .as("chi2_g"))
      .orderBy(groupCol)
  }

  /** Do the priority classes straddle the overall median order value
    * evenly — the median-split chi-square. */
  def q290MoodsMedian(spark: SparkSession, dir: String): DataFrame =
    moodsMedianTest(Tables.orders(spark, dir), "o_orderpriority",
      "o_totalprice")

  /** Wilcoxon signed-rank test — THE paired pre/post test when normality
    * can't be assumed (the matched-samples member of the nonparametric
    * battery: q224 Mann–Whitney is two independent samples, q306
    * Friedman is k blocked treatments). Each entity contributes one
    * exact integer difference d (post − pre, in cents); zeros are
    * dropped (Wilcoxon's treatment), |d| ties get average ranks from the
    * VALUE HISTOGRAM (the q290 rank algebra — never a raw-row global
    * window): with cum the inclusive running count over the |d|
    * histogram, 2·rank_avg = 2·(cum − cnt) + cnt + 1 stays integer, so
    * W⁺ accumulates in exact half-units (w2p = 2·W⁺). Normal
    * approximation with the tie-corrected variance
    * σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48. */
  def wilcoxonSignedRank(df: DataFrame, entityCol: String, preCond: Column,
      valCol: String): DataFrame = {
    val cents = (col(valCol).cast("decimal(18,2)") * 100).cast("long")
    val diffs = df.select(col(entityCol).as("e"), preCond.as("pre"),
        cents.as("y"))
      .groupBy("e")
      .agg((sum(when(!col("pre"), col("y")).otherwise(0L)) -
        sum(when(col("pre"), col("y")).otherwise(0L))).as("d"))
      .filter(col("d") =!= 0)
    val hist = diffs.groupBy(abs(col("d")).as("a"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("pos"))
    Rank.globalRankPrefix(hist, Seq(col("a")), Seq("cum" -> col("cnt")))
      // 2×average-rank of tie group = 2(cum − cnt) + cnt + 1
      .withColumn("ar2", lit(2L) * (col("cum") - col("cnt")) + col("cnt")
        + 1L)
      .agg(sum(col("cnt")).as("n"),
        sum(col("pos")).as("n_pos"),
        // decimal products — pos·ar2 and cnt³ wrap a long past ~2e9 rows
        sum(d380(col("pos")) * d380(col("ar2"))).cast("decimal(38,0)")
          .as("w2p"),
        sum(d380(col("cnt")) * d380(col("cnt")) * d380(col("cnt"))
          - d380(col("cnt"))).cast("decimal(38,0)").as("tie3"))
      .select(col("n"), col("n_pos"), (dd(col("w2p")) / 2.0).as("w_plus"),
        ((dd(col("w2p")) / 2.0 -
          dd(col("n")) * dd(col("n") + 1) / 4.0) /
          sqrt(dd(col("n")) * dd(col("n") + 1) * dd(lit(2L) * col("n") + 1)
            / 24.0 - dd(col("tie3")) / 48.0)).as("z"))
  }

  /** Did per-user spend move across the mid-log cutover — the paired
    * (each user is their own control) companion to q317's DiD: one
    * exact cents difference per user, signed ranks from the histogram. */
  def q318WilcoxonSignedRank(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val mm = ev.agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
    wilcoxonSignedRank(ev.crossJoin(broadcast(mm)), "user_id",
      unix_micros(col("ts")) < col("mid"), "value")
  }

  /** Isotonic (monotone) calibration of a binary rate against a score —
    * the non-parametric alternative to Platt scaling (no logistic fit,
    * no iterations): pool-adjacent-violators expressed through the
    * CLOSED minimax identity fit(i) = max_{j≤i} min_{k≥i} rate(j..k)
    * (Robertson–Wright–Dykstra 1988), which needs no sequential state —
    * the PAVA recurrence would be a driver-side loop; the minimax form
    * is three joins over the BIN frame. Rows reduce to `nBins`
    * equal-width score bins in one map-side-combined pass (all raw-data
    * cost is that single aggregation; the B³ minimax work is constant —
    * a fixed-size statistic frame). Segment rates sp/sn are single
    * divisions of exact integers, so min/max pick from bit-identical
    * candidate sets in any engine. */
  def isotonicCalibration(df: DataFrame, scoreCol: String, posCond: Column,
      nBins: Int): DataFrame = {
    require(nBins >= 2 && nBins <= 64, s"bad bin count: $nBins")
    val cents = (col(scoreCol).cast("decimal(18,2)") * 100).cast("long")
    val base = df.select(cents.as("v"),
      when(posCond, 1L).otherwise(0L).as("y"))
    val mm = base.agg(min("v").as("mn"), max("v").as("mx"))
    val bins = base.crossJoin(broadcast(mm))
      .withColumn("bin", expr(s"((v - mn) * $nBins) div (mx - mn + 1)"))
      .groupBy("bin").agg(count(lit(1)).as("n"), sum("y").as("pos"))
    val segs = bins.select(col("bin").as("j"))
      .join(broadcast(bins.select(col("bin").as("k"))), col("j") <= col("k"))
      .join(broadcast(bins.select(col("bin").as("b"), col("n"), col("pos"))),
        col("b") >= col("j") && col("b") <= col("k"))
      .groupBy("j", "k").agg(sum("n").as("sn"), sum("pos").as("sp"))
      .withColumn("avg", dd(col("sp")) / dd(col("sn")))
    val fit = bins.select(col("bin").as("i"))
      .join(broadcast(segs), col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "j").agg(min("avg").as("mjk"))
      .groupBy("i").agg(max("mjk").as("iso_rate"))
    bins.join(broadcast(fit), col("bin") === col("i"))
      .select(col("bin"), col("n"), col("pos"),
        (dd(col("pos")) / dd(col("n"))).as("raw_rate"), col("iso_rate"))
      .orderBy("bin")
  }

  /** Monotone-calibrated P(purchase | event value): 20 equal-width
    * cent bins, raw rate vs isotonic fit side by side. */
  def q321IsotonicCalibration(spark: SparkSession, dir: String): DataFrame =
    isotonicCalibration(Tables.events(spark, dir), "value",
      col("event_type") === "purchase", nBins = 20)

  /** Wald–Wolfowitz runs test on the daily-revenue series per group —
    * is the above/below-median sign sequence random, or does it clump
    * (trend/regime) or alternate (overcorrection)? Signs come from the
    * exact integer gate `2·rev ≠/> med2` against the per-group exact
    * median (ties dropped, the standard treatment); the run count is a
    * lag-window transition sum; z = (R − μ)/σ is the classic normal
    * approximation over exact integer n₁, n₂, R. One day-bucket
    * aggregation + two same-key windows + k-row broadcast. */
  def runsTest(df: DataFrame, groupCol: String, dateCol: String,
      valCol: String): DataFrame = {
    val daily = df.select(col(groupCol).as("g"),
        datediff(col(dateCol), lit("1992-01-01")).as("x"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("g", "x").agg(sum(col("vc")).as("rev"))
    val wOrd = Window.partitionBy("g").orderBy("rev", "x")
    val wG = Window.partitionBy("g")
    val med = daily
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("ng", count(lit(1)).over(wG))
      .withColumn("fl", expr("(ng + 1) div 2"))
      .withColumn("ce", expr("(ng + 2) div 2"))
      .filter(col("rn") === col("fl") || col("rn") === col("ce"))
      .groupBy("g")
      .agg((sum(when(col("rn") === col("fl"), col("rev")).otherwise(0L)) +
        sum(when(col("rn") === col("ce"), col("rev")).otherwise(0L)))
        .as("med2"))
    val signed = daily.join(broadcast(med), "g")
      .filter(col("rev") * 2 =!= col("med2"))
      .withColumn("s", col("rev") * 2 > col("med2"))
    val wDay = Window.partitionBy("g").orderBy("x")
    val runs = signed
      .withColumn("brk", when(lag(col("s"), 1).over(wDay).isNull ||
        col("s") =!= lag(col("s"), 1).over(wDay), 1L).otherwise(0L))
      .groupBy(col("g").as(groupCol))
      .agg(sum(when(col("s"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("s"), 1L).otherwise(0L)).as("n2"),
        sum(col("brk")).as("runs"))
      .filter(col("n1") > 0 && col("n2") > 0)
    val twon = lit(2.0) * dd(col("n1")) * dd(col("n2"))
    val nn = dd(col("n1")) + dd(col("n2"))
    val mu = twon / nn + lit(1.0)
    val sig2 = twon * (twon - nn) / (nn * nn * (nn - lit(1.0)))
    runs.select(col(groupCol), col("n1"), col("n2"), col("runs"),
        when(sig2 > 0, (dd(col("runs")) - mu) / sqrt(sig2))
          .otherwise(lit(0.0)).as("z_runs"))
      .orderBy(groupCol)
  }

  /** Does daily revenue wander above/below its median in random order,
    * per return flag — the sign-sequence randomness check. */
  def q291RunsTest(spark: SparkSession, dir: String): DataFrame =
    runsTest(Tables.lineitem(spark, dir), "l_returnflag", "l_shipdate",
      "l_extendedprice")

  /** Tukey–Kramer HSD pairwise comparisons — the post-hoc step one-way
    * ANOVA (q225) demands before naming WHICH groups differ: for every
    * class pair, q = |mean_i − mean_j| / √(MSE/2·(1/n_i + 1/n_j)).
    * Class moments are the same exact one-pass DECIMALs as [[anovaF]];
    * MSE's per-class within-SS terms are DECIMAL(38,6)-quantized
    * doubles (exact summation — no order sensitivity); the k(k−1)/2
    * pair frame is a self-join of the k-row class-stats frame, i.e.
    * free at any data scale. Output in original units. */
  def tukeyHsd(df: DataFrame, catCol: String,
      targetCol: String): DataFrame = {
    val cents = (col(targetCol).cast("decimal(18,2)") * 100).cast("long")
    val cls = df.select(col(catCol).as("c"), cents.as("t"))
      .groupBy("c")
      .agg(count(lit(1)).as("nc"), sum(d380(col("t"))).as("sc"),
        sum(d380(col("t")) * d380(col("t"))).cast("decimal(38,0)").as("sqc"))
      .withColumn("ssw_t",
        (dd((d380(col("nc")) * col("sqc") - col("sc") * col("sc"))
          .cast("decimal(38,0)")) / dd(col("nc"))).cast("decimal(38,6)"))
    val mse = cls.agg(count(lit(1)).as("k"), sum(col("nc")).as("n"),
        sum(col("ssw_t")).cast("decimal(38,6)").as("ssw"))
      .filter(col("n") > col("k"))
      .select(col("k"), col("n"),
        (dd(col("ssw")) / dd(col("n") - col("k")) / lit(1e4)).as("mse"))
    val a = cls.select(col("c").as("class_a"), col("nc").as("n_a"),
      (dd(col("sc")) / dd(col("nc")) / lit(100.0)).as("mean_a"))
    val b = cls.select(col("c").as("class_b"), col("nc").as("n_b"),
      (dd(col("sc")) / dd(col("nc")) / lit(100.0)).as("mean_b"))
    a.join(b, col("class_a") < col("class_b"))
      .crossJoin(broadcast(mse)) // 1-row build side
      .select(col("class_a"), col("class_b"), col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"),
        (abs(col("mean_a") - col("mean_b")) /
          sqrt(col("mse") / lit(2.0) *
            (lit(1.0) / dd(col("n_a")) + lit(1.0) / dd(col("n_b")))))
          .as("q_stat"))
      .orderBy("class_a", "class_b")
  }

  /** Which priority pairs actually differ in mean order value — the
    * post-ANOVA pairwise q statistics. */
  def q292TukeyHsd(spark: SparkSession, dir: String): DataFrame =
    tukeyHsd(Tables.orders(spark, dir), "o_orderpriority", "o_totalprice")

  /** Cliff's delta ordinal effect size per slice — how often does a
    * draw from sample A beat a draw from B, minus the reverse:
    * δ = (wins − losses)/(n₁n₂), computed WITHOUT the all-pairs product
    * via the Mann–Whitney identity δ = 2U₁/(n₁n₂) − 1 (U₁ from exact
    * half-unit tie ranks, [[mannWhitney]]'s 2·rank trick). The standard
    * magnitude bands ride along (|δ| < .147 negligible / .33 small /
    * .474 medium / else large) — band edges are doubles compared against
    * an exactly-reproduced δ, so the labels hash-gate too. */
  def cliffsDelta(df: DataFrame, groupCol: String, valCol: String,
      sideCol: String): DataFrame = {
    val wRank = Window.partitionBy("g").orderBy(col("v"))
    val wTies = Window.partitionBy("g", "v")
    val ranked = df
      .select(col(groupCol).as("g"), col(valCol).as("v"),
        col(sideCol).cast("boolean").as("isa"))
      .withColumn("t", count(lit(1)).over(wTies))
      .withColumn("r2", lit(2) * rank().over(wRank) + col("t") - 1)
    val m = ranked.groupBy("g").agg(
      sum(when(col("isa"), 1L).otherwise(0L)).as("n1"),
      sum(when(!col("isa"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("isa"), col("r2")).otherwise(lit(0L))).as("r1x2"))
    val u1 = (dd(col("r1x2")) - dd(col("n1")) * dd(col("n1") + 1)) / 2.0
    val delta = lit(2.0) * u1 / (dd(col("n1")) * dd(col("n2"))) - lit(1.0)
    m.filter(col("n1") > 0 && col("n2") > 0)
      .select(col("g").as(groupCol), col("n1"), col("n2"), u1.as("u"),
        delta.as("delta"),
        when(abs(delta) < 0.147, "negligible")
          .when(abs(delta) < 0.33, "small")
          .when(abs(delta) < 0.474, "medium")
          .otherwise("large").as("magnitude"))
      .orderBy(groupCol)
  }

  /** How strongly do urgent orders out-value low-priority ones within
    * each order status — the scale-free effect size behind q224's z. */
  def q293CliffsDelta(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .withColumn("isa", col("o_orderpriority") === "1-URGENT")
      .withColumn("v",
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
    cliffsDelta(o, "o_orderstatus", "v", "isa")
  }

  /** Kruskal–Wallis H — the k-sample rank test (Mann–Whitney's ANOVA
    * analogue, q224's k-group completion): H = 12/(N(N+1))·Σ R_g²/n_g −
    * 3(N+1), tie-corrected by C = 1 − Σ(t³−t)/(N³−N). Ranks come from the
    * VALUE HISTOGRAM, never from raw rows (the q290 rank algebra): one
    * (g, v)-cell aggregation, then the per-value average tie rank is the
    * exact integer 2·rank = 2·cum_below + t + 1 from a range-partitioned
    * running count over the distinct-value frame ([[Rank]] — no
    * single-partition window anywhere), so per-group rank sums are exact
    * DECIMAL Σ c·r2; the handful of per-group H terms are
    * DECIMAL-quantized before summing and H/C is one double finish.
    * Scales by the value domain (centi-quantized), not the row count. */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val v = (col(valCol).cast("decimal(18,2)") * 100).cast("long")
    val pergv = df.select(col(groupCol).as("g"), v.as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
    val hist = pergv.groupBy("v").agg(sum("c").as("t"))
    val r2v = Rank.globalRankPrefix(hist, Seq(col("v")),
        Seq("cumt" -> col("t")))
      .withColumn("r2", lit(2L) * (col("cumt") - col("t")) + col("t") + 1)
      .select("v", "r2")
    val grp = pergv.join(r2v, "v").groupBy("g")
      .agg(sum("c").as("ng"),
        sum(d380(col("c")) * d380(col("r2"))).cast("decimal(38,0)").as("t2"))
    val ties = hist
      .agg(sum(d380(col("t")) * d380(col("t")) * d380(col("t")) -
        d380(col("t"))).cast("decimal(38,0)").as("tie_sum"))
    val terms = grp
      .withColumn("term", (dd(col("t2")) * dd(col("t2")) /
        (lit(4.0) * dd(col("ng")))).cast("decimal(38,6)"))
      .agg(count(lit(1)).as("k"), sum("ng").as("n"),
        sum(col("term")).cast("decimal(38,6)").as("tsum"))
      .filter(col("k") > 1)
    terms.crossJoin(broadcast(ties)) // two 1-row statistic frames
      .select(col("k"), col("n"),
        (lit(12.0) / (dd(col("n")) * dd(col("n") + 1)) * dd(col("tsum")) -
          lit(3.0) * dd(col("n") + 1)).as("h"),
        (lit(1.0) - dd(col("tie_sum")) /
          (dd(col("n")) * dd(col("n")) * dd(col("n")) - dd(col("n"))))
          .as("tie_c"),
        ((lit(12.0) / (dd(col("n")) * dd(col("n") + 1)) * dd(col("tsum")) -
          lit(3.0) * dd(col("n") + 1)) /
          (lit(1.0) - dd(col("tie_sum")) /
            (dd(col("n")) * dd(col("n")) * dd(col("n")) - dd(col("n")))))
          .as("h_adj"))
  }

  /** Do the five order priorities draw different order-value
    * distributions — the rank-based k-sample gate. */
  def q284KruskalWallis(spark: SparkSession, dir: String): DataFrame =
    kruskalWallis(Tables.orders(spark, dir), "o_orderpriority",
      "o_totalprice")

  /** Best single-feature threshold split (a depth-1 decision tree /
    * "stump") by weighted Gini impurity — the primitive inside every
    * boosted-tree trainer, and the fastest "is this feature predictive
    * at all" screen. Candidate thresholds are the feature's DISTINCT
    * quantized values, so the search frame is value-histogram-sized:
    * cumulative (n, positives) over the value-ordered histogram give
    * every split's left/right class counts exactly; the weighted
    * impurity is a fixed-shape double over those integers, and the
    * argmin is deterministic (impurity asc, threshold asc). Scales as
    * one groupBy per feature + windows over histogram frames. */
  def decisionStump(df: DataFrame, featureCols: Seq[String],
      posCond: Column): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature")
    val perFeature = featureCols.map { f =>
      df.select(lit(f).as("feature"),
        (col(f).cast("decimal(18,2)") * 100).cast("long").as("x"),
        when(posCond, 1L).otherwise(0L).as("p"))
    }.reduce(_ union _)
    val hist = perFeature.groupBy("feature", "x")
      .agg(count(lit(1)).as("nv"), sum("p").as("pv"))
    val wCum = Window.partitionBy("feature").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("feature")
    val splits = hist
      .withColumn("nl", sum("nv").over(wCum))
      .withColumn("pl", sum("pv").over(wCum))
      .withColumn("nn", sum("nv").over(wAll))
      .withColumn("pp", sum("pv").over(wAll))
      .withColumn("nr", col("nn") - col("nl"))
      .withColumn("pr", col("pp") - col("pl"))
      .filter(col("nr") > 0) // the max value splits nothing off
    val gini = (n: Column, p: Column) => // n·gini = n − (p² + (n−p)²)/n
      dd(n) - (dd(p) * dd(p) + dd(n - p) * dd(n - p)) / dd(n)
    val wPick = Window.partitionBy("feature")
      .orderBy(col("wg"), col("x"))
    splits
      .withColumn("wg",
        (gini(col("nl"), col("pl")) + gini(col("nr"), col("pr"))) /
          dd(col("nn")))
      .withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("feature"), (dd(col("x")) / 100.0).as("threshold"),
        col("wg").as("weighted_gini"), col("nl").as("n_left"),
        col("nr").as("n_right"), col("pl").as("pos_left"),
        col("pr").as("pos_right"))
      .orderBy("feature")
  }

  /** Which lineitem feature best separates returned items in one split —
    * quantity vs discount vs tax, stump-scored. */
  def q272DecisionStump(spark: SparkSession, dir: String): DataFrame =
    decisionStump(Tables.lineitem(spark, dir),
      Seq("l_quantity", "l_discount", "l_tax"),
      col("l_returnflag") === "R")

  /** L2 gradient boosting with depth-1 trees (Friedman 2001, squared
    * loss, shrinkage ν = ½) — [[decisionStump]] upgraded from one split
    * to an additive MODEL: start from F₀ = ⌊mean(y)⌋ cents, then each
    * round fits a stump to the current residuals (best (feature,
    * threshold) by exact SSE-reduction gain Sl²/nl + Sr²/nr over the
    * residual histograms), adds ν·leaf-mean to every row's score, and
    * reports the per-round model row plus the training SSE after the
    * update — the end-to-end gate that the residual algebra, the argmax
    * and the score updates are all right.
    *
    * Determinism: y, features and every F_t live on the integer cent
    * grid — leaf updates are ⌊Sl/(2·nl)⌋ (floor of one IEEE quotient, the
    * q308 rule), so residuals stay exact BIGINTs all the way down; gains
    * are fixed-shape doubles over those integers (identical in any IEEE
    * engine) and the SSE is an exact DECIMAL(38,0) sum cast once. The
    * argmax is per-feature single-pass `max(struct(gain, −x, …))` (the
    * q310 move — no unpartitioned window), then a driver-side pick over
    * the ≤ |features| candidates under (gain desc, feature asc, x asc).
    *
    * At scale: each round is one union-of-features histogram groupBy
    * (map-side combined, result bounded by Σ feature cardinalities, NOT
    * rows), windows only over those histogram frames, one model-sized
    * collect, and one narrow per-row score update; `rounds` is a small
    * constant and the data never re-shuffles between rounds. */
  def boostedStumps(df: DataFrame, featureCols: Seq[String],
      targetCol: String, rounds: Int): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val spark = df.sparkSession
    val cents = (c: Column) => (c.cast("decimal(18,2)") * 100).cast("long")
    val data0 = df.select(cents(col(targetCol)).as("y") +:
      featureCols.map(f => cents(col(f)).as(f)): _*)
    val f0 = data0
      .agg(floor(dd(sum(col("y"))) / dd(count(lit(1)))).cast("long"))
      .head.getLong(0)
    var data = data0.withColumn("F", lit(f0)).localCheckpoint(true)
    val wCum = Window.partitionBy("feature").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("feature")
    val model = Seq.newBuilder[(Long, String, Double, Double, Long, Long,
      Long, Long, Double)]
    for (t <- 1 to rounds) {
      val resid = data.withColumn("r", col("y") - col("F"))
      val hist = featureCols.map(f => resid.select(lit(f).as("feature"),
          col(f).as("x"), col("r")))
        .reduce(_ union _)
        .groupBy("feature", "x")
        .agg(count(lit(1)).as("nv"), sum("r").as("sv"))
      val cand = hist
        .withColumn("nl", sum("nv").over(wCum))
        .withColumn("sl", sum("sv").over(wCum))
        .withColumn("nn", sum("nv").over(wAll))
        .withColumn("ss", sum("sv").over(wAll))
        .withColumn("nr", col("nn") - col("nl"))
        .withColumn("sr", col("ss") - col("sl"))
        .filter(col("nr") > 0) // the max value splits nothing off
        .withColumn("gain",
          dd(col("sl")) * dd(col("sl")) / dd(col("nl")) +
            dd(col("sr")) * dd(col("sr")) / dd(col("nr")))
        .groupBy("feature") // single-pass per-feature argmax, min-x ties
        .agg(max(struct(col("gain"), (-col("x")).as("negx"), col("x"),
          col("nl"), col("sl"), col("nr"), col("sr"))).as("w"))
        .select(col("feature"), col("w.gain").as("gain"), col("w.x").as("x"),
          col("w.nl").as("nl"), col("w.sl").as("sl"),
          col("w.nr").as("nr"), col("w.sr").as("sr"))
        .collect() // ≤ |features| candidate rows — model-sized
      val best = cand.sortBy(r => (-r.getAs[Double]("gain"),
        r.getAs[String]("feature"), r.getAs[Long]("x"))).head
      val (bf, bx) = (best.getAs[String]("feature"), best.getAs[Long]("x"))
      val (nl, sl) = (best.getAs[Long]("nl"), best.getAs[Long]("sl"))
      val (nr, sr) = (best.getAs[Long]("nr"), best.getAs[Long]("sr"))
      val leafL = math.floor(sl.toDouble / (2.0 * nl)).toLong
      val leafR = math.floor(sr.toDouble / (2.0 * nr)).toLong
      // eagerly checkpoint the updated score frame, THEN free the round it
      // supersedes — without the free, `rounds` full copies of the raw-row
      // frame pin executor storage at once (r9 driver run: 13 s vs 2.9 s)
      val newData = data.withColumn("F", col("F") +
          when(col(bf) <= bx, lit(leafL)).otherwise(lit(leafR)))
        .localCheckpoint(true)
      graft.plans.Checkpoints.free(data)
      data = newData
      val sse = data
        .agg(sum(d380(col("y") - col("F")) * d380(col("y") - col("F")))
          .cast("decimal(38,0)").cast("double"))
        .head.getDouble(0)
      model += ((t.toLong, bf, bx.toDouble / 100.0,
        best.getAs[Double]("gain"), nl, nr, leafL, leafR, sse))
    }
    // the model lives on the driver — the last round's frame is done too
    graft.plans.Checkpoints.free(data)
    import spark.implicits._
    model.result().toDF("round", "feature", "threshold", "gain", "n_left",
      "n_right", "leaf_left_c", "leaf_right_c", "sse_after")
      .orderBy("round")
  }

  /** 3-round boosted-stump fit of extended price from quantity /
    * discount / tax — the additive-model upgrade of q272, whole model
    * table + per-round training SSE hash-gated against an unrolled
    * oracle. */
  def q335BoostedStumps(spark: SparkSession, dir: String): DataFrame =
    boostedStumps(Tables.lineitem(spark, dir),
      Seq("l_quantity", "l_discount", "l_tax"), "l_extendedprice",
      rounds = 3)

  /** Deterministic Bernoulli re-randomization test for a difference in
    * per-slice means — the permutation-flavored significance check that
    * needs NO distributional assumptions (the nonparametric cross-check
    * for [[welchTTest]]): under the null, arm labels are exchangeable,
    * so re-draw them R times and ask how often the null |Δmean| reaches
    * the observed one; p = (1 + #{|Δ_r| ≥ |Δ_obs|})/(R + 1). Re-draws
    * reuse the [[bootstrapMeanCI]] discipline: ONE md5 per row, hex
    * digit r < '8' is replicate r's arm — reproducible, shard-order-
    * independent, no RNG state (a Bernoulli(½) randomization design,
    * documented as such — group sizes float, unlike a fixed-margins
    * permutation). The R-fold fan-out collapses under one map-side-
    * combined (slice × replicate × arm) aggregation; every mean is a
    * double over exact centi-sums, and the comparison count is integer
    * algebra on the replicate frame. */
  def randomizationTest(df: DataFrame, groupCol: String, armCond: Column,
      valCol: String, keyCol: String, r: Int): DataFrame = {
    require(r >= 4 && r <= 32, s"replicates must be in [4, 32]: $r")
    val cents = (col(valCol).cast("decimal(18,2)") * 100).cast("long")
    val base = df.select(col(groupCol).as("g"), armCond.as("arm"),
        cents.as("v"), col(keyCol).as("k"))
      .withColumn("h", md5(col("k").cast("string")))
    // observed per-arm moments, plus the pseudo-arm-eligible totals (nh,
    // sh): each replicate's complement moments are m0 = nh − m1 and
    // t0 = sh − t1 — exact long/decimal subtractions, so the replicate
    // aggregation below only carries HALF the buffers through the ×R
    // fan-out (guide §2.3; the sums are identical values, just derived)
    val obs = base.groupBy("g")
      .agg(sum(when(col("arm"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm"), d380(col("v")))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("s1"),
        sum(when(!col("arm"), 1L).otherwise(0L)).as("n0"),
        sum(when(!col("arm"), d380(col("v")))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("s0"),
        sum(when(col("h").isNotNull, 1L).otherwise(0L)).as("nh"),
        sum(when(col("h").isNotNull, d380(col("v")))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("sh"))
      .filter(col("n1") > 0 && col("n0") > 0)
      .withColumn("d_obs", abs(dd(col("s1")) / dd(col("n1")) -
        dd(col("s0")) / dd(col("n0"))))
    // null replicates: hex digit b < '8' ⇔ pseudo-arm. r12 optimization
    // (guide §2.3 — don't multiply rows to aggregate them): the whole ×R
    // `explode(sequence(0, R−1))` fan-out + (g, b) hash aggregation with
    // decimal(38,0) buffers — 19.2M rows for q279, the query's entire
    // remaining cost after r11 — collapses into ONE single-pass
    // TypedImperativeAggregate holding an R×(count, exact 128-bit sum)
    // buffer per group ([[graft.functions.ReplicateMoments]]). Per-row
    // work: R byte compares + conditional long-pair adds; per-group
    // state ~R·24 bytes crossing the shuffle as ONE map-side-combined
    // partial. The hex-digit predicate, NULL-md5 and NULL-value
    // semantics are byte-for-byte the old explode's (see the aggregate's
    // scaladoc), and the 128-bit sums convert to DECIMAL(38,0) exactly,
    // so m1/t1 are bit-identical. (r11 history, kept for the record:
    // explode-with-bitmask measured 10.5 s warm; a wide declarative
    // 4·R-conditional-sum variant 16 s — 132 agg buffers fall out of
    // whole-stage codegen; an aggregate() HOF variant 19 s — HOFs are
    // CodegenFallback.)
    val reps = base
      .groupBy("g")
      .agg(GraftFunctions.replicate_moments(col("h"), col("v"), r).as("rm"))
      .select(col("g"), posexplode(col("rm")).as(Seq("b", "m")))
      .select(col("g"), col("b"),
        col("m").getField("m1").as("m1"), col("m").getField("t1").as("t1"))
    reps.join(obs, "g")
      .withColumn("m0", col("nh") - col("m1"))
      .withColumn("t0", (col("sh") - col("t1")).cast("decimal(38,0)"))
      .filter(col("m1") > 0 && col("m0") > 0)
      .withColumn("d_null", abs(dd(col("t1")) / dd(col("m1")) -
        dd(col("t0")) / dd(col("m0"))))
      .groupBy(col("g").as(groupCol))
      .agg(max(col("n1")).as("n_arm"), max(col("n0")).as("n_rest"),
        (max(col("d_obs")) / 100.0).as("obs_diff"),
        count(lit(1)).as("n_replicates"),
        sum(when(col("d_null") >= col("d_obs"), 1L).otherwise(0L))
          .as("n_extreme"))
      .withColumn("p_value", (dd(col("n_extreme")) + 1.0) /
        (dd(col("n_replicates")) + 1.0))
      .orderBy(groupCol)
  }

  /** Is the promo-arm revenue shift (q260's Welch subject) bigger than
    * label-shuffling noise, per return flag. */
  def q279RandomizationTest(spark: SparkSession, dir: String): DataFrame =
    randomizationTest(Tables.lineitem(spark, dir), "l_returnflag",
      col("l_discount") >= 0.05, "l_extendedprice", // same contrast as q260
      "l_orderkey", r = 32)

  /** Benjamini–Hochberg step-up FDR control over a battery of per-slice
    * p-values (Benjamini & Hochberg 1995) — the correction every
    * metrics platform needs once it tests MANY slices at once: sort the
    * m p-values ascending, p_adj(i) = min(1, min_{j≥i} p_j·m/j), reject
    * where p_adj ≤ α. The inputs here are [[randomizationTest]]'s EXACT
    * permutation p-values ((k+1)/(R+1) rationals — no distributional
    * CDF crosses the engine boundary), so every BH quantity is a fixed
    * double shape on exact integers and the gate is hash-strict.
    *
    * The p-value battery is one fact-table scan; BH itself runs on the
    * m-row statistic frame (m = slice count — the windows are
    * model-sized by construction, not data-scaled). */
  def bhFdr(pvals: DataFrame, groupCol: String, pCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    // No global window anywhere (even an m-row one reads as a scale
    // smell in the plan audit): the global rank is Rank's range-exchange
    // composition, and the suffix-min behind the step-up is a triangular
    // broadcast self-join over the m-row frame — the q304 lower-lag
    // idiom. m stays a broadcast 1-row total.
    val m = pvals.agg(count(lit(1)).cast("long").as("m"))
    val ranked = Rank
      .globalRankPrefix(pvals, Seq(col(pCol), col(groupCol)), Nil, "rank")
      .crossJoin(broadcast(m))
      .withColumn("bh_raw", col(pCol) * dd(col("m")) / dd(col("rank")))
    val adj = ranked.select(col("rank"), col("bh_raw"))
      .join(broadcast(ranked.select(col("rank").as("__r2"),
        col("bh_raw").as("__b2"))), col("__r2") >= col("rank"))
      .groupBy("rank")
      .agg(least(lit(1.0), min(col("__b2"))).as("p_adj"))
    ranked.join(broadcast(adj), "rank")
      // 0/1 long, not boolean: no declared query outputs a BOOLEAN (the
      // driver-hash rendering for bools is unproven; ints are)
      .withColumn("reject", (col("p_adj") <= alpha).cast("long"))
      .drop("m", "bh_raw") // carry the caller's payload columns through
      .orderBy("rank")
  }

  /** The q279 discount contrast fanned out to EVERY part brand (25
    * slices), BH-corrected at α = 0.10 — which brands' revenue really
    * moves with discounting once multiplicity is paid for. */
  def q341BhFdr(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val joined = li.join(Tables.part(spark, dir),
      col("l_partkey") === col("p_partkey"))
    // The 25-row p-value battery is materialized ONCE: bhFdr consumes its
    // input three times (the m count, the ranked frame and the triangular
    // self-join both sides), and un-checkpointed each consumer re-planned
    // and re-ran the whole fact-scan battery (r11 measurement: 7.5 s of
    // plan-build alone per run; guide §3.3 "materialise an intermediate
    // to truncate the plan"; total 12.3 s → 4.8 s at sf0.1).
    val p = randomizationTest(joined, "p_brand",
      col("l_discount") >= 0.05, "l_extendedprice", "l_orderkey", r = 16)
      .select(col("p_brand"), col("n_extreme"), col("p_value"))
      .localCheckpoint(true)
    bhFdr(p, "p_brand", "p_value", alpha = 0.10)
      .select(col("p_brand"), col("rank"), col("n_extreme"),
        col("p_value"), col("p_adj"), col("reject"))
  }

  /** McNemar's test — the PAIRED classifier comparison (accuracy deltas
    * on the same rows mislead when errors overlap): only the discordant
    * counts matter, χ² = (b − c)²/(b + c) with b = A-wrong/B-right,
    * c = A-right/B-wrong. Here classifier A is the trained NB (q230) and
    * B is the majority-class baseline every model must beat. Counts are
    * exact integers from one scan (the NB grid and the majority class
    * are broadcast statistic frames); the statistic is one double. */
  def mcnemarNbVsMajority(df: DataFrame, f1Col: String, f2Col: String,
      classCol: String): DataFrame = {
    val pred = naiveBayes2(df, f1Col, f2Col, classCol)
      .select(col(f1Col).as("f1"), col(f2Col).as("f2"), col("predicted"))
    val major = df.groupBy(col(classCol).as("c"))
      .agg(count(lit(1)).as("nc"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("nc").desc, col("c"))))
      .filter(col("rk") === 1)
      .select(col("c").as("majority"))
    df.select(col(f1Col).as("f1"), col(f2Col).as("f2"),
        col(classCol).as("actual"))
      .join(broadcast(pred), Seq("f1", "f2"))
      .crossJoin(broadcast(major)) // 1-row build side
      .withColumn("a_ok", col("predicted") === col("actual"))
      .withColumn("b_ok", col("majority") === col("actual"))
      .agg(count(lit(1)).as("n"),
        sum(when(!col("a_ok") && col("b_ok"), 1L).otherwise(0L)).as("b"),
        sum(when(col("a_ok") && !col("b_ok"), 1L).otherwise(0L)).as("c"))
      .filter(col("b") + col("c") > 0)
      .select(col("n"), col("b"), col("c"),
        ((dd(col("b")) - dd(col("c"))) * (dd(col("b")) - dd(col("c"))) /
          (dd(col("b")) + dd(col("c")))).as("chi2_mcnemar"))
  }

  /** Does the NB priority model beat always-guess-the-mode, on paired
    * rows — the discordant-pair gate. */
  def q285Mcnemar(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    mcnemarNbVsMajority(o.join(c, o("o_custkey") === c("c_custkey")),
      "c_mktsegment", "o_orderstatus", "o_orderpriority")
  }

  /** Friedman test — the nonparametric repeated-measures ANOVA (the
    * blocked completion of q284's Kruskal–Wallis): rank the k treatments
    * WITHIN each block, then test whether mean ranks differ across
    * treatments. Only COMPLETE blocks (all k treatments present) enter —
    * the test's standard requirement. Average tie ranks come from the
    * per-(block, value) histogram (2·rank_avg = 2·cum_below + t + 1, the
    * q290/q224 algebra; the running count is block-partitioned over
    * k-row frames), so per-treatment rank sums are exact integers and
    *   Q = 3/(n·k·(k+1)) · Σ_j R2_j² − 3·n·(k+1)
    * (R2_j = Σ 2·ranks of treatment j over n blocks) is one fixed
    * double shape over exact integers. Returns one row per treatment
    * with its mean rank plus the shared Q and dof. */
  def friedman(df: DataFrame, blockCol: Column, treatCol: String,
      valCol: String): DataFrame = {
    val cell = df.select(blockCol.as("b"), col(treatCol).as("t"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("b", "t").agg(sum("vc").as("v"))
    val kRow = cell.agg(countDistinct(col("t")).as("k"))
    val complete = cell.groupBy("b").agg(count(lit(1)).as("nb"))
      .crossJoin(broadcast(kRow)).filter(col("nb") === col("k"))
      .select("b")
    val cells = cell.join(complete, Seq("b"))
    val pergv = cells.groupBy("b", "v").agg(count(lit(1)).as("tt"))
    val wCum = Window.partitionBy("b").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r2v = pergv.withColumn("cumt", sum(col("tt")).over(wCum))
      .withColumn("r2", lit(2L) * (col("cumt") - col("tt")) + col("tt") + 1)
      .select("b", "v", "r2")
    val byT = cells.join(r2v, Seq("b", "v"))
      .groupBy("t").agg(count(lit(1)).as("n"), sum(col("r2")).as("r2sum"))
    val agg = byT.agg(
      sum(d380(col("r2sum")) * d380(col("r2sum"))).cast("decimal(38,0)")
        .as("ssum"),
      max(col("n")).as("nn")) // n identical across treatments
    byT.crossJoin(broadcast(agg)).crossJoin(broadcast(kRow))
      .select(col("t").as(treatCol), col("n"),
        (dd(col("r2sum")) / (lit(2.0) * dd(col("n")))).as("mean_rank"),
        (lit(3.0) / (dd(col("nn")) * dd(col("k")) * dd(col("k") + 1))
          * dd(col("ssum"))
          - lit(3.0) * dd(col("nn")) * dd(col("k") + 1)).as("q"),
        (col("k") - 1).cast("long").as("dof"))
      .orderBy(treatCol)
  }

  /** Do the order statuses draw consistently different weekly revenue
    * ranks — the week-blocked rank test. */
  def q306Friedman(spark: SparkSession, dir: String): DataFrame =
    friedman(Tables.orders(spark, dir),
      expr("datediff(o_orderdate, date'1992-01-01') div 7"),
      "o_orderstatus", "o_totalprice")

  /** Cochran–Armitage trend test — chi-square independence (q168/q290
    * family) ignores category ORDER; this is the test for a MONOTONE
    * dose-response: does the binary outcome rate trend across ordered
    * exposure scores s_i. With per-score exact counts (n_i, r_i) and
    * totals (N, R), A = Σs_i²n_i, B = Σs_i n_i, SR = Σs_i r_i, p = R/N:
    *   z = (SR − p·B) / √(p·(1−p)·(A − B²/N))
    * — one map-side-combined groupBy to the score frame, then a
    * fixed-shape double finish over exact integers. Returns the
    * per-score rates plus the shared z. */
  def cochranArmitage(df: DataFrame, scoreCol: Column,
      posCond: Column): DataFrame = {
    val per = df.select(scoreCol.cast("long").as("s"),
        when(posCond, 1L).otherwise(0L).as("y"))
      .groupBy("s").agg(count(lit(1)).as("n"), sum(col("y")).as("r"))
    val tot = per.agg(sum(col("n")).as("nn"), sum(col("r")).as("rr"),
      // decimal products: n/r are data-scaled counts — s²·n wraps a long
      // once scores × rows pass ~9e18
      sum(d380(col("s")) * d380(col("s")) * d380(col("n")))
        .cast("decimal(38,0)").as("a"),
      sum(d380(col("s")) * d380(col("n"))).cast("decimal(38,0)").as("b"),
      sum(d380(col("s")) * d380(col("r"))).cast("decimal(38,0)").as("sr"))
    val p = dd(col("rr")) / dd(col("nn"))
    per.crossJoin(broadcast(tot)) // 1-row statistic frame
      .select(col("s").as("score"), col("n"), col("r"),
        (dd(col("r")) / dd(col("n"))).as("rate"),
        ((dd(col("sr")) - p * dd(col("b"))) /
          sqrt(p * (lit(1.0) - p) *
            (dd(col("a")) - dd(col("b")) * dd(col("b")) / dd(col("nn")))))
          .as("z"))
      .orderBy("score")
  }

  /** Does the finished-order rate trend monotonically across the five
    * ordered priority classes. */
  def q312CochranArmitage(spark: SparkSession, dir: String): DataFrame =
    cochranArmitage(Tables.orders(spark, dir),
      substring(col("o_orderpriority"), 1, 1).cast("long"),
      col("o_orderstatus") === "F")

  /** Binary linear classifier with a logistic-shaped link, fit by
    * QUANTIZED fixed-step gradient descent — the engine's one genuinely
    * iterative trainable model (naive Bayes is closed-form, isotonic is a
    * pool step): k rounds of  β ← β − lr·(1/n)Σ(p−y)·z  over standardized
    * integer features.
    *
    * Cross-engine determinism (the q308 recurrence discipline, lifted
    * from a per-key fold to a GLOBAL iterative fit):
    *   - the link is the ALGEBRAIC sigmoid p = ½(1 + u/√(1+u²)), so every
    *     per-row op is an IEEE-correctly-rounded basic op (+,−,×,÷,√) —
    *     no exp/ln whose libm rounding differs between engines;
    *   - β lives on an integer 1e-9 grid, so u = β·z is computed from
    *     bit-identical doubles in any engine;
    *   - per-row gradient contributions are floor-quantized to the 1e-6
    *     grid and summed as exact decimals, so the one order-sensitive
    *     step (the gradient sum) is permutation-invariant;
    *   - the update β ← β − ⌊lr·G/n⌋ is floor-of-exact-double arithmetic
    *     back onto the integer grid.
    * Net: the FULL k-round trajectory is bit-reproducible, and the oracle
    * twin is the same recursion unrolled as k CTE pairs.
    *
    * Scale shape: the standardized feature frame is localCheckpointed
    * once; each round is one map-side-combined aggregate over it (k
    * scans, zero shuffles of the data — only 1-row gradient frames move);
    * β updates chain 1-row broadcast frames with LINEAR plan growth (the
    * previous β rides through the gradient aggregate as max(), never a
    * second branch — a two-branch update doubles the plan per round).
    * Fixed iteration count keeps the plan static (the 100 TB shape:
    * k passes + checkpoint, exactly like [[Graph.pageRank]]). */
  /** Standardized (y, n, z1, z2) training frame for the logistic-GD
    * family, checkpointed: it feeds every gradient round and scorer. */
  private def logitPrep(df: DataFrame, labelCol: String, x1Col: String,
      x2Col: String): DataFrame = {
    val raw = df.select(col(labelCol).cast("long").as("y"),
      col(x1Col).cast("long").as("x1"), col(x2Col).cast("long").as("x2"))
    val mom = raw.agg(count(lit(1)).as("n"),
        sum(d380(col("x1"))).as("s1"),
        sum(d380(col("x1")) * d380(col("x1"))).as("s11"),
        sum(d380(col("x2"))).as("s2"),
        sum(d380(col("x2")) * d380(col("x2"))).as("s22"))
      .select(col("n"),
        (dd(col("s1")) / dd(col("n"))).as("m1"),
        sqrt(dd(col("s11")) / dd(col("n")) -
          (dd(col("s1")) / dd(col("n"))) * (dd(col("s1")) / dd(col("n"))))
          .as("sd1"),
        (dd(col("s2")) / dd(col("n"))).as("m2"),
        sqrt(dd(col("s22")) / dd(col("n")) -
          (dd(col("s2")) / dd(col("n"))) * (dd(col("s2")) / dd(col("n"))))
          .as("sd2"))
    raw.crossJoin(broadcast(mom)) // 1-row build side
      .select(col("y"), col("n"),
        ((dd(col("x1")) - col("m1")) / col("sd1")).as("z1"),
        ((dd(col("x2")) - col("m2")) / col("sd2")).as("z2"))
      .localCheckpoint(true)
  }

  /** The linear predictor on the 1e-9 integer beta grid. */
  private val logitU: Column =
    col("b0").cast("double") / lit(1.0e9) +
      col("b1").cast("double") / lit(1.0e9) * col("z1") +
      col("b2").cast("double") / lit(1.0e9) * col("z2")

  /** One quantized gradient round: broadcast the 1-row beta frame,
    * exact-decimal gradient sums, floor step back onto the grid. */
  private def logitStep(base: DataFrame, beta: DataFrame): DataFrame = {
    val g = base.crossJoin(broadcast(beta)) // 1-row build side
      .withColumn("u", logitU)
      .withColumn("r", lit(0.5) + lit(0.5) * col("u") /
        sqrt(lit(1.0) + col("u") * col("u")) - dd(col("y")))
      .agg(max("b0").as("pb0"), max("b1").as("pb1"),
        max("b2").as("pb2"), max("n").as("n"),
        sum(floor(col("r") * lit(1.0e6)).cast("decimal(38,0)")).as("g0"),
        sum(floor(col("r") * col("z1") * lit(1.0e6))
          .cast("decimal(38,0)")).as("g1"),
        sum(floor(col("r") * col("z2") * lit(1.0e6))
          .cast("decimal(38,0)")).as("g2"))
    g.select(
      (col("pb0") - floor(dd(col("g0")) * lit(2000.0) / dd(col("n"))))
        .as("b0"),
      (col("pb1") - floor(dd(col("g1")) * lit(2000.0) / dd(col("n"))))
        .as("b1"),
      (col("pb2") - floor(dd(col("g2")) * lit(2000.0) / dd(col("n"))))
        .as("b2"))
  }

  def logisticGd(df: DataFrame, labelCol: String, x1Col: String,
      x2Col: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1,64]: $iters")
    val base = logitPrep(df, labelCol, x1Col, x2Col)
    val u = logitU
    var beta = df.sparkSession.range(1).select(lit(0L).as("b0"),
      lit(0L).as("b1"), lit(0L).as("b2"))
    // Each round is CHECKPOINTED (1-row frame): without the cut, round k's
    // lazy plan nests rounds 1..k−1, so the whole fit re-plans and re-runs
    // a quadratic number of gradient aggregates (guide §2.4 — remove
    // recomputation before tuning anything else; measured r11 warm solo:
    // 4.6 s → 4.1 s, and the 12-deep nested plan no longer has to be
    // re-planned per round). The superseded round's 1-row block is freed
    // eagerly.
    for (_ <- 1 to iters) {
      val nb = logitStep(base, beta).localCheckpoint(true)
      graft.plans.Checkpoints.free(beta)
      beta = nb
    }
    base.crossJoin(broadcast(beta)) // 1-row build side
      .withColumn("u", u)
      .agg(max("n").as("n"), max("b0").as("b0"), max("b1").as("b1"),
        max("b2").as("b2"),
        sum(when((col("u") > lit(0.0)) === (col("y") === 1), 1L)
          .otherwise(0L)).as("n_correct"))
      .select(col("n"),
        (col("b0").cast("double") / lit(1.0e9)).as("beta0"),
        (col("b1").cast("double") / lit(1.0e9)).as("beta1"),
        (col("b2").cast("double") / lit(1.0e9)).as("beta2"),
        col("n_correct"),
        (dd(col("n_correct")) / dd(col("n"))).as("accuracy"))
  }

  /** Can order price + width predict priority class — 12 rounds of
    * quantized GD on (cents, lineitem count) vs the URGENT/HIGH label.
    * The betas AND the resubstitution accuracy are hash-gated, so the
    * whole 12-round trajectory must match the oracle's unrolled
    * recursion. */
  def q325LogisticGd(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("n_lines"))
    val o = Tables.orders(spark, dir)
      .join(li, Seq("o_orderkey"), "left").na.fill(0L, Seq("n_lines"))
      .select(
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("y"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("x1"),
        col("n_lines").as("x2"))
    logisticGd(o, "y", "x1", "x2", iters = 12)
  }

  /** Training-data map (dataset cartography, Swayamdipta et al. 2020):
    * track, for every training example, the model's confidence in the
    * TRUE label across the whole [[logisticGd]] trajectory and its
    * round-to-round variability — high-conf/low-var examples are
    * "easy" (candidates for down-sampling), low-conf/low-var are
    * mislabeled-or-hard, high-var are the ambiguous ones worth keeping.
    * The curation lens a training pipeline runs BEFORE spending compute.
    *
    * The k per-round betas are a k-row broadcast; examples reduce to
    * their (y, z1, z2) feature signatures with multiplicities, so the
    * scoring fan-out is signatures × k with a map-side-combined
    * collapse. conf uses the same algebraic sigmoid as training (no
    * exp() at the engine boundary); per-round conf and conf² are
    * pico-quantized into exact sums, mean/variability are fixed double
    * shapes, and the declared output is the confidence-decile summary
    * (weighted by row multiplicity). */
  def trainingDataMap(df: DataFrame, labelCol: String, x1Col: String,
      x2Col: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1,64]: $iters")
    val base = logitPrep(df, labelCol, x1Col, x2Col)
    var beta = df.sparkSession.range(1).select(lit(0L).as("b0"),
      lit(0L).as("b1"), lit(0L).as("b2"))
    val betas = Seq.newBuilder[DataFrame]
    // Per-round checkpoints (the logisticGd discipline): the old lazy chain
    // made `rounds` a union of 12 INDEPENDENT plans, round k re-running
    // rounds 1..k−1 — a quadratic 78 gradient passes over `base` at the
    // union's materialization (guide §2.4; measured r11: q356 14.6 s →
    // 6.1 s warm solo at sf0.1). Each beta stays pinned until `rounds`
    // materializes.
    for (_ <- 1 to iters) {
      beta = logitStep(base, beta).localCheckpoint(true)
      betas += beta
    }
    val rounds = betas.result().reduce(_ unionAll _).localCheckpoint(true)
    betas.result().foreach(graft.plans.Checkpoints.free) // superseded by rounds
    val ex = base.groupBy("y", "z1", "z2").agg(count(lit(1)).as("cnt"))
    val p = lit(0.5) + lit(0.5) * col("u") /
      sqrt(lit(1.0) + col("u") * col("u"))
    val sig = ex.crossJoin(broadcast(rounds))
      .withColumn("u", logitU)
      .withColumn("conf", when(col("y") === 1, p).otherwise(lit(1.0) - p))
      .groupBy("y", "z1", "z2", "cnt")
      .agg(sum(floor(col("conf") * lit(1.0e12)).cast("decimal(38,0)"))
          .as("qc"),
        sum(floor(col("conf") * col("conf") * lit(1.0e12))
          .cast("decimal(38,0)")).as("qc2"))
      .withColumn("cm",
        dd(col("qc")) / lit(iters.toDouble) / lit(1.0e12))
      .withColumn("cv", greatest(lit(0.0),
        dd(col("qc2")) / lit(iters.toDouble) / lit(1.0e12) -
          col("cm") * col("cm")))
      .withColumn("vb", sqrt(col("cv")))
      .withColumn("bucket",
        least(lit(9L), floor(col("cm") * 10).cast("long")))
      .withColumn("qvb", floor(col("vb") * lit(1.0e12))
        .cast("decimal(38,0)"))
    sig.groupBy("bucket")
      .agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_signatures"),
        sum(d380(col("cnt")) * col("qc")).cast("decimal(38,0)")
          .as("swqc"),
        sum(d380(col("cnt")) * col("qvb")).cast("decimal(38,0)")
          .as("swqv"))
      .select(col("bucket"), col("n_rows"), col("n_signatures"),
        (dd(col("swqc")) / dd(col("n_rows")) / lit(iters.toDouble) /
          lit(1.0e12)).as("avg_confidence"),
        (dd(col("swqv")) / dd(col("n_rows")) / lit(1.0e12))
          .as("avg_variability"))
      .orderBy("bucket")
  }

  /** Which orders does the q325 model find easy / hard / ambiguous —
    * the confidence-decile data map over its 12-round trajectory. */
  def q356DataMap(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("n_lines"))
    val o = Tables.orders(spark, dir)
      .join(li, Seq("o_orderkey"), "left").na.fill(0L, Seq("n_lines"))
      .select(
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("y"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("x1"),
        col("n_lines").as("x2"))
    trainingDataMap(o, "y", "x1", "x2", iters = 12)
  }

  /** Lloyd's k-means over two standardized features, k fixed centers and
    * a FIXED iteration count — the clustering baseline every curation
    * pipeline reaches for first. Points live on the integer 1e-6 grid of
    * the standardized plane (floor-quantized z-scores), so squared
    * distances are exact long arithmetic, the argmin over centers is an
    * exact (dist, cid) struct-sort, and centroid updates are
    * floor-of-exact-double-quotient back onto the grid — the whole
    * k-round trajectory is bit-reproducible cross-engine (the q325
    * discipline applied to an EM-style loop). Init is the four ±1σ
    * corners of the standardized plane — deterministic constants, no
    * sampled seeding. Empty clusters keep their previous center.
    *
    * Scale shape: the quantized point frame is localCheckpointed once;
    * each round is one broadcast of the ≤ k-row center array + one
    * map-side-combined aggregate (partial sums per cid) — no shuffle of
    * the points, ever; center frames chain linearly like q325's betas.
    * Returns per-cluster center, size and within-cluster sum of squares
    * after `iters` rounds. */
  def kmeans2d(df: DataFrame, x1Col: String, x2Col: String, k: Int,
      iters: Int): DataFrame = {
    require(k >= 2 && k <= 64, s"k must be in [2,64]: $k")
    require(iters >= 1 && iters <= 32, s"iters must be in [1,32]: $iters")
    val raw = df.select(col(x1Col).cast("long").as("x1"),
      col(x2Col).cast("long").as("x2"))
    val mom = raw.agg(count(lit(1)).as("n"),
        sum(d380(col("x1"))).as("s1"),
        sum(d380(col("x1")) * d380(col("x1"))).as("s11"),
        sum(d380(col("x2"))).as("s2"),
        sum(d380(col("x2")) * d380(col("x2"))).as("s22"))
      .select(
        (dd(col("s1")) / dd(col("n"))).as("m1"),
        sqrt(dd(col("s11")) / dd(col("n")) -
          (dd(col("s1")) / dd(col("n"))) * (dd(col("s1")) / dd(col("n"))))
          .as("sd1"),
        (dd(col("s2")) / dd(col("n"))).as("m2"),
        sqrt(dd(col("s22")) / dd(col("n")) -
          (dd(col("s2")) / dd(col("n"))) * (dd(col("s2")) / dd(col("n"))))
          .as("sd2"))
    val pts = raw.crossJoin(broadcast(mom)) // 1-row build side
      .select(
        floor((dd(col("x1")) - col("m1")) / col("sd1") * lit(1.0e6))
          .as("z1"),
        floor((dd(col("x2")) - col("m2")) / col("sd2") * lit(1.0e6))
          .as("z2"))
      .localCheckpoint(true) // feeds all rounds + the final scorer
    // ±1σ corner init, cid in row-major order
    val g = 1000000L
    val init = Seq((0, -g, -g), (1, -g, g), (2, g, -g), (3, g, g))
      .take(k.min(4)) ++ (4 until k).map(i => (i, (i - 1) * g, 0L))
    var centers = df.sparkSession.range(1).select(expr(
      init.map { case (cid, c1, c2) =>
        s"named_struct('cid', $cid, 'c1', CAST($c1 AS BIGINT)," +
          s" 'c2', CAST($c2 AS BIGINT))"
      }.mkString("array(", ", ", ")")).as("cs"))
    val assignExpr = expr(
      """sort_array(transform(cs, c -> named_struct(
        |  'd', (z1 - c.c1) * (z1 - c.c1) + (z2 - c.c2) * (z2 - c.c2),
        |  'cid', c.cid)))[0]""".stripMargin)
    for (_ <- 1 to iters) {
      val na = pts.crossJoin(broadcast(centers)) // 1-row build side
        .select(col("z1"), col("z2"), col("cs"),
          assignExpr.getField("cid").as("cid"))
        .groupBy("cid")
        .agg(first(col("cs")).as("cs"), count(lit(1)).as("cnt"),
          sum(d380(col("z1"))).as("s1"), sum(d380(col("z2"))).as("s2"))
        .groupBy()
        .agg(first(col("cs")).as("cs"),
          collect_list(struct(col("cid"), col("cnt"), col("s1"),
            col("s2"))).as("na"))
      centers = na.select(expr(
        """transform(cs, oc -> named_struct('cid', oc.cid,
          |  'c1', coalesce(CAST(FLOOR(
          |    CAST(filter(na, x -> x.cid = oc.cid)[0].s1 AS DOUBLE)
          |    / CAST(filter(na, x -> x.cid = oc.cid)[0].cnt AS DOUBLE))
          |    AS BIGINT), oc.c1),
          |  'c2', coalesce(CAST(FLOOR(
          |    CAST(filter(na, x -> x.cid = oc.cid)[0].s2 AS DOUBLE)
          |    / CAST(filter(na, x -> x.cid = oc.cid)[0].cnt AS DOUBLE))
          |    AS BIGINT), oc.c2)))""".stripMargin).as("cs"))
    }
    pts.crossJoin(broadcast(centers)) // 1-row build side
      .select(assignExpr.as("a"), col("cs"))
      .groupBy(col("a.cid").as("cid"))
      .agg(count(lit(1)).as("n_points"),
        sum(d380(col("a.d"))).cast("double").as("wcss"),
        first(expr("filter(cs, x -> x.cid = a.cid)[0].c1")).as("c1"),
        first(expr("filter(cs, x -> x.cid = a.cid)[0].c2")).as("c2"))
      .select(col("cid"), col("n_points"),
        (dd(col("c1")) / lit(1.0e6)).as("center_z1"),
        (dd(col("c2")) / lit(1.0e6)).as("center_z2"), col("wcss"))
      .orderBy("cid")
  }

  /** Four behavioral clusters over (event amount, second-of-day) — does
    * spend separate by time of day. The full 3-round Lloyd trajectory
    * is hash-gated: centers, sizes AND the within-cluster scatter must
    * match the oracle's unrolled recursion. */
  def q327Kmeans(spark: SparkSession, dir: String): DataFrame =
    kmeans2d(Tables.events(spark, dir)
        .select(
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("vc"),
          (unix_timestamp(col("ts")) % 86400).as("sod")),
      "vc", "sod", k = 4, iters = 3)

  /** Quantile normalization across slices — map each slice's value
    * distribution onto the GLOBAL quantile scale (the cross-source
    * length/score harmonization step before mixing corpora: after it,
    * every slice has the same marginal distribution). For a value v in
    * slice s, the normalized value is the global order statistic at the
    * rank-proportional position  r = ⌈cum_s(v) · n_g / n_s⌉  — exact
    * integer arithmetic, no interpolation to disagree on.
    *
    * Scale shape: both sides reduce to VALUE HISTOGRAMS first (per-slice
    * and global); cumulatives run over the histograms (slice-partitioned
    * window over domain-bounded rows; the global side through
    * [[Rank.globalRankPrefix]]). The rank→value lookup is an EQUIJOIN:
    * the global histogram is exploded to one row per rank (linear in
    * row count, like any rank frame) instead of a cum-interval range
    * join whose histogram² nested loop would not survive a wide domain.
    * Returns the per-(slice, value) mapping table — the model-sized
    * artifact a pipeline broadcast-joins onto the corpus to apply. */
  def quantileNormalize(df: DataFrame, sliceCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = df.select(col(sliceCol).as("s"), col(valCol).as("v"))
    val gh = Rank.globalRankPrefix(
      vals.groupBy("v").agg(count(lit(1)).as("cnt")),
      Seq(col("v")), Seq("gcum" -> col("cnt")))
      .select(col("v").as("gv"),
        explode(sequence(col("gcum") - col("cnt") + 1, col("gcum")))
          .as("r"))
    val ns = vals.groupBy("s").agg(count(lit(1)).as("ns"))
    val ng = vals.agg(count(lit(1)).as("ng"))
    val sh = vals.groupBy("s", "v").agg(count(lit(1)).as("n_in_slice"))
      .withColumn("scum", sum(col("n_in_slice")).over(
        Window.partitionBy("s").orderBy("v") // per-slice HISTOGRAM rows
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(ns, Seq("s"))
      .crossJoin(broadcast(ng)) // 1-row build side
      .withColumn("r", expr("(scum * ng + ns - 1) div ns"))
    sh.join(gh, Seq("r"))
      .select(col("s").as(sliceCol), col("v").as(valCol),
        col("n_in_slice"), col("scum").as("rank_in_slice"),
        col("gv").as("normalized"))
      .orderBy(sliceCol, valCol)
  }

  /** Harmonize document lengths across sources: the (source, n_chars →
    * global-quantile n_chars) mapping table, hash-gated row for row. */
  def q328QuantileNormalize(spark: SparkSession, dir: String): DataFrame =
    quantileNormalize(Tables.documents(spark, dir), "source", "n_chars")

  /** Split-conformal prediction intervals (Mondrian / per-group): fit a
    * point predictor on a calibration split, take the ⌈(n+1)(1−α)⌉-th
    * order statistic of its absolute residuals as the interval
    * half-width q̂, and audit the finite-sample coverage guarantee
    * P(|y − ŷ| ≤ q̂) ≥ 1 − α on the held-out split — the
    * distribution-free uncertainty wrapper every deployed regressor
    * should ship with. The predictor here is the per-group calibration
    * mean (floored to cents); richer models slot in without changing
    * the conformal machinery.
    *
    * Determinism: residuals are exact integers, q̂ is an exact order
    * statistic picked from the per-group RESIDUAL HISTOGRAM (cumulative
    * counts over domain-bounded rows, the q290 rank algebra — never a
    * raw-row sort), and the ceil rank is integer arithmetic:
    * ⌈(n+1)·9/10⌉ = ((n+1)·9 + 9) div 10 for α = 0.1. */
  def conformalIntervals(df: DataFrame, groupCol: String, idCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(groupCol).as("t"),
      (col(idCol) % 2 === 0).as("is_cal"),
      (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
    val model = base.filter(col("is_cal"))
      .groupBy("t").agg(count(lit(1)).as("n_cal"),
        sum(d380(col("vc"))).as("sv"))
      .select(col("t"), col("n_cal"),
        floor(dd(col("sv")) / dd(col("n_cal"))).as("mu_c"))
    val withMu = base.join(broadcast(model), Seq("t"))
    val qhat = withMu.filter(col("is_cal"))
      .select(col("t"), col("n_cal"), abs(col("vc") - col("mu_c")).as("r"))
      .groupBy("t", "n_cal", "r").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy("t").orderBy("r") // per-group HISTOGRAM rows
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") >= expr("((n_cal + 1) * 9 + 9) div 10"))
      .groupBy("t").agg(min(col("r")).as("qhat_c"))
    withMu.filter(!col("is_cal"))
      .join(broadcast(qhat), Seq("t"))
      .groupBy(col("t"), col("n_cal"), col("mu_c"), col("qhat_c"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(col("vc") - col("mu_c")) <= col("qhat_c"), 1L)
          .otherwise(0L)).as("n_covered"))
      .select(col("t").as(groupCol), col("n_cal"), col("n_test"),
        col("mu_c"), col("qhat_c"), col("n_covered"),
        (dd(col("n_covered")) / dd(col("n_test"))).as("coverage"))
      .orderBy(groupCol)
  }

  /** 90% conformal intervals around the per-event-type mean amount,
    * calibrated on even event ids, coverage-audited on odd ones — the
    * finite-sample ≥ 0.9 guarantee checked per type. */
  def q329ConformalIntervals(spark: SparkSession, dir: String): DataFrame =
    conformalIntervals(Tables.events(spark, dir), "event_type", "event_id",
      "value")

  /** Group-fairness audit of a binary classifier: per protected group —
    * selection rate (demographic parity), TPR and FPR (equalized odds),
    * each with its gap to the population rate, plus the disparate-impact
    * ratio (group selection rate / population selection rate, the
    * four-fifths-rule number). The responsible-AI gate a model must pass
    * before its labels feed a curation pipeline.
    *
    * One scan builds the per-group confusion cells (exact counts,
    * map-side combined); the population row broadcasts back over the
    * ≤ |groups| frame. Degenerate groups surface as NULL rates (no
    * positives → TPR undefined) rather than silently dropping. */
  def fairnessAudit(df: DataFrame, groupCol: String, label: Column,
      pred: Column): DataFrame = {
    val cells = df
      .select(col(groupCol).as("g"),
        when(label, 1L).otherwise(0L).as("y"),
        when(pred, 1L).otherwise(0L).as("p"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("p")).as("n_sel"),
        sum(col("y") * col("p")).as("tp"),
        sum((lit(1L) - col("y")) * col("p")).as("fp"))
    val pop = cells.agg(sum("n").as("tn_"), sum("n_pos").as("tpos"),
      sum("n_sel").as("tsel"), sum("tp").as("ttp"), sum("fp").as("tfp"))
    val rate = (num: Column, den: Column) =>
      when(den > 0, dd(num) / dd(den))
    cells.crossJoin(broadcast(pop)) // 1-row build side
      .select(col("g").as(groupCol), col("n"), col("n_pos"), col("n_sel"),
        rate(col("n_sel"), col("n")).as("selection_rate"),
        (rate(col("n_sel"), col("n")) - rate(col("tsel"), col("tn_")))
          .as("parity_gap"),
        (rate(col("n_sel"), col("n")) / rate(col("tsel"), col("tn_")))
          .as("disparate_impact"),
        rate(col("tp"), col("n_pos")).as("tpr"),
        (rate(col("tp"), col("n_pos")) - rate(col("ttp"), col("tpos")))
          .as("tpr_gap"),
        rate(col("fp"), col("n") - col("n_pos")).as("fpr"),
        (rate(col("fp"), col("n") - col("n_pos")) -
          rate(col("tfp"), col("tn_") - col("tpos"))).as("fpr_gap"))
      .orderBy(groupCol)
  }

  /** Does the width-based priority classifier (≥ 4 lineitems ⇒ urgent)
    * treat customer segments evenly — selection-rate parity, TPR/FPR
    * gaps and the four-fifths disparate-impact ratio per mktsegment. */
  def q330FairnessAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("n_lines"))
    val base = Tables.orders(spark, dir)
      .join(li, Seq("o_orderkey"), "left").na.fill(0L, Seq("n_lines"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        Seq("o_custkey"))
    fairnessAudit(base, "c_mktsegment",
      col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
      col("n_lines") >= 4)
  }

  /** Matthews correlation + precision/recall/F1 per slice AND overall —
    * the single-number classifier score that stays honest under class
    * imbalance (accuracy and even F1 mislead when positives are rare;
    * MCC is the full-confusion-matrix correlation, Matthews 1975). Adds
    * the model-quality view to q330's fairness view of the same
    * confusion cells: one scan to (slice × 4-cell) counts, an 'ALL' row
    * re-summed from the slice frame, every score a guarded fixed double
    * shape on exact longs. */
  def matthewsCorrelation(df: DataFrame, groupCol: String, label: Column,
      pred: Column): DataFrame = {
    val cells = df
      .select(col(groupCol).cast("string").as("slice"),
        when(label, 1L).otherwise(0L).as("y"),
        when(pred, 1L).otherwise(0L).as("p"))
      .groupBy("slice")
      .agg(sum(col("y") * col("p")).as("tp"),
        sum((lit(1L) - col("y")) * col("p")).as("fp"),
        sum(col("y") * (lit(1L) - col("p"))).as("fn"),
        sum((lit(1L) - col("y")) * (lit(1L) - col("p"))).as("tn"))
    val all = cells.agg(sum("tp").as("tp"), sum("fp").as("fp"),
        sum("fn").as("fn"), sum("tn").as("tn"))
      .select(lit("ALL").as("slice"), col("tp"), col("fp"), col("fn"),
        col("tn"))
    val prec = when(col("tp") + col("fp") > 0,
      dd(col("tp")) / dd(col("tp") + col("fp")))
    val rec = when(col("tp") + col("fn") > 0,
      dd(col("tp")) / dd(col("tp") + col("fn")))
    val den = sqrt(dd(col("tp") + col("fp")) * dd(col("tp") + col("fn")) *
      dd(col("tn") + col("fp")) * dd(col("tn") + col("fn")))
    cells.unionByName(all)
      .select(col("slice"), (col("tp") + col("fp") + col("fn") + col("tn"))
          .as("n"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        prec.as("precision"), rec.as("recall"),
        when(prec + rec > 0, lit(2.0) * prec * rec / (prec + rec))
          .as("f1"),
        when(den > 0,
          (dd(col("tp")) * dd(col("tn")) - dd(col("fp")) * dd(col("fn")))
            / den).as("mcc"))
      .orderBy("slice")
  }

  /** Odds ratio with the Wald log-scale confidence interval per slice —
    * the epidemiology/experimentation 2×2 effect size (how much does
    * exposure multiply the odds), reported where MCC (q358) reports
    * association quality: OR = (a·d)/(b·c), CI = exp(ln OR ±
    * z·√(1/a+1/b+1/c+1/d)) with z = 1.96. Slices with any empty cell
    * return NULLs (the Wald CI is undefined; Haldane corrections change
    * the estimand, so none is applied silently). Exact cell counts from
    * one scan; ln/exp/√ are fixed double shapes on them, and the
    * z-quantile is a CONSTANT, not a distribution lookup, so nothing
    * engine-dependent crosses the gate. */
  def oddsRatio(df: DataFrame, groupCol: String, exposure: Column,
      outcome: Column): DataFrame = {
    val cells = df
      .select(col(groupCol).cast("string").as("slice"),
        when(exposure, 1L).otherwise(0L).as("e"),
        when(outcome, 1L).otherwise(0L).as("y"))
      .groupBy("slice")
      .agg(sum(col("e") * col("y")).as("a"),
        sum(col("e") * (lit(1L) - col("y"))).as("b"),
        sum((lit(1L) - col("e")) * col("y")).as("c"),
        sum((lit(1L) - col("e")) * (lit(1L) - col("y"))).as("d"))
    val ok = col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0
    val or = dd(col("a")) * dd(col("d")) / (dd(col("b")) * dd(col("c")))
    val se = sqrt(lit(1.0) / dd(col("a")) + lit(1.0) / dd(col("b")) +
      lit(1.0) / dd(col("c")) + lit(1.0) / dd(col("d")))
    cells
      .select(col("slice"),
        (col("a") + col("b") + col("c") + col("d")).as("n"),
        col("a"), col("b"), col("c"), col("d"),
        when(ok, or).as("odds_ratio"),
        when(ok, exp(log(or) - lit(1.96) * se)).as("ci_lo"),
        when(ok, exp(log(or) + lit(1.96) * se)).as("ci_hi"))
      .orderBy("slice")
  }

  /** Does a big discount multiply the odds of a returned line, per
    * status slice — OR with its Wald CI. */
  def q359OddsRatio(spark: SparkSession, dir: String): DataFrame =
    oddsRatio(Tables.lineitem(spark, dir), "l_linestatus",
      col("l_discount") >= 0.05, col("l_returnflag") === "R")

  /** The q330 classifier re-scored for QUALITY per segment: is 'wide
    * order ⇒ urgent' actually predictive anywhere, MCC-honest. */
  def q358Mcc(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("n_lines"))
    val base = Tables.orders(spark, dir)
      .join(li, Seq("o_orderkey"), "left").na.fill(0L, Seq("n_lines"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        Seq("o_custkey"))
    matthewsCorrelation(base, "c_mktsegment",
      col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
      col("n_lines") >= 4)
  }

  /** Always-valid A/B monitor — the mixture sequential probability ratio
    * test (mSPRT, Johari et al. 2017/2022): a daily trajectory of the
    * treatment–control mean difference whose p-value is valid at EVERY
    * peek (fixed-horizon t-tests like q260 are only valid at one
    * pre-registered n; dashboards get peeked daily). Per day t the
    * normal-mixture likelihood ratio on the cumulative estimate θ̂ with
    * sampling variance V is
    *   Λ_t = √(V/(V+τ²)) · exp(θ̂²·τ²/(2·V·(V+τ²))),
    * and p_t = min(1, min_{s≤t} 1/Λ_s) is monotone non-increasing.
    * Shape: one scan to per-(slice, day, arm) exact centi moments,
    * conditional-sum pivot of the arms, cumulative sums over the
    * CALENDAR-bounded day window per slice, then fixed double finishes
    * row-wise (the running min is another bounded day window). Days
    * before both arms have ≥ 2 observations carry NULL lr, and their
    * p is 1.0, not NULL: `least(1.0, min(1/Λ))` skips NULL terms (in
    * Spark and DuckDB alike), which is exactly the always-valid
    * convention — with no evidence yet, the test has rejected
    * nothing. */
  def msprt(df: DataFrame, groupCol: String, tsCol: String,
      userCol: String, valCol: String, tau2: Double): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val dz = lit(0).cast("decimal(38,0)")
    val arm = when(
      ascii(substring(md5(col(userCol).cast("string")), 1, 1)) <= 55, 1L)
      .otherwise(0L)
    val base = df.select(col(groupCol).as("g"),
        datediff(to_date(col(tsCol)), lit("1992-01-01")).cast("long")
          .as("day"),
        arm.as("t"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("vc"))
      .groupBy("g", "day").agg(
        sum(when(col("t") === 0, 1L).otherwise(0L)).as("dn0"),
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("dn1"),
        sum(when(col("t") === 0, col("vc")).otherwise(0L)).as("ds0"),
        sum(when(col("t") === 1, col("vc")).otherwise(0L)).as("ds1"),
        sum(when(col("t") === 0, d(col("vc")) * d(col("vc")))
          .otherwise(dz)).cast("decimal(38,0)").as("dq0"),
        sum(when(col("t") === 1, d(col("vc")) * d(col("vc")))
          .otherwise(dz)).cast("decimal(38,0)").as("dq1"))
    val wCum = Window.partitionBy("g").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = base
      .withColumn("n0", sum("dn0").over(wCum))
      .withColumn("n1", sum("dn1").over(wCum))
      .withColumn("s0", sum("ds0").over(wCum))
      .withColumn("s1", sum("ds1").over(wCum))
      .withColumn("q0", sum("dq0").over(wCum).cast("decimal(38,0)"))
      .withColumn("q1", sum("dq1").over(wCum).cast("decimal(38,0)"))
    val theta = dd(col("s1")) / dd(col("n1")) -
      dd(col("s0")) / dd(col("n0"))
    val sse =
      (dd(col("q0")) - dd(col("s0")) * dd(col("s0")) / dd(col("n0"))) +
      (dd(col("q1")) - dd(col("s1")) * dd(col("s1")) / dd(col("n1")))
    val v = (sse / dd(col("n0") + col("n1") - 2)) *
      (lit(1.0) / dd(col("n0")) + lit(1.0) / dd(col("n1")))
    val scored = cum
      .withColumn("theta_c",
        when(col("n0") > 0 && col("n1") > 0, theta))
      .withColumn("v_c2",
        when(col("n0") > 1 && col("n1") > 1, v))
      .withColumn("lr", when(col("v_c2") > 0,
        sqrt(col("v_c2") / (col("v_c2") + lit(tau2))) *
          exp(col("theta_c") * col("theta_c") * lit(tau2)
            / (lit(2.0) * col("v_c2") * (col("v_c2") + lit(tau2))))))
    scored
      .withColumn("p_always_valid",
        least(lit(1.0), min(lit(1.0) / col("lr")).over(wCum)))
      .select(col("g").as(groupCol), col("day"), col("n0"), col("n1"),
        col("theta_c"), col("v_c2"), col("lr"), col("p_always_valid"))
      .orderBy(groupCol, "day")
  }

  /** Daily always-valid monitor of the md5-arm value experiment per
    * event type — the peek-proof p trajectory (τ = $1 effect prior). */
  def q364Msprt(spark: SparkSession, dir: String): DataFrame =
    msprt(Tables.events(spark, dir), "event_type", "ts", "user_id",
      "value", tau2 = 10000.0)

  /** Huber robust regression by two unrolled IRLS rounds over the daily
    * series — the M-estimation lens the OLS family (q275/q286) lacks:
    * one revenue-spike day drags the least-squares trend, while the
    * Huber ψ caps any row's influence at k = 1.345·σ̂ (the 95%-efficiency
    * tuning constant). Round 0 is exact-moment OLS; each IRLS round
    * recomputes per-row weights w = min(1, k/|r|) from the previous fit
    * (a fixed double shape on exact integers, so w is the same IEEE
    * double in any engine), quantizes every weighted term to
    * DECIMAL(38,12) (order-independent sums — the engine's standard
    * float discipline), and solves the 2×2 weighted normal equations.
    * The whole (a, b) trajectory is declared, not just the final fit. */
  def huberRegression(df: DataFrame, groupCol: String, dateCol: String,
      valCol: String): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    val dw = (c: Column) => c.cast("decimal(38,12)")
    val daily = df.select(col(groupCol).as("g"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("x"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("y"))
      .groupBy("g", "x").agg(sum("y").as("y"))
    val m0 = daily.groupBy("g").agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(d(col("x")) * d(col("x"))).cast("decimal(38,0)").as("sxx"),
        sum(d(col("x")) * d(col("y"))).cast("decimal(38,0)").as("sxy"),
        sum(d(col("y")) * d(col("y"))).cast("decimal(38,0)").as("syy"))
      .withColumn("vx", (d(col("n")) * col("sxx")
        - d(col("sx")) * d(col("sx"))).cast("decimal(38,0)"))
      .withColumn("cov", (d(col("n")) * col("sxy")
        - d(col("sx")) * d(col("sy"))).cast("decimal(38,0)"))
      .withColumn("vy", (d(col("n")) * col("syy")
        - d(col("sy")) * d(col("sy"))).cast("decimal(38,0)"))
      .filter(col("vx") > 0 && col("n") > 2)
      .withColumn("b0", dd(col("cov")) / dd(col("vx")))
      .withColumn("a0",
        (dd(col("sy")) - col("b0") * dd(col("sx"))) / dd(col("n")))
      .withColumn("k", lit(1.345) * sqrt(
        (dd(col("vy")) - dd(col("cov")) * dd(col("cov")) / dd(col("vx")))
          / dd(col("n")) / dd(col("n"))))
      .select("g", "n", "a0", "b0", "k")
    // one IRLS round: weights from (a, b), quantized weighted moments,
    // weighted normal equations
    def irls(fit: DataFrame, aCol: String, bCol: String, aOut: String,
        bOut: String): DataFrame = {
      val r = dd(col("y")) - col(aCol) - col(bCol) * dd(col("x"))
      val w = when(abs(r) <= col("k"), lit(1.0))
        .otherwise(col("k") / abs(r))
      val wm = daily.join(broadcast(fit), Seq("g"))
        .select(col("g"), dw(w).as("w"), dw(w * dd(col("x"))).as("wx"),
          dw(w * dd(col("y"))).as("wy"),
          dw(w * dd(col("x")) * dd(col("x"))).as("wxx"),
          dw(w * dd(col("x")) * dd(col("y"))).as("wxy"))
        .groupBy("g").agg(
          sum("w").cast("decimal(38,12)").as("swq"),
          sum("wx").cast("decimal(38,12)").as("swx"),
          sum("wy").cast("decimal(38,12)").as("swy"),
          sum("wxx").cast("decimal(38,12)").as("swxx"),
          sum("wxy").cast("decimal(38,12)").as("swxy"))
      val b1 = (dd(col("swq")) * dd(col("swxy"))
        - dd(col("swx")) * dd(col("swy"))) /
        (dd(col("swq")) * dd(col("swxx")) - dd(col("swx")) * dd(col("swx")))
      fit.join(wm, Seq("g"))
        .withColumn(bOut, b1)
        .withColumn(aOut,
          (dd(col("swy")) - col(bOut) * dd(col("swx"))) / dd(col("swq")))
        .drop("swq", "swx", "swy", "swxx", "swxy")
    }
    val f1 = irls(m0, "a0", "b0", "a1", "b1")
    val f2 = irls(f1, "a1", "b1", "a2", "b2")
    f2.select(col("g").as(groupCol), col("n"), col("k"),
        col("a0"), col("b0"), col("a1"), col("b1"), col("a2"), col("b2"))
      .orderBy(groupCol)
  }

  /** Outlier-resistant daily-revenue trend per return flag: the OLS →
    * IRLS₁ → IRLS₂ Huber trajectory. */
  def q369Huber(spark: SparkSession, dir: String): DataFrame =
    huberRegression(Tables.lineitem(spark, dir), "l_returnflag",
      "l_shipdate", "l_extendedprice")

  /** EXACT grid quantile regression: fit the τ-quantile line
    * y = a + b·x by scanning a declared integer slope grid — for each
    * candidate b the optimal intercept is exactly the lower empirical
    * τ-quantile of the residuals y − b·x, and the pinball loss
    * 10·ρ_τ = 9·over + 1·under is exact integer arithmetic throughout
    * (τ = 0.9), so the argmin is a hash-stable BIGINT triple, immune to
    * the step-size/convergence fragility a subgradient fit would put on
    * the gate. The quantile-per-candidate uses a per-(group, candidate)
    * ordered window whose partitions are calendar-bounded (days), not
    * data-bounded; the candidate grid rides a broadcast cross join. The
    * 90%-line answers "what daily revenue does a capacity plan need to
    * cover" — the regression twin of q294's static VaR. */
  def quantileGridRegression(df: DataFrame, groupCol: String,
      dateCol: String, valCol: String, tau10: Int, slopeLo: Long,
      slopeHi: Long, slopeStep: Long): DataFrame = {
    require(tau10 > 0 && tau10 < 10, s"tau10 in 1..9: $tau10")
    val daily = df.select(col(groupCol).as("g"),
        datediff(col(dateCol), lit("1992-01-01")).cast("long").as("x"),
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("y"))
      .groupBy("g", "x").agg(sum("y").as("y"))
    val grid = df.sparkSession.range(slopeLo, slopeHi + 1L, slopeStep)
      .select(col("id").as("b"))
    val resid = daily.crossJoin(broadcast(grid))
      .select(col("g"), col("b"), (col("y") - col("b") * col("x")).as("r"))
    val wOrd = Window.partitionBy("g", "b").orderBy("r")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("g", "b")
    val withQ = resid
      .withColumn("cum", count(lit(1)).over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("a", min(when(col("cum") >= ceil(
          col("n").cast("double") * lit(tau10 / 10.0)).cast("long"),
        col("r"))).over(wAll))
    val loss = withQ
      .select(col("g"), col("b"), col("n"), col("a"),
        when(col("r") >= col("a"),
            lit(tau10.toLong) * (col("r") - col("a")))
          .otherwise(lit(10L - tau10) * (col("a") - col("r"))).as("l10"))
      .groupBy("g", "b")
      .agg(max("n").as("n"), max("a").as("a"),
        sum("l10").cast("long").as("loss10"))
    val best = Window.partitionBy("g").orderBy(col("loss10"), col("b"))
    loss.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col("g").as(groupCol), col("n").as("n_days"),
        col("b").as("slope_c_per_day"), col("a").as("intercept_c"),
        col("loss10"))
      .orderBy(groupCol)
  }

  /** The 90th-percentile daily-revenue trend line per return flag from
    * the exact slope-grid search (−500..500 ¢/day by 25). */
  def q370QuantileRegression(spark: SparkSession, dir: String): DataFrame =
    quantileGridRegression(Tables.lineitem(spark, dir), "l_returnflag",
      "l_shipdate", "l_extendedprice", tau10 = 9,
      slopeLo = -500L, slopeHi = 500L, slopeStep = 25L)

  /** Cochran's Q test — do k related binary measurements on the same
    * subjects share one success rate? The k-treatment generalization of
    * q285's McNemar (k = 2), closing the repeated-measures binary
    * family: here, "did each customer order in each year" — is
    * ordering propensity stable across years for the SAME customer
    * base?  Q = k(k−1)·Σ_j (C_j − N/k)² / (k·ΣR_i − ΣR_i²), χ²(k−1)
    * under H₀ (Cochran 1950). Column totals C_j, row totals R_i and
    * their squares are exact integers off two small scans (subjects
    * with all-0 or all-k rows contribute zero to both sums, exactly as
    * the test prescribes); Q is one fixed double shape. */
  def cochranQ(obs: DataFrame, subjectCol: String, treatCol: String,
      subjects: DataFrame, subjectKey: String): DataFrame = {
    val cells = obs.select(col(subjectCol).as("s"), col(treatCol).as("t"))
      .distinct()
    val k = cells.select(countDistinct(col("t")).as("k"))
    val colTot = cells.groupBy("t").agg(count(lit(1)).as("cj"))
    val rowTot = subjects.select(col(subjectKey).as("s"))
      .join(cells.groupBy("s").agg(count(lit(1)).as("r")), Seq("s"),
        "left")
      .na.fill(0L, Seq("r"))
      .agg(count(lit(1)).as("n_subjects"), sum("r").as("nn"),
        sum(col("r") * col("r")).as("r2"))
    val num = colTot.crossJoin(broadcast(rowTot))
      .crossJoin(broadcast(k))
      .select(col("k"), col("n_subjects"), col("nn"), col("r2"),
        ((dd(col("cj")) - dd(col("nn")) / dd(col("k"))) *
          (dd(col("cj")) - dd(col("nn")) / dd(col("k"))))
          .cast("decimal(38,15)").as("term"))
      .groupBy("k", "n_subjects", "nn", "r2")
      .agg(sum("term").cast("decimal(38,15)").as("ssq"))
    num.select(col("n_subjects"), col("k"),
        when(col("k") * col("nn") - col("r2") > 0,
          dd(col("k")) * dd(col("k") - 1) * dd(col("ssq"))
            / dd(col("k") * col("nn") - col("r2"))).as("q_stat"),
        (col("k") - 1).as("dof"))
  }

  /** Is the customer base's year-to-year ordering propensity stable —
    * Cochran's Q over the customer × year activity matrix. */
  def q383CochranQ(spark: SparkSession, dir: String): DataFrame =
    cochranQ(Tables.orders(spark, dir)
        .select(col("o_custkey"), year(col("o_orderdate")).as("yr")),
      "o_custkey", "yr", Tables.customer(spark, dir), "c_custkey")

  /** Kendall's coefficient of concordance W — do n judges agree on the
    * ranking of m items? Here the judges are YEARS and the items ship
    * modes, ranked by exact yearly revenue cents: is the mode revenue
    * ordering stable across the span (W ≈ 1) or reshuffling (W ≈ 0)?
    * Completes the rank-agreement family next to Friedman (q306 — W is
    * its effect size) and pairwise Kendall τ (q267).
    * W = 12·S / (n²·(m³−m)) with S = Σ_j (R_j − n(m+1)/2)², computed
    * on a |years|×|modes| statistic frame with exact integer rank
    * sums (ties broken by mode name — deterministic, documented).
    *
    * PRECONDITION (enforced, fails loudly): the judge×item block must be
    * COMPLETE — every judge scores every item. With a missing cell the
    * per-judge ranks run over fewer items while n still counts the
    * fullest item, and the resulting W is not a concordance coefficient
    * of anything. */
  def kendallsW(df: DataFrame, judgeCol: String, itemCol: String,
      scoreCents: Column): DataFrame = {
    val cells = df.select(col(judgeCol).as("j"), col(itemCol).as("it"),
        scoreCents.as("v"))
      .groupBy("j", "it").agg(sum("v").as("v"))
    val wj = Window.partitionBy("j").orderBy(col("v"), col("it"))
    val ranks = cells.withColumn("rk", row_number().over(wj).cast("long"))
    val rj = ranks.groupBy("it").agg(count(lit(1)).as("n_judges"),
      sum("rk").as("r"))
    // complete-block check: every item judged by the same count n AND n
    // equals the distinct-judge total ⇒ (pigeonhole on n·m cells) every
    // judge ranked exactly m items
    val njd = cells.agg(countDistinct(col("j")).as("njd"))
    val nm = rj.agg(max("n_judges").as("n"), min("n_judges").as("nmin"),
      count(lit(1)).as("m"))
    val s = rj.crossJoin(broadcast(nm)).crossJoin(broadcast(njd))
      .filter(assert_true(col("nmin") === col("n") && col("njd") === col("n"),
        lit("kendallsW requires a complete judge×item block: every judge " +
          "must score every item")).isNull)
      .select(col("n"), col("m"),
        ((dd(col("r")) - dd(col("n")) * dd(col("m") + 1) / lit(2.0)) *
          (dd(col("r")) - dd(col("n")) * dd(col("m") + 1) / lit(2.0)))
          .cast("decimal(38,15)").as("term"))
      .groupBy("n", "m").agg(sum("term").cast("decimal(38,15)").as("s"))
    s.select(col("n").as("n_judges"), col("m").as("n_items"),
      (lit(12.0) * dd(col("s")) /
        (dd(col("n")) * dd(col("n")) *
          (dd(col("m")) * dd(col("m")) * dd(col("m")) - dd(col("m")))))
        .as("w"))
  }

  /** Do the years agree on which part brands earn most — Kendall's W
    * over yearly brand-revenue rankings (25 items × 7 judges). */
  def q384KendallsW(spark: SparkSession, dir: String): DataFrame =
    kendallsW(Tables.lineitem(spark, dir)
        .join(Tables.part(spark, dir)
          .select(col("p_partkey").as("l_partkey"), col("p_brand")),
          Seq("l_partkey"))
        .select(year(col("l_shipdate")).as("yr"), col("p_brand"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("vc")),
      "yr", "p_brand", col("vc"))

  /** Page's trend test (Page 1963) — the ORDERED-alternative companion
    * to Friedman (q306) / Kendall's W (q384): with treatments in a
    * pre-specified order, L = Σ_i ordinal_i · R_i (R_i = rank sum of
    * treatment i across judges) detects a monotone treatment trend that
    * the unordered tests dilute — the repeated-measures sibling of
    * Jonckheere–Terpstra (q390). The caller supplies the ordering; the
    * complete judge×item block is ENFORCED (the kendallsW contract —
    * with a missing cell L is not a trend statistic of anything). Ranks
    * are exact integers (ties broken by item name, documented); the
    * null moments E[L] = n·k(k+1)²/4 and Var[L] = n·k²(k+1)(k²−1)/144
    * are fixed double shapes over exact counts. Statistic-frame sized
    * throughout. */
  def pagesTrend(df: DataFrame, judgeCol: String, itemCol: String,
      ordering: Seq[String], scoreCents: Column): DataFrame = {
    require(ordering.size >= 3 && ordering.distinct.size == ordering.size,
      s"need >= 3 distinct ordered items: $ordering")
    val k = ordering.size
    val cells = df.select(col(judgeCol).as("j"), col(itemCol).as("it"),
        scoreCents.as("v"))
      .filter(col("it").isin(ordering: _*))
      .groupBy("j", "it").agg(sum("v").as("v"))
    val wj = Window.partitionBy("j").orderBy(col("v"), col("it"))
    val ranks = cells.withColumn("rk", row_number().over(wj).cast("long"))
    val ordinal = ordering.zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (acc, (it, i)) =>
        when(col("it") === it, lit((i + 1).toLong)).otherwise(acc)
    }
    val rj = ranks.groupBy("it").agg(count(lit(1)).as("n_judges"),
      sum("rk").as("r"))
    val njd = cells.agg(countDistinct(col("j")).as("njd"))
    val nm = rj.agg(max("n_judges").as("n"), min("n_judges").as("nmin"),
      count(lit(1)).as("m"))
    rj.crossJoin(broadcast(nm)).crossJoin(broadcast(njd))
      .filter(assert_true(col("nmin") === col("n") &&
        col("njd") === col("n") && col("m") === lit(k.toLong),
        lit("pagesTrend requires a complete judge×item block over the " +
          "full ordering")).isNull)
      .select(col("n"), col("m"), (ordinal * col("r")).as("lterm"))
      .groupBy("n", "m").agg(sum("lterm").as("l"))
      .select(col("n").as("n_judges"), col("m").as("n_items"),
        col("l").cast("double").as("l_stat"),
        (dd(col("n")) * lit(k.toDouble) * lit((k + 1).toDouble) *
          lit((k + 1).toDouble) / 4.0).as("e_l"),
        ((dd(col("l")) -
          dd(col("n")) * lit(k.toDouble) * lit((k + 1).toDouble) *
            lit((k + 1).toDouble) / 4.0) /
          sqrt(dd(col("n")) * lit(k.toDouble * k * (k + 1)) *
            lit((k.toDouble * k - 1)) / 144.0)).as("z"))
  }

  /** Does quarterly revenue climb monotonically within the year,
    * consistently across years — Page's L over years × ordered
    * quarters. */
  def q402PagesTrend(spark: SparkSession, dir: String): DataFrame =
    pagesTrend(Tables.lineitem(spark, dir)
        .select(year(col("l_shipdate")).cast("string").as("yr"),
          quarter(col("l_shipdate")).cast("string").as("qtr"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("vc")),
      "yr", "qtr", Seq("1", "2", "3", "4"), col("vc"))

  /** Cronbach's alpha — internal-consistency reliability of a k-item
    * numeric battery: α = k/(k−1)·(1 − Σᵢ s²ᵢ / s²_total), s²_total the
    * variance of the per-row item SUM (Cronbach 1951). The "do these
    * k signals measure one construct" check run before averaging
    * features or survey items into a score. ONE scan: per-item exact
    * cent moments and the row-total moments in a single aggregation;
    * sample variances are fixed double shapes over exact DECIMAL sums. */
  def cronbachAlpha(df: DataFrame, itemCols: Seq[String]): DataFrame = {
    require(itemCols.size >= 2, s"need >= 2 items: $itemCols")
    val k = itemCols.size
    val cents = (c: Column) =>
      (c.cast("decimal(18,2)") * 100).cast("long")
    val base = df.select(
      itemCols.zipWithIndex.map { case (c, i) => cents(col(c)).as(s"x$i") }
        :+ itemCols.map(c => cents(col(c))).reduce(_ + _).as("t"): _*)
    val aggs = (0 until k).flatMap(i => Seq(
      sum(d380(col(s"x$i"))).cast("decimal(38,0)").as(s"s$i"),
      sum(d380(col(s"x$i")) * d380(col(s"x$i"))).cast("decimal(38,0)")
        .as(s"q$i"))) ++ Seq(
      sum(d380(col("t"))).cast("decimal(38,0)").as("st"),
      sum(d380(col("t")) * d380(col("t"))).cast("decimal(38,0)").as("qt"),
      count(lit(1)).as("n"))
    val m = base.agg(aggs.head, aggs.tail: _*)
    val nn = dd(col("n"))
    def svar(s: Column, q: Column): Column =
      (nn * dd(q) - dd(s) * dd(s)) / (nn * (nn - 1))
    val itemVarSum = (0 until k)
      .map(i => svar(col(s"s$i"), col(s"q$i"))).reduce(_ + _)
    m.filter(col("n") > 1)
      .select(col("n"), lit(k.toLong).as("k"),
        (itemVarSum / 1e4).as("sum_item_var"),
        (svar(col("st"), col("qt")) / 1e4).as("total_var"),
        (lit(k.toDouble / (k - 1)) *
          (lit(1.0) - itemVarSum / svar(col("st"), col("qt"))))
          .as("alpha"))
  }

  /** Do quantity, discount and tax move as one per-line "size" construct
    * — the k=3 reliability check. */
  def q403CronbachAlpha(spark: SparkSession, dir: String): DataFrame =
    cronbachAlpha(Tables.lineitem(spark, dir),
      Seq("l_quantity", "l_discount", "l_tax"))

  /** Method-agreement audit between two measurements of the same thing:
    * Bland–Altman bias and 95% limits of agreement on the differences,
    * plus Lin's concordance correlation coefficient
    * ρc = 2·cov / (σx² + σy² + (μx−μy)²) — Pearson r only measures
    * LINEAR association; ρc additionally punishes scale and location
    * disagreement, which is what "can method B replace method A" needs
    * (Lin 1989; Bland & Altman 1986). One scan to exact cent moments;
    * every output is a fixed double shape over DECIMAL sums. */
  def agreementAudit(df: DataFrame, xCents: Column,
      yCents: Column): DataFrame = {
    val base = df.select(xCents.as("x"), yCents.as("y"))
      .withColumn("d", col("x") - col("y"))
    val m = base.agg(count(lit(1)).as("n"),
      sum(d380(col("x"))).cast("decimal(38,0)").as("sx"),
      sum(d380(col("y"))).cast("decimal(38,0)").as("sy"),
      sum(d380(col("x")) * d380(col("x"))).cast("decimal(38,0)").as("sxx"),
      sum(d380(col("y")) * d380(col("y"))).cast("decimal(38,0)").as("syy"),
      sum(d380(col("x")) * d380(col("y"))).cast("decimal(38,0)").as("sxy"),
      sum(d380(col("d")) * d380(col("d"))).cast("decimal(38,0)").as("sdd"))
    val nn = dd(col("n"))
    val sd = dd(col("sx")) - dd(col("sy"))
    val bias = sd / nn / 100.0
    val sdDiff = sqrt((nn * dd(col("sdd")) - sd * sd) /
      (nn * (nn - 1))) / 100.0
    val vx = nn * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))
    val vy = nn * dd(col("syy")) - dd(col("sy")) * dd(col("sy"))
    val cv = nn * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))
    m.filter(col("n") > 1)
      .select(col("n"), bias.as("bias"),
        (bias - lit(1.959963984540054) * sdDiff).as("loa_low"),
        (bias + lit(1.959963984540054) * sdDiff).as("loa_high"),
        (cv / sqrt(vx * vy)).as("pearson_r"),
        (lit(2.0) * cv / (vx + vy + sd * sd)).as("ccc"))
  }

  /** Does quantity × retail price actually reproduce the billed
    * extended price — the two-derivations agreement audit (bias, limits
    * of agreement, Lin's concordance). */
  def q404PriceAgreement(spark: SparkSession, dir: String): DataFrame =
    agreementAudit(
      Tables.lineitem(spark, dir).join(Tables.part(spark, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_retailprice")),
        Seq("l_partkey")),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
      (col("l_quantity").cast("decimal(18,2)") *
        col("p_retailprice").cast("decimal(18,2)") * 100).cast("long"))

  /** Ansari–Bradley two-sample SCALE test per key on the half-split
    * histogram: score every pooled rank r by its distance from the ends,
    * s(r) = min(r, N+1−r) — if sample A is more DISPERSED it
    * concentrates in the extreme ranks and its score sum W drops below
    * the null mean (Ansari & Bradley 1960). The rank-based sibling of
    * Brown–Forsythe (q388): no moments, robust to any location shift…
    * and the SCALE member of the drift battery (location: KS/W1/energy;
    * shape: AD; information: JS/Hellinger).
    *
    * Tie handling: midrank scores — each histogram cell occupies the
    * contiguous rank range (P, C]; Σ s(r) over that range has a closed
    * form split at the fold ⌊(N+1)/2⌋, kept as exact 2×-integers, and
    * the cell's A-mass contributes ca·S2/(2t) — quantized
    * DECIMAL(38,12) per cell before the sum. E[W]/Var[W] use the
    * standard no-tie large-sample moments (even/odd N forms) — the
    * z is the usual approximation, identical in both engines. */
  def ansariBradleyDrift(events: DataFrame, tsCol: String, keyCol: String,
      valCol: String): DataFrame = {
    val q3812 = (c: Column) => c.cast("decimal(38,12)")
    val cells = halfSplitCells(events, tsCol, keyCol, valCol)
    val wCum = Window.partitionBy("k").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("k")
    val base = cells
      .withColumn("t", col("ca") + col("cb"))
      .withColumn("cc", sum(col("ca") + col("cb")).over(wCum))
      .withColumn("nn", sum(col("ca") + col("cb")).over(wTot))
      .withColumn("na", sum("ca").over(wTot))
      .withColumn("nb", sum("cb").over(wTot))
      .filter(col("na") > 0 && col("nb") > 0 && col("nn") > 2)
      .withColumn("p", col("cc") - col("t"))
    // Σ 2·s(r) for r in (p, cc]: lower leg r ≤ fold contributes 2r,
    // upper leg contributes 2(M − r), M = N+1, fold = ⌊M/2⌋.
    // rank × count products go through DECIMAL — they wrap a long at
    // data scale (the round-10 overflow rule)
    val m = col("nn") + 1
    val fold = expr("(nn + 1) div 2")
    val lo = col("p") + 1
    val hiL = least(col("cc"), fold)
    val nL = greatest(lit(0L), hiL - lo + 1)
    val sumL = d380(lo + hiL) * d380(nL) // 2·Σr over the lower leg
    val loU = greatest(lo, fold + 1)
    val nU = greatest(lit(0L), col("cc") - loU + 1)
    val sumU = d380(m) * d380(nU) * 2 -
      d380(loU + col("cc")) * d380(nU) // 2·Σ(M−r)
    val s2 = (sumL + sumU).cast("decimal(38,0)")
    base
      .withColumn("term", q3812(dd(col("ca")) * dd(s2) / dd(col("t"))))
      .groupBy("k")
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        max("nn").as("nn"),
        sum("term").cast("decimal(38,12)").as("w2"))
      .select(col("k").as(keyCol), col("n_a"), col("n_b"),
        (dd(col("w2")) / 2.0).as("w_ab"),
        when(col("nn") % 2 === 0,
          dd(col("n_a")) * dd(col("nn") + 2) / 4.0)
          .otherwise(dd(col("n_a")) * dd(col("nn") + 1) *
            dd(col("nn") + 1) / (lit(4.0) * dd(col("nn")))).as("e_w"),
        when(col("nn") % 2 === 0,
          sqrt(dd(col("n_a")) * dd(col("n_b")) * dd(col("nn") + 2) *
            dd(col("nn") - 2) / (lit(48.0) * dd(col("nn") - 1))))
          .otherwise(
            sqrt(dd(col("n_a")) * dd(col("n_b")) * dd(col("nn") + 1) *
              (lit(3.0) + dd(col("nn")) * dd(col("nn"))) /
              (lit(48.0) * dd(col("nn")) * dd(col("nn")))))
          .as("sd_w"))
      .withColumn("z", (col("w_ab") - col("e_w")) / col("sd_w"))
      .orderBy(keyCol)
  }

  /** Did each event type's value SPREAD change half-over-half — the
    * rank-based scale drift test (location tests can't see it). */
  def q408AnsariBradley(spark: SparkSession, dir: String): DataFrame =
    ansariBradleyDrift(Tables.events(spark, dir), "ts", "event_type",
      "value")

  /** Murphy decomposition of the Brier score — reliability (calibration
    * gap), resolution (how much the forecast separates outcomes) and
    * uncertainty (the irreducible base-rate term): Brier = REL − RES +
    * UNC (Murphy 1973). ECE (q233's report) only measures the gap;
    * the decomposition says whether a well-calibrated forecast is also
    * USEFUL (resolution ≫ 0) or just predicting the base rate.
    *
    * Forecast construction is fully in-frame: the md5-split TRAIN half
    * fits one empirical rate per feature bucket, the EVAL half scores
    * against it; bins = the forecast values themselves, so the
    * decomposition identity is exact. All bin terms are fixed double
    * shapes over exact counts, quantized DECIMAL(38,12) before the bin
    * sums. */
  def brierDecomposition(df: DataFrame, unitCol: String,
      bucketCol: Column, posCond: Column): DataFrame = {
    val q3812 = (c: Column) => c.cast("decimal(38,12)")
    val base = df.select(col(unitCol).cast("string").as("u"),
      bucketCol.as("b"), when(posCond, 1L).otherwise(0L).as("y"))
      .withColumn("train",
        ascii(substring(md5(col("u")), 1, 1)) <= 55)
    val fit = base.filter(col("train")).groupBy("b")
      .agg(count(lit(1)).as("nt"), sum("y").as("st"))
      .filter(col("nt") > 0)
      .select(col("b"), (dd(col("st")) / dd(col("nt"))).as("f"))
    val ev = base.filter(!col("train"))
      .join(broadcast(fit), Seq("b")) // bucket-frame build side
      .groupBy("b", "f")
      .agg(count(lit(1)).as("nk"), sum("y").as("sk"))
    val tot = ev.agg(sum("nk").as("n"), sum("sk").as("s"))
    ev.crossJoin(broadcast(tot)) // 1-row build side
      .select(col("n"),
        q3812(dd(col("nk")) *
          (col("f") - dd(col("sk")) / dd(col("nk"))) *
          (col("f") - dd(col("sk")) / dd(col("nk")))).as("rel_t"),
        q3812(dd(col("nk")) *
          (dd(col("sk")) / dd(col("nk")) - dd(col("s")) / dd(col("n"))) *
          (dd(col("sk")) / dd(col("nk")) - dd(col("s")) / dd(col("n"))))
          .as("res_t"),
        q3812(dd(col("nk")) * col("f") * col("f") -
          lit(2.0) * col("f") * dd(col("sk")) + dd(col("sk")))
          .as("bs_t"),
        (dd(col("s")) / dd(col("n"))).as("obar"))
      .groupBy("n", "obar")
      .agg(count(lit(1)).as("n_bins"),
        sum("rel_t").cast("decimal(38,12)").as("rel"),
        sum("res_t").cast("decimal(38,12)").as("res"),
        sum("bs_t").cast("decimal(38,12)").as("bs"))
      .select(col("n").as("n_eval"), col("n_bins"),
        (dd(col("bs")) / dd(col("n"))).as("brier"),
        (dd(col("rel")) / dd(col("n"))).as("reliability"),
        (dd(col("res")) / dd(col("n"))).as("resolution"),
        (col("obar") * (lit(1.0) - col("obar"))).as("uncertainty"))
  }

  /** Is "line count predicts urgency" calibrated AND resolving — Murphy
    * decomposition of the bucket-rate forecast, train/eval md5-split. */
  def q409BrierDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("n_lines"))
    brierDecomposition(
      Tables.orders(spark, dir).join(li, Seq("o_orderkey"), "left")
        .na.fill(0L, Seq("n_lines")),
      "o_orderkey", least(col("n_lines"), lit(8L)),
      col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
  }

  /** 2-component 1-D Gaussian mixture fitted by `rounds` EM iterations
    * over the VALUE HISTOGRAM — the mixture-modeling member of the
    * trainer family (k-means q327 is its hard-assignment limit; this is
    * the soft split that also yields component weights and spreads).
    * Deterministic: means seed at the exact P25/P75 histogram order
    * stats, variances at the global moment variance; each E-step
    * responsibility is ONE fixed IEEE shape (two log-density terms, one
    * exp) per distinct value, quantized DECIMAL(18,12) — the engines'
    * sub-ulp libm differences sit 4 orders below the grid, so both
    * produce identical quantized responsibilities (the q361 KDE
    * precedent) and the whole trajectory is engine-exact. M-step sums
    * are quantized-term decimal aggregations; new parameters are fixed
    * double shapes. Per-round cost: one histogram×1-row-params scan +
    * one aggregation — value-domain sized, never raw-row.
    * Returns the (round, π₁, μ₁, σ₁, μ₂, σ₂) trajectory in dollars. */
  def emMixture2(df: DataFrame, valCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds in [1,8]: $rounds")
    val q1812 = (c: Column) => c.cast("decimal(18,12)")
    val hist = df.select(
        (col(valCol).cast("decimal(18,2)") * 100).cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds init + every round
    val tot = hist.agg(sum("c").as("n"),
      sum(d380(col("c")) * d380(col("v"))).cast("decimal(38,0)").as("sv"),
      sum(d380(col("c")) * d380(col("v")) * d380(col("v")))
        .cast("decimal(38,0)").as("sq"))
    val mus = Rank.globalRankPrefix(hist, Seq(col("v")),
        Seq("cum" -> col("c")))
      .crossJoin(broadcast(tot)) // 1-row build side
      .agg(min(when(col("cum") >= expr("(n + 3) div 4"), col("v")))
          .as("mu1c"),
        min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("v")))
          .as("mu2c"))
    var p: DataFrame = tot.crossJoin(broadcast(mus))
      .select(lit(0.5).as("pi1"),
        dd(col("mu1c")).as("mu1"),
        ((dd(col("sq")) - dd(col("sv")) * dd(col("sv")) / dd(col("n")))
          / dd(col("n"))).as("s1"),
        dd(col("mu2c")).as("mu2"),
        ((dd(col("sq")) - dd(col("sv")) * dd(col("sv")) / dd(col("n")))
          / dd(col("n"))).as("s2"),
        dd(col("n")).as("nn"), dd(col("sv")).as("svd"),
        dd(col("sq")).as("sqd"))
    val out = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val dv = dd(col("v"))
      val a = (log(col("pi1")) -
          (dv - col("mu1")) * (dv - col("mu1")) /
            (lit(2.0) * col("s1")) - lit(0.5) * log(col("s1"))) -
        (log(lit(1.0) - col("pi1")) -
          (dv - col("mu2")) * (dv - col("mu2")) /
            (lit(2.0) * col("s2")) - lit(0.5) * log(col("s2")))
      val resp = hist.crossJoin(broadcast(p)) // 1-row build side
        .withColumn("rr",
          q1812(lit(1.0) / (lit(1.0) + exp(-a))))
      val m = resp.agg(
        sum((dd(col("c")) * dd(col("rr"))).cast("decimal(38,12)"))
          .cast("decimal(38,12)").as("t1"),
        sum((dd(col("c")) * dd(col("rr")) * dd(col("v")))
          .cast("decimal(38,6)")).cast("decimal(38,6)").as("tv"),
        sum((dd(col("c")) * dd(col("rr")) * dd(col("v")) * dd(col("v")))
          .cast("decimal(38,6)")).cast("decimal(38,6)").as("tq"),
        max("nn").as("nn"), max("svd").as("svd"), max("sqd").as("sqd"))
      p = m.select(
        (dd(col("t1")) / col("nn")).as("pi1"),
        (dd(col("tv")) / dd(col("t1"))).as("mu1"),
        greatest(dd(col("tq")) / dd(col("t1")) -
          (dd(col("tv")) / dd(col("t1"))) * (dd(col("tv")) / dd(col("t1"))),
          lit(1.0)).as("s1"),
        ((col("svd") - dd(col("tv"))) / (col("nn") - dd(col("t1"))))
          .as("mu2"),
        greatest((col("sqd") - dd(col("tq"))) /
          (col("nn") - dd(col("t1"))) -
          ((col("svd") - dd(col("tv"))) / (col("nn") - dd(col("t1")))) *
          ((col("svd") - dd(col("tv"))) / (col("nn") - dd(col("t1")))),
          lit(1.0)).as("s2"),
        col("nn"), col("svd"), col("sqd"))
      out += p.select(lit(r.toLong).as("round"), col("pi1"),
        (col("mu1") / 100.0).as("mu1"),
        (sqrt(col("s1")) / 100.0).as("sigma1"),
        (col("mu2") / 100.0).as("mu2"),
        (sqrt(col("s2")) / 100.0).as("sigma2"))
    }
    out.result().reduce(_ union _).orderBy("round")
  }

  /** Is event value a two-regime mixture (the q366 grid found clumps) —
    * the 3-round EM trajectory: weights, means, spreads per round,
    * hash-gated against the unrolled oracle recursion. */
  def q410EmMixture(spark: SparkSession, dir: String): DataFrame =
    emMixture2(Tables.events(spark, dir), "value", rounds = 3)

  /** Shared daily-trend-residual CTE for q287/q288 — mirrors
    * [[dailyTrendResiduals]] double-op for double-op. */
  private val residualsSql: String =
    """WITH daily AS (
      |  SELECT l_returnflag AS g,
      |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
      |      AS BIGINT) AS x,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |fit AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS nd,
      |    CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(CAST(rev AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
      |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(rev AS DECIMAL(38,0)))
      |      AS DECIMAL(38,0)) AS sxy,
      |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
      |      AS DECIMAL(38,0)) AS sxx
      |  FROM daily GROUP BY g),
      |cv AS (
      |  SELECT g, nd, sx, sy,
      |    CAST(CAST(nd AS DECIMAL(38,0)) * sxy
      |      - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0)) AS cov,
      |    CAST(CAST(nd AS DECIMAL(38,0)) * sxx
      |      - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
      |      AS DECIMAL(38,0)) AS vx
      |  FROM fit),
      |ab AS (
      |  SELECT g, nd, CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE) AS b,
      |    (CAST(sy AS DOUBLE) - CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE)
      |      * CAST(sx AS DOUBLE)) / CAST(nd AS DOUBLE) AS a
      |  FROM cv WHERE vx > 0),
      |res AS (
      |  SELECT d.g, f.nd, d.x,
      |    CAST(d.rev AS DOUBLE) - (f.a + f.b * CAST(d.x AS DOUBLE)) AS e
      |  FROM daily d JOIN ab f ON f.g = d.g)""".stripMargin

  /** One GD round of the q325 oracle: gradient aggregate g_k over the
    * standardized frame at β from it_{k-1}, then the floor update it_k —
    * the exact SQL twin of one [[logisticGd]] loop body. */
  private def logitIterSql(k: Int): String = {
    val j = k - 1
    s"""g$k AS (
       |  SELECT MAX(b0) AS pb0, MAX(b1) AS pb1, MAX(b2) AS pb2,
       |    MAX(n) AS n,
       |    SUM(CAST(FLOOR(r * 1000000.0) AS BIGINT)) AS g0,
       |    SUM(CAST(FLOOR(r * z1 * 1000000.0) AS BIGINT)) AS g1,
       |    SUM(CAST(FLOOR(r * z2 * 1000000.0) AS BIGINT)) AS g2
       |  FROM (
       |    SELECT b0, b1, b2, n, z1, z2,
       |      0.5 + 0.5 * u / sqrt(1.0 + u * u) - CAST(y AS DOUBLE) AS r
       |    FROM (
       |      SELECT y, n, z1, z2, b0, b1, b2,
       |        CAST(b0 AS DOUBLE) / 1000000000.0
       |          + CAST(b1 AS DOUBLE) / 1000000000.0 * z1
       |          + CAST(b2 AS DOUBLE) / 1000000000.0 * z2 AS u
       |      FROM b CROSS JOIN it$j))),
       |it$k AS (
       |  SELECT
       |    pb0 - CAST(FLOOR(CAST(g0 AS DOUBLE) * 2000.0
       |      / CAST(n AS DOUBLE)) AS BIGINT) AS b0,
       |    pb1 - CAST(FLOOR(CAST(g1 AS DOUBLE) * 2000.0
       |      / CAST(n AS DOUBLE)) AS BIGINT) AS b1,
       |    pb2 - CAST(FLOOR(CAST(g2 AS DOUBLE) * 2000.0
       |      / CAST(n AS DOUBLE)) AS BIGINT) AS b2
       |  FROM g$k)""".stripMargin
  }

  /** Shared q325/q356 oracle prefix: the standardized frame and the
    * full 12-round unrolled beta recursion (it1 … it12). */
  private val logitChainSql: String =
    """WITH li AS (
      |  SELECT l_orderkey AS o_orderkey, CAST(COUNT(*) AS BIGINT)
      |    AS n_lines
      |  FROM lineitem GROUP BY 1),
      |raw AS (
      |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 1 ELSE 0 END AS y,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1,
      |    CAST(COALESCE(n_lines, 0) AS BIGINT) AS x2
      |  FROM orders LEFT JOIN li USING (o_orderkey)),
      |mom AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(x1 AS HUGEINT)) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) AS m1,
      |    sqrt(CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE)
      |      - (CAST(SUM(CAST(x1 AS HUGEINT)) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE))
      |      * (CAST(SUM(CAST(x1 AS HUGEINT)) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE))) AS sd1,
      |    CAST(SUM(CAST(x2 AS HUGEINT)) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) AS m2,
      |    sqrt(CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE)
      |      - (CAST(SUM(CAST(x2 AS HUGEINT)) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE))
      |      * (CAST(SUM(CAST(x2 AS HUGEINT)) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE))) AS sd2
      |  FROM raw),
      |b AS (
      |  SELECT y, n,
      |    (CAST(x1 AS DOUBLE) - m1) / sd1 AS z1,
      |    (CAST(x2 AS DOUBLE) - m2) / sd2 AS z2
      |  FROM raw CROSS JOIN mom),
      |it0 AS (SELECT CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1,
      |  CAST(0 AS BIGINT) AS b2),
      |""".stripMargin +
      (1 to 12).map(logitIterSql).mkString(",\n")

  private val logisticOracle: String =
    logitChainSql + ",\n" +
      """fin AS (
        |  SELECT MAX(n) AS n, MAX(b0) AS b0, MAX(b1) AS b1,
        |    MAX(b2) AS b2,
        |    CAST(SUM(CASE WHEN (u > 0.0) = (y = 1) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_correct
        |  FROM (
        |    SELECT y, n, b0, b1, b2,
        |      CAST(b0 AS DOUBLE) / 1000000000.0
        |        + CAST(b1 AS DOUBLE) / 1000000000.0 * z1
        |        + CAST(b2 AS DOUBLE) / 1000000000.0 * z2 AS u
        |    FROM b CROSS JOIN it12))
        |SELECT n, CAST(b0 AS DOUBLE) / 1000000000.0 AS beta0,
        |  CAST(b1 AS DOUBLE) / 1000000000.0 AS beta1,
        |  CAST(b2 AS DOUBLE) / 1000000000.0 AS beta2,
        |  n_correct,
        |  CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy
        |FROM fin""".stripMargin

  /** q356 oracle: the q325 chain, every round's beta scored against
    * every feature signature, pico-quantized conf/conf² sums, decile
    * summary. */
  private val dataMapOracle: String =
    logitChainSql + ",\n" +
      (1 to 12).map(k => s"SELECT b0, b1, b2 FROM it$k")
        .mkString("rounds AS (\n", "\nUNION ALL\n", "),\n") +
      """ex AS (
        |  SELECT y, z1, z2, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM b GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT e.y, e.z1, e.z2, e.cnt,
        |    CAST(r.b0 AS DOUBLE) / 1000000000.0
        |      + CAST(r.b1 AS DOUBLE) / 1000000000.0 * e.z1
        |      + CAST(r.b2 AS DOUBLE) / 1000000000.0 * e.z2 AS u
        |  FROM ex e CROSS JOIN rounds r),
        |conf0 AS (
        |  SELECT y, z1, z2, cnt,
        |    0.5 + 0.5 * u / sqrt(1.0 + u * u) AS p
        |  FROM scored),
        |conf1 AS (
        |  SELECT y, z1, z2, cnt,
        |    CASE WHEN y = 1 THEN p ELSE 1.0 - p END AS conf
        |  FROM conf0),
        |sig AS (
        |  SELECT y, z1, z2, cnt,
        |    SUM(CAST(FLOOR(conf * 1000000000000.0) AS HUGEINT)) AS qc,
        |    SUM(CAST(FLOOR(conf * conf * 1000000000000.0) AS HUGEINT))
        |      AS qc2
        |  FROM conf1 GROUP BY 1, 2, 3, 4),
        |mm2 AS (SELECT *,
        |    CAST(qc AS DOUBLE) / 12.0 / 1000000000000.0 AS cm
        |  FROM sig),
        |mm3 AS (SELECT *, GREATEST(0.0,
        |    CAST(qc2 AS DOUBLE) / 12.0 / 1000000000000.0 - cm * cm) AS cv
        |  FROM mm2),
        |mm4 AS (SELECT *, sqrt(cv) AS vb,
        |    LEAST(9, CAST(FLOOR(cm * 10) AS BIGINT)) AS bucket
        |  FROM mm3),
        |mm5 AS (SELECT *,
        |    CAST(FLOOR(vb * 1000000000000.0) AS HUGEINT) AS qvb
        |  FROM mm4)
        |SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_signatures,
        |  CAST(SUM(CAST(cnt AS HUGEINT) * qc) AS DOUBLE)
        |    / CAST(SUM(cnt) AS DOUBLE) / 12.0 / 1000000000000.0
        |    AS avg_confidence,
        |  CAST(SUM(CAST(cnt AS HUGEINT) * qvb) AS DOUBLE)
        |    / CAST(SUM(cnt) AS DOUBLE) / 1000000000000.0
        |    AS avg_variability
        |FROM mm5 GROUP BY bucket ORDER BY bucket""".stripMargin

  /** One Lloyd round of the q327 oracle: exact-integer argmin assignment
    * (rn = 1 under the (dist, cid) order — the SQL twin of Spark's
    * struct-sort argmin), partial sums per cluster, floor centroid
    * update with empty-cluster carry-over. */
  private def kmeansIterSql(k: Int): String = {
    val j = k - 1
    s"""a$k AS (
       |  SELECT id, z1, z2, cid,
       |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY
       |      (z1 - c1) * (z1 - c1) + (z2 - c2) * (z2 - c2), cid) AS rn
       |  FROM b CROSS JOIN c$j),
       |n$k AS (
       |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    SUM(CAST(z1 AS HUGEINT)) AS s1,
       |    SUM(CAST(z2 AS HUGEINT)) AS s2
       |  FROM a$k WHERE rn = 1 GROUP BY 1),
       |c$k AS (
       |  SELECT o.cid,
       |    COALESCE(CAST(FLOOR(CAST(n.s1 AS DOUBLE)
       |      / CAST(n.cnt AS DOUBLE)) AS BIGINT), o.c1) AS c1,
       |    COALESCE(CAST(FLOOR(CAST(n.s2 AS DOUBLE)
       |      / CAST(n.cnt AS DOUBLE)) AS BIGINT), o.c2) AS c2
       |  FROM c$j o LEFT JOIN n$k n USING (cid))""".stripMargin
  }

  private val kmeansOracle: String =
    """WITH raw AS (
      |  SELECT event_id AS id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x1,
      |    (epoch_us(ts) // 1000000) % 86400 AS x2
      |  FROM events),
      |mom AS (
      |  SELECT
      |    CAST(SUM(CAST(x1 AS HUGEINT)) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) AS m1,
      |    sqrt(CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE)
      |      - (CAST(SUM(CAST(x1 AS HUGEINT)) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE))
      |      * (CAST(SUM(CAST(x1 AS HUGEINT)) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE))) AS sd1,
      |    CAST(SUM(CAST(x2 AS HUGEINT)) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) AS m2,
      |    sqrt(CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE)
      |      - (CAST(SUM(CAST(x2 AS HUGEINT)) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE))
      |      * (CAST(SUM(CAST(x2 AS HUGEINT)) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE))) AS sd2
      |  FROM raw),
      |b AS (
      |  SELECT id,
      |    CAST(FLOOR((CAST(x1 AS DOUBLE) - m1) / sd1 * 1000000.0)
      |      AS BIGINT) AS z1,
      |    CAST(FLOOR((CAST(x2 AS DOUBLE) - m2) / sd2 * 1000000.0)
      |      AS BIGINT) AS z2
      |  FROM raw CROSS JOIN mom),
      |c0(cid, c1, c2) AS (VALUES
      |  (0, CAST(-1000000 AS BIGINT), CAST(-1000000 AS BIGINT)),
      |  (1, CAST(-1000000 AS BIGINT), CAST(1000000 AS BIGINT)),
      |  (2, CAST(1000000 AS BIGINT), CAST(-1000000 AS BIGINT)),
      |  (3, CAST(1000000 AS BIGINT), CAST(1000000 AS BIGINT))),
      |""".stripMargin +
      (1 to 3).map(kmeansIterSql).mkString(",\n") + ",\n" +
      """fa AS (
        |  SELECT id, cid, c1, c2,
        |    (z1 - c1) * (z1 - c1) + (z2 - c2) * (z2 - c2) AS d,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY
        |      (z1 - c1) * (z1 - c1) + (z2 - c2) * (z2 - c2), cid) AS rn
        |  FROM b CROSS JOIN c3)
        |SELECT CAST(cid AS INT) AS cid,
        |  CAST(COUNT(*) AS BIGINT) AS n_points,
        |  CAST(MAX(c1) AS DOUBLE) / 1000000.0 AS center_z1,
        |  CAST(MAX(c2) AS DOUBLE) / 1000000.0 AS center_z2,
        |  CAST(SUM(CAST(d AS HUGEINT)) AS DOUBLE) AS wcss
        |FROM fa WHERE rn = 1 GROUP BY cid ORDER BY cid""".stripMargin

  /** One unrolled L2-boosting round over state s{t-1}(y, fq, fd, ft, F):
    * residual histograms → cumulative split stats → gain argmax (LIMIT 1
    * under the engine's exact tie order) → floor-leaf update → exact
    * HUGEINT SSE (the q320 int128 move — decimal multiply would cap at
    * precision 38 at bind time). */
  private def boostRoundSql(t: Int): String =
    s"""h$t AS (
       |  SELECT feature, x, CAST(COUNT(*) AS BIGINT) AS nv,
       |    CAST(SUM(r) AS BIGINT) AS sv
       |  FROM (
       |    SELECT 'l_quantity' AS feature, fq AS x, y - F AS r
       |    FROM s${t - 1}
       |    UNION ALL SELECT 'l_discount', fd, y - F FROM s${t - 1}
       |    UNION ALL SELECT 'l_tax', ft, y - F FROM s${t - 1})
       |  GROUP BY 1, 2),
       |c$t AS (
       |  SELECT feature, x,
       |    CAST(SUM(nv) OVER (PARTITION BY feature ORDER BY x
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl,
       |    CAST(SUM(sv) OVER (PARTITION BY feature ORDER BY x
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl,
       |    CAST(SUM(nv) OVER (PARTITION BY feature) AS BIGINT) AS nn,
       |    CAST(SUM(sv) OVER (PARTITION BY feature) AS BIGINT) AS ss
       |  FROM h$t),
       |g$t AS (
       |  SELECT feature, x, nl, sl, nn - nl AS nr, ss - sl AS sr,
       |    CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)
       |      + CAST(ss - sl AS DOUBLE) * CAST(ss - sl AS DOUBLE)
       |        / CAST(nn - nl AS DOUBLE) AS gain
       |  FROM c$t WHERE nn - nl > 0),
       |b$t AS MATERIALIZED (
       |  SELECT feature, x, gain, nl, nr,
       |    CAST(FLOOR(CAST(sl AS DOUBLE) / (2.0 * CAST(nl AS DOUBLE)))
       |      AS BIGINT) AS ll,
       |    CAST(FLOOR(CAST(sr AS DOUBLE) / (2.0 * CAST(nr AS DOUBLE)))
       |      AS BIGINT) AS lr
       |  FROM g$t ORDER BY gain DESC, feature, x LIMIT 1),
       |s$t AS MATERIALIZED (
       |  SELECT y, fq, fd, ft,
       |    F + CASE WHEN (CASE b.feature WHEN 'l_quantity' THEN fq
       |        WHEN 'l_discount' THEN fd ELSE ft END) <= b.x
       |      THEN b.ll ELSE b.lr END AS F
       |  FROM s${t - 1} CROSS JOIN b$t b),
       |e$t AS (
       |  SELECT CAST(CAST(SUM(CAST(y - F AS HUGEINT)
       |    * CAST(y - F AS HUGEINT)) AS HUGEINT) AS DOUBLE) AS sse
       |  FROM s$t)""".stripMargin

  /** One unrolled ALS half-step: per-`key` 2×2 ridge normal equations
    * from the ratings ⋈ `prev` factor join (terms pico-quantized like
    * the engine), solved algebraically. */
  private def alsStepSql(out: String, key: String, fkey: String,
      prev: String): String =
    s"""$out AS MATERIALIZED (
       |  SELECT $key,
       |    ((a22 + 0.125) * b1 - a12 * b2) / det AS f1,
       |    ((a11 + 0.125) * b2 - a12 * b1) / det AS f2
       |  FROM (
       |    SELECT *, (a11 + 0.125) * (a22 + 0.125) - a12 * a12 AS det
       |    FROM (
       |      SELECT rt.$key,
       |        CAST(SUM(CAST(FLOOR(f.f1 * f.f1 * 1e12 + 0.5)
       |          AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS a11,
       |        CAST(SUM(CAST(FLOOR(f.f1 * f.f2 * 1e12 + 0.5)
       |          AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS a12,
       |        CAST(SUM(CAST(FLOOR(f.f2 * f.f2 * 1e12 + 0.5)
       |          AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS a22,
       |        CAST(SUM(CAST(FLOOR(CAST(rt.r AS DOUBLE) * f.f1 * 1e12
       |          + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS b1,
       |        CAST(SUM(CAST(FLOOR(CAST(rt.r AS DOUBLE) * f.f2 * 1e12
       |          + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS b2
       |      FROM rt JOIN $prev f ON f.$fkey = rt.$fkey
       |      GROUP BY rt.$key)))""".stripMargin

  /** One boosted-stump model row from round t's best split + SSE. */
  private def boostRowSql(t: Int): String =
    s"""SELECT CAST($t AS BIGINT) AS round, feature,
       |  CAST(x AS DOUBLE) / 100.0 AS threshold, gain,
       |  nl AS n_left, nr AS n_right, ll AS leaf_left_c,
       |  lr AS leaf_right_c, (SELECT sse FROM e$t) AS sse_after
       |FROM b$t""".stripMargin

  /** One unrolled EM round for the q410 oracle: E-step responsibilities
    * per histogram cell (quantized DECIMAL(18,12), mirroring
    * [[emMixture2]]'s IEEE shapes exactly), M-step quantized-term sums,
    * new parameters as the same double shapes. */
  private def emRoundSql(r: Int): String =
    s"""rs$r AS (
       |  SELECT h.v, h.c,
       |    CAST(1.0 / (1.0 + exp(-(
       |      (ln(p.pi1) - (CAST(h.v AS DOUBLE) - p.mu1)
       |          * (CAST(h.v AS DOUBLE) - p.mu1) / (2.0 * p.s1)
       |        - 0.5 * ln(p.s1))
       |      - (ln(1.0 - p.pi1) - (CAST(h.v AS DOUBLE) - p.mu2)
       |          * (CAST(h.v AS DOUBLE) - p.mu2) / (2.0 * p.s2)
       |        - 0.5 * ln(p.s2))
       |    ))) AS DECIMAL(18,12)) AS rr
       |  FROM hist h CROSS JOIN p${r - 1} p),
       |m$r AS (
       |  SELECT
       |    CAST(SUM(CAST(CAST(c AS DOUBLE) * CAST(rr AS DOUBLE)
       |      AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS t1,
       |    CAST(SUM(CAST(CAST(c AS DOUBLE) * CAST(rr AS DOUBLE)
       |      * CAST(v AS DOUBLE) AS DECIMAL(38,6))) AS DECIMAL(38,6))
       |      AS tv,
       |    CAST(SUM(CAST(CAST(c AS DOUBLE) * CAST(rr AS DOUBLE)
       |      * CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS DECIMAL(38,6)))
       |      AS DECIMAL(38,6)) AS tq
       |  FROM rs$r),
       |p$r AS (
       |  SELECT CAST(t1 AS DOUBLE) / nn AS pi1,
       |    CAST(tv AS DOUBLE) / CAST(t1 AS DOUBLE) AS mu1,
       |    GREATEST(CAST(tq AS DOUBLE) / CAST(t1 AS DOUBLE)
       |      - (CAST(tv AS DOUBLE) / CAST(t1 AS DOUBLE))
       |        * (CAST(tv AS DOUBLE) / CAST(t1 AS DOUBLE)), 1.0) AS s1,
       |    (svd - CAST(tv AS DOUBLE)) / (nn - CAST(t1 AS DOUBLE)) AS mu2,
       |    GREATEST((sqd - CAST(tq AS DOUBLE))
       |        / (nn - CAST(t1 AS DOUBLE))
       |      - ((svd - CAST(tv AS DOUBLE)) / (nn - CAST(t1 AS DOUBLE)))
       |        * ((svd - CAST(tv AS DOUBLE)) / (nn - CAST(t1 AS DOUBLE))),
       |      1.0) AS s2,
       |    nn, svd, sqd
       |  FROM m$r CROSS JOIN p${r - 1})""".stripMargin

  private def emMixtureOracleSql(rounds: Int): String =
    """WITH hist AS (
      |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(CAST(c AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)))
      |      AS DECIMAL(38,0)) AS sv,
      |    CAST(SUM(CAST(c AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))
      |      * CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sq
      |  FROM hist),
      |cum AS (
      |  SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      |    AS cum
      |  FROM hist),
      |mus AS (
      |  SELECT
      |    MIN(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS mu1c,
      |    MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS mu2c
      |  FROM cum, tot),
      |p0 AS (
      |  SELECT 0.5 AS pi1, CAST(mu1c AS DOUBLE) AS mu1,
      |    (CAST(sq AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
      |      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS s1,
      |    CAST(mu2c AS DOUBLE) AS mu2,
      |    (CAST(sq AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
      |      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS s2,
      |    CAST(n AS DOUBLE) AS nn, CAST(sv AS DOUBLE) AS svd,
      |    CAST(sq AS DOUBLE) AS sqd
      |  FROM tot, mus),""".stripMargin + "\n" +
      (1 to rounds).map(emRoundSql).mkString(",\n") + "\n" +
      (1 to rounds).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS round, pi1, mu1 / 100.0 AS mu1,
           |  sqrt(s1) / 100.0 AS sigma1, mu2 / 100.0 AS mu2,
           |  sqrt(s2) / 100.0 AS sigma2 FROM p$r""".stripMargin)
        .mkString("\nUNION ALL\n") + "\nORDER BY round"

  val declared: Map[String, Query] = Map(
    "q410_em_mixture" -> Query(q410EmMixture, emMixtureOracleSql(3)),
    "q413_nelson_aalen" -> Query(q413NelsonAalen,
      """WITH ev AS (
        |  SELECT user_id AS u, epoch_us(ts) AS us,
        |    (event_type = 'purchase') AS isd
        |  FROM events),
        |subj AS (
        |  SELECT (COALESCE(MIN(CASE WHEN isd THEN us END), MAX(us))
        |      - MIN(us)) // 86400000000 AS d,
        |    MIN(CASE WHEN isd THEN us END) IS NOT NULL AS event
        |  FROM ev GROUP BY u),
        |cells AS (
        |  SELECT d,
        |    CAST(SUM(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dth,
        |    CAST(COUNT(*) AS BIGINT) AS tot
        |  FROM subj GROUP BY d),
        |times AS (SELECT d AS t, dth FROM cells WHERE dth > 0),
        |risk AS (
        |  SELECT t.t, t.dth, CAST(SUM(c.tot) AS BIGINT) AS n_risk
        |  FROM times t JOIN cells c ON c.d >= t.t GROUP BY 1, 2),
        |inc AS (
        |  SELECT *, CAST(FLOOR(CAST(dth AS DOUBLE)
        |    / CAST(n_risk AS DOUBLE) * 1e12 + 0.5) AS BIGINT) AS incq
        |  FROM risk),
        |cm AS (
        |  SELECT t, dth, n_risk,
        |    SUM(incq) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM inc)
        |SELECT t AS t_days, dth AS n_deaths, n_risk,
        |  CAST(cum AS DOUBLE) / 1e12 AS na_cum_hazard
        |FROM cm ORDER BY 1""".stripMargin),
    "q408_ansari_bradley" -> Query(q408AnsariBradley,
      """WITH mm AS (
        |  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid
        |  FROM events),
        |cells AS (
        |  SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN epoch_us(ts) >= mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events CROSS JOIN mm GROUP BY 1, 2),
        |base AS (
        |  SELECT k, v, ca, cb, ca + cb AS t,
        |    SUM(ca + cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cc,
        |    SUM(ca + cb) OVER (PARTITION BY k) AS nn,
        |    SUM(ca) OVER (PARTITION BY k) AS na,
        |    SUM(cb) OVER (PARTITION BY k) AS nb
        |  FROM cells),
        |legs AS (
        |  SELECT *, cc - t AS p, (nn + 1) // 2 AS fold FROM base
        |  WHERE na > 0 AND nb > 0 AND nn > 2),
        |s2t AS (
        |  SELECT k, na, nb, nn, ca, t,
        |    CAST(
        |      CAST(((p + 1) + LEAST(cc, fold)) AS DECIMAL(38,0))
        |        * CAST(GREATEST(0, LEAST(cc, fold) - (p + 1) + 1)
        |          AS DECIMAL(38,0))
        |      + CAST(nn + 1 AS DECIMAL(38,0))
        |        * CAST(GREATEST(0, cc - GREATEST(p + 1, fold + 1) + 1)
        |          AS DECIMAL(38,0)) * 2
        |      - CAST((GREATEST(p + 1, fold + 1) + cc) AS DECIMAL(38,0))
        |        * CAST(GREATEST(0, cc - GREATEST(p + 1, fold + 1) + 1)
        |          AS DECIMAL(38,0))
        |    AS DECIMAL(38,0)) AS s2
        |  FROM legs),
        |terms AS (
        |  SELECT k, na, nb, nn,
        |    CAST(CAST(ca AS DOUBLE) * CAST(s2 AS DOUBLE)
        |      / CAST(t AS DOUBLE) AS DECIMAL(38,12)) AS term
        |  FROM s2t),
        |agg AS (
        |  SELECT k, CAST(MAX(na) AS BIGINT) AS n_a,
        |    CAST(MAX(nb) AS BIGINT) AS n_b,
        |    CAST(MAX(nn) AS BIGINT) AS nn,
        |    CAST(SUM(term) AS DECIMAL(38,12)) AS w2
        |  FROM terms GROUP BY k),
        |fin AS (
        |  SELECT k, n_a, n_b, nn, CAST(w2 AS DOUBLE) / 2.0 AS w_ab,
        |    CASE WHEN nn % 2 = 0 THEN
        |      CAST(n_a AS DOUBLE) * CAST(nn + 2 AS DOUBLE) / 4.0
        |    ELSE CAST(n_a AS DOUBLE) * CAST(nn + 1 AS DOUBLE)
        |      * CAST(nn + 1 AS DOUBLE) / (4.0 * CAST(nn AS DOUBLE))
        |    END AS e_w,
        |    CASE WHEN nn % 2 = 0 THEN
        |      sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |        * CAST(nn + 2 AS DOUBLE) * CAST(nn - 2 AS DOUBLE)
        |        / (48.0 * CAST(nn - 1 AS DOUBLE)))
        |    ELSE
        |      sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |        * CAST(nn + 1 AS DOUBLE)
        |        * (3.0 + CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
        |        / (48.0 * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)))
        |    END AS sd_w
        |  FROM agg)
        |SELECT k AS event_type, n_a, n_b, w_ab, e_w, sd_w,
        |  (w_ab - e_w) / sd_w AS z
        |FROM fin ORDER BY 1""".stripMargin),
    "q409_brier_decomposition" -> Query(q409BrierDecomposition,
      """WITH li AS (
        |  SELECT l_orderkey AS o_orderkey,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines
        |  FROM lineitem GROUP BY 1),
        |base AS (
        |  SELECT CAST(o.o_orderkey AS VARCHAR) AS u,
        |    LEAST(COALESCE(li.n_lines, 0), 8) AS b,
        |    CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |      THEN 1 ELSE 0 END AS y
        |  FROM orders o LEFT JOIN li USING (o_orderkey)),
        |wt AS (
        |  SELECT *, ascii(substring(md5(u), 1, 1)) <= 55 AS train
        |  FROM base),
        |fit AS (
        |  SELECT b, CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS f
        |  FROM wt WHERE train GROUP BY b),
        |ev AS (
        |  SELECT w.b, f.f, CAST(COUNT(*) AS BIGINT) AS nk,
        |    CAST(SUM(y) AS BIGINT) AS sk
        |  FROM wt w JOIN fit f ON w.b = f.b WHERE NOT train
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT CAST(SUM(nk) AS BIGINT) AS n,
        |    CAST(SUM(sk) AS BIGINT) AS s FROM ev),
        |terms AS (
        |  SELECT n, s,
        |    CAST(CAST(nk AS DOUBLE)
        |      * (f - CAST(sk AS DOUBLE) / CAST(nk AS DOUBLE))
        |      * (f - CAST(sk AS DOUBLE) / CAST(nk AS DOUBLE))
        |      AS DECIMAL(38,12)) AS rel_t,
        |    CAST(CAST(nk AS DOUBLE)
        |      * (CAST(sk AS DOUBLE) / CAST(nk AS DOUBLE)
        |        - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(sk AS DOUBLE) / CAST(nk AS DOUBLE)
        |        - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS DECIMAL(38,12)) AS res_t,
        |    CAST(CAST(nk AS DOUBLE) * f * f
        |      - 2.0 * f * CAST(sk AS DOUBLE) + CAST(sk AS DOUBLE)
        |      AS DECIMAL(38,12)) AS bs_t
        |  FROM ev, tot),
        |agg AS (
        |  SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS obar,
        |    CAST(COUNT(*) AS BIGINT) AS n_bins,
        |    CAST(SUM(rel_t) AS DECIMAL(38,12)) AS rel,
        |    CAST(SUM(res_t) AS DECIMAL(38,12)) AS res,
        |    CAST(SUM(bs_t) AS DECIMAL(38,12)) AS bs
        |  FROM terms GROUP BY n, s)
        |SELECT n AS n_eval, n_bins,
        |  CAST(bs AS DOUBLE) / CAST(n AS DOUBLE) AS brier,
        |  CAST(rel AS DOUBLE) / CAST(n AS DOUBLE) AS reliability,
        |  CAST(res AS DOUBLE) / CAST(n AS DOUBLE) AS resolution,
        |  obar * (1.0 - obar) AS uncertainty
        |FROM agg""".stripMargin),
    "q402_pages_trend" -> Query(q402PagesTrend,
      """WITH cells AS (
        |  SELECT CAST(year(l_shipdate) AS VARCHAR) AS j,
        |    CAST(quarter(l_shipdate) AS VARCHAR) AS it,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |ranks AS (
        |  SELECT j, it,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY j ORDER BY v, it)
        |      AS BIGINT) AS rk
        |  FROM cells),
        |rj AS (
        |  SELECT it, CAST(COUNT(*) AS BIGINT) AS n_judges,
        |    CAST(SUM(rk) AS BIGINT) AS r
        |  FROM ranks GROUP BY it),
        |nm AS (
        |  SELECT CAST(MAX(n_judges) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS m
        |  FROM rj),
        |ls AS (
        |  SELECT n, m,
        |    CAST(SUM((CASE it WHEN '1' THEN 1 WHEN '2' THEN 2
        |      WHEN '3' THEN 3 WHEN '4' THEN 4 END) * r) AS BIGINT) AS l
        |  FROM rj, nm GROUP BY n, m)
        |SELECT n AS n_judges, m AS n_items, CAST(l AS DOUBLE) AS l_stat,
        |  CAST(n AS DOUBLE) * 4.0 * 5.0 * 5.0 / 4.0 AS e_l,
        |  (CAST(l AS DOUBLE) - CAST(n AS DOUBLE) * 4.0 * 5.0 * 5.0 / 4.0)
        |  / sqrt(CAST(n AS DOUBLE) * 80.0 * 15.0 / 144.0) AS z
        |FROM ls""".stripMargin),
    "q403_cronbach_alpha" -> Query(q403CronbachAlpha,
      """WITH base AS (
        |  SELECT
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS x0,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS x1,
        |    CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS x2
        |  FROM lineitem),
        |wt AS (SELECT *, x0 + x1 + x2 AS t FROM base),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x0 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s0,
        |    CAST(SUM(CAST(x0 AS DECIMAL(38,0)) * CAST(x0 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS q0,
        |    CAST(SUM(CAST(x1 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
        |    CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * CAST(x1 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS q1,
        |    CAST(SUM(CAST(x2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2,
        |    CAST(SUM(CAST(x2 AS DECIMAL(38,0)) * CAST(x2 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS q2,
        |    CAST(SUM(CAST(t AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS st,
        |    CAST(SUM(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS qt
        |  FROM wt),
        |v AS (
        |  SELECT n,
        |    (CAST(n AS DOUBLE) * CAST(q0 AS DOUBLE)
        |      - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
        |    + (CAST(n AS DOUBLE) * CAST(q1 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
        |    + (CAST(n AS DOUBLE) * CAST(q2 AS DOUBLE)
        |      - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) AS iv,
        |    (CAST(n AS DOUBLE) * CAST(qt AS DOUBLE)
        |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) AS tv
        |  FROM m WHERE n > 1)
        |SELECT n, CAST(3 AS BIGINT) AS k, iv / 1e4 AS sum_item_var,
        |  tv / 1e4 AS total_var,
        |  (3.0 / 2.0) * (1.0 - iv / tv) AS alpha
        |FROM v""".stripMargin),
    "q404_price_agreement" -> Query(q404PriceAgreement,
      """WITH base AS (
        |  SELECT
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS x,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |wd AS (SELECT *, x - y AS d FROM base),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS syy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sdd
        |  FROM wd),
        |f AS (
        |  SELECT n,
        |    (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE)) AS sd,
        |    CAST(n AS DOUBLE) AS nn,
        |    CAST(sxx AS DOUBLE) AS dxx, CAST(syy AS DOUBLE) AS dyy,
        |    CAST(sxy AS DOUBLE) AS dxy, CAST(sdd AS DOUBLE) AS ddd,
        |    CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy
        |  FROM m WHERE n > 1),
        |g AS (
        |  SELECT n, sd / nn / 100.0 AS bias,
        |    sqrt((nn * ddd - sd * sd) / (nn * (nn - 1))) / 100.0
        |      AS sd_diff,
        |    nn * dxx - dx * dx AS vx, nn * dyy - dy * dy AS vy,
        |    nn * dxy - dx * dy AS cv, sd
        |  FROM f)
        |SELECT n, bias,
        |  bias - 1.959963984540054 * sd_diff AS loa_low,
        |  bias + 1.959963984540054 * sd_diff AS loa_high,
        |  cv / sqrt(vx * vy) AS pearson_r,
        |  2.0 * cv / (vx + vy + sd * sd) AS ccc
        |FROM g""".stripMargin),
    "q389_mantel_haenszel" -> Query(q389MantelHaenszel,
      """WITH base AS (
        |  SELECT c_mktsegment AS g,
        |    (o_orderpriority IN ('1-URGENT','2-HIGH')) AS e,
        |    (o_orderstatus = 'F') AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (
        |  SELECT g,
        |    CAST(SUM(CASE WHEN e AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN e AND NOT y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b,
        |    CAST(SUM(CASE WHEN NOT e AND y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c,
        |    CAST(SUM(CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM base GROUP BY g),
        |wn AS (
        |  SELECT *, a + b + c + d AS n FROM cells
        |  WHERE a + b + c + d > 1),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |    CAST(SUM(n) AS BIGINT) AS n_total,
        |    CAST(SUM(CAST(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS DECIMAL(38,12))) AS DECIMAL(38,12))
        |      AS r,
        |    CAST(SUM(CAST(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS DECIMAL(38,12))) AS DECIMAL(38,12))
        |      AS s,
        |    CAST(SUM(CAST(CAST(a AS DOUBLE)
        |      - CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
        |        / CAST(n AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DECIMAL(38,12)) AS ome,
        |    CAST(SUM(CAST(CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
        |        / CAST(n AS DOUBLE) * CAST(a + c AS DOUBLE)
        |        * CAST(b + d AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
        |      AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS v
        |  FROM wn)
        |SELECT n_strata, n_total,
        |  CASE WHEN CAST(s AS DOUBLE) > 0
        |    THEN CAST(r AS DOUBLE) / CAST(s AS DOUBLE) END AS or_mh,
        |  CASE WHEN CAST(v AS DOUBLE) > 0
        |    THEN CAST(ome AS DOUBLE) * CAST(ome AS DOUBLE)
        |      / CAST(v AS DOUBLE) END AS chi2_cmh
        |FROM agg""".stripMargin),
    "q396_hellinger_drift" -> Query(q396HellingerDrift,
      """WITH mm AS (
        |  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid
        |  FROM events),
        |cells AS (
        |  SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN epoch_us(ts) >= mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events CROSS JOIN mm GROUP BY 1, 2),
        |tot AS (
        |  SELECT k, CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb
        |  FROM cells GROUP BY k),
        |terms AS (
        |  SELECT c.k, t.na, t.nb,
        |    CAST(sqrt((CAST(c.ca AS DOUBLE) / CAST(t.na AS DOUBLE))
        |      * (CAST(c.cb AS DOUBLE) / CAST(t.nb AS DOUBLE)))
        |      AS DECIMAL(38,12)) AS tq
        |  FROM cells c JOIN tot t ON c.k = t.k
        |  WHERE t.na > 0 AND t.nb > 0),
        |agg AS (
        |  SELECT k, CAST(MAX(na) AS BIGINT) AS n_a,
        |    CAST(MAX(nb) AS BIGINT) AS n_b,
        |    CAST(SUM(tq) AS DECIMAL(38,12)) AS bc
        |  FROM terms GROUP BY k)
        |SELECT k AS event_type, n_a, n_b,
        |  CAST(bc AS DOUBLE) AS bhattacharyya,
        |  sqrt(GREATEST(0.0, 1.0 - CAST(bc AS DOUBLE))) AS hellinger
        |FROM agg ORDER BY event_type""".stripMargin),
    "q336_als_factors" -> Query(q336AlsFactors,
      ("""WITH rt AS MATERIALIZED (
        |  SELECT o_custkey AS u, l_partkey AS i,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |if0 AS (
        |  SELECT i, 1.0 AS f1, CAST((i % 97) - 48 AS DOUBLE) / 97.0 AS f2
        |  FROM (SELECT DISTINCT i FROM rt)),""".stripMargin + "\n" +
        Seq(alsStepSql("uf1", "u", "i", "if0"),
          alsStepSql("if1", "i", "u", "uf1"),
          alsStepSql("uf2", "u", "i", "if1"),
          alsStepSql("if2", "i", "u", "uf2")).mkString(",\n") + ",\n" +
        """ucnt AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n FROM rt
        |  GROUP BY u ORDER BY n DESC, u LIMIT 10),
        |icnt AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM rt
        |  GROUP BY i ORDER BY n DESC, i LIMIT 10)
        |SELECT * FROM (
        |  SELECT 'user' AS kind, uf2.u AS id, n AS n_interactions, f1, f2
        |  FROM uf2 JOIN ucnt ON ucnt.u = uf2.u
        |  UNION ALL
        |  SELECT 'item', if2.i, n, f1, f2
        |  FROM if2 JOIN icnt ON icnt.i = if2.i)
        |ORDER BY kind, id""".stripMargin)),
    "q339_als_recommend" -> Query(q339AlsRecommend,
      ("""WITH rt AS MATERIALIZED (
        |  SELECT o_custkey AS u, l_partkey AS i,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |if0 AS (
        |  SELECT i, 1.0 AS f1, CAST((i % 97) - 48 AS DOUBLE) / 97.0 AS f2
        |  FROM (SELECT DISTINCT i FROM rt)),""".stripMargin + "\n" +
        Seq(alsStepSql("uf1", "u", "i", "if0"),
          alsStepSql("if1", "i", "u", "uf1"),
          alsStepSql("uf2", "u", "i", "if1"),
          alsStepSql("if2", "i", "u", "uf2")).mkString(",\n") + ",\n" +
        """probe AS (SELECT u FROM rt GROUP BY u
        |  ORDER BY COUNT(*) DESC, u LIMIT 10),
        |sc AS (
        |  SELECT uf.u, f.i, uf.f1 * f.f1 + uf.f2 * f.f2 AS score
        |  FROM uf2 uf JOIN probe USING (u) CROSS JOIN if2 f
        |  WHERE NOT EXISTS (SELECT 1 FROM rt
        |                    WHERE rt.u = uf.u AND rt.i = f.i)),
        |rk AS (
        |  SELECT u, i, score, ROW_NUMBER() OVER
        |    (PARTITION BY u ORDER BY score DESC, i) AS rnk
        |  FROM sc)
        |SELECT u AS custkey, CAST(rnk AS BIGINT) AS rank, i AS partkey,
        |  score
        |FROM rk WHERE rnk <= 5 ORDER BY custkey, rank""".stripMargin)),
    "q341_bh_fdr" -> Query(q341BhFdr,
      """WITH base AS (
        |  SELECT p_brand AS g, l_discount >= 0.05 AS arm,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v,
        |    md5(CAST(l_orderkey AS VARCHAR)) AS h
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |obs AS (
        |  SELECT g,
        |    CAST(SUM(CASE WHEN arm THEN CAST(v AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s1,
        |    CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN NOT arm THEN CAST(v AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s0,
        |    CAST(SUM(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT) AS n0
        |  FROM base GROUP BY g
        |  HAVING SUM(CASE WHEN arm THEN 1 ELSE 0 END) > 0
        |    AND SUM(CASE WHEN NOT arm THEN 1 ELSE 0 END) > 0),
        |obs2 AS (
        |  SELECT *, ABS(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS d_obs
        |  FROM obs),
        |fan AS (
        |  SELECT g, v, b,
        |    ascii(substr(h, CAST(b AS INT) + 1, 1)) <= 55 AS parm
        |  FROM base CROSS JOIN (SELECT UNNEST(range(0, 16)) AS b)),
        |reps AS (
        |  SELECT g, b,
        |    CAST(SUM(CASE WHEN parm THEN CAST(v AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS t1,
        |    CAST(SUM(CASE WHEN parm THEN 1 ELSE 0 END) AS BIGINT) AS m1,
        |    CAST(SUM(CASE WHEN NOT parm THEN CAST(v AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS t0,
        |    CAST(SUM(CASE WHEN NOT parm THEN 1 ELSE 0 END) AS BIGINT) AS m0
        |  FROM fan GROUP BY g, b
        |  HAVING SUM(CASE WHEN parm THEN 1 ELSE 0 END) > 0
        |    AND SUM(CASE WHEN NOT parm THEN 1 ELSE 0 END) > 0),
        |pv AS (
        |  SELECT reps.g,
        |    CAST(SUM(CASE WHEN ABS(CAST(t1 AS DOUBLE) / CAST(m1 AS DOUBLE)
        |        - CAST(t0 AS DOUBLE) / CAST(m0 AS DOUBLE)) >= d_obs
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
        |    (CAST(SUM(CASE WHEN ABS(CAST(t1 AS DOUBLE) / CAST(m1 AS DOUBLE)
        |        - CAST(t0 AS DOUBLE) / CAST(m0 AS DOUBLE)) >= d_obs
        |      THEN 1 ELSE 0 END) AS DOUBLE) + 1.0)
        |      / (CAST(COUNT(*) AS DOUBLE) + 1.0) AS p_value
        |  FROM reps JOIN obs2 ON obs2.g = reps.g
        |  GROUP BY reps.g),
        |bh AS (
        |  SELECT g, n_extreme, p_value,
        |    ROW_NUMBER() OVER (ORDER BY p_value, g) AS rnk,
        |    COUNT(*) OVER () AS m
        |  FROM pv),
        |adj AS (
        |  SELECT g, rnk, n_extreme, p_value,
        |    LEAST(1.0, MIN(p_value * CAST(m AS DOUBLE)
        |        / CAST(rnk AS DOUBLE))
        |      OVER (ORDER BY rnk DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS p_adj
        |  FROM bh)
        |SELECT g AS p_brand, CAST(rnk AS BIGINT) AS rank, n_extreme,
        |  p_value, p_adj,
        |  CAST(CASE WHEN p_adj <= 0.10 THEN 1 ELSE 0 END AS BIGINT)
        |    AS reject
        |FROM adj ORDER BY rank""".stripMargin),
    "q342_energy_distance" -> Query(q342EnergyDistance,
      """WITH mm AS (
        |  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid
        |  FROM events),
        |cells AS (
        |  SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN epoch_us(ts) >= mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events CROSS JOIN mm GROUP BY 1, 2),
        |pre AS (
        |  SELECT *,
        |    COALESCE(SUM(CAST(ca AS HUGEINT)) OVER w, 0) AS pca,
        |    COALESCE(SUM(CAST(cb AS HUGEINT)) OVER w, 0) AS pcb,
        |    COALESCE(SUM(CAST(ca AS HUGEINT)
        |      * CAST(v AS HUGEINT)) OVER w, 0) AS psa,
        |    COALESCE(SUM(CAST(cb AS HUGEINT)
        |      * CAST(v AS HUGEINT)) OVER w, 0) AS psb
        |  FROM cells
        |  WINDOW w AS (PARTITION BY k ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |agg AS (
        |  SELECT k, CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(cb) AS BIGINT) AS n_b,
        |    SUM(CAST(ca AS HUGEINT)
        |        * (CAST(v AS HUGEINT) * pcb - psb)
        |      + CAST(cb AS HUGEINT)
        |        * (CAST(v AS HUGEINT) * pca - psa)) AS sab,
        |    SUM(CAST(ca AS HUGEINT)
        |      * (CAST(v AS HUGEINT) * pca - psa)) AS saa,
        |    SUM(CAST(cb AS HUGEINT)
        |      * (CAST(v AS HUGEINT) * pcb - psb)) AS sbb
        |  FROM pre GROUP BY k
        |  HAVING SUM(ca) > 0 AND SUM(cb) > 0)
        |SELECT k AS event_type, n_a, n_b,
        |  CAST(sab AS DOUBLE) / (CAST(n_a AS DOUBLE)
        |    * CAST(n_b AS DOUBLE)) / 100.0 AS e_xy,
        |  CAST(saa AS DOUBLE) * 2.0 / (CAST(n_a AS DOUBLE)
        |    * CAST(n_a AS DOUBLE)) / 100.0 AS e_xx,
        |  CAST(sbb AS DOUBLE) * 2.0 / (CAST(n_b AS DOUBLE)
        |    * CAST(n_b AS DOUBLE)) / 100.0 AS e_yy,
        |  (CAST(sab AS DOUBLE) / (CAST(n_a AS DOUBLE)
        |    * CAST(n_b AS DOUBLE)) / 100.0) * 2.0
        |  - CAST(saa AS DOUBLE) * 2.0 / (CAST(n_a AS DOUBLE)
        |    * CAST(n_a AS DOUBLE)) / 100.0
        |  - CAST(sbb AS DOUBLE) * 2.0 / (CAST(n_b AS DOUBLE)
        |    * CAST(n_b AS DOUBLE)) / 100.0 AS energy
        |FROM agg ORDER BY event_type""".stripMargin),
    "q348_anderson_darling" -> Query(q348AndersonDarling,
      """WITH mm AS (
        |  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid
        |  FROM events),
        |cells AS (
        |  SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN epoch_us(ts) >= mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events CROSS JOIN mm GROUP BY 1, 2),
        |pre AS (
        |  SELECT *,
        |    SUM(CAST(ca AS HUGEINT)) OVER wc AS cuma,
        |    SUM(CAST(cb AS HUGEINT)) OVER wc AS cumb,
        |    SUM(CAST(ca AS HUGEINT)) OVER wt AS na,
        |    SUM(CAST(cb AS HUGEINT)) OVER wt AS nb
        |  FROM cells
        |  WINDOW wc AS (PARTITION BY k ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wt AS (PARTITION BY k)),
        |terms AS (
        |  SELECT k, na, nb,
        |    CAST(CAST(ca + cb AS DOUBLE)
        |      * CAST(cuma * nb - cumb * na AS DOUBLE)
        |      * CAST(cuma * nb - cumb * na AS DOUBLE)
        |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |         * CAST(cuma + cumb AS DOUBLE)
        |         * CAST((na + nb) - (cuma + cumb) AS DOUBLE))
        |      AS DECIMAL(38,15)) AS term
        |  FROM pre
        |  WHERE na > 0 AND nb > 0 AND cuma + cumb < na + nb)
        |SELECT k AS event_type, CAST(MAX(na) AS BIGINT) AS n_a,
        |  CAST(MAX(nb) AS BIGINT) AS n_b,
        |  CAST(CAST(SUM(term) AS DECIMAL(38,15)) AS DOUBLE) AS ad_stat
        |FROM terms GROUP BY k ORDER BY event_type""".stripMargin),
    "q359_odds_ratio" -> Query(q359OddsRatio,
      """WITH cells AS (
        |  SELECT l_linestatus AS slice,
        |    CAST(SUM(CASE WHEN l_discount >= 0.05 AND l_returnflag = 'R'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN l_discount >= 0.05 AND l_returnflag <> 'R'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN l_discount < 0.05 AND l_returnflag = 'R'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN l_discount < 0.05 AND l_returnflag <> 'R'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM lineitem GROUP BY 1)
        |SELECT slice, CAST(a + b + c + d AS BIGINT) AS n, a, b, c, d,
        |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
        |    THEN CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
        |      / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) END AS odds_ratio,
        |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
        |    THEN exp(ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
        |        / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
        |      - 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0
        |        / CAST(b AS DOUBLE) + 1.0 / CAST(c AS DOUBLE)
        |        + 1.0 / CAST(d AS DOUBLE))) END AS ci_lo,
        |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
        |    THEN exp(ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
        |        / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
        |      + 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0
        |        / CAST(b AS DOUBLE) + 1.0 / CAST(c AS DOUBLE)
        |        + 1.0 / CAST(d AS DOUBLE))) END AS ci_hi
        |FROM cells ORDER BY slice""".stripMargin),
    "q358_mcc" -> Query(q358Mcc,
      """WITH li AS (
        |  SELECT l_orderkey AS o_orderkey, CAST(COUNT(*) AS BIGINT)
        |    AS n_lines
        |  FROM lineitem GROUP BY 1),
        |base AS (
        |  SELECT c.c_mktsegment AS slice,
        |    CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS y,
        |    CASE WHEN COALESCE(li.n_lines, 0) >= 4 THEN 1 ELSE 0 END AS p
        |  FROM orders o
        |  LEFT JOIN li USING (o_orderkey)
        |  JOIN customer c ON c.c_custkey = o.o_custkey),
        |cells AS (
        |  SELECT slice,
        |    CAST(SUM(y * p) AS BIGINT) AS tp,
        |    CAST(SUM((1 - y) * p) AS BIGINT) AS fp,
        |    CAST(SUM(y * (1 - p)) AS BIGINT) AS fn,
        |    CAST(SUM((1 - y) * (1 - p)) AS BIGINT) AS tn
        |  FROM base GROUP BY slice
        |  UNION ALL
        |  SELECT 'ALL',
        |    CAST(SUM(y * p) AS BIGINT), CAST(SUM((1 - y) * p) AS BIGINT),
        |    CAST(SUM(y * (1 - p)) AS BIGINT),
        |    CAST(SUM((1 - y) * (1 - p)) AS BIGINT)
        |  FROM base)
        |SELECT slice, CAST(tp + fp + fn + tn AS BIGINT) AS n,
        |  tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)
        |    / CAST(tp + fp AS DOUBLE) END AS precision,
        |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)
        |    / CAST(tp + fn AS DOUBLE) END AS recall,
        |  CASE WHEN (CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)
        |        / CAST(tp + fp AS DOUBLE) END)
        |      + (CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)
        |        / CAST(tp + fn AS DOUBLE) END) > 0
        |    THEN 2.0 * (CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)
        |        / CAST(tp + fp AS DOUBLE) END)
        |      * (CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)
        |        / CAST(tp + fn AS DOUBLE) END)
        |      / ((CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)
        |        / CAST(tp + fp AS DOUBLE) END)
        |        + (CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)
        |          / CAST(tp + fn AS DOUBLE) END)) END AS f1,
        |  CASE WHEN sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
        |      * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)) > 0
        |    THEN (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
        |        - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
        |      / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
        |        * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))
        |    END AS mcc
        |FROM cells ORDER BY slice""".stripMargin),
    "q354_icc" -> Query(q354Icc,
      """WITH base AS (
        |  SELECT c_mktsegment AS c,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cls AS (
        |  SELECT c, CAST(COUNT(*) AS BIGINT) AS nc,
        |    CAST(SUM(CAST(t AS HUGEINT)) AS HUGEINT) AS sc,
        |    CAST(SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) AS HUGEINT)
        |      AS sqc
        |  FROM base GROUP BY c),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(nc) AS BIGINT)
        |      AS n,
        |    CAST(SUM(sc) AS HUGEINT) AS s,
        |    CAST(SUM(sqc) AS HUGEINT) AS sq,
        |    CAST(SUM(CAST(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
        |      / CAST(nc AS DOUBLE) AS DECIMAL(38,6))) AS DECIMAL(38,6))
        |      AS tsum,
        |    CAST(SUM(CAST(nc AS HUGEINT) * CAST(nc AS HUGEINT))
        |      AS HUGEINT) AS nsq
        |  FROM cls),
        |fin AS (
        |  SELECT k, n,
        |    (CAST(tsum AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      / CAST(k - 1 AS DOUBLE) / 10000.0 AS msb,
        |    (CAST(sq AS DOUBLE) - CAST(tsum AS DOUBLE))
        |      / CAST(n - k AS DOUBLE) / 10000.0 AS msw,
        |    (CAST(n AS DOUBLE) - CAST(nsq AS DOUBLE) / CAST(n AS DOUBLE))
        |      / CAST(k - 1 AS DOUBLE) AS n0
        |  FROM agg WHERE k > 1 AND n > k)
        |SELECT k, n, msb, msw, n0,
        |  CASE WHEN msb + (n0 - 1.0) * msw > 0
        |    THEN (msb - msw) / (msb + (n0 - 1.0) * msw) END AS icc
        |FROM fin""".stripMargin),
    "q349_bartlett" -> Query(q349Bartlett,
      """WITH per AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders),
        |cls AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS nc,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sc,
        |    CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT)
        |      AS sqc
        |  FROM per GROUP BY g HAVING COUNT(*) >= 2),
        |cls2 AS (
        |  SELECT *,
        |    CAST(CAST(nc AS HUGEINT) * sqc - sc * sc AS DOUBLE)
        |      / (CAST(nc AS DOUBLE) * CAST(nc - 1 AS DOUBLE)) AS v
        |  FROM cls),
        |cls3 AS (
        |  SELECT *,
        |    CAST((CAST(nc AS DOUBLE) - 1.0) * ln(v) AS DECIMAL(38,12))
        |      AS lnv,
        |    CAST(1.0 / (CAST(nc AS DOUBLE) - 1.0) AS DECIMAL(38,15))
        |      AS inv,
        |    CAST(CAST(CAST(nc AS HUGEINT) * sqc - sc * sc AS DOUBLE)
        |      / CAST(nc AS DOUBLE) AS DECIMAL(38,6)) AS ssw
        |  FROM cls2 WHERE v > 0),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(nc) AS BIGINT)
        |      AS n,
        |    CAST(SUM(ssw) AS DECIMAL(38,6)) AS sswsum,
        |    CAST(SUM(lnv) AS DECIMAL(38,12)) AS lnsum,
        |    CAST(SUM(inv) AS DECIMAL(38,15)) AS invsum
        |  FROM cls3)
        |SELECT k, n,
        |  ((CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
        |     * ln(CAST(sswsum AS DOUBLE)
        |         / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
        |   - CAST(lnsum AS DOUBLE))
        |  / (1.0 + (CAST(invsum AS DOUBLE)
        |      - 1.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
        |     / (3.0 * (CAST(k AS DOUBLE) - 1.0))) AS chi2_bartlett,
        |  CAST(k - 1 AS BIGINT) AS dof
        |FROM agg WHERE k > 1 AND n > k""".stripMargin),
    "q346_cramer_von_mises" -> Query(q346CramerVonMises,
      """WITH mm AS (
        |  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid
        |  FROM events),
        |cells AS (
        |  SELECT event_type AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN epoch_us(ts) >= mid THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events CROSS JOIN mm GROUP BY 1, 2),
        |pre AS (
        |  SELECT *,
        |    SUM(CAST(ca AS HUGEINT)) OVER wc AS cuma,
        |    SUM(CAST(cb AS HUGEINT)) OVER wc AS cumb,
        |    SUM(CAST(ca AS HUGEINT)) OVER wt AS na,
        |    SUM(CAST(cb AS HUGEINT)) OVER wt AS nb
        |  FROM cells
        |  WINDOW wc AS (PARTITION BY k ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wt AS (PARTITION BY k)),
        |agg AS (
        |  SELECT k, CAST(MAX(na) AS BIGINT) AS n_a,
        |    CAST(MAX(nb) AS BIGINT) AS n_b,
        |    SUM((CAST(ca AS HUGEINT) + CAST(cb AS HUGEINT))
        |      * (cuma * nb - cumb * na)
        |      * (cuma * nb - cumb * na)) AS s
        |  FROM pre WHERE na > 0 AND nb > 0 GROUP BY k)
        |SELECT k AS event_type, n_a, n_b,
        |  CAST(s AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE)
        |    * CAST(n_a + n_b AS DOUBLE) * CAST(n_a AS DOUBLE)
        |    * CAST(n_b AS DOUBLE)) AS t_stat
        |FROM agg ORDER BY event_type""".stripMargin),
    "q335_boosted_stumps" -> Query(q335BoostedStumps,
      ("""WITH b0 AS MATERIALIZED (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS y,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS fq,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS fd,
        |    CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS ft
        |  FROM lineitem),
        |s0 AS MATERIALIZED (
        |  SELECT y, fq, fd, ft,
        |    (SELECT CAST(FLOOR(CAST(SUM(y) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) FROM b0) AS F
        |  FROM b0),""".stripMargin + "\n" +
        (1 to 3).map(boostRoundSql).mkString(",\n") + "\n" +
        (1 to 3).map(boostRowSql).mkString("", "\nUNION ALL\n",
          "\nORDER BY round"))),
    "q330_fairness_audit" -> Query(q330FairnessAudit,
      """WITH li AS (
        |  SELECT l_orderkey AS o_orderkey, CAST(COUNT(*) AS BIGINT)
        |    AS n_lines
        |  FROM lineitem GROUP BY 1),
        |base AS (
        |  SELECT c.c_mktsegment AS g,
        |    CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS y,
        |    CASE WHEN COALESCE(li.n_lines, 0) >= 4 THEN 1 ELSE 0 END AS p
        |  FROM orders o
        |  LEFT JOIN li USING (o_orderkey)
        |  JOIN customer c ON c.c_custkey = o.o_custkey),
        |cells AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS n_pos,
        |    CAST(SUM(p) AS BIGINT) AS n_sel,
        |    CAST(SUM(y * p) AS BIGINT) AS tp,
        |    CAST(SUM((1 - y) * p) AS BIGINT) AS fp
        |  FROM base GROUP BY 1),
        |pop AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS tn_,
        |    CAST(SUM(n_pos) AS BIGINT) AS tpos,
        |    CAST(SUM(n_sel) AS BIGINT) AS tsel,
        |    CAST(SUM(tp) AS BIGINT) AS ttp,
        |    CAST(SUM(fp) AS BIGINT) AS tfp
        |  FROM cells)
        |SELECT g AS c_mktsegment, n, n_pos, n_sel,
        |  CASE WHEN n > 0 THEN CAST(n_sel AS DOUBLE) / CAST(n AS DOUBLE)
        |    END AS selection_rate,
        |  (CASE WHEN n > 0 THEN CAST(n_sel AS DOUBLE) / CAST(n AS DOUBLE)
        |    END) - (CASE WHEN tn_ > 0 THEN CAST(tsel AS DOUBLE)
        |    / CAST(tn_ AS DOUBLE) END) AS parity_gap,
        |  (CASE WHEN n > 0 THEN CAST(n_sel AS DOUBLE) / CAST(n AS DOUBLE)
        |    END) / (CASE WHEN tn_ > 0 THEN CAST(tsel AS DOUBLE)
        |    / CAST(tn_ AS DOUBLE) END) AS disparate_impact,
        |  CASE WHEN n_pos > 0 THEN CAST(tp AS DOUBLE)
        |    / CAST(n_pos AS DOUBLE) END AS tpr,
        |  (CASE WHEN n_pos > 0 THEN CAST(tp AS DOUBLE)
        |    / CAST(n_pos AS DOUBLE) END) - (CASE WHEN tpos > 0
        |    THEN CAST(ttp AS DOUBLE) / CAST(tpos AS DOUBLE) END)
        |    AS tpr_gap,
        |  CASE WHEN n - n_pos > 0 THEN CAST(fp AS DOUBLE)
        |    / CAST(n - n_pos AS DOUBLE) END AS fpr,
        |  (CASE WHEN n - n_pos > 0 THEN CAST(fp AS DOUBLE)
        |    / CAST(n - n_pos AS DOUBLE) END) - (CASE WHEN tn_ - tpos > 0
        |    THEN CAST(tfp AS DOUBLE) / CAST(tn_ - tpos AS DOUBLE) END)
        |    AS fpr_gap
        |FROM cells CROSS JOIN pop ORDER BY 1""".stripMargin),
    "q329_conformal_intervals" -> Query(q329ConformalIntervals,
      """WITH base AS (
        |  SELECT event_type AS t, event_id % 2 = 0 AS is_cal,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |model AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_cal,
        |    CAST(FLOOR(CAST(SUM(CAST(vc AS HUGEINT)) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mu_c
        |  FROM base WHERE is_cal GROUP BY 1),
        |rh AS (
        |  SELECT b.t, m.n_cal, abs(b.vc - m.mu_c) AS r,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM base b JOIN model m USING (t) WHERE b.is_cal
        |  GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT t, n_cal, r, CAST(SUM(cnt) OVER (PARTITION BY t
        |    ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum
        |  FROM rh),
        |qhat AS (
        |  SELECT t, MIN(r) AS qhat_c FROM cum
        |  WHERE cum >= ((n_cal + 1) * 9 + 9) // 10 GROUP BY 1)
        |SELECT b.t AS event_type, m.n_cal,
        |  CAST(COUNT(*) AS BIGINT) AS n_test, m.mu_c, q.qhat_c,
        |  CAST(SUM(CASE WHEN abs(b.vc - m.mu_c) <= q.qhat_c
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        |  CAST(CAST(SUM(CASE WHEN abs(b.vc - m.mu_c) <= q.qhat_c
        |      THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS coverage
        |FROM base b JOIN model m USING (t) JOIN qhat q USING (t)
        |WHERE NOT b.is_cal
        |GROUP BY 1, 2, 4, 5 ORDER BY 1""".stripMargin),
    "q328_quantile_normalize" -> Query(q328QuantileNormalize,
      """WITH vals AS (SELECT source AS s, n_chars AS v FROM documents),
        |ghist AS (
        |  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM vals GROUP BY 1),
        |gcum AS (
        |  SELECT v AS gv, cnt, CAST(SUM(cnt) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS gcum
        |  FROM ghist),
        |gh AS (
        |  SELECT gv, unnest(generate_series(gcum - cnt + 1, gcum)) AS r
        |  FROM gcum),
        |ns AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS ns FROM vals
        |  GROUP BY 1),
        |ng AS (SELECT CAST(COUNT(*) AS BIGINT) AS ng FROM vals),
        |sh AS (
        |  SELECT s, v, CAST(COUNT(*) AS BIGINT) AS n_in_slice
        |  FROM vals GROUP BY 1, 2),
        |sc AS (
        |  SELECT s, v, n_in_slice, CAST(SUM(n_in_slice) OVER (
        |    PARTITION BY s ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS scum
        |  FROM sh),
        |rr AS (
        |  SELECT sc.*, ns.ns, ng.ng,
        |    (scum * ng + ns - 1) // ns AS r
        |  FROM sc JOIN ns USING (s) CROSS JOIN ng)
        |SELECT rr.s AS source, rr.v AS n_chars, rr.n_in_slice,
        |  rr.scum AS rank_in_slice, gh.gv AS normalized
        |FROM rr JOIN gh USING (r)
        |ORDER BY source, n_chars""".stripMargin),
    "q327_kmeans" -> Query(q327Kmeans, kmeansOracle),
    "q325_logistic_gd" -> Query(q325LogisticGd, logisticOracle),
    "q356_data_map" -> Query(q356DataMap, dataMapOracle),
    "q312_cochran_armitage" -> Query(q312CochranArmitage,
      """WITH per AS (
        |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(r) AS BIGINT) AS rr,
        |    CAST(SUM(s * s * n) AS BIGINT) AS a,
        |    CAST(SUM(s * n) AS BIGINT) AS b,
        |    CAST(SUM(s * r) AS BIGINT) AS sr
        |  FROM per)
        |SELECT s AS score, n, r,
        |  CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
        |  (CAST(sr AS DOUBLE)
        |    - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE) * CAST(b AS DOUBLE))
        |  / sqrt(CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE)
        |    * (1.0 - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
        |    * (CAST(a AS DOUBLE)
        |      - CAST(b AS DOUBLE) * CAST(b AS DOUBLE)
        |        / CAST(nn AS DOUBLE))) AS z
        |FROM per CROSS JOIN tot ORDER BY score""".stripMargin),
    // average-tie ranks via 2*RANK() + tie-count - 1 (the same integer
    // identity the engine derives from the per-(block, value) histogram)
    "q306_friedman" -> Query(q306Friedman,
      """WITH cell AS (
        |  SELECT date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) // 7 AS b,
        |    o_orderstatus AS t,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1, 2),
        |kk AS (SELECT COUNT(DISTINCT t) AS k FROM cell),
        |complete AS (
        |  SELECT b FROM cell GROUP BY b
        |  HAVING COUNT(*) = (SELECT k FROM kk)),
        |cells AS (SELECT c.* FROM cell c JOIN complete USING (b)),
        |ranked AS (
        |  SELECT b, t, 2 * RANK() OVER (PARTITION BY b ORDER BY v)
        |    + COUNT(*) OVER (PARTITION BY b, v) - 1 AS r2
        |  FROM cells),
        |byt AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(r2) AS BIGINT) AS r2sum
        |  FROM ranked GROUP BY t),
        |agg AS (
        |  SELECT CAST(SUM(CAST(r2sum AS HUGEINT) * CAST(r2sum AS HUGEINT))
        |      AS HUGEINT) AS ssum,
        |    MAX(n) AS nn
        |  FROM byt)
        |SELECT t AS o_orderstatus, n,
        |  CAST(r2sum AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)) AS mean_rank,
        |  3.0 / (CAST(nn AS DOUBLE) * CAST(k AS DOUBLE)
        |      * CAST(k + 1 AS DOUBLE))
        |    * CAST(ssum AS DOUBLE)
        |  - 3.0 * CAST(nn AS DOUBLE) * CAST(k + 1 AS DOUBLE) AS q,
        |  CAST(k - 1 AS BIGINT) AS dof
        |FROM byt CROSS JOIN agg CROSS JOIN kk
        |ORDER BY 1""".stripMargin),
    "q280_brown_forsythe" -> Query(q280BrownForsythe,
      """WITH per AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS ng
        |  FROM per),
        |med AS (
        |  SELECT g,
        |    CAST(SUM(CASE WHEN rn = (ng + 1) // 2 THEN x ELSE 0 END)
        |      + SUM(CASE WHEN rn = (ng + 2) // 2 THEN x ELSE 0 END)
        |      AS BIGINT) AS med2
        |  FROM rk WHERE rn = (ng + 1) // 2 OR rn = (ng + 2) // 2
        |  GROUP BY g),
        |z AS (
        |  SELECT per.g, ABS(per.x * 2 - med.med2) AS z
        |  FROM per JOIN med ON med.g = per.g),
        |cls AS (
        |  SELECT g, COUNT(*) AS nc,
        |    CAST(SUM(CAST(z AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sc,
        |    CAST(SUM(CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sqc
        |  FROM z GROUP BY g),
        |terms AS (
        |  SELECT *, CAST(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
        |    / CAST(nc AS DOUBLE) AS DECIMAL(38,6)) AS term
        |  FROM cls),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(nc) AS BIGINT) AS n,
        |    CAST(SUM(CAST(sc AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
        |    CAST(SUM(sqc) AS DECIMAL(38,0)) AS sq,
        |    CAST(SUM(term) AS DECIMAL(38,6)) AS tsum
        |  FROM terms)
        |SELECT k, n,
        |  ((CAST(tsum AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
        |    / ((CAST(sq AS DOUBLE) - CAST(tsum AS DOUBLE))
        |      / CAST(n - k AS DOUBLE)) AS f_bf
        |FROM agg WHERE k > 1 AND n > k""".stripMargin),
    // correlation-scale solve: same moment CTE as q275, then the
    // (1+lambda)-diagonal Cramer finish; 1+0.1 is composed from DOUBLE
    // literals exactly as the Spark side composes lit(1.0)+lit(0.1)
    "q286_ridge_two" -> Query(q286RidgeTwo,
      """WITH rows_q AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS a,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS b,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT g, COUNT(*) AS n,
        |    CAST(SUM(CAST(a AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sa,
        |    CAST(SUM(CAST(b AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sb,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
        |    CAST(SUM(CAST(a AS DECIMAL(38,0)) * CAST(a AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS saa,
        |    CAST(SUM(CAST(b AS DECIMAL(38,0)) * CAST(b AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sbb,
        |    CAST(SUM(CAST(a AS DECIMAL(38,0)) * CAST(b AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sab,
        |    CAST(SUM(CAST(a AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS say,
        |    CAST(SUM(CAST(b AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sby,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS syy
        |  FROM rows_q GROUP BY g),
        |s AS (
        |  SELECT *,
        |    CAST(CAST(n AS DECIMAL(38,0)) * saa - sa * sa
        |      AS DECIMAL(38,0)) AS v1,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sbb - sb * sb
        |      AS DECIMAL(38,0)) AS v2,
        |    CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy
        |      AS DECIMAL(38,0)) AS vy,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sab - sa * sb
        |      AS DECIMAL(38,0)) AS c12,
        |    CAST(CAST(n AS DECIMAL(38,0)) * say - sa * sy
        |      AS DECIMAL(38,0)) AS c1y,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sby - sb * sy
        |      AS DECIMAL(38,0)) AS c2y
        |  FROM m WHERE CAST(n AS DECIMAL(38,0)) * saa - sa * sa > 0
        |    AND CAST(n AS DECIMAL(38,0)) * sbb - sb * sb > 0
        |    AND CAST(n AS DECIMAL(38,0)) * syy - sy * sy > 0),
        |r AS (
        |  SELECT g, n,
        |    CAST(c12 AS DOUBLE)
        |      / SQRT(CAST(v1 AS DOUBLE) * CAST(v2 AS DOUBLE)) AS r12,
        |    CAST(c1y AS DOUBLE)
        |      / SQRT(CAST(v1 AS DOUBLE) * CAST(vy AS DOUBLE)) AS r1y,
        |    CAST(c2y AS DOUBLE)
        |      / SQRT(CAST(v2 AS DOUBLE) * CAST(vy AS DOUBLE)) AS r2y
        |  FROM s),
        |lp AS (SELECT CAST(1.0 AS DOUBLE) + CAST(0.1 AS DOUBLE) AS l1)
        |SELECT g AS l_returnflag, n, r12,
        |  (r1y * l1 - r2y * r12) / (l1 * l1 - r12 * r12) AS b1_ridge,
        |  (r2y * l1 - r1y * r12) / (l1 * l1 - r12 * r12) AS b2_ridge,
        |  (r1y - r2y * r12) / (CAST(1.0 AS DOUBLE) - r12 * r12) AS b1_ols,
        |  (r2y - r1y * r12) / (CAST(1.0 AS DOUBLE) - r12 * r12) AS b2_ols
        |FROM r CROSS JOIN lp
        |WHERE CAST(1.0 AS DOUBLE) - r12 * r12 > 0 ORDER BY 1""".stripMargin),
    "q287_durbin_watson" -> Query(q287DurbinWatson, (residualsSql + ",\n" +
      """eqd AS (
        |  SELECT g, x, CAST(e AS DECIMAL(38,0)) AS eq FROM res),
        |dif AS (
        |  SELECT g, eq,
        |    eq - LAG(eq) OVER (PARTITION BY g ORDER BY x) AS dq
        |  FROM eqd)
        |SELECT g AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(CAST(dq * dq AS DECIMAL(38,0))) AS DOUBLE)
        |    / CAST(SUM(CAST(eq * eq AS DECIMAL(38,0))) AS DOUBLE) AS dw
        |FROM dif GROUP BY 1
        |HAVING SUM(CAST(eq * eq AS DECIMAL(38,0))) > 0
        |ORDER BY 1""".stripMargin)),
    "q288_breusch_pagan" -> Query(q288BreuschPagan, (residualsSql + ",\n" +
      """zt AS (
        |  SELECT g, x,
        |    CAST(CAST(e / 100.0 AS DECIMAL(38,0))
        |      * CAST(e / 100.0 AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS z
        |  FROM res),
        |mz AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(z) AS DECIMAL(38,0)) AS sz,
        |    CAST(SUM(CAST(CAST(x AS DECIMAL(38,0)) * z AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxz,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(z * z AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS szz
        |  FROM zt GROUP BY g),
        |cvz AS (
        |  SELECT g, n_days,
        |    CAST(CAST(n_days AS DECIMAL(38,0)) * sxz
        |      - CAST(sx AS DECIMAL(38,0)) * sz AS DECIMAL(38,0)) AS cov,
        |    CAST(CAST(n_days AS DECIMAL(38,0)) * sxx
        |      - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
        |      AS DECIMAL(38,0)) AS vx,
        |    CAST(CAST(n_days AS DECIMAL(38,0)) * szz - sz * sz
        |      AS DECIMAL(38,0)) AS vz
        |  FROM mz)
        |SELECT g AS l_returnflag, n_days,
        |  (CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE))
        |    / (CAST(vx AS DOUBLE) * CAST(vz AS DOUBLE)) AS r2_aux,
        |  CAST(n_days AS DOUBLE) * ((CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE))
        |    / (CAST(vx AS DOUBLE) * CAST(vz AS DOUBLE))) AS bp_lm
        |FROM cvz WHERE vx > 0 AND vz > 0 ORDER BY 1""".stripMargin)),
    "q289_jarque_bera" -> Query(q289JarqueBera,
      """WITH per AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
        |  FROM orders),
        |base AS (
        |  SELECT g, CAST(SUM(xc) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS c
        |  FROM per GROUP BY g),
        |dev AS (
        |  SELECT per.g, per.xc - base.c AS d
        |  FROM per JOIN base ON base.g = per.g),
        |mom AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(d AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
        |    CAST(SUM(CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s2,
        |    CAST(SUM(CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))
        |      * CAST(d AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s3,
        |    CAST(SUM(CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))
        |      * CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS s4
        |  FROM dev GROUP BY g),
        |ctr AS (
        |  SELECT g, n,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(3.0 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
        |      + CAST(2.0 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(4.0 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
        |      + CAST(6.0 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(3.0 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m4
        |  FROM mom),
        |sk AS (
        |  SELECT g, n, m3 / SQRT(m2 * m2 * m2) AS skewness,
        |    m4 / (m2 * m2) - CAST(3.0 AS DOUBLE) AS kurtosis_ex
        |  FROM ctr WHERE m2 > 0)
        |SELECT g AS o_orderpriority, n, skewness, kurtosis_ex,
        |  CAST(n AS DOUBLE) * (skewness * skewness / CAST(6.0 AS DOUBLE)
        |    + kurtosis_ex * kurtosis_ex / CAST(24.0 AS DOUBLE)) AS jb
        |FROM sk ORDER BY 1""".stripMargin),
    "q290_moods_median" -> Query(q290MoodsMedian,
      """WITH per AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM orders),
        |hist AS (
        |  SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM per GROUP BY x),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM per),
        |cum AS (
        |  SELECT x, SUM(cnt) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    (nn + 1) // 2 AS fl, (nn + 2) // 2 AS ce
        |  FROM hist CROSS JOIN tot),
        |med AS (
        |  SELECT MIN(CASE WHEN cum >= fl THEN x END)
        |    + MIN(CASE WHEN cum >= ce THEN x END) AS med2 FROM cum),
        |cells AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN per.x * 2 > med.med2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS above
        |  FROM per CROSS JOIN med GROUP BY g),
        |gtot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nt,
        |    CAST(SUM(above) AS BIGINT) AS at_ FROM cells),
        |ee AS (
        |  SELECT g, n, above,
        |    CAST(n AS DOUBLE) * CAST(at_ AS DOUBLE) / CAST(nt AS DOUBLE)
        |      AS ea,
        |    CAST(n AS DOUBLE) * CAST(nt - at_ AS DOUBLE)
        |      / CAST(nt AS DOUBLE) AS eb
        |  FROM cells CROSS JOIN gtot
        |  WHERE at_ > 0 AND at_ < nt)
        |SELECT g AS o_orderpriority, n, above, n - above AS at_or_below,
        |  ea AS exp_above,
        |  (CAST(above AS DOUBLE) - ea) * (CAST(above AS DOUBLE) - ea) / ea
        |    + (CAST(n - above AS DOUBLE) - eb)
        |      * (CAST(n - above AS DOUBLE) - eb) / eb AS chi2_g
        |FROM ee ORDER BY 1""".stripMargin),
    "q291_runs_test" -> Query(q291RunsTest,
      """WITH daily AS (
        |  SELECT l_returnflag AS g,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1, 2),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY rev, x) AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS ng
        |  FROM daily),
        |med AS (
        |  SELECT g,
        |    CAST(SUM(CASE WHEN rn = (ng + 1) // 2 THEN rev ELSE 0 END)
        |      + SUM(CASE WHEN rn = (ng + 2) // 2 THEN rev ELSE 0 END)
        |      AS BIGINT) AS med2
        |  FROM rk WHERE rn = (ng + 1) // 2 OR rn = (ng + 2) // 2
        |  GROUP BY g),
        |sg AS (
        |  SELECT d.g, d.x, d.rev * 2 > m.med2 AS s
        |  FROM daily d JOIN med m ON m.g = d.g
        |  WHERE d.rev * 2 <> m.med2),
        |br AS (
        |  SELECT g, s,
        |    CASE WHEN LAG(s) OVER (PARTITION BY g ORDER BY x) IS NULL
        |      OR s <> LAG(s) OVER (PARTITION BY g ORDER BY x)
        |      THEN 1 ELSE 0 END AS brk
        |  FROM sg),
        |ag AS (
        |  SELECT g, CAST(SUM(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN NOT s THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(brk) AS BIGINT) AS runs
        |  FROM br GROUP BY g),
        |zz AS (
        |  SELECT g, n1, n2, runs,
        |    CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE)
        |      * CAST(n2 AS DOUBLE) AS twon,
        |    CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) AS nn
        |  FROM ag WHERE n1 > 0 AND n2 > 0),
        |zf AS (
        |  SELECT g, n1, n2, runs,
        |    twon / nn + CAST(1.0 AS DOUBLE) AS mu,
        |    twon * (twon - nn) / (nn * nn * (nn - CAST(1.0 AS DOUBLE)))
        |      AS sig2
        |  FROM zz)
        |SELECT g AS l_returnflag, n1, n2, runs,
        |  CASE WHEN sig2 > 0 THEN (CAST(runs AS DOUBLE) - mu) / SQRT(sig2)
        |    ELSE CAST(0 AS DOUBLE) END AS z_runs
        |FROM zf ORDER BY 1""".stripMargin),
    "q292_tukey_hsd" -> Query(q292TukeyHsd,
      """WITH cls AS (
        |  SELECT o_orderpriority AS c, CAST(COUNT(*) AS BIGINT) AS nc,
        |    CAST(SUM(CAST(t AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sc,
        |    CAST(SUM(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sqc
        |  FROM (SELECT o_orderpriority,
        |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
        |    FROM orders) GROUP BY 1),
        |ct AS (
        |  SELECT *, CAST(CAST(CAST(CAST(nc AS DECIMAL(38,0)) * sqc - sc * sc
        |      AS DECIMAL(38,0)) AS DOUBLE) / CAST(nc AS DOUBLE)
        |    AS DECIMAL(38,6)) AS ssw_t
        |  FROM cls),
        |mse0 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(nc) AS BIGINT) AS n,
        |    CAST(SUM(ssw_t) AS DECIMAL(38,6)) AS ssw
        |  FROM ct),
        |ms2 AS (
        |  SELECT k, n, CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE) / 1e4
        |    AS mse
        |  FROM mse0 WHERE n > k),
        |pa AS (
        |  SELECT c AS class_a, nc AS n_a,
        |    CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)
        |      / CAST(100.0 AS DOUBLE) AS mean_a
        |  FROM ct),
        |pb AS (
        |  SELECT c AS class_b, nc AS n_b,
        |    CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)
        |      / CAST(100.0 AS DOUBLE) AS mean_b
        |  FROM ct)
        |SELECT class_a, class_b, n_a, n_b, mean_a, mean_b,
        |  ABS(mean_a - mean_b) / SQRT(mse / CAST(2.0 AS DOUBLE)
        |    * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))) AS q_stat
        |FROM pa JOIN pb ON class_a < class_b CROSS JOIN ms2
        |ORDER BY 1, 2""".stripMargin),
    "q293_cliffs_delta" -> Query(q293CliffsDelta,
      """WITH base AS (
        |  SELECT o_orderstatus AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    o_orderpriority = '1-URGENT' AS isa
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |rk AS (
        |  SELECT *, COUNT(*) OVER (PARTITION BY g, v) AS t,
        |    RANK() OVER (PARTITION BY g ORDER BY v) AS rnk
        |  FROM base),
        |r2 AS (SELECT g, isa, 2 * rnk + t - 1 AS r2 FROM rk),
        |m AS (
        |  SELECT g,
        |    CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN isa THEN r2 ELSE 0 END) AS BIGINT) AS r1x2
        |  FROM r2 GROUP BY g),
        |uu AS (
        |  SELECT g, n1, n2,
        |    (CAST(r1x2 AS DOUBLE)
        |      - CAST(n1 AS DOUBLE) * CAST(n1 + 1 AS DOUBLE))
        |      / CAST(2.0 AS DOUBLE) AS u
        |  FROM m WHERE n1 > 0 AND n2 > 0),
        |dl AS (
        |  SELECT g, n1, n2, u,
        |    CAST(2.0 AS DOUBLE) * u
        |      / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |      - CAST(1.0 AS DOUBLE) AS delta
        |  FROM uu)
        |SELECT g AS o_orderstatus, n1, n2, u, delta,
        |  CASE WHEN ABS(delta) < 0.147 THEN 'negligible'
        |    WHEN ABS(delta) < 0.33 THEN 'small'
        |    WHEN ABS(delta) < 0.474 THEN 'medium'
        |    ELSE 'large' END AS magnitude
        |FROM dl ORDER BY 1""".stripMargin),
    "q274_partial_corr" -> Query(q274PartialCorr,
      """WITH rows_q AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS z
        |  FROM lineitem),
        |m AS (
        |  SELECT g, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
        |    CAST(SUM(CAST(z AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sz,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS syy,
        |    CAST(SUM(CAST(z AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS szz,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxz,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(z AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS syz
        |  FROM rows_q GROUP BY g),
        |c AS (
        |  SELECT *,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy
        |      AS DECIMAL(38,0)) AS cxy,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sxz - sx * sz
        |      AS DECIMAL(38,0)) AS cxz,
        |    CAST(CAST(n AS DECIMAL(38,0)) * syz - sy * sz
        |      AS DECIMAL(38,0)) AS cyz,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx
        |      AS DECIMAL(38,0)) AS vx,
        |    CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy
        |      AS DECIMAL(38,0)) AS vy,
        |    CAST(CAST(n AS DECIMAL(38,0)) * szz - sz * sz
        |      AS DECIMAL(38,0)) AS vz
        |  FROM m),
        |r AS (
        |  SELECT *,
        |    CAST(cxy AS DOUBLE)
        |      / SQRT(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) AS rxy,
        |    CAST(cxz AS DOUBLE)
        |      / SQRT(CAST(vx AS DOUBLE) * CAST(vz AS DOUBLE)) AS rxz,
        |    CAST(cyz AS DOUBLE)
        |      / SQRT(CAST(vy AS DOUBLE) * CAST(vz AS DOUBLE)) AS ryz
        |  FROM c WHERE vx > 0 AND vy > 0 AND vz > 0)
        |SELECT g AS l_returnflag, n, rxy, rxz, ryz,
        |  (rxy - rxz * ryz)
        |    / SQRT((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) AS r_xy_z
        |FROM r WHERE rxz * rxz < 1.0 AND ryz * ryz < 1.0
        |ORDER BY 1""".stripMargin),
    "q275_ols_two" -> Query(q275OlsTwo,
      """WITH rows_q AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS a,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS b,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT g, COUNT(*) AS n,
        |    CAST(SUM(CAST(a AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sa,
        |    CAST(SUM(CAST(b AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sb,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
        |    CAST(SUM(CAST(a AS DECIMAL(38,0)) * CAST(a AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS saa,
        |    CAST(SUM(CAST(b AS DECIMAL(38,0)) * CAST(b AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sbb,
        |    CAST(SUM(CAST(a AS DECIMAL(38,0)) * CAST(b AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sab,
        |    CAST(SUM(CAST(a AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS say,
        |    CAST(SUM(CAST(b AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sby,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS syy
        |  FROM rows_q GROUP BY g),
        |s AS (
        |  SELECT *,
        |    CAST(CAST(n AS DECIMAL(38,0)) * saa - sa * sa
        |      AS DECIMAL(38,0)) AS s11,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sbb - sb * sb
        |      AS DECIMAL(38,0)) AS s22,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sab - sa * sb
        |      AS DECIMAL(38,0)) AS s12,
        |    CAST(CAST(n AS DECIMAL(38,0)) * say - sa * sy
        |      AS DECIMAL(38,0)) AS s1y,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sby - sb * sy
        |      AS DECIMAL(38,0)) AS s2y,
        |    CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy
        |      AS DECIMAL(38,0)) AS syy_c
        |  FROM m),
        |d AS (
        |  SELECT *, CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)
        |    - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE) AS det
        |  FROM s),
        |bb AS (
        |  SELECT *,
        |    (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE)
        |      - CAST(s2y AS DOUBLE) * CAST(s12 AS DOUBLE)) / det AS b1,
        |    (CAST(s2y AS DOUBLE) * CAST(s11 AS DOUBLE)
        |      - CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE)) / det AS b2
        |  FROM d WHERE det > 0 AND syy_c > 0)
        |SELECT g AS l_returnflag, n, b1, b2,
        |  (CAST(sy AS DOUBLE) - b1 * CAST(sa AS DOUBLE)
        |    - b2 * CAST(sb AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0
        |    AS intercept,
        |  (b1 * CAST(s1y AS DOUBLE) + b2 * CAST(s2y AS DOUBLE))
        |    / CAST(syy_c AS DOUBLE) AS r2
        |FROM bb ORDER BY 1""".stripMargin),
    "q284_kruskal_wallis" -> Query(q284KruskalWallis,
      """WITH v AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM orders),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY v, g) AS rn FROM v),
        |r2 AS (
        |  SELECT *, MIN(rn) OVER (PARTITION BY v)
        |    + MAX(rn) OVER (PARTITION BY v) AS r2
        |  FROM r),
        |grp AS (
        |  SELECT g, COUNT(*) AS ng,
        |    CAST(SUM(CAST(r2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS t2
        |  FROM r2 GROUP BY g),
        |ties AS (
        |  SELECT CAST(SUM(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))
        |      * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0)))
        |    AS DECIMAL(38,0)) AS tie_sum
        |  FROM (SELECT COUNT(*) AS t FROM r2 GROUP BY v)),
        |terms AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(ng) AS BIGINT) AS n,
        |    CAST(SUM(CAST(CAST(t2 AS DOUBLE) * CAST(t2 AS DOUBLE)
        |      / (4.0 * CAST(ng AS DOUBLE)) AS DECIMAL(38,6)))
        |      AS DECIMAL(38,6)) AS tsum
        |  FROM grp HAVING COUNT(*) > 1)
        |SELECT k, n,
        |  12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
        |    * CAST(tsum AS DOUBLE) - 3.0 * CAST(n + 1 AS DOUBLE) AS h,
        |  1.0 - CAST(tie_sum AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |      - CAST(n AS DOUBLE)) AS tie_c,
        |  (12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
        |    * CAST(tsum AS DOUBLE) - 3.0 * CAST(n + 1 AS DOUBLE))
        |    / (1.0 - CAST(tie_sum AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        - CAST(n AS DOUBLE))) AS h_adj
        |FROM terms CROSS JOIN ties""".stripMargin),
    "q272_decision_stump" -> Query(q272DecisionStump,
      """WITH pf AS (
        |  SELECT 'l_quantity' AS feature,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS p
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount',
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT),
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax',
        |    CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT),
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
        |  FROM lineitem),
        |hist AS (
        |  SELECT feature, x, COUNT(*) AS nv, CAST(SUM(p) AS BIGINT) AS pv
        |  FROM pf GROUP BY 1, 2),
        |cum AS (
        |  SELECT *,
        |    CAST(SUM(nv) OVER (PARTITION BY feature ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl,
        |    CAST(SUM(pv) OVER (PARTITION BY feature ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pl,
        |    CAST(SUM(nv) OVER (PARTITION BY feature) AS BIGINT) AS nn,
        |    CAST(SUM(pv) OVER (PARTITION BY feature) AS BIGINT) AS pp
        |  FROM hist),
        |s AS (
        |  SELECT *, nn - nl AS nr, pp - pl AS pr
        |  FROM cum WHERE nn - nl > 0),
        |wg AS (
        |  SELECT *,
        |    (CAST(nl AS DOUBLE) - (CAST(pl AS DOUBLE) * CAST(pl AS DOUBLE)
        |        + CAST(nl - pl AS DOUBLE) * CAST(nl - pl AS DOUBLE))
        |        / CAST(nl AS DOUBLE)
        |      + CAST(nr AS DOUBLE) - (CAST(pr AS DOUBLE) * CAST(pr AS DOUBLE)
        |        + CAST(nr - pr AS DOUBLE) * CAST(nr - pr AS DOUBLE))
        |        / CAST(nr AS DOUBLE)) / CAST(nn AS DOUBLE) AS wg
        |  FROM s),
        |k AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY feature
        |    ORDER BY wg, x) AS rk
        |  FROM wg)
        |SELECT feature, CAST(x AS DOUBLE) / 100.0 AS threshold,
        |  wg AS weighted_gini, nl AS n_left, nr AS n_right,
        |  pl AS pos_left, pr AS pos_right
        |FROM k WHERE rk = 1 ORDER BY feature""".stripMargin),
    "q279_randomization_test" -> Query(q279RandomizationTest,
      """WITH base AS (
        |  SELECT l_returnflag AS g, l_discount >= 0.05 AS arm,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    md5(CAST(l_orderkey AS VARCHAR)) AS h
        |  FROM lineitem),
        |obs AS (
        |  SELECT g,
        |    CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN arm THEN CAST(v AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s1,
        |    CAST(SUM(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN NOT arm THEN CAST(v AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s0
        |  FROM base GROUP BY g
        |  HAVING SUM(CASE WHEN arm THEN 1 ELSE 0 END) > 0
        |    AND SUM(CASE WHEN NOT arm THEN 1 ELSE 0 END) > 0),
        |obs2 AS (
        |  SELECT *, ABS(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS d_obs
        |  FROM obs),
        |fan AS (
        |  SELECT g, v, b,
        |    ascii(substr(h, CAST(b AS INT) + 1, 1)) <= 55 AS parm
        |  FROM base CROSS JOIN (SELECT UNNEST(range(0, 32)) AS b)),
        |reps AS (
        |  SELECT g, b,
        |    CAST(SUM(CASE WHEN parm THEN 1 ELSE 0 END) AS BIGINT) AS m1,
        |    CAST(SUM(CASE WHEN parm THEN CAST(v AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS t1,
        |    CAST(SUM(CASE WHEN NOT parm THEN 1 ELSE 0 END) AS BIGINT) AS m0,
        |    CAST(SUM(CASE WHEN NOT parm THEN CAST(v AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS t0
        |  FROM fan GROUP BY g, b
        |  HAVING SUM(CASE WHEN parm THEN 1 ELSE 0 END) > 0
        |    AND SUM(CASE WHEN NOT parm THEN 1 ELSE 0 END) > 0),
        |nulls AS (
        |  SELECT reps.g, ABS(CAST(t1 AS DOUBLE) / CAST(m1 AS DOUBLE)
        |    - CAST(t0 AS DOUBLE) / CAST(m0 AS DOUBLE)) AS d_null,
        |    obs2.n1, obs2.n0, obs2.d_obs
        |  FROM reps JOIN obs2 ON obs2.g = reps.g)
        |SELECT g AS l_returnflag, MAX(n1) AS n_arm, MAX(n0) AS n_rest,
        |  MAX(d_obs) / 100.0 AS obs_diff,
        |  CAST(COUNT(*) AS BIGINT) AS n_replicates,
        |  CAST(SUM(CASE WHEN d_null >= d_obs THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_extreme,
        |  (CAST(SUM(CASE WHEN d_null >= d_obs THEN 1 ELSE 0 END)
        |      AS DOUBLE) + 1.0)
        |    / (CAST(COUNT(*) AS DOUBLE) + 1.0) AS p_value
        |FROM nulls GROUP BY g ORDER BY 1""".stripMargin),
    "q285_mcnemar" -> Query(q285Mcnemar,
      """WITH base AS (
        |  SELECT c_mktsegment AS f1, o_orderstatus AS f2,
        |    o_orderpriority AS c
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cls AS (SELECT c, COUNT(*) AS nc FROM base GROUP BY c),
        |l1 AS (SELECT f1, c, COUNT(*) AS n1 FROM base GROUP BY 1, 2),
        |l2 AS (SELECT f2, c, COUNT(*) AS n2 FROM base GROUP BY 1, 2),
        |scal AS (
        |  SELECT COUNT(*) AS n, COUNT(DISTINCT f1) AS v1,
        |    COUNT(DISTINCT f2) AS v2
        |  FROM base),
        |combos AS (SELECT DISTINCT f1, f2 FROM base),
        |grid AS (
        |  SELECT co.f1, co.f2, cls.c, cls.nc,
        |    COALESCE(l1.n1, 0) AS n1, COALESCE(l2.n2, 0) AS n2,
        |    s.n, s.v1, s.v2
        |  FROM combos co CROSS JOIN cls
        |  LEFT JOIN l1 ON l1.f1 = co.f1 AND l1.c = cls.c
        |  LEFT JOIN l2 ON l2.f2 = co.f2 AND l2.c = cls.c
        |  CROSS JOIN scal s),
        |pred AS (
        |  SELECT f1, f2, c AS predicted FROM (
        |    SELECT f1, f2, c,
        |      ROW_NUMBER() OVER (PARTITION BY f1, f2 ORDER BY
        |        CAST(nc AS DOUBLE) * CAST(n1 + 1 AS DOUBLE)
        |          * CAST(n2 + 1 AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * CAST(nc + v1 AS DOUBLE)
        |            * CAST(nc + v2 AS DOUBLE)) DESC, c) AS rk
        |    FROM grid) WHERE rk = 1),
        |major AS (
        |  SELECT c AS majority FROM (
        |    SELECT c, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, c) AS rk
        |    FROM base GROUP BY c) WHERE rk = 1),
        |j AS (
        |  SELECT base.c = pred.predicted AS a_ok,
        |    base.c = major.majority AS b_ok
        |  FROM base
        |  JOIN pred ON pred.f1 = base.f1 AND pred.f2 = base.f2
        |  CROSS JOIN major)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END)
        |    AS BIGINT) AS b,
        |  CAST(SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
        |    AS BIGINT) AS c,
        |  (CAST(SUM(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END)
        |      AS DOUBLE)
        |    - CAST(SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
        |      AS DOUBLE))
        |  * (CAST(SUM(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END)
        |      AS DOUBLE)
        |    - CAST(SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
        |      AS DOUBLE))
        |  / (CAST(SUM(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END)
        |      AS DOUBLE)
        |    + CAST(SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
        |      AS DOUBLE)) AS chi2_mcnemar
        |FROM j
        |HAVING SUM(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END)
        |  + SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END) > 0""".stripMargin),
    "q268_log_rank" -> Query(q268LogRank,
      """WITH ev AS (
        |  SELECT user_id AS u, CAST(epoch_us(ts) AS BIGINT) AS us,
        |    user_id % 2 = 0 AS arm, event_type = 'purchase' AS isd
        |  FROM events),
        |subj AS (
        |  SELECT MAX(arm) AS arm,
        |    (COALESCE(MIN(CASE WHEN isd THEN us END), MAX(us))
        |      - MIN(us)) // 86400000000 AS d,
        |    MIN(CASE WHEN isd THEN us END) IS NOT NULL AS event
        |  FROM ev GROUP BY u),
        |cells AS (
        |  SELECT arm, d,
        |    SUM(CASE WHEN event THEN 1 ELSE 0 END) AS dth,
        |    COUNT(*) AS tot
        |  FROM subj GROUP BY 1, 2),
        |times AS (
        |  SELECT d AS t FROM cells GROUP BY d
        |  HAVING SUM(dth) > 0),
        |risk AS (
        |  SELECT t,
        |    SUM(CASE WHEN arm THEN tot ELSE 0 END) AS n1,
        |    SUM(CASE WHEN NOT arm THEN tot ELSE 0 END) AS n0
        |  FROM times JOIN cells ON cells.d >= times.t
        |  GROUP BY 1),
        |death AS (
        |  SELECT d AS t,
        |    SUM(CASE WHEN arm THEN dth ELSE 0 END) AS d1,
        |    SUM(CASE WHEN NOT arm THEN dth ELSE 0 END) AS d0
        |  FROM cells GROUP BY 1),
        |terms AS (
        |  SELECT d1,
        |    CAST(CAST(d1 + d0 AS DOUBLE) * CAST(n1 AS DOUBLE)
        |      / CAST(n1 + n0 AS DOUBLE) AS DECIMAL(38,12)) AS e1,
        |    CAST(CAST(CAST(d1 + d0 AS DECIMAL(38,0))
        |        * CAST(n1 AS DECIMAL(38,0)) * CAST(n0 AS DECIMAL(38,0))
        |        * CAST(n1 + n0 - (d1 + d0) AS DECIMAL(38,0)) AS DOUBLE)
        |      / (CAST(n1 + n0 AS DOUBLE) * CAST(n1 + n0 AS DOUBLE)
        |        * CAST(n1 + n0 - 1 AS DOUBLE)) AS DECIMAL(38,12)) AS v
        |  FROM risk JOIN death USING (t)
        |  WHERE n1 + n0 > 1),
        |arms AS (
        |  SELECT SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS n_arm,
        |    SUM(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS n_rest
        |  FROM subj),
        |agg AS (
        |  SELECT SUM(d1) AS observed_a,
        |    CAST(CAST(SUM(e1) AS DECIMAL(38,12)) AS DOUBLE)
        |      AS expected_a,
        |    CAST(CAST(SUM(v) AS DECIMAL(38,12)) AS DOUBLE) AS variance
        |  FROM terms)
        |SELECT CAST(n_arm AS BIGINT) AS n_arm,
        |  CAST(n_rest AS BIGINT) AS n_rest,
        |  CAST(observed_a AS BIGINT) AS observed_a, expected_a, variance,
        |  (CAST(observed_a AS DOUBLE) - expected_a) / SQRT(variance) AS z
        |FROM agg CROSS JOIN arms""".stripMargin),
    "q267_kendall_tau" -> Query(q267KendallTau,
      """WITH cells AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
        |    COUNT(*) AS c
        |  FROM lineitem GROUP BY 1, 2, 3),
        |cd AS (
        |  SELECT a.g,
        |    CAST(COALESCE(SUM(CASE WHEN a.y < b.y THEN
        |      CAST(a.c AS DECIMAL(38,0)) * CAST(b.c AS DECIMAL(38,0))
        |      END), 0) AS DECIMAL(38,0)) AS cc,
        |    CAST(COALESCE(SUM(CASE WHEN a.y > b.y THEN
        |      CAST(a.c AS DECIMAL(38,0)) * CAST(b.c AS DECIMAL(38,0))
        |      END), 0) AS DECIMAL(38,0)) AS dc
        |  FROM cells a JOIN cells b ON a.g = b.g AND a.x < b.x
        |  GROUP BY 1),
        |nn AS (SELECT g, SUM(c) AS n FROM cells GROUP BY 1),
        |tx AS (
        |  SELECT g, CAST(SUM(CAST(t AS DECIMAL(38,0))
        |    * CAST(t - 1 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tx2
        |  FROM (SELECT g, x, SUM(c) AS t FROM cells GROUP BY 1, 2)
        |  GROUP BY 1),
        |ty AS (
        |  SELECT g, CAST(SUM(CAST(t AS DECIMAL(38,0))
        |    * CAST(t - 1 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ty2
        |  FROM (SELECT g, y, SUM(c) AS t FROM cells GROUP BY 1, 2)
        |  GROUP BY 1),
        |f AS (
        |  SELECT cd.g, nn.n, cd.cc, cd.dc,
        |    CAST(nn.n AS DECIMAL(38,0)) * CAST(nn.n - 1 AS DECIMAL(38,0))
        |      - tx.tx2 AS vx,
        |    CAST(nn.n AS DECIMAL(38,0)) * CAST(nn.n - 1 AS DECIMAL(38,0))
        |      - ty.ty2 AS vy
        |  FROM cd JOIN nn ON nn.g = cd.g JOIN tx ON tx.g = cd.g
        |  JOIN ty ON ty.g = cd.g)
        |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(cc AS DOUBLE) AS concordant, CAST(dc AS DOUBLE) AS discordant,
        |  (CAST(cc AS DOUBLE) - CAST(dc AS DOUBLE)) * 2.0
        |    / SQRT(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) AS tau_b
        |FROM f WHERE vx > 0 AND vy > 0 ORDER BY 1""".stripMargin),
    "q269_wasserstein" -> Query(q269Wasserstein,
      """WITH mid AS (
        |  SELECT (MIN(CAST(epoch_us(ts) AS BIGINT))
        |    + MAX(CAST(epoch_us(ts) AS BIGINT))) // 2 AS mid
        |  FROM events),
        |cells AS (
        |  SELECT event_type AS k, value AS v,
        |    SUM(CASE WHEN CAST(epoch_us(ts) AS BIGINT)
        |      < (SELECT mid FROM mid) THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN CAST(epoch_us(ts) AS BIGINT)
        |      < (SELECT mid FROM mid) THEN 0 ELSE 1 END) AS cb
        |  FROM events GROUP BY 1, 2),
        |cum AS (
        |  SELECT k, v, ca, cb,
        |    SUM(ca) OVER (PARTITION BY k ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cuma,
        |    SUM(cb) OVER (PARTITION BY k ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cumb,
        |    SUM(ca) OVER (PARTITION BY k) AS na,
        |    SUM(cb) OVER (PARTITION BY k) AS nb,
        |    LEAD(v) OVER (PARTITION BY k ORDER BY v) AS nextv
        |  FROM cells),
        |terms AS (
        |  SELECT k, na, nb,
        |    CAST(CAST(ABS(CAST(cuma AS DECIMAL(38,0))
        |        * CAST(nb AS DECIMAL(38,0))
        |      - CAST(cumb AS DECIMAL(38,0)) * CAST(na AS DECIMAL(38,0)))
        |      AS DOUBLE)
        |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
        |      * (nextv - v) AS DECIMAL(38,15)) AS term
        |  FROM cum
        |  WHERE nextv IS NOT NULL AND na > 0 AND nb > 0)
        |SELECT k AS event_type, CAST(MAX(na) AS BIGINT) AS n_a,
        |  CAST(MAX(nb) AS BIGINT) AS n_b,
        |  CAST(CAST(SUM(term) AS DECIMAL(38,15)) AS DOUBLE) AS w1
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin),
    "q263_js_divergence" -> Query(q263JsDivergence,
      """WITH cnt AS (
        |  SELECT event_type AS k, CAST(hour(ts) AS INT) AS h,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT k, CAST(gs.h AS INT) AS h
        |  FROM (SELECT DISTINCT k FROM cnt)
        |  CROSS JOIN (SELECT UNNEST(generate_series(0, 23)) AS h) gs),
        |full_h AS (
        |  SELECT g.k, g.h, COALESCE(c.c, 0) AS c
        |  FROM grid g LEFT JOIN cnt c ON c.k = g.k AND c.h = g.h),
        |p AS (
        |  SELECT k, h, CAST(c AS DOUBLE)
        |    / CAST(SUM(c) OVER (PARTITION BY k) AS DOUBLE) AS p
        |  FROM full_h),
        |pairs AS (
        |  SELECT a.k AS ka, b.k AS kb, a.p AS pa, b.p AS pb
        |  FROM p a JOIN p b ON a.h = b.h AND a.k < b.k),
        |terms AS (
        |  SELECT ka, kb, CAST((
        |    (CASE WHEN pa > 0
        |      THEN pa * LN(pa / ((pa + pb) / 2.0)) ELSE 0.0 END) +
        |    (CASE WHEN pb > 0
        |      THEN pb * LN(pb / ((pa + pb) / 2.0)) ELSE 0.0 END)) / 2.0
        |    AS DECIMAL(38,15)) AS term
        |  FROM pairs)
        |SELECT ka, kb,
        |  CAST(CAST(SUM(term) AS DECIMAL(38,15)) AS DOUBLE) AS jsd_nats,
        |  CAST(CAST(SUM(term) AS DECIMAL(38,15)) AS DOUBLE) / LN(2.0)
        |    AS jsd_bits
        |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q260_welch_ttest" -> Query(q260WelchTTest,
      """WITH cells AS (
        |  SELECT l_returnflag AS g, l_discount >= 0.05 AS arm,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
        |    CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT) AS DECIMAL(38,0))
        |      * CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss
        |  FROM lineitem GROUP BY 1, 2),
        |g AS (
        |  SELECT g,
        |    MAX(CASE WHEN arm THEN n END) AS n1,
        |    MAX(CASE WHEN arm THEN s END) AS s1,
        |    MAX(CASE WHEN arm THEN ss END) AS ss1,
        |    MAX(CASE WHEN NOT arm THEN n END) AS n2,
        |    MAX(CASE WHEN NOT arm THEN s END) AS s2,
        |    MAX(CASE WHEN NOT arm THEN ss END) AS ss2
        |  FROM cells GROUP BY g),
        |f AS (
        |  SELECT *,
        |    CAST(CAST(n1 AS DECIMAL(38,0)) * ss1 - s1 * s1 AS DOUBLE)
        |      / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)
        |        * CAST(n1 AS DOUBLE)) AS a1,
        |    CAST(CAST(n2 AS DECIMAL(38,0)) * ss2 - s2 * s2 AS DOUBLE)
        |      / (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)
        |        * CAST(n2 AS DOUBLE)) AS a2
        |  FROM g WHERE n1 >= 2 AND n2 >= 2)
        |SELECT g AS l_returnflag, n1 AS n_arm, n2 AS n_rest,
        |  (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 100.0
        |    AS mean_diff,
        |  (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / SQRT(a1 + a2)
        |    AS t_stat,
        |  (a1 + a2) * (a1 + a2) / (a1 * a1 / CAST(n1 - 1 AS DOUBLE)
        |    + a2 * a2 / CAST(n2 - 1 AS DOUBLE)) AS welch_df
        |FROM f ORDER BY 1""".stripMargin),
    "q261_avg_precision" -> Query(q261AvgPrecision,
      """WITH j AS (
        |  SELECT c_mktsegment AS g, o_totalprice AS v, o_orderkey AS k,
        |    o_orderstatus = 'F' AS pos
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (
        |  SELECT g, pos,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC, k) AS rn,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY g ORDER BY v DESC, k
        |      ROWS UNBOUNDED PRECEDING) AS cp
        |  FROM j),
        |a AS (
        |  SELECT g, COUNT(*) AS n,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
        |    SUM(CASE WHEN pos THEN CAST(CAST(cp AS DOUBLE)
        |      / CAST(rn AS DOUBLE) AS DECIMAL(38,15)) END) AS sp
        |  FROM r GROUP BY g)
        |SELECT g AS c_mktsegment, n, CAST(np AS BIGINT) AS n_pos,
        |  CAST(sp AS DOUBLE) / CAST(np AS DOUBLE) AS avg_precision
        |FROM a WHERE np > 0 ORDER BY 1""".stripMargin),
    "q262_cohens_kappa" -> Query(q262CohensKappa,
      """WITH base AS (
        |  SELECT c_mktsegment AS f1, o_orderstatus AS f2,
        |    o_orderpriority AS c
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cls AS (SELECT c, COUNT(*) AS nc FROM base GROUP BY c),
        |l1 AS (SELECT f1, c, COUNT(*) AS n1 FROM base GROUP BY 1, 2),
        |l2 AS (SELECT f2, c, COUNT(*) AS n2 FROM base GROUP BY 1, 2),
        |scal AS (
        |  SELECT COUNT(*) AS n, COUNT(DISTINCT f1) AS v1,
        |    COUNT(DISTINCT f2) AS v2
        |  FROM base),
        |combos AS (SELECT DISTINCT f1, f2 FROM base),
        |grid AS (
        |  SELECT co.f1, co.f2, cls.c, cls.nc,
        |    COALESCE(l1.n1, 0) AS n1, COALESCE(l2.n2, 0) AS n2,
        |    s.n, s.v1, s.v2
        |  FROM combos co CROSS JOIN cls
        |  LEFT JOIN l1 ON l1.f1 = co.f1 AND l1.c = cls.c
        |  LEFT JOIN l2 ON l2.f2 = co.f2 AND l2.c = cls.c
        |  CROSS JOIN scal s),
        |pred AS (
        |  SELECT f1, f2, c AS predicted FROM (
        |    SELECT f1, f2, c,
        |      ROW_NUMBER() OVER (PARTITION BY f1, f2 ORDER BY
        |        CAST(nc AS DOUBLE) * CAST(n1 + 1 AS DOUBLE)
        |          * CAST(n2 + 1 AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * CAST(nc + v1 AS DOUBLE)
        |            * CAST(nc + v2 AS DOUBLE)) DESC, c) AS rk
        |    FROM grid) WHERE rk = 1),
        |cells AS (
        |  SELECT b.c AS act, p.predicted AS prd, COUNT(*) AS ncell
        |  FROM base b JOIN pred p ON b.f1 = p.f1 AND b.f2 = p.f2
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT *, SUM(ncell) OVER () AS n,
        |    SUM(ncell) OVER (PARTITION BY act) AS ra,
        |    SUM(ncell) OVER (PARTITION BY prd) AS cb
        |  FROM cells),
        |agg AS (
        |  SELECT MAX(n) AS n,
        |    SUM(CASE WHEN act = prd THEN ncell ELSE 0 END) AS agree,
        |    CAST(SUM(CASE WHEN act = prd THEN
        |      CAST(ra AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0)) END)
        |      AS DECIMAL(38,0)) AS pe_num
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
        |  CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS p_o,
        |  CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |    AS p_e,
        |  (CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
        |    - CAST(pe_num AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |    / (1.0 - CAST(pe_num AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS kappa
        |FROM agg""".stripMargin),
    "q259_woe_iv" -> Query(q259WoeIv,
      """WITH cuts AS (
        |  SELECT [quantile_cont(o_totalprice, 0.1),
        |    quantile_cont(o_totalprice, 0.2), quantile_cont(o_totalprice, 0.3),
        |    quantile_cont(o_totalprice, 0.4), quantile_cont(o_totalprice, 0.5),
        |    quantile_cont(o_totalprice, 0.6), quantile_cont(o_totalprice, 0.7),
        |    quantile_cont(o_totalprice, 0.8), quantile_cont(o_totalprice, 0.9)]
        |    AS cs
        |  FROM orders),
        |b AS (
        |  SELECT CAST(
        |      (CASE WHEN o_totalprice > cs[1] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[2] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[3] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[4] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[5] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[6] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[7] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[8] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[9] THEN 1 ELSE 0 END)
        |      AS BIGINT) AS bin,
        |    o_orderstatus = 'F' AS pos
        |  FROM orders, cuts),
        |bins AS (
        |  SELECT bin, SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS nn
        |  FROM b GROUP BY bin),
        |t AS (
        |  SELECT *, SUM(np) OVER () AS tp, SUM(nn) OVER () AS tn
        |  FROM bins),
        |woe AS (
        |  SELECT *,
        |    LN(((CAST(np AS DOUBLE) + 0.5) / (CAST(tp AS DOUBLE) + 0.5))
        |      / ((CAST(nn AS DOUBLE) + 0.5)
        |        / (CAST(tn AS DOUBLE) + 0.5))) AS woe,
        |    CAST((((CAST(np AS DOUBLE) + 0.5) / (CAST(tp AS DOUBLE) + 0.5))
        |      - ((CAST(nn AS DOUBLE) + 0.5) / (CAST(tn AS DOUBLE) + 0.5)))
        |      * LN(((CAST(np AS DOUBLE) + 0.5)
        |        / (CAST(tp AS DOUBLE) + 0.5))
        |        / ((CAST(nn AS DOUBLE) + 0.5)
        |          / (CAST(tn AS DOUBLE) + 0.5))) AS DECIMAL(38,12))
        |      AS iv_term
        |  FROM t)
        |SELECT bin, CAST(np AS BIGINT) AS n_pos,
        |  CAST(nn AS BIGINT) AS n_neg, woe,
        |  CAST(SUM(iv_term) OVER () AS DOUBLE) AS iv
        |FROM woe ORDER BY bin""".stripMargin),
    "q257_rolling_ols" -> Query(q257RollingOls,
      """WITH cells AS (
        |  SELECT event_type AS k,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS b,
        |    CAST(CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,6))
        |      * 1000000 AS BIGINT)) AS DECIMAL(38,0)) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) / 1e6 AS DECIMAL(16,8)) AS m
        |  FROM events GROUP BY 1, 2),
        |centered AS (
        |  SELECT *, CAST(b - MIN(b) OVER (PARTITION BY k)
        |    AS DECIMAL(12,0)) AS bb
        |  FROM cells),
        |win AS (
        |  SELECT k, b,
        |    CAST(COUNT(*) OVER w AS DECIMAL(4,0)) AS nw,
        |    CAST(SUM(bb) OVER w AS DECIMAL(12,0)) AS sx,
        |    CAST(SUM(m) OVER w AS DECIMAL(20,8)) AS sy,
        |    CAST(SUM(CAST(bb * m AS DECIMAL(28,8))) OVER w
        |      AS DECIMAL(28,8)) AS sxy,
        |    CAST(SUM(CAST(bb * bb AS DECIMAL(25,0))) OVER w
        |      AS DECIMAL(28,0)) AS sxx
        |  FROM centered
        |  WINDOW w AS (PARTITION BY k ORDER BY b
        |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT k AS event_type, b AS bucket,
        |  CAST(nw AS BIGINT) AS n_window,
        |  CAST(nw * sxy - sx * sy AS DOUBLE)
        |    / CAST(nw * sxx - sx * sx AS DOUBLE) AS slope
        |FROM win
        |WHERE nw >= 3 AND nw * sxx - sx * sx > 0
        |ORDER BY event_type, bucket""".stripMargin),
    "q258_qini_curve" -> Query(q258QiniCurve,
      """WITH cuts AS (
        |  SELECT [quantile_cont(l_extendedprice, 0.1),
        |    quantile_cont(l_extendedprice, 0.2),
        |    quantile_cont(l_extendedprice, 0.3),
        |    quantile_cont(l_extendedprice, 0.4),
        |    quantile_cont(l_extendedprice, 0.5),
        |    quantile_cont(l_extendedprice, 0.6),
        |    quantile_cont(l_extendedprice, 0.7),
        |    quantile_cont(l_extendedprice, 0.8),
        |    quantile_cont(l_extendedprice, 0.9)] AS cs
        |  FROM lineitem),
        |b AS (
        |  SELECT CAST(
        |      (CASE WHEN l_extendedprice > cs[1] THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > cs[2] THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > cs[3] THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > cs[4] THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > cs[5] THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > cs[6] THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > cs[7] THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > cs[8] THEN 1 ELSE 0 END) +
        |      (CASE WHEN l_extendedprice > cs[9] THEN 1 ELSE 0 END)
        |      AS BIGINT) AS bin,
        |    l_discount >= 0.05 AS t, l_returnflag = 'R' AS pos
        |  FROM lineitem, cuts),
        |bins AS (
        |  SELECT bin,
        |    SUM(CASE WHEN t THEN 1 ELSE 0 END) AS nt,
        |    SUM(CASE WHEN t AND pos THEN 1 ELSE 0 END) AS pt,
        |    SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS nc,
        |    SUM(CASE WHEN NOT t AND pos THEN 1 ELSE 0 END) AS pc
        |  FROM b GROUP BY bin),
        |cum AS (
        |  SELECT *,
        |    SUM(nt) OVER (ORDER BY bin DESC) AS cnt,
        |    SUM(pt) OVER (ORDER BY bin DESC) AS cpt,
        |    SUM(nc) OVER (ORDER BY bin DESC) AS cnc,
        |    SUM(pc) OVER (ORDER BY bin DESC) AS cpc,
        |    SUM(nt) OVER () AS tnt, SUM(pt) OVER () AS tpt,
        |    SUM(nc) OVER () AS tnc, SUM(pc) OVER () AS tpc
        |  FROM bins)
        |SELECT bin, CAST(nt AS BIGINT) AS nt, CAST(pt AS BIGINT) AS pt,
        |  CAST(nc AS BIGINT) AS nc, CAST(pc AS BIGINT) AS pc,
        |  CAST(cpt AS DOUBLE) - CAST(cpc AS DOUBLE) * CAST(cnt AS DOUBLE)
        |    / CAST(cnc AS DOUBLE) AS qini,
        |  (CAST(tpt AS DOUBLE) - CAST(tpc AS DOUBLE) * CAST(tnt AS DOUBLE)
        |    / CAST(tnc AS DOUBLE)) * (CAST(cnt AS DOUBLE)
        |    / CAST(tnt AS DOUBLE)) AS qini_random,
        |  (CAST(cpt AS DOUBLE) - CAST(cpc AS DOUBLE) * CAST(cnt AS DOUBLE)
        |    / CAST(cnc AS DOUBLE))
        |  - (CAST(tpt AS DOUBLE) - CAST(tpc AS DOUBLE)
        |    * CAST(tnt AS DOUBLE) / CAST(tnc AS DOUBLE))
        |    * (CAST(cnt AS DOUBLE) / CAST(tnt AS DOUBLE)) AS qini_gap
        |FROM cum WHERE cnc > 0 ORDER BY bin DESC""".stripMargin),
    "q255_covariate_balance" -> Query(q255CovariateBalance,
      """WITH fan AS (
        |  SELECT l_discount >= 0.05 AS t,
        |    unnest(['l_extendedprice', 'l_quantity', 'l_tax']) AS cv,
        |    unnest([
        |      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT),
        |      CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT),
        |      CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT)]) AS y
        |  FROM lineitem),
        |per AS (
        |  SELECT cv, t, COUNT(*) AS n,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sq
        |  FROM fan GROUP BY 1, 2),
        |g AS (
        |  SELECT cv,
        |    SUM(CASE WHEN NOT t THEN n END) AS n0,
        |    CAST(SUM(CASE WHEN NOT t THEN s END) AS DECIMAL(38,0)) AS s0,
        |    CAST(SUM(CASE WHEN NOT t THEN sq END) AS DECIMAL(38,0)) AS sq0,
        |    SUM(CASE WHEN t THEN n END) AS n1,
        |    CAST(SUM(CASE WHEN t THEN s END) AS DECIMAL(38,0)) AS s1,
        |    CAST(SUM(CASE WHEN t THEN sq END) AS DECIMAL(38,0)) AS sq1
        |  FROM per GROUP BY cv),
        |f AS (
        |  SELECT cv, n0, n1,
        |    CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 100.0 AS m0,
        |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0 AS m1,
        |    (CAST(sq0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
        |      / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0) / 1e4
        |      AS v0,
        |    (CAST(sq1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |      / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) / 1e4
        |      AS v1
        |  FROM g)
        |SELECT cv AS covariate, CAST(n0 AS BIGINT) AS n_control,
        |  CAST(n1 AS BIGINT) AS n_treated,
        |  m0 AS mean_control, m1 AS mean_treated,
        |  CASE WHEN v0 + v1 > 0
        |    THEN (m1 - m0) / SQRT((v0 + v1) / 2.0) ELSE 0.0 END AS smd,
        |  CASE WHEN v0 + v1 > 0
        |    THEN ABS((m1 - m0) / SQRT((v0 + v1) / 2.0)) <= 0.1
        |    ELSE TRUE END AS balanced
        |FROM f ORDER BY covariate""".stripMargin),
    "q256_price_elasticity" -> Query(q256PriceElasticity,
      """WITH pp AS (
        |  SELECT l_returnflag AS g, l_partkey AS p, COUNT(*) AS n,
        |    CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * 100 AS BIGINT) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS spr,
        |    CAST(SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |      * 100 AS BIGINT) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sqy
        |  FROM lineitem GROUP BY 1, 2),
        |xy AS (
        |  SELECT g,
        |    CAST(LN(CAST(spr AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)
        |      AS DECIMAL(18,12)) AS x,
        |    CAST(LN(CAST(sqy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)
        |      AS DECIMAL(18,12)) AS y
        |  FROM pp WHERE spr > 0 AND sqy > 0),
        |m AS (
        |  SELECT g, COUNT(*) AS n,
        |    CAST(SUM(x) AS DECIMAL(38,12)) AS sx,
        |    CAST(SUM(y) AS DECIMAL(38,12)) AS sy,
        |    CAST(SUM(x * y) AS DECIMAL(38,24)) AS sxy,
        |    CAST(SUM(x * x) AS DECIMAL(38,24)) AS sxx,
        |    CAST(SUM(y * y) AS DECIMAL(38,24)) AS syy
        |  FROM xy GROUP BY g)
        |SELECT g AS l_returnflag, n AS n_parts,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS elasticity,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
        |    ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS r2
        |FROM m
        |WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |ORDER BY l_returnflag""".stripMargin),
    "q253_rake_keyphrases" -> Query(q253RakeKeyphrases,
      """WITH d AS (
        |  SELECT doc_id AS doc,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
        |      AS arr
        |  FROM documents WHERE lang = 'en'),
        |toks AS (
        |  SELECT doc, CAST(u.i AS BIGINT) AS pos,
        |    arr[CAST(u.i AS INTEGER)] AS tok
        |  FROM d, unnest(range(1, len(arr) + 1)) AS u(i)),
        |marked AS (
        |  SELECT *, tok IN ('the','a','and','of','to','in','is','that',
        |    'it','for') AS isstop
        |  FROM toks),
        |numbered AS (
        |  SELECT doc, pos, tok, isstop,
        |    SUM(CASE WHEN isstop THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc ORDER BY pos) AS pid
        |  FROM marked),
        |content AS (SELECT doc, pos, tok, pid FROM numbered
        |  WHERE NOT isstop),
        |phrases AS (
        |  SELECT doc, pid, COUNT(*) AS plen,
        |    string_agg(tok, ' ' ORDER BY pos) AS phrase
        |  FROM content GROUP BY doc, pid HAVING COUNT(*) <= 4),
        |ws AS (
        |  SELECT c.tok,
        |    CAST(CAST(SUM(p.plen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |      AS DECIMAL(28,12)) AS wscore
        |  FROM content c JOIN phrases p
        |    ON c.doc = p.doc AND c.pid = p.pid
        |  GROUP BY c.tok),
        |scored AS (
        |  SELECT c.doc, c.pid, p.phrase,
        |    CAST(SUM(w.wscore) AS DECIMAL(38,12)) AS pscore
        |  FROM content c
        |  JOIN phrases p ON c.doc = p.doc AND c.pid = p.pid
        |  JOIN ws w ON c.tok = w.tok
        |  GROUP BY 1, 2, 3)
        |SELECT phrase, COUNT(*) AS n_occurrences,
        |  CAST(MIN(pscore) AS DOUBLE) AS score
        |FROM scored GROUP BY phrase
        |ORDER BY score DESC, phrase LIMIT 20""".stripMargin),
    "q254_source_overlap" -> Query(q254SourceOverlap,
      """WITH keyed AS (
        |  SELECT DISTINCT source AS src,
        |    array_to_string(list_sort(list_filter(
        |      regexp_split_to_array(text, '\s+'), x -> x <> '')), ' ')
        |      AS key
        |  FROM documents),
        |counts AS (SELECT src, COUNT(*) AS n FROM keyed GROUP BY src),
        |co AS (
        |  SELECT a.src AS sa, b.src AS sb, COUNT(*) AS co
        |  FROM keyed a JOIN keyed b ON a.key = b.key AND a.src < b.src
        |  GROUP BY 1, 2)
        |SELECT sa AS source_a, sb AS source_b, ca.n AS na, cb.n AS nb,
        |  co.co,
        |  CAST(co.co AS DOUBLE) / CAST(ca.n + cb.n - co.co AS DOUBLE)
        |    AS jaccard
        |FROM co JOIN counts ca ON co.sa = ca.src
        |JOIN counts cb ON co.sb = cb.src
        |ORDER BY source_a, source_b""".stripMargin),
    "q251_power_analysis" -> Query(q251PowerAnalysis,
      """WITH q AS (
        |  SELECT o_orderkey % 2 AS v,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM orders),
        |m AS (
        |  SELECT v, COUNT(*) AS n,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sq
        |  FROM q GROUP BY v),
        |g AS (
        |  SELECT SUM(n) AS n, CAST(SUM(s) AS DECIMAL(38,0)) AS s,
        |    CAST(SUM(sq) AS DECIMAL(38,0)) AS sq,
        |    SUM(CASE WHEN v = 0 THEN n END) AS na,
        |    CAST(SUM(CASE WHEN v = 0 THEN s END) AS DECIMAL(38,0)) AS sa,
        |    SUM(CASE WHEN v = 1 THEN n END) AS nb,
        |    CAST(SUM(CASE WHEN v = 1 THEN s END) AS DECIMAL(38,0)) AS sb
        |  FROM m),
        |grid AS (SELECT unnest([1, 2, 5, 10]) AS mde_rel_pct)
        |SELECT CAST(mde_rel_pct AS BIGINT) AS mde_rel_pct,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS pilot_mean,
        |  (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |    / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 1e4
        |    AS pilot_var,
        |  (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
        |    - CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) / 100.0
        |    AS observed_delta,
        |  CAST(CEIL(2.0 * ((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE)
        |      * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1.0)) * 7.84888
        |    / ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |        * CAST(mde_rel_pct AS DOUBLE) / 100.0)
        |      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |        * CAST(mde_rel_pct AS DOUBLE) / 100.0))) AS BIGINT)
        |    AS n_per_variant,
        |  CASE WHEN CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
        |      - CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) <> 0.0 THEN
        |    CAST(CEIL(2.0 * ((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE)
        |        * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |        / (CAST(n AS DOUBLE) - 1.0)) * 7.84888
        |      / ((CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
        |          - CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
        |        * (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
        |          - CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))))
        |      AS BIGINT) END AS n_for_observed
        |FROM g, grid ORDER BY mde_rel_pct""".stripMargin),
    "q252_qte" -> Query(q252Qte,
      """WITH q AS (
        |  SELECT l_discount >= 0.05 AS t,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS y
        |  FROM lineitem),
        |per AS (
        |  SELECT t, COUNT(*) AS n,
        |    [quantile_cont(y, 0.1), quantile_cont(y, 0.2),
        |     quantile_cont(y, 0.3), quantile_cont(y, 0.4),
        |     quantile_cont(y, 0.5), quantile_cont(y, 0.6),
        |     quantile_cont(y, 0.7), quantile_cont(y, 0.8),
        |     quantile_cont(y, 0.9)] AS qs
        |  FROM q GROUP BY t),
        |e AS (
        |  SELECT t, n, i.i AS i, qs[i.i] AS qv
        |  FROM per, (SELECT unnest(range(1, 10)) AS i) i)
        |SELECT CAST(a.i * 10 AS BIGINT) AS percentile,
        |  a.n AS n_treated, b.n AS n_control,
        |  a.qv / 100.0 AS q_treated, b.qv / 100.0 AS q_control,
        |  (a.qv - b.qv) / 100.0 AS qte
        |FROM e a JOIN e b ON a.i = b.i AND a.t AND NOT b.t
        |ORDER BY percentile""".stripMargin),
    "q249_two_way_anova" -> Query(q249TwoWayAnova,
      """WITH q AS (
        |  SELECT o_orderpriority AS a, c_mktsegment AS b,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (
        |  SELECT a, b, COUNT(*) AS n,
        |    CAST(SUM(CAST(t AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
        |    CAST(SUM(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sq
        |  FROM q GROUP BY 1, 2),
        |bya AS (
        |  SELECT COUNT(*) AS ka,
        |    CAST(SUM(CAST(CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
        |      / CAST(na AS DOUBLE) AS DECIMAL(38,6))) AS DECIMAL(38,6))
        |      AS ta
        |  FROM (SELECT a, SUM(n) AS na,
        |    CAST(SUM(s) AS DECIMAL(38,0)) AS sa FROM cells GROUP BY a)),
        |byb AS (
        |  SELECT COUNT(*) AS kb,
        |    CAST(SUM(CAST(CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
        |      / CAST(nb AS DOUBLE) AS DECIMAL(38,6))) AS DECIMAL(38,6))
        |      AS tb
        |  FROM (SELECT b, SUM(n) AS nb,
        |    CAST(SUM(s) AS DECIMAL(38,0)) AS sb FROM cells GROUP BY b)),
        |bycell AS (
        |  SELECT COUNT(*) AS kab, SUM(n) AS nn,
        |    CAST(SUM(s) AS DECIMAL(38,0)) AS ss,
        |    CAST(SUM(sq) AS DECIMAL(38,0)) AS sqq,
        |    CAST(SUM(CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS DECIMAL(38,6))) AS DECIMAL(38,6))
        |      AS tab
        |  FROM cells),
        |j AS (SELECT * FROM bycell, bya, byb)
        |SELECT ka, kb, CAST(nn AS BIGINT) AS n,
        |  (CAST(ta AS DOUBLE) - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
        |    / CAST(nn AS DOUBLE)) / 1e4 AS ssa,
        |  (CAST(tb AS DOUBLE) - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
        |    / CAST(nn AS DOUBLE)) / 1e4 AS ssb,
        |  (CAST(tab AS DOUBLE) - CAST(ta AS DOUBLE) - CAST(tb AS DOUBLE)
        |    + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))
        |    / 1e4 AS ssab,
        |  (CAST(sqq AS DOUBLE) - CAST(tab AS DOUBLE)) / 1e4 AS ssw,
        |  CASE WHEN CAST(sqq AS DOUBLE) - CAST(tab AS DOUBLE) > 0 THEN
        |  (((CAST(ta AS DOUBLE) - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
        |    / CAST(nn AS DOUBLE)) / 1e4) / (CAST(ka AS DOUBLE) - 1.0))
        |  / (((CAST(sqq AS DOUBLE) - CAST(tab AS DOUBLE)) / 1e4)
        |    / (CAST(nn AS DOUBLE) - CAST(kab AS DOUBLE))) END AS f_a,
        |  CASE WHEN CAST(sqq AS DOUBLE) - CAST(tab AS DOUBLE) > 0 THEN
        |  (((CAST(tb AS DOUBLE) - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
        |    / CAST(nn AS DOUBLE)) / 1e4) / (CAST(kb AS DOUBLE) - 1.0))
        |  / (((CAST(sqq AS DOUBLE) - CAST(tab AS DOUBLE)) / 1e4)
        |    / (CAST(nn AS DOUBLE) - CAST(kab AS DOUBLE))) END AS f_b,
        |  CASE WHEN CAST(sqq AS DOUBLE) - CAST(tab AS DOUBLE) > 0 THEN
        |  (((CAST(tab AS DOUBLE) - CAST(ta AS DOUBLE) - CAST(tb AS DOUBLE)
        |    + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))
        |    / 1e4) / ((CAST(ka AS DOUBLE) - 1.0)
        |      * (CAST(kb AS DOUBLE) - 1.0)))
        |  / (((CAST(sqq AS DOUBLE) - CAST(tab AS DOUBLE)) / 1e4)
        |    / (CAST(nn AS DOUBLE) - CAST(kab AS DOUBLE))) END AS f_ab
        |FROM j""".stripMargin),
    "q250_cuped" -> Query(q250Cuped,
      """WITH mid AS (
        |  SELECT (MIN(CAST(epoch_us(ts) AS BIGINT))
        |    + MAX(CAST(epoch_us(ts) AS BIGINT))) // 2 AS mid FROM events),
        |pu AS (
        |  SELECT user_id AS u,
        |    CAST(SUM(CASE WHEN CAST(epoch_us(ts) AS BIGINT)
        |        < (SELECT mid FROM mid)
        |      THEN CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
        |        AS BIGINT) AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS x,
        |    CAST(SUM(CASE WHEN CAST(epoch_us(ts) AS BIGINT)
        |        >= (SELECT mid FROM mid)
        |      THEN CAST(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
        |        AS BIGINT) AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS y,
        |    user_id % 2 AS variant
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT variant, COUNT(*) AS n,
        |    CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
        |    CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
        |    CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy
        |  FROM pu GROUP BY variant),
        |g AS (
        |  SELECT *, SUM(n) OVER () AS gn,
        |    CAST(SUM(sx) OVER () AS DECIMAL(38,0)) AS gsx,
        |    CAST(SUM(sy) OVER () AS DECIMAL(38,0)) AS gsy,
        |    CAST(SUM(sxy) OVER () AS DECIMAL(38,0)) AS gsxy,
        |    CAST(SUM(sxx) OVER () AS DECIMAL(38,0)) AS gsxx,
        |    CAST(SUM(syy) OVER () AS DECIMAL(38,0)) AS gsyy
        |  FROM m)
        |SELECT variant, n,
        |  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS mean_y,
        |  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1e6
        |    - ((CAST(gn AS DOUBLE) * CAST(gsxy AS DOUBLE)
        |        - CAST(gsx AS DOUBLE) * CAST(gsy AS DOUBLE))
        |      / (CAST(gn AS DOUBLE) * CAST(gsxx AS DOUBLE)
        |        - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE)))
        |      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1e6
        |        - CAST(gsx AS DOUBLE) / CAST(gn AS DOUBLE) / 1e6)
        |    AS mean_y_cuped,
        |  ((CAST(gn AS DOUBLE) * CAST(gsxy AS DOUBLE)
        |      - CAST(gsx AS DOUBLE) * CAST(gsy AS DOUBLE))
        |    * (CAST(gn AS DOUBLE) * CAST(gsxy AS DOUBLE)
        |      - CAST(gsx AS DOUBLE) * CAST(gsy AS DOUBLE)))
        |  / ((CAST(gn AS DOUBLE) * CAST(gsxx AS DOUBLE)
        |      - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE))
        |    * (CAST(gn AS DOUBLE) * CAST(gsyy AS DOUBLE)
        |      - CAST(gsy AS DOUBLE) * CAST(gsy AS DOUBLE))) AS rho2,
        |  ((CAST(gn AS DOUBLE) * CAST(gsxy AS DOUBLE)
        |      - CAST(gsx AS DOUBLE) * CAST(gsy AS DOUBLE))
        |    * (CAST(gn AS DOUBLE) * CAST(gsxy AS DOUBLE)
        |      - CAST(gsx AS DOUBLE) * CAST(gsy AS DOUBLE)))
        |  / ((CAST(gn AS DOUBLE) * CAST(gsxx AS DOUBLE)
        |      - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE))
        |    * (CAST(gn AS DOUBLE) * CAST(gsyy AS DOUBLE)
        |      - CAST(gsy AS DOUBLE) * CAST(gsy AS DOUBLE)))
        |    AS var_reduction
        |FROM g ORDER BY variant""".stripMargin),
    "q247_theil_sen" -> Query(q247TheilSen,
      """WITH cells AS (
        |  SELECT event_type AS k,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS b,
        |    CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
        |      AS BIGINT)) AS DECIMAL(38,0)) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) / 1e6 AS m
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.k, a.b AS b1, b.b AS b2,
        |    (b.m - a.m) / CAST(b.b - a.b AS DOUBLE) AS slope
        |  FROM cells a JOIN cells b ON a.k = b.k AND a.b < b.b),
        |ranked AS (
        |  SELECT *, COUNT(*) OVER (PARTITION BY k) AS np,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY slope, b1, b2)
        |      AS rk
        |  FROM pairs)
        |SELECT k AS event_type, np AS n_pairs, slope AS theil_sen_slope
        |FROM ranked WHERE rk = (np + 1) // 2
        |ORDER BY event_type""".stripMargin),
    "q248_item_knn" -> Query(q248ItemKnn,
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |counts AS (SELECT it, COUNT(*) AS n FROM bi GROUP BY it),
        |co AS (
        |  SELECT a.it AS ia, b.it AS ib, COUNT(*) AS co
        |  FROM bi a JOIN bi b ON a.bk = b.bk AND a.it <> b.it
        |  WHERE a.it < 50 GROUP BY 1, 2),
        |scored AS (
        |  SELECT co.ia, co.ib, co.co,
        |    CAST(co.co AS DOUBLE)
        |      / SQRT(CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE))
        |      AS cosine
        |  FROM co JOIN counts ca ON co.ia = ca.it
        |  JOIN counts cb ON co.ib = cb.it),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY ia
        |    ORDER BY cosine DESC, ib) AS rank
        |  FROM scored)
        |SELECT ia AS l_partkey, CAST(rank AS BIGINT) AS rank,
        |  ib AS neighbor, co, cosine
        |FROM ranked WHERE rank <= 10
        |ORDER BY l_partkey, rank""".stripMargin),
    "q245_conformal_interval" -> Query(q245ConformalInterval,
      """WITH base AS (
        |  SELECT o_orderpriority AS cat, o_orderkey % 3 AS fold,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
        |    o_orderkey AS tie
        |  FROM orders),
        |train AS (
        |  SELECT cat, COUNT(*) AS n_train,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s
        |  FROM base WHERE fold = 0 GROUP BY cat),
        |cal AS (
        |  SELECT b.cat, b.tie,
        |    CAST(ABS(CAST(b.y AS DECIMAL(38,0))
        |      * CAST(t.n_train AS DECIMAL(38,0)) - t.s)
        |      AS DECIMAL(38,0)) AS num
        |  FROM base b JOIN train t ON b.cat = t.cat WHERE b.fold = 1),
        |ranked AS (
        |  SELECT *, COUNT(*) OVER (PARTITION BY cat) AS n_cal,
        |    ((COUNT(*) OVER (PARTITION BY cat) + 1) * 9 + 9) // 10 AS k,
        |    ROW_NUMBER() OVER (PARTITION BY cat ORDER BY num, tie) AS rk
        |  FROM cal),
        |qhat AS (
        |  SELECT cat, n_cal, num AS qnum FROM ranked
        |  WHERE rk = LEAST(k, n_cal)),
        |test AS (
        |  SELECT b.cat, COUNT(*) AS n_test,
        |    SUM(CASE WHEN CAST(ABS(CAST(b.y AS DECIMAL(38,0))
        |        * CAST(t.n_train AS DECIMAL(38,0)) - t.s)
        |        AS DECIMAL(38,0)) <= q.qnum THEN 1 ELSE 0 END)
        |      AS n_covered
        |  FROM base b JOIN train t ON b.cat = t.cat
        |  JOIN qhat q ON b.cat = q.cat
        |  WHERE b.fold = 2 GROUP BY b.cat)
        |SELECT t.cat AS o_orderpriority, t.n_train, q.n_cal, e.n_test,
        |  CAST(t.s AS DOUBLE) / CAST(t.n_train AS DOUBLE) / 100.0 AS pred,
        |  CAST(q.qnum AS DOUBLE) / CAST(t.n_train AS DOUBLE) / 100.0
        |    AS q_hat,
        |  CAST(e.n_covered AS DOUBLE) / CAST(e.n_test AS DOUBLE)
        |    AS coverage
        |FROM train t JOIN qhat q ON t.cat = q.cat
        |JOIN test e ON t.cat = e.cat
        |ORDER BY o_orderpriority""".stripMargin),
    "q246_hard_negatives" -> Query(q246HardNegatives,
      """WITH probes AS (
        |  SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pv,
        |    label AS plbl
        |  FROM embeddings WHERE vec_id < 20),
        |ranked AS (
        |  SELECT p.pid, e.vec_id AS neg_id, e.label AS neg_label,
        |    ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY
        |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv)
        |        DESC, e.vec_id) AS rank
        |  FROM embeddings e CROSS JOIN probes p
        |  WHERE e.label <> p.plbl)
        |SELECT pid AS vec_id, CAST(rank AS BIGINT) AS rank, neg_id,
        |  neg_label
        |FROM ranked WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin),
    "q243_table_checksum" -> Query(q243TableChecksum,
      """WITH rows_c AS (
        |  SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE)
        |      AS VARCHAR) AS slice,
        |    md5(CAST(o_orderkey AS VARCHAR) || '|'
        |      || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|'
        |      || CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT) AS VARCHAR) || '|'
        |      || CAST(CAST(epoch_us(o_orderdate) AS BIGINT) AS VARCHAR)
        |      || '|' || o_orderpriority) AS h
        |  FROM orders),
        |hashed AS (
        |  SELECT slice,
        |    CAST(CASE WHEN ascii(substring(h,1,1)) >= 97
        |      THEN ascii(substring(h,1,1)) - 87
        |      ELSE ascii(substring(h,1,1)) - 48 END AS BIGINT) * 17592186044416 +
        |    CAST(CASE WHEN ascii(substring(h,2,1)) >= 97
        |      THEN ascii(substring(h,2,1)) - 87
        |      ELSE ascii(substring(h,2,1)) - 48 END AS BIGINT) * 1099511627776 +
        |    CAST(CASE WHEN ascii(substring(h,3,1)) >= 97
        |      THEN ascii(substring(h,3,1)) - 87
        |      ELSE ascii(substring(h,3,1)) - 48 END AS BIGINT) * 68719476736 +
        |    CAST(CASE WHEN ascii(substring(h,4,1)) >= 97
        |      THEN ascii(substring(h,4,1)) - 87
        |      ELSE ascii(substring(h,4,1)) - 48 END AS BIGINT) * 4294967296 +
        |    CAST(CASE WHEN ascii(substring(h,5,1)) >= 97
        |      THEN ascii(substring(h,5,1)) - 87
        |      ELSE ascii(substring(h,5,1)) - 48 END AS BIGINT) * 268435456 +
        |    CAST(CASE WHEN ascii(substring(h,6,1)) >= 97
        |      THEN ascii(substring(h,6,1)) - 87
        |      ELSE ascii(substring(h,6,1)) - 48 END AS BIGINT) * 16777216 +
        |    CAST(CASE WHEN ascii(substring(h,7,1)) >= 97
        |      THEN ascii(substring(h,7,1)) - 87
        |      ELSE ascii(substring(h,7,1)) - 48 END AS BIGINT) * 1048576 +
        |    CAST(CASE WHEN ascii(substring(h,8,1)) >= 97
        |      THEN ascii(substring(h,8,1)) - 87
        |      ELSE ascii(substring(h,8,1)) - 48 END AS BIGINT) * 65536 +
        |    CAST(CASE WHEN ascii(substring(h,9,1)) >= 97
        |      THEN ascii(substring(h,9,1)) - 87
        |      ELSE ascii(substring(h,9,1)) - 48 END AS BIGINT) * 4096 +
        |    CAST(CASE WHEN ascii(substring(h,10,1)) >= 97
        |      THEN ascii(substring(h,10,1)) - 87
        |      ELSE ascii(substring(h,10,1)) - 48 END AS BIGINT) * 256 +
        |    CAST(CASE WHEN ascii(substring(h,11,1)) >= 97
        |      THEN ascii(substring(h,11,1)) - 87
        |      ELSE ascii(substring(h,11,1)) - 48 END AS BIGINT) * 16 +
        |    CAST(CASE WHEN ascii(substring(h,12,1)) >= 97
        |      THEN ascii(substring(h,12,1)) - 87
        |      ELSE ascii(substring(h,12,1)) - 48 END AS BIGINT) AS h
        |  FROM rows_c)
        |SELECT slice, COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |    AS DOUBLE) AS checksum
        |FROM hashed GROUP BY slice ORDER BY slice""".stripMargin),
    "q244_hist_intersection" -> Query(q244HistIntersection,
      """WITH span AS (
        |  SELECT MIN(value) AS mn, MAX(value) AS mx FROM events),
        |binned AS (
        |  SELECT event_type AS k,
        |    LEAST(19, CAST(FLOOR((value - mn) / (mx - mn) * 20)
        |      AS INTEGER)) AS bin, COUNT(*) AS c
        |  FROM events, span GROUP BY 1, 2),
        |withn AS (
        |  SELECT *, SUM(c) OVER (PARTITION BY k) AS n FROM binned)
        |SELECT a.k AS ka, b.k AS kb,
        |  CAST(SUM(CAST(LEAST(CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE),
        |    CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE))
        |    AS DECIMAL(38,12))) AS DOUBLE) AS hist_intersection
        |FROM withn a JOIN withn b ON a.bin = b.bin AND a.k < b.k
        |GROUP BY a.k, b.k ORDER BY ka, kb""".stripMargin),
    "q241_zipf_fit" -> Query(q241ZipfFit,
      """WITH toks AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> '')) AS term
        |  FROM documents),
        |top AS (
        |  SELECT term, COUNT(*) AS n FROM toks GROUP BY term
        |  ORDER BY n DESC, term LIMIT 1000),
        |ranked AS (
        |  SELECT
        |    CAST(LN(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term)
        |      AS DOUBLE)) AS DECIMAL(18,12)) AS x,
        |    CAST(LN(CAST(n AS DOUBLE)) AS DECIMAL(18,12)) AS y
        |  FROM top),
        |m AS (
        |  SELECT COUNT(*) AS nf,
        |    CAST(SUM(x) AS DECIMAL(38,12)) AS sx,
        |    CAST(SUM(y) AS DECIMAL(38,12)) AS sy,
        |    CAST(SUM(x * y) AS DECIMAL(38,24)) AS sxy,
        |    CAST(SUM(x * x) AS DECIMAL(38,24)) AS sxx,
        |    CAST(SUM(y * y) AS DECIMAL(38,24)) AS syy
        |  FROM ranked)
        |SELECT nf AS n_terms_fit,
        |  (CAST(nf AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (CAST(nf AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
        |  (CAST(sy AS DOUBLE)
        |    - (CAST(nf AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(nf AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * CAST(sx AS DOUBLE)) / CAST(nf AS DOUBLE) AS intercept,
        |  ((CAST(nf AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  * (CAST(nf AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  / ((CAST(nf AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |  * (CAST(nf AS DOUBLE) * CAST(syy AS DOUBLE)
        |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
        |FROM m""".stripMargin),
    "q242_term_burstiness" -> Query(q242TermBurstiness,
      """WITH toks AS (
        |  SELECT doc_id AS doc,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |pd AS (SELECT doc, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        |m AS (
        |  SELECT term, COUNT(*) AS df, SUM(c) AS tf,
        |    CAST(SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sq
        |  FROM pd GROUP BY term HAVING COUNT(*) >= 5)
        |SELECT term, df, CAST(tf AS BIGINT) AS tf,
        |  (CAST(sq AS DOUBLE) / CAST(df AS DOUBLE)
        |    - (CAST(tf AS DOUBLE) / CAST(df AS DOUBLE))
        |      * (CAST(tf AS DOUBLE) / CAST(df AS DOUBLE)))
        |  / (CAST(tf AS DOUBLE) / CAST(df AS DOUBLE)) AS dispersion
        |FROM m ORDER BY dispersion DESC, term LIMIT 20""".stripMargin),
    "q240_calibration_ece" -> Query(q240CalibrationEce,
      """WITH base AS (
        |  SELECT c_mktsegment AS f1, o_orderstatus AS f2,
        |    o_orderpriority AS c
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cls AS (SELECT c, COUNT(*) AS nc FROM base GROUP BY c),
        |l1 AS (SELECT f1, c, COUNT(*) AS n1 FROM base GROUP BY 1, 2),
        |l2 AS (SELECT f2, c, COUNT(*) AS n2 FROM base GROUP BY 1, 2),
        |scal AS (
        |  SELECT COUNT(*) AS n, COUNT(DISTINCT f1) AS v1,
        |    COUNT(DISTINCT f2) AS v2 FROM base),
        |combos AS (SELECT DISTINCT f1, f2 FROM base),
        |grid AS (
        |  SELECT co.f1, co.f2, cls.c,
        |    CAST(nc AS DOUBLE) * CAST(COALESCE(l1.n1, 0) + 1 AS DOUBLE)
        |      * CAST(COALESCE(l2.n2, 0) + 1 AS DOUBLE)
        |      / (CAST(s.n AS DOUBLE) * CAST(nc + v1 AS DOUBLE)
        |        * CAST(nc + v2 AS DOUBLE)) AS score
        |  FROM combos co CROSS JOIN cls
        |  LEFT JOIN l1 ON l1.f1 = co.f1 AND l1.c = cls.c
        |  LEFT JOIN l2 ON l2.f2 = co.f2 AND l2.c = cls.c
        |  CROSS JOIN scal s),
        |gq AS (
        |  SELECT *, CAST(score AS DECIMAL(28,18)) AS score_q,
        |    SUM(CAST(score AS DECIMAL(28,18)))
        |      OVER (PARTITION BY f1, f2) AS ssum,
        |    ROW_NUMBER() OVER (PARTITION BY f1, f2
        |      ORDER BY score DESC, c) AS rk
        |  FROM grid),
        |pred AS (
        |  SELECT f1, f2, c AS predicted,
        |    CAST(CAST(score_q AS DOUBLE) / CAST(ssum AS DOUBLE)
        |      AS DECIMAL(28,18)) AS conf_q
        |  FROM gq WHERE rk = 1),
        |rws AS (
        |  SELECT b.c AS actual, p.predicted, p.conf_q,
        |    LEAST(9, CAST(FLOOR(CAST(p.conf_q AS DOUBLE) * 10.0)
        |      AS BIGINT)) AS bin
        |  FROM base b JOIN pred p ON b.f1 = p.f1 AND b.f2 = p.f2),
        |bins AS (
        |  SELECT bin, COUNT(*) AS n,
        |    SUM(CASE WHEN actual = predicted THEN 1 ELSE 0 END)
        |      AS n_correct,
        |    CAST(SUM(conf_q) AS DECIMAL(38,18)) AS conf_sum
        |  FROM rws GROUP BY bin),
        |terms AS (
        |  SELECT *, SUM(n) OVER () AS nn,
        |    CAST((CAST(n AS DOUBLE)
        |      * ABS(CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(conf_sum AS DOUBLE) / CAST(n AS DOUBLE)))
        |      / CAST(SUM(n) OVER () AS DOUBLE) AS DECIMAL(38,12)) AS term
        |  FROM bins)
        |SELECT bin, n,
        |  CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy,
        |  CAST(conf_sum AS DOUBLE) / CAST(n AS DOUBLE) AS mean_conf,
        |  CAST(SUM(term) OVER () AS DOUBLE) AS ece
        |FROM terms ORDER BY bin""".stripMargin),
    "q236_feature_hashing" -> Query(q236FeatureHashing,
      """WITH toks AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> '')) AS term
        |  FROM documents),
        |tc AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
        |tb AS (
        |  SELECT *, CAST((
        |    (strpos('0123456789abcdef', substring(md5(term), 1, 1)) - 1)
        |      * 1048576 +
        |    (strpos('0123456789abcdef', substring(md5(term), 2, 1)) - 1)
        |      * 65536 +
        |    (strpos('0123456789abcdef', substring(md5(term), 3, 1)) - 1)
        |      * 4096 +
        |    (strpos('0123456789abcdef', substring(md5(term), 4, 1)) - 1)
        |      * 256 +
        |    (strpos('0123456789abcdef', substring(md5(term), 5, 1)) - 1)
        |      * 16 +
        |    (strpos('0123456789abcdef', substring(md5(term), 6, 1)) - 1))
        |    % 64 AS BIGINT) AS bucket
        |  FROM tc)
        |SELECT bucket, COUNT(*) AS n_terms,
        |  CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
        |    AS dominant_share
        |FROM tb GROUP BY bucket ORDER BY bucket""".stripMargin),
    "q237_roc_auc" -> Query(q237RocAuc,
      """WITH j AS (
        |  SELECT c_mktsegment AS g, o_totalprice AS v,
        |    o_orderstatus = 'F' AS pos
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |ranked AS (
        |  SELECT g, pos,
        |    2 * RANK() OVER (PARTITION BY g ORDER BY v)
        |      + COUNT(*) OVER (PARTITION BY g, v) - 1 AS r2
        |  FROM j),
        |m AS (
        |  SELECT g, SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS nn,
        |    SUM(CASE WHEN pos THEN r2 ELSE 0 END) AS rpx2
        |  FROM ranked GROUP BY g)
        |SELECT g AS c_mktsegment, CAST(np AS BIGINT) AS n_pos,
        |  CAST(nn AS BIGINT) AS n_neg,
        |  (CAST(rpx2 AS DOUBLE) / 2.0
        |    - CAST(np AS DOUBLE) * CAST(np + 1 AS DOUBLE) / 2.0)
        |  / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) AS auc
        |FROM m WHERE np > 0 AND nn > 0 ORDER BY 1""".stripMargin),
    "q238_classifier_report" -> Query(q238ClassifierReport,
      """WITH base AS (
        |  SELECT c_mktsegment AS f1, o_orderstatus AS f2,
        |    o_orderpriority AS c
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cls AS (SELECT c, COUNT(*) AS nc FROM base GROUP BY c),
        |l1 AS (SELECT f1, c, COUNT(*) AS n1 FROM base GROUP BY 1, 2),
        |l2 AS (SELECT f2, c, COUNT(*) AS n2 FROM base GROUP BY 1, 2),
        |scal AS (
        |  SELECT COUNT(*) AS n, COUNT(DISTINCT f1) AS v1,
        |    COUNT(DISTINCT f2) AS v2 FROM base),
        |combos AS (SELECT DISTINCT f1, f2 FROM base),
        |grid AS (
        |  SELECT co.f1, co.f2, cls.c, cls.nc,
        |    COALESCE(l1.n1, 0) AS n1, COALESCE(l2.n2, 0) AS n2,
        |    s.n, s.v1, s.v2
        |  FROM combos co CROSS JOIN cls
        |  LEFT JOIN l1 ON l1.f1 = co.f1 AND l1.c = cls.c
        |  LEFT JOIN l2 ON l2.f2 = co.f2 AND l2.c = cls.c
        |  CROSS JOIN scal s),
        |scored AS (
        |  SELECT f1, f2, c,
        |    ROW_NUMBER() OVER (PARTITION BY f1, f2 ORDER BY
        |      CAST(nc AS DOUBLE) * CAST(n1 + 1 AS DOUBLE)
        |        * CAST(n2 + 1 AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(nc + v1 AS DOUBLE)
        |          * CAST(nc + v2 AS DOUBLE)) DESC, c) AS rk
        |  FROM grid),
        |pred AS (SELECT f1, f2, c AS predicted FROM scored WHERE rk = 1),
        |j AS (
        |  SELECT b.c AS actual, p.predicted
        |  FROM base b JOIN pred p ON b.f1 = p.f1 AND b.f2 = p.f2),
        |cells AS (
        |  SELECT actual, predicted, COUNT(*) AS n FROM j GROUP BY 1, 2),
        |ba AS (
        |  SELECT actual AS cls, SUM(n) AS support,
        |    SUM(CASE WHEN predicted = actual THEN n ELSE 0 END) AS tp
        |  FROM cells GROUP BY 1),
        |bp AS (
        |  SELECT predicted AS cls, SUM(n) AS n_predicted
        |  FROM cells GROUP BY 1)
        |SELECT ba.cls AS o_orderpriority,
        |  CAST(support AS BIGINT) AS support, CAST(tp AS BIGINT) AS tp,
        |  CAST(COALESCE(bp.n_predicted, 0) AS BIGINT) AS n_predicted,
        |  CASE WHEN COALESCE(bp.n_predicted, 0) > 0
        |    THEN CAST(tp AS DOUBLE) / CAST(bp.n_predicted AS DOUBLE)
        |    ELSE 0.0 END AS prec,
        |  CAST(tp AS DOUBLE) / CAST(support AS DOUBLE) AS recall,
        |  CASE WHEN COALESCE(bp.n_predicted, 0) > 0 AND tp > 0
        |    THEN 2.0 * (CAST(tp AS DOUBLE) / CAST(bp.n_predicted AS DOUBLE))
        |      * (CAST(tp AS DOUBLE) / CAST(support AS DOUBLE))
        |      / (CAST(tp AS DOUBLE) / CAST(bp.n_predicted AS DOUBLE)
        |        + CAST(tp AS DOUBLE) / CAST(support AS DOUBLE))
        |    ELSE 0.0 END AS f1
        |FROM ba LEFT JOIN bp ON ba.cls = bp.cls
        |ORDER BY o_orderpriority""".stripMargin),
    "q239_loo_influence" -> Query(q239LooInfluence,
      """WITH g AS (
        |  SELECT c_mktsegment AS g, COUNT(*) AS n,
        |    CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |t AS (SELECT *, SUM(n) OVER () AS nn, SUM(s) OVER () AS sn FROM g)
        |SELECT g AS c_mktsegment, n,
        |  CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE) / 100.0 AS mean_all,
        |  CAST(sn - s AS DOUBLE) / CAST(nn - n AS DOUBLE) / 100.0
        |    AS mean_without,
        |  CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE) / 100.0
        |    - CAST(sn - s AS DOUBLE) / CAST(nn - n AS DOUBLE) / 100.0
        |    AS influence
        |FROM t WHERE nn > n ORDER BY 1""".stripMargin),
    "q233_int8_quant" -> Query(q233Int8Quant,
      """WITH el AS (
        |  SELECT vec_id AS id, label AS lbl, t.x AS x
        |  FROM embeddings, unnest(embedding) AS t(x)),
        |wm AS (
        |  SELECT *, MAX(ABS(x)) OVER (PARTITION BY id) AS mx FROM el),
        |terms AS (
        |  SELECT id, lbl,
        |    CASE WHEN mx > 0 THEN CAST(
        |      (CAST(x AS DOUBLE)
        |        - ROUND(CAST(x AS DOUBLE) / (CAST(mx AS DOUBLE) / 127.0))
        |          * (CAST(mx AS DOUBLE) / 127.0))
        |      * (CAST(x AS DOUBLE)
        |        - ROUND(CAST(x AS DOUBLE) / (CAST(mx AS DOUBLE) / 127.0))
        |          * (CAST(mx AS DOUBLE) / 127.0)) AS DECIMAL(28,18))
        |      ELSE CAST(0 AS DECIMAL(28,18)) END AS term,
        |    CASE WHEN mx > 0 THEN ABS(CAST(x AS DOUBLE)
        |      - ROUND(CAST(x AS DOUBLE) / (CAST(mx AS DOUBLE) / 127.0))
        |        * (CAST(mx AS DOUBLE) / 127.0)) ELSE 0.0 END AS aerr
        |  FROM wm),
        |pv AS (
        |  SELECT id, lbl, COUNT(*) AS dim,
        |    CAST(SUM(term) AS DECIMAL(38,18)) AS sse, MAX(aerr) AS amax
        |  FROM terms GROUP BY 1, 2),
        |pm AS (
        |  SELECT id, lbl, amax,
        |    CAST(CAST(sse AS DOUBLE) / CAST(dim AS DOUBLE)
        |      AS DECIMAL(28,18)) AS mse
        |  FROM pv)
        |SELECT lbl AS label, COUNT(*) AS n_vecs,
        |  CAST(CAST(SUM(mse) AS DECIMAL(38,18)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS mean_mse,
        |  MAX(amax) AS max_abs_err
        |FROM pm GROUP BY lbl ORDER BY label""".stripMargin),
    "q234_seasonal_decompose" -> Query(q234SeasonalDecompose,
      """WITH buck AS (
        |  SELECT event_type AS k,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS b,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT k, unnest(range(MIN(b), MAX(b) + 1)) AS b
        |  FROM buck GROUP BY k),
        |dense AS (
        |  SELECT g.k, g.b, COALESCE(buck.n, 0) AS x
        |  FROM grid g LEFT JOIN buck ON g.k = buck.k AND g.b = buck.b),
        |tr AS (
        |  SELECT *,
        |    SUM(x) OVER (PARTITION BY k ORDER BY b
        |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS ts_,
        |    COUNT(*) OVER (PARTITION BY k ORDER BY b
        |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS tc_,
        |    b % 24 AS h
        |  FROM dense),
        |hod AS (
        |  SELECT k, b % 24 AS h, SUM(x) AS sh, COUNT(*) AS ch
        |  FROM dense GROUP BY 1, 2),
        |grand AS (
        |  SELECT k, SUM(x) AS sg, COUNT(*) AS cg FROM dense GROUP BY k)
        |SELECT tr.k AS event_type, tr.b AS bucket, tr.x,
        |  CAST(ts_ AS DOUBLE) / CAST(tc_ AS DOUBLE) AS trend,
        |  (CAST(sh AS DOUBLE) / CAST(ch AS DOUBLE))
        |    / (CAST(sg AS DOUBLE) / CAST(cg AS DOUBLE)) AS seasonal,
        |  CASE WHEN CAST(ts_ AS DOUBLE) / CAST(tc_ AS DOUBLE) > 0
        |      AND (CAST(sh AS DOUBLE) / CAST(ch AS DOUBLE))
        |        / (CAST(sg AS DOUBLE) / CAST(cg AS DOUBLE)) > 0
        |    THEN CAST(tr.x AS DOUBLE)
        |      / ((CAST(ts_ AS DOUBLE) / CAST(tc_ AS DOUBLE))
        |        * ((CAST(sh AS DOUBLE) / CAST(ch AS DOUBLE))
        |          / (CAST(sg AS DOUBLE) / CAST(cg AS DOUBLE))))
        |    END AS residual
        |FROM tr
        |JOIN hod ON tr.k = hod.k AND tr.h = hod.h
        |JOIN grand ON tr.k = grand.k
        |WHERE tc_ = 25
        |ORDER BY event_type, bucket""".stripMargin),
    "q235_ndcg" -> Query(q235Ndcg,
      """WITH probes AS (
        |  SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pv,
        |    label AS plbl
        |  FROM embeddings WHERE vec_id < 20),
        |ranked AS (
        |  SELECT p.pid, p.plbl, e.label AS lbl,
        |    ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY
        |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv)
        |        DESC, e.vec_id) AS rank
        |  FROM embeddings e CROSS JOIN probes p
        |  WHERE e.vec_id <> p.pid),
        |top AS (
        |  SELECT pid, plbl,
        |    CASE WHEN lbl = plbl THEN 1 ELSE 0 END AS rel, rank
        |  FROM ranked WHERE rank <= 10),
        |dcg AS (
        |  SELECT pid, plbl, CAST(SUM(rel) AS BIGINT) AS n_rel_topk,
        |    CAST(SUM(CAST(CAST(rel AS DOUBLE)
        |      / log2(CAST(rank AS DOUBLE) + 1.0) AS DECIMAL(38,12)))
        |      AS DECIMAL(38,12)) AS dcg_q
        |  FROM top GROUP BY 1, 2),
        |support AS (
        |  SELECT label AS plbl, COUNT(*) AS n_lbl
        |  FROM embeddings GROUP BY 1),
        |iterms AS (
        |  SELECT i, SUM(1.0 / log2(CAST(i AS DOUBLE) + 1.0))
        |    OVER (ORDER BY i) AS idcg
        |  FROM (SELECT unnest(range(1, 11)) AS i))
        |SELECT d.pid AS vec_id, d.plbl AS label, d.n_rel_topk,
        |  CAST(d.dcg_q AS DOUBLE) AS dcg, it.idcg,
        |  CASE WHEN it.idcg > 0 THEN CAST(d.dcg_q AS DOUBLE) / it.idcg
        |    ELSE 0.0 END AS ndcg
        |FROM dcg d
        |JOIN support s ON d.plbl = s.plbl
        |JOIN iterms it ON it.i = LEAST(10, s.n_lbl - 1)
        |ORDER BY vec_id""".stripMargin),
    "q230_naive_bayes" -> Query(q230NaiveBayes,
      """WITH base AS (
        |  SELECT c_mktsegment AS f1, o_orderstatus AS f2,
        |    o_orderpriority AS c
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cls AS (SELECT c, COUNT(*) AS nc FROM base GROUP BY c),
        |l1 AS (SELECT f1, c, COUNT(*) AS n1 FROM base GROUP BY 1, 2),
        |l2 AS (SELECT f2, c, COUNT(*) AS n2 FROM base GROUP BY 1, 2),
        |scal AS (
        |  SELECT COUNT(*) AS n, COUNT(DISTINCT f1) AS v1,
        |    COUNT(DISTINCT f2) AS v2
        |  FROM base),
        |combos AS (SELECT DISTINCT f1, f2 FROM base),
        |grid AS (
        |  SELECT co.f1, co.f2, cls.c, cls.nc,
        |    COALESCE(l1.n1, 0) AS n1, COALESCE(l2.n2, 0) AS n2,
        |    s.n, s.v1, s.v2
        |  FROM combos co CROSS JOIN cls
        |  LEFT JOIN l1 ON l1.f1 = co.f1 AND l1.c = cls.c
        |  LEFT JOIN l2 ON l2.f2 = co.f2 AND l2.c = cls.c
        |  CROSS JOIN scal s),
        |scored AS (
        |  SELECT f1, f2, c, n,
        |    CAST(nc AS DOUBLE) * CAST(n1 + 1 AS DOUBLE)
        |      * CAST(n2 + 1 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(nc + v1 AS DOUBLE)
        |        * CAST(nc + v2 AS DOUBLE)) AS score,
        |    ROW_NUMBER() OVER (PARTITION BY f1, f2 ORDER BY
        |      CAST(nc AS DOUBLE) * CAST(n1 + 1 AS DOUBLE)
        |        * CAST(n2 + 1 AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(nc + v1 AS DOUBLE)
        |          * CAST(nc + v2 AS DOUBLE)) DESC, c) AS rk
        |  FROM grid)
        |SELECT f1 AS c_mktsegment, f2 AS o_orderstatus, c AS predicted,
        |  score, n AS n_train
        |FROM scored WHERE rk = 1
        |ORDER BY c_mktsegment, o_orderstatus""".stripMargin),
    "q321_isotonic_calibration" -> Query(q321IsotonicCalibration,
      """WITH base AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |mm AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM base),
        |bins AS (
        |  SELECT CAST(((v - mn) * 20) // (mx - mn + 1) AS BIGINT) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
        |  FROM base, mm GROUP BY 1),
        |segs AS (
        |  SELECT j.bin AS j, k.bin AS k, CAST(SUM(b.n) AS BIGINT) AS sn,
        |    CAST(SUM(b.pos) AS BIGINT) AS sp
        |  FROM bins j JOIN bins k ON j.bin <= k.bin
        |  JOIN bins b ON b.bin BETWEEN j.bin AND k.bin
        |  GROUP BY 1, 2),
        |avgs AS (
        |  SELECT j, k, CAST(sp AS DOUBLE) / CAST(sn AS DOUBLE) AS avg
        |  FROM segs),
        |fitj AS (
        |  SELECT i.bin AS i, a.j, MIN(a.avg) AS mjk
        |  FROM bins i JOIN avgs a ON a.j <= i.bin AND a.k >= i.bin
        |  GROUP BY 1, 2),
        |fit AS (SELECT i, MAX(mjk) AS iso_rate FROM fitj GROUP BY 1)
        |SELECT b.bin, b.n, b.pos,
        |  CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE) AS raw_rate,
        |  f.iso_rate
        |FROM bins b JOIN fit f ON f.i = b.bin ORDER BY b.bin""".stripMargin),
    "q318_wilcoxon_signed_rank" -> Query(q318WilcoxonSignedRank,
      """WITH mm AS (
        |  SELECT (MIN(CAST(epoch_us(ts) AS BIGINT))
        |    + MAX(CAST(epoch_us(ts) AS BIGINT))) // 2 AS mid FROM events),
        |d AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN us >= mid THEN y ELSE 0 END)
        |      - SUM(CASE WHEN us < mid THEN y ELSE 0 END) AS BIGINT) AS d
        |  FROM (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
        |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |    FROM events), mm
        |  GROUP BY user_id
        |  HAVING SUM(CASE WHEN us >= mid THEN y ELSE 0 END)
        |    - SUM(CASE WHEN us < mid THEN y ELSE 0 END) <> 0),
        |hist AS (
        |  SELECT ABS(d) AS a, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM d GROUP BY 1),
        |r AS (
        |  SELECT a, cnt, pos,
        |    CAST(SUM(cnt) OVER (ORDER BY a
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM hist),
        |agg AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST(SUM(pos) AS BIGINT) AS n_pos,
        |    CAST(SUM(pos * (2 * (cum - cnt) + cnt + 1)) AS BIGINT) AS w2p,
        |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
        |  FROM r)
        |SELECT n, n_pos, CAST(w2p AS DOUBLE) / 2.0 AS w_plus,
        |  (CAST(w2p AS DOUBLE) / 2.0
        |    - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 4.0)
        |  / sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
        |      * CAST(2 * n + 1 AS DOUBLE) / 24.0
        |    - CAST(tie3 AS DOUBLE) / 48.0) AS z
        |FROM agg""".stripMargin),
    "q316_ips_policy_value" -> Query(q316IpsPolicyValue,
      """WITH base AS (
        |  SELECT event_type AS x,
        |    ascii(substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) AS a,
        |    CASE WHEN event_type IN ('purchase','signup') THEN 1 ELSE 0 END
        |      AS pi,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS r
        |  FROM events),
        |tagged AS (
        |  SELECT x, r,
        |    CASE WHEN a <= 55 THEN 0
        |      WHEN a IN (56, 57, 97, 98) THEN 1 ELSE 2 END AS arm,
        |    pi, CASE WHEN pi = 0 THEN 2 ELSE 4 END AS w
        |  FROM base),
        |cells AS (
        |  SELECT x, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN arm = pi THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_match,
        |    CAST(SUM(CASE WHEN arm = pi THEN CAST(r AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s_dm,
        |    CAST(SUM(CASE WHEN arm = pi
        |      THEN CAST(w AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s_ips,
        |    CAST(SUM(CASE WHEN arm = pi THEN w ELSE 0 END) AS BIGINT) AS s_w
        |  FROM tagged GROUP BY x)
        |SELECT x AS event_type, n, n_match,
        |  CASE WHEN n_match > 0
        |    THEN CAST(s_dm AS DOUBLE) / CAST(n_match AS DOUBLE) / 100.0 END
        |    AS dm_value,
        |  CAST(s_ips AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS ips_value,
        |  CASE WHEN s_w > 0
        |    THEN CAST(s_ips AS DOUBLE) / CAST(s_w AS DOUBLE) / 100.0 END
        |    AS snips_value
        |FROM cells ORDER BY event_type""".stripMargin),
    "q317_diff_in_diff" -> Query(q317DiffInDiff,
      """WITH mm AS (
        |  SELECT (MIN(CAST(epoch_us(ts) AS BIGINT))
        |    + MAX(CAST(epoch_us(ts) AS BIGINT))) // 2 AS mid FROM events),
        |base AS (
        |  SELECT event_type AS g,
        |    ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) <= 55 AS t,
        |    CAST(epoch_us(ts) AS BIGINT) >= mid AS p,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM events, mm),
        |cells AS (
        |  SELECT g,
        |    CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_t0,
        |    CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_t1,
        |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_c0,
        |    CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_c1,
        |    CAST(SUM(CASE WHEN t AND NOT p THEN CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s_t0,
        |    CAST(SUM(CASE WHEN t AND p THEN CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s_t1,
        |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s_c0,
        |    CAST(SUM(CASE WHEN NOT t AND p THEN CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s_c1,
        |    CAST(SUM(CASE WHEN t AND NOT p THEN CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS q_t0,
        |    CAST(SUM(CASE WHEN t AND p THEN CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS q_t1,
        |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS q_c0,
        |    CAST(SUM(CASE WHEN NOT t AND p THEN CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS q_c1
        |  FROM base GROUP BY g
        |  HAVING SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) >= 2
        |    AND SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) >= 2
        |    AND SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) >= 2
        |    AND SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) >= 2),
        |calc AS (
        |  SELECT g, n_t0, n_t1, n_c0, n_c1,
        |    (CAST(s_t1 AS DOUBLE) / CAST(n_t1 AS DOUBLE)
        |      - CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE)
        |      - (CAST(s_c1 AS DOUBLE) / CAST(n_c1 AS DOUBLE)
        |        - CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE))) / 100.0 AS did,
        |    sqrt(
        |      (CAST(q_t1 AS DOUBLE) - CAST(s_t1 AS DOUBLE) * CAST(s_t1 AS DOUBLE) / CAST(n_t1 AS DOUBLE)) / CAST(n_t1 - 1 AS DOUBLE) / CAST(n_t1 AS DOUBLE)
        |      + (CAST(q_t0 AS DOUBLE) - CAST(s_t0 AS DOUBLE) * CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE)) / CAST(n_t0 - 1 AS DOUBLE) / CAST(n_t0 AS DOUBLE)
        |      + (CAST(q_c1 AS DOUBLE) - CAST(s_c1 AS DOUBLE) * CAST(s_c1 AS DOUBLE) / CAST(n_c1 AS DOUBLE)) / CAST(n_c1 - 1 AS DOUBLE) / CAST(n_c1 AS DOUBLE)
        |      + (CAST(q_c0 AS DOUBLE) - CAST(s_c0 AS DOUBLE) * CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE)) / CAST(n_c0 - 1 AS DOUBLE) / CAST(n_c0 AS DOUBLE)
        |    ) / 100.0 AS se
        |  FROM cells)
        |SELECT g AS event_type, n_t0, n_t1, n_c0, n_c1, did, se,
        |  did / se AS t_stat
        |FROM calc ORDER BY event_type""".stripMargin),
    "q231_stratified_ate" -> Query(q231StratifiedAte,
      """WITH arms AS (
        |  SELECT l_returnflag AS s, COUNT(*) AS n,
        |    SUM(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END) AS n1,
        |    CAST(SUM(CASE WHEN l_discount >= 0.05 THEN
        |      CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |        AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s1,
        |    CAST(SUM(CASE WHEN NOT (l_discount >= 0.05) THEN
        |      CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |        AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s0
        |  FROM lineitem GROUP BY 1),
        |kept AS (
        |  SELECT *, n - n1 AS n0 FROM arms WHERE n1 > 0 AND n - n1 > 0),
        |tot AS (SELECT *, SUM(n) OVER () AS nn FROM kept),
        |terms AS (
        |  SELECT *,
        |    CAST((CAST(n AS DOUBLE)
        |      * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0
        |        - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 100.0))
        |      / CAST(nn AS DOUBLE) AS DECIMAL(38,12)) AS term
        |  FROM tot)
        |SELECT s AS l_returnflag, n, CAST(n1 AS BIGINT) AS n_treated,
        |  CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0 AS mean_treated,
        |  CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 100.0 AS mean_control,
        |  CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0
        |    - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 100.0 AS diff,
        |  CAST(SUM(term) OVER () AS DOUBLE) AS ate
        |FROM terms ORDER BY 1""".stripMargin),
    "q232_gains_curve" -> Query(q232GainsCurve,
      """WITH cuts AS (
        |  SELECT [quantile_cont(o_totalprice, 0.1),
        |    quantile_cont(o_totalprice, 0.2), quantile_cont(o_totalprice, 0.3),
        |    quantile_cont(o_totalprice, 0.4), quantile_cont(o_totalprice, 0.5),
        |    quantile_cont(o_totalprice, 0.6), quantile_cont(o_totalprice, 0.7),
        |    quantile_cont(o_totalprice, 0.8), quantile_cont(o_totalprice, 0.9)]
        |    AS cs
        |  FROM orders),
        |b AS (
        |  SELECT CAST(
        |      (CASE WHEN o_totalprice > cs[1] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[2] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[3] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[4] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[5] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[6] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[7] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[8] THEN 1 ELSE 0 END) +
        |      (CASE WHEN o_totalprice > cs[9] THEN 1 ELSE 0 END)
        |      AS BIGINT) AS bin,
        |    o_orderstatus = 'F' AS pos
        |  FROM orders, cuts),
        |bins AS (
        |  SELECT bin, COUNT(*) AS n,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos
        |  FROM b GROUP BY bin),
        |cum AS (
        |  SELECT *, SUM(n) OVER (ORDER BY bin DESC) AS cum_n,
        |    SUM(n_pos) OVER (ORDER BY bin DESC) AS cum_pos,
        |    SUM(n) OVER () AS nn, SUM(n_pos) OVER () AS np
        |  FROM bins)
        |SELECT bin, n, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(cum_n AS DOUBLE) / CAST(nn AS DOUBLE) AS cum_frac,
        |  CAST(cum_pos AS DOUBLE) / CAST(np AS DOUBLE) AS capture,
        |  (CAST(cum_pos AS DOUBLE) / CAST(np AS DOUBLE))
        |    / (CAST(cum_n AS DOUBLE) / CAST(nn AS DOUBLE)) AS lift
        |FROM cum ORDER BY bin DESC""".stripMargin),
    "q227_oov_rate" -> Query(q227OovRate,
      """WITH toks AS (
        |  SELECT lang, doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |vocab AS (
        |  SELECT term FROM (
        |    SELECT term, COUNT(*) AS df
        |    FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term)
        |  ORDER BY df DESC, term LIMIT 500)
        |SELECT t.lang, COUNT(DISTINCT t.doc_id) AS n_docs,
        |  COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.term = v.term
        |GROUP BY t.lang ORDER BY t.lang""".stripMargin),
    "q228_ewma" -> Query(q228Ewma,
      """WITH hourly AS (
        |  SELECT event_type AS k,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS b,
        |    COUNT(*) AS c,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000
        |      AS BIGINT)) AS DECIMAL(38,0)) AS s
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT k, b,
        |    CAST(CAST(s AS DOUBLE) / CAST(c AS DOUBLE) / 1e6
        |      AS DECIMAL(16,8)) AS m
        |  FROM hourly),
        |lagged AS (
        |  SELECT m.k, m.b + d.d AS tb,
        |    m.m, CAST(POWER(0.5, d.d) AS DECIMAL(16,15)) AS w
        |  FROM m, (SELECT unnest(range(0, 16)) AS d) d)
        |SELECT l.k AS event_type, l.tb AS bucket,
        |  COUNT(*) AS n_lags,
        |  CAST(SUM(l.m * l.w) AS DOUBLE) / CAST(SUM(l.w) AS DOUBLE)
        |    AS ewma
        |FROM lagged l JOIN m a ON l.k = a.k AND l.tb = a.b
        |GROUP BY l.k, l.tb ORDER BY event_type, bucket""".stripMargin),
    "q229_purged_cv" -> Query(q229PurgedCv,
      """WITH span AS (
        |  SELECT MIN(CAST(epoch_us(ts) AS BIGINT)) AS mn,
        |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS mx,
        |    (MAX(CAST(epoch_us(ts) AS BIGINT))
        |      - MIN(CAST(epoch_us(ts) AS BIGINT))) // 5 + 1 AS width
        |  FROM events),
        |rows_us AS (
        |  SELECT CAST(epoch_us(ts) AS BIGINT) AS us, span.*
        |  FROM events, span),
        |folds AS (SELECT unnest(range(0, 5)) AS fold)
        |SELECT f.fold,
        |  s.mn + f.fold * s.width AS test_start_us,
        |  s.mn + (f.fold + 1) * s.width AS test_end_us,
        |  (SELECT COUNT(*) FROM rows_us r
        |    WHERE (r.us - r.mn) // r.width = f.fold) AS n_test,
        |  (SELECT COUNT(*) FROM rows_us r
        |    WHERE r.us < r.mn + f.fold * r.width - 3600000000) AS n_train
        |FROM folds f, span s ORDER BY f.fold""".stripMargin),
    "q224_mann_whitney" -> Query(q224MannWhitney,
      """WITH mid AS (
        |  SELECT (MIN(CAST(epoch_us(ts) AS BIGINT))
        |    + MAX(CAST(epoch_us(ts) AS BIGINT))) // 2 AS mid FROM events),
        |ev AS (
        |  SELECT event_type AS g, value AS v,
        |    CAST(epoch_us(ts) AS BIGINT) < (SELECT mid FROM mid) AS isa
        |  FROM events),
        |ranked AS (
        |  SELECT g, v, isa,
        |    COUNT(*) OVER (PARTITION BY g, v) AS t,
        |    2 * RANK() OVER (PARTITION BY g ORDER BY v)
        |      + COUNT(*) OVER (PARTITION BY g, v) - 1 AS r2,
        |    ROW_NUMBER() OVER (PARTITION BY g, v ORDER BY isa) = 1
        |      AS tfirst
        |  FROM ev),
        |m AS (
        |  SELECT g,
        |    SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS n1,
        |    SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS n2,
        |    SUM(CASE WHEN isa THEN r2 ELSE 0 END) AS r1x2,
        |    CAST(SUM(CASE WHEN tfirst THEN
        |      CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))
        |        * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS tcube
        |  FROM ranked GROUP BY g)
        |SELECT g AS event_type, CAST(n1 AS BIGINT) AS n1,
        |  CAST(n2 AS BIGINT) AS n2,
        |  (CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1)) / 2.0 AS u,
        |  CASE WHEN CAST(n1 AS DOUBLE) * n2 / 12.0
        |      * ((n1 + n2 + 1) - CAST(tcube AS DOUBLE)
        |        / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))) > 0
        |    THEN ((CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1))
        |        / 2.0 - CAST(n1 AS DOUBLE) * n2 / 2.0)
        |      / SQRT(CAST(n1 AS DOUBLE) * n2 / 12.0
        |        * ((n1 + n2 + 1) - CAST(tcube AS DOUBLE)
        |          / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))
        |    ELSE 0.0 END AS z
        |FROM m WHERE n1 > 0 AND n2 > 0 AND n1 + n2 > 1
        |ORDER BY event_type""".stripMargin),
    "q225_anova_f" -> Query(q225AnovaF,
      """WITH q AS (
        |  SELECT o_orderpriority AS c,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
        |  FROM orders),
        |cls AS (
        |  SELECT c, COUNT(*) AS nc,
        |    CAST(SUM(CAST(t AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sc,
        |    CAST(SUM(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sqc
        |  FROM q GROUP BY c),
        |terms AS (
        |  SELECT *, CAST(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
        |    / CAST(nc AS DOUBLE) AS DECIMAL(38,6)) AS term
        |  FROM cls),
        |tot AS (
        |  SELECT COUNT(*) AS k, SUM(nc) AS n,
        |    CAST(SUM(sc) AS DECIMAL(38,0)) AS s,
        |    CAST(SUM(sqc) AS DECIMAL(38,0)) AS sq,
        |    CAST(SUM(term) AS DECIMAL(38,6)) AS tsum
        |  FROM terms)
        |SELECT k, CAST(n AS BIGINT) AS n,
        |  (CAST(tsum AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |    / CAST(n AS DOUBLE)) / 1e4 AS ssb,
        |  (CAST(sq AS DOUBLE) - CAST(tsum AS DOUBLE)) / 1e4 AS ssw,
        |  ((CAST(tsum AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
        |    / ((CAST(sq AS DOUBLE) - CAST(tsum AS DOUBLE))
        |      / CAST(n - k AS DOUBLE)) AS f
        |FROM tot WHERE k > 1 AND n > k""".stripMargin),
    "q226_bootstrap_ci" -> Query(q226BootstrapCI,
      """WITH q AS (
        |  SELECT o_orderstatus AS g, o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
        |  FROM orders),
        |fan AS (
        |  SELECT q.*, b.b, md5(CAST(k AS VARCHAR)) AS h
        |  FROM q, (SELECT unnest(range(0, 32)) AS b) b),
        |wtd AS (
        |  SELECT g, b, t,
        |    CASE WHEN ascii(substring(h, CAST(b + 1 AS INTEGER), 1)) <= 53
        |      THEN 0
        |      WHEN ascii(substring(h, CAST(b + 1 AS INTEGER), 1)) <= 57
        |        OR (ascii(substring(h, CAST(b + 1 AS INTEGER), 1)) >= 97
        |          AND ascii(substring(h, CAST(b + 1 AS INTEGER), 1)) <= 98)
        |      THEN 1
        |      WHEN ascii(substring(h, CAST(b + 1 AS INTEGER), 1)) <= 100
        |      THEN 2 ELSE 3 END AS w
        |  FROM fan),
        |cells AS (
        |  SELECT g, b, SUM(w) AS wsum,
        |    CAST(SUM(CAST(w AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS wt,
        |    SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS n0,
        |    CAST(SUM(CASE WHEN b = 0 THEN CAST(t AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS s0
        |  FROM wtd GROUP BY g, b),
        |reps AS (
        |  SELECT g, b, CAST(wt AS DOUBLE) / CAST(wsum AS DOUBLE) / 100.0
        |      AS rmean, n0, s0,
        |    ROW_NUMBER() OVER (PARTITION BY g
        |      ORDER BY CAST(wt AS DOUBLE) / CAST(wsum AS DOUBLE) / 100.0, b)
        |      AS rk,
        |    COUNT(*) OVER (PARTITION BY g) AS nb,
        |    CAST(SUM(s0) OVER (PARTITION BY g) AS DOUBLE)
        |      / CAST(SUM(n0) OVER (PARTITION BY g) AS DOUBLE) / 100.0
        |      AS mean
        |  FROM cells WHERE wsum > 0)
        |SELECT g AS o_orderstatus, MAX(mean) AS mean,
        |  MIN(CASE WHEN rk = 2 THEN rmean END) AS ci_lo,
        |  MIN(CASE WHEN rk = 31 THEN rmean END) AS ci_hi,
        |  MAX(nb) AS n_replicates
        |FROM reps WHERE rk = 2 OR rk = 31
        |GROUP BY g ORDER BY g""".stripMargin),
    "q221_target_encoding" -> Query(q221TargetEncoding,
      """WITH cells AS (
        |  SELECT o_orderpriority AS cat, o_orderkey % 5 AS fold,
        |    COUNT(*) AS n_fold,
        |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS s_fold
        |  FROM orders GROUP BY 1, 2),
        |tot AS (
        |  SELECT *, SUM(n_fold) OVER (PARTITION BY cat) AS n_all,
        |    SUM(s_fold) OVER (PARTITION BY cat) AS s_all
        |  FROM cells)
        |SELECT cat AS o_orderpriority, fold, n_fold,
        |  CAST(s_all - s_fold AS DOUBLE) / CAST(n_all - n_fold AS DOUBLE)
        |    / 100.0 AS oof_mean
        |FROM tot WHERE n_all > n_fold
        |ORDER BY o_orderpriority, fold""".stripMargin),
    "q222_spearman_trend" -> Query(q222SpearmanTrend,
      """WITH ev AS (
        |  SELECT event_type AS g, CAST(epoch_us(ts) AS BIGINT) AS x,
        |    value AS y
        |  FROM events),
        |ranked AS (
        |  SELECT g,
        |    2 * RANK() OVER (PARTITION BY g ORDER BY x)
        |      + COUNT(*) OVER (PARTITION BY g, x) - 1 AS rx2,
        |    2 * RANK() OVER (PARTITION BY g ORDER BY y)
        |      + COUNT(*) OVER (PARTITION BY g, y) - 1 AS ry2
        |  FROM ev),
        |m AS (
        |  SELECT g, COUNT(*) AS n, SUM(rx2) AS sx, SUM(ry2) AS sy,
        |    CAST(SUM(CAST(rx2 AS DECIMAL(38,0)) * CAST(ry2 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(CAST(rx2 AS DECIMAL(38,0)) * CAST(rx2 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(ry2 AS DECIMAL(38,0)) * CAST(ry2 AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS syy
        |  FROM ranked GROUP BY g)
        |SELECT g AS event_type, n,
        |  CAST(CAST(n AS DECIMAL(38,0)) * sxy
        |      - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
        |    AS DOUBLE)
        |    / SQRT(CAST(CAST(n AS DECIMAL(38,0)) * sxx
        |        - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
        |      AS DOUBLE)
        |      * CAST(CAST(n AS DECIMAL(38,0)) * syy
        |        - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
        |      AS DOUBLE)) AS rho
        |FROM m
        |WHERE CAST(n AS DECIMAL(38,0)) * sxx
        |    - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)) > 0
        |  AND CAST(n AS DECIMAL(38,0)) * syy
        |    - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)) > 0
        |ORDER BY event_type""".stripMargin),
    "q223_mutual_information" -> Query(q223MutualInformation,
      """WITH cells AS (
        |  SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS nab
        |  FROM orders GROUP BY 1, 2),
        |g AS (
        |  SELECT *, SUM(nab) OVER (PARTITION BY a) AS na,
        |    SUM(nab) OVER (PARTITION BY b) AS nb,
        |    SUM(nab) OVER () AS n,
        |    ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) AS rna,
        |    ROW_NUMBER() OVER (PARTITION BY b ORDER BY a) AS rnb
        |  FROM cells),
        |t AS (
        |  SELECT n,
        |    CAST((CAST(nab AS DOUBLE) / n) * LN(CAST(nab AS DOUBLE) * n
        |      / (CAST(na AS DOUBLE) * nb)) AS DECIMAL(38,12)) AS mi_t,
        |    CASE WHEN rna = 1 THEN CAST(-(CAST(na AS DOUBLE) / n)
        |      * LN(CAST(na AS DOUBLE) / n) AS DECIMAL(38,12))
        |      ELSE CAST(0 AS DECIMAL(38,12)) END AS ha_t,
        |    CASE WHEN rnb = 1 THEN CAST(-(CAST(nb AS DOUBLE) / n)
        |      * LN(CAST(nb AS DOUBLE) / n) AS DECIMAL(38,12))
        |      ELSE CAST(0 AS DECIMAL(38,12)) END AS hb_t
        |  FROM g)
        |SELECT CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(SUM(mi_t) AS DOUBLE) AS mi_nats,
        |  CAST(SUM(ha_t) AS DOUBLE) AS h_a,
        |  CAST(SUM(hb_t) AS DOUBLE) AS h_b,
        |  CASE WHEN SUM(ha_t) > 0 AND SUM(hb_t) > 0
        |    THEN CAST(SUM(mi_t) AS DOUBLE)
        |      / SQRT(CAST(SUM(ha_t) AS DOUBLE) * CAST(SUM(hb_t) AS DOUBLE))
        |    ELSE 0.0 END AS nmi
        |FROM t""".stripMargin),
    "q364_msprt" -> Query(q364Msprt,
      """WITH base AS (
        |  SELECT event_type AS g,
        |    CAST(datediff('day', DATE '1992-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CASE WHEN ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
        |      <= 55 THEN 1 ELSE 0 END AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |dayagg AS (
        |  SELECT g, day,
        |    CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dn0,
        |    CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS dn1,
        |    CAST(SUM(CASE WHEN t = 0 THEN vc ELSE 0 END) AS BIGINT) AS ds0,
        |    CAST(SUM(CASE WHEN t = 1 THEN vc ELSE 0 END) AS BIGINT) AS ds1,
        |    CAST(SUM(CASE WHEN t = 0 THEN CAST(vc AS DECIMAL(38,0))
        |      * CAST(vc AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0))
        |      END) AS DECIMAL(38,0)) AS dq0,
        |    CAST(SUM(CASE WHEN t = 1 THEN CAST(vc AS DECIMAL(38,0))
        |      * CAST(vc AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0))
        |      END) AS DECIMAL(38,0)) AS dq1
        |  FROM base GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, day,
        |    CAST(SUM(dn0) OVER w AS BIGINT) AS n0,
        |    CAST(SUM(dn1) OVER w AS BIGINT) AS n1,
        |    CAST(SUM(ds0) OVER w AS BIGINT) AS s0,
        |    CAST(SUM(ds1) OVER w AS BIGINT) AS s1,
        |    CAST(SUM(dq0) OVER w AS DECIMAL(38,0)) AS q0,
        |    CAST(SUM(dq1) OVER w AS DECIMAL(38,0)) AS q1
        |  FROM dayagg
        |  WINDOW w AS (PARTITION BY g ORDER BY day
        |    ROWS UNBOUNDED PRECEDING)),
        |scored AS (
        |  SELECT g, day, n0, n1,
        |    CASE WHEN n0 > 0 AND n1 > 0
        |      THEN CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |        - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) END AS theta_c,
        |    CASE WHEN n0 > 1 AND n1 > 1
        |      THEN (((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)
        |          * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |        + (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
        |          * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
        |        / CAST(n0 + n1 - 2 AS DOUBLE))
        |        * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))
        |      END AS v_c2
        |  FROM cum),
        |lrs AS (
        |  SELECT g, day, n0, n1, theta_c, v_c2,
        |    CASE WHEN v_c2 > 0
        |      THEN sqrt(v_c2 / (v_c2 + 10000.0))
        |        * exp(theta_c * theta_c * 10000.0
        |          / (2.0 * v_c2 * (v_c2 + 10000.0))) END AS lr
        |  FROM scored)
        |SELECT g AS event_type, day, n0, n1, theta_c, v_c2, lr,
        |  LEAST(1.0, MIN(1.0 / lr) OVER (PARTITION BY g ORDER BY day
        |    ROWS UNBOUNDED PRECEDING)) AS p_always_valid
        |FROM lrs ORDER BY 1, 2""".stripMargin),
    "q383_cochran_q" -> Query(q383CochranQ,
      """WITH cells AS (
        |  SELECT DISTINCT o_custkey AS s, year(o_orderdate) AS t
        |  FROM orders),
        |kk AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k FROM cells),
        |ct AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cj
        |       FROM cells GROUP BY 1),
        |rt AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
        |    CAST(SUM(r) AS BIGINT) AS nn,
        |    CAST(SUM(r * r) AS BIGINT) AS r2
        |  FROM (SELECT cu.c_custkey, COALESCE(x.r, 0) AS r
        |        FROM customer cu LEFT JOIN (
        |          SELECT s, CAST(COUNT(*) AS BIGINT) AS r
        |          FROM cells GROUP BY 1) x ON x.s = cu.c_custkey)),
        |num AS (
        |  SELECT k, n_subjects, nn, r2,
        |    CAST(SUM(CAST((CAST(cj AS DOUBLE)
        |        - CAST(nn AS DOUBLE) / CAST(k AS DOUBLE))
        |      * (CAST(cj AS DOUBLE)
        |        - CAST(nn AS DOUBLE) / CAST(k AS DOUBLE))
        |      AS DECIMAL(38,15))) AS DECIMAL(38,15)) AS ssq
        |  FROM ct CROSS JOIN rt CROSS JOIN kk GROUP BY 1, 2, 3, 4)
        |SELECT n_subjects, k,
        |  CASE WHEN k * nn - r2 > 0
        |    THEN CAST(k AS DOUBLE) * CAST(k - 1 AS DOUBLE)
        |      * CAST(ssq AS DOUBLE) / CAST(k * nn - r2 AS DOUBLE) END
        |    AS q_stat,
        |  CAST(k - 1 AS BIGINT) AS dof
        |FROM num""".stripMargin),
    "q384_kendalls_w" -> Query(q384KendallsW,
      """WITH cells AS (
        |  SELECT year(l_shipdate) AS j, p_brand AS it,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  GROUP BY 1, 2),
        |ranks AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY j
        |    ORDER BY v, it) AS BIGINT) AS rk
        |  FROM cells),
        |rj AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS n_judges,
        |         CAST(SUM(rk) AS BIGINT) AS r
        |       FROM ranks GROUP BY 1),
        |nm AS (SELECT CAST(MAX(n_judges) AS BIGINT) AS n,
        |         CAST(COUNT(*) AS BIGINT) AS m FROM rj),
        |s AS (
        |  SELECT n, m,
        |    CAST(SUM(CAST((CAST(r AS DOUBLE)
        |        - CAST(n AS DOUBLE) * CAST(m + 1 AS DOUBLE) / 2.0)
        |      * (CAST(r AS DOUBLE)
        |        - CAST(n AS DOUBLE) * CAST(m + 1 AS DOUBLE) / 2.0)
        |      AS DECIMAL(38,15))) AS DECIMAL(38,15)) AS s
        |  FROM rj CROSS JOIN nm GROUP BY 1, 2)
        |SELECT n AS n_judges, m AS n_items,
        |  12.0 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |    * (CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
        |      - CAST(m AS DOUBLE))) AS w
        |FROM s""".stripMargin),
    "q370_quantile_regression" -> Query(q370QuantileRegression,
      """WITH daily AS (
        |  SELECT l_returnflag AS g,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |grid AS (
        |  SELECT CAST(range AS BIGINT) AS b FROM range(-500, 501, 25)),
        |resid AS (
        |  SELECT g, b, y - b * x AS r FROM daily CROSS JOIN grid),
        |q AS (
        |  SELECT g, b, r,
        |    COUNT(*) OVER (PARTITION BY g, b ORDER BY r
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    COUNT(*) OVER (PARTITION BY g, b) AS n
        |  FROM resid),
        |qa AS (
        |  SELECT g, b, CAST(MAX(n) AS BIGINT) AS n,
        |    CAST(MIN(CASE WHEN cum >= CAST(CEIL(CAST(n AS DOUBLE) * 0.9)
        |      AS BIGINT) THEN r END) AS BIGINT) AS a
        |  FROM q GROUP BY 1, 2),
        |loss AS (
        |  SELECT q.g, q.b, qa.n, qa.a,
        |    CAST(SUM(CASE WHEN q.r >= qa.a THEN 9 * (q.r - qa.a)
        |      ELSE 1 * (qa.a - q.r) END) AS BIGINT) AS loss10
        |  FROM q JOIN qa ON qa.g = q.g AND qa.b = q.b
        |  GROUP BY 1, 2, 3, 4),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY loss10, b) AS rk
        |  FROM loss)
        |SELECT g AS l_returnflag, n AS n_days, b AS slope_c_per_day,
        |  a AS intercept_c, loss10
        |FROM rk WHERE rk = 1 ORDER BY 1""".stripMargin),
    "q369_huber" -> Query(q369Huber,
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
        |      AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS syy
        |  FROM daily GROUP BY g),
        |cv AS (
        |  SELECT g, n, sx, sy,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sxx
        |      - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
        |      AS DECIMAL(38,0)) AS vx,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sxy
        |      - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
        |      AS DECIMAL(38,0)) AS cov,
        |    CAST(CAST(n AS DECIMAL(38,0)) * syy
        |      - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
        |      AS DECIMAL(38,0)) AS vy
        |  FROM m),
        |f0 AS (
        |  SELECT g, n,
        |    (CAST(sy AS DOUBLE) - (CAST(cov AS DOUBLE)
        |      / CAST(vx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE) AS a0,
        |    CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE) AS b0,
        |    1.345 * sqrt((CAST(vy AS DOUBLE) - CAST(cov AS DOUBLE)
        |      * CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE))
        |      / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)) AS k
        |  FROM cv WHERE vx > 0 AND n > 2),
        |w1 AS (
        |  SELECT d.g,
        |    CAST(CASE WHEN abs(CAST(d.y AS DOUBLE) - f.a0
        |        - f.b0 * CAST(d.x AS DOUBLE)) <= f.k THEN 1.0
        |      ELSE f.k / abs(CAST(d.y AS DOUBLE) - f.a0
        |        - f.b0 * CAST(d.x AS DOUBLE)) END
        |      AS DECIMAL(38,12)) AS w,
        |    CAST(CASE WHEN abs(CAST(d.y AS DOUBLE) - f.a0
        |        - f.b0 * CAST(d.x AS DOUBLE)) <= f.k THEN 1.0
        |      ELSE f.k / abs(CAST(d.y AS DOUBLE) - f.a0
        |        - f.b0 * CAST(d.x AS DOUBLE)) END * CAST(d.x AS DOUBLE)
        |      AS DECIMAL(38,12)) AS wx,
        |    CAST(CASE WHEN abs(CAST(d.y AS DOUBLE) - f.a0
        |        - f.b0 * CAST(d.x AS DOUBLE)) <= f.k THEN 1.0
        |      ELSE f.k / abs(CAST(d.y AS DOUBLE) - f.a0
        |        - f.b0 * CAST(d.x AS DOUBLE)) END * CAST(d.y AS DOUBLE)
        |      AS DECIMAL(38,12)) AS wy,
        |    CAST(CASE WHEN abs(CAST(d.y AS DOUBLE) - f.a0
        |        - f.b0 * CAST(d.x AS DOUBLE)) <= f.k THEN 1.0
        |      ELSE f.k / abs(CAST(d.y AS DOUBLE) - f.a0
        |        - f.b0 * CAST(d.x AS DOUBLE)) END * CAST(d.x AS DOUBLE)
        |        * CAST(d.x AS DOUBLE)
        |      AS DECIMAL(38,12)) AS wxx,
        |    CAST(CASE WHEN abs(CAST(d.y AS DOUBLE) - f.a0
        |        - f.b0 * CAST(d.x AS DOUBLE)) <= f.k THEN 1.0
        |      ELSE f.k / abs(CAST(d.y AS DOUBLE) - f.a0
        |        - f.b0 * CAST(d.x AS DOUBLE)) END * CAST(d.x AS DOUBLE)
        |        * CAST(d.y AS DOUBLE)
        |      AS DECIMAL(38,12)) AS wxy
        |  FROM daily d JOIN f0 f ON f.g = d.g),
        |s1 AS (
        |  SELECT g, CAST(SUM(w) AS DECIMAL(38,12)) AS swq,
        |    CAST(SUM(wx) AS DECIMAL(38,12)) AS swx,
        |    CAST(SUM(wy) AS DECIMAL(38,12)) AS swy,
        |    CAST(SUM(wxx) AS DECIMAL(38,12)) AS swxx,
        |    CAST(SUM(wxy) AS DECIMAL(38,12)) AS swxy
        |  FROM w1 GROUP BY g),
        |f1 AS (
        |  SELECT f.g, f.n, f.a0, f.b0, f.k,
        |    (CAST(swy AS DOUBLE) - ((CAST(swq AS DOUBLE)
        |        * CAST(swxy AS DOUBLE) - CAST(swx AS DOUBLE)
        |        * CAST(swy AS DOUBLE))
        |      / (CAST(swq AS DOUBLE) * CAST(swxx AS DOUBLE)
        |        - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)))
        |      * CAST(swx AS DOUBLE)) / CAST(swq AS DOUBLE) AS a1,
        |    (CAST(swq AS DOUBLE) * CAST(swxy AS DOUBLE)
        |      - CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE))
        |    / (CAST(swq AS DOUBLE) * CAST(swxx AS DOUBLE)
        |      - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)) AS b1
        |  FROM f0 f JOIN s1 ON s1.g = f.g),
        |w2 AS (
        |  SELECT d.g,
        |    CAST(CASE WHEN abs(CAST(d.y AS DOUBLE) - f.a1
        |        - f.b1 * CAST(d.x AS DOUBLE)) <= f.k THEN 1.0
        |      ELSE f.k / abs(CAST(d.y AS DOUBLE) - f.a1
        |        - f.b1 * CAST(d.x AS DOUBLE)) END
        |      AS DECIMAL(38,12)) AS w,
        |    CAST(CASE WHEN abs(CAST(d.y AS DOUBLE) - f.a1
        |        - f.b1 * CAST(d.x AS DOUBLE)) <= f.k THEN 1.0
        |      ELSE f.k / abs(CAST(d.y AS DOUBLE) - f.a1
        |        - f.b1 * CAST(d.x AS DOUBLE)) END * CAST(d.x AS DOUBLE)
        |      AS DECIMAL(38,12)) AS wx,
        |    CAST(CASE WHEN abs(CAST(d.y AS DOUBLE) - f.a1
        |        - f.b1 * CAST(d.x AS DOUBLE)) <= f.k THEN 1.0
        |      ELSE f.k / abs(CAST(d.y AS DOUBLE) - f.a1
        |        - f.b1 * CAST(d.x AS DOUBLE)) END * CAST(d.y AS DOUBLE)
        |      AS DECIMAL(38,12)) AS wy,
        |    CAST(CASE WHEN abs(CAST(d.y AS DOUBLE) - f.a1
        |        - f.b1 * CAST(d.x AS DOUBLE)) <= f.k THEN 1.0
        |      ELSE f.k / abs(CAST(d.y AS DOUBLE) - f.a1
        |        - f.b1 * CAST(d.x AS DOUBLE)) END * CAST(d.x AS DOUBLE)
        |        * CAST(d.x AS DOUBLE)
        |      AS DECIMAL(38,12)) AS wxx,
        |    CAST(CASE WHEN abs(CAST(d.y AS DOUBLE) - f.a1
        |        - f.b1 * CAST(d.x AS DOUBLE)) <= f.k THEN 1.0
        |      ELSE f.k / abs(CAST(d.y AS DOUBLE) - f.a1
        |        - f.b1 * CAST(d.x AS DOUBLE)) END * CAST(d.x AS DOUBLE)
        |        * CAST(d.y AS DOUBLE)
        |      AS DECIMAL(38,12)) AS wxy
        |  FROM daily d JOIN f1 f ON f.g = d.g),
        |s2 AS (
        |  SELECT g, CAST(SUM(w) AS DECIMAL(38,12)) AS swq,
        |    CAST(SUM(wx) AS DECIMAL(38,12)) AS swx,
        |    CAST(SUM(wy) AS DECIMAL(38,12)) AS swy,
        |    CAST(SUM(wxx) AS DECIMAL(38,12)) AS swxx,
        |    CAST(SUM(wxy) AS DECIMAL(38,12)) AS swxy
        |  FROM w2 GROUP BY g)
        |SELECT f.g AS l_returnflag, f.n, f.k, f.a0, f.b0, f.a1, f.b1,
        |  (CAST(swy AS DOUBLE) - ((CAST(swq AS DOUBLE)
        |      * CAST(swxy AS DOUBLE) - CAST(swx AS DOUBLE)
        |      * CAST(swy AS DOUBLE))
        |    / (CAST(swq AS DOUBLE) * CAST(swxx AS DOUBLE)
        |      - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)))
        |    * CAST(swx AS DOUBLE)) / CAST(swq AS DOUBLE) AS a2,
        |  (CAST(swq AS DOUBLE) * CAST(swxy AS DOUBLE)
        |    - CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE))
        |  / (CAST(swq AS DOUBLE) * CAST(swxx AS DOUBLE)
        |    - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)) AS b2
        |FROM f1 f JOIN s2 ON s2.g = f.g ORDER BY 1""".stripMargin))
}
