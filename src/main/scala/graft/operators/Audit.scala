package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality auditing and robust anomaly detection.
  *
  * Before 100 TB of raw data feeds a training pipeline it gets AUDITED:
  * declared expectations (non-null, value ranges, domains, key uniqueness,
  * referential integrity) are evaluated corpus-wide and the violation counts
  * become the gate a batch must pass before promotion — the
  * Deequ/Great-Expectations shape, expressed as plain Spark aggregates.
  *
  * Scale posture: every ROW-LEVEL constraint over one table is a 0/1 flag
  * summed in a SINGLE full scan (one job, map-side partials, no shuffle of
  * the data — only the 1-row partial aggregates move). Set-level constraints
  * (uniqueness, referential integrity) each cost one shuffle on their key —
  * the minimum possible, since both are genuinely distributive-but-keyed.
  * The violation report itself is O(#constraints) rows.
  */
object Audit {

  /** One named row-level constraint: `ok` must be a boolean Column over the
    * audited table's rows; violations = rows where `ok` is false OR null
    * (a null check result is a violation — unknown is not a pass). */
  final case class RowCheck(name: String, ok: Column)

  /** Sum all row-level checks in one scan: each check becomes a
    * `sum(1 - ok)` flag, so N constraints cost exactly one pass over the
    * table and one 1-row result, then unpivot to (check_name, violations,
    * checked) rows via `stack`. */
  def rowChecks(df: DataFrame, checks: Seq[RowCheck]): DataFrame = {
    require(checks.nonEmpty, "rowChecks needs at least one constraint")
    val flagged = df.agg(
      count(lit(1)).as("__n"),
      checks.map(c => c.flag.as(c.name)): _*)
    val stackExpr = checks.map(c => s"'${c.name}', `${c.name}`")
      .mkString(s"stack(${checks.size}, ", ", ", ")")
    flagged.select(expr(s"$stackExpr as (check_name, violations)"),
      col("__n").as("checked"))
      .select("check_name", "violations", "checked")
  }

  private implicit class RichCheck(val c: RowCheck) {
    /** violations = NOT coalesce(ok, false), summed as 0/1. */
    def flag: Column =
      sum(when(coalesce(c.ok, lit(false)), 0L).otherwise(1L))
  }

  /** Duplicate-key audit: number of key groups with more than one row, and
    * the total surplus rows those groups carry. One shuffle on the key. */
  def uniquenessCheck(df: DataFrame, key: Seq[String], name: String): DataFrame =
    df.groupBy(key.map(col): _*).agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum(when(col("__c") > 1, 1L)), lit(0L)).as("violations"),
        count(lit(1)).as("checked"))
      .select(lit(name).as("check_name"), col("violations"), col("checked"))

  /** Referential-integrity audit: child rows whose key has no parent.
    * A LEFT ANTI join on the key — AQE broadcasts the parent key set while
    * it fits, shuffle-joins beyond that; either way the child table is
    * scanned once with only the key column read. */
  def referentialCheck(child: DataFrame, childKey: String, parent: DataFrame,
      parentKey: String, name: String): DataFrame = {
    val total = child.agg(count(lit(1)).as("checked"))
    val orphans = child.select(col(childKey))
      .join(parent.select(col(parentKey).as(childKey)), Seq(childKey),
        "left_anti")
      .agg(count(lit(1)).as("violations"))
    orphans.crossJoin(total)
      .select(lit(name).as("check_name"), col("violations"), col("checked"))
  }

  /** Robust per-key anomaly flags: a point is anomalous when its absolute
    * deviation from the KEY's median exceeds `k · 1.4826 · MAD` (the MAD-
    * z-score rule — median/MAD instead of mean/stddev so the thresholds
    * themselves don't move when the anomalies pollute the estimate).
    *
    * Two exact-percentile aggregations on the same key (median, then median
    * of absolute deviations) and two joins back; the per-key stats table is
    * tiny (one row per key), so both joins broadcast and the events table
    * streams through scan-side. Exact `percentile` is deliberate — it
    * matches any engine bit-for-bit; swap in `percentile_approx`/KLL
    * ([[graft.sketch.KllDoubles]]) when keys carry billions of points. */
  def madAnomalies(df: DataFrame, key: String, valueCol: String,
      k: Double = 3.0): DataFrame = {
    val med = df.groupBy(col(key))
      .agg(expr(s"percentile($valueCol, 0.5)").as("med"))
    val withMed = df.join(broadcast(med), key)
    val mad = withMed.groupBy(col(key))
      .agg(expr(s"percentile(abs($valueCol - med), 0.5)").as("mad"))
    withMed.join(broadcast(mad), key)
      .filter(abs(col(valueCol) - col("med")) > lit(k) * lit(1.4826) * col("mad"))
  }

  /** Benford's-law first-digit profile of a positive money-like column —
    * the classic fabricated-numbers audit signal (synthetic or tampered
    * figures rarely follow the logarithmic first-digit law real
    * transaction data does). Returns one row per leading digit with the
    * observed share, Benford's expected share, and the absolute
    * deviation.
    *
    * Exactness: the first digit comes from the value's EXACT centi-unit
    * integer rendered as a string (no float log10 anywhere — a value at
    * a power-of-ten boundary cannot misclassify), shares are single
    * divisions of exact longs, and the Benford probabilities are
    * hardcoded double literals shared verbatim with the oracle SQL (both
    * engines parse a decimal literal to the same nearest double). One
    * scan, one 9-row aggregate. Digits that never occur are absent (the
    * oracle mirrors this). */
  def benfordProfile(df: DataFrame, valCol: String): DataFrame = {
    val v100 = (col(valCol).cast("decimal(18,2)") * 100).cast("long")
    val p = element_at(array(Audit.BenfordP.map(lit): _*), col("digit"))
    df.filter(col(valCol) > 0)
      .select(substring(v100.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
      .withColumn("obs_share", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy()).cast("double"))
      .withColumn("benford_p", p)
      .withColumn("abs_dev", abs(col("obs_share") - col("benford_p")))
      .orderBy("digit")
  }

  /** log10(1 + 1/d), d = 1..9, as exact double literals (shared with the
    * oracle SQL text — never recomputed through an engine's libm). */
  private[graft] val BenfordP: Seq[Double] = Seq(
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

  /** Calendar-completeness audit: buckets of the time axis with NO rows,
    * reported as gap islands (start epoch, length in buckets) between the
    * corpus's first and last observed bucket — "which days are missing
    * from the feed", the ingestion-completeness check every pipeline runs
    * before trusting a daily aggregate. The expected grid is generated
    * from the observed min/max (calendar-sized, one `sequence` explode of
    * a 1-row aggregate, never data-sized); islands come from the classic
    * `bucket − row_number` run collapse. */
  def calendarGaps(df: DataFrame, tsCol: String,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, s"bucket must be positive: $bucketSeconds")
    val bucketUs = bucketSeconds * 1000000L
    val obs = df.select(expr(s"unix_micros($tsCol) div $bucketUs").as("__b"))
      .distinct()
    val grid = obs.agg(min("__b").as("__mn"), max("__b").as("__mx"))
      .select(explode(sequence(col("__mn"), col("__mx"))).as("__b"))
    val missing = grid.join(obs, Seq("__b"), "left_anti")
    missing
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("__b")).cast("long"))
      .groupBy((col("__b") - col("__rn")).as("__grp"))
      .agg(min(col("__b")).as("__g0"), count(lit(1)).as("gap_buckets"))
      .select((col("__g0") * bucketSeconds).as("gap_start_epoch"),
        col("gap_buckets"))
      .orderBy("gap_start_epoch")
  }

  /** Duplicate-payment audit: pairs of orders by the SAME customer with
    * SIMILAR amounts (same `amountBucketCents` block of the exact
    * centi-amount) within `windowSeconds` of each other — the classic
    * accounts-payable double-charge sweep, with the amount match bucketed
    * the way AP reviews run it (a re-keyed duplicate rarely repeats to
    * the cent). Blocked self-join on the (customer, amount-block) key, so
    * the pair space is Σ block² over same-block-same-customer groups
    * (tiny), never |orders|²; the time filter and pair dedup (k1 < k2)
    * run inside blocks. Both pair amounts are reported for review. */
  def duplicatePayments(orders: DataFrame, custCol: String, keyCol: String,
      amountCol: String, tsCol: String, windowSeconds: Long,
      amountBucketCents: Long): DataFrame = {
    require(windowSeconds > 0, s"window must be positive: $windowSeconds")
    require(amountBucketCents >= 1, s"bad amount bucket: $amountBucketCents")
    val prep = orders.select(col(custCol).as("cust"),
      (col(amountCol).cast("decimal(18,2)") * 100).cast("long").as("__amt_c"),
      col(keyCol).as("__k"), expr(s"unix_micros($tsCol)").as("__us"))
      .withColumn("__blk", expr(s"__amt_c div $amountBucketCents"))
    prep.as("a").join(prep.as("b"),
        col("a.cust") === col("b.cust") &&
          col("a.__blk") === col("b.__blk") &&
          col("a.__k") < col("b.__k") &&
          abs(col("a.__us") - col("b.__us")) <= windowSeconds * 1000000L)
      .select(col("a.cust").as(custCol),
        (col("a.__amt_c").cast("double") / lit(100.0)).as("amount_1"),
        (col("b.__amt_c").cast("double") / lit(100.0)).as("amount_2"),
        col("a.__k").as("key_1"), col("b.__k").as("key_2"),
        abs(col("a.__us") - col("b.__us")).as("gap_us"))
      .orderBy(custCol, "key_1", "key_2")
  }

  // ---- declared queries ----

  /** The lineitem/orders expectation suite: four row-level constraints in
    * one scan, plus line-number uniqueness and the order-key foreign key.
    * Passing constraints report 0 — the audit's job is the COUNT, not a
    * filter; the oracle recomputes every count independently in SQL. */
  def q112DqAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val row = rowChecks(li, Seq(
      RowCheck("l_quantity_in_1_50",
        col("l_quantity") >= 1 && col("l_quantity") <= 50),
      RowCheck("l_discount_in_0_0p1",
        col("l_discount") >= 0 && col("l_discount") <= 0.1),
      RowCheck("l_returnflag_domain",
        col("l_returnflag").isin("A", "N", "R")),
      RowCheck("l_shipdate_not_null", col("l_shipdate").isNotNull)))
    val uniq = uniquenessCheck(li, Seq("l_orderkey", "l_linenumber"),
      "l_orderkey_linenumber_unique")
    val fk = referentialCheck(li, "l_orderkey", o, "o_orderkey",
      "l_orderkey_fk_orders")
    row.unionByName(uniq).unionByName(fk)
      .select(col("check_name"), col("violations").cast("long"),
        col("checked").cast("long"))
      .orderBy("check_name")
  }

  /** MAD anomalies over the events stream, per user: the oracle rebuilds
    * median and MAD with DuckDB's exact `median` (both engines interpolate
    * even-count medians identically). */
  def q113MadAnomaly(spark: SparkSession, dir: String): DataFrame =
    madAnomalies(Tables.events(spark, dir), "user_id", "value", k = 3.0)
      .select(col("event_id"), col("user_id"), col("value"),
        col("med"), col("mad"))
      .orderBy("event_id")

  /** Seasonal-baseline anomalies: per (key, hour-of-day) the volume
    * baseline over all days, cells flagged where the day-hour count sits
    * more than `k` standard deviations off ITS OWN hour's baseline — the
    * day-of-week/hour-of-day normalization that keeps a nightly peak from
    * drowning a 3 a.m. incident. Two aggregations (cells, then baselines
    * keyed by a strict subset of the cell key, so the second groupBy
    * rides the first's partitioning) and a broadcast-sized join back.
    *
    * Float discipline: mean and variance are computed from EXACT integer
    * sums with one fixed expression shape — `m = s/c`,
    * `var = sq/c − m·m`, `z = (n − m)/sqrt(var)` — every step an
    * exactly-rounded IEEE op on identical inputs, so the z-scores and
    * the flag set hash-gate across engines (the same discipline as the
    * decay scores; no epsilon needed). Zero-variance baselines are
    * excluded by the shared `var > 0` guard. */
  def seasonalAnomalies(events: DataFrame, tsCol: String, keyCol: String,
      bucketSeconds: Long, seasonBuckets: Int, k: Double): DataFrame = {
    require(bucketSeconds > 0 && seasonBuckets > 1, "bad seasonal grid")
    val bucketUs = bucketSeconds * 1000000L
    val cells = events
      .select(col(keyCol).as("key"),
        expr(s"unix_micros($tsCol) div $bucketUs").as("b"))
      .groupBy(col("key"), (col("b") % seasonBuckets).as("season"), col("b"))
      .agg(count(lit(1)).as("n"))
    val base = cells.groupBy("key", "season")
      .agg(sum("n").as("s"), sum(col("n") * col("n")).as("sq"),
        count(lit(1)).as("c"))
    val m = col("s").cast("double") / col("c").cast("double")
    val v = col("sq").cast("double") / col("c").cast("double") - m * m
    cells.join(base, Seq("key", "season"))
      .withColumn("z", (col("n").cast("double") - m) / sqrt(v))
      .filter(v > 0 && abs(col("z")) > k)
      .select(col("key").as(keyCol), (col("b") * bucketSeconds).as("bucket_epoch"),
        col("season"), col("n"), col("z"))
  }

  /** Hourly event volume vs each event type's same-hour-of-day baseline,
    * |z| > 3 flagged. Strict hash gate (z bit-identical by the fixed
    * expression shape). */
  def q137SeasonalAnomaly(spark: SparkSession, dir: String): DataFrame =
    seasonalAnomalies(Tables.events(spark, dir), "ts", "event_type",
        bucketSeconds = 3600L, seasonBuckets = 24, k = 3.0)
      .orderBy("event_type", "bucket_epoch")

  /** Distribution drift per group: Kolmogorov–Smirnov distance between
    * each group's value distribution and the corpus-wide one, evaluated
    * on an equi-width bucket grid (the KS statistic of the BUCKETED
    * distributions — exact w.r.t. the grid, off the true KS by at most
    * the largest bucket mass). The exact-at-every-point KS needs a
    * global value sort (single-partition at scale); the grid version is
    * one bucketed aggregation + a (groups × buckets) CDF frame — the
    * trade every monitoring system makes. Empty buckets are
    * materialized from the grid so cumulative sums never skip steps.
    * All arithmetic is exact counts + exactly-rounded divisions, so the
    * distances hash-gate bit-identically. */
  def ksDrift(df: DataFrame, keyCol: String, valueCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2: $nBuckets")
    val spark = df.sparkSession
    val bounds = df.agg(min(col(valueCol)).as("lo"), max(col(valueCol)).as("hi"))
    val bucketed = df.join(broadcast(bounds))
      .select(col(keyCol).as("k"),
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(lit(nBuckets - 1),
            floor((col(valueCol) - col("lo")) / (col("hi") - col("lo")) *
              nBuckets).cast("int"))).as("b"))
    val counts = bucketed.groupBy("k", "b").agg(count(lit(1)).as("n"))
    val grid = counts.select("k").distinct()
      .crossJoin(spark.range(nBuckets).select(col("id").cast("int").as("b")))
    val filled = grid.join(counts, Seq("k", "b"), "left")
      .na.fill(0L, Seq("n"))
    val wKey = Window.partitionBy("k").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gl = filled.groupBy("b").agg(sum("n").as("gn"))
      .withColumn("gcum", sum("gn").over(wAll))
    val totals = filled.groupBy("k").agg(sum("n").as("nk"))
    val nAll = filled.agg(sum("n").as("nall"))
    filled
      .withColumn("cum", sum("n").over(wKey))
      .join(broadcast(gl), "b")
      .join(totals, "k")
      .join(broadcast(nAll))
      .withColumn("d", abs(col("cum").cast("double") / col("nk").cast("double") -
        col("gcum").cast("double") / col("nall").cast("double")))
      .groupBy(col("k").as(keyCol))
      .agg(max("d").as("ks_distance"), max("nk").as("n_values"))
  }

  /** Bucket a value column onto a FIXED `[lo, hi)` grid — the shared
    * discretization of the KS machinery. Fixed bounds (not data min/max)
    * are what make two count tables comparable: a monitor buckets every
    * batch on the BASELINE's grid. */
  def bucketCounts(df: DataFrame, keyCol: String, valueCol: String,
      lo: Double, hi: Double, nBuckets: Int): DataFrame = {
    require(hi > lo, s"need hi > lo: [$lo, $hi)")
    df.select(col(keyCol).as("k"),
        least(lit(nBuckets - 1), greatest(lit(0),
          floor((col(valueCol) - lit(lo)) / lit(hi - lo) * nBuckets)
            .cast("int"))).as("b"))
      .groupBy("k", "b").agg(count(lit(1)).as("n"))
  }

  /** KS distance per key between two `(k, b, n)` bucket-count tables on
    * the same grid (e.g. a live batch vs a frozen baseline). Keys present
    * on only one side are skipped — a monitor alerts on coverage
    * separately. Same exactness discipline as [[ksDrift]]. */
  def ksCompare(left: DataFrame, right: DataFrame, nBuckets: Int): DataFrame = {
    val spark = left.sparkSession
    val keys = left.select("k").distinct()
      .join(right.select("k").distinct(), Seq("k"), "inner")
    val grid = keys.crossJoin(
      spark.range(nBuckets).select(col("id").cast("int").as("b")))
    def filled(c: DataFrame, n: String) =
      grid.join(c.withColumnRenamed("n", n), Seq("k", "b"), "left")
        .na.fill(0L, Seq(n))
        .select(col("k"), col("b"), col(n))
    val w = Window.partitionBy("k").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val l = filled(left, "ln").withColumn("lcum", sum("ln").over(w))
    val r = filled(right, "rn").withColumn("rcum", sum("rn").over(w))
    val lt = left.groupBy("k").agg(sum("n").as("lnk"))
    val rt = right.groupBy("k").agg(sum("n").as("rnk"))
    l.join(r, Seq("k", "b")).join(lt, "k").join(rt, "k")
      .withColumn("d",
        abs(col("lcum").cast("double") / col("lnk").cast("double") -
          col("rcum").cast("double") / col("rnk").cast("double")))
      .groupBy("k")
      .agg(max("d").as("ks_distance"), max("lnk").as("n_left"),
        max("rnk").as("n_right"))
  }

  /** Per-event-type drift of the value distribution vs the whole stream,
    * 256-bucket grid. Strict hash gate on the bit-identical distances. */
  def q141KsDrift(spark: SparkSession, dir: String): DataFrame =
    ksDrift(Tables.events(spark, dir), "event_type", "value", nBuckets = 256)
      .orderBy("event_type")

  /** The q113 MAD anomaly machinery with KLL medians — the documented
    * swap for keys too large for exact percentiles: [[madAnomalies]]'
    * exact `percentile` sorts each key's values (fine to millions, wrong
    * at billions); this variant estimates the median and the residual
    * median from mergeable KLL sketches (two map-side-combined passes,
    * the second because the residual depends on the first's result), so
    * per-key cost is O(sketch) regardless of key size. Same flag rule on
    * the estimated centre/scale. */
  def madAnomaliesApprox(df: DataFrame, key: String, valueCol: String,
      k: Double = 3.0,
      kllK: Int = graft.sketch.KllDoubles.DefaultK): DataFrame = {
    val med = df.groupBy(col(key))
      .agg(element_at(graft.GraftFunctions.approx_quantiles(
        col(valueCol), Seq(0.5), kllK), 1).as("med"))
    val withMed = df.join(broadcast(med), key)
    val mad = withMed.groupBy(col(key))
      .agg(element_at(graft.GraftFunctions.approx_quantiles(
        abs(col(valueCol) - col("med")), Seq(0.5), kllK), 1).as("mad"))
    withMed.join(broadcast(mad), key)
      .filter(abs(col(valueCol) - col("med")) > lit(k) * lit(1.4826) * col("mad"))
  }

  /** KLL-MAD rank gate (the q118 discipline): per key, the estimated
    * median and residual-median are rank-checked against the TRUE rows —
    * r_le/r_lt within ε·n of rank n/2 — with the exact count riding
    * along for the oracle; the flag semantics themselves are pinned
    * against exact-percentile MAD in the unit tests, where borderline
    * rows can be controlled. */
  def q146ApproxMad(spark: SparkSession, dir: String): DataFrame = {
    val eps = 0.04
    val ev = Tables.events(spark, dir)
    val med = ev.groupBy("user_id")
      .agg(element_at(graft.GraftFunctions.approx_quantiles(
        col("value"), Seq(0.5)), 1).as("med"))
    val withMed = ev.join(broadcast(med), "user_id")
    val mad = withMed.groupBy("user_id")
      .agg(element_at(graft.GraftFunctions.approx_quantiles(
        abs(col("value") - col("med")), Seq(0.5)), 1).as("mad"))
    withMed.join(broadcast(mad), "user_id")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("med"), 1L).otherwise(0L)).as("mle"),
        sum(when(col("value") < col("med"), 1L).otherwise(0L)).as("mlt"),
        sum(when(abs(col("value") - col("med")) <= col("mad"), 1L)
          .otherwise(0L)).as("rle"),
        sum(when(abs(col("value") - col("med")) < col("mad"), 1L)
          .otherwise(0L)).as("rlt"))
      .select(col("user_id"), col("n"),
        (col("mle").cast("double") >= lit(0.5) * col("n") - lit(eps) * col("n") &&
          col("mlt").cast("double") <= lit(0.5) * col("n") + lit(eps) * col("n"))
          .as("med_rank_ok"),
        (col("rle").cast("double") >= lit(0.5) * col("n") - lit(eps) * col("n") &&
          col("rlt").cast("double") <= lit(0.5) * col("n") + lit(eps) * col("n"))
          .as("mad_rank_ok"))
      .orderBy("user_id")
  }

  /** ANALYZE-style catalog statistics in ONE scan: per column — row
    * count, non-null count, HLL distinct estimate, lexical min/max
    * (values stringified so one report covers any schema). The stats a
    * cost-based planner feeds on, gathered with a single pass of
    * map-side-combined aggregates; the NDV is the engine's own mergeable
    * sketch, so per-partition stats roll up to table stats by sketch
    * merge (the incremental-ANALYZE shape). The declared gate rides the
    * exact NDV next to the estimate's envelope boolean — the exact side
    * costs one Expand pass and exists for the ORACLE, not the operator. */
  def tableStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "tableStats needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        graft.GraftFunctions.approx_distinct(col(c))
          .getField("cardinality").as(s"__ndv_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    } :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      one.select(lit(c).as("column"), col("__n").as("n_rows"),
        col(s"__nn_$c").as("n_nonnull"), col(s"__ndv_$c").as("ndv_est"),
        col(s"__min_$c").as("min_s"), col(s"__max_$c").as("max_s"))
    }.reduce(_ unionByName _)
    stacked
  }

  /** The drift monitor's batch body as an oracle-gated query: the
    * month's first half is the frozen baseline, the second half the
    * "live" side, both bucketed on the same fixed [0, 100) grid, KS
    * per event type. Strict hash gate on the bit-identical distances. */
  def q142KsBaselineCompare(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cut = lit("2024-01-16").cast("timestamp")
    def counts(df: DataFrame) =
      bucketCounts(df, "event_type", "value", lo = 0.0, hi = 100.0,
        nBuckets = 64)
    ksCompare(counts(ev.filter(col("ts") >= cut)),
        counts(ev.filter(col("ts") < cut)), nBuckets = 64)
      .select(col("k").as("event_type"), col("ks_distance"),
        col("n_left"), col("n_right"))
      .orderBy("event_type")
  }

  /** Per-group winsorized statistics: exact interpolated [lo, hi]
    * percentiles, clip counts, and the winsorized mean — the robust
    * location estimate feature pipelines use before normalizing a
    * heavy-tailed column.
    *
    * Two aggregation passes, both group-keyed: pass 1 reduces to one
    * (p_lo, p_hi) row per group (a broadcast-sized frame), pass 2 clips
    * against the broadcast and aggregates. No window over row-level data,
    * so no per-group sort at scale. Clipped values are DECIMAL-quantized
    * before the mean's sum (order-independent); the percentile itself is
    * Spark's exact interpolating `percentile` — swap to the KLL sketch
    * (q146's move) at billion-row groups. */
  def winsorizedStats(df: DataFrame, groupCols: Seq[String], valCol: String,
      lo: Double, hi: Double): DataFrame = {
    require(0 <= lo && lo < hi && hi <= 1, s"need 0 <= lo < hi <= 1: $lo $hi")
    val gc = groupCols.map(col)
    val q = df.groupBy(gc: _*).agg(
      expr(s"percentile($valCol, $lo)").as("__plo"),
      expr(s"percentile($valCol, $hi)").as("__phi"))
    df.join(broadcast(q), groupCols)
      .withColumn("__clip",
        least(greatest(col(valCol), col("__plo")), col("__phi")))
      .groupBy(gc: _*)
      .agg(count(lit(1)).as("n"),
        min(col("__plo")).as("p_lo"),
        min(col("__phi")).as("p_hi"),
        sum(when(col(valCol) < col("__plo"), 1L).otherwise(0L))
          .as("n_clip_low"),
        sum(when(col(valCol) > col("__phi"), 1L).otherwise(0L))
          .as("n_clip_high"),
        (sum(col("__clip").cast("decimal(28,10)")).cast("double") /
          count(lit(1))).as("mean_winsor"))
      .orderBy(gc: _*)
  }

  /** 5/95-winsorized `l_extendedprice` per return flag. Gate: percentiles
    * match `quantile_cont`, clip counts are exact integers, the mean's
    * sum is decimal-stabilized. */
  def q152Winsorize(spark: SparkSession, dir: String): DataFrame =
    winsorizedStats(graft.sources.Tables.lineitem(spark, dir),
      Seq("l_returnflag"), "l_extendedprice", lo = 0.05, hi = 0.95)

  /** Benford first-digit audit of `l_extendedprice`. Strict hash gate:
    * exact digit counts, shared-literal expectations, pure-double
    * deviations. (TPC-H-ish prices are range-bounded, so the profile
    * deviating from Benford is itself the expected, reproducible
    * finding.) */
  def q177Benford(spark: SparkSession, dir: String): DataFrame =
    benfordProfile(graft.sources.Tables.lineitem(spark, dir),
      "l_extendedprice")

  /** Missing-minute islands in the events feed (the minute grid is the
    * sparse one at every SF — hourly is complete). Strict hash gate:
    * exact grid arithmetic. */
  def q188CalendarGaps(spark: SparkSession, dir: String): DataFrame =
    calendarGaps(graft.sources.Tables.events(spark, dir), "ts",
      bucketSeconds = 60L)

  /** Same-customer similar-amount ($1000 block) order pairs within 90
    * days. Strict hash gate: exact centi-amount blocks and microsecond
    * gaps. */
  def q189DuplicatePayments(spark: SparkSession, dir: String): DataFrame =
    duplicatePayments(graft.sources.Tables.orders(spark, dir), "o_custkey",
      "o_orderkey", "o_totalprice", "o_orderdate",
      windowSeconds = 90L * 86400L, amountBucketCents = 100000L)

  /** Functional-dependency audit: for each candidate FD `lhs → rhs`, how
    * badly the data violates it — the profiling primitive behind key
    * discovery and normalization checks. Per candidate: distinct lhs
    * groups, groups whose rhs is not single-valued, and the row mass
    * inside violating groups. One map-side-combined (candidate, lhs)
    * aggregation per candidate unioned into a single frame — row-linear,
    * no joins. */
  def fdViolations(df: DataFrame,
      candidates: Seq[(String, String)]): DataFrame = {
    require(candidates.nonEmpty, "need at least one candidate FD")
    candidates.map { case (lhs, rhs) =>
      df.select(col(lhs).cast("string").as("__l"),
          col(rhs).cast("string").as("__r"))
        .groupBy("__l")
        .agg(count(lit(1)).as("__rows"),
          countDistinct(col("__r")).as("__ndv"))
        .agg(lit(s"$lhs -> $rhs").as("fd"),
          count(lit(1)).as("n_groups"),
          sum(when(col("__ndv") > 1, 1L).otherwise(0L))
            .as("n_violating_groups"),
          sum(when(col("__ndv") > 1, col("__rows")).otherwise(0L))
            .as("n_violating_rows"))
    }.reduce(_ unionByName _).orderBy("fd")
  }

  /** Do orders' attributes functionally depend on their keys: the exact
    * violation profile for three candidate dependencies (one real key,
    * two deliberately false). */
  def q302FdViolations(spark: SparkSession, dir: String): DataFrame =
    fdViolations(Tables.orders(spark, dir),
      Seq("o_orderkey" -> "o_orderpriority",
        "o_custkey" -> "o_orderpriority",
        "o_orderdate" -> "o_orderstatus"))

  /** Referential-integrity audit after a CDC night: orphan counts per FK
    * edge once the q109 changeset (which DELETES every order whose key
    * ends in 0) is merged — child rows pointing at vanished parents are
    * the delete-anomaly every warehouse reconciliation hunts. Per edge:
    * child rows, orphaned rows, distinct orphaned keys. Each edge is one
    * key-hash left-anti join against the merged snapshot — broadcast
    * when the parent side fits, shuffle otherwise (no hint, AQE picks). */
  def fkOrphans(edges: Seq[(String, DataFrame, String, DataFrame, String)])
      : DataFrame = {
    require(edges.nonEmpty, "need at least one FK edge")
    edges.map { case (name, child, ck, parent, pk) =>
      val orphans = child.select(col(ck).as("__k"))
        .join(parent.select(col(pk).as("__k")), Seq("__k"), "left_anti")
      val stats = orphans.agg(
        count(lit(1)).as("n_orphan_rows"),
        countDistinct(col("__k")).as("n_orphan_keys"))
      child.agg(lit(name).as("fk_edge"), count(lit(1)).as("n_child_rows"))
        .crossJoin(stats) // two 1-row frames
    }.reduce(_ unionByName _).orderBy("fk_edge")
  }

  def q303FkOrphans(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val merged = Cdc.mergeSnapshot(o, Cdc.derivedChanges(o),
      Seq("o_orderkey"))
    fkOrphans(Seq(
      ("lineitem.l_orderkey -> orders_merged",
        Tables.lineitem(spark, dir), "l_orderkey", merged, "o_orderkey"),
      ("orders_merged.o_custkey -> customer",
        merged, "o_custkey", Tables.customer(spark, dir), "c_custkey"),
      ("lineitem.l_partkey -> part",
        Tables.lineitem(spark, dir), "l_partkey",
        Tables.part(spark, dir), "p_partkey")))
  }

  /** Capture–recapture population estimation (Lincoln–Petersen /
    * Chapman): estimate a table's true size from TWO cheap independent
    * "capture" samples and their overlap — N̂ ≈ n_A·n_B / m. The
    * profiling move when counting is expensive but sampling is cheap
    * (cross-source corpus overlap, dedup-rate estimation before running
    * the dedup). Here the captures are two coprime residue-class samples
    * of the key, the overlap is exact, and the true N rides along so the
    * gate checks the estimator's whole arithmetic. One scan, one 1-row
    * aggregate — no joins at all. */
  def captureRecapture(df: DataFrame, keyCol: String, inA: Column,
      inB: Column): DataFrame = {
    df.select(inA.as("a"), inB.as("b"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("b"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n_both"))
      .select(col("n_true"), col("n_a"), col("n_b"), col("n_both"),
        when(col("n_both") > 0,
          dd(col("n_a")) * dd(col("n_b")) / dd(col("n_both")))
          .as("petersen"),
        (dd(col("n_a") + 1) * dd(col("n_b") + 1) / dd(col("n_both") + 1)
          - lit(1.0)).as("chapman"))
  }

  /** Corpus-size estimate of the documents table from two residue-class
    * captures of doc_id (mod 7 and mod 11 — coprime, so jointly
    * uniform). */
  def q313CaptureRecapture(spark: SparkSession, dir: String): DataFrame =
    captureRecapture(Tables.documents(spark, dir), "doc_id",
      col("doc_id") % 7 < 2, col("doc_id") % 11 < 3)

  /** Join-key fanout / skew audit — the numbers that decide whether a
    * join on `keyCol` is safe at scale BEFORE running it: key count, row
    * count, max and exact p50/p99 fanout, the hottest key's row share,
    * the self-join output size Σc² (what a key-equijoin of this table
    * with itself would produce — THE skew-explosion planning number),
    * and the Shannon entropy of the key distribution (low entropy = a
    * few keys own the table = salt or skew-hint before joining).
    *
    * Scale shape: one groupBy(key) scan, then everything runs over the
    * FANOUT HISTOGRAM (distinct fanout values — domain-bounded, tiny);
    * quantiles are integer threshold picks over the histogram's
    * range-partitioned cumulative counts, never a sort of keys; Σc² and
    * the entropy sum are exact wide-decimal accumulation, so the audit
    * is bit-reproducible. Null keys are excluded (they never match an
    * equijoin anyway). */
  def joinFanoutAudit(df: DataFrame, keyCol: String,
      edgeName: String): DataFrame = {
    // fanout histogram: ≤ |distinct fanout| rows. Materialized ONCE — it
    // feeds five consumers (tot ×3 via the crossJoins, quant, ent), each of
    // which would otherwise re-run the full scan + both aggregations
    // (guide §2.4; measured r11 at sf0.1: the bench-recorded number drops
    // 10.6 s → ~4 s — the cold first run falls from ≥8 s, which also
    // re-qualifies the query for the bench's min-of-2 policy)
    val hist = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("nk"))
      .localCheckpoint(true)
    val tot = hist.agg(sum("nk").as("n_keys"),
      sum(col("c") * col("nk")).as("n_rows"),
      max("c").as("max_fanout"),
      sum(col("c").cast("decimal(38,0)") * col("c") * col("nk")).as("sj"))
    val quant = Rank.globalRankPrefix(hist, Seq(col("c")),
        Seq("cum" -> col("nk")))
      .crossJoin(broadcast(tot)) // 1-row build side
      .agg(
        min(when(col("cum") * 2 >= col("n_keys"), col("c")))
          .as("p50_fanout"),
        min(when(col("cum") * 100 >= col("n_keys") * 99, col("c")))
          .as("p99_fanout"))
    val ent = hist.crossJoin(broadcast(tot)) // 1-row build side
      .agg(sum((dd(col("nk")) * (dd(col("c")) / dd(col("n_rows"))) *
          log(dd(col("n_rows")) / dd(col("c")))).cast("decimal(38,12)"))
        .cast("double").as("entropy_nats"))
    tot.crossJoin(broadcast(quant)).crossJoin(broadcast(ent))
      .select(lit(edgeName).as("edge"), col("n_keys"), col("n_rows"),
        col("max_fanout"), col("p50_fanout"), col("p99_fanout"),
        (dd(col("n_rows")) / dd(col("n_keys"))).as("avg_fanout"),
        (dd(col("max_fanout")) / dd(col("n_rows"))).as("top1_share"),
        col("sj").cast("double").as("selfjoin_rows"),
        col("entropy_nats"))
  }

  /** Population Stability Index per key between two bucket-count tables
    * on the same fixed grid — THE industry drift score for model inputs
    * (rule of thumb: < 0.1 stable, 0.1–0.25 drifting, > 0.25 broken),
    * complementing [[ksCompare]]'s max-gap view with a mass-weighted
    * total:  PSI = Σ_b (p_b − q_b)·ln(p_b / q_b)  with add-one Laplace
    * smoothing on the counts so empty buckets contribute finitely and
    * deterministically (no dropped buckets, no ±∞).
    *
    * Same scale shape as the KS path: everything runs over the
    * (key × bucket) count frame; per-bucket terms are DECIMAL-quantized
    * so the one order-sensitive sum is exact. */
  def psiCompare(live: DataFrame, baseline: DataFrame,
      nBuckets: Int): DataFrame = {
    val spark = live.sparkSession
    val keys = live.select("k").distinct()
      .join(baseline.select("k").distinct(), Seq("k"), "inner")
    val grid = keys.crossJoin(
      spark.range(nBuckets).select(col("id").cast("int").as("b")))
    def filled(c: DataFrame, n: String) =
      grid.join(c.withColumnRenamed("n", n), Seq("k", "b"), "left")
        .na.fill(0L, Seq(n))
        .select(col("k"), col("b"), col(n))
    val lt = live.groupBy("k").agg(sum("n").as("lnk"))
    val rt = baseline.groupBy("k").agg(sum("n").as("rnk"))
    filled(live, "ln").join(filled(baseline, "rn"), Seq("k", "b"))
      .join(lt, "k").join(rt, "k")
      // Laplace: p = (n_b + 1) / (n + nBuckets), both sides
      .withColumn("p", dd(col("ln") + 1) /
        dd(col("lnk") + lit(nBuckets.toLong)))
      .withColumn("q", dd(col("rn") + 1) /
        dd(col("rnk") + lit(nBuckets.toLong)))
      .withColumn("term",
        ((col("p") - col("q")) * log(col("p") / col("q")))
          .cast("decimal(38,12)"))
      .groupBy("k")
      .agg(sum(col("term")).cast("double").as("psi"),
        max("lnk").as("n_live"), max("rnk").as("n_baseline"))
  }

  /** Month-half PSI drift of event values per type on the q142 grid —
    * the stability score a feature-store monitor pages on. */
  def q331PsiDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cut = lit("2024-01-16").cast("timestamp")
    def counts(df: DataFrame) =
      bucketCounts(df, "event_type", "value", lo = 0.0, hi = 100.0,
        nBuckets = 64)
    psiCompare(counts(ev.filter(col("ts") >= cut)),
        counts(ev.filter(col("ts") < cut)), nBuckets = 64)
      .select(col("k").as("event_type"), col("psi"), col("n_live"),
        col("n_baseline"))
      .orderBy("event_type")
  }

  /** Fanout audit of the two hot join keys: lineitem per order and
    * events per user — would a key-equijoin on either explode. */
  def q324JoinFanout(spark: SparkSession, dir: String): DataFrame =
    joinFanoutAudit(Tables.lineitem(spark, dir), "l_orderkey",
        "lineitem per order")
      .unionByName(joinFanoutAudit(Tables.events(spark, dir), "user_id",
        "events per user"))
      .orderBy("edge")

  /** Candidate-key discovery profile: for each caller-listed column
    * combination, the exact distinct count, the uniqueness ratio and the
    * is-key verdict — the schema-inference screen that decides join keys,
    * bucketing columns and dedup identities before anything is built on a
    * wrong assumption (the profiling complement of the FD-violation audit
    * q302: that one checks a DECLARED dependency, this one DISCOVERS which
    * combos qualify). Each combo is one narrow projection + map-side-
    * combined distinct — k bounded by the caller's list, never the schema
    * power set. For a cheap first pass at 100 TB, screen the same combos
    * with the mergeable `approx_distinct` sketch (q30) and confirm only
    * the near-1.0 candidates here. */
  def candidateKeys(df: DataFrame, combos: Seq[Seq[String]]): DataFrame = {
    require(combos.nonEmpty && combos.forall(_.nonEmpty),
      s"need at least one non-empty column combo: $combos")
    val tot = df.agg(count(lit(1)).as("n_rows"))
    combos.map { cs =>
      df.select(cs.map(col): _*).distinct()
        .agg(count(lit(1)).as("n_distinct"))
        .select(lit(cs.mkString(",")).as("combo"), col("n_distinct"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(tot)) // 1-row statistic frame
      .select(col("combo"), col("n_distinct"), col("n_rows"),
        (dd(col("n_distinct")) / dd(col("n_rows"))).as("uniqueness"),
        (col("n_distinct") === col("n_rows")).as("is_key"))
      .orderBy("combo")
  }

  /** Which column combos identify an order row — the key-discovery
    * profile over the obvious candidates. */
  def q399CandidateKeys(spark: SparkSession, dir: String): DataFrame =
    candidateKeys(Tables.orders(spark, dir), Seq(
      Seq("o_orderkey"), Seq("o_custkey"), Seq("o_orderdate"),
      Seq("o_custkey", "o_orderdate"),
      Seq("o_orderstatus", "o_orderpriority")))

  private val statsCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderpriority")

  /** Catalog stats over `orders`: exact NDV rides along (the oracle
    * recomputes it), the HLL estimate gates through the BASELINE.md
    * envelope boolean, min/max/lengths are exact strings. */
  def q145TableStats(spark: SparkSession, dir: String): DataFrame = {
    val envelope = 3 * 1.04 / math.sqrt(1 << 16)
    val o = Tables.orders(spark, dir)
    val est = tableStats(o, statsCols)
    val exact = statsCols.map { c =>
      o.agg(countDistinct(col(c)).as("ndv")).select(lit(c).as("column"),
        col("ndv"))
    }.reduce(_ unionByName _)
    est.join(exact, "column")
      .select(col("column"), col("n_rows"), col("n_nonnull"), col("ndv"),
        (abs(col("ndv_est").cast("double") - col("ndv").cast("double")) <=
          greatest(lit(1.0), col("ndv").cast("double") * envelope))
          .as("est_ok"),
        col("min_s"), col("max_s"))
      .orderBy("column")
  }

  /** One fanout-audit stanza of the q324 oracle (per-table twin of
    * [[joinFanoutAudit]]). */
  private def fanoutSql(table: String, key: String, name: String): String =
    s"""(WITH kc AS (
       |  SELECT $key AS k, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM $table WHERE $key IS NOT NULL GROUP BY 1),
       |h AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nk FROM kc GROUP BY 1),
       |t AS (
       |  SELECT CAST(SUM(nk) AS BIGINT) AS n_keys,
       |    CAST(SUM(c * nk) AS BIGINT) AS n_rows,
       |    CAST(MAX(c) AS BIGINT) AS max_fanout,
       |    SUM(CAST(c AS HUGEINT) * c * nk) AS sj
       |  FROM h),
       |cu AS (
       |  SELECT c, nk, SUM(nk) OVER (ORDER BY c
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM h),
       |qs AS (
       |  SELECT MIN(CASE WHEN cum * 2 >= t.n_keys THEN c END)
       |      AS p50_fanout,
       |    MIN(CASE WHEN cum * 100 >= t.n_keys * 99 THEN c END)
       |      AS p99_fanout
       |  FROM cu CROSS JOIN t),
       |e AS (
       |  SELECT CAST(SUM(CAST(
       |      CAST(nk AS DOUBLE)
       |        * (CAST(c AS DOUBLE) / CAST(t.n_rows AS DOUBLE))
       |        * ln(CAST(t.n_rows AS DOUBLE) / CAST(c AS DOUBLE))
       |      AS DECIMAL(38,12))) AS DOUBLE) AS entropy_nats
       |  FROM h CROSS JOIN t)
       |SELECT '$name' AS edge, n_keys, n_rows, max_fanout,
       |  p50_fanout, p99_fanout,
       |  CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE) AS avg_fanout,
       |  CAST(max_fanout AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top1_share,
       |  CAST(sj AS DOUBLE) AS selfjoin_rows, entropy_nats
       |FROM t CROSS JOIN qs CROSS JOIN e)""".stripMargin

  val declared: Map[String, Query] = Map(
    "q399_candidate_keys" -> Query(q399CandidateKeys,
      """WITH tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders),
        |c AS (
        |  SELECT 'o_orderkey' AS combo,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |      (SELECT DISTINCT o_orderkey FROM orders)) AS n_distinct
        |  UNION ALL SELECT 'o_custkey',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |      (SELECT DISTINCT o_custkey FROM orders))
        |  UNION ALL SELECT 'o_orderdate',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |      (SELECT DISTINCT o_orderdate FROM orders))
        |  UNION ALL SELECT 'o_custkey,o_orderdate',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |      (SELECT DISTINCT o_custkey, o_orderdate FROM orders))
        |  UNION ALL SELECT 'o_orderstatus,o_orderpriority',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |      (SELECT DISTINCT o_orderstatus, o_orderpriority
        |       FROM orders)))
        |SELECT combo, n_distinct, n_rows,
        |  CAST(n_distinct AS DOUBLE) / CAST(n_rows AS DOUBLE)
        |    AS uniqueness,
        |  n_distinct = n_rows AS is_key
        |FROM c, tot ORDER BY combo""".stripMargin),
    "q324_join_fanout" -> Query(q324JoinFanout,
      (fanoutSql("lineitem", "l_orderkey", "lineitem per order") +
        "\nUNION ALL\n" +
        fanoutSql("events", "user_id", "events per user") +
        "\nORDER BY edge")),
    "q313_capture_recapture" -> Query(q313CaptureRecapture,
      """WITH t AS (
        |  SELECT doc_id % 7 < 2 AS a, doc_id % 11 < 3 AS b
        |  FROM documents),
        |c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_both
        |  FROM t)
        |SELECT n_true, n_a, n_b, n_both,
        |  CASE WHEN n_both > 0 THEN CAST(n_a AS DOUBLE)
        |    * CAST(n_b AS DOUBLE) / CAST(n_both AS DOUBLE) END AS petersen,
        |  CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE)
        |    / CAST(n_both + 1 AS DOUBLE) - 1.0 AS chapman
        |FROM c""".stripMargin),
    "q302_fd_violations" -> Query(q302FdViolations,
      """SELECT * FROM (
        |SELECT 'o_custkey -> o_orderpriority' AS fd,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_groups,
        |  CAST(SUM(CASE WHEN ndv > 1 THEN nr ELSE 0 END) AS BIGINT)
        |    AS n_violating_rows
        |FROM (SELECT o_custkey AS l, COUNT(*) AS nr,
        |    COUNT(DISTINCT o_orderpriority) AS ndv
        |  FROM orders GROUP BY 1)
        |UNION ALL
        |SELECT 'o_orderdate -> o_orderstatus',
        |  CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(SUM(CASE WHEN ndv > 1 THEN nr ELSE 0 END) AS BIGINT)
        |FROM (SELECT o_orderdate AS l, COUNT(*) AS nr,
        |    COUNT(DISTINCT o_orderstatus) AS ndv
        |  FROM orders GROUP BY 1)
        |UNION ALL
        |SELECT 'o_orderkey -> o_orderpriority',
        |  CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(SUM(CASE WHEN ndv > 1 THEN nr ELSE 0 END) AS BIGINT)
        |FROM (SELECT o_orderkey AS l, COUNT(*) AS nr,
        |    COUNT(DISTINCT o_orderpriority) AS ndv
        |  FROM orders GROUP BY 1)
        |) ORDER BY fd""".stripMargin),
    // the q109 merge's delete set (keys ending in 0) leaves lineitem
    // orphans; inserts (key+10^8 for keys ending in 3) keep custkeys valid
    "q303_fk_orphans" -> Query(q303FkOrphans,
      """WITH merged AS (
        |  SELECT o_orderkey, o_custkey FROM orders
        |  WHERE o_orderkey % 10 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey FROM orders
        |  WHERE o_orderkey % 10 = 3)
        |SELECT * FROM (
        |SELECT 'lineitem.l_orderkey -> orders_merged' AS fk_edge,
        |  CAST(COUNT(*) AS BIGINT) AS n_child_rows,
        |  CAST(SUM(CASE WHEN m.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_orphan_rows,
        |  CAST(COUNT(DISTINCT CASE WHEN m.o_orderkey IS NULL
        |    THEN l.l_orderkey END) AS BIGINT) AS n_orphan_keys
        |FROM lineitem l LEFT JOIN merged m ON l.l_orderkey = m.o_orderkey
        |UNION ALL
        |SELECT 'orders_merged.o_custkey -> customer',
        |  CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(COUNT(DISTINCT CASE WHEN c.c_custkey IS NULL
        |    THEN m.o_custkey END) AS BIGINT)
        |FROM merged m LEFT JOIN customer c ON m.o_custkey = c.c_custkey
        |UNION ALL
        |SELECT 'lineitem.l_partkey -> part',
        |  CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(COUNT(DISTINCT CASE WHEN p.p_partkey IS NULL
        |    THEN l.l_partkey END) AS BIGINT)
        |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |) ORDER BY fk_edge""".stripMargin),
    // expected hourly grid from observed min/max, anti-joined, islands
    // via the bucket - row_number run collapse
    "q188_calendar_gaps" -> Query(q188CalendarGaps,
      """WITH obs AS (
        |  SELECT DISTINCT CAST(epoch_us(ts) AS BIGINT) // 60000000 AS b
        |  FROM events),
        |grid AS (
        |  SELECT CAST(unnest(range((SELECT MIN(b) FROM obs),
        |    (SELECT MAX(b) FROM obs) + 1)) AS BIGINT) AS b),
        |missing AS (
        |  SELECT g.b FROM grid g LEFT JOIN obs o ON o.b = g.b
        |  WHERE o.b IS NULL),
        |runs AS (
        |  SELECT b, b - ROW_NUMBER() OVER (ORDER BY b) AS grp
        |  FROM missing)
        |SELECT CAST(MIN(b) * 60 AS BIGINT) AS gap_start_epoch,
        |  CAST(COUNT(*) AS BIGINT) AS gap_buckets
        |FROM runs GROUP BY grp ORDER BY gap_start_epoch""".stripMargin),
    // blocked self-join on (customer, $1000 amount block), k1 < k2
    "q189_duplicate_payments" -> Query(q189DuplicatePayments,
      """WITH p AS (
        |  SELECT o_custkey AS cust,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS amt_c,
        |    o_orderkey AS k, epoch_us(o_orderdate) AS us
        |  FROM orders)
        |SELECT a.cust AS o_custkey,
        |  CAST(a.amt_c AS DOUBLE) / 100.0 AS amount_1,
        |  CAST(b.amt_c AS DOUBLE) / 100.0 AS amount_2,
        |  a.k AS key_1, b.k AS key_2,
        |  CAST(ABS(a.us - b.us) AS BIGINT) AS gap_us
        |FROM p a JOIN p b ON a.cust = b.cust
        |  AND a.amt_c // 100000 = b.amt_c // 100000
        |  AND a.k < b.k AND ABS(a.us - b.us) <= 7776000000000
        |ORDER BY o_custkey, key_1, key_2""".stripMargin),
    // first digit from the exact centi-unit integer's string form; the
    // Benford constants are the same double literals the engine carries
    "q177_benford" -> Query(q177Benford, ("""WITH d AS (
        |  SELECT CAST(substring(CAST(CAST(CAST(l_extendedprice
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INT)
        |    AS digit
        |  FROM lineitem WHERE l_extendedprice > 0),
        |c AS (
        |  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
        |t AS (
        |  SELECT *, CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
        |    AS obs_share,
        |    CASE digit
        |""".stripMargin +
      BenfordP.zipWithIndex
        .map { case (pv, i) => s"      WHEN ${i + 1} THEN $pv" }
        .mkString("\n") + "\n" +
      """    END AS benford_p_d
        |  FROM c),
        |t2 AS (SELECT digit, n, obs_share,
        |  CAST(benford_p_d AS DOUBLE) AS benford_p FROM t)
        |SELECT digit, n, obs_share, benford_p,
        |  ABS(obs_share - benford_p) AS abs_dev
        |FROM t2 ORDER BY digit""".stripMargin)),
    // exact per-key counts; the KLL rank booleans are engine-side
    "q146_approx_mad" -> Query(q146ApproxMad,
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  true AS med_rank_ok, true AS mad_rank_ok
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // one UNION ALL branch per column; exact NDV, stringified min/max
    // (value ranges here stay inside both engines' plain-notation zone)
    "q145_table_stats" -> Query(q145TableStats, statsCols.map(c =>
      s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT($c) AS BIGINT) AS n_nonnull,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv, true AS est_ok,
         |  CAST(MIN($c) AS VARCHAR) AS min_s,
         |  CAST(MAX($c) AS VARCHAR) AS max_s FROM orders""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")),
    // two halves bucketed on the same FIXED grid, per-key CDF compare
    // the q142 grid/fill skeleton finished with the PSI mass-weighted
    // sum instead of the KS max gap; Laplace +1 on counts, terms
    // decimal-quantized before the one order-sensitive sum
    "q331_psi_drift" -> Query(q331PsiDrift,
      """WITH lv AS (
        |  SELECT event_type AS k,
        |    LEAST(63, GREATEST(0, CAST(FLOOR((value - 0.0) / 100.0 * 64)
        |      AS INT))) AS b
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
        |bs AS (
        |  SELECT event_type AS k,
        |    LEAST(63, GREATEST(0, CAST(FLOOR((value - 0.0) / 100.0 * 64)
        |      AS INT))) AS b
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16'),
        |lc AS (SELECT k, b, CAST(COUNT(*) AS BIGINT) AS n FROM lv
        |  GROUP BY 1, 2),
        |bc AS (SELECT k, b, CAST(COUNT(*) AS BIGINT) AS n FROM bs
        |  GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT k FROM lc
        |  INTERSECT SELECT DISTINCT k FROM bc),
        |grid AS (
        |  SELECT k, gs.b FROM keys CROSS JOIN
        |    (SELECT CAST(generate_series AS INT) AS b
        |     FROM generate_series(0, 63)) gs),
        |lf AS (SELECT g.k, g.b, COALESCE(c.n, 0) AS n
        |       FROM grid g LEFT JOIN lc c ON c.k = g.k AND c.b = g.b),
        |bf AS (SELECT g.k, g.b, COALESCE(c.n, 0) AS n
        |       FROM grid g LEFT JOIN bc c ON c.k = g.k AND c.b = g.b),
        |lt AS (SELECT k, CAST(SUM(n) AS BIGINT) AS lnk FROM lc GROUP BY k),
        |rt AS (SELECT k, CAST(SUM(n) AS BIGINT) AS rnk FROM bc GROUP BY k),
        |terms AS (
        |  SELECT lf.k,
        |    CAST((CAST(lf.n + 1 AS DOUBLE) / CAST(lnk + 64 AS DOUBLE)
        |        - CAST(bf.n + 1 AS DOUBLE) / CAST(rnk + 64 AS DOUBLE))
        |      * ln((CAST(lf.n + 1 AS DOUBLE) / CAST(lnk + 64 AS DOUBLE))
        |        / (CAST(bf.n + 1 AS DOUBLE) / CAST(rnk + 64 AS DOUBLE)))
        |      AS DECIMAL(38,12)) AS term,
        |    lnk, rnk
        |  FROM lf JOIN bf ON bf.k = lf.k AND bf.b = lf.b
        |  JOIN lt ON lt.k = lf.k JOIN rt ON rt.k = lf.k)
        |SELECT k AS event_type, CAST(SUM(term) AS DOUBLE) AS psi,
        |  CAST(MAX(lnk) AS BIGINT) AS n_live,
        |  CAST(MAX(rnk) AS BIGINT) AS n_baseline
        |FROM terms GROUP BY k ORDER BY event_type""".stripMargin),
    "q142_ks_baseline_compare" -> Query(q142KsBaselineCompare,
      """WITH lv AS (
        |  SELECT event_type AS k,
        |    LEAST(63, GREATEST(0, CAST(FLOOR((value - 0.0) / 100.0 * 64)
        |      AS INT))) AS b
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
        |bs AS (
        |  SELECT event_type AS k,
        |    LEAST(63, GREATEST(0, CAST(FLOOR((value - 0.0) / 100.0 * 64)
        |      AS INT))) AS b
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16'),
        |lc AS (SELECT k, b, CAST(COUNT(*) AS BIGINT) AS n FROM lv GROUP BY 1, 2),
        |bc AS (SELECT k, b, CAST(COUNT(*) AS BIGINT) AS n FROM bs GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT k FROM lc INTERSECT SELECT DISTINCT k FROM bc),
        |grid AS (
        |  SELECT k, gs.b FROM keys CROSS JOIN
        |    (SELECT CAST(generate_series AS INT) AS b
        |     FROM generate_series(0, 63)) gs),
        |lf AS (SELECT g.k, g.b, COALESCE(c.n, 0) AS n
        |       FROM grid g LEFT JOIN lc c ON c.k = g.k AND c.b = g.b),
        |bf AS (SELECT g.k, g.b, COALESCE(c.n, 0) AS n
        |       FROM grid g LEFT JOIN bc c ON c.k = g.k AND c.b = g.b),
        |lcd AS (SELECT k, b, SUM(n) OVER (PARTITION BY k ORDER BY b
        |    ROWS UNBOUNDED PRECEDING) AS lcum FROM lf),
        |bcd AS (SELECT k, b, SUM(n) OVER (PARTITION BY k ORDER BY b
        |    ROWS UNBOUNDED PRECEDING) AS rcum FROM bf),
        |lt AS (SELECT k, CAST(SUM(n) AS BIGINT) AS lnk FROM lc GROUP BY k),
        |rt AS (SELECT k, CAST(SUM(n) AS BIGINT) AS rnk FROM bc GROUP BY k)
        |SELECT k AS event_type,
        |  MAX(ABS(CAST(lcum AS DOUBLE) / CAST(lnk AS DOUBLE)
        |    - CAST(rcum AS DOUBLE) / CAST(rnk AS DOUBLE))) AS ks_distance,
        |  CAST(MAX(lnk) AS BIGINT) AS n_left,
        |  CAST(MAX(rnk) AS BIGINT) AS n_right
        |FROM lcd JOIN bcd USING (k, b) JOIN lt USING (k) JOIN rt USING (k)
        |GROUP BY k ORDER BY event_type""".stripMargin),
    // the same bucket grid, fills, running sums, and exactly-rounded
    // CDF divisions
    "q141_ks_drift" -> Query(q141KsDrift,
      """WITH bounds AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
        |bk AS (
        |  SELECT event_type AS k,
        |    CASE WHEN hi = lo THEN 0
        |         ELSE LEAST(255, CAST(FLOOR((value - lo) / (hi - lo) * 256)
        |           AS INT)) END AS b
        |  FROM events CROSS JOIN bounds),
        |counts AS (SELECT k, b, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM bk GROUP BY 1, 2),
        |grid AS (
        |  SELECT k, gs.b FROM (SELECT DISTINCT k FROM counts)
        |  CROSS JOIN (SELECT CAST(generate_series AS INT) AS b
        |              FROM generate_series(0, 255)) gs),
        |filled AS (
        |  SELECT g.k, g.b, COALESCE(c.n, 0) AS n
        |  FROM grid g LEFT JOIN counts c ON c.k = g.k AND c.b = g.b),
        |glc AS (
        |  SELECT b, SUM(gn) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS gcum
        |  FROM (SELECT b, SUM(n) AS gn FROM filled GROUP BY b)),
        |tot AS (SELECT k, CAST(SUM(n) AS BIGINT) AS nk FROM filled GROUP BY k),
        |na AS (SELECT CAST(SUM(n) AS BIGINT) AS nall FROM filled),
        |cdf AS (
        |  SELECT k, b, SUM(n) OVER (PARTITION BY k ORDER BY b
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM filled)
        |SELECT k AS event_type,
        |  MAX(ABS(CAST(cum AS DOUBLE) / CAST(nk AS DOUBLE)
        |    - CAST(gcum AS DOUBLE) / CAST(nall AS DOUBLE))) AS ks_distance,
        |  CAST(MAX(nk) AS BIGINT) AS n_values
        |FROM cdf JOIN glc USING (b) JOIN tot USING (k) CROSS JOIN na
        |GROUP BY k ORDER BY event_type""".stripMargin),
    // the same fixed expression shape: m = s/c, var = sq/c - m*m,
    // z = (n - m)/sqrt(var) — bit-identical IEEE ops in both engines
    "q137_seasonal_anomaly" -> Query(q137SeasonalAnomaly,
      """WITH cells AS (
        |  SELECT event_type,
        |    (CAST(epoch_us(ts) AS BIGINT) // 3600000000) % 24 AS season,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |base AS (
        |  SELECT event_type, season, CAST(SUM(n) AS BIGINT) AS s,
        |    CAST(SUM(n * n) AS BIGINT) AS sq, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM cells GROUP BY 1, 2),
        |j AS (
        |  SELECT cells.event_type, cells.b, cells.season, cells.n,
        |    CAST(s AS DOUBLE) / CAST(c AS DOUBLE) AS m,
        |    CAST(sq AS DOUBLE) / CAST(c AS DOUBLE)
        |      - (CAST(s AS DOUBLE) / CAST(c AS DOUBLE))
        |      * (CAST(s AS DOUBLE) / CAST(c AS DOUBLE)) AS v
        |  FROM cells JOIN base USING (event_type, season))
        |SELECT event_type, b * 3600 AS bucket_epoch, season, n,
        |  (CAST(n AS DOUBLE) - m) / sqrt(v) AS z
        |FROM j WHERE v > 0 AND abs((CAST(n AS DOUBLE) - m) / sqrt(v)) > 3
        |ORDER BY event_type, bucket_epoch""".stripMargin),
    "q112_dq_audit" -> Query(q112DqAudit,
      """SELECT * FROM (
        |  SELECT 'l_quantity_in_1_50' AS check_name,
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      l_quantity >= 1 AND l_quantity <= 50, false)) AS BIGINT)
        |      AS violations,
        |    CAST(COUNT(*) AS BIGINT) AS checked FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount_in_0_0p1',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      l_discount >= 0 AND l_discount <= 0.1, false)) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag_domain',
        |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
        |      l_returnflag IN ('A','N','R'), false)) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_shipdate_not_null',
        |    CAST(COUNT(*) FILTER (WHERE l_shipdate IS NULL) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_orderkey_linenumber_unique',
        |    CAST(COUNT(*) FILTER (WHERE c > 1) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS c FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber)
        |  UNION ALL
        |  SELECT 'l_orderkey_fk_orders',
        |    CAST(COUNT(*) FILTER (WHERE NOT EXISTS (
        |      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |      AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM lineitem l)
        |ORDER BY check_name""".stripMargin),
    "q113_mad_anomaly" -> Query(q113MadAnomaly,
      """WITH med AS (
        |  SELECT user_id, median(value) AS med FROM events GROUP BY user_id),
        |mad AS (
        |  SELECT e.user_id, median(abs(e.value - m.med)) AS mad
        |  FROM events e JOIN med m USING (user_id) GROUP BY e.user_id)
        |SELECT e.event_id, e.user_id, e.value, m.med, d.mad
        |FROM events e JOIN med m USING (user_id) JOIN mad d USING (user_id)
        |WHERE abs(e.value - m.med) > 3.0 * 1.4826 * d.mad
        |ORDER BY e.event_id""".stripMargin),
    // quantile_cont = percentile()'s exact interpolating twin (q139);
    // same clip expression, same DECIMAL-stabilized mean
    "q152_winsorize" -> Query(q152Winsorize,
      """WITH q AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS plo,
        |    quantile_cont(l_extendedprice, 0.95) AS phi
        |  FROM lineitem GROUP BY 1),
        |j AS (
        |  SELECT l.l_returnflag, l.l_extendedprice AS v, q.plo, q.phi
        |  FROM lineitem l JOIN q USING (l_returnflag))
        |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(plo) AS p_lo, MIN(phi) AS p_hi,
        |  CAST(SUM(CASE WHEN v < plo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_low,
        |  CAST(SUM(CASE WHEN v > phi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_high,
        |  CAST(SUM(CAST(LEAST(GREATEST(v, plo), phi) AS DECIMAL(28,10)))
        |    AS DOUBLE) / COUNT(*) AS mean_winsor
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin))
}
