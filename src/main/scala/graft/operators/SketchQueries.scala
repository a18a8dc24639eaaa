package graft.operators

import graft.GraftFunctions
import graft.GraftFunctions._
import graft.sources.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's own capability, as oracle-gated queries: approximate
  * distinct counting (E1/E2/E3 in SURVEY §3).
  *
  * Gate design: every estimate-bearing query emits the EXACT count (which
  * the DuckDB oracle reproduces) next to a boolean asserting the estimate
  * sits inside the BASELINE.md envelope (3 × 1.04/√2¹⁶ ≈ 1.2% at the
  * default b=16) — so the driver's hash gate is strict (`true` must equal
  * `true`) while the sketch path is still what computes the boolean. Raw
  * estimate assertions (value, bias, 3σ bands) live in ApproxDistinctSpec /
  * SketchPropertiesSpec.
  */
object SketchQueries {

  /** BASELINE.md envelope for the default HLL b=16: 3σ relative error. */
  private val envelope = 3 * 1.04 / math.sqrt(1 << 16)

  /** `|est − exact| / exact <= envelope` as a deterministic boolean. */
  private def withinEnvelope(est: org.apache.spark.sql.Column,
      exact: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    abs(est.cast("double") - exact.cast("double")) / exact.cast("double") <= lit(envelope)

  /** E2: global ungrouped aggregate. The exact twin is a SEPARATE
    * aggregation joined on: mixing countDistinct into the sketch agg makes
    * Spark plan an Expand (2× rows through the imperative aggregate). */
  def q30ApproxGlobal(spark: SparkSession, dir: String): DataFrame = {
    val est = Tables.lineitem(spark, dir)
      .agg(approx_distinct(col("l_orderkey")).as("d"))
      .select(col("d.cardinality").as("est"))
    val exact = Tables.lineitem(spark, dir)
      .agg(countDistinct(col("l_orderkey")).as("n_orders"))
    est.join(exact)
      .select(col("n_orders"),
        withinEnvelope(col("est"), col("n_orders")).as("est_ok"))
  }

  /** E1: grouped aggregate — partial sketches merge across the shuffle.
    * Exact twin joined on the group key (same Expand rationale as q30). */
  def q31ApproxGrouped(spark: SparkSession, dir: String): DataFrame = {
    val est = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(approx_distinct(col("l_orderkey")).as("d"))
      .select(col("l_returnflag"), col("d.cardinality").as("est"))
    val exact = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("n_orders"))
    est.join(exact, "l_returnflag")
      .select(col("l_returnflag"), col("n_orders"),
        withinEnvelope(col("est"), col("n_orders")).as("est_ok"))
      .orderBy("l_returnflag")
  }

  /** LinearCounting path: low-cardinality domain where LC is near-exact. */
  def q32ApproxLcUsers(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .agg(approx_distinct(col("user_id"), "lc").as("d"))
      .select(col("d.cardinality").as("n_users"))
  }

  /** E3: store-then-merge — one sketch per ship-day, re-aggregated to a
    * global count without rescanning raw rows (the reference's
    * distinguishing feature, UDAFCardinalityEstimator.java:190-199). */
  def q33SketchReagg(spark: SparkSession, dir: String): DataFrame = {
    val est = Tables.lineitem(spark, dir)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(approx_distinct(col("l_orderkey")).as("sk"))
      .agg(approx_distinct(col("sk")).as("d"))
      .select(col("d.cardinality").as("est"))
    val exact = Tables.lineitem(spark, dir)
      .agg(countDistinct(col("l_orderkey")).as("n_orders"))
    est.join(exact)
      .select(col("n_orders"),
        withinEnvelope(col("est"), col("n_orders")).as("est_ok"))
  }

  /** Sketch-level union over two overlapping date slices (scalar
    * sketch_union / sketch_estimate — the stub UDF's TODO realized). Each
    * output column is a plain union estimate, so the 1.2% envelope applies. */
  private def dateSliceSketches(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def slice(from: String, to: String) =
      o.filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(to).cast("timestamp"))
        .agg(approx_distinct(col("o_orderkey")).as("sk"))
    slice("1997-01-01", "1999-01-01").select(col("sk").as("sa"))
      .join(slice("1998-01-01", "2000-01-01").select(col("sk").as("sb")))
  }

  /** Exact distinct orderkeys per date slice and their union/intersection —
    * the oracle-checkable twin that q34/q35 compare their estimates to. */
  private def sliceExacts(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def in(from: String, to: String) =
      col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(to).cast("timestamp")
    val early = in("1997-01-01", "1999-01-01")
    val late = in("1998-01-01", "2000-01-01")
    o.agg(
      countDistinct(when(early, col("o_orderkey"))).as("n_early"),
      countDistinct(when(late, col("o_orderkey"))).as("n_late"),
      countDistinct(when(early || late, col("o_orderkey"))).as("n_union"),
      countDistinct(when(early && late, col("o_orderkey"))).as("n_intersect"))
  }

  def q34SketchUnion(spark: SparkSession, dir: String): DataFrame =
    dateSliceSketches(spark, dir)
      .select(
        sketch_estimate(col("sa")).as("e_early"),
        sketch_estimate(col("sb")).as("e_late"),
        sketch_estimate(sketch_union(col("sa"), col("sb"))).as("e_union"))
      .join(sliceExacts(spark, dir).drop("n_intersect"))
      .select(col("n_early"), col("n_late"), col("n_union"),
        withinEnvelope(col("e_early"), col("n_early")).as("early_ok"),
        withinEnvelope(col("e_late"), col("n_late")).as("late_ok"),
        withinEnvelope(col("e_union"), col("n_union")).as("union_ok"))

  /** Intersection by inclusion–exclusion, gated with the statistically
    * correct bound: the estimator's std-err scales with the SET SIZES, not
    * the intersection — σ ≈ (1.04/√m)·√(|A|²+|B|²+|A∪B|²) — so the boolean
    * asserts |est − exact| ≤ 3σ computed from the exact slice counts that
    * ride the same query (the bound OperatorsSpec asserts on synthetic
    * sets, now driver-gated on the real data too). */
  def q35SketchIntersection(spark: SparkSession, dir: String): DataFrame = {
    def sq(c: String) = col(c).cast("double") * col(c).cast("double")
    val sigma3 = lit(3 * 1.04 / math.sqrt(1 << 16)) *
      sqrt(sq("n_early") + sq("n_late") + sq("n_union"))
    dateSliceSketches(spark, dir)
      .select(sketch_intersection_estimate(col("sa"), col("sb")).as("est"))
      .join(sliceExacts(spark, dir))
      .select(col("n_intersect"),
        (abs(col("est").cast("double") - col("n_intersect").cast("double"))
          <= sigma3).as("est_ok"))
  }

  /** Theta-sketch set algebra over the same two date slices as q34/q35 —
    * the bounded-error realization of the reference stub's "set
    * intersection" TODO (UDFCardinalityEstimator.java:30). Where q35's
    * inclusion–exclusion error scales with the UNION
    * (σ ≈ (1.04/√m)·√(|A|²+|B|²+|A∪B|²)), a theta sketch's retained
    * entries are a uniform θ-rate sample of the RESULT set, so the gate
    * bound is proportional to the intersection itself:
    * 4σ with σ = n·√(1−θ)/√(c−1) for c retained entries — computed
    * IN-QUERY from the sketch's own θ and c (theta_fraction /
    * theta_retained). k=1024 < |slice| so estimation mode genuinely
    * engages at sf0.01; at sf0.001 (union < k) the sketch is exact and
    * the +0.5 slack forces est == exact. Difference (A \ B) rides the
    * same query with its own exact twin.
    *
    * Flake budget: the gates are probabilistic whenever estimation mode
    * engages — at 4σ the per-gate miss probability is ~6e-5 (vs ~1.3e-3
    * at 3σ), so a red run here is overwhelmingly a regression, not noise.
    * The hash of the sketch estimate itself never enters the oracle
    * compare; only the boolean gate does. */
  def q72ThetaSetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def slice(from: String, to: String) =
      o.filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(to).cast("timestamp"))
        // qualified: Spark 4.1's own functions._ also has a theta_sketch_agg
        .agg(GraftFunctions.theta_sketch_agg(col("o_orderkey"), k = 1024).as("sk"))
    def gate(est: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column,
        frac: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
      abs(est.cast("double") - exact.cast("double")) <=
        lit(4.0) * exact.cast("double") * sqrt(lit(1.0) - frac) /
          sqrt(greatest(c.cast("double") - 1.0, lit(1.0))) + lit(0.5)
    slice("1997-01-01", "1999-01-01").select(col("sk").as("sa"))
      .join(slice("1998-01-01", "2000-01-01").select(col("sk").as("sb")))
      .select(theta_intersect(col("sa"), col("sb")).as("si"),
        GraftFunctions.theta_difference(col("sa"), col("sb")).as("sd"))
      .select(
        theta_estimate(col("si")).as("est_i"), theta_retained(col("si")).as("c_i"),
        theta_fraction(col("si")).as("f_i"),
        theta_estimate(col("sd")).as("est_d"), theta_retained(col("sd")).as("c_d"),
        theta_fraction(col("sd")).as("f_d"))
      .join(sliceExacts(spark, dir))
      .select(col("n_intersect"),
        (col("n_early") - col("n_intersect")).as("n_diff"),
        gate(col("est_i"), col("c_i"), col("f_i"), col("n_intersect")).as("est_ok"),
        gate(col("est_d"), col("c_d"), col("f_d"),
          col("n_early") - col("n_intersect")).as("diff_ok"))
  }

  /** User-set overlap between click and view events via `theta_jaccard` —
    * the driver-visible query for the sketch-level Jaccard (the corpus-
    * scale "how similar are these two sets" primitive). The estimate is
    * `c_i / c_u` — intersection-retained over union-retained at the common
    * θ — i.e. a BINOMIAL PROPORTION of c_u uniform samples with success
    * probability J, so the in-query gate is the 4σ proportion bound
    * |est − J| ≤ 4·√(J(1−J)/c_u) + 0.5/c_u (continuity slack; exact twins
    * for J ride the same query). The sets are users active on Jan 1 vs
    * Jan 2 — genuinely partial overlap (J ≈ 0.81 at sf0.01, not the
    * degenerate J = 1 that any wide slice of this fixture gives) — and
    * k=64 < |per-day user set| at sf0.01, so estimation mode genuinely
    * engages; at sf0.001 the sketch is exact and est == J. */
  def q77ThetaUserOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def users(day: String) = ev
      .filter(col("ts") >= lit(day).cast("timestamp") &&
        col("ts") < lit(day).cast("timestamp") + expr("INTERVAL 1 DAY"))
      .select(col("user_id"))
    val nBoth = users("2024-01-01").distinct()
      .join(users("2024-01-02").distinct(), Seq("user_id"), "left_semi")
      .agg(count(lit(1)).as("n_both"))
    val nEither = users("2024-01-01").union(users("2024-01-02"))
      .agg(countDistinct(col("user_id")).as("n_either"))
    def sk(day: String) = users(day)
      .agg(GraftFunctions.theta_sketch_agg(col("user_id"), k = 64).as("sk"))
    val est = sk("2024-01-01").select(col("sk").as("sa"))
      .join(sk("2024-01-02").select(col("sk").as("sb")))
      .select(theta_jaccard(col("sa"), col("sb")).as("est_j"),
        theta_retained(GraftFunctions.theta_union(col("sa"), col("sb"))).as("c_u"))
    val exactJ = col("n_both").cast("double") / col("n_either").cast("double")
    est.join(nBoth).join(nEither)
      .select(col("n_both"), col("n_either"),
        (abs(col("est_j") - exactJ) <=
          lit(4.0) * sqrt(exactJ * (lit(1.0) - exactJ) /
            greatest(col("c_u").cast("double"), lit(1.0))) +
          lit(0.5) / greatest(col("c_u").cast("double"), lit(1.0))).as("jaccard_ok"))
  }

  /** Point-frequency estimates from a stored Count-Min sketch, probed for
    * every event type — the "how often did THIS key occur" complement of
    * the q62 heavy-hitter view. The 5-key domain against a 4096-wide,
    * depth-5 sketch is collision-free for the engine's fixed hash seeds,
    * so estimates equal exact counts DETERMINISTICALLY and the oracle gate
    * is strict (the never-underestimate law would hold regardless). The
    * one-row sketch broadcast-joins to the key list — at 100 TB the probe
    * side is whatever key set you ask about, never a rescan. */
  def q78CmFrequencies(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val sk = ev.agg(GraftFunctions.cm_sketch_agg(col("event_type")).as("sk"))
    val exact = ev.groupBy("event_type").agg(count(lit(1)).as("n_events"))
    exact.join(sk)
      .select(col("event_type"), col("n_events"),
        (GraftFunctions.cm_estimate(col("sk"), col("event_type")) ===
          col("n_events")).as("est_ok"))
      .orderBy("event_type")
  }

  /** Batch twin of the streaming windowed-distinct operator
    * ([[graft.streaming.StreamOps.windowedApproxDistinct]]): identical plan,
    * which is what makes the streaming surface oracle-checkable. LC with a
    * 64 KiB bitmap is collision-free w.h.p. at per-window cardinalities. */
  def q36WindowedApproxUsers(spark: SparkSession, dir: String): DataFrame = {
    val est = graft.streaming.StreamOps.windowedApproxDistinct(
        Tables.events(spark, dir), "ts", "event_type", "user_id", "1 hour",
        algo = "lc", precision = 65536)
      // epoch seconds, not timestamp: the events source carries non-UTC-
      // adjusted nanos, so timestamp *rendering* differs across engines even
      // when the instant is identical
      .select(unix_timestamp(col("window_start")).as("window_epoch"),
        col("event_type"), col("n_distinct").as("est"))
    val exact = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(unix_timestamp(col("w.start")).as("window_epoch"),
        col("event_type"), col("n_users"))
    // LC at tiny per-window cardinalities is exact UNLESS two users' hashes
    // collide in the bitmap (expected n²/2m times per window — rare but
    // nonzero across tens of thousands of windows), so the gate allows a
    // small absolute slack next to the relative envelope
    est.join(exact, Seq("window_epoch", "event_type"))
      .select(col("window_epoch"), col("event_type"), col("n_users"),
        (abs(col("est").cast("double") - col("n_users").cast("double"))
          <= greatest(lit(3.0), col("n_users").cast("double") * envelope)).as("est_ok"))
      .orderBy("window_epoch", "event_type")
  }

  /** Batch twin of [[graft.streaming.StreamOps.sessionize]]: session windows
    * per user with a 30-minute inactivity gap. The oracle reproduces
    * `session_window` semantics as gaps-and-islands SQL (LAG + running sum),
    * proving the streaming sessionization operator's semantics exactly.
    * Epoch-second keys for the same tz-rendering reason as q36. */
  def q37Sessions(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.sessionize(
        Tables.events(spark, dir), "ts", "user_id", "30 minutes")
      .select(unix_timestamp(col("session_start")).as("session_epoch"),
        col("user_id"), col("n_events"),
        col("total_value").cast("decimal(18,2)").cast("double").as("total_value"))
      .orderBy("user_id", "session_epoch")

  /** Batch twin of [[graft.streaming.StreamOps.runningApproxDistinct]] (the
    * mapGroupsWithState custom-state operator): per-event-type lifetime
    * distinct users. LC with a 64 KiB bitmap is collision-free w.h.p. at
    * these cardinalities, so the envelope boolean is a hard gate. */
  def q38RunningApproxUsers(spark: SparkSession, dir: String): DataFrame = {
    val est = graft.streaming.StreamOps.runningApproxDistinct(
        Tables.events(spark, dir), "event_type", "user_id",
        algo = "lc", precision = 65536)
      .withColumnRenamed("n_distinct", "est")
    val exact = Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("n_users"),
        withinEnvelope(col("est"), col("n_users")).as("est_ok"))
      .orderBy("event_type")
  }

  /** Sketch aggregation over an ARBITRARY sliding frame — the two-phase
    * groupBy rewrite of "approx_distinct OVER (RANGE N·slide PRECEDING)",
    * which Spark cannot express directly (imperative aggregates are
    * forbidden in window frames; SURVEY §2b). q36 covers tumbling and q38
    * running frames; this closes the general case:
    *
    *  1. Phase 1 reduces events to ONE mergeable sketch per (key,
    *     slide-bucket) — the full data volume crosses the wire exactly
    *     once, map-side-combined into sketch partials.
    *  2. Phase 2 explodes each bucket SKETCH (bytes, not events) to the
    *     `frameBuckets` trailing frames it covers and merge-aggregates per
    *     (key, frame) — shuffle volume is frameBuckets · #buckets · sketch
    *     bytes, independent of event count. A frame materializes only at
    *     OCCUPIED grid instants (left-semi on phase-1 buckets), mirroring
    *     window-function evaluation rows.
    *
    * This is the classic sliding-window-as-bucket-union rewrite: any frame
    * length that is an integer multiple of the slide works, the sketches'
    * merge law ([[graft.sketch.Sketch]], union = register-max / bitmap-OR)
    * makes the union exact w.r.t. the sketch semantics, and both phases
    * stay declarative groupBys that Catalyst plans with partial
    * aggregation. Grid arithmetic is integer epoch-micros div, so an
    * external engine reproduces the buckets bit-exactly. */
  /** Shared phase-1 skeleton of the sliding-frame rewrite: reduce events
    * to ONE sketch row per (key `k`, slide-bucket) with `phase1Agg`, then
    * explode each bucket SKETCH to the `frameBuckets` trailing frames it
    * covers, keeping only frames anchored at occupied instants. The
    * caller's phase 2 is a `groupBy("k", "frame")` over the returned
    * `(k, frame, sk)` rows — sketch bytes only, never events. One harness,
    * any mergeable family (LC/HLL distinct: [[slidingSketchDistinct]];
    * KLL quantiles: [[slidingKllQuantile]]; theta set algebra:
    * [[slidingNewKeys]]). */
  private def slideFrameSketches(events: DataFrame, tsCol: String,
      keyCol: String, valueCol: String, slideSeconds: Long,
      frameBuckets: Int)(
      phase1Agg: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    require(slideSeconds > 0, s"slide must be positive, got $slideSeconds")
    require(frameBuckets >= 1, s"frameBuckets must be >= 1, got $frameBuckets")
    val slideUs = slideSeconds * 1000000L
    val bucketed = events.select(col(keyCol).as("k"),
      expr(s"unix_micros($tsCol) div $slideUs").as("bucket"),
      col(valueCol).as("v"))
    val perBucket = bucketed.groupBy("k", "bucket")
      .agg(phase1Agg(col("v")).as("sk"))
    perBucket.select(col("k"), col("sk"),
        explode(sequence(col("bucket"), col("bucket") + lit(frameBuckets - 1)))
          .as("frame"))
      .join(perBucket.select(col("k"), col("bucket").as("frame")),
        Seq("k", "frame"), "left_semi")
  }

  def slidingSketchDistinct(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, slideSeconds: Long, frameBuckets: Int,
      algo: String = "hll", precision: Int = -1): DataFrame =
    slideFrameSketches(events, tsCol, keyCol, valueCol, slideSeconds,
        frameBuckets)(v => approx_distinct(v, algo, precision).getField("binary"))
      .groupBy("k", "frame")
      .agg(sketch_estimate(sketch_merge_agg(col("sk"))).as("est"))
      .select((col("frame") * lit(slideSeconds)).as("frame_epoch"),
        col("k").as(keyCol), col("est"))

  /** Trailing 6-hour distinct users per event type at every occupied hour
    * grid instant — the arbitrary-frame sketch-over-window case. The gate
    * follows q36: the exact trailing count rides along (computed by the
    * same explode-to-covering-frames rewrite over raw events, which the
    * oracle reproduces as a range self-join) plus the envelope boolean;
    * LC with a 64 KiB bitmap at these per-frame cardinalities needs only
    * the q36 collision slack. */
  def q117SlidingSketchWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = 6
    val est = slidingSketchDistinct(ev, "ts", "event_type", "user_id",
      slideSeconds = 3600L, frameBuckets = w, algo = "lc", precision = 65536)
    val bucketed = ev.select(col("event_type"),
      expr("unix_micros(ts) div 3600000000").as("bucket"), col("user_id"))
    val exact = bucketed
      .select(col("event_type"), col("user_id"),
        explode(sequence(col("bucket"), col("bucket") + lit(w - 1))).as("frame"))
      .join(bucketed.select(col("event_type"), col("bucket").as("frame")).distinct(),
        Seq("event_type", "frame"), "left_semi")
      .groupBy("event_type", "frame")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select((col("frame") * 3600L).as("frame_epoch"), col("event_type"),
        col("n_users"))
    est.join(exact, Seq("frame_epoch", "event_type"))
      .select(col("frame_epoch"), col("event_type"), col("n_users"),
        (abs(col("est").cast("double") - col("n_users").cast("double"))
          <= greatest(lit(3.0), col("n_users").cast("double") * envelope)).as("est_ok"))
      .orderBy("frame_epoch", "event_type")
  }

  /** Per-ROW sketch-over-window with an ARBITRARY trailing RANGE frame: the
    * semantics of `approx_distinct(v) OVER (PARTITION BY k ORDER BY ts RANGE
    * BETWEEN rangeUs PRECEDING AND CURRENT ROW)` — which Spark cannot plan
    * (imperative aggregates are rejected over window frames, SURVEY §2b) and
    * which the tumbling/running/sliding rewrites (q36/q38/q117) cannot
    * express because this frame is anchored at each ROW's instant, not at a
    * bucket-grid instant. Two-phase rewrite with exact frame edges:
    *
    *   - phase 1: one mergeable sketch per (key, bucket) — raw values leave
    *     the pipeline here;
    *   - phase 2: each output instant merges the phase-1 sketches of the
    *     buckets its frame covers COMPLETELY (bounded `sequence` explode,
    *     ≤ rangeUs/bucketUs + 1 rows per instant) and re-offers only the raw
    *     values inside its ≤ 2 partially-covered EDGE buckets (an equi-join
    *     on (key, bucket); volume = instants × per-bucket occupancy).
    *
    * Sketch updates and merges commute (LC bitmap-OR over hashed values /
    * HLL register-max), so the merged sketch is bit-identical to sketching
    * the frame's exact value set directly — per-row frames cost no accuracy
    * over the one-shot aggregate. Output: one row per distinct (key,
    * instant); RANGE-frame peers (equal timestamps) share a row, matching
    * SQL RANGE semantics. Every exchange is keyed on (k) or (k, bucket) —
    * nothing global, nothing driver-side. */
  def rowRangeSketchDistinct(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, rangeUs: Long, bucketUs: Long,
      algo: String = "lc", precision: Int = -1): DataFrame = {
    require(rangeUs > 0 && bucketUs > 0, s"bad frame: $rangeUs/$bucketUs")
    val base = events.select(col(keyCol).as("k"),
        expr(s"unix_micros($tsCol)").as("us"), col(valueCol).as("v"))
      .withColumn("bucket", expr(s"us div $bucketUs"))
    val perBucket = base.groupBy("k", "bucket")
      .agg(approx_distinct(col("v"), algo, precision)
        .getField("binary").as("sk"))
    val inst = base.select("k", "us").distinct()
      .withColumn("s", col("us") - lit(rangeUs))
      .withColumn("b_lo", expr(s"s div $bucketUs"))
      .withColumn("b_hi", expr(s"us div $bucketUs"))
      // first/last FULLY-covered bucket (bf_lo > bf_hi ⇒ no interior)
      .withColumn("bf_lo", expr(s"(s + $bucketUs - 1) div $bucketUs"))
      .withColumn("bf_hi", expr(s"(us + 1) div $bucketUs - 1"))
    // r12 (guide §1.2 — remove redundant per-task work): all instants inside
    // one bucket share the SAME fully-covered bucket range (bf_lo, bf_hi) —
    // integer div of (us − range) and (us + 1) is constant within a bucket up
    // to the ±1 boundary micro — so the interior union is pre-merged ONCE per
    // distinct (k, bf_lo, bf_hi) (≈ 2 ranges per occupied bucket) and each
    // instant attaches the pre-merged sketch. Merge rows drop from
    // instants × covering-buckets (6·|inst|) to ranges × covering-buckets
    // (~buckets·12), and the final per-instant merge sees ONE interior row.
    // Bit-identical: sketch union is associative/commutative (bitmap OR /
    // register max), so pre-merging a sub-union changes nothing observable.
    // (Measured at sf0.1: interior branch 2.8 s → see OPTIMIZATION_r12.md;
    // the per-row allocation churn here was the bench's ±2–3× drift source.)
    val withRange = inst.filter(col("bf_lo") <= col("bf_hi"))
    val rangeSk = withRange.select("k", "bf_lo", "bf_hi").distinct()
      .select(col("k"), col("bf_lo"), col("bf_hi"),
        explode(sequence(col("bf_lo"), col("bf_hi"))).as("bucket"))
      .join(perBucket, Seq("k", "bucket"))
      .groupBy("k", "bf_lo", "bf_hi")
      .agg(sketch_merge_agg(col("sk")).getField("binary").as("sk"))
    val interior = withRange
      .join(rangeSk, Seq("k", "bf_lo", "bf_hi"))
      .select("k", "us", "sk")
    // a touched bucket is an edge iff it is not fully covered; the two
    // candidates coincide for sub-bucket frames → array_distinct
    val edges = inst
      .select(col("k"), col("us"), col("s"),
        explode(array_distinct(filter(array(
          when(col("b_lo") < col("bf_lo") || col("bf_lo") > col("bf_hi"),
            col("b_lo")),
          when(col("b_hi") > col("bf_hi") || col("bf_lo") > col("bf_hi"),
            col("b_hi"))), x => x.isNotNull))).as("bucket"))
      .join(base.select(col("k"), col("bucket"), col("us").as("eus"),
        col("v")), Seq("k", "bucket"))
      .filter(col("eus") >= col("s") && col("eus") <= col("us"))
      .groupBy("k", "us")
      .agg(approx_distinct(col("v"), algo, precision)
        .getField("binary").as("sk"))
    interior.unionByName(edges)
      .groupBy("k", "us")
      .agg(sketch_estimate(sketch_merge_agg(col("sk"))).as("est"))
      .select(col("k").as(keyCol), col("us"), col("est"))
  }

  /** EXACT trailing-RANGE-frame distinct count at every event instant —
    * `COUNT(DISTINCT v) OVER (PARTITION BY k ORDER BY us RANGE rangeUs
    * PRECEDING)` without either of the two shapes that die at scale (a raw
    * range self-join is instants × window occupancy ≈ O(n²/buckets); a real
    * window frame would re-scan the frame per row). Sweep-line algebra:
    *
    *   1. per (k, v): merge that value's event instants into COVERAGE
    *     intervals — v is "in frame" at instant t iff some event lies in
    *     [t − rangeUs, t], i.e. t ∈ [eus, eus + rangeUs]; consecutive events
    *     ≤ rangeUs apart chain into one interval (a lag + running flag-sum
    *     under the (k, v)-keyed window — high-cardinality partitions);
    *   2. each interval [s, e] emits deltas (+1 at s, −1 at e+1); each
    *     distinct (k, us) instant emits a reader row;
    *   3. ONE global running sum over the (k, us, kind) order — via
    *     [[Rank.globalRankPrefix]]'s range-partitioned prefix-sum
    *     composition, NOT an unpartitioned window — read at the reader rows.
    *
    * Every key's deltas sum to zero (each +1 has its −1), so the running
    * sum self-resets at key boundaries and needs no per-key offset. Cost:
    * ≤ 3n rows through one range exchange — O(n log n) regardless of frame
    * width, where the bucket-covering join the estimate path uses for its
    * ≤ 2 EDGE buckets would be O(n · occupancy) if used for exact counts.
    * NULL values are dropped (COUNT(DISTINCT) semantics). `valueCol` must
    * be sort-comparable (it tiebreaks the total order). */
  def trailingDistinctExact(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, rangeUs: Long): DataFrame = {
    require(rangeUs > 0, s"bad frame: $rangeUs")
    val base = events.select(col(keyCol).as("k"),
      expr(s"unix_micros($tsCol)").as("us"), col(valueCol).as("v"))
    val wVal = Window.partitionBy("k", "v").orderBy("us")
    val intervals = base.filter(col("v").isNotNull)
      .withColumn("prev", lag(col("us"), 1).over(wVal))
      .withColumn("head",
        (col("prev").isNull || col("us") > col("prev") + lit(rangeUs))
          .cast("long"))
      .withColumn("grp", sum(col("head"))
        .over(wVal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("k", "v", "grp")
      .agg(min(col("us")).as("s"), (max(col("us")) + lit(rangeUs)).as("e"))
    val deltas = intervals
      .select(col("k"), col("s").as("us"), lit(0).as("kind"), col("v"),
        lit(1L).as("d"))
      .unionByName(intervals.select(col("k"), (col("e") + 1).as("us"),
        lit(0).as("kind"), col("v"), lit(-1L).as("d")))
    val readers = base.select("k", "us").distinct()
      .select(col("k"), col("us"), lit(1).as("kind"), lit(null).cast(
        deltas.schema("v").dataType).as("v"), lit(0L).as("d"))
    Rank.globalRankPrefix(deltas.unionByName(readers),
        sortCols = Seq(col("k"), col("us"), col("kind"), col("v"), col("d")),
        prefixSums = Seq(("n_distinct", col("d"))))
      .filter(col("kind") === 1)
      .select(col("k"), col("us"), col("n_distinct"))
  }

  /** Trailing 6-hour distinct users at EVERY event instant per event type —
    * the per-row arbitrary-RANGE-frame sketch window (the last §2b window
    * sub-case: q36 tumbling, q38 running, q117 grid-sliding, and now
    * row-anchored frames). Gate follows q117: the exact trailing count
    * rides along — computed by [[trailingDistinctExact]]'s O(n log n)
    * sweep-line (round 9 replaced the instants × bucket-occupancy join,
    * which was this bench's 30 s heavy and quadratic in SF) — and the LC
    * estimate must sit inside the envelope. */
  def q298RowRangeSketchWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val rangeUs = 21600L * 1000000L
    val bucketUs = 3600L * 1000000L
    // LC m=8192 (1 KB bitmaps): window cardinalities here are ≤ ~1.5 k,
    // load factor < 0.2, so LC error < 1% sits well inside the 1.22% +
    // 3-absolute envelope — and the per-instant bucket-sketch MERGE
    // traffic (this bench's heaviest query) drops 8× vs m=65536
    val est = rowRangeSketchDistinct(ev, "ts", "event_type", "user_id",
      rangeUs, bucketUs, algo = "lc", precision = 8192)
    val exact = trailingDistinctExact(ev, "ts", "event_type", "user_id",
        rangeUs)
      .select(col("k").as("event_type"), col("us"),
        col("n_distinct").as("n_users"))
    est.join(exact, Seq("event_type", "us"))
      .select(col("event_type"), col("us"), col("n_users"),
        (abs(col("est").cast("double") - col("n_users").cast("double"))
          <= greatest(lit(3.0), col("n_users").cast("double") * envelope))
          .as("est_ok"))
      .orderBy("event_type", "us")
  }

  /** The sweep-line trailing-distinct operator declared STANDALONE, in the
    * orthogonal geometry to q298: per-USER (high-cardinality key — ~15 users
    * per mille of events vs 5 event types) trailing 24-hour distinct event
    * TYPES at every one of the user's instants. Exercises both keyed phases
    * at opposite cardinality extremes: the interval-merge window sees many
    * small (k, v) groups here, and the range-partitioned prefix sum carries
    * many short key runs instead of 5 long ones. Exact — no sketch, no
    * envelope; the oracle recomputes every instant's frame. */
  def q315TrailingDistinctWindow(spark: SparkSession, dir: String): DataFrame =
    trailingDistinctExact(Tables.events(spark, dir), "ts", "user_id",
        "event_type", 86400L * 1000000L)
      .select(col("k").as("user_id"), col("us"),
        col("n_distinct").as("n_types"))
      .orderBy("user_id", "us")

  /** Quantiles over an arbitrary sliding frame — the [[slidingSketchDistinct]]
    * two-phase rewrite applied to the KLL family: one serialized KLL sketch
    * per (key, slide-bucket), bucket sketches exploded to their covering
    * trailing frames and merge-aggregated per occupied (key, frame), the
    * merged sketch answering all `probs` at once. Proves the rewrite is a
    * general harness for ANY mergeable sketch, not an HLL special case:
    * phase-2 volume stays frameBuckets · buckets · sketch bytes. Returns
    * `(frame_epoch, key, prob, vhat)`, one row per requested quantile. */
  def slidingKllQuantile(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, slideSeconds: Long, frameBuckets: Int,
      probs: Seq[Double],
      k: Int = graft.sketch.KllDoubles.DefaultK): DataFrame = {
    require(probs.nonEmpty, "need at least one quantile probability")
    slideFrameSketches(events, tsCol, keyCol, valueCol, slideSeconds,
        frameBuckets)(v => kll_sketch_agg(v, k))
      .groupBy("k", "frame")
      .agg(kll_merge_agg(col("sk"), probs, k).as("qs"))
      .select(col("k"), col("frame"), posexplode(col("qs")).as(Seq("pi", "vhat")))
      .select((col("frame") * lit(slideSeconds)).as("frame_epoch"),
        col("k").as(keyCol),
        element_at(typedLit(probs), col("pi") + 1).as("prob"), col("vhat"))
  }

  /** Trailing 6-hour p50/p95 of event value per event type at every
    * occupied hour — the sliding-quantile case of the two-phase rewrite.
    * Gate follows q65: each merged-sketch estimate is rank-checked against
    * the TRUE trailing-window rows (r_le/r_lt within ε·n of the target
    * rank, ε = 0.04 ≫ the KLL k=200 bound), with the exact row count
    * riding along for the oracle to reproduce. */
  def q118SlidingQuantileWindow(spark: SparkSession, dir: String): DataFrame = {
    val probs = Seq(0.5, 0.95)
    val eps = 0.04
    val ev = Tables.events(spark, dir)
    val w = 6
    val est = slidingKllQuantile(ev, "ts", "event_type", "value",
      slideSeconds = 3600L, frameBuckets = w, probs = probs)
    val bucketed = ev.select(col("event_type"),
      expr("unix_micros(ts) div 3600000000").as("bucket"), col("value"))
    val members = bucketed
      .select(col("event_type"), col("value"),
        explode(sequence(col("bucket"), col("bucket") + lit(w - 1))).as("frame"))
      .join(bucketed.select(col("event_type"), col("bucket").as("frame")).distinct(),
        Seq("event_type", "frame"), "left_semi")
      .withColumn("frame_epoch", col("frame") * 3600L)
    members.join(est, Seq("frame_epoch", "event_type"))
      .groupBy("frame_epoch", "event_type", "prob", "vhat")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("vhat"), 1L).otherwise(0L)).as("r_le"),
        sum(when(col("value") < col("vhat"), 1L).otherwise(0L)).as("r_lt"))
      .select(col("frame_epoch"), col("event_type"), col("prob"), col("n"),
        (col("r_le").cast("double") >= col("prob") * col("n") - lit(eps) * col("n") &&
          col("r_lt").cast("double") <= col("prob") * col("n") + lit(eps) * col("n"))
          .as("rank_ok"))
      .orderBy("frame_epoch", "event_type", "prob")
  }

  /** Rolling NEW-user counts — theta SET ALGEBRA over the two-phase
    * sliding frames (the third sketch family through the rewrite, and the
    * one that buys an operation HLL/LC cannot express): per (key, frame),
    * |users in the trailing window at f| − |… at f−1| as a theta
    * DIFFERENCE of the two merged frame sketches. Phase 1 reduces events
    * to one theta sketch per (key, slide-bucket); phase 2 merges covering
    * buckets per occupied frame (`theta_merge_agg` — bytes only); the
    * difference joins each frame to its predecessor ON SKETCH ROWS
    * (frames × sketch bytes, never events). Emitted only for frames whose
    * predecessor instant is occupied (new-vs-what must be defined).
    *
    * Below the sketch capacity k the theta sample is the full hash set
    * (θ = 1) and the difference is EXACT; beyond it the estimate carries
    * the q72 error bound — the declared gate emits the exact count plus
    * the bound boolean, so the same query stays green at any SF. */
  def slidingNewKeys(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, slideSeconds: Long, frameBuckets: Int,
      k: Int = graft.sketch.ThetaSketch.DefaultK): DataFrame = {
    val frames = slideFrameSketches(events, tsCol, keyCol, valueCol,
        slideSeconds, frameBuckets)(v => GraftFunctions.theta_sketch_agg(v, k))
      .groupBy("k", "frame")
      .agg(GraftFunctions.theta_merge_agg(col("sk")).as("th"))
    val prev = frames.select(col("k"), (col("frame") + 1L).as("frame"),
      col("th").as("th_prev"))
    frames.join(prev, Seq("k", "frame"))
      .select(col("k"), col("frame"),
        GraftFunctions.theta_difference(col("th"), col("th_prev")).as("d"))
      .select((col("frame") * lit(slideSeconds)).as("frame_epoch"),
        col("k").as(keyCol),
        theta_estimate(col("d")).as("est_new"),
        theta_retained(col("d")).as("c_new"),
        theta_fraction(col("d")).as("f_new"))
  }

  /** New users entering each event type's trailing 6-hour window at every
    * occupied hour (vs the window one hour earlier) — churn/retention's
    * building block. Exact twin computed by frame-membership anti-join;
    * the theta estimate passes the q72 bound gate (exact below k=4096
    * retained, which test scales are). A frame where NO user is new drops
    * out of the result (the exact side's empty anti-join group produces no
    * row; the inner gate join then drops the estimate row too) — both
    * engines share the rule, so the gate is unaffected. */
  def q119RollingNewUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = 6
    val est = slidingNewKeys(ev, "ts", "event_type", "user_id",
      slideSeconds = 3600L, frameBuckets = w)
    val bucketed = ev.select(col("event_type"),
      expr("unix_micros(ts) div 3600000000").as("bucket"), col("user_id"))
    val occupied = bucketed.select(col("event_type"), col("bucket")).distinct()
    val members = bucketed
      .select(col("event_type"), col("user_id"),
        explode(sequence(col("bucket"), col("bucket") + lit(w - 1))).as("frame"))
      .join(occupied.withColumnRenamed("bucket", "frame"),
        Seq("event_type", "frame"), "left_semi")
      .distinct()
    val newExact = members
      .join(members.select(col("event_type"), (col("frame") + 1L).as("frame"),
        col("user_id")), Seq("event_type", "frame", "user_id"), "left_anti")
      .groupBy("event_type", "frame")
      .agg(count(lit(1)).as("n_new"))
      // defined only where the predecessor frame exists (is occupied)
      .join(occupied.select(col("event_type"),
        (col("bucket") + 1L).as("frame")).distinct(),
        Seq("event_type", "frame"), "left_semi")
      .select((col("frame") * 3600L).as("frame_epoch"), col("event_type"),
        col("n_new"))
    val gate = abs(col("est_new").cast("double") - col("n_new").cast("double")) <=
      lit(4.0) * col("n_new").cast("double") * sqrt(lit(1.0) - col("f_new")) /
        sqrt(greatest(col("c_new").cast("double") - 1.0, lit(1.0))) + lit(0.5)
    est.join(newExact, Seq("frame_epoch", "event_type"))
      .select(col("frame_epoch"), col("event_type"), col("n_new"),
        gate.as("est_ok"))
      .orderBy("frame_epoch", "event_type")
  }

  /** Heavy hitters over an arbitrary trailing frame — the SpaceSaving
    * family through the two-phase sliding rewrite (fourth family through
    * [[slideFrameSketches]], after LC/HLL, KLL, and theta). Phase 1 reduces
    * events to ONE serialized SpaceSaving summary per (key, slide-bucket);
    * phase 2 merges the covering buckets per occupied frame and extracts
    * top-`k` with the library's deterministic (count desc, item asc)
    * tie-break. Phase-2 volume is frames × buckets × summary bytes — the
    * summary is capacity-capped, so a bucket with millions of distinct
    * items still ships a bounded object. Below `capacity` the summary is
    * eviction-free and the counts are EXACT (the q62 regime); above it the
    * SpaceSaving n/m guarantee applies. */
  def slidingTopK(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, slideSeconds: Long, frameBuckets: Int, k: Int,
      capacity: Int): DataFrame =
    slideFrameSketches(events, tsCol, keyCol, valueCol, slideSeconds,
        frameBuckets)(v => topk_sketch_agg(v, capacity))
      .groupBy("k", "frame")
      .agg(topk_merge_agg(col("sk"), k, capacity).as("tk"))
      .select((col("frame") * lit(slideSeconds)).as("frame_epoch"),
        col("k").as(keyCol), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("frame_epoch"), col(keyCol),
        (col("pos") + 1).cast("long").as("rnk"),
        col("e.item").as("item"), col("e.est").as("est"))

  /** Top-3 users per event type over the trailing 6-hour window at every
    * occupied hour. Capacity 8192 ≫ per-frame distinct users at every test
    * SF (≤ a few hundred), so the summaries never evict and the counts are
    * exact — the gate is a strict hash match against the oracle's trailing
    * range self-join with the library's (count desc, user asc) tie-break.
    * At 100 TB per-frame user counts exceed capacity and the same query
    * degrades to the guaranteed-error SpaceSaving regime — the summary
    * size, not the data, stays the shipped unit either way. */
  def q120SlidingTopK(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("user_s", col("user_id").cast("string"))
    slidingTopK(ev, "ts", "event_type", "user_s",
        slideSeconds = 3600L, frameBuckets = 6, k = 3, capacity = 8192)
      .select(col("frame_epoch"), col("event_type"), col("rnk"),
        col("item").as("user_id"), col("est").as("n_events"))
      .orderBy("frame_epoch", "event_type", "rnk")
  }

  /** Point-frequency estimates over an arbitrary trailing frame — the
    * Count-Min family through [[slideFrameSketches]], completing the set:
    * every mergeable family the engine ships (LC/HLL, KLL, theta,
    * SpaceSaving, CM) now runs through the one sliding rewrite. One CM
    * per (key, slide-bucket); covering buckets merge per occupied frame
    * (counter-wise ADD — CM's merge law); the merged sketch answers any
    * point query over the frame. */
  def slidingCmEstimate(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, slideSeconds: Long, frameBuckets: Int,
      probe: String, width: Int = graft.sketch.CountMin.DefaultWidth,
      depth: Int = graft.sketch.CountMin.DefaultDepth): DataFrame =
    slideFrameSketches(events, tsCol, keyCol, valueCol, slideSeconds,
        frameBuckets)(v => cm_sketch_agg(v, width, depth))
      .groupBy("k", "frame")
      .agg(cm_merge_agg(col("sk")).as("cm"))
      .select((col("frame") * lit(slideSeconds)).as("frame_epoch"),
        col("k").as(keyCol),
        cm_estimate(col("cm"), lit(probe)).as("est"),
        cm_total(col("cm")).as("n_frame"))

  /** Trailing 6-hour event count of ONE probe user per event type at every
    * occupied hour, answered by the merged frame CM. Gate: the exact count
    * rides along (oracle reproduces it with a range self-join) plus the
    * Count-Min guarantee booleans — never-undercount, and overshoot within
    * ε·N of the frame (ε = e/width; frame cardinalities at test SFs are
    * far below width, so the estimate is in practice exact). */
  def q127SlidingCmFreq(spark: SparkSession, dir: String): DataFrame = {
    val probe = "42"
    // width 1024 (not the 4096 default): the sketch IS the shuffle unit
    // of the sliding rewrite — 4096x5 longs is 164 KB per (key, bucket)
    // and dominated the whole bench; 1024 is 4x lighter while the
    // per-frame user cardinality at any plausible SF stays far enough
    // below width that the e/width envelope holds (validated at both
    // test SFs; the >= side of the gate is unconditional)
    val cmWidth = 1024
    val eps = math.E / cmWidth
    val ev = Tables.events(spark, dir)
      .withColumn("user_s", col("user_id").cast("string"))
    val est = slidingCmEstimate(ev, "ts", "event_type", "user_s",
      slideSeconds = 3600L, frameBuckets = 6, probe = probe, width = cmWidth)
    val bucketed = ev.select(col("event_type"),
      expr("unix_micros(ts) div 3600000000").as("bucket"), col("user_s"))
    // r11 (guide §2.3 "aggregate before you shuffle"): reduce to per-
    // (type, hour-bucket) probe counts FIRST — the ×6 trailing-frame
    // explode then fans out the ~|types × occupied hours| bucket frame,
    // not the raw event rows (was |events|·6 rows through the semi join
    // and aggregation). Σ over covering buckets of per-bucket counts is
    // the same exact n_probe. (Measured r11: 6.2 s → 3.1 s warm solo.)
    val perBucket = bucketed
      .groupBy("event_type", "bucket")
      .agg(sum(when(col("user_s") === probe, 1L).otherwise(0L)).as("np"))
    val exact = perBucket
      .select(col("event_type"), col("np"),
        explode(sequence(col("bucket"), col("bucket") + lit(5))).as("frame"))
      .join(perBucket.select(col("event_type"), col("bucket").as("frame"))
          .distinct(),
        Seq("event_type", "frame"), "left_semi")
      .groupBy("event_type", "frame")
      .agg(sum(col("np")).as("n_probe"))
      .select((col("frame") * 3600L).as("frame_epoch"), col("event_type"),
        col("n_probe"))
    est.join(exact, Seq("frame_epoch", "event_type"))
      .select(col("frame_epoch"), col("event_type"), col("n_probe"),
        (col("est") >= col("n_probe") &&
          col("est").cast("double") <= col("n_probe").cast("double") +
            lit(eps) * col("n_frame").cast("double")).as("est_ok"))
      .orderBy("frame_epoch", "event_type")
  }

  /** Join-size estimation WITHOUT running the join — the Count-Sketch /
    * AGMS family ([[graft.sketch.CountSketch]]): each table's join-key
    * column collapses to one `depth × width` signed-counter sketch (a
    * map-side-combined scan, no shuffle of the keys), and the bucket
    * inner product of the two sketches estimates Σ_k f_A(k)·f_B(k) — the
    * equi-join cardinality. This is what a planner consults to pick join
    * order/strategy at 100 TB: pricing a join for the cost of two column
    * scans and a width-sized dot product.
    *
    * Gate: the EXACT join size and both exact second moments ride along
    * (all SQL-reproducible), and the boolean asserts the estimate within
    * 4·sqrt((F2_A·F2_B + J²)/width) — four times the AGMS per-row
    * standard deviation, which the median-of-depth estimate clears with
    * overwhelming probability (validated deterministic at both SFs). */
  def q134JoinSizeEstimate(spark: SparkSession, dir: String): DataFrame = {
    val width = graft.sketch.CountSketch.DefaultWidth
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val sk = o.agg(agms_sketch_agg(col("o_orderkey")).as("sa"))
      .join(li.agg(agms_sketch_agg(col("l_orderkey")).as("sb")))
      .select(agms_join_size(col("sa"), col("sb")).as("est"))
    val j = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("n_join"))
    val f2a = o.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("f2a"))
    val f2b = li.groupBy("l_orderkey").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("f2b"))
    sk.join(j).join(f2a).join(f2b)
      .select(col("n_join"), col("f2a"), col("f2b"),
        (abs(col("est") - col("n_join").cast("double")) <=
          lit(4.0) * sqrt((col("f2a").cast("double") * col("f2b").cast("double") +
            col("n_join").cast("double") * col("n_join").cast("double")) /
            lit(width.toDouble))).as("est_ok"))
  }

  /** SpaceSaving heavy hitters over event types. The domain (5 event types)
    * is far below the summary capacity, so the sketch path is provably
    * EXACT — no eviction ever fires — and the gate is a strict hash match
    * against the exact GROUP BY. Eviction-path guarantees (est bounds,
    * n/m error, merge law) are property-tested in SketchPropertiesSpec;
    * this gate proves the Catalyst wiring end-to-end. */
  def q62HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .agg(approx_top_k(col("event_type"), k = 5, capacity = 1024).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("event_type"), col("e.est").as("n_events"))
      .orderBy(desc("n_events"), col("event_type"))
  }

  /** Heavy-hitter store-then-merge: one serialized SpaceSaving summary per
    * language (the storable unit), re-aggregated into a global top-10 token
    * list without rescanning tokens — the reference's E3 contract applied
    * to frequency instead of cardinality. Capacity exceeds the token
    * vocabulary, so every per-lang summary is exact and the merge is
    * lossless: strict hash gate. At 100 TB the same plan ships one ≤ 256-
    * entry summary per language per map task across the shuffle. */
  def q63TopkStoreMerge(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("lang").agg(topk_sketch_agg(col("tok"), capacity = 256).as("s"))
      .agg(topk_merge_agg(col("s"), k = 10, capacity = 256).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("token"), col("e.est").as("n_occurrences"))
      .orderBy(desc("n_occurrences"), col("token"))
  }

  /** Batch twin of [[graft.streaming.StreamOps.windowedTopK]]: top-3 event
    * types per hour window. Capacity far exceeds the 5-type domain, so the
    * windowed summaries are exact and the gate is a strict hash match;
    * boundary ties break (count DESC, item ASC) identically on both sides.
    * Epoch-second keys for the q36 tz-rendering reason. */
  def q67WindowedTopK(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.windowedTopK(
        Tables.events(spark, dir), "ts", "event_type", "1 hour", k = 3)
      .select(unix_timestamp(col("window_start")).as("window_epoch"),
        posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col("window_epoch"), (col("pos") + 1).cast("long").as("rnk"),
        col("e.item").as("event_type"), col("e.est").as("n_events"))
      .orderBy("window_epoch", "rnk")

  /** Weighted heavy hitters after a join: top-10 part brands by total
    * lineitem quantity. Same exact-regime gate as q62 (25 brands ≪
    * capacity); demonstrates the summary consuming a joined fact stream —
    * at 100 TB the join output never needs a per-brand shuffle, just one
    * summary per map task. */
  def q69WeightedTopK(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_partkey"),
      col("l_quantity").cast("long").as("qty"))
    val parts = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    li.join(parts, col("l_partkey") === col("p_partkey"))
      .agg(approx_top_k_weighted(col("p_brand"), col("qty"), k = 10, capacity = 1024).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("p_brand"), col("e.est").as("total_qty"))
      .orderBy(desc("total_qty"), col("p_brand"))
  }

  /** Batch twin of [[graft.streaming.StreamOps.intervalJoin]]: conversion
    * attribution — for each user, views within 10 minutes AFTER a click by
    * the same user (per-pair attribution count + distinct converting
    * clicks). On streams the same plan runs with watermarks on both sides
    * and bounded join state; the batch twin is what the oracle can check. */
  def q68IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "ts")
    graft.streaming.StreamOps.intervalJoin(
        clicks, views, "user_id", "ts", before = "0 seconds", after = "10 minutes")
      .groupBy(col("l_user_id").as("user_id"))
      .agg(count(lit(1)).as("n_attributed"),
        countDistinct(col("l_event_id")).as("n_clicks_with_view"))
      .orderBy("user_id")
  }

  /** KLL approximate quantiles per group, gated by the RANK-ERROR contract
    * (the only thing a quantile sketch guarantees): for each estimate v̂ at
    * probability p over n rows, the true rank interval of v̂
    * [count(x < v̂), count(x ≤ v̂)] must intersect [p·n − ε·n, p·n + ε·n].
    * ε = 0.04 is ≳3× the empirical max rank error of k=256 (KllSpec). The
    * exact ranks are recomputed in-query from the raw data; the oracle
    * reproduces the deterministic columns (group, prob, n) and `true`. */
  def q65ApproxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val probs = Seq(0.25, 0.5, 0.95)
    val eps = 0.04
    val li = Tables.lineitem(spark, dir)
    val est = li.groupBy("l_returnflag")
      .agg(approx_quantiles(col("l_quantity"), probs).as("qs"))
      .select(col("l_returnflag"), posexplode(col("qs")).as(Seq("pi", "vhat")))
      .withColumn("prob", element_at(typedLit(probs), col("pi") + 1))
    li.join(broadcast(est), "l_returnflag")
      .groupBy("l_returnflag", "prob", "vhat")
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_quantity") <= col("vhat"), 1L).otherwise(0L)).as("r_le"),
        sum(when(col("l_quantity") < col("vhat"), 1L).otherwise(0L)).as("r_lt"))
      .select(col("l_returnflag"), col("prob"), col("n"),
        (col("r_le").cast("double") >= col("prob") * col("n") - lit(eps) * col("n") &&
          col("r_lt").cast("double") <= col("prob") * col("n") + lit(eps) * col("n"))
          .as("rank_ok"))
      .orderBy("l_returnflag", "prob")
  }

  /** Quantile store-then-merge: one serialized KLL sketch per ship-day,
    * merged into a global median without rescanning rows — E3 applied to
    * quantiles. Same rank-error gate as q65 (merged-sketch error keeps the
    * KLL bound; ε has ≳3× margin over the measured merged error). */
  def q66KllStoreMerge(spark: SparkSession, dir: String): DataFrame = {
    val eps = 0.04
    val li = Tables.lineitem(spark, dir)
    val vhat = li.groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(kll_sketch_agg(col("l_extendedprice")).as("sk"))
      .agg(kll_merge_agg(col("sk"), Seq(0.5)).as("qs"))
      .select(element_at(col("qs"), 1).as("vhat"))
    li.join(broadcast(vhat))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") <= col("vhat"), 1L).otherwise(0L)).as("r_le"),
        sum(when(col("l_extendedprice") < col("vhat"), 1L).otherwise(0L)).as("r_lt"))
      .select(col("n"),
        (col("r_le").cast("double") >= (lit(0.5) - lit(eps)) * col("n") &&
          col("r_lt").cast("double") <= (lit(0.5) + lit(eps)) * col("n"))
          .as("rank_ok"))
  }

  /** `approx_distinct(...) OVER (PARTITION BY ...)` — Spark evaluates the
    * sketch natively in an unbounded window frame (verified on 4.1), but
    * WindowExec shuffles AND SORTS every row within each partition to do
    * it. This rewrite gets the same column from two narrow shuffles and no
    * sort: aggregate one sketch per partition key, then join the estimate
    * back onto every row (AQE broadcasts the small per-group side) — the
    * shape to prefer when the window carries only the sketch estimate. */
  def withApproxDistinctOver(df: DataFrame, partitionCols: Seq[String],
      valueCol: String, outCol: String): DataFrame = {
    val perGroup = df.groupBy(partitionCols.map(col): _*)
      .agg(approx_distinct(col(valueCol)).as("__sk"))
      .select(partitionCols.map(col) :+ col("__sk.cardinality").as(outCol): _*)
    df.join(perGroup, partitionCols, "left")
  }

  /** One batch of a MAINTAINED sketch MV: per-group HLL binaries under
    * the `batch_id=` replay discipline. Batch 0 sketches the initial
    * corpus; batch k ≥ 1 sketches ONLY its delta (insert-only — HLL
    * merges unions, it cannot retract) and merges register-wise into the
    * latest earlier version. At 100 TB this is the q135 IVM story for
    * the reference's own aggregate: grouped distinct counts stay
    * queryable from a group-count-sized sketch table, each refresh
    * touching only the new rows, and merge associativity makes the
    * maintained estimate BIT-IDENTICAL to a from-scratch sketch of the
    * full data (pinned in SketchSpec). */
  def sketchMvBatch(batch: DataFrame, groupCol: String, valueCol: String,
      path: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val partial = batch.groupBy(col(groupCol))
      .agg(approx_distinct(col(valueCol)).getField("binary").as("sk"))
    val merged = graft.streaming.StreamOps
      .latestVersionBefore(spark, path, batchId) match {
      case None => partial
      case Some(v) =>
        spark.read.parquet(path).filter(col("batch_id") === v)
          .select(col(groupCol), col("sk"))
          .unionByName(partial)
          .groupBy(col(groupCol))
          // keep the stored column BINARY across versions (the merge
          // aggregate surfaces the full result struct)
          .agg(sketch_merge_agg(col("sk")).getField("binary").as("sk"))
    }
    merged.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
  }

  /** Grouped approx-distinct answered from the maintained sketch MV
    * after an insert-only delta (new customers on a third of order
    * keys), with the exact count riding along — q30's gate convention:
    * the oracle recomputes the exact distinct over base+delta, the
    * envelope boolean pins the estimate. */
  def q161SketchMv(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-skmv").toString
    val delta = o.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_custkey", col("o_custkey") + 1000000L)
    sketchMvBatch(o, "o_orderstatus", "o_custkey", path, 0L)
    sketchMvBatch(delta, "o_orderstatus", "o_custkey", path, 1L)
    val est = spark.read.parquet(path).filter(col("batch_id") === 1L)
      .select(col("o_orderstatus"), sketch_estimate(col("sk")).as("est"))
    val exact = o.select(col("o_orderstatus"), col("o_custkey"))
      .unionByName(delta.select(col("o_orderstatus"), col("o_custkey")))
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    exact.join(est, "o_orderstatus")
      .select(col("o_orderstatus"), col("n_exact"),
        withinEnvelope(col("est"), col("n_exact")).as("est_ok"))
      .orderBy("o_orderstatus")
  }

  /** DDSketch relative-error quantiles of event value per type — the
    * observability percentile workload ([[graft.sketch.DdSketch]]:
    * |q̂ − q| ≤ α·q however heavy the tail, vs KLL's rank bound in q65).
    * HASH-GATED, not envelope-gated: DDSketch is deterministic (exact
    * bucket-count merges, no compaction RNG), so the DuckDB oracle
    * reproduces the log-γ bucket histogram and its quantile walk
    * exactly — the only cross-engine hazard is a sub-ulp ln() flip at
    * a bucket boundary, and every boundary in this dataset sits ≥ 1e9
    * ulps clear. Zero values land in the sub-resolution zero bucket
    * (estimate 0.0, sorted before the positive buckets). */
  def q420DdQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val probs = Seq(0.5, 0.95, 0.99)
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(dd_quantiles(col("value"), probs, 0.01).as("qs"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("n_events"),
        posexplode(col("qs")).as(Seq("pi", "qhat")))
      .select(col("event_type"),
        element_at(array(probs.map(lit): _*), col("pi").cast("int") + 1)
          .as("prob"),
        col("n_events"), col("qhat"))
      .orderBy("event_type", "prob")
  }

  /** Store-then-merge for relative-error quantiles: one serialized
    * DDSketch per (event_type, day) — the nightly rollup a metrics
    * store keeps — then `dd_merge_agg` re-aggregates the stored
    * sketches into the full-range percentiles. Because DDSketch merges
    * are EXACT bucket-count additions (no compaction RNG), the merged
    * result is bit-identical to the one-shot aggregation — so unlike
    * the KLL twin (q66, envelope-gated), this is hash-gated against
    * the same oracle that reproduces q420: store-then-merge is not
    * "approximately consistent", it is the same sketch. */
  def q421DdStoreMerge(spark: SparkSession, dir: String): DataFrame = {
    val probs = Seq(0.5, 0.95, 0.99)
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(dd_sketch_agg(col("value"), 0.01).as("s"),
        count(lit(1)).as("c"))
    daily.groupBy("event_type")
      .agg(dd_merge_agg(col("s"), probs, 0.01).as("qs"),
        sum("c").as("n_events"))
      .select(col("event_type"), col("n_events"),
        posexplode(col("qs")).as(Seq("pi", "qhat")))
      .select(col("event_type"),
        element_at(array(probs.map(lit): _*), col("pi").cast("int") + 1)
          .as("prob"),
        col("n_events"), col("qhat"))
      .orderBy("event_type", "prob")
  }

  // the full DDSketch reproduced in SQL: same double γ, same ceil-of-
  // log bucket index, same cumulative walk, same 2γ^i/(γ+1) estimate;
  // the zero bucket rides as LONG_MIN so the histogram sort puts it
  // before every positive bucket (ddsketch order: neg, zero, pos).
  // Shared by q420 (one-shot) and q421 (store-then-merge): DDSketch
  // merges are exact, so both queries ARE the same computation.
  private val ddQuantilesOracleSql: String =
      """WITH per AS (
        |  SELECT event_type AS et, CAST(value AS DOUBLE) AS v
        |  FROM events),
        |idx AS (
        |  SELECT et,
        |    CASE WHEN abs(v) < 1e-12 THEN -9223372036854775808
        |      ELSE CAST(ceil(ln(v) /
        |        ln((CAST(1.0 AS DOUBLE) + CAST(0.01 AS DOUBLE))
        |         / (CAST(1.0 AS DOUBLE) - CAST(0.01 AS DOUBLE))))
        |        AS BIGINT) END AS i,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM per GROUP BY 1, 2),
        |cum AS (
        |  SELECT et, i, c,
        |    SUM(c) OVER (PARTITION BY et ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(c) OVER (PARTITION BY et) AS n
        |  FROM idx),
        |qs AS (
        |  SELECT CAST(p AS DOUBLE) AS p
        |  FROM (VALUES (0.5), (0.95), (0.99)) t(p)),
        |sel AS (
        |  SELECT c.et, q.p, c.n, MIN(c.i) AS qi
        |  FROM cum c CROSS JOIN qs q
        |  WHERE c.cum >= GREATEST(1,
        |    CAST(ceil(q.p * CAST(c.n AS DOUBLE)) AS BIGINT))
        |  GROUP BY 1, 2, 3)
        |SELECT et AS event_type, p AS prob, CAST(n AS BIGINT) AS n_events,
        |  CASE WHEN qi = -9223372036854775808 THEN 0.0
        |    ELSE 2.0 * power((CAST(1.0 AS DOUBLE) + CAST(0.01 AS DOUBLE))
        |        / (CAST(1.0 AS DOUBLE) - CAST(0.01 AS DOUBLE)),
        |        CAST(qi AS DOUBLE))
        |      / ((CAST(1.0 AS DOUBLE) + CAST(0.01 AS DOUBLE))
        |        / (CAST(1.0 AS DOUBLE) - CAST(0.01 AS DOUBLE)) + 1.0)
        |  END AS qhat
        |FROM sel
        |ORDER BY 1, 2""".stripMargin

  /** Oracles are exact counts; the driver applies the approx envelope. */
  val declared: Map[String, Query] = Map(
    "q420_dd_quantiles" -> Query(q420DdQuantiles, ddQuantilesOracleSql),
    "q421_dd_store_merge" -> Query(q421DdStoreMerge, ddQuantilesOracleSql),
    // per-instant trailing RANGE frame as a range self-join over distinct
    // (key, instant) rows — the row-anchored twin of the q117 oracle
    "q315_trailing_distinct_window" -> Query(q315TrailingDistinctWindow,
      """WITH e AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us, event_type
        |  FROM events),
        |inst AS (SELECT DISTINCT user_id, us FROM e)
        |SELECT i.user_id, i.us,
        |  CAST(COUNT(DISTINCT e.event_type) AS BIGINT) AS n_types
        |FROM inst i JOIN e ON e.user_id = i.user_id
        |  AND e.us BETWEEN i.us - 86400000000 AND i.us
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q298_rowframe_sketch_window" -> Query(q298RowRangeSketchWindow,
      """WITH e AS (
        |  SELECT event_type, CAST(epoch_us(ts) AS BIGINT) AS us, user_id
        |  FROM events),
        |inst AS (SELECT DISTINCT event_type, us FROM e)
        |SELECT i.event_type, i.us,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
        |  true AS est_ok
        |FROM inst i JOIN e ON e.event_type = i.event_type
        |  AND e.us BETWEEN i.us - 21600000000 AND i.us
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q161_sketch_mv" -> Query(q161SketchMv,
      """WITH delta AS (
        |  SELECT o_orderstatus, o_custkey + 1000000 AS c
        |  FROM orders WHERE o_orderkey % 10 = 3),
        |all_rows AS (
        |  SELECT o_orderstatus, o_custkey AS c FROM orders
        |  UNION ALL SELECT * FROM delta)
        |SELECT o_orderstatus, CAST(COUNT(DISTINCT c) AS BIGINT) AS n_exact,
        |  true AS est_ok
        |FROM all_rows GROUP BY 1 ORDER BY 1""".stripMargin),
    "q36_windowed_approx_users" -> Query(q36WindowedApproxUsers,
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_epoch,
        |  event_type, COUNT(DISTINCT user_id) AS n_users, true AS est_ok
        |FROM events GROUP BY 1, 2 ORDER BY window_epoch, event_type""".stripMargin),
    // trailing-frame distinct as a range self-join over occupied grid
    // instants — the window-frame twin of the two-phase bucket rewrite
    "q117_sliding_sketch_window" -> Query(q117SlidingSketchWindow,
      """WITH b AS (
        |  SELECT event_type, user_id,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS bucket
        |  FROM events),
        |occ AS (SELECT DISTINCT event_type, bucket FROM b),
        |ex AS (
        |  SELECT o.event_type, o.bucket AS frame,
        |    COUNT(DISTINCT e.user_id) AS n_users
        |  FROM occ o JOIN b e ON e.event_type = o.event_type
        |    AND e.bucket BETWEEN o.bucket - 5 AND o.bucket
        |  GROUP BY 1, 2)
        |SELECT frame * 3600 AS frame_epoch, event_type, n_users, true AS est_ok
        |FROM ex ORDER BY frame_epoch, event_type""".stripMargin),
    // exact new-member counts per (occupied frame with occupied
    // predecessor): trailing-window membership minus the previous
    // instant's membership, by NOT EXISTS
    "q119_rolling_new_users" -> Query(q119RollingNewUsers,
      """WITH b AS (
        |  SELECT event_type, user_id,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS bucket
        |  FROM events),
        |occ AS (SELECT DISTINCT event_type, bucket FROM b),
        |mem AS (
        |  SELECT DISTINCT o.event_type, o.bucket AS frame, e.user_id
        |  FROM occ o JOIN b e ON e.event_type = o.event_type
        |    AND e.bucket BETWEEN o.bucket - 5 AND o.bucket),
        |nw AS (
        |  SELECT m.event_type, m.frame, COUNT(*) AS n_new
        |  FROM mem m WHERE NOT EXISTS (
        |    SELECT 1 FROM mem p WHERE p.event_type = m.event_type
        |      AND p.frame = m.frame - 1 AND p.user_id = m.user_id)
        |  GROUP BY 1, 2)
        |SELECT n.frame * 3600 AS frame_epoch, n.event_type, n.n_new,
        |  true AS est_ok
        |FROM nw n WHERE EXISTS (
        |  SELECT 1 FROM occ o WHERE o.event_type = n.event_type
        |    AND o.bucket + 1 = n.frame)
        |ORDER BY frame_epoch, event_type""".stripMargin),
    // exact trailing top-3 per occupied instant with the library's
    // (count desc, user asc) tie-break — strict because the summaries
    // stay in the eviction-free exact regime at test SFs
    "q120_sliding_topk" -> Query(q120SlidingTopK,
      """WITH b AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS bucket
        |  FROM events),
        |occ AS (SELECT DISTINCT event_type, bucket FROM b),
        |cnt AS (
        |  SELECT o.event_type, o.bucket AS frame, e.user_id,
        |    COUNT(*) AS n_events
        |  FROM occ o JOIN b e ON e.event_type = o.event_type
        |    AND e.bucket BETWEEN o.bucket - 5 AND o.bucket
        |  GROUP BY 1, 2, 3)
        |SELECT frame * 3600 AS frame_epoch, event_type,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY event_type, frame
        |    ORDER BY n_events DESC, user_id) AS BIGINT) AS rnk,
        |  user_id, n_events
        |FROM cnt QUALIFY rnk <= 3
        |ORDER BY frame_epoch, event_type, rnk""".stripMargin),
    // exact join size + exact second moments; the AGMS bound boolean is
    // computed by the sketch side
    "q134_join_size_estimate" -> Query(q134JoinSizeEstimate,
      """SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        |     JOIN lineitem l ON o.o_orderkey = l.l_orderkey) AS n_join,
        |  (SELECT CAST(SUM(c * c) AS BIGINT) FROM (
        |     SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)) AS f2a,
        |  (SELECT CAST(SUM(c * c) AS BIGINT) FROM (
        |     SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey)) AS f2b,
        |  true AS est_ok""".stripMargin),
    // exact trailing probe-user counts per occupied frame; the CM
    // guarantee booleans are computed by the sketch side
    "q127_sliding_cm_freq" -> Query(q127SlidingCmFreq,
      """WITH b AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS user_s,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS bucket
        |  FROM events),
        |occ AS (SELECT DISTINCT event_type, bucket FROM b),
        |ex AS (
        |  SELECT o.event_type, o.bucket AS frame,
        |    CAST(SUM(CASE WHEN e.user_s = '42' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_probe
        |  FROM occ o JOIN b e ON e.event_type = o.event_type
        |    AND e.bucket BETWEEN o.bucket - 5 AND o.bucket
        |  GROUP BY 1, 2)
        |SELECT frame * 3600 AS frame_epoch, event_type, n_probe, true AS est_ok
        |FROM ex ORDER BY frame_epoch, event_type""".stripMargin),
    // exact trailing row counts per occupied instant x requested prob;
    // the rank booleans are true when the KLL estimates hold their bound
    "q118_sliding_quantile_window" -> Query(q118SlidingQuantileWindow,
      """WITH b AS (
        |  SELECT event_type, value,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS bucket
        |  FROM events),
        |occ AS (SELECT DISTINCT event_type, bucket FROM b),
        |ex AS (
        |  SELECT o.event_type, o.bucket AS frame, COUNT(*) AS n
        |  FROM occ o JOIN b e ON e.event_type = o.event_type
        |    AND e.bucket BETWEEN o.bucket - 5 AND o.bucket
        |  GROUP BY 1, 2)
        |SELECT frame * 3600 AS frame_epoch, event_type,
        |  p.prob, n, true AS rank_ok
        |FROM ex CROSS JOIN (
        |  SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE)]) AS prob) p
        |ORDER BY frame_epoch, event_type, prob""".stripMargin),
    "q37_sessions" -> Query(q37Sessions,
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_epoch, user_id,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(value) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_epoch""".stripMargin),
    "q38_running_approx_users" -> Query(q38RunningApproxUsers,
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, true AS est_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q30_approx_distinct_global" -> Query(q30ApproxGlobal,
      "SELECT COUNT(DISTINCT l_orderkey) AS n_orders, true AS est_ok FROM lineitem"),
    "q31_approx_distinct_grouped" -> Query(q31ApproxGrouped,
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders, true AS est_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q32_approx_distinct_lc_users" -> Query(q32ApproxLcUsers,
      "SELECT COUNT(DISTINCT user_id) AS n_users FROM events"),
    "q33_sketch_reagg" -> Query(q33SketchReagg,
      "SELECT COUNT(DISTINCT l_orderkey) AS n_orders, true AS est_ok FROM lineitem"),
    "q34_sketch_union" -> Query(q34SketchUnion,
      """SELECT
        |  (SELECT COUNT(DISTINCT o_orderkey) FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01') AS n_early,
        |  (SELECT COUNT(DISTINCT o_orderkey) FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '2000-01-01') AS n_late,
        |  (SELECT COUNT(DISTINCT o_orderkey) FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '2000-01-01') AS n_union,
        |  true AS early_ok, true AS late_ok, true AS union_ok""".stripMargin),
    "q35_sketch_intersection" -> Query(q35SketchIntersection,
      """SELECT COUNT(DISTINCT o_orderkey) AS n_intersect, true AS est_ok
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'""".stripMargin),
    // each order has exactly one date, so slice-set intersection = orders in
    // the overlap year and A \ B = orders in the early-only year
    "q78_cm_frequencies" -> Query(q78CmFrequencies,
      """SELECT event_type, COUNT(*) AS n_events, true AS est_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q77_theta_user_overlap" -> Query(q77ThetaUserOverlap,
      """WITH d1 AS (SELECT DISTINCT user_id FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-02'),
        |d2 AS (SELECT DISTINCT user_id FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03')
        |SELECT
        |  (SELECT COUNT(*) FROM d1 WHERE user_id IN (SELECT user_id FROM d2)) AS n_both,
        |  (SELECT COUNT(*) FROM (SELECT user_id FROM d1 UNION SELECT user_id FROM d2)) AS n_either,
        |  true AS jaccard_ok""".stripMargin),
    "q72_theta_set_ops" -> Query(q72ThetaSetOps,
      """SELECT
        |  (SELECT COUNT(DISTINCT o_orderkey) FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |     AND o_orderdate < TIMESTAMP '1999-01-01') AS n_intersect,
        |  (SELECT COUNT(DISTINCT o_orderkey) FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |     AND o_orderdate < TIMESTAMP '1998-01-01') AS n_diff,
        |  true AS est_ok, true AS diff_ok""".stripMargin),
    // exact because capacity > domain (see q62 scaladoc): plain GROUP BY twin
    "q62_heavy_hitters" -> Query(q62HeavyHitters,
      """SELECT event_type, COUNT(*) AS n_events FROM events
        |GROUP BY event_type ORDER BY n_events DESC, event_type LIMIT 5""".stripMargin),
    // exact token counts; ties at the top-10 boundary are broken (count DESC,
    // token ASC) identically on both sides
    "q63_topk_store_merge" -> Query(q63TopkStoreMerge,
      """WITH toks AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT token, COUNT(*) AS n_occurrences FROM toks GROUP BY token
        |ORDER BY n_occurrences DESC, token LIMIT 10""".stripMargin),
    "q65_approx_quantiles" -> Query(q65ApproxQuantiles,
      """SELECT l_returnflag, CAST(prob AS DOUBLE) AS prob, n, true AS rank_ok
        |FROM (SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag) t
        |CROSS JOIN (VALUES (0.25), (0.5), (0.95)) p(prob)
        |ORDER BY l_returnflag, prob""".stripMargin),
    "q66_kll_store_merge" -> Query(q66KllStoreMerge,
      "SELECT COUNT(*) AS n, true AS rank_ok FROM lineitem"),
    // exact because capacity > domain (see q67 scaladoc); same tie-break
    "q67_windowed_topk" -> Query(q67WindowedTopK,
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_epoch,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '1 hour', ts)
        |    ORDER BY COUNT(*) DESC, event_type) AS BIGINT) AS rnk,
        |  event_type, COUNT(*) AS n_events
        |FROM events GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type
        |QUALIFY rnk <= 3
        |ORDER BY window_epoch, rnk""".stripMargin),
    "q68_interval_join" -> Query(q68IntervalJoin,
      """SELECT c.user_id, COUNT(*) AS n_attributed,
        |  COUNT(DISTINCT c.event_id) AS n_clicks_with_view
        |FROM events c JOIN events v ON c.user_id = v.user_id
        |  AND c.event_type = 'click' AND v.event_type = 'view'
        |  AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 10 MINUTE
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin),
    // exact because capacity > domain (q62 rationale); BIGINT-cast the sum
    // (DuckDB integer SUM is HUGEINT)
    "q69_weighted_topk" -> Query(q69WeightedTopK,
      """SELECT p_brand, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY total_qty DESC, p_brand LIMIT 10""".stripMargin))
}
