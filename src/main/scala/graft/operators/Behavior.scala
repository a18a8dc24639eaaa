package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral event analytics: ordered funnels and cohort retention.
  *
  * Both operators are per-user sequence computations, and both are built
  * to touch the events table ONCE and shuffle ONCE on the user key:
  *
  *  - the funnel resolves "first qualifying step-k instant" with running
  *    conditional-min windows over the per-user time order — a chain of
  *    windows over the SAME (partition, sort), so Catalyst plans one
  *    Exchange + one Sort and evaluates every step in a single Window
  *    operator pass. No step-per-step self-joins (the naive shape pays
  *    one shuffle per funnel step and re-scans the fact table each time).
  *  - retention derives each user's cohort with a partition-wide min
  *    window instead of an aggregate + self-join, then reduces to
  *    (cohort, offset) counts.
  *
  * Per-user state is O(1) (a handful of running minima), so user skew —
  * one user with millions of events — costs sort time, never memory. At
  * 100 TB both plans are: scan → hash-exchange on user → sort → window →
  * partial agg, with the final (cohort, offset) / step aggregate a
  * few-hundred-row reduction.
  */
object Behavior {

  /** Per-user first-completion instants of an ordered step sequence.
    *
    * Step 0's instant is the user's earliest `stepTypes(0)` event; step
    * k's is the earliest `stepTypes(k)` event STRICTLY after the step
    * k−1 instant and within `horizonSeconds` of it (the conversion
    * window). Rows keep one column per step (`t0 … t(n-1)`, micros),
    * NULL once the chain breaks.
    *
    * The running-min window trick that makes this one pass: ordered by
    * time, every row at or after the user's first step-(k−1) qualifying
    * event sees `min(candidate_{k-1}) over (… unbounded preceding)` ==
    * the FINAL step-(k−1) instant, so "candidate for step k" can be
    * decided row-locally against the running value. Rows before that
    * instant see NULL or a later value and fail the strict `>` — either
    * way they are excluded, so the composition is exact, not an
    * approximation of the dependent chain. RANGE frames (the default)
    * keep equal-timestamp ties deterministic in any engine. */
  def funnelUserSteps(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String, stepTypes: Seq[String],
      horizonSeconds: Long): DataFrame = {
    require(stepTypes.nonEmpty, "funnel needs at least one step")
    require(horizonSeconds > 0, s"horizon must be positive: $horizonSeconds")
    val w = Window.partitionBy(userCol).orderBy(col("__us"))
    val us = expr(s"unix_micros($tsCol)")
    val horizonUs = horizonSeconds * 1000000L
    // candidate instant per step, then its running min; step k's candidate
    // references step k-1's running min — same window spec throughout
    var df = events.select(col(userCol), col(typeCol).as("__et"), us.as("__us"))
    var prevRun: Column = null
    for ((st, i) <- stepTypes.zipWithIndex) {
      val cand =
        if (i == 0) when(col("__et") === st, col("__us"))
        else when(col("__et") === st && col("__us") > prevRun &&
          col("__us") <= prevRun + horizonUs, col("__us"))
      df = df.withColumn(s"__c$i", cand)
      prevRun = min(col(s"__c$i")).over(w)
    }
    df.groupBy(userCol)
      .agg(min(s"__c0").as("t0"),
        stepTypes.indices.drop(1).map(i => min(s"__c$i").as(s"t$i")): _*)
  }

  /** Funnel step counts: one row per step with the number of users whose
    * chain reached it. */
  def funnelCounts(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String, stepTypes: Seq[String],
      horizonSeconds: Long): DataFrame = {
    val steps = funnelUserSteps(events, tsCol, userCol, typeCol, stepTypes,
      horizonSeconds)
    val totals = steps.agg(
      count(col("t0")).as("n0"),
      stepTypes.indices.drop(1).map(i => count(col(s"t$i")).as(s"n$i")): _*)
    val stackArgs = stepTypes.zipWithIndex
      .map { case (st, i) => s"${i + 1}L, '$st', n$i" }
      .mkString(", ")
    totals.selectExpr(
      s"stack(${stepTypes.size}, $stackArgs) AS (step, event_type, n_users)")
      .orderBy("step")
  }

  /** Cohort retention: users grouped by first-seen `bucketSeconds` bucket
    * (the cohort), counted per activity-day offset 0..`maxOffset` buckets
    * after it, with the retention rate against the cohort's size (= its
    * offset-0 count: every user is active in their own first bucket, so
    * the denominator needs no second pass). */
  def retentionCohorts(events: DataFrame, tsCol: String, userCol: String,
      bucketSeconds: Long, maxOffset: Int): DataFrame = {
    require(bucketSeconds > 0 && maxOffset >= 0,
      s"bad retention grid: bucket=$bucketSeconds maxOffset=$maxOffset")
    val bucketUs = bucketSeconds * 1000000L
    val perUser = events
      .select(col(userCol), expr(s"unix_micros($tsCol) div $bucketUs").as("b"))
      .withColumn("cohort", min(col("b")).over(Window.partitionBy(userCol)))
      .select(col(userCol), col("cohort"), (col("b") - col("cohort")).as("offs"))
      .filter(col("offs") <= maxOffset)
      .distinct()
    val counts = perUser.groupBy("cohort", "offs")
      .agg(count(lit(1)).as("n_active"))
    counts
      .withColumn("cohort_size",
        max(when(col("offs") === 0, col("n_active")))
          .over(Window.partitionBy("cohort")))
      .select((col("cohort") * bucketSeconds).as("cohort_epoch"), col("offs"),
        col("n_active"),
        (col("n_active").cast("double") / col("cohort_size").cast("double"))
          .as("retain_rate"))
      .orderBy("cohort_epoch", "offs")
  }

  /** Last-touch attribution: credit each conversion event to the most
    * recent preceding touch event by the same user within
    * `windowSeconds`, or to `"none"`. One user-key shuffle, one window
    * pass (`last(..., ignoreNulls)` over a ROWS frame that EXCLUDES the
    * current row); the (time, tiebreakCol) sort makes equal-timestamp
    * behavior deterministic in any engine. Returns the conversion rows
    * with `touch_type` / `touch_age_us` attached. */
  def lastTouchAttribution(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String, touchTypes: Seq[String], convType: String,
      windowSeconds: Long, tiebreakCol: String): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch type")
    val w = Window.partitionBy(userCol).orderBy(col("__us"), col(tiebreakCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col(typeCol).isInCollection(touchTypes),
      struct(col("__us").as("us"), col(typeCol).as("t")))
    events
      .withColumn("__us", expr(s"unix_micros($tsCol)"))
      .withColumn("__last_touch", last(touch, ignoreNulls = true).over(w))
      .filter(col(typeCol) === convType)
      .withColumn("touch_type",
        when(col("__last_touch").isNotNull &&
          col("__us") - col("__last_touch.us") <= windowSeconds * 1000000L,
          col("__last_touch.t")).otherwise(lit("none")))
      .withColumn("touch_age_us",
        when(col("touch_type") =!= "none", col("__us") - col("__last_touch.us")))
      .drop("__us", "__last_touch")
  }

  /** Recency-decayed engagement score per user: Σ value · 2^(−⌊age/half⌋)
    * over the user's events, ages measured in buckets back from the
    * corpus max bucket. The weight is an exact power of two and each term
    * is DECIMAL-quantized before the sum, so the aggregate is
    * order-independent and bit-identical across engines — the standard
    * trick this engine uses to keep floating aggregates hash-gateable.
    * The corpus max instant is a scalar aggregate broadcast into the
    * projection (no per-row subquery). */
  def decayScores(events: DataFrame, tsCol: String, userCol: String,
      valueCol: String, bucketSeconds: Long, halfLifeBuckets: Int): DataFrame = {
    require(bucketSeconds > 0 && halfLifeBuckets > 0, "bad decay grid")
    val bucketUs = bucketSeconds * 1000000L
    val b = events.select(col(userCol), col(valueCol).as("v"),
      expr(s"unix_micros($tsCol) div $bucketUs").as("b"))
    val maxB = b.agg(max("b").as("maxb"))
    b.join(broadcast(maxB))
      .withColumn("w", pow(lit(2.0),
        -((col("maxb") - col("b")) / halfLifeBuckets).cast("long").cast("double")))
      .groupBy(userCol)
      .agg(sum((col("v") * col("w")).cast("decimal(28,10)")).as("score_dec"),
        count(lit(1)).as("n_events"))
      .select(col(userCol), col("score_dec").cast("double").as("score"),
        col("n_events"))
  }

  /** Within-session event-type transition matrix (first-order Markov
    * counts): sessions cut by `gapSeconds` inactivity (the q37 rule),
    * consecutive events paired with `lead`, transitions counted and
    * normalized per source type. The session numbering, the lead, and the
    * per-user sort all cluster by the user key, so the whole chain rides
    * ONE hash exchange (the session-id window's (user, sid) requirement
    * is satisfied by the user partitioning); the final (from, to) count
    * is a few-dozen-row reduction. */
  def sessionTransitions(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String, tieCol: String, gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, s"gap must be positive: $gapSeconds")
    val wOrd = Window.partitionBy(userCol).orderBy(col("__us"), col(tieCol))
    val gapUs = gapSeconds * 1000000L
    val sessioned = events
      .withColumn("__us", expr(s"unix_micros($tsCol)"))
      .withColumn("__new", when(lag(col("__us"), 1).over(wOrd).isNull ||
        col("__us") - lag(col("__us"), 1).over(wOrd) > gapUs, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy(col(userCol), col("__sid"))
      .orderBy(col("__us"), col(tieCol))
    val counts = sessioned
      .withColumn("__next", lead(col(typeCol), 1).over(wSess))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("from_type")).cast("double"))
      .orderBy("from_type", "to_type")
  }

  /** Most common full session paths: each gap-cut session reduced to its
    * ordered event-type sequence ("view>click>purchase"), counted across
    * the corpus with session and user frequencies.
    *
    * Same single user-key exchange as [[sessionTransitions]]; the path
    * build is `array_sort(collect_list(struct(us, tie, type)))` — the
    * struct sort gives a deterministic in-session order ((us, tie) is
    * unique) without a second window pass, then one small reduction on
    * the path string. Per-session state is the session's OWN event list:
    * bounded by session length (gap-cut), not user history. */
  def sessionPaths(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String, tieCol: String, gapSeconds: Long,
      topK: Int): DataFrame = {
    require(gapSeconds > 0, s"gap must be positive: $gapSeconds")
    require(topK >= 1, s"topK must be positive: $topK")
    val wOrd = Window.partitionBy(userCol).orderBy(col("__us"), col(tieCol))
    val gapUs = gapSeconds * 1000000L
    val sessioned = events
      .withColumn("__us", expr(s"unix_micros($tsCol)"))
      .withColumn("__new", when(lag(col("__us"), 1).over(wOrd).isNull ||
        col("__us") - lag(col("__us"), 1).over(wOrd) > gapUs, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessioned
      .groupBy(col(userCol), col("__sid"))
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("__us"), col(tieCol),
          col(typeCol).as("t")))), s => s("t"))).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col(userCol)).as("n_users"))
      .orderBy(desc("n_sessions"), col("path"))
      .limit(topK)
  }

  /** Bounce rate by entry event type: sessions under the gap-cut rule,
    * a session "bounces" when it holds exactly one event; rate grouped by
    * the session's FIRST event type (deterministic — the (ts, tie) order
    * is total). Rides the [[sessionPaths]] session chain: the whole
    * computation is one user-key exchange + one small per-entry-type
    * aggregation; the entry type falls out of a struct-min, no second
    * window pass. */
  def bounceRate(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String, tieCol: String, gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, s"gap must be positive: $gapSeconds")
    val wOrd = Window.partitionBy(userCol).orderBy(col("__us"), col(tieCol))
    val gapUs = gapSeconds * 1000000L
    events
      .withColumn("__us", expr(s"unix_micros($tsCol)"))
      .withColumn("__new", when(lag(col("__us"), 1).over(wOrd).isNull ||
        col("__us") - lag(col("__us"), 1).over(wOrd) > gapUs, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("__sid"))
      .agg(count(lit(1)).as("sz"),
        min(struct(col("__us"), col(tieCol), col(typeCol).as("t")))
          .as("__first"))
      .select(col("__first.t").as("entry_type"), col("sz"))
      .groupBy("entry_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("sz") === 1L, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("entry_type"), col("n_sessions"), col("n_bounces"),
        (col("n_bounces").cast("double") / col("n_sessions"))
          .as("bounce_rate"))
      .orderBy("entry_type")
  }

  /** 30-minute-gap session bounce rate by entry event type. */
  def q194BounceRate(spark: SparkSession, dir: String): DataFrame =
    bounceRate(Tables.events(spark, dir), "ts", "user_id", "event_type",
      "event_id", gapSeconds = 30 * 60L)

  /** Linear multi-touch attribution: every non-conversion touch inside
    * the lookback before a user's NEXT conversion shares that
    * conversion's credit equally (1/n each). The fair-share complement
    * of [[lastTouchAttribution]].
    *
    * No touch⋈conversion range join: the next conversion instant is a
    * per-user forward-looking window min, and the per-conversion touch
    * count is a second window on the derived (user, conversion) key —
    * both ride ONE user-key exchange (per-user event counts bound the
    * frame, the q121 funnel discipline). Credits are doubles quantized
    * DECIMAL(20,12) BEFORE the per-channel sum, so the order-sensitive
    * reduction is exact decimal addition (the engine's standard float
    * discipline). */
  def linearAttribution(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String, tieCol: String, convType: String,
      lookbackSeconds: Long): DataFrame = {
    require(lookbackSeconds > 0, s"lookback must be positive: $lookbackSeconds")
    val wFwd = Window.partitionBy(userCol).orderBy(col("__us"), col(tieCol))
      .rowsBetween(1, Window.unboundedFollowing)
    val touches = events
      .withColumn("__us", expr(s"unix_micros($tsCol)"))
      .withColumn("__nxt", min(when(col(typeCol) === convType,
        col("__us"))).over(wFwd))
      .filter(col(typeCol) =!= convType && col("__nxt").isNotNull &&
        col("__nxt") - col("__us") <= lookbackSeconds * 1000000L)
    val wConv = Window.partitionBy(col(userCol), col("__nxt"))
    touches
      .withColumn("__nt", count(lit(1)).over(wConv))
      .withColumn("credit",
        (lit(1.0) / col("__nt")).cast("decimal(20,12)"))
      .groupBy(col(typeCol).as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit")).cast("decimal(20,12)").as("credit"))
      .orderBy("channel")
  }

  /** 7-day-lookback linear attribution of purchases across the other
    * event channels. */
  def q196LinearAttribution(spark: SparkSession, dir: String): DataFrame =
    linearAttribution(Tables.events(spark, dir), "ts", "user_id",
      "event_type", "event_id", convType = "purchase",
      lookbackSeconds = 7L * 86400L)

  /** U-shaped (position-based) attribution — the 40/20/40 rule
    * marketers default to when first and last touches matter most:
    * first and last touch of each conversion journey get 0.4 each, the
    * middle touches share the remaining 0.2; single-touch journeys get
    * 1.0, two-touch 0.5/0.5 (the first∧last overlap). Same journey
    * construction as [[linearAttribution]] (forward-min conversion
    * window, lookback-bounded), two extra rank windows on the SAME
    * (user, conversion) partitioning — no new exchange; credits are
    * DECIMAL(20,12)-quantized so the per-channel sum is exact. */
  def positionAttribution(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String, tieCol: String, convType: String,
      lookbackSeconds: Long): DataFrame = {
    require(lookbackSeconds > 0, s"lookback must be positive: $lookbackSeconds")
    val wFwd = Window.partitionBy(userCol).orderBy(col("__us"), col(tieCol))
      .rowsBetween(1, Window.unboundedFollowing)
    val touches = events
      .withColumn("__us", expr(s"unix_micros($tsCol)"))
      .withColumn("__nxt", min(when(col(typeCol) === convType,
        col("__us"))).over(wFwd))
      .filter(col(typeCol) =!= convType && col("__nxt").isNotNull &&
        col("__nxt") - col("__us") <= lookbackSeconds * 1000000L)
    val wConv = Window.partitionBy(col(userCol), col("__nxt"))
    val wAsc = wConv.orderBy(col("__us"), col(tieCol))
    val wDesc = wConv.orderBy(col("__us").desc, col(tieCol).desc)
    touches
      .withColumn("__nt", count(lit(1)).over(wConv))
      .withColumn("__ra", row_number().over(wAsc))
      .withColumn("__rd", row_number().over(wDesc))
      .withColumn("credit",
        when(col("__nt") === 1, lit(1.0))
          .when(col("__nt") === 2, lit(0.5))
          .when(col("__ra") === 1 || col("__rd") === 1, lit(0.4))
          .otherwise(lit(0.2) / (col("__nt") - 2))
          .cast("decimal(20,12)"))
      .groupBy(col(typeCol).as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit")).cast("decimal(20,12)").as("credit"))
      .orderBy("channel")
  }

  /** 7-day U-shaped attribution of purchases — first/last-touch-heavy
    * credit, same journeys as q196. */
  def q278PositionAttribution(spark: SparkSession, dir: String): DataFrame =
    positionAttribution(Tables.events(spark, dir), "ts", "user_id",
      "event_type", "event_id", convType = "purchase",
      lookbackSeconds = 7L * 86400L)

  /** Session-level co-occurrence with lift: which event types appear in
    * the SAME gap-cut session more often than their independent session
    * frequencies predict ([[Basket]]'s lift, with sessions as baskets).
    * Small-domain pair space (event-type pairs, not item pairs), so the
    * per-session distinct-type sets explode into pairs directly; all
    * counts exact, lift one double expression over exact longs. One
    * user-key exchange builds sessions, one (type, type) reduce. */
  def sessionCooccurrence(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String, tieCol: String, gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, s"gap must be positive: $gapSeconds")
    val wOrd = Window.partitionBy(userCol).orderBy(col("__us"), col(tieCol))
    val gapUs = gapSeconds * 1000000L
    val s = events
      .withColumn("__us", expr(s"unix_micros($tsCol)"))
      .withColumn("__new", when(lag(col("__us"), 1).over(wOrd).isNull ||
        col("__us") - lag(col("__us"), 1).over(wOrd) > gapUs, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col(userCol).as("u"), col("__sid").as("sid"),
        col(typeCol).as("t"))
      .distinct()
    val totals = s.select("u", "sid").distinct().agg(count(lit(1)).as("n_s"))
    val per = s.groupBy("t").agg(count(lit(1)).as("n_t"))
    val pairs = s.as("a").join(s.as("b"),
        col("a.u") === col("b.u") && col("a.sid") === col("b.sid") &&
          col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("t1"), col("b.t").as("t2"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(per.select(col("t").as("t1"), col("n_t").as("n1")), "t1")
      .join(per.select(col("t").as("t2"), col("n_t").as("n2")), "t2")
      .crossJoin(totals) // 1-row build side
      .select(col("t1"), col("t2"), col("n_both"),
        (col("n_both").cast("double") * col("n_s") /
          (col("n1") * col("n2"))).as("lift"))
      .orderBy("t1", "t2")
  }

  /** Event-type co-occurrence inside 30-minute-gap sessions, with lift. */
  def q198SessionCooccurrence(spark: SparkSession, dir: String): DataFrame =
    sessionCooccurrence(Tables.events(spark, dir), "ts", "user_id",
      "event_type", "event_id", gapSeconds = 30 * 60L)

  /** Sequential pattern mining, fixed length: the top event-type
    * TRIGRAMS occurring inside gap-cut sessions — [[sessionPaths]] counts
    * whole paths (sparse at scale), this counts their sliding length-3
    * windows (dense, the n-gram view of behavior). Two `lead`s on the
    * session-scoped window — no per-session list materialization — then
    * one count reduce; (n desc, trigram) is a total order so the top-k
    * cut is engine-independent. */
  def eventTrigrams(events: DataFrame, tsCol: String, userCol: String,
      typeCol: String, tieCol: String, gapSeconds: Long,
      topK: Int): DataFrame = {
    require(gapSeconds > 0 && topK >= 1, s"bad args: $gapSeconds $topK")
    val wOrd = Window.partitionBy(userCol).orderBy(col("__us"), col(tieCol))
    val gapUs = gapSeconds * 1000000L
    val sessioned = events
      .withColumn("__us", expr(s"unix_micros($tsCol)"))
      .withColumn("__new", when(lag(col("__us"), 1).over(wOrd).isNull ||
        col("__us") - lag(col("__us"), 1).over(wOrd) > gapUs, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wS = Window.partitionBy(col(userCol), col("__sid"))
      .orderBy(col("__us"), col(tieCol))
    sessioned
      .withColumn("__t2", lead(col(typeCol), 1).over(wS))
      .withColumn("__t3", lead(col(typeCol), 2).over(wS))
      .filter(col("__t2").isNotNull && col("__t3").isNotNull)
      .select(concat_ws(">", col(typeCol), col("__t2"), col("__t3"))
        .as("trigram"))
      .groupBy("trigram").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("trigram"))
      .limit(topK)
  }

  /** Top-25 in-session event-type trigrams under the 30-minute gap
    * rule. */
  def q201EventTrigrams(spark: SparkSession, dir: String): DataFrame =
    eventTrigrams(Tables.events(spark, dir), "ts", "user_id", "event_type",
      "event_id", gapSeconds = 30 * 60L, topK = 25)

  /** Interval union per key: each event opens a `[ts, ts + durSeconds)`
    * presence interval; overlapping/touching intervals merge into
    * islands (gaps-and-islands via the running max of prior interval
    * ends — the [[Cdc.scd2]] move on intervals), and each key reports
    * island count, total covered time, and total gap time inside its
    * active span. The SLA/uptime/presence primitive. One key-hash
    * shuffle; both windows and the aggregate ride it; all arithmetic on
    * exact epoch-micros longs. */
  def intervalCoverage(events: DataFrame, tsCol: String, keyCol: String,
      durSeconds: Long): DataFrame = {
    require(durSeconds > 0, s"duration must be positive: $durSeconds")
    val durUs = durSeconds * 1000000L
    val ord = Window.partitionBy(keyCol).orderBy(col("__s"))
    val prevMaxEnd = max(col("__e")).over(
      ord.rowsBetween(Window.unboundedPreceding, -1))
    val islands = events
      .select(col(keyCol), expr(s"unix_micros($tsCol)").as("__s"))
      .withColumn("__e", col("__s") + durUs)
      .withColumn("__new",
        when(prevMaxEnd.isNull || col("__s") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy(col(keyCol), col("__isl"))
      .agg(min(col("__s")).as("s"), max(col("__e")).as("e"))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_islands"),
        sum(col("e") - col("s")).as("covered_us"),
        (max("e") - min("s") - sum(col("e") - col("s"))).as("gap_us"))
  }

  /** Time-weighted average of a piecewise-constant signal per key: each
    * event's value holds until the key's NEXT event (`lead` over the
    * per-key time order); the last event has no duration and is excluded
    * — the standard TWAP/telemetry-averaging convention, where a plain
    * AVG would over-weight bursts of rapid updates.
    *
    * One key-hash shuffle (window + aggregate ride it), and the whole
    * computation on exact integers: values snapped to a centi-unit grid
    * (exact for money-like inputs) by an exact decimal shift, value·µs
    * accumulated as wide decimal integers, and the average produced by
    * ONE truncating integer division onto a 10⁻⁶ grid (Spark `div` ≡
    * DuckDB hugeint `//`) — so the result is bit-identical in any engine
    * with no double rounding anywhere. (Doubles mid-stream lose: JVM and
    * DuckDB round a double's shortest vs exact decimal form when casting
    * to DECIMAL, and int128→double conversion double-rounds above 2⁵³.) */
  def timeWeightedAvg(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("__us"), col(tieCol))
    events
      .withColumn("__us", expr(s"unix_micros($tsCol)"))
      .withColumn("__dur", lead(col("__us"), 1).over(w) - col("__us"))
      .filter(col("__dur").isNotNull)
      .withColumn("__v100",
        (col(valueCol).cast("decimal(18,2)") * 100).cast("long"))
      .groupBy(keyCol)
      .agg(
        sum(col("__v100").cast("decimal(38,0)") * col("__dur")).as("__wv"),
        sum(col("__dur")).as("span_us"),
        count(lit(1)).as("n_intervals"))
      // centi·µs × 10⁴ / µs = value in 10⁻⁶ units, truncated — exact
      .withColumn("__twu", expr("(__wv * 10000) div span_us"))
      .select(col(keyCol),
        (col("__twu").cast("double") / lit(1e6)).as("twavg"),
        col("span_us"), col("n_intervals"))
  }

  /** State dwell time: treating each event as entering state `typeCol`
    * until the same key's next event, total time and interval count spent
    * in each state across all keys (plus the share of observed time) —
    * "where does user time actually go". Same lead/exclude-last
    * convention and single key-hash shuffle as [[timeWeightedAvg]]; the
    * final per-state reduction is a handful of rows. */
  def timeInState(events: DataFrame, tsCol: String, keyCol: String,
      typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("__us"), col(tieCol))
    events
      .withColumn("__us", expr(s"unix_micros($tsCol)"))
      .withColumn("__dur", lead(col("__us"), 1).over(w) - col("__us"))
      .filter(col("__dur").isNotNull)
      .groupBy(typeCol)
      .agg(sum(col("__dur")).as("total_us"), count(lit(1)).as("n_intervals"))
      // the grand total comes from a window over the ALREADY-reduced
      // per-state frame (a handful of rows), not a second event scan
      .withColumn("share", col("total_us").cast("double") /
        sum(col("total_us")).over(Window.partitionBy()).cast("double"))
      .orderBy(typeCol)
  }

  /** Longest same-type streak per key: the maximal run of consecutive
    * events (in (time, tie) order) sharing one `typeCol` value, with the
    * run's type and start instant — the MATCH_RECOGNIZE-style
    * consecutive-pattern primitive, done as gaps-and-islands (change
    * flag → running island id → per-island reduce → per-key arg-max).
    * One key-hash exchange carries both windows and both reductions; the
    * arg-max is a `min(struct(-len, start, type))`, so ties break to the
    * EARLIEST streak deterministically in any engine. */
  def longestStreaks(events: DataFrame, tsCol: String, keyCol: String,
      typeCol: String, tieCol: String): DataFrame = {
    val ord = Window.partitionBy(keyCol).orderBy(col("__us"), col(tieCol))
    val islands = events
      .withColumn("__us", expr(s"unix_micros($tsCol)"))
      .withColumn("__new",
        when(lag(col(typeCol), 1).over(ord).isNull ||
          lag(col(typeCol), 1).over(ord) =!= col(typeCol), 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy(col(keyCol), col("__isl"))
      .agg(count(lit(1)).as("len"), min(col("__us")).as("start_us"),
        first(col(typeCol)).as("__t"))
      .groupBy(keyCol)
      .agg(min(struct((-col("len")).as("nl"), col("start_us").as("s"),
        col("__t").as("t"))).as("best"))
      .select(col(keyCol), (-col("best.nl")).as("streak_len"),
        col("best.t").as("event_type"), col("best.s").as("start_us"))
      .orderBy(keyCol)
  }

  // ---- declared queries ----

  /** view → click → purchase within 24 h per hop, over the events table.
    * Strict hash gate: the oracle reproduces the dependent chain with the
    * same window composition in SQL. */
  def q121FunnelSteps(spark: SparkSession, dir: String): DataFrame =
    funnelCounts(Tables.events(spark, dir), "ts", "user_id", "event_type",
      Seq("view", "click", "purchase"), horizonSeconds = 24 * 3600L)

  /** Cohort LTV curves: users grouped by first-seen bucket (the q122
    * cohort rule), their monetary value accumulated per age offset and
    * CUMULATIVELY along each cohort's life — "how much has the March
    * cohort been worth by week 4", the revenue twin of retention. Money
    * rides the exact centi-unit grid end-to-end; the cumulative window
    * runs over the already-reduced (cohort, offset) frame; per-user LTV
    * is cum/size, one exact-long double division. One user-key window
    * pass + one small reduction. */
  def cohortLtv(events: DataFrame, tsCol: String, userCol: String,
      valueCol: String, bucketSeconds: Long, maxOffset: Int): DataFrame = {
    require(bucketSeconds > 0 && maxOffset >= 0, "bad ltv grid")
    val bucketUs = bucketSeconds * 1000000L
    val per = events
      .select(col(userCol),
        expr(s"unix_micros($tsCol) div $bucketUs").as("b"),
        (col(valueCol).cast("decimal(18,2)") * 100).cast("long").as("__v100"))
      .withColumn("cohort", min(col("b")).over(Window.partitionBy(userCol)))
      .select(col(userCol), col("cohort"), (col("b") - col("cohort")).as("offs"),
        col("__v100"))
      .filter(col("offs") <= maxOffset)
    val sizes = per.groupBy("cohort")
      .agg(countDistinct(col(userCol)).as("cohort_users"))
    val curve = per.groupBy("cohort", "offs")
      .agg(sum(col("__v100")).as("__rev_c"))
      .withColumn("__cum_c", sum(col("__rev_c")).over(
        Window.partitionBy("cohort").orderBy("offs")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    curve.join(sizes, "cohort")
      .select((col("cohort") * bucketSeconds).as("cohort_epoch"), col("offs"),
        (col("__rev_c").cast("double") / lit(100.0)).as("revenue"),
        (col("__cum_c").cast("double") / lit(100.0)).as("cum_revenue"),
        col("cohort_users"),
        (col("__cum_c").cast("double") / lit(100.0) /
          col("cohort_users").cast("double")).as("ltv_per_user"))
      .orderBy("cohort_epoch", "offs")
  }

  /** Daily cohorts, activity offsets 0–7 days. Strict hash gate; the
    * rate is an exact integer-ratio double, bit-identical in any engine. */
  def q122RetentionCohorts(spark: SparkSession, dir: String): DataFrame =
    retentionCohorts(Tables.events(spark, dir), "ts", "user_id",
      bucketSeconds = 86400L, maxOffset = 7)

  /** Purchases credited to the latest view/click touch within 6 h,
    * summarized per touch type. Strict hash gate; value sums are
    * DECIMAL-stabilized like every money aggregate in the engine. */
  def q125Attribution(spark: SparkSession, dir: String): DataFrame =
    lastTouchAttribution(Tables.events(spark, dir), "ts", "user_id",
        "event_type", Seq("view", "click"), "purchase",
        windowSeconds = 6 * 3600L, tiebreakCol = "event_id")
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy("touch_type")

  /** Top-100 users by daily-bucket, weekly-half-life decayed engagement.
    * The (score desc, user) order is total, so the limit is
    * deterministic; strict hash gate. */
  def q126DecayScore(spark: SparkSession, dir: String): DataFrame =
    decayScores(Tables.events(spark, dir), "ts", "user_id", "value",
        bucketSeconds = 86400L, halfLifeBuckets = 7)
      .orderBy(desc("score"), col("user_id"))
      .limit(100)

  /** Event-type transitions within 30-minute-gap sessions. Strict hash
    * gate: counts are exact, and each probability is one long/long double
    * division (exactly rounded identically in any IEEE engine). */
  def q130SessionTransitions(spark: SparkSession, dir: String): DataFrame =
    sessionTransitions(Tables.events(spark, dir), "ts", "user_id",
      "event_type", "event_id", gapSeconds = 30 * 60L)

  /** The q121 funnel answered by the STREAMING state implementation run
    * on the batch frame (state starts empty, each user's full ordered
    * history folds in one group pass — the q38 batch-twin move): greedy
    * fold and window chain provably agree through the DuckDB gate, since
    * this query reuses q121's oracle verbatim. */
  def q133FunnelState(spark: SparkSession, dir: String): DataFrame = {
    val per = graft.streaming.StreamOps.streamingFunnel(
      Tables.events(spark, dir), "ts", "user_id", "event_type",
      Seq("view", "click", "purchase"), horizonSeconds = 24 * 3600L)
    per.agg(
        count(when(col("steps_reached") >= 1, 1)).as("n0"),
        count(when(col("steps_reached") >= 2, 1)).as("n1"),
        count(when(col("steps_reached") >= 3, 1)).as("n2"))
      .selectExpr("stack(3, 1L, 'view', n0, 2L, 'click', n1, " +
        "3L, 'purchase', n2) AS (step, event_type, n_users)")
      .orderBy("step")
  }

  /** Time-to-convert distribution for the q121 funnel: exact p25/p50/p95
    * of the first-view → purchase delay over converting users, plus the
    * per-hop medians. Rides the same single funnel pass; the percentile
    * is Spark's exact interpolating `percentile` (the q25-matched twin of
    * DuckDB's `quantile_cont`). */
  def q139FunnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val steps = funnelUserSteps(Tables.events(spark, dir), "ts", "user_id",
      "event_type", Seq("view", "click", "purchase"),
      horizonSeconds = 24 * 3600L)
    steps.filter(col("t2").isNotNull)
      .select((col("t2") - col("t0")).as("d_total"),
        (col("t1") - col("t0")).as("d_click"),
        (col("t2") - col("t1")).as("d_buy"))
      .agg(count(lit(1)).as("n_converted"),
        expr("percentile(d_total, 0.25)").as("p25_us"),
        expr("percentile(d_total, 0.5)").as("p50_us"),
        expr("percentile(d_total, 0.95)").as("p95_us"),
        expr("percentile(d_click, 0.5)").as("p50_click_us"),
        expr("percentile(d_buy, 0.5)").as("p50_buy_us"))
  }

  /** Per-user time-weighted average of `value` (piecewise-constant hold
    * until the next event). Strict hash gate: DECIMAL-quantized terms,
    * one final double division. */
  def q164Twap(spark: SparkSession, dir: String): DataFrame =
    timeWeightedAvg(Tables.events(spark, dir), "ts", "user_id", "value",
        "event_id")
      .orderBy("user_id")

  /** Corpus-wide dwell time per event-type state. Strict hash gate on
    * exact microsecond totals; the share is one exact-long double
    * division. */
  def q165TimeInState(spark: SparkSession, dir: String): DataFrame =
    timeInState(Tables.events(spark, dir), "ts", "user_id", "event_type",
      "event_id")

  /** Longest same-event-type streak per user. Strict hash gate: exact
    * counts and instants, deterministic earliest-streak tie-break. */
  def q180LongestStreak(spark: SparkSession, dir: String): DataFrame =
    longestStreaks(Tables.events(spark, dir), "ts", "user_id", "event_type",
      "event_id")

  /** Daily-cohort LTV curve to offset 7 over event values. Strict hash
    * gate: centi-exact revenue, exact cumulative window, pinned division
    * shapes. */
  def q185CohortLtv(spark: SparkSession, dir: String): DataFrame =
    cohortLtv(Tables.events(spark, dir), "ts", "user_id", "value",
      bucketSeconds = 86400L, maxOffset = 7)

  /** Markov-chain removal-effect attribution (Anderl et al. 2016) —
    * the data-driven alternative to the positional rules (last-touch
    * q125, linear q196, decay q126): model journeys as a first-order
    * chain over touch channels with absorbing `conv`/`null` states,
    * compute P(conv from start), and credit each channel by its REMOVAL
    * EFFECT — how much conversion probability disappears when that
    * channel is knocked out (its inbound transitions redirected to
    * `null`).
    *
    * Journeys: per user, the ordered non-conversion events strictly
    * before the first conversion (all events when none); empty-journey
    * converters contribute `start→conv` directly. One user-key shuffle
    * builds the transition counts; everything after runs on the
    * channels²-sized transition frame. Absorption runs `iters`
    * synchronous rounds for base + one knockout chain per channel IN
    * ONE FRAME (chain-keyed) — the PageRank float discipline (double
    * products, DECIMAL(38,18)-quantized sums, per-round checkpoint), so
    * the recursion is bit-reproducible in any engine. Removal effects
    * are quantized before the share normalization. */
  def markovAttribution(events: DataFrame, tsCol: String, userCol: String,
      channelCol: String, orderCol: String, convCond: Column,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters: $iters")
    val d3818 = (c: Column) => c.cast("decimal(38,18)")
    val ev = events.select(col(userCol).as("u"),
      unix_micros(col(tsCol)).as("us"), col(orderCol).as("oid"),
      col(channelCol).as("ch"), convCond.as("isconv"))
    val pu = ev.filter(col("isconv")).groupBy("u")
      .agg(min("us").as("pus"))
    val j = ev.filter(!col("isconv"))
      .join(pu, Seq("u"), "left")
      .filter(col("pus").isNull || col("us") < col("pus"))
      .withColumn("conv", col("pus").isNotNull)
    val wSeq = Window.partitionBy("u").orderBy("us", "oid")
    val seq = j
      .withColumn("rn", row_number().over(wSeq))
      .withColumn("len", count(lit(1)).over(Window.partitionBy("u")))
      .withColumn("nxt", lead("ch", 1).over(wSeq))
    val emptyConv = pu.join(j.select("u").distinct(), Seq("u"),
      "left_anti")
    val transRaw = seq.filter(col("rn") === 1)
        .select(lit("start").as("src"), col("ch").as("dst"))
      .union(seq.filter(col("nxt").isNotNull)
        .select(col("ch").as("src"), col("nxt").as("dst")))
      .union(seq.filter(col("rn") === col("len"))
        .select(col("ch").as("src"),
          when(col("conv"), "conv").otherwise("null").as("dst")))
      .union(emptyConv.select(lit("start").as("src"),
        lit("conv").as("dst")))
    val tcnt = transRaw.groupBy("src", "dst").agg(count(lit(1)).as("n"))
    val chains = j.select(col("ch").as("chain")).distinct()
      .union(SparkSession.active.sql("SELECT 'base' AS chain"))
    // knockout: in chain c every transition INTO c becomes a null-exit
    val tp = chains.crossJoin(tcnt)
      .withColumn("dst2", when(col("dst") === col("chain"), "null")
        .otherwise(col("dst")))
      .groupBy(col("chain"), col("src"), col("dst2").as("dst"))
      .agg(sum("n").as("n"))
      .withColumn("p", col("n").cast("double") /
        sum("n").over(Window.partitionBy("chain", "src"))
          .cast("double"))
      .localCheckpoint(true)
    var v = chains.select(col("chain"), lit("start").as("state"),
      lit(1.0).as("vp")).localCheckpoint(true)
    // r11 optimization (guide §1.2 — per-round driver-job count is the
    // cost here, the frames are chain×state-sized, ~100 rows): ONE
    // aggregation + ONE checkpoint per round instead of two (the
    // dst='conv' slice of the round's aggregate is that round's absorbed
    // increment; the rest IS the next round's state vector), and the
    // increments stay LAZY over their round's checkpoint, folding into
    // the accumulator in a single union+sum at the end — decimal(38,18)
    // addition is exact, so the one deferred sum equals the old 24
    // chained per-round adds bit-for-bit. (Measured r11: 15.5 s warm →
    // 11.3 s at sf0.1; 49 driver jobs → 25. Two rejected variants,
    // measured worse: checkpointing only every 4th round — the lazy
    // increment slices re-run their chunk prefixes at the final union,
    // 15 s execute — and a broadcast hint on the state side, which adds
    // a broadcast-build stage per round.)
    val incs = Seq.newBuilder[DataFrame]
    incs += v.select(col("chain"), lit(0).cast("decimal(38,18)")
      .as("inc")) // seed off the CHECKPOINTED state frame (one row per
                  // chain): every chain present even with zero absorption,
                  // without re-running the chains pipeline at the end
    for (round <- 1 to iters) {
      val vv = v.select(col("chain").as("vchain"),
        col("state").as("vstate"), col("vp"))
      val stepped0 = vv.join(tp,
          col("chain") === col("vchain") && col("src") === col("vstate"))
        .filter(col("dst") =!= "null")
        .groupBy(col("vchain").as("chain"), col("dst"))
        .agg(sum(d3818(col("vp") * col("p"))).cast("decimal(38,18)")
          .as("pd"))
      val stepped = stepped0.localCheckpoint(true)
      incs += stepped.filter(col("dst") === "conv")
        .select(col("chain"), col("pd").as("inc"))
      // v0 (the only root-checkpointed state) stays pinned: it seeds the
      // final increment union; later rounds' states are lazy slices of
      // their (or a following) round's checkpoint, which must stay alive
      // for the increment union anyway — Bench/Verify's freeAll sweeps
      // them after the query materializes
      v = stepped.filter(col("dst") =!= "conv")
        .select(col("chain"), col("dst").as("state"),
          col("pd").cast("double").as("vp"))
    }
    val acc = incs.result().reduce(_ unionAll _)
      .groupBy("chain").agg(sum(col("inc")).cast("decimal(38,18)")
        .as("acc"))
    val pconv = acc.select(col("chain"), col("acc").cast("double")
      .as("pconv"))
    val base = pconv.filter(col("chain") === "base")
      .select(col("pconv").as("pb"))
    val nconv = pu.agg(count(lit(1)).as("n_conversions"))
    val re = pconv.filter(col("chain") =!= "base")
      .crossJoin(broadcast(base)) // 1-row build side
      .select(col("chain").as("channel"),
        col("pconv").as("p_conv_removed"), col("pb").as("p_conv_base"),
        (lit(1.0) - col("pconv") / col("pb")).cast("decimal(38,15)")
          .as("re"))
    re.withColumn("ret",
        sum("re").over(Window.partitionBy()).cast("decimal(38,15)"))
      .crossJoin(broadcast(nconv)) // 1-row build side
      .select(col("channel"), col("p_conv_base"),
        col("p_conv_removed"), col("re").cast("double")
          .as("removal_effect"),
        (col("re").cast("double") / col("ret").cast("double"))
          .as("attribution_share"),
        (col("re").cast("double") / col("ret").cast("double") *
          col("n_conversions").cast("double"))
          .as("attributed_conversions"))
      .orderBy("channel")
  }

  /** Which touch channels actually DRIVE purchases: removal-effect
    * attribution over 24 absorption rounds. */
  def q266MarkovAttribution(spark: SparkSession, dir: String): DataFrame =
    markovAttribution(Tables.events(spark, dir), "ts", "user_id",
      "event_type", "event_id", col("event_type") === "purchase",
      iters = 24)

  /** Shapley-value channel attribution — the game-theoretic completion of
    * the attribution family (q196 linear, q278 position, q266 Markov
    * removal-effect): each channel's credit is its average marginal
    * contribution over every coalition order. Characteristic function
    * (the standard simplified-Shapley data game, Zhao et al. 2018):
    * v(S) = conversion rate of users whose EXACT touched-channel set is S
    * (0 for unobserved sets; v(∅) is the observed untouched-user baseline,
    * so credits are marginal over organic conversion). With |C| = 4 channels the subset
    * lattice is 16 rows, so the whole computation after one per-user
    * scan is statistic-frame algebra:
    *   φ_c = Σ_{S ⊆ C∖{c}} |S|!·(|C|−1−|S|)!/|C|! · (v(S∪{c}) − v(S))
    * with the factorial weights as fixed-shape doubles and each term
    * DECIMAL-quantized before the sum. One groupBy(user) + one
    * groupBy(mask) exchange; everything after is ≤ 64-row broadcast
    * joins — scales as one user-keyed reduce no matter the event
    * volume. */
  def shapleyAttribution(events: DataFrame, userCol: String,
      typeCol: String, channels: Seq[String],
      convType: String): DataFrame = {
    require(channels.nonEmpty && channels.size <= 8,
      s"subset lattice is 2^|channels|; got ${channels.size}")
    val nCh = channels.size
    val bitOf = channels.zipWithIndex
      .map { case (c, i) => when(col(typeCol) === c, lit(1L << i)) }
      .reduce((a, b) => coalesce(a, b))
    val um = events
      .select(col(userCol).as("u"), coalesce(bitOf, lit(0L)).as("bit"),
        when(col(typeCol) === convType, 1L).otherwise(0L).as("cv"))
      .groupBy("u")
      .agg(expr("bit_or(bit)").as("mask"), max(col("cv")).as("conv"))
    val ss = um.groupBy("mask")
      .agg(count(lit(1)).as("nu"), sum(col("conv")).as("nc"))
    val spark = events.sparkSession
    val lattice = spark.range(1L << nCh).select(col("id").as("s"))
      .join(ss.withColumnRenamed("mask", "s"), Seq("s"), "left")
      .select(col("s"),
        coalesce(col("nc").cast("double") / col("nu").cast("double"),
          lit(0.0)).as("v"))
    val ch = spark.createDataFrame(
        channels.zipWithIndex.map { case (c, i) => (c, 1L << i) })
      .toDF("channel", "bit")
    val v0 = lattice.select(col("s").as("s0"), col("v").as("va"))
    val v1 = lattice.select(col("s").as("s1"), col("v").as("vb"))
    // |S|!(n-1-|S|)!/n! as one fixed double shape on exact factorials
    val w = (factorial(bit_count(col("s0")).cast("int")) *
      factorial(lit(nCh - 1) - bit_count(col("s0")).cast("int"))).cast("double") /
      lit((1L to nCh).product.toDouble)
    broadcast(ch).crossJoin(v0)
      .filter((col("s0").bitwiseAND(col("bit"))) === 0)
      .join(v1, col("s1") === col("s0") + col("bit"))
      .withColumn("term",
        ((col("vb") - col("va")) * w).cast("decimal(38,12)"))
      .groupBy("channel")
      .agg(sum(col("term")).cast("decimal(38,12)").cast("double").as("phi"))
      .orderBy("channel")
  }

  /** Conversion credit per touch channel under exact-set Shapley values
    * over the four non-purchase event types. */
  def q307ShapleyAttribution(spark: SparkSession, dir: String): DataFrame =
    shapleyAttribution(Tables.events(spark, dir), "user_id", "event_type",
      Seq("click", "error", "signup", "view"), "purchase")

  /** Gap-allowed sequential pattern pairs — "a is followed by b within
    * the next `maxGap` events of the same user", the depth-2 sequential
    * pattern mining primitive (PrefixSpan's first expansion level).
    * Contiguous n-gram counting (q201) misses patterns interrupted by
    * noise events; allowing gaps is what makes the pattern behavioral
    * rather than syntactic. Shape: one per-user position numbering
    * (user-partitioned window — data-scaled but key-parallel), then a
    * self-join bounded to `maxGap` successors per event, so the pair
    * frame is n·maxGap, linear in the log. `avg_follows` = successor
    * pairs per antecedent occurrence (can exceed 1 by design). */
  def sequentialPairs(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, maxGap: Int): DataFrame = {
    val w = Window.partitionBy("u").orderBy("us", "eid")
    val seq0 = df.select(col(userCol).as("u"),
        expr(s"unix_micros($tsCol)").as("us"), col(idCol).as("eid"),
        col(typeCol).as("t"))
      .withColumn("pos", row_number().over(w).cast("long"))
    val pairs = seq0.as("a").join(seq0.as("b"),
        col("a.u") === col("b.u") &&
          col("b.pos") - col("a.pos") >= 1 &&
          col("b.pos") - col("a.pos") <= maxGap)
      .groupBy(col("a.t").as("ante"), col("b.t").as("succ"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("a.u")).as("n_users"))
    val totals = seq0.groupBy(col("t").as("ante"))
      .agg(count(lit(1)).as("n_ante"))
    pairs.join(broadcast(totals), Seq("ante"))
      .select(col("ante"), col("succ"), col("n_pairs"), col("n_users"),
        col("n_ante"),
        (col("n_pairs").cast("double") / col("n_ante").cast("double"))
          .as("avg_follows"))
      .orderBy("ante", "succ")
  }

  /** Which event types follow which within the next five events of the
    * same user — the gap-tolerant behavioral transition table. */
  def q367SequentialPairs(spark: SparkSession, dir: String): DataFrame =
    sequentialPairs(Tables.events(spark, dir), "user_id", "ts",
      "event_id", "event_type", maxGap = 5)

  /** Markov predictability of the session stream: the conditional
    * entropy H(next | current) of the session-transition chain, per
    * current state and overall, against the marginal H(next) — the
    * information-theoretic answer to "how much does knowing where a
    * user IS tell you where they go next" (info_gain = the mutual
    * information I(current; next) in bits; ≈ 0 means the q130/q266
    * transition machinery has nothing to model). All probabilities are
    * ratios of exact transition counts from [[sessionTransitions]];
    * each p·log₂p term is DECIMAL(38,15)-quantized so the entropy sums
    * are order-independent; everything past the one session pass runs
    * on the |states|² transition frame. */
  def markovPredictability(events: DataFrame, tsCol: String,
      userCol: String, typeCol: String, tieCol: String,
      gapSeconds: Long): DataFrame = {
    val tr = sessionTransitions(events, tsCol, userCol, typeCol, tieCol,
      gapSeconds).select("from_type", "to_type", "n")
    val total = tr.agg(sum("n").as("nt"))
    val na = tr.groupBy("from_type").agg(sum("n").as("na"))
    val hA = tr.join(na, Seq("from_type"))
      .select(col("from_type"), col("na"),
        ((lit(0.0) - dd(col("n")) / dd(col("na")))
          * log2(dd(col("n")) / dd(col("na"))))
          .cast("decimal(38,15)").as("term"))
      .groupBy("from_type")
      .agg(max("na").as("na"), sum("term").cast("decimal(38,15)").as("h"))
    val marg = tr.groupBy("to_type").agg(sum("n").as("nb"))
      .crossJoin(broadcast(total))
      .select(((lit(0.0) - dd(col("nb")) / dd(col("nt")))
        * log2(dd(col("nb")) / dd(col("nt"))))
        .cast("decimal(38,15)").as("term"))
      .agg(sum("term").cast("decimal(38,15)").as("hm"))
    val cond = hA.crossJoin(broadcast(total))
      .select(col("nt"),
        ((dd(col("na")) / dd(col("nt"))) * dd(col("h")))
          .cast("decimal(38,15)").as("term"))
      .groupBy("nt")
      .agg(sum("term").cast("decimal(38,15)").as("hc"))
    val per = hA.crossJoin(broadcast(marg))
      .select(col("from_type").as("state"), col("na").as("n"),
        dd(col("h")).as("h_given_bits"), dd(col("hm")).as("h_next_bits"))
    val all = cond.crossJoin(broadcast(marg))
      .select(lit("ALL").as("state"), col("nt").as("n"),
        dd(col("hc")).as("h_given_bits"), dd(col("hm")).as("h_next_bits"))
    per.unionByName(all)
      .withColumn("info_gain_bits",
        col("h_next_bits") - col("h_given_bits"))
      .orderBy("state")
  }

  /** How predictable is the next event given the current one, per
    * state and overall — conditional entropy vs the marginal, in
    * bits. */
  def q373MarkovPredictability(spark: SparkSession, dir: String): DataFrame =
    markovPredictability(Tables.events(spark, dir), "ts", "user_id",
      "event_type", "event_id", gapSeconds = 30 * 60L)

  /** Session-gap threshold sensitivity: how many sessions (and how many
    * events per session) the log yields at EVERY candidate inactivity
    * threshold — the parameter-sweep twin of q37's fixed-gap
    * sessionization (same spirit as q357's dedup threshold sweep: one
    * pass, every cutoff priced before anyone hard-codes 30 minutes).
    * Sessions at threshold T = users + inter-event gaps > T, so ONE
    * per-user lag pass yields the exact gap multiset and every
    * threshold is a conditional count over it — no re-sessionization
    * per candidate. */
  def sessionGapSweep(events: DataFrame, tsCol: String, userCol: String,
      tieCol: String, thresholdsSeconds: Seq[Long]): DataFrame = {
    require(thresholdsSeconds.nonEmpty, "no thresholds")
    val w = Window.partitionBy("u").orderBy("us", "tie")
    val gaps = events.select(col(userCol).as("u"),
        expr(s"unix_micros($tsCol)").as("us"), col(tieCol).as("tie"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
    val tf = events.sparkSession
      .createDataFrame(thresholdsSeconds.map(Tuple1(_))).toDF("t_s")
    val base = gaps.agg(count(lit(1)).as("n_events"),
      countDistinct(col("u")).as("n_users"))
    gaps.filter(col("gap").isNotNull).crossJoin(broadcast(tf))
      .groupBy("t_s")
      .agg(sum(when(col("gap") > col("t_s") * 1000000L, 1L).otherwise(0L))
        .as("n_breaks"))
      .crossJoin(broadcast(base))
      .select(col("t_s").as("threshold_s"),
        (col("n_users") + col("n_breaks")).as("n_sessions"),
        (col("n_events").cast("double") /
          (col("n_users") + col("n_breaks")).cast("double"))
          .as("avg_events_per_session"))
      .orderBy("threshold_s")
  }

  /** One pass over the log prices every candidate session gap from one
    * minute to four hours. */
  def q376SessionGapSweep(spark: SparkSession, dir: String): DataFrame =
    sessionGapSweep(Tables.events(spark, dir), "ts", "user_id",
      "event_id", Seq(60L, 300L, 900L, 1800L, 3600L, 7200L, 14400L))

  /** Top-25 full session paths under the 30-minute-gap rule. Strict hash
    * gate: exact counts; the (n_sessions desc, path) order is total. */
  def q156SessionPaths(spark: SparkSession, dir: String): DataFrame =
    sessionPaths(Tables.events(spark, dir), "ts", "user_id", "event_type",
      "event_id", gapSeconds = 30 * 60L, topK = 25)

  /** Per-user presence coverage with 30-minute activity intervals.
    * Strict hash gate on exact microsecond totals. */
  def q144IntervalCoverage(spark: SparkSession, dir: String): DataFrame =
    intervalCoverage(Tables.events(spark, dir), "ts", "user_id",
        durSeconds = 30 * 60L)
      .orderBy("user_id")

  // the same running-conditional-min window chain, in ANSI SQL; shared
  // verbatim with q133 (the state-fold twin must match it exactly)
  /** The per-user (t0, t1, t2) funnel chain as shared oracle CTEs. */
  private val funnelUserSql: String =
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |w1 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'view' THEN us END)
        |    OVER (PARTITION BY user_id ORDER BY us) AS r0 FROM e),
        |w2 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'click' AND us > r0
        |      AND us <= r0 + 86400000000 THEN us END)
        |    OVER (PARTITION BY user_id ORDER BY us) AS r1 FROM w1),
        |w3 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' AND us > r1
        |      AND us <= r1 + 86400000000 THEN us END AS c2,
        |    CASE WHEN event_type = 'view' THEN us END AS c0,
        |    CASE WHEN event_type = 'click' AND us > r0
        |      AND us <= r0 + 86400000000 THEN us END AS c1
        |  FROM w2),
        |u AS (
        |  SELECT user_id, MIN(c0) AS t0, MIN(c1) AS t1, MIN(c2) AS t2
        |  FROM w3 GROUP BY user_id)""".stripMargin

  private val oraclesQ121: String = funnelUserSql + ",\n" +
      """t AS (
        |  SELECT COUNT(t0) AS n0, COUNT(t1) AS n1, COUNT(t2) AS n2 FROM u)
        |SELECT CAST(s.step AS BIGINT) AS step, s.event_type,
        |  CASE s.step WHEN 1 THEN n0 WHEN 2 THEN n1 ELSE n2 END AS n_users
        |FROM t CROSS JOIN (VALUES (1, 'view'), (2, 'click'),
        |  (3, 'purchase')) AS s(step, event_type)
        |ORDER BY step""".stripMargin

  /** One unrolled absorption round: conv increment, accumulator add,
    * transient-mass update — the engine's exact float discipline
    * (double products, DECIMAL(38,18) sums). */
  private def markovIterSql(i: Int): String =
    s"""c$i AS (
       |  SELECT v.chain,
       |    CAST(SUM(CAST(v.p * t.p AS DECIMAL(38,18)))
       |      AS DECIMAL(38,18)) AS inc
       |  FROM v${i - 1} v JOIN tp t ON t.chain = v.chain
       |    AND t.src = v.state AND t.dst = 'conv'
       |  GROUP BY 1),
       |a$i AS MATERIALIZED (
       |  SELECT a.chain,
       |    CAST(a.acc + COALESCE(c.inc, CAST(0 AS DECIMAL(38,18)))
       |      AS DECIMAL(38,18)) AS acc
       |  FROM a${i - 1} a LEFT JOIN c$i c ON c.chain = a.chain),
       |v$i AS MATERIALIZED (
       |  SELECT v.chain, t.dst AS state,
       |    CAST(CAST(SUM(CAST(v.p * t.p AS DECIMAL(38,18)))
       |      AS DECIMAL(38,18)) AS DOUBLE) AS p
       |  FROM v${i - 1} v JOIN tp t ON t.chain = v.chain
       |    AND t.src = v.state
       |    AND t.dst <> 'conv' AND t.dst <> 'null'
       |  GROUP BY 1, 2)""".stripMargin

  private val markovAttributionSql: String =
    """WITH ev AS (
      |  SELECT user_id AS u, CAST(epoch_us(ts) AS BIGINT) AS us,
      |    event_id AS oid, event_type AS ch,
      |    event_type = 'purchase' AS isconv
      |  FROM events),
      |pu AS (SELECT u, MIN(us) AS pus FROM ev WHERE isconv GROUP BY u),
      |j AS (
      |  SELECT e.u, e.us, e.oid, e.ch, pu.pus IS NOT NULL AS conv
      |  FROM ev e LEFT JOIN pu ON pu.u = e.u
      |  WHERE NOT e.isconv AND (pu.pus IS NULL OR e.us < pu.pus)),
      |seq AS (
      |  SELECT u, ch, conv,
      |    ROW_NUMBER() OVER (PARTITION BY u ORDER BY us, oid) AS rn,
      |    COUNT(*) OVER (PARTITION BY u) AS len,
      |    LEAD(ch) OVER (PARTITION BY u ORDER BY us, oid) AS nxt
      |  FROM j),
      |trans_raw AS (
      |  SELECT 'start' AS src, ch AS dst FROM seq WHERE rn = 1
      |  UNION ALL
      |  SELECT ch, nxt FROM seq WHERE nxt IS NOT NULL
      |  UNION ALL
      |  SELECT ch, CASE WHEN conv THEN 'conv' ELSE 'null' END
      |  FROM seq WHERE rn = len
      |  UNION ALL
      |  SELECT 'start', 'conv' FROM pu
      |  LEFT JOIN (SELECT DISTINCT u FROM j) jj ON jj.u = pu.u
      |  WHERE jj.u IS NULL),
      |tcnt AS (
      |  SELECT src, dst, COUNT(*) AS n FROM trans_raw GROUP BY 1, 2),
      |chains AS (
      |  SELECT DISTINCT ch AS chain FROM j
      |  UNION ALL SELECT 'base'),
      |tp AS MATERIALIZED (
      |  SELECT chain, src, dst, CAST(n AS DOUBLE)
      |    / CAST(SUM(n) OVER (PARTITION BY chain, src) AS DOUBLE) AS p
      |  FROM (
      |    SELECT c.chain, t.src,
      |      CASE WHEN t.dst = c.chain THEN 'null' ELSE t.dst END AS dst,
      |      SUM(t.n) AS n
      |    FROM chains c CROSS JOIN tcnt t
      |    GROUP BY 1, 2, 3)),
      |v0 AS (
      |  SELECT chain, 'start' AS state, CAST(1.0 AS DOUBLE) AS p
      |  FROM chains),
      |a0 AS (
      |  SELECT chain, CAST(0 AS DECIMAL(38,18)) AS acc FROM chains),
      |""".stripMargin +
      (1 to 24).map(markovIterSql).mkString(",\n") + ",\n" +
      """pc AS (SELECT chain, CAST(acc AS DOUBLE) AS pconv FROM a24),
      |re AS (
      |  SELECT chain AS channel, pconv AS p_conv_removed,
      |    (SELECT pconv FROM pc WHERE chain = 'base') AS p_conv_base,
      |    CAST(1.0 - pconv
      |      / (SELECT pconv FROM pc WHERE chain = 'base')
      |      AS DECIMAL(38,15)) AS re
      |  FROM pc WHERE chain <> 'base'),
      |ret AS (
      |  SELECT *, CAST(SUM(re) OVER () AS DECIMAL(38,15)) AS ret
      |  FROM re),
      |nc AS (SELECT COUNT(*) AS n_conversions FROM pu)
      |SELECT channel, p_conv_base, p_conv_removed,
      |  CAST(re AS DOUBLE) AS removal_effect,
      |  CAST(re AS DOUBLE) / CAST(ret AS DOUBLE) AS attribution_share,
      |  CAST(re AS DOUBLE) / CAST(ret AS DOUBLE)
      |    * CAST(n_conversions AS DOUBLE) AS attributed_conversions
      |FROM ret CROSS JOIN nc ORDER BY channel""".stripMargin

  val declared: Map[String, Query] = Map(
    // same 16-subset lattice: bit_or touch masks -> exact-set conversion
    // rates -> factorial-weighted marginal sums
    "q307_shapley_attribution" -> Query(q307ShapleyAttribution,
      """WITH um AS (
        |  SELECT user_id,
        |    BIT_OR(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
        |      WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END) AS mask,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY user_id),
        |ss AS (
        |  SELECT mask, CAST(COUNT(*) AS BIGINT) AS nu,
        |    CAST(SUM(conv) AS BIGINT) AS nc
        |  FROM um GROUP BY mask),
        |lat AS (
        |  SELECT l.s,
        |    COALESCE(CAST(ss.nc AS DOUBLE) / CAST(ss.nu AS DOUBLE), 0.0)
        |      AS v
        |  FROM (SELECT unnest(range(0, 16)) AS s) l
        |  LEFT JOIN ss ON ss.mask = l.s),
        |ch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
        |  ('signup', 4), ('view', 8)) AS t(channel, bit)),
        |terms AS (
        |  SELECT ch.channel,
        |    CAST((v1.v - v0.v)
        |      * (CAST(factorial(bit_count(CAST(v0.s AS BIGINT)))
        |          * factorial(3 - bit_count(CAST(v0.s AS BIGINT)))
        |          AS DOUBLE) / 24.0)
        |      AS DECIMAL(38,12)) AS term
        |  FROM ch
        |  JOIN lat v0 ON (CAST(v0.s AS INTEGER) & ch.bit) = 0
        |  JOIN lat v1 ON v1.s = v0.s + ch.bit)
        |SELECT channel,
        |  CAST(CAST(SUM(term) AS DECIMAL(38,12)) AS DOUBLE) AS phi
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin),
    "q266_markov_attribution" -> Query(q266MarkovAttribution, markovAttributionSql),
    // next-conversion window + equal-share credit, decimal-quantized
    "q278_position_attribution" -> Query(q278PositionAttribution,
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        |  FROM events),
        |t AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN us END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
        |  FROM e),
        |q AS (
        |  SELECT user_id, nxt, event_type, us, event_id FROM t
        |  WHERE event_type <> 'purchase' AND nxt IS NOT NULL
        |    AND nxt - us <= 604800000000),
        |r AS (
        |  SELECT *, COUNT(*) OVER (PARTITION BY user_id, nxt) AS nt,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, nxt
        |      ORDER BY us, event_id) AS ra,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, nxt
        |      ORDER BY us DESC, event_id DESC) AS rd
        |  FROM q),
        |c AS (
        |  SELECT event_type,
        |    CAST(CASE WHEN nt = 1 THEN CAST(1.0 AS DOUBLE)
        |      WHEN nt = 2 THEN CAST(0.5 AS DOUBLE)
        |      WHEN ra = 1 OR rd = 1 THEN CAST(0.4 AS DOUBLE)
        |      ELSE CAST(0.2 AS DOUBLE) / (nt - 2) END
        |      AS DECIMAL(20,12)) AS credit
        |  FROM r)
        |SELECT event_type AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  CAST(CAST(SUM(credit) AS DECIMAL(20,12)) AS DOUBLE) AS credit
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
    "q196_linear_attribution" -> Query(q196LinearAttribution,
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        |  FROM events),
        |t AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN us END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
        |  FROM e),
        |q AS (
        |  SELECT user_id, nxt, event_type FROM t
        |  WHERE event_type <> 'purchase' AND nxt IS NOT NULL
        |    AND nxt - us <= 604800000000),
        |n AS (
        |  SELECT user_id, nxt, COUNT(*) AS nt FROM q GROUP BY 1, 2),
        |c AS (
        |  SELECT q.event_type,
        |    CAST(CAST(1.0 AS DOUBLE) / nt AS DECIMAL(20,12)) AS credit
        |  FROM q JOIN n USING (user_id, nxt))
        |SELECT event_type AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  CAST(CAST(SUM(credit) AS DECIMAL(20,12)) AS DOUBLE) AS credit
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
    // the q156 session CTEs + two LEADs inside the session scope
    "q201_event_trigrams" -> Query(q201EventTrigrams,
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN LAG(us) OVER w IS NULL
        |      OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |tri AS (
        |  SELECT event_type || '>' ||
        |    LEAD(event_type, 1) OVER w2 || '>' ||
        |    LEAD(event_type, 2) OVER w2 AS trigram,
        |    LEAD(event_type, 2) OVER w2 AS t3
        |  FROM sess WINDOW w2 AS (PARTITION BY user_id, sid
        |    ORDER BY us, event_id))
        |SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n
        |FROM tri WHERE t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, trigram LIMIT 25""".stripMargin),
    // the q156 session CTEs + distinct-type pair explosion + lift
    "q198_session_cooccurrence" -> Query(q198SessionCooccurrence,
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN LAG(us) OVER w IS NULL
        |      OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |s AS (SELECT DISTINCT user_id, sid, event_type FROM sess),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_s
        |  FROM (SELECT DISTINCT user_id, sid FROM s)),
        |per AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
        |  FROM s GROUP BY 1),
        |pr AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2,
        |    CAST(COUNT(*) AS BIGINT) AS n_both
        |  FROM s a JOIN s b ON a.user_id = b.user_id AND a.sid = b.sid
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT t1, t2, n_both,
        |  CAST(n_both AS DOUBLE) * n_s / (p1.n_t * p2.n_t) AS lift
        |FROM pr
        |JOIN per p1 ON p1.event_type = t1
        |JOIN per p2 ON p2.event_type = t2, tot
        |ORDER BY 1, 2""".stripMargin),
    // the q156 session CTEs + an rn=1 entry-type pick
    "q194_bounce_rate" -> Query(q194BounceRate,
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN LAG(us) OVER w IS NULL
        |      OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |sess2 AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sid
        |    ORDER BY us, event_id) AS rn
        |  FROM sess),
        |s AS (
        |  SELECT user_id, sid,
        |    MAX(CASE WHEN rn = 1 THEN event_type END) AS entry_type,
        |    COUNT(*) AS sz
        |  FROM sess2 GROUP BY 1, 2)
        |SELECT entry_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounces,
        |  CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS bounce_rate
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin),
    // q122's cohort rule + centi-exact revenue + cumulative window
    "q185_cohort_ltv" -> Query(q185CohortLtv,
      """WITH b AS (
        |  SELECT user_id,
        |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS b,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v100
        |  FROM events),
        |c AS (
        |  SELECT user_id, b, v100,
        |    MIN(b) OVER (PARTITION BY user_id) AS cohort FROM b),
        |per AS (
        |  SELECT user_id, cohort, b - cohort AS offs, v100
        |  FROM c WHERE b - cohort <= 7),
        |sizes AS (
        |  SELECT cohort, CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |    AS cohort_users
        |  FROM per GROUP BY cohort),
        |curve AS (
        |  SELECT cohort, offs, CAST(SUM(v100) AS BIGINT) AS rev_c
        |  FROM per GROUP BY cohort, offs),
        |cum AS (
        |  SELECT *, CAST(SUM(rev_c) OVER (PARTITION BY cohort ORDER BY offs
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c
        |  FROM curve)
        |SELECT cohort * 86400 AS cohort_epoch, offs,
        |  CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
        |  CAST(cum_c AS DOUBLE) / 100.0 AS cum_revenue,
        |  cohort_users,
        |  CAST(cum_c AS DOUBLE) / 100.0 / CAST(cohort_users AS DOUBLE)
        |    AS ltv_per_user
        |FROM cum JOIN sizes USING (cohort)
        |ORDER BY cohort_epoch, offs""".stripMargin),
    // same change-flag islands, per-island reduce, (len desc, start) argmin
    "q180_longest_streak" -> Query(q180LongestStreak,
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN LAG(event_type) OVER w IS NULL
        |      OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END
        |    AS new_i
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |isl AS (
        |  SELECT *, SUM(new_i) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS i
        |  FROM flagged),
        |runs AS (
        |  SELECT user_id, i, CAST(COUNT(*) AS BIGINT) AS len,
        |    MIN(us) AS start_us, MIN(event_type) AS event_type
        |  FROM isl GROUP BY user_id, i)
        |SELECT user_id, len AS streak_len, event_type, start_us
        |FROM runs
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |  ORDER BY len DESC, start_us) = 1
        |ORDER BY user_id""".stripMargin),
    // lead() per user, last event excluded; exact centi-unit · µs integer
    // accumulation, one truncating // onto the 10⁻⁶ grid (≡ Spark div)
    "q164_twap" -> Query(q164Twap,
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v100
        |  FROM events),
        |d AS (
        |  SELECT user_id, v100,
        |    LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
        |      AS dur
        |  FROM e),
        |t AS (
        |  SELECT user_id,
        |    SUM(CAST(v100 AS HUGEINT) * dur) AS wv,
        |    CAST(SUM(dur) AS BIGINT) AS span_us,
        |    CAST(COUNT(*) AS BIGINT) AS n_intervals
        |  FROM d WHERE dur IS NOT NULL GROUP BY user_id)
        |SELECT user_id,
        |  CAST(CAST((wv * 10000) // span_us AS BIGINT) AS DOUBLE)
        |    / 1000000.0 AS twavg,
        |  span_us, n_intervals
        |FROM t ORDER BY user_id""".stripMargin),
    "q165_time_in_state" -> Query(q165TimeInState,
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |d AS (
        |  SELECT event_type,
        |    LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
        |      AS dur
        |  FROM e),
        |s AS (
        |  SELECT event_type, CAST(SUM(dur) AS BIGINT) AS total_us,
        |    CAST(COUNT(*) AS BIGINT) AS n_intervals
        |  FROM d WHERE dur IS NOT NULL GROUP BY event_type)
        |SELECT event_type, total_us, n_intervals,
        |  CAST(total_us AS DOUBLE) /
        |    CAST((SELECT SUM(total_us) FROM s) AS DOUBLE) AS share
        |FROM s ORDER BY event_type""".stripMargin),
    "q121_funnel_steps" -> Query(q121FunnelSteps, oraclesQ121),
    // two IGNORE-NULLS last_value calls over the same frame necessarily
    // pick the same (latest touch) row, so no struct portability issues
    "q125_attribution" -> Query(q125Attribution,
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, value, epoch_us(ts) AS us
        |  FROM events),
        |t AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type IN ('view', 'click') THEN us END
        |      IGNORE NULLS) OVER w AS lus,
        |    last_value(CASE WHEN event_type IN ('view', 'click')
        |      THEN event_type END IGNORE NULLS) OVER w AS ltype
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |sel AS (
        |  SELECT CASE WHEN lus IS NOT NULL AND us - lus <= 21600000000
        |    THEN ltype ELSE 'none' END AS touch_type, value
        |  FROM t WHERE event_type = 'purchase')
        |SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM sel GROUP BY touch_type ORDER BY touch_type""".stripMargin),
    "q126_decay_score" -> Query(q126DecayScore,
      """WITH b AS (
        |  SELECT user_id, value,
        |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS b FROM events),
        |m AS (SELECT MAX(b) AS maxb FROM b),
        |t AS (
        |  SELECT user_id,
        |    CAST(value * power(2.0, -CAST((maxb - b) // 7 AS DOUBLE))
        |      AS DECIMAL(28,10)) AS term
        |  FROM b CROSS JOIN m)
        |SELECT user_id, CAST(SUM(term) AS DOUBLE) AS score,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM t GROUP BY user_id
        |ORDER BY score DESC, user_id LIMIT 100""".stripMargin),
    // the state fold and the window chain must produce identical step
    // counts — same oracle as q121 by construction
    "q133_funnel_state" -> Query(q133FunnelState, oraclesQ121),
    // conversion-delay distribution over the same per-user chain;
    // quantile_cont is DuckDB's exact interpolating twin of percentile()
    "q139_funnel_latency" -> Query(q139FunnelLatency, (funnelUserSql + "\n" +
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
        |  quantile_cont(t2 - t0, 0.25) AS p25_us,
        |  quantile_cont(t2 - t0, 0.5) AS p50_us,
        |  quantile_cont(t2 - t0, 0.95) AS p95_us,
        |  quantile_cont(t1 - t0, 0.5) AS p50_click_us,
        |  quantile_cont(t2 - t1, 0.5) AS p50_buy_us
        |FROM u WHERE t2 IS NOT NULL""".stripMargin)),
    // gaps-and-islands over [ts, ts+30min) intervals: running max of
    // prior ends cuts islands, exact micros arithmetic throughout
    "q144_interval_coverage" -> Query(q144IntervalCoverage,
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS new_i
        |  FROM iv),
        |isl AS (
        |  SELECT *, SUM(new_i) OVER (PARTITION BY user_id ORDER BY s
        |    ROWS UNBOUNDED PRECEDING) AS i FROM flagged),
        |spans AS (
        |  SELECT user_id, i, MIN(s) AS s, MAX(e) AS e
        |  FROM isl GROUP BY user_id, i)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(e - s) AS BIGINT) AS covered_us,
        |  CAST(MAX(e) - MIN(s) - SUM(e - s) AS BIGINT) AS gap_us
        |FROM spans GROUP BY user_id ORDER BY user_id""".stripMargin),
    // q37's session rule, then lead() within (user, session), then the
    // count matrix with per-source normalization
    "q130_session_transitions" -> Query(q130SessionTransitions,
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN LAG(us) OVER w IS NULL
        |      OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |pairs AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id, sid
        |      ORDER BY us, event_id) AS to_type
        |  FROM sess),
        |cnt AS (
        |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type)
        |    AS DOUBLE) AS p
        |FROM cnt ORDER BY from_type, to_type""".stripMargin),
    // q130's session rule, then an ORDER BY string_agg per session
    "q156_session_paths" -> Query(q156SessionPaths,
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN LAG(us) OVER w IS NULL
        |      OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |paths AS (
        |  SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY us, event_id) AS path
        |  FROM sess GROUP BY 1, 2)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM paths GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 25""".stripMargin),
    "q122_retention_cohorts" -> Query(q122RetentionCohorts,
      """WITH b AS (
        |  SELECT user_id,
        |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS b FROM events),
        |c AS (
        |  SELECT DISTINCT user_id, b,
        |    MIN(b) OVER (PARTITION BY user_id) AS cohort FROM b),
        |n AS (
        |  SELECT cohort, b - cohort AS offs, COUNT(*) AS n_active
        |  FROM c WHERE b - cohort <= 7 GROUP BY 1, 2)
        |SELECT cohort * 86400 AS cohort_epoch, offs, n_active,
        |  CAST(n_active AS DOUBLE) / CAST(MAX(CASE WHEN offs = 0
        |    THEN n_active END) OVER (PARTITION BY cohort) AS DOUBLE)
        |    AS retain_rate
        |FROM n ORDER BY cohort_epoch, offs""".stripMargin),
    "q367_sequential_pairs" -> Query(q367SequentialPairs,
      """WITH seq AS (
        |  SELECT user_id AS u, event_type AS t,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pos
        |  FROM events),
        |pairs AS (
        |  SELECT a.t AS ante, b.t AS succ,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(COUNT(DISTINCT a.u) AS BIGINT) AS n_users
        |  FROM seq a JOIN seq b
        |    ON a.u = b.u AND b.pos - a.pos BETWEEN 1 AND 5
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT t AS ante, CAST(COUNT(*) AS BIGINT) AS n_ante
        |  FROM seq GROUP BY 1)
        |SELECT ante, succ, n_pairs, n_users, n_ante,
        |  CAST(n_pairs AS DOUBLE) / CAST(n_ante AS DOUBLE) AS avg_follows
        |FROM pairs JOIN tot USING (ante) ORDER BY 1, 2""".stripMargin),
    // the q138 session-transition CTE, then exact-count entropy algebra
    "q373_markov_predictability" -> Query(q373MarkovPredictability,
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN LAG(us) OVER w IS NULL
        |      OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |prs AS (
        |  SELECT event_type AS src,
        |    LEAD(event_type) OVER (PARTITION BY user_id, sid
        |      ORDER BY us, event_id) AS dst
        |  FROM sess),
        |cnt AS (
        |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM prs WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cnt),
        |na AS (SELECT src, CAST(SUM(n) AS BIGINT) AS na
        |       FROM cnt GROUP BY 1),
        |ha AS (
        |  SELECT c.src, CAST(MAX(na.na) AS BIGINT) AS na,
        |    CAST(SUM(CAST((0.0 - CAST(c.n AS DOUBLE)
        |        / CAST(na.na AS DOUBLE))
        |      * log2(CAST(c.n AS DOUBLE) / CAST(na.na AS DOUBLE))
        |      AS DECIMAL(38,15))) AS DECIMAL(38,15)) AS h
        |  FROM cnt c JOIN na ON na.src = c.src GROUP BY c.src),
        |marg AS (
        |  SELECT CAST(SUM(CAST((0.0 - CAST(nb AS DOUBLE)
        |        / CAST(nt AS DOUBLE))
        |      * log2(CAST(nb AS DOUBLE) / CAST(nt AS DOUBLE))
        |      AS DECIMAL(38,15))) AS DECIMAL(38,15)) AS hm
        |  FROM (SELECT dst, CAST(SUM(n) AS BIGINT) AS nb
        |        FROM cnt GROUP BY 1), tot),
        |cond AS (
        |  SELECT CAST(MAX(nt) AS BIGINT) AS nt,
        |    CAST(SUM(CAST((CAST(na AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * CAST(h AS DOUBLE) AS DECIMAL(38,15)))
        |      AS DECIMAL(38,15)) AS hc
        |  FROM ha, tot)
        |SELECT src AS state, na AS n, CAST(h AS DOUBLE) AS h_given_bits,
        |  CAST(hm AS DOUBLE) AS h_next_bits,
        |  CAST(hm AS DOUBLE) - CAST(h AS DOUBLE) AS info_gain_bits
        |FROM ha, marg
        |UNION ALL
        |SELECT 'ALL', nt, CAST(hc AS DOUBLE), CAST(hm AS DOUBLE),
        |  CAST(hm AS DOUBLE) - CAST(hc AS DOUBLE)
        |FROM cond, marg
        |ORDER BY state""".stripMargin),
    "q376_session_gap_sweep" -> Query(q376SessionGapSweep,
      """WITH g AS (
        |  SELECT user_id AS u,
        |    CAST(epoch_us(ts) AS BIGINT)
        |      - LAG(CAST(epoch_us(ts) AS BIGINT)) OVER (
        |        PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      AS gap
        |  FROM events),
        |base AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users
        |  FROM g),
        |tf AS (SELECT CAST(unnest([60, 300, 900, 1800, 3600, 7200,
        |  14400]) AS BIGINT) AS t_s),
        |brk AS (
        |  SELECT t_s, CAST(SUM(CASE WHEN gap > t_s * 1000000 THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_breaks
        |  FROM g CROSS JOIN tf WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT t_s AS threshold_s,
        |  CAST(n_users + n_breaks AS BIGINT) AS n_sessions,
        |  CAST(n_events AS DOUBLE) / CAST(n_users + n_breaks AS DOUBLE)
        |    AS avg_events_per_session
        |FROM brk CROSS JOIN base ORDER BY 1""".stripMargin))
}
