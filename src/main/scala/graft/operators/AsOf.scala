package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-match) join: for each left row, attach the payload of
  * the latest right row with the same key and `rightTime <= leftTime`.
  *
  * Spark has no native ASOF join; the scalable formulation is NOT a range
  * join (which explodes to a cross product within key) but a union +
  * carry-forward: tag both sides, hash-shuffle once on the key, sort each
  * partition by (time, side), and let a running `last(payload, ignoreNulls)`
  * window carry the most recent right payload into every subsequent left
  * row. One shuffle, O(n log n) per key group, no candidate blow-up — the
  * same shape at 60k rows and at 100 TB. Right rows sort before left rows at
  * equal timestamps, so the match is inclusive (ts >= rightTime), matching
  * DuckDB's ASOF JOIN semantics which the oracle uses.
  */
object AsOf {

  /** @param payload right-side columns to attach (must not collide with
    *                left column names); all become nullable. */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val lTagged = left.select(
      Seq(col(leftKey).as("__k"), col(leftTime).as("__t"), lit(1).as("__side")) ++
        leftCols.map(col) ++
        payload.map(p => lit(null).cast(right.schema(p).dataType).as(p)): _*)
    val rTagged = right.select(
      Seq(col(rightKey).as("__k"), col(rightTime).as("__t"), lit(0).as("__side")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        payload.map(col): _*)
    val w = Window.partitionBy("__k").orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // carry ONE struct built only for right rows, not the payload columns
    // individually: a right row whose payload column is genuinely NULL must
    // still count as the match (and attach NULL), not be skipped in favor of
    // an older right row — `last(payload, ignoreNulls)` can't tell "NULL
    // payload" from "no right row yet", the struct marker can
    val carried = lTagged.unionByName(rTagged)
      .select(Seq(col("__side")) ++ leftCols.map(col) :+
        last(when(col("__side") === 0, struct(payload.map(col): _*)),
          ignoreNulls = true).over(w).as("__pay"): _*)
    carried.filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        payload.map(p => col("__pay").getField(p).as(p)): _*)
  }

  /** The as-of join through the engine's CUSTOM PHYSICAL OPERATOR
    * ([[graft.plans.AsOfJoinExec]]) instead of the union + carry-forward
    * window composition: each side hash-clusters on its own key and sorts
    * (key, time) — the SortMergeJoin requirement contract — then one
    * O(n+m) per-partition merge with a single buffered right row attaches
    * the latest `rightTime <= leftTime` payload. Returns ALL left columns
    * plus ALL right columns (nullable); column names must not collide.
    * Right side should be unique per (key, time) for total determinism
    * (same contract as [[asofJoin]]).
    *
    * The session plans it through [[graft.plans.AsOfJoinStrategy]], which
    * [[graft.GraftFunctions.register]] and [[graft.GraftExtensions]]
    * install. */
  def asofJoinExec(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame = {
    val collisions = left.columns.toSet.intersect(right.columns.toSet)
    require(collisions.isEmpty, s"colliding column names: $collisions")
    val spark = left.sparkSession
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column $n in ${p.output}"))
    org.apache.spark.sql.graft.GraftBridge.ofRows(spark,
      graft.plans.AsOfJoinNode(lp, rp, attr(lp, leftKey), attr(rp, rightKey),
        attr(lp, leftTime), attr(rp, rightTime)))
  }

  /** Time-series RESAMPLE with last-observation-carried-forward: emit one
    * row per key per `stepSeconds` grid instant, carrying the value of the
    * latest observation at or before that instant. The grid is per-key,
    * from the first step-aligned instant ≥ the key's first observation
    * (so every emitted point has a value — no leading NULLs) to the last
    * aligned instant ≤ its last observation. Ties at one instant resolve
    * to the highest `tieCol` (e.g. event id) — a total order both engines
    * share.
    *
    * Shape: the [[asofJoin]] discipline applied to a GENERATED left side —
    * per-key min/max (one partial-agg pass) → `sequence` explode builds
    * the grid (bounded by span/step per key, never a global range), then
    * grid markers and observations union, hash once on the key, and a
    * running `last(struct, ignoreNulls)` window carries the newest
    * observation into each grid row. All time arithmetic is in exact
    * integer MICROseconds (`unix_micros`/`timestamp_micros`), so the
    * oracle reproduces the grid and every carried double bit-exactly. */
  def resampleLocf(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, stepSeconds: Long, tieCol: String): DataFrame = {
    require(stepSeconds > 0, s"step must be positive, got $stepSeconds")
    val stepUs = stepSeconds * 1000000L
    val obs = events.select(col(keyCol).as("__k"),
      unix_micros(col(tsCol)).as("__us"),
      col(tieCol).cast("long").as("__tie"),
      col(valueCol).as("__v"))
    // ceil/floor division in INTEGER arithmetic (`div`, not `/` — long
    // division through doubles can lose a ulp at exact multiples); epoch
    // micros are positive, so ceil(a/b) = (a + b - 1) div b
    val grid = obs.groupBy("__k")
      .agg(min("__us").as("__mn"), max("__us").as("__mx"))
      .select(col("__k"), expr(s"(__mn + ${stepUs - 1}) div $stepUs").as("__g0"),
        expr(s"__mx div $stepUs").as("__g1"))
      // a key whose span contains no aligned instant gets NO rows —
      // sequence(start > stop) would silently count DOWN, not come back empty
      .filter(col("__g1") >= col("__g0"))
      .select(col("__k"), explode(sequence(col("__g0"), col("__g1"))).as("__g"))
      .select(col("__k"), (col("__g") * stepUs).as("__us"),
        lit(Long.MaxValue).as("__tie"), lit(1).as("__side"),
        lit(null).cast(events.schema(valueCol).dataType).as("__v"))
    // observations sort before the grid marker at the same (us, tie): an
    // observation exactly ON a grid instant is visible to it
    val w = Window.partitionBy("__k").orderBy(col("__us"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obs.withColumn("__side", lit(0)).unionByName(grid)
      .withColumn("__pay",
        last(when(col("__side") === 0, struct(col("__tie"), col("__v"))),
          ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__k").as(keyCol),
        timestamp_micros(col("__us")).as(tsCol),
        col("__pay").getField("__v").as(valueCol))
  }

  /** Declared query: each event joined to the user's most recent order as of
    * the event time. The right side is deduped to one order per
    * (custkey, date) — max orderkey — so ties are deterministic in both
    * engines. */
  def q23AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id")
    val orders = Tables.orders(spark, dir)
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("o_orderkey"))
    asofJoin(events, orders, "user_id", "o_custkey", "ts", "o_orderdate",
        payload = Seq("o_orderkey"))
      .select("event_id", "o_orderkey")
      .orderBy("event_id")
  }

  /** Hourly per-user LOCF resample of the event value series. The oracle
    * regenerates the per-user grid from the same exact integer-microsecond
    * arithmetic and picks each instant's newest (ts, event_id) observation
    * — every carried double is an exact event value, so the gate is strict
    * hash equality. The grid instant surfaces as epoch MICROseconds
    * (`ts_us`, same convention as q88): a raw timestamp column would hash
    * differently across engines on tz-flavor alone (Spark writes
    * isAdjustedToUTC=true, DuckDB's make_timestamp is naive). */
  def q100ResampleLocf(spark: SparkSession, dir: String): DataFrame =
    resampleLocf(Tables.events(spark, dir), "user_id", "ts", "value",
        stepSeconds = 3600L, tieCol = "event_id")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .orderBy("user_id", "ts_us")

  /** Bucket-series gap-fill by LINEAR INTERPOLATION (the two-sided
    * complement of [[resampleLocf]]'s carry-forward): the value series is
    * bucketed per key (`value` sums DECIMAL-quantized so the per-bucket
    * aggregate is order-exact), densified onto the key's own span grid,
    * and every empty bucket is filled by interpolating between the
    * nearest observed buckets on each side —
    * v = v_prev + (v_next − v_prev)·(b − b_prev)/(b_next − b_prev),
    * one double expression on exact inputs. Leading/trailing gaps fall
    * back to the single available neighbor. Shape: one groupBy and two
    * framed windows on the SAME key-hash partitioning, all over the
    * bucket histogram (span/step bounded), never raw rows. */
  def interpolateGaps(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, stepSeconds: Long): DataFrame = {
    require(stepSeconds > 0, s"step must be positive, got $stepSeconds")
    val stepUs = stepSeconds * 1000000L
    val buck = events
      .select(col(keyCol).as("__k"),
        expr(s"unix_micros($tsCol) div $stepUs").as("__b"),
        col(valueCol).cast("decimal(18,6)").as("__v"))
      .groupBy("__k", "__b").agg(sum("__v").cast("decimal(38,6)").as("__v"))
    val dense = buck.groupBy("__k")
      .agg(min("__b").as("__g0"), max("__b").as("__g1"))
      .select(col("__k"), explode(sequence(col("__g0"), col("__g1"))).as("__b"))
      .join(buck, Seq("__k", "__b"), "left")
    val wPrev = Window.partitionBy("__k").orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("__k").orderBy("__b")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsB = when(col("__v").isNotNull, col("__b"))
    val obsV = when(col("__v").isNotNull, col("__v"))
    dense
      .withColumn("__pb", last(obsB, ignoreNulls = true).over(wPrev))
      .withColumn("__pv", last(obsV, ignoreNulls = true).over(wPrev))
      .withColumn("__nb", first(obsB, ignoreNulls = true).over(wNext))
      .withColumn("__nv", first(obsV, ignoreNulls = true).over(wNext))
      .select(col("__k").as(keyCol), (col("__b") * stepUs).as("ts_us"),
        col("__v").isNotNull.as("observed"),
        when(col("__v").isNotNull, dd(col("__v")))
          .when(col("__pb").isNotNull && col("__nb").isNotNull,
            dd(col("__pv")) + (dd(col("__nv")) - dd(col("__pv"))) *
              dd(col("__b") - col("__pb")) / dd(col("__nb") - col("__pb")))
          .when(col("__pb").isNotNull, dd(col("__pv")))
          .otherwise(dd(col("__nv")))
          .as(valueCol))
      .orderBy(keyCol, "ts_us")
  }

  /** Hourly per-event-type value series with empty hours linearly
    * interpolated. */
  def q207InterpolateGaps(spark: SparkSession, dir: String): DataFrame =
    interpolateGaps(Tables.events(spark, dir), "event_type", "ts", "value",
      stepSeconds = 3600L)

  /** FORWARD as-of join: each left row matched to the EARLIEST right row
    * at or after its time (time-to-next-event analytics — the mirror of
    * [[asofJoin]]'s carry-backward). Same union-then-window shape, with
    * the frame flipped to `first(struct, ignoreNulls)` over
    * currentRow→unboundedFollowing: one key-hash exchange, no range
    * join, no per-key iteration. At one instant, left rows sort BEFORE
    * right rows so an exactly-simultaneous right row IS visible
    * (inclusive ≥). Right-side ties at one (key, time) must be
    * pre-deduped by the caller (the q23 rule). */
  def asofJoinForward(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTime: String,
      rightTime: String, payload: Seq[String]): DataFrame = {
    val lCols = left.columns.toSeq
    val obsL = left.withColumn("__us", unix_micros(col(leftTime)))
      .withColumn("__side", lit(0))
      .withColumn("__k", col(leftKey))
    val obsR = right.select(
      (Seq(col(rightKey).as("__k"),
        unix_micros(col(rightTime)).as("__us"), lit(1).as("__side")) ++
        payload.map(col)): _*)
    val both = obsL.select(
      (Seq(col("__k"), col("__us"), col("__side")) ++
        lCols.map(col) ++
        payload.map(c => lit(null).cast(right.schema(c).dataType).as(c))): _*)
      .unionByName(obsR.select(
        (Seq(col("__k"), col("__us"), col("__side")) ++
          lCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
          payload.map(col)): _*))
    val w = Window.partitionBy("__k").orderBy(col("__us"), col("__side"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carried = both.withColumn("__pay",
      first(when(col("__side") === 1,
        struct(col("__us").as("__rus") +: payload.map(col): _*)),
        ignoreNulls = true).over(w))
    carried.filter(col("__side") === 0)
      .select((lCols.map(col) :+
        (col("__pay.__rus") - col("__us")).as("wait_us")) ++
        payload.map(c => col(s"__pay.$c").as(c)): _*)
  }

  /** Each event joined to the user's NEXT order at-or-after the event:
    * time-to-next-purchase. Right side deduped to min orderkey per
    * (custkey, date) so simultaneous orders are deterministic. */
  def q217AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir).select("event_id", "ts", "user_id")
    val orders = Tables.orders(spark, dir)
      .groupBy("o_custkey", "o_orderdate")
      .agg(min("o_orderkey").as("o_orderkey"))
    asofJoinForward(events, orders, "user_id", "o_custkey", "ts",
        "o_orderdate", payload = Seq("o_orderkey"))
      .select("event_id", "o_orderkey", "wait_us")
      .orderBy("event_id")
  }

  /** The q23 as-of join answered by the CUSTOM PHYSICAL OPERATOR — same
    * oracle (DuckDB's native ASOF LEFT JOIN), so the exec's merge
    * semantics are gated against an independent native implementation,
    * and provably agree with the window composition (both hash-match the
    * same oracle). */
  def q182AsofExec(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id")
    val orders = Tables.orders(spark, dir)
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("o_orderkey"))
    asofJoinExec(events, orders, "user_id", "o_custkey", "ts", "o_orderdate")
      .select("event_id", "o_orderkey")
      .orderBy("event_id")
  }

  private val asofSql: String =
      """SELECT e.event_id, o.o_orderkey
        |FROM events e ASOF LEFT JOIN
        |  (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        |   FROM orders GROUP BY o_custkey, o_orderdate) o
        |ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin

  val declared: Map[String, Query] = Map(
    "q23_asof_join" -> Query(q23AsofJoin, asofSql),
    // the custom exec must reproduce the native ASOF JOIN bit-for-bit
    "q182_asof_exec" -> Query(q182AsofExec, asofSql),
    "q100_resample_locf" -> Query(q100ResampleLocf,
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, value FROM events),
        |b AS (
        |  SELECT user_id,
        |    (MIN(us) + 3599999999) // 3600000000 AS g0,
        |    MAX(us) // 3600000000 AS g1
        |  FROM e GROUP BY user_id),
        |g AS (
        |  SELECT user_id, CAST(unnest(range(g0, g1 + 1)) * 3600000000 AS BIGINT) AS us
        |  FROM b WHERE g1 >= g0),
        |s AS (
        |  SELECT g.user_id, g.us, e.value,
        |    ROW_NUMBER() OVER (PARTITION BY g.user_id, g.us
        |      ORDER BY e.us DESC, e.event_id DESC) AS rn
        |  FROM g JOIN e ON e.user_id = g.user_id AND e.us <= g.us)
        |SELECT user_id, us AS ts_us, value
        |FROM s WHERE rn = 1
        |ORDER BY user_id, ts_us""".stripMargin),
    // row_number emulation of the forward ASOF (DuckDB's native ASOF
    // supports >= one way; the explicit form keeps the ≥-inclusive
    // semantics and min-orderkey tie rule visible)
    "q217_asof_forward" -> Query(q217AsofForward,
      """WITH o AS (
        |  SELECT o_custkey, epoch_us(o_orderdate) AS ous,
        |    MIN(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2),
        |e AS (SELECT event_id, user_id, epoch_us(ts) AS eus FROM events),
        |m AS (
        |  SELECT e.event_id, o.o_orderkey, o.ous - e.eus AS wait_us,
        |    ROW_NUMBER() OVER (PARTITION BY e.event_id
        |      ORDER BY o.ous) AS rn
        |  FROM e JOIN o ON o.o_custkey = e.user_id AND o.ous >= e.eus)
        |SELECT ev.event_id, m.o_orderkey, m.wait_us
        |FROM (SELECT event_id FROM e) ev
        |LEFT JOIN m ON m.event_id = ev.event_id AND m.rn = 1
        |ORDER BY ev.event_id""".stripMargin),
    "q207_interpolate_gaps" -> Query(q207InterpolateGaps,
      """WITH buck AS (
        |  SELECT event_type AS k,
        |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS b,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS v
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT k, MIN(b) AS g0, MAX(b) AS g1 FROM buck GROUP BY 1),
        |grid AS (SELECT k, unnest(range(g0, g1 + 1)) AS b FROM span),
        |dense AS (
        |  SELECT g.k, g.b, buck.v
        |  FROM grid g LEFT JOIN buck ON buck.k = g.k AND buck.b = g.b),
        |n AS (
        |  SELECT k, b, v,
        |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
        |      OVER (PARTITION BY k ORDER BY b
        |        ROWS UNBOUNDED PRECEDING) AS pb,
        |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
        |      OVER (PARTITION BY k ORDER BY b
        |        ROWS UNBOUNDED PRECEDING) AS pv,
        |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
        |      OVER (PARTITION BY k ORDER BY b
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb,
        |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
        |      OVER (PARTITION BY k ORDER BY b
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
        |  FROM dense)
        |SELECT k AS event_type, CAST(b * 3600000000 AS BIGINT) AS ts_us,
        |  v IS NOT NULL AS observed,
        |  CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
        |    WHEN pb IS NOT NULL AND nb IS NOT NULL THEN
        |      CAST(pv AS DOUBLE) + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
        |        * CAST(b - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)
        |    WHEN pb IS NOT NULL THEN CAST(pv AS DOUBLE)
        |    ELSE CAST(nv AS DOUBLE) END AS value
        |FROM n ORDER BY 1, 2""".stripMargin))
}
