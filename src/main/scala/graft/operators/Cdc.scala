package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture maintenance: snapshot merge (MERGE INTO / upsert) and
  * type-2 slowly-changing-dimension history builds.
  *
  * A 100 TB corpus is never rebuilt from scratch — it is MAINTAINED: nightly
  * changesets (inserts / updates / deletes) merge into the previous snapshot,
  * and dimension history is tracked as validity intervals. The reference's
  * host engine (Hive 0.9) had no MERGE; these are the lakehouse-era
  * equivalents expressed as plain declarative Spark plans, so the same code
  * is the batch merge AND the `foreachBatch` body of the streaming
  * maintenance loop ([[graft.streaming.StreamOps]]).
  *
  * Scale posture: the base snapshot (the 100 TB side) is shuffled AT MOST
  * ONCE, on the merge key; the changeset is reduced to latest-per-key first
  * (one shuffle of the SMALL side), and AQE picks broadcast vs shuffle for
  * the anti join by the reduced changeset's actual size. With the base
  * stored bucketed by the key ([[graft.sources.Tables]] bucketed writes),
  * the base-side exchange disappears entirely.
  */
object Cdc {

  /** Merge one changeset batch into a base snapshot (last-writer-wins).
    *
    * `changes` carries the base's payload columns plus `opCol`
    * (`'I' | 'U' | 'D'`) and `seqCol` (a monotone change-sequence number;
    * ties broken by op so replays are deterministic). Per key, only the
    * highest-`seq` change applies: `D` removes the key, `I`/`U` replace the
    * payload. Keys untouched by the changeset pass through unchanged.
    *
    * Equivalent to ANSI `MERGE INTO base USING latest-change ON key WHEN
    * MATCHED [AND op='D'] THEN DELETE / UPDATE ... WHEN NOT MATCHED THEN
    * INSERT ...` — expressed as latest-per-key → anti-join → union, the
    * shape Catalyst plans without a MERGE node.
    */
  /** Latest change per key: highest `seqCol`, ties broken by op so
    * replays are deterministic. Shared by the snapshot merge and the
    * incremental aggregate maintenance. */
  def latestPerKey(changes: DataFrame, key: Seq[String],
      opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    require(key.nonEmpty, "latestPerKey needs at least one key column")
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol).desc)
    changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  def mergeSnapshot(base: DataFrame, changes: DataFrame, key: Seq[String],
      opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    require(key.nonEmpty, "mergeSnapshot needs at least one key column")
    val payload = base.columns.toSeq
    val latest = latestPerKey(changes, key, opCol, seqCol)
    val survivors = base.join(latest.select(key.map(col): _*), key, "left_anti")
    val upserts = latest.filter(col(opCol) =!= lit("D"))
      .select(payload.map(col): _*)
    survivors.unionByName(upserts)
  }

  /** Incremental maintenance of a grouped (count, sum) aggregate under a
    * CDC changeset — the aggregate is UPDATED from deltas, never
    * recomputed from the base:
    *
    *   agg'(g) = agg(g) − Σ old rows of changed keys + Σ applied upserts
    *
    * The base table is touched only to fetch the CHANGED keys' old rows
    * (a semi-join probe — with the base bucketed/zone-mapped by key, a
    * pruned read, not a scan), the aggregate table is touched only at
    * the affected group keys, and all other groups pass through. This is
    * classic delta-propagation IVM (self-maintainable for SUM/COUNT);
    * groups whose count reaches zero are dropped. `sumExpr` must be an
    * expression whose group sum is order-independent (the engine's
    * DECIMAL-quantization discipline) or the gate loses bit-exactness.
    *
    * Returns the maintained `(groupCols, n, total)` aggregate. */
  def maintainGroupedAgg(baseAgg: DataFrame, base: DataFrame,
      changes: DataFrame, key: Seq[String], groupCols: Seq[String],
      sumExpr: Column, opCol: String = "op", seqCol: String = "seq")
      : DataFrame = {
    val latest = latestPerKey(changes, key, opCol, seqCol)
    val changedKeys = latest.select(key.map(col): _*)
    val removed = base.join(changedKeys, key, "left_semi")
      .groupBy(groupCols.map(col): _*)
      .agg((-count(lit(1))).as("n"), (-sum(sumExpr)).as("total"))
    val added = latest.filter(col(opCol) =!= lit("D"))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(sumExpr).as("total"))
    baseAgg.unionByName(removed).unionByName(added)
      .groupBy(groupCols.map(col): _*)
      .agg(sum("n").as("n"), sum("total").as("total"))
      .filter(col("n") > 0)
  }

  /** Type-2 SCD history from a change log: per key, consecutive rows (in
    * `tsCol, tieCol` order) with an UNCHANGED tracked attribute are
    * compressed into one version row carrying `[valid_from, valid_to)`
    * (open `valid_to` = current version) and a 1-based `version` ordinal.
    *
    * Gaps-and-islands: a lag-compare flags attribute changes, a running sum
    * over the flags numbers the islands, and a group-by collapses each
    * island to its first timestamp. All three passes partition by the SAME
    * key, so Catalyst plans ONE exchange and the windows + aggregation ride
    * it — the log is shuffled once regardless of corpus size.
    */
  def scd2(log: DataFrame, key: Seq[String], attr: String, tsCol: String,
      tieCol: String): DataFrame = {
    val kc = key.map(col)
    val ord = Window.partitionBy(kc: _*).orderBy(col(tsCol), col(tieCol))
    val islands = log
      .withColumn("__chg",
        when(lag(col(attr), 1).over(ord).isNull ||
          lag(col(attr), 1).over(ord) =!= col(attr), 1L).otherwise(0L))
      .withColumn("__island", sum(col("__chg")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val versions = islands
      .groupBy((kc :+ col("__island")): _*)
      // attr is constant within an island (that's what defines it) and
      // min(ts) is the island's first row under the window order — min, not
      // first(), keeps the aggregate deterministic under any partitioning
      .agg(min(col(attr)).as(attr), min(col(tsCol)).as("valid_from"))
      .select((kc :+ col(attr) :+ col("valid_from") :+
        col("__island").as("version")): _*)
    val vw = Window.partitionBy(kc: _*).orderBy(col("version"))
    versions.withColumn("valid_to", lead(col("valid_from"), 1).over(vw))
  }

  /** Snapshot DIFF — the inverse of [[mergeSnapshot]]: given two versions
    * of a table, derive the minimal changeset (`I`/`U`/`D` per key) that
    * turns the old one into the new one. One full-outer join on the key
    * (the key partitioning both versions already share when stored
    * bucketed), payload equality decided column-wise with
    * NULL-safe `<=>`. Rows identical in both versions produce NO change
    * row, and `mergeSnapshot(old, diff(old, new))` reproduces `new` —
    * the round-trip law CdcSpec pins. Key columns must be non-null on
    * both sides (presence is detected through them). This is how a
    * deployment derives CDC from full-table drops, audits a replication
    * pipeline, or reconstructs a night's changes from two snapshot
    * versions. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      key: Seq[String]): DataFrame = {
    require(key.nonEmpty, "snapshotDiff needs at least one key column")
    require(oldSnap.columns.toSeq == newSnap.columns.toSeq,
      "snapshotDiff requires identical schemas: " +
        s"${oldSnap.columns.toSeq} vs ${newSnap.columns.toSeq}")
    val payload = oldSnap.columns.toSeq
    val valueCols = payload.filterNot(key.contains)
    val o = oldSnap.select(payload.map(c => col(c).as(s"__o_$c")): _*)
    val n = newSnap.select(payload.map(c => col(c).as(s"__n_$c")): _*)
    val joinCond = key.map(k => col(s"__o_$k") === col(s"__n_$k")).reduce(_ && _)
    val same = valueCols.map(c => col(s"__o_$c") <=> col(s"__n_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val inOld = col(s"__o_${key.head}").isNotNull
    val inNew = col(s"__n_${key.head}").isNotNull
    o.join(n, joinCond, "full_outer")
      .withColumn("op",
        when(inOld && !inNew, "D")
          .when(!inOld && inNew, "I")
          .when(!same, "U"))
      .filter(col("op").isNotNull)
      .select(payload.map(c =>
        coalesce(col(s"__n_$c"), col(s"__o_$c")).as(c)) :+ col("op"): _*)
  }

  // ---- declared queries ----

  /** The deterministic changeset q109 derives from `orders` (so the oracle
    * can rebuild it verbatim in SQL): keys ending in 0 are deleted; keys
    * ending in 1 or 2 are updated to price×1.10 at seq 1; keys ending in 1
    * get a SECOND update to price×1.20 at seq 2 (exercising
    * last-writer-wins); keys ending in 3 spawn an insert under key+10^8. */
  private[graft] def derivedChanges(o: DataFrame): DataFrame = {
    val m = col("o_orderkey") % 10
    def priced(factor: String): Column =
      (col("o_totalprice").cast("decimal(18,2)") *
        lit(factor).cast("decimal(4,2)")).cast("double")
    val payload = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    def sel(df: DataFrame, op: String, seq: Int): DataFrame =
      df.select(payload.map(col) :+ lit(op).as("op") :+
        lit(seq).cast("long").as("seq"): _*)
    val deletes = sel(o.filter(m === 0), "D", 1)
    val upd1 = sel(o.filter(m === 1 || m === 2)
      .withColumn("o_totalprice", priced("1.10")), "U", 1)
    val upd2 = sel(o.filter(m === 1)
      .withColumn("o_totalprice", priced("1.20")), "U", 2)
    val ins = sel(o.filter(m === 3)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)), "I", 1)
    deletes.unionByName(upd1).unionByName(upd2).unionByName(ins)
  }

  /** Second-night changeset for the maintenance loop (q116): keys ending
    * in 4 are deleted at seq 3; the keys batch 1 INSERTED (key ≥ 10^8) are
    * re-priced ×0.95 at seq 3 (a batch-2 change to a batch-1 row —
    * exercises that version N really builds on version N−1, not on the
    * initial snapshot); keys ending in 5 are re-priced ×1.30 at seq 3. */
  private[graft] def derivedChanges2(o: DataFrame): DataFrame = {
    val m = col("o_orderkey") % 10
    def priced(factor: String): Column =
      (col("o_totalprice").cast("decimal(18,2)") *
        lit(factor).cast("decimal(4,2)")).cast("double")
    val payload = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    def sel(df: DataFrame, op: String, seq: Int): DataFrame =
      df.select(payload.map(col) :+ lit(op).as("op") :+
        lit(seq).cast("long").as("seq"): _*)
    val deletes = sel(o.filter(m === 4), "D", 3)
    val reprice = sel(o.filter(m === 3)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_totalprice", priced("0.95")), "U", 3)
    val upd5 = sel(o.filter(m === 5)
      .withColumn("o_totalprice", priced("1.30")), "U", 3)
    deletes.unionByName(reprice).unionByName(upd5)
  }

  /** CDC snapshot merge over `orders`: the derived I/U/D changeset applied
    * with last-writer-wins; the oracle replays the same MERGE semantics in
    * SQL (anti-join + union over the latest change per key). */
  def q109MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    mergeSnapshot(o, derivedChanges(o), Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** SCD2 dimension history: each customer's order-priority timeline from
    * the orders log, change-compressed into validity intervals. */
  def q110Scd2(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    scd2(o, Seq("o_custkey"), "o_orderpriority", "o_orderdate", "o_orderkey")
      .select(col("o_custkey"), col("o_orderpriority"), col("valid_from"),
        col("valid_to"), col("version").cast("long").as("version"))
      .orderBy("o_custkey", "version")
  }

  /** Batch twin of [[graft.streaming.StreamOps.streamingMaintenance]] —
    * the composed maintenance loop (CDC merge → compaction-sized → z-order
    * write) run for two nights over `orders`: batch 0 applies the q109
    * changeset, batch 1 applies [[derivedChanges2]] ON TOP of version 0
    * (including an update to a key version 0 INSERTED, so the chain is
    * provably incremental), each version landing z-ordered on
    * (o_custkey, o_orderkey) under its own `snap/batch_id=` directory.
    * The declared result is the FINAL snapshot read back from the
    * maintained store — the oracle replays both MERGEs sequentially in
    * SQL, so the gate covers the loop's content end-to-end; the layout
    * (file count, disjoint z-ranges, replay idempotence) is pinned by
    * StreamingSpec. */
  def q116MaintenanceLoop(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-maint").toString
    val key = Seq("o_orderkey")
    val zc = Seq("o_custkey", "o_orderkey")
    // 27 bits: inserted keys are orderkey + 10^8 < 2^27 up to sf≈5; the
    // zValue runtime guard raises beyond that rather than aliasing
    graft.streaming.StreamOps.maintenanceBatch(derivedChanges(o), o, key,
      zc, 27, path, 1L << 20, "op", "seq", 0L)
    graft.streaming.StreamOps.maintenanceBatch(derivedChanges2(o), o, key,
      zc, 27, path, 1L << 20, "op", "seq", 1L)
    spark.read.parquet(s"$path/snap")
      .filter(col("batch_id") === 1L)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  /** The q116 maintenance loop with its zone-map manifest maintained
    * incrementally per batch, then a customer-range aggregate answered
    * THROUGH the maintained manifest on the final version: only snapshot
    * files whose o_custkey zone intersects the range are opened (the
    * z-order on (o_custkey, o_orderkey) is what makes the zones
    * selective). Gate: the oracle replays both MERGEs and filters — a
    * manifest that skipped a needed file (or a replay that duplicated
    * one) hash-mismatches. */
  def q128MaintainedZonemap(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-maintzm").toString
    val key = Seq("o_orderkey")
    val zc = Seq("o_custkey", "o_orderkey")
    graft.streaming.StreamOps.maintenanceBatch(derivedChanges(o), o, key,
      zc, 27, path, 1L << 20, "op", "seq", 0L, zmapCol = Some("o_custkey"))
    graft.streaming.StreamOps.maintenanceBatch(derivedChanges2(o), o, key,
      zc, 27, path, 1L << 20, "op", "seq", 1L, zmapCol = Some("o_custkey"))
    graft.streaming.StreamOps.zoneMapPrunedSnapshot(spark, path, 1L,
        "o_custkey", lit(200L), lit(400L))
      .groupBy("o_orderstatus")
      // scale 4, not 2: merged prices are exact scale-4 decimals (2-dec
      // price x 2-dec factor); re-rounding to scale 2 would hit .xx5
      // rounding-mode ties between engines, scale 4 recovers the exact
      // value with no tie to break
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
          .as("sum_price"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy("o_orderstatus")
  }

  /** Per-customer order (count, revenue) aggregate maintained
    * INCREMENTALLY under the q109 changeset — deltas only, the base
    * probed just at changed keys, no recompute. The oracle recomputes
    * the same aggregate from the full merge, so the gate proves
    * delta-propagation ≡ recomputation (sum in DECIMAL(18,4), the
    * changed prices' exact scale). */
  def q135IvmAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val priced = col("o_totalprice").cast("decimal(18,4)")
    val baseAgg = o.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum(priced).as("total"))
    maintainGroupedAgg(baseAgg, o, derivedChanges(o), Seq("o_orderkey"),
        Seq("o_custkey"), priced)
      .select(col("o_custkey"), col("n"),
        col("total").cast("double").as("total"))
      .orderBy("o_custkey")
  }

  /** Diff of the two maintained nightly versions (m1 → m2): every change
    * night 2 EFFECTIVELY applied, derived back from the states alone.
    * Strict hash gate: the oracle full-outer-diffs the same two CTE
    * states. */
  def q136SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val m1 = mergeSnapshot(o, derivedChanges(o), Seq("o_orderkey"))
    val m2 = mergeSnapshot(m1, derivedChanges2(o), Seq("o_orderkey"))
    snapshotDiff(m1, m2, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** Point-in-time lookup ("what did the dimension say THEN") over the
    * [[scd2]] history: each customer's tracked attribute as of the
    * corpus-midpoint instant — one interval-containment filter on the
    * version table, the query every SCD2 consumer runs. The pivot instant
    * is derived from the data ((min+max) div 2 in exact epoch micros), so
    * the query is self-contained at any SF; customers whose history
    * starts after the pivot are correctly absent. One key-hash exchange
    * (the history build) + a broadcast 1-row pivot. */
  def q183PointInTime(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    val hist = scd2(o, Seq("o_custkey"), "o_orderpriority", "o_orderdate",
      "o_orderkey")
    val mid = o.agg((min(unix_micros(col("o_orderdate"))) +
        max(unix_micros(col("o_orderdate")))).as("__s"))
      .select(expr("__s div 2").as("as_of_us"))
    hist.join(broadcast(mid))
      .filter(unix_micros(col("valid_from")) <= col("as_of_us") &&
        (col("valid_to").isNull ||
          unix_micros(col("valid_to")) > col("as_of_us")))
      .select(col("o_custkey"), col("o_orderpriority"),
        col("version").cast("long").as("version"), col("as_of_us"))
      .orderBy("o_custkey")
  }

  /** q157 probe keys: an updated key (…1), a deleted key (…0 — must NOT
    * come back), a batch-1-inserted key, and untouched keys. */
  private[graft] val bloomProbeKeys: Seq[Long] =
    Seq(1L, 7L, 10L, 21L, 512L, 100000003L, 4000L)

  /** The q116/q128 maintenance loop with a per-batch-maintained BLOOM
    * index on o_orderkey, then a point IN-lookup answered on the final
    * version THROUGH the maintained index only ([[graft.streaming
    * .StreamOps.bloomPrunedSnapshot]]). The zone map prunes ranges on the
    * z-ordered dims; the bloom index prunes point probes on the
    * high-cardinality key — this query pins the latter end-to-end: the
    * oracle replays both MERGEs and applies the same IN-list, so a false
    * negative (lost row), a resurrected deleted key, or a stale manifest
    * version hash-mismatches. */
  def q157MaintainedBloom(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-maintbl").toString
    val key = Seq("o_orderkey")
    val zc = Seq("o_custkey", "o_orderkey")
    val bloom = Some(("o_orderkey", 1 << 17, 5))
    graft.streaming.StreamOps.maintenanceBatch(derivedChanges(o), o, key,
      zc, 27, path, 1L << 20, "op", "seq", 0L, bloomSpec = bloom)
    graft.streaming.StreamOps.maintenanceBatch(derivedChanges2(o), o, key,
      zc, 27, path, 1L << 20, "op", "seq", 1L, bloomSpec = bloom)
    graft.streaming.StreamOps.bloomPrunedSnapshot(spark, path, 1L,
        "o_orderkey", bloomProbeKeys)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val declared: Map[String, Query] = Map(
    "q109_merge_upsert" -> Query(q109MergeUpsert,
      """WITH changes AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority, 'D' AS op, 1 AS seq
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) *
        |              CAST(1.10 AS DECIMAL(4,2)) AS DOUBLE),
        |         o_orderdate, o_orderpriority, 'U', 1
        |  FROM orders WHERE o_orderkey % 10 IN (1, 2)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) *
        |              CAST(1.20 AS DECIMAL(4,2)) AS DOUBLE),
        |         o_orderdate, o_orderpriority, 'U', 2
        |  FROM orders WHERE o_orderkey % 10 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
        |         o_totalprice, o_orderdate, o_orderpriority, 'I', 1
        |  FROM orders WHERE o_orderkey % 10 = 3),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |      ORDER BY seq DESC, op DESC) AS rn
        |    FROM changes) t WHERE rn = 1)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority
        |FROM orders b WHERE NOT EXISTS (
        |  SELECT 1 FROM latest c WHERE c.o_orderkey = b.o_orderkey)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority
        |FROM latest WHERE op <> 'D'
        |ORDER BY o_orderkey""".stripMargin),
    // full-outer diff of the two recomputed nightly states; payload
    // equality via IS NOT DISTINCT FROM, same as the engine's <=>
    "q136_snapshot_diff" -> Query(q136SnapshotDiff, (maintChainSql +
      """
        |SELECT
        |  COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
        |  COALESCE(n.o_custkey, o.o_custkey) AS o_custkey,
        |  COALESCE(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
        |  COALESCE(n.o_totalprice, o.o_totalprice) AS o_totalprice,
        |  COALESCE(n.o_orderdate, o.o_orderdate) AS o_orderdate,
        |  COALESCE(n.o_orderpriority, o.o_orderpriority) AS o_orderpriority,
        |  CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NULL THEN 'D'
        |       WHEN o.o_orderkey IS NULL AND n.o_orderkey IS NOT NULL THEN 'I'
        |       ELSE 'U' END AS op
        |FROM m1 o FULL OUTER JOIN m2 n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |  OR NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
        |    AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
        |    AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
        |    AND o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate
        |    AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin)),
    // the merged night-1 state (CTE m1) recomputed and re-aggregated —
    // what the incremental delta path must equal exactly
    "q135_ivm_agg" -> Query(q135IvmAgg, (maintChainSql +
      """
        |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM m1 GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),
    // both nights' MERGEs replayed sequentially from first principles:
    // version 1 is built FROM version 0 (CTE m1), not from the base —
    // the snapshot-chain semantics of the maintained store
    "q116_maintenance_loop" -> Query(q116MaintenanceLoop, (maintChainSql +
      """
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority
        |FROM m2 ORDER BY o_orderkey""".stripMargin)),
    // the same final version, range-filtered and aggregated — what the
    // maintained zone map answers from the pruned file subset
    // the same final version, point-probed — what the maintained bloom
    // index answers from the pruned file subset
    "q157_maintained_bloom" -> Query(q157MaintainedBloom, (maintChainSql +
      s"""
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM m2 WHERE o_orderkey IN (${bloomProbeKeys.mkString(", ")})
        |ORDER BY o_orderkey""".stripMargin)),
    "q128_maintained_zonemap" -> Query(q128MaintainedZonemap, (maintChainSql +
      """
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
        |FROM m2 WHERE o_custkey >= 200 AND o_custkey < 400
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    // the q110 history CTEs + the corpus-midpoint pivot + interval filter
    "q183_point_in_time" -> Query(q183PointInTime,
      """WITH flagged AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
        |    CASE WHEN LAG(o_orderpriority) OVER w IS NULL
        |           OR LAG(o_orderpriority) OVER w <> o_orderpriority
        |         THEN 1 ELSE 0 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |islands AS (
        |  SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM flagged),
        |versions AS (
        |  SELECT o_custkey, island AS version,
        |    MIN(o_orderpriority) AS o_orderpriority,
        |    MIN(o_orderdate) AS valid_from
        |  FROM islands GROUP BY o_custkey, island),
        |hist AS (
        |  SELECT o_custkey, o_orderpriority, valid_from,
        |    LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
        |      AS valid_to,
        |    CAST(version AS BIGINT) AS version
        |  FROM versions),
        |mid AS (
        |  SELECT CAST((CAST(MIN(epoch_us(o_orderdate)) AS BIGINT)
        |    + CAST(MAX(epoch_us(o_orderdate)) AS BIGINT)) // 2 AS BIGINT)
        |    AS as_of_us
        |  FROM orders)
        |SELECT o_custkey, o_orderpriority, version, as_of_us
        |FROM hist CROSS JOIN mid
        |WHERE epoch_us(valid_from) <= as_of_us
        |  AND (valid_to IS NULL OR epoch_us(valid_to) > as_of_us)
        |ORDER BY o_custkey""".stripMargin),
    "q110_scd2" -> Query(q110Scd2,
      """WITH flagged AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
        |    CASE WHEN LAG(o_orderpriority) OVER w IS NULL
        |           OR LAG(o_orderpriority) OVER w <> o_orderpriority
        |         THEN 1 ELSE 0 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |islands AS (
        |  SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM flagged),
        |versions AS (
        |  SELECT o_custkey, island AS version,
        |    MIN(o_orderpriority) AS o_orderpriority,
        |    MIN(o_orderdate) AS valid_from
        |  FROM islands GROUP BY o_custkey, island)
        |SELECT o_custkey, o_orderpriority, valid_from,
        |  LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY version)
        |    AS valid_to,
        |  CAST(version AS BIGINT) AS version
        |FROM versions ORDER BY o_custkey, version""".stripMargin))

  /** The two-night merge chain as shared oracle CTEs (final version = m2). */
  private lazy val maintChainSql: String =
      """WITH c1 AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority, 'D' AS op, 1 AS seq
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) *
        |              CAST(1.10 AS DECIMAL(4,2)) AS DOUBLE),
        |         o_orderdate, o_orderpriority, 'U', 1
        |  FROM orders WHERE o_orderkey % 10 IN (1, 2)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) *
        |              CAST(1.20 AS DECIMAL(4,2)) AS DOUBLE),
        |         o_orderdate, o_orderpriority, 'U', 2
        |  FROM orders WHERE o_orderkey % 10 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
        |         o_totalprice, o_orderdate, o_orderpriority, 'I', 1
        |  FROM orders WHERE o_orderkey % 10 = 3),
        |l1 AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |      ORDER BY seq DESC, op DESC) AS rn
        |    FROM c1) t WHERE rn = 1),
        |m1 AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders b WHERE NOT EXISTS (
        |    SELECT 1 FROM l1 c WHERE c.o_orderkey = b.o_orderkey)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM l1 WHERE op <> 'D'),
        |c2 AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority, 'D' AS op, 3 AS seq
        |  FROM orders WHERE o_orderkey % 10 = 4
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) *
        |              CAST(0.95 AS DECIMAL(4,2)) AS DOUBLE),
        |         o_orderdate, o_orderpriority, 'U', 3
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) *
        |              CAST(1.30 AS DECIMAL(4,2)) AS DOUBLE),
        |         o_orderdate, o_orderpriority, 'U', 3
        |  FROM orders WHERE o_orderkey % 10 = 5),
        |l2 AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |      ORDER BY seq DESC, op DESC) AS rn
        |    FROM c2) t WHERE rn = 1),
        |m2 AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM m1 b WHERE NOT EXISTS (
        |    SELECT 1 FROM l2 c WHERE c.o_orderkey = b.o_orderkey)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM l2 WHERE op <> 'D')""".stripMargin
}
