package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering.
  *
  * Parquet prunes row groups from min/max stats, but stats only help on
  * columns the data is CLUSTERED by — a layout sorted by one key answers
  * boxes on that key and nothing else. Interleaving the bits of several
  * keys into one Morton value and sorting by it localizes EVERY interleaved
  * dimension at once: a row group covering a contiguous z-range spans a
  * small hyper-rectangle, so a predicate selective in any clustered column
  * skips most row groups (Morton 1966; the OPTIMIZE ZORDER of the lakehouse
  * engines, here in plain open Spark).
  *
  * At 100 TB this is a LAYOUT decision, not a query operator: one
  * `repartitionByRange` on the z-value (range boundaries from Spark's
  * driver-bounded sample), a LOCAL per-file sort, and every future
  * multi-dimensional scan gets stats-based skipping for free. The z-value
  * itself is a pure projection — codegen'd bit arithmetic, no shuffle, and
  * bit-identical in any engine (the oracle recomputes it in SQL).
  */
object Layout {

  /** Morton-interleave the low `bitsPerCol` bits of each column: bit `i` of
    * column `j` lands at position `i·n + j` (column 0 = least-significant
    * lane). The width budget (`bitsPerCol · n ≤ 63`) is `require`d at plan
    * build; each VALUE is guarded at runtime — a value that is negative or
    * exceeds `bitsPerCol` bits raises rather than silently aliasing distant
    * keys into the same z-range (which would quietly destroy the clustering
    * the operator exists for). Composed bitwise ops on longs → whole-stage
    * codegen, no UDF (`raise_error` sits on the never-taken branch). */
  def zValue(cols: Seq[Column], bitsPerCol: Int): Column = {
    require(cols.nonEmpty, "zValue needs at least one column")
    val n = cols.size
    require(bitsPerCol >= 1 && bitsPerCol * n <= 63,
      s"bitsPerCol * nCols must fit a long: got $bitsPerCol * $n")
    def checked(c: Column): Column = {
      val lc = c.cast("long")
      when(shiftright(lc, bitsPerCol) =!= 0L,
        raise_error(concat(
          lit(s"zValue: value out of [0, 2^$bitsPerCol) range: "),
          lc.cast("string"))).cast("long"))
        .otherwise(lc)
    }
    val terms = for {
      (c, j) <- cols.map(checked).zipWithIndex
      i <- 0 until bitsPerCol
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** The same interleave as ANSI SQL over expression strings — the oracle
    * twin of [[zValue]], one `((e >> i) & 1) << (i·n + j)` term per bit. */
  def zValueSql(exprs: Seq[String], bitsPerCol: Int): String = {
    val n = exprs.size
    val terms = for {
      (e, j) <- exprs.zipWithIndex
      i <- 0 until bitsPerCol
    } yield s"((((($e) >> $i) & 1)) << ${i * n + j})"
    terms.mkString("(", " | ", ")")
  }

  /** Rewrite a table Z-ordered on `zCol` into `nFiles` range-partitioned,
    * locally-sorted parquet files: range boundaries come from Spark's
    * reservoir sample (driver-bounded), the sort is per-partition (never
    * global), and row-group min/max stats in the written files become
    * selective for every interleaved dimension. */
  def zorderWrite(df: DataFrame, zCol: Column, path: String, nFiles: Int,
      options: Map[String, String] = Map.empty): Unit =
    df.repartitionByRange(nFiles, zCol)
      .sortWithinPartitions(zCol)
      .write.options(options).mode("overwrite").parquet(path)

  /** Compact a small-file dataset into ~`targetBytes` files.
    *
    * The 100 TB failure mode this exists for: streaming ingest and
    * fine-grained partitioning leave millions of KB-scale files, and every
    * downstream scan pays a task + open + footer-read per file — metadata
    * cost dwarfing data cost. Compaction rewrites to target-size files:
    * the file count comes from plan-statistics input size (zero extra
    * jobs — no count() pass), a round-robin `repartition(n)` balances
    * bytes evenly, and `maxRecordsPerFile` caps the tail. Plain open
    * Spark's answer to OPTIMIZE / rewriteDataFiles of the table formats.
    *
    * Returns the file count written. Layout-preserving variants compose:
    * compact-then-zorder is [[zorderWrite]] with `nFiles = planFileCount`.
    */
  def compact(df: DataFrame, path: String, targetBytes: Long = 128L << 20,
      options: Map[String, String] = Map.empty): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((bytes + targetBytes - 1) / targetBytes).max(1).min(1 << 20).toInt
    df.repartition(n).write.options(options).mode("overwrite").parquet(path)
    n
  }

  /** File-level min/max zone map of `zcol` over a written parquet dataset:
    * one row per file, built in a single column-pruned scan. This is the
    * open-Spark stand-in for a table format's file-statistics manifest —
    * at 100 TB it would be built incrementally at write time (per batch,
    * the q109/q116 `batch_id` discipline) and stored as a table, not
    * recomputed; the build below is one pass over just the zone column. */
  def zoneMap(spark: SparkSession, path: String, zcol: String): DataFrame =
    spark.read.parquet(path)
      .select(input_file_name().as("file"), col(zcol).as("z"))
      .groupBy("file")
      .agg(min("z").as("zmin"), max("z").as("zmax"), count(lit(1)).as("n_rows"))

  /** Scan only the files whose `[zmin, zmax]` zone intersects `[lo, hi)`,
    * re-applying the predicate on the survivors. The collect is the
    * FILE LIST, never data — O(selected files), the same driver-side
    * scale as Spark's own file-index listing; a deployment past millions
    * of files keeps the zone map as a table and feeds the path list via
    * the metastore instead. Skipping is correct for any `zcol` the layout
    * clustered ([[zorderWrite]] / range-partitioned writes): a file whose
    * zone misses the range can contain no matching row. */
  def zoneMapPrunedScan(spark: SparkSession, path: String, zcol: String,
      lo: Column, hi: Column): DataFrame = {
    val files = zoneMap(spark, path, zcol)
      .filter(col("zmax") >= lo && col("zmin") < hi)
      .select("file").collect().map(_.getString(0))
    val base =
      if (files.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.parquet(files: _*)
    base.filter(col(zcol) >= lo && col(zcol) < hi)
  }

  // ---- declared query ----

  private val zBits = 20

  /** Z-values of the lineitem (l_partkey, l_suppkey) pair — the clustering
    * key a part×supplier workload would lay the fact table out by. Emits
    * the 500 smallest z-values with their coordinates; the oracle rebuilds
    * the interleave bit-for-bit in SQL, so the gate is strict hash
    * equality. 20 bits/column covers l_partkey up to sf≈5 (200k·sf keys);
    * beyond that [[zValue]]'s runtime guard raises rather than silently
    * aliasing — widen zBits at the call site. */
  def q95Zorder(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        zValue(Seq(col("l_partkey"), col("l_suppkey")), zBits).as("zval"))
      .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
      .limit(500)
  }

  /** Small-file compaction round trip: the events table shattered into 64
    * tiny files (the ingest-debris fixture), compacted back to target-size
    * files, then aggregated FROM THE COMPACTED LAYOUT. The oracle computes
    * the same aggregate from the pristine table — the gate is content
    * preservation through the rewrite; LayoutSpec pins the file counts. */
  def q111Compact(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val shardDir = java.nio.file.Files.createTempDirectory("graft-shatter").toString
    val compactDir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    ev.repartition(64).write.mode("overwrite").parquet(shardDir)
    compact(spark.read.parquet(shardDir), compactDir, targetBytes = 64L << 20)
    spark.read.parquet(compactDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  /** Zone-map skipping round trip: lineitem laid out range-partitioned +
    * locally sorted on l_shipdate (24 files), a file-level zone map built
    * in one pass, and a one-year range query answered FROM THE PRUNED
    * FILE SET only. The gate is content equivalence — the oracle runs the
    * same range aggregate on the pristine table, so a zone map that
    * skipped a file it needed (or double-read one) hash-mismatches.
    * LayoutSpec pins the skipping itself: the pruned scan touches a
    * strict subset of the written files. */
  def q124ZonemapSkip(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-zonemap").toString
    li.repartitionByRange(24, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite").parquet(path)
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    zoneMapPrunedScan(spark, path, "l_shipdate", lo, hi)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy("l_returnflag")
  }

  /** File-level Bloom-filter manifest of `keyCol` over a written parquet
    * dataset: one (file, bloom, n_rows) row per file, built in a single
    * column-pruned pass with the engine's own `bloom_agg`. The complement
    * to [[zoneMap]]: min/max zones prune RANGE predicates on clustered
    * columns, Blooms prune POINT lookups on high-cardinality keys whose
    * values scatter across every file's min/max span (user ids, order
    * keys) — the table-format "bloom filter index". Same maintenance
    * story: at 100 TB this is built per ingest batch under the `batch_id`
    * discipline, not recomputed. */
  def bloomManifest(spark: SparkSession, path: String, keyCol: String,
      numBits: Int, numHashes: Int): DataFrame =
    spark.read.parquet(path)
      .select(input_file_name().as("file"), col(keyCol).as("k"))
      .groupBy("file")
      .agg(graft.GraftFunctions.bloom_agg(col("k"), numBits, numHashes)
        .as("bloom"), count(lit(1)).as("n_rows"))

  /** Scan only the files whose Bloom filter might contain one of `keys`,
    * re-applying the exact IN-list on the survivors (no false negatives ⇒
    * no lost rows; false positives only cost extra file reads at the
    * declared fpp). The collect is the file list — O(selected files),
    * like [[zoneMapPrunedScan]]. */
  def bloomPrunedScan(spark: SparkSession, path: String, manifest: DataFrame,
      keyCol: String, keys: Seq[Long]): DataFrame = {
    require(keys.nonEmpty, "at least one probe key")
    val probe = keys.map(k =>
      graft.GraftFunctions.might_contain(col("bloom"), lit(k)))
      .reduce(_ || _)
    val files = manifest.filter(probe)
      .select("file").collect().map(_.getString(0))
    val base =
      if (files.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.parquet(files.toIndexedSeq: _*)
    base.filter(col(keyCol).isin(keys: _*))
  }

  /** Bloom-skipping round trip: orders hash-laid-out into 32 files on
    * o_orderkey (point-lookup layout: no column clusters the key range,
    * so zone maps cannot prune), a per-file Bloom manifest built in one
    * pass, and a 12-key IN lookup answered from the pruned file set. The
    * oracle runs the same IN-list on the pristine table — a Bloom with a
    * false NEGATIVE (lost row) hash-mismatches; LayoutSpec pins that the
    * pruned scan reads a strict subset of the files. */
  def q154BloomSkip(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-bloomidx").toString
    o.repartition(32, col("o_custkey")).write.mode("overwrite").parquet(path)
    val manifest = bloomManifest(spark, path, "o_orderkey",
      numBits = 1 << 17, numHashes = 5)
    val keys = (1 to 12).map(i => i * 512L)
    bloomPrunedScan(spark, path, manifest, "o_orderkey", keys)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Schema-evolution round trip: ingest batches written BEFORE a column
    * existed coexist with batches written after, and one merged-schema
    * read answers aggregates across both (old rows surface NULL for the
    * new column — the COUNT(col)/SUM(col) null semantics make the
    * aggregate correct with no backfill).
    *
    * This is the ingest reality at 100 TB: producers add fields without
    * rewriting history. The engine-side cost model: `mergeSchema` unions
    * footers at planning time (per-file metadata, no data read); a
    * petabyte deployment promotes the merged schema into the
    * metastore/manifest instead of re-deriving it per query — same
    * semantics, amortized footer work. */
  def q159SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    // era 0: written before `vip` existed
    ev.filter(col("event_id") % 2 === 0)
      .select("event_type", "user_id")
      .write.mode("overwrite").parquet(s"$path/era=0")
    // era 1: the producer added a derived column
    ev.filter(col("event_id") % 2 === 1)
      .select(col("event_type"), col("user_id"),
        (col("user_id") % 7).as("vip"))
      .write.mode("overwrite").parquet(s"$path/era=1")
    spark.read.option("mergeSchema", "true").parquet(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("vip")).as("n_vip"),
        sum(col("vip")).as("sum_vip"))
      .orderBy("event_type")
  }

  val declared: Map[String, Query] = Map(
    // the two eras reproduced as a UNION with an explicit NULL column
    "q159_schema_evolution" -> Query(q159SchemaEvolution,
      """WITH v0 AS (
        |  SELECT event_type, user_id, CAST(NULL AS BIGINT) AS vip
        |  FROM events WHERE event_id % 2 = 0),
        |v1 AS (
        |  SELECT event_type, user_id, user_id % 7 AS vip
        |  FROM events WHERE event_id % 2 = 1),
        |m AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(vip) AS BIGINT) AS n_vip,
        |  CAST(SUM(vip) AS BIGINT) AS sum_vip
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),
    // the same IN-list on the pristine table: a false-negative bloom (or
    // a file list that dropped a needed file) loses rows and mismatches
    "q154_bloom_skip" -> Query(q154BloomSkip,
      ("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey IN (""".stripMargin +
        (1 to 12).map(i => i * 512L).mkString(", ") +
        ")\nORDER BY o_orderkey")),
    "q124_zonemap_skip" -> Query(q124ZonemapSkip,
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "q111_compact" -> Query(q111Compact,
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q95_zorder" -> Query(q95Zorder,
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  ${zValueSql(Seq("l_partkey", "l_suppkey"), zBits)} AS zval
         |FROM lineitem
         |ORDER BY zval, l_orderkey, l_linenumber LIMIT 500""".stripMargin))
}
