package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence mining: frequent item pairs + lift.
  *
  * The classic A-priori candidate explosion is avoided structurally: pairs
  * are generated WITHIN each basket from its sorted, cap-bounded item set
  * (the [[Buckets.candidatePairs]] explosion shape), so the pair space is
  * Σ|basket|² — bounded by basket geometry, never items². One shuffle
  * builds the baskets (`groupBy(basket).collect_set`, map-side combined);
  * everything downstream (pair counts, item supports, the basket total)
  * re-reads the basket table, which is `localCheckpoint`ed once — the
  * 100 TB plan is scan → basket shuffle → three cheap reductions over the
  * (much smaller) basket table.
  *
  * Basket capping keeps the `cap` smallest items (deterministic) and the
  * dropped-item count rides the query as an observed metric — no silent
  * caps. Supports are computed AFTER capping, so support and pair counts
  * stay mutually consistent under a cap.
  *
  * Lift = n(p1,p2)·N / (s(p1)·s(p2)) over exact integer counts: the one
  * double multiply + divide is evaluated in the same order in any IEEE
  * engine, so the declared query hash-gates exactly.
  */
object Basket {

  /** The capped, deduped, sorted basket table — one shuffle, then
    * localCheckpointed for its (typically several) downstream consumers. */
  def baskets(df: DataFrame, basketCol: String, itemCol: String,
      basketCap: Int, metricName: String = "basket_cap"): DataFrame = {
    require(basketCap >= 2, s"basketCap must be >= 2: $basketCap")
    df.groupBy(col(basketCol).as("__b"))
      .agg(sort_array(collect_set(col(itemCol))).as("__items"))
      .observe(metricName,
        coalesce(sum(greatest(size(col("__items")) - basketCap, lit(0)))
          .cast("long"), lit(0L)).as("dropped_items"),
        coalesce(max(size(col("__items"))).cast("long"), lit(0L))
          .as("max_basket_size"))
      .withColumn("__items", slice(col("__items"), 1, basketCap))
      .localCheckpoint(true)
  }

  /** Co-occurrence counts per unordered item pair (p1 < p2) from a basket
    * table, with support ≥ `minSupport`. */
  def pairCounts(basketTable: DataFrame, basketCap: Int,
      minSupport: Long): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1: $minSupport")
    basketTable.select(explode(flatten(transform(col("__items"),
        (a, i) => transform(
          slice(col("__items"), i + lit(2), lit(basketCap)),
          b => struct(a.as("p1"), b.as("p2")))))).as("__p"))
      .select(col("__p.p1"), col("__p.p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSupport)
  }

  /** Frequent co-occurring item pairs with support ≥ `minSupport`, with
    * lift, top `topK` by (count desc, p1, p2) — a total order, so the
    * limit is deterministic. */
  def frequentPairs(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, basketCap: Int, topK: Int): DataFrame = {
    val bk = baskets(df, basketCol, itemCol, basketCap)
    val pairs = pairCounts(bk, basketCap, minSupport)
    val sup = bk.select(explode(col("__items")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("s"))
    val totals = bk.agg(count(lit(1)).as("n_baskets"))

    pairs
      .join(sup.select(col("p").as("p1"), col("s").as("s1")), "p1")
      .join(sup.select(col("p").as("p2"), col("s").as("s2")), "p2")
      .crossJoin(totals) // 1-row build side: a broadcast of one long
      .select(col("p1"), col("p2"), col("n"),
        (col("n").cast("double") * col("n_baskets") /
          (col("s1").cast("double") * col("s2").cast("double")))
          .as("lift"))
      .orderBy(desc("n"), col("p1"), col("p2"))
      .limit(topK)
  }

  /** Parts co-ordered in the same order at least twice, top 50 by
    * co-order count, with lift against the parts' independent order
    * frequencies. Strict hash gate: counts are exact and the lift is a
    * single identically-ordered double expression over exact longs. */
  def q148FrequentPairs(spark: SparkSession, dir: String): DataFrame =
    frequentPairs(Tables.lineitem(spark, dir), "l_orderkey", "l_partkey",
      minSupport = 2L, basketCap = 64, topK = 50)

  /** One batch of a MAINTAINED co-occurrence table: pair counts are
    * additive, so each batch counts ONLY its own (whole) baskets and
    * sums into the latest earlier version under the `batch_id` replay
    * discipline — the q135/q161 IVM shape for the pair miner. The batch
    * boundary must not split a basket (count additivity is per basket);
    * minSupport belongs at QUERY time, never per batch (a pair reaching
    * support 2 across two batches would be lost). */
  def basketMvBatch(batch: DataFrame, basketCol: String, itemCol: String,
      basketCap: Int, path: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val delta = pairCounts(baskets(batch, basketCol, itemCol, basketCap),
      basketCap, minSupport = 1L)
    val merged = graft.streaming.StreamOps
      .latestVersionBefore(spark, path, batchId) match {
      case None => delta
      case Some(v) =>
        spark.read.parquet(path).filter(col("batch_id") === v)
          .select("p1", "p2", "n")
          .unionByName(delta)
          .groupBy("p1", "p2").agg(sum(col("n")).as("n"))
    }
    merged.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
  }

  /** q148's top-50 answered from the maintained pair table after two
    * ingest batches (orders split by key parity — whole baskets per
    * batch). Supports and the basket total come from the batches'
    * union; the maintained counts are EXACTLY the from-scratch counts
    * (additivity), so the same strict hash gate as q148 applies — the
    * oracle recomputes everything from the raw table. */
  def q163BasketMv(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft-bktmv").toString
    basketMvBatch(li.filter(col("l_orderkey") % 2 === 0), "l_orderkey",
      "l_partkey", 64, path, 0L)
    basketMvBatch(li.filter(col("l_orderkey") % 2 === 1), "l_orderkey",
      "l_partkey", 64, path, 1L)
    val bk = baskets(li, "l_orderkey", "l_partkey", 64,
      metricName = "basket_cap_q163")
    val sup = bk.select(explode(col("__items")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("s"))
    val totals = bk.agg(count(lit(1)).as("n_baskets"))
    spark.read.parquet(path).filter(col("batch_id") === 1L)
      .filter(col("n") >= 2L)
      .join(sup.select(col("p").as("p1"), col("s").as("s1")), "p1")
      .join(sup.select(col("p").as("p2"), col("s").as("s2")), "p2")
      .crossJoin(totals)
      .select(col("p1"), col("p2"), col("n"),
        (col("n").cast("double") * col("n_baskets") /
          (col("s1").cast("double") * col("s2").cast("double")))
          .as("lift"))
      .orderBy(desc("n"), col("p1"), col("p2"))
      .limit(50)
  }

  /** Association rules from the frequent pairs: each supported pair in
    * BOTH directions antecedent → consequent, scored with the classic
    * triple — confidence n/s(a), lift n·N/(s(a)s(c)), and conviction
    * (1 − s(c)/N)/(1 − confidence) (how much more often the rule would
    * have to fail if antecedent and consequent were independent; null
    * for exact rules, where it diverges). Same basket machinery and
    * exact-count discipline as [[frequentPairs]]; every score is a
    * fixed-shape double over exact longs, the top-k order
    * (confidence desc, antecedent, consequent) is total. */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, basketCap: Int, topK: Int): DataFrame = {
    val bk = baskets(df, basketCol, itemCol, basketCap,
      metricName = "basket_cap_rules")
    val pairs = pairCounts(bk, basketCap, minSupport)
    val sup = bk.select(explode(col("__items")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("s"))
    val totals = bk.agg(count(lit(1)).as("n_baskets"))
    val both = pairs.select(col("p1").as("antecedent"),
        col("p2").as("consequent"), col("n"))
      .union(pairs.select(col("p2").as("antecedent"),
        col("p1").as("consequent"), col("n")))
    both
      .join(sup.select(col("p").as("antecedent"), col("s").as("sa")),
        "antecedent")
      .join(sup.select(col("p").as("consequent"), col("s").as("sc")),
        "consequent")
      .crossJoin(totals) // 1-row build side
      .select(col("antecedent"), col("consequent"), col("n"),
        (dd(col("n")) / dd(col("sa"))).as("confidence"),
        (dd(col("n")) * col("n_baskets") / (dd(col("sa")) * dd(col("sc"))))
          .as("lift"),
        when(col("n") === col("sa"), lit(null).cast("double"))
          .otherwise((lit(1.0) - dd(col("sc")) / dd(col("n_baskets"))) /
            (lit(1.0) - dd(col("n")) / dd(col("sa")))).as("conviction"))
      .orderBy(desc("confidence"), col("antecedent"), col("consequent"))
      .limit(topK)
  }

  /** Top part-to-part recommendation rules by confidence from the ≥ 2
    * co-order pairs. */
  def q273AssociationRules(spark: SparkSession, dir: String): DataFrame =
    associationRules(Tables.lineitem(spark, dir), "l_orderkey",
      "l_partkey", minSupport = 2L, basketCap = 64, topK = 50)

  private val pairsSql: String =
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |tot AS (SELECT COUNT(DISTINCT o) AS n_baskets FROM op),
      |sup AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS s FROM op GROUP BY p),
      |pr AS (
      |  SELECT a.p AS p1, b.p AS p2, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT pr.p1, pr.p2, pr.cnt AS n,
      |  CAST(pr.cnt AS DOUBLE) * tot.n_baskets
      |    / (CAST(s1.s AS DOUBLE) * CAST(s2.s AS DOUBLE)) AS lift
      |FROM pr
      |JOIN sup s1 ON pr.p1 = s1.p
      |JOIN sup s2 ON pr.p2 = s2.p
      |CROSS JOIN tot
      |ORDER BY n DESC, pr.p1, pr.p2 LIMIT 50""".stripMargin

  private val rulesSql: String =
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |tot AS (SELECT COUNT(DISTINCT o) AS n_baskets FROM op),
      |sup AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS s FROM op GROUP BY p),
      |pr AS (
      |  SELECT a.p AS p1, b.p AS p2, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |rl AS (
      |  SELECT p1 AS antecedent, p2 AS consequent, cnt FROM pr
      |  UNION ALL SELECT p2, p1, cnt FROM pr)
      |SELECT b.antecedent, b.consequent, b.cnt AS n,
      |  CAST(b.cnt AS DOUBLE) / CAST(sa.s AS DOUBLE) AS confidence,
      |  CAST(b.cnt AS DOUBLE) * tot.n_baskets
      |    / (CAST(sa.s AS DOUBLE) * CAST(sc.s AS DOUBLE)) AS lift,
      |  CASE WHEN b.cnt = sa.s THEN NULL
      |    ELSE (1.0 - CAST(sc.s AS DOUBLE) / CAST(tot.n_baskets AS DOUBLE))
      |      / (1.0 - CAST(b.cnt AS DOUBLE) / CAST(sa.s AS DOUBLE)) END
      |    AS conviction
      |FROM rl b
      |JOIN sup sa ON b.antecedent = sa.p
      |JOIN sup sc ON b.consequent = sc.p
      |CROSS JOIN tot
      |ORDER BY confidence DESC, b.antecedent, b.consequent
      |LIMIT 50""".stripMargin

  val declared: Map[String, Query] = Map(
    // maintained counts are exactly the from-scratch counts (additive
    // per-basket increments), so the q148 oracle applies verbatim
    "q163_basket_mv" -> Query(q163BasketMv, pairsSql),
    "q148_frequent_pairs" -> Query(q148FrequentPairs, pairsSql),
    "q273_association_rules" -> Query(q273AssociationRules, rulesSql))
}
