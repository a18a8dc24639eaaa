package graft.operators

import graft.sources.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manual skew-mitigation for shuffle joins: salt the skewed (fact) side into
  * `nSalts` sub-keys and replicate the other side across all salts, so one
  * hot key spreads over `nSalts` reducers instead of one straggler task.
  *
  * Spark's AQE skew-join handles most cases at runtime (splitting oversized
  * partitions); this operator is for the pathological key — e.g. a null-ish
  * default id owning 10% of a 100 TB fact table — where pre-spreading beats
  * post-hoc splitting, and for engines/paths where AQE is off. Salt
  * assignment is round-robin per input partition position; which salt a row
  * gets never affects the join result, only its placement.
  */
object Skew {

  /** Inner/left join `fact ⋈ dim` on `key`, salting the fact side.
    * `dim` is replicated `nSalts`× — keep it the small side. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      nSalts: Int, joinType: String = "inner"): DataFrame = {
    require(nSalts >= 1, s"nSalts must be >= 1, got $nSalts")
    val salted = fact.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(nSalts.toLong)).cast("int"))
    val replicated = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Weighted event totals through a SALTED join: `events` is genuinely
    * skewed on `event_type` (5 values over the whole table — every key is
    * hot, so an unsalted shuffle join puts all rows on 5 reducers no matter
    * the cluster width), the 5-row dim rides along replicated `nSalts`×.
    * The salt provably never changes the result — which is exactly what the
    * oracle checks: DuckDB computes the plain unsalted join + GROUP BY.
    * Sums anchor to DECIMAL before the final double so the hash gate is
    * order-independent (same pattern as q64). */
  def q73SaltedSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val dim = events.select(col("event_type")).distinct()
      .withColumn("w", length(col("event_type")).cast("long"))
    Skew.saltedJoin(events, dim, "event_type", nSalts = 8)
      .groupBy("event_type", "w")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("__sv"))
      .select(col("event_type"), col("n_events"),
        (col("__sv").cast("double") * col("w")).as("weighted"))
      .orderBy("event_type")
  }

  /** Skew PROFILE of a prospective join/shuffle key: distinct keys, the
    * hottest key's share, and the salting factor [[saltedJoin]] would
    * need to spread that key across average-sized reducer units
    * (`ceil(max_n / avg_n)`). One aggregation per key column — the
    * measurement a 100 TB job runs BEFORE picking a join strategy, so
    * the straggler is priced from a scan instead of discovered at hour
    * three of the shuffle. */
  def skewProfile(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "skewProfile needs at least one key column")
    keyCols.map { kc =>
      df.groupBy(col(kc).as("k")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_keys"), sum("n").as("n_rows"),
          max("n").as("max_n"))
        .select(lit(kc).as("key_col"), col("n_rows"), col("n_keys"),
          col("max_n"),
          (col("max_n").cast("double") / col("n_rows").cast("double"))
            .as("max_share"),
          ceil(col("max_n").cast("double") /
            (col("n_rows").cast("double") / col("n_keys").cast("double")))
            .cast("long").as("rec_salts"))
    }.reduce(_ unionByName _)
  }

  /** Join-key skew report over the events stream: `event_type` (5 keys —
    * pathologically hot, every key ~20%) vs `user_id` (near-uniform,
    * rec_salts 1-ish). Strict hash gate; the shares and the ceil ride
    * exactly-rounded divisions of exact counts. */
  def q140SkewProfile(spark: SparkSession, dir: String): DataFrame =
    skewProfile(Tables.events(spark, dir), Seq("event_type", "user_id"))
      .orderBy("key_col")

  val declared: Map[String, Query] = Map(
    "q73_salted_skew_join" -> Query(q73SaltedSkewJoin,
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * LENGTH(event_type) AS weighted
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q140_skew_profile" -> Query(q140SkewProfile,
      """WITH et AS (
        |  SELECT COUNT(*) AS n FROM events GROUP BY event_type),
        |uid AS (
        |  SELECT COUNT(*) AS n FROM events GROUP BY user_id),
        |p AS (
        |  SELECT 'event_type' AS key_col, CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys, CAST(MAX(n) AS BIGINT) AS max_n
        |  FROM et
        |  UNION ALL
        |  SELECT 'user_id', CAST(SUM(n) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT), CAST(MAX(n) AS BIGINT)
        |  FROM uid)
        |SELECT key_col, n_rows, n_keys, max_n,
        |  CAST(max_n AS DOUBLE) / CAST(n_rows AS DOUBLE) AS max_share,
        |  CAST(CEIL(CAST(max_n AS DOUBLE) /
        |    (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))) AS BIGINT)
        |    AS rec_salts
        |FROM p ORDER BY key_col""".stripMargin))
}
