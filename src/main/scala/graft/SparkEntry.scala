package graft

import graft.operators.{AsOf, Audit, Basket, Behavior, Cdc, Dedup, Graph, Layout, Linkage, Ml, Multimodal, Mv, Query, Relational, RuntimeFilter, Sampling, Similarity, SketchQueries, Skew, Skyline, Stats, TextAnalysis}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §7.
  *
  * `declared` is the engine's query catalog (SURVEY §2): each entry pairs
  * an operator's builder with the DuckDB SQL it is hash-checked against
  * at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's signature capability: grouped approximate distinct
    * counts from mergeable HLL sketches. */
  def entry(spark: SparkSession): DataFrame = {
    GraftFunctions.register(spark)
    sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy("l_returnflag")
      .agg(GraftFunctions.approx_distinct(col("l_orderkey")).as("d"))
      .select(col("l_returnflag"), col("d.cardinality").as("approx_orders"))
  }

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Numbering note: q39/q54/q55/q58/q59 were never declared — the numbers
    * were skipped during rounds 3–4 planning and the gaps are kept stable so
    * query names stay comparable across rounds' CORRECTNESS/BENCH artifacts.
    * q417/q418/q419 were reserved in round 11 for ops (conformal quantile,
    * degree assortativity, CUPED) that turned out to duplicate q245/q208/
    * q250 and were dropped. They are not missing operators. */
  val declared: Map[String, Query] =
    Relational.declared ++ SketchQueries.declared ++ TextAnalysis.declared ++
      Dedup.declared ++ Similarity.declared ++ Multimodal.declared ++
      AsOf.declared ++ RuntimeFilter.declared ++ Sampling.declared ++
      Skew.declared ++ Layout.declared ++ Cdc.declared ++ Audit.declared ++
      Behavior.declared ++ Linkage.declared ++ Skyline.declared ++
      Graph.declared ++ Mv.declared ++ Basket.declared ++ Stats.declared ++
      Ml.declared

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map { case (name, q) => name -> q.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] =
    declared.map { case (name, q) => name -> q.oracle }
}
