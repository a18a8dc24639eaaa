package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

package object operators {

  /** One declared query: the builder that runs it on a session over a
    * table directory, and the DuckDB SQL that computes the same rows. */
  final case class Query(build: (SparkSession, String) => DataFrame,
                         oracle: String)

  /** The two casts of the engine's float discipline: exact DECIMAL(38,0)
    * integer sums, then one double finish. */
  private[graft] def dd(c: Column): Column = c.cast("double")
  private[graft] def d380(c: Column): Column = c.cast("decimal(38,0)")
}
