package graft

import org.apache.spark.sql.SparkSession

/** The engine's one way to build a session: `Bench`, `Verify`, the dev tools
  * and the tests all start here, so every entry point runs the queries under
  * the same confs. A session the engine did not build (a cluster app, the
  * one handed to `SparkEntry.entry`) calls [[GraftFunctions.register]]
  * itself or is built with `spark.sql.extensions=graft.GraftExtensions`.
  */
object Session {

  /** A `local[cpus]` session with `cpus` shuffle partitions and every engine
    * SQL function registered.
    *
    * `getOrCreate` hands back a session that is already running without
    * applying builder extensions, so the functions are registered on the
    * returned session rather than injected through `withExtensions`. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // timestamps written to parquet (Verify's dumps, the stores queries
      // write and read back) are INT64 micros, not the legacy INT96
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    sources.Tables.configure(spark)
    spark.sparkContext.setLogLevel("WARN")
    // The between-query Checkpoints.freeAll sweep logs one
    // "WARN MapPartitionsRDD: … cannot be recomputed after unpersisting" per
    // freed block: expected and harmless (frames rebuild from parquet), but
    // over a full Bench run it floods stderr and buries the JSON output line.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    GraftFunctions.register(spark)
    spark
  }
}
