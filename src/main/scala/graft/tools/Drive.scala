package graft.tools

import graft.GraftFunctions
import graft.sources.Tables

import org.apache.spark.sql.functions._

/** Dev smoke CLI: drives the engine's public surface (SQL registration,
  * DataFrame API, re-aggregation, error paths) against a scale-factor dir.
  * Usage: sbt "runMain graft.tools.Drive /root/testdata/sf0.001"
  */
object Drive {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(4)
    import GraftFunctions._

    val li = Tables.lineitem(spark, sf)
    li.createOrReplaceTempView("lineitem")

    println("== SQL: global approx_distinct ==")
    spark.sql("SELECT approx_distinct(l_orderkey) AS d FROM lineitem").select("d.*").show(false)

    println("== SQL: grouped, hll + lc variants ==")
    spark.sql(
      """SELECT l_returnflag,
        |       approx_distinct(l_orderkey).cardinality AS est,
        |       approx_distinct(l_orderkey, 'lc', 65536).cardinality AS est_lc,
        |       count(DISTINCT l_orderkey) AS exact
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin).show(false)

    println("== DataFrame API: re-agg of stored daily sketches ==")
    val daily = li.groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(approx_distinct(col("l_orderkey")).as("sk"))
    daily.agg(approx_distinct(col("sk")).as("d"))
      .select(col("d.cardinality").as("merged_est")).show(false)

    println("== probe: bad algo literal ==")
    try spark.sql("SELECT approx_distinct(l_orderkey, 'bogus') FROM lineitem").collect()
    catch { case e: Exception => println("ERROR(expected): " + e.getMessage.linesIterator.next()) }

    println("== probe: 4-arg call (the reference accepted this by an off-by-one bug) ==")
    try spark.sql("SELECT approx_distinct(l_orderkey, 'hll', 12, 99) FROM lineitem").collect()
    catch { case e: Exception => println("ERROR(expected): " + e.getMessage.linesIterator.next()) }

    println("== probe: sketch_union of mismatched precisions ==")
    try spark.sql(
      """SELECT sketch_union(approx_distinct(l_orderkey,'hll',12).binary,
        |                    approx_distinct(l_orderkey,'hll',14).binary)
        |FROM lineitem""".stripMargin).collect()
    catch { case e: Exception => println("ERROR(expected): " + e.getMessage.linesIterator.next()) }

    println("== SQL: the other sketch families (frequency / quantile / membership) ==")
    spark.sql(
      """SELECT explode(approx_top_k(l_returnflag, 3, 64)) AS hh FROM lineitem""")
      .select("hh.*").show(false)
    spark.sql(
      """SELECT approx_quantiles(l_quantity, array(0.5D, 0.95D)) AS q,
        |       percentile(l_quantity, 0.5) AS exact_p50
        |FROM lineitem""".stripMargin).show(false)
    // a plain SQL 0.01 is a DECIMAL literal; alpha reads any numeric literal
    spark.sql(
      """SELECT dd_quantiles(l_extendedprice, array(0.5D, 0.95D), 0.01) AS dd_q,
        |       percentile(l_extendedprice, 0.5) AS exact_p50
        |FROM lineitem""".stripMargin).show(false)
    spark.sql(
      """SELECT count(*) AS bloom_hits FROM lineitem
        |WHERE might_contain((SELECT bloom_agg(l_orderkey, 65536, 7)
        |                     FROM lineitem WHERE l_orderkey < 100), l_orderkey)
        |""".stripMargin).show(false)
    spark.sql(
      """SELECT l_returnflag AS k,
        |  cm_estimate((SELECT cm_sketch_agg(l_returnflag) FROM lineitem), l_returnflag) AS cm_est,
        |  COUNT(*) AS exact
        |FROM lineitem GROUP BY l_returnflag ORDER BY k""".stripMargin).show(false)

    println("== probe: approx_top_k capacity < k ==")
    try spark.sql("SELECT approx_top_k(l_returnflag, 10, 5) FROM lineitem").collect()
    catch { case e: Exception => println("ERROR(expected): " + e.getMessage.linesIterator.next()) }

    println("== probe: non-integral literal for an integral parameter ==")
    try spark.sql("SELECT approx_top_k(l_returnflag, 2.5) FROM lineitem").collect()
    catch { case e: Exception => println("ERROR(expected): " + e.getMessage.linesIterator.next()) }

    println("== physical plan of grouped sketch agg ==")
    li.groupBy("l_returnflag").agg(approx_distinct(col("l_orderkey"))).explain()

    println("== streaming: windowed approx_distinct over a rate source ==")
    val rate = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
      .select(col("timestamp").as("ts"),
        (col("value") % 7).as("user_id"),
        when(col("value") % 2 === 0, "click").otherwise("view").as("event_type"),
        lit(1.0).as("value"))
    val sq = graft.streaming.StreamOps
      .windowedApproxDistinct(rate, "ts", "event_type", "user_id", "10 seconds")
      .writeStream.outputMode("update").format("memory").queryName("drive_stream").start()
    Thread.sleep(3000)
    sq.processAllAvailable()
    sq.stop()
    spark.sql(
      """SELECT event_type, MAX(n_distinct) AS n FROM drive_stream
        |GROUP BY event_type ORDER BY event_type""".stripMargin).show(false)

    spark.stop()
  }
}
