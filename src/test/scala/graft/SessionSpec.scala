package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins what [[Session.local]] sets on the session every entry point runs
  * under; `TestSpark` gets its session from the same factory. */
class SessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("Session.local sets the engine's confs") {
    assert(spark.sparkContext.master == "local[4]")
    val expected = Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      // Bench set this explicitly before the factory; Spark's default keeps it
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false")
    expected.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("Session.local sessions come with every engine SQL function registered") {
    val missing = GraftFunctions.sqlFunctions.map(_._1)
      .filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"unregistered: $missing")
  }
}
