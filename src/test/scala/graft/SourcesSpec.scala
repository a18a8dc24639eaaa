package graft

import graft.sources.Tables

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink coverage (SURVEY §2b "scans / sources / sinks"): every
  * format the engine claims round-trips its data — parquet (primary),
  * ORC, CSV, JSON — through DataFrameWriter/DataFrameReader. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-src").toString

  private lazy val sample = Tables.orders(spark, sf)
    .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  private def fingerprint(df: org.apache.spark.sql.DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  test("parquet round-trip") {
    val dir = tmp()
    sample.write.mode(SaveMode.Overwrite).parquet(dir)
    assert(fingerprint(spark.read.parquet(dir)).sameElements(fingerprint(sample)))
  }

  test("orc round-trip") {
    val dir = tmp()
    sample.write.mode(SaveMode.Overwrite).orc(dir)
    assert(fingerprint(spark.read.orc(dir)).sameElements(fingerprint(sample)))
  }

  test("csv round-trip with header and explicit schema") {
    val dir = tmp()
    sample.write.mode(SaveMode.Overwrite).option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(sample.schema).csv(dir)
    assert(fingerprint(back).sameElements(fingerprint(sample)))
  }

  test("json round-trip with explicit schema") {
    val dir = tmp()
    sample.write.mode(SaveMode.Overwrite).json(dir)
    val back = spark.read.schema(sample.schema).json(dir)
    assert(fingerprint(back).sameElements(fingerprint(sample)))
  }

  test("Tables.load normalizes every timestamp fixture flavor to TimestampType") {
    import org.apache.spark.sql.types._
    // The driver's fixtures have shipped events.ts as parquet TIMESTAMP(NANOS)
    // (reads as Long under nanosAsLong) and as TIMESTAMP(MICROS, ntz). Both
    // flavors must surface as plain TimestampType with identical epoch micros,
    // or every ts consumer (q23/q36-38/q67/q68/q88/q100) breaks on a fixture
    // regeneration — exactly the round-7 regression.
    val micros = Seq(1704067200000000L, 1704070800123456L, 1735689599999999L)
    val rows = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
    val base = spark.createDataFrame(rows).toDF("event_id", "us")

    val ntzDir = tmp()
    base.select(col("event_id"),
        // timestamp_micros first: a Long cast straight to a timestamp type is
        // interpreted as epoch SECONDS. TZ→NTZ is identity under the UTC session.
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode(SaveMode.Overwrite).parquet(ntzDir + "/events.parquet")

    val nanosDir = tmp()
    base.select(col("event_id"), (col("us") * 1000L).as("ts"))
      .write.mode(SaveMode.Overwrite).parquet(nanosDir + "/events.parquet")

    for (dir <- Seq(ntzDir, nanosDir)) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType,
        s"$dir: got ${ev.schema("ts").dataType}")
      val got = ev.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == micros.sorted, s"$dir: micros drifted")
    }
  }

  test("every ts-consuming declared query runs identically on NTZ-micros and long-nanos fixtures") {
    import org.apache.spark.sql.types._
    // Re-encode sf0.001's events table in BOTH timestamp flavors the driver
    // has shipped, alongside the other tables, and run every declared query
    // that consumes events.ts. Row counts must agree across flavors (the
    // values agree because Tables.load normalizes both to the same micros).
    val tsQueries = Seq("q23_asof_join", "q36_windowed_approx_users",
      "q37_sessions", "q38_running_approx_users", "q67_windowed_topk",
      "q68_interval_join", "q88_time_range_window", "q100_resample_locf",
      "q117_sliding_sketch_window")
    val real = Tables.events(spark, sf)  // already normalized TimestampType
    def fixtureDir(encode: org.apache.spark.sql.Column): String = {
      val dir = tmp()
      for (t <- Seq("lineitem", "orders", "customer", "supplier", "part",
          "nation", "region", "documents", "embeddings"))
        spark.read.parquet(s"$sf/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$t.parquet")
      real.withColumn("ts", encode)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
      dir
    }
    val ntzDir = fixtureDir(col("ts").cast(TimestampNTZType))
    val nanosDir = fixtureDir((unix_micros(col("ts")) * 1000L).as("ts"))
    for (q <- tsQueries) {
      val nNtz = SparkEntry.queries(q)(spark, ntzDir).count()
      val nNanos = SparkEntry.queries(q)(spark, nanosDir).count()
      assert(nNtz == nNanos, s"$q: ntz=$nNtz nanos=$nNanos — fixture-flavor drift")
      // q68's 2-minute interval join is legitimately empty at sf0.001
      assert(nNtz > 0 || q == "q68_interval_join", s"$q: empty result")
    }
  }

  test("binary sketch columns survive a parquet store-and-merge cycle") {
    import GraftFunctions._
    val dir = tmp()
    Tables.lineitem(spark, sf)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(approx_distinct(col("l_orderkey")).as("sk"))
      .write.mode(SaveMode.Overwrite).parquet(dir)
    val merged = spark.read.parquet(dir)
      .agg(approx_distinct(col("sk")).as("d"))
      .select(col("d.cardinality")).head().getLong(0)
    val oneShot = Tables.lineitem(spark, sf)
      .agg(approx_distinct(col("l_orderkey")).as("d"))
      .select(col("d.cardinality")).head().getLong(0)
    assert(merged == oneShot)
  }

  test("Tables.load infers the schema again after a same-path rewrite") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    Seq((2.5, 7, true)).toDF("x", "y", "z").write.mode(SaveMode.Overwrite).parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir, "t")
    assert(again.columns.toSeq == Seq("x", "y", "z"))
    assert(again.collect().toSeq == Seq(org.apache.spark.sql.Row(2.5, 7, true)))
  }
}
