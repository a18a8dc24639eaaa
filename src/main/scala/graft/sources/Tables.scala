package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Source layer: the engine reads the driver's parquet star schema
  * (TESTDATA.md / FIXTURES.md). The only normalization is timestamp flavor:
  * the driver's fixtures have shipped `events.ts` as parquet TIMESTAMP(NANOS)
  * (Spark refuses it by default, [PARQUET_TYPE_ILLEGAL] — we read nanos as
  * long via `spark.sql.legacy.parquet.nanosAsLong` and truncate to micros)
  * and later as TIMESTAMP(MICROS, isAdjustedToUTC=false) (surfaces as
  * TIMESTAMP_NTZ, which `unix_micros` and friends refuse). [[Tables.load]]
  * tolerates BOTH, for any column of any table, and always surfaces plain
  * `TimestampType`: the session timezone is pinned UTC, so the NTZ→TZ cast
  * preserves the underlying epoch micros bit-exactly.
  *
  * Everything else is a plain columnar parquet scan, so Catalyst's predicate
  * pushdown / column pruning / partition pruning apply untouched — at 100 TB
  * these scans are the dominant cost and must stay declarative.
  */
object Tables {
  /** Session configs the source layer depends on; safe to call repeatedly. */
  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the NTZ→TZ normalization in `load` is identity-on-micros iff UTC; every
    // entry point already pins this, but the source layer must not depend on it
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** Parquet schema catalog: one footer-inference per (path, file listing)
    * per JVM instead of one per scan. METADATA only (a StructType — the same
    * thing a metastore would hold), never data: every query still reads all
    * its rows from parquet on every invocation. With ~430 bench queries × 1–3
    * `load` calls each, driver-side footer inference was a measurable slice
    * of the per-query constant (guide §6 — give the reader the schema).
    * Each entry is keyed on the path's listing (name, length, modification
    * time of each file), so a path rewritten inside one JVM infers again. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  /** The listing of `path` as one string, or None if it does not exist. */
  private def listing(spark: SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val root = fs.getFileStatus(p)
      val files = if (root.isDirectory) fs.listStatus(p).toSeq.sortBy(_.getPath.getName) else Seq(root)
      Some(files.map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}").mkString(","))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    configure(spark)
    val path = s"$sfDir/$name.parquet"
    val schema = listing(spark, path) match {
      // missing: let the reader raise its usual PATH_NOT_FOUND
      case None => spark.read.parquet(path).schema
      case Some(files) => schemaCache.compute(path, (p, cached) =>
        if (cached != null && cached._1 == files) cached
        else (files, spark.read.parquet(p).schema))._2
    }
    val df = spark.read.schema(schema).parquet(path)
    val fixes: Seq[(String, Column)] = df.schema.fields.toSeq.collect {
      // NTZ micros → TZ micros: with spark.sql.session.timeZone=UTC the wall
      // clock IS the instant, so the cast is a type-tag change, not a shift.
      case f if f.dataType == TimestampNTZType =>
        f.name -> col(f.name).cast("timestamp")
      // legacy nanos-as-long fixture: integral `div`, NOT `/` — Divide casts
      // integrals to double, and 2024 epoch-nanos (~1.7e18) exceed double's
      // 2^53 exact range, so ~25% of values would come back off by 1 µs
      case f if name == "events" && f.name == "ts" && f.dataType == LongType =>
        f.name -> timestamp_micros(expr("ts div 1000"))
    }
    fixes.foldLeft(df) { case (d, (c, e)) => d.withColumn(c, e) }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
