package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DecimalType, TimestampType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Driver-hashable output contract, enforced at the ONE seam the gate
    * reads. The driver hashes *rendered* values, so two dtype flavors can
    * never match the DuckDB oracle no matter how exact the math is
    * (VERDICT r8, classes 1–2, 15 red rows):
    *   - tz-aware TIMESTAMP (Spark's `TimestampType` writes parquet
    *     isAdjustedToUTC=true; the oracle's timestamps are naive) → cast
    *     to `timestamp_ntz`. Session tz is pinned UTC, so the cast is a
    *     type-tag change on identical micros — the exact inverse of the
    *     NTZ→TZ input normalization in [[graft.sources.Tables.load]].
    *   - DECIMAL (driver renders fixed-scale trailing zeros; the oracle
    *     side arrives as float64) → cast to `double`. The driver's hash
    *     rounds doubles (≥1e-12 rel tolerance proven), which absorbs the
    *     cross-engine ulp that motivates exact-decimal *internal* math —
    *     keep decimals inside operators, never in a declared output.
    * Oracle SQL must match: naive timestamps and CAST(… AS DOUBLE) /
    * CAST(… AS BIGINT) on every computed column (compare_oracle.py is
    * dtype-strict since round 9 and red-flags any violation). */
  private[graft] def hashableOutput(df: DataFrame): DataFrame = {
    val fixes = df.schema.fields.toSeq.collect {
      case f if f.dataType == TimestampType =>
        f.name -> col(f.name).cast("timestamp_ntz")
      case f if f.dataType.isInstanceOf[DecimalType] =>
        f.name -> col(f.name).cast("double")
    }
    fixes.foldLeft(df) { case (d, (c, e)) => d.withColumn(c, e) }
  }

  /** Renders `m` as one JSON object. Escapes backslash, quote and ALL
    * control chars (<0x20): a tab or CR in an oracle's SQL would otherwise
    * make `compare_oracle.py`'s json.load fail and zero the whole check. */
  private[graft] def oracleJson(m: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (fast local iteration;
    // the driver always runs the full map)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local(Bench.parseCpus(sys.env.get("SPARK_GRAFT_CPUS")))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // stderr marker BEFORE each query so any engine warning between two
      // markers (e.g. WindowExec "No Partition Defined") is attributable
      // to a specific query when auditing a full run log
      System.err.println(s"[verify] start $name")
      try hashableOutput(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally
        // between-query checkpoint-block sweep (see Bench.runOnce)
        graft.plans.Checkpoints.freeAll(spark)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }
}
