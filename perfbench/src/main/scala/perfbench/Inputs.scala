package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Seeded in-memory inputs for the sketch workloads: `spark.range` plus a
  * seeded 64-bit hash per row, no parquet I/O. Each row carries
  *   - `g`: group id (`id mod groups`), `bucket`: sub-group for stored sketches;
  *   - `key`: the hash reduced to [[KeySpace]] values (distinct counting,
  *     frequencies), so keys repeat and the exact distinct count is below
  *     the row count;
  *   - `v`: a positive double in [1, 1001) (quantile families);
  *   - `item`: a log-uniform (heavily skewed) string over 4096 names
  *     (heavy hitters).
  * The same seed always gives the same rows. [[foreachRow]] generates the
  * same rows on the driver, for the exact facts the correctness checks use. */
object Inputs {
  val KeySpace: Long = 1L << 21
  /** Item indices lie in [1, 4096). */
  val ItemCount: Int = 4096

  def frame(spark: SparkSession, rows: Long, groups: Int, buckets: Int,
      seed: Long, parts: Int): DataFrame = {
    val h = col("h")
    spark.range(0L, rows, 1L, parts)
      .select(col("id"), xxhash64(col("id"), lit(seed)).as("h"))
      .select(
        (col("id") % groups).cast("int").as("g"),
        // contiguous ids share a bucket, so a partition of the range holds
        // few (group, bucket) pairs
        (col("id") / math.max(1L, rows / buckets)).cast("int").as("bucket"),
        pmod(h, lit(KeySpace)).as("key"),
        ((pmod(shiftright(h, 20), lit(1000000L)) + 1000L) / 1000.0).as("v"),
        concat(lit("item"), floor(pow(lit(2.0),
          pmod(shiftright(h, 40), lit(4096L)) / 4096.0 * 12.0)).cast("long")).as("item"))
  }

  /** Calls `f(h)` with the seeded hash of each row of group `g` of
    * [[frame]] (ids `g`, `g + groups`, ... below `n`), computed on the driver
    * with the same formulas (Spark's `xxhash64` folds each column into the
    * running hash, seed 42); `key`, `value` and `itemIndex` derive the
    * columns from `h`. */
  def foreachRow(n: Long, groups: Int, g: Int, seed: Long)(f: Long => Unit): Unit = {
    var id = g.toLong
    while (id < n) {
      f(XXH64.hashLong(seed, XXH64.hashLong(id, 42L)))
      id += groups
    }
  }

  /** `facts(g)` for every group, computed in parallel on the driver. */
  def perGroup[T](groups: Int)(facts: Int => T): IndexedSeq[T] = {
    val out = new Array[Any](groups)
    java.util.stream.IntStream.range(0, groups).parallel().forEach(g => out(g) = facts(g))
    out.toIndexedSeq.map(_.asInstanceOf[T])
  }

  def key(h: Long): Long = Math.floorMod(h, KeySpace)
  def value(h: Long): Double = (Math.floorMod(h >> 20, 1000000L) + 1000L) / 1000.0
  def itemIndex(h: Long): Int =
    StrictMath.floor(StrictMath.pow(2.0, Math.floorMod(h >> 40, 4096L) / 4096.0 * 12.0)).toInt
  def itemName(i: Int): String = s"item$i"

  /** `n` seeded 64-bit hashes (SplitMix64), the kernel timings' input. */
  def hashes(n: Int, seed: Long): Array[Long] = {
    val r = new java.util.SplittableRandom(seed)
    Array.fill(n)(r.nextLong())
  }
}

/** Exact facts about one group of a generated input. */
final class Exact(val keys: mutable.LongMap[Long], sortedV: Array[Double], items: Array[Long]) {
  def n: Long = sortedV.length.toLong
  def distinct: Long = keys.size.toLong
  def f2: Double = keys.valuesIterator.map(c => c.toDouble * c).sum
  /** Values below `t`. */
  def below(t: Double): Long = search(t, inclusive = false)
  /** Values at most `t`. */
  def atMost(t: Double): Long = search(t, inclusive = true)
  def itemCount(item: String): Long = item.stripPrefix("item").toIntOption match {
    case Some(i) if item.startsWith("item") && i >= 0 && i < items.length => items(i)
    case _ => 0L
  }

  private def search(t: Double, inclusive: Boolean): Long = {
    var lo = 0
    var hi = sortedV.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sortedV(mid) < t || (inclusive && sortedV(mid) == t)) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }
}

object Exact {
  def of(n: Long, groups: Int, seed: Long): Map[Int, Exact] =
    Inputs.perGroup(groups) { g =>
      val keys = new mutable.LongMap[Long]()
      val vs = mutable.ArrayBuilder.make[Double]
      val items = new Array[Long](Inputs.ItemCount)
      Inputs.foreachRow(n, groups, g, seed) { h =>
        val key = Inputs.key(h)
        keys(key) = keys.getOrElse(key, 0L) + 1
        vs += Inputs.value(h)
        items(Inputs.itemIndex(h)) += 1
      }
      val v = vs.result()
      java.util.Arrays.sort(v)
      new Exact(keys, v, items)
    }.zipWithIndex.map(_.swap).toMap

  /** Exact distinct keys per group alone, with a bitmap over the key space:
    * cheap enough for tables too large for [[of]]. */
  def distinct(n: Long, groups: Int, seed: Long): Map[Int, Long] =
    Inputs.perGroup(groups) { g =>
      val seen = new java.util.BitSet(Inputs.KeySpace.toInt)
      Inputs.foreachRow(n, groups, g, seed)(h => seen.set(Inputs.key(h).toInt))
      seen.cardinality.toLong
    }.zipWithIndex.map(_.swap).toMap
}
