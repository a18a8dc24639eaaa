package graft

import graft.sketch.{KllDoubles, SketchMergeException}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** KLL quantile sketch: rank-error envelope across data shapes, merge law,
  * wire format, and the approx_quantiles / kll_sketch_agg / kll_merge_agg
  * Catalyst wiring. The q65/q66 gates assert ε = 0.04; these tests assert
  * a tighter envelope so the gate carries ≳3× margin. */
class KllSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private val testEps = 0.013 // ~1/k at k=256 with slack; gate uses 0.04

  private def maxRankError(data: Array[Double], s: KllDoubles): Double = {
    val sorted = data.sorted
    val n = sorted.length
    (1 to 99).map { pct =>
      val q = pct / 100.0
      val v = s.quantile(q)
      // true rank interval of v in the data
      val rLe = sorted.count(_ <= v).toDouble / n
      val rLt = sorted.count(_ < v).toDouble / n
      // distance from q to the interval [rLt, rLe]
      if (q < rLt) rLt - q else if (q > rLe) q - rLe else 0.0
    }.max
  }

  test("rank error within envelope: uniform, sorted, reversed, duplicate-heavy") {
    val rnd = new scala.util.Random(17)
    val shapes: Seq[(String, Array[Double])] = Seq(
      ("uniform", Array.fill(200000)(rnd.nextDouble())),
      ("sorted", (1 to 200000).map(_.toDouble).toArray),
      ("reversed", (200000 to 1 by -1).map(_.toDouble).toArray),
      ("dupes", Array.fill(200000)((rnd.nextInt(50) + 1).toDouble)))
    shapes.foreach { case (name, data) =>
      val s = new KllDoubles(256)
      data.foreach(s.update)
      val err = maxRankError(data, s)
      assert(err <= testEps, s"$name: max rank error $err > $testEps")
      assert(s.retained < 3000, s"$name: retained ${s.retained} items (space blowup)")
    }
  }

  test("small inputs are exact (no compaction below capacity)") {
    val data = Array(5.0, 1.0, 9.0, 3.0, 7.0)
    val s = new KllDoubles(256)
    data.foreach(s.update)
    assert(s.quantile(0.0) == 1.0)
    assert(s.quantile(0.5) == 5.0)
    assert(s.quantile(1.0) == 9.0)
  }

  test("merge of split streams keeps the envelope; mixed k adopts the smaller") {
    val rnd = new scala.util.Random(23)
    val data = Array.fill(300000)(rnd.nextGaussian() * 100)
    val parts = data.grouped(50000).toSeq
    val sketches = parts.map { p => val s = new KllDoubles(256); p.foreach(s.update); s }
    val merged = sketches.reduce { (a, b) => a.mergeInPlace(b); a }
    assert(merged.n == data.length)
    val err = maxRankError(data, merged)
    assert(err <= testEps, s"merged max rank error $err > $testEps")
    // two vintages of one store (k reconfigured 256 -> 64 mid-stream):
    // the merge adopts min k and must satisfy the min-k rank-error bound
    val eps64 = testEps * 4 // eps ~ 1/k, and min k is 4x smaller here
    for ((kA, kB) <- Seq((256, 64), (64, 256))) {
      val a = new KllDoubles(kA)
      val b = new KllDoubles(kB)
      data.take(150000).foreach(a.update)
      data.drop(150000).foreach(b.update)
      a.mergeInPlace(b)
      assert(a.k == 64, s"merged k ${a.k}")
      assert(a.n == data.length)
      val e2 = maxRankError(data, a)
      assert(e2 <= eps64, s"mixed-k($kA,$kB) max rank error $e2 > $eps64")
    }
  }

  test("serialization round-trips mid-stream; corrupted payloads fail cleanly") {
    val rnd = new scala.util.Random(29)
    val s = new KllDoubles(256)
    (1 to 100000).foreach(_ => s.update(rnd.nextDouble()))
    val bytes = s.serialize()
    val back = KllDoubles.deserialize(bytes)
    assert(back.n == s.n)
    (1 to 99).foreach { p => assert(back.quantile(p / 100.0) == s.quantile(p / 100.0)) }
    back.update(0.5) // keeps working after revival
    val junk = bytes.clone(); junk(0) = 0x00
    intercept[SketchMergeException](KllDoubles.deserialize(junk))
    intercept[Exception](KllDoubles.deserialize(bytes.take(9)))
  }

  test("approx_quantiles via SQL: envelope vs exact percentile") {
    val rnd = new scala.util.Random(31)
    val data = Array.fill(100000)(rnd.nextDouble() * 1000)
    data.toSeq.toDF("x").createOrReplaceTempView("kll_vals")
    val Array(q25, q50, q95) = spark.sql(
      "SELECT approx_quantiles(x, array(0.25D, 0.5D, 0.95D)) FROM kll_vals")
      .collect()(0).getSeq[Double](0).toArray
    val sorted = data.sorted
    def trueRank(v: Double) = sorted.count(_ <= v).toDouble / data.length
    assert(math.abs(trueRank(q25) - 0.25) <= 0.04)
    assert(math.abs(trueRank(q50) - 0.50) <= 0.04)
    assert(math.abs(trueRank(q95) - 0.95) <= 0.04)
    // empty group => NULL
    assert(spark.sql(
      "SELECT approx_quantiles(x, array(0.5D)) FROM kll_vals WHERE x < 0")
      .collect()(0).isNullAt(0))
    // bad probs fail fast
    val err = intercept[Exception](spark.sql(
      "SELECT approx_quantiles(x, array(1.5D)) FROM kll_vals").collect())
    assert(err.getMessage.contains("[0,1]"))
  }

  test("store-then-merge equals the one-shot envelope") {
    val rnd = new scala.util.Random(37)
    val df = Seq.fill(60000)((rnd.nextInt(20), rnd.nextGaussian())).toDF("g", "x")
    val merged = df.groupBy("g")
      .agg(GraftFunctions.kll_sketch_agg($"x").as("sk"))
      .agg(GraftFunctions.kll_merge_agg($"sk", Seq(0.5)).as("qs"))
      .select(element_at($"qs", 1)).as[Double].head()
    // median of a standard gaussian: 0 ± (rank eps mapped through density)
    assert(math.abs(merged) < 0.15, s"merged median $merged")
  }

  private val codec = WireCodec[KllDoubles](_.serialize(), KllDoubles.deserialize,
    (a, b) => { a.mergeInPlace(b); a }, KllDoubles.mergeSerializedInto)

  /** The payload with every level's items shuffled: the layout of a build
    * that wrote levels in arrival order. */
  private def unsortedLayout(bytes: Array[Byte], rnd: scala.util.Random): Array[Byte] = {
    val out = bytes.clone()
    val bb = java.nio.ByteBuffer.wrap(out)
    var pos = 25
    for (_ <- 0 until bb.getInt(21)) {
      val sz = bb.getInt(pos)
      val items = rnd.shuffle((0 until sz).map(i => bb.getLong(pos + 4 + 8 * i)))
      items.zipWithIndex.foreach { case (v, i) => bb.putLong(pos + 4 + 8 * i, v) }
      pos += 4 + 8 * sz
    }
    out
  }

  test("wire merge == deserialize + mergeInPlace, bytes included: mixed k, old unsorted layout") {
    var mixedK = 0
    var unsorted = 0
    for (seed <- 1 to 40) {
      val rnd = new scala.util.Random(seed)
      def values(n: Int): Array[Double] = Array.fill(n)(rnd.nextInt(3) match {
        case 0 => rnd.nextGaussian() * 100
        case 1 => rnd.nextInt(20).toDouble // duplicates
        case _ => if (rnd.nextBoolean()) 0.0 else -0.0
      })
      val ks = Seq(8, 16, 64, 256)
      val (kA, kB) = (ks(rnd.nextInt(4)), ks(rnd.nextInt(4)))
      val (va, vb) = (values(rnd.nextInt(6000)), values(rnd.nextInt(6000)))
      def mkA() = { val s = new KllDoubles(kA); va.foreach(s.update); s }
      // b from merged parts, so its levels carry merged and compacted runs
      val b = vb.grouped(1000).map { p => val s = new KllDoubles(kB); p.foreach(s.update); s }
        .foldLeft(new KllDoubles(kB)) { (acc, s) => acc.mergeInPlace(s); acc }
      val bytes = b.serialize()
      val old = if (seed % 2 == 0) unsortedLayout(bytes, rnd) else bytes
      if (kA != kB) mixedK += 1
      if (!old.sameElements(bytes)) unsorted += 1
      val ctx = s"seed $seed: k $kA <- $kB, n ${va.length} <- ${vb.length}"
      codec.checkMerge(ctx, mkA _, old, bytes)
      // a decoded target (every level sorted) merges the same way
      codec.checkMerge(ctx + " (decoded target)", () => KllDoubles.deserialize(mkA().serialize()), old, bytes)
    }
    assert(mixedK > 10 && unsorted > 10, s"coverage: $mixedK mixed-k, $unsorted unsorted cases")
  }

  test("corrupt payloads are refused by the wire merge and leave the target unchanged") {
    val rnd = new scala.util.Random(41)
    val b = new KllDoubles(64)
    Seq.fill(3000)(rnd.nextGaussian()).foreach(b.update)
    val bytes = b.serialize()
    def target() = { val t = new KllDoubles(64); Seq.fill(500)(rnd.nextGaussian()).foreach(t.update); t }
    val badLevelSize = bytes.clone()
    java.nio.ByteBuffer.wrap(badLevelSize).putInt(25, 1 << 20)
    val badTag = bytes.clone(); badTag(0) = 0x44
    for ((what, bad) <- Seq("truncated" -> bytes.dropRight(1), "trailing byte" -> (bytes :+ 0.toByte),
        "level size" -> badLevelSize, "tag" -> badTag, "header only" -> bytes.take(9)))
      codec.checkRejected(what, target(), bad)
  }

  test("every level is written sorted") {
    val rnd = new scala.util.Random(43)
    val s = new KllDoubles(32)
    Seq.fill(5000)(rnd.nextDouble()).foreach(s.update)
    val bb = java.nio.ByteBuffer.wrap(s.serialize())
    var pos = 25
    for (lvl <- 0 until bb.getInt(21)) {
      val items = (0 until bb.getInt(pos)).map(i => bb.getDouble(pos + 4 + 8 * i))
      assert(items == items.sorted(Ordering.Double.TotalOrdering), s"level $lvl")
      pos += 4 + 8 * items.length
    }
  }
}
