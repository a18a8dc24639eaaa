package graft

import graft.sketch.{DdSketch, SketchMergeException}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** DDSketch: the relative-error quantile guarantee, exact-deterministic
  * mergeability (stronger than KLL's randomized compaction), wire form,
  * and the SQL/DataFrame agg surface. */
class DdSketchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session

  // deterministic heavy-tailed values: exp of a fixed-seed gaussian —
  // the latency-shaped workload DDSketch exists for
  private def lognormalish(n: Int): Array[Double] = {
    val rnd = new scala.util.Random(42)
    Array.fill(n)(math.exp(rnd.nextGaussian() * 1.5 + 3.0))
  }

  private def exactQuantile(sorted: Array[Double], q: Double): Double =
    sorted(math.max(0, math.ceil(q * sorted.length).toInt - 1))

  test("relative-error guarantee holds across quantiles and alphas") {
    val vs = lognormalish(20000)
    val sorted = vs.sorted
    for (alpha <- Seq(0.01, 0.05)) {
      val s = new DdSketch(alpha)
      vs.foreach(s.update)
      for (q <- Seq(0.01, 0.25, 0.5, 0.9, 0.95, 0.99, 0.999)) {
        val est = s.quantile(q)
        val ex = exactQuantile(sorted, q)
        assert(math.abs(est - ex) <= alpha * ex * 1.0000001,
          s"alpha=$alpha q=$q est=$est exact=$ex")
      }
    }
  }

  test("merge is exact and partition-order-independent (byte-identical)") {
    val vs = lognormalish(9999)
    val one = new DdSketch(0.01)
    vs.foreach(one.update)
    // 3 chunks merged in two different orders
    val chunks = vs.grouped(3333).toArray.map { c =>
      val s = new DdSketch(0.01); c.foreach(s.update); s
    }
    val ab = new DdSketch(0.01)
    ab.mergeInPlace(chunks(0)); ab.mergeInPlace(chunks(1))
    ab.mergeInPlace(chunks(2))
    val cb = new DdSketch(0.01)
    cb.mergeInPlace(chunks(2)); cb.mergeInPlace(chunks(0))
    cb.mergeInPlace(chunks(1))
    assert(java.util.Arrays.equals(ab.serialize(), cb.serialize()))
    assert(java.util.Arrays.equals(ab.serialize(), one.serialize()))
  }

  test("negatives, zeros and NaN: ordered walk and NaN skip") {
    val s = new DdSketch(0.01)
    Seq(-100.0, -1.0, 0.0, 0.0, 1.0, 100.0, Double.NaN).foreach(s.update)
    assert(s.n == 6L) // NaN skipped
    assert(math.abs(s.quantile(0.0) + 100.0) <= 1.0 + 1e-9)
    assert(s.quantile(0.5) == 0.0)
    assert(math.abs(s.quantile(1.0) - 100.0) <= 1.0 + 1e-9)
  }

  test("serde round-trip preserves estimates; alpha mismatch refuses") {
    val s = new DdSketch(0.02)
    lognormalish(5000).foreach(s.update)
    val back = DdSketch.deserialize(s.serialize())
    assert(back.n == s.n)
    for (q <- Seq(0.1, 0.5, 0.99))
      assert(back.quantile(q) == s.quantile(q))
    val other = new DdSketch(0.01)
    other.update(1.0)
    intercept[SketchMergeException] { s.mergeInPlace(other) }
    // corrupted payload refused
    intercept[SketchMergeException] {
      DdSketch.deserialize(Array[Byte](0x4B, 0, 0))
    }
  }

  test("bucket cap: collapse keeps n and high quantiles sound") {
    val s = new DdSketch(0.01)
    // 43 decades ≈ 4950 log-γ buckets at α=0.01 — past the 4096 cap, so
    // the ~850 lowest buckets collapse
    val vs = (0 until 50000).map(i => math.pow(10.0, -5.0 + 43.0 * i / 50000.0))
    vs.foreach(s.update)
    assert(s.buckets <= DdSketch.MaxBuckets + 1)
    assert(s.n == 50000L)
    val sorted = vs.toArray.sorted
    for (q <- Seq(0.9, 0.99)) { // high quantiles survive lowest-collapse
      val est = s.quantile(q)
      val ex = exactQuantile(sorted, q)
      assert(math.abs(est - ex) <= 0.01 * ex * 1.0000001, s"q=$q")
    }
  }

  test("SQL surface: grouped dd_quantiles within alpha of exact; store-then-merge equals one-shot") {
    import spark.implicits._
    val vs = lognormalish(6000).zipWithIndex.map { case (v, i) =>
      (if (i % 2 == 0) "a" else "b", i % 7, v)
    }.toSeq
    val df = vs.toDF("g", "day", "v")
    df.createOrReplaceTempView("dd_vals")
    val rows = spark.sql(
      """SELECT g, dd_quantiles(v, array(0.5D, 0.99D), 0.01D) AS qs
        |FROM dd_vals GROUP BY g""".stripMargin).collect()
    assert(rows.length == 2)
    for (r <- rows) {
      val g = r.getString(0)
      val qs = r.getSeq[Double](1)
      val sorted = vs.filter(_._1 == g).map(_._3).toArray.sorted
      for ((q, est) <- Seq(0.5, 0.99).zip(qs)) {
        val ex = exactQuantile(sorted, q)
        assert(math.abs(est - ex) <= 0.01 * ex * 1.0000001, s"$g q=$q")
      }
    }
    // store per (g, day), merge across days == one-shot per g
    val merged = spark.sql(
      """SELECT g, dd_merge_agg(s, array(0.5D, 0.99D), 0.01D) AS qs FROM (
        |  SELECT g, day, dd_sketch_agg(v, 0.01D) AS s
        |  FROM dd_vals GROUP BY g, day)
        |GROUP BY g""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val oneShot = rows.map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(merged == oneShot)
    // empty group -> NULL
    val empty = spark.sql(
      "SELECT dd_quantiles(v, array(0.5D)) FROM dd_vals WHERE v < 0").head()
    assert(empty.isNullAt(0))
  }

  test("SQL surface: arg validation fails loudly") {
    spark.range(5).createOrReplaceTempView("dd_rng")
    val e1 = intercept[Exception] {
      spark.sql("SELECT dd_quantiles(id, array(1.5D)) FROM dd_rng").collect()
    }
    assert(e1.getMessage.contains("[0,1]"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT dd_quantiles(id, array(0.5D), 0.9D) FROM dd_rng")
        .collect()
    }
    assert(e2.getMessage.contains("alpha"))
  }

  private val codec = WireCodec[DdSketch](_.serialize(), DdSketch.deserialize,
    (a, b) => { a.mergeInPlace(b); a }, DdSketch.mergeSerializedInto)

  test("wire merge == deserialize + mergeInPlace == one-shot, bytes included, past MaxBuckets") {
    var collapsed = 0
    for (seed <- 1 to 24) {
      val rnd = new scala.util.Random(seed)
      val alpha = Seq(1e-4, 0.01, 0.05)(seed % 3)
      val wide = seed % 2 == 0
      // wide: 1e-300…1e300 at alpha 1e-4 spans ~7M indices, far past the cap
      def values(n: Int): Array[Double] = Array.fill(n) {
        val sign = if (rnd.nextBoolean()) 1.0 else -1.0
        if (rnd.nextInt(10) == 0) 0.0
        else if (wide) sign * math.pow(10.0, rnd.nextDouble() * 600 - 300)
        else sign * math.exp(rnd.nextGaussian() * 2)
      }
      def size() = if (wide) 6000 + rnd.nextInt(8000) else rnd.nextInt(12000)
      val (va, vb) = (values(size()), values(size()))
      def of(vs: Array[Double]) = { val s = new DdSketch(alpha); vs.foreach(s.update); s }
      val bytes = of(vb).serialize()
      val ctx = s"seed $seed: alpha $alpha, n ${va.length} <- ${vb.length}"
      val merged = codec.checkMerge(ctx, () => of(va), bytes, bytes)
      // collapse-lowest is order-independent: the merge equals the one-shot
      val oneShot = of(va ++ vb)
      assert(merged.sameElements(oneShot.serialize()), s"$ctx: merge != one-shot")
      val posKeys = (va ++ vb).filter(_ >= DdSketch.ZeroEps)
        .map(v => math.ceil(math.log(v) / math.log(oneShot.gamma)).toLong).distinct.length
      if (posKeys > DdSketch.MaxBuckets) collapsed += 1
    }
    assert(collapsed >= 3, s"only $collapsed cases passed MaxBuckets")
  }

  test("corrupt payloads are refused by the wire merge and leave the target unchanged") {
    val s = new DdSketch(0.01)
    Seq(1.0, 2.0, 5.0, -3.0, 0.0).foreach(s.update)
    val bytes = s.serialize()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    def key(i: Int) = 29 + 16 * i // positive store pairs start after the header and size
    def patched(f: java.nio.ByteBuffer => Unit) = {
      val out = bytes.clone(); f(java.nio.ByteBuffer.wrap(out)); out
    }
    val cases = Seq(
      "truncated" -> bytes.dropRight(1),
      "trailing byte" -> (bytes :+ 0.toByte),
      "duplicate key" -> patched(_.putLong(key(1), bb.getLong(key(0)))),
      "unsorted keys" -> patched { o =>
        o.putLong(key(0), bb.getLong(key(1))); o.putLong(key(1), bb.getLong(key(0)))
      },
      "zero count" -> patched(_.putLong(key(0) + 8, 0L)),
      "negative count" -> patched(_.putLong(key(2) + 8, -1L)))
    for ((what, bad) <- cases) {
      val target = new DdSketch(0.01)
      lognormalish(100).foreach(target.update)
      codec.checkRejected(what, target, bad)
    }
    val other = new DdSketch(0.02); other.update(1.0)
    codec.checkRejected("alpha", { val t = new DdSketch(0.01); t.update(3.0); t }, other.serialize(),
      decodes = true)
  }
}
