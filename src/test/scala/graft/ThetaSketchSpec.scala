package graft

import graft.sketch.{SketchMergeException, ThetaSketch}

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Theta/KMV sketch laws: exactness below k, the KMV estimate envelope,
  * canonical-bytes partition invariance (the join-semilattice property the
  * class doc promises), result-proportional set-operation error, wire-format
  * validation, and the Catalyst/SQL wiring end-to-end. */
class ThetaSketchSpec extends AnyFunSuite {

  private def hash(v: Long): Long = XXH64.hashLong(v, 42L)

  private def sketchOf(vs: Iterable[Long], k: Int = 1024): ThetaSketch = {
    val s = new ThetaSketch(k)
    vs.foreach(v => s.offerHash(hash(v)))
    s
  }

  test("exact while fewer than k+1 distinct values") {
    val s = sketchOf((1L to 500L) ++ (1L to 500L), k = 1024)
    assert(s.thetaFraction == 1.0)
    assert(s.estimate == 500L)
    assert(s.rse == 0.0)
  }

  test("estimate within the KMV envelope in estimation mode") {
    for (n <- Seq(5000, 50000, 200000); k <- Seq(256, 1024)) {
      val s = sketchOf(1L to n.toLong, k)
      assert(s.thetaFraction < 1.0, s"n=$n k=$k should be in estimation mode")
      val sigma = 1.0 / math.sqrt(k - 1)
      assert(math.abs(s.estimate - n).toDouble / n <= 5 * sigma,
        s"n=$n k=$k est=${s.estimate}")
    }
  }

  test("merged sketch of any split is bit-identical to one-shot (canonical form)") {
    val longs = Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    val samples = (1 to 60).flatMap { i =>
      longs.apply(Gen.Parameters.default.withSize(i * 11 % 257 + 3), Seed(i.toLong))
    }
    for ((vs, i) <- samples.zipWithIndex) {
      val k = 64
      val cut = if (vs.isEmpty) 0 else i % (vs.length + 1)
      val (a, b) = vs.splitAt(cut)
      val ha = sketchOf(a, k); ha.mergeInPlace(sketchOf(b, k))
      assert(java.util.Arrays.equals(ha.serialize(), sketchOf(vs, k).serialize()),
        s"sample $i: split at $cut of ${vs.length}")
    }
  }

  test("three-way merge is associative and order-invariant, bytes included") {
    val parts = Seq(1L to 4000L, 3000L to 9000L, 500L to 600L).map(r => sketchOf(r, 256))
    def mergeAll(order: Seq[Int]): Array[Byte] = {
      val acc = sketchOf(Nil, 256)
      order.foreach(i => acc.mergeInPlace(ThetaSketch.deserialize(parts(i).serialize())))
      acc.serialize()
    }
    val expected = mergeAll(Seq(0, 1, 2))
    for (order <- Seq(0, 1, 2).permutations)
      assert(java.util.Arrays.equals(mergeAll(order), expected), s"order $order")
  }

  test("union estimate matches exact within envelope; union == aggregate merge") {
    val a = sketchOf(1L to 20000L, 512)
    val b = sketchOf(15000L to 40000L, 512)
    val u = ThetaSketch.union(a, b)
    val exact = 40000.0
    assert(math.abs(u.estimateDouble - exact) / exact <= 5.0 / math.sqrt(511))
    val m = sketchOf(1L to 20000L, 512)
    m.mergeInPlace(b)
    assert(java.util.Arrays.equals(u.serialize(), m.serialize()))
  }

  test("intersection/difference error proportional to the RESULT, not the union") {
    // big sets, small intersection — the case inclusion-exclusion loses
    val a = sketchOf(1L to 100000L, 2048)
    val b = sketchOf(98001L to 200000L, 2048)
    val i = ThetaSketch.intersect(a, b)
    val d = ThetaSketch.difference(a, b)
    val exactI = 2000.0
    val exactD = 98000.0
    // 5 sigma with the sketch's own bound sigma = n*sqrt(1-theta)/sqrt(c-1)
    def bound(s: ThetaSketch, n: Double) =
      5.0 * n * math.sqrt(1.0 - s.thetaFraction) /
        math.sqrt(math.max(s.retained - 1, 1).toDouble)
    assert(math.abs(i.estimateDouble - exactI) <= bound(i, exactI),
      s"intersect est=${i.estimateDouble} retained=${i.retained}")
    assert(math.abs(d.estimateDouble - exactD) <= bound(d, exactD),
      s"difference est=${d.estimateDouble} retained=${d.retained}")
    // and the intersection bound is far below what I-E would allow here:
    // sigma_IE ~ (1.04/sqrt(2^16))*sqrt(|A|^2+|B|^2+|AuB|^2) ~ 900 vs
    // sigma_theta ~ 2000/sqrt(c-1) ~ 320 at c ~ 40
    assert(bound(i, exactI) < exactI, "bound should stay below the result size")
  }

  test("exact-mode set ops are exact") {
    val a = sketchOf(1L to 400L, 1024)
    val b = sketchOf(301L to 700L, 1024)
    assert(ThetaSketch.intersect(a, b).estimate == 100L)
    assert(ThetaSketch.difference(a, b).estimate == 300L)
    assert(ThetaSketch.union(a, b).estimate == 700L)
  }

  test("serialize round-trips; mixed-k set ops trim and round-trip") {
    for (s <- Seq(sketchOf(Nil), sketchOf(1L to 10L), sketchOf(1L to 99999L, 128))) {
      val back = ThetaSketch.deserialize(s.serialize())
      assert(java.util.Arrays.equals(back.serialize(), s.serialize()))
      assert(back.estimate == s.estimate)
    }
    val mixed = ThetaSketch.union(sketchOf(1L to 50000L, 4096), sketchOf(1L to 300L, 64))
    assert(mixed.k == 64)
    assert(mixed.retained <= 64)
    assert(java.util.Arrays.equals(
      ThetaSketch.deserialize(mixed.serialize()).serialize(), mixed.serialize()))
  }

  test("corrupted payloads fail with descriptive errors") {
    val good = sketchOf(1L to 100L, 64).serialize()
    val badTag = good.clone(); badTag(0) = 0x01
    assertThrows[SketchMergeException](ThetaSketch.deserialize(badTag))
    val badK = good.clone(); badK(1) = -1 // high byte of k -> negative
    assertThrows[SketchMergeException](ThetaSketch.deserialize(badK))
    // entry out of ascending order: swap two retained longs
    val swapped = good.clone()
    val base = 1 + 4 + 8 + 4
    for (j <- 0 until 8) {
      val t = swapped(base + j)
      swapped(base + j) = swapped(base + 8 + j)
      swapped(base + 8 + j) = t
    }
    assertThrows[SketchMergeException](ThetaSketch.deserialize(swapped))
    assertThrows[SketchMergeException](
      sketchOf(1L to 10L, 64).mergeInPlace(sketchOf(1L to 10L, 128)))
  }

  test("mergeInto widens mixed-k to min(k), matching the static union") {
    val a = sketchOf(1L to 50000L, 4096)
    val b = sketchOf(40000L to 90000L, 256)
    val viaMerge = ThetaSketch.mergeInto(a, b)
    assert(viaMerge.k == 256)
    assert(java.util.Arrays.equals(viaMerge.serialize(),
      ThetaSketch.union(sketchOf(1L to 50000L, 4096), sketchOf(40000L to 90000L, 256))
        .serialize()))
    // same-k path still merges in place (identity preserved)
    val c = sketchOf(1L to 10L, 256)
    assert(ThetaSketch.mergeInto(c, sketchOf(5L to 20L, 256)) eq c)
  }

  test("theta_merge_agg accepts stored sketches of mixed k (widens like theta_union)") {
    val spark = TestSpark.session
    import spark.implicits._
    (1 to 20000).map(i => (if (i <= 10000) 512 else 128, i.toLong)).toDF("k", "v")
      .createOrReplaceTempView("theta_mixed_src")
    val merged = spark.sql(
      """SELECT theta_estimate(theta_merge_agg(s)) AS est FROM (
        |  SELECT theta_sketch_agg(v, 512) AS s FROM theta_mixed_src WHERE k = 512
        |  UNION ALL
        |  SELECT theta_sketch_agg(v, 128) AS s FROM theta_mixed_src WHERE k = 128
        |)""".stripMargin).head().getLong(0)
    assert(math.abs(merged - 20000.0) / 20000.0 <= 5.0 / math.sqrt(127))
  }

  test("SQL NULL is the union identity; intersect/difference propagate NULL") {
    val spark = TestSpark.session
    import spark.implicits._
    (1L to 400L).toDF("v").createOrReplaceTempView("theta_null_src")
    val r = spark.sql(
      """SELECT theta_estimate(theta_union(CAST(NULL AS BINARY), s)) AS u_left,
        |       theta_estimate(theta_union(s, CAST(NULL AS BINARY))) AS u_right,
        |       theta_intersect(CAST(NULL AS BINARY), s) AS i_null,
        |       theta_difference(s, CAST(NULL AS BINARY)) AS d_null
        |FROM (SELECT theta_sketch_agg(v) AS s FROM theta_null_src)""".stripMargin).head()
    assert(r.getLong(0) == 400L)
    assert(r.getLong(1) == 400L)
    assert(r.isNullAt(2))
    assert(r.isNullAt(3))
  }

  test("theta_jaccard estimates |A.B|/|AUB|; empty/NULL edges defined") {
    val spark = TestSpark.session
    import spark.implicits._
    (1L to 30000L).toDF("v").createOrReplaceTempView("theta_jac_src")
    val r = spark.sql(
      """SELECT theta_jaccard(a.s, b.s) AS j,
        |       theta_jaccard(CAST(NULL AS BINARY), a.s) AS j_null,
        |       theta_jaccard(CAST(NULL AS BINARY), CAST(NULL AS BINARY)) AS j_both
        |FROM (SELECT theta_sketch_agg(v) AS s FROM theta_jac_src WHERE v <= 20000) a,
        |     (SELECT theta_sketch_agg(v) AS s FROM theta_jac_src WHERE v > 10000) b""".stripMargin)
      .head()
    // exact J = 10000/30000; k=4096 over 30000 -> ~1.6% RSE per estimate
    assert(math.abs(r.getDouble(0) - 1.0 / 3.0) <= 0.05, r.getDouble(0).toString)
    assert(r.getDouble(1) == 0.0)
    assert(r.isNullAt(2))
    // exact regime: J is exact
    val small = new ThetaSketch(1024); (1L to 400L).foreach(v => small.offerHash(hash(v)))
    val other = new ThetaSketch(1024); (201L to 600L).foreach(v => other.offerHash(hash(v)))
    val j = ThetaSketch.intersect(small, other).estimateDouble /
      ThetaSketch.union(small, other).estimateDouble
    assert(j == 200.0 / 600.0)
  }

  test("non-integral foldable k fails analysis cleanly, not with a ClassCastException") {
    val spark = TestSpark.session
    import spark.implicits._
    (1L to 10L).toDF("v").createOrReplaceTempView("theta_badk_src")
    val e = intercept[Exception](
      spark.sql("SELECT theta_sketch_agg(v, '4096') FROM theta_badk_src").collect())
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("SQL surface end-to-end: agg, store-then-merge, set algebra, partition invariance") {
    val spark = TestSpark.session
    import spark.implicits._
    val df = (1 to 30000).map(i => (i % 3, i.toLong)).toDF("g", "v")
    df.createOrReplaceTempView("theta_t")

    // grouped agg + estimate via SQL, against exact counts
    val rows = spark.sql(
      """SELECT g, theta_estimate(theta_sketch_agg(v, 512)) AS est,
        |       COUNT(DISTINCT v) AS exact
        |FROM theta_t GROUP BY g""".stripMargin).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val est = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(est - exact) / exact <= 5.0 / math.sqrt(511), r.toString)
    }

    // partition invariance through the Catalyst partial/final split
    val one = df.repartition(1).agg(GraftFunctions.theta_sketch_agg(col("v"), 256))
      .head().getAs[Array[Byte]](0)
    val many = df.repartition(13).agg(GraftFunctions.theta_sketch_agg(col("v"), 256))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(one, many))

    // store-then-merge: per-group sketches re-aggregated == one-shot global
    val global = df.agg(GraftFunctions.theta_sketch_agg(col("v"), 256))
      .head().getAs[Array[Byte]](0)
    val merged = df.groupBy("g").agg(GraftFunctions.theta_sketch_agg(col("v"), 256).as("s"))
      .agg(GraftFunctions.theta_merge_agg(col("s")))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(global, merged))

    // set algebra through SQL
    val setOps = spark.sql(
      """SELECT theta_estimate(theta_intersect(a.s, b.s)) AS i,
        |       theta_estimate(theta_difference(a.s, b.s)) AS d,
        |       theta_estimate(theta_union(a.s, b.s)) AS u
        |FROM (SELECT theta_sketch_agg(v) AS s FROM theta_t WHERE v <= 20000) a,
        |     (SELECT theta_sketch_agg(v) AS s FROM theta_t WHERE v > 15000) b""".stripMargin)
      .head()
    // k=4096 default and n=30000: loose 5-sigma checks
    assert(math.abs(setOps.getLong(0) - 5000L) <= 5.0 * 5000 / math.sqrt(200))
    assert(math.abs(setOps.getLong(1) - 15000L) <= 5.0 * 15000 / math.sqrt(2000))
    assert(math.abs(setOps.getLong(2) - 30000L) <= 5.0 * 30000 / math.sqrt(4095))
  }

  test("q72 gate holds on sf0.001") {
    val spark = TestSpark.session
    val rows = graft.operators.SketchQueries.q72ThetaSetOps(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Boolean]("est_ok"))
    assert(rows.head.getAs[Boolean]("diff_ok"))
  }

  private val codec = WireCodec[ThetaSketch](_.serialize(), ThetaSketch.deserialize,
    ThetaSketch.mergeInto, ThetaSketch.mergeSerializedInto)

  test("wire merge == deserialize + mergeInto, bytes included: tighter theta, mixed k, exact mode") {
    var tighter, mixed, exact = 0
    for (seed <- 1 to 40) {
      val rnd = new scala.util.Random(seed)
      val ks = Seq(16, 64, 256)
      val (kA, kB) = (ks(rnd.nextInt(3)), ks(rnd.nextInt(3)))
      def range(): Seq[Long] = {
        val lo = rnd.nextInt(2000).toLong
        lo until lo + (if (rnd.nextInt(3) == 0) rnd.nextInt(16) else rnd.nextInt(3000))
      }
      val (ra, rb) = (range(), range())
      val b = sketchOf(rb, kB)
      val bytes = b.serialize()
      val ctx = s"seed $seed: k $kA <- $kB, n ${ra.length} <- ${rb.length}"
      codec.checkMerge(ctx, () => sketchOf(ra, kA), bytes, bytes)
      if (kA != kB) mixed += 1
      else if (b.thetaFraction < sketchOf(ra, kA).thetaFraction) tighter += 1
      if (b.thetaFraction == 1.0) exact += 1
    }
    assert(tighter > 3 && mixed > 10 && exact > 3, s"coverage: $tighter tighter, $mixed mixed, $exact exact")
  }

  test("corrupt payloads are refused by the wire merge and leave the target unchanged") {
    val bytes = sketchOf(1L to 100L, 64).serialize()
    val base = 1 + 4 + 8 + 4
    def patched(f: java.nio.ByteBuffer => Unit) = {
      val out = bytes.clone(); f(java.nio.ByteBuffer.wrap(out)); out
    }
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val cases = Seq(
      "truncated" -> bytes.dropRight(1),
      "trailing byte" -> (bytes :+ 0.toByte),
      "unsorted entries" -> patched { o =>
        o.putLong(base, bb.getLong(base + 8)); o.putLong(base + 8, bb.getLong(base))
      },
      "entry at theta" -> patched(o => o.putLong(5, bb.getLong(base + 8 * 10))),
      "count above k" -> patched(_.putInt(13, 65)))
    for ((what, bad) <- cases) codec.checkRejected(what, sketchOf(50L to 5000L, 64), bad)
  }
}
