package graft

import graft.sketch.{CountSketch, SketchMergeException}

import org.scalatest.funsuite.AnyFunSuite

/** Count-Sketch (AGMS) core laws: signed-counter point estimates, the
  * merge ≡ concatenation law, parallel-sketch inner products as
  * join-size/F2 estimates, wire-format round trip, shape safety. */
class CountSketchSpec extends AnyFunSuite {

  private def hash(x: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(
      x, graft.functions.AgmsFunctions.HashSeed)

  test("point estimates are exact when buckets don't collide") {
    val cs = new CountSketch(5, 1024)
    for (k <- 0L until 20L; _ <- 0 until (k.toInt + 1)) cs.offerHash(hash(k))
    // 20 keys in 1024 buckets x 5 rows: the median kills any stray
    // collision; exactness here is deterministic for these keys/seed
    for (k <- 0L until 20L)
      assert(cs.estimateHash(hash(k)) == k + 1, s"key $k")
    assert(cs.totalWeight == (1 to 20).sum.toLong)
  }

  test("merge equals concatenation, counter-exact") {
    val a = new CountSketch(5, 256)
    val b = new CountSketch(5, 256)
    val one = new CountSketch(5, 256)
    for (k <- 0L until 50L) {
      val h = hash(k)
      if (k % 2 == 0) a.offerHash(h) else b.offerHash(h)
      one.offerHash(h)
    }
    a.mergeInPlace(b)
    assert(a.serialize().toSeq == one.serialize().toSeq)
  }

  test("join size and F2: exact on collision-free keys, via the wire format") {
    val a = new CountSketch(5, 1024)
    val b = new CountSketch(5, 1024)
    // f_A = {1:2, 2:1, 3:1}, f_B = {2:3, 3:1, 4:5} -> J = 1*3 + 1*1 = 4
    Seq(1L, 1L, 2L, 3L).foreach(k => a.offerHash(hash(k)))
    Seq(2L, 2L, 2L, 3L, 4L, 4L, 4L, 4L, 4L).foreach(k => b.offerHash(hash(k)))
    val a2 = CountSketch.deserialize(a.serialize())
    val b2 = CountSketch.deserialize(b.serialize())
    assert(a2.joinSize(b2) == 4.0)
    assert(b2.joinSize(a2) == 4.0)
    assert(a2.f2() == (4 + 1 + 1).toDouble)   // 2^2 + 1 + 1
    assert(b2.f2() == (9 + 1 + 25).toDouble)
  }

  test("estimates stay within the AGMS bound on adversarially dense data") {
    val w = 64
    val a = new CountSketch(5, w)
    val b = new CountSketch(5, w)
    val rnd = new scala.util.Random(3)
    val fa = (0L until 500L).map(k => k -> (rnd.nextInt(5) + 1)).toMap
    val fb = (250L until 750L).map(k => k -> (rnd.nextInt(5) + 1)).toMap
    fa.foreach { case (k, f) => (0 until f).foreach(_ => a.offerHash(hash(k))) }
    fb.foreach { case (k, f) => (0 until f).foreach(_ => b.offerHash(hash(k))) }
    val j = fa.keySet.intersect(fb.keySet).toSeq.map(k => fa(k).toLong * fb(k)).sum
    val f2a = fa.values.map(f => f.toLong * f).sum
    val f2b = fb.values.map(f => f.toLong * f).sum
    val bound = 4.0 * math.sqrt((f2a.toDouble * f2b + j.toDouble * j) / w)
    assert(math.abs(a.joinSize(b) - j) <= bound,
      s"est ${a.joinSize(b)} vs exact $j, bound $bound")
  }

  test("shape mismatch fails clean; corrupted bytes rejected") {
    val a = new CountSketch(5, 256)
    val b = new CountSketch(5, 512)
    intercept[SketchMergeException](a.mergeInPlace(b))
    intercept[SketchMergeException](a.joinSize(b))
    intercept[SketchMergeException](CountSketch.deserialize(Array[Byte](1, 2, 3)))
    // a CountMin wire blob must not deserialize as a count-sketch
    val cm = new graft.sketch.CountMin(2, 16)
    intercept[SketchMergeException](CountSketch.deserialize(cm.serialize()))
  }

  test("SQL surface: agms functions registered, join-size probe runs end-to-end") {
    val spark = TestSpark.session
    import spark.implicits._
    Seq(1L, 1L, 2L, 3L).toDF("k").createOrReplaceTempView("agms_a")
    Seq(2L, 2L, 2L, 3L).toDF("k").createOrReplaceTempView("agms_b")
    val est = spark.sql(
      """SELECT agms_join_size(
        |  (SELECT agms_sketch_agg(k) FROM agms_a),
        |  (SELECT agms_sketch_agg(k) FROM agms_b)) AS est""".stripMargin)
      .head().getDouble(0)
    assert(est == 4.0, s"got $est") // 1*3 + 1*1, collision-free at width 1024
  }

  private val codec = WireCodec[CountSketch](_.serialize(), CountSketch.deserialize,
    (a, b) => { a.mergeInPlace(b); a }, CountSketch.mergeSerializedInto)

  test("wire merge == deserialize + mergeInPlace, bytes included; other shapes refused") {
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val (depth, width) = (1 + rnd.nextInt(6), 16 << rnd.nextInt(5))
      def of(n: Int) = {
        val s = new CountSketch(depth, width)
        (0 until n).foreach(_ => s.offerHash(hash(rnd.nextInt(500).toLong), 1L + rnd.nextInt(3)))
        s
      }
      val a = of(rnd.nextInt(2000))
      val bytes = of(rnd.nextInt(2000)).serialize()
      codec.checkMerge(s"seed $seed: ${depth}x$width", () => CountSketch.deserialize(a.serialize()),
        bytes, bytes)
      codec.checkRejected("other width", a, new CountSketch(depth, width * 2).serialize(), decodes = true)
      codec.checkRejected("other depth", a, new CountSketch(depth % 6 + 1, width).serialize(),
        decodes = true)
      codec.checkRejected("truncated", a, bytes.dropRight(1))
      codec.checkRejected("trailing byte", a, bytes :+ 0.toByte)
    }
  }

  test("packed counters: negative and 64-bit ranges; plain payloads still decode and merge; corrupt packed payloads refused") {
    def bits(b: Array[Byte]): Int = b(25) & 0xff
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val (depth, width) = (1 + rnd.nextInt(6), 16 << rnd.nextInt(5))
      def of(n: Int, maxWeight: Long) = {
        val s = new CountSketch(depth, width)
        (0 until n).foreach(_ => s.offerHash(rnd.nextLong(), 1L + (rnd.nextLong() >>> 1) % maxWeight))
        s
      }
      val b = of(200 + rnd.nextInt(3000), 1L << (4 * seed))
      val packed = b.serialize()
      val plain = LegacyWire.countSketch(b)
      assert(packed(0) == CountSketch.PackedTag && packed.length <= plain.length + 9, s"seed $seed")
      assert(java.nio.ByteBuffer.wrap(packed).getLong(17) < 0, s"seed $seed: the least counter is negative")
      val a = of(rnd.nextInt(3000), 8)
      for ((layout, bytes) <- Seq("plain" -> plain, "packed" -> packed))
        codec.checkMerge(s"seed $seed, $layout", () => CountSketch.deserialize(a.serialize()), bytes, packed)
      for ((what, bad) <- Seq("truncated" -> packed.dropRight(1), "trailing byte" -> (packed :+ 0.toByte),
          "65-bit counters" -> packed.updated(25, 65.toByte), "plain truncated" -> plain.dropRight(1),
          "plain trailing byte" -> (plain :+ 0.toByte)))
        codec.checkRejected(s"seed $seed, $what", a, bad)
    }
    // counters of ±(2^63 − 1): a range that needs all 64 bits
    val wide = (1L to 20L).iterator.map { k =>
      val s = new CountSketch(5, 64); s.offerHash(hash(k), Long.MaxValue); s
    }.find(s => bits(s.serialize()) == 64).get
    codec.checkMerge("64-bit range", () => new CountSketch(5, 64), LegacyWire.countSketch(wide),
      wide.serialize())
    assert(CountSketch.deserialize(wide.serialize()).counters.sameElements(wide.counters))
  }

  test("non-positive weights are refused, naming the weight; the sketch is unchanged") {
    val cs = new CountSketch(5, 64)
    cs.offerHash(hash(123), 3L)
    val before = cs.serialize()
    for (w <- Seq(0L, -5L)) {
      val e = intercept[IllegalArgumentException](cs.offerHash(hash(456), w))
      assert(e.getMessage.contains(s"got $w"), e.getMessage)
    }
    assert(cs.serialize().sameElements(before))
    assert(CountSketch.deserialize(before).totalWeight == 3L)
  }

  test("a count-sketch of 2048 keys packs into at most 4 KB") {
    val cs = new CountSketch(CountSketch.DefaultDepth, CountSketch.DefaultWidth)
    (1L to 2048L).foreach(k => cs.offerHash(hash(k)))
    val bytes = cs.serialize()
    assert(bytes.length <= 4096, bytes.length)
    assert(CountSketch.deserialize(bytes).counters.sameElements(cs.counters))
  }
}
