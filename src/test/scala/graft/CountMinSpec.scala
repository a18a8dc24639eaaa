package graft

import graft.sketch.{CountMin, SketchMergeException}

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.scalatest.funsuite.AnyFunSuite

/** Count-Min laws: never-underestimate, the ε·N overestimate bound, merge ≡
  * concatenation (bit-identical bytes), wire-format validation, and the
  * SQL/Column wiring end-to-end. */
class CountMinSpec extends AnyFunSuite {

  private def hash(v: Long): Long = XXH64.hashLong(v, 91L)

  test("never underestimates; overestimate within eps*N on zipf-ish data") {
    val cm = new CountMin(5, 1024)
    val truth = new scala.collection.mutable.HashMap[Long, Long]
    // zipf-ish: key k appears ~ 100000/k times
    for (k <- 1L to 200L; _ <- 1L to (1000 / k)) {
      cm.offerHash(hash(k))
      truth(k) = truth.getOrElse(k, 0L) + 1L
    }
    val n = truth.values.sum
    assert(cm.totalWeight == n)
    val epsN = math.ceil(math.E / 1024 * n).toLong
    truth.foreach { case (k, t) =>
      val est = cm.estimateHash(hash(k))
      assert(est >= t, s"UNDERestimate for $k: $est < $t")
      assert(est <= t + 5 * epsN, s"overestimate for $k: $est vs $t + 5*$epsN")
    }
  }

  test("wire-format merge is bit-identical to deserialize+mergeInPlace") {
    // mergeSerializedInto is cm_merge_agg's hot update path (r12)
    val a = new CountMin(5, 256)
    val b = new CountMin(5, 256)
    for (k <- 1L to 500L) { a.offerHash(hash(k)); if (k % 3 == 0) b.offerHash(hash(k), 2L) }
    val viaObj = CountMin.deserialize(a.serialize())
    viaObj.mergeInPlace(CountMin.deserialize(b.serialize()))
    val viaWire = CountMin.mergeSerializedInto(b.serialize(), CountMin.deserialize(a.serialize()))
    assert(java.util.Arrays.equals(viaWire.serialize(), viaObj.serialize()))
    assert(viaWire.totalWeight == viaObj.totalWeight)
    // null target deserializes fresh
    val fresh = CountMin.mergeSerializedInto(b.serialize(), null)
    assert(java.util.Arrays.equals(fresh.serialize(), b.serialize()))
    // shape mismatch and corrupt payloads raise like the object path
    val other = new CountMin(5, 512); other.offerHash(hash(1L))
    intercept[SketchMergeException](
      CountMin.mergeSerializedInto(other.serialize(), new CountMin(5, 256)))
    val corrupt = a.serialize().take(40)
    intercept[SketchMergeException](
      CountMin.mergeSerializedInto(corrupt, new CountMin(5, 256)))
  }

  test("merge of split streams is bit-identical to one-shot") {
    def sk(r: Range): CountMin = {
      val cm = new CountMin(5, 256)
      r.foreach(v => cm.offerHash(hash(v.toLong)))
      cm
    }
    val merged = sk(1 to 4000)
    merged.mergeInPlace(sk(4001 to 10000))
    assert(java.util.Arrays.equals(merged.serialize(), sk(1 to 10000).serialize()))
    assertThrows[SketchMergeException](
      merged.mergeInPlace(new CountMin(5, 512)))
  }

  test("wire round-trip; corrupted payloads fail cleanly") {
    val cm = new CountMin(3, 64)
    (1L to 500L).foreach(v => cm.offerHash(hash(v)))
    val back = CountMin.deserialize(cm.serialize())
    assert(back.totalWeight == 500L)
    (1L to 500L).foreach(v =>
      assert(back.estimateHash(hash(v)) == cm.estimateHash(hash(v))))
    val junk = cm.serialize().clone(); junk(0) = 0x01
    assertThrows[SketchMergeException](CountMin.deserialize(junk))
    val truncated = cm.serialize().take(40)
    assertThrows[SketchMergeException](CountMin.deserialize(truncated))
  }

  private val codec = WireCodec[CountMin](_.serialize(), CountMin.deserialize,
    (a, b) => { a.mergeInPlace(b); a }, CountMin.mergeSerializedInto)

  test("packed counters: plain payloads still decode and merge; corrupt packed payloads refused") {
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val (depth, width) = (1 + rnd.nextInt(6), 16 << rnd.nextInt(5))
      def of(n: Int, maxWeight: Long) = {
        val s = new CountMin(depth, width)
        (0 until n).foreach(_ => s.offerHash(rnd.nextLong(), 1L + (rnd.nextLong() >>> 1) % maxWeight))
        s
      }
      // weights up to 2^(4·seed): counters from a few bits wide to 50
      val b = of(rnd.nextInt(3000), 1L << (4 * seed))
      val packed = b.serialize()
      val plain = LegacyWire.countMin(b)
      assert(packed(0) == CountMin.PackedTag && packed.length <= plain.length + 9, s"seed $seed")
      val a = of(rnd.nextInt(3000), 8)
      for ((layout, bytes) <- Seq("plain" -> plain, "packed" -> packed))
        codec.checkMerge(s"seed $seed, $layout", () => CountMin.deserialize(a.serialize()), bytes, packed)
      val empty = new CountMin(depth, width)
      codec.checkMerge(s"seed $seed, empty", () => CountMin.deserialize(a.serialize()),
        LegacyWire.countMin(empty), empty.serialize())
      for ((what, bad) <- Seq("truncated" -> packed.dropRight(1), "trailing byte" -> (packed :+ 0.toByte),
          "65-bit counters" -> packed.updated(25, 65.toByte), "plain truncated" -> plain.dropRight(1),
          "plain trailing byte" -> (plain :+ 0.toByte)))
        codec.checkRejected(s"seed $seed, $what", a, bad)
    }
  }

  test("a count-min sketch of 2048 keys packs into at most 10 KB") {
    val cm = new CountMin(CountMin.DefaultDepth, CountMin.DefaultWidth)
    (1L to 2048L).foreach(k => cm.offerHash(hash(k)))
    val bytes = cm.serialize()
    assert(bytes.length <= 10240, bytes.length)
    assert(CountMin.deserialize(bytes).counters.sameElements(cm.counters))
  }

  test("SQL surface: agg, probe, store-then-merge; validation errors") {
    val spark = TestSpark.session
    import spark.implicits._
    (1 to 10000).map(i => (i % 4, s"key${i % 10}")).toDF("g", "v")
      .createOrReplaceTempView("cm_t")

    // few keys + wide sketch -> collision-free -> estimates exactly equal
    val rows = spark.sql(
      """SELECT k, cm_estimate(sk, k) AS est, exact FROM (
        |  SELECT v AS k, COUNT(*) AS exact FROM cm_t GROUP BY v) x
        |JOIN (SELECT cm_sketch_agg(v) AS sk FROM cm_t)""".stripMargin).collect()
    assert(rows.length == 10)
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2), r.toString))

    // store-then-merge: per-group sketches re-aggregated == one-shot
    val global = spark.sql("SELECT cm_sketch_agg(v, 256, 5) FROM cm_t")
      .head().getAs[Array[Byte]](0)
    val merged = spark.sql(
      """SELECT cm_merge_agg(sk) FROM (
        |  SELECT g, cm_sketch_agg(v, 256, 5) AS sk FROM cm_t GROUP BY g)""".stripMargin)
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(global, merged))

    // the merge variant takes no shape args (stored sketches carry theirs)
    val arity = intercept[Exception](
      spark.sql("SELECT cm_merge_agg(sk, 256, 5) FROM (SELECT cm_sketch_agg(v) AS sk FROM cm_t)").collect())
    assert(arity.getMessage.contains("exactly 1 argument"), arity.getMessage)
    // CM counters cannot re-bin: a mixed-shape store fails loudly, not wrong
    val mixed = intercept[Exception](
      spark.sql(
        """SELECT cm_merge_agg(sk) FROM (
          |  SELECT cm_sketch_agg(v, 256, 5) AS sk FROM cm_t
          |  UNION ALL SELECT cm_sketch_agg(v, 512, 5) FROM cm_t)""".stripMargin).collect())
    assert(mixed.getMessage.contains("cannot merge"), mixed.getMessage)

    // validation: non-power-of-2 and oversized widths fail analysis cleanly
    val e = intercept[Exception](
      spark.sql("SELECT cm_sketch_agg(v, 1000) FROM cm_t").collect())
    assert(e.getMessage.contains("power of 2"), e.getMessage)
    val big = intercept[Exception](
      spark.sql("SELECT cm_sketch_agg(v, 8388608) FROM cm_t").collect())
    assert(big.getMessage.contains("width"), big.getMessage)
  }
}
