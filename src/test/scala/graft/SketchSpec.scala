package graft

import graft.sketch.{Hll, LinearCounter, Sketch, SketchMergeException}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Kernel-level tests (no Spark): accuracy envelopes, merge laws, wire format.
  * Mirrors SURVEY §5.2-3. */
class SketchSpec extends AnyFunSuite {

  private def hash(v: Long): Long = XXH64.hashLong(v, 42L)

  private def hllOf(values: Iterable[Long], b: Int = 16): Hll = {
    val h = new Hll(b)
    values.foreach(v => h.offerHash(hash(v)))
    h
  }

  test("HLL estimate within 3 sigma across cardinalities") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(100, 1000, 10000, 200000)) {
      val values = Array.fill(n)(rnd.nextLong()).distinct
      val est = hllOf(values).estimate
      val sigma = 1.04 / math.sqrt(1 << 16)
      val relErr = math.abs(est - values.length).toDouble / values.length
      assert(relErr <= 3 * sigma, s"n=${values.length} est=$est relErr=$relErr")
    }
  }

  test("HLL small range is near exact (LinearCounting correction)") {
    val est = hllOf((1L to 50L)).estimate
    assert(est == 50, s"expected 50, got $est")
  }

  test("HLL duplicates do not inflate estimate") {
    val h = new Hll(16)
    for (_ <- 1 to 100; v <- 1L to 30L) h.offerHash(hash(v))
    assert(h.estimate == 30)
  }

  test("HLL merge equals union; commutative") {
    val rnd = new scala.util.Random(11)
    val a = Array.fill(5000)(rnd.nextLong())
    val b = Array.fill(5000)(rnd.nextLong())
    val ha = hllOf(a); val hb = hllOf(b)
    val hab = hllOf(a ++ b)
    ha.mergeInPlace(hb)
    assert(java.util.Arrays.equals(ha.serialize(), hab.serialize()),
      "merged sketch must be bit-identical to one-shot sketch")
    val ha2 = hllOf(a); val hb2 = hllOf(b)
    hb2.mergeInPlace(ha2)
    assert(java.util.Arrays.equals(hb2.serialize(), hab.serialize()))
  }

  test("serialize/deserialize round-trip (HLL + LC)") {
    val h = hllOf(1L to 1000L)
    val h2 = Sketch.deserialize(h.serialize())
    assert(h2.estimate == h.estimate)
    assert(java.util.Arrays.equals(h2.serialize(), h.serialize()))

    val lc = new LinearCounter(4096)
    (1L to 500L).foreach(v => lc.offerHash(hash(v)))
    val lc2 = Sketch.deserialize(lc.serialize())
    assert(lc2.estimate == lc.estimate)
    assert(java.util.Arrays.equals(lc2.serialize(), lc.serialize()))
  }

  test("sparse wire format: small sketches encode compactly and round-trip") {
    val small = hllOf(1L to 100L)
    val bytes = small.serialize()
    assert(bytes(0) == Sketch.TagHllSparse)
    assert(bytes.length < 1000, s"sparse HLL should be ~400B, got ${bytes.length}")
    val back = Sketch.deserialize(bytes)
    assert(back.estimate == small.estimate)
    // a re-serialized deserialized sketch is bit-identical
    assert(java.util.Arrays.equals(back.serialize(), bytes))
    // dense kicks in at high fill
    val big = hllOf(1L to 500000L)
    assert(big.serialize()(0) == Sketch.TagHll)

    val lc = new LinearCounter(1 << 20)
    (1L to 200L).foreach(v => lc.offerHash(hash(v)))
    val lcBytes = lc.serialize()
    assert(lcBytes(0) == Sketch.TagLcSparse)
    assert(lcBytes.length < 2000, s"sparse LC should be ~800B, got ${lcBytes.length}")
    val lcBack = Sketch.deserialize(lcBytes)
    assert(lcBack.estimate == lc.estimate)
    assert(java.util.Arrays.equals(lcBack.serialize(), lcBytes))
  }

  test("sparse and dense in-memory representations are observationally equal") {
    val rnd = new scala.util.Random(99)
    val vs = Array.fill(3000)(rnd.nextLong()) // < m/8 for b=16: stays sparse
    val viaSparse = new Hll(16)
    vs.foreach(v => viaSparse.offerHash(hash(v)))
    // same content forced dense via the dense constructor round-trip
    val viaDense = new Hll(16, viaSparse.registers.clone())
    assert(viaSparse.estimate == viaDense.estimate)
    assert(java.util.Arrays.equals(viaSparse.serialize(), viaDense.serialize()))
    // upgrade path: push past the sparse threshold and compare to all-dense
    val many = Array.fill(20000)(rnd.nextLong())
    val upgraded = new Hll(16)
    many.foreach(v => upgraded.offerHash(hash(v)))
    val dense = new Hll(16, new Array[Byte](1 << 16))
    many.foreach(v => dense.offerHash(hash(v)))
    assert(java.util.Arrays.equals(upgraded.serialize(), dense.serialize()))
  }

  test("sparse and dense forms of the same sketch merge correctly") {
    val a = hllOf(1L to 100L)                 // will serialize sparse
    val b = hllOf(1L to 400000L)              // dense
    val merged = Sketch.deserialize(b.serialize())
    merged.mergeInPlace(Sketch.deserialize(a.serialize()))
    val oneShot = hllOf((1L to 100L) ++ (1L to 400000L))
    assert(java.util.Arrays.equals(merged.serialize(), oneShot.serialize()))
  }

  test("mixed precision / mixed algo merge raises") {
    intercept[SketchMergeException](new Hll(16).mergeInPlace(new Hll(12)))
    intercept[SketchMergeException](new Hll(16).mergeInPlace(new LinearCounter(100)))
    intercept[SketchMergeException](new LinearCounter(100).mergeInPlace(new LinearCounter(200)))
  }

  test("LC near-exact in small-load regime; merge is bitmap OR") {
    val lc = new LinearCounter(1 << 16) // 64 KiB => 524288 bits
    val rnd = new scala.util.Random(3)
    val vs = Array.fill(2000)(rnd.nextLong()).distinct
    vs.foreach(v => lc.offerHash(hash(v)))
    val relErr = math.abs(lc.estimate - vs.length).toDouble / vs.length
    assert(relErr < 0.01, s"LC est=${lc.estimate} exact=${vs.length}")

    val a = new LinearCounter(4096); val b = new LinearCounter(4096)
    (1L to 100L).foreach(v => a.offerHash(hash(v)))
    (50L to 150L).foreach(v => b.offerHash(hash(v)))
    val ab = new LinearCounter(4096)
    (1L to 150L).foreach(v => ab.offerHash(hash(v)))
    a.mergeInPlace(b)
    assert(java.util.Arrays.equals(a.serialize(), ab.serialize()))
  }

  test("corrupted payloads fail cleanly with descriptive errors") {
    // unknown tag
    val e1 = intercept[Exception](Sketch.deserialize(Array[Byte](42, 1, 2)))
    assert(e1.getMessage.contains("unknown sketch tag"))
    // truncated dense HLL
    val good = hllOf(1L to 200000L).serialize() // dense at this load
    val e2 = intercept[Exception](Sketch.deserialize(good.take(100)))
    assert(e2.getMessage.contains("length"))
    // truncated sparse payload
    val sparse = hllOf(1L to 50L).serialize()
    val e3 = intercept[Exception](Sketch.deserialize(sparse.take(7)))
    assert(e3.getMessage.contains("length"))
    // empty payload
    val e4 = intercept[Exception](Sketch.deserialize(Array.emptyByteArray))
    assert(e4.getMessage.contains("empty"))
    // sparse HLL register index beyond 2^b — must fail on deserialize, not
    // skew sparse estimates / blow up on a later densification
    val badHll = Array[Byte](3, 4, 0, 0, 0, 1, 0, 0, 100, 1) // b=4, idx=100 >= 16
    val e5 = intercept[SketchMergeException](Sketch.deserialize(badHll))
    assert(e5.getMessage.contains("register index"))
    // sparse LC bit index beyond the bitmap
    val badLc = Array[Byte](4, 0, 0, 0, 4, 0, 0, 0, 1, 0, 0, 3, 0xE7.toByte) // size=4 (32 bits), idx=999
    val e6 = intercept[SketchMergeException](Sketch.deserialize(badLc))
    assert(e6.getMessage.contains("bit index"))

    // HLL payloads are rejected alike by deserialize and by the wire merge
    // into an empty sketch of the payload's own precision
    def rejected(bytes: Array[Byte], b: Int, why: String): Unit = {
      val viaDecode = intercept[SketchMergeException](Sketch.deserialize(bytes))
      assert(viaDecode.getMessage.contains(why), viaDecode.getMessage)
      intercept[SketchMergeException](Sketch.mergeSerializedInto(bytes, new Hll(b)))
    }
    def denseHll(b: Int, at: Int, r: Int): Array[Byte] = {
      val out = new Array[Byte](2 + (1 << b))
      out(0) = Sketch.TagHll; out(1) = b.toByte; out(2 + at) = r.toByte
      out
    }
    def sparseHll(b: Int, idx: Int, r: Int): Array[Byte] =
      Array[Byte](3, b.toByte, 0, 0, 0, 1, (idx >>> 16).toByte, (idx >>> 8).toByte, idx.toByte, r.toByte)
    // a dense register byte >= 0x80
    rejected(denseHll(4, 5, 0x80), 4, "rank 128")
    rejected(denseHll(4, 5, 0xFF), 4, "rank 255")
    // a sparse rank of 0 or "below" (a byte >= 0x80)
    rejected(sparseHll(4, 5, 0), 4, "rank 0")
    rejected(sparseHll(4, 5, 0x90), 4, "rank 144")
    // a rank above 65 - b, dense and sparse
    rejected(denseHll(4, 5, 62), 4, "rank 62 > 61")
    rejected(sparseHll(16, 700, 50), 16, "rank 50 of register 700 outside [1, 49]")
    assert(Sketch.deserialize(sparseHll(16, 700, 49)).estimate == 1) // the largest rank is fine
    // a precision outside [4, 24]
    for (b <- Seq(3, 25, -1)) {
      val dense = Array[Byte](Sketch.TagHll, b.toByte, 0, 0, 0)
      val e = intercept[SketchMergeException](Sketch.deserialize(dense))
      assert(e.getMessage.contains("precision"), e.getMessage)
      val sparse = Array[Byte](Sketch.TagHllSparse, b.toByte, 0, 0, 0, 0)
      intercept[SketchMergeException](Sketch.deserialize(sparse))
      intercept[SketchMergeException](Sketch.mergeSerializedInto(dense, new Hll(16)))
      intercept[SketchMergeException](Sketch.mergeSerializedInto(sparse, new Hll(16)))
    }
  }

  test("stored sparse payloads with unordered or repeated entries decode to their canonical multiset") {
    // The encoder writes ascending indices, one per register or bit; older or
    // hand-built payloads may not. The decoder keeps the max rank per
    // register (HLL) or the set union (LC), as it always did.
    def hllPayload(b: Int, entries: Seq[(Int, Int)]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(6 + 4 * entries.size)
      out.put(Sketch.TagHllSparse).put(b.toByte).putInt(entries.size)
      entries.foreach { case (idx, r) => out.putInt(idx << 8 | r) }
      out.array()
    }
    def lcPayload(size: Int, bits: Seq[Int]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(9 + 4 * bits.size)
      out.put(Sketch.TagLcSparse).putInt(size).putInt(bits.size)
      bits.foreach(i => out.putInt(i))
      out.array()
    }
    def sameAsCanonical(legacy: Array[Byte], canonical: Array[Byte], empty: => Sketch): Unit = {
      val want = Sketch.deserialize(canonical)
      assert(java.util.Arrays.equals(want.serialize(), canonical))
      for (got <- Seq(Sketch.deserialize(legacy), Sketch.mergeSerializedInto(legacy, empty))) {
        assert(java.util.Arrays.equals(got.serialize(), canonical))
        assert(got.estimate == want.estimate)
      }
      // and into a sketch that already holds entries
      val base = filled(empty)
      val viaLegacy = Sketch.mergeSerializedInto(legacy, Sketch.deserialize(base))
      val viaCanonical = Sketch.mergeSerializedInto(canonical, Sketch.deserialize(base))
      assert(java.util.Arrays.equals(viaLegacy.serialize(), viaCanonical.serialize()))
    }
    def filled(s: Sketch): Array[Byte] = { (1L to 20L).foreach(v => s.offerHash(hash(v))); s.serialize() }

    val b = 12
    sameAsCanonical(
      hllPayload(b, Seq(900 -> 3, 17 -> 2, 900 -> 7, 4000 -> 1, 17 -> 1, 2 -> 5, 900 -> 4)),
      hllPayload(b, Seq(2 -> 5, 17 -> 2, 900 -> 7, 4000 -> 1)),
      new Hll(b))
    sameAsCanonical(
      lcPayload(4096, Seq(30000, 5, 30000, 1234, 5, 0)),
      lcPayload(4096, Seq(0, 5, 1234, 30000)),
      new LinearCounter(4096))
  }

  test("LC serialization is representation-independent at the encoding threshold") {
    // sizeBytes=100: sparse encoding is smaller only for n <= 23 set bits,
    // but the in-memory sparse mode holds up to 64 entries — a counter in
    // that band must emit the same bytes as its equal-multiset dense twin
    val sp = new LinearCounter(100) // starts (and stays) sparse at 40 offers
    val dn = new LinearCounter(100, new Array[Byte](100)) // dense from byte 0
    (1L to 40L).foreach { v => sp.offerHash(hash(v)); dn.offerHash(hash(v)) }
    assert(java.util.Arrays.equals(sp.serialize(), dn.serialize()))
    // and the shared threshold must have picked the DENSE encoding here
    assert(sp.serialize()(0) == Sketch.TagLc, "expected the dense-encoding branch")
  }

  test("wire-format merge is bit-identical to deserialize+mergeInPlace") {
    // mergeSerializedInto is sketch_merge_agg's hot update path (r12): for
    // every (buffer repr × payload encoding) cell the merged bytes must
    // equal the object-merge result exactly
    val rnd = new scala.util.Random(23)
    def lcOf(vals: Iterable[Long], size: Int): LinearCounter = {
      val lc = new LinearCounter(size)
      vals.foreach(v => lc.offerHash(hash(v)))
      lc
    }
    // sizes chosen so each side lands sparse (few bits) or dense (many)
    for {
      nBuf <- Seq(5, 3000)   // sparse / dense buffer at size 1024
      nIn <- Seq(7, 4000)    // sparse / dense incoming payload
    } {
      val a = Array.fill(nBuf)(rnd.nextLong())
      val b = Array.fill(nIn)(rnd.nextLong())
      // LC, size 1024 bytes = 8192 bits, upgradeAt 256 bits
      val viaObj = lcOf(a, 1024); viaObj.mergeInPlace(Sketch.deserialize(lcOf(b, 1024).serialize()))
      val viaWire = Sketch.mergeSerializedInto(lcOf(b, 1024).serialize(), lcOf(a, 1024))
      assert(java.util.Arrays.equals(viaWire.serialize(), viaObj.serialize()),
        s"LC nBuf=$nBuf nIn=$nIn")
      assert(viaWire.estimate == viaObj.estimate)
      // HLL, b=8 → m=256, upgradeAt 32 registers
      val hObj = hllOf(a, 8); hObj.mergeInPlace(Sketch.deserialize(hllOf(b, 8).serialize()))
      val hWire = Sketch.mergeSerializedInto(hllOf(b, 8).serialize(), hllOf(a, 8))
      assert(java.util.Arrays.equals(hWire.serialize(), hObj.serialize()),
        s"HLL nBuf=$nBuf nIn=$nIn")
      assert(hWire.estimate == hObj.estimate)
    }
    // null target deserializes fresh
    val fresh = Sketch.mergeSerializedInto(lcOf(Seq(1L, 2L), 1024).serialize(), null)
    assert(fresh.estimate == 2)
    // mismatches raise exactly like the object path
    intercept[SketchMergeException](
      Sketch.mergeSerializedInto(hllOf(Seq(1L), 8).serialize(), lcOf(Seq(1L), 1024)))
    intercept[SketchMergeException](
      Sketch.mergeSerializedInto(lcOf(Seq(1L), 1024).serialize(), hllOf(Seq(1L), 8)))
    intercept[SketchMergeException](
      Sketch.mergeSerializedInto(lcOf(Seq(1L), 512).serialize(), lcOf(Seq(1L), 1024)))
    intercept[SketchMergeException](
      Sketch.mergeSerializedInto(hllOf(Seq(1L), 9).serialize(), hllOf(Seq(1L), 8)))
  }

  test("LC saturation reports capacity, not infinity") {
    val lc = new LinearCounter(4) // 32 bits
    (1L to 10000L).foreach(v => lc.offerHash(hash(v)))
    assert(lc.estimate == 32)
  }
}
