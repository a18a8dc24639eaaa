package graft

import graft.sketch.{Hll, LinearCounter, Sketch}

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based sketch laws (SURVEY §5.3): ∀ datasets — merge equals
  * concatenation, estimates stay in the error envelope, partition splits
  * are irrelevant. Raw ScalaCheck generators with fixed seeds (the
  * scalatest-scalacheck bridge isn't in the offline cache). */
class SketchPropertiesSpec extends AnyFunSuite {

  private def hash(v: Long): Long = XXH64.hashLong(v, 42L)

  private def hllOf(vs: Seq[Long], b: Int = 14): Hll = {
    val h = new Hll(b)
    vs.foreach(v => h.offerHash(hash(v)))
    h
  }

  private val longs = Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
  private val dupHeavy = Gen.listOf(Gen.choose(0L, 100L))

  private def samples(g: Gen[List[Long]], n: Int = 100): Seq[List[Long]] =
    (1 to n).flatMap { i =>
      g.apply(Gen.Parameters.default.withSize(i * 7 % 97 + 3), Seed(i.toLong))
    }

  test("merged sketch of any split is bit-identical to one-shot") {
    for ((vs, i) <- samples(longs).zipWithIndex) {
      val k = if (vs.isEmpty) 0 else i % (vs.length + 1)
      val (a, b) = vs.splitAt(k)
      val ha = hllOf(a); ha.mergeInPlace(hllOf(b))
      assert(java.util.Arrays.equals(ha.serialize(), hllOf(vs).serialize()))
    }
  }

  test("estimate within envelope for random data") {
    for (vs <- samples(longs)) {
      val d = vs.distinct.length
      if (d > 0) {
        val est = hllOf(vs).estimate
        val sigma = 1.04 / math.sqrt(1 << 14)
        assert(math.abs(est - d).toDouble / d <= 5 * sigma + 2.0 / d,
          s"est=$est exact=$d")
      }
    }
  }

  test("duplicate-heavy data: near-exact small-range behavior") {
    for (vs <- samples(dupHeavy)) {
      val d = vs.distinct.length
      val est = hllOf(vs).estimate
      assert(math.abs(est - d) <= math.max(1, d / 50), s"est=$est exact=$d")
    }
  }

  test("serialization round-trips for arbitrary content") {
    for (vs <- samples(longs, 50)) {
      val h = hllOf(vs)
      assert(java.util.Arrays.equals(
        Sketch.deserialize(h.serialize()).serialize(), h.serialize()))
      val lc = new LinearCounter(1024)
      vs.foreach(v => lc.offerHash(hash(v)))
      assert(java.util.Arrays.equals(
        Sketch.deserialize(lc.serialize()).serialize(), lc.serialize()))
    }
  }

  /** Reference encoder over a plain dense register array: the wire bytes
    * and estimate an HLL with these registers must produce, whatever its
    * in-memory representation. */
  private def hllReference(b: Int, regs: Array[Byte]): (Array[Byte], Long) = {
    val m = 1 << b
    val set = (0 until m).filter(regs(_) != 0)
    val bytes =
      if (6 + 4 * set.size < 2 + m) {
        val out = java.nio.ByteBuffer.allocate(6 + 4 * set.size)
        out.put(Sketch.TagHllSparse).put(b.toByte).putInt(set.size)
        set.foreach(i => out.putInt(i << 8 | regs(i)))
        out.array()
      } else Array[Byte](Sketch.TagHll, b.toByte) ++ regs
    val zeros = m - set.size
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val raw = alpha * m * m / regs.map(r => math.pow(2, -r)).sum
    val est = if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else raw
    (bytes, math.round(est))
  }

  /** Reference encoder over a plain bitmap, as [[hllReference]]. */
  private def lcReference(sizeBytes: Int, bits: java.util.BitSet): (Array[Byte], Long) = {
    val n = bits.cardinality
    val mBits = 8L * sizeBytes
    val bytes =
      if (9L + 4L * n < 5L + sizeBytes) {
        val out = java.nio.ByteBuffer.allocate(9 + 4 * n)
        out.put(Sketch.TagLcSparse).putInt(sizeBytes).putInt(n)
        bits.stream().forEach(i => out.putInt(i))
        out.array()
      } else {
        val out = java.nio.ByteBuffer.allocate(5 + sizeBytes)
        out.put(Sketch.TagLc).putInt(sizeBytes).put(java.util.Arrays.copyOf(bits.toByteArray, sizeBytes))
        out.array()
      }
    val z = mBits - n
    (bytes, if (z == 0) mBits else math.round(mBits * math.log(mBits.toDouble / z)))
  }

  /** Each way to reach the multiset of `hashes`: offers in order, in-place
    * merges of three offered parts, and wire merges of those parts. */
  private def allRoutes(hashes: Array[Long], create: () => Sketch): Seq[(String, Sketch)] = {
    def offered(hs: Array[Long]) = { val s = create(); hs.foreach(s.offerHash); s }
    val cut1 = hashes.length / 5
    val cut2 = hashes.length * 3 / 5
    val parts = Seq(hashes.take(cut1), hashes.slice(cut1, cut2), hashes.drop(cut2))
    val viaMerge = offered(parts.head)
    parts.tail.foreach(p => viaMerge.mergeInPlace(offered(p)))
    val viaWire = parts.foldLeft(null: Sketch)((acc, p) => Sketch.mergeSerializedInto(offered(p).serialize(), acc))
    Seq("offers" -> offered(hashes), "mergeInPlace" -> viaMerge, "mergeSerializedInto" -> viaWire)
  }

  test("sparse/dense switch: bytes and estimate match a dense reference at, below and above it") {
    val rnd = new scala.util.Random(71)
    for (b <- Seq(4, 12, 16)) {
      val m = 1 << b
      val maxRank = 65 - b
      val switchAt = (m - 4 + 3) / 4 // fewest set registers that encode dense
      for (count <- Seq(switchAt - 1, switchAt, switchAt + 1); seed <- 0 until 2) {
        val regs = new Array[Byte](m)
        val hashes = scala.collection.mutable.ArrayBuffer.empty[Long]
        // a hash landing in register idx with rank r (all-zero suffix for the max rank)
        def hashOf(idx: Int, r: Int): Long = {
          val lead = 64 - b - r
          val low = if (lead <= 0) 0L else rnd.nextLong() & ((1L << lead) - 1)
          (idx.toLong << (64 - b)) | (if (r == maxRank) 0L else (1L << lead) | low)
        }
        for (idx <- rnd.shuffle((0 until m).toVector).take(count)) {
          val r = 1 + rnd.nextInt(maxRank)
          regs(idx) = r.toByte
          hashes += hashOf(idx, r)
          for (_ <- 0 until rnd.nextInt(3)) hashes += hashOf(idx, 1 + rnd.nextInt(r)) // lower or equal ranks
        }
        val (wantBytes, wantEst) = hllReference(b, regs)
        for ((route, s) <- allRoutes(rnd.shuffle(hashes).toArray, () => new Hll(b))) {
          val ctx = s"HLL b=$b set=$count seed=$seed via $route"
          assert(java.util.Arrays.equals(s.serialize(), wantBytes), ctx)
          assert(s.estimate == wantEst, ctx)
          assert(java.util.Arrays.equals(Sketch.deserialize(wantBytes).serialize(), wantBytes), ctx)
        }
      }
    }
    for (sizeBytes <- Seq(64, 4096, 1000000)) {
      val mBits = 8 * sizeBytes
      val switchAt = (sizeBytes - 4 + 3) / 4 // fewest set bits that encode dense
      for (count <- Seq(switchAt - 1, switchAt, switchAt + 1); seed <- 0 until (if (sizeBytes > 4096) 1 else 2)) {
        val bits = new java.util.BitSet(mBits)
        var set = 0
        while (set < count) {
          val bit = rnd.nextInt(mBits)
          if (!bits.get(bit)) { bits.set(bit); set += 1 }
        }
        val hashes = scala.collection.mutable.ArrayBuffer.empty[Long]
        // floorMod(h, mBits) == bit for every h ≡ bit, negative ones included
        bits.stream().forEach { bit =>
          for (_ <- 0 to rnd.nextInt(2)) hashes += bit + mBits.toLong * (rnd.nextInt(2001) - 1000)
        }
        val (wantBytes, wantEst) = lcReference(sizeBytes, bits)
        for ((route, s) <- allRoutes(rnd.shuffle(hashes).toArray, () => new LinearCounter(sizeBytes))) {
          val ctx = s"LC size=$sizeBytes set=$count seed=$seed via $route"
          assert(java.util.Arrays.equals(s.serialize(), wantBytes), ctx)
          assert(s.estimate == wantEst, ctx)
          assert(java.util.Arrays.equals(Sketch.deserialize(wantBytes).serialize(), wantBytes), ctx)
        }
      }
    }
  }

  test("CountSketch: merge of any split is counter-identical to one-shot; join size unbiased-ish") {
    import graft.sketch.CountSketch
    def csOf(s: Seq[Long], w: Int = 256) = {
      val cs = new CountSketch(5, w)
      s.foreach(v => cs.offerHash(XXH64.hashLong(v,
        graft.functions.AgmsFunctions.HashSeed)))
      cs
    }
    for ((vs, i) <- samples(dupHeavy).zipWithIndex) {
      val k = if (vs.isEmpty) 0 else i % (vs.length + 1)
      val (a, b) = vs.splitAt(k)
      val ca = csOf(a); ca.mergeInPlace(csOf(b))
      assert(java.util.Arrays.equals(ca.serialize(), csOf(vs).serialize()),
        s"split at $k diverged")
      // self inner product vs true F2 within the 4-sigma AGMS bound
      val f2 = vs.groupBy(identity).values.map(g => g.size.toLong * g.size).sum
      val bound = 4.0 * math.sqrt(2.0 * f2.toDouble * f2.toDouble / 256)
      assert(math.abs(csOf(vs).f2() - f2) <= math.max(bound, 1.0),
        s"F2 est ${csOf(vs).f2()} vs $f2 (bound $bound)")
    }
  }

  test("LC merge of any split equals one-shot") {
    for ((vs, i) <- samples(dupHeavy).zipWithIndex) {
      val k = if (vs.isEmpty) 0 else i % (vs.length + 1)
      val (a, b) = vs.splitAt(k)
      def lcOf(s: Seq[Long]) = {
        val lc = new LinearCounter(512)
        s.foreach(v => lc.offerHash(hash(v)))
        lc
      }
      val la = lcOf(a); la.mergeInPlace(lcOf(b))
      assert(java.util.Arrays.equals(la.serialize(), lcOf(vs).serialize()))
    }
  }
}
