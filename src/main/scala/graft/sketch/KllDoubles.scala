package graft.sketch

import java.nio.ByteBuffer

/** KLL quantile sketch over doubles (Karnin, Lang, Liberty 2016) — the
  * mergeable approximate-quantile companion to the cardinality and
  * frequency sketches.
  *
  * Structure: a hierarchy of levels; items at level i carry weight 2^i.
  * Level 0 receives raw updates; a full level is COMPACTED — every other
  * item of its sorted run (random even/odd offset) promoted to the next
  * level, the rest discarded. Level capacities shrink geometrically (ratio
  * 2/3, floor 8) below the top level, giving O(k · log log n) space and
  * uniform rank error ε ≈ O(1/k): with the default k the observed
  * normalized rank error is well under 1% (property-tested at 3× margin in
  * KllSpec).
  *
  * Storage: one primitive array per level. Every level ≥ 1 is always
  * sorted, so promoting a compacted run or merging another sketch's level
  * joins two sorted runs in linear time. Level 0 may hold raw offers in
  * arrival order; it is sorted in place before it is compacted, queried or
  * written, so every level is written sorted. A stored level that is out of
  * order (written by an older build) is sorted once when it is read.
  *
  * Merge joins levels pairwise then re-compacts — associative up to
  * the randomized compaction choices, with the same error bound on the
  * merged weight, so partial aggregation and store-then-merge re-aggregation
  * are both safe (the same contract as [[Hll]] / [[SpaceSaving]]).
  * MIXED k merge to the smaller one (the KLL error analysis only needs the
  * compaction schedule from the merge point on, so adopting the coarser
  * geometry keeps the min-k bound — the same convention as the published
  * DataSketches implementation): a store accumulated across a k
  * reconfiguration stays readable, weakest vintage governing the error.
  * [[KllDoubles.mergeSerializedInto]] merges a stored sketch straight from
  * its wire bytes, with the same result as deserialize + [[mergeInPlace]].
  *
  * Compaction coin-flips come from a counter-seeded deterministic PRNG:
  * the SAME sketch state always compacts the same way (reproducible runs),
  * but once a compaction runs, estimates and bytes depend on the order in
  * which partials are merged — gates must assert the rank-error envelope,
  * never exact estimate values.
  *
  * Quantile queries return a RETAINED ITEM (no interpolation): the value at
  * the smallest cumulative weight ≥ q·n, which is what the rank-error
  * guarantee speaks about.
  */
final class KllDoubles(initialK: Int) extends Serializable {
  require(initialK >= 8 && initialK <= 65535,
    s"kll k must be in [8, 65535], got $initialK")

  import KllDoubles._

  /** Shrinks (only) when a smaller-k sketch is merged in. */
  private var _k: Int = initialK
  def k: Int = _k

  // items(i)(0 until sizes(i)): the items of weight 2^i
  private var items: Array[Array[Double]] = Array(new Array[Double](16))
  private var sizes: Array[Int] = Array(0)
  private var numLevels: Int = 1
  /** capacity(0), read on every update. */
  private var cap0: Int = capacity(0)
  private[graft] var n: Long = 0L
  private[graft] var compactions: Long = 0L

  private def capacity(lvl: Int): Int = {
    val depth = numLevels - 1 - lvl
    math.max(8, math.ceil(k * math.pow(2.0 / 3.0, depth)).toInt)
  }

  private def setK(newK: Int): Unit = { _k = newK; cap0 = capacity(0) }

  private def addLevel(): Unit = {
    if (numLevels == items.length) {
      items = java.util.Arrays.copyOf(items, 2 * numLevels)
      sizes = java.util.Arrays.copyOf(sizes, 2 * numLevels)
    }
    items(numLevels) = new Array[Double](16)
    numLevels += 1
    cap0 = capacity(0)
  }

  /** Room for `need` items at level `lvl`. */
  private def ensure(lvl: Int, need: Int): Array[Double] = {
    if (items(lvl).length < need)
      items(lvl) = java.util.Arrays.copyOf(items(lvl), math.max(need, 2 * items(lvl).length))
    items(lvl)
  }

  private def sortLevel0(): Unit = java.util.Arrays.sort(items(0), 0, sizes(0))

  def update(v: Double): Unit = {
    if (v.isNaN) return
    ensure(0, sizes(0) + 1)(sizes(0)) = v
    sizes(0) += 1
    n += 1
    if (sizes(0) >= cap0) compress()
  }

  /** Compact every over-full level bottom-up. */
  private def compress(): Unit = {
    var lvl = 0
    while (lvl < numLevels) {
      if (sizes(lvl) >= capacity(lvl)) compactLevel(lvl)
      lvl += 1
    }
  }

  private def compactLevel(lvl: Int): Unit = {
    val len = sizes(lvl)
    if (len < 2) return
    if (lvl == 0) sortLevel0()
    if (lvl + 1 >= numLevels) addLevel()
    // deterministic coin: same state => same compaction (reproducibility)
    compactions += 1
    val seed = compactions * 0x9E3779B97F4A7C15L + lvl * 0xC2B2AE3D27D4EB4FL + n
    val offset = new java.util.Random(seed).nextInt(2)
    // halve pairwise: of each consecutive sorted pair (weight w each) one
    // random side survives with weight 2w — total weight exactly preserved;
    // an odd trailing item has no pair and STAYS at this level
    val run = items(lvl)
    mergeRun(lvl + 1, run, offset, 2, len / 2)
    if (len % 2 == 1) { run(0) = run(len - 1); sizes(lvl) = 1 } else sizes(lvl) = 0
    if (sizes(lvl + 1) >= capacity(lvl + 1)) compactLevel(lvl + 1)
  }

  /** Merge the `m` sorted items `src(from + j·stride)` into the sorted level
    * `lvl`, back to front. */
  private def mergeRun(lvl: Int, src: Array[Double], from: Int, stride: Int, m: Int): Unit = {
    val s = sizes(lvl)
    val dst = ensure(lvl, s + m)
    var i = s - 1
    var j = m - 1
    var w = s + m - 1
    while (j >= 0) {
      val b = src(from + j * stride)
      if (i >= 0 && java.lang.Double.compare(dst(i), b) > 0) { dst(w) = dst(i); i -= 1 }
      else { dst(w) = b; j -= 1 }
      w -= 1
    }
    sizes(lvl) = s + m
  }

  def mergeInPlace(other: KllDoubles): Unit = {
    // mixed k merge to the smaller: the ensuing compress() re-compacts this
    // sketch to the coarser geometry, and the min-k error bound governs
    if (other.k < _k) setK(other.k)
    while (numLevels < other.numLevels) addLevel()
    val m = other.sizes(0)
    System.arraycopy(other.items(0), 0, ensure(0, sizes(0) + m), sizes(0), m)
    sizes(0) += m
    var lvl = 1
    while (lvl < other.numLevels) {
      mergeRun(lvl, other.items(lvl), 0, 1, other.sizes(lvl))
      lvl += 1
    }
    n += other.n
    compactions += other.compactions
    compress()
  }

  /** Adds a validated payload's k, levels, n and compaction count, without
    * compacting: level 0 is appended, each level ≥ 1 merged as a sorted run. */
  private def absorb(bb: ByteBuffer, levelsIn: Int): Unit = {
    val kIn = bb.getInt(1)
    if (kIn < _k) setK(kIn)
    while (numLevels < levelsIn) addLevel()
    var pos = HeaderBytes
    var lvl = 0
    while (lvl < levelsIn) {
      val m = bb.getInt(pos)
      val wire = ByteBuffer.wrap(bb.array(), pos + 4, 8 * m).asDoubleBuffer()
      val s = sizes(lvl)
      if (lvl == 0 || s == 0) {
        val dst = ensure(lvl, s + m)
        wire.get(dst, s, m)
        if (lvl > 0) sortRun(dst, m)
        sizes(lvl) = s + m
      } else {
        val run = new Array[Double](m)
        wire.get(run)
        sortRun(run, m)
        mergeRun(lvl, run, 0, 1, m)
      }
      pos += 4 + 8 * m
      lvl += 1
    }
    n += bb.getLong(5)
    compactions += bb.getLong(13)
  }

  /** The retained value at cumulative weight ≥ q·n (q in [0,1]): the
    * retained items in ascending order, walked by one cursor per sorted
    * level (ties go to the lower level first). */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile prob must be in [0,1], got $q")
    sortLevel0()
    val target = math.max(1L, math.ceil(q * n).toLong)
    val at = new Array[Int](numLevels)
    var cum = 0L
    var out = Double.NaN
    var left = retained
    while (left > 0 && cum < target) {
      var best = -1
      var lvl = 0
      while (lvl < numLevels) {
        if (at(lvl) < sizes(lvl)) {
          val v = items(lvl)(at(lvl))
          if (best < 0 || java.lang.Double.compare(v, out) < 0) { best = lvl; out = v }
        }
        lvl += 1
      }
      at(best) += 1
      cum += 1L << best
      left -= 1
    }
    out
  }

  /** Estimated rank (fraction of values ≤ v). */
  def rank(v: Double): Double = {
    if (n == 0) return 0.0
    var cum = 0L
    var lvl = 0
    while (lvl < numLevels) {
      val w = 1L << lvl
      var i = 0
      while (i < sizes(lvl)) { if (items(lvl)(i) <= v) cum += w; i += 1 }
      lvl += 1
    }
    cum.toDouble / n.toDouble
  }

  def retained: Int = {
    var total = 0
    var lvl = 0
    while (lvl < numLevels) { total += sizes(lvl); lvl += 1 }
    total
  }

  /** tag, k, n, compactions, level count; then per level its size and its
    * items, ascending (big-endian). */
  def serialize(): Array[Byte] = {
    sortLevel0()
    val bb = ByteBuffer.allocate(HeaderBytes + 4 * numLevels + 8 * retained)
    bb.put(WireTag).putInt(k).putLong(n).putLong(compactions).putInt(numLevels)
    var lvl = 0
    while (lvl < numLevels) {
      bb.putInt(sizes(lvl))
      var i = 0
      while (i < sizes(lvl)) {
        bb.putLong(java.lang.Double.doubleToLongBits(items(lvl)(i)))
        i += 1
      }
      lvl += 1
    }
    bb.array()
  }
}

object KllDoubles {
  val WireTag: Byte = 0x4B // 'K'
  val DefaultK = 256
  private val HeaderBytes = 1 + 4 + 8 + 8 + 4
  private val MaxLevels = 64

  private def corrupted(what: String) =
    new SketchMergeException(s"corrupted KLL payload: $what")

  /** Sorts `run(0 until m)` unless it already is (older builds wrote levels
    * in arrival order). */
  private def sortRun(run: Array[Double], m: Int): Unit = {
    var i = 1
    while (i < m && java.lang.Double.compare(run(i - 1), run(i)) <= 0) i += 1
    if (i < m) java.util.Arrays.sort(run, 0, m)
  }

  /** Pass 1 of both decode paths: checks every header field and that the
    * level sizes account for every byte. Returns the level count. */
  private def validate(bytes: Array[Byte], bb: ByteBuffer): Int = {
    if (bytes.length >= 1 && bytes(0) != WireTag)
      throw new SketchMergeException(
        f"not a KLL sketch: wire tag 0x${bytes(0)}%02x (expected 0x$WireTag%02x)")
    if (bytes.length < HeaderBytes)
      throw corrupted(s"${bytes.length} bytes, shorter than the $HeaderBytes-byte header")
    val k = bb.getInt(1)
    if (k < 8 || k > 65535) throw corrupted(s"k=$k")
    val n = bb.getLong(5)
    val compactions = bb.getLong(13)
    if (n < 0 || compactions < 0) throw corrupted(s"n=$n compactions=$compactions")
    val numLevels = bb.getInt(21)
    if (numLevels < 1 || numLevels > MaxLevels) throw corrupted(s"$numLevels levels")
    var pos = HeaderBytes
    var lvl = 0
    while (lvl < numLevels) {
      if (bytes.length - pos < 4) throw corrupted(s"truncated at level $lvl of $numLevels")
      val sz = bb.getInt(pos)
      if (sz < 0 || sz > (bytes.length - pos - 4) / 8)
        throw corrupted(s"level $lvl size $sz (${bytes.length} bytes)")
      pos += 4 + 8 * sz
      lvl += 1
    }
    if (pos != bytes.length)
      throw corrupted(s"${bytes.length - pos} trailing bytes after $numLevels levels")
    numLevels
  }

  /** Wire layout: `[tag 'K': 1][k: 4][n: 8][compactions: 8][levels: 4]`,
    * then per level `[size: 4][size × item: 8]` (double bits, ascending). */
  def deserialize(bytes: Array[Byte]): KllDoubles = {
    val bb = ByteBuffer.wrap(bytes)
    val numLevels = validate(bytes, bb)
    val s = new KllDoubles(bb.getInt(1))
    s.absorb(bb, numLevels)
    s
  }

  /** Merge a SERIALIZED sketch directly into `target` (null: decode it) —
    * the KLL twin of [[Sketch.mergeSerializedInto]]: each stored level is
    * read straight from the wire bytes and joined to the target's sorted
    * level, with no decoded sketch per input row in `kll_merge_agg`. The
    * same validation, levels and bytes as deserialize + [[KllDoubles.mergeInPlace]];
    * a rejected payload leaves `target` unchanged. */
  def mergeSerializedInto(bytes: Array[Byte], target: KllDoubles): KllDoubles = {
    if (target == null) return deserialize(bytes)
    val bb = ByteBuffer.wrap(bytes)
    target.absorb(bb, validate(bytes, bb))
    target.compress()
    target
  }
}
