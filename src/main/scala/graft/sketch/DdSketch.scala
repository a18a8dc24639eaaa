package graft.sketch

import java.nio.ByteBuffer

/** DDSketch — relative-error quantile sketch (Masson, Rim & Lee,
  * "DDSketch: a fast and fully-mergeable quantile sketch with
  * relative-error guarantees", VLDB 2019).
  *
  * Where KLL ([[KllDoubles]]) bounds RANK error (the returned value's
  * position is within ε·n of the target), DDSketch bounds VALUE error:
  * the returned estimate x̂ satisfies |x̂ − x_q| ≤ α·x_q. That is the
  * guarantee latency/size observability actually wants — "p99 within 1%
  * of the true p99 milliseconds", however heavy the tail — and it is why
  * this family complements rather than duplicates KLL.
  *
  * Structure: log-γ value buckets with γ = (1+α)/(1−α). A value v > 0
  * lands in bucket i = ⌈log_γ v⌉ (bucket i covers (γ^{i−1}, γ^i]); the
  * bucket estimate 2γ^i/(γ+1) is within α of every value in the bucket.
  * Negatives go to a mirrored store keyed by |v|; |v| < 1e-12 counts as
  * zero (the sub-resolution bucket every practical implementation has).
  *
  * Mergeability is EXACT: a merge adds bucket counts, so aggregation is
  * associative, commutative, and — unlike KLL's randomized compaction —
  * fully deterministic: any partitioning of the data yields the
  * IDENTICAL sketch (property-tested). Memory is bounded by collapsing the
  * LOWEST-index buckets into their neighbor once a store passes
  * `MaxBuckets` (the DataDog `collapsingLowest` variant): the α guarantee
  * then still holds for every quantile above the collapsed mass — the high
  * quantiles observability cares about — and only the extreme low tail
  * degrades. Collapse-lowest is order-independent — a store keeps its top
  * `MaxBuckets` keys and the lowest kept key holds all mass below it — so
  * a merge adds every bucket first and collapses once, and the identical-
  * sketch guarantee holds past the cap too.
  *
  * Storage: per sign, one primitive array of (key, count) pairs in
  * ascending key order — O(buckets) memory, never O(index span) (α = 1e-4
  * over 1e-300…1e300 spans about 7M indices). That is also the wire layout,
  * so a merge, in memory or straight from the wire bytes
  * ([[DdSketch.mergeSerializedInto]]), is a linear merge of two sorted
  * lists.
  *
  * Quantile queries walk negative buckets by descending index (most
  * negative value first), the zero bucket, then positive buckets by
  * ascending index, returning the bucket estimate at cumulative count
  * ≥ max(1, ⌈q·n⌉).
  */
final class DdSketch(val alpha: Double) extends Serializable {
  require(alpha >= 1e-4 && alpha <= 0.5,
    s"ddsketch alpha must be in [1e-4, 0.5], got $alpha")

  import DdSketch._

  val gamma: Double = (1.0 + alpha) / (1.0 - alpha)
  private val lnGamma: Double = math.log(gamma)

  private[sketch] val pos = new Store
  private[sketch] val neg = new Store
  private[graft] var zero: Long = 0L
  private[graft] var n: Long = 0L

  private def index(absV: Double): Long =
    math.ceil(math.log(absV) / lnGamma).toLong

  private def estimate(i: Long): Double =
    2.0 * math.pow(gamma, i.toDouble) / (gamma + 1.0)

  def update(v: Double): Unit = updateN(v, 1L)

  def updateN(v: Double, count: Long): Unit = {
    if (v.isNaN || count <= 0L) return
    n += count
    if (math.abs(v) < ZeroEps) zero += count
    else if (v > 0) pos.add(index(v), count)
    else neg.add(index(-v), count)
  }

  private def checkAlpha(other: Double): Unit =
    if (math.abs(other - alpha) > 1e-12)
      throw new SketchMergeException(
        s"cannot merge ddsketch(alpha=$other) into ddsketch(alpha=$alpha): " +
          "the log-bucket grids differ; re-aggregate from raw data instead")

  def mergeInPlace(other: DdSketch): Unit = {
    checkAlpha(other.alpha)
    pos.merge(other.pos.kc, 0, other.pos.size)
    neg.merge(other.neg.kc, 0, other.neg.size)
    zero += other.zero
    n += other.n
  }

  /** The α-relative-error estimate of the q-quantile (q in [0,1]);
    * NaN on an empty sketch. */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile prob must be in [0,1], got $q")
    if (n == 0L) return Double.NaN
    val target = math.max(1L, math.ceil(q * n).toLong)
    var cum = 0L
    // negatives: most negative first = descending |v| index
    var j = neg.size - 1
    while (j >= 0) {
      cum += neg.count(j)
      if (cum >= target) return -estimate(neg.key(j))
      j -= 1
    }
    cum += zero
    if (cum >= target) return 0.0
    j = 0
    while (j < pos.size) {
      cum += pos.count(j)
      if (cum >= target) return estimate(pos.key(j))
      j += 1
    }
    if (pos.size > 0) estimate(pos.key(pos.size - 1))
    else if (zero > 0) 0.0
    else -estimate(neg.key(0))
  }

  def buckets: Int = pos.size + neg.size + (if (zero > 0) 1 else 0)

  /** tag, alpha, zero, n; then per store (positive, negative) its size and
    * its (key, count) pairs in ascending key order: equal sketches
    * serialize equal. */
  def serialize(): Array[Byte] = {
    val bb = ByteBuffer.allocate(HeaderBytes + 8 + 16 * (pos.size + neg.size))
    bb.put(WireTag).putDouble(alpha).putLong(zero).putLong(n)
    for (s <- Seq(pos, neg)) {
      bb.putInt(s.size)
      var i = 0
      while (i < 2 * s.size) { bb.putLong(s.kc(i)); i += 1 }
    }
    bb.array()
  }
}

object DdSketch {
  val WireTag: Byte = 0x44 // 'D'
  val DefaultAlpha = 0.01
  /** Per-store bucket cap: 4096 buckets at α=0.01 span ~35 orders of
    * magnitude before any collapse — far beyond any physical metric. */
  val MaxBuckets = 4096
  val ZeroEps = 1e-12
  private val HeaderBytes = 1 + 8 + 8 + 8

  /** One sign's buckets: (key, count) pairs at `kc(2i)`, `kc(2i + 1)`, keys
    * strictly ascending, counts positive, at most [[MaxBuckets]] of them. */
  private[sketch] final class Store extends Serializable {
    var kc: Array[Long] = new Array[Long](16)
    var size: Int = 0

    def key(i: Int): Long = kc(2 * i)
    def count(i: Int): Long = kc(2 * i + 1)

    private def ensure(pairs: Int): Unit =
      if (kc.length < 2 * pairs) kc = java.util.Arrays.copyOf(kc, math.max(2 * pairs, 2 * kc.length))

    def add(key: Long, c: Long): Unit = {
      var lo = 0
      var hi = size - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val k = kc(2 * mid)
        if (k < key) lo = mid + 1
        else if (k > key) hi = mid - 1
        else { kc(2 * mid + 1) += c; return }
      }
      ensure(size + 1)
      System.arraycopy(kc, 2 * lo, kc, 2 * lo + 2, 2 * (size - lo))
      kc(2 * lo) = key
      kc(2 * lo + 1) = c
      size += 1
      collapse()
    }

    /** Add the `m` pairs at `src(from)…` (keys strictly ascending): a merge
      * back to front that sums equal keys, then one collapse. */
    def merge(src: Array[Long], from: Int, m: Int): Unit = {
      ensure(size + m)
      var i = size - 1
      var j = m - 1
      var w = size + m - 1
      while (j >= 0) {
        val kb = src(from + 2 * j)
        val ka = if (i >= 0) kc(2 * i) else Long.MinValue
        if (i >= 0 && ka > kb) {
          kc(2 * w) = ka; kc(2 * w + 1) = kc(2 * i + 1); i -= 1
        } else {
          kc(2 * w) = kb
          kc(2 * w + 1) = src(from + 2 * j + 1)
          if (i >= 0 && ka == kb) { kc(2 * w + 1) += kc(2 * i + 1); i -= 1 }
          j -= 1
        }
        w -= 1
      }
      // w - i equal keys were summed: close the gap they left
      val dups = w - i
      if (dups > 0) System.arraycopy(kc, 2 * (w + 1), kc, 2 * (i + 1), 2 * (size + m - 1 - w))
      size += m - dups
      collapse()
    }

    /** Keep the top [[MaxBuckets]] keys; the lowest kept one takes the mass
      * of every key below it. */
    private def collapse(): Unit = if (size > MaxBuckets) {
      val drop = size - MaxBuckets
      var mass = 0L
      var i = 0
      while (i <= drop) { mass += kc(2 * i + 1); i += 1 }
      System.arraycopy(kc, 2 * drop, kc, 0, 2 * MaxBuckets)
      kc(1) = mass
      size = MaxBuckets
    }
  }

  private def corrupted(what: String) =
    new SketchMergeException(s"corrupted ddsketch payload: $what")

  /** A validated payload: its header and both stores' pairs, positive then
    * negative, in wire layout. */
  private final class Wire(val alpha: Double, val zero: Long, val n: Long,
      val posSize: Int, val negSize: Int, val pairs: Array[Long])

  /** Pass 1 of both decode paths: every field, each store's size, keys
    * strictly ascending, counts positive and the exact length. */
  private def validate(bytes: Array[Byte]): Wire = {
    if (bytes.length >= 1 && bytes(0) != WireTag)
      throw new SketchMergeException(
        f"not a ddsketch: wire tag 0x${bytes(0)}%02x (expected 0x$WireTag%02x)")
    if (bytes.length < HeaderBytes + 4)
      throw corrupted(s"${bytes.length} bytes, shorter than the header")
    val bb = ByteBuffer.wrap(bytes)
    val alpha = bb.getDouble(1)
    if (!(alpha >= 1e-4 && alpha <= 0.5)) throw corrupted(s"alpha=$alpha")
    val zero = bb.getLong(9)
    val n = bb.getLong(17)
    if (zero < 0 || n < 0) throw corrupted(s"zero=$zero n=$n")
    val posSize = bb.getInt(HeaderBytes)
    if (posSize < 0 || posSize > MaxBuckets) throw corrupted(s"$posSize buckets")
    val negAt = HeaderBytes + 4 + 16 * posSize
    if (bytes.length < negAt + 4) throw corrupted(s"truncated: ${bytes.length} bytes")
    val negSize = bb.getInt(negAt)
    if (negSize < 0 || negSize > MaxBuckets) throw corrupted(s"$negSize buckets")
    val end = negAt + 4 + 16 * negSize
    if (bytes.length != end)
      throw corrupted(s"${bytes.length} bytes for $posSize + $negSize buckets")
    val pairs = new Array[Long](2 * (posSize + negSize))
    ByteBuffer.wrap(bytes, HeaderBytes + 4, 16 * posSize).asLongBuffer().get(pairs, 0, 2 * posSize)
    ByteBuffer.wrap(bytes, negAt + 4, 16 * negSize).asLongBuffer()
      .get(pairs, 2 * posSize, 2 * negSize)
    var i = 0
    while (i < posSize + negSize) {
      val k = pairs(2 * i)
      val c = pairs(2 * i + 1)
      if (c <= 0) throw corrupted(s"count $c at $k")
      if (i != 0 && i != posSize && k <= pairs(2 * i - 2))
        throw corrupted(s"key $k duplicated or out of order")
      i += 1
    }
    new Wire(alpha, zero, n, posSize, negSize, pairs)
  }

  /** Wire layout: `[tag 'D': 1][alpha: 8][zero: 8][n: 8]`, then per store
    * (positive, negative) `[size: 4][size × (key: 8, count: 8)]`, ascending keys. */
  def deserialize(bytes: Array[Byte]): DdSketch = {
    val w = validate(bytes)
    val s = new DdSketch(w.alpha)
    s.zero = w.zero
    s.n = w.n
    s.pos.merge(w.pairs, 0, w.posSize)
    s.neg.merge(w.pairs, 2 * w.posSize, w.negSize)
    s
  }

  /** Merge a SERIALIZED sketch directly into `target` (null: decode it) —
    * the DDSketch twin of [[Sketch.mergeSerializedInto]]: each stored list
    * of buckets is merged into the target's sorted store in one linear
    * pass, with no decoded sketch per input row in `dd_merge_agg`. The same
    * validation, buckets and bytes as deserialize + [[DdSketch.mergeInPlace]];
    * a rejected payload leaves `target` unchanged. */
  def mergeSerializedInto(bytes: Array[Byte], target: DdSketch): DdSketch = {
    if (target == null) return deserialize(bytes)
    val w = validate(bytes)
    target.checkAlpha(w.alpha)
    target.pos.merge(w.pairs, 0, w.posSize)
    target.neg.merge(w.pairs, 2 * w.posSize, w.negSize)
    target.zero += w.zero
    target.n += w.n
    target
  }
}
