package graft.sketch

import java.nio.ByteBuffer

/** Theta sketch for distinct counting AND bounded-error set algebra —
  * the sound realization of the reference stub's "TODO potential set
  * intersection and other utils" (UDFCardinalityEstimator.java:30).
  *
  * Inclusion–exclusion over HLL sketches (`sketch_intersection_estimate`)
  * has error proportional to the UNION size; a theta sketch's set-expression
  * error is proportional to the RESULT size (Beyer et al. 2007 "On Synopses
  * for Distinct-Value Estimation under Multiset Operations" — the KMV
  * estimator; Dasgupta et al. 2016 "A Framework for Estimating Stream
  * Expression Cardinalities" — the theta generalization whose estimate is
  * `retained / theta` with RSE ≲ 1/√(retained−1)).
  *
  * Representation — CANONICAL KMV-as-theta. The sketch keeps the k smallest
  * distinct 63-bit hash positions and, once more than k have been seen,
  * theta = the (k+1)-th smallest distinct position ever seen; retained
  * entries are exactly every known position strictly below theta. Unlike a
  * QuickSelect-style purge (whose theta depends on buffer-fill history, so
  * merge results depend on data placement), this form is a JOIN-SEMILATTICE:
  * merge(a, b) is the canonical sketch of the underlying set union, hence
  * associative, commutative, idempotent — and serialized bytes are
  * partition-invariant, the same guarantee the engine's HLL/LC/SpaceSaving/
  * KLL families give (entries are sorted on the wire).
  *
  * Estimator: exact `count` while theta is still the sentinel (fewer than
  * k+1 distinct positions seen — the sketch IS the set); otherwise
  * `count · 2⁶³ / theta`, the unbiased KMV estimator k/U₍ₖ₊₁₎.
  *
  * Set algebra (static methods): union keeps the semilattice; intersection
  * and difference produce a sketch at theta = min(θ_A, θ_B) whose retained
  * set is the exact set operation on the inputs' retained-below-theta
  * entries — a uniform sample of the result at rate theta, which is where
  * the result-proportional error bound comes from.
  *
  * Hot path: one `p < theta` branch rejects almost every row once theta has
  * converged (expected k·ln(n/k)+k acceptances over n distinct values);
  * accepted positions go through an open-addressed long hash set (dedup)
  * and a long-array max-heap (eviction), both allocation-free per offer.
  */
final class ThetaSketch private (
    val k: Int,
    private[sketch] var theta: Long,
    heapInit: Array[Long],
    heapSizeInit: Int) extends Serializable {

  import ThetaSketch._

  def this(k: Int) = {
    this(k, ThetaSketch.SentinelTheta, new Array[Long](math.max(k + 1, 2)), 0)
    require(k >= MinK && k <= MaxK, s"theta sketch k must be in [$MinK, $MaxK], got $k")
  }

  // ---- retained entries: long-array binary max-heap (live entries only) ----
  private[sketch] var heap: Array[Long] = heapInit
  private[sketch] var heapSize: Int = heapSizeInit

  /** Number of retained positions (all strictly below theta). */
  def retained: Int = heapSize

  // ---- dedup structure: open-addressed long hash set over heap contents.
  //      Evicted values are NOT removed (they are >= theta, so the hot-path
  //      `p < theta` check means they are never probed again); the table is
  //      rebuilt from the heap when stale slots accumulate. 0 = empty slot
  //      (positions are remapped to >= 1). Lazily (re)built — merge/deser
  //      construct sketches without it. ----
  @transient private var table: Array[Long] = _
  @transient private var tableFill: Int = 0 // live + stale occupancy

  private def tableCapacity: Int = {
    var c = 4
    while (c < 4 * (k + 1)) c <<= 1
    c
  }

  private def rebuildTable(): Unit = {
    if (table == null) table = new Array[Long](tableCapacity)
    else java.util.Arrays.fill(table, 0L)
    tableFill = 0
    var i = 0
    while (i < heapSize) { tableInsert(heap(i)); i += 1 }
  }

  /** Insert into the table; returns false if already present. */
  private def tableInsert(p: Long): Boolean = {
    val mask = table.length - 1
    // finalizer-style mix so clustered positions spread across slots
    var h = p * 0x9E3779B97F4A7C15L
    h ^= (h >>> 32)
    var idx = (h & mask).toInt
    while (true) {
      val slot = table(idx)
      if (slot == 0L) { table(idx) = p; tableFill += 1; return true }
      if (slot == p) return false
      idx = (idx + 1) & mask
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- max-heap primitives ----
  private def heapPush(p: Long): Unit = {
    var i = heapSize
    heap(i) = p
    heapSize += 1
    while (i > 0 && heap((i - 1) >> 1) < heap(i)) {
      val parent = (i - 1) >> 1
      val t = heap(parent); heap(parent) = heap(i); heap(i) = t
      i = parent
    }
  }

  private def heapPopMax(): Long = {
    val top = heap(0)
    heapSize -= 1
    heap(0) = heap(heapSize)
    var i = 0
    while (true) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var m = i
      if (l < heapSize && heap(l) > heap(m)) m = l
      if (r < heapSize && heap(r) > heap(m)) m = r
      if (m == i) return top
      val t = heap(m); heap(m) = heap(i); heap(i) = t
      i = m
    }
    top
  }

  /** Offer a raw 64-bit hash (e.g. from [[graft.functions.TypedXxHash]]). */
  def offerHash(hash: Long): Unit = offerPosition(position(hash))

  /** Offer a 63-bit position directly (internal / merge path). */
  private[sketch] def offerPosition(p: Long): Unit = {
    if (p >= theta) return
    if (table == null || tableFill > 2 * (k + 1)) rebuildTable()
    if (!tableInsert(p)) return
    heapPush(p)
    if (heapSize > k) {
      // (k+1) distinct positions below theta: the largest becomes theta —
      // i.e. theta is always the (k+1)-th smallest distinct position seen
      theta = heapPopMax()
    }
  }

  /** Merge `other` into this sketch; result is the canonical sketch of the
    * union of the underlying sets (see class doc). Requires matching k —
    * `k` is an immutable structural parameter of this instance, so mixed-k
    * unions cannot be done in place; callers holding sketches of unknown
    * vintage should use [[ThetaSketch.mergeInto]], which transparently
    * widens to min(k) via the static [[ThetaSketch.union]]. */
  def mergeInPlace(other: ThetaSketch): Unit = {
    if (other.k != k)
      throw new SketchMergeException(
        s"cannot merge theta sketches of different k in place: $k vs ${other.k}" +
          " (use ThetaSketch.mergeInto / theta_union, which widen to min k)")
    if (other.theta < theta) adoptTheta(other.theta)
    var i = 0
    while (i < other.heapSize) { offerPosition(other.heap(i)); i += 1 }
  }

  /** Adopt a tighter theta, dropping own entries at or above it. */
  private def adoptTheta(t: Long): Unit = {
    theta = t
    var live = 0
    var i = 0
    while (i < heapSize) {
      if (heap(i) < t) { heap(live) = heap(i); live += 1 }
      i += 1
    }
    heapSize = live
    // the kept entries are an arbitrary slice of a heap array — re-heapify
    java.util.Arrays.sort(heap, 0, heapSize)
    reverseHeapRange()
    rebuildTable()
  }

  /** A descending-sorted array is a valid max-heap. */
  private def reverseHeapRange(): Unit = {
    var a = 0
    var b = heapSize - 1
    while (a < b) { val t = heap(a); heap(a) = heap(b); heap(b) = t; a += 1; b -= 1 }
  }

  /** Exact while theta is the sentinel; else the unbiased KMV estimate. */
  def estimate: Long =
    if (theta == SentinelTheta) heapSize.toLong
    else math.round(heapSize.toDouble * SentinelTheta.toDouble / theta.toDouble)

  def estimateDouble: Double =
    if (theta == SentinelTheta) heapSize.toDouble
    else heapSize.toDouble * SentinelTheta.toDouble / theta.toDouble

  /** Sampling fraction θ ∈ (0, 1]: retained entries are a uniform sample of
    * the underlying set at this rate. */
  def thetaFraction: Double = theta.toDouble / SentinelTheta.toDouble

  /** Relative standard error of [[estimate]]: ≈ √(1−θ)/√(c−1) for c
    * retained entries (Dasgupta et al. 2016 §4; 0 in exact mode). */
  def rse: Double =
    if (theta == SentinelTheta || heapSize <= 1) 0.0
    else math.sqrt(1.0 - thetaFraction) / math.sqrt((heapSize - 1).toDouble)

  /** Retained positions, ascending (a defensive copy). */
  def sortedEntries(): Array[Long] = {
    val out = java.util.Arrays.copyOf(heap, heapSize)
    java.util.Arrays.sort(out)
    out
  }

  /** Canonical wire format: tag, k, theta, count, ascending entries — bytes
    * depend only on (k, underlying set), never on data placement. */
  def serialize(): Array[Byte] = {
    val bb = ByteBuffer.allocate(HeaderBytes + 8 * heapSize)
    bb.put(WireTag).putInt(k).putLong(theta).putInt(heapSize)
    val entries = sortedEntries()
    var i = 0
    while (i < entries.length) { bb.putLong(entries(i)); i += 1 }
    bb.array()
  }
}

object ThetaSketch {
  /** Exclusive upper bound of the 63-bit position space (= 2⁶³ − 1 ≈ 2⁶³;
    * the one-part-in-2⁶³ approximation is far below any sketch error). */
  val SentinelTheta: Long = Long.MaxValue
  val WireTag: Byte = 0x54 // 'T'
  val MinK = 16
  val MaxK = 1 << 26
  val DefaultK = 4096
  private val HeaderBytes = 1 + 4 + 8 + 4

  /** Map a 64-bit hash onto the positive position space [1, 2⁶³). */
  def position(hash: Long): Long = {
    val p = hash & Long.MaxValue
    if (p == 0L) 1L else p
  }

  private def fromParts(k: Int, theta0: Long, entries0: Array[Long]): ThetaSketch = {
    var entries = entries0
    var theta = theta0
    if (entries.length > k) {
      // mixed-k set ops can leave more than k entries below theta; lowering
      // theta to the (k+1)-th smallest is a valid theta choice (estimate
      // stays unbiased) and restores the <= k wire invariant
      java.util.Arrays.sort(entries)
      theta = entries(k)
      entries = java.util.Arrays.copyOf(entries, k)
    }
    val heap = java.util.Arrays.copyOf(entries, math.max(k + 1, 2))
    // descending order is a valid max-heap layout
    java.util.Arrays.sort(heap, 0, entries.length)
    var a = 0
    var b = entries.length - 1
    while (a < b) { val t = heap(a); heap(a) = heap(b); heap(b) = t; a += 1; b -= 1 }
    new ThetaSketch(k, theta, heap, entries.length)
  }

  private def corrupted(what: String) =
    new SketchMergeException(s"corrupted theta sketch: $what")

  /** Pass 1 of both decode paths: tag, k, theta, count ≤ k, the exact
    * length, and entries strictly ascending below theta. Returns the entry
    * count. */
  private def validate(bytes: Array[Byte], bb: ByteBuffer): Int = {
    if (bytes.length >= 1 && bytes(0) != WireTag)
      throw new SketchMergeException(
        f"not a theta sketch: wire tag 0x${bytes(0)}%02x (expected 0x$WireTag%02x)")
    if (bytes.length < HeaderBytes)
      throw corrupted(s"${bytes.length} bytes, shorter than the $HeaderBytes-byte header")
    val k = bb.getInt(1)
    if (k < MinK || k > MaxK) throw corrupted(s"k=$k")
    val theta = bb.getLong(5)
    if (theta <= 0L) throw corrupted(s"theta=$theta")
    val count = bb.getInt(13)
    if (count < 0 || count > k) throw corrupted(s"$count entries for k=$k")
    if (bytes.length != HeaderBytes + 8L * count)
      throw corrupted(s"${bytes.length} bytes for $count entries")
    var i = 0
    var prev = 0L
    while (i < count) {
      val p = bb.getLong(HeaderBytes + 8 * i)
      if (p <= prev || p >= theta)
        throw corrupted(s"entry $p out of order or >= theta $theta")
      prev = p
      i += 1
    }
    count
  }

  /** Wire layout: `[tag 'T': 1][k: 4][theta: 8][count: 4][count × hash: 8]`,
    * ascending hashes below theta. */
  def deserialize(bytes: Array[Byte]): ThetaSketch = {
    val bb = ByteBuffer.wrap(bytes)
    val count = validate(bytes, bb)
    val k = bb.getInt(1)
    // ascending on the wire: stored back to front, a valid max-heap
    val heap = new Array[Long](math.max(k + 1, 2))
    var i = 0
    while (i < count) { heap(count - 1 - i) = bb.getLong(HeaderBytes + 8 * i); i += 1 }
    new ThetaSketch(k, bb.getLong(5), heap, count)
  }

  /** Merge a SERIALIZED sketch directly into `target` (null: decode it) —
    * the theta twin of [[Sketch.mergeSerializedInto]], with the result of
    * [[mergeInto]] on the decoded sketch and no decoded sketch per input row
    * in `theta_merge_agg`. The wire is ascending, so the offers stop at the
    * first entry at or above the target's current theta. Mixed k goes
    * through [[union]], which builds a fresh sketch anyway. A rejected
    * payload leaves `target` unchanged. */
  def mergeSerializedInto(bytes: Array[Byte], target: ThetaSketch): ThetaSketch = {
    if (target == null) return deserialize(bytes)
    val bb = ByteBuffer.wrap(bytes)
    val count = validate(bytes, bb)
    if (bb.getInt(1) != target.k) return union(target, deserialize(bytes))
    val t = bb.getLong(5)
    if (t < target.theta) target.adoptTheta(t)
    var i = 0
    while (i < count) {
      val p = bb.getLong(HeaderBytes + 8 * i)
      if (p >= target.theta) return target
      target.offerPosition(p)
      i += 1
    }
    target
  }

  /** Union `b` into `a` and return the sketch to keep: the fast in-place
    * path when k matches, else a fresh sketch at min(k_A, k_B) — the same
    * downsampling [[union]] and `fromParts` apply. This is the aggregate
    * merge entry point, so `theta_merge_agg` over stored sketches of mixed
    * vintage (different k) succeeds exactly like scalar `theta_union`. */
  def mergeInto(a: ThetaSketch, b: ThetaSketch): ThetaSketch =
    if (a.k == b.k) { a.mergeInPlace(b); a } else union(a, b)

  /** Canonical sketch of A ∪ B (same as aggregate merge; result k =
    * min(k_A, k_B) so either input's sampling discipline is respected). */
  def union(a: ThetaSketch, b: ThetaSketch): ThetaSketch = {
    val out = new ThetaSketch(math.min(a.k, b.k))
    out.theta = math.min(a.theta, b.theta)
    var i = 0
    while (i < a.heapSize) { out.offerPosition(a.heap(i)); i += 1 }
    i = 0
    while (i < b.heapSize) { out.offerPosition(b.heap(i)); i += 1 }
    out
  }

  /** Sketch of A ∩ B at theta = min(θ_A, θ_B): the retained entries are the
    * exact intersection of the inputs' below-theta samples, so the estimate's
    * error is proportional to |A ∩ B|, not |A ∪ B|. */
  def intersect(a: ThetaSketch, b: ThetaSketch): ThetaSketch =
    setOp(a, b, keepWhenInOther = true)

  /** Sketch of A \ B at theta = min(θ_A, θ_B) (same sampling argument). */
  def difference(a: ThetaSketch, b: ThetaSketch): ThetaSketch =
    setOp(a, b, keepWhenInOther = false)

  private def setOp(a: ThetaSketch, b: ThetaSketch,
      keepWhenInOther: Boolean): ThetaSketch = {
    val theta = math.min(a.theta, b.theta)
    val inB = new java.util.HashSet[java.lang.Long](b.heapSize * 2)
    var i = 0
    while (i < b.heapSize) { inB.add(b.heap(i)); i += 1 }
    val out = new Array[Long](a.heapSize)
    var n = 0
    i = 0
    while (i < a.heapSize) {
      val p = a.heap(i)
      if (p < theta && inB.contains(p) == keepWhenInOther) { out(n) = p; n += 1 }
      i += 1
    }
    fromParts(math.min(a.k, b.k), theta, java.util.Arrays.copyOf(out, n))
  }
}
