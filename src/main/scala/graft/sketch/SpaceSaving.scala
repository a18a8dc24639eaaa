package graft.sketch

import java.nio.ByteBuffer
import java.util.Arrays

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving frequent-items summary (Metwally, Agrawal, El Abbadi 2005),
  * the sketch behind `approx_top_k`.
  *
  * Invariants (for a summary of capacity m over a stream of n items):
  *  - every item with true count > n/m is present in the summary;
  *  - for every tracked item: true ≤ est ≤ true + err, with err ≤ n/m;
  *  - if fewer than m distinct items were ever offered, counts are EXACT
  *    (est == true, err == 0) — no eviction ever happens.
  *
  * Mergeability (parallel SpaceSaving, Cafaro et al. 2016 / the trim step of
  * Agarwal et al. "Mergeable Summaries" 2012): estimates add pointwise; an
  * item absent from the other summary picks up that summary's minimum
  * estimate as additional error (an absent item's true count is bounded by
  * the min estimate — or 0 if that summary never evicted); then keep the
  * top m by estimate. The merged summary keeps the SpaceSaving guarantees
  * with err ≤ (n1+n2)/m, so partial aggregation and sketch re-aggregation
  * (store-then-merge) are both safe.
  *
  * MIXED capacities merge to the smaller one: trimming to m' ≤ m is the
  * same keep-top-m' step the overflow path already performs (Agarwal et
  * al.'s summary-size reduction), and the result carries the guarantees at
  * m' — so a store accumulated across a capacity reconfiguration stays
  * readable, with the weakest vintage governing the error bound.
  *
  * Hot-path design:
  *  - Layout. Entries live in SLOTS of parallel primitive arrays (`keys`,
  *    their cached `hashes`, `ests`, `errs`) plus one open-addressing
  *    `Array[Int]` index with linear probing. The arrays grow by doubling
  *    with the entry count, never up to `capacity`, so a huge capacity costs
  *    nothing until items arrive.
  *  - Offer. Keys are [[UTF8String]]s, so a buffer-backed value straight
  *    from a Spark row probes the index by its bytes with no decoding; its
  *    bytes are cloned only when it is inserted. A hit is one probe plus
  *    `est += w`: no allocation, no boxing.
  *  - Eviction uses a LAZY-UPDATE min-heap over (estimate snapshot, slot)
  *    pairs in two primitive arrays, built on the first eviction. Each live
  *    slot has one heap entry whose snapshot is ≤ its live estimate (hits
  *    never touch the heap); a stale root is refreshed to its live estimate
  *    and sifted down until the root is fresh, which is then the true
  *    minimum. The newcomer reuses the victim's slot, so the heap entry is
  *    refreshed in place. Amortized O(log m) per eviction, O(1) per hit.
  *  - Tie rule. The victim is the entry with the smallest estimate and,
  *    among equal estimates, the LOWEST SLOT. Slots are numbered in insertion
  *    order, an evicting newcomer takes its victim's slot, a decoded summary
  *    numbers its entries in payload order, a merge appends the other side's
  *    new items after the existing ones (in payload order for the wire
  *    merge), and a trim keeps the survivors' relative order. The rule is
  *    therefore deterministic for a given sequence of offers and merges.
  *  - Wire merge ([[SpaceSaving.mergeSerializedInto]]) reads the other
  *    summary straight from its bytes: pass 1 validates the payload and
  *    finds its minimum estimate, pass 2 probes each item through a view of
  *    the payload and clones the bytes only on insert. Slots the payload did
  *    not touch pick up its minimum, tracked in a bitset. [[mergeInPlace]]
  *    runs the same in-place steps over the other summary's slots.
  *  - Trim, top-k and serialize work on `Array[Int]`s of slot ids: the trim
  *    and `topK` select by (est desc, item bytes asc) with a quickselect,
  *    `serialize` sorts ids by item bytes and writes big-endian fields into
  *    one presized array.
  */
final class SpaceSaving(initialCapacity: Int) extends Serializable {
  import SpaceSaving._

  require(initialCapacity >= 1,
    s"approx_top_k capacity must be >= 1, got $initialCapacity")

  /** Shrinks (only) when a smaller-capacity summary is merged in. */
  private var _capacity: Int = initialCapacity
  def capacity: Int = _capacity

  // slots [0, size) are live; each holds an owned item, its hashCode, est, err
  private var keys = new Array[UTF8String](MinSlots)
  private var hashes = new Array[Int](MinSlots)
  private var ests = new Array[Long](MinSlots)
  private var errs = new Array[Long](MinSlots)
  private var size = 0
  // linear-probing index: cell = slot + 1, 0 = empty; power of two, ≤ half full
  private var index = new Array[Int](2 * MinSlots)

  /** total offered count (for the n/m error bound; survives merge). */
  private[graft] var n: Long = 0L
  /** true once an eviction happened — until then counts are exact. */
  private[graft] var evicted: Boolean = false

  // lazy-update min-heap ordered by (snapshot, slot), one entry per live slot
  // (so it holds `size` entries); null until the first eviction after a merge
  @transient private var heapEst: Array[Long] = _
  @transient private var heapSlot: Array[Int] = _

  /** Slot holding `key` (whose hashCode is `h`), or -1. */
  private def find(key: UTF8String, h: Int): Int = {
    val mask = index.length - 1
    var i = h & mask
    var cell = index(i)
    while (cell != 0) {
      val s = cell - 1
      if (hashes(s) == h && keys(s).equals(key)) return s
      i = (i + 1) & mask
      cell = index(i)
    }
    -1
  }

  private def indexInsert(s: Int): Unit = {
    val mask = index.length - 1
    var i = hashes(s) & mask
    while (index(i) != 0) i = (i + 1) & mask
    index(i) = s + 1
  }

  /** Backward-shift deletion: no tombstones, so probes stay short. */
  private def indexRemove(s: Int): Unit = {
    val mask = index.length - 1
    var hole = hashes(s) & mask
    while (index(hole) != s + 1) hole = (hole + 1) & mask
    var j = (hole + 1) & mask
    while (index(j) != 0) {
      val home = hashes(index(j) - 1) & mask
      // move j into the hole unless its home lies cyclically in (hole, j]
      if (((j - home) & mask) >= ((j - hole) & mask)) {
        index(hole) = index(j)
        hole = j
      }
      j = (j + 1) & mask
    }
    index(hole) = 0
  }

  /** Room for `need` slots at ≤ 1/2 index load. */
  private def ensureRoom(need: Int): Unit = {
    if (need > keys.length) {
      val len = pow2AtLeast(need)
      keys = Arrays.copyOf(keys, len)
      hashes = Arrays.copyOf(hashes, len)
      ests = Arrays.copyOf(ests, len)
      errs = Arrays.copyOf(errs, len)
    }
    if (2 * need > index.length) reindex(pow2AtLeast(2 * need))
  }

  /** Rebuilds the index over slots [0, size) with `cells` cells. */
  private def reindex(cells: Int): Unit = {
    if (cells == index.length) Arrays.fill(index, 0) else index = new Array[Int](cells)
    var s = 0
    while (s < size) { indexInsert(s); s += 1 }
  }

  private def append(owned: UTF8String, h: Int, est: Long, err: Long): Unit = {
    ensureRoom(size + 1)
    keys(size) = owned
    hashes(size) = h
    ests(size) = est
    errs(size) = err
    indexInsert(size)
    size += 1
  }

  def offer(item: String): Unit = offer(UTF8String.fromString(item), 1L)

  def offer(item: UTF8String): Unit = offer(item, 1L)

  /** `item` may be backed by a transient row buffer: it is cloned if (and
    * only if) it has to be stored. A hit allocates nothing. */
  def offer(item: UTF8String, weight: Long): Unit = {
    require(weight > 0, s"approx_top_k weight must be positive, got $weight")
    n += weight
    val h = item.hashCode
    val hit = find(item, h)
    if (hit >= 0) ests(hit) += weight
    else insert(item.clone(), h, weight)
  }

  /** A miss: a free slot, or the minimum's slot (see the tie rule). */
  private def insert(owned: UTF8String, h: Int, weight: Long): Unit = {
    if (size < _capacity) {
      append(owned, h, weight, 0L)
      if (heapEst != null) heapPush(size - 1)
    } else {
      val s = popMin()
      val min = ests(s)
      indexRemove(s)
      keys(s) = owned
      hashes(s) = h
      ests(s) = min + weight
      errs(s) = min
      indexInsert(s)
      heapEst(0) = min + weight
      siftDown(0)
      evicted = true
    }
  }

  // ---- lazy min-heap ----

  private def buildHeap(): Unit = {
    heapEst = Arrays.copyOf(ests, keys.length)
    heapSlot = new Array[Int](keys.length)
    var i = 0
    while (i < size) { heapSlot(i) = i; i += 1 }
    i = size / 2 - 1
    while (i >= 0) { siftDown(i); i -= 1 }
  }

  private def heapPush(s: Int): Unit = {
    if (heapEst.length < keys.length) {
      heapEst = Arrays.copyOf(heapEst, keys.length)
      heapSlot = Arrays.copyOf(heapSlot, keys.length)
    }
    var pos = s // the heap holds slots [0, s) in positions [0, s)
    val e = ests(s)
    var moving = true
    while (moving && pos > 0) {
      val parent = (pos - 1) >>> 1
      val pe = heapEst(parent)
      if (e < pe || (e == pe && s < heapSlot(parent))) {
        heapEst(pos) = pe
        heapSlot(pos) = heapSlot(parent)
        pos = parent
      } else moving = false
    }
    heapEst(pos) = e
    heapSlot(pos) = s
  }

  private def siftDown(from: Int): Unit = {
    val e = heapEst(from)
    val s = heapSlot(from)
    var pos = from
    var moving = true
    while (moving && 2 * pos + 1 < size) {
      var c = 2 * pos + 1
      if (c + 1 < size && (heapEst(c + 1) < heapEst(c) ||
          (heapEst(c + 1) == heapEst(c) && heapSlot(c + 1) < heapSlot(c)))) c += 1
      if (heapEst(c) < e || (heapEst(c) == e && heapSlot(c) < s)) {
        heapEst(pos) = heapEst(c)
        heapSlot(pos) = heapSlot(c)
        pos = c
      } else moving = false
    }
    heapEst(pos) = e
    heapSlot(pos) = s
  }

  /** Slot of the minimum (estimate, slot). A root whose snapshot is stale is
    * refreshed to its live estimate and sifted down; snapshots never exceed
    * live estimates, so a fresh root is the true minimum. */
  private def popMin(): Int = {
    if (heapEst == null) buildHeap()
    var s = heapSlot(0)
    while (heapEst(0) != ests(s)) {
      heapEst(0) = ests(s)
      siftDown(0)
      s = heapSlot(0)
    }
    s
  }

  // ---- merge ----

  /** Merge `other` into this summary (see class doc for the guarantee).
    * Mixed capacities are legal: the result trims to min(capacity) and
    * carries the guarantees at that size. */
  def mergeInPlace(other: SpaceSaving): Unit = {
    val otherSize = other.size
    val minOther = if (other.evicted) other.minEstimate() else 0L
    val origSize = size
    val minSelf = if (evicted) minEstimate() else 0L
    val touched = beginMerge(otherSize)
    var i = 0
    while (i < otherSize) {
      // the other summary's keys are owned and immutable: share, don't clone
      absorb(other.keys(i), other.hashes(i), other.ests(i), other.errs(i), minSelf, touched,
        copy = false)
      i += 1
    }
    endMerge(origSize, touched, minOther, other.capacity, other.n, other.evicted)
  }

  /** Pass 2 of the wire merge over a payload that [[validate]] accepted. */
  private def mergeWire(bytes: Array[Byte], w: Wire): Unit = {
    val bb = ByteBuffer.wrap(bytes)
    val origSize = size
    val minSelf = if (evicted) minEstimate() else 0L
    val touched = beginMerge(w.size)
    var pos = HeaderBytes
    var i = 0
    while (i < w.size) {
      val len = bb.getInt(pos)
      val view = UTF8String.fromBytes(bytes, pos + 4, len)
      pos += 4 + len
      absorb(view, view.hashCode, bb.getLong(pos), bb.getLong(pos + 8), minSelf, touched,
        copy = true)
      pos += 16
      i += 1
    }
    endMerge(origSize, touched, if (w.evicted) w.minEst else 0L, w.capacity, w.n, w.evicted)
  }

  /** Drops the heap, presizes for `incoming` new slots and returns the
    * touched-bitset over the current slots. */
  private def beginMerge(incoming: Int): Array[Long] = {
    heapEst = null
    heapSlot = null
    ensureRoom(size + incoming)
    new Array[Long]((size + 63) >>> 6)
  }

  /** One entry of the other summary: add to a tracked item, or insert it
    * (cloned if `copy`) with this summary's minimum as extra error. */
  private def absorb(key: UTF8String, h: Int, est: Long, err: Long, minSelf: Long,
      touched: Array[Long], copy: Boolean): Unit = {
    val s = find(key, h)
    if (s >= 0) {
      ests(s) += est
      errs(s) += err
      touched(s >>> 6) |= 1L << s
    } else {
      append(if (copy) key.clone() else key, h, est + minSelf, err + minSelf)
    }
  }

  private def endMerge(origSize: Int, touched: Array[Long], minOther: Long,
      otherCap: Int, otherN: Long, otherEvicted: Boolean): Unit = {
    if (minOther != 0L) {
      var s = 0
      while (s < origSize) {
        if ((touched(s >>> 6) & (1L << s)) == 0L) {
          ests(s) += minOther
          errs(s) += minOther
        }
        s += 1
      }
    }
    _capacity = math.min(_capacity, otherCap)
    if (size > _capacity) {
      evicted = true
      trim(_capacity)
    } else {
      evicted = evicted || otherEvicted
    }
    n += otherN
  }

  /** Keep the top `m` slots by (est desc, item asc), in their slot order. */
  private def trim(m: Int): Unit = {
    val ids = Array.range(0, size)
    select(ids, m)
    Arrays.sort(ids, 0, m)
    var j = 0
    while (j < m) {
      val s = ids(j) // ≥ j: compaction only moves slots down
      keys(j) = keys(s)
      hashes(j) = hashes(s)
      ests(j) = ests(s)
      errs(j) = errs(s)
      j += 1
    }
    Arrays.fill(keys.asInstanceOf[Array[AnyRef]], m, size, null)
    size = m
    reindex(index.length)
  }

  /** Slot order for trims and top-k (`byRank`: est desc, then item bytes
    * asc) or for serialize (item bytes asc); negative when a comes first. */
  private def compare(a: Int, b: Int, byRank: Boolean): Int = {
    if (byRank) {
      val c = java.lang.Long.compare(ests(b), ests(a))
      if (c != 0) return c
    }
    keys(a).binaryCompare(keys(b))
  }

  /** Reorders `ids` so its first `k` are the top k by rank, in no
    * particular order: quickselect with a median-of-three pivot, falling
    * back to a sort after too many uneven partitions. Items are distinct,
    * so the order is strict. */
  private def select(ids: Array[Int], k: Int): Unit = {
    val byRank = true
    var lo = 0
    var hi = ids.length - 1
    var budget = 2 * (32 - Integer.numberOfLeadingZeros(ids.length))
    while (k > lo && k <= hi) {
      if (budget == 0) { sortIds(ids, lo, hi + 1, byRank); return }
      budget -= 1
      val mid = (lo + hi) >>> 1
      if (compare(ids(mid), ids(lo), byRank) < 0) swap(ids, mid, lo)
      if (compare(ids(hi), ids(lo), byRank) < 0) swap(ids, hi, lo)
      if (compare(ids(hi), ids(mid), byRank) < 0) swap(ids, hi, mid)
      val pivot = ids(mid)
      swap(ids, mid, hi)
      var store = lo
      var i = lo
      while (i < hi) {
        if (compare(ids(i), pivot, byRank) < 0) { swap(ids, i, store); store += 1 }
        i += 1
      }
      swap(ids, store, hi)
      if (store < k) lo = store + 1 else hi = store - 1
    }
  }

  /** Merge sort of ids[from, until) by [[compare]]. */
  private def sortIds(ids: Array[Int], from: Int, until: Int, byRank: Boolean): Unit =
    if (until - from > 1) mergeSort(ids, new Array[Int](until), from, until, byRank)

  private def mergeSort(a: Array[Int], buf: Array[Int], lo: Int, hi: Int, byRank: Boolean): Unit = {
    if (hi - lo <= 16) {
      var i = lo + 1
      while (i < hi) {
        val x = a(i)
        var j = i - 1
        while (j >= lo && compare(a(j), x, byRank) > 0) { a(j + 1) = a(j); j -= 1 }
        a(j + 1) = x
        i += 1
      }
    } else {
      val mid = (lo + hi) >>> 1
      mergeSort(a, buf, lo, mid, byRank)
      mergeSort(a, buf, mid, hi, byRank)
      if (compare(a(mid - 1), a(mid), byRank) > 0) {
        System.arraycopy(a, lo, buf, lo, mid - lo)
        var i = lo
        var j = mid
        var k = lo
        while (i < mid && j < hi) {
          if (compare(a(j), buf(i), byRank) < 0) { a(k) = a(j); j += 1 } else { a(k) = buf(i); i += 1 }
          k += 1
        }
        while (i < mid) { a(k) = buf(i); i += 1; k += 1 }
      }
    }
  }

  def minEstimate(): Long = {
    if (size == 0) return 0L
    var min = ests(0)
    var s = 1
    while (s < size) { if (ests(s) < min) min = ests(s); s += 1 }
    min
  }

  /** Top-k by (estimate desc, item bytes asc) — deterministic under ties.
    * The items are the summary's own [[UTF8String]]s. */
  def topKItems(k: Int): IndexedSeq[(UTF8String, Long, Long)] = {
    val m = math.max(0, math.min(k, size))
    val ids = Array.range(0, size)
    select(ids, m)
    sortIds(ids, 0, m, byRank = true)
    IndexedSeq.tabulate(m) { j => val s = ids(j); (keys(s), ests(s), errs(s)) }
  }

  /** [[topKItems]] with the items decoded to `String`. */
  def topK(k: Int): Seq[(String, Long, Long)] =
    topKItems(k).map { case (item, est, err) => (item.toString, est, err) }

  def serialize(): Array[Byte] = {
    // deterministic order: bytes depend only on the entry multiset
    val ids = Array.range(0, size)
    sortIds(ids, 0, size, byRank = false)
    var total = HeaderBytes
    var s = 0
    while (s < size) { total += 20 + keys(s).numBytes; s += 1 }
    val out = new Array[Byte](total)
    val bb = ByteBuffer.wrap(out)
    bb.put(WireTag).putInt(capacity).putLong(n).put((if (evicted) 1 else 0).toByte).putInt(size)
    var j = 0
    while (j < size) {
      val s = ids(j)
      val item = keys(s)
      bb.putInt(item.numBytes)
      item.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + bb.position())
      bb.position(bb.position() + item.numBytes)
      bb.putLong(ests(s)).putLong(errs(s))
      j += 1
    }
    out
  }
}

object SpaceSaving {
  val WireTag: Byte = 0x53 // 'S'; HLL/LC sketches use their own tags

  /** tag, capacity, n, evicted, entry count; then per entry: item length,
    * item bytes, est, err (big-endian, entries in item byte order). */
  private val HeaderBytes = 1 + 4 + 8 + 1 + 4
  private val MinSlots = 8

  private def pow2AtLeast(x: Int): Int =
    if (x <= MinSlots) MinSlots else Integer.highestOneBit(x - 1) << 1

  /** A validated payload's header plus its minimum entry estimate. */
  private final class Wire(val capacity: Int, val n: Long, val evicted: Boolean,
      val size: Int, val minEst: Long)

  private def corrupted(what: String) =
    new SketchMergeException(s"corrupted approx_top_k payload: $what")

  /** Pass 1 of both decode paths: checks every field and that no item
    * appears twice, and finds the minimum estimate. Payloads are written in
    * item byte order, which proves distinctness in the same walk; older ones
    * (written in `String` order) that are not get an explicit index check. */
  private def validate(bytes: Array[Byte]): Wire = {
    if (bytes.length >= 1 && bytes(0) != WireTag)
      throw new SketchMergeException(
        f"not an approx_top_k summary: wire tag 0x${bytes(0)}%02x (expected 0x$WireTag%02x)")
    if (bytes.length < HeaderBytes)
      throw corrupted(s"${bytes.length} bytes, shorter than the $HeaderBytes-byte header")
    val bb = ByteBuffer.wrap(bytes)
    val capacity = bb.getInt(1)
    if (capacity < 1) throw corrupted(s"capacity $capacity")
    val n = bb.getLong(5)
    if (n < 0) throw corrupted(s"n=$n")
    val size = bb.getInt(14)
    if (size < 0 || size > capacity)
      throw corrupted(s"$size entries for capacity $capacity")
    var minEst = Long.MaxValue
    var ascending = true
    var prevOff = -1
    var prevLen = 0
    var pos = HeaderBytes
    var i = 0
    while (i < size) {
      if (bytes.length - pos < 4)
        throw corrupted(s"truncated at entry $i of $size (${bytes.length} bytes)")
      val len = bb.getInt(pos)
      if (len < 0 || len > bytes.length) throw corrupted(s"item length $len")
      if (bytes.length - pos - 4 < len + 16)
        throw corrupted(s"truncated at entry $i of $size (${bytes.length} bytes)")
      val off = pos + 4
      val est = bb.getLong(off + len)
      val err = bb.getLong(off + len + 8)
      if (est < 0 || err < 0 || err > est) throw corrupted(s"est=$est err=$err")
      if (est < minEst) minEst = est
      if (prevOff >= 0 && ascending &&
          Arrays.compareUnsigned(bytes, prevOff, prevOff + prevLen, bytes, off, off + len) >= 0)
        ascending = false
      prevOff = off
      prevLen = len
      pos = off + len + 16
      i += 1
    }
    if (pos != bytes.length)
      throw corrupted(s"${bytes.length - pos} trailing bytes after $size entries")
    if (!ascending) checkDistinct(bytes, bb, size)
    new Wire(capacity, n, bytes(13) != 0, size, if (size == 0) 0L else minEst)
  }

  /** Probes each item against the ones before it through an index of views. */
  private def checkDistinct(bytes: Array[Byte], bb: ByteBuffer, size: Int): Unit = {
    val seen = new SpaceSaving(Int.MaxValue)
    seen.ensureRoom(size)
    var pos = HeaderBytes
    var i = 0
    while (i < size) {
      val view = UTF8String.fromBytes(bytes, pos + 4, bb.getInt(pos))
      val h = view.hashCode
      if (seen.find(view, h) >= 0) throw corrupted(s"item '$view' appears twice")
      seen.append(view, h, 0L, 0L)
      pos += 20 + view.numBytes
      i += 1
    }
  }

  /** Wire layout: `[tag 'S': 1][capacity: 4][n: 8][evicted: 1][size: 4]`,
    * then `size × [length: 4][UTF-8 item][estimate: 8][error: 8]`. */
  def deserialize(bytes: Array[Byte]): SpaceSaving = {
    val w = validate(bytes)
    val ss = new SpaceSaving(w.capacity)
    ss.mergeWire(bytes, w)
    ss
  }

  /** Merge a SERIALIZED summary directly into `target` — the SpaceSaving
    * twin of [[Sketch.mergeSerializedInto]] and
    * [[CountMin.mergeSerializedInto]]: no decoded summary per input row in
    * `topk_merge_agg`'s update path, and item bytes are copied only for
    * items `target` does not track yet. The same validation, entries and
    * bytes as deserialize + [[SpaceSaving.mergeInPlace]]; a rejected payload
    * leaves `target` unchanged. */
  def mergeSerializedInto(bytes: Array[Byte], target: SpaceSaving): SpaceSaving = {
    target.mergeWire(bytes, validate(bytes))
    target
  }

  private def swap(a: Array[Int], i: Int, j: Int): Unit = {
    val t = a(i); a(i) = a(j); a(j) = t
  }
}
