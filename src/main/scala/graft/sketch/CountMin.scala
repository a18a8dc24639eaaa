package graft.sketch

/** Count-Min sketch (Cormode, Muthukrishnan 2005 "An Improved Data Stream
  * Summary: The Count-Min Sketch and its Applications") — point-frequency
  * estimates over arbitrary keys in `depth × width` counters, the
  * complement of SpaceSaving's top-k view: SpaceSaving answers "which items
  * are frequent", Count-Min answers "how often did THIS item occur" for
  * any item, long after the raw data is gone.
  *
  * Guarantees for a stream of total weight N:
  *  - never underestimates: est(x) ≥ true(x) always;
  *  - est(x) ≤ true(x) + ε·N with probability ≥ 1 − δ, where ε = e/width
  *    and δ = e^−depth (d=5, w=4096 → ε ≈ 6.6e−4, δ ≈ 6.7e−3).
  *
  * Merge is pointwise counter ADDITION — distributive, so partial
  * aggregation is exact and stored sketches re-aggregate, but (like
  * SpaceSaving/KLL and unlike HLL/theta) the merge is NOT idempotent:
  * stores must follow the append-once discipline
  * ([[graft.streaming.StreamOps]] batch_id partitions).
  *
  * Row hashes use Kirsch–Mitzenmacher double hashing over one 64-bit input
  * hash (h1 + i·h2 per row i) — the same construction as
  * [[BloomFilter]] — so one hash per update feeds all `depth` rows.
  */
final class CountMin(val depth: Int, val width: Int) extends Serializable {
  require(depth >= 1 && depth <= 16, s"count-min depth must be in [1,16], got $depth")
  require(width >= 16 && width <= CountMin.MaxWidth,
    s"count-min width must be in [16, ${CountMin.MaxWidth}], got $width")
  require((width & (width - 1)) == 0, s"count-min width must be a power of 2, got $width")

  private[graft] val counters = new Array[Long](depth * width)
  /** Total offered weight (for the ε·N bound; survives merge). */
  private[graft] var n: Long = 0L

  private def mask: Int = width - 1

  def offerHash(hash: Long): Unit = offerHash(hash, 1L)

  def offerHash(hash: Long, weight: Long): Unit = {
    require(weight > 0, s"count-min weight must be positive, got $weight")
    n += weight
    val h1 = hash
    val h2 = (hash >>> 32) | 1L // odd increment -> all rows distinct
    var i = 0
    while (i < depth) {
      val pos = ((h1 + i * h2) & Long.MaxValue) & mask
      counters(i * width + pos.toInt) += weight
      i += 1
    }
  }

  /** Point estimate: the minimum counter across rows (≥ true count). */
  def estimateHash(hash: Long): Long = {
    val h1 = hash
    val h2 = (hash >>> 32) | 1L
    var min = Long.MaxValue
    var i = 0
    while (i < depth) {
      val pos = ((h1 + i * h2) & Long.MaxValue) & mask
      val c = counters(i * width + pos.toInt)
      if (c < min) min = c
      i += 1
    }
    min
  }

  def totalWeight: Long = n

  def mergeInPlace(other: CountMin): Unit = {
    if (other.depth != depth || other.width != width)
      throw new SketchMergeException(
        s"cannot merge count-min sketches of different shape: " +
          s"${depth}x$width vs ${other.depth}x${other.width}")
    var i = 0
    while (i < counters.length) { counters(i) += other.counters(i); i += 1 }
    n += other.n
  }

  def serialize(): Array[Byte] =
    CounterWire.serialize(CountMin.WireTag, depth, width, n, counters)
}

object CountMin {
  val WireTag: Byte = 0x43 // 'C'; other sketch families use their own tags
  val DefaultDepth = 5
  val DefaultWidth = 4096
  /** 2^22 counters per row = 32 MiB/row at depth 1 — beyond this a single
    * aggregation buffer stops being a "summary"; bound it at validation
    * rather than OOMing inside an executor. */
  val MaxWidth = 1 << 22

  private def readHeader(bytes: Array[Byte]): (Int, Int, Long) =
    CounterWire.readHeader(bytes, WireTag, "count-min sketch", MaxWidth)

  def deserialize(bytes: Array[Byte]): CountMin = {
    val (depth, width, n) = readHeader(bytes)
    val cm = new CountMin(depth, width)
    cm.n = n
    CounterWire.counters(bytes).get(cm.counters)
    cm
  }

  /** Merge a SERIALIZED sketch directly into `target` — the counter-add
    * twin of [[graft.sketch.Sketch.mergeSerializedInto]]: no intermediate
    * 160 KB counter array per input row in `cm_merge_agg`'s update path
    * (a default-shape sketch is depth 5 × width 4096 longs). Identical
    * validation, counters and total weight as deserialize + mergeInPlace. */
  def mergeSerializedInto(bytes: Array[Byte], target: CountMin): CountMin = {
    if (target == null) return deserialize(bytes)
    val (depth, width, n) = readHeader(bytes)
    if (depth != target.depth || width != target.width)
      throw new SketchMergeException(
        s"cannot merge count-min sketches of different shape: " +
          s"${target.depth}x${target.width} vs ${depth}x$width")
    target.n += n
    CounterWire.addInto(bytes, target.counters)
    target
  }
}

/** The wire layout of both counter matrices, [[CountMin]] and
  * [[CountSketch]]: tag, depth, width, n, then the depth × width counters
  * (big-endian). */
private[sketch] object CounterWire {
  private val HeaderBytes = 1 + 4 + 4 + 8

  def serialize(tag: Byte, depth: Int, width: Int, n: Long, counters: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(HeaderBytes + 8 * counters.length)
    bb.put(tag).putInt(depth).putInt(width).putLong(n)
    bb.asLongBuffer().put(counters)
    bb.array()
  }

  /** Validate the header and the exact length of a `what` payload; return
    * (depth, width, n). */
  def readHeader(bytes: Array[Byte], tag: Byte, what: String, maxWidth: Int): (Int, Int, Long) = {
    if (bytes.length >= 1 && bytes(0) != tag)
      throw new SketchMergeException(
        f"not a $what: wire tag 0x${bytes(0)}%02x (expected 0x$tag%02x)")
    if (bytes.length < HeaderBytes)
      throw new SketchMergeException(s"corrupted $what: ${bytes.length} bytes")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val depth = bb.getInt(1)
    val width = bb.getInt(5)
    if (depth < 1 || depth > 16 || width < 16 || width > maxWidth ||
        (width & (width - 1)) != 0)
      throw new SketchMergeException(s"corrupted $what: ${depth}x$width")
    if (bytes.length != HeaderBytes + 8 * depth * width)
      throw new SketchMergeException(
        s"corrupted $what: ${bytes.length} bytes for ${depth}x$width")
    val n = bb.getLong(9)
    if (n < 0) throw new SketchMergeException(s"corrupted $what: n=$n")
    (depth, width, n)
  }

  /** The counters of a validated payload. */
  def counters(bytes: Array[Byte]): java.nio.LongBuffer =
    java.nio.ByteBuffer.wrap(bytes, HeaderBytes, bytes.length - HeaderBytes).asLongBuffer()

  /** Add a validated payload's counters into `into`, element by element. */
  def addInto(bytes: Array[Byte], into: Array[Long]): Unit = {
    val lb = counters(bytes)
    var i = 0
    while (i < into.length) { into(i) += lb.get(i); i += 1 }
  }
}
