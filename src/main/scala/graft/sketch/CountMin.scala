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

  /** The packed [[CounterWire]] layout. */
  def serialize(): Array[Byte] = CountMin.wire.serialize(depth, width, n, counters)
}

object CountMin {
  /** The plain layout's tag: read, no longer written. */
  val WireTag: Byte = 0x43 // 'C'; other sketch families use their own tags
  /** The bit-packed layout's tag, what [[CountMin.serialize]] writes. */
  val PackedTag: Byte = 0x63 // 'c'
  val DefaultDepth = 5
  val DefaultWidth = 4096
  /** 2^22 counters per row = 32 MiB/row at depth 1 — beyond this a single
    * aggregation buffer stops being a "summary"; bound it at validation
    * rather than OOMing inside an executor. */
  val MaxWidth = 1 << 22

  private val wire = new CounterWire(WireTag, PackedTag, "count-min sketch", MaxWidth)

  /** Wire layout: `[tag 'c': 1][depth: 4][width: 4][n: 8][min: 8][w: 1]`,
    * then depth × width counters as c − min in w bits; the plain `'C'`
    * layout of earlier builds (8-byte counters) still decodes ([[CounterWire]]). */
  def deserialize(bytes: Array[Byte]): CountMin = {
    val p = wire.read(bytes)
    val cm = new CountMin(p.depth, p.width)
    cm.n = p.n
    p.addInto(cm.counters)
    cm
  }

  /** Merge a SERIALIZED sketch directly into `target` — the counter-add
    * twin of [[graft.sketch.Sketch.mergeSerializedInto]]: the packed body
    * adds straight into the target's counters, with no intermediate
    * counter array per input row in `cm_merge_agg`'s update path.
    * Identical validation, counters and total weight as deserialize +
    * mergeInPlace; a rejected payload leaves `target` unchanged. */
  def mergeSerializedInto(bytes: Array[Byte], target: CountMin): CountMin = {
    if (target == null) return deserialize(bytes)
    val p = wire.read(bytes)
    if (p.depth != target.depth || p.width != target.width)
      throw new SketchMergeException(
        s"cannot merge count-min sketches of different shape: " +
          s"${target.depth}x${target.width} vs ${p.depth}x${p.width}")
    target.n += p.n
    p.addInto(target.counters)
    target
  }
}

/** The wire layouts of both counter matrices, [[CountMin]] and
  * [[CountSketch]], for one family's two tags. Both start with
  * `[tag: 1][depth: 4][width: 4][n: 8]` (big-endian), then hold the
  * depth × width counters c, row by row:
  *  - packed (`packedTag`, what `serialize` writes): `[min: 8][w: 1]`, then
  *    each c − min in w bits, most significant bit first (depth × width is a
  *    multiple of 16, so they fill whole bytes); min is the least counter and
  *    w the bit length of max − min (frame-of-reference bit packing, Lemire &
  *    Boytsov 2015), so a sketch of few keys takes a few bits per counter;
  *  - plain (`plainTag`, read only): the counters as big-endian longs, the
  *    packed body with min = 0 and w = 64 and no `[min][w]`.
  * The bytes depend only on the counters, so they stay partition-invariant. */
private[sketch] final class CounterWire(plainTag: Byte, packedTag: Byte, what: String,
    maxWidth: Int) {
  import CounterWire._

  /** A validated payload: its header and where its counters start. */
  final class Payload(bytes: Array[Byte], val depth: Int, val width: Int, val n: Long,
      min: Long, w: Int, body: Int) {
    /** Add the counters into `into` (depth × width, row by row). */
    def addInto(into: Array[Long]): Unit =
      if (w == 64) {
        val lb = java.nio.ByteBuffer.wrap(bytes, body, bytes.length - body).asLongBuffer()
        var i = 0
        while (i < into.length) { into(i) += min + lb.get(i); i += 1 }
      } else if (w == 0) {
        var i = 0
        while (i < into.length) { into(i) += min; i += 1 }
      } else unpackInto(bytes, body, w, min, into)
  }

  /** Validate the header and the exact length of a payload in either
    * layout, before anything is applied. */
  def read(bytes: Array[Byte]): Payload = {
    if (bytes.length >= 1 && bytes(0) != packedTag && bytes(0) != plainTag)
      throw new SketchMergeException(
        f"not a $what: wire tag 0x${bytes(0)}%02x (expected 0x$packedTag%02x or 0x$plainTag%02x)")
    if (bytes.length < HeaderBytes)
      throw new SketchMergeException(s"corrupted $what: ${bytes.length} bytes")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val depth = bb.getInt(1)
    val width = bb.getInt(5)
    if (depth < 1 || depth > 16 || width < 16 || width > maxWidth ||
        (width & (width - 1)) != 0)
      throw new SketchMergeException(s"corrupted $what: ${depth}x$width")
    val n = bb.getLong(9)
    if (n < 0) throw new SketchMergeException(s"corrupted $what: n=$n")
    val cells = depth.toLong * width
    val (min, w, body) =
      if (bytes(0) == plainTag) (0L, 64, HeaderBytes)
      else {
        if (bytes.length < PackedHeaderBytes)
          throw new SketchMergeException(s"corrupted $what: ${bytes.length} bytes")
        val w = bytes(PackedHeaderBytes - 1) & 0xff
        if (w > 64) throw new SketchMergeException(s"corrupted $what: $w-bit counters")
        (bb.getLong(HeaderBytes), w, PackedHeaderBytes)
      }
    if (bytes.length != body + cells * w / 8)
      throw new SketchMergeException(
        s"corrupted $what: ${bytes.length} bytes for ${depth}x$width at $w bits")
    new Payload(bytes, depth, width, n, min, w, body)
  }

  def serialize(depth: Int, width: Int, n: Long, counters: Array[Long]): Array[Byte] = {
    var min = counters(0)
    var max = min
    var i = 1
    while (i < counters.length) {
      val c = counters(i)
      if (c < min) min = c else if (c > max) max = c
      i += 1
    }
    // the unsigned difference: max − min may exceed Long.MaxValue
    val w = 64 - java.lang.Long.numberOfLeadingZeros(max - min)
    val bb = java.nio.ByteBuffer.allocate(
      PackedHeaderBytes + (counters.length.toLong * w / 8).toInt)
    bb.put(packedTag).putInt(depth).putInt(width).putLong(n).putLong(min).put(w.toByte)
    if (w > 0) pack(bb, counters, min, w)
    bb.array()
  }
}

private[sketch] object CounterWire {
  private val HeaderBytes = 1 + 4 + 4 + 8
  private val PackedHeaderBytes = HeaderBytes + 8 + 1

  /** Write each c − min in w (1..64) bits, most significant bit first:
    * whole 64-bit words, then the bytes of the last partial word. */
  private def pack(bb: java.nio.ByteBuffer, counters: Array[Long], min: Long, w: Int): Unit = {
    var cur = 0L // the word being filled, from its top bit down
    var used = 0
    var i = 0
    while (i < counters.length) {
      val v = counters(i) - min
      val free = 64 - used
      if (w < free) { cur |= v << (free - w); used += w }
      else {
        val rest = w - free // bits of v that go to the next word
        bb.putLong(cur | (v >>> rest))
        cur = if (rest == 0) 0L else v << (64 - rest)
        used = rest
      }
      i += 1
    }
    var shift = 56
    while (used > 0) { bb.put((cur >>> shift).toByte); shift -= 8; used -= 8 }
  }

  /** Add min + each w-bit (1..63) value of a validated packed body into `into`. */
  private def unpackInto(bytes: Array[Byte], body: Int, w: Int, min: Long,
      into: Array[Long]): Unit = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val fullWords = (bytes.length - body) >>> 3
    def word(j: Int): Long =
      if (j < fullWords) bb.getLong(body + 8 * j)
      else { // the last partial word, zero-filled on the right
        var x = 0L
        var at = body + 8 * j
        var shift = 56
        while (at < bytes.length) { x |= (bytes(at) & 0xffL) << shift; at += 1; shift -= 8 }
        x
      }
    var cur = 0L // unread bits, at the top
    var avail = 0
    var next = 0
    var i = 0
    while (i < into.length) {
      val v =
        if (avail >= w) {
          val r = cur >>> (64 - w)
          cur <<= w; avail -= w
          r
        } else {
          val need = w - avail // 1..w bits from the next word
          val hi = if (avail == 0) 0L else cur >>> (64 - avail)
          val x = word(next)
          next += 1
          cur = x << need; avail = 64 - need
          (hi << need) | (x >>> (64 - need))
        }
      into(i) += min + v
      i += 1
    }
  }
}
