package graft.sketch

/** Plain blocked-free Bloom filter over 64-bit element hashes.
  *
  * Bit positions come from Kirsch–Mitzenmacher double hashing (2006): the
  * i-th probe is `h1 + i·h2 mod m` derived from the two halves of one
  * 64-bit element hash — one hash computation per element regardless of
  * `numHashes`, with the same asymptotic false-positive rate as k
  * independent hashes (FPR ≈ (1 − e^(−kn/m))^k; ~1% at m/n = 10 bits per
  * element with k = 7).
  *
  * Merge = bitwise OR (same numBits/numHashes required) — distributive, so
  * partial aggregation builds per-partition filters that OR across the
  * shuffle; a 100 TB build ships m/8 bytes per map task, never raw keys.
  * NO false negatives ever: `bloom-prefilter → exact join` is identity-
  * preserving, which is what makes the bloom queries hash-gateable.
  */
final class BloomFilter(val numBits: Int, val numHashes: Int) extends Serializable {
  require(numBits >= 64, s"bloom numBits must be >= 64, got $numBits")
  require(numBits % 64 == 0, s"bloom numBits must be a multiple of 64, got $numBits")
  require(numHashes >= 1 && numHashes <= 16,
    s"bloom numHashes must be in [1,16], got $numHashes")

  private[graft] val words = new Array[Long](numBits / 64)
  /** inserted element count (estimate quality / fill diagnostics). */
  private[graft] var n: Long = 0L

  @inline private def setBit(pos: Int): Unit =
    words(pos >>> 6) |= (1L << (pos & 63))
  @inline private def getBit(pos: Int): Boolean =
    (words(pos >>> 6) & (1L << (pos & 63))) != 0L

  def offerHash(h: Long): Unit = {
    val h1 = (h & 0x7FFFFFFFFFFFFFFFL) % numBits
    val h2 = ((h >>> 32) | 1L) % numBits // odd => full cycle for pow2-free m too
    var i = 0
    var pos = h1
    while (i < numHashes) {
      setBit(pos.toInt)
      pos += h2
      if (pos >= numBits) pos -= numBits
      i += 1
    }
    n += 1
  }

  def mightContainHash(h: Long): Boolean = {
    val h1 = (h & 0x7FFFFFFFFFFFFFFFL) % numBits
    val h2 = ((h >>> 32) | 1L) % numBits
    var i = 0
    var pos = h1
    while (i < numHashes) {
      if (!getBit(pos.toInt)) return false
      pos += h2
      if (pos >= numBits) pos -= numBits
      i += 1
    }
    true
  }

  def mergeInPlace(other: BloomFilter): Unit = {
    if (other.numBits != numBits || other.numHashes != numHashes)
      throw new SketchMergeException(
        s"cannot merge bloom filters of different shape: " +
          s"($numBits,$numHashes) vs (${other.numBits},${other.numHashes})")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
    n += other.n
  }

  def serialize(): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(BloomFilter.HeaderBytes + words.length * 8)
    buf.put(BloomFilter.WireTag).putInt(numBits).putInt(numHashes).putLong(n)
    buf.asLongBuffer().put(words)
    buf.array()
  }
}

object BloomFilter {
  val WireTag: Byte = 0x42 // 'B'

  private val HeaderBytes = 1 + 4 + 4 + 8

  /** Validate the wire header and the exact length; return (numBits,
    * numHashes, n). Shared by [[deserialize]] and [[mergeSerializedInto]]. */
  private def readHeader(bytes: Array[Byte]): (Int, Int, Long) = {
    if (bytes.length >= 1 && bytes(0) != WireTag)
      throw new SketchMergeException(
        f"not a bloom filter: wire tag 0x${bytes(0)}%02x (expected 0x$WireTag%02x)")
    if (bytes.length < HeaderBytes)
      throw new SketchMergeException(s"corrupted bloom payload: ${bytes.length} bytes")
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val numBits = buf.getInt(1)
    val numHashes = buf.getInt(5)
    if (numBits < 64 || numBits % 64 != 0 || numHashes < 1 || numHashes > 16)
      throw new SketchMergeException(
        s"corrupted bloom payload: numBits=$numBits numHashes=$numHashes")
    if (bytes.length != HeaderBytes + (numBits / 64) * 8)
      throw new SketchMergeException(
        s"corrupted bloom payload: ${bytes.length} bytes for numBits=$numBits")
    (numBits, numHashes, buf.getLong(9))
  }

  private def wordView(bytes: Array[Byte]): java.nio.LongBuffer =
    java.nio.ByteBuffer.wrap(bytes, HeaderBytes, bytes.length - HeaderBytes).asLongBuffer()

  def deserialize(bytes: Array[Byte]): BloomFilter = {
    val (numBits, numHashes, n) = readHeader(bytes)
    val bf = new BloomFilter(numBits, numHashes)
    bf.n = n
    wordView(bytes).get(bf.words)
    bf
  }

  /** Merge a SERIALIZED filter directly into `target` (null: decode it) —
    * the bitwise-OR twin of [[CountMin.mergeSerializedInto]]: no decoded
    * bit array per input row in `bloom_merge_agg`. The same validation,
    * bits and count as deserialize + mergeInPlace; a rejected payload
    * leaves `target` unchanged. */
  def mergeSerializedInto(bytes: Array[Byte], target: BloomFilter): BloomFilter = {
    if (target == null) return deserialize(bytes)
    val (numBits, numHashes, n) = readHeader(bytes)
    if (numBits != target.numBits || numHashes != target.numHashes)
      throw new SketchMergeException(
        s"cannot merge bloom filters of different shape: " +
          s"(${target.numBits},${target.numHashes}) vs ($numBits,$numHashes)")
    target.n += n
    val lb = wordView(bytes)
    var i = 0
    while (i < target.words.length) { target.words(i) |= lb.get(i); i += 1 }
    target
  }
}
