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
  * shuffle; a 100 TB build ships at most m/8 bytes per map task (fewer
  * for a sparse filter), never raw keys.
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

  /** The sparse layout when it is smaller than the dense words, else the
    * dense one (see [[BloomFilter.deserialize]]): the choice depends only on
    * the bits, so the bytes stay partition-invariant. */
  def serialize(): Array[Byte] = {
    var setBits = 0
    var i = 0
    while (i < words.length) { setBits += java.lang.Long.bitCount(words(i)); i += 1 }
    val dense = BloomFilter.HeaderBytes + words.length * 8
    // each position takes at least one byte
    val sparse =
      if (BloomFilter.SparseHeaderBytes + setBits >= dense) dense else sparseBytes(dense)
    val buf = java.nio.ByteBuffer.allocate(math.min(sparse, dense))
    if (sparse < dense) {
      buf.put(BloomFilter.SparseTag).putInt(numBits).putInt(numHashes).putLong(n).putInt(setBits)
      var prev = -1
      i = 0
      while (i < words.length) {
        var word = words(i)
        while (word != 0L) {
          val pos = i * 64 + java.lang.Long.numberOfTrailingZeros(word)
          var gap = pos - prev
          while (gap >= 0x80) { buf.put((gap | 0x80).toByte); gap >>>= 7 }
          buf.put(gap.toByte)
          prev = pos
          word &= word - 1
        }
        i += 1
      }
    } else {
      buf.put(BloomFilter.WireTag).putInt(numBits).putInt(numHashes).putLong(n)
      buf.asLongBuffer().put(words)
    }
    buf.array()
  }

  /** The size of the sparse layout, or any size ≥ `limit` once it reaches
    * that (the scan stops there). */
  private def sparseBytes(limit: Int): Int = {
    var size = BloomFilter.SparseHeaderBytes
    var prev = -1
    var i = 0
    while (i < words.length && size < limit) {
      var word = words(i)
      while (word != 0L) {
        val pos = i * 64 + java.lang.Long.numberOfTrailingZeros(word)
        size += (38 - Integer.numberOfLeadingZeros(pos - prev)) / 7 // the gap's varint
        prev = pos
        word &= word - 1
      }
      i += 1
    }
    size
  }
}

object BloomFilter {
  /** The dense layout's tag. */
  val WireTag: Byte = 0x42 // 'B'
  /** The sparse layout's tag. */
  val SparseTag: Byte = 0x62 // 'b'

  private val HeaderBytes = 1 + 4 + 4 + 8
  private val SparseHeaderBytes = HeaderBytes + 4

  /** Validate the wire header and, for the dense layout, the exact length;
    * return (numBits, numHashes, n). Shared by [[deserialize]] and
    * [[mergeSerializedInto]]. */
  private def readHeader(bytes: Array[Byte]): (Int, Int, Long) = {
    if (bytes.length >= 1 && bytes(0) != WireTag && bytes(0) != SparseTag)
      throw new SketchMergeException(
        f"not a bloom filter: wire tag 0x${bytes(0)}%02x (expected 0x$WireTag%02x or 0x$SparseTag%02x)")
    if (bytes.length < HeaderBytes || bytes(0) == SparseTag && bytes.length < SparseHeaderBytes)
      throw new SketchMergeException(s"corrupted bloom payload: ${bytes.length} bytes")
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val numBits = buf.getInt(1)
    val numHashes = buf.getInt(5)
    if (numBits < 64 || numBits % 64 != 0 || numHashes < 1 || numHashes > 16)
      throw new SketchMergeException(
        s"corrupted bloom payload: numBits=$numBits numHashes=$numHashes")
    if (bytes(0) == WireTag && bytes.length != HeaderBytes + (numBits / 64) * 8)
      throw new SketchMergeException(
        s"corrupted bloom payload: ${bytes.length} bytes for numBits=$numBits")
    (numBits, numHashes, buf.getLong(9))
  }

  /** OR a validated payload's bits into `into`; for the sparse layout, with
    * `into` null, only check its positions. */
  private def orBits(bytes: Array[Byte], numBits: Int, into: Array[Long]): Unit =
    if (bytes(0) == WireTag) {
      if (into != null) {
        val lb = java.nio.ByteBuffer.wrap(bytes, HeaderBytes, bytes.length - HeaderBytes).asLongBuffer()
        var i = 0
        while (i < into.length) { into(i) |= lb.get(i); i += 1 }
      }
    } else {
      def corrupt(why: String) = throw new SketchMergeException(s"corrupted bloom payload: $why")
      val count = java.nio.ByteBuffer.wrap(bytes).getInt(HeaderBytes)
      if (count < 0 || count > numBits) corrupt(s"$count set bits of $numBits")
      var at = SparseHeaderBytes
      var prev = -1L
      var k = 0
      while (k < count) {
        var delta = 0L
        var shift = 0
        var b = 0
        while ({
          if (at >= bytes.length) corrupt(s"truncated after $k of $count positions")
          if (shift == 35) corrupt("overlong varint")
          b = bytes(at)
          at += 1
          delta |= (b & 0x7fL) << shift
          shift += 7
          b < 0
        }) ()
        if (b == 0 && shift > 7) corrupt("overlong varint")
        if (delta == 0) corrupt("positions not ascending")
        prev += delta
        if (prev >= numBits) corrupt(s"position $prev >= numBits=$numBits")
        if (into != null) into((prev >>> 6).toInt) |= 1L << prev
        k += 1
      }
      if (at != bytes.length) corrupt(s"${bytes.length - at} trailing bytes")
    }

  /** Decode either layout:
    *  - dense (`B`): `[tag: 1][numBits: 4][numHashes: 4][n: 8]` then the
    *    numBits / 64 words as big-endian longs;
    *  - sparse (`b`): the same header, `[count: 4]`, then the count set-bit
    *    positions in ascending order, each as the LEB128 varint of its gap
    *    to the one before (the first's to −1), so every gap is ≥ 1 — the
    *    gap coding of a sparse filter (Mitzenmacher, "Compressed Bloom
    *    Filters", 2002). */
  def deserialize(bytes: Array[Byte]): BloomFilter = {
    val (numBits, numHashes, n) = readHeader(bytes)
    val bf = new BloomFilter(numBits, numHashes)
    bf.n = n
    orBits(bytes, numBits, bf.words)
    bf
  }

  /** Merge a SERIALIZED filter directly into `target` (null: decode it) —
    * the bitwise-OR twin of [[CountMin.mergeSerializedInto]]: no decoded
    * bit array per input row in `bloom_merge_agg`. The same validation,
    * bits and count as deserialize + mergeInPlace; a rejected payload
    * leaves `target` unchanged (a sparse one is checked in full first). */
  def mergeSerializedInto(bytes: Array[Byte], target: BloomFilter): BloomFilter = {
    if (target == null) return deserialize(bytes)
    val (numBits, numHashes, n) = readHeader(bytes)
    if (numBits != target.numBits || numHashes != target.numHashes)
      throw new SketchMergeException(
        s"cannot merge bloom filters of different shape: " +
          s"(${target.numBits},${target.numHashes}) vs ($numBits,$numHashes)")
    if (bytes(0) == SparseTag) orBits(bytes, numBits, null)
    orBits(bytes, numBits, target.words)
    target.n += n
    target
  }
}
