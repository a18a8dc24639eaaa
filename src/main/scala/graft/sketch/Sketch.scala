package graft.sketch

/** Mergeable cardinality sketch — the data-model core of the engine.
  *
  * Re-derives the capability of the reference UDAF
  * (`/root/reference/src/main/java/com/github/mlnick/hive/udaf/UDAFCardinalityEstimator.java`)
  * from the published algorithms it cites (Flajolet et al. 2007 HyperLogLog;
  * Whang et al. 1990 Linear Counting — cited at UDAFCardinalityEstimator.java:50-51).
  * Unlike the reference (32-bit murmur over `toString`, see SURVEY §2 quirks) we
  * hash the typed value with 64-bit xxHash *before* offering, so the sketch layer
  * itself only ever sees a well-mixed 64-bit hash. This removes the ~2^32
  * cardinality ceiling and the long-range-correction question the reference
  * side-steps with `cardinality(false)` (UDAFCardinalityEstimator.java:335-337).
  *
  * Sketches form a commutative monoid (merge = union), which is what makes them
  * safe across shuffles, re-aggregation over stored sketch columns, and
  * streaming state — on a 1000-executor cluster a partial sketch is the ONLY
  * thing that crosses the wire per group (KBs, not raw rows).
  */
sealed trait Sketch extends Serializable {
  /** Algorithm tag, matching the reference's result-struct `type` field
    * ("HLL" / "LC", UDAFCardinalityEstimator.java:71-86). */
  def algo: String
  /** Offer one pre-hashed (64-bit, well-mixed) value. */
  def offerHash(h: Long): Unit
  /** Current cardinality estimate. */
  def estimate: Long
  /** In-place union with another sketch of the same algo+precision.
    * @throws SketchMergeException on algo or precision mismatch (mirrors the
    *         reference's wrapped CardinalityMergeException at :411-413). */
  def mergeInPlace(other: Sketch): Unit
  /** Tagged wire format; see [[Sketch.deserialize]]. */
  def serialize(): Array[Byte]
}

final class SketchMergeException(msg: String) extends RuntimeException(msg)

object Sketch {
  val TagHll: Byte = 1
  val TagLc: Byte = 2
  val TagHllSparse: Byte = 3
  val TagLcSparse: Byte = 4

  private[sketch] def readInt(bytes: Array[Byte], off: Int): Int =
    ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
      ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)

  private[sketch] def writeInt(bytes: Array[Byte], off: Int, v: Int): Unit = {
    bytes(off) = (v >>> 24).toByte
    bytes(off + 1) = (v >>> 16).toByte
    bytes(off + 2) = (v >>> 8).toByte
    bytes(off + 3) = v.toByte
  }

  /** Inverse of [[Sketch.serialize]]. Wire formats (the sparse encodings
    * exist because at scale most groups are small and a dense 2^b-byte
    * payload per group would dominate shuffle bytes):
    *  HLL dense:  [tag=1][b: 1][2^b register bytes]
    *  LC dense:   [tag=2][sizeBytes: 4 BE][bitmap bytes]
    *  HLL sparse: [tag=3][b: 1][n: 4 BE][n × (regIdx: 3 BE, rho: 1)]
    *  LC sparse:  [tag=4][sizeBytes: 4 BE][n: 4 BE][n × bitIdx: 4 BE]
    * The encoder writes sparse entries in ascending index order, one per
    * index. The decoder also accepts unordered and repeated entries (the
    * max rank, or the set union, wins), and rejects out-of-range values with
    * [[SketchMergeException]]: a precision outside [4, 24], a register
    * index ≥ 2^b, a rank outside [1, 65 − b] in a sparse entry or above
    * 65 − b in a dense register, a bit index outside the bitmap.
    */
  def deserialize(bytes: Array[Byte]): Sketch = {
    require(bytes != null && bytes.length >= 1, "empty sketch payload")
    bytes(0) match {
      case TagHll =>
        require(bytes.length >= 2, s"HLL payload length ${bytes.length} < 2")
        val b = Hll.checkPrecision(bytes(1))
        val m = 1 << b
        require(bytes.length == 2 + m, s"HLL payload length ${bytes.length} != ${2 + m}")
        val regs = java.util.Arrays.copyOfRange(bytes, 2, 2 + m)
        Hll.checkDense(b, regs)
        new Hll(b, regs)
      case TagHllSparse =>
        require(bytes.length >= 6, s"sparse HLL length ${bytes.length} < 6")
        val b = Hll.checkPrecision(bytes(1))
        val n = readInt(bytes, 2)
        require(n >= 0 && bytes.length == 6L + 4L * n,
          s"sparse HLL length ${bytes.length} != ${6L + 4L * n}")
        val words = new Array[Int](n)
        Hll.fromSparse(b, words, Hll.checkSparse(b, bytes, n, words))
      case TagLc =>
        require(bytes.length >= 5, s"LC payload length ${bytes.length} < 5")
        val size = readInt(bytes, 1)
        require(size > 0 && bytes.length == 5L + size, s"LC payload length ${bytes.length} != ${5L + size}")
        val bitmap = java.util.Arrays.copyOfRange(bytes, 5, 5 + size)
        new LinearCounter(size, bitmap)
      case TagLcSparse =>
        require(bytes.length >= 9, s"sparse LC length ${bytes.length} < 9")
        val size = readInt(bytes, 1)
        val n = readInt(bytes, 5)
        require(size > 0 && n >= 0 && bytes.length == 9L + 4L * n,
          s"sparse LC length ${bytes.length} != ${9L + 4L * n}")
        val words = new Array[Int](n)
        LinearCounter.fromSparse(size, words, LinearCounter.checkSparse(size, bytes, n, words))
      case t => throw new SketchMergeException(s"unknown sketch tag $t")
    }
  }

  /** Merge a SERIALIZED sketch directly into `target`, without materializing
    * an intermediate [[Sketch]]. Semantically identical to
    * `target.mergeInPlace(deserialize(bytes))` — the target's register/bit
    * multiset (and therefore its estimate and serialized bytes) is the same,
    * and the same payloads are rejected — but a dense payload is max-merged
    * or ORed byte by byte, and a sparse one is linearly merged into the
    * target's sorted sparse list, with no per-payload allocation. This is
    * the hot path of every `sketch_merge_agg` update. Returns the merged
    * sketch (deserialized fresh when `target` is null). */
  def mergeSerializedInto(bytes: Array[Byte], target: Sketch): Sketch = {
    if (target == null) return deserialize(bytes)
    require(bytes != null && bytes.length >= 1, "empty sketch payload")
    target match {
      case lc: LinearCounter => lc.mergeSerialized(bytes)
      case h: Hll => h.mergeSerialized(bytes)
    }
    target
  }
}

/** The sparse in-memory mode of [[Hll]] and [[LinearCounter]]: the HLL++
  * sparse list (Heule et al., EDBT 2013) over the sketches' own 4-byte
  * sparse wire words — `regIdx << 8 | rank` for HLL, the bit index for LC.
  *
  * `words(0 until size)` ascends, with one word per key (`word >>> keyShift`:
  * the register index for HLL, the whole word for LC); of two words with the
  * same key the larger wins, which for HLL is the larger rank. Offers go to
  * an unsorted buffer that is sorted, deduplicated and merged into the list
  * when it fills, or on [[flush]], which callers run before every read. A
  * filling buffer grows to a quarter to a half of the list, so a word is
  * moved a bounded number of times on average. Because the list is in wire order, encoding it
  * is a straight copy, and merging another list or a canonical payload into
  * it is one linear merge.
  *
  * Keys must be non-negative Ints: HLL indices are below 2^24, and LC keeps
  * this mode only for bitmaps of at most 2^28 bytes.
  */
private[sketch] final class SparseList private (keyShift: Int, private var words: Array[Int],
    private var n: Int) extends Serializable {

  def this(keyShift: Int) = this(keyShift, SparseList.NoWords, 0)

  // Pending offers, stored as `word ^ Int.MinValue`: a signed sort then puts
  // them in unsigned word order (HLL words of b = 24 use the sign bit).
  private var buf: Array[Int] = SparseList.NoWords
  private var pending = 0

  /** Entries in the list. Pending offers count only after [[flush]]. */
  def size: Int = n

  def word(i: Int): Int = words(i)

  /** Queues one word. Returns true when the full buffer was merged into the
    * list first, so the caller can re-check [[size]] against its dense
    * switch. A full buffer also grows to a quarter to a half of the list. */
  def add(word: Int): Boolean = {
    val full = pending == buf.length
    if (full) {
      flush()
      val want = math.max(SparseList.MinBuffer, n >>> 2)
      if (buf.length < want) buf = new Array[Int](2 * want)
    }
    buf(pending) = word ^ Int.MinValue
    pending += 1
    full
  }

  /** Sorts the pending offers, keeps the largest word per key and merges
    * them into the list. */
  def flush(): Unit = if (pending > 0) {
    java.util.Arrays.sort(buf, 0, pending)
    var k = 0
    var i = 0
    while (i < pending) {
      val w = buf(i) ^ Int.MinValue
      if (k > 0 && (buf(k - 1) >>> keyShift) == (w >>> keyShift)) buf(k - 1) = w
      else { buf(k) = w; k += 1 }
      i += 1
    }
    pending = 0
    mergeRun(buf, null, 0, k)
  }

  /** Unions a flushed list into this one. */
  def mergeList(o: SparseList): Unit = mergeRun(o.words, null, 0, o.n)

  /** Unions `k` validated big-endian words at `bytes(off)`; `ascending` says
    * their keys strictly ascend, as the encoder writes them. */
  def mergeWire(bytes: Array[Byte], off: Int, k: Int, ascending: Boolean): Unit =
    if (ascending) mergeRun(null, bytes, off, k)
    else {
      var i = 0
      while (i < k) {
        add(Sketch.readInt(bytes, off + 4 * i))
        i += 1
      }
      flush()
    }

  /** Writes the list as big-endian words from `out(off)`. */
  def encode(out: Array[Byte], off: Int): Unit = {
    var i = 0
    while (i < n) {
      Sketch.writeInt(out, off + 4 * i, words(i))
      i += 1
    }
  }

  /** Merges an ascending, one-word-per-key run of `k` words — `src(j)`, or
    * the j-th big-endian word at `bytes(off)` when `src` is null — into the
    * list, back to front in place. */
  private def mergeRun(src: Array[Int], bytes: Array[Byte], off: Int, k: Int): Unit = {
    if (k == 0) return
    if (words.length < n + k)
      words = java.util.Arrays.copyOf(words, math.max(n + k, words.length + (words.length >> 1)))
    val ws = words
    var i = n - 1
    var j = k - 1
    var w = n + k - 1
    // w - i ≥ j + 1 throughout, so a write never lands on an unread list word
    while (j >= 0) {
      val b = if (src != null) src(j) else Sketch.readInt(bytes, off + 4 * j)
      val kb = b >>> keyShift
      while (i >= 0 && (ws(i) >>> keyShift) > kb) {
        ws(w) = ws(i)
        w -= 1
        i -= 1
      }
      if (i >= 0 && (ws(i) >>> keyShift) == kb) {
        ws(w) = math.max(ws(i), b)
        i -= 1
      } else ws(w) = b
      w -= 1
      j -= 1
    }
    // each shared key left one slot empty between the untouched head and the merged tail
    val merged = n + k - 1 - w
    if (w > i) System.arraycopy(ws, w + 1, ws, i + 1, merged)
    n = i + 1 + merged
  }
}

private[sketch] object SparseList {
  private val NoWords = new Array[Int](0)
  private val MinBuffer = 64

  /** The list of decoded wire words; unordered or repeated ones are sorted
    * and deduplicated. */
  def of(keyShift: Int, words: Array[Int], ascending: Boolean): SparseList =
    if (ascending) new SparseList(keyShift, words, words.length)
    else {
      val s = new SparseList(keyShift)
      words.foreach(s.add)
      s.flush()
      s
    }
}

/** HyperLogLog (Flajolet/Fusy/Gandouet/Meunier 2007) with the HLL++ sparse
  * representation (Heule et al., EDBT 2013).
  *
  * `b` = log2(register count), default 16 in the engine API to match the
  * reference's `HLL_DEFAULT_B = 16` (UDAFCardinalityEstimator.java:89), giving
  * a theoretical std-err of 1.04/sqrt(2^16) ≈ 0.41%.
  *
  * 64-bit variant: top `b` hash bits select the register, the rank of the
  * remaining (64-b) bits feeds it, so a rank lies in [1, 65 − b].
  * Small-range correction = LinearCounting on the zero registers; NO 32-bit
  * long-range correction (meaningless at 64 bits, and the reference disables
  * it too — UDAFCardinalityEstimator.java:335-337).
  *
  * Representation: a new sketch starts as a [[SparseList]] of
  * `regIdx << 8 | rank` words, one per set register, and turns into the dense
  * 2^b-byte register array when the list would stop being smaller than it:
  * at `n` set registers with 6 + 4n ≥ 2 + 2^b, the same point where
  * [[serialize]] switches from the sparse to the dense encoding, so a sparse
  * sketch serializes sparse and vice versa. At scale most groups of a
  * high-cardinality GROUP BY are small, and sparse mode makes their
  * aggregation-buffer cost O(distinct), not a fixed 64 KB each.
  *
  * All observable behavior is representation-independent. While sparse,
  * fewer than 2^b/4 registers are set, so more than 3/4 are zero and the
  * estimate is always the small-range `m·ln(m/zeros)`, computed from the
  * entry count alone. Serialization emits ascending register order either
  * way, so the bytes depend only on the register multiset (identical bytes
  * for any data split).
  */
final class Hll private (val b: Int, private var dense: Array[Byte],
    private var sparse: SparseList) extends Sketch {
  require(b >= 4 && b <= 24, s"HLL precision b must be in [4,24], got $b")

  /** New empty sketch — starts sparse. */
  def this(b: Int) = this(b, null, new SparseList(8))
  /** Dense from existing registers (deserialization, tests). */
  def this(b: Int, regs: Array[Byte]) = this(b, regs, null)

  private[this] val m = 1 << b

  override def algo: String = "HLL"

  /** Whether `n` set registers encode smaller as a sparse list. */
  private def sparseFits(n: Int): Boolean = 6L + 4L * n < 2L + m

  private def toDense(): Unit = {
    sparse.flush()
    val regs = new Array[Byte](m)
    var i = 0
    while (i < sparse.size) {
      val w = sparse.word(i)
      regs(w >>> 8) = w.toByte
      i += 1
    }
    dense = regs
    sparse = null
  }

  /** Merges pending offers and goes dense past the switch; true while sparse. */
  private def settle(): Boolean = {
    if (sparse != null) {
      sparse.flush()
      if (!sparseFits(sparse.size)) toDense()
    }
    sparse != null
  }

  /** Dense register array (forces densification — for internal/test use). */
  private[graft] def registers: Array[Byte] = {
    if (dense == null) toDense()
    dense
  }

  override def offerHash(h: Long): Unit = {
    val idx = (h >>> (64 - b)).toInt
    val w = h << b
    // rank of the remaining 64-b bits; all-zero suffix => max rank 64-b+1
    val rho = if (w == 0) (64 - b + 1) else java.lang.Long.numberOfLeadingZeros(w) + 1
    if (dense != null) {
      if (rho > dense(idx)) dense(idx) = rho.toByte
    } else if (sparse.add(idx << 8 | rho) && !sparseFits(sparse.size)) toDense()
  }

  private def alphaMM: Double = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    alpha * m.toDouble * m.toDouble
  }

  override def estimate: Long = {
    if (settle()) return math.round(m * math.log(m.toDouble / (m - sparse.size)))
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      val r = dense(i) & 0xff
      sum += 1.0 / (1L << r).toDouble
      if (r == 0) zeros += 1
      i += 1
    }
    val e = alphaMM / sum
    val est =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) // small-range LC correction
      else e // no long-range correction by design
    math.round(est)
  }

  override def mergeInPlace(other: Sketch): Unit = other match {
    case o: Hll =>
      if (o.b != b)
        throw new SketchMergeException(s"cannot merge HLL(b=$b) with HLL(b=${o.b})")
      if (o eq this) return
      if (o.settle()) {
        if (sparse != null) {
          sparse.mergeList(o.sparse)
          if (!sparseFits(sparse.size)) toDense()
        } else {
          var i = 0
          while (i < o.sparse.size) {
            val w = o.sparse.word(i)
            if ((w & 0xff) > dense(w >>> 8)) dense(w >>> 8) = w.toByte
            i += 1
          }
        }
      } else { // other dense: densify this and take register-wise max
        if (dense == null) toDense()
        var i = 0
        while (i < m) {
          if (o.dense(i) > dense(i)) dense(i) = o.dense(i)
          i += 1
        }
      }
    case o => throw new SketchMergeException(s"cannot merge HLL with ${o.algo}")
  }

  /** Wire-format merge (see [[Sketch.mergeSerializedInto]]). A dense payload
    * is max-merged register by register; a sparse one is validated, then
    * linearly merged into the sparse list (or applied to the dense
    * registers). Validation matches [[Sketch.deserialize]], so corrupt or
    * mismatched payloads fail with the same exceptions. */
  private[sketch] def mergeSerialized(bytes: Array[Byte]): Unit = bytes(0) match {
    case Sketch.TagHll =>
      require(bytes.length >= 2, s"HLL payload length ${bytes.length} < 2")
      val ob = bytes(1).toInt
      if (ob != b)
        throw new SketchMergeException(s"cannot merge HLL(b=$b) with HLL(b=$ob)")
      require(bytes.length == 2 + m, s"HLL payload length ${bytes.length} != ${2 + m}")
      if (dense == null) toDense()
      val maxRank = 65 - b
      var i = 0
      while (i < m) {
        val r = bytes(2 + i)
        if (r > dense(i)) {
          if (r > maxRank) throw Hll.badRegister(b, i, r)
          dense(i) = r
        } else if (r < 0) throw Hll.badRegister(b, i, r)
        i += 1
      }
    case Sketch.TagHllSparse =>
      require(bytes.length >= 6, s"sparse HLL length ${bytes.length} < 6")
      val ob = bytes(1).toInt
      if (ob != b)
        throw new SketchMergeException(s"cannot merge HLL(b=$b) with HLL(b=$ob)")
      val n = Sketch.readInt(bytes, 2)
      require(n >= 0 && bytes.length == 6L + 4L * n,
        s"sparse HLL length ${bytes.length} != ${6L + 4L * n}")
      val ascending = Hll.checkSparse(b, bytes, n, null)
      if (sparse != null) {
        sparse.mergeWire(bytes, 6, n, ascending)
        if (!sparseFits(sparse.size)) toDense()
      } else {
        var i = 0
        while (i < n) {
          val w = Sketch.readInt(bytes, 6 + 4 * i)
          if ((w & 0xff) > dense(w >>> 8)) dense(w >>> 8) = w.toByte
          i += 1
        }
      }
    case Sketch.TagLc | Sketch.TagLcSparse =>
      throw new SketchMergeException("cannot merge HLL with LC")
    case t => throw new SketchMergeException(s"unknown sketch tag $t")
  }

  /** Sparse `(idx, rho)` entries when they are smaller than the 2^b register
    * bytes, dense otherwise: a low-cardinality group ships O(n) bytes across
    * the shuffle instead of a fixed 2^b. A sparse sketch is below that switch
    * by construction and encodes its list as is; a dense one counts its set
    * registers first. Both emit ascending register order, so the bytes depend
    * only on the register multiset. */
  override def serialize(): Array[Byte] = {
    if (settle()) {
      val out = new Array[Byte](6 + 4 * sparse.size)
      out(0) = Sketch.TagHllSparse
      out(1) = b.toByte
      Sketch.writeInt(out, 2, sparse.size)
      sparse.encode(out, 6)
      return out
    }
    var nonZero = 0
    var i = 0
    while (i < m) {
      if (dense(i) != 0) nonZero += 1
      i += 1
    }
    if (sparseFits(nonZero)) {
      val out = new Array[Byte](6 + 4 * nonZero)
      out(0) = Sketch.TagHllSparse
      out(1) = b.toByte
      Sketch.writeInt(out, 2, nonZero)
      var j = 0
      i = 0
      while (i < m) {
        if (dense(i) != 0) {
          Sketch.writeInt(out, 6 + 4 * j, i << 8 | (dense(i) & 0xff))
          j += 1
        }
        i += 1
      }
      out
    } else {
      val out = new Array[Byte](2 + m)
      out(0) = Sketch.TagHll
      out(1) = b.toByte
      System.arraycopy(dense, 0, out, 2, m)
      out
    }
  }
}

object Hll {
  private[sketch] def checkPrecision(b: Byte): Int = {
    if (b < 4 || b > 24)
      throw new SketchMergeException(s"corrupt HLL payload: precision b=$b outside [4, 24]")
    b
  }

  private[sketch] def badRegister(b: Int, i: Int, r: Byte): SketchMergeException =
    new SketchMergeException(
      s"corrupt HLL payload: register $i holds rank ${r & 0xff} > ${65 - b}")

  /** Rejects dense registers above the largest rank 65 − b (bytes ≥ 0x80 included). */
  private[sketch] def checkDense(b: Int, regs: Array[Byte]): Unit = {
    val maxRank = 65 - b
    var i = 0
    while (i < regs.length) {
      if ((regs(i) & 0xff) > maxRank) throw badRegister(b, i, regs(i))
      i += 1
    }
  }

  /** Validates the `n` entries of a sparse payload — register index < 2^b,
    * rank in [1, 65 − b] — copying their words into `into` unless it is
    * null. Returns whether the indices strictly ascend, as the encoder
    * writes them. */
  private[sketch] def checkSparse(b: Int, bytes: Array[Byte], n: Int, into: Array[Int]): Boolean = {
    val maxRank = 65 - b
    var ascending = true
    var prev = -1
    var i = 0
    while (i < n) {
      val w = Sketch.readInt(bytes, 6 + 4 * i)
      val idx = w >>> 8
      val rho = w & 0xff
      if (idx >= (1 << b))
        throw new SketchMergeException(
          s"corrupt sparse HLL payload: register index $idx >= 2^$b")
      if (rho == 0 || rho > maxRank)
        throw new SketchMergeException(
          s"corrupt sparse HLL payload: rank $rho of register $idx outside [1, $maxRank]")
      if (idx <= prev) ascending = false
      prev = idx
      if (into != null) into(i) = w
      i += 1
    }
    ascending
  }

  /** A sketch over decoded sparse words, dense if past the switch. */
  private[sketch] def fromSparse(b: Int, words: Array[Int], ascending: Boolean): Hll = {
    val h = new Hll(b, null, SparseList.of(8, words, ascending))
    h.settle()
    h
  }
}

/** Linear (probabilistic) Counting (Whang/Vander-Zanden/Taylor 1990).
  *
  * `sizeBytes` bytes of bitmap => m = 8*sizeBytes buckets; estimate
  * n̂ = m·ln(m/z) with z = unset buckets. Default size 1,000,000 bytes matches
  * the reference's `LC_DEFAULT_SIZE` (UDAFCardinalityEstimator.java:90).
  * Near-exact while n ≪ m; saturates (z → 0) beyond.
  *
  * Like [[Hll]], starts as a [[SparseList]] of set-bit indices and
  * materializes the bitmap when the list would stop being smaller than it:
  * at `n` set bits with 9 + 4n ≥ 5 + sizeBytes (about 1/32 fill), the same
  * point where [[serialize]] switches encodings. With the 1 MB default a small
  * group's aggregation buffer is O(distinct) instead of a megabyte (the "LC
  * memory under high-key GROUP BY" risk flagged in SURVEY §7). Counters of
  * fewer than 5 bytes, or of more than 2^28 bytes (whose bit indices do not
  * fit a non-negative Int), are dense from the start. All observable behavior
  * is representation-independent.
  */
final class LinearCounter private (val sizeBytes: Int, private var dense: Array[Byte],
    private var sparse: SparseList) extends Sketch {
  require(sizeBytes > 0, s"LC size must be positive, got $sizeBytes")

  /** New empty counter — starts sparse unless the switch is at 0 bits. */
  def this(sizeBytes: Int) = this(sizeBytes, null, new SparseList(0))
  /** Dense from an existing bitmap (deserialization, tests). */
  def this(sizeBytes: Int, bitmap: Array[Byte]) = this(sizeBytes, bitmap, null)

  private[this] val mBits: Long = sizeBytes.toLong * 8L

  /** Whether `n` set bits encode smaller as a sparse index list. */
  private def sparseEncodes(n: Long): Boolean = 9L + 4L * n < 5L + sizeBytes

  /** Whether `n` set bits stay in the sparse in-memory mode. */
  private def sparseFits(n: Int): Boolean =
    sizeBytes <= LinearCounter.MaxSparseBytes && sparseEncodes(n)

  if (sparse != null && !sparseFits(sparse.size)) toDense()

  override def algo: String = "LC"

  private def toDense(): Unit = {
    sparse.flush()
    val bm = new Array[Byte](sizeBytes)
    var i = 0
    while (i < sparse.size) {
      val idx = sparse.word(i)
      bm(idx >>> 3) = (bm(idx >>> 3) | (1 << (idx & 7))).toByte
      i += 1
    }
    dense = bm
    sparse = null
  }

  /** Merges pending offers and goes dense past the switch; true while sparse. */
  private def settle(): Boolean = {
    if (sparse != null) {
      sparse.flush()
      if (!sparseFits(sparse.size)) toDense()
    }
    sparse != null
  }

  /** Dense bitmap (forces densification — for internal/test use). */
  private[graft] def bitmap: Array[Byte] = {
    if (dense == null) toDense()
    dense
  }

  override def offerHash(h: Long): Unit = {
    val idx = java.lang.Math.floorMod(h, mBits)
    if (dense != null) {
      val byteIdx = (idx >>> 3).toInt
      dense(byteIdx) = (dense(byteIdx) | (1 << (idx & 7).toInt)).toByte
    } else if (sparse.add(idx.toInt) && !sparseFits(sparse.size)) toDense()
  }

  private def zeros: Long = {
    if (settle()) mBits - sparse.size
    else {
      var ones = 0L
      var i = 0
      while (i < sizeBytes) {
        ones += java.lang.Integer.bitCount(dense(i) & 0xff)
        i += 1
      }
      mBits - ones
    }
  }

  override def estimate: Long = {
    val z = zeros
    if (z == 0) mBits // saturated: report capacity rather than infinity
    else math.round(mBits.toDouble * math.log(mBits.toDouble / z))
  }

  override def mergeInPlace(other: Sketch): Unit = other match {
    case o: LinearCounter =>
      if (o.sizeBytes != sizeBytes)
        throw new SketchMergeException(
          s"cannot merge LC(size=$sizeBytes) with LC(size=${o.sizeBytes})")
      if (o eq this) return
      if (o.settle()) {
        if (sparse != null) {
          sparse.mergeList(o.sparse)
          if (!sparseFits(sparse.size)) toDense()
        } else {
          var i = 0
          while (i < o.sparse.size) {
            val idx = o.sparse.word(i)
            dense(idx >>> 3) = (dense(idx >>> 3) | (1 << (idx & 7))).toByte
            i += 1
          }
        }
      } else {
        if (dense == null) toDense()
        var i = 0
        while (i < sizeBytes) {
          dense(i) = (dense(i) | o.dense(i)).toByte
          i += 1
        }
      }
    case o => throw new SketchMergeException(s"cannot merge LC with ${o.algo}")
  }

  /** Wire-format merge (see [[Sketch.mergeSerializedInto]]): a dense payload
    * is one byte-OR sweep; a sparse one is validated, then linearly merged
    * into the sparse list (or its bits set in the bitmap). Validation
    * matches [[Sketch.deserialize]]. */
  private[sketch] def mergeSerialized(bytes: Array[Byte]): Unit = bytes(0) match {
    case Sketch.TagLc =>
      require(bytes.length >= 5, s"LC payload length ${bytes.length} < 5")
      val size = Sketch.readInt(bytes, 1)
      if (size != sizeBytes)
        throw new SketchMergeException(
          s"cannot merge LC(size=$sizeBytes) with LC(size=$size)")
      require(bytes.length == 5L + size, s"LC payload length ${bytes.length} != ${5L + size}")
      if (dense == null) toDense()
      var i = 0
      while (i < sizeBytes) {
        dense(i) = (dense(i) | bytes(5 + i)).toByte
        i += 1
      }
    case Sketch.TagLcSparse =>
      require(bytes.length >= 9, s"sparse LC length ${bytes.length} < 9")
      val size = Sketch.readInt(bytes, 1)
      if (size != sizeBytes)
        throw new SketchMergeException(
          s"cannot merge LC(size=$sizeBytes) with LC(size=$size)")
      val n = Sketch.readInt(bytes, 5)
      require(n >= 0 && bytes.length == 9L + 4L * n,
        s"sparse LC length ${bytes.length} != ${9L + 4L * n}")
      val ascending = LinearCounter.checkSparse(sizeBytes, bytes, n, null)
      if (sparse != null) {
        sparse.mergeWire(bytes, 9, n, ascending)
        if (!sparseFits(sparse.size)) toDense()
      } else {
        var i = 0
        while (i < n) {
          val idx = Sketch.readInt(bytes, 9 + 4 * i)
          dense(idx >>> 3) = (dense(idx >>> 3) | (1 << (idx & 7))).toByte
          i += 1
        }
      }
    case Sketch.TagHll | Sketch.TagHllSparse =>
      throw new SketchMergeException("cannot merge LC with HLL")
    case t => throw new SketchMergeException(s"unknown sketch tag $t")
  }

  /** Sparse bit-index list when it is strictly smaller, dense bitmap
    * otherwise — chosen PURELY from the set-bit count, never from the
    * in-memory mode: serialized bytes must depend only on the bit multiset
    * (partition invariance). A sparse counter is below that switch by
    * construction and encodes its list as is; a dense one counts its bits
    * first. Both encodings emit ascending bit order. */
  override def serialize(): Array[Byte] = {
    if (settle()) {
      val out = new Array[Byte](9 + 4 * sparse.size)
      out(0) = Sketch.TagLcSparse
      Sketch.writeInt(out, 1, sizeBytes)
      Sketch.writeInt(out, 5, sparse.size)
      sparse.encode(out, 9)
      return out
    }
    val n = (mBits - zeros).toInt
    if (sparseEncodes(n)) {
      val out = new Array[Byte](9 + 4 * n)
      out(0) = Sketch.TagLcSparse
      Sketch.writeInt(out, 1, sizeBytes)
      Sketch.writeInt(out, 5, n)
      var j = 0
      var i = 0
      while (i < sizeBytes) {
        val byte = dense(i) & 0xff
        if (byte != 0) {
          var bit = 0
          while (bit < 8) {
            if ((byte & (1 << bit)) != 0) {
              Sketch.writeInt(out, 9 + 4 * j, i * 8 + bit)
              j += 1
            }
            bit += 1
          }
        }
        i += 1
      }
      out
    } else {
      val out = new Array[Byte](5 + sizeBytes)
      out(0) = Sketch.TagLc
      Sketch.writeInt(out, 1, sizeBytes)
      System.arraycopy(dense, 0, out, 5, sizeBytes)
      out
    }
  }
}

object LinearCounter {
  /** Largest bitmap kept sparse: its bit indices still fit a non-negative Int. */
  private val MaxSparseBytes = 1 << 28

  /** Validates the `n` bit indices of a sparse payload against a `sizeBytes`
    * bitmap, copying them into `into` unless it is null. Returns whether they
    * strictly ascend, as the encoder writes them. */
  private[sketch] def checkSparse(sizeBytes: Int, bytes: Array[Byte], n: Int, into: Array[Int]): Boolean = {
    val mBits = 8L * sizeBytes
    var ascending = true
    var prev = -1
    var i = 0
    while (i < n) {
      val idx = Sketch.readInt(bytes, 9 + 4 * i)
      if (idx < 0 || idx.toLong >= mBits)
        throw new SketchMergeException(
          s"corrupt sparse LC payload: bit index $idx outside [0, $mBits)")
      if (idx <= prev) ascending = false
      prev = idx
      if (into != null) into(i) = idx
      i += 1
    }
    ascending
  }

  /** A counter over decoded sparse bit indices, dense if past the switch. */
  private[sketch] def fromSparse(sizeBytes: Int, words: Array[Int], ascending: Boolean): LinearCounter = {
    val lc = new LinearCounter(sizeBytes, null, SparseList.of(0, words, ascending))
    lc.settle()
    lc
  }
}
