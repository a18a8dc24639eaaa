package graft.sketch

/** Count-Sketch / fast-AGMS (Charikar–Chen–Farach-Colton 2002 "Finding
  * frequent items in data streams"; Cormode–Garofalakis 2005 "Sketching
  * streams through the net" for the join-size use) — `depth × width` SIGNED
  * counters: each update lands in one bucket per row, multiplied by a ±1
  * hash sign.
  *
  * What the signs buy over Count-Min's unsigned counters:
  *
  *  - point estimates are UNBIASED (collisions cancel in expectation
  *    instead of accumulating), recovered as the median over rows of
  *    `sign(x) · counter(x)`;
  *  - the inner product of two parallel sketches (same shape, same seeds)
  *    is an unbiased estimate of the inner product of the underlying
  *    frequency vectors — i.e. the EQUI-JOIN SIZE  Σ_k f_A(k)·f_B(k) —
  *    with per-row variance ≤ (F2(A)·F2(B) + J²)/width; the median over
  *    `depth` rows gives the standard high-probability bound. This is the
  *    sketch a distributed planner uses to price a join without running
  *    it;
  *  - the self inner product estimates the second moment F2 (AGMS's
  *    original purpose — self-join size / skew).
  *
  * Merge is pointwise counter addition (distributive, additive like
  * Count-Min — stores follow the append-once `batch_id` discipline).
  * Bucket and sign come from one 64-bit input hash via Kirsch–Mitzenmacher
  * double hashing + a murmur3 finalizer mix, so one hash per update feeds
  * all rows, the same construction discipline as [[CountMin]]/[[BloomFilter]].
  */
final class CountSketch(val depth: Int, val width: Int) extends Serializable {
  require(depth >= 1 && depth <= 16, s"count-sketch depth must be in [1,16], got $depth")
  require(width >= 16 && width <= CountSketch.MaxWidth,
    s"count-sketch width must be in [16, ${CountSketch.MaxWidth}], got $width")
  require((width & (width - 1)) == 0, s"count-sketch width must be a power of 2, got $width")

  private[graft] val counters = new Array[Long](depth * width)
  /** Total offered weight (diagnostics; survives merge). */
  private[graft] var n: Long = 0L

  private def mask: Int = width - 1

  def offerHash(hash: Long): Unit = offerHash(hash, 1L)

  def offerHash(hash: Long, weight: Long): Unit = {
    require(weight > 0, s"count-sketch weight must be positive, got $weight")
    n += weight
    val h1 = hash
    val h2 = (hash >>> 32) | 1L
    var i = 0
    while (i < depth) {
      val s = CountSketch.fmix64(h1 + i * h2)
      val pos = (s & Long.MaxValue) & mask
      val sign = 1L - 2L * ((s >>> 47) & 1L)
      counters(i * width + pos.toInt) += sign * weight
      i += 1
    }
  }

  /** Unbiased point estimate: median over rows of sign·counter. */
  def estimateHash(hash: Long): Long = {
    val h1 = hash
    val h2 = (hash >>> 32) | 1L
    val ests = new Array[Long](depth)
    var i = 0
    while (i < depth) {
      val s = CountSketch.fmix64(h1 + i * h2)
      val pos = (s & Long.MaxValue) & mask
      val sign = 1L - 2L * ((s >>> 47) & 1L)
      ests(i) = sign * counters(i * width + pos.toInt)
      i += 1
    }
    CountSketch.medianLong(ests)
  }

  /** Join-size (inner product) estimate against a parallel sketch — same
    * shape AND same seeds required, or the row products are meaningless. */
  def joinSize(other: CountSketch): Double = {
    if (other.depth != depth || other.width != width)
      throw new SketchMergeException(
        s"cannot estimate join size across shapes: " +
          s"${depth}x$width vs ${other.depth}x${other.width}")
    val rows = new Array[Double](depth)
    var i = 0
    while (i < depth) {
      var dot = 0.0
      var b = 0
      while (b < width) {
        dot += counters(i * width + b).toDouble * other.counters(i * width + b).toDouble
        b += 1
      }
      rows(i) = dot
      i += 1
    }
    CountSketch.medianDouble(rows)
  }

  /** Second-moment estimate F2 = Σ_k f(k)² (self-join size). */
  def f2(): Double = joinSize(this)

  def totalWeight: Long = n

  def mergeInPlace(other: CountSketch): Unit = {
    if (other.depth != depth || other.width != width)
      throw new SketchMergeException(
        s"cannot merge count-sketches of different shape: " +
          s"${depth}x$width vs ${other.depth}x${other.width}")
    var i = 0
    while (i < counters.length) { counters(i) += other.counters(i); i += 1 }
    n += other.n
  }

  /** The packed [[CounterWire]] layout. */
  def serialize(): Array[Byte] = CountSketch.wire.serialize(depth, width, n, counters)
}

object CountSketch {
  /** The plain layout's tag: read, no longer written. */
  val WireTag: Byte = 0x47 // 'G' (aGms); distinct from every other family tag
  /** The bit-packed layout's tag, what [[CountSketch.serialize]] writes. */
  val PackedTag: Byte = 0x67 // 'g'
  val DefaultDepth = 5
  val DefaultWidth = 1024
  val MaxWidth = 1 << 22

  /** Murmur3 64-bit finalizer (public domain) — decorrelates the bucket
    * and sign bits drawn from one Kirsch–Mitzenmacher stream. */
  private[sketch] def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33
    x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33
    x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  private[sketch] def medianLong(a: Array[Long]): Long = {
    val s = a.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private[sketch] def medianDouble(a: Array[Double]): Double = {
    val s = a.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private val wire = new CounterWire(WireTag, PackedTag, "count-sketch", MaxWidth)

  /** Wire layout: `[tag 'g': 1][depth: 4][width: 4][n: 8][min: 8][w: 1]`,
    * then depth × width counters as c − min in w bits (min is negative once
    * any counter is); the plain `'G'` layout of earlier builds (8-byte
    * counters) still decodes ([[CounterWire]]). */
  def deserialize(bytes: Array[Byte]): CountSketch = {
    val p = wire.read(bytes)
    val cs = new CountSketch(p.depth, p.width)
    cs.n = p.n
    p.addInto(cs.counters)
    cs
  }

  /** Merge a SERIALIZED sketch directly into `target` (null: decode it) —
    * the counter-add twin of [[CountMin.mergeSerializedInto]]: no decoded
    * counter array per input row in `agms_merge_agg`. The same validation,
    * counters and total weight as deserialize + mergeInPlace; a rejected
    * payload leaves `target` unchanged. */
  def mergeSerializedInto(bytes: Array[Byte], target: CountSketch): CountSketch = {
    if (target == null) return deserialize(bytes)
    val p = wire.read(bytes)
    if (p.depth != target.depth || p.width != target.width)
      throw new SketchMergeException(
        s"cannot merge count-sketches of different shape: " +
          s"${target.depth}x${target.width} vs ${p.depth}x${p.width}")
    target.n += p.n
    p.addInto(target.counters)
    target
  }
}
