package graft

import graft.sketch.SketchMergeException

import org.scalatest.Assertions._

/** One sketch family's codec and merges, for the wire-merge laws every
  * family keeps: merging stored bytes straight into a live sketch gives the
  * bytes of decode + mergeInPlace, and a rejected payload leaves the target
  * unchanged. */
final case class WireCodec[S <: AnyRef](
    serialize: S => Array[Byte],
    deserialize: Array[Byte] => S,
    merge: (S, S) => S,
    mergeSerialized: (Array[Byte], S) => S) {

  /** `mk` builds equal live targets. The wire merge of `bytes` into one
    * equals decode + merge into another, byte for byte; into null it is a
    * fresh decode, and both serialize to `canonical` (the payload itself,
    * unless it is in an older layout). */
  def checkMerge(ctx: String, mk: () => S, bytes: Array[Byte],
      canonical: Array[Byte]): Array[Byte] = {
    val viaWire = serialize(mergeSerialized(bytes, mk()))
    val viaDecode = serialize(merge(mk(), deserialize(bytes)))
    assert(viaWire.sameElements(viaDecode), s"$ctx: wire merge != deserialize + merge")
    val fresh = serialize(mergeSerialized(bytes, null.asInstanceOf[S]))
    assert(fresh.sameElements(canonical), s"$ctx: wire merge into nothing != the payload")
    assert(serialize(deserialize(bytes)).sameElements(canonical), s"$ctx: decode != the payload")
    viaWire
  }

  /** `bytes` is refused with a [[SketchMergeException]] and `target` is left
    * as it was; a payload that is only refused as a merge (another shape)
    * still decodes. */
  def checkRejected(ctx: String, target: S, bytes: Array[Byte], decodes: Boolean = false): Unit = {
    val before = serialize(target)
    intercept[SketchMergeException](mergeSerialized(bytes, target))
    assert(serialize(target).sameElements(before), s"$ctx: a refused payload changed the target")
    if (!decodes) intercept[SketchMergeException](deserialize(bytes))
  }
}

/** Payloads in the layouts written before the compact ones (plain counters,
  * dense bloom words), which every decoder and wire merge still reads. */
object LegacyWire {
  import graft.sketch.{BloomFilter, CountMin, CountSketch}

  /** `[tag][depth: 4][width: 4][n: 8]`, then each counter as a big-endian long. */
  def counters(tag: Byte, depth: Int, width: Int, n: Long, cs: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(17 + 8 * cs.length)
    bb.put(tag).putInt(depth).putInt(width).putLong(n)
    bb.asLongBuffer().put(cs)
    bb.array()
  }

  def countMin(s: CountMin): Array[Byte] =
    counters(CountMin.WireTag, s.depth, s.width, s.n, s.counters)

  def countSketch(s: CountSketch): Array[Byte] =
    counters(CountSketch.WireTag, s.depth, s.width, s.n, s.counters)

  /** `[B][numBits: 4][numHashes: 4][n: 8]`, then each word as a big-endian long. */
  def bloom(f: BloomFilter): Array[Byte] =
    counters(BloomFilter.WireTag, f.numBits, f.numHashes, f.n, f.words)
}
