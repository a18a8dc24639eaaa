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
