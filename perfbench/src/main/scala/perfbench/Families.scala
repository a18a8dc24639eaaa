package perfbench

import graft.GraftFunctions._
import graft.sketch._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** One sketch family as the workloads use it: the aggregate that builds a
  * stored (BINARY) sketch, the `*_merge_agg` roll-up with its estimate, and
  * an adapter over the public `graft.sketch` class for the kernel timings.
  *
  * `input` names the generated column the family reads (see [[Inputs]]):
  * `key` (long, for the distinct/frequency families), `v` (positive double,
  * for the quantile families) or `item` (skewed string, for heavy hitters). */
sealed abstract class Family(val name: String, val input: String) {
  /** The paper-facing aggregate, as a user would call it. */
  def build(c: Column): Column
  /** BINARY wire bytes of a [[build]] result. */
  def bytes(built: Column): Column = built
  /** Roll-up of stored BINARY sketches: `*_merge_agg` plus its estimate. */
  def rollup(c: Column): Column
  /** True when `rollup` returns the merged wire bytes, which must then equal
    * the one-shot sketch bytes; otherwise it returns the estimate only. */
  def rollupIsBytes: Boolean = true
  def kernel: Kernel[_]
}

object Families {
  val BloomBits: Int = 1 << 20 // 128 KiB per filter keeps stored tables small
  val BloomHashes = 7
  val QuantileProbs = Seq(0.5)

  case object HllF extends Family("hll", "key") {
    def build(c: Column): Column = approx_distinct(c)
    override def bytes(built: Column): Column = built.getField("binary")
    def rollup(c: Column): Column = sketch_merge_agg(c).getField("binary")
    def kernel = Kernel.distinct(new Hll(16))
  }
  case object LcF extends Family("lc", "key") {
    def build(c: Column): Column = approx_distinct(c, "lc")
    override def bytes(built: Column): Column = built.getField("binary")
    def rollup(c: Column): Column = sketch_merge_agg(c).getField("binary")
    def kernel = Kernel.distinct(new LinearCounter(1000000))
  }
  case object KllF extends Family("kll", "v") {
    def build(c: Column): Column = kll_sketch_agg(c)
    def rollup(c: Column): Column = kll_merge_agg(c, QuantileProbs)
    override def rollupIsBytes = false
    def kernel = new Kernel[KllDoubles] {
      def create() = new KllDoubles(KllDoubles.DefaultK)
      def offer(s: KllDoubles, h: Long) = s.update(Inputs.value(h))
      def merge(a: KllDoubles, b: KllDoubles) = a.mergeInPlace(b)
      def serialize(s: KllDoubles) = s.serialize()
      def deserialize(b: Array[Byte]) = KllDoubles.deserialize(b)
      def estimate(s: KllDoubles) = s.quantile(0.5)
    }
  }
  case object DdF extends Family("dd", "v") {
    def build(c: Column): Column = dd_sketch_agg(c)
    def rollup(c: Column): Column = dd_merge_agg(c, QuantileProbs)
    override def rollupIsBytes = false
    def kernel = new Kernel[DdSketch] {
      def create() = new DdSketch(DdSketch.DefaultAlpha)
      def offer(s: DdSketch, h: Long) = s.update(Inputs.value(h))
      def merge(a: DdSketch, b: DdSketch) = a.mergeInPlace(b)
      def serialize(s: DdSketch) = s.serialize()
      def deserialize(b: Array[Byte]) = DdSketch.deserialize(b)
      def estimate(s: DdSketch) = s.quantile(0.5)
    }
  }
  case object ThetaF extends Family("theta", "key") {
    def build(c: Column): Column = theta_sketch_agg(c)
    def rollup(c: Column): Column = theta_merge_agg(c)
    def kernel = new Kernel[ThetaSketch] {
      def create() = new ThetaSketch(ThetaSketch.DefaultK)
      def offer(s: ThetaSketch, h: Long) = s.offerHash(h)
      def merge(a: ThetaSketch, b: ThetaSketch) = a.mergeInPlace(b)
      def serialize(s: ThetaSketch) = s.serialize()
      def deserialize(b: Array[Byte]) = ThetaSketch.deserialize(b)
      def estimate(s: ThetaSketch) = s.estimate.toDouble
    }
  }
  case object CmF extends Family("cm", "key") {
    def build(c: Column): Column = cm_sketch_agg(c)
    def rollup(c: Column): Column = cm_merge_agg(c)
    def kernel = new Kernel[CountMin] {
      def create() = new CountMin(CountMin.DefaultDepth, CountMin.DefaultWidth)
      def offer(s: CountMin, h: Long) = s.offerHash(h)
      def merge(a: CountMin, b: CountMin) = a.mergeInPlace(b)
      override def mergeSerialized(b: Array[Byte], into: CountMin) =
        CountMin.mergeSerializedInto(b, into)
      def serialize(s: CountMin) = s.serialize()
      def deserialize(b: Array[Byte]) = CountMin.deserialize(b)
      def estimate(s: CountMin) = s.estimateHash(0L).toDouble
    }
  }
  case object TopkF extends Family("topk", "item") {
    def build(c: Column): Column = topk_sketch_agg(c)
    def rollup(c: Column): Column = topk_merge_agg(c, 10)
    override def rollupIsBytes = false
    def kernel = new Kernel[SpaceSaving] {
      private val items = Array.tabulate(4096)(i => UTF8String.fromString(Inputs.itemName(i)))
      def create() = new SpaceSaving(graft.functions.ApproxTopK.DefaultCapacity)
      def offer(s: SpaceSaving, h: Long) = s.offer(items(Inputs.itemIndex(h) & 4095))
      def merge(a: SpaceSaving, b: SpaceSaving) = a.mergeInPlace(b)
      def serialize(s: SpaceSaving) = s.serialize()
      def deserialize(b: Array[Byte]) = SpaceSaving.deserialize(b)
      def estimate(s: SpaceSaving) = s.topK(10).head._2.toDouble
    }
  }
  case object BloomF extends Family("bloom", "key") {
    def build(c: Column): Column = bloom_agg(c, BloomBits, BloomHashes)
    def rollup(c: Column): Column = bloom_merge_agg(c, BloomBits, BloomHashes)
    def kernel = new Kernel[BloomFilter] {
      def create() = new BloomFilter(BloomBits, BloomHashes)
      def offer(s: BloomFilter, h: Long) = s.offerHash(h)
      def merge(a: BloomFilter, b: BloomFilter) = a.mergeInPlace(b)
      def serialize(s: BloomFilter) = s.serialize()
      def deserialize(b: Array[Byte]) = BloomFilter.deserialize(b)
      def estimate(s: BloomFilter) = if (s.mightContainHash(0L)) 1.0 else 0.0
    }
  }
  case object AgmsF extends Family("agms", "key") {
    def build(c: Column): Column = agms_sketch_agg(c)
    def rollup(c: Column): Column = agms_merge_agg(c)
    def kernel = new Kernel[CountSketch] {
      def create() = new CountSketch(CountSketch.DefaultDepth, CountSketch.DefaultWidth)
      def offer(s: CountSketch, h: Long) = s.offerHash(h)
      def merge(a: CountSketch, b: CountSketch) = a.mergeInPlace(b)
      def serialize(s: CountSketch) = s.serialize()
      def deserialize(b: Array[Byte]) = CountSketch.deserialize(b)
      def estimate(s: CountSketch) = s.f2()
    }
  }

  /** Every family, `approx_distinct` (HLL b=16, then LC) first. */
  val all: Seq[Family] = Seq(HllF, LcF, KllF, DdF, ThetaF, CmF, TopkF, BloomF, AgmsF)
}

/** The public `graft.sketch` API of one family, as the kernel timings call it. */
abstract class Kernel[S] {
  def create(): S
  def offer(s: S, h: Long): Unit
  def merge(a: S, b: S): Unit
  /** Merge one serialized sketch into a live one: the family's wire merge
    * where it has one, else deserialize-then-merge (what its aggregate does). */
  def mergeSerialized(b: Array[Byte], into: S): S = { merge(into, deserialize(b)); into }
  def serialize(s: S): Array[Byte]
  def deserialize(b: Array[Byte]): S
  def estimate(s: S): Double
}

object Kernel {
  /** HLL and LC share `graft.sketch.Sketch`, its codec and its wire merge. */
  def distinct(proto: => Sketch): Kernel[Sketch] = new Kernel[Sketch] {
    def create() = proto
    def offer(s: Sketch, h: Long) = s.offerHash(h)
    def merge(a: Sketch, b: Sketch) = a.mergeInPlace(b)
    override def mergeSerialized(b: Array[Byte], into: Sketch) = Sketch.mergeSerializedInto(b, into)
    def serialize(s: Sketch) = s.serialize()
    def deserialize(b: Array[Byte]) = Sketch.deserialize(b)
    def estimate(s: Sketch) = s.estimate.toDouble
  }
}
