package graft.functions

import graft.sketch.{BloomFilter, CountMin, CountSketch, DdSketch, Hll, KllDoubles, LinearCounter, Sketch, SpaceSaving, ThetaSketch}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Every sketch aggregate of the engine — `approx_distinct`, the
  * `*_sketch_agg`s, the `*_merge_agg`s — is this one node: a declared SQL
  * function ([[SketchFn]]: family, mode, parameters) over `children` = the
  * input column followed by one expression per family parameter.
  *
  * Spark-native re-expression of the reference UDAF
  * (UDAFCardinalityEstimator.java:69-344): `TypedImperativeAggregate` is the
  * exact Catalyst analogue of Hive's `GenericUDAFEvaluator` object-buffer
  * protocol — `createAggregationBuffer`≅getNewAggregationBuffer(:225),
  * `update`≅iterate(:237), `serialize`/`deserialize`≅terminatePartial(:276)/
  * partial decode(:303-316), `merge`≅merge(:297), `eval`≅terminate(:327).
  * Catalyst's AggUtils splits it into Partial/Final, so map-side combine (one
  * sketch per group crosses the shuffle, never raw rows) needs no code here;
  * it runs under ObjectHashAggregateExec.
  *
  * The node owns what every family shares: NULL rows are skipped (ref
  * :238-240); a raw row is offered to the sketch while a merge-mode row (or
  * `approx_distinct`'s result struct, ref :259-265) is a stored sketch merged
  * in, where 0 bytes is the empty sketch; the buffer holds no sketch until
  * the first row (ref :353-362), serializes as 0 bytes while empty (the
  * reference NPEs there, SURVEY §2 quirks), and an empty group gives NULL
  * (ref :329-331). Parameters and the hash kernel are resolved once at bind
  * time (the reference re-reads them per row, :242-245).
  */
case class SketchAgg(
    fn: SketchFn,
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SketchAgg.Buffer] {

  import SketchAgg._

  def child: Expression = children.head
  private def family: SketchFamily = fn.family

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchAgg = copy(children = newChildren)
  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def nullable: Boolean = true
  override def dataType: DataType = if (fn.mode == Emit) BinaryType else family.resultType
  override def prettyName: String = fn.name

  /** The family parameters, read once at bind time; Left says why not. */
  @transient lazy val args: Either[String, Args] = family.read(children.tail)

  @transient private lazy val mergeInput =
    fn.mode == Merge || ApproxDistinct.isResultStruct(child.dataType)
  @transient private lazy val bytesOf = storedBytes(child.dataType)

  override def checkInputDataTypes(): TypeCheckResult = {
    val failure = args match {
      case Left(why) => why
      case Right(a) => Option(family.checkArgs(a, fn.mode)).getOrElse(
        if (fn.mode != Merge) family.checkInput(child.dataType)
        else if (child.dataType == BinaryType) null
        else s"expects a BINARY serialized ${family.wireName}, got ${child.dataType.sql}")
    }
    if (failure == null) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName: $failure")
  }

  @transient private lazy val kernel: SketchKernel[AnyRef] = args.fold(
    why => throw new IllegalArgumentException(s"$prettyName: $why"),
    a => family.kernel(a, child.dataType).asInstanceOf[SketchKernel[AnyRef]])

  /** The sketch a merge folds into: the buffer's, else a fresh one for a
    * family whose parameters shape every sketch, else none (adopt). */
  private def target(buffer: Buffer): AnyRef =
    if (buffer.sketch == null && kernel.shaped) kernel.create() else buffer.sketch

  override def createAggregationBuffer(): Buffer = new Buffer(null)

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null) {
      if (mergeInput) {
        val bytes = bytesOf(v)
        if (bytes != null && bytes.length > 0)
          buffer.sketch = kernel.mergeSerialized(bytes, target(buffer))
      } else {
        if (buffer.sketch == null) buffer.sketch = kernel.create()
        kernel.offer(buffer.sketch, v, input)
      }
    }
    buffer
  }

  override def merge(buffer: Buffer, input: Buffer): Buffer = {
    if (input.sketch != null) {
      val into = target(buffer)
      buffer.sketch = if (into == null) input.sketch else kernel.merge(into, input.sketch)
    }
    buffer
  }

  override def eval(buffer: Buffer): Any = {
    val s = target(buffer)
    if (s == null || kernel.isEmpty(s)) null
    else if (fn.mode == Emit) kernel.serialize(s)
    else kernel.result(s)
  }

  override def serialize(buffer: Buffer): Array[Byte] =
    if (buffer.sketch == null) Array.emptyByteArray else kernel.serialize(buffer.sketch)

  override def deserialize(bytes: Array[Byte]): Buffer =
    new Buffer(if (bytes.isEmpty) null else kernel.deserialize(bytes))
}

object SketchAgg {
  /** The aggregation buffer: at most one live sketch, null until the first
    * row. */
  final class Buffer(var sketch: AnyRef) extends Serializable

  /** Raw: aggregate input values into the family's result. Emit: the same,
    * returning the serialized sketch for storing. Merge: re-aggregate stored
    * BINARY sketches (store-then-merge, E3 in SURVEY §3). */
  sealed trait Mode extends Serializable
  case object Raw extends Mode
  case object Emit extends Mode
  case object Merge extends Mode

  /** The complete sketch-aggregate SQL surface; the Column API in
    * [[graft.GraftFunctions]] calls the same declarations by name. */
  val functions: Seq[SketchFn] = Seq(
    SketchFn("approx_distinct", ApproxDistinct, Raw, "HLL/LC distinct sketch",
      opt = Seq("algo", "precision")),
    SketchFn("sketch_merge_agg", ApproxDistinct, Merge, "merge serialized sketches"),
    SketchFn("approx_top_k", ApproxTopK, Raw, "SpaceSaving heavy hitters",
      opt = Seq("k", "capacity")),
    SketchFn("approx_top_k_weighted", ApproxTopK, Raw, "heavy hitters by summed weight",
      req = Seq("weight"), opt = Seq("k", "capacity")),
    SketchFn("topk_sketch_agg", ApproxTopK, Emit, "serialized heavy-hitter summary",
      opt = Seq("capacity")),
    SketchFn("topk_merge_agg", ApproxTopK, Merge, "merge stored heavy-hitter summaries",
      opt = Seq("k", "capacity")),
    SketchFn("approx_quantiles", ApproxQuantiles, Raw, "KLL quantile estimates",
      req = Seq("probs"), opt = Seq("k")),
    SketchFn("kll_sketch_agg", ApproxQuantiles, Emit, "serialized KLL quantile sketch",
      opt = Seq("k")),
    SketchFn("kll_merge_agg", ApproxQuantiles, Merge, "merge stored KLL sketches",
      req = Seq("probs"), opt = Seq("k")),
    SketchFn("dd_quantiles", DdQuantiles, Raw,
      "DDSketch RELATIVE-error quantile estimates", req = Seq("probs"), opt = Seq("alpha")),
    SketchFn("dd_sketch_agg", DdQuantiles, Emit, "serialized DDSketch quantile sketch",
      opt = Seq("alpha")),
    SketchFn("dd_merge_agg", DdQuantiles, Merge, "merge stored DDSketches",
      req = Seq("probs"), opt = Seq("alpha")),
    SketchFn("theta_sketch_agg", ThetaSketchAgg, Emit,
      "serialized theta sketch (distinct + set algebra)", opt = Seq("k")),
    SketchFn("theta_merge_agg", ThetaSketchAgg, Merge, "merge stored theta sketches"),
    SketchFn("cm_sketch_agg", CountMinAgg, Emit, "serialized Count-Min frequency sketch",
      opt = Seq("width", "depth")),
    // no width/depth: stored sketches carry their shape; mixed shapes can't
    // re-bin, so they fail the merge with a SketchMergeException
    SketchFn("cm_merge_agg", CountMinAgg, Merge,
      "merge stored Count-Min sketches (shapes must match)"),
    SketchFn("agms_sketch_agg", AgmsAgg, Emit,
      "serialized Count-Sketch (AGMS) of a join-key column", opt = Seq("width", "depth")),
    SketchFn("agms_merge_agg", AgmsAgg, Merge,
      "merge stored count-sketches (shapes must match)"),
    SketchFn("bloom_agg", BloomAgg, Emit, "build a Bloom filter of a column",
      opt = Seq("numBits", "numHashes")),
    SketchFn("bloom_merge_agg", BloomAgg, Merge, "OR-merge stored Bloom filters",
      opt = Seq("numBits", "numHashes")))

  private val byName: Map[String, SketchFn] = functions.map(f => f.name -> f).toMap

  def fn(name: String): SketchFn = byName(name)

  /** Reads the bytes of a non-null stored sketch of type `dt`, bound once:
    * a BINARY, or `approx_distinct`'s result struct (null when its `binary`
    * field is). */
  def storedBytes(dt: DataType): Any => Array[Byte] =
    if (ApproxDistinct.isResultStruct(dt)) { v =>
      val row = v.asInstanceOf[InternalRow]
      if (row.isNullAt(2)) null else row.getBinary(2)
    } else _.asInstanceOf[Array[Byte]]
}

/** One SQL sketch aggregate: `name(input, req...[, opt...])` over a family
  * in one mode. `req`/`opt` name family parameters in SQL argument order;
  * the family parameters a call omits take their defaults. */
final case class SketchFn(name: String, family: SketchFamily, mode: SketchAgg.Mode,
    about: String, req: Seq[String] = Nil, opt: Seq[String] = Nil) {

  def signature: String =
    ((if (mode == SketchAgg.Merge) "bin" else family.inputName) +: req).mkString(", ") +
      opt.map("[, " + _).mkString + "]" * opt.length

  def usage: String = s"$name($signature) - $about"

  /** The node for a call with `exprs` = input column and SQL arguments. */
  def build(exprs: Seq[Expression]): SketchAgg = {
    val (lo, hi) = (1 + req.length, 1 + req.length + opt.length)
    if (exprs.length < lo || exprs.length > hi) {
      val n = if (lo == hi) s"exactly $lo" else s"$lo to $hi"
      throw new IllegalArgumentException(
        s"$name requires $n argument${if (hi == 1) "" else "s"}: ($signature)")
    }
    val given = (req ++ opt).zip(exprs.tail).toMap
    SketchAgg(this,
      exprs.head +: family.params.map(p => given.getOrElse(p.name, Literal(p.default))))
  }
}

/** A family parameter: a literal of one [[Param.Kind]], or for `weight` an
  * integral column. A NULL literal takes the default. */
final case class Param(name: String, kind: Param.Kind, default: Any) {
  import Param._

  /** The typed value of the argument, or why it is not one. */
  def read(e: Expression): Either[String, Any] = kind match {
    case IntegralColumn =>
      if (integral(e.dataType)) Right(e)
      else Left(s"$name must be an integral column, got ${e.dataType.sql}")
    case _ if !e.foldable => Left(s"$name must be a foldable literal")
    case _ => (kind, e.eval(), e.dataType) match {
      case (_, null, _) => Right(default)
      case (Integral, v: Number, dt) if integral(dt) =>
        if (v.longValue.isValidInt) Right(v.intValue) else Left(s"$name must fit an INT, got $v")
      case (Integral, _, dt) => Left(s"$name must be an integral literal, got ${dt.sql}")
      case (Numeric, v: Number, _) => Right(v.doubleValue)
      case (Numeric, v: Decimal, _) => Right(v.toDouble)
      case (Numeric, _, dt) => Left(s"$name must be a numeric literal, got ${dt.sql}")
      case (Text, v, _) => Right(v.toString)
      case (Probs, v: ArrayData, ArrayType(DoubleType, _)) => Right(v.toDoubleArray())
      case (_, _, dt) => Left(s"probabilities must be ARRAY<DOUBLE>, got ${dt.sql}")
    }
  }
}

object Param {
  sealed trait Kind extends Serializable
  case object Integral extends Kind
  /** Any numeric literal, DECIMAL included (SQL's `0.01`). */
  case object Numeric extends Kind
  case object Text extends Kind
  case object Probs extends Kind
  case object IntegralColumn extends Kind

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
}

/** The values of a node's family parameters, by name. */
final class Args(values: Map[String, Any]) {
  def int(name: String): Int = values(name).asInstanceOf[Int]
  def double(name: String): Double = values(name).asInstanceOf[Double]
  def string(name: String): String = values(name).asInstanceOf[String]
  def expr(name: String): Expression = values(name).asInstanceOf[Expression]
  def probs: Array[Double] =
    Option(values("probs").asInstanceOf[Array[Double]]).getOrElse(Array.emptyDoubleArray)
}

/** One sketch family as [[SketchAgg]] sees it: its parameters, checks and
  * the [[SketchKernel]] it binds for a node. `inputName` and `wireName` name
  * the raw input and the stored sketch in signatures and messages. */
abstract class SketchFamily(val inputName: String, val wireName: String, val params: Param*)
  extends Serializable {

  /** Result type of the raw and merge modes; the emit modes return BINARY. */
  def resultType: DataType = BinaryType

  /** Why the parameter values are invalid in `mode`, or null. */
  def checkArgs(a: Args, mode: SketchAgg.Mode): String = null

  /** Why a raw/emit input column type is not accepted, or null. */
  def checkInput(dt: DataType): String =
    if (GraftBridge.isAtomic(dt)) null else s"unsupported input type ${dt.sql}"

  def kernel(a: Args, input: DataType): SketchKernel[_ <: AnyRef]

  final def read(exprs: Seq[Expression]): Either[String, Args] =
    params.zip(exprs).foldLeft[Either[String, Map[String, Any]]](Right(Map.empty)) {
      case (acc, (p, e)) => acc.flatMap(m => p.read(e).map(v => m + (p.name -> v)))
    }.map(new Args(_))
}

/** What a family does with its sketch type `S`, bound to one node's
  * parameters and input type. */
abstract class SketchKernel[S <: AnyRef] {
  /** True when the parameters shape every sketch of the family, stored ones
    * included: merges then fold into a fresh [[create]] (and an empty group
    * evaluates one). Otherwise the first sketch merged in is adopted. */
  def shaped: Boolean = false
  def create(): S
  def offer(s: S, v: Any, row: InternalRow): Unit
  def merge(into: S, in: S): S
  def serialize(s: S): Array[Byte]
  def deserialize(bytes: Array[Byte]): S
  /** Merge one stored sketch into `into` (null: nothing yet), read straight
    * from its wire bytes; a rejected payload leaves `into` unchanged. */
  def mergeSerialized(bytes: Array[Byte], into: S): S
  /** The raw- and merge-mode result; the emit modes return [[serialize]]. */
  def result(s: S): Any = serialize(s)
  /** A sketch that counted nothing evaluates to NULL, like an empty group. */
  def isEmpty(s: S): Boolean = false
}

/** `approx_distinct(x[, algo[, precision]])` — approximate COUNT(DISTINCT)
  * with the reference's HLL/LC sketches; `sketch_merge_agg(bin)` and
  * `approx_distinct(result_struct)` re-aggregate stored ones. Atomic inputs
  * are hashed by type (64-bit xxHash, NOT the reference's 32-bit
  * string-murmur — SURVEY §2 quirks). */
object ApproxDistinct extends SketchFamily("col", "sketch",
    Param("algo", Param.Text, "hll"), Param("precision", Param.Integral, -1)) {
  val HllDefaultB = 16      // HLL_DEFAULT_B, UDAFCardinalityEstimator.java:89
  val LcDefaultSize = 1000000 // LC_DEFAULT_SIZE, UDAFCardinalityEstimator.java:90
  val HashSeed = 42L

  /** Result struct — field names match the reference's output inspector
    * (`type`/`cardinality`/`binary`, UDAFCardinalityEstimator.java:91-93). */
  override val resultType: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("cardinality", LongType),
    StructField("binary", BinaryType)))

  /** Whether `dt` is the result struct, which re-aggregates and reads as a
    * stored sketch (ref :259-265). */
  def isResultStruct(dt: DataType): Boolean = dt match {
    case s: StructType => s.fieldNames.sameElements(resultType.fieldNames)
    case _ => false
  }

  override def checkInput(dt: DataType): String = dt match {
    case s: StructType if !isResultStruct(s) =>
      s"struct input must be a sketch struct ${resultType.sql}, got ${s.sql}"
    case _: StructType => null
    case _ => super.checkInput(dt)
  }

  override def checkArgs(a: Args, mode: SketchAgg.Mode): String = {
    val algo = a.string("algo").toUpperCase(java.util.Locale.ROOT)
    val b = a.int("precision")
    if (algo != "HLL" && algo != "LC") s"estimator type must be 'hll' or 'lc', got '$algo'"
    else if (b != -1 && algo == "HLL" && (b < 4 || b > 24))
      s"HLL precision b must be in [4,24], got $b"
    else if (b != -1 && algo == "LC" && b <= 0) s"LC bitmap size must be positive, got $b"
    else null
  }

  def kernel(a: Args, input: DataType): SketchKernel[Sketch] = new SketchKernel[Sketch] {
    private val lc = a.string("algo").equalsIgnoreCase("lc")
    private val b = a.int("precision")
    private val hash = TypedXxHash.kernel(input, HashSeed)
    def create(): Sketch =
      if (lc) new LinearCounter(if (b == -1) LcDefaultSize else b)
      else new Hll(if (b == -1) HllDefaultB else b)
    def offer(s: Sketch, v: Any, row: InternalRow): Unit = s.offerHash(hash(v))
    def merge(into: Sketch, in: Sketch): Sketch = { into.mergeInPlace(in); into }
    def serialize(s: Sketch): Array[Byte] = s.serialize()
    def deserialize(bytes: Array[Byte]): Sketch = Sketch.deserialize(bytes)
    def mergeSerialized(bytes: Array[Byte], into: Sketch): Sketch =
      Sketch.mergeSerializedInto(bytes, into)
    override def result(s: Sketch): Any =
      InternalRow(UTF8String.fromString(s.algo), s.estimate, s.serialize())
  }
}

/** The quantile families: a numeric input, and in the raw and merge modes
  * an `ARRAY<DOUBLE>` of probabilities with one estimate returned per
  * probability. */
abstract class QuantileFamily(wireName: String, shape: Param)
  extends SketchFamily("x", wireName, Param("probs", Param.Probs, null), shape) {

  override def resultType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInput(dt: DataType): String = dt match {
    case _: NumericType => null
    case _ => s"expects a numeric column, got ${dt.sql}"
  }

  protected def checkShape(a: Args): String

  override def checkArgs(a: Args, mode: SketchAgg.Mode): String = {
    val probs = a.probs
    val bad = checkShape(a)
    if (bad != null || mode == SketchAgg.Emit) bad
    else if (probs.isEmpty) "at least one probability required"
    else if (probs.exists(p => p < 0.0 || p > 1.0 || p.isNaN))
      s"probabilities must be in [0,1], got ${probs.mkString(",")}"
    else null
  }

  protected abstract class QuantileKernel[S <: AnyRef](a: Args, input: DataType)
    extends SketchKernel[S] {
    private val probs = a.probs
    protected val toDouble: Any => Double = input match {
      case DoubleType => v => v.asInstanceOf[Double]
      case FloatType => v => v.asInstanceOf[Float].toDouble
      case LongType => v => v.asInstanceOf[Long].toDouble
      case IntegerType => v => v.asInstanceOf[Int].toDouble
      case ShortType => v => v.asInstanceOf[Short].toDouble
      case ByteType => v => v.asInstanceOf[Byte].toDouble
      case _: DecimalType => v => v.asInstanceOf[Decimal].toDouble
      case _ => v => v.asInstanceOf[Number].doubleValue()
    }
    protected def quantile(s: S, p: Double): Double
    protected def count(s: S): Long
    override def shaped: Boolean = true
    override def result(s: S): Any = new GenericArrayData(probs.map(quantile(s, _)))
    override def isEmpty(s: S): Boolean = count(s) == 0L
  }
}

/** `approx_quantiles(x, probs[, k])` — mergeable KLL quantile estimates
  * with a rank-error bound (see [[graft.sketch.KllDoubles]]);
  * `kll_sketch_agg(x[, k])` stores the sketch and `kll_merge_agg(bin,
  * probs[, k])` answers any percentile over any stored range later. */
object ApproxQuantiles
  extends QuantileFamily("KLL sketch", Param("k", Param.Integral, KllDoubles.DefaultK)) {

  protected def checkShape(a: Args): String = {
    val k = a.int("k")
    if (k < 8 || k > 65535) s"k must be in [8, 65535], got $k" else null
  }

  def kernel(a: Args, input: DataType): SketchKernel[KllDoubles] =
    new QuantileKernel[KllDoubles](a, input) {
      private val k = a.int("k")
      def create(): KllDoubles = new KllDoubles(k)
      def offer(s: KllDoubles, v: Any, row: InternalRow): Unit = s.update(toDouble(v))
      def merge(into: KllDoubles, in: KllDoubles): KllDoubles = { into.mergeInPlace(in); into }
      def serialize(s: KllDoubles): Array[Byte] = s.serialize()
      def deserialize(bytes: Array[Byte]): KllDoubles = KllDoubles.deserialize(bytes)
      def mergeSerialized(bytes: Array[Byte], into: KllDoubles): KllDoubles =
        KllDoubles.mergeSerializedInto(bytes, into)
      protected def quantile(s: KllDoubles, p: Double): Double = s.quantile(p)
      protected def count(s: KllDoubles): Long = s.n
    }
}

/** `dd_quantiles(x, probs[, alpha])` — mergeable DDSketch quantile
  * estimates, each within α of the true quantile VALUE (vs KLL's rank
  * error; see [[graft.sketch.DdSketch]]); `dd_sketch_agg` / `dd_merge_agg`
  * store and re-aggregate. Partial aggregation is exact bucket-count
  * addition, so any partitioning yields the identical sketch. */
object DdQuantiles
  extends QuantileFamily("ddsketch", Param("alpha", Param.Numeric, DdSketch.DefaultAlpha)) {

  protected def checkShape(a: Args): String = {
    val alpha = a.double("alpha")
    if (alpha < 1e-4 || alpha > 0.5) s"alpha must be in [1e-4, 0.5], got $alpha" else null
  }

  def kernel(a: Args, input: DataType): SketchKernel[DdSketch] =
    new QuantileKernel[DdSketch](a, input) {
      private val alpha = a.double("alpha")
      def create(): DdSketch = new DdSketch(alpha)
      def offer(s: DdSketch, v: Any, row: InternalRow): Unit = s.update(toDouble(v))
      def merge(into: DdSketch, in: DdSketch): DdSketch = { into.mergeInPlace(in); into }
      def serialize(s: DdSketch): Array[Byte] = s.serialize()
      def deserialize(bytes: Array[Byte]): DdSketch = DdSketch.deserialize(bytes)
      def mergeSerialized(bytes: Array[Byte], into: DdSketch): DdSketch =
        DdSketch.mergeSerializedInto(bytes, into)
      protected def quantile(s: DdSketch, p: Double): Double = s.quantile(p)
      protected def count(s: DdSketch): Long = s.n
    }
}

/** `approx_top_k(item[, k[, capacity]])` — mergeable SpaceSaving heavy
  * hitters: one capacity-bounded summary per group crosses the shuffle, so a
  * global top-k over 100 TB ships a few KB per map task.
  * `approx_top_k_weighted(item, weight, ...)` ranks by a summed integral
  * measure instead of occurrence count; `topk_sketch_agg(item[, capacity])`
  * stores summaries and `topk_merge_agg(bin[, k[, capacity]])` unions them.
  * Returns `ARRAY<STRUCT<item, est, err>>` ordered by (est DESC, item ASC). */
object ApproxTopK extends SketchFamily("item", "summary",
    Param("k", Param.Integral, 10), Param("capacity", Param.Integral, ApproxTopK.DefaultCapacity),
    Param("weight", Param.IntegralColumn, 1L)) {
  final val DefaultCapacity = 1024

  /** Result element: item, estimated count, max overestimate. The true count
    * is guaranteed inside [est - err, est]; with capacity > #distinct items
    * est is exact and err = 0. */
  val elementType: StructType = StructType(Seq(
    StructField("item", StringType),
    StructField("est", LongType),
    StructField("err", LongType)))
  override val resultType: ArrayType = ArrayType(elementType)

  override def checkInput(dt: DataType): String =
    if (dt == StringType) null else s"expects a STRING item column (cast first), got ${dt.sql}"

  override def checkArgs(a: Args, mode: SketchAgg.Mode): String = {
    // the emit mode returns the summary, not a top-k: k plays no part
    val k = if (mode == SketchAgg.Emit) 1 else a.int("k")
    val capacity = a.int("capacity")
    if (k < 1) s"k must be >= 1, got $k"
    else if (capacity < k) s"capacity must be >= k, got capacity=$capacity k=$k"
    else null
  }

  def kernel(a: Args, input: DataType): SketchKernel[SpaceSaving] = new SketchKernel[SpaceSaving] {
    private val k = a.int("k")
    private val capacity = a.int("capacity")
    private val weight = a.expr("weight")
    override def shaped: Boolean = true
    def create(): SpaceSaving = new SpaceSaving(capacity)
    def offer(s: SpaceSaving, v: Any, row: InternalRow): Unit = {
      val w = weight.eval(row)
      // null weight => row contributes nothing (matches null-item skip);
      // buffer-backed UTF8String probes the map by bytes, cloned only on insert
      if (w != null) s.offer(v.asInstanceOf[UTF8String], w.asInstanceOf[Number].longValue())
    }
    def merge(into: SpaceSaving, in: SpaceSaving): SpaceSaving = { into.mergeInPlace(in); into }
    def serialize(s: SpaceSaving): Array[Byte] = s.serialize()
    def deserialize(bytes: Array[Byte]): SpaceSaving = SpaceSaving.deserialize(bytes)
    def mergeSerialized(bytes: Array[Byte], into: SpaceSaving): SpaceSaving =
      SpaceSaving.mergeSerializedInto(bytes, into)
    override def result(s: SpaceSaving): Any =
      new GenericArrayData(s.topKItems(k).map { case (item, est, err) =>
        InternalRow(item, est, err)
      }.toArray[Any])
    override def isEmpty(s: SpaceSaving): Boolean = s.n == 0L
  }
}

/** `theta_sketch_agg(x[, k])` — a serialized theta sketch (distinct count
  * plus bounded-error set algebra, see [[graft.sketch.ThetaSketch]]);
  * `theta_merge_agg(bin)` re-aggregates stored ones. k=4096 by default,
  * ≈ 32 KiB retained per live group. */
object ThetaSketchAgg extends SketchFamily("x", "theta sketch",
    Param("k", Param.Integral, ThetaSketch.DefaultK)) {

  override def checkArgs(a: Args, mode: SketchAgg.Mode): String = {
    val k = a.int("k")
    if (k < ThetaSketch.MinK || k > ThetaSketch.MaxK)
      s"k must be in [${ThetaSketch.MinK}, ${ThetaSketch.MaxK}], got $k"
    else null
  }

  def kernel(a: Args, input: DataType): SketchKernel[ThetaSketch] = new SketchKernel[ThetaSketch] {
    private val k = a.int("k")
    private val hash = TypedXxHash.kernel(input, ApproxDistinct.HashSeed)
    def create(): ThetaSketch = new ThetaSketch(k)
    def offer(s: ThetaSketch, v: Any, row: InternalRow): Unit = s.offerHash(hash(v))
    def merge(into: ThetaSketch, in: ThetaSketch): ThetaSketch = ThetaSketch.mergeInto(into, in)
    def serialize(s: ThetaSketch): Array[Byte] = s.serialize()
    def deserialize(bytes: Array[Byte]): ThetaSketch = ThetaSketch.deserialize(bytes)
    def mergeSerialized(bytes: Array[Byte], into: ThetaSketch): ThetaSketch =
      ThetaSketch.mergeSerializedInto(bytes, into)
  }
}

/** The width/depth check shared by the two counter-matrix families. */
private object CounterShape {
  def check(a: Args, maxWidth: Int): String = {
    val width = a.int("width")
    val depth = a.int("depth")
    if (width < 16 || width > maxWidth || (width & (width - 1)) != 0)
      s"width must be a power of 2 in [16, $maxWidth], got $width"
    else if (depth < 1 || depth > 16) s"depth must be in [1,16], got $depth"
    else null
  }
}

/** `cm_sketch_agg(x[, width[, depth]])` — a serialized Count-Min sketch
  * ([[graft.sketch.CountMin]]), probed with `cm_estimate(bin, key)` (same
  * typed hash, so probe with the column TYPE the sketch was built from).
  * `cm_merge_agg(bin)` takes no shape: counters of different shapes cannot
  * re-bin, so a mixed-shape store fails with a SketchMergeException. */
object CountMinAgg extends SketchFamily("x", "count-min sketch",
    Param("width", Param.Integral, CountMin.DefaultWidth),
    Param("depth", Param.Integral, CountMin.DefaultDepth)) {

  override def checkArgs(a: Args, mode: SketchAgg.Mode): String =
    CounterShape.check(a, CountMin.MaxWidth)

  def kernel(a: Args, input: DataType): SketchKernel[CountMin] = new SketchKernel[CountMin] {
    private val width = a.int("width")
    private val depth = a.int("depth")
    private val hash = TypedXxHash.kernel(input, CountMinFunctions.HashSeed)
    def create(): CountMin = new CountMin(depth, width)
    def offer(s: CountMin, v: Any, row: InternalRow): Unit = s.offerHash(hash(v))
    def merge(into: CountMin, in: CountMin): CountMin = { into.mergeInPlace(in); into }
    def serialize(s: CountMin): Array[Byte] = s.serialize()
    def deserialize(bytes: Array[Byte]): CountMin = CountMin.deserialize(bytes)
    def mergeSerialized(bytes: Array[Byte], into: CountMin): CountMin =
      CountMin.mergeSerializedInto(bytes, into)
  }
}

/** `agms_sketch_agg(x[, width[, depth]])` — a serialized Count-Sketch
  * ([[graft.sketch.CountSketch]]) of a join-key column: two of the same
  * shape answer `agms_join_size(a, b)`, one answers `agms_f2(bin)`. Both
  * sides must sketch the same key TYPE. `agms_merge_agg(bin)` re-aggregates
  * stored ones (shapes must match). */
object AgmsAgg extends SketchFamily("x", "count-sketch",
    Param("width", Param.Integral, CountSketch.DefaultWidth),
    Param("depth", Param.Integral, CountSketch.DefaultDepth)) {

  override def checkArgs(a: Args, mode: SketchAgg.Mode): String =
    CounterShape.check(a, CountSketch.MaxWidth)

  def kernel(a: Args, input: DataType): SketchKernel[CountSketch] = new SketchKernel[CountSketch] {
    private val width = a.int("width")
    private val depth = a.int("depth")
    private val hash = TypedXxHash.kernel(input, AgmsFunctions.HashSeed)
    def create(): CountSketch = new CountSketch(depth, width)
    def offer(s: CountSketch, v: Any, row: InternalRow): Unit = s.offerHash(hash(v))
    def merge(into: CountSketch, in: CountSketch): CountSketch = { into.mergeInPlace(in); into }
    def serialize(s: CountSketch): Array[Byte] = s.serialize()
    def deserialize(bytes: Array[Byte]): CountSketch = CountSketch.deserialize(bytes)
    def mergeSerialized(bytes: Array[Byte], into: CountSketch): CountSketch =
      CountSketch.mergeSerializedInto(bytes, into)
  }
}

/** `bloom_agg(x[, numBits[, numHashes]])` — a Bloom filter of a column as
  * BINARY: the runtime-filter build side (build over the selective side of a
  * join, broadcast, drop non-matching fact rows at the scan). Merge is
  * bitwise OR, so `bloom_merge_agg` re-aggregates stored filters exactly.
  * Hashes via [[TypedXxHash]] so `might_contain` probes agree by
  * construction. An empty group gives the empty filter, not NULL. */
object BloomAgg extends SketchFamily("x", "bloom filter",
    Param("numBits", Param.Integral, BloomAgg.DefaultNumBits),
    Param("numHashes", Param.Integral, BloomAgg.DefaultNumHashes)) {
  /** ~1% FPR at one million elements (10 bits/element, k=7). */
  final val DefaultNumBits = 10000000 - (10000000 % 64) + 64
  final val DefaultNumHashes = 7
  val HashSeed = 77L // independent from the sketch hash seed

  override def checkArgs(a: Args, mode: SketchAgg.Mode): String = {
    val numBits = a.int("numBits")
    val numHashes = a.int("numHashes")
    if (numBits < 64 || numBits % 64 != 0)
      s"numBits must be a positive multiple of 64, got $numBits"
    else if (numHashes < 1 || numHashes > 16) s"numHashes must be in [1,16], got $numHashes"
    else null
  }

  def kernel(a: Args, input: DataType): SketchKernel[BloomFilter] = new SketchKernel[BloomFilter] {
    private val numBits = a.int("numBits")
    private val numHashes = a.int("numHashes")
    private val hash = TypedXxHash.kernel(input, HashSeed)
    override def shaped: Boolean = true
    def create(): BloomFilter = new BloomFilter(numBits, numHashes)
    def offer(s: BloomFilter, v: Any, row: InternalRow): Unit = s.offerHash(hash(v))
    def merge(into: BloomFilter, in: BloomFilter): BloomFilter = { into.mergeInPlace(in); into }
    def serialize(s: BloomFilter): Array[Byte] = s.serialize()
    def deserialize(bytes: Array[Byte]): BloomFilter = BloomFilter.deserialize(bytes)
    def mergeSerialized(bytes: Array[Byte], into: BloomFilter): BloomFilter =
      BloomFilter.mergeSerializedInto(bytes, into)
  }
}

object CountMinFunctions {
  /** Independent from the other sketch seeds so a count-min probe can never
    * silently agree with a bloom/topk hash of the same value. */
  val HashSeed = 91L
}

object AgmsFunctions {
  /** Independent from every other family's seed — parallel sketches must
    * agree with EACH OTHER, never accidentally with a CM/bloom hash. */
  val HashSeed = 131L
}
