package graft.functions

import graft.sketch.{BloomFilter, CountMin, CountSketch, Sketch, ThetaSketch}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types._

/** Every scalar function over stored sketches — the estimates, set algebra
  * and probes that realize the reference's empty `GenericUDF` stub ("TODO
  * potential set intersection and other utils",
  * UDFCardinalityEstimator.java:30) — is this one node: a declared reader
  * ([[ReadFn]]) over `children` = its sketch arguments, then a probe's key.
  *
  * The node owns what every reader shares: the input checks; NULL and
  * `X''` are both "no sketch", handed to the reader's op as null (a NULL key
  * gives NULL); each sketch argument is decoded once per node when foldable
  * (a literal, or the scalar subquery of a runtime filter) and otherwise
  * once per distinct byte array; and generated code evaluates the children,
  * then makes one call to [[read]].
  *
  * An op must never mutate a decoded sketch: the cache hands the same
  * object to the next row.
  */
case class SketchRead(fn: ReadFn, children: Seq[Expression]) extends Expression {

  private def sketchArgs: Seq[Expression] = children.take(fn.sketches)

  override def nullable: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  override def dataType: DataType = fn.dataType
  override def prettyName: String = fn.name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchRead = copy(children = newChildren)

  override def checkInputDataTypes(): TypeCheckResult = {
    val badSketch = sketchArgs.map(_.dataType).find(!fn.stored.accepts(_)).map(dt =>
      s"expects a BINARY serialized ${fn.stored.family.wireName}, got ${dt.sql}")
    val badKey = fn.keySeed.map(_ => children.last.dataType)
      .filterNot(GraftBridge.isAtomic).map(dt => s"unsupported key type ${dt.sql}")
    badSketch.orElse(badKey).fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(why =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName: $why"))
  }

  @transient private lazy val bytesOf: Array[Any => Array[Byte]] =
    sketchArgs.map(c => SketchAgg.storedBytes(c.dataType)).toArray
  @transient private lazy val keyHash: Any => Long =
    fn.keySeed.map(TypedXxHash.kernel(children.last.dataType, _)).orNull
  // (bytes, decode) in one immutable pair, so a reader never pairs a decode
  // with other bytes
  @transient private lazy val last = new Array[(Array[Byte], AnyRef)](fn.sketches)
  // foldable, not references.isEmpty: a BoundReference (a per-row sketch
  // column) has no references either but cannot be evaluated without a row
  @transient private lazy val fixed: Array[Option[AnyRef]] = sketchArgs.indices.map(i =>
    if (sketchArgs(i).foldable) Some(decode(i, sketchArgs(i).eval())) else None).toArray

  /** Sketch argument `i` decoded, null for NULL or `X''`; the last decode is
    * reused while the value is the same byte array. */
  private def decode(i: Int, v: Any): AnyRef = {
    val bytes = if (v == null) null else bytesOf(i)(v)
    val hit = last(i)
    if (bytes == null || bytes.isEmpty) null
    else if (hit != null && (hit._1 eq bytes)) hit._2
    else {
      val sketch = fn.stored.decode(bytes)
      last(i) = (bytes, sketch)
      sketch
    }
  }

  private def sketch(i: Int, v: Any): AnyRef = fixed(i) match {
    case Some(s) => s
    case None => decode(i, v)
  }

  /** The one call of both eval paths, with the values of the (one or two)
    * arguments; a primitive key comes boxed. */
  def read(v0: Any, v1: Any): Any = {
    val a = sketch(0, v0)
    if (fn.sketches == 2) fn.op(a, sketch(1, v1), 0L)
    else if (fn.keySeed.isEmpty) fn.op(a, null, 0L)
    else if (v1 == null) null
    else fn.op(a, null, keyHash(v1))
  }

  override def eval(input: InternalRow): Any =
    read(children.head.eval(input), if (children.length > 1) children(1).eval(input) else null)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sketchRead", this, classOf[SketchRead].getName)
    val args = children.map(_.genCode(ctx))
    // box primitives explicitly: generated Java has no autoboxing here
    val values = children.zip(args).map { case (c, a) =>
      val v = if (CodeGenerator.isPrimitiveType(c.dataType))
        s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${a.value})" else s"${a.value}"
      s"${a.isNull} ? null : $v"
    }.padTo(2, "null")
    val result = ctx.freshName("result")
    ev.copy(code =
      code"""
        |${blocksToBlock(args.map(_.code))}
        |Object $result = $ref.read(${values.mkString(", ")});
        |boolean ${ev.isNull} = $result == null;
        |${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        |if (!${ev.isNull}) ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $result;
        |""".stripMargin)
  }
}

/** A reader's work over its decoded sketches `a` and `b` (null: no sketch,
  * and `b` always for a one-sketch reader) and a probe's key hash `h` — a
  * trait rather than a `Function3`, whose `Long` would be boxed per probe. */
trait ReadOp extends Serializable {
  def apply(a: AnyRef, b: AnyRef, h: Long): Any
}

/** The stored sketches a reader takes: the family that writes them and
  * their decode. `approx_distinct`'s result struct is accepted too for its
  * family. */
final case class Stored(family: SketchFamily, decode: Array[Byte] => AnyRef) {
  def accepts(dt: DataType): Boolean =
    dt == BinaryType || (family eq ApproxDistinct) && ApproxDistinct.isResultStruct(dt)
}

/** One stored-sketch reader `name(params)`: the first `sketches` arguments
  * are stored sketches, then for a probe (`keySeed` set) the key, hashed by
  * type with the seed of the family that built the sketch. */
final case class ReadFn(name: String, params: Seq[String], about: String,
    dataType: DataType, stored: Stored, keySeed: Option[Long] = None)(val op: ReadOp) {

  def sketches: Int = params.length - keySeed.size

  def usage: String = s"$name(${params.mkString(", ")}) - $about"

  def build(exprs: Seq[Expression]): SketchRead =
    if (exprs.length == params.length) SketchRead(this, exprs)
    else throw new IllegalArgumentException(s"$name requires exactly ${params.length} " +
      s"argument${if (params.length == 1) "" else "s"}: (${params.mkString(", ")})")
}

object SketchRead {
  private val hll = Stored(ApproxDistinct, Sketch.deserialize)
  private val theta = Stored(ThetaSketchAgg, ThetaSketch.deserialize)
  private val countMin = Stored(CountMinAgg, CountMin.deserialize)
  private val agms = Stored(AgmsAgg, CountSketch.deserialize)
  private val bloom = Stored(BloomAgg, BloomFilter.deserialize)

  /** A reader of one sketch, NULL without one. */
  private def one[S](name: String, param: String, about: String, dataType: DataType,
      stored: Stored)(f: S => Any): ReadFn =
    ReadFn(name, Seq(param), about, dataType, stored)((a, _, _) =>
      if (a == null) null else f(a.asInstanceOf[S]))

  /** A reader of two sketches, NULL when either is missing. */
  private def two[S](name: String, about: String, dataType: DataType, stored: Stored)(
      f: (S, S) => Any): ReadFn =
    ReadFn(name, Seq("a", "b"), about, dataType, stored)((a, b, _) =>
      if (a == null || b == null) null else f(a.asInstanceOf[S], b.asInstanceOf[S]))

  /** A serialized set union, where no sketch is the empty set. */
  private def union[S](name: String, about: String, stored: Stored)(
      f: (S, S) => S, serialize: S => Array[Byte]): ReadFn =
    ReadFn(name, Seq("a", "b"), about, BinaryType, stored)((a, b, _) =>
      if (a == null && b == null) null
      else serialize(
        if (b == null) a.asInstanceOf[S]
        else if (a == null) b.asInstanceOf[S]
        else f(a.asInstanceOf[S], b.asInstanceOf[S])))

  /** A probe of one sketch with a hashed key, NULL without a sketch. */
  private def probe[S](name: String, params: Seq[String], about: String, dataType: DataType,
      stored: Stored, seed: Long)(f: (S, Long) => Any): ReadFn =
    ReadFn(name, params, about, dataType, stored, Some(seed))((a, _, h) =>
      if (a == null) null else f(a.asInstanceOf[S], h))

  /** A ∪ B in a fresh sketch; the decoded inputs stay as they were. */
  private def hllUnion(a: Sketch, b: Sketch): Sketch = {
    val out = Sketch.deserialize(a.serialize())
    out.mergeInPlace(b)
    out
  }

  /** The complete stored-sketch reader SQL surface; the Column API in
    * [[graft.GraftFunctions]] calls the same declarations by name. */
  val functions: Seq[ReadFn] = Seq(
    one[Sketch]("sketch_estimate", "s", "estimate of a stored sketch", LongType, hll)(
      _.estimate),
    union[Sketch]("sketch_union", "serialized sketch union", hll)(hllUnion, _.serialize()),
    // |A∩B| ≈ |A| + |B| − |A∪B|, clamped at 0: HLL unions natively and
    // intersects only this way, with an error that grows with |A∪B|/|A∩B|
    two[Sketch]("sketch_intersection_estimate", "inclusion-exclusion intersection",
      LongType, hll)((a, b) => math.max(0L, a.estimate + b.estimate - hllUnion(a, b).estimate)),
    one[ThetaSketch]("theta_estimate", "s", "distinct estimate of a theta sketch",
      LongType, theta)(_.estimate),
    // with theta_fraction this exposes the sketch's own error bound
    // (RSE ≈ √(1−θ)/√(c−1)) in-query, which is how q72's gate is computed
    one[ThetaSketch]("theta_retained", "s", "retained entries of a theta sketch",
      LongType, theta)(_.retained.toLong),
    one[ThetaSketch]("theta_fraction", "s", "sampling fraction of a theta sketch",
      DoubleType, theta)(_.thetaFraction),
    union[ThetaSketch]("theta_union", "theta sketch of the set union", theta)(
      ThetaSketch.union, _.serialize()),
    // error proportional to the INTERSECTION, vs the inclusion–exclusion
    // sketch_intersection_estimate whose error scales with the union
    two[ThetaSketch]("theta_intersect", "theta sketch of the set intersection",
      BinaryType, theta)(ThetaSketch.intersect(_, _).serialize()),
    two[ThetaSketch]("theta_difference", "theta sketch of the set difference",
      BinaryType, theta)(ThetaSketch.difference(_, _).serialize()),
    // both set expressions at the common θ = min(θ_A, θ_B): the standard
    // theta/KMV Jaccard estimator. No sketch is the empty set, so
    // J(∅, B) = 0 and J(∅, ∅) = NULL (0/0).
    ReadFn("theta_jaccard", Seq("a", "b"),
      "Jaccard similarity estimate of two theta sketches", DoubleType, theta)((a, b, _) =>
      (a, b) match {
        case (null, null) => null
        case (_, null) | (null, _) => 0.0
        case (x: ThetaSketch, y: ThetaSketch) =>
          val u = ThetaSketch.union(x, y).estimateDouble
          if (u == 0.0) null else ThetaSketch.intersect(x, y).estimateDouble / u
      }),
    probe[CountMin]("cm_estimate", Seq("bin", "key"),
      "point-frequency estimate from a Count-Min sketch", LongType, countMin,
      CountMinFunctions.HashSeed)(_.estimateHash(_)),
    one[CountMin]("cm_total", "bin", "total offered weight of a Count-Min sketch",
      LongType, countMin)(_.totalWeight),
    two[CountSketch]("agms_join_size",
      "equi-join cardinality estimate from two parallel count-sketches", DoubleType, agms)(
      _.joinSize(_)),
    one[CountSketch]("agms_f2", "bin",
      "second-moment (self-join size) estimate of a count-sketch", DoubleType, agms)(_.f2()),
    // the runtime-filter probe: false means never inserted; X'' and NULL
    // give NULL, which a filter drops like false
    probe[BloomFilter]("might_contain", Seq("bloom", "x"),
      "probe a Bloom filter (no false negatives)", BooleanType, bloom, BloomAgg.HashSeed)(
      _.mightContainHash(_)))

  private val byName: Map[String, ReadFn] = functions.map(f => f.name -> f).toMap

  def fn(name: String): ReadFn = byName(name)
}
