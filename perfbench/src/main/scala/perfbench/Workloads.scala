package perfbench

import graft.sketch._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark operation: build a DataFrame through the engine's public
  * entry points (timing its source calls when traced); the runner sends it
  * into the `noop` sink. `family` is the sketch family it aggregates. */
final case class Op(name: String, family: String, build: Tracer => DataFrame)

/** What every workload provides to the runner. */
trait Workload {
  /** Input generation, run once inside set-up. */
  def setup(): Unit
  /** Untimed passes over every op in set-up, before the correctness pass. */
  def warmupPasses: Int
  /** One pass of ops in canonical order; the runner shuffles it by seed. */
  def pass: IndexedSeq[Op]
  /** Measured passes per second of `--seconds`: the work is fixed for a
    * given `--seconds`, sized on a 4-core box to fit the run budget. */
  def passesPerSecond: Double
  final def passes(seconds: Int): Int = math.max(1, math.round(seconds * passesPerSecond).toInt)
  /** Correctness pass, run in set-up; one message per failed check. */
  def check(): Seq[String]
  /** Result rows one op returns, for `sources.rows_read_per_row_out`. */
  def rowsOut(op: Op): Long
}

final case class Ctx(spark: SparkSession, cpus: Int, seed: Long, workDir: String)

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "sketch_build" => new SketchBuild(ctx)
    case "sketch_merge" => new SketchMerge(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Runs `body`, noting its wall time on stderr. */
  def timed[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[perfbench] $what ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}

/** Envelope checks of estimates against the exact facts of a generated
  * input. The bounds of the randomized estimators (HLL, theta, AGMS) are
  * [[Sigmas]] standard errors of the family at its parameters; the others
  * follow from the family's guarantee. */
object Envelope {
  /** An evaluation makes about a thousand such checks, so at three standard
    * errors a correct sketch fails one now and then (theta reads 3.1 standard
    * errors high on one group at seed 502); at five a false failure is
    * about one in two million per check. */
  val Sigmas = 5.0

  def rel(est: Double, exact: Double, bound: Double, tag: String): Seq[String] = {
    val err = math.abs(est - exact) / math.max(1.0, exact)
    if (err <= bound) Nil
    else Seq(f"$tag: estimate $est%.1f vs exact $exact%.1f (rel err $err%.4f > $bound%.4f)")
  }

  /** A median estimate `m` of a family: KLL's rank lies within 0.02 of 1/2;
    * DDSketch (relative error α) lies within 2α of a value of rank 1/2. */
  def median(f: Family, m: Double, ex: Exact, tag: String): Seq[String] = {
    val (lo, hi, eps) = f match {
      case Families.DdF =>
        (m / (1 + 2 * DdSketch.DefaultAlpha), m / (1 - 2 * DdSketch.DefaultAlpha), 0.0)
      case _ => (m, m, 0.02)
    }
    if (ex.below(lo) <= (0.5 + eps) * ex.n && ex.atMost(hi) >= (0.5 - eps) * ex.n) Nil
    else Seq(s"$tag: median estimate $m is not of rank 0.5 ± $eps (n=${ex.n})")
  }

  /** SpaceSaving: each reported item's exact count lies in [est - err, est]. */
  def topk(top: Seq[(String, Long, Long)], ex: Exact, tag: String): Seq[String] =
    if (top.isEmpty) Seq(s"$tag: empty top-k")
    else top.flatMap { case (item, est, err) =>
      val exact = ex.itemCount(item)
      if (exact <= est && exact >= est - err) Nil
      else Seq(s"$tag: item $item exact $exact outside [${est - err}, $est]")
    }

  private def keyHash(seed: Long) =
    graft.functions.TypedXxHash.kernel(org.apache.spark.sql.types.LongType, seed)

  /** Bloom filter: no key offered to the group may be reported absent. */
  def bloom(bytes: Array[Byte], ex: Exact, tag: String): Seq[String] = {
    val bf = BloomFilter.deserialize(bytes)
    val hash = keyHash(graft.functions.BloomAgg.HashSeed)
    val misses = ex.keys.keysIterator.count(k => !bf.mightContainHash(hash(k)))
    if (misses == 0) Nil else Seq(s"$tag: $misses false negatives")
  }

  /** Count-Min: the total weight is the row count, no key's estimate is below
    * its exact count, and the mean over-estimate per key stays within e·N/width
    * (each counter row's expected collision mass is at most N/width). */
  def countMin(bytes: Array[Byte], ex: Exact, tag: String): Seq[String] = {
    val cm = CountMin.deserialize(bytes)
    val hash = keyHash(graft.functions.CountMinFunctions.HashSeed)
    val over = ex.keys.iterator.map { case (k, c) => cm.estimateHash(hash(k)) - c }.toArray
    val under = over.count(_ < 0)
    val meanOver = over.sum.toDouble / over.length
    val bound = math.E * ex.n / cm.width
    (if (cm.totalWeight == ex.n) Nil else Seq(s"$tag: total weight ${cm.totalWeight}, rows ${ex.n}")) ++
      (if (under == 0) Nil else Seq(s"$tag: $under keys estimated below their exact count")) ++
      (if (meanOver <= bound) Nil else Seq(f"$tag: mean over-estimate $meanOver%.2f > e·N/width $bound%.2f"))
  }

  /** The families whose check needs only the exact distinct count. */
  val DistinctFamilies: Set[Family] = Set(Families.HllF, Families.LcF, Families.ThetaF)

  /** A distinct-count sketch (HLL b=16, LC or theta) against the exact distinct count. */
  def distinct(f: Family, bytes: Array[Byte], exact: Long, tag: String): Seq[String] = f match {
    case Families.ThetaF =>
      rel(ThetaSketch.deserialize(bytes).estimate, exact, Sigmas / math.sqrt(ThetaSketch.DefaultK - 1.0), tag)
    case _ =>
      rel(Sketch.deserialize(bytes).estimate, exact, if (f == Families.HllF) Sigmas * 1.04 / 256 else 0.01, tag)
  }

  /** Checks one group's built sketch of any family against the exact facts. */
  def check(f: Family, bytes: Array[Byte], ex: Exact, tag: String): Seq[String] = f match {
    case _ if DistinctFamilies(f) => distinct(f, bytes, ex.distinct, tag)
    case Families.AgmsF =>
      rel(CountSketch.deserialize(bytes).f2(), ex.f2, Sigmas * math.sqrt(2.0 / CountSketch.DefaultWidth), tag)
    case Families.CmF => countMin(bytes, ex, tag)
    case Families.KllF => median(f, KllDoubles.deserialize(bytes).quantile(0.5), ex, tag)
    case Families.DdF => median(f, DdSketch.deserialize(bytes).quantile(0.5), ex, tag)
    case Families.TopkF => topk(SpaceSaving.deserialize(bytes).topK(10), ex, tag)
    case Families.BloomF => bloom(bytes, ex, tag)
  }
}

/** Write side of the sketches: per-row `offer` into grouped aggregation
  * buffers, one op per family. */
final class SketchBuild(ctx: Ctx) extends Workload {
  import SketchBuild._

  private def input(): DataFrame = Inputs.frame(ctx.spark, Rows, Groups, 64, ctx.seed, ctx.cpus)

  def setup(): Unit = ()
  // the check builds every family in one job, so it does not warm the ops
  def warmupPasses: Int = 1
  val pass: IndexedSeq[Op] = Families.all.toIndexedSeq.map(f =>
    Op(s"build_${f.name}", f.name, tr =>
      tr.span("sources.load")(input()).groupBy("g").agg(f.build(col(f.input)).as("s"))))
  def passesPerSecond: Double = 0.4 // 8 passes of 9 families at --seconds 20
  def rowsOut(op: Op): Long = Groups

  /** Builds every family in one job and checks each group's estimate. */
  def check(): Seq[String] = {
    val rows = input().groupBy("g").agg(count(lit(1)).as("n"),
      Families.all.map(f => f.bytes(f.build(col(f.input))).as(f.name)): _*).collect()
    val exact = Exact.of(Rows, Groups, ctx.seed)
    (if (rows.length == Groups) Nil else Seq(s"${rows.length} groups built, expected $Groups")) ++
      rows.toSeq.flatMap { r =>
        val g = r.getInt(0)
        Families.all.flatMap(f =>
          Envelope.check(f, r.getAs[Array[Byte]](f.name), exact(g), s"build_${f.name} g=$g"))
      }
  }
}

object SketchBuild {
  val Rows: Long = 1L << 19
  val Groups = 4
}

/** Read/roll-up side: stored per-(group, bucket) sketches, written once in
  * set-up, merged per group through the `*_merge_agg` functions, one op per
  * (table, family). HLL comes in two shapes: few groups of dense b=16
  * sketches, and ~1000 groups of sparse ones. */
final class SketchMerge(ctx: Ctx) extends Workload {
  import SketchMerge._

  private def sketches(t: Table, by: Seq[String], parts: Int = ctx.cpus): DataFrame =
    Inputs.frame(ctx.spark, t.rows, t.groups, t.buckets, ctx.seed, parts).groupBy(by.map(col): _*).agg(count(lit(1)).as("rows"),
      t.families.map(f => f.bytes(f.build(col(f.input))).as(f.name)): _*)

  /** Stores the tables. With few groups, enough input partitions that each
    * holds at most 64 (group, bucket) pairs, below the count at which
    * Spark's object hash aggregate falls back to sorting. */
  def setup(): Unit = tables.foreach(t => Workload.timed(s"store ${t.name}")(
    sketches(t, Seq("g", "bucket"), if (t.groups >= 64) ctx.cpus else math.max(ctx.cpus, t.groups * t.buckets / 64))
      .write.mode("overwrite").parquet(s"${ctx.workDir}/${t.name}.parquet")))

  // the check runs every roll-up once, which warms them
  def warmupPasses: Int = 0

  private val ops: IndexedSeq[(Op, Table)] =
    for (t <- tables.toIndexedSeq; f <- t.families) yield {
      val name = if (tables.count(_.families.contains(f)) > 1) s"merge_${f.name}_${t.name}" else s"merge_${f.name}"
      Op(name, f.name, tr =>
        tr.span("sources.load")(graft.sources.Tables.load(ctx.spark, ctx.workDir, t.name))
          .groupBy("g").agg(f.rollup(col(f.name)).as("m"))) -> t
    }
  val pass: IndexedSeq[Op] = ops.map(_._1)
  private val tableOf: Map[String, Table] = ops.map { case (o, t) => o.name -> t }.toMap
  def passesPerSecond: Double = 0.3 // 6 passes of 10 roll-ups at --seconds 20
  def rowsOut(op: Op): Long = tableOf(op.name).groups

  /** Rolled-up bytes must equal one-shot bytes, and lie in the family's
    * envelope around the exact facts; merges that return only an estimate
    * are checked against the one-shot estimate (DDSketch, whose merge is
    * exact) and against the exact facts. */
  def check(): Seq[String] = tables.flatMap(t => Workload.timed(s"check ${t.name}")(check(t)))

  private def check(t: Table): Seq[String] = {
    val oneShot = sketches(t, Seq("g")).collect().map(r => r.getInt(0) -> r).toMap
    lazy val exact = Exact.of(t.rows, t.groups, ctx.seed)
    // distinct counts alone come cheaper from a bitmap
    lazy val distinct =
      if (t.groups <= 64) Exact.distinct(t.rows, t.groups, ctx.seed) else exact.map { case (g, e) => g -> e.distinct }
    ops.filter(_._2 == t).flatMap { case (op, _) =>
      val f = t.families.find(_.name == op.family).get
      val rolled = op.build(Tracer.Off).collect().map(r => r.getInt(0) -> r).toMap
      (if (rolled.keySet == oneShot.keySet) Nil else Seq(s"${op.name}: rolled-up groups differ")) ++
        rolled.toSeq.flatMap { case (g, r) =>
          val tag = s"${op.name} g=$g"
          val one = oneShot(g).getAs[Array[Byte]](f.name)
          f match {
            case _ if f.rollupIsBytes =>
              val got = r.getAs[Array[Byte]]("m")
              if (!java.util.Arrays.equals(got, one)) Seq(s"$tag: rolled-up bytes differ from one-shot bytes")
              else if (Envelope.DistinctFamilies(f)) Envelope.distinct(f, got, distinct(g), tag)
              else Envelope.check(f, got, exact(g), tag)
            case Families.DdF =>
              val (got, want) = (r.getSeq[Double](1).head, DdSketch.deserialize(one).quantile(0.5))
              if (got == want) Envelope.median(f, got, exact(g), tag)
              else Seq(s"$tag: rolled-up median $got, one-shot $want")
            case Families.KllF => Envelope.median(f, r.getSeq[Double](1).head, exact(g), tag)
            case Families.TopkF => Envelope.topk(
              r.getSeq[Row](1).toSeq.map(e => (e.getString(0), e.getLong(1), e.getLong(2))), exact(g), tag)
            case other => Seq(s"$tag: no roll-up check for family ${other.name}")
          }
        }
    }
  }
}

object SketchMerge {
  /** A stored-sketch table: `groups` × `buckets` stored sketches of
    * `perSketch` generated rows each, one BINARY column per family. */
  final case class Table(name: String, families: Seq[Family], groups: Int, buckets: Int, perSketch: Int) {
    def rows: Long = groups.toLong * buckets * perSketch
  }

  /** Each table holds enough stored sketches per group that the roll-up's
    * per-sketch work (scan, deserialize, merge) in the tasks, not the
    * client's per-job planning, makes up most of an op's CPU time (see
    * perfbench/README.md). */
  val tables: Seq[Table] = Seq(
    // ~10k distinct keys per stored sketch: dense b=16 HLL registers (~9.5k
    // of 2^16 touched, over the 2^16/8 at which a sketch turns dense), and
    // theta sketches past their k = 4096 retained hashes
    Table("dense", Seq(Families.HllF, Families.ThetaF), 4, 128, 10240),
    // 128 keys per stored sketch: sparse HLL
    Table("sparse", Seq(Families.HllF), 1024, 8, 128),
    Table("families", Seq(Families.LcF, Families.CmF, Families.TopkF, Families.BloomF, Families.AgmsF),
      4, 64, 2048),
    // many small quantile sketches: their merges are cheap
    Table("quantiles", Seq(Families.KllF, Families.DdF), 4, 1024, 512))
}
