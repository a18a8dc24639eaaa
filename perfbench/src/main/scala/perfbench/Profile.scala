package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus

/** The traced run: each of the first [[Profiler.Passes]] passes of the op
  * list runs untraced and then again with spans at every layer boundary and
  * a SparkListener; then the sketch kernels are timed. Every per-layer time
  * or count is a mean per op of the traced passes unless its name says
  * otherwise. */
final class Profiler(ctx: Ctx, runner: Runner) {
  val tracer = new Tracer(true)
  private val sc = ctx.spark.sparkContext
  private val listener = runner.listener
  private var cur = -1
  private var gc0 = 0L
  private val gcNs = mutable.HashMap.empty[Int, Long]
  /** Per traced op: its wall time and task counters, for the sidecar. */
  private var opsJson = "[]"

  def begin(i: Int): Unit = { cur = i; tracer.op = i }

  /** Tags the jobs the next calls start with the current op and phase. */
  def phase(name: String): Unit = name match {
    case "done" => ExecListener.untag(sc)
    case p =>
      if (p == "run") gc0 = Main.gcNs()
      if (p == "free") gcNs(cur) = gcNs.getOrElse(cur, 0L) + Main.gcNs() - gc0
      ExecListener.tag(sc, cur, p)
  }

  /** Runs each pass of `list` untraced and then traced, alternating, so a
    * drift in speed over the run does not show as tracing overhead.
    * Returns the untraced phase, the traced phase and the per-layer metrics. */
  def run(list: IndexedSeq[Op]): (Phase, Phase, Seq[(String, Double, String)]) = {
    val w = runner.w
    tracer.spans.clear()
    val passLen = w.pass.length
    val (plains, traceds) = list.grouped(passLen).zipWithIndex.map { case (chunk, p) =>
      (runner.measure(chunk, None, p * passLen), runner.measure(chunk, Some(this), p * passLen))
    }.toSeq.unzip
    def joined(ps: Seq[Phase]) =
      Phase(ps.flatMap(_.lat).toArray, ps.flatMap(_.cpu).toArray, ps.map(_.wallS).sum, ps.flatMap(_.errors))
    val (plain, traced) = (joined(plains), joined(traceds))
    val tracedWall = traced.wallS
    val tracedSpans = tracer.spans.length
    Bus.drain(sc)

    val n = list.length.toDouble
    val self = tracer.selfNs
    def layer(name: String): Double =
      (0 until tracedSpans).filter(tracer.spans(_).name == name).map(self(_)).sum / n / 1e9
    val ops = 0 until list.length
    def sum(f: ExecCounters => Long, phases: Seq[String] = Seq("build", "run", "free"),
        idx: Seq[Int] = ops): Double =
      (for (i <- idx; p <- phases; c <- listener.byKey.get((i, p))) yield f(c).toDouble).sum
    val rowsOut = list.map(w.rowsOut).sum.toDouble
    val inputRows = sum(_.inputRows)
    val tasks = sum(_.tasks)

    val layers = Seq(
      ("sources.load_s", layer("sources.load"), "s"),
      ("sources.input_rows", inputRows / n, "count"),
      ("sources.input_bytes", sum(_.inputBytes) / n, "bytes"),
      ("sources.rows_read_per_row_out", if (rowsOut > 0) inputRows / rowsOut else 0.0, "ratio"),
      ("operators.build_s", layer("operators.build"), "s"),
      ("operators.build_jobs", sum(_.jobs, Seq("build")) / n, "count"),
      ("plans.analyze_s", layer("plans.analyze"), "s"),
      ("plans.optimize_s", layer("plans.optimize"), "s"),
      ("plans.physical_s", layer("plans.physical"), "s"),
      ("plans.free_s", layer("plans.free"), "s"),
      ("exec.run_s", layer("exec.run"), "s"),
      ("exec.jobs", sum(_.jobs) / n, "count"),
      ("exec.stages", sum(_.stages) / n, "count"),
      ("exec.tasks", tasks / n, "count"),
      ("exec.task_cpu_s", sum(_.cpuNs) / n / 1e9, "s"),
      ("exec.sched_delay_s", sum(_.schedMs) / n / 1e3, "s"),
      ("exec.core_util", sum(_.runMs) / 1e3 / (tracedWall * ctx.cpus), "ratio"),
      ("exec.shuffle_write_bytes", sum(_.shuffleWrite) / n, "bytes"),
      ("exec.shuffle_read_bytes", sum(_.shuffleRead) / n, "bytes"),
      ("exec.spill_bytes", sum(_.spill) / n, "bytes"),
      ("exec.gc_s", ops.map(gcNs.getOrElse(_, 0L)).sum / n / 1e9, "s"),
      ("exec.task_success_frac", if (tasks > 0) sum(_.tasksOk) / tasks else 1.0, "ratio"))

    val functions = Families.all.flatMap { f =>
      val mine = ops.filter(list(_).family == f.name)
      Seq((s"functions.${f.name}.agg_s", Runner.quantile(mine.map(plain.lat).toArray, 0.5), "s"),
        (s"functions.${f.name}.buffer_bytes", sum(_.shuffleWrite, idx = mine) / mine.length, "bytes"))
    }

    val accounted = (0 until tracedSpans).map(self(_)).sum / 1e9 / tracedWall
    val traceMetrics = Seq(
      ("trace.overhead_pct", (tracedWall - plain.wallS) / plain.wallS * 100, "%"),
      ("trace.accounted_pct", accounted * 100, "%"))

    opsJson = ops.map { i =>
      def one(f: ExecCounters => Long) = sum(f, idx = Seq(i))
      Json.obj(Seq("op" -> i, "name" -> list(i).name, "wall_s" -> traced.lat(i),
        "task_cpu_s" -> one(_.cpuNs) / 1e9, "task_run_s" -> one(_.runMs) / 1e3,
        "tasks" -> one(_.tasks), "input_bytes" -> one(_.inputBytes)))
    }.mkString("[\n", ",\n", "\n]")

    (plain, traced, layers ++ functions ++ Kernels.measure(ctx.seed) ++ traceMetrics)
  }

  def writeSidecar(path: String, metrics: Seq[(String, Double, String)]): Unit = {
    val body = "{\"metrics\":" + Json.obj(metrics.map { case (k, v, u) =>
      k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) }) +
      ",\n\"ops\":" + opsJson + ",\n\"spans\":" + tracer.spansJson + "}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
  }
}

object Profiler {
  /** Passes of the op list a traced run profiles. */
  val Passes = 3
}

/** Kernel timings on the public `graft.sketch` API, per family, over seeded
  * hashes: the per-row offer cost, and the per-call cost of each operation
  * a roll-up performs on whole sketches. */
object Kernels {
  private val N = 1 << 18
  /** Target length of one timed batch of whole-sketch calls, in ns. */
  private val BatchNs = 10e6

  @volatile private var sink = 0.0

  private def median(xs: Seq[Double]): Double = Runner.quantile(xs.toArray, 0.5)

  /** Calls per batch: enough for about [[BatchNs]] judged by one call, at
    * least 8 (so a batch is never a single cold call) and at most 256. */
  private def callsFor(f: => Unit): Int = {
    val t = System.nanoTime()
    f
    math.max(8, math.min(256, (BatchNs / math.max(1L, System.nanoTime() - t)).toInt))
  }

  /** Median over batches of the per-call time of `f`, in ns; each call gets
    * its own input from `prep`, made outside the timing. */
  private def perCall[T](batches: Int, prep: => T)(f: T => Unit): Double = {
    val calls = callsFor(f(prep))
    median((0 until batches).map { _ =>
      val in = Seq.fill(calls)(prep)
      val t = System.nanoTime()
      in.foreach(f)
      (System.nanoTime() - t).toDouble / calls
    })
  }

  private def one[S](k: Kernel[S], hs: Array[Long], batches: Int): Seq[(String, Double)] = {
    def filled(from: Int, to: Int): S = { val s = k.create(); (from until to).foreach(i => k.offer(s, hs(i))); s }
    val offerNs = median((0 until batches).map { _ =>
      val s = k.create()
      val t = System.nanoTime()
      var i = 0
      while (i < hs.length) { k.offer(s, hs(i)); i += 1 }
      (System.nanoTime() - t).toDouble / hs.length
    })
    val a = filled(0, hs.length / 2)
    val b = filled(hs.length / 2, hs.length)
    val aBytes = k.serialize(a)
    val bBytes = k.serialize(b)
    Seq(
      "offer_ns" -> offerNs,
      "merge_us" -> perCall(batches, k.deserialize(aBytes))(k.merge(_, b)) / 1e3,
      "merge_serialized_us" -> perCall(batches, k.deserialize(aBytes))(k.mergeSerialized(bBytes, _)) / 1e3,
      "deserialize_us" -> perCall(batches, ())(_ => k.deserialize(aBytes)) / 1e3,
      "estimate_us" -> perCall(batches, ())(_ => sink += k.estimate(a)) / 1e3,
      "serialize_us" -> perCall(batches, ())(_ => k.serialize(a)) / 1e3,
      "wire_bytes" -> aBytes.length.toDouble)
  }

  def measure(seed: Long): Seq[(String, Double, String)] = {
    val hs = Inputs.hashes(N, seed)
    Families.all.flatMap { f =>
      one(f.kernel, hs, 2) // warm the JIT on this family's code paths first
      one(f.kernel, hs, 5).map { case (m, v) =>
        (s"sketch.${f.name}.$m", v, if (m == "wire_bytes") "bytes" else m.drop(m.lastIndexOf('_') + 1))
      }
    }
  }
}
