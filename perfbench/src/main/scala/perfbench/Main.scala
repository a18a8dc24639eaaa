package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM. One client thread on the driver runs a closed loop (the
  * next op starts only after the last one finished) over a fixed, seeded,
  * ordered op list on `local[cpus]`, with tracing off. With `--trace 1` the
  * same list then runs again traced, for the per-layer profile.
  *
  * The end-to-end costs are CPU times, not wall times: an op's is its task
  * CPU plus the client thread's CPU, set-up's is the CPU of the whole JVM up
  * to the first measured op. On a shared host the wall time of the same work
  * moves with the neighbours' load, while the CPU time the guest accounts to
  * a thread leaves out the time the host ran someone else. Wall times are
  * reported by the traced run.
  *
  * Prints the result object as its last stdout line and exits 1 if any op
  * or correctness check failed. Arguments: `--workload --seed --seconds
  * --trace --cpus --work`. */
object Main {
  private val mainStartNs = System.nanoTime()

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cpus: Int, work: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cpus").toInt, need("work"))
  }

  /** The same session confs as `graft.Bench`, with shuffle partitions = cpus;
    * scratch space stays inside the work directory. */
  private def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one "cannot be recomputed after unpersisting" line per freed block
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def fullGc(): Unit = { System.gc(); System.gc() }

  /** Used heap after full GCs, once Spark's listeners and context cleaner
    * have released what the measured phase left behind: GC, give the
    * cleaner time to drop unreachable shuffles and broadcasts, GC again. */
  private def liveHeapMb(spark: SparkSession): Double = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    (0 until 3).map { _ =>
      fullGc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def gcNs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum * 1000000L

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = secs(t0)
    val t1 = System.nanoTime()
    graft.GraftFunctions.register(spark)
    val registerS = secs(t1)
    val ctx = Ctx(spark, a.cpus, a.seed, a.work)
    val w = Workload(a.workload, ctx)

    val runner = new Runner(spark, w, a.seed)
    val prof = if (a.trace) Some(new Profiler(ctx, runner)) else None
    Workload.timed("inputs")(w.setup())
    Workload.timed("warm-up")((0 until w.warmupPasses).foreach(_ => w.pass.foreach(runner.runOp(_, None))))
    // the correctness pass runs before the measured phase, as part of set-up
    val checkFailures = Workload.timed("check") {
      try w.check() catch { case e: Throwable => Seq(s"check pass failed: $e") }
    }
    val passes = w.passes(a.seconds)
    val list = runner.opList(if (a.trace) math.min(passes, Profiler.Passes) else passes)
    fullGc()
    val setupWallS = secs(mainStartNs)
    val setupS = Runner.processCpuNs() / 1e9

    val (plain, opErrors, attempted, metrics) = prof match {
      case Some(p) =>
        val (ph, traced, layers) = p.run(list)
        val m = Seq(("graft.session_build_s", sessionS, "s"), ("graft.register_s", registerS, "s"),
          ("wall.setup_s", setupWallS, "s"), ("wall.ops_per_s", Runner.opsPerS(ph, w.pass.length), "1/s"),
          ("wall.latency_p90_s", Runner.quantile(ph.lat, 0.9), "s")) ++ layers
        p.writeSidecar(s"${a.work}/../trace_${a.workload}_seed${a.seed}.json", m)
        // every op ran twice, untraced and traced; a failure in either counts
        (ph, ph.errors ++ traced.errors, 2 * list.length, m)
      case None =>
        val ph = runner.measure(list, None)
        val heapMb = liveHeapMb(spark)
        (ph, ph.errors, list.length, Seq(
          ("cpu_per_op_s", ph.cpu.sum / ph.cpu.length, "s"),
          ("setup_s", setupS, "s"),
          ("heap_live_mb", heapMb, "MB")))
    }
    System.err.println("[perfbench] pass wall s: " +
      plain.lat.grouped(w.pass.length).map(p => f"${p.sum}%.2f").mkString(" "))
    System.err.println("[perfbench] pass cpu s:  " +
      plain.cpu.grouped(w.pass.length).map(p => f"${p.sum}%.2f").mkString(" "))
    list.indices.groupBy(list(_).name).toSeq.sortBy(_._1).foreach { case (name, is) =>
      def med(xs: Array[Double]) = Runner.quantile(is.map(xs).toArray, 0.5)
      System.err.println(f"[perfbench] op $name%-36s n=${is.length}%3d median wall ${med(plain.lat)}%.4f s, cpu ${
        med(plain.cpu)}%.4f s")
    }

    val failures = checkFailures ++ opErrors
    System.err.println(f"[perfbench] setup ${setupWallS}%.2f s (cpu ${setupS}%.2f s), measured ${plain.wallS}%.2f s")
    failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))

    val line = Json.obj(Seq(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.length,
      "metrics" -> Json.Raw(metrics.map { case (n, v, u) =>
        Json.str(n) + ":" + Json.obj(Seq("value" -> v, "unit" -> u)) }.mkString("{", ",", "}"))))
    spark.stop()
    println(line)
    System.out.flush()
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}

/** A measured phase: per-op wall and CPU times, the phase's wall time, op
  * errors. */
final case class Phase(lat: Array[Double], cpu: Array[Double], wallS: Double, errors: Seq[String])

final class Runner(val spark: SparkSession, val w: Workload, seed: Long) {
  private val sc = spark.sparkContext
  /** Task counters per (op, phase); the untraced passes tag their jobs with
    * phase `plain`, the traced ones with their layer phases. */
  val listener = new ExecListener
  sc.addSparkListener(listener)

  /** `passes` copies of the pass, each shuffled by (seed, pass index). */
  def opList(passes: Int): IndexedSeq[Op] =
    (0 until passes).flatMap(p => new scala.util.Random(seed * 7919L + p).shuffle(w.pass))

  /** One op exactly as `graft.Bench` runs a query: build, run into the
    * `noop` sink, then sweep checkpoint blocks. When profiled, the planner
    * phases are also forced one by one from outside through `queryExecution`. */
  def runOp(op: Op, prof: Option[Profiler]): Unit = {
    val tr = prof.map(_.tracer).getOrElse(Tracer.Off)
    try {
      prof.foreach(_.phase("build"))
      val df = tr.span("operators.build")(op.build(tr))
      if (tr.enabled) {
        val qe = df.queryExecution
        tr.span("plans.analyze")(qe.analyzed)
        tr.span("plans.optimize")(qe.optimizedPlan)
        tr.span("plans.physical")(qe.executedPlan)
      }
      prof.foreach(_.phase("run"))
      tr.span("exec.run")(df.write.format("noop").mode("overwrite").save())
    } finally {
      prof.foreach(_.phase("free"))
      tr.span("plans.free")(graft.plans.Checkpoints.freeAll(spark))
      prof.foreach(_.phase("done"))
    }
  }

  /** Runs `list` in order. An op's CPU time is the CPU its tasks spent
    * (run and deserialize) plus the client thread's CPU while it ran
    * (planning, code generation, job submission). */
  def measure(list: IndexedSeq[Op], prof: Option[Profiler], base: Int = 0): Phase = {
    val lat = new Array[Double](list.length)
    val clientNs = new Array[Long](list.length)
    val errors = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    list.indices.foreach { i =>
      prof.foreach(_.begin(base + i))
      if (prof.isEmpty) ExecListener.tag(sc, base + i, Runner.PlainPhase)
      val c = Runner.threads.getCurrentThreadCpuTime
      val s = System.nanoTime()
      try runOp(list(i), prof)
      catch { case e: Throwable => errors += s"op $i ${list(i).name}: $e" }
      finally if (prof.isEmpty) ExecListener.untag(sc)
      lat(i) = (System.nanoTime() - s) / 1e9
      clientNs(i) = Runner.threads.getCurrentThreadCpuTime - c
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    org.apache.spark.perfbench.Bus.drain(sc)
    val phases = if (prof.isEmpty) Seq(Runner.PlainPhase) else Seq("build", "run", "free")
    val cpu = list.indices.map { i =>
      (clientNs(i) + phases.flatMap(p => listener.byKey.get((base + i, p))).map(_.cpuNs).sum) / 1e9
    }.toArray
    Phase(lat, cpu, wallS, errors.toSeq)
  }
}

object Runner {
  val PlainPhase = "plain"

  private val threads = ManagementFactory.getThreadMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this JVM since it started. */
  def processCpuNs(): Long = os.getProcessCpuTime

  /** Ops per second of the median pass: one slow pass (a stall on a shared
    * machine) cannot move it. */
  def opsPerS(ph: Phase, passLen: Int): Double =
    passLen / quantile(ph.lat.grouped(passLen).map(_.sum).toArray, 0.5)

  /** Nearest-rank quantile. */
  def quantile(xs: Array[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
}
