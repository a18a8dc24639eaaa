package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded call into a layer: `parent` is the index of the enclosing
  * span (-1 at top level) and `op` the op it belongs to (-1 outside ops). */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, op: Int) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. When disabled, [[span]] is a plain call, so the
  * untraced measured phase pays nothing for it. Spans are kept in memory and
  * written out once at exit. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), op)
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  /** Self time of every span: its duration minus the time its children cover. */
  def selfNs: IndexedSeq[Long] = {
    val self = spans.map(_.durNs).toArray
    spans.foreach(s => if (s.parent >= 0) self(s.parent) -= s.durNs)
    self.toIndexedSeq
  }

  def spansJson: String = {
    val self = selfNs
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.indices.map { i =>
      val s = spans(i)
      Json.obj(Seq("id" -> i, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_us" -> (s.startNs - t0) / 1000, "end_us" -> (s.endNs - t0) / 1000,
        "self_us" -> self(i) / 1000))
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  val Off = new Tracer(false)
}

/** Per-op execution counters gathered by a SparkListener. Jobs are tagged
  * with the op id and phase through local properties, so late listener
  * events still land on the right op. */
final class ExecCounters {
  var jobs, stages, tasks, tasksOk = 0L
  var cpuNs, runMs, schedMs = 0L
  var shuffleWrite, shuffleRead, spill, inputRows, inputBytes = 0L
}

final class ExecListener extends SparkListener {
  val byKey = mutable.HashMap.empty[(Int, String), ExecCounters]
  private val stageKey = mutable.HashMap.empty[Int, (Int, String)]

  private def counters(k: (Int, String)) = byKey.getOrElseUpdate(k, new ExecCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(ExecListener.OpKey))).map(_.toInt)
    val phase = p.flatMap(x => Option(x.getProperty(ExecListener.PhaseKey)))
    (op, phase) match {
      case (Some(o), Some(ph)) =>
        val c = counters((o, ph))
        c.jobs += 1
        c.stages += e.stageInfos.size
        e.stageIds.foreach(stageKey(_) = (o, ph))
      case _ =>
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { k =>
      val c = counters(k)
      c.tasks += 1
      if (e.taskInfo.successful) c.tasksOk += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        c.runMs += m.executorRunTime
        // Spark UI's scheduler delay: task wall time not spent running,
        // deserializing or shipping the result
        c.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputRows += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
}

object ExecListener {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  def tag(sc: SparkContext, op: Int, phase: String): Unit = {
    sc.setLocalProperty(OpKey, op.toString)
    sc.setLocalProperty(PhaseKey, phase)
  }

  def untag(sc: SparkContext): Unit = {
    sc.setLocalProperty(OpKey, null)
    sc.setLocalProperty(PhaseKey, null)
  }
}
