package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._

/** A span: one timed interval at a layer boundary, with the span that
  * caused it. Times are `System.nanoTime` readings. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long, attrs: Map[String, Any])

/** In-memory span recorder. Disabled, it records nothing and every call is
  * a no-op, so the untraced run pays only the branch. Spans are written
  * out once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L

  def record(parent: Long, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Any] = Map.empty): Long =
    if (!enabled) -1L
    else synchronized {
      nextId += 1
      spans += Span(nextId, parent, name, startNs, endNs, attrs)
      nextId
    }

  /** Opens a span around `f`; `f` receives the new span's id, so children
    * can name it as parent before it closes. */
  def span[T](parent: Long, name: String)(f: Long => T): T =
    if (!enabled) f(-1L)
    else {
      val id = synchronized { nextId += 1; nextId }
      val t0 = System.nanoTime()
      try f(id)
      finally synchronized {
        spans += Span(id, parent, name, t0, System.nanoTime(), Map.empty)
      }
    }

  def write(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    synchronized {
      spans.sortBy(_.startNs).foreach { s =>
        sb ++= Json.render(Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "attrs" -> s.attrs))
        sb += '\n'
      }
    }
    Files.writeString(path, sb.toString)
  }
}

/** Executor-side counters of the timed phase, from the public listener
  * bus. Registered only in the traced run. Job spans are recorded under
  * whatever span `currentParent` names when the job starts. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  @volatile var on = false
  @volatile var currentParent = -1L
  private val c = mutable.LinkedHashMap.empty[String, Double]
  private val jobStart = mutable.Map.empty[Int, (Long, Long)]

  private def add(k: String, v: Double): Unit =
    synchronized { c(k) = c.getOrElse(k, 0.0) + v }

  def counters: Map[String, Double] = synchronized { c.toMap }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    add("exec.jobs", 1)
    synchronized { jobStart(e.jobId) = (System.nanoTime(), currentParent) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = synchronized { jobStart.remove(e.jobId) }
    s.foreach { case (t0, parent) =>
      tracer.record(parent, "job", t0, System.nanoTime(),
        Map("job_id" -> e.jobId))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) add("exec.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      add("exec.tasks", 1)
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("exec.task_run_s", m.executorRunTime / 1e3)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("exec.shuffle_read_bytes",
        (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble)
      add("exec.shuffle_write_bytes",
        m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exec.spill_bytes",
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
}

/** The few JSON shapes the harness writes: maps, sequences, strings,
  * numbers, booleans. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => graft.MiniJson.jstr(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.MiniJson.jstr(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => graft.MiniJson.jstr(other.toString)
  }
}
