package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed call into the program: its name, the span that caused it
  * (-1 for an iteration root), the iteration it belongs to and its wall
  * interval (epoch millis for matching Spark events, nanos for length). */
final case class Span(id: Int, parent: Int, name: String, iter: Int,
                      startMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Times every call the harness makes. Calls are always timed (the
  * end-to-end metrics need them); spans are kept only while `recording`,
  * in memory, and written out by the caller when the run ends. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  var recording = false
  var iter = 0
  private var stack = List.empty[Int]

  /** Runs `f`, returns its result and wall seconds. */
  def span[T](name: String)(f: => T): (T, Double) = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    if (recording) { spans += null; stack = id :: stack }
    try {
      val out = f
      (out, (System.nanoTime() - t0) / 1e9)
    } finally {
      if (recording) {
        spans(id) = Span(id, parent, name, iter, startMs, t0, System.nanoTime())
        stack = stack.tail
      }
    }
  }

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","iter":${s.iter},""" +
      s""""start_ms":${s.startMs},"seconds":${s.seconds}}"""
  }.mkString("[", ",\n", "]")
}

/** What one finished task did, as Spark's listener reports it. */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
                         cpuNs: Long, runMs: Long, gcMs: Long,
                         recordsOut: Long, bytesOut: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long)

/** Job starts and task ends, kept in memory. Events are matched to spans
  * by time: every traced call runs alone on the session, so the tasks that
  * launch inside a span's interval are that span's tasks. */
final class Counters extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null)
      tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
        m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def jobsIn(s: Span): Int = jobs.asScala.count(t => t >= s.startMs && t <= s.endMs)

  def tasksIn(s: Span): Seq[TaskRec] =
    tasks.asScala.filter(t => t.launchMs >= s.startMs && t.launchMs <= s.endMs).toSeq
}

/** Process-wide counters read before and after a span. */
final case class JvmSample(gcMs: Long, codegenNs: Long)

object JvmSample {
  def now(): JvmSample = JvmSample(
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** The JVM's high-water resident set, from /proc (Linux). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Layer figures derived from the listener's records over a span. */
object Layers {
  def sum(ts: Seq[TaskRec])(f: TaskRec => Long): Long = ts.map(f).sum

  /** Seconds of `s` during which no task was running: planning, codegen,
    * scheduling gaps and driver-side work. */
  def driverOnlySeconds(s: Span, ts: Seq[TaskRec]): Double = {
    val ivs = ts.map(t => (t.launchMs.max(s.startMs), t.finishMs.min(s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    covered += curB - curA
    ((s.endMs - s.startMs) - covered).max(0L) / 1000.0
  }

  /** Seconds from the start of `s` to its first task launch. */
  def firstTaskSeconds(s: Span, ts: Seq[TaskRec]): Double =
    if (ts.isEmpty) s.seconds else (ts.map(_.launchMs).min - s.startMs).max(0L) / 1000.0

  /** Slowest over median task run time on the stage with the most task
    * time: the skew that sets that stage's length. */
  def skew(ts: Seq[TaskRec]): Double =
    if (ts.isEmpty) 0.0
    else {
      val (_, stage) = ts.groupBy(_.stage).maxBy { case (_, xs) => xs.map(_.runMs).sum }
      val runs = stage.map(t => (t.finishMs - t.launchMs).max(1L).toDouble).sorted
      runs.last / runs(runs.size / 2)
    }
}
