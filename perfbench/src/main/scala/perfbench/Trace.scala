package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the listeners attribute to one span (its own work only). */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, planMs = 0L
  var shuffleRead, shuffleWrite, spill, input, output = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; planMs += o.planMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input; output += o.output
    taskIntervals ++= o.taskIntervals
  }
}

/** A timed region around a call into the program. `op` marks the spans
  * of the workload's operations; the others are breakdown spans. */
final class Span(val id: Long, val name: String, val parent: Option[Span],
    val op: Boolean) {
  val own = new Counters
  val startMs: Long = System.currentTimeMillis()
  private val startNs = System.nanoTime()
  val gcStartMs: Long = Trace.gcMs()
  var endMs = Long.MaxValue
  var seconds = 0.0
  var gcSeconds = 0.0
  private[perfbench] def close(): Unit = {
    seconds = (System.nanoTime() - startNs) / 1e9
    endMs = System.currentTimeMillis()
    gcSeconds = (Trace.gcMs() - gcStartMs) / 1e3
  }
}

object Trace {
  /** Local property carrying the active span's id into job properties. */
  val SpanProperty = "perfbench.span"

  /** Collection time of every JVM collector, ms. In local mode the
    * executors run in this JVM, so this covers executor and driver GC. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
}

/** Spans recorded by the benchmark around calls into each layer, with a
  * SparkListener and a QueryExecutionListener attaching job, stage, task,
  * shuffle, I/O and planning counters to the span active when the work
  * was submitted. Spans stay in memory until the run reports. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var nextId = 0L
  private var current: Option[Span] = None
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Long, Span]
  private val stageSpan = mutable.HashMap.empty[Int, Span]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      sid.flatMap(s => byId.get(s.toLong)).foreach { span =>
        span.own.jobs += 1
        e.stageIds.foreach(stageSpan(_) = span)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(_.own.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        val c = span.own
        c.tasks += 1
        c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        Option(e.taskMetrics).foreach { m =>
          c.taskMs += m.executorRunTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Planning phases carry wall-clock start times; each is charged to the
    * innermost span open at that time (spans never overlap across ops). */
  private val qeListener = new QueryExecutionListener {
    private def charge(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.values.foreach { ph =>
        spans.reverseIterator
          .find(s => s.startMs <= ph.startTimeMs && ph.startTimeMs <= s.endMs)
          .foreach(_.own.planMs += ph.durationMs)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = charge(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = charge(qe)
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Runs `body` inside a new span, child of the active one. */
  def span[T](name: String, op: Boolean = false)(body: => T): T = {
    val s = synchronized {
      nextId += 1
      val s = new Span(nextId, name, current, op)
      spans += s; byId(s.id) = s
      s
    }
    val saved = sc.getLocalProperty(Trace.SpanProperty)
    current = Some(s)
    sc.setLocalProperty(Trace.SpanProperty, s.id.toString)
    try body
    finally {
      s.close()
      current = s.parent
      sc.setLocalProperty(Trace.SpanProperty, saved)
    }
  }

  /** Every listener event posted so far has been delivered. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** A span's counters including its descendants'. */
  def total(s: Span): Counters = synchronized {
    val out = new Counters
    val kids = spans.groupBy(_.parent.map(_.id))
    def walk(x: Span): Unit = {
      out.add(x.own)
      kids.getOrElse(Some(x.id), Nil).foreach(walk)
    }
    walk(s)
    out
  }
}

object Tracer {
  /** Wall time of [startMs, endMs] covered by no task interval, seconds. */
  def noTaskSeconds(startMs: Long, endMs: Long, tasks: Seq[(Long, Long)]): Double = {
    val clipped = tasks.map { case (a, b) => (a.max(startMs), b.min(endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    if (curB > curA) covered += curB - curA
    ((endMs - startMs) - covered).max(0L) / 1e3
  }
}
