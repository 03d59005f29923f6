package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}

import scala.collection.mutable.ArrayBuffer

/** Spark work counted by a listener; spans read deltas of these. */
final class Counters extends SparkListener {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var taskNs = 0L
  @volatile var shuffleWrite = 0L
  @volatile var spill = 0L

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskNs += m.executorRunTime * 1000000L // ms
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot: Array[Long] = synchronized {
    Array(jobs, tasks, taskNs, shuffleWrite, spill)
  }
}

/** One timed call into a layer. `op` groups the spans of one rep or
  * round; `parent` is the index of the enclosing span, -1 at the top.
  */
final case class Span(name: String, op: String, parent: Int, startNs: Long,
                      endNs: Long, counts: Array[Long])

/** In-memory span recorder. With tracing off it only keeps times; with
  * tracing on it also drains the listener bus at every boundary so each
  * span's counts are its own.
  */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val counters = new Counters
  if (on) sc.addSparkListener(counters)
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var op = ""

  private def counts(): Array[Long] =
    if (!on) Array.emptyLongArray
    else { org.apache.spark.BenchBridge.drain(sc); counters.snapshot }

  /** Time `body`; returns its result and the elapsed nanoseconds. */
  def span[T](name: String)(body: => T): (T, Long) = {
    val c0 = counts()
    val idx = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(name, op, parent, 0L, 0L, c0) // children index after it
    stack = idx :: stack
    val t0 = System.nanoTime()
    val out = try body finally stack = stack.tail
    val t1 = System.nanoTime()
    val c1 = counts()
    spans(idx) = Span(name, op, parent, t0, t1,
      c1.zip(c0).map { case (a, b) => a - b })
    (out, t1 - t0)
  }

  /** Only record when tracing: layer decompositions run in traced
    * runs only.
    */
  def traced(name: String)(body: => Unit): Unit =
    if (on) span(name)(body)
}
