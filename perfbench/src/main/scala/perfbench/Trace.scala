package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of the traced run, read per iteration: a
  * `SparkListener` for jobs, stages and task metrics, and a
  * `QueryExecutionListener` for driver planning time. Attached only in
  * the traced run; the untimed-overhead comparison detaches them. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = Array.fill(11)(new AtomicLong)
  private def add(i: Int, v: Long): Unit = { c(i).addAndGet(v); () }

  override def onJobStart(e: SparkListenerJobStart): Unit = add(0, 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(1, 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add(2, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(3, m.executorRunTime)                   // ms
      add(4, m.executorCpuTime)                   // ns
      add(5, m.jvmGCTime)                         // ms
      add(6, m.inputMetrics.bytesRead)
      add(7, m.shuffleReadMetrics.totalBytesRead)
      add(8, m.shuffleWriteMetrics.bytesWritten)
      add(9, m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    addPlan(qe)

  /** Driver time in parsing, analysis, optimization and planning. */
  private def addPlan(qe: QueryExecution): Unit =
    add(10, qe.tracker.phases.values.map(_.durationMs).sum)

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
  }

  def detach(s: SparkSession): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(s.sparkContext)
    s.sparkContext.removeSparkListener(this)
    s.listenerManager.unregister(this)
  }

  /** Counter values since the last call, after the bus has drained. */
  def take(s: SparkSession): Map[String, Double] = {
    org.apache.spark.PerfbenchBridge.drainListeners(s.sparkContext)
    val v = c.map(_.getAndSet(0))
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> v(0).toDouble,
      "spark.stages" -> v(1).toDouble,
      "spark.tasks" -> v(2).toDouble,
      "spark.task_s" -> v(3) / 1e3,
      "spark.cpu_s" -> v(4) / 1e9,
      "spark.gc_s" -> v(5) / 1e3,
      "spark.input_mb" -> v(6) / mb,
      "spark.shuffle_read_mb" -> v(7) / mb,
      "spark.shuffle_write_mb" -> v(8) / mb,
      "spark.spill_mb" -> v(9) / mb,
      "spark.plan_s" -> v(10) / 1e3)
  }
}

/** In-memory spans of the traced run: one per call into a layer, with
  * its parent span and iteration id. Written out once, at exit. With
  * `record` off, `span` only times its body. */
final class Spans(record: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, iter: Int,
      startNs: Long, endNs: Long)

  private val t0 = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0
  var iter = 0

  /** Run `body` inside a span named `name`; returns its result and
    * the span's duration in seconds. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val a = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - a) / 1e9)
    } finally {
      if (record) done += Span(id, name, parent, iter, a - t0, System.nanoTime() - t0)
      stack = stack.tail
    }
  }

  /** Seconds of each span name in iteration `i`; the latest wins. */
  def seconds(i: Int): Map[String, Double] =
    done.filter(_.iter == i).map(s => s.name -> (s.endNs - s.startNs) / 1e9).toMap

  def json: String = done.sortBy(_.id).map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"iter":${s.iter},""" +
      f""""start_ms":${s.startNs / 1e6}%.3f,"end_ms":${s.endNs / 1e6}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
