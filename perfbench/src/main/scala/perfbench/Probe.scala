package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAccumulator}
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark work since the session started, as the benchmark's own
  * listeners saw it. Subtract two snapshots to get the work in between. */
final case class SparkWork(
    jobs: Long, stages: Long, tasks: Long, taskRunMs: Long, taskCpuMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    gcMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long) {
  def -(o: SparkWork): SparkWork = SparkWork(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskRunMs - o.taskRunMs,
    taskCpuMs - o.taskCpuMs, shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes, gcMs - o.gcMs,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs, planningMs - o.planningMs)
}

/** Listeners registered through Spark's public APIs: a SparkListener for
  * jobs, stages and task metrics, and a QueryExecutionListener for the
  * Catalyst phase times of every finished query. Counting is a few atomic
  * adds per event, cheap enough to stay on in untimed and timed runs alike;
  * the job count is an end-to-end metric. */
final class SparkProbe(spark: SparkSession) {
  private val c = Array.fill(12)(new AtomicLong)
  private val peakMem = new LongAccumulator((a: Long, b: Long) => math.max(a, b), 0L)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c(0).incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c(1).incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c(2).incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c(3).addAndGet(m.executorRunTime)
        c(4).addAndGet(m.executorCpuTime / 1000000L)
        c(5).addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c(6).addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c(7).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c(8).addAndGet(m.jvmGCTime)
        peakMem.accumulate(m.peakExecutionMemory)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
      c(9).addAndGet(ms("analysis"))
      c(10).addAndGet(ms("optimization"))
      c(11).addAndGet(ms("planning"))
    }
  })

  /** Waits for the listener bus, then reads the counters. */
  def snapshot(): SparkWork = {
    ListenerDrain(spark.sparkContext)
    val v = c.map(_.get)
    SparkWork(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9), v(10), v(11))
  }

  /** Largest per-task peak execution memory since the previous call. */
  def takePeakExecMem(): Long = peakMem.getThenReset()
}

/** In-memory spans, written once when the run ends. A span has a name, a
  * start, an end, a parent and the run id; the layer of a span is its name
  * up to the last dot. When tracing is off, `span` only runs its body. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

final class Tracer(val enabled: Boolean) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  /** Self time per span name: each span's duration minus the part of it
    * that its child spans cover (children of one parent do not overlap:
    * they run on the parent's thread). */
  def selfTimesMs: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val all = spans.asScala.toSeq
    val childNs = all.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  def toJson: Seq[Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq.sortBy(_.startNs).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run_id" -> runId,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def nsToMs(ns: Long): Double = ns / 1e6
}
