package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Command-line options of one benchmark JVM (see run.py, which builds the
  * inputs, starts this JVM and runs the output checks). */
final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean, quick: Boolean,
    work: Path, data: Option[Path], cores: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(
      workload = m("workload"),
      seed = m("seed").toLong,
      seconds = m("seconds").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      quick = m.getOrElse("quick", "0") == "1",
      work = Paths.get(m("work")).toAbsolutePath,
      data = m.get("data").map(Paths.get(_).toAbsolutePath),
      cores = m.getOrElse("cores", "4").toInt)
  }
}

/** What one run measured, plus the facts its output checks need. */
final class Ctx(val spark: SparkSession, val opts: Opts, val probe: SparkProbe, val trace: Tracer) {
  val e2e: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val facts: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  val rows: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer()
  var attempted = 0L
  var failed = 0L
  var timedStartMs = 0L

  def seconds: Double = opts.seconds
  def cores: Int = opts.cores

  /** Set-up ends here; `setup_s` runs from the benchmark's start to this. */
  def startTimed(): Unit = {
    timedStartMs = System.currentTimeMillis()
    mark("timed")
    stealAtStart = Ctx.stealTicks()
  }
  /** The machine's (steal, busy) CPU ticks when the timed phase started;
    * run.py nets `setup_s` of steal with them. */
  var stealAtStart = (0L, 0L)
  /** Share of the busy CPU time the host took as steal in the timed phase. */
  var timedSteal = 0.0

  /** Wall-clock milestones of set-up (epoch ms by name), for the report. */
  val marks: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap()
  def mark(name: String): Unit = marks(name) = System.currentTimeMillis()

  /** The timed phase ends here: record the heap after a full GC. Spark
    * frees unreferenced broadcasts and shuffles only after a GC finds them,
    * so a second GC follows a pause for that cleanup. */
  def endTimed(): Unit = {
    val (steal, busy) = Ctx.stealTicks()
    if (busy > stealAtStart._2)
      timedSteal = (steal - stealAtStart._1).toDouble / (busy - stealAtStart._2)
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(300); System.gc()
    e2e("heap_after_gc_mb") = mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Nets the timed end-to-end metrics of host steal. On a virtual machine
    * the host takes CPU time back from busy vCPUs (steal), and a timed
    * phase run at a steal share s of its busy time reads 1 / (1 - s) times
    * slower than the same work on a quiet host; the share here swung from 1
    * to 44 % within minutes. So times are scaled by (1 - s) and rates by
    * 1 / (1 - s); the wall-clock values stay in the report. */
  def netOfSteal(): Unit = {
    facts("e2e_wall") = e2e.clone()
    facts("timed_steal_share") = timedSteal
    val k = 1.0 - timedSteal
    e2e("p50_ms") *= k
    e2e("round_p50_ms") *= k
    e2e("throughput_per_s") /= k
  }

  def workDir(name: String): Path = {
    val d = opts.work.resolve(name)
    Files.createDirectories(d)
    d
  }
}

object Ctx {
  /** (steal, busy) CPU ticks of the machine so far, from /proc/stat (busy:
    * every tick not idle or iowait); (0, 0) where it cannot be read, which
    * leaves the metrics at wall-clock time. */
  def stealTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
        finally src.close()
      (v(7), v.sum - v(3) - v(4))
    } catch { case _: Exception => (0L, 0L) }
}

object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    Files.createDirectories(opts.work)
    val spark = graft.Sessions.build(s"local[${opts.cores}]", opts.cores, "perfbench")
    val ctx = new Ctx(spark, opts, new SparkProbe(spark), new Tracer(opts.trace))
    ctx.marks("jvm_start") = ManagementFactory.getRuntimeMXBean.getStartTime
    ctx.mark("session")
    try {
      opts.workload match {
        case "serve" => Serve.run(ctx)
        case "sweep" => Sweep.run(ctx)
        case "catalog" => Catalog.run(ctx)
        case "stream" => Stream.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.netOfSteal()
      val out = Map(
        "workload" -> opts.workload, "seed" -> opts.seed, "traced" -> opts.trace,
        "timed_start_ms" -> ctx.timedStartMs,
        "steal_ticks_at_timed" -> Seq(ctx.stealAtStart._1, ctx.stealAtStart._2),
        "attempted" -> ctx.attempted,
        "failed" -> ctx.failed, "e2e" -> ctx.e2e, "layer" -> ctx.layer,
        "facts" -> (ctx.facts += ("setup_marks_ms" -> ctx.marks)))
      if (opts.trace)
        mapper.writeValue(opts.work.resolve("trace.json").toFile, Map(
          "run_id" -> ctx.trace.runId, "self_time_ms" -> ctx.trace.selfTimesMs,
          "rows" -> ctx.rows, "spans" -> ctx.trace.toJson))
      mapper.writeValue(opts.work.resolve("result.json").toFile, out)
    } finally spark.stop()
  }
}
