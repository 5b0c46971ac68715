package perfbench

import graft.core.{EstimationInput, Validation}
import graft.engine.Engine
import graft.kernel.Estimator
import org.apache.spark.sql.Dataset

/** `sweep`: Engine.sweep over a seeded Dataset of scenarios (10^5, quick
  * 10^3), consumed by a noop write of the outcomes (results and rejects in
  * one pass). One round is one full sweep plus four what-if sweeps of the
  * first 1,000 scenarios: the full sweep is one job over many rows, where
  * the kernel does the work; the small one is bound by per-job overhead.
  *
  * End to end: throughput_per_s = scenarios / median full-sweep time,
  * p50_ms = median what-if sweep, round_p50_ms = median round,
  * jobs_per_round. Each round also sizes [[LargeState]] and
  * [[FaultProbe]]. */
object Sweep {
  private val SmallPerRound = 4

  /** A fixed input, the same for every seed, that shows a kernel fault:
    * with no statements, more than 1e8 keys and one application the
    * TaskManagers get 0 CPUs and the scaling advice reads min 1 >
    * recommended 0 = max 0. Each round sizes it once and counts it as
    * failed while the fault stands; the seeded mix always has a statement,
    * so the fault shows only here. */
  val FaultProbe: EstimationInput = EstimationInput(project_name = "fault-probe",
    num_distinct_keys = 200000000L, number_flink_applications = 1,
    simple_statements = 0, medium_statements = 0, complex_statements = 0)

  def probeFails(): Boolean =
    Engine.estimateOne(FaultProbe).result.flatMap(_.scaling_recommendations).forall(s =>
      s.min_parallelism > s.recommended_parallelism ||
        s.recommended_parallelism > s.max_parallelism)

  /** A fixed large-state input, the same for every seed: 2e8 keys of 16 KiB
    * records in three applications need about 11,000 TaskManagers on 64 GB
    * nodes, so sizing it is mostly the greedy packing loop
    * (Estimator.greedyPackTaskmanagers, O(TaskManagers x nodes), re-run as
    * the node count grows) and takes a few hundred ms on one core. Each
    * round sizes it once; its time is in round_p50_ms and, traced, in
    * kernel.large_state_ms. */
  val LargeState: EstimationInput = EstimationInput(project_name = "large-state-probe",
    num_distinct_keys = 200000000L, avg_record_size_bytes = 16384,
    number_flink_applications = 3, worker_node_memory_mb = 65536.0,
    worker_node_cpu_max = 16, nb_worker_nodes = 2)

  /** Sizes [[LargeState]]; its wall ms, or None when it was not sized. */
  def largeState(ctx: Ctx): Option[Double] = ctx.trace.span("kernel.large_state") {
    val t0 = System.nanoTime()
    val ok = Engine.estimateOne(LargeState).ok
    if (ok) Some(Stats.nsToMs(System.nanoTime() - t0)) else None
  }

  def noop(ds: Dataset[_]): Unit = ds.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.opts.seed
    val n = if (ctx.opts.quick) 1000L else 100000L
    val nSmall = if (ctx.opts.quick) 100L else 1000L
    def scenarios(rows: Long, parts: Int): Dataset[EstimationInput] = {
      val ds = spark.range(0, rows, 1, parts).map(i => Scenarios.sweep(seed, i)).cache()
      ds.count()
      ds
    }
    val full = scenarios(n, ctx.cores * 4)
    val small = scenarios(nSmall, ctx.cores)
    ctx.mark("inputs")
    def sweep(ds: Dataset[EstimationInput]): Double = ctx.trace.span("engine.Engine.sweep") {
      val t0 = System.nanoTime()
      noop(Engine.sweep(ds))
      Stats.nsToMs(System.nanoTime() - t0)
    }
    // warm-up: JIT and codegen for both shapes. The first sweep writes the
    // outcomes to parquet for the output check (check.py sweep); then full
    // sweeps until one is no more than 5 % faster than the best before it
    // (two or three sweeps)
    val out = ctx.workDir("sweep").resolve("outcomes").toString
    Engine.sweep(full).write.mode("overwrite").parquet(out)
    ctx.facts("outcomes") = out
    val probeOut = ctx.workDir("sweep").resolve("probe").toString
    Engine.sweep(Seq(LargeState).toDS()).write.mode("overwrite").parquet(probeOut)
    ctx.facts("probe_outcomes") = probeOut
    ctx.mark("check_outputs")
    var best = sweep(full)
    var warm = 1
    var faster = true
    while (faster && warm < 3) {
      val t = sweep(full)
      faster = t < best * 0.95
      best = math.min(best, t)
      warm += 1
    }
    ctx.facts("warmup_sweeps") = warm
    for (_ <- 1 to 5) sweep(small)
    for (_ <- 1 to 3) largeState(ctx)

    val fullMs, smallMs, roundMs, largeMs = Seq.newBuilder[Double]
    val w0 = ctx.probe.snapshot()
    ctx.startTimed()
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds < 2 || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      val r0 = System.nanoTime()
      fullMs += sweep(full)
      for (_ <- 1 to SmallPerRound) smallMs += sweep(small)
      largeState(ctx) match {
        case Some(ms) => largeMs += ms
        case None => ctx.failed += 1
      }
      if (probeFails()) ctx.failed += 1
      roundMs += Stats.nsToMs(System.nanoTime() - r0)
      rounds += 1
    }
    ctx.endTimed()
    val work = ctx.probe.snapshot() - w0
    ctx.attempted = rounds * (n + SmallPerRound * nSmall + 2)
    ctx.e2e("throughput_per_s") = n / (Stats.median(fullMs.result()) / 1000.0)
    ctx.e2e("p50_ms") = Stats.median(smallMs.result())
    ctx.e2e("round_p50_ms") = Stats.median(roundMs.result())
    ctx.e2e("jobs_per_round") = work.jobs.toDouble / rounds
    ctx.facts("rounds") = rounds
    ctx.facts("full_ms_samples") = fullMs.result()
    ctx.facts("small_ms_samples") = smallMs.result()
    ctx.facts("round_ms_samples") = roundMs.result()
    ctx.facts("large_state_ms_samples") = largeMs.result()
    ctx.facts("rows") = n

    if (ctx.opts.trace) {
      ctx.layer("kernel.large_state_ms") = Stats.median(largeMs.result())
      traced(ctx, full)
    }
    full.unpersist(); small.unpersist()
  }

  /** Per-layer numbers: the serving layers, direct calls into core and
    * kernel on a prefix of the same inputs, and the Engine's Spark work per
    * sweep. */
  private def traced(ctx: Ctx, full: Dataset[EstimationInput]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    // The serving layers (engine.Api, engine.HttpApi, engine.RunStore) are
    // measured here by the serve workload's own phases, shortened: serve is
    // not a gated workload, its times were too unsteady (perfbench/README.md).
    // The sweep's own kernel.estimate_us below replaces the one serve sets.
    val serve = new Ctx(spark, ctx.opts.copy(seconds = 2.0), ctx.probe, ctx.trace)
    Serve.run(serve)
    ctx.layer ++= serve.layer
    // its outputs are checked like a serve run's (check.py sweep)
    ctx.facts("serve_responses") = serve.facts("responses")
    ctx.facts("serve_failed") = serve.failed
    val prefix = full.limit(if (ctx.opts.quick) 1000 else 100000).collect()

    val validateUs = (1 to 3).map { _ =>
      ctx.trace.span("core.validate_loop") {
        val t0 = System.nanoTime()
        var bad = 0
        prefix.foreach(in => if (Validation.validate(in).isLeft) bad += 1)
        (System.nanoTime() - t0) / 1e3 / prefix.length
      }
    }
    ctx.layer("core.validate_us") = Stats.median(validateUs)
    ctx.layer("core.rejected_rows") =
      full.filter(in => Validation.validate(in).isLeft).count().toDouble

    val valid = prefix.flatMap(in => Validation.validate(in).toOption)
    val perCall = ctx.trace.span("kernel.estimate_loop") {
      valid.map { in =>
        val t0 = System.nanoTime()
        Estimator.estimate(in)
        (System.nanoTime() - t0) / 1e3
      }
    }
    ctx.layer("kernel.estimate_us") = Stats.median(perCall.toSeq)
    val oneThread = (1 to 3).map { _ =>
      ctx.trace.span("kernel.loop_1t") {
        val t0 = System.nanoTime()
        prefix.foreach(Engine.estimateOne)
        prefix.length / ((System.nanoTime() - t0) / 1e9)
      }
    }
    ctx.layer("kernel.rows_per_s_1t") = Stats.median(oneThread)
    ctx.layer("kernel.error_rows") = full.filter(in =>
      Validation.validate(in).toOption.exists(v => Estimator.estimate(v).isLeft)).count().toDouble

    val perSweep = (1 to 3).map { _ =>
      val w0 = ctx.probe.snapshot()
      ctx.probe.takePeakExecMem()
      noop(Engine.sweep(full))
      ctx.probe.snapshot() - w0
    }
    def med(f: SparkWork => Long): Double = Stats.median(perSweep.map(w => f(w).toDouble))
    ctx.layer("engine.Engine.sweep_jobs") = med(_.jobs)
    ctx.layer("engine.Engine.sweep_tasks") = med(_.tasks)
    ctx.layer("engine.Engine.sweep_task_run_ms") = med(_.taskRunMs)
    ctx.layer("engine.Engine.sweep_task_cpu_ms") = med(_.taskCpuMs)
    ctx.layer("engine.Engine.sweep_gc_ms") = med(_.gcMs)
    val rows = full.count()
    val passthrough = (1 to 3).map { _ =>
      ctx.trace.span("engine.Engine.passthrough") {
        val t0 = System.nanoTime()
        noop(full.map(in => in))
        rows / ((System.nanoTime() - t0) / 1e9)
      }
    }
    ctx.layer("engine.Engine.passthrough_rows_per_s") = Stats.median(passthrough)
  }
}
