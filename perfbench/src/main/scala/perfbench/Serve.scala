package perfbench

import graft.core.{EstimationInput, Validation}
import graft.engine.{Api, Engine, HttpApi, RunStore}
import graft.kernel.Estimator
import java.io.{BufferedInputStream, InputStream}
import java.net.{Socket, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import scala.collection.mutable

/** One keep-alive HTTP/1.1 connection with a blocking request/response
  * call: the least client-side work per request, so the client's own cost
  * stays small against the server's. */
final class HttpConn(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = sock.getOutputStream

  def call(request: Array[Byte]): (Int, Array[Byte]) = {
    out.write(request)
    out.flush()
    val status = readLine(in).split(' ')(1).toInt
    // every response of the routes used here has a body, which the JDK
    // server sends with a Content-Length
    var length = -1
    var line = readLine(in)
    while (line.nonEmpty) {
      val lower = line.toLowerCase
      if (lower.startsWith("content-length:")) length = lower.substring(15).trim.toInt
      line = readLine(in)
    }
    if (length < 0) throw new IllegalStateException(s"response $status without Content-Length")
    (status, in.readNBytes(length))
  }

  private def readLine(s: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = s.read()
    while (c != '\n' && c != -1) { if (c != '\r') sb.append(c.toChar); c = s.read() }
    sb.toString
  }

  def close(): Unit = sock.close()
}

/** One `/api/estimate` request of the phase-1 mix. */
final case class EstimateReq(method: String, input: EstimationInput, invalidRule: Option[String],
    params: Map[String, String], bytes: Array[Byte])

/** `serve`: HttpApi on an ephemeral port over a RunStore pre-filled with
  * seeded saved runs, in two phases so neither adds noise to the other.
  *
  *  - Phase 1: `cores` keep-alive clients in a closed loop send GET and POST
  *    /api/estimate requests from a seeded pool (half each; one in 32 a
  *    reference fixture, see [[Fixtures]]; 10 % of the rest invalid, which
  *    must get 400 for GET and 500 for POST). The shares are assumptions:
  *    the reference gives no traffic mix (perfbench/README.md). With fewer clients the
  *    cores fall idle between requests, and on a virtual machine waking an
  *    idle core now and then cost several times the request itself: one run
  *    in four read 4-7x slower.
  *  - Phase 2: one client repeats save -> list -> reload -> download ->
  *    delete cycles, and checks each deleted run then downloads as 404.
  *
  * End to end: throughput_per_s = phase-1 requests per second, p50_ms =
  * phase-1 median latency as the client sees it, round_p50_ms = median
  * store cycle, jobs_per_round = Spark jobs per store cycle. */
object Serve {
  private val PoolSize = 1024
  /** One request in this many is a reference fixture: each of them once or
    * twice in the pool. */
  private val FixtureEvery = 32

  def run(ctx: Ctx): Unit = {
    val quick = ctx.opts.quick
    val seed = ctx.opts.seed
    val storeDir = ctx.workDir("serve").resolve("store")
    deleteTree(storeDir)
    val store = new RunStore(ctx.spark, storeDir.toString)
    val prefill = if (quick) 20 else 200
    val base = LocalDateTime.of(2026, 1, 1, 0, 0)
    def savable = Iterator.from(0).map(i => Scenarios.valid(seed + 1, i, s"saved-$i"))
      .map(in => in -> Engine.estimateOne(in))
      .collect { case (in, o) if o.ok => (Validation.validate(in).toOption.get, o.result.get) }
    val seeded = savable.take(prefill).toIndexedSeq
    store.saveAll(seeded.zipWithIndex.map { case ((in, r), i) =>
      (in, r, base.plusMinutes(i), f"$i%08x") })
    val cycleInputs = savable.take(64).map(_._1).toIndexedSeq

    val pool = (0 until PoolSize).map(i => request(seed, i))
    val api = new HttpApi(store, 0).start()
    try {
      val port = api.boundPort
      // warm-up: the estimate path keeps getting faster for seconds while
      // the JIT compiles it, so run half-second windows until two in a row
      // are no more than 5 % faster than the best before them (4 s at most)
      var best = 0.0
      var flat = 0
      var warm = 0.0
      while (flat < 2 && warm < (if (quick) 0.5 else 4.0)) {
        val w = phase1(ctx, port, pool, 0.5, sample = false)
        val rps = w.latMs.size / w.elapsedS
        if (rps > best * 1.05) { best = rps; flat = 0 } else flat += 1
        warm += 0.5
      }
      ctx.facts("warmup_s") = warm
      (0 until 2).foreach(k => cycle(port, cycleInputs(k % cycleInputs.size), 0))

      val w0 = ctx.probe.snapshot()
      ctx.startTimed()
      val p1 = phase1(ctx, port, pool, ctx.seconds * 0.6, sample = true)
      val w1 = ctx.probe.snapshot()
      val t2 = System.nanoTime()
      val cycles = mutable.ArrayBuffer[Cycle]()
      while (cycles.size < 3 || System.nanoTime() - t2 < ctx.seconds * 0.4 * 1e9)
        cycles += cycle(port, cycleInputs(cycles.size % cycleInputs.size), cycles.size)
      ctx.endTimed()
      val w2 = ctx.probe.snapshot()

      ctx.attempted = p1.latMs.size + cycles.size
      ctx.failed += p1.statusBad.size
      ctx.e2e("throughput_per_s") = p1.latMs.size / p1.elapsedS
      ctx.e2e("p50_ms") = Stats.median(p1.latMs)
      ctx.e2e("round_p50_ms") = Stats.median(cycles.map(_.totalMs).toSeq)
      ctx.e2e("jobs_per_round") = (w2 - w1).jobs.toDouble / cycles.size
      ctx.facts("estimate_jobs") = (w1 - w0).jobs
      ctx.facts("requests") = p1.latMs.size
      ctx.facts("estimate_ms_p10_p50_p90_p99") = Seq(0.1, 0.5, 0.9, 0.99).map(Stats.quantile(p1.latMs, _))
      ctx.facts("estimate_rps_by_half_second") = p1.ends.groupBy(t => (t / 5e8).toInt).toSeq.sortBy(_._1)
        .map(_._2.size * 2)
      ctx.facts("cycles") = cycles.size

      if (ctx.opts.trace) {
        def routeP50(m: String) = Stats.median(p1.byMethod.getOrElse(m, Nil))
        ctx.layer("engine.HttpApi.get_estimate_ms") = routeP50("GET")
        ctx.layer("engine.HttpApi.post_estimate_ms") = routeP50("POST")
        for ((step, i) <- Cycle.Steps.zipWithIndex)
          ctx.layer(s"engine.HttpApi.${step}_ms") = Stats.median(cycles.map(_.stepMs(i)).toSeq)
        traced(ctx, store, pool, cycleInputs)
      }
      writeCheckFile(ctx, p1, cycles.toSeq)
    } finally api.stop()
  }

  private def request(seed: Long, i: Int): EstimateReq = {
    val r = Scenarios.rng(seed + 2, i)
    val fixture = i % FixtureEvery == 0
    val valid =
      if (fixture) {
        val (fx, in) = Fixtures.All(i / FixtureEvery % Fixtures.All.length)
        in.copy(project_name = s"sv-$i-$fx")
      } else Scenarios.valid(seed + 3, i, s"sv-$i")
    val rule =
      if (!fixture && r.nextDouble() < 0.10)
        Some(Scenarios.InvalidRules(r.nextInt(Scenarios.InvalidRules.length)))
      else None
    val input = rule.fold(valid)(ru =>
      Scenarios.invalidate(valid.copy(project_name = s"sv-$i-inv-$ru"), ru))
    val method = if (i % 2 == 0) "GET" else "POST"
    if (method == "GET") {
      val params = Map(
        "project_name" -> input.project_name,
        "messages_per_second" -> input.messages_per_second.toString,
        "avg_record_size_bytes" -> input.avg_record_size_bytes.toString,
        "number_flink_applications" -> input.number_flink_applications.toString,
        "num_distinct_keys" -> input.num_distinct_keys.toString,
        "data_skew_risk" -> input.data_skew_risk,
        "bandwidth_capacity_gbps" -> input.bandwidth_capacity_gbps.toString,
        "expected_latency_seconds" -> input.expected_latency_seconds.toString,
        "simple_statements" -> input.simple_statements.toString,
        "medium_statements" -> input.medium_statements.toString,
        "complex_statements" -> input.complex_statements.toString,
        "worker_node_memory_gb" -> (input.worker_node_memory_mb / 1024.0).toString,
        "worker_node_cpu_max" -> input.worker_node_cpu_max.toString,
        "nb_worker_nodes" -> input.nb_worker_nodes.toString,
        "worker_node_type" -> input.worker_node_type,
        "worker_node_t_size" -> input.worker_node_t_size.getOrElse(""))
      val q = params.map { case (k, v) => s"$k=${URLEncoder.encode(v, UTF_8)}" }.mkString("&")
      EstimateReq(method, input, rule, params,
        s"GET /api/estimate?$q HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(UTF_8))
    } else {
      val body = jsonBody(input)
      EstimateReq(method, input, rule, Map.empty, post("/api/estimate", body))
    }
  }

  /** The POST body of an input: the model's fields by name. */
  def jsonBody(in: EstimationInput): String = Main.mapper.writeValueAsString(inputMap(in))

  private def inputMap(in: EstimationInput): Map[String, Any] = Map(
    "project_name" -> in.project_name,
    "messages_per_second" -> in.messages_per_second,
    "avg_record_size_bytes" -> in.avg_record_size_bytes,
    "number_flink_applications" -> in.number_flink_applications,
    "num_distinct_keys" -> in.num_distinct_keys,
    "data_skew_risk" -> in.data_skew_risk,
    "bandwidth_capacity_gbps" -> in.bandwidth_capacity_gbps,
    "expected_latency_seconds" -> in.expected_latency_seconds,
    "simple_statements" -> in.simple_statements,
    "medium_statements" -> in.medium_statements,
    "complex_statements" -> in.complex_statements,
    "worker_node_memory_mb" -> in.worker_node_memory_mb,
    "worker_node_cpu_max" -> in.worker_node_cpu_max,
    "nb_worker_nodes" -> in.nb_worker_nodes,
    "worker_node_type" -> in.worker_node_type,
    "worker_node_t_size" -> in.worker_node_t_size.orNull)

  private def post(path: String, body: String): Array[Byte] = {
    val b = body.getBytes(UTF_8)
    (s"POST $path HTTP/1.1\r\nHost: localhost\r\nContent-Type: application/json\r\n" +
      s"Content-Length: ${b.length}\r\n\r\n").getBytes(UTF_8) ++ b
  }

  private def get(path: String): Array[Byte] =
    s"GET $path HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(UTF_8)

  final case class Phase1(latMs: Seq[Double], ends: Seq[Long], elapsedS: Double,
      byMethod: Map[String, Seq[Double]],
      samples: Seq[(EstimateReq, Int, String)], statusBad: Seq[(EstimateReq, Int)])

  /** `cores` client threads, each with its own connection, in a closed loop
    * over the pool from its own offset, for `seconds`. Every status is
    * checked against the request's expected class on the spot; one body in
    * eight is kept for the output check. */
  private def phase1(ctx: Ctx, port: Int, pool: IndexedSeq[EstimateReq], seconds: Double,
      sample: Boolean): Phase1 = {
    val n = ctx.cores
    val lat = Array.fill(n)(mutable.ArrayBuffer[Double]())
    val ends = Array.fill(n)(mutable.ArrayBuffer[Long]())
    val meth = Array.fill(n)(mutable.ArrayBuffer[String]())
    val kept = Array.fill(n)(mutable.ArrayBuffer[(EstimateReq, Int, String)]())
    val bad = Array.fill(n)(mutable.ArrayBuffer[(EstimateReq, Int)]())
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = (0 until n).map { c =>
      new Thread(() => {
        val conn = new HttpConn(port)
        try {
          var k = c * pool.size / n
          while (System.nanoTime() < deadline) {
            val req = pool(k % pool.size)
            val t0 = System.nanoTime()
            val (status, body) = ctx.trace.span(s"engine.HttpApi.${req.method.toLowerCase}_estimate") {
              conn.call(req.bytes)
            }
            val t1 = System.nanoTime()
            lat(c) += (t1 - t0) / 1e6
            ends(c) += t1 - start
            meth(c) += req.method
            val okStatus = if (req.invalidRule.isDefined) status == (if (req.method == "GET") 400 else 500)
              else status == 200 || status == (if (req.method == "GET") 400 else 500)
            if (!okStatus) bad(c) += (req -> status)
            if (sample && k % 8 == c % 8) kept(c) += ((req, status, new String(body, UTF_8)))
            k += 1
          }
        } finally conn.close()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val elapsed = (System.nanoTime() - start) / 1e9
    val all = lat.flatten.toSeq
    val by = lat.zip(meth).flatMap { case (l, m) => l.zip(m) }.toSeq.groupBy(_._2)
      .view.mapValues(_.map(_._1)).toMap
    Phase1(all, ends.flatten.toSeq, elapsed, by, kept.flatten.toSeq, bad.flatten.toSeq)
  }

  final case class Cycle(input: EstimationInput, filename: String, stepMs: IndexedSeq[Double],
      statuses: IndexedSeq[Int], listed: Boolean, reloadBody: String, downloadBody: String,
      afterDeleteStatus: Int) {
    def totalMs: Double = stepMs.sum
  }
  object Cycle { val Steps: Seq[String] = Seq("save", "list", "reload", "download", "delete") }

  private def cycle(port: Int, in0: EstimationInput, k: Int): Cycle = {
    val in = in0.copy(project_name = s"cycle $k ${in0.project_name}")
    val conn = new HttpConn(port)
    try {
      val times = mutable.ArrayBuffer[Double]()
      val statuses = mutable.ArrayBuffer[Int]()
      def step(req: => Array[Byte]): String = {
        val bytes = req
        val t0 = System.nanoTime()
        val (status, body) = conn.call(bytes)
        times += (System.nanoTime() - t0) / 1e6
        statuses += status
        new String(body, UTF_8)
      }
      val saved = step(post("/api/save-estimation", jsonBody(in)))
      val filename = Option(Main.mapper.readTree(saved).get("filename")).map(_.asText).getOrElse("")
      val list = step(get("/saved-estimations"))
      val reload = step(get(s"/reload/$filename"))
      val download = step(get(s"/download/$filename"))
      step(s"DELETE /delete-estimation/$filename HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(UTF_8))
      Cycle(in, filename, times.toIndexedSeq, statuses.toIndexedSeq,
        list.contains("\"" + filename + "\""), reload, download, conn.call(get(s"/download/$filename"))._1)
    } finally conn.close()
  }

  /** Direct calls into Api, the kernel and RunStore, with the Spark jobs
    * each RunStore call runs. */
  private def traced(ctx: Ctx, store: RunStore, pool: IndexedSeq[EstimateReq],
      inputs: IndexedSeq[EstimationInput]): Unit = {
    val gets = pool.filter(_.method == "GET")
    val apiUs = (1 to 5).flatMap(_ => gets.map { r =>
      val t0 = System.nanoTime()
      ctx.trace.span("engine.Api.estimateFromParams")(Api.estimateFromParams(r.params))
      (System.nanoTime() - t0) / 1e3
    })
    ctx.layer("engine.Api.estimate_us") = Stats.median(apiUs)
    val valid = pool.flatMap(r => Validation.validate(r.input).toOption)
    val kernelUs = (1 to 5).flatMap(_ => valid.map { in =>
      val t0 = System.nanoTime()
      Estimator.estimate(in)
      (System.nanoTime() - t0) / 1e3
    })
    ctx.layer("kernel.estimate_us") = Stats.median(kernelUs)

    val n = if (ctx.opts.quick) 3 else 10
    val ms = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val jobs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    var listFiles = 0L
    def call[T](name: String)(body: => T): T = {
      val w0 = ctx.probe.snapshot()
      val t0 = System.nanoTime()
      val out = ctx.trace.span(s"engine.RunStore.$name")(body)
      ms.getOrElseUpdate(name, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
      jobs.getOrElseUpdate(name, mutable.ArrayBuffer()) += (ctx.probe.snapshot() - w0).jobs.toDouble
      out
    }
    for (k <- 0 until n) {
      val in = inputs(k % inputs.size).copy(project_name = s"direct $k")
      val r = Estimator.estimate(in).toOption.get
      val f = call("save")(store.save(in, r))
      listFiles = call("list")(store.list().collect()).length
      call("reload")(store.reload(f))
      call("download")(store.download(f))
      call("delete")(store.delete(f))
    }
    for (s <- Cycle.Steps) ctx.layer(s"engine.RunStore.${s}_ms") = Stats.median(ms(s).toSeq)
    for (s <- Seq("save", "list", "reload"))
      ctx.layer(s"engine.RunStore.${s}_jobs") = Stats.median(jobs(s).toSeq)
    ctx.layer("engine.RunStore.list_files") = listFiles.toDouble
  }

  private def writeCheckFile(ctx: Ctx, p1: Phase1, cycles: Seq[Cycle]): Unit = {
    val path = ctx.workDir("serve").resolve("responses.json")
    Main.mapper.writeValue(path.toFile, Map(
      "requests" -> p1.samples.map { case (r, status, body) => Map(
        "method" -> r.method, "input" -> inputMap(r.input),
        "invalid_rule" -> r.invalidRule.orNull, "status" -> status, "body" -> body) },
      "wrong_status" -> p1.statusBad.map { case (r, s) => Map(
        "method" -> r.method, "input" -> inputMap(r.input),
        "invalid_rule" -> r.invalidRule.orNull, "status" -> s) },
      "cycles" -> cycles.map(c => Map(
        "input" -> inputMap(c.input), "filename" -> c.filename, "statuses" -> c.statuses,
        "listed" -> c.listed, "reload_body" -> c.reloadBody, "download_body" -> c.downloadBody,
        "after_delete_status" -> c.afterDeleteStatus))))
    ctx.facts("responses") = path.toString
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
