package perfbench

import graft.sources.{Sinks, Sources}
import graft.streaming.StreamingOps
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** `stream`: the events table split into ts-ordered parquet files, replayed
  * one file per trigger by Sources.eventsFileStream, aggregated into 1-hour
  * windows by StreamingOps.tumble and written by
  * Sinks.streamToParquetExactlyOnce, until every file is consumed. One
  * round is one replay of all files through a fresh checkpoint and sink.
  * Set-up runs one round; the timed phase repeats whole rounds.
  *
  * End to end: throughput_per_s = input rows from the first trigger's start
  * to the last data batch's sink commit, per second (median round);
  * p50_ms = median triggerExecution of the data batches; round_p50_ms =
  * median round from query start until every file is committed;
  * jobs_per_round. Progress comes from a StreamingQueryListener. */
object Stream {
  final case class Round(progress: Seq[StreamingQueryProgress], ms: Double, sink: Path,
      jobs: Long) {
    val data: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
    def rows: Long = data.map(_.numInputRows).sum
    def rowsPerS: Double = {
      def start(p: StreamingQueryProgress) = Instant.parse(p.timestamp).toEpochMilli
      val first = data.map(start).min
      val last = data.map(p => start(p) + p.durationMs.get("triggerExecution")).max
      rows / ((last - first) / 1000.0)
    }
    def watermarkMs: Long = progress.last.eventTime.asScala.get("watermark")
      .map(Instant.parse(_).toEpochMilli).getOrElse(0L)
  }

  def run(ctx: Ctx): Unit = {
    val files = ctx.opts.data.getOrElse(sys.error("stream needs --data")).toString
    val nFiles = Files.list(java.nio.file.Paths.get(files)).count()
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    ctx.spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    def round(k: Int): Round = {
      val dir = ctx.workDir(s"stream/round-$k")
      val sink = dir.resolve("sink")
      val w0 = ctx.probe.snapshot()
      val t0 = System.nanoTime()
      val q = ctx.trace.span("streaming.query") {
        val df = StreamingOps.tumble(Sources.eventsFileStream(ctx.spark, files))
        val q = Sinks.streamToParquetExactlyOnce(df, sink.toString, dir.resolve("checkpoint").toString)
        q.processAllAvailable()
        q
      }
      val ms = Stats.nsToMs(System.nanoTime() - t0)
      // let the no-data batch that emits the last closed windows finish
      val idleBy = System.nanoTime() + 2000000000L
      while (System.nanoTime() < idleBy &&
        !Option(q.lastProgress).exists(_.numInputRows == 0)) Thread.sleep(5)
      q.stop()
      val jobs = (ctx.probe.snapshot() - w0).jobs
      val mine = events.asScala.filter(_.id == q.id).toSeq.sortBy(_.batchId)
      Round(mine, ms, sink, jobs)
    }

    round(0)
    ctx.mark("first_round")
    ctx.startTimed()
    val t0 = System.nanoTime()
    val rounds = Seq.newBuilder[Round]
    var n = 0
    while (n < 2 || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      n += 1
      rounds += round(n)
    }
    ctx.endTimed()
    val rs = rounds.result()
    val triggers = rs.flatMap(_.data.map(_.durationMs.get("triggerExecution").toDouble))
    ctx.attempted = n * nFiles
    ctx.e2e("throughput_per_s") = Stats.median(rs.map(_.rowsPerS))
    ctx.e2e("p50_ms") = Stats.median(triggers)
    ctx.e2e("round_p50_ms") = Stats.median(rs.map(_.ms))
    ctx.e2e("jobs_per_round") = rs.map(_.jobs).sum.toDouble / n
    val last = rs.last
    ctx.facts("files") = files
    ctx.facts("sink") = last.sink.toString
    ctx.facts("watermark_ms") = last.watermarkMs
    ctx.facts("rows_per_round") = last.rows
    ctx.facts("trigger_ms_samples") = triggers
    ctx.facts("round_ms_samples") = rs.map(_.ms)

    if (ctx.opts.trace) {
      val data = rs.flatMap(_.data)
      def dur(k: String) = Stats.median(data.map(_.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)))
      ctx.layer("streaming.trigger_p50_ms") = Stats.median(triggers)
      ctx.layer("streaming.trigger_p90_ms") = Stats.quantile(triggers, 0.9)
      ctx.layer("streaming.add_batch_ms") = dur("addBatch")
      ctx.layer("streaming.query_planning_ms") = dur("queryPlanning")
      ctx.layer("streaming.wal_commit_ms") = dur("walCommit")
      ctx.layer("streaming.commit_offsets_ms") = dur("commitOffsets")
      ctx.layer("streaming.batches") = Stats.median(rs.map(_.progress.size.toDouble))
      ctx.layer("streaming.jobs_per_batch") = rs.map(_.jobs).sum.toDouble / rs.map(_.progress.size).sum
      val states = last.progress.flatMap(_.stateOperators.headOption)
      ctx.layer("streaming.state_rows") = states.map(_.numRowsTotal.toDouble).max
      ctx.layer("streaming.state_memory_bytes") = states.map(_.memoryUsedBytes.toDouble).max
      ctx.layer("streaming.rows_dropped_by_watermark") = states.map(_.numRowsDroppedByWatermark).sum.toDouble
      ctx.layer("sources.get_batch_ms") = dur("getBatch")
      ctx.layer("sources.latest_offset_ms") = dur("latestOffset")
      val out = Files.walk(last.sink).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).toSeq
      ctx.layer("sources.sink_files") = out.size.toDouble
      ctx.layer("sources.sink_bytes") = out.map(Files.size).sum.toDouble
    }
  }
}
