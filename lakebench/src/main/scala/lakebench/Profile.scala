package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Per-layer metrics derived from the trace's listener counters. */
object Profile {

  final case class Mark(work: Work, planningMs: Long, fallback: Long, exchanges: Long)

  def mark(t: Trace): Mark = {
    if (t.on) org.apache.spark.LakebenchBridge.drainListeners(
      org.apache.spark.sql.SparkSession.active.sparkContext)
    t.synchronized(Mark(t.snapshot(), t.planningMs, t.codegenFallbackNodes, t.exchanges))
  }

  /** Spark and plan counters over a timed window of `wall` seconds. */
  def spark(ctx: Ctx, before: Mark, wall: Double): Unit = {
    val t = ctx.trace
    val now = mark(t)
    val w = now.work
    val b = before.work
    val layer = ctx.result.layer
    val busy = (w.busyMs - b.busyMs) / 1000.0
    layer("spark.jobs") = w.jobs - b.jobs
    layer("spark.stages") = w.stages - b.stages
    layer("spark.tasks") = w.tasks - b.tasks
    layer("spark.task_busy_s") = busy
    layer("spark.dispatch_share") = 1.0 - busy / (ctx.cores * wall)
    layer("spark.shuffle_write_bytes") = w.shuffleWrite - b.shuffleWrite
    layer("spark.shuffle_read_bytes") = w.shuffleRead - b.shuffleRead
    layer("spark.spill_bytes") = w.spill - b.spill
    layer("spark.gc_s") = (w.gcMs - b.gcMs) / 1000.0
    layer("spark.failed_tasks") = w.failedTasks - b.failedTasks
    layer("plans.planning_s") = (now.planningMs - before.planningMs) / 1000.0
    layer("plans.codegen_fallback_nodes") = now.fallback - before.fallback
    layer("plans.exchanges") = now.exchanges - before.exchanges
  }

  /** Streaming progress of the timed session's queries. */
  def streaming(ctx: Ctx, queueWait: Seq[Double]): Unit = {
    org.apache.spark.LakebenchBridge.drainListeners(ctx.spark.sparkContext)
    val ps = ctx.trace.synchronized(ctx.trace.progress.toVector).map(_.progress)
    val data = ps.filter(_.numInputRows > 0)
    def dur(k: String) = data.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble / 1000.0))
    val layer = ctx.result.layer
    layer("streaming.batches") = data.size
    layer("streaming.batch_s") = Stats.median(dur("triggerExecution"))
    layer("streaming.add_batch_s") = Stats.median(dur("addBatch"))
    layer("streaming.queue_wait_s") = Stats.median(queueWait)
    val state = ps.flatMap(_.stateOperators.toSeq)
    layer("streaming.state_rows") =
      if (state.isEmpty) 0L else state.map(_.numRowsTotal).max
    layer("streaming.state_bytes") =
      if (state.isEmpty) 0L else state.map(_.memoryUsedBytes).max
    val lags = ps.flatMap { p =>
      val et = p.eventTime
      for (mx <- Option(et.get("max")); wm <- Option(et.get("watermark")))
        yield (java.time.Instant.parse(mx).toEpochMilli -
          java.time.Instant.parse(wm).toEpochMilli) / 1000.0
    }
    layer("streaming.watermark_lag_s") = Stats.median(lags)
  }
}

/** Per-object freshness, read back from the streaming checkpoints after the
  * run: nothing is measured inside the queries. A query's source log lists
  * the landed objects of each of its batches and its commit log stamps
  * each batch's commit; an object's rows are visible when its ingest batch
  * commits and its alerts when its detection batch does.
  */
object Latency {
  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  private def local(uri: String): String = new java.net.URI(uri).getPath

  /** file → batch id, from a file source's metadata log (compacted or not). */
  def sourceLog(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator.asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .flatMap(l => for (p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l))
        yield local(p.group(1)) -> b.group(1).toLong)
      .toMap

  private def mtime(p: Path): Option[Long] =
    if (Files.exists(p)) Some(Files.getLastModifiedTime(p).toMillis) else None

  /** Commit time of the batch that read a landed file, for one source of
    * a query.
    */
  private def committed(ckpt: Path, source: Int): String => Option[Long] = {
    val log = sourceLog(ckpt.resolve(s"sources/$source"))
    f => log.get(f).flatMap(b => mtime(ckpt.resolve(s"commits/$b")))
  }

  /** Seconds from each object's scheduled landing to visibility, in landing
    * order; an object never seen committed by both queries is a failed
    * operation (None).
    */
  def perObject(ctx: Ctx, out: String, landed: Seq[(Long, Long, String)])
      : Seq[Option[Double]] = {
    val alerts = Paths.get(out, "ckpt", "alerts")
    val ingest = Pipelines.sources.map(s => committed(Paths.get(out, "ckpt", s.name), 0))
    val detect = Pipelines.sources.indices.map(committed(alerts, _))
    def first(qs: Seq[String => Option[Long]], f: String) =
      qs.iterator.map(_(f)).collectFirst { case Some(t) => t }
    landed.map { case (due, _, path) =>
      val seen = for (a <- first(ingest, path); b <- first(detect, path))
        yield (math.max(a, b) - due) / 1000.0
      ctx.result.op(seen.isDefined, s"object $path never became visible")
      seen
    }
  }

  /** Seconds each object waited between landing and its ingest batch's start. */
  def queueWait(out: String, landed: Seq[(Long, Long, String)]): Seq[Double] = {
    val starts = Pipelines.sources.flatMap { s =>
      val ckpt = Paths.get(out, "ckpt", s.name)
      sourceLog(ckpt.resolve("sources/0")).toSeq.flatMap { case (f, b) =>
        mtime(ckpt.resolve(s"offsets/$b")).map(f -> _)
      }
    }.toMap
    landed.flatMap { case (_, at, path) => starts.get(path).map(s => (s - at) / 1000.0) }
  }
}
