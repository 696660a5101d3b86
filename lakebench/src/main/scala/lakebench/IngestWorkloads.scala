package lakebench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.lake.{Lake, Snapshots}
import graft.operators.{Alerts, Detection}
import graft.plans.AnchoredSession
import graft.schema.SchemaResolver
import graft.sources.Framing
import graft.streaming.{AlertStream, Ingest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Pieces shared by the two ingest phases. */
object IngestCommon {
  import Pipelines._

  def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .toSeq.sortBy(_.toString)

  def lineCount(dir: Path): Long = files(dir).map(p => Files.lines(p).count()).sum

  /** Rule matches over a source's lake rows. */
  def matches(events: DataFrame, src: Source): DataFrame =
    Detection.ruleMatches(events, src.rules, src.matchId)

  def alertRows(alerts: DataFrame): DataFrame =
    alerts.withColumn("ts", col("first_matched_at"))

  /** The alerts sink: the first commit creates the table, every later one
    * merges by alert id. Timed runs seed the table with the warm-up's
    * alerts, so every timed commit is a merge into an existing table.
    */
  def commitAlerts(spark: SparkSession, table: String, rows: DataFrame): Unit =
    if (Snapshots.currentVersion(table).isEmpty) Snapshots.append(rows, table)
    else Snapshots.mergeUpsert(spark, table, rows, "alert_id")

  /** Committed alerts must equal the batch fold (`Alerts.aggregate`) over
    * the same lake's rule matches.
    */
  def parity(ctx: Ctx, out: String, alertsTable: String, priorIds: Set[String]): Unit = {
    val spark = ctx.spark
    val all = sources.map(s => matches(Lake.read(spark, s"$out/lake/${s.name}"), s))
      .reduce(_ unionByName _)
    val batch = Alerts.aggregate(spark, all, alertConfig).toDF()
      .select("alert_id", "match_count", "activated")
    val committed = Snapshots.read(spark, alertsTable)
      .filter(!col("alert_id").isin(priorIds.toSeq: _*))
      .select("alert_id", "match_count", "activated")
    val diff = batch.exceptAll(committed).count() + committed.exceptAll(batch).count()
    ctx.result.op(diff == 0,
      s"$out: committed alerts differ from Alerts.aggregate in $diff rows")
  }

  /** Per-layer split of the fused ingest job, by timing successive
    * prefixes of the pipeline to a noop sink over the same landed objects.
    */
  def prefixLayers(ctx: Ctx, landing: Path): Unit = {
    val spark = ctx.spark
    val layer = ctx.result.layer
    def noop(df: DataFrame): Double = {
      val (_, t1) = Main.timed(df.write.format("noop").mode("overwrite").save())
      val (_, t2) = Main.timed(df.write.format("noop").mode("overwrite").save())
      math.min(t1, t2)
    }
    var frameS, lines, parseFail, aborted, sidelined, resolved, resolveS = 0.0
    for (src <- sources) {
      val raw = spark.read.schema(landingSchema).json(landing.resolve(src.name).toString)
      val framed = if (src.name == "cloudtrail") Framing.preTransformJsonParse(raw) else raw
      val tFrame = noop(framed)
      val shaped = src.transform(raw)
      val tShape = noop(shaped)
      val r = SchemaResolver.resolve(shaped, src.target(spark))
      val tResolve = noop(r.resolved)
      val nLines = raw.count().toDouble
      val nShaped = shaped.count().toDouble
      val nBad = r.sidelined.count().toDouble
      if (src.name == "cloudtrail")
        parseFail += framed.filter(col("json").isNull).count()
      frameS += tFrame
      layer(s"transform.${src.name}_s") = math.max(0.0, tShape - tFrame)
      resolveS += math.max(0.0, tResolve - tShape)
      lines += nLines; aborted += nLines - nShaped; sidelined += nBad; resolved += nShaped
      ctx.result.info(s"prefix_total_s.${src.name}") = tResolve
    }
    layer("sources.frame_s") = frameS
    layer("sources.lines_in") = lines
    layer("sources.parse_fail_ratio") = parseFail / lines
    layer("transform.aborted_rows") = aborted
    layer("schema.resolve_s") = resolveS
    layer("schema.sidelined_ratio") = sidelined / resolved
  }

  /** Detection and alert-fold split, by the same prefix timing. */
  def prefixOperators(ctx: Ctx, out: String): Unit = {
    val spark = ctx.spark
    val all = sources.map(s => matches(Lake.read(spark, s"$out/lake/${s.name}"), s))
      .reduce(_ unionByName _)
    val (_, tDetect) = Main.timed(all.write.format("noop").mode("overwrite").save())
    val folded = AnchoredSession.aggregate(spark, all, alertConfig)
    val (_, tFold) = Main.timed(folded.write.format("noop").mode("overwrite").save())
    val nMatches = all.count().toDouble
    val nAlerts = folded.count().toDouble
    val layer = ctx.result.layer
    layer("operators.detect_s") = tDetect
    layer("operators.alert_fold_s") = math.max(0.0, tFold - tDetect)
    layer("operators.matches") = nMatches
    layer("operators.alerts_out") = nAlerts
    layer("operators.matches_per_alert") = if (nAlerts > 0) nMatches / nAlerts else 0.0
  }

  /** Data files and bytes under a directory. */
  def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toVector
      finally s.close()
    }

  /** Layout of a finished pass: the lake it wrote plus its alerts table,
    * whose merges rewrite files (write amplification = bytes written over
    * bytes live in the final snapshot).
    */
  def lakeLayout(ctx: Ctx, out: String): Unit = {
    val layer = ctx.result.layer
    val fs = sources.flatMap(s => parquetFiles(java.nio.file.Paths.get(s"$out/lake/${s.name}")))
    val bytes = fs.map(Files.size).sum.toDouble
    val hours = fs.map(_.getParent.getFileName.toString).distinct.size
    val alerts = java.nio.file.Paths.get(s"$out/alerts")
    val alertBytes = parquetFiles(alerts).map(Files.size).sum.toDouble
    val liveAlertBytes = Snapshots.current(alerts.toString).toSeq
      .flatMap(_.entries).map(e => Files.size(alerts.resolve(e.file))).sum.toDouble
    layer("lake.files_written") = fs.size
    layer("lake.bytes_written") = bytes + alertBytes
    layer("lake.files_per_hour") = if (hours > 0) fs.size.toDouble / hours else 0.0
    layer("lake.write_amplification") = (bytes + alertBytes) / (bytes + liveAlertBytes)
  }
}

/** The `ingest` workload: [[IngestBacklog]] gives both end-to-end
  * metrics. Traced runs then also run [[IngestLive]] in the same JVM, for
  * the streaming layer and detection freshness.
  */
object IngestWorkload {
  def run(ctx: Ctx): Unit = {
    IngestBacklog.run(ctx)
    if (ctx.trace.on) IngestLive.run(ctx)
  }
}

/** Batch write path at full throughput: each pass drains the same landed
  * backlog (both sources) through `Ingest.backfillOnce` into a fresh lake,
  * then folds the rule matches into alerts and merges them into the
  * alerts table. Closed loop: the next pass starts when one ends.
  */
object IngestBacklog {
  import IngestCommon._
  import Pipelines._

  // the median of four passes is robust to a pass slowed by a warming JIT
  // or a busy host
  val MinPasses = 4

  def pass(ctx: Ctx, landing: Path, out: String, prior: Option[DataFrame],
      traceId: String): Double = {
    val spark = ctx.spark
    val alerts = s"$out/alerts"
    val pipelines = sources.map(s =>
      s -> s.pipeline(spark, s"$out/lake/${s.name}", s"$out/side/${s.name}"))
    prior.foreach(Snapshots.append(_, alerts))
    val (_, t) = Main.timed {
      for ((src, p) <- pipelines)
        ctx.trace.span(s"ingest.backfill_${src.name}", traceId) {
          Ingest.backfillOnce(spark, landing.resolve(src.name).toString, landingSchema, p,
            s"$out/ledger/${src.name}")
        }
      val all = sources.map(s => matches(Lake.read(spark, s"$out/lake/${s.name}"), s))
        .reduce(_ unionByName _)
      ctx.trace.span("lake.merge", traceId) {
        commitAlerts(spark, alerts,
          alertRows(AnchoredSession.aggregate(spark, all, alertConfig)))
      }
    }
    t
  }

  def run(ctx: Ctx): Unit = {
    val res = ctx.result
    val main = ctx.inputs.resolve("main")
    val records = sources.map(s => lineCount(main.resolve(s.name))).sum.toDouble

    // warm-up: a pass over a small backlog of its own, whose alerts seed
    // every later pass's alerts table (so every timed commit is a merge),
    // then one untimed full-size pass, so the timed passes run in a warm JIT
    val warm = ctx.dir("warm")
    val (prior, warmS) = Main.timed {
      pass(ctx, ctx.inputs.resolve("warm"), warm, None, "warm")
      val prior = Snapshots.read(ctx.spark, s"$warm/alerts")
      pass(ctx, main, ctx.dir("warm_main"), Some(prior), "warm")
      prior
    }
    res.info("warmup_s") = warmS
    res.memory(Main.liveMb())
    Main.log("backlog warm-up done")

    val before = Profile.mark(ctx.trace)
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var p = 0
    // passes run until the window has passed, at least MinPasses of them
    while (p < MinPasses || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      p += 1
      val out = ctx.dir(s"pass$p")
      val t = pass(ctx, main, out, Some(prior), s"pass$p")
      times += t
      res.op(ok = true, "")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    res.memory(Main.liveMb())
    res.metrics("throughput_per_s") = Stats.median(times.map(records / _).toSeq)
    res.metrics("latency_p50_s") = Stats.median(times.toSeq)
    res.info("passes") = p
    res.info("records_per_pass") = records
    res.info("pass_s") = times.toSeq
    // live bytes per committed row, over the last pass's source lakes
    val lakes = sources.map(s => ctx.work.resolve(s"pass$p/lake/${s.name}"))
    res.metrics("lake_bytes_per_record") = lakes.flatMap(parquetFiles).map(Files.size).sum /
      lakes.map(d => Lake.read(ctx.spark, d.toString).count()).sum.toDouble

    Main.log(s"backlog timed passes done: $p")
    if (ctx.trace.on) {
      Profile.spark(ctx, before, wall)
      val out = ctx.work.resolve(s"pass$p").toString
      prefixLayers(ctx, main)
      prefixOperators(ctx, out)
      val self = ctx.trace.selfSeconds(t0)
      val backfill = sources.map(s => self.getOrElse(s"ingest.backfill_${s.name}", 0.0)).sum / p
      val prefix = sources.map(s =>
        res.info.getOrElse(s"prefix_total_s.${s.name}", 0.0).asInstanceOf[Double]).sum
      res.layer("lake.append_s") = math.max(0.0, backfill - prefix)
      res.layer("lake.merge_s") = self.getOrElse("lake.merge", 0.0) / p
      lakeLayout(ctx, out)
    }
  }
}

/** Detection freshness: one landed object per tick (open loop) through two
  * `Ingest.start` queries (one per source, processing-time trigger) and,
  * beside them, a streaming detection query whose `AlertStream.aggregate`
  * state feeds an alerts table by merge. Latency is measured per object
  * from its scheduled landing to the later of the two commits that made
  * its rows and its alerts visible, read from the queries' checkpoints.
  */
object IngestLive {
  import IngestCommon._
  import Pipelines._

  val TriggerMs = 500L
  val RampFraction = 0.25
  val DrainSeconds = 60.0

  final case class Running(queries: Seq[StreamingQuery], out: String)

  def start(ctx: Ctx, landing: Path, out: String): Running = {
    val spark = ctx.spark
    import spark.implicits._
    val trigger = Trigger.ProcessingTime(TriggerMs)
    val ingest = sources.map { s =>
      Files.createDirectories(landing.resolve(s.name))
      Ingest.start(spark, landing.resolve(s.name).toString, landingSchema,
        s.pipeline(spark, s"$out/lake/${s.name}", s"$out/side/${s.name}"),
        s"$out/ckpt/${s.name}", trigger)
    }
    // detection reads the landed objects through the same transform and
    // schema resolution as the lake writer, beside it (as the reference's
    // detections consume the transformer's output, not the lake)
    val resolved = sources.map { s =>
      val raw = spark.readStream.schema(landingSchema).json(landing.resolve(s.name).toString)
      matches(SchemaResolver.resolve(s.transform(raw), s.target(spark)).resolved, s)
    }
    val all = resolved.reduce(_ unionByName _)
      .select("rule_name", "dedupe", "match_id", "ts").as[Alerts.MatchRow]
    val alertsTable = s"$out/alerts"
    val detect = AlertStream.aggregate(spark, all, alertConfig).toDF()
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        ctx.trace.span("lake.merge", s"alerts-$id") {
          val kept = b.persist()
          try if (!kept.isEmpty) commitAlerts(spark, alertsTable, alertRows(kept))
          finally kept.unpersist()
        }
      }
      .option("checkpointLocation", s"$out/ckpt/alerts")
      .trigger(trigger)
      .start()
    Running(ingest :+ detect, out)
  }

  /** Lands objects on a fixed schedule from its own thread; returns
    * (scheduled ms, landed ms, landed path) per object.
    */
  def land(objects: Seq[(String, Path)], landing: Path, t0: Long, intervalMs: Double)
      : Seq[(Long, Long, String)] = {
    objects.zipWithIndex.map { case ((srcName, p), k) =>
      val due = t0 + (k * intervalMs).toLong
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val dst = landing.resolve(srcName).resolve(p.getFileName.toString)
      val tmp = landing.resolve(srcName).resolve("." + p.getFileName.toString)
      Files.copy(p, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      (due, System.currentTimeMillis(), dst.toString)
    }
  }

  /** Drains and stops the queries; a timeout or a failed query is a failed
    * operation.
    */
  def drain(ctx: Ctx, r: Running): Unit = {
    for (q <- r.queries)
      Main.bounded(ctx, s"drain ${q.id}", DrainSeconds)(q.processAllAvailable())
    for (q <- r.queries) {
      Main.bounded(ctx, s"stop ${q.id}", DrainSeconds)(q.stop())
      q.exception.foreach(e => ctx.result.op(ok = false, s"query failed: $e"))
    }
  }

  def objects(dir: Path): Seq[(String, Path)] = {
    val per = sources.map(s => files(dir.resolve(s.name)).map(s.name -> _))
    per.head.zipAll(per(1), null, null).flatMap { case (a, b) => Seq(a, b) }.filter(_ != null)
  }

  /** The launcher generates the objects of one window; they land evenly
    * spread over it.
    */
  def intervalMs(ctx: Ctx): Double =
    ctx.seconds * 1000.0 / objects(ctx.inputs.resolve("live")).size

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.result
    val objs = objects(ctx.inputs.resolve("live"))
    val interval = intervalMs(ctx)

    // warm-up: a short session over a small object set of its own, at the
    // timed session's rate; its alerts seed the timed session's table
    val warm = ctx.dir("live_warm")
    val r0 = start(ctx, ctx.work.resolve("live_warm_landing"), warm)
    land(objects(ctx.inputs.resolve("live_warm")), ctx.work.resolve("live_warm_landing"),
      System.currentTimeMillis(), interval)
    drain(ctx, r0)
    Main.log("live warm-up done")
    val prior = Snapshots.read(spark, s"$warm/alerts")
    val priorIds = prior.select("alert_id").collect().map(_.getString(0)).toSet

    val out = ctx.dir("live")
    Snapshots.append(prior, s"$out/alerts")
    val landing = ctx.work.resolve("landing")
    val n = objs.size
    val r = ctx.trace.span("streaming.session") { start(ctx, landing, out) }
    val t0 = System.currentTimeMillis() + 200
    val landed = land(objs.take(n), landing, t0, interval)
    Main.log("live landing done")
    drain(ctx, r)
    val wall = (System.currentTimeMillis() - t0) / 1000.0
    Main.log("live drained")

    // the first quarter of the window is ramp-up (the fresh queries' first
    // batches): its objects are checked but not timed
    val lat = Latency.perObject(ctx, out, landed).drop((n * RampFraction).toInt).flatten
    val records = objs.take(n).map(o => Files.lines(o._2).count()).sum.toDouble
    res.info("live_records_per_s") = records / wall
    res.info("latencies_s") = lat
    res.info("objects") = n
    res.info("records") = records
    res.info("late_p95_s") = Stats.quantile(landed.map(x => (x._2 - x._1) / 1000.0), 0.95)

    parity(ctx, out, s"$out/alerts", priorIds)
    Main.log("live checks done")

    Profile.streaming(ctx, Latency.queueWait(out, landed))
    res.layer("streaming.alert_latency_p50_s") = Stats.median(lat)
    res.layer("streaming.alert_latency_p95_s") = Stats.quantile(lat, 0.95)
    res.layer("loadgen.late_p95_s") = res.info("late_p95_s")
  }
}
