package lakebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.lake.Snapshots
import graft.operators.{Enrichment, Hll, QuantileSketch, RangeJoin}
import graft.plans.AnchoredSession
import graft.schema.SchemaResolver
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}

/** The read path beside writes: one analyst thread runs seeded hunting
  * templates back to back (closed loop) over a pre-built one-day lake,
  * while one writer thread appends a new hour (with a late share landing
  * in the previous hour) as each rotation of the templates starts and,
  * between its own appends, compacts closed hours and expires snapshots.
  * Reads and writes keep a fixed ratio, one append per six queries, so
  * the share of the window the writer holds does not depend on how fast
  * the host runs.
  *
  * Compaction runs on the writer's thread, after its own append, as the
  * reference compacts closed hours; an append racing a compaction of the
  * same hour is left to the engine's deterministic interleaving tests, so
  * that `failed` here never depends on timing. Snapshot retention is
  * longer than a run, so every snapshot an analyst query pinned is still
  * readable by the launcher's DuckDB check after the run.
  */
object Hunt {
  import Pipelines._

  // query latencies keep falling over the first rotations while the JIT
  // compiles the query paths; the window starts after they level off
  val WarmRotations = 2
  val KeepSnapshots = 256

  final case class Query(template: String, params: Map[String, Any], table: String,
      version: Int, rows: Seq[Row], columns: Seq[String], latency: Double,
      filesRead: Int, filesTotal: Int, bytesRead: Long)

  def hourOf(epochS: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd-HH")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochSecond(epochS))

  def ts(epochS: Long): java.sql.Timestamp = new java.sql.Timestamp(epochS * 1000)

  /** Transform + resolve one source's landed lines into table rows. */
  def rows(ctx: Ctx, src: Source, path: String): DataFrame = {
    val spark = ctx.spark
    SchemaResolver.resolve(src.transform(
      spark.read.schema(landingSchema).json(path)), src.target(spark)).resolved
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.result
    val in = ctx.inputs
    val t0 = Files.readString(in.resolve("t0")).trim.toLong
    val hours = Files.readString(in.resolve("hours")).trim.toInt
    val tables = Map("vpcflow" -> ctx.dir("lake", "vpcflow"),
      "cloudtrail" -> ctx.dir("lake", "cloudtrail"), "alerts" -> ctx.dir("lake", "alerts"))

    // ---- lake pre-build: both sources, then the alerts over them
    val (_, buildS) = Main.timed {
      for (src <- sources)
        Snapshots.append(rows(ctx, src, in.resolve(s"lake/${src.name}").toString),
          tables(src.name))
      val all = sources.map(s => IngestCommon.matches(Snapshots.read(spark, tables(s.name)), s))
        .reduce(_ unionByName _)
      Snapshots.append(IngestCommon.alertRows(
        AnchoredSession.aggregate(spark, all, alertConfig)), tables("alerts"))
    }
    res.info("prebuild_s") = buildS
    Main.log("hunt lake built")
    // the warm-up is everything between the pre-build and the window
    val warmStart = System.nanoTime()
    val intel = spark.read.json(in.resolve("intel/cidrs.json").toString)
      .withColumn("b", RangeJoin.cidrBounds(col("cidr")))
      .select(col("cidr"), col("feed"), col("indicator"),
        col("b.lo").as("lo"), col("b.hi").as("hi"))
      .localCheckpoint()
    val feeds = spark.read.json(in.resolve("intel/feeds.json").toString).localCheckpoint()
    val alertKeys = Snapshots.read(spark, tables("alerts"))
      .filter(col("rule_name") === "ct_access_key_created")
      .select("dedupe", "first_matched_at", "last_matched_at").collect().toSeq

    val srcKeys = Snapshots.read(spark, tables("vpcflow")).select("src_ip_num").distinct()
      .orderBy("src_ip_num").limit(500).collect().map(_.getLong(0)).toSeq
    val rng = new java.util.Random(ctx.seed)
    def pickHour(span: Int): Long = t0 + rng.nextInt(hours - span + 1) * 3600L

    /** One analyst query: pin the table's version, build the pruned frame,
      * run it to a result. Returns the record the launcher checks.
      */
    def query(template: String): Query = {
      val params = mutable.LinkedHashMap.empty[String, Any]
      def pinned(table: String)(build: => DataFrame): (Int, DataFrame) = {
        var v = Snapshots.currentVersion(tables(table)).get
        var df = build
        // a commit between the pin and the manifest read: plan again
        while (Snapshots.currentVersion(tables(table)).get != v) {
          v = Snapshots.currentVersion(tables(table)).get
          df = build
        }
        (v, df)
      }
      val t1 = System.nanoTime()
      val (table, (version, base), result: DataFrame) = template match {
        case "hour_agg" =>
          val h = pickHour(3)
          val hs = (0 until 3).map(i => hourOf(h + i * 3600L)).toSet
          params("hours") = hs.toSeq.sorted
          val p = pinned("vpcflow")(Snapshots.readHours(spark, tables("vpcflow"), hs))
          ("vpcflow", p, p._2.groupBy(col("destination.port").as("port"))
            .agg(count(lit(1)).as("flows"), sum(col("network.bytes")).as("bytes")))
        case "key_probe" =>
          val keys = (0 until 3).map(_ => srcKeys(rng.nextInt(srcKeys.size)))
          params("keys") = keys
          val p = pinned("vpcflow")(Snapshots.readKeyProbe(spark, tables("vpcflow"),
            "src_ip_num", spark.range(1).select(explode(typedLit(keys)).as("k")))._1)
          ("vpcflow", p, p._2.filter(col("src_ip_num").isin(keys: _*))
            .groupBy(col("src_ip_num")).agg(count(lit(1)).as("flows")))
        case "distinct_hll" =>
          val h = pickHour(6)
          params("from") = h; params("to") = h + 6 * 3600L
          val f = Seq(GreaterThanOrEqual("ts", ts(h)), LessThan("ts", ts(h + 6 * 3600L)))
          val p = pinned("cloudtrail")(Snapshots.readWhere(spark, tables("cloudtrail"), f))
          ("cloudtrail", p, p._2.filter(col("ts") >= ts(h) && col("ts") < ts(h + 6 * 3600L))
            .groupBy(col("event.action").as("action"))
            .agg(Hll.approxDistinct(col("source.address")).as("ips")))
        case "quantiles" =>
          val h = pickHour(6)
          params("from") = h; params("to") = h + 6 * 3600L
          val f = Seq(GreaterThanOrEqual("ts", ts(h)), LessThan("ts", ts(h + 6 * 3600L)))
          val p = pinned("vpcflow")(Snapshots.readWhere(spark, tables("vpcflow"), f))
          ("vpcflow", p, p._2.filter(col("ts") >= ts(h) && col("ts") < ts(h + 6 * 3600L))
            .groupBy(col("destination.port").as("port"))
            .agg(QuantileSketch.quantilesAgg(col("network.bytes"), Seq(0.5, 0.9)).as("q")))
        case "cidr_enrich" =>
          val h = pickHour(2)
          val hs = (0 until 2).map(i => hourOf(h + i * 3600L)).toSet
          params("hours") = hs.toSeq.sorted
          val p = pinned("vpcflow")(Snapshots.readHours(spark, tables("vpcflow"), hs))
          val flows = p._2.select(monotonically_increasing_id().as("fid"), col("dst_ip_num"))
          val hit = Enrichment.lookupJoin(
            RangeJoin.enrich(flows, "fid", "dst_ip_num", intel, "lo", "hi", 1L << 16),
            feeds, col("feed"), "feed", "feed_meta")
          ("vpcflow", p, hit.filter(col("indicator").isNotNull)
            .groupBy(col("indicator"), col("feed_meta.severity").as("severity"))
            .agg(count(lit(1)).as("flows")))
        case "alert_context" =>
          val a = alertKeys(rng.nextInt(alertKeys.size))
          val lo = a.getTimestamp(1).getTime / 1000 - 600
          val hi = a.getTimestamp(2).getTime / 1000 + 600
          params("user") = a.getString(0); params("from") = lo; params("to") = hi
          val f = Seq(GreaterThanOrEqual("ts", ts(lo)), LessThan("ts", ts(hi)))
          val p = pinned("cloudtrail")(Snapshots.readWhere(spark, tables("cloudtrail"), f))
          ("cloudtrail", p, p._2.filter(col("ts") >= ts(lo) && col("ts") < ts(hi) &&
              col("user.name") === a.getString(0))
            .groupBy(col("event.action").as("action")).agg(count(lit(1)).as("events")))
      }
      val collected = ctx.trace.span(s"hunt.$template", s"q-${System.nanoTime()}") {
        result.collect().toSeq
      }
      val latency = (System.nanoTime() - t1) / 1e9
      val read = base.inputFiles
      val total = Snapshots.snapshot(tables(table), version).entries.size
      Query(template, params.toMap, table, version, collected, result.columns.toSeq, latency,
        read.length, total, read.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum)
    }

    val templates = Seq("hour_agg", "key_probe", "distinct_hll", "quantiles", "cidr_enrich",
      "alert_context")

    // ---- the writer thread: one append (and the compaction after it) per
    // rotation start the analyst hands it; it ends on the first start it
    // takes after `stop` is set
    val writerFiles = IngestCommon.files(in.resolve("writer"))
    val commits = mutable.ArrayBuffer.empty[(Long, Double, Double)] // (due, latency, slip)
    val acked = mutable.ArrayBuffer.empty[(String, Long)]
    val due = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long]()
    val appended = new java.util.concurrent.Semaphore(0)
    @volatile var stop = false
    val writer = new Thread(() => {
      var k = 0
      var next = due.take().longValue
      while (!stop && k < writerFiles.size) {
        val slip = (System.nanoTime() - next) / 1e9
        val f = writerFiles(k)
        try {
          val n = ctx.trace.span("lake.append", s"w$k") {
            val df = rows(ctx, vpcflow, f.toString).persist()
            try { Snapshots.append(df, tables("vpcflow")); df.count() }
            finally df.unpersist()
          }
          commits.synchronized {
            commits += ((next, (System.nanoTime() - next) / 1e9, slip))
            acked += f.toString -> n
          }
          res.op(ok = true, "")
          // the hour before the previous one no longer receives late rows
          val closed = hourOf(t0 + (hours + k - 2) * 3600L)
          ctx.trace.span("lake.compact", s"w$k") {
            Snapshots.compactHour(spark, tables("vpcflow"), closed)
            Snapshots.expireSnapshots(tables("vpcflow"), keepLast = KeepSnapshots)
          }
        } catch {
          case e: Throwable => res.op(ok = false, s"writer append $f failed: $e")
        }
        appended.release()
        k += 1
        next = due.take().longValue
      }
    }, "hunt-writer")
    writer.setDaemon(true)
    writer.start()

    /** One rotation of the templates, a writer append starting with it;
      * returns the queries that completed (a failed one is counted here).
      */
    def rotation(): Seq[Query] = {
      due.put(System.nanoTime())
      templates.flatMap(t => try Some(query(t)) catch {
        case e: Throwable => res.op(ok = false, s"hunt query $t failed: $e"); None
      })
    }

    // the warm-up runs the timed mix, writer included, then lets the
    // writer finish so the window starts with it idle
    for (_ <- 1 to WarmRotations) rotation()
    res.op(appended.tryAcquire(WarmRotations, 60, java.util.concurrent.TimeUnit.SECONDS),
      "hunt warm-up: the writer did not finish its appends within 60 s")
    res.info("warmup_s") = (System.nanoTime() - warmStart) / 1e9
    res.memory(Main.liveMb())
    Main.log("hunt warm-up done")

    // ---- timed phase: the analyst (this thread) beside the writer
    val before = Profile.mark(ctx.trace)
    val vpcDir = Paths.get(tables("vpcflow"))
    def liveBytes(table: String): Double = Snapshots.current(tables(table)).get.entries
      .map(e => Files.size(Paths.get(tables(table)).resolve(e.file))).sum.toDouble
    val filesBefore = IngestCommon.parquetFiles(vpcDir).toSet
    val liveBefore = liveBytes("vpcflow")
    val done = mutable.ArrayBuffer.empty[Query]
    val rotations = mutable.ArrayBuffer.empty[Double] // wall seconds each
    val start = System.nanoTime()
    // templates rotate in a fixed order and the analyst stops only after a
    // whole rotation, so every run weighs them alike; the seed draws their
    // parameters
    while (rotations.isEmpty || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
      val r0 = System.nanoTime()
      for (q <- rotation()) { done += q; res.op(ok = true, "") }
      rotations += (System.nanoTime() - r0) / 1e9
    }
    // the analyst's window; the writer's in-flight work after it is not
    // analyst time
    val wall = (System.nanoTime() - start) / 1e9
    stop = true
    due.put(System.nanoTime())
    writer.join((ctx.seconds * 1000 + 60000).toLong)
    res.op(!writer.isAlive, "writer did not stop")
    res.memory(Main.liveMb())
    Main.log("hunt timed phase done")

    val lat = done.map(_.latency).toSeq
    res.metrics("throughput_per_s") = done.size / wall
    res.metrics("latency_p50_s") = Stats.median(lat)
    val events = Seq("vpcflow", "cloudtrail")
    res.metrics("lake_bytes_per_record") = events.map(liveBytes).sum /
      events.map(t => Snapshots.read(spark, tables(t)).count()).sum
    res.layer("hunt.query_p95_s") = Stats.quantile(lat, 0.95)
    res.info("queries") = done.size
    res.info("rotation_s") = rotations.toSeq
    // the writer's appends due in the window
    val inWindow = commits.filter(_._1 >= start).toSeq
    res.info("commit_p50_s") = Stats.median(inWindow.map(_._2))
    res.info("appends") = inWindow.size

    // ---- outputs for the launcher's DuckDB checks
    def cell(v: Any): Any = v match {
      case s: scala.collection.Seq[_] => s.map(cell)
      case t: java.sql.Timestamp => t.getTime
      case d: java.math.BigDecimal => d.doubleValue
      case other => other
    }
    val lines = done.map { q =>
      Json.obj("template" -> q.template, "params" -> q.params, "table" -> q.table,
        "version" -> q.version, "columns" -> q.columns, "latency_s" -> q.latency,
        "rows" -> q.rows.map(r => r.toSeq.map(cell)))
    }
    Files.writeString(ctx.work.resolve("hunt_queries.jsonl"), lines.mkString("\n") + "\n")
    Files.writeString(ctx.work.resolve("hunt_writer.json"), Json.obj(
      "acked" -> acked.map { case (f, n) => Json.Raw(Json.obj("path" -> f, "rows" -> n)) },
      "tables" -> tables))

    if (ctx.trace.on) {
      Profile.spark(ctx, before, wall)
      val layer = res.layer
      val self = ctx.trace.selfSeconds(start)
      layer("lake.append_s") = self.getOrElse("lake.append", 0.0) / math.max(1, inWindow.size)
      layer("lake.compact_s") = self.getOrElse("lake.compact", 0.0) / math.max(1, inWindow.size)
      layer("lake.commit_p50_s") = res.info("commit_p50_s")
      layer("operators.enrich_s") =
        Stats.median(done.filter(_.template == "cidr_enrich").map(_.latency).toSeq)
      layer("lake.files_scanned_ratio") =
        done.map(_.filesRead).sum.toDouble / math.max(1, done.map(_.filesTotal).sum)
      layer("lake.scan_bytes") = done.map(_.bytesRead).sum.toDouble / math.max(1, done.size)
      layer("loadgen.late_p95_s") = Stats.quantile(inWindow.map(_._3), 0.95)
      for (t <- templates)
        layer(s"hunt.${t}_s") = Stats.median(done.filter(_.template == t).map(_.latency).toSeq)
      // the hour-range aggregation with and without manifest pruning (the
      // whole snapshot read, then filtered on ts_hour), after the window so
      // neither competes with the writer: what the pruning saves stays
      // visible. Every read must give the same result.
      val hs = (0 until 3).map(i => hourOf(t0 + i * 3600L))
      def byPort(df: => DataFrame) = (0 until 3).map(_ => Main.timed(
        df.groupBy(col("destination.port").as("port"))
          .agg(count(lit(1)).as("flows"), sum(col("network.bytes")).as("bytes"))
          .collect().toSet))
      val pruned = byPort(Snapshots.readHours(spark, tables("vpcflow"), hs.toSet))
      val unpruned = byPort(
        Snapshots.read(spark, tables("vpcflow")).filter(col("ts_hour").isin(hs: _*)))
      res.op((pruned ++ unpruned).map(_._1).distinct.size == 1,
        "hour_agg: the pruned and unpruned reads differ")
      layer("hunt.hour_agg_pruned_s") = Stats.median(pruned.map(_._2))
      layer("hunt.hour_agg_unpruned_s") = Stats.median(unpruned.map(_._2))
      // files the timed window wrote: the writer's appends and compactions
      val written = IngestCommon.parquetFiles(vpcDir).filterNot(filesBefore)
      val writtenBytes = written.map(Files.size).sum.toDouble
      val live = Snapshots.current(tables("vpcflow")).get.entries
      val liveNow = liveBytes("vpcflow")
      layer("lake.files_written") = written.size
      layer("lake.bytes_written") = writtenBytes
      layer("lake.write_amplification") = writtenBytes / math.max(1.0, liveNow - liveBefore)
      layer("lake.files_per_hour") = live.size.toDouble / live.map(_.hour).distinct.size
    }
  }
}
