package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result and trace files. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** What one workload run reports back to the launcher. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Any]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  private val memSamples = mutable.ArrayBuffer.empty[Seq[Double]]

  /** Records one memory sample ([[Main.liveMb]]): heap, non-heap and
    * buffer pools. The metric is the largest sample of heap plus buffer
    * pools; non-heap (code cache, metaspace) tracks how much the JIT has
    * compiled by the time of the sample, so it is kept out of the metric
    * and only recorded.
    */
  def memory(parts: Seq[Double]): Unit = synchronized {
    memSamples += parts
    info("mem_samples_mb") = memSamples.toSeq
    metrics("mem_live_peak_mb") = memSamples.map(p => p(0) + p(2)).max
  }

  /** Count one operation; `ok = false` records it as failed with `why`. */
  def op(ok: Boolean, why: => String): Unit = synchronized {
    attempted += 1
    if (!ok) failures += why
  }
}

/** Context shared by the workloads of one run. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    inputs: Path, work: Path, trace: Trace, result: Result, cores: Int) {
  def dir(parts: String*): String = {
    val p = parts.foldLeft(work)(_ resolve _)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

/** Runs one workload in this JVM:
  * `Main <workload> <inputs dir> <work dir> <seed> <seconds> <trace 0|1> <cores>`.
  * Writes `<work>/result.json` (and `<work>/spans.json` when traced); the
  * launcher adds the DuckDB checks and prints the result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, seed, seconds, traced, cores) = args
    val n = cores.toInt
    val workDir = Paths.get(work).toAbsolutePath
    Files.createDirectories(workDir)
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$n]"), n)
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.registerFunctions(spark)
    val trace = new Trace(traced == "1")
    trace.register(spark)
    val result = new Result
    result.info("session_ready_ms") = System.currentTimeMillis()
    log("session ready")
    val ctx = Ctx(spark, seed.toLong, seconds.toDouble, Paths.get(inputs).toAbsolutePath,
      workDir, trace, result, n)
    val status =
      try {
        workload match {
          case "ingest" => IngestWorkload.run(ctx)
          case "hunt" => Hunt.run(ctx)
          case other => sys.error(s"unknown workload $other")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          result.op(ok = false, s"workload aborted: $e")
          1
      }
    log("workload done")
    trace.writeSpans(workDir.resolve("spans.json"))
    if (trace.on && workload == "ingest" && status == 0)
      try singleCore(ctx)
      catch { case e: Throwable => result.op(ok = false, s"single-core baseline failed: $e") }
    Files.writeString(workDir.resolve("result.json"), Json.obj(
      "metrics" -> result.metrics, "layer" -> result.layer, "info" -> result.info,
      "attempted" -> result.attempted, "failed" -> result.failures.size,
      "failures" -> result.failures.take(50), "status" -> status))
    SparkSession.active.stop()
    sys.exit(status)
  }

  /** The single-thread baseline of the traced ingest run: one backlog pass
    * on a `local[1]` session in the same, already warm JVM.
    */
  def singleCore(ctx: Ctx): Unit = {
    ctx.spark.stop()
    val one = GraftSession.configure(SparkSession.builder().master("local[1]"), 1)
      .config("spark.local.dir", ctx.work.resolve("spark-local").toString)
      .getOrCreate()
    GraftSession.registerFunctions(one)
    val main = ctx.inputs.resolve("main")
    val records = Pipelines.sources.map(s => IngestCommon.lineCount(main.resolve(s.name))).sum
    val t = IngestBacklog.pass(ctx.copy(spark = one, cores = 1), main, ctx.dir("baseline"),
      None, "baseline")
    ctx.result.layer("baseline.local1_throughput_per_s") = records / t
  }

  /** Memory the run holds live, in MiB, in three parts: heap used after a
    * full collection, the JVM's non-heap pools (metaspace, code cache) and
    * its NIO buffer pools (direct and mapped). Workloads take it at fixed
    * points outside their timed work, after the warm-up and after the timed
    * window, so it follows what the engine retains (caches, memo maps,
    * retained snapshots) rather than how full the fixed-size heap got.
    */
  def liveMb(): Seq[Double] = {
    import java.lang.management.{BufferPoolMXBean, ManagementFactory}
    import scala.jdk.CollectionConverters._
    val mem = ManagementFactory.getMemoryMXBean
    // the first collection enqueues the references Spark's ContextCleaner
    // acts on (broadcast and shuffle blocks of dropped frames); the second,
    // after it has had time to act, frees what it released
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = mem.getHeapMemoryUsage.getUsed
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum
    Seq(used, mem.getNonHeapMemoryUsage.getUsed, buffers)
      .map(_ / 1048576.0)
  }

  private val born = System.nanoTime()

  /** A progress line in the JVM's log, stamped with seconds since start. */
  def log(msg: String): Unit = println(f"[lakebench ${(System.nanoTime() - born) / 1e9}%7.2f] $msg")

  /** Wall seconds of `f`, with its value. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `f` with a deadline; a timeout or an exception is a failed op. */
  def bounded(ctx: Ctx, what: String, seconds: Double)(f: => Unit): Boolean = {
    import scala.concurrent._
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fut = Future(f)
    val ok = try { Await.result(fut, seconds.seconds); true }
    catch {
      case _: TimeoutException => false
      case e: Throwable => ctx.result.op(ok = false, s"$what failed: $e"); return false
    }
    ctx.result.op(ok, s"$what timed out after $seconds s")
    ok
  }
}
