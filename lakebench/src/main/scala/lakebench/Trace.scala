package lakebench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `trace` groups the spans of one pass,
  * micro-batch or hunt query; `parent` is the span that was open on the
  * same thread when this one started.
  */
final case class Span(id: Long, name: String, trace: String, parent: Long,
    startNs: Long, var endNs: Long = 0L)

/** Spark work attributed to a span through the job-group property. */
final class Work {
  var jobs, stages, tasks, failedTasks = 0L
  var busyMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    busyMs += o.busyMs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
  }
}

/** Spans and counters recorded from the benchmark's own code.
  *
  * Untraced runs build it with `on = false`: `span` only runs its body,
  * and no listener is registered, so end-to-end numbers carry no tracing
  * cost.
  * Traced runs register one SparkListener, one QueryExecutionListener and
  * one StreamingQueryListener. Jobs are attributed to the span open on
  * the submitting thread through a local property, which Spark copies
  * into every job it starts for that thread (and into the threads of
  * streaming queries started under the span). Spans stay in memory and
  * are written out once, at exit.
  */
class Trace(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def span[A](name: String, trace: String = "")(f: => A): A =
    if (!on) f
    else {
      val parents = stack.get
      val s = Span(ids.incrementAndGet(), name,
        if (trace.nonEmpty) trace else parents.headOption.map(_.trace).getOrElse(name),
        parents.headOption.map(_.id).getOrElse(0L), System.nanoTime())
      stack.set(s :: parents)
      val sc = SparkSession.active.sparkContext
      val prev = sc.getLocalProperty(Trace.SpanProp)
      sc.setLocalProperty(Trace.SpanProp, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        sc.setLocalProperty(Trace.SpanProp, prev)
        stack.set(parents)
        spans.add(s)
      }
    }

  // ---- counters, filled by the listeners ------------------------------
  val total = new Work
  val bySpan = mutable.Map.empty[Long, Work]
  private val stageSpan = mutable.Map.empty[Int, Long]
  var planningMs, codegenFallbackNodes, exchanges = 0L
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private def work(span: Long): Work = bySpan.getOrElseUpdate(span, new Work)

  def register(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
          .map(_.toLong).getOrElse(0L)
        e.stageIds.foreach(stageSpan(_) = span)
        total.jobs += 1; work(span).jobs += 1
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Trace.this.synchronized {
          total.stages += 1
          work(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
        val w = new Work
        w.tasks = 1
        if (!e.taskInfo.successful) w.failedTasks = 1
        Option(e.taskMetrics).foreach { m =>
          w.busyMs = m.executorRunTime
          w.gcMs = m.jvmGCTime
          w.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead = m.shuffleReadMetrics.totalBytesRead
          w.spill = m.memoryBytesSpilled + m.diskBytesSpilled
        }
        total.add(w)
        work(stageSpan.getOrElse(e.stageId, 0L)).add(w)
      }
    })
    spark.listenerManager.register(new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases
        // eager commands (writes) carry their physical plan beside the tree
        val plan = qe.executedPlan match {
          case c: CommandResultExec => c.commandPhysicalPlan
          case p => p
        }
        val fallback = collect(plan)({ case p => p.expressions.flatMap(_.collect {
          case c: CodegenFallback => c })
        }).map(_.size).sum
        val shuffles = collect(plan)({ case s: ShuffleExchangeLike => s }).size
        Trace.this.synchronized {
          planningMs += Seq("analysis", "optimization", "planning")
            .flatMap(phases.get).map(_.durationMs).sum
          codegenFallbackNodes += fallback
          exchanges += shuffles
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Trace.this.synchronized { progress += e }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** A copy of the totals, to difference around a timed window. */
  def snapshot(): Work = synchronized { val w = new Work; w.add(total); w }

  /** Self time per span name, in seconds, over the spans started at or
    * after `sinceNs`: duration minus the part of it the span's children
    * cover.
    */
  def selfSeconds(sinceNs: Long): Map[String, Double] = {
    val all = spans.toArray(Array.empty[Span]).filter(_.startNs >= sinceNs)
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = Trace.union(children.getOrElse(s.id, Array.empty[Span])
          .map(c => (c.startNs, c.endNs)).toSeq)
        (s.endNs - s.startNs - covered).toDouble / 1e9
      }.sum
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = if (on) {
    val work = synchronized(bySpan.toMap)
    val rows = spans.toArray(Array.empty[Span]).sortBy(_.startNs).map { s =>
      val w = work.getOrElse(s.id, new Work)
      Json.obj("id" -> s.id, "name" -> s.name, "trace" -> s.trace, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> w.jobs, "tasks" -> w.tasks,
        "task_busy_ms" -> w.busyMs, "shuffle_write_bytes" -> w.shuffleWrite)
    }
    java.nio.file.Files.writeString(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Trace {
  val SpanProp = "lakebench.span"

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered, reach = 0L
    var started = false
    for ((s, e) <- iv.sortBy(_._1)) {
      if (!started || s >= reach) { covered += e - s; reach = e; started = true }
      else if (e > reach) { covered += e - reach; reach = e }
    }
    covered
  }
}
