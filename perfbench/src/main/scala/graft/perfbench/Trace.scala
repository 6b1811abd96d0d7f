package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: an op, or a call into a layer inside an op. */
final case class Span(id: Long, name: String, layer: String, op: String,
                      parent: Long, start: Long, var end: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
}

/** Work counters summed over the stages of the jobs a span started. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs = 0L
  var shuffleRecords, shuffleBytes, spillBytes = 0L
  var inputRecords, inputBytes, outputBytes = 0L
}

/** Labels every Spark job with the innermost open span and, when
  * tracing, records the spans and the engine counters of their jobs.
  *
  * Jobs are attributed through a local property set on the client
  * thread (Spark copies local properties to the threads AQE and
  * broadcasts use), not through call-site names, which under AQE mostly
  * read `CompletableFuture.java`. Spans stay in memory until the run
  * writes them out.
  */
final class Tracer(spark: SparkSession) {
  /** On from [[start]] to [[stop]]: spans are kept and counters collected. */
  var tracing = false
  private val sc: SparkContext = spark.sparkContext
  private var nextId = 0L
  private val open = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  private val bySpan = mutable.Map[Long, Counters]()
  private val stageSpan = mutable.Map[Int, Long]()
  /** Planning phases of finished queries, as wall-clock ms intervals. */
  private val phases = mutable.ArrayBuffer[(Long, Long)]()
  private val (baseNs, baseMs) = (System.nanoTime(), System.currentTimeMillis())
  private def wallMs(ns: Long): Long = baseMs + (ns - baseNs) / 1000000L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
        .map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(stageSpan(_) = id)
      counters(id).jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      val c = counters(stageSpan.getOrElse(info.stageId, -1L))
      c.stages += 1
      c.tasks += info.numTasks
      Option(info.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputRecords += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases.synchronized { phases ++= qe.tracker.phases.values.map(p => (p.startTimeMs, p.endTimeMs)) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    tracing = true
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  private def counters(id: Long): Counters = bySpan.getOrElseUpdate(id, new Counters)

  /** The id the next span will get. */
  def nextSpanId: Long = nextId

  /** Runs `body` inside a span; jobs it starts carry the span's label. */
  def span[T](name: String, layer: String, op: String)(body: => T): T = {
    val parent = open.headOption
    val s = Span(nextId, name, layer, op, parent.map(_.id).getOrElse(-1L), System.nanoTime())
    nextId += 1
    open.push(s)
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    sc.setJobDescription(s"$op/$layer/$name")
    try body
    finally {
      s.end = System.nanoTime()
      open.pop()
      if (tracing) spans += s
      parent match {
        case Some(p) =>
          sc.setLocalProperty(Tracer.SpanKey, p.id.toString)
          sc.setJobDescription(s"${p.op}/${p.layer}/${p.name}")
        case None =>
          sc.setLocalProperty(Tracer.SpanKey, null)
          sc.setJobDescription(null)
      }
    }
  }

  /** Ends tracing: waits for pending listener events (query listeners
    * share the bus), so counters cover every finished job, then removes
    * the listeners, so later queries of the benchmark add nothing.
    */
  def stop(): Unit = if (tracing) {
    org.apache.spark.BenchBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    tracing = false
  }

  /** Counters of the jobs started directly inside span `id`. */
  def countersOf(id: Long): Counters = listener.synchronized { bySpan.getOrElse(id, new Counters) }

  /** Seconds of planning phases that ran inside an op's timed span. The
    * benchmark's own state checks run in `check` spans outside them, so
    * their queries are left out; attributing by time does not depend on
    * when the listener events arrive.
    */
  def planSeconds: Double = phases.synchronized {
    val timed = spans.filter(s => s.parent == -1L && s.name != "check")
      .map(s => (wallMs(s.start), wallMs(s.end)))
    // 1 ms of slack: the clocks are read at millisecond resolution
    phases.collect { case (b, e) if timed.exists { case (s, t) => s - 1 <= b && e <= t + 1 } => e - b }
      .sum / 1000.0
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Operator counts of an executed plan, final AQE stages included. */
final case class PlanShape(exchanges: Int, sorts: Int, smj: Int, bhj: Int,
                           logicalRdds: Int, scannedRows: Long)

object PlanShape extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): PlanShape = {
    def n(pf: PartialFunction[SparkPlan, Unit]): Int = collectWithSubqueries(plan)(pf).size
    PlanShape(
      exchanges = n { case _: ShuffleExchangeLike => () },
      sorts = n { case _: SortExec => () },
      smj = n { case _: SortMergeJoinExec => () },
      bhj = n { case _: BroadcastHashJoinExec => () },
      logicalRdds = n { case _: RDDScanExec => () },
      scannedRows = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum)
  }
}
