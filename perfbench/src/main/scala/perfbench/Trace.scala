package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counts attributed to one span (jobs it launched, directly or
  * from pool threads that inherited its local property). */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var taskMs = 0L
  var recordsRead = 0L
  var schedWaitMs = 0L
  var exchanges = 0L
  var metaJobs = 0L
  var analysisMs = 0L
  var optimizeMs = 0L
  var planningMs = 0L
}

final case class Span(id: Long, name: String, parent: Long, op: Long,
    start: Long, var end: Long = -1L) {
  val counts = new Counts
}

/** In-memory span recorder plus the SparkListener / QueryExecutionListener
  * that attribute Spark work to spans. Until [[activate]] is called,
  * [[span]] only runs its body: no listener is registered and no property
  * is set, so an untraced run pays nothing for tracing. */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val stack = mutable.Stack[Span]()
  @volatile private var current: Span = _
  private var currentOp = 0L

  // job/stage/execution -> span
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobFirstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Span]()
  private val execPlan = new ConcurrentHashMap[Long, SparkPlanInfo]()

  private val MetaLabels = Set("cdc: watermark", "cdc: txn publish")

  /** Register the listeners and start recording spans. */
  def activate(): Unit = if (!enabled) {
    enabled = true
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val sp = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
          .flatMap(x => Option(spans.get(x.toLong)))
        sp.foreach { s =>
          jobSpan.put(e.jobId, s)
          jobSubmit.put(e.jobId, e.time)
          e.stageIds.foreach(st => stageJob.put(st, e.jobId))
          s.counts.synchronized {
            s.counts.jobs += 1
            if (p.flatMap(x => Option(x.getProperty("spark.job.description")))
                .exists(MetaLabels)) s.counts.metaJobs += 1
          }
          p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
            .foreach(x => execSpan.putIfAbsent(x.toLong, s))
        }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobSpan.get(j)))
          .foreach(s => s.counts.synchronized { s.counts.stages += 1 })
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        Option(stageJob.get(e.stageId)).foreach(j =>
          jobFirstLaunch.putIfAbsent(j, e.taskInfo.launchTime))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).flatMap(j => Option(jobSpan.get(j)))
          .foreach { s =>
            val m = e.taskMetrics
            s.counts.synchronized {
              s.counts.tasks += 1
              if (m != null) {
                s.counts.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
                s.counts.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
                s.counts.taskMs += m.executorRunTime
                s.counts.recordsRead += m.inputMetrics.recordsRead
              }
            }
          }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobSpan.get(e.jobId)).foreach { s =>
          val sub = jobSubmit.get(e.jobId)
          val first = Option(jobFirstLaunch.get(e.jobId)).map(_.longValue)
            .getOrElse(e.time)
          if (sub != null) s.counts.synchronized {
            s.counts.schedWaitMs += math.max(0L, first - sub)
          }
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          execPlan.put(x.executionId, x.sparkPlanInfo)
        case x: SparkListenerSQLAdaptiveExecutionUpdate =>
          execPlan.put(x.executionId, x.sparkPlanInfo)
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val s = current
        if (s != null) {
          val ph = qe.tracker.phases
          def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
          s.counts.synchronized {
            s.counts.analysisMs += ms("analysis")
            s.counts.optimizeMs += ms("optimization")
            s.counts.planningMs += ms("planning")
          }
        }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Start a new operation id (spans opened until the next call share it). */
  def newOp(): Unit = currentOp += 1

  /** Run `body` inside a span named `name` (tracing on), else just run it. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = if (stack.isEmpty) 0L else stack.top.id
      val sp = Span(nextId.getAndIncrement(), name, parent, currentOp, System.nanoTime())
      spans.put(sp.id, sp)
      val prevProp = sc.getLocalProperty(Tracer.SpanKey)
      stack.push(sp)
      current = sp
      sc.setLocalProperty(Tracer.SpanKey, sp.id.toString)
      try body
      finally {
        org.apache.spark.perfbench.Bus.drain(sc)
        sp.end = System.nanoTime()
        stack.pop()
        current = if (stack.isEmpty) null else stack.top
        sc.setLocalProperty(Tracer.SpanKey, prevProp)
      }
    }

  /** Every closed span, with exchange counts folded in from the final
    * (adaptive) physical plan of each SQL execution the span ran. */
  def finish(): Seq[Span] = {
    if (enabled) {
      org.apache.spark.perfbench.Bus.drain(sc)
      execSpan.asScala.foreach { case (ex, s) =>
        Option(execPlan.get(ex)).foreach { p =>
          s.counts.synchronized { s.counts.exchanges += Tracer.exchanges(p) }
        }
      }
    }
    spans.values.asScala.filter(_.end >= 0).toSeq.sortBy(_.id)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Shuffle exchanges in a plan tree (reused exchanges are not re-run). */
  def exchanges(p: SparkPlanInfo): Long =
    (if (p.nodeName == "Exchange") 1L else 0L) + p.children.map(exchanges).sum

  /** Self time of each span: its duration minus the union of its children's
    * intervals (children of one span run one after another on its thread,
    * but the union is taken anyway so overlap never counts twice). */
  def selfNanos(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start),
        math.min(c.end, s.end))).filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) covered += ce - cs
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}
