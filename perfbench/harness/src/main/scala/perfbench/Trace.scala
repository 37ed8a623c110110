package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds (fractional), so
  * spans taken here and intervals reported by Spark's listeners (epoch
  * ms) share one clock. `parent` is 0 for a root, or -1 when the parent
  * is not known at record time (Spark work run on a thread the harness
  * does not own); the report attributes those by time. `trace` is the
  * id shared by every span of one gate or one request.
  */
final case class Span(
    id: Long,
    parent: Long,
    trace: Long,
    name: String,
    startMs: Double,
    endMs: Double,
    attrs: Seq[(String, Double)] = Nil)

/** In-memory span recorder. Disabled, `span` runs its body and records
  * nothing, so untraced runs pay one volatile read per call.
  */
object Tracer {
  val SpanProp = "perfbench.span"
  val TraceProp = "perfbench.trace"

  @volatile var enabled = false

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Record a finished interval as a child of the calling thread's span. */
  def child(name: String, startMs: Double, endMs: Double): Unit =
    if (enabled) {
      val (parent, trace) = current.get()
      spans.add(Span(nextId(), parent, trace, name, startMs, endMs))
    }

  /** Run `body` inside a span named `name`. `root` starts a new trace id
    * (one gate, one request). Spark jobs the body submits carry the span
    * and trace ids as local properties, so [[SparkTrace]] can parent
    * them.
    */
  def span[A](name: String, sc: SparkContext, root: Boolean = false)(body: => A): A =
    if (!enabled) body
    else {
      val (parent, parentTrace) = current.get()
      val id = nextId()
      val trace = if (root || parentTrace == 0L) id else parentTrace
      current.set((id, trace))
      sc.setLocalProperty(SpanProp, id.toString)
      sc.setLocalProperty(TraceProp, trace.toString)
      val t0 = nowMs()
      try body
      finally {
        spans.add(Span(id, parent, trace, name, t0, nowMs()))
        current.set((parent, parentTrace))
        sc.setLocalProperty(SpanProp, if (parent == 0L) null else parent.toString)
        sc.setLocalProperty(TraceProp, if (parentTrace == 0L) null else parentTrace.toString)
      }
    }
}

/** Spark-side recorders for the traced run: jobs and stages (with their
  * task metrics), Catalyst phases, and streaming triggers. Every event
  * arrives on Spark's asynchronous listener bus; the harness stops the
  * SparkContext, which drains the bus, before it reads them.
  */
final class SparkTrace(spark: SparkSession) {

  private final class JobAcc(val id: Long, val parent: Long, val trace: Long, val startMs: Long) {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var schedDelayMs = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
  }

  private val jobs = mutable.HashMap.empty[Int, JobAcc]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // span and trace of jobs that ended, for stages reported after their job
  private val jobSpanOf = mutable.HashMap.empty[Int, Long]
  private val jobTraceOf = mutable.HashMap.empty[Int, Long]

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(-1L)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val parent = prop(e.properties, Tracer.SpanProp)
      val trace = prop(e.properties, Tracer.TraceProp)
      jobs(e.jobId) = new JobAcc(Tracer.nextId(), parent, trace, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { j =>
        Tracer.record(Span(j.id, j.parent, j.trace, "exec.job", j.startMs.toDouble,
          e.time.toDouble, Seq(
            "tasks" -> j.tasks.toDouble, "run_ms" -> j.runMs.toDouble,
            "cpu_ms" -> j.cpuNs / 1e6, "sched_delay_ms" -> j.schedDelayMs.toDouble,
            "shuffle_read_b" -> j.shuffleReadB.toDouble,
            "shuffle_write_b" -> j.shuffleWriteB.toDouble,
            "spill_b" -> j.spillB.toDouble)))
        jobSpanOf(e.jobId) = j.id
        jobTraceOf(e.jobId) = j.trace
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      for {
        start <- info.submissionTime
        end <- info.completionTime
        jobId <- stageJob.get(info.stageId)
      } {
        val (parent, trace) = jobs.get(jobId).map(j => (j.id, j.trace))
          .getOrElse((jobSpanOf.getOrElse(jobId, -1L), jobTraceOf.getOrElse(jobId, -1L)))
        Tracer.record(Span(Tracer.nextId(), parent, trace, "exec.stage", start.toDouble,
          end.toDouble, Seq("tasks" -> info.numTasks.toDouble)))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId); m <- Option(e.taskMetrics)) {
        val info = e.taskInfo
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        val total = info.finishTime - info.launchTime
        j.schedDelayMs += math.max(0L, total - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        j.spillB += m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPlan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordPlan(qe)
  }

  private def recordPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val interpreted = SparkTrace.interpretedNodes(qe)
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
    val id = Tracer.nextId()
    // the plan span covers Catalyst's phases only; its execution shows as
    // the jobs it submitted
    val end = phases.values.map(_.endTimeMs).maxOption.getOrElse(start)
    Tracer.record(Span(id, -1L, -1L, "catalyst.plan", start.toDouble, end.toDouble,
      Seq("interpreted_nodes" -> interpreted.toDouble)))
    for (ph <- Seq("analysis", "optimization", "planning"); s <- phases.get(ph))
      Tracer.record(Span(Tracer.nextId(), id, -1L, s"catalyst.$ph", s.startTimeMs.toDouble,
        s.endTimeMs.toDouble))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val total = d.getOrElse("triggerExecution", p.batchDuration).toDouble
      Tracer.record(Span(Tracer.nextId(), -1L, -1L, "streaming.trigger", start, start + total,
        Seq("add_batch_ms" -> d.getOrElse("addBatch", 0L).toDouble,
          "query_planning_ms" -> d.getOrElse("queryPlanning", 0L).toDouble,
          "wal_commit_ms" -> d.getOrElse("walCommit", 0L).toDouble)))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }
}

object SparkTrace {

  /** CodegenFallback expressions in operators that whole-stage codegen
    * does not cover: each is evaluated row by row by the interpreter.
    * Descends through adaptive plans, query stages and subqueries.
    */
  def interpretedNodes(qe: QueryExecution): Int = {
    def walk(p: SparkPlan, inStage: Boolean): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inStage = false)
      case q: QueryStageExec => walk(q.plan, inStage = false)
      case w: WholeStageCodegenExec => walk(w.child, inStage = true)
      case i: InputAdapter => walk(i.child, inStage = false)
      case _: ReusedExchangeExec => 0
      case other =>
        val own =
          if (inStage) 0
          else other.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
        own + other.children.map(walk(_, inStage)).sum +
          other.subqueries.map(walk(_, inStage = false)).sum
    }
    // a plan that failed to build has nothing executed to count
    try walk(qe.executedPlan, inStage = false)
    catch { case scala.util.control.NonFatal(_) => 0 }
  }
}
