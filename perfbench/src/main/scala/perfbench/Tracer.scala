package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the benchmark's calls into each layer, plus a
  * Spark listener that charges every job, stage and task to the span that
  * caused it. The span id travels as a Spark local property set by the
  * benchmark on the calling thread; the program itself is not tagged.
  *
  * Nothing is written while the run is timed: the trace is serialized by
  * [[Layers.traceJson]] once the run ends.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext

  final class Span(val id: Int, val name: String, val parent: Int,
                   val iter: Int, val startNs: Long, val startMs: Long) {
    @volatile var endNs: Long = -1L
    @volatile var endMs: Long = Long.MaxValue
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Counts charged to one span by the listener. */
  final class Counters {
    var jobs, stages, failedStages, tasks, failedTasks, orphanTasks = 0L
    var jobMs, executorRunMs, shuffleWrite, shuffleRead, spillDisk = 0L
    var bytesWritten, recordsWritten = 0L
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private val spanById = new ConcurrentHashMap[Int, Span]()
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val jobSpan = new ConcurrentHashMap[Int, Integer]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile private var lastEventMs = System.currentTimeMillis()
  @volatile private var openJobs = 0
  private var nextId = 1
  @volatile var iteration = 0

  /** Catalyst phase seconds from every traced plan (analysis,
    * optimization, planning).
    */
  val phaseSeconds: mutable.Map[String, Double] =
    mutable.Map("analysis" -> 0.0, "optimization" -> 0.0, "planning" -> 0.0)

  private def countersOf(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(0)

  /** The span open on this thread. Not inherited: a pool thread created
    * inside a span must not count as inside it when it runs later work.
    */
  private val current = ThreadLocal.withInitial[Integer](() => 0)

  /** Run `body` inside a new span named `name`, child of the span open on
    * this thread. Jobs the body starts on this thread are charged to it.
    */
  def span[T](name: String)(body: => T): T = {
    val parent: Int = current.get
    val s = spans.synchronized {
      val sp = new Span(nextId, name, parent, iteration, System.nanoTime(),
        System.currentTimeMillis())
      nextId += 1
      spans += sp
      spanById.put(sp.id, sp)
      sp
    }
    current.set(s.id)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      current.set(parent)
      sc.setLocalProperty(SpanKey, if (parent == 0) null else parent.toString)
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
  def countersFor(span: Span): Counters = countersOf(span.id)
  def unattributed: Counters = countersOf(0)

  def start(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Detach after the listener bus has delivered everything it holds for
    * the traced calls (bounded wait; this runs outside the timed region).
    */
  def stop(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() < deadline &&
      (openJobs > 0 || System.currentTimeMillis() - lastEventMs < 300))
      Thread.sleep(50)
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventMs = System.currentTimeMillis()
    val s = spanOf(e.properties)
    openJobs += 1
    jobSpan.put(e.jobId, s)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(id => stageSpan.put(id, s))
    val c = countersOf(s)
    c.synchronized(c.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    openJobs -= 1
    val s: Int = Option(jobSpan.get(e.jobId)).map(_.intValue).getOrElse(0)
    val started = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
    val c = countersOf(s)
    c.synchronized(c.jobMs += e.time - started)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEventMs = System.currentTimeMillis()
    val s: Int = Option(stageSpan.get(e.stageInfo.stageId))
      .map(_.intValue).getOrElse(0)
    val c = countersOf(s)
    c.synchronized {
      c.stages += 1
      if (e.stageInfo.failureReason.isDefined) c.failedStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    val s: Int = Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(0)
    // a task that ends after the call that caused it returned is an
    // orphan: its work is not in that call's wall time
    val orphan = s != 0 &&
      Option(spanById.get(s)).exists(e.taskInfo.finishTime > _.endMs)
    val m = e.taskMetrics
    val c = countersOf(s)
    c.synchronized {
      c.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) c.failedTasks += 1
      if (orphan) c.orphanTasks += 1
      if (m != null) {
        c.executorRunMs += m.executorRunTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spillDisk += m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Add the planning phases of one executed plan. */
  def addPhases(qe: QueryExecution): Unit = phaseSeconds.synchronized {
    qe.tracker.phases.foreach { case (phase, summary) =>
      if (phaseSeconds.contains(phase))
        phaseSeconds(phase) += summary.durationMs / 1e3
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = addPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = addPhases(qe)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Process-wide counters read before and after a traced iteration. */
  final case class Gauges(codegenNs: Long, codegenClasses: Long, gcMs: Long) {
    def -(o: Gauges): Gauges = Gauges(codegenNs - o.codegenNs,
      codegenClasses - o.codegenClasses, gcMs - o.gcMs)
    def +(o: Gauges): Gauges = Gauges(codegenNs + o.codegenNs,
      codegenClasses + o.codegenClasses, gcMs + o.gcMs)
  }

  def gauges(): Gauges = Gauges(
    CodeGenerator.compileTime,
    CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum)
}
