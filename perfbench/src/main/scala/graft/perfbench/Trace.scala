package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from the bench's own calls into the engine's layers,
  * kept in memory and written out at the end of the run.
  *
  * A span is (id, parent, name, start, end). The parent is the span
  * open on the calling thread when it began. While a span is open its
  * id is the thread-local Spark property [[SpanProp]], so the listener
  * below folds each job's task metrics onto the span that launched it.
  * Jobs launched by threads that carry no open span (a streaming
  * query's own thread inherits the property of the span that started
  * it) fold onto span 0, the pass as a whole.
  *
  * With tracing off, [[span]] only runs its body: no listener is
  * registered and nothing is recorded.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val done = ArrayBuffer.empty[Span]
  private val open = new ConcurrentHashMap[Long, java.lang.Boolean]()

  def span[T](sc: SparkContext, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val parent = parents.headOption.getOrElse(0L)
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set(id :: parents)
      open.put(id, java.lang.Boolean.TRUE)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.remove(id)
        sc.setLocalProperty(SpanProp, prevProp)
        stack.set(parents)
        done.synchronized { done += Span(id, parent, name, t0, t1) }
      }
    }

  def isOpen(id: Long): Boolean = open.containsKey(id)

  def spans: Seq[Span] = done.synchronized(done.toList)
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String,
      startNs: Long, endNs: Long)

  /** Task metrics folded per span id. */
  final class Counters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputBytes = 0L
    var outputBytes = 0L
  }

  /** Job/stage/task accounting plus the task run intervals (wall clock
    * ms, for the idle-time union). Driver and stream phases come from
    * the query-execution and streaming listeners below. */
  final class Listener(trace: Trace) extends SparkListener {
    val perSpan = new ConcurrentHashMap[Long, Counters]()
    private val stageSpan = new ConcurrentHashMap[Int, Long]()
    val taskIntervals = ArrayBuffer.empty[(Long, Long)]
    @volatile var active: Boolean = false

    private def counters(span: Long): Counters =
      perSpan.computeIfAbsent(span, _ => new Counters)

    private def spanOf(props: java.util.Properties): Long = {
      val p = Option(props).flatMap(x => Option(x.getProperty(SpanProp)))
      p.map(_.toLong).filter(trace.isOpen).getOrElse(0L)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (active) {
        val s = spanOf(e.properties)
        val c = counters(s)
        c.synchronized { c.jobs += 1 }
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (active) {
        val s = Option(stageSpan.get(e.stageInfo.stageId))
          .map(_.longValue).getOrElse(spanOf(e.properties))
        stageSpan.put(e.stageInfo.stageId, s)
        val c = counters(s)
        c.synchronized { c.stages += 1 }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (active && e.taskInfo != null) {
        val s = Option(stageSpan.get(e.stageId)).map(_.longValue)
          .getOrElse(0L)
        val c = counters(s)
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.inputBytes += m.inputMetrics.bytesRead
            c.outputBytes += m.outputMetrics.bytesWritten
          }
        }
        taskIntervals.synchronized {
          taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        }
      }
  }

  /** Analysis + optimization + planning time of every finished query
    * execution (driver-side work before the first job). */
  final class PlanListener extends QueryExecutionListener {
    val planMs = new AtomicLong(0)
    @volatile var active: Boolean = false
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      if (active) planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Micro-batch counts: all, and those with zero input rows. */
  final class StreamListener extends StreamingQueryListener {
    val batches = new AtomicLong(0)
    val empty = new AtomicLong(0)
    @volatile var active: Boolean = false
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active) {
        batches.incrementAndGet()
        if (e.progress.numInputRows == 0) empty.incrementAndGet()
      }
  }

  /** The three listeners, registered on `spark` when tracing is on. */
  final class Listeners(spark: SparkSession, trace: Trace) {
    val tasks = new Listener(trace)
    val plans = new PlanListener
    val streams = new StreamListener
    if (trace.enabled) {
      spark.sparkContext.addSparkListener(tasks)
      spark.listenerManager.register(plans)
      spark.streams.addListener(streams)
    }
    def setActive(on: Boolean): Unit = {
      tasks.active = on; plans.active = on; streams.active = on
    }
    /** Let the asynchronous listener bus deliver pending events. */
    def drain(): Unit = if (trace.enabled) {
      org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext, 30000L)
    }
  }
}
