package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Executor task time of the whole run: one global counter, read as
  * deltas around the timed section. Installed on every run, traced or not.
  */
final class TaskCounter extends SparkListener {
  val taskMs, cpuNs = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      taskMs.addAndGet(e.taskMetrics.executorRunTime)
      cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
    }
}

/** One traced interval: a build phase or step, or one op call (then
  * `name` is the op and `layer` its group). `timed` marks the calls of
  * the timed section. Counters are filled by [[Tracer]].
  */
final class Span(val id: Int, val name: String, val layer: String,
    val parent: Int, val timed: Boolean) {
  val start: Long = System.nanoTime()
  var end: Long = 0L
  var gcMs: Long = 0L
  val taskMs, shuffleBytes, spillBytes, stages, tasks = new AtomicLong
  def wallS: Double = (end - start) / 1e9
}

/** Spans kept in memory, plus a Spark listener that attributes task
  * metrics to them by job group: every span sets the job group
  * `pb-<id>` on the calling thread (threads a call starts inherit it).
  * Streaming queries run their batches under their own run id as job
  * group; a query's run id is mapped to the span active when it started.
  * Jobs under any other group count as unattributed.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc: SparkContext = spark.sparkContext
  private val spans = new ArrayBuffer[Span]
  private val ids = new AtomicInteger
  // each thread's open spans, innermost first
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  // the span started last on any thread: a streaming query started by a
  // call belongs to it, as calls are made one at a time
  @volatile private var latest: Option[Span] = None
  private val byId = new ConcurrentHashMap[Int, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val runSpan = new ConcurrentHashMap[String, Span]
  val unattributedTaskMs = new AtomicLong

  /** Summed durations (ms) of the streaming trigger phases, by phase. */
  val triggerMs = new ConcurrentHashMap[String, AtomicLong]
  val triggers, inputRows = new AtomicLong

  /** Innermost open span of the calling thread. */
  def current: Option[Span] = stack.get.headOption

  /** Run `body` in a new span, a child of `parent` (by default the
    * calling thread's innermost span).
    */
  def inSpan[T](name: String, layer: String, timed: Boolean,
      parent: Option[Span] = None)(body: => T): T = {
    val sp = new Span(ids.incrementAndGet(), name, layer,
      parent.orElse(current).fold(0)(_.id), timed)
    spans.synchronized(spans += sp)
    byId.put(sp.id, sp)
    stack.set(sp :: stack.get)
    latest = Some(sp)
    sc.setJobGroup(s"pb-${sp.id}", name, interruptOnCancel = false)
    val gc0 = Tracer.gcMs()
    try body
    finally {
      sp.gcMs = Tracer.gcMs() - gc0
      sp.end = System.nanoTime()
      stack.set(stack.get.tail)
      current match {
        case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap { g =>
        if (g.startsWith("pb-")) Option(byId.get(g.drop(3).toInt))
        else Option(runSpan.get(g))
      }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach(sp => e.stageIds.foreach(stageSpan.put(_, sp)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Option(stageSpan.get(e.stageId)) match {
      case Some(sp) =>
        sp.taskMs.addAndGet(m.executorRunTime)
        sp.tasks.incrementAndGet()
        sp.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        sp.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      case None => unattributedTaskMs.addAndGet(m.executorRunTime)
    }
  }

  /** Maps each streaming run to the active span and sums trigger phases
    * of the runs started inside timed calls.
    */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      latest.foreach(sp => runSpan.put(e.runId.toString, sp))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(runSpan.get(e.progress.runId.toString)).filter(_.timed).foreach { _ =>
        triggers.incrementAndGet()
        inputRows.addAndGet(e.progress.numInputRows)
        e.progress.durationMs.asScala.foreach { case (k, v) =>
          triggerMs.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v.longValue)
        }
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Every span so far, in start order. */
  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Subtree of a span (itself included). */
  def subtree(root: Span): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(walk)
    walk(root)
  }
}

object Tracer {
  /** Collection time of every garbage collector of this JVM, in ms. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
}
