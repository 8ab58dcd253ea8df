package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `op` is the closed-loop op index, -1 for
  * set-up. Spans nest: `parent` is the enclosing span (0 = none). */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      startNs: Long, endNs: Long, attrs: Map[String, Double])

/** Spark runtime counters of the jobs one span started. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Span recorder for the benchmark's single client thread. Spans are kept
  * in memory and written out when the run ends. While a span is open, its
  * id is the Spark job group, so the listener can attribute every job,
  * stage and task to the innermost span that caused it. Disabled, `span`
  * only runs its body. */
object Trace {
  @volatile var enabled = false
  var op = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new SpanListener
  private var stack = List.empty[Int]
  private var nextId = 1
  private var pendingAttrs = Map.empty[String, Double]
  private var sc: SparkContext = _

  def bind(context: SparkContext): Unit = { sc = context }

  /** Attach a number to the innermost open span. */
  def attr(k: String, v: Double): Unit = if (enabled) pendingAttrs += k -> v

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val outerAttrs = pendingAttrs
      pendingAttrs = Map.empty
      stack = id :: stack
      sc.setJobGroup(id.toString, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, op, t0, t1, pendingAttrs)
        pendingAttrs = outerAttrs
        if (parent == 0) sc.clearJobGroup() else sc.setJobGroup(parent.toString, "")
      }
    }

  /** Turn tracing on or off; turning it off waits for the listener to see
    * every event posted so far. */
  def set(on: Boolean): Unit = if (on != enabled) {
    if (on) sc.addSparkListener(listener)
    else { drain(); sc.removeSparkListener(listener) }
    enabled = on
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.GraftbenchBus.drain(sc)
}

final class SpanListener extends SparkListener {
  val bySpan = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def of(span: Int): Counters = synchronized(bySpan.getOrElseUpdate(span, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toIntOption).getOrElse(0)
    synchronized(e.stageIds.foreach(s => stageSpan(s) = span))
    of(span).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(synchronized(stageSpan.getOrElse(e.stageInfo.stageId, 0))).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(synchronized(stageSpan.getOrElse(e.stageId, 0)))
    c.tasks += 1
    if (!e.taskInfo.successful) c.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      // the Spark UI's definition: task wall time not spent deserializing,
      // running, serializing the result or fetching it
      c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
    }
  }
}
