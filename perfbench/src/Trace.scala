package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.jdk.CollectionConverters._

/** One timed call into a graft layer. Spark work launched while the span is
  * the innermost one on its thread is attributed to it by [[Attribution]]. */
final class Span(val id: Long, val layer: String, val name: String,
                 val parent: Span, val request: Long, val startNs: Long) {
  @volatile var endNs: Long = 0L
  /** Time covered by child spans; children of one span run one after the
    * other on its thread, so their durations never overlap. */
  @volatile var childNs: Long = 0L
  /** Free-form mark set from inside the span, e.g. "miss" on a cache miss. */
  @volatile var tag: String = ""
  val jobs = new LongAdder
  val tasks = new LongAdder
  val executorNs = new LongAdder
  val shuffleBytes = new LongAdder
  def durNs: Long = endNs - startNs
  def selfNs: Long = durNs - childNs
}

/** Spans around the benchmark's calls into graft's public API.
  *
  * Off (the untraced runs), [[span]] is one volatile read and a call of the
  * body: no clock reads, no allocation beyond the body's closure, no Spark
  * local property and no listener. On, each span records name, start, end,
  * parent and request id in memory, and sets the Spark local property
  * [[SpanProperty]] so the registered [[Attribution]] listener can charge
  * jobs, tasks, executor time and shuffle bytes to it. A thread can opt
  * out of tracing per request ([[untraced]]) so one traced run can compare
  * traced and untraced requests. */
object Trace {
  val SpanProperty = "perfbench.span"
  val Layers: Seq[String] =
    Seq("catalog", "delta.read", "delta.write", "sql", "ops", "text", "dedup", "sim", "stream")

  @volatile private var on = false
  private var sc: SparkContext = _
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private[perfbench] val live = new ConcurrentHashMap[Long, Span]
  private val current = new ThreadLocal[Span]
  private val skip = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private val requests = new AtomicLong
  private val attribution = new Attribution

  def enable(context: SparkContext): Unit = {
    sc = context
    context.addSparkListener(attribution)
    on = true
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body else traced(layer, name, body)

  /** A root span: one client request; its children share its id. */
  def request[T](name: String)(body: => T): T =
    if (!on) body else {
      current.remove()
      traced("request", name, body)
    }

  /** Mark the innermost open span of this thread. */
  def tag(t: String): Unit = if (on) {
    val s = current.get()
    if (s != null) s.tag = t
  }

  /** Run `body` with tracing off on this thread (tracing-overhead samples). */
  def untraced[T](body: => T): T = {
    if (!on) body else {
      skip.set(true)
      try body finally skip.set(false)
    }
  }

  private def traced[T](layer: String, name: String, body: => T): T = {
    if (skip.get()) return body
    val parent = current.get()
    val req = if (parent == null) requests.incrementAndGet() else parent.request
    val s = new Span(ids.incrementAndGet(), layer, name, parent, req, System.nanoTime())
    live.put(s.id, s)
    current.set(s)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      spans.add(s)
      current.set(parent)
      sc.setLocalProperty(SpanProperty, if (parent == null) null else parent.id.toString)
      if (parent != null) parent.childNs += s.durNs
    }
  }

  /** Every finished span, once all listener events have been delivered. */
  def finished(): Seq[Span] = {
    if (sc != null) org.apache.spark.PerfbenchBus.drain(sc)
    spans.asScala.toSeq
  }

  /** The six generic metrics of each layer (zero for a layer not called). */
  def layerMetrics(all: Seq[Span]): Seq[(String, Double, String)] = {
    val byLayer = all.groupBy(_.layer)
    Layers.flatMap { l =>
      val ss = byLayer.getOrElse(l, Nil)
      def sum(f: Span => Long) = ss.iterator.map(f).sum
      Seq(
        (s"$l.self_s", sum(_.selfNs) / 1e9, "s"),
        (s"$l.calls", ss.size.toDouble, "count"),
        (s"$l.jobs", sum(_.jobs.sum).toDouble, "count"),
        (s"$l.tasks", sum(_.tasks.sum).toDouble, "count"),
        (s"$l.executor_s", sum(_.executorNs.sum) / 1e9, "s"),
        (s"$l.shuffle_bytes", sum(_.shuffleBytes.sum).toDouble, "bytes"))
    }
  }
}

/** Charges Spark jobs and their tasks to the span that launched them. */
final class Attribution extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
    id.flatMap(i => Option(Trace.live.get(i.toLong))).foreach { s =>
      s.jobs.increment()
      e.stageIds.foreach(st => stageSpan.put(st, s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    if (s != null) {
      s.tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        s.executorNs.add(m.executorRunTime * 1000000L)
        s.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      }
    }
  }
}
