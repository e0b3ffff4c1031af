package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** CPU cost of each timed operation: the CPU time of the client thread that
  * issued it plus the executor CPU time of every Spark task of the jobs it
  * launched (jobs carry the operation's id in the Spark local property
  * [[OpProperty]], which threads the operation starts inherit).
  *
  * Wall time on a shared host includes the time the hypervisor runs other
  * tenants (steal); CPU time does not, so CPU cost stays comparable between
  * runs when the host's load changes. */
object Cost {
  val OpProperty = "perfbench.op"

  private var sc: SparkContext = _
  private val threads = ManagementFactory.getThreadMXBean
  private val ids = new AtomicLong
  private val clientNs = new ConcurrentHashMap[Long, java.lang.Long]
  private val taskNs = new ConcurrentHashMap[Long, LongAdder]
  private val stageOp = new ConcurrentHashMap[Int, LongAdder]

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).foreach { id =>
        val adder = taskNs.get(id.toLong)
        if (adder != null) e.stageIds.foreach(stageOp.put(_, adder))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val adder = stageOp.get(e.stageId)
      if (adder != null && e.taskMetrics != null)
        adder.add(e.taskMetrics.executorCpuTime + e.taskMetrics.executorDeserializeCpuTime)
    }
  }

  def install(context: SparkContext): Unit = {
    sc = context
    context.addSparkListener(Listener)
  }

  /** Run `body` as one operation: (result, wall ms, operation id). */
  def measure[T](body: => T): (T, Double, Long) = {
    val id = ids.incrementAndGet()
    taskNs.put(id, new LongAdder)
    val prev = sc.getLocalProperty(OpProperty)
    sc.setLocalProperty(OpProperty, id.toString)
    val c0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, Stats.ms(t0), id)
    } finally {
      clientNs.put(id, threads.getCurrentThreadCpuTime - c0)
      sc.setLocalProperty(OpProperty, prev)
    }
  }

  /** Wait until every task event has arrived. */
  def settle(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** CPU milliseconds of operation `id` (call [[settle]] first). */
  def cpuMs(id: Long): Double = {
    (Option(clientNs.get(id)).map(_.longValue).getOrElse(0L) +
      Option(taskNs.get(id)).map(_.sum).getOrElse(0L)) / 1e6
  }
}
