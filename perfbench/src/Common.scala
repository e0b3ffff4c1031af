package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one workload run is given. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
                     nproc: Int, work: File) {
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
  def measureNs: Long = (seconds * 1e9).toLong
}

/** One timed operation, tagged with its type; `cost` is its [[Cost]] id. */
final case class Sample(op: String, ms: Double, traced: Boolean, cost: Long) {
  def cpuMs: Double = Cost.cpuMs(cost)
}

/** What one workload run reports. The workload fills the CPU cost of its
  * operations and commits and its work per CPU-second, labelled lines in the
  * workload's own vocabulary, and its layer-specific metrics. */
final class Outcome {
  @volatile var attempted = 0L
  @volatile var failed = 0L
  @volatile var correct = true
  var setupS = 0.0
  var opCpuMs = Seq.empty[Double]
  var commitCpuMs = Seq.empty[Double]
  var opsPerCpuS = 0.0
  val lines = mutable.ArrayBuffer.empty[String]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  /** Set-up time: the median over the repeated set-ups. */
  def setup(reps: Seq[(Any, Double)]): Unit = setupS = Stats.median(reps.map(_._2 / 1000))

  def fail(what: String): Unit = synchronized {
    failed += 1
    correct = false
    System.err.println(s"perfbench: FAILED $what")
  }

  /** Count one operation; an exception or a failed check counts as failed. */
  def attempt(what: String)(body: => Boolean): Unit = {
    synchronized(attempted += 1)
    val ok = try body catch {
      case e: Exception =>
        e.printStackTrace()
        false
    }
    if (!ok) fail(what)
  }

  /** Report a timing as median and p90 with its sample count. */
  def timing(name: String, ms: Seq[Double]): Unit =
    lines += f"$name%s_p50 = ${Stats.pct(ms, 0.5)}%.3f ms, ${name}_p90 = ${Stats.pct(ms, 0.9)}%.3f ms (n=${ms.size}%d)"

  def line(name: String, value: Double, unit: String): Unit =
    lines += f"$name%s = $value%.6g $unit%s"
}

/** Phase marks on standard error, with seconds since the JVM started. */
object Log {
  def phase(what: String): Unit = System.err.println(
    f"perfbench: ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $what")
}

object Stats {
  /** Nearest-rank percentile; 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.min(s.size - 1, math.ceil(p * s.size).toInt - 1)))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Time `body`, returning (result, milliseconds). */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  /** Tracing overhead: median traced latency over median untraced latency
    * of the same operation types, in percent. */
  def overheadPct(samples: Seq[Sample]): Double = {
    val ratios = samples.groupBy(_.op).values.flatMap { ss =>
      val (t, u) = ss.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(median(t.map(_.ms)) / median(u.map(_.ms)))
    }.toSeq
    if (ratios.isEmpty) 0.0 else (median(ratios) - 1) * 100
  }
}

object Fs {
  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L) else f.length()

  /** Write `df` as the single parquet file `dest`. */
  def writeSingleParquet(df: org.apache.spark.sql.DataFrame, dest: File): Unit = {
    val tmp = new File(dest.getParentFile, dest.getName + ".tmp")
    df.coalesce(1).write.parquet(tmp.toString)
    tmp.listFiles().find(_.getName.endsWith(".parquet")).get.renameTo(dest)
    rm(tmp)
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
}

/** Order-independent content digest of a set of rows: row count plus the
  * sum of per-row hashes, so a Delta read and a replayed model compare
  * without sorting. */
final case class Digest(rows: Long, hash: Long)

object Digest {
  def ofValues(values: Iterable[Seq[Any]]): Digest =
    Digest(values.size, values.iterator.map(v => scala.util.hashing.MurmurHash3.seqHash(v).toLong).sum)
  def ofRows(rows: Iterable[Row]): Digest = ofValues(rows.map(_.toSeq))
}

/** Times one call into a layer. */
trait Timer {
  def apply[T](layer: String, name: String)(body: => T): T
}

/** Thread-safe sample log. */
final class Samples {
  private val q = new ConcurrentLinkedQueue[Sample]
  def add(s: Sample): Unit = q.add(s)
  def all: Seq[Sample] = q.asScala.toSeq
}

object Par {
  /** `xs.map(f)` on `threads` threads. */
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(() => f(x))).map(_.get()) finally pool.shutdown()
  }
}
