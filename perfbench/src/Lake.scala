package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}

import graft.delta.DeltaSnapshotReader
import org.apache.spark.sql.Row

import scala.jdk.CollectionConverters._

/** `lake`: closed-loop readers and writers over a seeded Delta lake.
  *
  * `nproc/2` writers each own one table of [[LakeWrite]] (deletion vectors,
  * copy-on-write) and replay its operation log. The other `nproc/2` clients
  * read: the [[LakeRead]] request cycle over the lake, followed in each
  * cycle by one fresh read of each written table's latest snapshot. */
object Lake {
  val SetupReps = 2
  /** Reader request slots: the lake request cycle, then one fresh read of
    * each written table. */
  val Cycle: Int = LakeRead.CycleLength + LakeWrite.Table.size
  /** Timed operations per reader and per writer: every run measures the
    * same operations, so their costs compare across runs. */
  val ReaderOps = 2 * Cycle
  val WriterOps = 5

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    Log.phase("setup")
    // one set-up = the read lake plus the written tables, all from the seed
    val setups = (0 until SetupReps).map(k => Stats.timed((LakeRead.build(ctx, k), LakeWrite.setup(ctx, k))))
    out.setup(setups)
    val (lake, states) = setups.last._1
    LakeRead.register(lake)
    // the writers start at different points of the operation cycle, so
    // their measured operations together cover the API DML, the SQL-text
    // DML and OPTIMIZE
    val logs = states.indices.map(t => LakeWrite.opLog(ctx.seed, t, t * WriterOps))
    val writers = states.size
    val readers = math.max(1, ctx.nproc - writers)

    val readStats = new ReadStats(ctx.trace)
    val writeStats = new WriteStats(ctx.trace)
    val requests = (0 until readers).map(c => LakeRead.requests(ctx.seed, c, 4000, readStats))
    val queries, commits = new Samples
    val answers = new ConcurrentLinkedQueue[(LakeRead.Req, Seq[Row])]
    val fresh = new ConcurrentLinkedQueue[(Int, Row)]
    val barrier = new CyclicBarrier(readers + writers)
    @volatile var deadline = Long.MaxValue
    val writing = new java.util.concurrent.CountDownLatch(writers)
    // when the last reader and the last writer finished their measured operations
    val readsDone, writesDone = new java.util.concurrent.atomic.AtomicLong
    def startTogether(): Unit = {
      if (barrier.await() == 0) deadline = System.nanoTime() + ctx.measureNs
      barrier.await()
    }

    val readerThreads = (0 until readers).map { c => new Thread(() => {
      var i = 0
      def one(timed: Boolean): Unit = {
        // in a traced run every other cycle runs untraced, for the overhead
        val traced = ctx.trace && (i / Cycle) % 2 == 0
        val slot = i % Cycle
        val (op, run): (String, () => Unit) =
          if (slot < LakeRead.CycleLength) {
            val r = requests(c)(i)
            (r.op, () => answers.add(r -> r.run(lake)))
          } else {
            val t = slot - LakeRead.CycleLength
            ("fresh_read", () => fresh.add(t -> LakeWrite.freshRead(spark, states(t), readStats)))
          }
        val (_, ms, cost) = Cost.measure {
          out.attempt(s"$op request") {
            if (traced) Trace.request(op)(run()) else Trace.untraced(run())
            true
          }
        }
        if (timed) queries.add(Sample(op, ms, traced, cost))
        i += 1
      }
      while (i < LakeRead.WarmUp) one(timed = false)
      startTogether()
      // the first ReaderOps requests are measured; reading goes on while
      // the writers measure theirs, so every writer operation sees readers
      while (i < LakeRead.WarmUp + ReaderOps ||
          (i < requests(c).size && (System.nanoTime() < deadline || writing.getCount > 0))) {
        one(timed = i < LakeRead.WarmUp + ReaderOps)
        if (i == LakeRead.WarmUp + ReaderOps) readsDone.accumulateAndGet(System.nanoTime(), (a, b) => math.max(a, b))
      }
    }, s"reader-$c") }
    val writerThreads = states.indices.map { t => new Thread(() => {
      startTogether()
      try LakeWrite.writer(ctx, t, states(t), logs(t), WriterOps, deadline, out, commits, writeStats,
        () => writesDone.accumulateAndGet(System.nanoTime(), (a, b) => math.max(a, b)))
      finally writing.countDown()
    }, s"writer-$t") }
    Log.phase("requests")
    val threads = readerThreads ++ writerThreads
    threads.foreach(_.start())
    threads.foreach(_.join())
    val start = deadline - ctx.measureNs
    Cost.settle()
    Log.phase("checks")

    LakeRead.verify(lake, answers.asScala.toSeq, ctx.nproc, out)
    LakeWrite.verify(spark, states, fresh.asScala.toSeq, out)

    val q = queries.all
    val c = commits.all
    out.opCpuMs = q.map(_.cpuMs)
    out.commitCpuMs = c.map(_.cpuMs)
    out.opsPerCpuS = (q.size + c.size) / ((out.opCpuMs.sum + out.commitCpuMs.sum) / 1000)
    val dirs = LakeRead.AllTables.map(t => new File(lake.root, t)) ++ states.map(s => new File(s.path))
    val spaceAmp = dirs.map(Fs.bytes).sum.toDouble /
      dirs.map(d => DeltaSnapshotReader.snapshot(spark, d.toString).files.map(_.size).sum).sum

    out.lines += s"clients = $readers closed-loop readers + $writers closed-loop writers (one per table)"
    out.lines += s"lake: lineitem ${LakeRead.Orders * 4} rows in 7 ship-year partitions, orders " +
      s"${LakeRead.Orders}, customer ${LakeRead.Customers}, part ${LakeRead.Parts}, supplier " +
      s"${LakeRead.Suppliers}, nation 25, events_log ${LakeRead.LogCommits} appends of " +
      s"${LakeRead.EventsPerCommit} rows"
    out.lines += s"written tables: ${LakeWrite.InitialRows} initial rows each (deletion vectors, copy-on-write)"
    out.timing("query_ms", q.map(_.ms))
    out.timing("query_cpu_ms", out.opCpuMs)
    out.line("queries_per_s", q.size / ((readsDone.get - start) / 1e9), "1/s")
    out.timing("commit_ms", c.map(_.ms))
    out.timing("commit_cpu_ms", out.commitCpuMs)
    out.line("operations per CPU-second (queries + commits)", out.opsPerCpuS, "1/s")
    out.line("commits_per_s", c.size / ((writesDone.get - start) / 1e9), "1/s")
    out.timing("fresh_read_ms", q.filter(_.op == "fresh_read").map(_.ms))
    (q ++ c).groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, ss) => out.timing(s"  $op.ms", ss.map(_.ms)) }
    out.line("space_amp", spaceAmp, "ratio")
    if (ctx.trace) {
      val spans = Trace.finished()
      readStats.report(out)
      writeStats.report(spark, states, c, spans, out)
      out.layer("trace.overhead_pct") = Stats.overheadPct(q)
    }
    out
  }
}
