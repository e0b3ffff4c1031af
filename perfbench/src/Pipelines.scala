package perfbench

import java.io.File

import graft.delta.DeltaSnapshotReader
import org.apache.commons.io.FileUtils

/** `pipelines`: one batch client; each iteration runs the LLM-data
  * pipeline over a fresh seeded corpus ([[LlmPipeline]]) and drains a fresh
  * seeded events backlog through the streaming operators ([[EventStream]]).
  * Every iteration is cold: graft caches per input directory, and each
  * iteration reads a directory no earlier one has read. */
object Pipelines {
  val SetupReps = 3

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    // one set-up = one fresh corpus and one fresh backlog
    val pool = (0 until SetupReps).map(i =>
      Stats.timed((LlmPipeline.generate(ctx, i), EventStream.generate(ctx, i))))
    out.setup(pool)
    val progress = new EventStream.Progress
    spark.streams.addListener(progress)
    val samples = new Samples // the first iteration's stages: the measured work
    val later = new Samples   // later iterations' (a traced run's overhead comparison)
    val totals = new LlmPipeline.Totals
    var llmMs, streamMs = 0.0
    val deadline = System.nanoTime() + ctx.measureNs
    var i = 0
    // a traced run alternates traced and untraced iterations after the
    // first, cold one, and needs two of them for the overhead
    while (i == 0 || System.nanoTime() < deadline || (ctx.trace && i < 3)) {
      val (corpus, backlog) =
        if (i < pool.size) pool(i)._1
        else {
          // inputs beyond the pool: a pooled input under a new directory
          val (c, b) = pool(i % pool.size)._1
          val (cd, bd) = (new File(ctx.work, s"corpus$i"), new File(ctx.work, s"backlog$i"))
          FileUtils.copyDirectory(c.dir, cd)
          FileUtils.copyDirectory(b.dir, bd)
          (c.copy(dir = cd), EventStream.Backlog(bd))
        }
      val traced = ctx.trace && i % 2 == 0
      val timer = new Timer {
        def apply[T](layer: String, name: String)(body: => T): T = {
          val (r, ms, cost) = Cost.measure(Trace.span(layer, name)(body))
          (if (i == 0) samples else later).add(Sample(name, ms, traced, cost))
          if (layer == "stream") streamMs += ms else llmMs += ms
          r
        }
      }
      def once(): Unit = {
        LlmPipeline.iterate(ctx, corpus, i, out, totals, timer)
        EventStream.iterate(ctx, backlog, i, out, timer)
      }
      if (traced) Trace.request("pipelines")(once()) else Trace.untraced(once())
      i += 1
    }
    Cost.settle()
    val ms = samples.all.map(_.ms)
    val events = i * EventStream.Events
    out.opCpuMs = samples.all.map(_.cpuMs)
    // Delta commits: each survivors write and each drain of the stream sink
    val commits = samples.all.filter(s => s.op == "write" || s.op == "sinkDelta")
    out.commitCpuMs = commits.map(_.cpuMs)
    out.opsPerCpuS = (LlmPipeline.CorpusSize + EventStream.Events) / (out.opCpuMs.sum / 1000)
    val tables = (0 until i).flatMap(k => Seq(new File(ctx.work, s"survivors$k"), new File(ctx.work, s"sink$k")))
    val spaceAmp = tables.map(Fs.bytes).sum.toDouble /
      tables.map(d => DeltaSnapshotReader.snapshot(spark, d.toString).files.map(_.size).sum).sum
    out.lines += s"clients = 1 batch client; $i iterations"
    LlmPipeline.report(out, totals, i)
    EventStream.report(ctx, out, progress)
    out.line("docs_per_s", totals.docs / (llmMs / 1000), "1/s")
    out.line("events_per_s", events / (streamMs / 1000), "1/s")
    out.line("records_per_s (documents + events)", (totals.docs + events) / ((llmMs + streamMs) / 1000), "1/s")
    out.line("records per CPU-second", out.opsPerCpuS, "1/s")
    out.timing("stage_ms", ms)
    out.timing("stage_cpu_ms", out.opCpuMs)
    out.timing("commit_ms", commits.map(_.ms))
    out.timing("commit_cpu_ms", out.commitCpuMs)
    samples.all.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, ss) => out.timing(s"  $op.ms", ss.map(_.ms)) }
    out.line("space_amp", spaceAmp, "ratio")
    if (ctx.trace) out.layer("trace.overhead_pct") = Stats.overheadPct(later.all)
    out
  }
}
