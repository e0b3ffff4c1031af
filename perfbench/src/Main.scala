package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Runs one workload in this (fresh) JVM with its own local Spark session
  * and writes the result object to `--result`. See perfbench/README.md. */
object Main {

  /** Layer-specific metrics and their units; a workload that does not
    * touch a layer reports 0 for its metrics. */
  val LayerSpecific: Seq[(String, String)] = Seq(
    "delta.read.snapshot_ms_p50" -> "ms",
    "delta.read.snapshot_jobs_per_miss" -> "count",
    "delta.read.snapshot_hit_ratio" -> "ratio",
    "delta.read.files_selected_ratio" -> "ratio",
    "delta.read.splits_per_query" -> "count",
    "delta.read.bytes_read_per_row_returned" -> "bytes",
    "delta.write.append_ms_p50" -> "ms",
    "delta.write.merge_ms_p50" -> "ms",
    "delta.write.update_ms_p50" -> "ms",
    "delta.write.delete_ms_p50" -> "ms",
    "delta.write.optimize_ms_p50" -> "ms",
    "sql.dml_ms_p50" -> "ms",
    "delta.write.checkpoint_commit_ms_p50" -> "ms",
    "delta.write.jobs_per_commit" -> "count",
    "delta.write.blocked_ms_per_commit" -> "ms",
    "delta.write.bytes_per_row" -> "bytes",
    "delta.write.log_bytes_per_commit" -> "bytes",
    "delta.write.active_files_end" -> "count",
    "text.keep_ratio" -> "ratio",
    "dedup.recall" -> "ratio",
    "dedup.pairs_found" -> "count",
    "stream.batch_ms_p50" -> "ms",
    "stream.state_commit_ms" -> "ms",
    "stream.state_rows" -> "count",
    "stream.state_mem_bytes" -> "bytes",
    "stream.batches" -> "count")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val nproc = opt("nproc").toInt
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    Log.phase("start")
    val spark = session(nproc, work)
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, trace, nproc, work)
    Cost.install(spark.sparkContext)
    if (trace) Trace.enable(spark.sparkContext)

    val out = workload match {
      case "lake"      => Lake.run(ctx)
      case "pipelines" => Pipelines.run(ctx)
      case other       => sys.error(s"unknown workload $other")
    }
    Log.phase("report")
    val cachedBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val heapMb = retainedHeapMb()

    println(s"perfbench: $workload seed=${ctx.seed} nproc=$nproc clients and sizes:")
    out.lines.foreach(l => println(s"  $l"))
    println(f"  heap_retained_mb = $heapMb%.3f MB, spark.cached_bytes_end = $cachedBytes%d bytes")
    println(s"  attempted = ${out.attempted}, failed = ${out.failed}, " +
      f"error_rate = ${out.failed.toDouble / math.max(1L, out.attempted)}%.4f")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", out.setupS, "s"),
        ("op_cpu_ms_p50", Stats.pct(out.opCpuMs, 0.5), "ms"),
        ("commit_cpu_ms_mean", Stats.mean(out.commitCpuMs), "ms"),
        ("ops_per_cpu_s", out.opsPerCpuS, "1/s"),
        ("heap_retained_mb", heapMb, "MB"))
      else {
        val spans = Trace.finished()
        Trace.layerMetrics(spans) ++
          LayerSpecific.map { case (n, u) => (n, out.layer.getOrElse(n, 0.0), u) } ++
          Seq(("spark.cached_bytes_end", cachedBytes.toDouble, "bytes"),
            ("trace.overhead_pct", out.layer.getOrElse("trace.overhead_pct", 0.0), "%"),
            ("trace.spans", spans.size.toDouble, "count"))
      }
    metrics.foreach { case (n, v, u) => println(f"  $n%s = $v%.6g $u%s") }
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(
      s"""{"correct": ${out.correct && out.failed == 0}, "attempted": ${math.max(1L, out.attempted)}, """ +
        s""""failed": ${out.failed}, "metrics": {""", ", ", "}}")
    Files.write(new File(opt("result")).toPath, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    Log.phase("stopped")
  }

  private def session(nproc: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").toString)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").toString)
      // bounded UI stores, so retained heap tracks graft's own state
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Driver heap in use after forced full collections. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
