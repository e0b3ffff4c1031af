package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import graft.delta.DeltaSnapshotReader
import graft.stream.{DeltaStreamSink, EventOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import scala.jdk.CollectionConverters._

/** The event-stream half of `pipelines`: a fresh seeded events backlog
  * drained through the stream-stream join and windowed aggregation of
  * `EventOps`, and through the Delta sink with one staged file per
  * micro-batch. Every streamed answer must equal the batch computation
  * over the same backlog. */
object EventStream {
  val Events = 4000L
  val Users = 300L
  val Days = 3
  val Files = 4

  final case class Backlog(dir: File) {
    def events: String = new File(dir, "events.parquet").toString
    def files: String = new File(dir, "files").toString
  }

  def generate(ctx: Ctx, i: Int): Backlog = {
    val spark = ctx.spark
    val b = Backlog(ctx.dir(s"backlog$i"))
    val events = new Gen(spark, ctx.seed * 1000 + i).events(Events, Users, Days)
    // EventOps stages `events.parquet` as one file
    Fs.writeSingleParquet(events, new File(b.events))
    events.repartitionByRange(Files, col("event_id")).write.parquet(b.files)
    b
  }

  /** Progress of every finished micro-batch, by query name. */
  final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[(String, Double, Long, Long, Long)] // query, ms, state rows, state bytes, commit ms
    /** Every batch, once all progress events have been delivered. */
    def all(ctx: Ctx): Seq[(String, Double, Long, Long, Long)] = {
      org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
      batches.asScala.toSeq
    }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      val ops = p.stateOperators
      batches.add((Option(p.name).getOrElse(""), ms, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum))
    }
  }

  private def joinOracle(ev: DataFrame): Seq[Row] = {
    val c = ev.filter(col("event_type") === "click").select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value").as("p_value"))
    c.join(p, col("c_user") === col("p_user") && col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
      .groupBy(col("c_user")).agg(count(lit(1)), sum(col("p_value")))
      .orderBy(col("c_user")).collect().toSeq
  }

  private def sinkStream(spark: SparkSession, b: Backlog, table: String, ck: String) = {
    val schema = spark.read.parquet(b.files).schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(b.files)
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts", "props")
    DeltaStreamSink.start(stream, table, Seq("event_type"), "perfbench-sink", ck, Trigger.AvailableNow())
  }

  private def byType(df: DataFrame): Seq[Row] =
    df.groupBy("event_type").agg(count(lit(1)), sum("value")).orderBy("event_type").collect().toSeq

  /** One drain of backlog `b`: the stream-stream join and windowed
    * aggregation of EventOps, then the Delta sink, each checked against the
    * batch computation. */
  def iterate(ctx: Ctx, b: Backlog, i: Int, out: Outcome, run: Timer): Unit = {
    val spark = ctx.spark
    val table = new File(ctx.work, s"sink$i").toString
    val join = run("stream", "streamJoin")(EventOps.streamJoin(spark, b.dir.toString).collect().toSeq)
    val windows = run("stream", "tumbling")(EventOps.tumbling(spark, b.dir.toString).collect().toSeq)
    run("stream", "sinkDelta") {
      sinkStream(spark, b, table, new File(ctx.work, s"sink_ck$i").toString).awaitTermination()
    }
    val ev = spark.read.parquet(b.events)
    out.attempt("stream-stream join equals the batch join") {
      Check.sameRows(join.map(r => Row(r.getLong(0), r.getLong(1), r.getDouble(2))), joinOracle(ev))
    }
    out.attempt("tumbling windows equal the batch aggregate") {
      val oracle = ev.groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
        .select(unix_micros(col("window.start")).as("w"), col("event_type"), col("n"), col("v"))
        .orderBy(col("w"), col("event_type")).collect().toSeq
      Check.sameRows(windows.map(r => Row(r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))), oracle)
    }
    out.attempt("the Delta sink holds every event exactly once") {
      Check.sameRows(byType(DeltaSnapshotReader.load(spark, table)), byType(ev))
    }
  }

  /** Micro-batch and state-store figures of every finished query. */
  def report(ctx: Ctx, out: Outcome, progress: Progress): Unit = {
    val batches = progress.all(ctx)
    val ms = batches.map(_._2)
    out.lines += s"backlog per iteration = $Events events of $Users users over $Days days, " +
      s"sink staged as $Files files (one per micro-batch)"
    out.timing("microbatch_ms", ms)
    val stateful = batches.filter(_._3 > 0)
    out.layer("stream.batch_ms_p50") = Stats.median(ms)
    out.layer("stream.state_commit_ms") = Stats.median(stateful.map(_._5.toDouble))
    out.layer("stream.state_rows") = Stats.median(stateful.map(_._3.toDouble))
    out.layer("stream.state_mem_bytes") = Stats.median(stateful.map(_._4.toDouble))
    out.layer("stream.batches") = batches.size
  }
}
