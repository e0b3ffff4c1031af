package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import graft.delta.{DeltaSnapshotReader, DeltaWriter}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The write side of `lake`: one closed-loop writer per table (one table
  * with deletion vectors, one copy-on-write) issuing a seeded log of
  * appends, MERGE upserts, UPDATE, DELETE (some as SQL text) and OPTIMIZE.
  * Every table is replayed in plain Scala from the same log; reads of it
  * must equal the replay at the version they read. */
object LakeWrite {
  val InitialRows = 3000
  val OpsPerTable = 240
  val Table = Seq("dv", "cow")

  type Value = (Int, Long, String) // (k, v, s) keyed by id

  /** A checkpoint every 4 versions (default 10), so that each writer's
    * measured operations include a checkpointing commit. */
  val Properties: Map[String, Map[String, String]] = Map(
    "dv" -> Map("delta.enableDeletionVectors" -> "true", "delta.checkpointInterval" -> "4"),
    "cow" -> Map("delta.checkpointInterval" -> "4"))

  sealed trait Op { def kind: String }
  final case class Append(rows: Seq[(Long, Int, Long, String)]) extends Op { val kind = "append" }
  final case class Merge(rows: Seq[(Long, Int, Long, String)], sql: Boolean) extends Op {
    val kind = if (sql) "sql_merge" else "merge"
  }
  final case class Update(k: Int, d: Long, sql: Boolean) extends Op { val kind = if (sql) "sql_update" else "update" }
  final case class Delete(k: Int, r: Int, sql: Boolean) extends Op { val kind = if (sql) "sql_delete" else "delete" }
  case object Optimize extends Op { val kind = "optimize" }

  /** Operation kinds repeat in this fixed order, so every run issues the
    * same mix; the seed draws their rows and predicates. */
  val Cycle: Seq[String] = Seq("append", "merge", "update", "append", "delete",
    "sql_merge", "append", "sql_update", "sql_delete", "optimize", "append", "merge")

  /** Append and MERGE source sizes, in turn: fixed, so runs with different
    * seeds write the same amount. */
  val AppendRows = Seq(100, 2000, 500, 1200)
  val MergeRows = Seq(50, 300, 150)

  /** The seeded operation log of one table, from position `start` of
    * [[Cycle]] on, drawn before timing: the seed draws the rows, keys and
    * predicates. */
  def opLog(seed: Long, table: Int, start: Int): IndexedSeq[Op] = {
    val rnd = new scala.util.Random(seed * 104729 + table)
    var nextId = InitialRows.toLong
    var appends, merges = 0
    def row(id: Long) = (id, rnd.nextInt(20), rnd.nextInt(1000).toLong, s"s${rnd.nextInt(50)}")
    def merge(sql: Boolean) = {
      val n = MergeRows(merges % MergeRows.size)
      merges += 1
      val ids = (Seq.fill(n / 2)(rnd.nextLong(nextId)) ++ (0 until n / 2).map(nextId + _)).distinct
      nextId += n / 2
      Merge(ids.map(row), sql)
    }
    (0 until OpsPerTable).map(i => Cycle((start + i) % Cycle.size) match {
      case "append" =>
        val n = AppendRows(appends % AppendRows.size)
        appends += 1
        val rows = (0 until n).map(j => row(nextId + j))
        nextId += n
        Append(rows)
      case "merge" => merge(sql = false)
      case "sql_merge" => merge(sql = true)
      case "update" => Update(rnd.nextInt(20), 1 + rnd.nextInt(9), sql = false)
      case "sql_update" => Update(rnd.nextInt(20), 1 + rnd.nextInt(9), sql = true)
      case "delete" => Delete(rnd.nextInt(20), rnd.nextInt(5), sql = false)
      case "sql_delete" => Delete(rnd.nextInt(20), rnd.nextInt(5), sql = true)
      case _ => Optimize
    })
  }

  /** Plain-Scala replay of the same semantics. */
  def replay(model: mutable.Map[Long, Value], op: Op): Unit = op match {
    case Append(rows) => rows.foreach { case (id, k, v, s) => model(id) = (k, v, s) }
    case Merge(rows, _) => rows.foreach { case (id, k, v, s) => model(id) = (k, v, s) }
    case Update(k, d, _) => model.mapValuesInPlace { case (_, (kk, v, s)) => (kk, if (kk == k) v + d else v, s) }
    case Delete(k, r, _) => model.filterInPlace { case (id, (kk, _, _)) => !(kk == k && id % 5 == r) }
    case Optimize => ()
  }

  def digest(model: mutable.Map[Long, Value]): Digest =
    Digest.ofValues(model.iterator.map { case (id, (k, v, s)) => Seq(id, k, v, s) }.toSeq)

  private def df(spark: SparkSession, rows: Seq[(Long, Int, Long, String)]): DataFrame =
    spark.createDataFrame(rows).toDF("id", "k", "v", "s")

  /** Apply one op through graft's public API; returns the new version. */
  def apply(spark: SparkSession, path: String, op: Op, view: String): Unit = op match {
    case Append(rows) => Trace.span("delta.write", "write")(DeltaWriter.write(df(spark, rows), path))
    case Merge(rows, false) => Trace.span("delta.write", "merge")(DeltaWriter.merge(spark, path, df(spark, rows), Seq("id")))
    case Merge(rows, true) =>
      df(spark, rows).createOrReplaceTempView(view)
      Trace.span("sql", "merge")(spark.sql(s"MERGE INTO delta.`$path` AS t USING $view AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect())
    case Update(k, d, false) =>
      Trace.span("delta.write", "update")(DeltaWriter.update(spark, path, col("k") === k, Map("v" -> (col("v") + d))))
    case Update(k, d, true) =>
      Trace.span("sql", "update")(spark.sql(s"UPDATE delta.`$path` SET v = v + $d WHERE k = $k").collect())
    case Delete(k, r, false) =>
      Trace.span("delta.write", "delete")(DeltaWriter.delete(spark, path, col("k") === k && col("id") % 5 === r))
    case Delete(k, r, true) =>
      Trace.span("sql", "delete")(spark.sql(s"DELETE FROM delta.`$path` WHERE k = $k AND id % 5 = $r").collect())
    case Optimize => Trace.span("delta.write", "optimize")(DeltaWriter.optimize(spark, path))
  }

  /** One writer's table: its path, replay model and the digest of every
    * acknowledged version. */
  final class State(val path: String) {
    val model = mutable.Map.empty[Long, Value]
    val acked = new ConcurrentHashMap[Long, Digest]
    val sumV = new ConcurrentHashMap[Long, (Long, Long)] // version -> (rows, sum v)
    def ack(version: Long): Unit = {
      acked.put(version, digest(model))
      sumV.put(version, (model.size.toLong, model.valuesIterator.map(_._2).sum))
    }
  }

  def setup(ctx: Ctx, rep: Int): Seq[State] = {
    val spark = ctx.spark
    val base = ctx.dir(s"tables$rep")
    val rnd = new scala.util.Random(ctx.seed)
    val initial = (0 until InitialRows).map(i => (i.toLong, rnd.nextInt(20), rnd.nextInt(1000).toLong, s"s${rnd.nextInt(50)}"))
    Table.map { t =>
      val st = new State(new File(base, t).toString)
      val v0 = DeltaWriter.write(df(spark, initial), st.path)
      initial.foreach { case (id, k, vv, s) => st.model(id) = (k, vv, s) }
      st.ack(v0)
      st.ack(DeltaWriter.setProperties(spark, st.path, Properties(t)))
      st
    }
  }

  /** One writer: its table's operation log, in order, until it has done
    * `measured` operations and the deadline has passed; the first
    * `measured` are sampled. */
  def writer(ctx: Ctx, t: Int, st: State, log: IndexedSeq[Op], measured: Int, deadline: Long,
             out: Outcome, samples: Samples, stats: WriteStats, measuredDone: () => Unit): Unit = {
    val spark = ctx.spark
    var i = 0
    while (i < measured || (System.nanoTime() < deadline && i < log.size)) {
      val op = log(i)
      // every writer operation of a traced run is traced: there are too few
      // of each kind to split; the overhead comes from the readers
      val traced = ctx.trace
      val blocked0 = stats.blockedMs()
      val (_, ms, cost) = Cost.measure {
        out.attempt(s"${Table(t)} op $i ${op.kind}") {
          if (traced) Trace.request(op.kind)(apply(spark, st.path, op, s"merge_src_$t"))
          else Trace.untraced(apply(spark, st.path, op, s"merge_src_$t"))
          true
        }
      }
      if (i < measured) samples.add(Sample(op.kind, ms, traced, cost))
      replay(st.model, op)
      val v = DeltaSnapshotReader.latestVersion(spark, st.path)
      st.ack(v)
      stats.committed(st.path, v, ms, stats.blockedMs() - blocked0)
      i += 1
      if (i == measured) measuredDone()
    }
  }

  /** Read the latest snapshot of `st`'s table: (version, rows, sum of v). */
  def freshRead(spark: SparkSession, st: State, stats: ReadStats): Row = {
    val snap = stats.snapshot(spark, st.path, None)
    val df = Trace.span("delta.read", "load")(DeltaSnapshotReader.load(spark, st.path, Some(snap.version)))
    val row = Trace.span("ops", "collect")(df.agg(count(lit(1)), coalesce(sum("v"), lit(0L))).head())
    Row(snap.version, row.getLong(0), row.getLong(1))
  }

  /** Fresh reads against the replay at the version they read, the final
    * snapshots against the replay, and a sample of acknowledged versions read
    * back from a fresh session with the snapshot cache invalidated. */
  def verify(spark: SparkSession, states: Seq[State], fresh: Seq[(Int, Row)], out: Outcome): Unit = {
    var unverifiable = 0
    fresh.foreach { case (t, r) =>
      val (v, n, sv) = (r.getLong(0), r.getLong(1), r.getLong(2))
      Option(states(t).sumV.get(v)) match {
        case Some(expected) =>
          out.attempt(s"fresh read of ${Table(t)} v$v equals the replay")(expected == ((n, sv)))
        case None => unverifiable += 1
      }
    }
    out.line("fresh reads at versions without a replay digest", unverifiable, "count")
    val session = spark.newSession()
    states.zipWithIndex.foreach { case (st, t) =>
      out.attempt(s"final snapshot of ${Table(t)} equals the replay") {
        Digest.ofRows(DeltaSnapshotReader.load(spark, st.path).collect()) == digest(st.model)
      }
      DeltaSnapshotReader.invalidate(st.path)
      val versions = st.acked.keySet.asScala.toSeq.sorted
      val step = math.max(1, versions.size / 2)
      versions.indices.filter(i => i % step == 0 || i == versions.size - 1).map(versions).foreach { v =>
        out.attempt(s"${Table(t)} v$v read back from a fresh session equals the replay") {
          Digest.ofRows(DeltaSnapshotReader.load(session, st.path, Some(v)).collect()) == st.acked.get(v)
        }
      }
    }
  }
}

/** Commit counters of the write path (traced runs). */
final class WriteStats(on: Boolean) {
  private val mx = ManagementFactory.getThreadMXBean
  if (on && mx.isThreadContentionMonitoringSupported) mx.setThreadContentionMonitoringEnabled(true)
  private val ckptMs = new ConcurrentLinkedQueue[Double]
  private val blocked = new java.util.concurrent.atomic.AtomicLong
  private val commits = new java.util.concurrent.atomic.AtomicLong

  /** Monitor-blocked time of this thread so far (0 when untraced). */
  def blockedMs(): Long = if (on) mx.getThreadInfo(Thread.currentThread().getId).getBlockedTime else 0L

  def committed(path: String, version: Long, ms: Double, blockedMs: Long): Unit = if (on) {
    commits.incrementAndGet()
    blocked.addAndGet(blockedMs)
    if (new File(path, f"_delta_log/$version%020d.checkpoint.parquet").exists()) ckptMs.add(ms)
  }

  def report(spark: SparkSession, states: Seq[LakeWrite.State], commitSamples: Seq[Sample],
             spans: Seq[Span], out: Outcome): Unit = {
    def p50(op: String*) = Stats.median(commitSamples.filter(c => op.contains(c.op) && c.traced).map(_.ms))
    out.layer("delta.write.append_ms_p50") = p50("append")
    out.layer("delta.write.merge_ms_p50") = p50("merge")
    out.layer("delta.write.update_ms_p50") = p50("update")
    out.layer("delta.write.delete_ms_p50") = p50("delete")
    out.layer("delta.write.optimize_ms_p50") = p50("optimize")
    out.layer("sql.dml_ms_p50") = p50("sql_merge", "sql_update", "sql_delete")
    out.layer("delta.write.checkpoint_commit_ms_p50") = Stats.median(ckptMs.asScala.toSeq)
    val writeSpans = spans.filter(s => s.layer == "delta.write" || s.layer == "sql")
    out.layer("delta.write.jobs_per_commit") = writeSpans.map(_.jobs.sum).sum.toDouble / math.max(1, writeSpans.size)
    out.layer("delta.write.blocked_ms_per_commit") = blocked.get.toDouble / math.max(1L, commits.get)
    val dirs = states.map(s => new File(s.path))
    val snaps = states.map(s => DeltaSnapshotReader.snapshot(spark, s.path))
    out.layer("delta.write.bytes_per_row") =
      snaps.map(_.files.map(_.size).sum).sum.toDouble / math.max(1, states.map(_.model.size).sum)
    out.layer("delta.write.log_bytes_per_commit") =
      dirs.map(d => Fs.bytes(new File(d, "_delta_log"))).sum.toDouble / snaps.map(_.version + 1).sum
    out.layer("delta.write.active_files_end") = snaps.map(_.files.size).sum
  }
}
