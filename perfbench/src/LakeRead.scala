package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import graft.catalog.PathCatalog
import graft.delta.{DeltaSnapshot, DeltaSnapshotReader, DeltaWriter, SplitPlanner}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The read side of `lake`: a seeded Delta lake and the readers' request
  * mix. Each request follows the reference connector's sequence (catalog →
  * schema → partitions → splits → scan) or runs TPC-H-shaped SQL through the
  * graft catalog; answers are checked against the same query over the
  * source parquet read by plain Spark. */
object LakeRead {
  val Orders = 12000L          // lineitem = 4 × orders
  val Customers = 1500L
  val Parts = 2000L
  val Suppliers = 100L
  // events_log: an initial commit, a checkpoint interval of 2, then
  // appends: a checkpoint at v2 plus a JSON tail at v3
  val LogCommits = 3
  val EventsPerCommit = 200L
  /** Delta tables of the lake; `part` and `supplier` sit beside them as
    * plain `<name>.parquet` files, which the path catalog also serves. */
  val Tables = Seq("lineitem", "orders", "customer", "nation")
  val ParquetTables = Seq("part", "supplier")

  /** One request: its type, a key naming its parameters, and how to run
    * it against the lake and against the source parquet. */
  final case class Req(op: String, key: String, run: Lake => Seq[Row], oracle: Lake => Seq[Row])

  final class Lake(val spark: SparkSession, val root: File, val src: File) {
    def path(t: String): String = new File(root, t).toString
    def source(t: String): DataFrame = spark.read.parquet(new File(src, t).toString)
  }

  def build(ctx: Ctx, k: Int): Lake = {
    val spark = ctx.spark
    val g = new Gen(spark, ctx.seed)
    val lake = new Lake(spark, ctx.dir(s"lake$k"), ctx.dir(s"src$k"))
    val tables = Seq(
      "lineitem" -> g.lineitem(Orders, Parts, Suppliers), "orders" -> g.orders(Orders, Customers),
      "customer" -> g.customer(Customers), "part" -> g.part(Parts),
      "supplier" -> g.supplier(Suppliers), "nation" -> g.nation(),
      "events" -> g.events(LogCommits * EventsPerCommit, 300, 30))
    tables.foreach { case (t, df) => df.write.parquet(new File(lake.src, t).toString) }
    Tables.foreach { t =>
      DeltaWriter.write(lake.source(t), lake.path(t), if (t == "lineitem") Seq("l_shipyear") else Nil)
    }
    ParquetTables.foreach(t => Fs.writeSingleParquet(lake.source(t), new File(lake.root, s"$t.parquet")))
    // the log-heavy table: small appends over checkpoints
    val events = lake.source("events")
    def slice(a: Int) = events.filter(col("event_id") >= a * EventsPerCommit && col("event_id") < (a + 1) * EventsPerCommit)
    DeltaWriter.write(slice(0), lake.path("events_log"))
    DeltaWriter.setProperties(spark, lake.path("events_log"), Map("delta.checkpointInterval" -> "2"))
    (1 until LogCommits).foreach(a => DeltaWriter.write(slice(a), lake.path("events_log")))
    lake
  }

  /** SQL run through the graft catalog and, for the oracle, over temp views
    * of the source parquet. */
  private def sqlReq(op: String, text: String): Req = Req(op, text,
    lake => {
      val df = Trace.span("catalog", "resolve")(lake.spark.sql(text.replace("{t}", "lake.default.")))
      Trace.span("ops", "collect")(df.collect().toSeq)
    },
    lake => lake.spark.sql(text.replace("{t}", "src_")).collect().toSeq)

  private def lookup(year: Int, lo: Long, hi: Long, stats: ReadStats): Req = {
    val partition = col("l_shipyear") === year
    val pred = partition && col("l_orderkey").between(lo, hi)
    val agg = Seq(count(lit(1)), sum(col("l_extendedprice")), sum(col("l_quantity")))
    Req("lookup", s"lookup/$year/$lo", lake => {
      val path = lake.path("lineitem")
      Trace.span("catalog", "table")(new PathCatalog(lake.spark, lake.root.toString).table("lineitem").schema)
      val snap = stats.snapshot(lake.spark, path, None)
      Trace.span("delta.read", "partitions")(DeltaSnapshotReader.partitionValuesDf(lake.spark, snap).collect())
      val files = Trace.span("delta.read", "prunedFiles")(DeltaSnapshotReader.prunedFiles(lake.spark, snap, partition))
      val splits = Trace.span("delta.read", "splits")(SplitPlanner.plan(files))
      val df = Trace.span("delta.read", "loadWhere")(DeltaSnapshotReader.loadWhere(lake.spark, path, pred))
      val rows = Trace.span("ops", "collect")(df.agg(agg.head, agg.tail: _*).collect().toSeq)
      stats.scanned(snap.files.size, files.size, splits.size, splits.map(_.bytes).sum, rows.head.getLong(0))
      rows
    }, lake => lake.source("lineitem").filter(pred).agg(agg.head, agg.tail: _*).collect().toSeq)
  }

  private def timeTravel(v: Long, stats: ReadStats): Req = {
    def agg(df: DataFrame) = df.groupBy("event_type").agg(count(lit(1)), sum("value"))
      .orderBy("event_type").collect().toSeq
    Req("time_travel", s"tt/$v", lake => {
      stats.snapshot(lake.spark, lake.path("events_log"), Some(v))
      val df = Trace.span("delta.read", "load")(DeltaSnapshotReader.load(lake.spark, lake.path("events_log"), Some(v)))
      Trace.span("ops", "collect")(agg(df))
    }, lake => agg(lake.source("events").filter(col("event_id") < math.max(1L, v) * EventsPerCommit)))
  }

  private val discover: Req = Req("discover", "discover", lake => {
    val listed = Trace.span("catalog", "listTables")(new PathCatalog(lake.spark, lake.root.toString).listTables())
    listed.map { case (t, fmt) =>
      val fields = Trace.span("catalog", "schema")(lake.spark.table(s"lake.default.$t").schema.fieldNames)
      Row(t, fmt, fields.sorted.mkString(","))
    }
  }, lake => (AllTables ++ ParquetTables).sorted.map { t =>
    val s = if (t == "events_log") "events" else t
    Row(t, if (ParquetTables.contains(t)) "parquet" else "delta", lake.source(s).schema.fieldNames.sorted.mkString(","))
  })

  /** The seeded request stream of one client, drawn before timing. */
  def requests(seed: Long, client: Int, n: Int, stats: ReadStats): IndexedSeq[Req] = {
    val rnd = new scala.util.Random(seed * 7919 + client)
    // small parameter pools keep the number of distinct answers to check low
    val keys = new scala.util.Random(seed)
    val years = keys.shuffle((1992 to 1998).toVector).take(3)
    val width = Orders / 40
    def lookupReq() = {
      val lo = rnd.nextInt(4) * (Orders / 4)
      lookup(years(rnd.nextInt(years.size)), lo, lo + width, stats)
    }
    // Zipf(1.2) over versions 0 … LogCommits (v1 is the property commit,
    // v ≥ 2 appends slice v-1), the latest the most popular; drawn from a
    // fixed stream, so every seed replays the same versions in turn
    val weights = (0 to LogCommits).map(r => 1.0 / math.pow(r + 1, 1.2))
    val versions = new scala.util.Random(7919L + client)
    def zipfVersion(): Long = {
      var u = versions.nextDouble() * weights.sum
      var i = 0
      while (i < weights.size - 1 && u > weights(i)) { u -= weights(i); i += 1 }
      LogCommits - i
    }
    val cycle: Seq[() => Req] = Seq(
      () => lookupReq(),
      () => timeTravel(zipfVersion(), stats),
      () => sqlReq("q1_agg", Q1.replace("{days}", (60 + 30 * rnd.nextInt(4)).toString)),
      () => lookupReq(),
      () => {
        val seg = Gen.Segments(rnd.nextInt(Gen.Segments.size))
        val y = years(rnd.nextInt(years.size))
        sqlReq("join", JoinQ.replace("{seg}", seg).replace("{year}", y.toString))
      },
      () => timeTravel(zipfVersion(), stats),
      () => lookupReq(),
      () => discover,
      () => timeTravel(zipfVersion(), stats))
    (0 until n).map(i => cycle((i + client) % cycle.size)())
  }

  val CycleLength = 9
  val WarmUp = 2

  private val Q1 =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
      |  sum(l_extendedprice) AS sum_base, sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
      |  avg(l_discount) AS avg_disc, count(*) AS n
      |FROM {t}lineitem WHERE l_shipdate <= timestamp'1998-12-01 00:00:00' - INTERVAL {days} DAYS
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin
  private val JoinQ =
    """SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue, count(*) AS n
      |FROM {t}customer JOIN {t}orders ON c_custkey = o_custkey
      |  JOIN {t}lineitem ON l_orderkey = o_orderkey JOIN {t}nation ON c_nationkey = n_nationkey
      |WHERE c_mktsegment = '{seg}' AND l_shipyear = {year}
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Point the graft catalog `lake` at the lake, and register the source
    * parquet as `src_*` views for the SQL oracles. */
  def register(lake: Lake): Unit = {
    val spark = lake.spark
    spark.conf.set("spark.sql.catalog.lake", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.lake.root", lake.root.toString)
    (Tables ++ ParquetTables :+ "events").foreach(t => lake.source(t).createOrReplaceTempView(s"src_$t"))
  }

  /** Every answer against the oracle of its request key. */
  def verify(lake: Lake, answers: Seq[(Req, Seq[Row])], threads: Int, out: Outcome): Unit = {
    val oracle = Par.map(answers.map(_._1).groupBy(_.key).values.map(_.head).toSeq, threads)(
      r => r.key -> r.oracle(lake)).toMap
    answers.foreach { case (r, rows) =>
      out.attempt(s"${r.key} differs from plain Spark over the source parquet") {
        Check.sameRows(rows, oracle(r.key))
      }
    }
  }

  /** Every Delta table of the lake. */
  def AllTables: Seq[String] = Tables :+ "events_log"
}

/** Snapshot-cache and pruning counters of the read path (traced runs). */
final class ReadStats(on: Boolean) {
  private val seen = new ConcurrentHashMap[(String, Option[Long]), DeltaSnapshot]
  private val snapMs = new ConcurrentLinkedQueue[Double]
  private val calls, hits, active, selected, splits, bytes, rowsOut, queries =
    new java.util.concurrent.atomic.AtomicLong

  /** `snapshotAt`, recording whether it returned the very instance an
    * earlier call got (a cache hit). */
  def snapshot(spark: SparkSession, path: String, v: Option[Long]): DeltaSnapshot = {
    if (!on) return DeltaSnapshotReader.snapshotAt(spark, path, v)
    Trace.span("delta.read", "snapshot") {
      val t0 = System.nanoTime()
      val snap = DeltaSnapshotReader.snapshotAt(spark, path, v)
      snapMs.add(Stats.ms(t0))
      val prev = seen.putIfAbsent((path, v), snap)
      calls.incrementAndGet()
      if (prev != null && (prev eq snap)) hits.incrementAndGet()
      else { Trace.tag("miss"); if (prev != null) seen.put((path, v), snap) }
      snap
    }
  }

  def scanned(activeFiles: Int, selectedFiles: Int, nSplits: Int, splitBytes: Long, rows: Long): Unit =
    if (on) {
      active.addAndGet(activeFiles); selected.addAndGet(selectedFiles)
      splits.addAndGet(nSplits); bytes.addAndGet(splitBytes); rowsOut.addAndGet(rows)
      queries.incrementAndGet()
    }

  def report(out: Outcome): Unit = {
    val misses = Trace.finished().filter(s => s.name == "snapshot" && s.tag == "miss")
    out.layer("delta.read.snapshot_ms_p50") = Stats.median(snapMs.asScala.toSeq)
    out.layer("delta.read.snapshot_jobs_per_miss") =
      if (misses.isEmpty) 0.0 else misses.map(_.jobs.sum).sum.toDouble / misses.size
    out.layer("delta.read.snapshot_hit_ratio") = hits.get.toDouble / math.max(1L, calls.get)
    out.layer("delta.read.files_selected_ratio") = selected.get.toDouble / math.max(1L, active.get)
    out.layer("delta.read.splits_per_query") = splits.get.toDouble / math.max(1L, queries.get)
    out.layer("delta.read.bytes_read_per_row_returned") = bytes.get.toDouble / math.max(1L, rowsOut.get)
  }
}
