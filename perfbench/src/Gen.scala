package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every column is a pure function of
  * (seed, salt, row id) through `xxhash64`, so one seed always gives the
  * same tables whatever the partitioning. Shapes follow the TPC-H-like
  * fixture graft is developed against (lineitem, orders, customer, part,
  * supplier, nation; events; documents; embeddings). */
final class Gen(spark: SparkSession, seed: Long) {

  private def h(salt: Int, c: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: c): _*)
  /** Uniform integer in [0, m). */
  def uni(salt: Int, m: Long, c: Column*): Column = pmod(h(salt, c: _*), lit(m))
  private def uid(salt: Int, m: Long): Column = uni(salt, m, col("id"))
  private def money(salt: Int, lo: Long, hi: Long): Column =
    (uid(salt, (hi - lo) * 100) + lo * 100) / 100.0
  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (uid(salt, values.size) + 1).cast("int"))
  private def rows(n: Long, parts: Int = 4): DataFrame = spark.range(0, n, 1, parts).toDF()
  /** Timestamp `uniform seconds` after `from`. */
  private def tsAfter(salt: Int, from: String, spanSeconds: Long): Column =
    timestamp_seconds(unix_timestamp(lit(from)) + uid(salt, spanSeconds))

  def nation(): DataFrame = rows(25, 1).select(
    col("id").cast("int").as("n_nationkey"),
    concat(lit("NATION_"), col("id")).as("n_name"),
    (col("id") % 5).cast("int").as("n_regionkey"))

  def supplier(n: Long): DataFrame = rows(n, 1).select(
    (col("id") + 1).as("s_suppkey"),
    concat(lit("Supplier#"), col("id") + 1).as("s_name"),
    uid(1, 25).cast("int").as("s_nationkey"),
    money(2, -999, 9999).as("s_acctbal"))

  def customer(n: Long): DataFrame = rows(n).select(
    (col("id") + 1).as("c_custkey"),
    concat(lit("Customer#"), col("id") + 1).as("c_name"),
    uid(3, 25).cast("int").as("c_nationkey"),
    money(4, -999, 9999).as("c_acctbal"),
    pick(5, Gen.Segments).as("c_mktsegment"))

  def part(n: Long): DataFrame = rows(n).select(
    (col("id") + 1).as("p_partkey"),
    concat(lit("part "), col("id") + 1).as("p_name"),
    concat(lit("Brand#"), uid(6, 5) + 1, uid(7, 5) + 1).as("p_brand"),
    pick(8, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")).as("p_type"),
    (uid(9, 50) + 1).cast("int").as("p_size"),
    money(10, 900, 2000).as("p_retailprice"))

  def orders(n: Long, customers: Long): DataFrame = rows(n).select(
    (col("id") + 1).as("o_orderkey"),
    (uid(11, customers) + 1).as("o_custkey"),
    pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
    money(13, 800, 500000).as("o_totalprice"),
    tsAfter(14, "1992-01-01 00:00:00", 2405L * 86400).as("o_orderdate"),
    pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))

  /** Four lines per order; `l_shipyear` is the partition column. */
  def lineitem(orders: Long, parts: Long, suppliers: Long): DataFrame =
    rows(orders * 4).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (uid(16, parts) + 1).as("l_partkey"),
      (uid(17, suppliers) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (uid(18, 50) + 1).cast("double").as("l_quantity"),
      money(19, 900, 100000).as("l_extendedprice"),
      (uid(20, 11) / 100.0).as("l_discount"),
      (uid(21, 9) / 100.0).as("l_tax"),
      pick(22, Seq("A", "N", "R")).as("l_returnflag"),
      pick(23, Seq("F", "O")).as("l_linestatus"),
      tsAfter(24, "1992-01-02 00:00:00", 2526L * 86400).as("l_shipdate"))
      .withColumn("l_shipyear", year(col("l_shipdate")))

  /** `n` events of `users` users over `days` days from 2024-01-01. */
  def events(n: Long, users: Long, days: Int): DataFrame =
    rows(n).select(
      col("id").as("event_id"),
      tsAfter(25, "2024-01-01 00:00:00", days * 86400L).as("ts"),
      uid(26, users).as("user_id"),
      pick(27, Gen.EventTypes).as("event_type"),
      money(28, 0, 500).as("value"),
      concat(lit("{\"k\": "), uid(29, 100), lit("}")).as("props"))

  val Vocab: Seq[String] = Seq("the", "a", "of", "and", "to", "with") ++
    ("spark batch part line column order small sort fast value scan hash slow " +
      "group agg filter query big key window row table stream merge data join " +
      "vector customer index shard token crawl dedup corpus").split(" ")

  /** `n` documents of 8–127 vocabulary words (about half pass the Gopher
    * rules), plus `exact` verbatim copies and `near` one-word edits of the
    * first long documents. Returns the corpus and the injected
    * (original, copy) pairs of each kind. */
  def documents(n: Long, exact: Int, near: Int): (DataFrame, Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val nWords = (uid(30, 120) + 8).cast("int")
    val text = array_join(transform(sequence(lit(1), nWords), i =>
      element_at(array(Vocab.map(lit): _*), (uni(31, Vocab.size, col("id"), i) + 1).cast("int"))), " ")
    val base = rows(n).select(col("id").as("doc_id"), text.as("text"),
      pick(32, Seq("en", "en", "de", "fr", "es", "zh")).as("lang"),
      concat(lit("src"), uid(33, 20)).as("source"))
    val longIds = base.filter(size(split(col("text"), " ")) >= 100)
      .select("doc_id").orderBy("doc_id").limit(exact + near).collect().map(_.getLong(0))
    require(longIds.length == exact + near, "corpus too small for the injected copies")
    val exactPairs = longIds.take(exact).toSeq.zipWithIndex.map { case (o, j) => (o, n + j) }
    val nearPairs = longIds.drop(exact).toSeq.zipWithIndex.map { case (o, j) => (o, n + exact + j) }
    val ids = spark.createDataFrame((exactPairs ++ nearPairs).map { case (o, c) => (o, c) })
      .toDF("orig", "copy")
    val nearSet = nearPairs.map(_._2).toSet
    val isNear = col("copy").isin(nearSet.toSeq: _*)
    // the near copy swaps its 50th word for one outside the vocabulary
    val edited = concat_ws(" ", transform(split(col("text"), " "), (w, i) =>
      when(i === 49, lit("zebra")).otherwise(w)))
    val copies = base.join(ids, col("doc_id") === col("orig"))
      .select(col("copy").as("doc_id"), when(isNear, edited).otherwise(col("text")).as("text"),
        col("lang"), col("source"))
    val all = base.unionByName(copies).withColumn("n_chars", length(col("text")).cast("long"))
    (all, exactPairs, nearPairs)
  }

  /** `n` 64-dimensional embeddings plus `near` slightly perturbed copies of
    * vectors 0 … near-1 (ids n … n+near-1). */
  def embeddings(n: Long, near: Int): DataFrame = {
    def vec(noise: Boolean) = transform(sequence(lit(0), lit(63)), i =>
      ((uni(34, 20001, col("src"), i) - 10000) / 10000.0 +
        (if (noise) (uni(35, 201, col("id"), i) - 100) / 20000.0 else lit(0.0))).cast("float"))
    val base = rows(n).withColumn("src", col("id"))
      .select(col("id").as("vec_id"), vec(noise = false).as("embedding"),
        uni(36, 10, col("src")).cast("int").as("label"))
    val copies = spark.range(0, near, 1, 1).withColumn("src", col("id"))
      .select((col("id") + n).as("vec_id"), vec(noise = true).as("embedding"),
        uni(36, 10, col("src")).cast("int").as("label"))
    base.unionByName(copies)
  }
}

object Gen {
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val EventTypes = Seq("click", "purchase", "view", "signup", "error")
}
