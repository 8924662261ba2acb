package connbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.client.EmbeddedClickHouse

/** The benchmark's inputs: a TPC-H-shaped corpus (lineitem, orders,
  * customer, nation) plus a long-string `documents` table, written from a
  * fixed seed, and the batches the ingest workload inserts, written from the
  * run's seed.
  *
  * Every floating-point value is a multiple of 1/32, so sums are exact in
  * any summation order and the connector's results compare bit-for-bit with
  * the same query run locally.
  */
final case class Corpus(dir: Path, sizes: Corpus.Sizes) {
  def table(name: String): String = dir.resolve(s"$name.parquet").toString
  def rows(name: String): Long = name match {
    case "lineitem" => sizes.lineitem
    case "orders" => sizes.orders
    case "customer" => sizes.customer
    case "nation" => Corpus.Nations.size.toLong
    case "documents" => sizes.documents
  }
}

object Corpus {

  final case class Sizes(lineitem: Long, orders: Long, customer: Long, documents: Long)

  /** The corpus seed. Like the repository's scale corpora the tables are
    * fixed; a run's seed draws its literals, op order and ingest rows.
    */
  val Seed = 42L

  /** sf0.01-shaped: small enough that per-statement fixed costs dominate. */
  val Small: Sizes = Sizes(lineitem = 60000, orders = 15000, customer = 1500, documents = 500)

  /** Bulk tables for whole-table reads. */
  val Large: Sizes = Sizes(lineitem = 300000, orders = 75000, customer = 7500, documents = 5000)

  val Ready = "_READY"

  val Tables: Seq[String] = Seq("lineitem", "orders", "customer", "nation", "documents")

  /** Store column types (all Nullable: parquet columns are nullable). */
  val StoreColumns: Map[String, Seq[(String, String)]] = Map(
    "lineitem" -> Seq(
      "l_orderkey" -> "Nullable(Int64)", "l_partkey" -> "Nullable(Int64)",
      "l_suppkey" -> "Nullable(Int64)", "l_linenumber" -> "Nullable(Int32)",
      "l_quantity" -> "Nullable(Float64)", "l_extendedprice" -> "Nullable(Float64)",
      "l_discount" -> "Nullable(Float64)", "l_tax" -> "Nullable(Float64)",
      "l_returnflag" -> "Nullable(String)", "l_linestatus" -> "Nullable(String)",
      "l_shipdate" -> "Nullable(DateTime64(3))"),
    "orders" -> Seq(
      "o_orderkey" -> "Nullable(Int64)", "o_custkey" -> "Nullable(Int64)",
      "o_orderstatus" -> "Nullable(String)", "o_totalprice" -> "Nullable(Float64)",
      "o_orderdate" -> "Nullable(DateTime64(3))", "o_orderpriority" -> "Nullable(String)"),
    "customer" -> Seq(
      "c_custkey" -> "Nullable(Int64)", "c_name" -> "Nullable(String)",
      "c_nationkey" -> "Nullable(Int32)", "c_acctbal" -> "Nullable(Float64)",
      "c_mktsegment" -> "Nullable(String)"),
    "nation" -> Seq(
      "n_nationkey" -> "Nullable(Int32)", "n_name" -> "Nullable(String)",
      "n_regionkey" -> "Nullable(Int32)"),
    "documents" -> Seq(
      "doc_id" -> "Nullable(Int64)", "text" -> "Nullable(String)",
      "lang" -> "Nullable(String)", "source" -> "Nullable(String)",
      "n_chars" -> "Nullable(Int64)"))

  val Segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Nations: Seq[String] = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
    "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
  val Words: Seq[String] = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge", "data", "vector",
    "index", "shard", "block", "cache", "plan", "join")
  val Langs: Seq[String] = Seq("en", "de", "fr", "zh", "ja")
  val Sources: Int = 8
  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  // 1992-01-01T00:00:00Z in epoch seconds
  private val Epoch1992 = 694224000L

  /** Seeded uniform draw in [0, n) for row `id` and column tag `k`. */
  private def draw(seed: Long, k: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(k)), lit(n))

  private def pick(seed: Long, k: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (draw(seed, k, values.size.toLong) + 1).cast("int"))

  private def quarter(seed: Long, k: Int, n: Long, base: Double): Column =
    (draw(seed, k, n) / 4.0 + base).cast("double")

  private def ts(seed: Long, k: Int, days: Long): Column =
    timestamp_seconds(lit(Epoch1992) + draw(seed, k, days * 86400L))

  /** `n` row ids in [[FilesPerTable]] partitions (one output file each). */
  private def ids(s: SparkSession, n: Long): DataFrame = s.range(0, n, 1, FilesPerTable).toDF()

  def lineitem(s: SparkSession, seed: Long, n: Long, orders: Long): DataFrame =
    ids(s, n).select(
      (col("id") % orders + 1).as("l_orderkey"),
      (draw(seed, 1, 20000) + 1).as("l_partkey"),
      (draw(seed, 2, 1000) + 1).as("l_suppkey"),
      (col("id") / orders + 1).cast("int").as("l_linenumber"),
      (draw(seed, 3, 50) + 1).cast("double").as("l_quantity"),
      quarter(seed, 4, 400000, 900.0).as("l_extendedprice"),
      (draw(seed, 5, 4) / 32.0).as("l_discount"),
      (draw(seed, 6, 3) / 32.0).as("l_tax"),
      pick(seed, 7, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 8, Seq("F", "O")).as("l_linestatus"),
      ts(seed, 9, 2500).as("l_shipdate"))

  def orders(s: SparkSession, seed: Long, n: Long, customers: Long): DataFrame =
    ids(s, n).select(
      (col("id") + 1).as("o_orderkey"),
      (draw(seed, 11, customers) + 1).as("o_custkey"),
      pick(seed, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      quarter(seed, 13, 2000000, 850.0).as("o_totalprice"),
      ts(seed, 14, 2400).as("o_orderdate"),
      pick(seed, 15, Priorities).as("o_orderpriority"))

  def customer(s: SparkSession, seed: Long, n: Long): DataFrame =
    ids(s, n).select(
      (col("id") + 1).as("c_custkey"),
      format_string("Customer#%09d", col("id") + 1).as("c_name"),
      draw(seed, 21, 25).cast("int").as("c_nationkey"),
      quarter(seed, 22, 44000, -999.0).as("c_acctbal"),
      pick(seed, 23, Segments).as("c_mktsegment"))

  def nation(s: SparkSession): DataFrame =
    ids(s, Nations.size.toLong).select(
      col("id").cast("int").as("n_nationkey"),
      element_at(array(Nations.map(lit): _*), (col("id") + 1).cast("int")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  /** Long-string rows: 60 to 360 seeded words (~0.3 to 2 KB of text). */
  def documents(s: SparkSession, seed: Long, n: Long): DataFrame = {
    val words = array(Words.map(lit): _*)
    val text = concat_ws(" ", transform(
      sequence(lit(1), (draw(seed, 31, 300) + 60).cast("int")),
      i => element_at(words,
        (pmod(xxhash64(lit(seed), col("id"), i), lit(Words.size.toLong)) + 1).cast("int"))))
    ids(s, n).select(col("id").as("doc_id"), text.as("text"),
        pick(seed, 32, Langs).as("lang"),
        concat(lit("src"), draw(seed, 33, Sources).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Ingest rows: batch `b` holds keys b*rows+1 .. (b+1)*rows. */
  def ingest(s: SparkSession, seed: Long, batches: Int, rows: Long): DataFrame =
    ids(s, batches * rows).select(
      (col("id") + 1).as("k"),
      concat(lit("g"), draw(seed, 41, 16).cast("string")).as("grp"),
      quarter(seed, 42, 40000, 0.0).as("v"),
      ts(seed, 43, 365).as("ts"),
      concat_ws(" ", pick(seed, 44, Words), pick(seed, 45, Words), pick(seed, 46, Words))
        .as("note"),
      (col("id") / rows).cast("int").as("b"))

  /** Files each table is written as (a fixed count, so inputs depend on
    * the seed alone and not on the machine).
    */
  val FilesPerTable = 4

  /** Write every table under `dir` (once per checkout; see run.py). */
  def generate(s: SparkSession, dir: Path, sizes: Sizes): Corpus = {
    def write(df: DataFrame, name: String): Unit =
      df.write.parquet(dir.resolve(s"$name.parquet").toString)
    write(lineitem(s, Seed, sizes.lineitem, sizes.orders), "lineitem")
    write(orders(s, Seed, sizes.orders, sizes.customer), "orders")
    write(customer(s, Seed, sizes.customer), "customer")
    write(nation(s), "nation")
    write(documents(s, Seed, sizes.documents), "documents")
    Files.write(dir.resolve(Ready), Array.emptyByteArray)
    Corpus(dir, sizes)
  }

  /** A run's ingest inputs, written to `path`: every batch, with its number
    * in column `b`.
    */
  def generateIngest(s: SparkSession, seed: Long, path: Path): DataFrame = {
    ingest(s, seed, Workloads.IngestBatches, Workloads.IngestBatchRows).write.parquet(path.toString)
    s.read.parquet(path.toString)
  }

  /** Parquet data files under a table's directory (Spark writes one dir). */
  def parquetFiles(p: Path): Seq[String] = {
    val st = Files.list(p)
    try st.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    finally st.close()
  }

  /** A fresh embedded store at `root`: every corpus table attached zero-copy
    * and an empty MergeTree ingest table.
    */
  def buildStore(root: Path, corpus: Corpus): EmbeddedClickHouse = {
    val client = new EmbeddedClickHouse(root.toString)
    Tables.foreach { t =>
      client.createTable("main", t, StoreColumns(t), Map("engine" -> "MergeTree"))
      client.attachExternal("main", t, parquetFiles(corpus.dir.resolve(s"$t.parquet")))
    }
    client.createTable("main", "ingest",
      Seq("k" -> "Nullable(Int64)", "grp" -> "Nullable(String)", "v" -> "Nullable(Float64)",
        "ts" -> "Nullable(DateTime64(3))", "note" -> "Nullable(String)"),
      Map("engine" -> "MergeTree", "order_by" -> "k"))
    client
  }
}
