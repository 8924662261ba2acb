package graft.client

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.SchedulerProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Bare column reads served from the parts themselves: no job, no spill
  * file, the scan's own reader; every other shape keeps the spill path.
  * Also the part-level metadata reads around them: footer row counts and
  * the sequence view's part names.
  */
class PartReadSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("part-read-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def newStore(): EmbeddedClickHouse = {
    spark // session up
    new EmbeddedClickHouse(Files.createTempDirectory("graft_partread_").toString)
  }

  private val Cols = Seq("id" -> "Int64", "name" -> "String", "v" -> "Nullable(Float64)")

  private def block(b: Int): Seq[Row] = (1 to 500).map { i =>
    val id = b * 1000L + i
    Row(id, s"n$id", if (i % 7 == 0) null else id * 0.5)
  }

  /** A store holding `db.t`, four inserts = four parts. */
  private def fourParts(): EmbeddedClickHouse = {
    val client = newStore()
    client.createTable("db", "t", Cols, Map("engine" -> "MergeTree", "order_by" -> "id"))
    (0 until 4).foreach(b => client.insert("db", "t", client.sparkSchema("db", "t"), block(b)))
    client
  }

  private def multiset(rs: Seq[Seq[Any]]) =
    rs.groupBy(identity).map { case (r, same) => r -> same.size }

  private def jobsDuring[A](body: => A): (Int, A) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    SchedulerProbe.drain(sc)
    sc.addSparkListener(listener)
    val out =
      try { val a = body; SchedulerProbe.drain(sc); a }
      finally sc.removeSparkListener(listener)
    (jobs.get, out)
  }

  private def spillFiles(client: EmbeddedClickHouse): Seq[Path] = {
    val spill = Paths.get(client.root, ".spill")
    if (!Files.isDirectory(spill)) Nil
    else {
      val st = Files.walk(spill)
      try st.iterator.asScala.filter(_.getFileName.toString.endsWith(".rows")).toSeq
      finally st.close()
    }
  }

  /** Every handle's rows through the columnar read, as external rows. */
  private def columnarRows(
      client: EmbeddedClickHouse, schema: StructType, hs: Seq[ChPartitionHandle]): Seq[Seq[Any]] = {
    val de = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
    hs.flatMap(h => client.readPartitionColumnar(h, schema).flatMap(
      _.rowIterator.asScala.map(r => de(r.copy()).toSeq)))
  }

  test("a bare column read over four parts runs no job, writes no spill file, " +
    "and returns numStreams part handles with the exact rows by both read paths") {
    val client = fourParts()
    val want = multiset((0 until 4).flatMap(block).map(_.toSeq))
    val (jobs, (schema, hs)) = jobsDuring(client.planQuery("SELECT * FROM `db`.`t`", 3))
    assert(jobs == 0, s"$jobs jobs for a bare column read")
    assert(spillFiles(client).isEmpty, "a bare column read wrote spill files")
    assert(hs.size == 3 && hs.forall(_.isInstanceOf[ChPartHandle]), hs.map(_.getClass.getSimpleName))
    assert(hs.forall(_.asInstanceOf[ChPartHandle].batches), "parquet batches expected")
    assert(multiset(hs.flatMap(h => client.readPartition(h)).map(_.toSeq)) == want)
    assert(multiset(columnarRows(client, schema, hs)) == want)
    // more streams than file partitions: empty handles pad to numStreams
    val (_, wide) = client.planQuery("SELECT `id`, `v` FROM `db`.`t`", 16)
    assert(wide.size == 16 && wide.forall(_.isInstanceOf[ChPartHandle]))
    assert(multiset(wide.flatMap(h => client.readPartition(h)).map(_.toSeq)) ==
      multiset((0 until 4).flatMap(block).map(r => Seq(r.get(0), r.get(2)))))
  }

  test("a planned bare read keeps its rows across a TRUNCATE that deletes the parts") {
    val client = fourParts()
    val (_, hs) = client.planQuery("SELECT `id` FROM `db`.`t`", 2)
    client.truncateTable("db", "t")
    assert(client.query("SELECT `id` FROM `db`.`t`", 2)._2.flatten.isEmpty)
    assert(hs.flatMap(h => client.readPartition(h)).map(_.getLong(0)).sorted ==
      (0 until 4).flatMap(block).map(_.getLong(0)).sorted)
  }

  test("filtered, aggregate, ordered, limited, FINAL, _part, Collapsing and " +
    "system statements keep the spill path") {
    val client = fourParts()
    client.createTable("db", "r", Seq("k" -> "Int64", "ver" -> "Int64"),
      Map("engine" -> "ReplacingMergeTree(ver)", "order_by" -> "k"))
    client.createTable("db", "c", Seq("k" -> "Int64", "sign" -> "Int8"),
      Map("engine" -> "CollapsingMergeTree(sign)", "order_by" -> "k"))
    (1 to 2).foreach { i =>
      client.insert("db", "r", client.sparkSchema("db", "r"), Seq(Row(1L, i.toLong)))
      client.insert("db", "c", client.sparkSchema("db", "c"), Seq(Row(i.toLong, 1.toByte)))
    }
    Seq(
      "SELECT * FROM `db`.`t` WHERE `id` > 10",
      "SELECT count(*) FROM `db`.`t`",
      "SELECT * FROM `db`.`t` ORDER BY `id`",
      "SELECT * FROM `db`.`t` LIMIT 5",
      "SELECT `id` + 1 AS `x` FROM `db`.`t`",
      "SELECT * FROM `db`.`r` FINAL",
      "SELECT `_part`, `id` FROM `db`.`t`",
      "SELECT * FROM `db`.`c`",
      "SELECT * FROM `system`.`parts`"
    ).foreach { sql =>
      val (_, hs) = client.planQuery(sql, 4)
      assert(hs.nonEmpty && hs.forall(_.isInstanceOf[ChSpillHandle]), s"`$sql` left the spill path")
    }
  }

  test("a _part read over 40 parts plans one parquet scan; a CollapsingMergeTree " +
    "table keeps its ordered per-part union") {
    val client = newStore()
    client.createTable("db", "p40", Cols, Map("engine" -> "MergeTree", "order_by" -> "id"))
    client.createTable("db", "c", Seq("k" -> "Int64", "sign" -> "Int8"),
      Map("engine" -> "CollapsingMergeTree(sign)", "order_by" -> "k"))
    (0 until 40).foreach(b =>
      client.insert("db", "p40", client.sparkSchema("db", "p40"), block(b).take(5)))
    (1 to 3).foreach(i =>
      client.insert("db", "c", client.sparkSchema("db", "c"), Seq(Row(i.toLong, 1.toByte))))
    def scans(sql: String): Int = client.statements.prepared(sql).queryExecution.sparkPlan
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.size
    val sql = "SELECT `_part`, count(*) AS `n` FROM `db`.`p40` GROUP BY `_part`"
    assert(scans(sql) == 1)
    val parts = Files.list(Paths.get(client.root, "db", "p40")).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    assert(client.query(sql, 2)._2.flatten.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      parts.map(_ -> 5L).toMap)
    assert(scans("SELECT `_part`, `k` FROM `db`.`c`") == 3)
  }

  test("footer row counts are read once per part: a second system.parts read " +
    "after one insert opens one footer") {
    val client = newStore()
    Seq("t1", "t2").foreach(t =>
      client.createTable("db", t, Seq("id" -> "Int64"), Map("engine" -> "MergeTree")))
    (1 to 20).foreach(i => client.insert("db", "t1", client.sparkSchema("db", "t1"), Seq(Row(i.toLong))))
    val sql = "SELECT `table`, sum(`rows`) AS `r` FROM `system`.`parts` GROUP BY `table`"
    val opens = EmbeddedClickHouse.rootState(client.root).footerCounts.opens
    assert(client.query(sql, 1)._2.flatten.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("t1" -> 20L))
    val before = opens.get
    client.insert("db", "t2", client.sparkSchema("db", "t2"), Seq(Row(1L), Row(2L)))
    assert(client.query(sql, 1)._2.flatten.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("t1" -> 20L, "t2" -> 2L))
    assert(opens.get - before == 1, s"${opens.get - before} footers opened for one new part")
    // counts of removed parts leave the memo with the next listing
    client.truncateTable("db", "t1")
    assert(client.query(sql, 1)._2.flatten.map(_.getString(0)) == Seq("t2"))
    assert(client.tableRowCount("db", "t2").contains(2L))
    assert(opens.get - before == 1)
  }
}
