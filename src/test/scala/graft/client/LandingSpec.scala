package graft.client

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Every change to a table's part set lands through one step: raw
  * inserts, ATTACH and TRUNCATE build and prune projection states like
  * staged inserts and rewrites do, and every part they leave in the
  * table dir carries an insert sequence in its name.
  */
class LandingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .appName("landing-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private lazy val root = Files.createTempDirectory("graft_landing_")
  private lazy val client = { spark; new EmbeddedClickHouse(root.toString) }

  private val Cols = Seq("g" -> "Int64", "v" -> "Int64")

  /** `db.<t>` (g, v) with the projection `pg` when `projected`. */
  private def table(t: String, projected: Boolean): Unit = {
    client.createTable("db", t, Cols, Map("engine" -> "MergeTree", "order_by" -> "g"))
    if (projected)
      client.alterTable("db", t,
        Seq(ChAlterOp.AddProjection("pg", "SELECT g, sum(v), count(*) GROUP BY g")))
  }

  private def insert(t: String, rows: Row*): Unit =
    client.insert("db", t, client.sparkSchema("db", t), rows)

  private def tableDir(t: String): Path = root.resolve("db").resolve(t)

  private def partNames(t: String): Seq[String] =
    NioFiles.list(tableDir(t)).map(_.getFileName.toString).filter(_.endsWith(".parquet"))

  /** `(parts_built, parts_total)` of `pg` on `db.<t>` from system.projections. */
  private def coverage(t: String): (Long, Long) = {
    val r = client.query("SELECT `parts_built`, `parts_total` FROM `system`.`projections` " +
      s"WHERE `database` = 'db' AND `table` = '$t' AND `name` = 'pg'", 1)._2.flatten.head
    (r.getLong(0), r.getLong(1))
  }

  /** Runs an eligible aggregate; returns its rows and whether `pg` served it. */
  private def sums(t: String): (Seq[(Long, Long)], Boolean) = {
    val before = client.projectionHitCount("db", t, "pg")
    val rows = client.query(
      s"SELECT `g` AS g, sum(`v`) AS s FROM `db`.`$t` GROUP BY g ORDER BY g", 1)
      ._2.flatten.map(r => (r.getLong(0), r.getLong(1)))
    (rows, client.projectionHitCount("db", t, "pg") == before + 1)
  }

  private def assertSequenced(t: String): Unit = {
    assert(partNames(t).nonEmpty)
    partNames(t).foreach(n =>
      assert(EmbeddedClickHouse.partSeqOf(n).isDefined, s"$t: part $n carries no insert sequence"))
  }

  test("a raw insert builds projection states: the first eligible aggregate is " +
    "served by the projection, with every part covered and no MATERIALIZE") {
    table("raw", projected = true)
    insert("raw", Row(1L, 10L), Row(2L, 20L), Row(1L, 5L))
    assert(coverage("raw") == (1L, 1L))
    val (rows, swapped) = sums("raw")
    assert(rows == Seq((1L, 15L), (2L, 20L)))
    assert(swapped, "the aggregate was not served by the projection")
    assertSequenced("raw")
  }

  test("ATTACH PARTITION FROM builds projection states for the clones, " +
    "which land with fresh sequences in source part order") {
    table("dst", projected = true)
    table("src", projected = false)
    insert("dst", Row(1L, 1L))
    insert("src", Row(1L, 100L))
    insert("src", Row(3L, 300L))
    val srcOrder = partNames("src").sorted
    client.attachPartitionsFrom("db", "dst", "db", "src")
    assert(coverage("dst") == (3L, 3L))
    val (rows, swapped) = sums("dst")
    assert(rows == Seq((1L, 101L), (3L, 300L)))
    assert(swapped, "the aggregate was not served by the projection")
    assertSequenced("dst")
    // the clones follow the source's part order
    val clones = partNames("dst").sorted.filter(_.contains("attach"))
    val values = clones.map(n => spark.read.parquet(tableDir("dst").resolve(n).toString)
      .collect().map(_.getLong(1)).toSeq)
    assert(values == srcOrder.map(n => spark.read.parquet(tableDir("src").resolve(n).toString)
      .collect().map(_.getLong(1)).toSeq))
  }

  test("TRUNCATE leaves no projection state dir behind") {
    table("tr", projected = true)
    Seq(1L, 2L).foreach { g =>
      client.stageInsert("db", "tr", client.sparkSchema("db", "tr"), Seq(Row(g, g)), s"t$g")
      client.commitStaged("db", "tr", s"t$g")
    }
    val states = tableDir("tr").resolve(".projections").resolve("pg")
    assert(NioFiles.list(states).size == 2)
    client.truncateTable("db", "tr")
    assert(partNames("tr").isEmpty)
    assert(NioFiles.list(states).isEmpty, NioFiles.list(states).mkString(", "))
    assert(coverage("tr") == (0L, 0L))
  }

  test("every landing leaves sequenced parts only, and nothing in the write dirs") {
    table("all", projected = true)
    table("from", projected = false)
    insert("from", Row(5L, 50L))
    insert("all", Row(1L, 1L))
    client.stageInsert("db", "all", client.sparkSchema("db", "all"), Seq(Row(2L, 2L)), "task-1")
    client.commitStaged("db", "all", "task-1")
    client.insertSelect("db", "all", "SELECT `g`, `v` FROM `db`.`from`")
    client.attachPartitionsFrom("db", "all", "db", "from")
    client.updateWhere("db", "all", Seq("v" -> "`v` + 1"), "`g` = 1")
    assertSequenced("all")
    client.deleteWhere("db", "all", "`g` = 2")
    assertSequenced("all")
    client.optimizeTable("db", "all", finalize = true)
    assertSequenced("all")
    assert(coverage("all") == (1L, 1L))
    assert(sums("all") == (Seq((1L, 2L), (5L, 100L)), true))
    // a failed block write leaves neither a staged nor a landed file
    val before = partNames("all").toSet
    intercept[RuntimeException](insert("all", Row(null, 1L)))
    assert(partNames("all").toSet == before)
    assert(NioFiles.list(tableDir("all").resolve(".insert-staging")).isEmpty)
    assert(NioFiles.list(tableDir("all")).forall(p => !p.getFileName.toString.startsWith(".staging")))
  }
}
