package graft.client

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Every change to a table's part set lands through one step: raw
  * inserts, streaming epochs, ATTACH and TRUNCATE build and prune
  * projection states like staged inserts and rewrites do, and every part
  * they leave in the table dir carries an insert sequence in its name.
  * An epoch's parts carry its marker's tag and show once it exists.
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

  private def rows(t: String): Seq[(Long, Long)] =
    client.query(s"SELECT `g`, `v` FROM `db`.`$t` ORDER BY `g`, `v`", 1)
      ._2.flatten.map(r => (r.getLong(0), r.getLong(1)))

  private def stage(t: String, id: String, rows: Row*): Unit =
    client.stageInsert("db", t, client.sparkSchema("db", t), rows, id)

  /** Commits `ids` as epoch `epoch` of query `q` (marker `q-<epoch>`). */
  private def epochCommit(t: String, epoch: Long, ids: String*): Unit =
    new graft.connector.ChStreamingWrite(
      client, "db", t, client.sparkSchema("db", t), 1, 100, "q")
      .commit(epoch, ids.map(graft.connector.ChStagedCommit(_, 1L)).toArray)

  /** [[epochCommit]] that crashes after the parts moved in and before
    * the marker exists: with `.epochs` a plain file, creating the
    * marker throws.
    */
  private def crashBeforeMarker(t: String, epoch: Long, ids: String*): Unit = {
    val markers = tableDir(t).resolve(".epochs")
    val aside = tableDir(t).resolve("epochs-aside")
    if (Files.exists(markers)) Files.move(markers, aside)
    Files.createFile(markers)
    try intercept[java.nio.file.FileAlreadyExistsException](epochCommit(t, epoch, ids: _*))
    finally {
      Files.delete(markers)
      if (Files.exists(aside)) Files.move(aside, markers)
    }
  }

  private def tagged(t: String, marker: String): Seq[String] =
    partNames(t).filter(EmbeddedClickHouse.epochOf(_).contains(marker))

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

  test("a streaming epoch builds projection states: the first eligible aggregate " +
    "is served by the projection, with every part covered") {
    table("st", projected = true)
    stage("st", "e0", Row(1L, 10L), Row(2L, 20L))
    stage("st", "e0", Row(1L, 5L))
    epochCommit("st", 0L, "e0")
    assert(coverage("st") == (2L, 2L))
    val (sum, swapped) = sums("st")
    assert(sum == Seq((1L, 15L), (2L, 20L)))
    assert(swapped, "the aggregate was not served by the projection")
    assertSequenced("st")
  }

  test("an epoch landed but not marked is invisible to reads, system.parts and " +
    "tableRowCount; its replay publishes exactly one copy") {
    table("cr", projected = false)
    insert("cr", Row(1L, 1L))
    stage("cr", "c1", Row(2L, 2L))
    crashBeforeMarker("cr", 5L, "c1")
    val debris = tagged("cr", "q-5")
    assert(debris.size == 1)
    EmbeddedClickHouse.invalidate(root.toString)
    assert(rows("cr") == Seq((1L, 1L)))
    assert(client.tableRowCount("db", "cr").contains(1L))
    val parts = client.query("SELECT `name` FROM `system`.`parts` " +
      "WHERE `database` = 'db' AND `table` = 'cr'", 1)._2.flatten.map(_.getString(0))
    assert(parts.size == 1 && !parts.contains(debris.head))
    stage("cr", "c2", Row(2L, 2L))
    epochCommit("cr", 5L, "c2")
    assert(rows("cr") == Seq((1L, 1L), (2L, 2L)))
    assert(tagged("cr", "q-5").size == 1 && !partNames("cr").contains(debris.head))
    // a replay of the marked epoch drops what it staged
    stage("cr", "c3", Row(2L, 2L))
    epochCommit("cr", 5L, "c3")
    assert(rows("cr") == Seq((1L, 1L), (2L, 2L)))
    assert(client.tableRowCount("db", "cr").contains(2L))
    assert(NioFiles.list(tableDir("cr").resolve(".insert-staging")).isEmpty)
  }

  test("TRUNCATE removes marked and unmarked epoch parts and their markers") {
    table("tt", projected = true)
    stage("tt", "t1", Row(1L, 1L))
    epochCommit("tt", 0L, "t1")
    stage("tt", "t2", Row(2L, 2L))
    crashBeforeMarker("tt", 1L, "t2")
    assert(tagged("tt", "q-0").size == 1 && tagged("tt", "q-1").size == 1)
    client.truncateTable("db", "tt")
    assert(partNames("tt").isEmpty)
    assert(!Files.exists(tableDir("tt").resolve(".epochs")))
    assert(NioFiles.list(tableDir("tt").resolve(".projections").resolve("pg")).isEmpty)
    // with its marker gone, the epoch lands again
    stage("tt", "t3", Row(1L, 1L))
    epochCommit("tt", 0L, "t3")
    assert(rows("tt") == Seq((1L, 1L)))
  }

  test("a landing between an epoch's move and its marker keeps that epoch's " +
    "states; only unmarked parts past the TTL since they landed are reaped") {
    table("mk", projected = true)
    stage("mk", "m1", Row(1L, 10L))
    // staged long ago: the part's age must count from its landing
    NioFiles.list(tableDir("mk").resolve(".insert-staging").resolve("m1"))
      .foreach(Files.setLastModifiedTime(_, java.nio.file.attribute.FileTime.fromMillis(0L)))
    crashBeforeMarker("mk", 0L, "m1")
    val states = tableDir("mk").resolve(".projections").resolve("pg")
    val first = tagged("mk", "q-0")
    assert(first.size == 1 && Files.isDirectory(states.resolve(first.head)))
    insert("mk", Row(2L, 20L))
    assert(partNames("mk").contains(first.head), "the landing reaped a fresh epoch part")
    assert(Files.isDirectory(states.resolve(first.head)),
      "the landing pruned the states of an epoch not yet marked")
    assert(client.tryMarkEpochCommitted("db", "mk", "q-0"))
    assert(coverage("mk") == (2L, 2L))
    assert(sums("mk") == (Seq((1L, 10L), (2L, 20L)), true))
    // past the TTL, the unmarked epoch's part goes and the marked one stays
    stage("mk", "m2", Row(3L, 30L))
    crashBeforeMarker("mk", 1L, "m2")
    val old = java.nio.file.attribute.FileTime.fromMillis(0L)
    (first ++ tagged("mk", "q-1")).foreach(n => Files.setLastModifiedTime(tableDir("mk").resolve(n), old))
    insert("mk", Row(4L, 40L))
    assert(tagged("mk", "q-1").isEmpty)
    assert(partNames("mk").contains(first.head))
    assert(rows("mk") == Seq((1L, 10L), (2L, 20L), (4L, 40L)))
  }

  test("a table dir holding the old .epoch-parts layout rejects reads, naming the dir") {
    table("old", projected = false)
    insert("old", Row(1L, 1L))
    val oldLayout = tableDir("old").resolve(".epoch-parts")
    Files.createDirectories(oldLayout.resolve("q-0").resolve("p0"))
    EmbeddedClickHouse.invalidate(root.toString)
    val e = intercept[Exception](rows("old"))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains(oldLayout.toString)), e.toString)
  }
}
