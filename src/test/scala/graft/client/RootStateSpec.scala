package graft.client

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One state record per store root: clients opened on two spellings of
  * one root, and a store changed by another process, see the same view
  * definitions and the same projection hit counts.
  */
class RootStateSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .appName("root-state-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fresh store root as a path relative to the working directory. */
  private def relativeRoot(): Path = {
    Files.createDirectories(Paths.get("target"))
    val p = Files.createTempDirectory(Paths.get("target"), "graft_root_")
    assert(!p.isAbsolute)
    p
  }

  /** `db.src` (k) and its MV target `db.tgt` (k), with one row in `src`. */
  private def sourceAndTarget(c: EmbeddedClickHouse): Unit = {
    spark
    Seq("src", "tgt").foreach(t => c.createTable("db", t, Seq("k" -> "Int64"),
      Map("engine" -> "MergeTree", "order_by" -> "k")))
    insertK(c, 1L)
  }

  private def insertK(c: EmbeddedClickHouse, k: Long): Unit =
    c.insert("db", "src", c.sparkSchema("db", "src"), Seq(Row(k)))

  private def targetRows(c: EmbeddedClickHouse): Seq[Long] =
    c.query("SELECT `k` FROM `db`.`tgt`", 1)._2.flatten.map(_.getLong(0)).sorted

  test("an MV created through the absolute spelling of a root fires on an insert " +
    "through the relative one") {
    val rel = relativeRoot()
    try {
      val viaRel = new EmbeddedClickHouse(rel.toString)
      sourceAndTarget(viaRel) // the insert lists the (empty) view set
      val viaAbs = new EmbeddedClickHouse(rel.toAbsolutePath.toString)
      viaAbs.createMaterializedView("db", "mv", "db", "tgt", "SELECT `k` FROM `db`.`src`")
      insertK(viaRel, 2L)
      assert(targetRows(viaAbs) == Seq(2L), "the insert did not fire the view")
    } finally NioFiles.deleteRecursively(rel)
  }

  test("an MV whose definition another process wrote fires after invalidate(root)") {
    val root = Files.createTempDirectory("graft_root_")
    val other = Files.createTempDirectory("graft_root_other_")
    val c = new EmbeddedClickHouse(root.toString)
    sourceAndTarget(c)
    // the other process: the same tables in its own store, where it
    // creates the view; its definition file then lands in this store
    val o = new EmbeddedClickHouse(other.toString)
    sourceAndTarget(o)
    o.createMaterializedView("db", "mv", "db", "tgt", "SELECT `k` FROM `db`.`src`")
    Files.createDirectories(root.resolve("db").resolve("mv"))
    Files.copy(other.resolve("db").resolve("mv").resolve("view.meta"),
      root.resolve("db").resolve("mv").resolve("view.meta"))
    EmbeddedClickHouse.invalidate(root.toString)
    insertK(c, 2L)
    assert(targetRows(c) == Seq(2L), "the insert did not fire the view")
  }

  test("projection hits count the same through either spelling of a root") {
    val rel = relativeRoot()
    try {
      spark
      val viaRel = new EmbeddedClickHouse(rel.toString)
      viaRel.createTable("db", "p", Seq("k" -> "Int64", "tag" -> "String", "v" -> "Int64"),
        Map("engine" -> "MergeTree", "order_by" -> "k"))
      viaRel.alterTable("db", "p", Seq(ChAlterOp.AddProjection("by_tag",
        "SELECT tag, sum(v) GROUP BY tag")))
      viaRel.insert("db", "p", viaRel.sparkSchema("db", "p"),
        Seq(Row(1L, "a", 10L), Row(2L, "b", 20L), Row(3L, "a", 5L)))
      viaRel.alterTable("db", "p", Seq(ChAlterOp.MaterializeProjection("by_tag")))
      val rows = viaRel.query(
        "SELECT `tag` AS tag, sum(`v`) AS s FROM `db`.`p` GROUP BY tag ORDER BY tag", 1)
        ._2.flatten.map(r => (r.getString(0), r.getLong(1)))
      assert(rows == Seq(("a", 15L), ("b", 20L)))
      val viaAbs = new EmbeddedClickHouse(rel.toAbsolutePath.toString)
      val hits = viaRel.projectionHitCount("db", "p", "by_tag")
      assert(hits == 1L, s"$hits projection reads")
      assert(viaAbs.projectionHitCount("db", "p", "by_tag") == hits)
    } finally NioFiles.deleteRecursively(rel)
  }
}
