package graft.client

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Table-scoped freshness of the embedded store's views and prepared
  * statements: a write re-resolves only what reads the table it wrote,
  * and DDL re-resolves everything.
  */
class TableFreshnessSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("table-freshness-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fresh store: `f.t1` holds k = 1..5 in one part, `f.t2` k = 1..5. */
  private def store(): EmbeddedClickHouse = {
    spark
    val c = new EmbeddedClickHouse(Files.createTempDirectory("graft_fresh_").toString)
    Seq("t1", "t2").foreach { t =>
      c.createTable("f", t, Seq("k" -> "Int64", "v" -> "String"),
        Map("engine" -> "MergeTree", "order_by" -> "k"))
      c.insert("f", t, c.sparkSchema("f", t), (1L to 5L).map(k => Row(k, s"$t-$k")))
    }
    c
  }

  private def rows(c: EmbeddedClickHouse, sql: String): Seq[String] =
    c.query(sql, 2)._2.flatten.map(_.toString).sorted

  private def entry(c: EmbeddedClickHouse): EmbeddedStatements.CachedServer =
    EmbeddedClickHouse.sessionCache.get(c.connectionKey)

  private val onT2 = "SELECT `k`, `v` FROM `f`.`t2` WHERE `k` > 0"
  private val onT1 = "SELECT `k`, `v` FROM `f`.`t1`"
  private val joined = "SELECT `a`.`k` AS `k`, `b`.`v` AS `v` FROM `f`.`t1` AS `a` " +
    "INNER JOIN `f`.`t2` AS `b` ON `a`.`k` = `b`.`k`"
  private val parts = "SELECT `table`, sum(`rows`) AS `n` FROM `system`.`parts` " +
    "WHERE `database` = 'f' GROUP BY `table`"

  /** The writes into t1, each with t1's keys after it. */
  private def writes(c: EmbeddedClickHouse): Seq[(String, () => Unit, Seq[Long])] = Seq(
    ("insert", () => c.insert("f", "t1", c.sparkSchema("f", "t1"),
      Seq(Row(6L, "t1-6"), Row(7L, "t1-7"))), (1L to 7L)),
    ("delete", () => c.deleteWhere("f", "t1", "`k` > 5"), (1L to 5L)),
    ("optimize", () => c.optimizeTable("f", "t1", finalize = true), (1L to 5L)),
    ("truncate", () => c.truncateTable("f", "t1"), Nil))

  test("a write to t1 keeps t2's prepared statement and view: the same DataFrame, " +
    "no re-registration") {
    val c = store()
    val t2Rows = rows(c, onT2)
    assert(t2Rows.size == 5)
    val e = entry(c)
    val df = e.dfCache.get(onT2)
    val view = e.viewVersions.get(("f", "t2"))
    assert(df != null && view != null)
    writes(c).foreach { case (what, write, _) =>
      write()
      assert(rows(c, onT2) == t2Rows, what)
      assert(entry(c) eq e, what)
      assert(e.dfCache.get(onT2) eq df, s"$what into t1 re-resolved the t2 statement")
      assert(e.viewVersions.get(("f", "t2")) == view, s"$what into t1 re-registered t2")
    }
  }

  test("statements that read t1 re-resolve after each write to it and see the new " +
    "rows: t1 alone, t1 JOIN t2, system.parts") {
    val c = store()
    Seq(onT1, joined, parts).foreach(rows(c, _))
    writes(c).foreach { case (what, write, keys) =>
      val before = Seq(onT1, joined, parts).map(entry(c).dfCache.get)
      write()
      assert(rows(c, onT1) == keys.map(k => s"[$k,t1-$k]").sorted, what)
      assert(rows(c, joined) == keys.filter(_ <= 5).map(k => s"[$k,t2-$k]").sorted, what)
      val t1Parts = if (keys.isEmpty) Nil else Seq(s"[t1,${keys.size}]")
      assert(rows(c, parts) == (t1Parts :+ "[t2,5]").sorted, what)
      Seq(onT1, joined, parts).zip(before).foreach { case (sql, df) =>
        assert(!(entry(c).dfCache.get(sql) eq df), s"$what: `$sql` was served stale")
      }
    }
  }

  test("DDL re-resolves every statement, on any table") {
    val c = store()
    rows(c, onT2)
    val e = entry(c)
    def reResolvedBy(ddl: => Unit): Boolean = {
      val df: DataFrame = e.dfCache.get(onT2)
      ddl
      rows(c, onT2)
      !(e.dfCache.get(onT2) eq df)
    }
    assert(reResolvedBy(c.createTable("f", "t3", Seq("k" -> "Int64"),
      Map("engine" -> "MergeTree"))))
    assert(reResolvedBy(c.renameTable("f", "t3", "f", "t4")))
    assert(reResolvedBy(c.dropTable("f", "t4")))
    assert(reResolvedBy(EmbeddedClickHouse.invalidate(c.root)))
    // and a read with nothing between keeps it
    assert(!reResolvedBy(()))
  }
}
