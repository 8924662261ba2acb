package graft.client

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the lazy per-table view-refresh semantics of the embedded
  * server session: a store mutation keeps the cached child session
  * alive, and only the views a later query actually references are
  * re-registered — a real server never re-reads its whole catalog
  * because one table got an insert.
  */
class LazyViewSpec extends AnyFunSuite {

  private lazy val root = Files.createTempDirectory("graft_lazyview_").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("lazyview-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private lazy val client: EmbeddedClickHouse = {
    spark // force session init: the embedded server needs an active parent
    val c = new EmbeddedClickHouse(root)
    c.createDatabase("main")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType)))
    Seq("a", "b").foreach { t =>
      c.createTable("main", t,
        Seq("id" -> "Int64", "v" -> "Nullable(String)"),
        Map("engine" -> "MergeTree", "order_by" -> "id"))
      c.insert("main", t, schema, Seq(Row(1L, s"$t-one"), Row(2L, s"$t-two")))
    }
    c
  }

  private def scalarCount(table: String): Long = {
    val (_, parts) = client.query(s"SELECT count(*) AS c FROM `main`.`$table`", 1)
    parts.flatten.head.getLong(0)
  }

  private def entry: EmbeddedStatements.CachedServer =
    EmbeddedClickHouse.sessionCache.get(client.connectionKey)

  test("first query registers only the views it references") {
    assert(scalarCount("a") == 2L)
    val e = entry
    assert(e != null)
    assert(e.viewVersions.containsKey(("main", "a")))
    assert(!e.viewVersions.containsKey(("main", "b")),
      "querying main.a must not pay view registration for main.b")
  }

  test("a mutation keeps the child session; only touched views refresh") {
    assert(scalarCount("a") == 2L) // ensure session exists
    val before = entry
    val sessionBefore = before.session
    val aVersionBefore = before.viewVersions.get(("main", "a"))

    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType)))
    client.insert("main", "b", schema, Seq(Row(3L, "b-three")))

    // the insert bumped the store version; the next query must reuse the
    // SAME child session and see the new rows in b
    assert(scalarCount("b") == 3L)
    val after = entry
    assert(after.session eq sessionBefore,
      "store mutation must not tear down the cached child session")
    // b re-registered at the new version; a's registration untouched
    assert(after.viewVersions.get(("main", "b")).longValue == after.version)
    assert(after.viewVersions.get(("main", "a")) == aVersionBefore,
      "main.a must not re-register until a query references it")

    // and when a IS referenced again, its view is still fresh: a write to
    // b leaves a's registration as it was
    assert(scalarCount("a") == 2L)
    assert(entry.viewVersions.get(("main", "a")) == aVersionBefore,
      "a write to main.b re-registered main.a")
  }

  test("stale view never serves stale rows after its own table mutates") {
    assert(scalarCount("a") == 2L)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType)))
    client.insert("main", "a", schema, Seq(Row(10L, "a-ten"), Row(11L, "a-eleven")))
    assert(scalarCount("a") == 4L, "post-insert query must see fresh data")
  }
}
