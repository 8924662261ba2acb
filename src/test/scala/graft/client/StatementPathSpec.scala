package graft.client

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Every statement the embedded store runs resolves its ClickHouse SQL
  * through one pipeline: the SELECT of an INSERT SELECT, a mutation's
  * condition and a materialized view's select give the rows that the
  * same text gives through `query`. A view select that needs table-level
  * state (FINAL, `_part`) rejects at CREATE, and write statements never
  * evict prepared reads.
  */
class StatementPathSpec extends AnyFunSuite {

  private lazy val root = Files.createTempDirectory("graft_stmtpath_").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("statement-path-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.conf.set("spark.sql.catalog.chsp",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    s.conf.set("spark.sql.catalog.chsp.path", root)
    graft.GraftSession.install(s)
    s
  }

  /** `p.dim` (ReplacingMergeTree(ver)): 5 stored rows, 3 FINAL rows, and
    * `ver = 1` survives FINAL only for k = 2.
    */
  private lazy val client: EmbeddedClickHouse = {
    spark
    val c = new EmbeddedClickHouse(root)
    def table(t: String, cols: Seq[(String, String)], opts: Map[String, String],
        blocks: Seq[Row]*): Unit = {
      c.createTable("p", t, cols, opts)
      blocks.foreach(b => c.insert("p", t, c.sparkSchema("p", t), b))
    }
    table("dim", Seq("k" -> "Int64", "v" -> "String", "ver" -> "Int64"),
      Map("engine" -> "ReplacingMergeTree(ver)", "order_by" -> "k"),
      Seq(Row(1L, "a", 1L), Row(2L, "b", 1L), Row(3L, "c", 1L)),
      Seq(Row(1L, "a2", 2L), Row(3L, "c2", 2L)))
    table("sm", Seq("k" -> "Int64", "n" -> "Int64"),
      Map("engine" -> "SummingMergeTree", "order_by" -> "k"),
      Seq(Row(1L, 1L), Row(2L, 2L)), Seq(Row(1L, 3L), Row(2L, -2L)))
    table("cl", Seq("k" -> "Int64", "v" -> "Int64", "sign" -> "Int8"),
      Map("engine" -> "CollapsingMergeTree(sign)", "order_by" -> "k"),
      Seq(Row(1L, 10L, 1.toByte), Row(2L, 20L, 1.toByte)),
      Seq(Row(1L, 10L, (-1).toByte), Row(1L, 11L, 1.toByte)))
    table("grp", Seq("g" -> "Int64", "k" -> "Int64"),
      Map("engine" -> "MergeTree", "order_by" -> "k", "sampling" -> "k"),
      (1L to 60L).map(i => Row(i % 4, i)))
    table("gaps", Seq("k" -> "Int64", "v" -> "Nullable(String)"),
      Map("engine" -> "MergeTree", "order_by" -> "k"),
      Seq(Row(2L, "two"), Row(5L, "five")))
    table("l", Seq("k" -> "Int64", "lv" -> "String"),
      Map("engine" -> "MergeTree", "order_by" -> "k"),
      Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "c")))
    table("r", Seq("k" -> "Int64", "rv" -> "String"),
      Map("engine" -> "MergeTree", "order_by" -> "k"),
      Seq(Row(1L, "x"), Row(1L, "y"), Row(2L, "z")))
    c
  }

  private def rows(sql: String): Seq[String] =
    client.query(sql, 4)._2.flatten.map(_.toString).sorted

  private var n = 0
  /** A fresh empty MergeTree table `p.<prefix>_<n>` with `cols`. */
  private def target(prefix: String, cols: Seq[(String, String)]): String = {
    n += 1
    val t = s"${prefix}_$n"
    client.createTable("p", t, cols, Map("engine" -> "MergeTree"))
    t
  }

  private val readShapes: Seq[(String, Seq[(String, String)], String)] = Seq(
    ("FINAL on ReplacingMergeTree",
      Seq("k" -> "Int64", "v" -> "String", "ver" -> "Int64"),
      "SELECT `k`, `v`, `ver` FROM `p`.`dim` FINAL"),
    ("FINAL on SummingMergeTree", Seq("k" -> "Int64", "n" -> "Int64"),
      "SELECT `k`, `n` FROM `p`.`sm` FINAL"),
    ("FINAL on CollapsingMergeTree",
      Seq("k" -> "Int64", "v" -> "Int64", "sign" -> "Int8"),
      "SELECT `k`, `v`, `sign` FROM `p`.`cl` FINAL"),
    ("SAMPLE", Seq("k" -> "Int64"), "SELECT `k` FROM `p`.`grp` SAMPLE 0.5"),
    ("LIMIT n BY", Seq("g" -> "Int64", "k" -> "Int64"),
      "SELECT `g`, `k` FROM `p`.`grp` ORDER BY `g`, `k` LIMIT 2 BY `g`"),
    ("DISTINCT ON", Seq("g" -> "Int64", "k" -> "Int64"),
      "SELECT DISTINCT ON (`g`) `g`, `k` FROM `p`.`grp` ORDER BY `g`, `k` DESC"),
    ("WITH FILL", Seq("k" -> "Int64", "v" -> "Nullable(String)"),
      "SELECT `k`, `v` FROM `p`.`gaps` ORDER BY `k` WITH FILL FROM 1 TO 8"),
    ("_part", Seq("part" -> "String", "c" -> "Int64"),
      "SELECT _part AS part, count(*) AS c FROM `p`.`dim` GROUP BY _part"),
    ("ANY LEFT JOIN", Seq("k" -> "Int64", "rv" -> "Nullable(String)"),
      "SELECT l.`k` AS k, r.`rv` AS rv FROM `p`.`l` AS l " +
        "ANY LEFT JOIN `p`.`r` AS r ON l.`k` = r.`k`"))

  readShapes.foreach { case (shape, cols, sql) =>
    test(s"insertSelect lands exactly the rows query returns: $shape") {
      val expected = rows(sql)
      assert(expected.nonEmpty, shape)
      val t = target("copy", cols)
      val landed = client.insertSelect("p", t, sql)
      assert(rows(s"SELECT * FROM `p`.`$t`") == expected, sql)
      assert(landed == expected.size.toLong)
    }
  }

  test("the FINAL copy lands the 3 deduplicated rows, not the 5 stored " +
    "ones, with the table name quoted or bare") {
    Seq("`p`.`dim`", "p.dim").foreach { ref =>
      val sql = s"SELECT k, v, ver FROM $ref FINAL"
      assert(rows(sql).size == 3, sql)
      val t = target("fin", Seq("k" -> "Int64", "v" -> "String", "ver" -> "Int64"))
      assert(client.insertSelect("p", t, sql) == 3L, sql)
      assert(rows(s"SELECT `k`, `v` FROM `p`.`$t`") == Seq("[1,a2]", "[2,b]", "[3,c2]"))
    }
  }

  private val finalSubquery = "`k` IN (SELECT `k` FROM `p`.`dim` FINAL WHERE `ver` = 1)"

  private def threeKeys(prefix: String): String = {
    val t = target(prefix, Seq("k" -> "Int64", "v" -> "String"))
    client.insert("p", t, client.sparkSchema("p", t),
      Seq(Row(1L, "one"), Row(2L, "two"), Row(3L, "three")))
    t
  }

  test("deleteWhere with a FINAL subquery deletes exactly the keys the " +
    "SELECT returns") {
    assert(rows(s"SELECT `k` FROM `p`.`dim` FINAL WHERE `ver` = 1") == Seq("[2]"))
    val t = threeKeys("del")
    client.deleteWhere("p", t, finalSubquery)
    assert(rows(s"SELECT `k` FROM `p`.`$t`") == Seq("[1]", "[3]"))
  }

  test("updateWhere with a FINAL subquery updates exactly the keys the " +
    "SELECT returns") {
    val t = threeKeys("upd")
    client.updateWhere("p", t, Seq("v" -> "'hit'"), finalSubquery)
    assert(rows(s"SELECT `k`, `v` FROM `p`.`$t`") ==
      Seq("[1,one]", "[2,hit]", "[3,three]"))
  }

  test("Spark SQL INSERT ... SELECT ... WITH ('final'='true') lands the " +
    "rows the same read returns") {
    client
    val read = "SELECT * FROM chsp.p.dim WITH ('final' = 'true')"
    assert(spark.sql(read).count() == 3L)
    val t = target("sqlfin", Seq("k" -> "Int64", "v" -> "String", "ver" -> "Int64"))
    spark.sql(s"INSERT INTO chsp.p.$t $read")
    assert(spark.table(s"chsp.p.$t").count() == 3L)
  }

  test("a materialized view over FINAL or _part rejects at CREATE, naming " +
    "the clause") {
    val t = target("mvt", Seq("k" -> "Int64", "v" -> "String", "ver" -> "Int64"))
    val fin = intercept[IllegalArgumentException](client.createMaterializedView(
      "p", "mv_final", "p", t, "SELECT `k`, `v`, `ver` FROM `p`.`dim` FINAL"))
    assert(fin.getMessage.contains("FINAL"), fin.getMessage)
    val pt = target("mvp", Seq("part" -> "String", "k" -> "Int64"))
    val part = intercept[IllegalArgumentException](client.createMaterializedView(
      "p", "mv_part", "p", pt, "SELECT _part AS part, `k` FROM `p`.`dim`"))
    assert(part.getMessage.contains("_part"), part.getMessage)
    assert(client.listMaterializedViews("p").isEmpty)
  }

  test("a view's trigger transforms only the inserted block, through the " +
    "same reshapes a SELECT gets") {
    val src = target("mvsrc", Seq("g" -> "Int64", "k" -> "Int64"))
    val tgt = target("mvtgt", Seq("g" -> "Int64", "k" -> "Int64"))
    client.insert("p", src, client.sparkSchema("p", src), Seq(Row(9L, 1L)))
    client.createMaterializedView("p", s"mv_$src", "p", tgt,
      s"SELECT DISTINCT ON (`g`) `g`, `k` FROM `p`.`$src` ORDER BY `g`, `k`")
    client.insert("p", src, client.sparkSchema("p", src),
      Seq(Row(1L, 5L), Row(1L, 3L), Row(2L, 7L)))
    assert(rows(s"SELECT * FROM `p`.`$tgt`") == Seq("[1,3]", "[2,7]"))
  }

  test("write statements resolve uncached: the prepared reads stay in place") {
    val reads = (0 until EmbeddedStatements.PreparedStatements)
      .map(i => s"SELECT `k` FROM `p`.`l` WHERE `k` = $i")
    reads.foreach(client.describeQuery)
    val entry = EmbeddedClickHouse.sessionCache.get(client.connectionKey)
    val before = reads.map(entry.dfCache.get)
    assert(before.forall(_ != null))
    // statements that resolve without moving the store version
    client.deleteWhere("p", "l", "`k` > 100")
    client.updateWhere("p", "l", Seq("lv" -> "'x'"), "`k` > 100")
    intercept[IllegalArgumentException](client.insertSelect("p", "l",
      "SELECT `k` FROM `p`.`r`"))
    intercept[IllegalArgumentException](client.createMaterializedView(
      "p", "mv_lru", "p", "l", "SELECT `k`, `rv` AS lv FROM `p`.`r` FINAL"))
    assert(EmbeddedClickHouse.sessionCache.get(client.connectionKey) eq entry)
    assert(entry.dfCache.size == reads.size)
    reads.zip(before).foreach { case (sql, df) =>
      assert(entry.dfCache.get(sql) eq df, sql)
    }
  }
}
