package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.session.ClickHouseSession

/** Fluent builder API (mirrors the reference's builders.rs fluent DDL
  * chain and its e2e builder test, tests/e2e.rs: builder).
  */
class SessionSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("session-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("insertReturningCount surfaces the SQL-visible row count for both " +
    "the DSv2 write path and the collapsed server-side INSERT SELECT; " +
    "lastInsertCount tracks the most recent insert per table") {
    val root = Files.createTempDirectory("graft_sess_cnt_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chcnt").build()
    ch.createDatabase("db")
    ch.newTable("db", "src").column("id", "Int64").column("v", "Int64")
      .engine("MergeTree").orderBy("id").create()
    ch.newTable("db", "dst").column("id", "Int64").column("v", "Int64")
      .engine("MergeTree").orderBy("id").create()
    assert(ch.lastInsertCount("db", "src").isEmpty)
    // DSv2 write path (VALUES → AppendData → staged commit)
    val n1 = ch.insertReturningCount(
      "INSERT INTO chcnt.db.src VALUES (1, 10), (2, 20), (3, 30)")
    assert(n1 == 3L)
    assert(ch.lastInsertCount("db", "src").contains(3L))
    // collapsed INSERT SELECT (same store → ChInsertSelectCommand)
    val n2 = ch.insertReturningCount(
      "INSERT INTO chcnt.db.dst SELECT id, v FROM chcnt.db.src WHERE id > 1")
    assert(n2 == 2L)
    assert(ch.lastInsertCount("db", "dst").contains(2L))
    // session-level server-side insertSelect records too
    val n3 = ch.insertSelect("db", "dst", "SELECT `id`, `v` FROM `db`.`src`")
    assert(n3 == 3L)
    assert(ch.lastInsertCount("db", "dst").contains(3L))
    // a second statement's count replaces, not accumulates
    val n4 = ch.insertReturningCount("INSERT INTO chcnt.db.src VALUES (9, 90)")
    assert(n4 == 1L)
    assert(ch.lastInsertCount("db", "src").contains(1L))
    assert(ch.table("db", "dst").count() == 5L)
  }

  test("fluent DDL chain: database -> table -> insert -> query -> drop") {
    val root = Files.createTempDirectory("graft_sess_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chsess").build()

    ch.createDatabase("analytics")
    ch.newTable("analytics", "metrics")
      .column("id", "Int64")
      .column("name", "Nullable(String)")
      .column("value", "Float64")
      .engine("MergeTree").orderBy("id").partitionBy("id")
      .ttl("toDateTime64(id, 3) + INTERVAL 10 DAY") // must be temporal
      .create()

    assert(ch.databases.contains("analytics"))
    assert(ch.tables("analytics") == Seq("metrics"))
    assert(ch.client.fetchTableOptions("analytics", "metrics")("order_by") == "id")
    assert(ch.client.fetchTableOptions("analytics", "metrics")("ttl") ==
      "toDateTime64(id, 3) + INTERVAL 10 DAY")

    ch.client.insert("analytics", "metrics",
      ch.client.asInstanceOf[graft.client.EmbeddedClickHouse].sparkSchema("analytics", "metrics"),
      Seq(Row(1L, "a", 1.5), Row(2L, "b", 2.5)))

    // reads go through the catalog plugin (pushdown path)
    val got = ch.table("analytics", "metrics")
      .filter(col("id") > 1).select("name").collect().map(_.getString(0))
    assert(got.toSeq == Seq("b"))
    assert(ch.sql("SELECT count(*) AS n FROM chsess.analytics.metrics")
      .collect().head.getLong(0) == 2L)

    // schema evolution through the builder API, ClickHouse types
    ch.addColumn("analytics", "metrics", "unit", "Nullable(String)")
    ch.renameColumn("analytics", "metrics", "value", "score")
    ch.modifyColumn("analytics", "metrics", "score", "Nullable(Float64)")
    assert(ch.client.fetchColumns("analytics", "metrics") == Seq(
      "id" -> "Int64", "name" -> "Nullable(String)",
      "score" -> "Nullable(Float64)", "unit" -> "Nullable(String)"))
    assert(ch.table("analytics", "metrics").orderBy("id")
      .collect().map(_.getDouble(2)).toSeq == Seq(1.5, 2.5))
    ch.dropColumn("analytics", "metrics", "unit")
    ch.renameTable("analytics", "metrics", "analytics", "metrics2")
    assert(ch.tables("analytics") == Seq("metrics2"))

    ch.dropTable("analytics", "metrics2")
    assert(ch.tables("analytics").isEmpty)
    ch.dropDatabase("analytics")
    assert(!ch.databases.contains("analytics"))
  }

  test("raw ClickHouse-SQL passthrough: lazy frame with the server's " +
    "schema, CH functions + FINAL execute remotely, Spark transforms " +
    "compose on top") {
    val root = Files.createTempDirectory("graft_chsql_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chraw").build()
    ch.createDatabase("raw")
    ch.newTable("raw", "m")
      .column("id", "Int64").column("name", "String")
      .column("ver", "Int64")
      .engine("ReplacingMergeTree(ver)").orderBy("id").create()
    val sch = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
      .sparkSchema("raw", "m")
    ch.client.insert("raw", "m", sch,
      Seq(Row(1L, "alpha", 1L), Row(2L, "beta", 1L)))
    ch.client.insert("raw", "m", sch, Seq(Row(1L, "alpha2", 2L)))
    // server functions in the statement; schema from DESCRIBE, lazily
    val df = ch.chSql(
      "SELECT `id`, toUpperCase(`name`) AS uname FROM `raw`.`m` WHERE `id` >= 1")
    assert(df.schema.fieldNames.toSeq == Seq("id", "uname"))
    assert(df.count() == 3L) // no FINAL → all physical rows
    // FINAL in the raw statement collapses versions server-side
    val fin = ch.chSql("SELECT `id`, `name` FROM `raw`.`m` FINAL")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(fin == Seq(1L -> "alpha2", 2L -> "beta"), fin.toString)
    // Spark transforms compose on the lazy frame
    val top = df.where(col("uname").startsWith("A")).agg(count(lit(1))).head.getLong(0)
    assert(top == 2L)
  }

  test("FINAL and SAMPLE are storage clauses of the FROM clause: the " +
    "same text inside a string literal reads back verbatim") {
    val root = Files.createTempDirectory("graft_finlit_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chfinlit").build()
    ch.createDatabase("fl")
    ch.newTable("fl", "m")
      .column("id", "Int64").column("ver", "Int64")
      .engine("ReplacingMergeTree(ver)").orderBy("id").create()
    val sch = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
      .sparkSchema("fl", "m")
    ch.client.insert("fl", "m", sch, Seq(Row(1L, 1L), Row(2L, 1L)))
    ch.client.insert("fl", "m", sch, Seq(Row(1L, 2L)))
    def read(sql: String): Seq[(String, Long)] =
      ch.chSql(sql).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val fin = "FROM `fl`.`m` FINAL"
    assert(read(s"SELECT '$fin' AS tag, count(*) AS n FROM `fl`.`m`") ==
      Seq(fin -> 3L))
    assert(read(s"SELECT '$fin' AS tag, count(*) AS n FROM `fl`.`m` FINAL") ==
      Seq(fin -> 2L))
    // the table declares no sampling key: a SAMPLE clause would reject
    val smp = "FROM `fl`.`m` SAMPLE 0.5"
    assert(read(s"SELECT '$smp' AS tag, count(*) AS n FROM `fl`.`m`") ==
      Seq(smp -> 3L))
  }

  test("clause ends on an embedded store: SETTINGS after LIMIT BY and " +
    "LIMIT WITH TIES keeps the ORDER BY; clause words inside literals " +
    "read back as data") {
    val root = Files.createTempDirectory("graft_clauses_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chclauses").build()
    ch.createDatabase("cl")
    ch.newTable("cl", "t")
      .column("g", "String").column("v", "Int64").column("s", "String")
      .engine("MergeTree").orderBy("g").create()
    val sch = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
      .sparkSchema("cl", "t")
    ch.client.insert("cl", "t", sch, Seq(
      Row("a", 1L, "limit 5 by k"), Row("a", 3L, "distinct on (x)"),
      Row("a", 2L, "-"), Row("b", 8L, "limit 5 with ties"), Row("b", 9L, "-"),
      Row("c", 5L, "-")))
    def gv(sql: String): Seq[(String, Long)] =
      ch.chSql(sql).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gv("SELECT `g`, `v` FROM `cl`.`t` ORDER BY `g`, `v` DESC " +
      "LIMIT 1 BY `g` SETTINGS max_threads = 1") ==
      Seq("a" -> 3L, "b" -> 9L, "c" -> 5L))
    // rank() over g: the three a rows tie at rank 1, b starts at 4
    assert(gv("SELECT `g`, `v` FROM `cl`.`t` ORDER BY `g` LIMIT 2 WITH TIES " +
      "SETTINGS max_threads = 1").toSet == Set("a" -> 1L, "a" -> 2L, "a" -> 3L))
    for (lit <- Seq("distinct on (x)", "limit 5 by k", "limit 5 with ties")) {
      val got = ch.chSql(s"SELECT * FROM `cl`.`t` WHERE `s` = '$lit'")
        .collect().map(_.getString(2)).toSeq
      assert(got == Seq(lit), s"$lit: $got")
    }
  }

  test("columns named qualify and totals read back through chSql; the " +
    "WITH TOTALS modifier beside them still rewrites") {
    val root = Files.createTempDirectory("graft_sess_kwcol_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chkw").build()
    ch.createDatabase("kw")
    ch.newTable("kw", "t").column("k", "Int64").column("qualify", "Int64")
      .column("totals", "Int64").engine("MergeTree").orderBy("k").create()
    val sch = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
      .sparkSchema("kw", "t")
    ch.client.insert("kw", "t", sch, Seq(
      Row(1L, 10L, 100L), Row(2L, 20L, 200L), Row(2L, 30L, 300L)))
    assert(ch.chSql("SELECT qualify FROM kw.t ORDER BY qualify").collect()
      .map(_.getLong(0)).toSeq == Seq(10L, 20L, 30L))
    assert(ch.chSql("SELECT totals FROM kw.t ORDER BY totals").collect()
      .map(_.getLong(0)).toSeq == Seq(100L, 200L, 300L))
    val grouped = ch.chSql("SELECT k, sum(totals) AS s FROM kw.t " +
      "WHERE qualify > 10 GROUP BY k WITH TOTALS").collect()
      .map(r => (Option(r.get(0)), r.getLong(1))).toSet
    assert(grouped == Set(Some(2L) -> 500L, None -> 500L), grouped)
  }

  test("every session build on one SparkSession keeps the function " +
    "builders the first build registered") {
    val reg = spark.sessionState.functionRegistry
    val names = Seq("clickhouse", "clickhouse_eval", "clickhouse_fn") ++
      GraftSqlParser.ApplyAliases.toSeq.sorted
    def builders() = names.map(n => reg.lookupFunctionBuilder(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n)).getOrElse(
        fail(s"$n is not registered")))
    ClickHouseSession.builder(spark).storePath(
      Files.createTempDirectory("graft_sess_reg1_").toString)
      .catalogName("chreg1").build()
    val first = builders()
    ClickHouseSession.builder(spark).storePath(
      Files.createTempDirectory("graft_sess_reg2_").toString)
      .catalogName("chreg2").build()
    val second = builders()
    names.indices.foreach(i =>
      assert(first(i) eq second(i), s"${names(i)} was registered again"))
  }

  test("chSql pins totals_mode='after_having_exclusive' on the SHIPPED " +
    "statement when TOTALS meets HAVING — the wire transport contract, " +
    "visible in the remote node's SQL on any transport") {
    val root = Files.createTempDirectory("graft_totpin_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chtot").build()
    ch.createDatabase("tp")
    ch.newTable("tp", "t")
      .column("g", "String").column("v", "Int64")
      .engine("MergeTree").orderBy("g").create()
    val sch = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
      .sparkSchema("tp", "t")
    ch.client.insert("tp", "t", sch, Seq(
      Row("a", 1L), Row("a", 2L), Row("b", 3L)))
    val df = ch.chSql(
      "SELECT `g`, count(*) AS n FROM `tp`.`t` GROUP BY `g` WITH TOTALS " +
        "HAVING count(*) >= 2")
    val node = df.queryExecution.analyzed.collectFirst {
      case n: graft.pushdown.ClickHouseRemoteNode => n
    }
    assert(node.exists(_.sql.contains(
      "SETTINGS totals_mode = 'after_having_exclusive'")),
      node.map(_.sql).toString)
    // and the pinned mode EXECUTES embedded: only group a survives, the
    // NULL-keyed totals row aggregates a's rows only (exclusive)
    val got = df.collect().map(r =>
      (if (r.isNullAt(0)) "∅" else r.getString(0)) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 2L, "∅" -> 2L), got.toString)
  }

  test("LIMIT BY executes embedded: per-group first-n in ORDER BY " +
    "order, OFFSET form, trailing LIMIT composes; ORDER BY required") {
    val root = Files.createTempDirectory("graft_limitby_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chlb").build()
    ch.createDatabase("lb")
    ch.newTable("lb", "t")
      .column("g", "String").column("v", "Int64")
      .engine("MergeTree").orderBy("g").create()
    val sch = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
      .sparkSchema("lb", "t")
    ch.client.insert("lb", "t", sch, Seq(
      Row("a", 3L), Row("a", 1L), Row("a", 2L),
      Row("b", 9L), Row("b", 8L), Row("c", 5L)))
    // top-2 per group by v DESC
    val top2 = ch.chSql(
      "SELECT `g`, `v` FROM `lb`.`t` ORDER BY `g`, `v` DESC LIMIT 2 BY `g`")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top2 == Seq("a" -> 3L, "a" -> 2L, "b" -> 9L, "b" -> 8L, "c" -> 5L),
      top2.toString)
    assert(!top2.map(_._2).contains(1L))
    // OFFSET skips within the group; trailing LIMIT bounds the result
    val off = ch.chSql(
      "SELECT `g`, `v` FROM `lb`.`t` ORDER BY `g`, `v` DESC " +
        "LIMIT 1 OFFSET 1 BY `g` LIMIT 2")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(off == Seq("a" -> 2L, "b" -> 8L), off.toString)
    // schema never leaks the helper column
    assert(ch.chSql(
      "SELECT `g`, `v` FROM `lb`.`t` ORDER BY `g`, `v` LIMIT 1 BY `g`")
      .schema.fieldNames.toSeq == Seq("g", "v"))
    // no ORDER BY → arbitrary selection on a server → rejected here
    val e = intercept[Exception](ch.chSql(
      "SELECT `g`, `v` FROM `lb`.`t` LIMIT 1 BY `g`").collect())
    assert(e.getMessage.contains("ORDER BY"), e.getMessage)
  }

  test("DISTINCT ON executes embedded: first row per group in ORDER BY " +
    "order (server sugar for LIMIT 1 BY); helper column never leaks") {
    val root = Files.createTempDirectory("graft_don_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chdon").build()
    ch.createDatabase("don")
    ch.newTable("don", "t")
      .column("g", "String").column("v", "Int64")
      .engine("MergeTree").orderBy("g").create()
    val sch = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
      .sparkSchema("don", "t")
    ch.client.insert("don", "t", sch, Seq(
      Row("a", 3L), Row("a", 1L), Row("b", 9L), Row("b", 8L), Row("c", 5L)))
    val got = ch.chSql(
      "SELECT DISTINCT ON (`g`) `g`, `v` FROM `don`.`t` ORDER BY `g`, `v` DESC")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq("a" -> 3L, "b" -> 9L, "c" -> 5L), got.toString)
    assert(ch.chSql(
      "SELECT DISTINCT ON (`g`) `g`, `v` FROM `don`.`t` ORDER BY `g`, `v`")
      .schema.fieldNames.toSeq == Seq("g", "v"))
    // determinism rule inherited from LIMIT BY: no ORDER BY → reject
    val e = intercept[Exception](ch.chSql(
      "SELECT DISTINCT ON (`g`) `g`, `v` FROM `don`.`t`").collect())
    assert(e.getMessage.contains("ORDER BY"), e.getMessage)
  }

  test("ARRAY JOIN executes embedded: positional multi-item zip (not a " +
    "cross product), LEFT keeps empty-array rows with NULL elements, " +
    "inner drops them") {
    val root = Files.createTempDirectory("graft_aj_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chaj").build()
    ch.createDatabase("aj")
    ch.newTable("aj", "t")
      .column("g", "String")
      .column("tags", "Array(String)").column("scores", "Array(Int64)")
      .engine("MergeTree").orderBy("g").create()
    val sch = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
      .sparkSchema("aj", "t")
    ch.client.insert("aj", "t", sch, Seq(
      Row("a", Seq("x", "y"), Seq(1L, 2L)),
      Row("b", Seq("z"), Seq(9L)),
      Row("c", Seq.empty[String], Seq.empty[Long])))
    // zip: 2 + 1 rows, NEVER 4 + 1 (cross product would be wrong)
    val zip = ch.chSql(
      "SELECT `g`, tag, sc FROM `aj`.`t` ARRAY JOIN `tags` AS tag, " +
        "`scores` AS sc ORDER BY `g`, tag")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(zip == Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "z", 9L)),
      zip.toString)
    // LEFT ARRAY JOIN keeps the empty-array row, element NULL
    val left = ch.chSql(
      "SELECT `g`, tag FROM `aj`.`t` LEFT ARRAY JOIN `tags` AS tag " +
        "ORDER BY `g`, tag")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(left == Seq(("a", Some("x")), ("a", Some("y")),
      ("b", Some("z")), ("c", None)), left.toString)
    // expression item through the translator (CH fn inside the clause)
    val expr = ch.chSql(
      "SELECT `g`, u FROM `aj`.`t` ARRAY JOIN " +
        "arrayMap(x -> upperUTF8(x), `tags`) AS u ORDER BY `g`, u")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(expr == Seq(("a", "X"), ("a", "Y"), ("b", "Z")), expr.toString)
  }

  test("star transformers execute embedded: REPLACE keeps column " +
    "position, APPLY renames to fn(col), COLUMNS filters by partial " +
    "regex, native star-EXCEPT composes") {
    val root = Files.createTempDirectory("graft_star_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chstar").build()
    ch.createDatabase("st")
    ch.newTable("st", "t")
      .column("k", "Int64").column("name", "String").column("v", "Int64")
      .engine("MergeTree").orderBy("k").create()
    val sch = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
      .sparkSchema("st", "t")
    ch.client.insert("st", "t", sch, Seq(
      Row(1L, "ab", 10L), Row(2L, "cd", 20L)))
    // REPLACE: position preserved (k, name, v — name transformed in place)
    val rep = ch.chSql(
      "SELECT * REPLACE (upperUTF8(`name`) AS name) FROM `st`.`t`")
    assert(rep.schema.fieldNames.toSeq == Seq("k", "name", "v"))
    assert(rep.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq == Seq((1L, "AB", 10L), (2L, "CD", 20L)))
    // COLUMNS + APPLY: filter then aggregate, server naming fn(col)
    val app = ch.chSql("SELECT COLUMNS('^[kv]$') APPLY (max) FROM `st`.`t`")
    assert(app.schema.fieldNames.toSeq == Seq("max(k)", "max(v)"))
    assert(app.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 20L)))
    // EXCEPT (native) composes with APPLY
    val exa = ch.chSql("SELECT * EXCEPT (name) APPLY (sum) FROM `st`.`t`")
    assert(exa.schema.fieldNames.toSeq == Seq("sum(k)", "sum(v)"))
    assert(exa.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((3L, 30L)))
    // unmatched COLUMNS regex rejects loudly
    val e = intercept[Exception](
      ch.chSql("SELECT COLUMNS('zzz') FROM `st`.`t`").collect())
    assert(e.getMessage.contains("matched no column"), e.getMessage)
  }

  test("ANY JOIN executes embedded: at most one build-side row per key " +
    "(deterministic min-row pick), LEFT keeps unmatched rows, INNER " +
    "drops them; subquery build sides probe their schema") {
    val root = Files.createTempDirectory("graft_any_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chany").build()
    ch.createDatabase("aj2")
    ch.newTable("aj2", "l")
      .column("k", "Int64").column("lv", "String")
      .engine("MergeTree").orderBy("k").create()
    ch.newTable("aj2", "r")
      .column("k", "Int64").column("rv", "String")
      .engine("MergeTree").orderBy("k").create()
    val emb = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
    ch.client.insert("aj2", "l", emb.sparkSchema("aj2", "l"), Seq(
      Row(1L, "a"), Row(2L, "b"), Row(3L, "c")))
    ch.client.insert("aj2", "r", emb.sparkSchema("aj2", "r"), Seq(
      Row(1L, "x"), Row(1L, "y"), Row(2L, "z")))
    // LEFT ANY: one match max per left row (min pick "x"), unmatched kept
    val left = ch.chSql(
      "SELECT l.`k` AS k, l.`lv` AS lv, r.`rv` AS rv " +
        "FROM `aj2`.`l` AS l LEFT ANY JOIN `aj2`.`r` AS r ON l.`k` = r.`k` " +
        "ORDER BY k")
      .collect().map(x => (x.getLong(0), x.getString(1), Option(x.getString(2))))
    assert(left.toSeq == Seq((1L, "a", Some("x")), (2L, "b", Some("z")),
      (3L, "c", None)), left.mkString(","))
    // legacy keyword order + INNER drops the unmatched row
    val inner = ch.chSql(
      "SELECT l.`k` AS k, r.`rv` AS rv FROM `aj2`.`l` AS l " +
        "ANY INNER JOIN `aj2`.`r` AS r ON l.`k` = r.`k` ORDER BY k")
      .collect().map(x => (x.getLong(0), x.getString(1)))
    assert(inner.toSeq == Seq((1L, "x"), (2L, "z")), inner.mkString(","))
    // subquery build side (schema via LIMIT-0 probe) with USING
    val sub = ch.chSql(
      "SELECT `k`, rv FROM `aj2`.`l` LEFT ANY JOIN " +
        "(SELECT `k`, upperUTF8(`rv`) AS rv FROM `aj2`.`r`) AS rr " +
        "USING (`k`) ORDER BY `k`")
      .collect().map(x => (x.getLong(0), Option(x.getString(1))))
    assert(sub.toSeq == Seq((1L, Some("X")), (2L, Some("Z")), (3L, None)),
      sub.mkString(","))
  }

  test("LIMIT n WITH TIES executes embedded: rows tying the last " +
    "in-limit row on the sort key survive; ORDER BY required; nested " +
    "rejects; helper column never leaks") {
    val root = Files.createTempDirectory("graft_ties_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chties").build()
    ch.createDatabase("wt")
    ch.newTable("wt", "t")
      .column("g", "String").column("v", "Int64")
      .engine("MergeTree").orderBy("g").create()
    val sch = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
      .sparkSchema("wt", "t")
    ch.client.insert("wt", "t", sch, Seq(
      Row("a", 1L), Row("b", 2L), Row("c", 2L), Row("d", 2L), Row("e", 3L)))
    // LIMIT 2 cuts inside the v=2 tie group → ALL of b, c, d survive
    val ties = ch.chSql(
      "SELECT `g`, `v` FROM `wt`.`t` ORDER BY `v` LIMIT 2 WITH TIES")
    assert(ties.schema.fieldNames.toSeq == Seq("g", "v"))
    val got = ties.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 2L), got.toString)
    // a cut at a group boundary behaves like plain LIMIT
    assert(ch.chSql(
      "SELECT `g`, `v` FROM `wt`.`t` ORDER BY `v` LIMIT 1 WITH TIES")
      .collect().map(_.getString(0)).toSeq == Seq("a"))
    val e = intercept[Exception](ch.chSql(
      "SELECT `g`, `v` FROM `wt`.`t` LIMIT 2 WITH TIES").collect())
    assert(e.getMessage.contains("ORDER BY"), e.getMessage)
    val e2 = intercept[Exception](ch.chSql(
      "SELECT * FROM (SELECT `g` FROM `wt`.`t` ORDER BY `g` " +
        "LIMIT 2 WITH TIES) x").collect())
    assert(e2.getMessage.contains("top-level only"), e2.getMessage)
  }

  test("ORDER BY ... WITH FILL executes embedded: gap rows appear with " +
    "column defaults, FROM inclusive / TO exclusive, STEP strides; " +
    "unsupported shapes reject by name") {
    val root = Files.createTempDirectory("graft_fill_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chfill").build()
    ch.createDatabase("wf")
    ch.newTable("wf", "t")
      .column("d", "Int64").column("n", "Nullable(Int64)")
      .engine("MergeTree").orderBy("d").create()
    val sch = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
      .sparkSchema("wf", "t")
    ch.client.insert("wf", "t", sch, Seq(
      Row(1L, 10L), Row(2L, 20L), Row(5L, 50L), Row(7L, 70L)))
    // bare fill: min..max inclusive — gaps 3, 4, 6 appear, n NULL there
    val bare = ch.chSql(
      "SELECT `d`, `n` FROM `wf`.`t` ORDER BY `d` WITH FILL")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    assert(bare.map(_._1) == (1L to 7L), bare.toString)
    assert(bare.toMap.get(3L).contains(None) && bare.toMap.get(6L).contains(None))
    assert(bare.toMap.get(5L).contains(Some(50L)))
    // FROM/TO: FROM inclusive, TO EXCLUSIVE (server semantics)
    val ft = ch.chSql(
      "SELECT `d` FROM `wf`.`t` ORDER BY `d` WITH FILL FROM 0 TO 10")
      .collect().map(_.getLong(0)).toSeq
    assert(ft == (0L to 9L), ft.toString)
    // STEP strides the grid; ORIGINAL rows always survive (5, 7 are off
    // the 0,2,4,6,8 grid but present)
    val st = ch.chSql(
      "SELECT `d` FROM `wf`.`t` ORDER BY `d` WITH FILL FROM 0 TO 10 STEP 2")
      .collect().map(_.getLong(0)).toSeq
    assert(st == Seq(0L, 1L, 2L, 4L, 5L, 6L, 7L, 8L), st.toString)
    // loud rejects: DESC, non-sole sort item, trailing LIMIT, nested
    def fails(sql: String, frag: String): Unit = {
      val e = intercept[Exception](ch.chSql(sql).collect())
      assert(e.getMessage.contains(frag), s"${e.getMessage} !~ $frag")
    }
    fails("SELECT `d` FROM `wf`.`t` ORDER BY `d` DESC WITH FILL", "DESC")
    fails("SELECT `d`, `n` FROM `wf`.`t` ORDER BY `d`, `n` WITH FILL",
      "SOLE ORDER BY item")
    fails("SELECT `d` FROM `wf`.`t` ORDER BY `d` WITH FILL LIMIT 3",
      "trailing SETTINGS")
    fails("SELECT * FROM (SELECT `d` FROM `wf`.`t` ORDER BY `d` WITH FILL) x",
      "WITH FILL")
  }

  test("WITH FILL over a Date column: daily grid by default, STEP " +
    "INTERVAL n DAY strides, quoted date bounds (TO exclusive); " +
    "mismatched bound/step shapes reject") {
    val root = Files.createTempDirectory("graft_dfill_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chdfill").build()
    ch.createDatabase("df")
    ch.newTable("df", "t")
      .column("dt", "Date").column("v", "Nullable(Int64)")
      .engine("MergeTree").orderBy("dt").create()
    val sch = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
      .sparkSchema("df", "t")
    def d(s: String) = java.sql.Date.valueOf(s)
    ch.client.insert("df", "t", sch, Seq(
      Row(d("2024-01-01"), 1L), Row(d("2024-01-03"), 3L),
      Row(d("2024-01-07"), 7L)))
    val bare = ch.chSql(
      "SELECT `dt`, `v` FROM `df`.`t` ORDER BY `dt` WITH FILL")
      .collect().map(_.getDate(0).toString).toSeq
    assert(bare == (1 to 7).map(i => f"2024-01-0$i"), bare.toString)
    val strided = ch.chSql(
      "SELECT `dt` FROM `df`.`t` ORDER BY `dt` WITH FILL " +
        "FROM '2024-01-01' TO '2024-01-08' STEP INTERVAL 2 DAY")
      .collect().map(_.getDate(0).toString).toSeq
    assert(strided == Seq("2024-01-01", "2024-01-03", "2024-01-05",
      "2024-01-07"), strided.toString)
    val e = intercept[Exception](ch.chSql(
      "SELECT `dt` FROM `df`.`t` ORDER BY `dt` WITH FILL FROM 3").collect())
    assert(e.getMessage.contains("does not match"), e.getMessage)
    val e2 = intercept[Exception](ch.chSql(
      "SELECT `v` FROM `df`.`t` ORDER BY `v` WITH FILL STEP INTERVAL 1 DAY")
      .collect())
    assert(e2.getMessage.contains("Date fill column"), e2.getMessage)
  }

  test("WITH FILL ... INTERPOLATE carries the previous value across fill " +
    "rows — chaining back to the last ORIGINAL row, NULL included; rows " +
    "before the first original keep the pad; AS expressions reject") {
    val root = Files.createTempDirectory("graft_interp_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chinterp").build()
    ch.createDatabase("ip")
    ch.newTable("ip", "t")
      .column("d", "Int64").column("n", "Nullable(Int64)")
      .engine("MergeTree").orderBy("d").create()
    val sch = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
      .sparkSchema("ip", "t")
    ch.client.insert("ip", "t", sch, Seq(
      Row(1L, 10L), Row(2L, 20L), Row(5L, 50L), Row(7L, 70L),
      Row(9L, null))) // an original NULL must repeat as NULL, not skip
    val got = ch.chSql(
      "SELECT `d`, `n` FROM `ip`.`t` ORDER BY `d` WITH FILL FROM 0 TO 12 " +
        "INTERPOLATE (`n`)")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got.keySet == (0L to 11L).toSet, got.toString)
    assert(got(0L).isEmpty, "no previous original before d=1 → pad NULL")
    assert(got(3L).contains(20L) && got(4L).contains(20L), got.toString)
    assert(got(6L).contains(50L) && got(8L).contains(70L))
    assert(got(9L).isEmpty, "original NULL survives untouched")
    assert(got(10L).isEmpty && got(11L).isEmpty,
      "carry past an original NULL repeats the NULL (never skips back)")
    val e = intercept[Exception](ch.chSql(
      "SELECT `d`, `n` FROM `ip`.`t` ORDER BY `d` WITH FILL " +
        "INTERPOLATE (`n` AS `n` + 1)").collect())
    assert(e.getMessage.contains("previous-value form"), e.getMessage)
  }

  test("round-11 server functions execute embedded: -If combinators, " +
    "argMax/argMin, uniq, multiIf on real data") {
    val root = Files.createTempDirectory("graft_fn11_").toString
    val ch = ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chfn11").build()
    ch.createDatabase("fx")
    ch.newTable("fx", "t")
      .column("g", "String").column("v", "Int64").column("ver", "Int64")
      .engine("MergeTree").orderBy("v").create()
    val sch = ch.client.asInstanceOf[graft.client.EmbeddedClickHouse]
      .sparkSchema("fx", "t")
    ch.client.insert("fx", "t", sch, Seq(
      Row("a", -1L, 1L), Row("a", 5L, 3L), Row("b", 2L, 2L), Row("a", 5L, 9L)))
    val r = ch.chSql(
      """SELECT sumIf(`v`, `v` > 0) AS sp, countIf(`v` < 0) AS nn,
        |  argMax(`g`, `ver`) AS top, uniq(`v`) AS u,
        |  multiIf(uniq(`g`) > 5, 'many', uniq(`g`) > 1, 'some', 'few') AS bucket
        |FROM `fx`.`t`""".stripMargin).collect().head
    assert((r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
      r.getString(4)) == ((12L, 1L, "a", 3L, "some")))
  }

  test("GraftExtensions (spark.sql.extensions path) wires rule/strategy/functions") {
    // suites share one JVM session, so build-time extensions are exercised
    // on a SIBLING session over the same SparkContext — exactly what
    // spark.sql.extensions=graft.GraftExtensions produces at build
    // create() builds a NEW session (unlike getOrCreate) and reuses the
    // already-running SparkContext
    val s2: SparkSession = org.apache.spark.sql.classic.SparkSession.builder()
      .master(spark.sparkContext.master)
      .withExtensions(new GraftExtensions().apply(_))
      .create()
    s2.conf.set("spark.sql.shuffle.partitions", "4")

    val root = Files.createTempDirectory("graft_ext_").toString
    val client = new graft.client.EmbeddedClickHouse(root)
    client.createTable("db", "people",
      Seq("id" -> "Int32", "name" -> "String"), Map("engine" -> "MergeTree"))
    client.insert("db", "people", client.sparkSchema("db", "people"),
      Seq(Row(1, "Alice"), Row(2, "Bob")))
    s2.conf.set("spark.sql.catalog.chext", classOf[graft.catalog.ClickHouseCatalog].getName)
    s2.conf.set("spark.sql.catalog.chext.path", root)

    // NO GraftSession.install(s2): the injected rule must consume the
    // passthrough and the injected strategy must plan the remote node
    val df = s2.sql(
      "SELECT clickhouse(upper(name), 'String') AS u FROM chext.db.people")
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val top = df.queryExecution.executedPlan
    val plans = top +: top.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
    val remotes = plans.flatMap(_.collect {
      case e: graft.pushdown.ClickHouseRemoteExec => e })
    assert(remotes.nonEmpty, s"no remote exec in:\n$top")
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("ALICE", "BOB"))
  }
}
