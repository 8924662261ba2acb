package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.chfunctions._
import graft.client.EmbeddedClickHouse
import graft.pushdown.ClickHouseRemoteExec

/** Function-pushdown + federation battery, mirroring the reference's UDF
  * e2e tests (tests/e2e.rs:526-997 deep pushdown, :1087 lambdas,
  * :1223 negative tests).
  */
class PushdownSpec extends AnyFunSuite {

  private lazy val root = Files.createTempDirectory("graft_pd_").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("pushdown-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // unique catalog name per suite: suites share one JVM-wide session
    s.conf.set("spark.sql.catalog.chpd", classOf[graft.catalog.ClickHouseCatalog].getName)
    s.conf.set("spark.sql.catalog.chpd.path", root)
    GraftSession.install(s)
    val client = new EmbeddedClickHouse(root)
    client.createTable("db", "people",
      Seq("id" -> "Int32", "name" -> "String"), Map("engine" -> "MergeTree"))
    client.insert("db", "people",
      client.sparkSchema("db", "people"),
      Seq(Row(1, "Alice"), Row(2, "Bob"), Row(3, "Charlie")))
    client.createTable("db", "knicknames",
      Seq("id" -> "Int32", "other_name" -> "String"), Map("engine" -> "MergeTree"))
    client.insert("db", "knicknames",
      client.sparkSchema("db", "knicknames"),
      Seq(Row(1, "Al"), Row(2, "Bobby")))
    // the reference's people2 fixture: Array(String) column (FIXTURES.md §1)
    client.createTable("db", "people2",
      Seq("id" -> "Int32", "name" -> "String", "names" -> "Array(String)"),
      Map("engine" -> "MergeTree"))
    client.insert("db", "people2",
      client.sparkSchema("db", "people2"),
      Seq(Row(1, "Bob", Seq("Buddha", "Zugus", "Lulu")),
        Row(2, "Alice", Seq("Jazz", "Kaya", "Vienna"))))
    s
  }

  private def remoteExecs(df: org.apache.spark.sql.DataFrame): Seq[ClickHouseRemoteExec] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val top = df.queryExecution.executedPlan
    val plans = top +: top.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
    plans.flatMap(_.collect { case e: ClickHouseRemoteExec => e })
  }

  test("collapse rule passes the range-split cursor mapped to its output " +
    "alias; LIMIT-topped collapses never carry one") {
    // same store, separate catalog carrying read.split_by (catalog
    // instances cache per name — a fresh name picks up the option)
    spark.conf.set("spark.sql.catalog.chpdsb",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.chpdsb.path", root)
    spark.conf.set("spark.sql.catalog.chpdsb.read.split_by", "id")
    val df = spark.sql(
      "SELECT id, clickhouse(upper(name), 'String') AS uname FROM chpdsb.db.people")
    val execs = remoteExecs(df)
    assert(execs.nonEmpty)
    // id is output ordinal 0 → wire alias c0
    assert(execs.head.splitBy.contains("c0"))
    // embedded transport ignores ranges (default planQueryRanges):
    // results identical
    assert(df.collect().map(_.getString(1)).sorted.toSeq ==
      Seq("ALICE", "BOB", "CHARLIE"))
    // LIMIT-topped collapse: per-slice re-execution could pick different
    // rows — the rule must NOT attach a cursor
    val lim = spark.sql(
      "SELECT id, clickhouse(upper(name), 'String') AS uname " +
        "FROM chpdsb.db.people ORDER BY uname LIMIT 2")
    val limExecs = remoteExecs(lim)
    assert(limExecs.nonEmpty)
    assert(limExecs.head.splitBy.isEmpty)
    assert(lim.collect().length == 2)
  }

  test("clickhouse(expr, 'Type') pushes to remote execution (SQL surface)") {
    val df = spark.sql(
      "SELECT clickhouse(upper(name), 'String') AS uname FROM chpd.db.people")
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec in:\n${df.queryExecution.executedPlan}")
    assert(execs.head.sql.contains("upper"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("ALICE", "BOB", "CHARLIE"))
  }

  test("clickhouse() via DataFrame API (chfunctions)") {
    val df = spark.table("chpd.db.people")
      .select(clickhouse(concat(upper(col("name")), lit("!")), "String").as("x"))
    assert(remoteExecs(df).nonEmpty)
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("ALICE!", "BOB!", "CHARLIE!"))
  }

  test("clickhouse_fn calls an arbitrary remote function by name") {
    val df = spark.table("chpd.db.people")
      .select(col("id"), clickhouse_fn("base64Encode", Seq(col("name")), "String").as("b64"))
    assert(remoteExecs(df).nonEmpty)
    val got = df.collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(got(1) == java.util.Base64.getEncoder.encodeToString("Alice".getBytes))
  }

  test("pushdown composes with scan filter pushdown") {
    val df = spark.table("chpd.db.people")
      .filter(col("id") > 1)
      .select(clickhouse(lower(col("name")), "String").as("lname"))
    val execs = remoteExecs(df)
    assert(execs.nonEmpty)
    // scan-level WHERE survived inside the collapsed SQL
    assert(execs.head.sql.contains("`id` > 1"), execs.head.sql)
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("bob", "charlie"))
  }

  test("federation: join of two ClickHouse tables collapses into one remote SQL") {
    val df = spark.table("chpd.db.people").as("p")
      .join(spark.table("chpd.db.knicknames").as("k"), col("p.id") === col("k.id"))
      .select(col("p.name"), col("k.other_name"))
    val execs = remoteExecs(df)
    assert(execs.length == 1, s"expected single remote exec:\n${df.queryExecution.executedPlan}")
    assert(execs.head.sql.toUpperCase.contains("JOIN"))
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq ==
      Seq(("Alice", "Al"), ("Bob", "Bobby")))
  }

  test("federation: aggregate over a ClickHouse table ships whole") {
    val df = spark.table("chpd.db.people")
      .groupBy((col("id") % 2).as("parity"))
      .agg(count(lit(1)).as("n"), max(col("name")).as("max_name"))
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    assert(execs.head.sql.toUpperCase.contains("GROUP BY"))
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((0, 1L, "Bob"), (1, 2L, "Charlie")))
  }

  test("max_by/min_by and FILTER-clause aggregates collapse remotely as " +
    "argMax/argMin and the -If combinators") {
    val df = spark.sql(
      """SELECT id % 2 AS parity,
        |  max_by(name, id) AS latest, min_by(name, id) AS earliest,
        |  sum(id) FILTER (WHERE id > 1) AS s,
        |  count(*) FILTER (WHERE id > 1) AS n,
        |  count(name) FILTER (WHERE id > 1) AS nn
        |FROM chpd.db.people GROUP BY parity""".stripMargin)
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    val sql = execs.head.sql
    assert(sql.contains("argMax(") && sql.contains("argMin(") &&
      sql.contains("sumIf(") && sql.contains("countIf("), sql)
    val got = df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
      if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    // people: (1, Alice), (2, Bob), (3, Charlie)
    assert(got == Set(
      (0, "Bob", "Bob", 2L, 1L, 1L),
      (1, "Charlie", "Alice", 3L, 1L, 1L)), got.toString)
  }

  test("percentile with an ARRAY of fractions collapses remotely as the " +
    "plural quantiles combinator (one sort, array out)") {
    val df = spark.sql(
      "SELECT percentile(id, array(0.25, 0.5, 0.75)) AS qs FROM chpd.db.people")
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    assert(execs.head.sql.contains("quantilesExactInclusive(0.25, 0.5, 0.75)("),
      execs.head.sql)
    // people ids: 1, 2, 3 → quartiles 1.5 / 2.0 / 2.5
    assert(df.collect().head.getSeq[Double](0) == Seq(1.5, 2.0, 2.5))
  }

  test("count() over a collapsed join/aggregate keeps remote cardinality " +
    "(fully-pruned outputs ship constants, global aggregates still aggregate)") {
    // count() prunes every output column: the collapsed SQL must emit a
    // constant select list (never `SELECT  FROM`) and a GLOBAL aggregate
    // must stay one row (a bare `SELECT 1 FROM t` would be one per input)
    val joined = spark.table("chpd.db.people").as("p")
      .join(spark.table("chpd.db.knicknames").as("k"), col("p.id") === col("k.id"))
    assert(joined.count() == 2)
    val globalAgg = spark.table("chpd.db.people")
      .agg(max(col("name")).as("mx")) // global aggregate, then prune via count
    assert(globalAgg.count() == 1)
    val groupedCount = spark.table("chpd.db.people")
      .groupBy(col("id") % 2).agg(max(col("name")))
    assert(groupedCount.count() == 2)
  }

  test("passthrough under a sort is hoisted then pushed (function_pushdown.rs:40-74)") {
    val df = spark.table("chpd.db.people")
      .orderBy(clickhouse(length(col("name")), "UInt64").desc, col("id"))
      .select(col("name"))
    assert(remoteExecs(df).nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("Charlie", "Alice", "Bob"))
  }

  test("federated mix: ClickHouse side computes passthrough, local side stays local") {
    val local = spark.createDataFrame(Seq((1, "x"), (2, "y"))).toDF("lid", "tag")
    local.createOrReplaceTempView("local_tags")
    val df = spark.table("chpd.db.people")
      .select(col("id"), clickhouse(upper(col("name")), "String").as("uname"))
      .join(spark.table("local_tags"), col("id") === col("lid"))
      .select(col("uname"), col("tag"))
    assert(remoteExecs(df).nonEmpty)
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq ==
      Seq(("ALICE", "x"), ("BOB", "y")))
  }

  test("lambda HOF unparse: arrayMap/arrayFilter/arrayExists through clickhouse()") {
    val df = spark.sql(
      """SELECT clickhouse(transform(names, x -> upper(x)), 'Array(String)') AS unames,
        |  clickhouse(filter(names, x -> length(x) > 4), 'Array(String)') AS longnames,
        |  clickhouse(exists(names, x -> x = 'Lulu'), 'Boolean') AS has_lulu
        |FROM chpd.db.people2 WHERE id = 1""".stripMargin)
    val execs = remoteExecs(df)
    assert(execs.nonEmpty)
    assert(execs.head.sql.contains("arrayMap"), execs.head.sql)
    assert(execs.head.sql.contains("arrayFilter"), execs.head.sql)
    assert(execs.head.sql.contains("arrayExists"), execs.head.sql)
    val r = df.collect().head
    assert(r.getSeq[String](0) == Seq("BUDDHA", "ZUGUS", "LULU"))
    assert(r.getSeq[String](1) == Seq("Buddha", "Zugus"))
    assert(r.getBoolean(2))
  }

  test("negative: passthrough with no ClickHouse table errors (e2e.rs:1223)") {
    val e = intercept[Exception] {
      spark.sql("SELECT clickhouse(upper('x'), 'String')").collect()
    }
    assert(e.getMessage.contains("ClickHouse") || e.getMessage.contains("clickhouse"),
      e.getMessage)
  }

  test("window function over a pushed remote column (e2e.rs:938-943)") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("namelen").desc, col("id"))
    val df = spark.table("chpd.db.people")
      .select(col("id"), clickhouse(length(col("name")), "Int32").as("namelen"))
      .withColumn("len_rank", rank().over(w))
    assert(remoteExecs(df).nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    val got = df.collect().map(r => (r.getInt(0), r.getInt(2))).toMap
    assert(got == Map(3 -> 1, 1 -> 2, 2 -> 3)) // Charlie(7), Alice(5), Bob(3)
  }

  test("LIKE / ILIKE / RLIKE unparse into the remote SQL") {
    // patterns mix _ and % so LikeSimplification cannot rewrite them away;
    // ILike is canonicalized by Catalyst into Like(lower(...)) before our
    // batch, so it reaches the unparser as LIKE + lower (also remote)
    val df = spark.table("chpd.db.people")
      .filter(col("name").like("_li%") || col("name").ilike("_HARL%") ||
        col("name").rlike("^B"))
      .groupBy().agg(count(lit(1)).as("n")) // aggregate makes the subtree federatable
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    assert(execs.head.sql.contains(" LIKE "), execs.head.sql)
    assert(execs.head.sql.contains("match("), execs.head.sql)
    assert(df.collect().head.getLong(0) == 3L) // Alice, Charlie, Bob
  }

  test("window over a remote table collapses into one remote query") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy().orderBy(col("id").desc)
    val df = spark.table("chpd.db.people")
      .select(col("id"), col("name"), row_number().over(w).as("rn"))
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    assert(execs.head.sql.contains("row_number() OVER"), execs.head.sql)
    val got = df.collect().map(r => (r.getInt(0), r.getInt(2))).toMap
    assert(got == Map(3 -> 1, 2 -> 2, 1 -> 3))
  }

  test("lag/lead ship remotely as lagInFrame/leadInFrame with the forced full frame") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("id"))
    val df = spark.table("chpd.db.people")
      .select(col("id"), lag(col("name"), 1, "none").over(w).as("prev"),
        lead(col("name"), 1, "none").over(w).as("next"))
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    assert(execs.head.sql.contains("lagInFrame("), execs.head.sql)
    assert(execs.head.sql.contains("leadInFrame("), execs.head.sql)
    assert(execs.head.sql.contains("ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"),
      execs.head.sql)
    val got = df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1, "none", "Bob"), (2, "Alice", "Charlie"), (3, "Bob", "none")))
  }

  test("first_value/last_value/ntile ship remotely") {
    import org.apache.spark.sql.expressions.Window
    val base = Window.orderBy(col("id"))
    val full = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val df = spark.table("chpd.db.people")
      .select(col("id"),
        first(col("name")).over(full).as("fv"),
        last(col("name")).over(full).as("lv"),
        ntile(2).over(base).as("half"))
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    // Spark canonicalizes windowed first() to nth_value(x, 1)
    assert(execs.head.sql.contains("nth_value(") &&
      execs.head.sql.contains("last_value(") && execs.head.sql.contains("ntile("),
      execs.head.sql)
    val got = df.collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(got == Set((1, "Alice", "Charlie", 1), (2, "Alice", "Charlie", 1),
      (3, "Alice", "Charlie", 2)))
  }

  test("extended scalar surface ships remotely: trig/string/date families end-to-end") {
    val client = new EmbeddedClickHouse(root)
    if (!client.tableExists("db", "evts")) {
      client.createTable("db", "evts",
        Seq("id" -> "Int32", "ts" -> "DateTime64(3)"), Map("engine" -> "MergeTree"))
      client.insert("db", "evts", client.sparkSchema("db", "evts"),
        Seq(Row(1, java.sql.Timestamp.valueOf("2024-05-15 10:30:00")),
          Row(2, java.sql.Timestamp.valueOf("2024-11-02 23:10:00"))))
    }
    val df = spark.table("chpd.db.evts")
      .select(col("id"),
        clickhouse(sin(col("id").cast("double")), "Float64").as("s"),
        clickhouse(atan2(col("id").cast("double"), lit(2.0)), "Float64").as("a2"),
        clickhouse(signum(col("id").cast("double")), "Float64").as("sg"),
        clickhouse(lpad(col("id").cast("string"), 3, "*"), "String").as("pad"),
        clickhouse(repeat(col("id").cast("string"), 2), "String").as("rep"),
        clickhouse(reverse(concat(col("id").cast("string"), lit("bc"))), "String").as("rev"),
        clickhouse(quarter(col("ts")), "Int32").as("q"),
        clickhouse(dayofyear(col("ts")), "Int32").as("doy"),
        clickhouse(weekofyear(col("ts")), "Int32").as("wk"))
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    val sql = execs.head.sql
    for (f <- Seq("sin(", "atan2(", "sign(", "leftPadUTF8(", "repeat(", "reverseUTF8(",
      "toQuarter(", "toDayOfYear(", "toISOWeek("))
      assert(sql.contains(f), s"$f missing from: $sql")
    val got = df.collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(3),
      r.getString(4), r.getString(5), r.getString(6), r.getInt(7), r.getInt(8))).sortBy(_._1)
    val r1 = got(0)
    assert(math.abs(r1._2 - math.sin(1.0)) < 1e-12)
    assert(r1._3 == 1.0 && r1._4 == "**1" && r1._5 == "11" && r1._6 == "cb1")
    assert(r1._7 == 2 && r1._8 == 136) // 2024-05-15: Q2, day 136
    assert(got(1)._7 == 4) // November: Q4
  }

  test("windowed aggregate (running sum) ships remotely with explicit frame") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("id"))
    val df = spark.table("chpd.db.people")
      .select(col("id"), sum(col("id")).over(w).as("run"))
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    assert(execs.head.sql.contains("OVER"), execs.head.sql)
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(got == Map(1 -> 1L, 2 -> 3L, 3 -> 6L))
  }

  test("join across DIFFERENT stores does NOT collapse (JoinPushDown gating)") {
    // second, distinct embedded store = different connection key
    val root2 = Files.createTempDirectory("graft_pd2_").toString
    spark.conf.set("spark.sql.catalog.chpd2",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.chpd2.path", root2)
    val client2 = new EmbeddedClickHouse(root2)
    client2.createTable("db", "other",
      Seq("id" -> "Int32", "v" -> "String"), Map("engine" -> "MergeTree"))
    client2.insert("db", "other", client2.sparkSchema("db", "other"),
      Seq(Row(1, "one"), Row(2, "two")))

    val df = spark.table("chpd.db.people")
      .join(spark.table("chpd2.db.other"), Seq("id"))
      .select(col("id"), col("name"), col("v"))
    // both sides scan remotely, but the JOIN stays in Spark: two scans,
    // no single collapsed remote SQL containing a JOIN
    val collapsed = remoteExecs(df).filter(_.sql.toUpperCase.contains(" JOIN "))
    assert(collapsed.isEmpty, s"cross-store join wrongly collapsed:\n${collapsed.map(_.sql)}")
    assert(df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq ==
      Seq((1, "Alice", "one"), (2, "Bob", "two")))
  }

  test("remote function surface through clickhouse_fn: sigmoid/toString/splitByChar") {
    val df = spark.table("chpd.db.people").filter(col("id") === 1).select(
      clickhouse_fn("sigmoid", Seq(col("id").cast("double")), "Float64").as("sig"),
      clickhouse_fn("toString", Seq(col("id")), "String").as("ids"),
      clickhouse_fn("splitByChar", Seq(lit("i"), col("name")), "Array(String)").as("parts"))
    assert(remoteExecs(df).nonEmpty)
    val r = df.collect().head
    assert(math.abs(r.getDouble(0) - 1.0 / (1.0 + math.exp(-1.0))) < 1e-12)
    assert(r.getString(1) == "1")
    assert(r.getSeq[String](2) == Seq("Al", "ce"))
  }

  test("remote top-k pre-limit: ORDER BY + LIMIT ship into the collapsed SQL") {
    val df = spark.table("chpd.db.people")
      .select(col("id"), clickhouse(upper(col("name")), "String").as("uname"))
      .orderBy(col("uname").desc, col("id"))
      .limit(2)
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    assert(execs.head.sql.contains("ORDER BY") && execs.head.sql.contains("LIMIT 2"),
      execs.head.sql)
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((3, "CHARLIE"), (2, "BOB")))
  }

  test("HAVING over a remote aggregate collapses (Filter-over-Aggregate)") {
    val df = spark.sql(
      """SELECT id % 2 AS parity, count(*) AS n FROM chpd.db.people
        |GROUP BY id % 2 HAVING count(*) > 1""".stripMargin)
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    assert(execs.head.sql.contains("GROUP BY"), execs.head.sql)
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == Set((1, 2L)))
  }

  test("top-k OVER a collapsed aggregate ships ORDER BY + LIMIT remotely") {
    val df = spark.table("chpd.db.people")
      .groupBy((col("id") % 2).as("parity"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("parity"))
      .limit(1)
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    assert(execs.head.sql.contains("GROUP BY") && execs.head.sql.contains("ORDER BY") &&
      execs.head.sql.contains("LIMIT 1"), execs.head.sql)
    val r = df.collect().head
    assert(r.getInt(0) == 1 && r.getLong(1) == 2L) // parity 1: Alice, Charlie
  }

  test("pure remote LIMIT (no sort) ships into the collapsed SQL") {
    val df = spark.table("chpd.db.people")
      .select(clickhouse(upper(col("name")), "String").as("uname"))
      .limit(2)
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    // the limit may land either in the DSv2 scan SQL (innermost, via
    // SupportsPushDownLimit) or appended by the collapse rule — both are
    // remote; it must appear exactly once
    assert("LIMIT 2".r.findAllIn(execs.head.sql).length == 1, execs.head.sql)
    assert(df.collect().length == 2)
  }

  test("UNION ALL of two remote tables collapses into one remote SQL") {
    val df = spark.table("chpd.db.people").select(col("id"), col("name"))
      .unionAll(spark.table("chpd.db.knicknames").select(col("id"), col("other_name")))
      .groupBy("id").agg(count(lit(1)).as("n"))
    val execs = remoteExecs(df)
    assert(execs.nonEmpty, s"no remote exec:\n${df.queryExecution.executedPlan}")
    assert(execs.exists(_.sql.contains("UNION ALL")), execs.map(_.sql))
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(got == Map(1 -> 2L, 2 -> 2L, 3 -> 1L))
  }

  test("INTERSECT/EXCEPT of two remote tables collapse (semi/anti rewrite + distinct)") {
    val inter = spark.table("chpd.db.people").select("id")
      .intersect(spark.table("chpd.db.knicknames").select("id"))
    assert(remoteExecs(inter).nonEmpty,
      s"INTERSECT did not collapse:\n${inter.queryExecution.executedPlan}")
    assert(inter.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    val except = spark.table("chpd.db.people").select("id")
      .except(spark.table("chpd.db.knicknames").select("id"))
    assert(remoteExecs(except).nonEmpty,
      s"EXCEPT did not collapse:\n${except.queryExecution.executedPlan}")
    assert(except.collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("clickhouse_eval splices raw remote syntax (udfs/eval.rs)") {
    val df = spark.sql(
      """SELECT id, clickhouse_eval('length(concat(''ab'', ''c''))', 'Int32') AS v
        |FROM chpd.db.people WHERE id = 1""".stripMargin)
    assert(remoteExecs(df).nonEmpty)
    assert(df.collect().head.getInt(1) == 3)
  }

  test("join of remote table with arrayJoin subquery + fn over joined column (e2e.rs:592-606)") {
    val df = spark.sql(
      """SELECT p.name, clickhouse_fn('exp', p2.id, 'Float64') AS e, p2.names
        |FROM chpd.db.people p
        |JOIN (SELECT id, clickhouse_fn('arrayJoin', names, 'Utf8') AS names
        |      FROM chpd.db.people2) p2 ON p.id = p2.id""".stripMargin)
    val got = df.collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(got == Set(("Alice", "Buddha"), ("Alice", "Zugus"), ("Alice", "Lulu"),
      ("Bob", "Jazz"), ("Bob", "Kaya"), ("Bob", "Vienna")))
    assert(df.collect().forall(r => math.abs(r.getDouble(1) - math.exp(r.getString(0) match {
      case "Alice" => 1.0; case _ => 2.0
    })) < 1e-9))
  }

  test("window functions ordered/partitioned by passthrough results (e2e.rs:938-950)") {
    val df = spark.sql(
      """SELECT id, name,
        |  clickhouse_fn('exp', id, 'Float64') AS exp_id,
        |  SUM(id) OVER (ORDER BY clickhouse_fn('exp', id, 'Float64')) AS sum_by_exp,
        |  RANK() OVER (ORDER BY clickhouse_fn('upper', name, 'Utf8')) AS rank_by_upper,
        |  ROW_NUMBER() OVER (PARTITION BY clickhouse_fn('modulo', id, 2, 'Int32')
        |                     ORDER BY id) AS rn_by_mod
        |FROM chpd.db.people""".stripMargin)
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(3), r.getInt(4), r.getInt(5)))
      .sortBy(_._1)
    // exp is increasing in id → running sum 1,3,6; names sorted A,B,C; mod
    // partitions {1,3} and {2}
    assert(rows.toSeq == Seq((1, 1L, 1, 1), (2, 3L, 2, 1), (3, 6L, 3, 2)), rows.mkString(","))
  }

  test("deeply nested correlated scalar subquery over arrayJoin (e2e.rs:1253-1282)") {
    // the reference only passes this WITHOUT federation; here the inner
    // arrayJoin subtree collapses remotely and Spark runs the correlated
    // COUNT(*) on top
    val df = spark.sql(
      """SELECT outer_name, clickhouse_fn('upper', outer_name, 'Utf8') AS upper_name,
        |       inner_sum
        |FROM (
        |  SELECT p.name AS outer_name, p.id AS outer_id,
        |    (SELECT COUNT(*) FROM (
        |       SELECT id, clickhouse_fn('arrayJoin', names, 'Utf8') AS name
        |       FROM chpd.db.people2) p2_inner
        |     WHERE p2_inner.id <= p.id) AS inner_sum
        |  FROM chpd.db.people p) t""".stripMargin)
    val got = df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // people2: id 1 (3 names), id 2 (3 names) → counts 3, 6, 6
    assert(got == Set(("Alice", "ALICE", 3L), ("Bob", "BOB", 6L),
      ("Charlie", "CHARLIE", 6L)))
  }

  test("federated 3-way join, fns over the remote branch, coercing types (e2e.rs:1028-1045)") {
    import spark.implicits._
    Seq(1L, 2L).toDF("event_id").createOrReplaceTempView("mem_events3")
    val df = spark.sql(
      """SELECT p.name, m.event_id,
        |  clickhouse_fn('exp', p2.id, 'Int32') AS exp_id,
        |  clickhouse_fn('concat', p2.names, 'hello', 'Utf8') AS concat_names
        |FROM mem_events3 m
        |JOIN chpd.db.people p ON p.id = m.event_id
        |JOIN (SELECT id, clickhouse_fn('arrayJoin', names, 'Utf8') AS names
        |      FROM chpd.db.people2) p2 ON p.id = p2.id""".stripMargin)
    val got = df.collect().map(r => (r.getString(0), r.getInt(2), r.getString(3))).toSet
    // exp(1)=2.71→Int32 3 (CH rounds) or 2 (truncation)? assert set of names
    assert(got.map(_._3) == Set("Buddhahello", "Zugushello", "Luluhello",
      "Jazzhello", "Kayahello", "Viennahello"), got.mkString(","))
    assert(got.forall(t => t._2 == math.exp(if (t._1 == "Alice") 1 else 2).toInt ||
      t._2 == math.round(math.exp(if (t._1 == "Alice") 1 else 2)).toInt))
  }

  test("indeterminate pushdown across a memory-split join errors cleanly (e2e.rs:1297-1312)") {
    import spark.implicits._
    Seq(1L, 2L).toDF("event_id").createOrReplaceTempView("mem_events4")
    // p and p2 are ClickHouse but separated by the memory join: the fn
    // references span branches with no collapsible covering site — the
    // reference also rejects this shape
    val df = spark.sql(
      """SELECT m.event_id, p.name, p2.id,
        |  clickhouse_fn('plus', p.id, p2.id, 'Int64') AS sum_ids
        |FROM mem_events4 m
        |JOIN chpd.db.people p ON p.id = m.event_id
        |JOIN chpd.db.people2 p2 ON p.id = p2.id""".stripMargin)
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains("cannot push ClickHouse expression"),
      s"unexpected error: ${e.getMessage.take(200)}")
  }

  test("aggregation over mixed passthrough results WORKS (reference known-failure, e2e.rs:1316-1328)") {
    // the reference asserts this errors ("mixed functions"); hoisting the
    // inner passthroughs below the aggregate makes it just work here
    val df = spark.sql(
      """SELECT clickhouse_fn('toString', clickhouse_fn('modulo', id, 2, 'Int32'), 'Utf8') AS id_mod,
        |  COUNT(id) AS total,
        |  MAX(clickhouse_fn('exp', id, 'Float64')) AS max_exp,
        |  array_join(array_sort(collect_list(name)), ',') AS all_names
        |FROM chpd.db.people
        |GROUP BY clickhouse_fn('toString', clickhouse_fn('modulo', id, 2, 'Int32'), 'Utf8')""".stripMargin)
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    assert(got == Set(
      ("0", 1L, math.exp(2), "Bob"),
      ("1", 2L, math.exp(3), "Alice,Charlie")), got.mkString(","))
  }

  test("passthroughs inside CASE branches (e2e.rs:953-966)") {
    val df = spark.sql(
      """SELECT id, CASE
        |  WHEN name = 'Alice' THEN clickhouse_fn('upper', name, 'Utf8')
        |  WHEN name = 'Bob' THEN clickhouse_fn('lower', name, 'Utf8')
        |  ELSE clickhouse_fn('concat', name, ' (other)', 'Utf8')
        |END AS name_transformed
        |FROM chpd.db.people""".stripMargin)
    val got = df.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "ALICE"), (2, "bob"), (3, "Charlie (other)")))
  }

  test("cross-table columns in ONE passthrough across a join (e2e.rs:880 regression)") {
    val df = spark.sql(
      """SELECT p.id, clickhouse_fn('abs', p.id * k.id, 'Int64') AS prod
        |FROM chpd.db.people p JOIN chpd.db.knicknames k ON p.id = k.id""".stripMargin)
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == Set((1, 1L), (2, 4L)))
  }

  test("scalar-only passthrough with a federated join (e2e.rs:856-866)") {
    import spark.implicits._
    Seq((1, 100L), (2, 200L)).toDF("event_id", "payload")
      .createOrReplaceTempView("mem_events")
    val df = spark.sql(
      """SELECT p.name, p.id, m.event_id, clickhouse_fn('abs', -2, 'Int64') AS c
        |FROM chpd.db.people p
        |JOIN mem_events m ON m.event_id = p.id
        |ORDER BY p.id""".stripMargin)
    val got = df.collect().map(r => (r.getString(0), r.getLong(3))).toSet
    assert(got == Set(("Alice", 2L), ("Bob", 2L)))
  }

  test("a remote scalar fold that reads a table is not served after a write to it") {
    import spark.implicits._
    Seq(1, 9).toDF("lid").createOrReplaceTempView("fold_local")
    val client = new EmbeddedClickHouse(root)
    client.createTable("db", "fold_t", Seq("x" -> "Int32"), Map("engine" -> "MergeTree"))
    def insert(x: Int): Unit =
      client.insert("db", "fold_t", client.sparkSchema("db", "fold_t"), Seq(Row(x)))
    // FULL OUTER pads both sides, so the reference-free expression has
    // no hoist site and folds to a literal
    def counts(): Set[Long] = spark.sql(
      """SELECT p.id, l.lid,
        |  clickhouse_eval('(SELECT count() FROM db.fold_t)', 'UInt64') AS n
        |FROM chpd.db.people p FULL OUTER JOIN fold_local l ON p.id = l.lid""".stripMargin)
      .collect().map(_.getDecimal(2).longValue).toSet
    insert(1)
    assert(counts() == Set(1L))
    insert(2)
    assert(counts() == Set(2L), "the fold returned a count from before the insert")
  }

  test("arrayJoin passthrough expands rows remotely (e2e.rs:599, 615)") {
    val df = spark.sql(
      """SELECT id, clickhouse_fn('arrayJoin', names, 'Utf8') AS name
        |FROM chpd.db.people2""".stripMargin)
    assert(remoteExecs(df).nonEmpty, "arrayJoin subtree must ship remotely")
    val got = df.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "Buddha"), (1, "Zugus"), (1, "Lulu"),
      (2, "Jazz"), (2, "Kaya"), (2, "Vienna")))
  }

  test("shape-aware remote stats: row-preserving collapse SMJs, aggregate collapse broadcasts") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.expressions.{Window => W}
    def hasBroadcastUnder(p: SparkPlan): Boolean = {
      def walk(q: SparkPlan): Seq[SparkPlan] = q match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => s +: walk(s.plan)
        case other => other +: other.children.flatMap(walk)
      }
      walk(p).exists {
        case _: BroadcastExchangeLike => true
        case s: QueryStageExec => s.plan.isInstanceOf[BroadcastExchangeLike]
        case _ => false
      }
    }
    // ~800 KB of incompressible payload so on-disk size is honest
    val client = new EmbeddedClickHouse(root)
    client.createTable("db", "wide",
      Seq("id" -> "Int64", "payload" -> "String"), Map("engine" -> "MergeTree"))
    val rnd = new scala.util.Random(42)
    client.insert("db", "wide", client.sparkSchema("db", "wide"),
      (0 until 2000).map(i => Row(i.toLong, rnd.alphanumeric.take(400).mkString)))
    val local = spark.range(50000).toDF("lid")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (100 * 1024).toString)
    try {
      // row-preserving collapse (window over the full table): ~800 KB
      // estimate > 100 KB threshold -> must NOT broadcast the remote side.
      // payload rides through the join so AQE's RUNTIME size agrees with
      // the static estimate (both above threshold).
      val win = spark.table("chpd.db.wide")
        .select(col("id"), col("payload"), row_number().over(W.orderBy(col("id"))).as("rn"))
      val smj = win.join(local, col("id") === col("lid")).select("id", "rn", "payload")
      smj.collect()
      assert(!hasBroadcastUnder(smj.queryExecution.executedPlan),
        s"row-preserving remote collapse was broadcast:\n${smj.queryExecution.executedPlan}")
      // aggregate collapse: shrunk estimate (~8 KB) -> broadcast is right
      val agg = spark.table("chpd.db.wide")
        .groupBy((col("id") % 10).as("g")).agg(count(lit(1)).as("n"))
      val bc = agg.join(local, col("g") === col("lid")).select("g", "n")
      bc.collect()
      assert(hasBroadcastUnder(bc.queryExecution.executedPlan),
        s"aggregate remote collapse was not broadcast:\n${bc.queryExecution.executedPlan}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      client.dropTable("db", "wide")
    }
  }

  test("passthrough referencing the null-padded side of an outer join errors (no pre-join hoist)") {
    // previously findSite descended into ANY join side: the ifNull was
    // computed below the LEFT JOIN, so unmatched rows returned NULL where
    // the query semantics demand 'missing'. Now the padded side is not a
    // hoist site and the shape errors cleanly (the reference also rejects
    // placements it cannot prove, function_pushdown.rs:475-643).
    import spark.implicits._
    Seq((1, "x"), (99, "z")).toDF("lid", "tag").createOrReplaceTempView("lo_tags")
    val df = spark.sql(
      """SELECT t.lid, clickhouse_fn('ifNull', p.name, 'missing', 'Utf8') AS nm
        |FROM lo_tags t LEFT JOIN chpd.db.people p ON p.id = t.lid""".stripMargin)
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains("cannot push ClickHouse expression"),
      s"unexpected error: ${e.getMessage.take(300)}")
  }

  test("RLIKE with a non-RE2 pattern stays local (backref/lookaround guard)") {
    val df = spark.table("chpd.db.people")
      .filter(col("name").rlike("(?=A)A.*"))
      .groupBy().agg(count(lit(1)).as("n"))
    assert(df.collect().head.getLong(0) == 1L) // Alice
    assert(remoteExecs(df).forall(e => !e.sql.contains("match(")),
      "lookaround pattern must not be pushed as ClickHouse match()")
  }

  test("runtime filter still narrows the remote scan with the rule installed") {
    // regression: a DPP Filter(dynamicpruning) over a scan must NOT be
    // collapsed into a remote node (ChPlanUnparser would drop the DPP
    // conjunct and the remote node cannot receive runtime filters) — the
    // DSv2 scan survives and its SupportsRuntimeV2Filtering IN-list
    // narrows the remote read at execution
    import spark.implicits._
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    try {
      val dimPath = root + "/rf_dims.parquet"
      Seq((1, "keep"), (99, "drop")).toDF("code", "label")
        .write.mode("overwrite").parquet(dimPath)
      val dims = spark.read.parquet(dimPath).filter(col("label") === "keep")
      val fact = spark.table("chpd.db.people")
      val joined = fact.join(broadcast(dims), fact("id") === dims("code"))
        .select(col("id"), col("name"), col("label"))
      val rows = joined.collect()
      assert(rows.length == 1 && rows.head.getString(1) == "Alice")
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      def walk(p: SparkPlan): Seq[graft.connector.ChScan] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case b: BatchScanExec =>
          b.scan match { case s: graft.connector.ChScan => Seq(s); case _ => Seq.empty }
        case other => other.children.flatMap(walk)
      }
      val sqls = walk(joined.queryExecution.executedPlan).map(_.generatedSql)
      assert(sqls.exists(s => s.contains("IN (")),
        s"runtime IN-filter not applied to remote scan: ${sqls.mkString("; ")}")
    } finally {
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
    }
  }

  test("arrayJoin under a filter + union composes (e2e.rs:608-621)") {
    val df = spark.sql(
      """SELECT id, clickhouse_fn('upper', name, 'Utf8') AS v
        |FROM chpd.db.people WHERE id = 1
        |UNION ALL
        |SELECT id, clickhouse_fn('arrayJoin', names, 'Utf8') AS v
        |FROM chpd.db.people2 WHERE id = 1""".stripMargin)
    val got = df.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "ALICE"), (1, "Buddha"), (1, "Zugus"), (1, "Lulu")))
  }

  test("byte-reducing projection (md5 digest) collapses into the store") {
    val df = spark.table("chpd.db.people")
      .select(col("id"), md5(col("name").cast("binary")).as("fp"))
    assert(remoteExecs(df).nonEmpty)
    val got = df.collect().map(r => (r.getInt(0), r.getString(1))).toMap
    // digest equals Spark's own md5 (the store computes lower(hex(MD5)))
    assert(got(1) == "64489c85dc2fe0787b85cd87214b3810") // md5("Alice")
  }

  test("sha1/sha256/crc32 digests compute remotely and equal Spark's own") {
    val remote = spark.table("chpd.db.people")
      .select(col("id"),
        sha1(col("name").cast("binary")).as("s1"),
        sha2(col("name").cast("binary"), 256).as("s2"),
        crc32(col("name").cast("binary")).as("c"))
    assert(remoteExecs(remote).nonEmpty)
    val local = spark.table("chpd.db.people").select(col("id"), col("name")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    remote.collect().foreach { r =>
      val name = local(r.getInt(0))
      val bytes = name.getBytes("UTF-8")
      def hex(algo: String) = java.security.MessageDigest.getInstance(algo)
        .digest(bytes).map("%02x".format(_)).mkString
      assert(r.getString(1) == hex("SHA-1"))
      assert(r.getString(2) == hex("SHA-256"))
      val c = new java.util.zip.CRC32(); c.update(bytes)
      assert(r.getLong(3) == c.getValue)
    }
  }

  test("width-preserving projection does NOT collapse (keeps the DSv2 scan)") {
    // upper(name) output is as wide as its input: no wire win, and the
    // DSv2 scan keeps runtime-filter capability — must stay a scan
    val wide = spark.table("chpd.db.people")
      .select(col("id"), upper(col("name")).as("u"))
    assert(remoteExecs(wide).isEmpty)
    // numeric-only projections consume no unbounded column: same rule
    val narrow = spark.table("chpd.db.people").select((col("id") + 1).as("id2"))
    assert(remoteExecs(narrow).isEmpty)
    assert(narrow.collect().map(_.getInt(0)).toSet == Set(2, 3, 4))
  }

  // ---- implicit unknown-function resolution (PlaceholderUDF parity,
  // udfs/placeholder.rs:22-74 + context.rs:375-402): extensions session ----

  private lazy val extSession: SparkSession = {
    val s2: SparkSession = org.apache.spark.sql.classic.SparkSession.builder()
      .master(spark.sparkContext.master)
      .withExtensions(new GraftExtensions().apply(_))
      .create()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.conf.set("spark.sql.session.timeZone", "UTC")
    s2.conf.set("spark.sql.catalog.chpdx", classOf[graft.catalog.ClickHouseCatalog].getName)
    s2.conf.set("spark.sql.catalog.chpdx.path", root)
    spark // force base fixtures built first
    s2
  }

  private def extRemotes(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val top = df.queryExecution.executedPlan
    (top +: top.collect { case a: AdaptiveSparkPlanExec => a.executedPlan })
      .flatMap(_.collect { case e: ClickHouseRemoteExec => e })
  }

  test("bare unknown function name resolves implicitly and ships remotely " +
    "(no clickhouse_fn wrapper)") {
    val df = extSession.sql(
      "SELECT id, `base64Encode`(name) AS b64 FROM chpdx.db.people")
    assert(extRemotes(df).nonEmpty, "implicit remote call did not collapse")
    val got = df.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val enc = java.util.Base64.getEncoder
    assert(got(1) == enc.encodeToString("Alice".getBytes("UTF-8")))
    assert(got(3) == enc.encodeToString("Charlie".getBytes("UTF-8")))
  }

  test("implicit resolution: trailing 'Type' literal declares the return " +
    "type (clickhouse_fn convention)") {
    val df = extSession.sql(
      "SELECT `lengthUTF8`(name, 'Int64') AS n FROM chpdx.db.people WHERE id = 1")
    assert(df.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(df.collect().head.getLong(0) == 5L)
  }

  test("known functions are NOT wrapped: builtins and temp functions " +
    "resolve normally on the extensions session") {
    val df = extSession.sql(
      "SELECT upper(name) AS u, clickhouse(lower(name), 'String') AS l " +
        "FROM chpdx.db.people WHERE id = 2")
    val r = df.collect().head
    assert(r.getString(0) == "BOB" && r.getString(1) == "bob")
  }

  test("apply/lambda named builders map to native HOFs (udfs/apply.rs:26-34)") {
    val df = extSession.sql(
      "SELECT id, apply(x -> x * 2, array(id, id + 1)) AS doubled, " +
        "lambda(s -> concat(s, '!'), array(name)) AS shouted " +
        "FROM chpdx.db.people WHERE id = 1")
    val r = df.collect().head
    assert(r.getSeq[Int](1) == Seq(2, 4))
    assert(r.getSeq[String](2) == Seq("Alice!"))
    // and the lambda STILL collapses remotely when the subtree qualifies
    // (transform unparses as arrayMap — the q31 surface)
    val remote = extSession.sql(
      "SELECT id, apply(x -> concat(x, '?'), names) AS qs FROM chpdx.db.people2")
    assert(remote.collect().nonEmpty)
    // the alias family also resolves on RUNTIME-registered sessions (no
    // extensions parser — Registration.registerFunctions), including the
    // 2-collection zip form and the wrapper unwrap
    val rt = spark.sql(
      "SELECT apply(x -> x * 2, array(1, 2)) AS d, " +
        "apply((x, y) -> x + y, array(1, 2), array(10, 20)) AS z, " +
        "lambda(transform(array(3), x -> x + 1)) AS u").collect().head
    assert(rt.getSeq[Int](0) == Seq(2, 4))
    assert(rt.getSeq[Int](1) == Seq(11, 22))
    assert(rt.getSeq[Int](2) == Seq(4))
  }

  test("reference-verbatim placeholder lambdas: `arrayMap`($x, body, col) " +
    "and the lambda()/apply() wrappers (udfs/apply.rs; e2e.rs:1087-1214)") {
    // single param, body referencing an OUTER column (e2e.rs:1112)
    val q1 = extSession.sql(
      """SELECT id, names,
        |  clickhouse(`arrayMap`($x, concat($x, id), names), 'List(Utf8)')
        |    AS tagged
        |FROM chpdx.db.people2 WHERE id = 1""".stripMargin)
    assert(extRemotes(q1).nonEmpty, "placeholder lambda did not collapse")
    assert(q1.collect().head.getSeq[String](2) ==
      Seq("Buddha1", "Zugus1", "Lulu1"))
    // two params over two arrays (e2e.rs:1146) — zip semantics
    val q2 = extSession.sql(
      """SELECT clickhouse(`arrayMap`($x, $y, concat($x, $y), names, names),
        |  'List(Utf8)') AS doubled
        |FROM chpdx.db.people2 WHERE id = 1""".stripMargin)
    assert(extRemotes(q2).nonEmpty, "two-param placeholder map did not collapse")
    assert(q2.collect().head.getSeq[String](0) ==
      Seq("BuddhaBuddha", "ZugusZugus", "LuluLulu"))
    // the lambda() wrapper is transparent (e2e.rs:1162)
    val q3 = extSession.sql(
      """SELECT id, clickhouse(lambda(`arrayMap`($x, concat($x, id), names)),
        |  'List(Utf8)') AS tagged
        |FROM chpdx.db.people2 WHERE id = 1""".stripMargin)
    assert(extRemotes(q3).nonEmpty)
    assert(q3.collect().head.getSeq[String](1) ==
      Seq("Buddha1", "Zugus1", "Lulu1"))
    // arrayFilter / arrayExists placeholder forms (e2e.rs:1180, :1207)
    val q4 = extSession.sql(
      """SELECT id,
        |  clickhouse(`arrayFilter`($x, length($x) > 4, names),
        |    'List(Utf8)') AS long_names,
        |  clickhouse(`arrayExists`($x, $x = 'Lulu', names),
        |    'Boolean') AS has_lulu
        |FROM chpdx.db.people2 WHERE id = 1""".stripMargin)
    assert(extRemotes(q4).nonEmpty)
    val r4 = q4.collect().head
    assert(r4.getSeq[String](1) == Seq("Buddha", "Zugus"))
    assert(r4.getBoolean(2))
  }

  test("placeholder lambdas run LOCALLY too (no clickhouse() wrapper, " +
    "local relation) and reject malformed shapes loudly") {
    val s = extSession
    s.createDataFrame(Seq((1, Seq("ab", "cdef")))).toDF("id", "xs")
      .createOrReplaceTempView("ph_local")
    val r = s.sql(
      """SELECT `arrayMap`($x, concat($x, '_s'), xs) AS m,
        |  `arrayFilter`($x, length($x) > 2, xs) AS f,
        |  `arrayExists`($x, $x = 'ab', xs) AS e,
        |  `arrayMap`($x, $y, concat($x, $y), xs, xs) AS z
        |FROM ph_local""".stripMargin).collect().head
    assert(r.getSeq[String](0) == Seq("ab_s", "cdef_s"))
    assert(r.getSeq[String](1) == Seq("cdef"))
    assert(r.getBoolean(2))
    assert(r.getSeq[String](3) == Seq("abab", "cdefcdef"))
    // a '$' inside a string literal is DATA, never a placeholder
    assert(s.sql("SELECT '$x literal' AS v").collect().head.getString(0)
      == "$x literal")
    // placeholder/collection arity mismatch rejects loudly
    val e1 = intercept[Exception](s.sql(
      "SELECT `arrayMap`($x, $y, concat($x, $y), xs) FROM ph_local").collect())
    assert(e1.getMessage.contains("placeholder"), e1.getMessage)
    // unsupported HOF name under the placeholder form rejects loudly,
    // naming the supported set
    val e2 = intercept[Exception](s.sql(
      "SELECT `arrayWeird`($x, concat($x, '!'), xs) FROM ph_local").collect())
    assert(e2.getMessage.contains("arrayMap"), e2.getMessage)
  }

  test("randomized placeholder-lambda differential: 40 random bodies " +
    "agree with the native Spark spelling, local and remote") {
    val s = extSession
    val r = new scala.util.Random(271828)
    // body fragments over a string lambda var; (placeholder spelling,
    // native spelling) pairs — same SQL text modulo the lambda syntax
    val bodies = Seq[(String, String)](
      ("concat($x, '_t')", "concat(x, '_t')"),
      ("upper($x)", "upper(x)"),
      ("substr($x, 1, 3)", "substr(x, 1, 3)"),
      ("concat($x, $x)", "concat(x, x)"),
      ("length($x) > 4", "length(x) > 4"),
      ("$x = 'Lulu'", "x = 'Lulu'"),
      ("concat($x, id)", "concat(x, id)"))
    val hofs = Seq("arrayMap", "arrayFilter", "arrayExists")
    def nativeOf(h: String): String = h match {
      case "arrayMap" => "transform"
      case "arrayFilter" => "filter"
      case "arrayExists" => "exists"
    }
    for (i <- 0 until 40) {
      val h = hofs(r.nextInt(hofs.length))
      // filter/exists need boolean bodies; map takes any
      val pool =
        if (h == "arrayMap") bodies.take(4) :+ bodies.last
        else bodies.slice(4, 6)
      val (ph, nat) = pool(r.nextInt(pool.length))
      val phSql =
        s"SELECT id, `$h`($$x, $ph, names) AS v FROM chpdx.db.people2"
      val natSql =
        s"SELECT id, ${nativeOf(h)}(names, x -> $nat) AS v FROM chpdx.db.people2"
      val got = s.sql(phSql).orderBy("id").collect().map(_.toSeq).toSeq
      val want = s.sql(natSql).orderBy("id").collect().map(_.toSeq).toSeq
      assert(got == want, s"shape #$i: $phSql")
    }
  }

  test("bare arrayJoin is a true generator (cardinality-safe explode)") {
    val df = extSession.sql(
      "SELECT id, `arrayJoin`(names) AS n FROM chpdx.db.people2")
    // people2 fixture: 3 rows with multi-element names arrays — the
    // expansion must multiply rows, not project 1:1
    assert(df.count() > extSession.table("chpdx.db.people2").count())
  }
}
