package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.client.EmbeddedClickHouse
import graft.connector.ChScan

/** DSv2 scan-level pushdown beyond filters/projection/limit: whole
  * GROUP BY aggregations (complete pushdown — one row per group crosses
  * the wire), ORDER BY + LIMIT top-k, and runtime (dynamic) filtering
  * that narrows a federated-join probe scan with the build side's keys.
  */
class ScanPushdownSpec extends AnyFunSuite {

  private lazy val root = Files.createTempDirectory("graft_scanpd_").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("scan-pushdown-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.conf.set("spark.sql.catalog.chspd", classOf[graft.catalog.ClickHouseCatalog].getName)
    s.conf.set("spark.sql.catalog.chspd.path", root)
    val client = new EmbeddedClickHouse(root)
    client.createTable("db", "sales",
      Seq("region" -> "String", "item" -> "String", "qty" -> "Int64", "price" -> "Float64"),
      Map("engine" -> "MergeTree"))
    val schema = client.sparkSchema("db", "sales")
    client.insert("db", "sales", schema, Seq(
      Row("eu", "a", 1L, 10.0), Row("eu", "b", 2L, 20.0), Row("eu", "a", 3L, 5.0),
      Row("us", "a", 4L, 1.0), Row("us", "c", 5L, 2.5), Row("ap", "b", 6L, 7.0)))
    s
  }

  private def chScans(df: DataFrame): Seq[ChScan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    // manual walk: AQE query stages are leaf nodes, plain collect stops there
    def walk(p: SparkPlan): Seq[ChScan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case b: BatchScanExec =>
        b.scan match { case s: ChScan => Seq(s); case _ => Seq.empty }
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("GROUP BY aggregation pushes completely into the scan SQL") {
    val df = spark.sql(
      """SELECT region, sum(qty) AS total, max(price) AS top_price, count(*) AS n
        |FROM chspd.db.sales GROUP BY region""".stripMargin)
    val scans = chScans(df)
    assert(scans.nonEmpty, "no ChScan in plan")
    val sql = scans.head.generatedSql
    assert(sql.contains("GROUP BY"), s"aggregation not pushed: $sql")
    assert(sql.contains("sum(`qty`)") && sql.contains("max(`price`)") &&
      sql.contains("count(*)"), s"aggregates missing from remote SQL: $sql")
    // complete pushdown: no HashAggregate over raw rows remains
    val out = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(out == Set(("eu", 6L, 20.0, 3L), ("us", 9L, 2.5, 2L), ("ap", 6L, 7.0, 1L)))
  }

  test("global aggregate (no GROUP BY) pushes; avg and distinct compile") {
    val df = spark.sql(
      "SELECT count(DISTINCT item) AS d, avg(qty) AS aq FROM chspd.db.sales")
    val sql = chScans(df).head.generatedSql
    assert(sql.contains("count(DISTINCT `item`)") && sql.contains("avg(`qty`)"),
      s"remote SQL: $sql")
    val r = df.collect().head
    assert(r.getLong(0) == 3L && math.abs(r.getDouble(1) - 3.5) < 1e-9)
  }

  test("aggregate over an unsupported type stays local") {
    // sum(string) is not compilable; Spark must keep the agg local
    val df = spark.sql("SELECT min(region) AS m, sum(qty) AS s FROM chspd.db.sales")
    // min(string) IS compilable — whole agg pushes
    assert(chScans(df).head.generatedSql.contains("min(`region`)"))
    assert(df.collect().head.getString(0) == "ap")
  }

  test("ORDER BY + LIMIT pushes as remote top-k") {
    val df = spark.table("chspd.db.sales")
      .select("item", "qty").orderBy(col("qty").desc).limit(2)
    val sql = chScans(df).head.generatedSql
    assert(sql.contains("ORDER BY `qty` DESC NULLS LAST") && sql.contains("LIMIT 2"),
      s"top-k not pushed: $sql")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("b", "c"))
  }

  test("statistical aggregates push completely (var/stddev/corr)") {
    val df = spark.sql(
      """SELECT var_samp(price) AS vs, stddev_pop(price) AS sp, corr(price, qty) AS c
        |FROM chspd.db.sales""".stripMargin)
    val sql = chScans(df).head.generatedSql
    assert(sql.contains("varSamp(`price`)") && sql.contains("stddevPop(`price`)") &&
      sql.contains("corr(`price`, CAST(`qty` AS Float64))"), s"remote SQL: $sql")
    val r = df.collect().head
    val prices = Seq(10.0, 20.0, 5.0, 1.0, 2.5, 7.0)
    val mean = prices.sum / prices.length
    val varS = prices.map(p => (p - mean) * (p - mean)).sum / (prices.length - 1)
    assert(math.abs(r.getDouble(0) - varS) < 1e-9)
    assert(math.abs(r.getDouble(1) - math.sqrt(varS * (prices.length - 1) / prices.length)) < 1e-9)
    assert(r.getDouble(2).abs <= 1.0)
  }

  test("OFFSET pushes with LIMIT and top-k into the scan SQL") {
    val paged = spark.sql(
      "SELECT item, qty FROM chspd.db.sales ORDER BY qty DESC, item LIMIT 2 OFFSET 1")
    val sql = chScans(paged).head.generatedSql
    assert(sql.contains("LIMIT 2") && sql.contains("OFFSET 1"), s"paging not pushed: $sql")
    assert(paged.collect().map(_.getString(0)).toSeq == Seq("c", "a"))
  }

  test("df.sample pushes as remote SAMPLE on a sampling-keyed table; " +
    "semantics are the declared md5-bucket model, seed maps to OFFSET") {
    val client = new EmbeddedClickHouse(root)
    client.createTable("db", "smp",
      Seq("id" -> "Int64", "v" -> "Float64"),
      Map("engine" -> "MergeTree", "sampling" -> "id"))
    val schema = client.sparkSchema("db", "smp")
    client.insert("db", "smp", schema,
      (1L to 500L).map(i => Row(i, i * 0.5)))
    val df = spark.table("chspd.db.smp").sample(withReplacement = false, 0.2, 7L)
    val got = df.collect().map(_.getLong(0)).toSet
    val sql = chScans(df).head.generatedSql
    assert(sql.contains("SAMPLE 0.2 OFFSET 0.000007"), sql)
    // expected subset: the documented deterministic bucket model,
    // recomputed independently with Spark expressions
    import spark.implicits._
    val expected = (1L to 500L).toDF("id")
      .filter(expr(
        "pmod(CAST(conv(substring(md5(CAST(id AS STRING)), 1, 8), 16, 10) " +
          "AS BIGINT), 1000000) BETWEEN 7 AND 200006"))
      .collect().map(_.getLong(0)).toSet
    assert(got == expected, s"got ${got.size} rows, expected ${expected.size}")
    // a pushed sample composes with a pushed filter (sample clause sits
    // between table and WHERE, server applies sampling first)
    val df2 = spark.table("chspd.db.smp")
      .sample(withReplacement = false, 0.2, 7L).filter(col("id") <= 250)
    val sql2 = chScans(df2).head.generatedSql
    assert(sql2.contains("SAMPLE 0.2 OFFSET 0.000007 WHERE `id` <= 250"), sql2)
    assert(df2.collect().map(_.getLong(0)).toSet == expected.filter(_ <= 250L))
    // no declared sampling key → honored-or-rejected: stays a LOCAL
    // Sample node, the scan SQL carries no SAMPLE clause
    val df3 = spark.table("chspd.db.sales").sample(withReplacement = false, 0.5, 1L)
    df3.collect()
    assert(!chScans(df3).head.generatedSql.contains("SAMPLE"))
    client.dropTable("db", "smp")
  }

  test("runtime filter from a federated broadcast join narrows the remote scan") {
    import spark.implicits._
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    try {
      // the dim must be file-backed: a LocalRelation constant-folds its
      // filter away and PartitionPruning no longer sees a selective
      // predicate to derive the runtime filter from
      val dimPath = root + "/dims.parquet"
      Seq(("eu", "Europe"), ("xx", "Nowhere")).toDF("code", "label")
        .write.mode("overwrite").parquet(dimPath)
      val dims = spark.read.parquet(dimPath).filter(col("label") === "Europe")
      val fact = spark.table("chspd.db.sales")
      val joined = fact.join(broadcast(dims), fact("region") === dims("code"))
        .select("region", "item", "qty", "label")
      val rows = joined.collect()
      assert(rows.length == 3 && rows.forall(_.getString(3) == "Europe"))
      val sqls = chScans(joined).map(_.generatedSql)
      assert(sqls.exists(s => s.contains("IN (") && s.contains("'eu'")),
        s"runtime IN-filter not applied to remote scan: ${sqls.mkString("; ")}")
    } finally {
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
    }
  }

  test("runtime filter composes with pushed limit via outer wrap") {
    // a scan with a pushed LIMIT must not let runtime filters inside the
    // limit (it would change which rows are the top-k) — exercised
    // directly against the scan SQL assembly
    val df = spark.table("chspd.db.sales").select("region", "qty").limit(6)
    val scan = chScans(df).head
    val before = scan.generatedSql
    assert(before.contains("LIMIT 6"))
    assert(df.count() == 6)
  }

  test("string literals reach the embedded engine verbatim: call-shaped " +
    "text and escaped quotes filter exactly") {
    val client = new EmbeddedClickHouse(root)
    client.createTable("db", "names", Seq("id" -> "Int64", "name" -> "String"),
      Map("engine" -> "MergeTree"))
    client.insert("db", "names", client.sparkSchema("db", "names"), Seq(
      Row(1L, "length(x)"), Row(2L, "O'Brien, x"), Row(3L, "O'Brien, xy"),
      Row(4L, "plain"), Row(5L, "it's")))
    // the pushed WHERE carries the literal 'length(x)'
    val df = spark.sql("SELECT id FROM chspd.db.names WHERE name = 'length(x)'")
    assert(chScans(df).exists(_.generatedSql.contains("'length(x)'")),
      chScans(df).map(_.generatedSql).mkString("; "))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // raw ClickHouse SQL: a backslash-escaped quote inside the needle
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chspd").build()
    val hits = ch.chSql("SELECT `id` FROM `db`.`names` " +
      "WHERE position(`name`, 'O\\'Brien, x') > 0 ORDER BY `id`")
      .collect().map(_.getLong(0)).toSeq
    assert(hits == Seq(2L, 3L))
  }
}
