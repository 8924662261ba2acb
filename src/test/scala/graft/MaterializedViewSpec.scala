package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.client.EmbeddedClickHouse

/** Materialized views with the server's exact semantics: an INSERT
  * TRIGGER — each block landing in the (single) source table is
  * transformed by the view's select and appended to the pre-existing TO
  * target. Aggregating selects yield PARTIAL results per block (readers
  * re-aggregate); mutations and merges never re-fire; chains cascade
  * and cycles are rejected at create; DROP VIEW stops the trigger but
  * keeps the target's rows.
  */
class MaterializedViewSpec extends AnyFunSuite {

  private lazy val root = Files.createTempDirectory("graft_mv_").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("mv-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.conf.set("spark.sql.catalog.chmv",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    s.conf.set("spark.sql.catalog.chmv.path", root)
    s
  }

  private lazy val client: EmbeddedClickHouse = {
    spark // catalog registration orders before raw-client use
    new EmbeddedClickHouse(root)
  }

  private var n = 0
  /** Fresh (source, target, view) trio; target aggregates by tag. */
  private def freshTrio(): (String, String, String) = {
    n += 1
    val (src, tgt, mv) = (s"src_$n", s"tgt_$n", s"mv_$n")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS chmv.main")
    spark.sql(
      s"""CREATE TABLE chmv.main.$src (id BIGINT, tag STRING, v BIGINT)
         |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'id')""".stripMargin)
    spark.sql(
      s"""CREATE TABLE chmv.main.$tgt (tag STRING, cnt BIGINT, total BIGINT)
         |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'tag')""".stripMargin)
    client.createMaterializedView("main", mv, "main", tgt,
      s"SELECT tag, count(*) AS cnt, sum(v) AS total FROM main.$src GROUP BY tag")
    (src, tgt, mv)
  }

  private def tgtAgg(tgt: String): Map[String, (Long, Long)] =
    spark.table(s"chmv.main.$tgt").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) =>
        k -> (rs.map(_.getLong(1)).sum, rs.map(_.getLong(2)).sum) }

  test("each SQL INSERT block triggers the view; aggregates are PARTIAL " +
    "per block and re-aggregate to the source truth") {
    val (src, tgt, _) = freshTrio()
    spark.sql(s"INSERT INTO chmv.main.$src VALUES (1,'a',10),(2,'a',20),(3,'b',5)")
    spark.sql(s"INSERT INTO chmv.main.$src VALUES (4,'a',1),(5,'c',7)")
    // per-BLOCK firing (server semantics): blocks here are the write's
    // task partitions, so 'a' lands as at least two partial rows (one
    // per statement at minimum) — never pre-merged to one
    val aRows = spark.table(s"chmv.main.$tgt").where("tag = 'a'").count()
    assert(aRows >= 2, s"expected partial rows for 'a', got $aRows")
    assert(tgtAgg(tgt) == Map("a" -> (3L, 31L), "b" -> (1L, 5L), "c" -> (1L, 7L)))
  }

  test("raw-client insert() and server-side insertSelect fire too") {
    val (src, tgt, _) = freshTrio()
    val sch = StructType(Seq(StructField("id", LongType, false),
      StructField("tag", StringType, false), StructField("v", LongType, false)))
    client.insert("main", src, sch, Seq(Row(1L, "x", 2L), Row(2L, "x", 3L)))
    assert(tgtAgg(tgt) == Map("x" -> (2L, 5L)))
    client.insertSelect("main", src,
      s"SELECT id + 10 AS id, tag, v * 2 AS v FROM main.$src")
    assert(tgtAgg(tgt) == Map("x" -> (4L, 15L)))
  }

  test("chains cascade (view on the target's table feeds a second " +
    "target); cycles are rejected at create") {
    val (src, tgt, _) = freshTrio()
    spark.sql(
      s"""CREATE TABLE chmv.main.roll_$n (cnt BIGINT, total BIGINT)
         |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'cnt')""".stripMargin)
    client.createMaterializedView("main", s"mvroll_$n", "main", s"roll_$n",
      s"SELECT count(*) AS cnt, sum(total) AS total FROM main.$tgt")
    spark.sql(s"INSERT INTO chmv.main.$src VALUES (1,'a',10),(2,'b',20)")
    // one cascade fire per tgt block; the rollup re-aggregates to truth
    val roll = spark.table(s"chmv.main.roll_$n").collect()
    assert(roll.nonEmpty && roll.map(_.getLong(1)).sum == 30L,
      roll.mkString(","))
    // cycle: roll_n → src would loop src → tgt → roll_n → src
    val e = intercept[Exception](client.createMaterializedView(
      "main", s"mvcyc_$n", "main", src,
      s"SELECT cnt AS id, 'z' AS tag, total AS v FROM main.roll_$n"))
    assert(e.getMessage.contains("cyclic"), e.getMessage)
  }

  test("create-time honored-or-rejected: missing target, multi-table " +
    "select, schema mismatch, source==target, duplicate name") {
    val (src, tgt, mv) = freshTrio()
    def rejects(body: => Unit, frag: String): Unit = {
      val e = intercept[Exception](body)
      assert(e.getMessage.contains(frag), s"$frag: ${e.getMessage}")
    }
    rejects(client.createMaterializedView("main", "mv_nope", "main", "no_such",
      s"SELECT tag, count(*) AS cnt, sum(v) AS total FROM main.$src GROUP BY tag"),
      "does not exist")
    rejects(client.createMaterializedView("main", "mv_multi", "main", tgt,
      s"SELECT a.tag, count(*) AS cnt, sum(a.v) AS total FROM main.$src a " +
        s"JOIN main.$tgt b ON a.tag = b.tag GROUP BY a.tag"),
      "exactly one source table")
    rejects(client.createMaterializedView("main", "mv_badschema", "main", tgt,
      s"SELECT tag, count(*) AS cnt FROM main.$src GROUP BY tag"),
      "does not fit target")
    rejects(client.createMaterializedView("main", "mv_self", "main", src,
      s"SELECT id, tag, v FROM main.$src"),
      "same table")
    rejects(client.createMaterializedView("main", mv, "main", tgt,
      s"SELECT tag, count(*) AS cnt, sum(v) AS total FROM main.$src GROUP BY tag"),
      "already exists")
  }

  test("mutations and merges do NOT re-fire: DELETE/UPDATE/OPTIMIZE on " +
    "the source leave the target untouched") {
    val (src, tgt, _) = freshTrio()
    spark.sql(s"INSERT INTO chmv.main.$src VALUES (1,'a',10),(2,'b',20)")
    val before = tgtAgg(tgt)
    client.deleteWhere("main", src, "id = 1")
    client.updateWhere("main", src, Seq("v" -> "v + 100"), "1")
    client.optimizeTable("main", src, finalize = false)
    assert(tgtAgg(tgt) == before,
      "mutations/merges must not re-trigger the view")
  }

  test("DROP VIEW stops the trigger; target rows stay; listing reflects " +
    "life cycle and system.tables shows the view") {
    val (src, tgt, mv) = freshTrio()
    spark.sql(s"INSERT INTO chmv.main.$src VALUES (1,'a',10)")
    assert(client.listMaterializedViews("main").contains(mv))
    val sysRow = spark.table("chmv.system.tables")
      .where(s"database = 'main' AND name = '$mv'").collect()
    assert(sysRow.length == 1 && sysRow.head.getString(2) == "MaterializedView")
    client.dropMaterializedView("main", mv)
    assert(!client.listMaterializedViews("main").contains(mv))
    spark.sql(s"INSERT INTO chmv.main.$src VALUES (2,'a',99)")
    assert(tgtAgg(tgt) == Map("a" -> (1L, 10L)), "rows stay, trigger gone")
    intercept[Exception](client.dropMaterializedView("main", mv))
  }

  test("a cached plan over the TARGET sees trigger output after a source " +
    "insert (MV refresh drain — out-of-band invalidation class)") {
    val (src, tgt, _) = freshTrio()
    spark.sql(s"INSERT INTO chmv.main.$src VALUES (1,'a',10)")
    assert(spark.table(s"chmv.main.$tgt").count() == 1)
    spark.sql(s"INSERT INTO chmv.main.$src VALUES (2,'b',20)")
    assert(spark.table(s"chmv.main.$tgt").count() == 2,
      "target read after source insert must include the fired block")
  }

  test("epoch commits fire at most once (crash replays skip); the " +
    "streaming sink path triggers views") {
    val (src, tgt, _) = freshTrio()
    val sch = StructType(Seq(StructField("id", LongType, false),
      StructField("tag", StringType, false), StructField("v", LongType, false)))
    client.stageInsert("main", src, sch, Seq(Row(1L, "e", 4L)), "ep-t1")
    client.commitEpochStaged("main", src, "epoch-1", Seq("ep-t1"))
    assert(tgtAgg(tgt) == Map("e" -> (1L, 4L)))
    // replay of the SAME epoch (crash between publish and driver ack):
    // staged parts are dropped and the view must NOT double-fire
    client.stageInsert("main", src, sch, Seq(Row(1L, "e", 4L)), "ep-t1r")
    client.commitEpochStaged("main", src, "epoch-1", Seq("ep-t1r"))
    assert(tgtAgg(tgt) == Map("e" -> (1L, 4L)), "replay must not re-fire")
  }

  test("SummingMergeTree: FINAL collapses key groups on the fly " +
    "(implicit numeric columns, deterministic representative for the " +
    "rest, all-zero groups deleted); OPTIMIZE materializes it") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS chmv.main")
    spark.sql(
      """CREATE TABLE chmv.main.sm (k BIGINT, a BIGINT, b DOUBLE, note STRING)
        |TBLPROPERTIES ('engine' = 'SummingMergeTree', 'order_by' = 'k')""".stripMargin)
    spark.sql("INSERT INTO chmv.main.sm VALUES (1, 5, 1.5, 'early')")
    spark.sql("INSERT INTO chmv.main.sm VALUES (1, 3, 0.5, 'late'), (2, 7, 2.0, 'z')")
    spark.sql("INSERT INTO chmv.main.sm VALUES (2, -7, -2.0, 'z2'), (3, 0, 0.25, 'w')")
    // plain read: 5 physical rows until a merge
    assert(spark.table("chmv.main.sm").count() == 5)
    val fin = spark.read.option("final", "true").table("chmv.main.sm")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
    // k=2 sums to (0, 0.0) across ALL summed columns → group deleted
    assert(fin == Map(
      1L -> ((8L, 2.0, "early")), // numeric sum; note = min (a legal "any")
      3L -> ((0L, 0.25, "w"))),   // b keeps it alive: not ALL sums zero
      fin.toString)
    client.optimizeTable("main", "sm", finalize = false) // ANY merge sums
    assert(spark.table("chmv.main.sm").count() == 2, "materialized")
    // explicit column list: only `a` sums, `b` takes the representative
    spark.sql(
      """CREATE TABLE chmv.main.sml (k BIGINT, a BIGINT, b DOUBLE)
        |TBLPROPERTIES ('engine' = 'SummingMergeTree(a)', 'order_by' = 'k')""".stripMargin)
    spark.sql("INSERT INTO chmv.main.sml VALUES (1, 5, 100.0)")
    spark.sql("INSERT INTO chmv.main.sml VALUES (1, 2, 50.0)")
    val l = spark.read.option("final", "true").table("chmv.main.sml").collect()
    assert(l.length == 1 && l.head.getLong(1) == 7L && l.head.getDouble(2) == 50.0)
  }

  test("the canonical pattern: MV into a SummingMergeTree target — " +
    "OPTIMIZE collapses the per-block partials to final totals") {
    val src = s"cs_src_$n"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS chmv.main")
    spark.sql(
      s"""CREATE TABLE chmv.main.$src (id BIGINT, tag STRING, v BIGINT)
         |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'id')""".stripMargin)
    spark.sql(
      s"""CREATE TABLE chmv.main.cs_agg (tag STRING, cnt BIGINT, total BIGINT)
         |TBLPROPERTIES ('engine' = 'SummingMergeTree', 'order_by' = 'tag')""".stripMargin)
    client.createMaterializedView("main", "cs_mv", "main", "cs_agg",
      s"SELECT tag, count(*) AS cnt, sum(v) AS total FROM main.$src GROUP BY tag")
    spark.sql(s"INSERT INTO chmv.main.$src VALUES (1,'a',10),(2,'b',20)")
    spark.sql(s"INSERT INTO chmv.main.$src VALUES (3,'a',5)")
    assert(spark.table("chmv.main.cs_agg").count() > 2,
      "partials before the merge")
    client.optimizeTable("main", "cs_agg", finalize = false)
    val rows = spark.table("chmv.main.cs_agg").orderBy("tag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(("a", 2L, 15L), ("b", 1L, 20L)), rows.toString)
  }

  test("SQL DDL on the extensions session: CREATE MATERIALIZED VIEW " +
    "... TO ... AS creates the trigger, DROP VIEW removes it, Spark " +
    "temp views are never claimed") {
    val sqlRoot = Files.createTempDirectory("graft_mvsql_").toString
    val base = spark
    val ext = org.apache.spark.sql.classic.SparkSession.builder()
      .master(base.sparkContext.master)
      .withExtensions(new GraftExtensions().apply(_))
      .create()
    ext.conf.set("spark.sql.shuffle.partitions", "4")
    ext.conf.set("spark.sql.session.timeZone", "UTC")
    ext.conf.set("spark.sql.catalog.chmvq",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    ext.conf.set("spark.sql.catalog.chmvq.path", sqlRoot)
    ext.sql("CREATE NAMESPACE IF NOT EXISTS chmvq.main")
    ext.sql(
      """CREATE TABLE chmvq.main.s (id BIGINT, tag STRING, v BIGINT)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'id')""".stripMargin)
    ext.sql(
      """CREATE TABLE chmvq.main.t (tag STRING, cnt BIGINT)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'tag')""".stripMargin)
    ext.sql("CREATE MATERIALIZED VIEW chmvq.main.v TO chmvq.main.t AS " +
      "SELECT tag, count(*) AS cnt FROM main.s GROUP BY tag")
    val cl = new EmbeddedClickHouse(sqlRoot)
    assert(cl.listMaterializedViews("main") == Seq("v"))
    // IF NOT EXISTS is a no-op on an existing view
    ext.sql("CREATE MATERIALIZED VIEW IF NOT EXISTS chmvq.main.v TO " +
      "chmvq.main.t AS SELECT tag, count(*) AS cnt FROM main.s GROUP BY tag")
    ext.sql("INSERT INTO chmvq.main.s VALUES (1, 'a', 5)")
    assert(ext.table("chmvq.main.t").collect().map(_.getLong(1)).sum == 1L)
    // a Spark TEMP view under USE <ch-catalog> stays Spark's to drop
    ext.sql("USE chmvq.main")
    try {
      ext.range(3).createOrReplaceTempView("just_a_temp")
      ext.sql("DROP VIEW just_a_temp")
      assert(!ext.catalog.tableExists("just_a_temp"))
      // 1-part DROP of the REAL materialized view resolves through the
      // current catalog because it exists there
      ext.sql("DROP VIEW v")
      assert(cl.listMaterializedViews("main").isEmpty)
    } finally ext.sql("USE spark_catalog")
    // cross-catalog target rejected loudly
    val e = intercept[Exception](ext.sql(
      "CREATE MATERIALIZED VIEW chmvq.main.v2 TO spark_catalog.default.x " +
        "AS SELECT tag, count(*) AS cnt FROM main.s GROUP BY tag"))
    assert(e.getMessage.contains("does not resolve to a ClickHouse"),
      e.getMessage)
  }

  test("POPULATE backfills pre-existing rows into the target EXACTLY " +
    "once (before trigger arming), and post-create inserts still fire") {
    n += 1
    val (src, tgt, mv) = (s"pp_src_$n", s"pp_tgt_$n", s"pp_mv_$n")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS chmv.main")
    spark.sql(
      s"""CREATE TABLE chmv.main.$src (id BIGINT, tag STRING, v BIGINT)
         |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'id')""".stripMargin)
    spark.sql(
      s"""CREATE TABLE chmv.main.$tgt (tag STRING, cnt BIGINT, total BIGINT)
         |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'tag')""".stripMargin)
    // rows BEFORE the view exists — only POPULATE can surface these
    spark.sql(s"INSERT INTO chmv.main.$src VALUES (1,'a',10),(2,'b',20)")
    spark.sql(s"INSERT INTO chmv.main.$src VALUES (3,'a',5)")
    client.createMaterializedView("main", mv, "main", tgt,
      s"SELECT tag, count(*) AS cnt, sum(v) AS total FROM main.$src GROUP BY tag",
      populate = true)
    assert(tgtAgg(tgt) == Map("a" -> (2L, 15L), "b" -> (1L, 20L)),
      "backfill appears exactly once")
    // post-create inserts fire the trigger over ONLY their own block
    spark.sql(s"INSERT INTO chmv.main.$src VALUES (4,'a',100)")
    assert(tgtAgg(tgt) == Map("a" -> (3L, 115L), "b" -> (1L, 20L)))
    // POPULATE on an EMPTY source: zero backfill rows, trigger armed
    n += 1
    val (esrc, etgt) = (s"pp_esrc_$n", s"pp_etgt_$n")
    spark.sql(
      s"""CREATE TABLE chmv.main.$esrc (id BIGINT, tag STRING, v BIGINT)
         |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'id')""".stripMargin)
    spark.sql(
      s"""CREATE TABLE chmv.main.$etgt (tag STRING, cnt BIGINT, total BIGINT)
         |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'tag')""".stripMargin)
    client.createMaterializedView("main", s"pp_emv_$n", "main", etgt,
      s"SELECT tag, count(*) AS cnt, sum(v) AS total FROM main.$esrc GROUP BY tag",
      populate = true)
    assert(spark.table(s"chmv.main.$etgt").count() == 0)
    spark.sql(s"INSERT INTO chmv.main.$esrc VALUES (1,'z',7)")
    assert(tgtAgg(etgt) == Map("z" -> (1L, 7L)))
  }

  test("SQL DDL POPULATE keyword backfills through the parser surface") {
    val sqlRoot = Files.createTempDirectory("graft_mvpop_").toString
    val base = spark
    val ext = org.apache.spark.sql.classic.SparkSession.builder()
      .master(base.sparkContext.master)
      .withExtensions(new GraftExtensions().apply(_))
      .create()
    ext.conf.set("spark.sql.shuffle.partitions", "4")
    ext.conf.set("spark.sql.session.timeZone", "UTC")
    ext.conf.set("spark.sql.catalog.chmvp",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    ext.conf.set("spark.sql.catalog.chmvp.path", sqlRoot)
    ext.sql("CREATE NAMESPACE IF NOT EXISTS chmvp.main")
    ext.sql(
      """CREATE TABLE chmvp.main.s (id BIGINT, tag STRING, v BIGINT)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'id')""".stripMargin)
    ext.sql(
      """CREATE TABLE chmvp.main.t (tag STRING, cnt BIGINT)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'tag')""".stripMargin)
    ext.sql("INSERT INTO chmvp.main.s VALUES (1,'a',1),(2,'a',2),(3,'b',3)")
    // prime the table cache so the refresh path is actually load-bearing
    assert(ext.table("chmvp.main.t").count() == 0)
    ext.sql("CREATE MATERIALIZED VIEW chmvp.main.v TO chmvp.main.t " +
      "POPULATE AS SELECT tag, count(*) AS cnt FROM main.s GROUP BY tag")
    val out = ext.table("chmvp.main.t").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 2L, "b" -> 1L), out.toString)
  }

  test("HTTP POPULATE ships backfill INSERT SELECT strictly BEFORE the " +
    "CREATE (the server rejects POPULATE on TO-form; miss-not-double)") {
    val server = new graft.client.MockClickHouseHttp
    try {
      val http = new graft.client.HttpClickHouseClient(server.endpoint)
      http.createMaterializedView("main", "mv_pop", "main", "agg_pop",
        "SELECT tag, count(*) AS cnt FROM main.src_pop GROUP BY tag",
        populate = true)
      import scala.jdk.CollectionConverters._
      val qs = server.statements.asScala.toSeq
      val ins = qs.indexWhere(_.startsWith("INSERT INTO `main`.`agg_pop` " +
        "SELECT tag, count(*) AS cnt FROM main.src_pop GROUP BY tag"))
      val crt = qs.indexWhere(_.startsWith("CREATE MATERIALIZED VIEW " +
        "`main`.`mv_pop`"))
      assert(ins >= 0 && crt >= 0 && ins < crt, qs)
    } finally server.close()
  }

  test("HTTP transport ships the exact server DDL (trigger runs " +
    "server-side — the reference's passthrough model)") {
    val server = new graft.client.MockClickHouseHttp
    try {
      val http = new graft.client.HttpClickHouseClient(server.endpoint)
      http.createMaterializedView("main", "mv_http", "main", "agg_http",
        "SELECT tag, count(*) AS cnt FROM main.src_http GROUP BY tag")
      http.dropMaterializedView("main", "mv_http")
      import scala.jdk.CollectionConverters._
      val qs = server.statements.asScala.toSeq
      assert(qs.contains("CREATE MATERIALIZED VIEW `main`.`mv_http` TO " +
        "`main`.`agg_http` AS SELECT tag, count(*) AS cnt " +
        "FROM main.src_http GROUP BY tag"), qs)
      assert(qs.contains("DROP VIEW `main`.`mv_http`"), qs)
    } finally server.close()
  }

  test("20-seed fuzz: random block sequences with interleaved OPTIMIZEs " +
    "— the re-aggregated Summing target always equals the direct " +
    "aggregate over everything inserted") {
    import scala.util.Random
    spark.sql("CREATE NAMESPACE IF NOT EXISTS chmv.main")
    val sch = StructType(Seq(StructField("id", LongType, false),
      StructField("tag", StringType, false), StructField("v", LongType, false)))
    for (seed <- 0 until 20) {
      val r = new Random(seed)
      val (src, tgt, mv) = (s"fz_src_$seed", s"fz_tgt_$seed", s"fz_mv_$seed")
      client.createTable("main", src,
        Seq("id" -> "Int64", "tag" -> "String", "v" -> "Int64"),
        Map("engine" -> "MergeTree", "order_by" -> "id"))
      client.createTable("main", tgt,
        Seq("tag" -> "String", "cnt" -> "Int64", "total" -> "Int64"),
        Map("engine" -> "SummingMergeTree", "order_by" -> "tag"))
      client.createMaterializedView("main", mv, "main", tgt,
        s"SELECT tag, count(*) AS cnt, sum(v) AS total FROM main.$src GROUP BY tag")
      var shadow = Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
      var nextId = 0L
      for (_ <- 0 until (3 + r.nextInt(5))) {
        // one random block (1-7 rows over a small tag alphabet,
        // negative values exercise the all-zero deletion rule)
        val rows = (0 until (1 + r.nextInt(7))).map { _ =>
          nextId += 1
          val tag = s"t${r.nextInt(4)}"
          val v = r.nextInt(21) - 10L
          val (c, t) = shadow(tag); shadow += (tag -> (c + 1, t + v))
          Row(nextId, tag, v)
        }
        client.insert("main", src, sch, rows)
        if (r.nextBoolean()) client.optimizeTable("main", tgt)
      }
      val got = spark.table(s"chmv.main.$tgt").collect()
        .groupBy(_.getString(0))
        .map { case (k, rs) =>
          k -> ((rs.map(_.getLong(1)).sum, rs.map(_.getLong(2)).sum)) }
      assert(got == shadow.filter { case (_, (c, _)) => c > 0 },
        s"seed $seed: $got vs $shadow")
    }
  }

  test("sharded catalogs fire per shard; the target union re-aggregates " +
    "to the full answer") {
    val r1 = Files.createTempDirectory("graft_mvsh1_").toString
    val r2 = Files.createTempDirectory("graft_mvsh2_").toString
    spark.conf.set("spark.sql.catalog.chmvsh",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.chmvsh.path", s"$r1,$r2")
    spark.conf.set("spark.sql.catalog.chmvsh.shard_by", "id")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS chmvsh.main")
    spark.sql(
      """CREATE TABLE chmvsh.main.ev (id BIGINT, tag STRING, v BIGINT)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'id')""".stripMargin)
    spark.sql(
      """CREATE TABLE chmvsh.main.ev_agg (tag STRING, cnt BIGINT, total BIGINT)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'tag')""".stripMargin)
    graft.connector.ChMutations.clientOf(spark, "chmvsh")
      .createMaterializedView("main", "ev_mv", "main", "ev_agg",
        "SELECT tag, count(*) AS cnt, sum(v) AS total FROM main.ev GROUP BY tag")
    spark.sql(
      "INSERT INTO chmvsh.main.ev SELECT id, concat('t', id % 3), id FROM range(60)")
    // per-shard local triggers: both shards contributed partial rows
    val parts = Seq(r1, r2).map(r =>
      new EmbeddedClickHouse(r).tableRowCount("main", "ev_agg").getOrElse(0L))
    assert(parts.forall(_ > 0L), s"both shards must fire locally: $parts")
    val agg = spark.table("chmvsh.main.ev_agg").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> (rs.map(_.getLong(1)).sum, rs.map(_.getLong(2)).sum) }
    val expect = (0L until 60L).groupBy(i => s"t${i % 3}")
      .map { case (k, is) => k -> (is.size.toLong, is.sum) }
    assert(agg == expect, s"$agg vs $expect")
  }
}
