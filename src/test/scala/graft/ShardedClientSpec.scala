package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.client.{EmbeddedClickHouse, MockClickHouseHttp}

/** The sharded composite client (ShardedClickHouseClient): N stores
  * behind one catalog — per-shard statement execution, union semantics,
  * hash-routed writes, broadcast DDL/mutations. The hermetic cluster is
  * two embedded stores (`path=a,b`); wire-level distribution is checked
  * against two in-JVM mock HTTP servers. Every whole-result operation
  * must either stay in Spark (no collapse, partial-aggregate pushdown,
  * retained sort/limit) or be rejected (OFFSET pushdown, misaligned
  * FINAL) — never silently wrong.
  */
class ShardedClientSpec extends AnyFunSuite {

  private lazy val rootA = Files.createTempDirectory("graft_shard_a_").toString
  private lazy val rootB = Files.createTempDirectory("graft_shard_b_").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("sharded-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // unique catalog name per suite (shared JVM session)
    s.conf.set("spark.sql.catalog.chshard", classOf[graft.catalog.ClickHouseCatalog].getName)
    s.conf.set("spark.sql.catalog.chshard.path", s"$rootA,$rootB")
    s.conf.set("spark.sql.catalog.chshard.shard_by", "k")
    s.conf.set("spark.sql.catalog.chshard.read.streams", "2")
    graft.GraftSession.install(s)
    s
  }

  private def seed(): Unit = synchronized {
    if (!new EmbeddedClickHouse(rootA).tableExists("main", "sh_events")) {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS chshard.main")
      spark.sql(
        """CREATE TABLE chshard.main.sh_events (k BIGINT, cat STRING, v DOUBLE)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      val rows = (1L to 200L).map(i => (i, s"c${i % 5}", i * 1.5))
      import spark.implicits._
      rows.toDF("k", "cat", "v").writeTo("chshard.main.sh_events").append()
    }
  }

  private def seedOrders(): Unit = synchronized {
    if (!new EmbeddedClickHouse(rootA).tableExists("main", "sh_orders")) {
      spark.sql(
        """CREATE TABLE chshard.main.sh_orders (k BIGINT, amt BIGINT)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      import spark.implicits._
      (1L to 600L).map(i => ((i % 200) + 1, i * 2))
        .toDF("k", "amt").writeTo("chshard.main.sh_orders").append()
    }
  }

  test("DDL broadcasts: the table exists on every shard") {
    seed()
    assert(new EmbeddedClickHouse(rootA).tableExists("main", "sh_events"))
    assert(new EmbeddedClickHouse(rootB).tableExists("main", "sh_events"))
  }

  test("hash-routed inserts land DISJOINT shard-local slices whose union " +
    "is exactly the input") {
    seed()
    val a = new EmbeddedClickHouse(rootA)
      .query("SELECT k FROM `main`.`sh_events`", 1)._2.flatten.map(_.getLong(0)).toSet
    val b = new EmbeddedClickHouse(rootB)
      .query("SELECT k FROM `main`.`sh_events`", 1)._2.flatten.map(_.getLong(0)).toSet
    assert(a.nonEmpty && b.nonEmpty, s"both shards must hold data: |a|=${a.size} |b|=${b.size}")
    assert(a.intersect(b).isEmpty, "shard slices must be disjoint")
    assert(a.union(b) == (1L to 200L).toSet)
    // catalog read = the union
    assert(spark.table("chshard.main.sh_events").count() == 200)
  }

  test("aggregate pushdown DOWNGRADES to partial on a sharded client: " +
    "per-shard rows merge in Spark's final aggregate, values exact") {
    seed()
    val df = spark.table("chshard.main.sh_events")
      .groupBy("cat")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"), max("k").as("mk"))
    // partial mode keeps a Spark-side Aggregate (complete mode removes it)
    assert(df.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
      "sharded aggregate pushdown must keep the merging Aggregate:\n" +
        df.queryExecution.optimizedPlan)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1)
    val want = (1L to 200L).map(i => (s"c${i % 5}", i))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, xs) =>
        (c, xs.size.toLong, xs.map(_._2 * 1.5).sum, xs.map(_._2).max)
      }
    assert(got.length == want.length)
    got.zip(want).foreach { case ((gc, gn, gs, gm), (wc, wn, ws, wm)) =>
      assert(gc == wc && gn == wn && gm == wm)
      assert(math.abs(gs - ws) < 1e-6)
    }
  }

  test("LIMIT pushes as a per-shard upper bound, Spark re-applies the " +
    "global limit; ORDER BY + LIMIT stays exact; OFFSET is never pushed") {
    seed()
    assert(spark.table("chshard.main.sh_events").limit(7).count() == 7)
    val top = spark.table("chshard.main.sh_events")
      .orderBy(desc("k")).limit(5).select("k").collect().map(_.getLong(0)).toSeq
    assert(top == (196L to 200L).reverse)
    val page = spark.sql(
      "SELECT k FROM chshard.main.sh_events ORDER BY k LIMIT 5 OFFSET 3")
      .collect().map(_.getLong(0)).toSeq
    assert(page == (4L to 8L), s"OFFSET must stay exact over shards, got $page")
    // paging still bounds the per-shard read: OFFSET itself never pushes
    // (each shard would skip its own m rows = s*m skipped globally), but
    // LIMIT (limit+offset) ships as the per-shard UPPER BOUND and Spark
    // keeps the global skip — each shard returns at most 8 rows instead
    // of its whole slice
    val paged = spark.sql(
      "SELECT k FROM chshard.main.sh_events ORDER BY k LIMIT 5 OFFSET 3")
    paged.collect()
    val scanSql = PlanAsserts.flatten(paged.queryExecution.executedPlan).collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }.getOrElse("")
    assert(scanSql.contains("LIMIT 8") && !scanSql.contains("OFFSET"),
      s"per-shard SQL must carry LIMIT limit+offset and no OFFSET: $scanSql")
  }

  test("runtime filter from a broadcast join narrows SHARDED remote scans: " +
    "the IN-list reaches every shard's statement") {
    seed()
    import spark.implicits._
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    try {
      // file-backed dim: a LocalRelation constant-folds its filter away
      // and PartitionPruning derives no runtime filter (same setup as
      // the single-store spec)
      val dimPath = rootA + "/rf_dims.parquet"
      Seq((7L, "keep"), (9L, "keep"), (500L, "drop"))
        .toDF("dk", "tag").write.mode("overwrite").parquet(dimPath)
      val dims = spark.read.parquet(dimPath).filter(col("tag") === "keep")
      val fact = spark.table("chshard.main.sh_events")
      val joined = fact.join(broadcast(dims), fact("k") === dims("dk"))
        .select(col("k"), col("v"), col("tag"))
      val rows = joined.collect()
      assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(7L, 9L))
      // the IN-list is row-local, so it pushes into the PER-SHARD scan
      // SQL — at 100 TB each shard reads only matching join keys
      val sqls = PlanAsserts.flatten(joined.queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.description()
      }
      assert(sqls.exists(s => s.contains("IN (") && s.contains("7")),
        s"runtime IN-filter must reach the sharded scan: ${sqls.mkString("; ")}")
    } finally {
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
    }
  }

  test("row-local clickhouse() expressions still ship per shard; " +
    "whole-result subtrees never collapse") {
    seed()
    import graft.chfunctions._
    val df = spark.table("chshard.main.sh_events")
      .filter(col("k") <= 10)
      .select(col("k"), clickhouse_fn("upper", Seq(col("cat")), "String").as("u"))
    val got = df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq == (1L to 10L).map(i => (i, s"C${i % 5}")))
    // a whole-result subtree (here: a window spanning all rows) is NOT
    // row-local — the rule must refuse to collapse it into per-shard SQL.
    // Collapsed per shard, rank() would emit two independent rankings
    // (duplicate rank 1s); computed in Spark over the union, ranks are
    // globally dense — the values prove where it ran.
    val win = spark.sql(
      """SELECT k, rank() OVER (ORDER BY k) AS r
        |FROM chshard.main.sh_events WHERE k <= 6""".stripMargin)
    val ranks = win.collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(ranks == (1L to 6L).map(i => (i, i.toInt)),
      s"window must run over the union of shards, got $ranks")
  }


  test("GROUP BY containing the routing key upgrades sharded aggregate " +
    "pushdown to COMPLETE: groups are shard-whole, no merging Aggregate") {
    seed()
    val df = spark.table("chshard.main.sh_events")
      .groupBy("k").agg(avg("v").as("av")) // avg: partial mode could never push it
    assert(!df.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
      "shard-key-grouped aggregate must push COMPLETE (no Spark aggregate):\n" +
        df.queryExecution.optimizedPlan)
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.length == 200)
    got.foreach { case (k, av) => assert(math.abs(av - k * 1.5) < 1e-9, s"k=$k av=$av") }
    // grouping by a NON-routing column must still downgrade to partial
    val part = spark.table("chshard.main.sh_events")
      .groupBy("cat").agg(sum("v").as("sv"))
    assert(part.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
      "non-key grouping must keep the merging Aggregate")
  }

  test("a join whose equi-condition carries shard_by on both sides " +
    "collapses shard-locally: one remote statement per shard, no join exec") {
    seed()
    if (!new EmbeddedClickHouse(rootA).tableExists("main", "sh_dim_j")) {
      spark.sql(
        """CREATE TABLE chshard.main.sh_dim_j (k BIGINT, label STRING)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      import spark.implicits._
      (1L to 200L).map(i => (i, s"lab$i")).toDF("k", "label")
        .writeTo("chshard.main.sh_dim_j").append()
    }
    import graft.chfunctions._
    val ev = spark.table("chshard.main.sh_events").as("e")
    val dm = spark.table("chshard.main.sh_dim_j").as("d")
    val j = ev.join(dm, col("e.k") === col("d.k"))
      .select(col("e.k").as("k"),
        clickhouse_fn("upper", Seq(col("d.label")), "String").as("u"))
    val all = PlanAsserts.flatten(j.queryExecution.executedPlan)
    assert(all.exists(_.isInstanceOf[graft.pushdown.ClickHouseRemoteExec]),
      s"keyed join must collapse into the remote node:\n${all.head}")
    assert(!all.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      s"no Spark-side join may remain:\n${all.head}")
    val got = j.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq == (1L to 200L).map(i => (i, s"LAB$i")))
  }

  test("a window PARTITIONED BY the routing key collapses shard-locally; " +
    "INTERSECT on key-bearing rows distributes too") {
    seed()
    import graft.chfunctions._
    // rank() within each k-partition: every partition is shard-whole
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("v"))
    val df = spark.table("chshard.main.sh_events")
      .select(col("k"), col("cat"),
        clickhouse_fn("upper", Seq(col("cat")), "String").as("u"),
        org.apache.spark.sql.functions.rank().over(w).as("rnk"))
    val all = PlanAsserts.flatten(df.queryExecution.executedPlan)
    assert(all.exists(_.isInstanceOf[graft.pushdown.ClickHouseRemoteExec]),
      s"key-partitioned window must collapse:\n${all.head}")
    assert(!all.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      s"no Spark-side window may remain:\n${all.head}")
    val got = df.collect().map(r => (r.getLong(0), r.getInt(3)))
    assert(got.length == 200 && got.forall(_._2 == 1)) // one row per k
    // INTERSECT rewrites to a null-safe semi join on all columns incl.
    // the routing key — distributes per shard (values prove correctness
    // either way; the executed shape is covered by the join/window
    // asserts above, so just pin semantics here)
    val i = spark.sql(
      """SELECT k FROM chshard.main.sh_events WHERE k <= 120
        |INTERSECT
        |SELECT k FROM chshard.main.sh_events WHERE k >= 100""".stripMargin)
    assert(i.collect().map(_.getLong(0)).sorted.toSeq == (100L to 120L))
  }

  test("a small-dim join on a NON-routing column collapses as a GLOBAL " +
    "broadcast (dim inlined per shard — cross-shard pairs PRESERVED); " +
    "with broadcasts disabled it stays in Spark") {
    seed()
    import graft.chfunctions._
    val ev = spark.table("chshard.main.sh_events").as("e")
    val dm = spark.table("chshard.main.sh_events").as("d")
    // cat = cat matches across shards — a naive per-shard collapse would
    // LOSE cross-shard pairs; the GLOBAL shape inlines the full dim in
    // every shard's statement, so the count over 5 cats x 40 rows each
    // (squared per cat) proves no pair was lost
    val j = ev.join(dm, col("e.cat") === col("d.cat"))
      .select(col("e.k"), clickhouse_fn("upper", Seq(col("d.cat")), "String").as("u"))
    val all = PlanAsserts.flatten(j.queryExecution.executedPlan)
    val remotes = all.collect { case r: graft.pushdown.ClickHouseRemoteExec => r }
    assert(remotes.nonEmpty && remotes.head.sql.contains("UNION ALL"),
      s"GLOBAL collapse must inline the dim:\n${all.head}")
    assert(!all.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      s"GLOBAL collapse leaves no Spark join:\n${all.head}")
    assert(j.count() == 5 * 40L * 40L)
    // the off-switch: autoBroadcastJoinThreshold <= 0 disables GLOBAL
    // exactly like Spark's own broadcasts — the join stays in Spark
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j2 = ev.join(dm, col("e.cat") === col("d.cat"))
        .select(col("e.k"), clickhouse_fn("upper", Seq(col("d.cat")), "String").as("u"))
      val all2 = PlanAsserts.flatten(j2.queryExecution.executedPlan)
      assert(all2.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
        s"disabled broadcasts must keep the join in Spark:\n${all2.head}")
      assert(j2.count() == 5 * 40L * 40L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a routing-KEYED as-of join collapses shard-locally as ASOF LEFT " +
    "JOIN (equal keys co-reside, so every candidate match is on the probe " +
    "row's own shard); results match the local composition") {
    seed()
    if (!new EmbeddedClickHouse(rootA).tableExists("main", "sh_asof_l")) {
      spark.sql(
        """CREATE TABLE chshard.main.sh_asof_l (k BIGINT, ts BIGINT, v BIGINT)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      spark.sql(
        """CREATE TABLE chshard.main.sh_asof_r
          |(k BIGINT, qts BIGINT, seq BIGINT, price BIGINT)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      import spark.implicits._
      (for (k <- 1L to 12L; i <- 0L to 6L) yield (k, i * 10L, k * 100L + i))
        .toDF("k", "ts", "v").writeTo("chshard.main.sh_asof_l").append()
      (for (k <- 1L to 10L; q <- 0L to 3L) yield
        (k, q * 17L + 3L, q, k * 1000L + q))
        .toDF("k", "qts", "seq", "price")
        .writeTo("chshard.main.sh_asof_r").append()
    }
    val l = spark.table("chshard.main.sh_asof_l")
    val rr = spark.table("chshard.main.sh_asof_r")
    val planned = graft.ops.AsOfJoin.asofJoinPlanned(
      l, rr, "k", "ts", "qts", "seq", Seq("price"))
    val all = PlanAsserts.flatten(planned.queryExecution.executedPlan)
    val remotes = all.collect { case r: graft.pushdown.ClickHouseRemoteExec => r }
    assert(remotes.size == 1 && remotes.head.sql.contains("ASOF LEFT JOIN"),
      s"keyed as-of must collapse per shard:\n${all.head}")
    assert(!all.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BaseJoinExec]), s"${all.head}")
    val local = graft.ops.AsOfJoin.asofJoin(
      l, rr, "k", "ts", "qts", "seq", Seq("price"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(canon(planned) == canon(local))
  }

  test("GLOBAL broadcast covers every preserved-side-distributed join " +
    "orientation (inner both ways, left/right outer, semi, anti) with " +
    "values matching a local recompute; FULL OUTER never collapses") {
    seed()
    if (!new EmbeddedClickHouse(rootA).tableExists("main", "sh_gdim")) {
      // the catalog routes by k, so the dim carries one too (its VALUES
      // spread the dim across shards — exactly the state GLOBAL must
      // reassemble); the join key stays the non-routing dcat
      spark.sql(
        """CREATE TABLE chshard.main.sh_gdim (k BIGINT, dcat STRING, dlabel STRING)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'dcat')""".stripMargin)
      import spark.implicits._
      // only c0..c2 present: c3/c4 facts are unmatched (outer/anti food)
      Seq((1L, "c0", "zero"), (2L, "c1", "one"), (3L, "c2", "two"))
        .toDF("k", "dcat", "dlabel").writeTo("chshard.main.sh_gdim").append()
    }
    val ev = spark.table("chshard.main.sh_events")
    // project away the routing column: the dim side the join consumes is
    // (dcat, dlabel) — a row-local projection is still GLOBAL-eligible
    val dm = spark.table("chshard.main.sh_gdim").select("dcat", "dlabel")
    import spark.implicits._
    val evLocal = (1L to 200L).map(i => (i, s"c${i % 5}", i * 1.5))
      .toDF("k", "cat", "v")
    val dmLocal = Seq(("c0", "zero"), ("c1", "one"), ("c2", "two"))
      .toDF("dcat", "dlabel")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    def globalCollapsed(df: org.apache.spark.sql.DataFrame): Boolean = {
      val all = PlanAsserts.flatten(df.queryExecution.executedPlan)
      !all.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]) &&
        all.collect { case r: graft.pushdown.ClickHouseRemoteExec => r }
          .exists(_.sql.contains("UNION ALL"))
    }
    for (jt <- Seq("inner", "left", "left_semi", "left_anti")) {
      val remote = ev.join(dm, col("cat") === col("dcat"), jt)
      val local = evLocal.join(dmLocal, col("cat") === col("dcat"), jt)
      assert(globalCollapsed(remote), s"$jt (fact, dim) must collapse GLOBAL")
      assert(canon(remote) == canon(local), s"$jt values diverged")
    }
    // dim on the LEFT: inner flips orientation, right outer preserves the
    // fact — both still GLOBAL; LEFT OUTER with dim on the left is
    // DIM-preserving (unmatched dim rows would duplicate per shard) and
    // must stay in Spark
    for (jt <- Seq("inner", "right")) {
      val remote = dm.join(ev, col("dcat") === col("cat"), jt)
      val local = dmLocal.join(evLocal, col("dcat") === col("cat"), jt)
      assert(globalCollapsed(remote), s"$jt (dim, fact) must collapse GLOBAL")
      assert(canon(remote) == canon(local), s"$jt (dim left) values diverged")
    }
    // LEFT OUTER with the small table preserved: the rule's orientation
    // logic makes the PRESERVED side the distributed one and broadcasts
    // the OTHER side — here that means broadcasting the (test-small)
    // fact table, which is legal and exact: every preserved row is
    // matched-or-padded on its own shard, union = whole result. At real
    // scale the fact side would blow the threshold and the join would
    // stay in Spark (the fact x fact negative below pins that).
    val dimLeft = dm.join(ev, col("dcat") === col("cat"), "left")
    assert(canon(dimLeft) ==
      canon(dmLocal.join(evLocal, col("dcat") === col("cat"), "left")))
    // FULL OUTER pads both sides: never GLOBAL, always Spark
    val full = dm.join(ev, col("dcat") === col("cat"), "full")
    assert(!globalCollapsed(full), "FULL OUTER must stay in Spark")
    assert(canon(full) ==
      canon(dmLocal.join(evLocal, col("dcat") === col("cat"), "full")))
  }

  test("GLOBAL dim materialization memoizes per (connection, data " +
    "version, canonical statement): re-planning the same join — even " +
    "from a REBUILT DataFrame with fresh exprIds — re-probes zero " +
    "times; a dim mutation bumps the version token and re-probes") {
    seed()
    if (!new EmbeddedClickHouse(rootA).tableExists("main", "sh_gdim_memo")) {
      spark.sql(
        """CREATE TABLE chshard.main.sh_gdim_memo
          |(k BIGINT, dcat STRING, dlabel STRING)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'dcat')""".stripMargin)
      import spark.implicits._
      Seq((1L, "c0", "zero"), (2L, "c1", "one"), (3L, "c2", "two"))
        .toDF("k", "dcat", "dlabel").writeTo("chshard.main.sh_gdim_memo").append()
    }
    import graft.pushdown.ClickHouseFunctionPushdown.globalDimProbes
    // a fresh plan each call: spark.table mints new AttributeReferences,
    // so the memo key must survive exprId churn (alpha renaming)
    def planJoin() = spark.table("chshard.main.sh_events")
      .join(spark.table("chshard.main.sh_gdim_memo").select("dcat", "dlabel"),
        col("cat") === col("dcat"), "inner")
    val t0 = globalDimProbes.get
    val first = planJoin().collect()
    assert(first.nonEmpty)
    val t1 = globalDimProbes.get
    assert(t1 > t0, "first planning must probe the store")
    val second = planJoin().collect()
    assert(second.length == first.length)
    assert(globalDimProbes.get == t1,
      "re-planning the same join must reuse the memoized dim (zero probes)")
    // mutate the dim: the store version token changes, the memo entry is
    // dead, and the NEW row must be visible (staleness is detectable)
    spark.sql(
      "INSERT INTO chshard.main.sh_gdim_memo VALUES (4, 'c3', 'three')")
    val third = planJoin().collect()
    assert(globalDimProbes.get > t1, "a dim mutation must re-probe")
    assert(third.length > first.length,
      "rows joining the newly inserted dim value must appear")
  }

  test("fact x fact on a non-routing column stays in Spark: neither side " +
    "fits the broadcast threshold, so no GLOBAL collapse") {
    seed(); seedOrders()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // shrink the threshold below either table's stats: both sides are
      // facts now, and shipping one per shard would be the 100 TB
      // catastrophe the cap exists to prevent
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64")
      val ev = spark.table("chshard.main.sh_events").as("e")
      val or2 = spark.table("chshard.main.sh_orders").as("o")
      val j = ev.join(or2, col("e.cat") === concat(lit("c"), (col("o.amt") % 5)))
        .select(col("e.k"), col("o.amt"))
      val all = PlanAsserts.flatten(j.queryExecution.executedPlan)
      assert(all.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
        s"fact x fact must stay in Spark:\n${all.head}")
      assert(!all.collect { case r: graft.pushdown.ClickHouseRemoteExec => r }
        .exists(_.sql.contains("UNION ALL")), "no inline dim may ship")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a cross-TYPE key equality never takes the CO-LOCATED collapse: " +
    "the placement hash is the JVM value hash, so Int-vs-Long equality " +
    "proves nothing — only the placement-free GLOBAL broadcast may fire") {
    seed()
    if (!new EmbeddedClickHouse(rootA).tableExists("main", "sh_dim_int")) {
      // same key VALUES but a 32-bit column: routed by Integer.hashCode
      spark.sql(
        """CREATE TABLE chshard.main.sh_dim_int (k INT, tag STRING)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      import spark.implicits._
      (1 to 200).map(i => (i, s"t$i")).toDF("k", "tag")
        .writeTo("chshard.main.sh_dim_int").append()
    }
    import graft.chfunctions._
    val l = spark.table("chshard.main.sh_events").as("l")
    val r2 = spark.table("chshard.main.sh_dim_int").as("r")
    def shape() = {
      val j = l.join(r2, col("l.k") === col("r.k").cast("bigint"))
        .select(col("l.k"), clickhouse_fn("upper", Seq(col("r.tag")), "String").as("u"))
      (j, PlanAsserts.flatten(j.queryExecution.executedPlan))
    }
    val (j, all) = shape()
    // co-located collapse would be a single remote join WITHOUT an inline
    // dim; GLOBAL (placement-free, hence legal) inlines the dim rows
    all.collect { case r: graft.pushdown.ClickHouseRemoteExec => r }.foreach { r =>
      if (r.sql.toUpperCase.contains(" JOIN "))
        assert(r.sql.contains("UNION ALL"),
          s"a collapsed cross-type join must be the GLOBAL shape: ${r.sql}")
    }
    assert(j.count() == 200)
    // with broadcasts off, nothing may collapse the join at all
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (j2, all2) = shape()
      assert(all2.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
        s"cross-type key join must stay in Spark without broadcasts:\n${all2.head}")
      assert(j2.count() == 200)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("two catalogs over the SAME roots with different shard_by never " +
    "share a collapse domain (routing is part of connection identity)") {
    seed()
    spark.conf.set("spark.sql.catalog.chshardalt",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.chshardalt.path", s"$rootA,$rootB")
    spark.conf.set("spark.sql.catalog.chshardalt.shard_by", "cat")
    import graft.chfunctions._
    val l = spark.table("chshard.main.sh_events").as("l")
    val r2 = spark.table("chshardalt.main.sh_events").as("r")
    // l.k = r.k IS k's routing on the left, but the right catalog
    // DECLARES cat-routing — placement is unprovable, so the join must
    // stay in Spark (a collapse would trust a lie)
    val j = l.join(r2, col("l.k") === col("r.k"))
      .select(col("l.k"),
        clickhouse_fn("upper", Seq(col("r.cat")), "String").as("u"))
    val all = PlanAsserts.flatten(j.queryExecution.executedPlan)
    assert(all.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      s"mismatched shard_by must keep the join in Spark:\n${all.head}")
    assert(j.count() == 200)
  }

  test("FINAL is rejected unless shard_by aligns with the ORDER BY key; " +
    "aligned FINAL dedups exactly") {
    seed()
    spark.sql("DROP TABLE IF EXISTS chshard.main.sh_dim")
    spark.sql(
      """CREATE TABLE chshard.main.sh_dim (k BIGINT, v STRING, ver INT)
        |TBLPROPERTIES ('engine' = 'ReplacingMergeTree(ver)', 'order_by' = 'k')""".stripMargin)
    import spark.implicits._
    (1L to 20L).map(i => (i, s"v1_$i", 1)).toDF("k", "v", "ver")
      .writeTo("chshard.main.sh_dim").append()
    (1L to 10L).map(i => (i, s"v2_$i", 2)).toDF("k", "v", "ver")
      .writeTo("chshard.main.sh_dim").append()
    val fin = spark.read.option("final", "true").table("chshard.main.sh_dim")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(fin.length == 20)
    assert(fin.take(10).forall { case (k, v) => v == s"v2_$k" })
    assert(fin.drop(10).forall { case (k, v) => v == s"v1_$k" })
    // misaligned: a ReplacingMergeTree keyed by something other than the
    // routing column → versions of one key may split across shards
    spark.sql("DROP TABLE IF EXISTS chshard.main.sh_dim2")
    spark.sql(
      """CREATE TABLE chshard.main.sh_dim2 (id BIGINT, k BIGINT, ver INT)
        |TBLPROPERTIES ('engine' = 'ReplacingMergeTree(ver)', 'order_by' = 'id')""".stripMargin)
    (1L to 5L).map(i => (i, i, 1)).toDF("id", "k", "ver")
      .writeTo("chshard.main.sh_dim2").append()
    val bad = intercept[Exception] {
      spark.read.option("final", "true").table("chshard.main.sh_dim2").collect()
    }
    assert(bad.getMessage.contains("shard"), bad.getMessage)
  }

  test("mutations broadcast: DELETE/UPDATE apply on every shard") {
    seed()
    spark.sql("DROP TABLE IF EXISTS chshard.main.sh_mut")
    spark.sql(
      """CREATE TABLE chshard.main.sh_mut (k BIGINT, v DOUBLE)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
    import spark.implicits._
    (1L to 50L).map(i => (i, i.toDouble)).toDF("k", "v")
      .writeTo("chshard.main.sh_mut").append()
    spark.sql("DELETE FROM chshard.main.sh_mut WHERE k > 40")
    assert(spark.table("chshard.main.sh_mut").count() == 40)
    graft.connector.ChMutations.updateWhere(
      spark, "chshard.main.sh_mut", Seq("v" -> "v + 1000"), "k <= 10")
    val bumped = spark.table("chshard.main.sh_mut")
      .filter(col("v") >= 1000).count()
    assert(bumped == 10)
  }

  test("sharded streaming epochs CONVERGE: replay never duplicates, and " +
    "a crash that published only one shard repairs on the next attempt") {
    seed() // the embedded store executes on the suite's Spark session
    val ra = Files.createTempDirectory("graft_ep_a_").toString
    val rb = Files.createTempDirectory("graft_ep_b_").toString
    val client = new graft.client.ShardedClickHouseClient(
      IndexedSeq(new EmbeddedClickHouse(ra), new EmbeddedClickHouse(rb)),
      shardBy = Some("k"))
    client.createDatabase("main")
    client.createTable("main", "ep_t",
      Seq("k" -> "Int64", "v" -> "Float64"),
      Map("engine" -> "MergeTree", "order_by" -> "k"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    def stage(id: String, lo: Long, hi: Long): Unit =
      client.stageInsert("main", "ep_t", schema,
        (lo to hi).map(i => Row(i, i * 0.5)), id)
    def count(): Long = client.query(
      "SELECT count(*) AS n FROM `main`.`ep_t`", 1)._2.flatten.map(_.getLong(0)).sum
    // epoch 1: normal publish, rows land exactly once across both shards
    stage("s1", 1, 100)
    client.commitEpochStaged("main", "ep_t", "ep1", Seq("s1"))
    assert(count() == 100)
    // epoch 1 REPLAYED (driver died after commit, before checkpoint):
    // the micro-batch re-stages under a fresh id; both shards hold the
    // marker, so every re-staged slice aborts — no duplicates
    stage("s2", 1, 100)
    client.commitEpochStaged("main", "ep_t", "ep1", Seq("s2"))
    assert(count() == 100, "replayed epoch must not duplicate")
    // epoch 2, PARTIAL crash: shard B published its slice and marked,
    // shard A crashed before publishing. The replay re-stages everything
    // and commits with only ITS OWN staging id (the crashed attempt's
    // ids are debris): shard B aborts the re-stage, shard A publishes —
    // the epoch lands exactly once overall
    stage("s3", 101, 200)
    client.shards(1).commitEpochStaged("main", "ep_t", "ep2", Seq("s3"))
    stage("s4", 101, 200)
    client.commitEpochStaged("main", "ep_t", "ep2", Seq("s4"))
    assert(count() == 200,
      "partial-crash replay must repair to exactly-once: " + count())
  }

  test("epoch-convergence FUZZ: 50 seeded crash schedules (partial stage, " +
    "stage-without-commit, partial-commit shard subsets, repeated replays) " +
    "all converge to exactly-once") {
    seed() // embedded stores execute on the suite's Spark session
    val rowsPerEpoch = 60L
    val epochs = 5
    for (seed <- 1 to 50) {
      val rnd = new scala.util.Random(seed)
      val ra = Files.createTempDirectory(s"graft_fz_a_").toString
      val rb = Files.createTempDirectory(s"graft_fz_b_").toString
      val client = new graft.client.ShardedClickHouseClient(
        IndexedSeq(new EmbeddedClickHouse(ra), new EmbeddedClickHouse(rb)),
        shardBy = Some("k"))
      client.createDatabase("main")
      client.createTable("main", "fz_t",
        Seq("k" -> "Int64", "v" -> "Int64"),
        Map("engine" -> "MergeTree", "order_by" -> "k"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType, nullable = false)))
      for (ep <- 0 until epochs) {
        val lo = ep * rowsPerEpoch + 1
        val hi = (ep + 1) * rowsPerEpoch
        val all = (lo to hi).map(i => Row(i, i * 3))
        var attempt = 0
        var committed = false
        while (!committed) {
          val id = s"fz$seed-$ep-$attempt"
          attempt += 1
          require(attempt < 50, "fuzz schedule failed to converge")
          rnd.nextInt(4) match {
            case 0 => // crash mid-staging: a row subset landed, id = debris
              client.stageInsert("main", "fz_t", schema,
                all.take(1 + rnd.nextInt(all.size)), id)
            case 1 => // crash after staging, before any commit
              client.stageInsert("main", "fz_t", schema, all, id)
            case 2 => // crash mid-commit: a random shard subset committed
              client.stageInsert("main", "fz_t", schema, all, id)
              val sub = client.shards.zipWithIndex.filter(_ => rnd.nextBoolean())
              sub.foreach { case (s, _) =>
                s.commitEpochStaged("main", "fz_t", s"ep$ep", Seq(id))
              }
            case _ => // clean attempt: stage everything, commit everywhere
              client.stageInsert("main", "fz_t", schema, all, id)
              client.commitEpochStaged("main", "fz_t", s"ep$ep", Seq(id))
              committed = true
          }
        }
      }
      // terminal state: every epoch's rows exactly once, values intact
      val rows = client.query(
        "SELECT k, v FROM `main`.`fz_t`", 1)._2.flatten
      val ks = rows.map(_.getLong(0)).sorted
      assert(ks == (1L to epochs * rowsPerEpoch),
        s"seed $seed: expected exactly-once rows, got ${ks.size}")
      assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 3),
        s"seed $seed: row values corrupted")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ra))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(rb))
    }
  }

  test("streaming writes into a sharded catalog REQUIRE shard_by: " +
    "round-robin placement is not replay-deterministic, rejected at sink " +
    "creation") {
    seed()
    val rc = Files.createTempDirectory("graft_norr_a_").toString
    val rd = Files.createTempDirectory("graft_norr_b_").toString
    spark.conf.set("spark.sql.catalog.chnorr",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.chnorr.path", s"$rc,$rd")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS chnorr.main")
    spark.sql(
      """CREATE TABLE chnorr.main.rr_sink (k BIGINT, v DOUBLE)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
    import spark.implicits._
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)](spark)
    src.addData((1L, 0.5))
    val e = intercept[Exception] {
      val q = src.toDF().toDF("k", "v").writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("graft_norr_ck_").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("chnorr.main.rr_sink")
      q.awaitTermination(30000)
      throw new IllegalStateException(
        "round-robin streaming sink must have been rejected")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("shard_by")), msgs(e).mkString(" | "))
    // the same rows through a shard_by-declaring catalog still stream fine
    // (r44 covers the positive path end-to-end at gate scale)
  }

  test("streaming cursor reads fold min/max ACROSS shards: an " +
    "AvailableNow drain sees every shard's rows exactly once") {
    seed()
    val q = spark.readStream
      .option("stream_cursor", "k")
      .table("chshard.main.sh_events")
      .writeStream
      .format("memory")
      .queryName("sh_stream_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_shard_ckpt_").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("sh_stream_out").select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1L to 200L),
      s"drain must cover both shards without dupes, got ${got.size} rows")
  }

  test("bucket-keyed sharded reads union every shard's bucket slice: " +
    "storage-partitioned join over a sharded cluster, zero exchange") {
    seed()
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // a second sharded catalog (distinct roots + connection key) for the
    // right side: cross-connection joins never collapse, so the plan
    // must go through the bucket co-partitioning
    val rootC = Files.createTempDirectory("graft_shard_c_").toString
    val rootD = Files.createTempDirectory("graft_shard_d_").toString
    spark.conf.set("spark.sql.catalog.chshard2",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.chshard2.path", s"$rootC,$rootD")
    spark.conf.set("spark.sql.catalog.chshard2.shard_by", "k")
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS chshard2.main")
      spark.sql(
        """CREATE TABLE chshard2.main.sh_dim_r (k BIGINT, label STRING)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      import spark.implicits._
      (1L to 200L).map(i => (i, s"lab$i")).toDF("k", "label")
        .writeTo("chshard2.main.sh_dim_r").append()
      def bucketed(cat: String, t: String) = spark.read
        .option("bucket_by", "k").option("buckets", "4").table(s"$cat.main.$t")
      val l = bucketed("chshard", "sh_events").select(col("k"), col("v"))
      val rt = bucketed("chshard2", "sh_dim_r")
        .select(col("k").as("rk"), col("label"))
      val joined = l.join(rt, col("k") === col("rk")).select("k", "v", "label")
      val got = joined.collect().map(r => (r.getLong(0), r.getString(2))).toSet
      assert(got == (1L to 200L).map(i => (i, s"lab$i")).toSet)
      val all = PlanAsserts.flatten(joined.queryExecution.executedPlan)
      assert(all.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]))
      assert(!all.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
        s"sharded bucketed join must be exchange-free:\n${all.head}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("placement-unstable shard_by types are rejected at routing time " +
    "(0.0 and -0.0 compare equal but hash to different shards)") {
    val client = new graft.client.ShardedClickHouseClient(
      IndexedSeq(new EmbeddedClickHouse(rootA), new EmbeddedClickHouse(rootB)),
      shardBy = Some("d"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val e = intercept[IllegalArgumentException] {
      client.insert("main", "whatever", schema, Seq(Row(0.0), Row(-0.0)))
    }
    assert(e.getMessage.contains("placement-stable"), e.getMessage)
  }

  test("load_balancing on a MIXED endpoint (one shard without replicas) " +
    "is rejected — a single-replica shard would silently ignore it") {
    val m = new MockClickHouseHttp
    try {
      val e = intercept[IllegalArgumentException] {
        new graft.catalog.ClickHouseCatalog().initialize("chmixedlb",
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
            "endpoint", s"${m.endpoint},${m.endpoint}|${m.endpoint}",
            "load_balancing", "random")))
      }
      assert(e.getMessage.contains("EVERY"), e.getMessage)
    } finally m.close()
  }

  test("shard_by on a single-store catalog is rejected, not silently inert") {
    val e = intercept[IllegalArgumentException] {
      new graft.catalog.ClickHouseCatalog().initialize("badshard",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "path", rootA, "shard_by", "k")))
    }
    assert(e.getMessage.contains("shard_by"))
  }

  test("HTTP sharded reads: per-shard RowBinary streams route to the " +
    "right server and union") {
    val s1 = new MockClickHouseHttp
    val s2 = new MockClickHouseHttp
    s1.wireReadRows = 100
    s2.wireReadRows = 40
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chhttp2r",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${s1.endpoint},${s2.endpoint}")))
      val client = cat.clickHouseClient
      val (schema, handles) = client.planQuery(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", 2)
      assert(schema.fieldNames.toSeq == Seq("id", "v", "tag"))
      assert(handles.size == 2)
      val counts = handles.map(h => client.readPartition(h).size)
      // each handle drained ITS shard's rows — routing, not duplication
      assert(counts.sorted == Seq(40, 100), s"per-shard counts: $counts")
    } finally { s1.close(); s2.close() }
  }

  test("a dead shard fails the read LOUDLY — never a silent partial result") {
    val s1 = new MockClickHouseHttp
    val s2 = new MockClickHouseHttp
    s1.wireReadRows = 50
    s2.wireReadRows = 50
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chhttp2dead",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${s1.endpoint},${s2.endpoint}")))
      val client = cat.clickHouseClient
      val (_, handles) = client.planQuery(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", 2)
      s2.close() // shard 1 dies between planning and execution
      val counts = handles.map { h =>
        try Right(client.readPartition(h).size)
        catch { case e: Exception => Left(e) }
      }
      assert(counts.count(_.isRight) == 1, s"only the live shard may serve: $counts")
      assert(counts.count(_.isLeft) == 1,
        "the dead shard's partition must throw — a swallowed error would " +
          "surface as a silently-partial result set")
    } finally { s1.close() }
  }

  test("replica failover: reads move to a live replica when the sticky " +
    "one dies; DDL broadcasts; writes pin to the primary") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 30
    r2.wireReadRows = 30
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chrep",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
      val client = cat.clickHouseClient
      assert(client.isInstanceOf[graft.client.FailoverClickHouseClient])
      assert(client.singleExecutionDomain, "a replica set is ONE domain")
      // DDL broadcasts: both replicas learn the table
      client.createTable("bench", "rep_t",
        Seq("id" -> "Int64", "v" -> "Float64"),
        Map("engine" -> "MergeTree", "order_by" -> "id"))
      Seq(r1, r2).foreach { m =>
        val one = new graft.client.HttpClickHouseClient(m.endpoint)
        assert(one.fetchColumns("bench", "rep_t").map(_._1) == Seq("id", "v"),
          s"replica at ${m.endpoint} must have the broadcast table")
      }
      // writes pin to the primary (replica 0) — nothing sprays
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
      val n = client.insert("bench", "rep_t", schema,
        (1L to 50L).map(i => Row(i, i * 0.5)))
      assert(n == 50)
      assert(r1.rowsReceived.get() == 50 && r2.rowsReceived.get() == 0,
        s"writes must pin to the primary: ${r1.rowsReceived.get()} / ${r2.rowsReceived.get()}")
      // reads prefer the primary...
      val (_, h1) = client.planQuery(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", 1)
      assert(client.readPartition(h1.head).size == 30)
      // ...and fail over when it dies — same statement, replica 2 serves
      r1.close()
      val (_, h2) = client.planQuery(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", 1)
      assert(client.readPartition(h2.head).size == 30,
        "failover read must stream from the surviving replica")
      // with every replica dead, the failure is LOUD and names the set
      r2.close()
      val e = intercept[java.io.IOException] {
        client.planQuery("SELECT `id` FROM `bench`.`wire_read`", 1)
      }
      assert(e.getMessage.contains("replicas failed"), e.getMessage)
    } finally { r1.close(); r2.close() }
  }

  test("shard-with-replicas composition: 'a|b,c' fails over inside shard " +
    "0 while the union across shards stays exact") {
    val a = new MockClickHouseHttp; val b = new MockClickHouseHttp
    val c = new MockClickHouseHttp
    a.wireReadRows = 20; b.wireReadRows = 20; c.wireReadRows = 7
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chrepsh",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${a.endpoint}|${b.endpoint},${c.endpoint}")))
      val client = cat.clickHouseClient
      assert(!client.singleExecutionDomain, "two shards = sharded semantics")
      a.close() // shard 0's preferred replica dies before planning
      val (_, handles) = client.planQuery(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", 2)
      val counts = handles.map(h => client.readPartition(h).size).sorted
      assert(counts == Seq(7, 20),
        s"shard 0 must serve from replica b, shard 1 from c: $counts")
    } finally { a.close(); b.close(); c.close() }
  }

  test("bucketed reads compose with replica failover: bucket slices plan " +
    "on the surviving replica and union to the full table") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 32; r2.wireReadRows = 32
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chrepbk",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
      val client = cat.clickHouseClient
      r1.close() // the preferred replica dies before planning
      val planned = client.planQueryBuckets(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", "id", 4)
      assert(planned.isDefined, "replica set must keep its bucket family")
      val (_, hs) = planned.get
      assert(hs.size == 4)
      // every slice is replica-tagged to the SURVIVING replica and reads
      // through it (the predicate fidelity of cityHash64 slicing itself
      // is pinned by HttpClientSpec's filtering mock — this mock streams
      // unfiltered, so only routing is asserted here)
      hs.foreach { h =>
        val rh = h.asInstanceOf[graft.client.ReplicaHandle]
        assert(rh.replica == 1, s"slice must plan on the live replica: $rh")
        assert(client.readPartition(h).nonEmpty)
      }
    } finally { r1.close(); r2.close() }
  }

  test("load_balancing=random spreads reads across replicas; the option " +
    "is rejected wherever there are no replicas to balance") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 5; r2.wireReadRows = 5
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chreplb",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${r1.endpoint}|${r2.endpoint}",
          "load_balancing", "random")))
      val client = cat.clickHouseClient
      val served = (1 to 40).map { _ =>
        val (_, hs) = client.planQuery(
          "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", 1)
        hs.head.asInstanceOf[graft.client.ReplicaHandle].replica
      }.toSet
      assert(served == Set(0, 1),
        s"random balancing must reach both replicas over 40 statements: $served")
      // no replicas → nothing to balance → rejected, not inert
      val e1 = intercept[IllegalArgumentException] {
        new graft.catalog.ClickHouseCatalog().initialize("chreplb2",
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
            "endpoint", r1.endpoint, "load_balancing", "random")))
      }
      assert(e1.getMessage.contains("load_balancing"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        new graft.catalog.ClickHouseCatalog().initialize("chreplb3",
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
            "path", rootA, "load_balancing", "random")))
      }
      assert(e2.getMessage.contains("load_balancing"), e2.getMessage)
      val e3 = intercept[IllegalArgumentException] {
        new graft.client.FailoverClickHouseClient(
          IndexedSeq(new graft.client.HttpClickHouseClient(r1.endpoint),
            new graft.client.HttpClickHouseClient(r2.endpoint)), "fastest")
      }
      assert(e3.getMessage.contains("load_balancing"), e3.getMessage)
    } finally { r1.close(); r2.close() }
  }

  test("replica syntax in an embedded 'path' is rejected — two roots " +
    "cannot replicate each other") {
    val e = intercept[IllegalArgumentException] {
      new graft.catalog.ClickHouseCatalog().initialize("badrep",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "path", s"$rootA|$rootB")))
    }
    assert(e.getMessage.contains("replica"), e.getMessage)
  }

  test("HTTP transport shards too: comma-separated endpoints distribute " +
    "wire inserts across both servers") {
    val s1 = new MockClickHouseHttp
    val s2 = new MockClickHouseHttp
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chhttp2",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${s1.endpoint},${s2.endpoint}", "shard_by", "id")))
      val client = cat.clickHouseClient
      client.createTable("bench", "sharded_wire",
        Seq("id" -> "Int64", "v" -> "Float64"),
        Map("engine" -> "MergeTree", "order_by" -> "id"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
      val n = client.insert("bench", "sharded_wire", schema,
        (1L to 100L).map(i => Row(i, i * 0.5)))
      assert(n == 100)
      assert(s1.rowsReceived.get() > 0 && s2.rowsReceived.get() > 0,
        s"both wire shards must receive rows: ${s1.rowsReceived.get()} / ${s2.rowsReceived.get()}")
      assert(s1.rowsReceived.get() + s2.rowsReceived.get() == 100)
    } finally { s1.close(); s2.close() }
  }

  test("concurrent per-shard dispatch is DETERMINISTIC: repeated collapsed " +
    "join+agg and keyed-agg runs bit-match ground truth, serial and under " +
    "cross-query concurrency") {
    seed(); seedOrders()
    import spark.implicits._
    // ground truth from the generator tuples — integer aggregates only,
    // so equality is EXACT (bit-compare, no float summation order noise)
    val evRaw = (1L to 200L).map(i => (i, s"c${i % 5}", i * 1.5)).toDF("k", "cat", "v")
    val ordRaw = (1L to 600L).map(i => ((i % 200) + 1, i * 2)).toDF("k", "amt")
    def joinShape(): Seq[Row] = {
      val e = spark.table("chshard.main.sh_events").as("e")
      val o = spark.table("chshard.main.sh_orders").as("o")
      e.join(o, col("e.k") === col("o.k"))
        .groupBy(col("e.k")).agg(count(lit(1)).as("n"), sum(col("o.amt")).as("s"))
        .collect().toSeq.sortBy(_.getLong(0))
    }
    def aggShape(): Seq[Row] = spark.table("chshard.main.sh_events")
      .groupBy("k").agg(count(lit(1)).as("n"), max("cat").as("mc"))
      .collect().toSeq.sortBy(_.getLong(0))
    val truthJoin = evRaw.as("e").join(ordRaw.as("o"), col("e.k") === col("o.k"))
      .groupBy(col("e.k")).agg(count(lit(1)).as("n"), sum(col("o.amt")).as("s"))
      .collect().toSeq.sortBy(_.getLong(0))
    val truthAgg = evRaw.groupBy("k").agg(count(lit(1)).as("n"), max("cat").as("mc"))
      .collect().toSeq.sortBy(_.getLong(0))
    // the shapes must actually take the COLLAPSED per-shard path, or the
    // stress exercises a plain Spark join instead of concurrent dispatch
    val planned = {
      val e = spark.table("chshard.main.sh_events").as("e")
      val o = spark.table("chshard.main.sh_orders").as("o")
      e.join(o, col("e.k") === col("o.k"))
        .groupBy(col("e.k")).agg(count(lit(1)).as("n"), sum(col("o.amt")).as("s"))
    }
    planned.collect()
    val nodes = PlanAsserts.flatten(planned.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[graft.pushdown.ClickHouseRemoteExec]),
      s"join shape must collapse into the remote node:\n${nodes.head}")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
      s"no Spark-side join may remain:\n${nodes.head}")
    // 20 serial iterations: every planQuery dispatches both shards
    // concurrently (the embedded child sessions race inside one JVM —
    // exactly the thread-safety this pins)
    (1 to 20).foreach { i =>
      assert(joinShape() == truthJoin, s"serial iteration $i: join diverged")
      assert(aggShape() == truthAgg, s"serial iteration $i: agg diverged")
    }
    // cross-QUERY concurrency on top of per-shard concurrency: three
    // driver threads collapse simultaneously against the same stores
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    (1 to 5).foreach { i =>
      val fs = Seq(Future(joinShape()), Future(aggShape()), Future(joinShape()))
      val rs = fs.map(Await.result(_, 120.seconds))
      assert(rs(0) == truthJoin && rs(2) == truthJoin,
        s"concurrent iteration $i: join diverged")
      assert(rs(1) == truthAgg, s"concurrent iteration $i: agg diverged")
    }
  }

  test("shard-key-grouped collapse carries a range-split cursor on the " +
    "routing key's output alias — the grouped result is corpus-wide at " +
    "scale and must stream over more than one connection per shard") {
    seed(); seedOrders()
    val e = spark.table("chshard.main.sh_events").as("e")
    val o = spark.table("chshard.main.sh_orders").as("o")
    val keyed = e.join(o, col("e.k") === col("o.k"))
      .groupBy(col("e.k")).agg(count(lit(1)).as("n"), sum(col("o.amt")).as("s"))
    keyed.collect() // force planning through the session's rules
    val nodes = keyed.queryExecution.optimizedPlan.collect {
      case n: graft.pushdown.ClickHouseRemoteNode => n
    }
    assert(nodes.nonEmpty, s"shape must collapse:\n${keyed.queryExecution.optimizedPlan}")
    // grouping key k is output column 0 → wire alias c0; buckets, not
    // ranges (a min/max probe would re-execute the aggregation once
    // extra just for bounds)
    assert(nodes.head.splitBy.contains("c0"),
      s"keyed collapse must slice on the routing key's alias: ${nodes.head.splitBy}")
    assert(nodes.head.splitBuckets,
      "keyed collapse must use probe-free hash-bucket slices")
    // and the slicing machinery EXECUTES: bucket handles of the collapsed
    // SQL are disjoint by key and union to the direct result
    val client = new graft.client.ShardedClickHouseClient(
      IndexedSeq(new EmbeddedClickHouse(rootA), new EmbeddedClickHouse(rootB)),
      shardBy = Some("k"))
    val collapsedSql =
      """SELECT `k` AS c0, count(*) AS c1 FROM
        |(SELECT `k` FROM `main`.`sh_events`) AS t GROUP BY `k`""".stripMargin
    val planned = client.planQueryBuckets(collapsedSql, "c0", 4)
    assert(planned.isDefined)
    val buckets = planned.get._2.map(h =>
      client.readPartition(h).map(_.getLong(0)).toSeq)
    assert(buckets.size == 4)
    assert(buckets.count(_.nonEmpty) > 1,
      s"keys must spread across bucket slices: ${buckets.map(_.size)}")
    val unioned = buckets.flatten.sorted
    assert(unioned == (1L to 200L),
      s"bucket slices must be disjoint and complete: ${unioned.size} keys")
  }

  test("at-open read failover: a handle planned on a replica that then " +
    "dies re-opens its slice on the survivor (self-contained statements)") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 30; r2.wireReadRows = 30
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chreopen",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
      val client = cat.clickHouseClient
      // plan while BOTH replicas are alive: handles pin to the primary
      val (_, hs) = client.planQuery(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", 1)
      assert(hs.head.asInstanceOf[graft.client.ReplicaHandle].replica == 0)
      // the primary dies AFTER planning, BEFORE reading — the old contract
      // failed this loudly; the slice is a self-contained statement, so
      // the read must re-open on the survivor
      r1.close()
      val rows = client.readPartition(hs.head).toSeq
      assert(rows.size == 30,
        s"failover read must deliver the whole slice: ${rows.size}")
      // ...and a foreign-transport handle would NOT re-home: only the
      // HTTP transport's self-contained statements qualify (spot-check
      // the None branch of rehome)
      assert(new EmbeddedClickHouse(rootA).rehome(hs.head).isEmpty)
    } finally { r1.close(); r2.close() }
  }

  test("chSql composition under failover: the replica that served " +
    "describeQuery dies before execution — the lazy frame plans and " +
    "streams from the survivor") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 25; r2.wireReadRows = 25
    try {
      val ch = graft.session.ClickHouseSession.builder(spark)
        .endpoint(s"${r1.endpoint}|${r2.endpoint}")
        .catalogName("chdscfo").build()
      assert(ch.client.isInstanceOf[graft.client.FailoverClickHouseClient])
      // describeQuery runs NOW (schema is eager, rows are lazy) — on r1
      val df = ch.chSql(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", streams = 1)
      assert(df.schema.fieldNames.toSeq == Seq("id", "v", "tag"))
      assert(r1.statements.size() > 0 && r2.statements.size() == 0,
        "describe must have hit only the primary")
      // the primary dies between describe and execution: the frame's
      // plan-time statement must rehome like any read
      r1.close()
      assert(df.count() == 25,
        "execution must plan and stream from the surviving replica")
    } finally { r1.close(); r2.close() }
  }

  test("mid-stream replica death stays LOUD: once rows were delivered, " +
    "the failure propagates instead of silently re-reading elsewhere") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 1000; r2.wireReadRows = 1000
    r1.failAfterRows = 100 // dies after streaming 100 rows
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chmidstr",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
      val client = cat.clickHouseClient
      val (_, hs) = client.planQuery(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", 1)
      val it = client.readPartition(hs.head)
      val drained = scala.util.Try {
        var n = 0
        while (it.hasNext) { it.next(); n += 1 }
        n
      }
      assert(drained.isFailure,
        s"stream death after delivered rows must be LOUD, but the drain " +
          s"completed silently with ${drained.getOrElse(-1)} rows")
    } finally { r1.close(); r2.close() }
  }

  test("MID-STREAM replica death on a range slice resumes the remainder " +
    "on the survivor: whole result, no duplicates, no loss") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 1000; r2.wireReadRows = 1000
    r1.failAfterRows = 100 // primary dies after serving 100 rows
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chresume",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
      val client = cat.clickHouseClient
      val (schema, hs) = client.planQueryRanges(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", "id", 1)
      assert(hs.head.isInstanceOf[graft.client.ResumableReplicaHandle],
        s"integral range slices must plan resumable: ${hs.head.getClass}")
      val ids = client.readPartitionInternal(hs.head, schema)
        .map(_.getLong(0)).toVector
      assert(ids.size == 1000, s"resume must deliver the WHOLE slice: got ${ids.size}")
      assert(ids.distinct.size == 1000, "no row may be delivered twice")
      assert(ids.toSet == (0L until 1000L).toSet, "no row may be lost")
      assert(ids == ids.sorted, "ordered slices stream in cursor order")
      // the survivor served the REMAINDER (released groups 0..98; the
      // partially-buffered group 99 re-reads whole), not the full slice
      import scala.jdk.CollectionConverters._
      assert(r2.statements.asScala.exists(_.contains("`id` > 98")),
        s"resume must re-plan `id` > 98 on the survivor, got:\n" +
          r2.statements.asScala.filter(_.contains("wire_read")).mkString("\n"))
    } finally { r1.close(); r2.close() }
  }

  test("a healthy resumable range read delivers exactly once and never " +
    "issues a resume statement") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 500; r2.wireReadRows = 500
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chresok",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
      val client = cat.clickHouseClient
      val (schema, hs) = client.planQueryRanges(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", "id", 1)
      val ids = client.readPartitionInternal(hs.head, schema)
        .map(_.getLong(0)).toVector
      assert(ids == (0L until 500L).toVector)
      import scala.jdk.CollectionConverters._
      assert(!(r1.statements.asScala ++ r2.statements.asScala)
        .exists(_.contains("`id` >")), "no resume statement on a healthy read")
    } finally { r1.close(); r2.close() }
  }

  test("COMPOSED sharded + failover resume: with per-shard replica sets, " +
    "one shard's primary dying mid-stream resumes that shard's remainder " +
    "on ITS survivor; the healthy shard never issues a resume") {
    val s0p = new MockClickHouseHttp // shard 0 primary — dies mid-stream
    val s0s = new MockClickHouseHttp // shard 0 survivor
    val s1p = new MockClickHouseHttp // shard 1 primary — healthy
    val s1s = new MockClickHouseHttp // shard 1 survivor — must stay idle
    Seq(s0p, s0s, s1p, s1s).foreach(_.wireReadRows = 1000)
    s0p.failAfterRows = 100
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chshres",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint",
          s"${s0p.endpoint}|${s0s.endpoint},${s1p.endpoint}|${s1s.endpoint}")))
      val client = cat.clickHouseClient
      val (schema, hs) = client.planQueryRanges(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", "id", 2)
      // one resumable range slice per shard, shard-tagged
      assert(hs.size == 2, s"one slice per shard expected: ${hs.size}")
      val shards = hs.collect {
        case graft.client.ShardHandle(i, _: graft.client.ResumableReplicaHandle) => i
      }
      assert(shards.sorted == Seq(0, 1),
        s"per-shard slices must plan resumable: $hs")
      // every shard's slice delivers whole, in order, exactly once —
      // including shard 0, whose primary dies after 100 rows
      hs.foreach { h =>
        val ids = client.readPartitionInternal(h, schema).map(_.getLong(0)).toVector
        assert(ids == (0L until 1000L).toVector,
          s"slice must survive its shard's primary death: got ${ids.size} rows")
      }
      import scala.jdk.CollectionConverters._
      assert(s0s.statements.asScala.exists(_.contains("`id` > 98")),
        s"shard 0 must resume `id` > 98 on ITS survivor, got:\n" +
          s0s.statements.asScala.filter(_.contains("wire_read")).mkString("\n"))
      // failure isolation: the healthy shard's replicas never see a resume
      assert(!(s1p.statements.asScala ++ s1s.statements.asScala)
        .exists(_.contains("`id` >")),
        "the healthy shard must not issue resume statements")
    } finally Seq(s0p, s0s, s1p, s1s).foreach(_.close())
  }

  test("resumes WITHOUT watermark progress are bounded: replicas that all " +
    "die before releasing a new group end in a loud IOException, not an " +
    "infinite resume loop") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 1000; r2.wireReadRows = 1000
    // each replica serves ONE row then dies: group 0 never completes, so
    // the released watermark never advances across resumes
    r1.failAfterRows = 1; r2.failAfterRows = 1
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chstall",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
      val client = cat.clickHouseClient
      val (schema, hs) = client.planQueryRanges(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", "id", 1)
      val drained = scala.util.Try {
        client.readPartitionInternal(hs.head, schema).size
      }
      assert(drained.isFailure, "a stalled resume loop must fail loudly")
      val msg = drained.failed.get.getMessage
      assert(msg != null && msg.contains("no progress"),
        s"failure must name the stalled watermark, got: $msg")
      // and the replicas were not hammered: the cap (2× replicas) bounds
      // the total data-statement count issued while stalled (resumable
      // slices arrive as the ordered/resume wrap, so match any SELECT
      // over the table, never a specific prefix)
      import scala.jdk.CollectionConverters._
      val selects = (r1.statements.asScala ++ r2.statements.asScala)
        .count(s => s.contains("wire_read") && s.startsWith("SELECT"))
      assert(selects > 0, "sweep must have issued data statements")
      assert(selects <= 12, s"stalled resume must stay bounded: $selects statements")
    } finally { r1.close(); r2.close() }
  }

  test("resume death-point sweep: the primary dying after ANY number of " +
    "served rows — at open, mid-group run, one row short, exactly at the " +
    "end, and past the last row (truncated fixed-length tail) — always " +
    "delivers the whole ordered slice exactly once") {
    for (deathAt <- Seq(0L, 1L, 99L, 100L, 101L, 500L, 999L, 1000L)) {
      val r1 = new MockClickHouseHttp
      val r2 = new MockClickHouseHttp
      r1.wireReadRows = 1000; r2.wireReadRows = 1000
      r1.failAfterRows = deathAt
      try {
        val cat = new graft.catalog.ClickHouseCatalog
        cat.initialize(s"chsweep$deathAt",
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
            "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
        val client = cat.clickHouseClient
        val (schema, hs) = client.planQueryRanges(
          "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", "id", 1)
        val ids = client.readPartitionInternal(hs.head, schema)
          .map(_.getLong(0)).toVector
        assert(ids == (0L until 1000L).toVector,
          s"death after $deathAt rows: got ${ids.size} rows " +
            s"(${ids.distinct.size} distinct, sorted=${ids == ids.sorted})")
      } finally { r1.close(); r2.close() }
    }
  }

  test("CASCADING mid-stream deaths with progress: the primary dies, the " +
    "survivor dies further along, the recovered primary finishes — whole " +
    "slice exactly once across multiple resume hops") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 1000; r2.wireReadRows = 1000
    r1.failAfterRows = 300; r1.failTimes = 1 // dies once, then healthy
    r2.failAfterRows = 600; r2.failTimes = 1 // its resume dies too
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chcasc",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
      val client = cat.clickHouseClient
      val (schema, hs) = client.planQueryRanges(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", "id", 1)
      val ids = client.readPartitionInternal(hs.head, schema)
        .map(_.getLong(0)).toVector
      assert(ids == (0L until 1000L).toVector,
        s"cascade must deliver whole: ${ids.size} rows, " +
          s"${ids.distinct.size} distinct")
      import scala.jdk.CollectionConverters._
      // hop 1: r1 served 0..299 (groups 0..298 released) → resume on r2
      assert(r2.statements.asScala.exists(_.contains("`id` > 298")),
        "first resume must land on the survivor at the exact watermark")
      // hop 2: r2 served 299..898 (through group 897) → back to r1
      assert(r1.statements.asScala.exists(_.contains("`id` > 897")),
        s"second resume must wrap to the recovered primary, got:\n" +
          r1.statements.asScala.filter(_.contains("`id` >")).mkString("\n"))
    } finally { r1.close(); r2.close() }
  }

  test("30-seed death-schedule fuzz: random slice sizes, death points and " +
    "recovery counts either deliver the exact ordered slice or fail LOUDLY " +
    "— never a silently wrong result") {
    for (seed <- 0 until 30) {
      val rnd = new scala.util.Random(seed)
      val total = 200L + rnd.nextInt(1800)
      val r1 = new MockClickHouseHttp
      val r2 = new MockClickHouseHttp
      r1.wireReadRows = total; r2.wireReadRows = total
      // independent per-replica schedules; failTimes bounds the deaths so
      // most schedules are recoverable, failAfterRows ∈ [0, total] covers
      // at-open death, zero-progress runs, and past-the-end truncation
      def sched(m: MockClickHouseHttp): String =
        if (rnd.nextBoolean()) {
          m.failAfterRows = rnd.nextInt(total.toInt + 1).toLong
          m.failTimes = rnd.nextInt(3)
          s"die@${m.failAfterRows}×${m.failTimes}"
        } else "healthy"
      val plan = s"seed=$seed total=$total r1=${sched(r1)} r2=${sched(r2)}"
      try {
        val cat = new graft.catalog.ClickHouseCatalog
        cat.initialize(s"chfuzz$seed",
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
            "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
        val client = cat.clickHouseClient
        scala.util.Try {
          val (schema, hs) = client.planQueryRanges(
            "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", "id", 1)
          client.readPartitionInternal(hs.head, schema)
            .map(_.getLong(0)).toVector
        } match {
          case scala.util.Success(ids) =>
            assert(ids == (0L until total).toVector,
              s"$plan delivered a WRONG result: ${ids.size} rows " +
                s"(${ids.distinct.size} distinct, sorted=${ids == ids.sorted})")
          case scala.util.Failure(_) => () // loud is a legitimate outcome
        }
      } finally { r1.close(); r2.close() }
    }
  }

  test("COLUMNAR read on a resumable handle rides the NATIVE vector decode " +
    "and survives mid-stream death with the exact group-aligned resume") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 1000; r2.wireReadRows = 1000
    r1.failAfterRows = 100
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chrescol",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
      val client = cat.clickHouseClient
      val (schema, hs) = client.planQueryRanges(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", "id", 1)
      assert(hs.head.isInstanceOf[graft.client.ResumableReplicaHandle])
      val before = graft.client.HttpClickHouseClient.binaryBatchesDecoded.get()
      val ids = client.readPartitionColumnar(hs.head, schema).flatMap { b =>
        (0 until b.numRows()).map(i => b.column(0).getLong(i))
      }.toVector
      assert(ids == (0L until 1000L).toVector,
        s"columnar resumable read must deliver whole: ${ids.size} rows")
      // round 9: no row-pack re-materialization — wire blocks decode
      // straight into vectors on the resumable path too
      assert(graft.client.HttpClickHouseClient.binaryBatchesDecoded.get() > before,
        "resumable columnar reads must ride the native vector decode")
      import scala.jdk.CollectionConverters._
      // the transport delivered its decoded prefix (100 rows) before the
      // death surfaced, so the resume point is exact — not a whole-slice
      // re-read
      assert(r2.statements.asScala.exists(_.contains("`id` > 98")),
        "the deferred partial batch must keep the resume point exact")
    } finally { r1.close(); r2.close() }
  }

  test("COLUMNAR death-point sweep: batches deliver the whole ordered " +
    "slice exactly once for ANY death point") {
    for (deathAt <- Seq(0L, 1L, 99L, 100L, 101L, 500L, 999L, 1000L)) {
      val r1 = new MockClickHouseHttp
      val r2 = new MockClickHouseHttp
      r1.wireReadRows = 1000; r2.wireReadRows = 1000
      r1.failAfterRows = deathAt
      try {
        val cat = new graft.catalog.ClickHouseCatalog
        cat.initialize(s"chcolsweep$deathAt",
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
            "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
        val client = cat.clickHouseClient
        val (schema, hs) = client.planQueryRanges(
          "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", "id", 1)
        // (id, v) pairs: v is distinct per ROW, so a duplicated or lost
        // row shows even where ids alone would mask it
        val rows = client.readPartitionColumnar(hs.head, schema).flatMap { b =>
          (0 until b.numRows()).map(i =>
            (b.column(0).getLong(i), b.column(1).getDouble(i)))
        }.toVector
        assert(rows == (0L until 1000L).map(j => (j, j * 0.5)).toVector,
          s"death after $deathAt rows: got ${rows.size} rows " +
            s"(${rows.distinct.size} distinct, sorted=${rows == rows.sorted})")
      } finally { r1.close(); r2.close() }
    }
  }

  test("COLUMNAR resume with cursor GROUPS spanning batch boundaries: " +
    "death mid-group loses and duplicates nothing; the resume statement " +
    "lands on the exact group boundary") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    // 9000 rows, 7 per id → ids 0..1285; 4096-row decode batches cut
    // mid-group, so the tail-group carry is actually exercised
    r1.wireReadRows = 9000; r1.wireReadGroup = 7
    r2.wireReadRows = 9000; r2.wireReadGroup = 7
    r1.failAfterRows = 5000 // dies inside group 714 (rows 4998..5004)
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chcolgrp",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
      val client = cat.clickHouseClient
      val (schema, hs) = client.planQueryRanges(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", "id", 1)
      val rows = client.readPartitionColumnar(hs.head, schema).flatMap { b =>
        (0 until b.numRows()).map(i =>
          (b.column(0).getLong(i), b.column(1).getDouble(i)))
      }.toVector
      assert(rows == (0L until 9000L).map(j => (j / 7, j * 0.5)).toVector,
        s"grouped columnar resume must deliver whole: ${rows.size} rows " +
          s"(${rows.distinct.size} distinct)")
      import scala.jdk.CollectionConverters._
      // r1 served rows 0..4999: groups through id 713 were fully decoded
      // and handed out; the partial group 714 was carried, never
      // delivered — so the survivor resumes at exactly `id > 713`
      assert(r2.statements.asScala.exists(_.contains("`id` > 713")),
        s"resume must land on the group boundary; r2 saw: " +
          r2.statements.asScala.filter(_.contains("wire_read")).mkString(" | "))
    } finally { r1.close(); r2.close() }
  }

  test("a truncated driver-side read releases its connection and pool " +
    "permit: the NEXT read on a pool_max_size=1 endpoint completes") {
    val r1 = new MockClickHouseHttp
    r1.wireReadRows = 1000
    r1.failAfterRows = 100 // fixed-length response truncated mid-body
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chleak",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", r1.endpoint, "pool_max_size", "1")))
      val client = cat.clickHouseClient
      val (_, hs) = client.planQuery(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", 1)
      // driver-side drain (no TaskContext): the truncation must be LOUD...
      val drained = scala.util.Try {
        val it = client.readPartition(hs.head)
        while (it.hasNext) it.next()
      }
      assert(drained.isFailure, "truncated fixed-length read must fail loudly")
      // ...and must have released the single pool permit — a leak would
      // block this second read forever (bounded here by the await)
      r1.failAfterRows = -1L
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val second = Future {
        val (_, hs2) = client.planQuery(
          "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", 1)
        client.readPartition(hs2.head).size
      }
      assert(Await.result(second, 30.seconds) == 1000,
        "post-failure read must complete on the released permit")
    } finally r1.close()
  }

  test("END-TO-END DSv2 replica failover: a catalog read completes on the " +
    "surviving replica when the planning replica dies serving rows") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 40; r2.wireReadRows = 40
    try {
      seed() // session up
      spark.conf.set("spark.sql.catalog.chfailov",
        classOf[graft.catalog.ClickHouseCatalog].getName)
      spark.conf.set("spark.sql.catalog.chfailov.endpoint",
        s"${r1.endpoint}|${r2.endpoint}")
      // r1 answers metadata and planning (DESCRIBE) but aborts every data
      // stream at the transport level — the read must fail over AT OPEN
      r1.failReads = true
      val rows = spark.table("chfailov.bench.wire_read").collect()
      assert(rows.length == 40, s"full result despite the dead primary: ${rows.length}")
      assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 40L),
        "failover must deliver the exact slice, not a partial re-read")
      import scala.jdk.CollectionConverters._
      assert(r2.statements.asScala.exists(q =>
        q.contains("`wire_read`") && q.endsWith("FORMAT RowBinaryWithNamesAndTypes")),
        "the surviving replica must have served the data stream")
    } finally { r1.close(); r2.close() }
  }

  test("END-TO-END DSv2 mid-stream resume: a split_by catalog read " +
    "survives the primary dying after delivering rows — the executor " +
    "task completes from the survivor without a task retry") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 1000; r2.wireReadRows = 1000
    r1.failAfterRows = 100 // dies mid-stream, AFTER rows were delivered
    try {
      seed() // session up
      spark.conf.set("spark.sql.catalog.chresdsv",
        classOf[graft.catalog.ClickHouseCatalog].getName)
      spark.conf.set("spark.sql.catalog.chresdsv.endpoint",
        s"${r1.endpoint}|${r2.endpoint}")
      // one stream so the range plan needs no min/max probe; split_by
      // makes the scan plan RESUMABLE slices instead of loud handles
      spark.conf.set("spark.sql.catalog.chresdsv.read.streams", "1")
      val rows = spark.read.option("split_by", "id")
        .table("chresdsv.bench.wire_read").collect()
      assert(rows.length == 1000,
        s"resume must complete the scan in-task: ${rows.length}")
      assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 1000L),
        "exactly-once delivery across the mid-stream death")
      import scala.jdk.CollectionConverters._
      assert(r2.statements.asScala.exists(_.contains("`id` > 98")),
        "the executor-side read must have resumed on the survivor")
    } finally { r1.close(); r2.close() }
  }

  test("END-TO-END DSv2 MULTI-SLICE resume: four parallel range " +
    "partitions each survive the primary dying 100 rows into their " +
    "slice; every slice resumes independently on the survivor") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 1000; r2.wireReadRows = 1000
    r1.failAfterRows = 100 // every r1 data stream dies after 100 rows
    try {
      seed() // session up
      spark.conf.set("spark.sql.catalog.chresmulti",
        classOf[graft.catalog.ClickHouseCatalog].getName)
      spark.conf.set("spark.sql.catalog.chresmulti.endpoint",
        s"${r1.endpoint}|${r2.endpoint}")
      spark.conf.set("spark.sql.catalog.chresmulti.read.streams", "4")
      val rows = spark.read.option("split_by", "id")
        .table("chresmulti.bench.wire_read").collect()
      assert(rows.length == 1000,
        s"all slices must complete despite per-slice deaths: ${rows.length}")
      assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 1000L),
        "exactly-once delivery across four independent mid-stream deaths")
      import scala.jdk.CollectionConverters._
      // each slice re-plans its own remainder: distinct resume cursors on
      // the survivor, one per range partition
      val resumes = r2.statements.asScala.toSeq
        .flatMap(raw"`id` > (-?\d+)".r.findFirstMatchIn(_).map(_.group(1).toLong))
      assert(resumes.distinct.size >= 4,
        s"four slices must resume independently, got cursors: $resumes")
    } finally { r1.close(); r2.close() }
  }

  test("END-TO-END DSv2 sharded+replica resume: a split_by read over a " +
    "two-shard catalog with per-shard replica sets survives one shard's " +
    "primary dying mid-stream; the healthy shard never resumes") {
    val s0p = new MockClickHouseHttp
    val s0s = new MockClickHouseHttp
    val s1p = new MockClickHouseHttp
    val s1s = new MockClickHouseHttp
    Seq(s0p, s0s, s1p, s1s).foreach(_.wireReadRows = 1000)
    s0p.failAfterRows = 100
    try {
      seed() // session up
      spark.conf.set("spark.sql.catalog.chshrese",
        classOf[graft.catalog.ClickHouseCatalog].getName)
      spark.conf.set("spark.sql.catalog.chshrese.endpoint",
        s"${s0p.endpoint}|${s0s.endpoint},${s1p.endpoint}|${s1s.endpoint}")
      spark.conf.set("spark.sql.catalog.chshrese.read.streams", "2")
      val rows = spark.read.option("split_by", "id")
        .table("chshrese.bench.wire_read").collect()
      // both shards serve the same synthetic ids → union = each id twice
      assert(rows.length == 2000,
        s"both shards' slices must complete: ${rows.length}")
      val counts = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
      assert(counts.size == 1000 && counts.values.forall(_ == 2),
        "every id exactly twice (once per shard) — no loss, no duplication")
      import scala.jdk.CollectionConverters._
      assert(s0s.statements.asScala.exists(_.contains("`id` > 98")),
        "shard 0's survivor must carry the resumed remainder")
      assert(!(s1p.statements.asScala ++ s1s.statements.asScala)
        .exists(_.contains("`id` >")),
        "the healthy shard must not issue resume statements")
    } finally Seq(s0p, s0s, s1p, s1s).foreach(_.close())
  }

  test("non-integral resume cursors plan NON-resumable: a string split_by " +
    "keeps plain replica handles and mid-stream death stays LOUD") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    r1.wireReadRows = 1000; r2.wireReadRows = 1000
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chnonint",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
      val client = cat.clickHouseClient
      // `tag` is String: hash-bucket slices exist, but no ordered replay
      // prefix can be derived — resumability must NOT be claimed
      val (schema, hs) = client.planQueryRanges(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", "tag", 1)
      assert(!hs.exists(_.isInstanceOf[graft.client.ResumableReplicaHandle]),
        s"string cursor must not plan resumable: ${hs.map(_.getClass.getSimpleName)}")
      // and the mid-stream contract is the loud one
      r1.failAfterRows = 100
      val drained = scala.util.Try {
        client.readPartitionInternal(hs.head, schema).size
      }
      assert(drained.isFailure,
        "mid-stream death on a non-resumable slice must stay loud")
    } finally { r1.close(); r2.close() }
  }

  test("mutations PIN to the primary of a replica set: a server-side-" +
    "replicated ALTER UPDATE/DELETE must be issued exactly once") {
    val r1 = new MockClickHouseHttp
    val r2 = new MockClickHouseHttp
    try {
      val cat = new graft.catalog.ClickHouseCatalog
      cat.initialize("chrepmut",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", s"${r1.endpoint}|${r2.endpoint}")))
      val client = cat.clickHouseClient
      client.createTable("bench", "mut_t",
        Seq("id" -> "Int64", "v" -> "Float64"),
        Map("engine" -> "MergeTree", "order_by" -> "id"))
      client.updateWhere("bench", "mut_t", Seq("v" -> "`v` + 1"), "`id` > 0")
      client.deleteWhere("bench", "mut_t", "`id` > 100")
      import scala.jdk.CollectionConverters._
      def muts(m: MockClickHouseHttp): Seq[String] =
        m.statements.asScala.toSeq.filter(q =>
          q.contains("UPDATE") || q.contains("DELETE"))
      assert(muts(r1).size == 2,
        s"primary must see both mutations: ${muts(r1)}")
      assert(muts(r2).isEmpty,
        "broadcasting a non-idempotent assignment (v = v + 1) to a replica " +
          s"that also receives it via server replication applies it twice: ${muts(r2)}")
      // DDL still broadcasts — both replicas hold the schema
      assert(r2.statements.asScala.exists(_.startsWith("CREATE TABLE")),
        "DDL must still broadcast to keep replica schemas aligned")
    } finally { r1.close(); r2.close() }
  }

  test("degenerate endpoint specs are rejected on the PARSED shape: " +
    "trailing '|' and empty segments never become silently-inert options") {
    // "r1|" contains '|' but parses to ONE replica — load_balancing would
    // have nothing to balance, and the old raw-string check let it through
    val e1 = intercept[IllegalArgumentException] {
      new graft.catalog.ClickHouseCatalog().initialize("chbad1",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", "http://h1:8123|", "load_balancing", "random")))
    }
    assert(e1.getMessage.contains("empty"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      new graft.catalog.ClickHouseCatalog().initialize("chbad2",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", "http://h1:8123,,http://h2:8123")))
    }
    assert(e2.getMessage.contains("empty"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      new graft.catalog.ClickHouseCatalog().initialize("chbad3",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "path", s"$rootA,")))
    }
    assert(e3.getMessage.contains("empty"), e3.getMessage)
  }

  test("a shard_by differing only in CASE from the table column is " +
    "rejected at load — not silently non-co-locating") {
    val rootC = Files.createTempDirectory("graft_shard_case_").toString
    val rootD = Files.createTempDirectory("graft_shard_case_").toString
    val cat = new graft.catalog.ClickHouseCatalog
    cat.initialize("chcase",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
        "path", s"$rootC,$rootD", "shard_by", "K")))
    // create bypasses the check (no data routed yet); the LOAD rejects,
    // because every routed read/write resolves shard_by case-sensitively
    cat.clickHouseClient.createTable("main", "case_t",
      Seq("k" -> "Int64", "v" -> "String"),
      Map("engine" -> "MergeTree", "order_by" -> "k"))
    val e = intercept[IllegalArgumentException] {
      cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("main"), "case_t"))
    }
    assert(e.getMessage.contains("case-sensitive"), e.getMessage)
    // a table NOT containing the routing column in any case stays loadable
    cat.clickHouseClient.createTable("main", "dim_t",
      Seq("id" -> "Int64", "name" -> "String"),
      Map("engine" -> "MergeTree", "order_by" -> "id"))
    assert(cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("main"), "dim_t")) != null)
  }
}
