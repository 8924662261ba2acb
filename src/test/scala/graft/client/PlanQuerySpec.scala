package graft.client

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.graft.SchedulerProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The embedded store's per-statement fixed costs: one planning and one
  * execution per remote statement, the bounded prepared-statement cache,
  * the rate-limited spill reap, and plans that read the clock.
  */
class PlanQuerySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("plan-query-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fresh store root holding `db.t` = ids 1..2000 in one part. */
  private def store(): EmbeddedClickHouse = {
    spark // session up
    val client = new EmbeddedClickHouse(Files.createTempDirectory("graft_planq_").toString)
    client.createTable("db", "t", Seq("id" -> "Int64"), Map("engine" -> "MergeTree"))
    client.insert("db", "t", client.sparkSchema("db", "t"), (1L to 2000L).map(i => Row(i)))
    client
  }

  /** (jobs started, shuffle-map stages submitted) while `body` runs. */
  private def counted(body: => Unit): (Int, Int) = {
    val jobs = new AtomicInteger
    val mapStages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (SchedulerProbe.isShuffleMap(e.stageInfo)) mapStages.incrementAndGet()
    }
    val sc = spark.sparkContext
    SchedulerProbe.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      SchedulerProbe.drain(sc)
    } finally sc.removeSparkListener(listener)
    (jobs.get, mapStages.get)
  }

  test("one execution per statement: a cold single-exchange GROUP BY runs " +
    "its shuffle-map stage once, and a filter-only statement is one spill job") {
    val client = store()
    client.planQuery("SELECT `id` FROM `db`.`t` WHERE `id` = 1", 4) // views up
    val (_, groupMapStages) = counted {
      val (_, hs) = client.planQuery(
        "SELECT `id` % 7 AS `g`, count(*) AS `c` FROM `db`.`t` GROUP BY `g`", 4)
      assert(hs.flatMap(h => client.readPartition(h)).map(_.getLong(1)).sum == 2000L)
    }
    assert(groupMapStages == 1,
      s"$groupMapStages shuffle-map stages: the statement ran more than once")
    val (filterJobs, filterMapStages) = counted {
      client.planQuery("SELECT `id` FROM `db`.`t` WHERE `id` > 1000", 4)
    }
    assert(filterJobs == 1 && filterMapStages == 0,
      s"$filterJobs jobs / $filterMapStages shuffle-map stages for a filter-only statement")
  }

  test("the prepared-statement cache evicts its least recently used entry: " +
    "a hot statement survives 70 distinct ones") {
    val client = store()
    val hot = "SELECT count(*) FROM `db`.`t` WHERE `id` > 0"
    client.describeQuery(hot)
    val entry = EmbeddedClickHouse.sessionCache.get(client.connectionKey)
    val hotDf = entry.dfCache.get(hot)
    assert(hotDf != null)
    (0 until 70).foreach { i =>
      client.describeQuery(s"SELECT `id` FROM `db`.`t` WHERE `id` = $i")
      client.describeQuery(hot)
    }
    assert(entry.dfCache.get(hot) eq hotDf, "the hot statement was re-resolved")
    assert(entry.dfCache.size == EmbeddedStatements.PreparedStatements)
    assert(entry.dfCache.containsKey("SELECT `id` FROM `db`.`t` WHERE `id` = 69"))
    assert(!entry.dfCache.containsKey("SELECT `id` FROM `db`.`t` WHERE `id` = 0"))
    // a write moves the store version: every prepared statement goes
    client.insert("db", "t", client.sparkSchema("db", "t"), Seq(Row(0L)))
    client.describeQuery(hot)
    assert(entry.dfCache.size == 1 && !(entry.dfCache.get(hot) eq hotDf))
  }

  test("the prepared-statement cache resolves a key once under concurrency") {
    val client = store()
    client.describeQuery("SELECT 1")
    val entry = EmbeddedClickHouse.sessionCache.get(client.connectionKey)
    val resolves = new AtomicInteger
    val df = spark.range(1).toDF()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val got = Await.result(Future.sequence((0 until 8).map(_ => Future {
        entry.prepared("SELECT 'concurrent'") { _ =>
          resolves.incrementAndGet(); Thread.sleep(100); df
        }
      })), 30.seconds)
      assert(resolves.get == 1 && got.forall(_ eq df))
    } finally pool.shutdown()
  }

  test("a stale prepared statement re-resolves exactly once under concurrency") {
    val client = store()
    val sql = "SELECT count(*) FROM `db`.`t`"
    client.describeQuery(sql)
    val entry = EmbeddedClickHouse.sessionCache.get(client.connectionKey)
    val stale = entry.dfCache.get(sql)
    client.insert("db", "t", client.sparkSchema("db", "t"), Seq(Row(0L)))
    val resolves = new AtomicInteger
    val df = spark.range(1).toDF()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val got = Await.result(Future.sequence((0 until 8).map(_ => Future {
        entry.prepared(sql) { _ =>
          resolves.incrementAndGet(); Thread.sleep(100); df
        }
      })), 30.seconds)
      assert(resolves.get == 1 && got.forall(_ eq df) && !(stale eq df))
    } finally pool.shutdown()
  }

  test("a view over more than 32 parts registers without a file-listing job " +
    "and reads every part") {
    val client = store()
    (2L to 40L).foreach(i =>
      client.insert("db", "t", client.sparkSchema("db", "t"), Seq(Row(-i))))
    val sql = "SELECT count(*) AS `c`, sum(`id`) AS `s` FROM `db`.`t`"
    val (jobs, _) = counted(client.describeQuery(sql))
    assert(jobs == 0, s"$jobs jobs while registering a 40-part view")
    val row = client.query(sql, 1)._2.flatten.head
    assert(row.getLong(0) == 2039L && row.getLong(1) == 2001000L - (2L to 40L).sum)
  }

  test("a spill dir older than the TTL is reaped on the first planQuery; " +
    "later plans within the reap interval do not list the spill root") {
    val client = store()
    val spill = Paths.get(client.root, ".spill")
    def plant(name: String) = {
      val d = Files.createDirectories(spill.resolve(name))
      Files.write(d.resolve("stream-00000.rows"), Array[Byte](0, 0, 0, 0))
      Files.setLastModifiedTime(d, FileTime.fromMillis(
        System.currentTimeMillis() - EmbeddedReads.SpillTtlMillis - 60000))
      d
    }
    val stale = plant("stale-1")
    client.planQuery("SELECT `id` FROM `db`.`t` WHERE `id` = 1", 4)
    assert(!Files.exists(stale), "a dir older than the TTL survived the first plan")
    val young = Files.list(spill).toArray.toSeq
    assert(young.size == 1, "the plan's own result dir must stay")
    val staleToo = plant("stale-2")
    client.planQuery("SELECT `id` FROM `db`.`t` WHERE `id` = 2", 4)
    assert(Files.exists(staleToo), "a second reap ran within the interval")
    assert(young.forall(p => Files.exists(p.asInstanceOf[java.nio.file.Path])))
  }

  test("a statement that reads the clock is planned per run, ordered or not") {
    val client = store()
    Seq("SELECT now() AS `t`", "SELECT now() AS `t` ORDER BY `t`").foreach { sql =>
      def read() = client.query(sql, 4)._2.flatten.head.getTimestamp(0)
      val first = read()
      Thread.sleep(1100)
      assert(read().after(first), s"a re-run of `$sql` replayed its first run's time")
    }
  }
}
