package graft.client

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Cached-vs-cold coherence of the embedded store: seeded sequences of
  * writes and DDL interleave with repeated reads of fixed texts, and after
  * every step each read through the store's cached server session (its
  * prepared statements and views) must return what the same text returns
  * on a fresh server session. A stale cache entry shows as a difference;
  * the warm-hit counters show that reads over tables a write did not
  * touch stayed cached across it.
  */
class CacheCoherenceSpec extends AnyFunSuite {

  private lazy val root = Files.createTempDirectory("graft_coherence_").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("cache-coherence-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.conf.set("spark.sql.catalog.chcc", classOf[graft.catalog.ClickHouseCatalog].getName)
    s.conf.set("spark.sql.catalog.chcc.path", root)
    s
  }

  private lazy val client: EmbeddedClickHouse = { spark; new EmbeddedClickHouse(root) }

  private val Seeds = 30
  private val Steps = 3

  private def rows(sql: String): Seq[String] =
    client.query(sql, 2)._2.flatten.map(_.toString).sorted

  /** `body` on a fresh server session; the cached one comes back after. */
  private def cold[A](body: => A): A = {
    val warm = EmbeddedClickHouse.sessionCache.remove(client.connectionKey)
    try body finally EmbeddedClickHouse.sessionCache.put(client.connectionKey, warm)
  }

  /** One seed's database: `m` (MergeTree, partitioned) with the view `mv`
    * into `mt`, its EXCHANGE partner `m2`, `src` (the attach and INSERT
    * SELECT source, renamed back and forth), `r` (ReplacingMergeTree,
    * altered) and `pj` (a projection).
    */
  private final class Sequence(seed: Int) {
    val db = s"cc$seed"
    private val rnd = new Random(seed)
    private var src = "src"
    private var added = 0
    private var ver = 0L

    private def q(t: String) = s"`$db`.`$t`"

    val reads: Seq[(String, String)] = Seq(
      "point" -> s"SELECT `v` FROM ${q("m")} WHERE `k` = 3",
      "aggregate" -> s"SELECT `p`, count(*) AS `n`, sum(`v`) AS `s` FROM ${q("m")} GROUP BY `p`",
      "join" -> (s"SELECT `a`.`k` AS `k`, `a`.`v` AS `v`, `b`.`v` AS `rv` FROM ${q("m")} AS `a` " +
        s"INNER JOIN ${q("r")} AS `b` ON `a`.`k` = `b`.`k`"),
      "final" -> s"SELECT `k`, `v`, `ver` FROM ${q("r")} FINAL",
      "_part" -> s"SELECT `_part`, count(*) AS `n` FROM ${q("m")} GROUP BY `_part`",
      "system.parts" -> ("SELECT `table`, count(*) AS `n`, sum(`rows`) AS `r` FROM " +
        s"`system`.`parts` WHERE `database` = '$db' GROUP BY `table`"),
      "projection" -> s"SELECT `g`, sum(`v`) AS `s` FROM ${q("pj")} GROUP BY `g`",
      "view target" -> s"SELECT `k`, `w` FROM ${q("mt")}",
      // bare column reads: served from the parts, not a spill
      "bare m" -> s"SELECT * FROM ${q("m")}",
      "bare r" -> s"SELECT * FROM ${q("r")}",
      "bare pj" -> s"SELECT * FROM ${q("pj")}")

    private def mRows(n: Int): Seq[Row] =
      Seq.fill(n)(Row(1L + rnd.nextInt(8), rnd.nextInt(3).toLong, rnd.nextInt(100).toLong))

    private def insert(t: String, rs: Seq[Row]): Unit =
      client.insert(db, t, client.sparkSchema(db, t), rs)

    // ver grows per row: FINAL has one survivor per key
    private def insertR(): Unit = insert("r", Seq.fill(2) {
      ver += 1
      Row.fromSeq(Seq(1L + rnd.nextInt(8), rnd.nextInt(100).toLong, ver) ++ Seq.fill(added)(null))
    })

    def setUp(): Unit = {
      val mCols = Seq("k" -> "Int64", "p" -> "Int64", "v" -> "Int64")
      val mOpts = Map("engine" -> "MergeTree", "order_by" -> "k", "partition_by" -> "p")
      Seq("m", "m2", "src").foreach(client.createTable(db, _, mCols, mOpts))
      client.createTable(db, "r", Seq("k" -> "Int64", "v" -> "Int64", "ver" -> "Int64"),
        Map("engine" -> "ReplacingMergeTree(ver)", "order_by" -> "k"))
      client.createTable(db, "pj", Seq("g" -> "Int64", "v" -> "Int64"),
        Map("engine" -> "MergeTree", "order_by" -> "g"))
      client.alterTable(db, "pj",
        Seq(ChAlterOp.AddProjection("pg", "SELECT g, sum(v), count(*) GROUP BY g")))
      client.createTable(db, "mt", Seq("k" -> "Int64", "w" -> "Int64"),
        Map("engine" -> "MergeTree", "order_by" -> "k"))
      client.createMaterializedView(db, "mv", db, "mt",
        s"SELECT `k`, `v` * 2 AS `w` FROM ${q("m")}", populate = false)
      Seq("m", "m2", "src").foreach(insert(_, mRows(3)))
      insertR()
      insert("pj", Seq(Row(1L, 5L), Row(2L, 7L)))
    }

    /** The write and DDL palette; plain inserts into `m` (which fire
      * `mv`) weigh double.
      */
    private val ops: Vector[(String, () => Unit)] = Vector(
      "insert m" -> (() => insert("m", mRows(2))),
      "insert m (fires mv)" -> (() => insert("m", mRows(3))),
      "staged insert m" -> (() => spark.sql(s"INSERT INTO chcc.$db.m VALUES " +
        mRows(2).map(r => s"(${r.getLong(0)}, ${r.getLong(1)}, ${r.getLong(2)})").mkString(", "))),
      "staged insert pj" -> (() => spark.sql(
        s"INSERT INTO chcc.$db.pj VALUES (${rnd.nextInt(3)}, ${rnd.nextInt(50)})")),
      "insert r" -> (() => insertR()),
      "insert pj" -> (() => insert("pj", Seq(Row(rnd.nextInt(3).toLong, rnd.nextInt(50).toLong)))),
      "insert src" -> (() => insert(src, mRows(2))),
      "insert select" -> (() => client.insertSelect(db, "m",
        s"SELECT `k`, `p`, `v` FROM ${q(src)} WHERE `v` % 2 = ${rnd.nextInt(2)}")),
      "delete" -> (() => {
        val t = Seq("m", "r")(rnd.nextInt(2))
        client.deleteWhere(db, t, s"`k` = ${1 + rnd.nextInt(8)}")
      }),
      "delete pj" -> (() => client.deleteWhere(db, "pj", s"`g` = ${rnd.nextInt(3)}")),
      "update" -> (() => client.updateWhere(db, "m", Seq("v" -> "`v` + 1"),
        s"`k` % 2 = ${rnd.nextInt(2)}")),
      "truncate" -> (() => client.truncateTable(db, Seq("m", "r", "pj", "mt")(rnd.nextInt(4)))),
      "drop partition" -> (() => client.dropPartition(db, "m", rnd.nextInt(3).toString)),
      "optimize final" -> (() =>
        client.optimizeTable(db, Seq("m", "r", "pj")(rnd.nextInt(3)), finalize = true)),
      "exchange" -> (() => client.exchangeTables(db, "m", db, "m2")),
      "rename" -> (() => {
        val to = if (src == "src") "src_r" else "src"
        client.renameTable(db, src, db, to)
        src = to
      }),
      "alter add column" -> (() => {
        added += 1
        client.alterTable(db, "r", Seq(ChAlterOp.AddColumn(s"c$added", "Nullable(Int64)")))
      }),
      "attach partitions" -> (() => client.attachPartitionsFrom(db, "m", db, src)))

    def step(): String = {
      val (name, op) = ops(rnd.nextInt(ops.size))
      op()
      name
    }
  }

  test(s"$Seeds seeded write sequences: every cached read equals a cold session's, " +
    "and reads over untouched tables stay warm") {
    val hits = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    for (seed <- 0 until Seeds) {
      val s = new Sequence(seed)
      s.setUp()
      val swapped = client.projectionHitCount(s.db, "pj", "pg")
      s.reads.foreach { case (_, sql) => rows(sql) }
      assert(client.projectionHitCount(s.db, "pj", "pg") == swapped + 1,
        s"seed $seed: the first projection read after setup was not served by the projection")
      for (i <- 0 until Steps) {
        val prepared = s.reads.map { case (_, sql) =>
          EmbeddedClickHouse.sessionCache.get(client.connectionKey).dfCache.get(sql)
        }
        val token = client.dataVersionToken
        val op = s.step()
        val wrote = client.dataVersionToken != token
        val warm = s.reads.map { case (_, sql) => rows(sql) }
        val entry = EmbeddedClickHouse.sessionCache.get(client.connectionKey)
        s.reads.zip(prepared).foreach { case ((shape, sql), df) =>
          if (wrote && df != null && (entry.dfCache.get(sql) eq df))
            hits(shape) = hits.getOrElse(shape, 0) + 1
        }
        val fresh = cold(s.reads.map { case (_, sql) => rows(sql) })
        s.reads.zip(warm.zip(fresh)).foreach { case ((shape, sql), (w, f)) =>
          assert(w == f, s"seed $seed step $i after '$op': the cached $shape read " +
            s"`$sql` returned $w, a fresh session $f")
        }
      }
      // system.parts lists every database: keep the store one seed big
      client.dropDatabase(s.db)
    }
    info(s"reads served warm after a step that wrote, over ${Seeds * Steps} steps: " +
      hits.map { case (k, v) => s"$k $v" }.mkString(", "))
    Seq("point", "aggregate", "join", "final", "_part", "projection", "view target",
      "bare m", "bare r", "bare pj")
      .foreach(shape => assert(hits.getOrElse(shape, 0) > 0,
        s"the $shape read never stayed warm across a write"))
  }
}
