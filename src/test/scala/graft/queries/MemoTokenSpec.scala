package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The round-13 memo law applied to the corpus-derived memos
  * (VERDICT r17 item 7): evMaxId, autoK and the ANN index and exact
  * baseline memos key on
  * [[graft.Tables.dataToken]] — (file length, mtime) of the corpus
  * parquet — so an in-place corpus regeneration can never serve a stale
  * constant. The pin: a touched corpus file yields a NEW cache entry
  * (the memo recomputed) instead of a hit on the old key, and the entry
  * of the old token goes (an index memo unpersists its cached frame), so
  * each memo holds one entry per (session, dir).
  */
class MemoTokenSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("memo-token-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Copy the sf0.001 corpus into a throwaway dir the test may mutate
    * (the real testdata is immutable by contract).
    */
  private def stageCorpus(): String = {
    val src = Paths.get("/root/testdata/sf0.001")
    val dst = Files.createTempDirectory("graft_memo_spec")
    graft.Tables.names.foreach { n =>
      Files.copy(src.resolve(s"$n.parquet"), dst.resolve(s"$n.parquet"),
        StandardCopyOption.COPY_ATTRIBUTES)
    }
    dst.toFile.deleteOnExit()
    dst.toString
  }

  test("dataToken changes when the corpus file is touched, not otherwise") {
    val dir = stageCorpus()
    val t1 = graft.Tables.dataToken(dir, "events")
    val t2 = graft.Tables.dataToken(dir, "events")
    assert(t1 == t2)
    Files.setLastModifiedTime(Paths.get(dir, "events.parquet"),
      FileTime.fromMillis(t1._2 + 1000))
    assert(graft.Tables.dataToken(dir, "events") != t1)
  }

  test("evMaxId memo recomputes after the events corpus changes on disk") {
    val dir = stageCorpus()
    graft.Tables.register(spark, dir)
    def entries = ConnectorQueries.evMaxIdCache.keys
      .count { case (s, d, _) => (s eq spark) && d == dir }
    val v1 = ConnectorQueries.evMaxId(spark, dir)
    assert(entries == 1)
    ConnectorQueries.evMaxId(spark, dir) // same token: memo hit
    assert(entries == 1)
    Files.setLastModifiedTime(Paths.get(dir, "events.parquet"),
      FileTime.fromMillis(System.currentTimeMillis() + 5000))
    val v2 = ConnectorQueries.evMaxId(spark, dir) // new token: recompute
    assert(entries == 1, "the old token's entry must go")
    assert(ConnectorQueries.evMaxIdCache.keys.exists { case (s, d, t) =>
      (s eq spark) && d == dir && t == graft.Tables.dataToken(dir, "events")
    }, "touched corpus must invalidate the memo key")
    assert(v1 == v2) // content unchanged, so the recomputed value agrees
  }

  test("autoK memo recomputes after the embeddings corpus changes on disk") {
    val dir = stageCorpus()
    graft.Tables.register(spark, dir)
    def entries = SimilarityQueries.autoKCache.keys
      .count { case (s, d, _) => (s eq spark) && d == dir }
    val k1 = SimilarityQueries.autoK(spark, dir)
    assert(entries == 1)
    SimilarityQueries.autoK(spark, dir)
    assert(entries == 1)
    Files.setLastModifiedTime(Paths.get(dir, "embeddings.parquet"),
      FileTime.fromMillis(System.currentTimeMillis() + 5000))
    val k2 = SimilarityQueries.autoK(spark, dir)
    assert(entries == 1, "the old token's entry must go")
    assert(SimilarityQueries.autoKCache.keys.exists { case (s, d, t) =>
      (s eq spark) && d == dir && t == graft.Tables.dataToken(dir, "embeddings")
    }, "touched corpus must invalidate the memo key")
    assert(k1 == k2)
  }

  test("the IVF index, incremental index and exact-baseline memos rebuild " +
    "after the embeddings corpus changes on disk") {
    val dir = stageCorpus()
    graft.Tables.register(spark, dir)
    def entries(cache: scala.collection.Map[SimilarityQueries.CorpusKey, _]) =
      cache.keys.count { case (s, d, _) => (s eq spark) && d == dir }
    def counts = Seq(SimilarityQueries.ivfIndexCache,
      SimilarityQueries.incIndexCache, SimilarityQueries.exactPairsCache)
      .map(entries)
    def runGates(): Seq[Seq[org.apache.spark.sql.Row]] =
      Seq("s04_ann_ivf", "s09_ann_ivf_incremental").map(n =>
        SimilarityQueries.all.find(_.name == n).get.run(spark, dir).collect().toSeq)
    val r1 = runGates()
    assert(counts == Seq(1, 1, 1))
    runGates() // same token: memo hits
    assert(counts == Seq(1, 1, 1))
    def indexes = Seq(SimilarityQueries.ivfIndexCache, SimilarityQueries.incIndexCache)
      .map(_.collect { case ((s, d, _), i) if (s eq spark) && d == dir => i }.head)
    val old = indexes
    assert(old.forall(_.assigned.storageLevel.useMemory))
    Files.setLastModifiedTime(Paths.get(dir, "embeddings.parquet"),
      FileTime.fromMillis(System.currentTimeMillis() + 5000))
    val r2 = runGates() // new token: every memo rebuilds
    assert(counts == Seq(1, 1, 1), "the old token's entries must go")
    val token = graft.Tables.dataToken(dir, "embeddings")
    assert(Seq(SimilarityQueries.ivfIndexCache, SimilarityQueries.incIndexCache,
      SimilarityQueries.exactPairsCache).forall(_.keys.exists { case (s, d, t) =>
        (s eq spark) && d == dir && t == token
      }), "touched corpus must invalidate the memo keys")
    assert(indexes.zip(old).forall { case (now, was) => now ne was })
    assert(old.forall(_.assigned.storageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "a dropped index memo must unpersist its cell assignment")
    assert(r1 == r2)
  }
}
