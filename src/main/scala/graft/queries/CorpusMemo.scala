package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** Memos derived from a corpus file key on (session, dir, data token) —
  * the round-13 memo law: a regenerated corpus parquet changes
  * [[graft.Tables.dataToken]], so the memo recomputes instead of serving
  * a value of the old corpus. Storing the entry of a new token drops the
  * entries of the same (session, dir) under other tokens and hands each
  * dropped value to `release` (an index frees its cached DataFrame), so
  * a long-lived session keeps one entry per corpus, not one per
  * regeneration.
  */
private[queries] object CorpusMemo {

  type Key = (SparkSession, String, (Long, Long))

  def apply[V](cache: TrieMap[Key, V], key: Key, release: V => Unit = (_: Any) => ())(
      compute: => V): V =
    cache.getOrElse(key, {
      val v = cache.getOrElseUpdate(key, compute)
      val (s, dir, token) = key
      cache.keys.foreach { case k @ (ks, kDir, kToken) =>
        if ((ks eq s) && kDir == dir && kToken != token) cache.remove(k).foreach(release)
      }
      v
    })
}
