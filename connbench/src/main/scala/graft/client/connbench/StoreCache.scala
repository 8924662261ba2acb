package graft.client.connbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.client.EmbeddedClickHouse

/** Watches the embedded store's prepared-statement cache
  * (`EmbeddedClickHouse.resolveQueryDf`, one map per store root) from
  * outside: which statements it has held, and how often it was emptied,
  * by overflowing its 64 entries or by a write that bumps the store version.
  * Read-only; call [[observe]] after each op.
  */
final class StoreCache(root: Path) {
  private val key = s"embedded:${root.toAbsolutePath}"
  private var last = Map.empty[String, DataFrame]
  private val seen = scala.collection.mutable.Set.empty[String]
  private var emptied = 0

  /** Distinct statements seen in the cache so far. */
  def distinct: Int = seen.size

  /** Times a held entry was dropped or rebuilt since the last [[mark]]. */
  def clears: Int = emptied

  def mark(): Unit = { observe(); emptied = 0 }

  def observe(): Unit = {
    val now = Option(EmbeddedClickHouse.sessionCache.get(key))
      .fold(Map.empty[String, DataFrame])(_.dfCache.asScala.toMap)
    // entries only leave by a clear; a rebuilt entry is a new DataFrame
    if (last.exists { case (k, df) => !now.get(k).exists(_ eq df) }) emptied += 1
    seen ++= now.keys
    last = now
  }
}
