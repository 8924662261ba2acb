package graft.client

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Leak-safe NIO directory traversal. `Files.list`/`Files.walk` return
  * streams backed by an OPEN DIRECTORY FD that only `close()` releases —
  * draining the iterator does not. On the insert hot path (one staging
  * dir per block) the leaked fds accumulate at blocks-per-insert rate and
  * a long ingest run hits the process fd ceiling (surfaced as
  * `IOException: error=24, Too many open files` from a 5M-row ×
  * batch-5K insert sweep). Listings here are small (parts of one table,
  * spill files of one query), so materializing is the right trade.
  */
private[client] object NioFiles {

  def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator.asScala.toSeq finally s.close()
  }

  def walk(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq finally s.close()
  }

  /** Delete `p` and everything under it, if it exists. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) walk(p).reverse.foreach(Files.delete)

  /** Delete every entry of `dir` that `reap` accepts (asked first, so a
    * name test spares the stat) and that was last modified before
    * `cutoffMillis`. An entry that cannot be read or deleted is left for
    * the next sweep.
    */
  def sweepStale(dir: Path, cutoffMillis: Long, reap: Path => Boolean = _ => true): Unit =
    if (Files.isDirectory(dir))
      list(dir).foreach { p =>
        def stale =
          try Files.getLastModifiedTime(p).toMillis < cutoffMillis
          catch { case _: Exception => false }
        if (reap(p) && stale) try deleteRecursively(p) catch { case _: Exception => () }
      }
}
