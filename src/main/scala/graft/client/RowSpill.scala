package graft.client

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.StructType

/** Streamed row spill for the embedded transport: executors write their
  * result partitions as length-prefixed UnsafeRow byte images; readers
  * pull them back one row at a time with O(1) memory. This is the
  * embedded stand-in for a wire protocol's per-stream block cursor — the
  * full result is never resident on any single node, and rows move in
  * Spark's INTERNAL format end to end (a wire client likewise decodes
  * blocks straight to InternalRow), matching the reference's incremental
  * `RecordBatchStream` emission (/root/reference/src/stream.rs:21-43).
  *
  * Format per row: 4-byte big-endian length, then the UnsafeRow bytes.
  * Length 0 never occurs (UnsafeRow has a fixed-width null bitset), so
  * EOF cleanly terminates.
  */
object RowSpill {

  /** Deal `rows` round-robin across `paths`: row k goes to
    * `paths(k % paths.length)`. A file is created on its first row, so
    * fewer rows than paths leave the tail unwritten; returns the paths
    * that were written, in `paths` order.
    */
  def writeRoundRobin(
      paths: IndexedSeq[Path],
      schema: StructType,
      rows: Iterator[InternalRow]): IndexedSeq[Path] = {
    val outs = new Array[DataOutputStream](paths.length)
    val toUnsafe = new ToUnsafe(schema)
    var k = 0
    try rows.foreach { r =>
      if (outs(k) == null) outs(k) = open(paths(k))
      put(outs(k), toUnsafe(r))
      k = if (k + 1 == outs.length) 0 else k + 1
    } finally outs.foreach(o => if (o != null) o.close())
    paths.indices.filter(outs(_) != null).map(paths)
  }

  private def open(path: Path): DataOutputStream =
    new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(path), 1 << 16))

  private def put(out: DataOutputStream, u: UnsafeRow): Unit = {
    val bytes = u.getBytes
    out.writeInt(bytes.length)
    out.write(bytes)
  }

  /** Rows from a codegen pipeline are UnsafeRow already; anything else
    * (e.g. a LocalTableScan) converts once here.
    */
  private final class ToUnsafe(schema: StructType) extends (InternalRow => UnsafeRow) {
    private lazy val projection = UnsafeProjection.create(schema)
    def apply(r: InternalRow): UnsafeRow = r match {
      case u: UnsafeRow => u
      case other => projection(other)
    }
  }

  /** Lazily stream UnsafeRows back from `path` (opens on first hasNext).
    * Each returned row is freshly backed — safe to buffer downstream.
    * Closeable so abandoned reads (pushed limits, killed tasks) release
    * the file descriptor immediately instead of waiting for GC.
    */
  def read(path: Path, numFields: Int): SpillFileIterator =
    new SpillFileIterator(path, numFields)

  final class SpillFileIterator(path: Path, numFields: Int)
    extends Iterator[InternalRow] with AutoCloseable {
    private var in: DataInputStream = _
    private var nextRow: UnsafeRow = _
    private var finished = false

    private def advance(): Unit = {
      if (in == null)
        in = new DataInputStream(
          new BufferedInputStream(Files.newInputStream(path), 1 << 16))
      // EOF is clean ONLY at a record boundary (the length prefix); EOF
      // inside the payload means a truncated file — silent row loss is
      // never acceptable, so that errors loudly
      val len =
        try in.readInt()
        catch {
          case _: EOFException =>
            finished = true
            close()
            return
        }
      val bytes = new Array[Byte](len)
      try in.readFully(bytes)
      catch {
        case e: EOFException =>
          close()
          throw new java.io.IOException(
            s"truncated spill file $path: EOF inside a $len-byte record", e)
      }
      val row = new UnsafeRow(numFields)
      row.pointTo(bytes, len)
      nextRow = row
    }

    override def hasNext: Boolean = {
      if (!finished && nextRow == null) advance()
      !finished
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = nextRow
      nextRow = null
      r
    }

    override def close(): Unit = {
      finished = true
      if (in != null) { in.close(); in = null }
    }
  }
}
