package connbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** What a client saw of one result: its row count and an order-insensitive
  * 64-bit content hash (the wrapping sum of per-row hashes).
  */
final case class Digest(rows: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
}

object Digest {
  val Empty: Digest = Digest(0L, 0L)

  /** 64-bit hash of one row in its UnsafeRow encoding (two 32-bit murmur3
    * passes with different seeds), so equal values of equal types hash
    * equally whichever engine produced them.
    */
  def rowHash(proj: UnsafeProjection, r: InternalRow): Long = {
    val u = proj(r)
    val lo = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
    val hi = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x5bd1e995)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  /** None when the client saw exactly the expected result. */
  def mismatch(shape: String, got: Digest, want: Digest): Option[String] =
    if (got == want) None
    else Some(s"$shape: got rows=${got.rows} hash=${got.hash}, " +
      s"expected rows=${want.rows} hash=${want.hash}")

  /** Digest of rows built in memory (expected results computed by hand). */
  def ofRows(schema: StructType, rows: Seq[Row]): Digest = {
    val ser = ExpressionEncoder(schema).createSerializer()
    val proj = UnsafeProjection.create(schema)
    rows.foldLeft(Empty)((d, r) => d + Digest(1L, rowHash(proj, ser(r))))
  }
}

/** The benchmark's client: executes a query's physical plan as one SQL
  * execution and folds every row into a [[Digest]] inside the tasks, so all
  * rows cross the connector's read path and one digest per partition comes
  * back. No aggregate is added to the query, so nothing extra is pushed down.
  */
object Consume {

  def apply(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("connbench")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var d = Digest.Empty
        it.foreach(r => d = d + Digest(1L, Digest.rowHash(proj, r)))
        Iterator.single(d)
      }.collect().foldLeft(Digest.Empty)(_ + _)
    }
  }
}
