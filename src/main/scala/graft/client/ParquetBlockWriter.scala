package graft.client

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.StructType

/** Writes one batch of rows as a single parquet part file — the embedded
  * transport's stand-in for a ClickHouse Native-protocol block
  * (/root/reference/src/sink.rs:129-208 streams one Arrow batch per
  * in-flight insert).
  *
  * Uses Spark's own `ParquetWriteSupport` (public) directly over
  * parquet-mr, so a block can be written from ANY thread — including a
  * DSv2 write task on an executor — without a SparkSession or a Spark
  * job. Blocks are written into a staging dir and become visible only
  * when the store lands that dir (`EmbeddedClickHouse.land`), so readers
  * never observe a partial part.
  */
object ParquetBlockWriter {

  // Monotonic per-part insert sequence, embedded in the part FILE NAME
  // (`part-<%016x seq>-<uuid>.parquet`, hex fixed-width so lexicographic
  // file order IS insertion order): the embedded analog of the server's
  // monotonically-assigned block numbers. Seeded from wall-clock
  // microseconds so sequences stay monotonic across process restarts;
  // the max() guard keeps same-millisecond bursts strictly increasing.
  // CollapsingMergeTree's order-dependent collapse reads this back
  // (EmbeddedClickHouse.partSeqOf).
  private val seqCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  def nextPartSeq(): Long = seqCounter.updateAndGet(prev =>
    math.max(prev + 1, System.currentTimeMillis() * 1000L))

  private final class Builder(file: OutputFile)
    extends ParquetWriter.Builder[org.apache.spark.sql.catalyst.InternalRow, Builder](file) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration)
      : WriteSupport[org.apache.spark.sql.catalyst.InternalRow] =
      new ParquetWriteSupport
  }

  /** Spark-equivalent writer config (what ParquetUtils.prepareWrite sets),
    * keyed through SQLConf entries so names track the Spark version.
    */
  private def conf(schema: StructType): Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val c = new Configuration(false)
    ParquetWriteSupport.setSchema(schema, c)
    c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    c.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    c.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    c.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    c.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    c.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, "UTC")
    c
  }

  /** Write `rows` (already in `schema` field order) as one part file
    * `dir/part-<seq>-<uuid>.parquet`; returns the row count. `dir` is a
    * staging dir no reader lists, so the file is written in place, and
    * a failed write removes what it wrote.
    */
  def writeBlock(dir: Path, schema: StructType, rows: Seq[Row]): Long = {
    val ser = ExpressionEncoder(schema).resolveAndBind().createSerializer()
    val target = dir.resolve(
      f"part-${nextPartSeq()}%016x-${java.util.UUID.randomUUID}.parquet")
    try {
      val w = new Builder(new LocalOutputFile(target))
        .withConf(conf(schema))
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
      try rows.foreach(r => w.write(ser(r)))
      finally w.close()
    } catch {
      case e: Throwable => Files.deleteIfExists(target); throw e
    }
    rows.length.toLong
  }
}
