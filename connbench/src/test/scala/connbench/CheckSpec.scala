package connbench

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("connbench-check-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", Files.createTempDirectory("connbench-wh").toString)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("grp", StringType), StructField("v", DoubleType)))
  private val rows = (1L to 50L).map(i => Row(i, s"g${i % 7}", i * 0.25))

  private def df(rs: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 3), schema)

  test("the in-task digest equals the digest of the same rows built in memory") {
    assert(Consume(df(rows)) == Digest.ofRows(schema, rows))
    assert(Consume(df(rows)).rows == 50L)
  }

  test("the digest ignores row order and partitioning") {
    assert(Consume(df(rows.reverse)) == Digest.ofRows(schema, rows))
    assert(Consume(df(rows).repartition(5)) == Consume(df(rows)))
  }

  test("a corrupted result is a mismatch and counts as a failed op") {
    val want = Digest.ofRows(schema, rows)
    val corrupted = Seq(
      rows.updated(17, Row(18L, "g4", 18 * 0.25 + 0.25)), // one value changed
      rows.tail, // a row lost
      rows :+ rows.head, // a row duplicated
      rows.updated(3, Row(4L, null, 1.0))) // a value nulled
    val outcomes = corrupted.map(rs => Digest.mismatch("corrupt", Consume(df(rs)), want))
    assert(outcomes.forall(_.isDefined), outcomes)
    assert(outcomes.count(_.isDefined) == corrupted.size)
    assert(Digest.mismatch("clean", Consume(df(rows)), want).isEmpty)
  }
}
