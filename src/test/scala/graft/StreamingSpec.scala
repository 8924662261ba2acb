package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming over the events table (beyond-reference surface —
  * the reference's "streaming" is bounded batch emission, SURVEY §2.10;
  * this demonstrates the engine's stream path: file source → watermark →
  * windowed aggregation → sink, validated against the batch answer).
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("streaming-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("streaming dedup within watermark matches batch distinct") {
    import graft.streaming.StreamingOps
    val dir = "/root/testdata/sf0.001"
    val streamDir = java.nio.file.Files.createTempDirectory("graft_dedup_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(rawSchema).parquet(streamDir.toString)
      .withColumn("ts", graft.Tables.normalizedTs(rawSchema("ts").dataType))
    val deduped = StreamingOps.dedupWithinWatermark(
      stream, "ts", "1 hour", Seq("user_id", "event_type"))
      .select("user_id", "event_type")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("ev_dedup").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ev_dedup").distinct().count()
      val batch = Tables.load(spark, dir, "events")
        .select("user_id", "event_type").distinct().count()
      assert(streamed == batch, s"stream $streamed vs batch $batch distinct pairs")
    } finally q.stop()
  }

  test("writeStream.toTable lands micro-batches in the connector exactly-once") {
    import graft.client.EmbeddedClickHouse
    val root = java.nio.file.Files.createTempDirectory("graft_swsink_").toString
    spark.conf.set("spark.sql.catalog.chsws", classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.chsws.path", root)
    val client = new EmbeddedClickHouse(root)
    client.createTable("db", "sink",
      Seq("user_id" -> "Nullable(Int64)", "event_type" -> "Nullable(String)"),
      Map("engine" -> "MergeTree"))
    val dir = "/root/testdata/sf0.001"
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sws_in_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val ck = java.nio.file.Files.createTempDirectory("graft_sws_ck_").toString
    // DIRECT DSv2 streaming write — no foreachBatch; the sink is the
    // table's own StreamingWrite (staged parts, epoch markers)
    val q = spark.readStream.schema(rawSchema).parquet(streamDir.toString)
      .select(col("user_id"), col("event_type"))
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("chsws.db.sink")
    q.awaitTermination()
    val streamed = spark.table("chsws.db.sink").count()
    val batch = spark.read.parquet(s"$dir/events.parquet").count()
    assert(streamed == batch, s"streamed $streamed vs batch $batch rows")
    // epoch replay (commit-then-crash-before-checkpoint): a second commit
    // of the SAME epoch must drop its re-staged parts, not duplicate
    val schema = client.sparkSchema("db", "sink")
    import org.apache.spark.sql.Row
    client.stageInsert("db", "sink", schema, Seq(Row(999L, "replay")), "replay-stage-1")
    val sw = new graft.connector.ChStreamingWrite(
      client, "db", "sink", schema, 1, 100, "qidX")
    sw.commit(7L, Array(graft.connector.ChStagedCommit("replay-stage-1", 1)))
    val afterFirst = spark.table("chsws.db.sink").count()
    assert(afterFirst == batch + 1)
    client.stageInsert("db", "sink", schema, Seq(Row(999L, "replay")), "replay-stage-2")
    sw.commit(7L, Array(graft.connector.ChStagedCommit("replay-stage-2", 1)))
    assert(spark.table("chsws.db.sink").count() == batch + 1,
      "replayed epoch duplicated rows")
    // crash MID-COMMIT: a part landed under the epoch's tag but no marker
    // yet -> invisible; the replayed commit converges to exactly one copy
    client.stageInsert("db", "sink", schema, Seq(Row(1000L, "crash")), "crash-stage-1")
    val tableDir = java.nio.file.Paths.get(root, "db", "sink")
    val staged = tableDir.resolve(".insert-staging/crash-stage-1")
    staged.toFile.listFiles.foreach(f => java.nio.file.Files.move(f.toPath,
      tableDir.resolve(EmbeddedClickHouse.epochPartName(f.getName, "qidX-8"))))
    graft.client.EmbeddedClickHouse.invalidate(root)
    assert(spark.table("chsws.db.sink").count() == batch + 1,
      "unmarked epoch parts must be invisible")
    client.stageInsert("db", "sink", schema, Seq(Row(1000L, "crash")), "crash-stage-2")
    sw.commit(8L, Array(graft.connector.ChStagedCommit("crash-stage-2", 1)))
    assert(spark.table("chsws.db.sink").count() == batch + 2,
      "replay after mid-commit crash must publish exactly one copy")
  }

  test("streaming sessionization (flatMapGroupsWithState) matches the batch answer") {
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val gap = 3600000000L // 1h in micros, same as batch gate query q36

    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id").cast("long"), unix_micros(col("ts")))
      .as[(Long, Long)].collect()

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val events = input.toDS()
      .withColumn("et", timestamp_micros(col("_2")))
      .withWatermark("et", "0 seconds")
      .select(col("_1").as("key"), col("_2").as("tsMicros"), col("et"))
      .as[StreamingOps.KeyedEvent]
    val sessions = StreamingOps.sessionize(events, gap)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("ev_sessions").start()
    try {
      input.addData(ev.toSeq)
      q.processAllAvailable()
      // a far-future sentinel per user advances the watermark past every
      // real session's gap, closing them via event-time timeout
      val maxTs = ev.map(_._2).max
      input.addData(ev.map(_._1).distinct.toSeq.map(u => (u, maxTs + 10L * gap)))
      q.processAllAvailable()
      input.addData(Seq((-1L, maxTs + 20L * gap))) // push watermark once more
      q.processAllAvailable()

      val streamed = spark.table("ev_sessions")
        .filter(col("startMicros") <= maxTs) // exclude sentinel sessions
        .groupBy(col("key")).agg(count(lit(1)).as("n_sessions"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("tus")
      val batch = Tables.load(spark, dir, "events")
        .select(col("user_id").cast("long").as("user_id"),
          unix_micros(col("ts")).as("tus"))
        .select(col("user_id"),
          when(lag("tus", 1).over(w).isNull ||
            col("tus") - lag("tus", 1).over(w) > gap, 1).otherwise(0).as("ns"))
        .groupBy("user_id").agg(sum("ns").as("n_sessions"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      assert(streamed == batch,
        s"stream/batch sessionization divergence: ${streamed.size} vs ${batch.size} users")
    } finally q.stop()
  }

  test("windowed streaming aggregation matches the batch answer") {
    val dir = "/root/testdata/sf0.001"
    // file-source streams read directories: stage the events file into one
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    // normalize ts by resolved raw type, same as the batch path in
    // Tables.load (nanos-as-long and native-micros corpora both occur)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema

    val stream = spark.readStream.schema(rawSchema)
      .parquet(streamDir.toString)
      .withColumn("ts", graft.Tables.normalizedTs(rawSchema("ts").dataType))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))

    val q = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("ev_agg")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ev_agg")
        .select(col("window.start").cast("date").as("day"), col("event_type"),
          col("n"), col("total"))
        .collect().map(_.toSeq).toSet

      val batch = Tables.load(spark, dir, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .collect().map(_.toSeq).toSet

      assert(streamed == batch,
        s"stream/batch divergence: ${streamed.size} vs ${batch.size} groups")
    } finally q.stop()
  }

  test("readStream from the connector tails by cursor ranges, exactly-once across restarts") {
    import graft.client.EmbeddedClickHouse
    import org.apache.spark.sql.{Row, SaveMode}
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_mbr_").toString
    spark.conf.set("spark.sql.catalog.chmbr", classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.chmbr.path", root)
    val client = new EmbeddedClickHouse(root)
    client.createTable("db", "src",
      Seq("id" -> "Nullable(Int64)", "v" -> "Nullable(String)"),
      Map("engine" -> "MergeTree"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def rows(lo: Long, hi: Long) =
      (lo to hi).map(i => Row(i, s"v$i"))
    client.insert("db", "src", schema, rows(1L, 100L))

    // memory sinks reject checkpoint recovery; the restart test needs a
    // fault-tolerant sink, so drain into a parquet file sink
    val ck = java.nio.file.Files.createTempDirectory("graft_mbr_ck_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_mbr_out_").toString
    def drainOnce(expectMultiBatch: Boolean = true): Unit = {
      val q = spark.readStream
        .option("stream_cursor", "id")
        .option("stream_max_per_batch", "30") // forces >= 4 micro-batches
        .table("chmbr.db.src")
        .writeStream.format("parquet").outputMode("append")
        .option("path", outDir)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // multiple bounded micro-batches actually happened
      if (expectMultiBatch)
        assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
          s"expected a multi-batch drain, got " +
            q.recentProgress.map(_.numInputRows).mkString(","))
    }
    def sunk(): Set[Long] =
      spark.read.parquet(outDir).collect().map(_.getLong(0)).toSet

    drainOnce()
    val first = sunk()
    assert(first == (1L to 100L).toSet, s"first drain got ${first.size} ids")
    assert(spark.read.parquet(outDir).count() == 100)

    // append more rows; a RESTART from the same checkpoint must pick up
    // exactly the new range — nothing lost, nothing re-read
    client.insert("db", "src", schema, rows(101L, 130L))
    drainOnce(expectMultiBatch = false)
    assert(spark.read.parquet(outDir).count() == 130)
    assert(sunk() == (1L to 130L).toSet)

    // a third drain with no new data reads nothing
    drainOnce(expectMultiBatch = false)
    assert(spark.read.parquet(outDir).count() == 130)
  }

  test("readStream tails a SHARDED catalog: the cursor probe folds " +
    "min-of-mins/max-of-maxes and every shard's slice lands exactly once") {
    import graft.client.EmbeddedClickHouse
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val r1 = java.nio.file.Files.createTempDirectory("graft_mbrsh1_").toString
    val r2 = java.nio.file.Files.createTempDirectory("graft_mbrsh2_").toString
    spark.conf.set("spark.sql.catalog.chmbrsh",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.chmbrsh.path", s"$r1,$r2")
    spark.conf.set("spark.sql.catalog.chmbrsh.shard_by", "id")
    val sharded = new graft.client.ShardedClickHouseClient(
      IndexedSeq(new EmbeddedClickHouse(r1), new EmbeddedClickHouse(r2)),
      Some("id"))
    sharded.createDatabase("db")
    sharded.createTable("db", "src",
      Seq("id" -> "Int64", "v" -> "Nullable(String)"),
      Map("engine" -> "MergeTree", "order_by" -> "id"))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("v", StringType)))
    def rows(lo: Long, hi: Long) = (lo to hi).map(i => Row(i, s"v$i"))
    sharded.insert("db", "src", schema, rows(1L, 80L))
    // both shards must actually hold a slice, or this degrades to r20
    val perShard = Seq(r1, r2).map(r => new EmbeddedClickHouse(r)
      .query("SELECT count(*) AS n FROM `db`.`src`", 1)._2.flatten.head.getLong(0))
    assert(perShard.forall(_ > 0), s"shard slices: $perShard")

    val ck = java.nio.file.Files.createTempDirectory("graft_mbrsh_ck_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_mbrsh_out_").toString
    def drainOnce(): Unit = {
      val q = spark.readStream
        .option("stream_cursor", "id")
        .option("stream_max_per_batch", "25")
        .table("chmbrsh.db.src")
        .writeStream.format("parquet").outputMode("append")
        .option("path", outDir)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainOnce()
    val first = spark.read.parquet(outDir).collect().map(_.getLong(0)).toSet
    assert(first == (1L to 80L).toSet,
      s"union of shard slices, exactly once: got ${first.size} ids")
    // restart picks up only the new range, across both shards
    sharded.insert("db", "src", schema, rows(81L, 100L))
    drainOnce()
    assert(spark.read.parquet(outDir).count() == 100)
    assert(spark.read.parquet(outDir).collect().map(_.getLong(0)).toSet ==
      (1L to 100L).toSet)
  }

  test("streaming read requires a declared integral cursor") {
    import graft.client.EmbeddedClickHouse
    val root = java.nio.file.Files.createTempDirectory("graft_mbrneg_").toString
    spark.conf.set("spark.sql.catalog.chmbrneg", classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.chmbrneg.path", root)
    val client = new EmbeddedClickHouse(root)
    client.createTable("db", "t",
      Seq("id" -> "Nullable(Int64)", "name" -> "Nullable(String)"),
      Map("engine" -> "MergeTree"))
    def startWith(opts: Map[String, String]): Unit = {
      val r = spark.readStream
      opts.foreach { case (k, v) => r.option(k, v) }
      val q = r.table("chmbrneg.db.t")
        .writeStream.format("memory")
        .queryName(s"mbrneg_${opts.hashCode.abs}")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    val e1 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      startWith(Map.empty)
    }
    assert(e1.getMessage.contains("stream_cursor"))
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      startWith(Map("stream_cursor" -> "name"))
    }
    assert(e2.getMessage.contains("integral"))
    val e3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      startWith(Map("stream_cursor" -> "nope"))
    }
    assert(e3.getMessage.contains("not in"))
  }
}
