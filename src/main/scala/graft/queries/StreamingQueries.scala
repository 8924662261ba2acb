package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GateQuery

/** Structured-Streaming gate queries (beyond-reference surface, SURVEY
  * §2.10: the reference has no streaming — these prove the engine's
  * operators carry over to unbounded input). Each runs the events table
  * AS A STREAM (file source + Trigger.AvailableNow, the replayable-batch
  * idiom) into a memory sink, and its DuckDB oracle is the equivalent
  * BATCH query — so streaming results are hash-verified to match batch
  * semantics exactly, which is the whole contract of the Dataflow model.
  *
  * At scale the same code points `readStream` at a bucket/queue and the
  * sink at a real table; state stays bounded (watermarked windows /
  * dedup-within-watermark), so a 100 TB/day stream holds only the open
  * windows per key in memory.
  */
object StreamingQueries {

  private val runSeq = new AtomicInteger()

  /** q42's sentinel-staged input dir + the corpus max(ts) it was built
    * from, memoized per (session, dir, data token): the staged input (raw
    * events file + one deterministic far-future sentinel row per user) is
    * a pure function of the corpus, so repeated invocations (bench
    * iterations) re-run the STREAM over it instead of re-writing the same
    * sentinel parquet and re-scanning events for max(ts) every time
    * (optimization r17 — input staging is build-once like ensureStore;
    * the drain itself still runs end to end with a fresh checkpoint per
    * invocation). r18 hardening: keyed on [[graft.Tables.dataToken]]
    * (round-13 memo law — a regenerated corpus can't serve stale
    * staging), cache hits revalidate the staged file still exists (an
    * external tmp cleaner removing /dev/shm contents mid-JVM triggers a
    * rebuild, not a permanent failure), and a JVM shutdown hook reaps
    * every staged dir (they're session-memoized, so the per-run finally
    * can't delete them).
    */
  private val sessStageCache =
    scala.collection.concurrent.TrieMap.empty[
      (SparkSession, String, (Long, Long)), (String, Long)]
  private lazy val stageReaper: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      sessStageCache.values.foreach { case (p, _) =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
      }))

  /** A fresh streaming read of the events table, ts normalized to
    * TimestampType micros whatever the raw parquet type is (nanos-as-long
    * or native timestamp[us] — graft.Tables.normalizedTs).
    */
  private[queries] def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file stream source wants a directory: stream the sf dir with a
    // glob pinned to the events file
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ts", graft.Tables.normalizedTs(schema("ts").dataType))
  }

  /** Drain a built streaming DataFrame with AvailableNow into a memory
    * sink; return the sink table.
    */
  /** Stateful-shuffle partition count for drained streams: one state
    * store (with its own checkpoint delta files per commit) per
    * partition. r17 A/B at local[32], sf0.1 (OPTIMIZATION_r17.md):
    * 8 beats 32 by 1.37× (state-store open/commit fanout dominates even
    * the compute-heavy q47 batch) and beats 4 by 1.12× — 8 IS the sweet
    * spot, measured, not assumed. At cluster scale state partitioning is
    * sized to the key cardinality/executor count by the deployment, not
    * this drain helper (which only serves the finite replayable-batch
    * gates).
    *
    * The state-store provider stays Spark's default HDFS-backed
    * in-memory one. r18 interleaved A/B ×2 per side, min-merged, drain
    * subset at local[32]/sf0.1 (OPTIMIZATION_r18.md): RocksDB measured
    * 1.26–1.37× WORSE on q40/q41/q47/q55 (JNI + per-commit SST churn on
    * checkpoint-lifetime state that fits comfortably in memory), flat on
    * q54, noise-level on q42, with flat controls (q35/r27 ≈ 1.04). At
    * 100 TB-stream scale, state that outgrows executor memory is exactly
    * when RocksDB pays — deployment-sized, like the partition count.
    */
  private val DrainPartitions = "8"

  private[queries] def drain(spark: SparkSession, built: DataFrame, mode: String): DataFrame = {
    val sink = s"graft_stream_${runSeq.incrementAndGet()}"
    // one state-store instance per shuffle partition, each with its own
    // checkpoint delta files; the checkpoint goes to tmpfs when available
    // (state commit latency is fsync-bound, not compute-bound)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", DrainPartitions)
    val ckBase = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else
      sys.props("java.io.tmpdir")
    val ck = s"$ckBase/graft_ck_$sink"
    try {
      val q = built.writeStream
        .format("memory").queryName(sink).outputMode(mode)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      // checkpoints are per-run throwaways (AvailableNow drains fully)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
    }
    spark.table(sink)
  }

  private def runStream(
      spark: SparkSession,
      dir: String,
      mode: String)(build: DataFrame => DataFrame): DataFrame =
    drain(spark, build(eventsStream(spark, dir)), mode)

  val all: Seq[GateQuery] = Seq(

    // watermarked tumbling-window aggregation; Complete mode emits every
    // window, so the finite stream must equal the batch time-bucket agg
    GateQuery("q40_stream_window_agg",
      (s, dir) => {
        graft.Tables.register(s, dir)
        runStream(s, dir, "complete") { ev =>
          ev.withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total_value"))
            .select(unix_micros(col("window.start")).as("hour_us"),
              col("event_type"), col("cnt"), col("total_value"))
        }
      },
      Some("""SELECT epoch_us(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS hour_us,
             |  event_type, count(*) AS cnt, round(sum(value), 2) AS total_value
             |FROM events
             |GROUP BY 1, 2""".stripMargin)),

    // hopping (sliding) windows: each event lands in length/slide
    // overlapping windows — Spark's window(ts, '2 hours', '1 hour')
    // assigns starts {floor_hour(ts) - 1h, floor_hour(ts)}, which the
    // oracle replays as an explicit two-row UNION ALL per event. The
    // watermark bounds state only in update/append output; this gate
    // drains in complete mode (so the oracle sees every window), where
    // Spark keeps all windows — the production deployment of this query
    // would run update mode, where the 1-hour watermark evicts a
    // window's state one hour after its end.
    GateQuery("q55_stream_hopping_window",
      (s, dir) => {
        graft.Tables.register(s, dir)
        runStream(s, dir, "complete") { ev =>
          ev.withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("cnt"))
            .select(unix_micros(col("window.start")).as("win_us"),
              col("event_type"), col("cnt"))
        }
      },
      Some("""WITH h AS (
             |  SELECT epoch_us(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS h_us,
             |    event_type
             |  FROM events),
             |w AS (SELECT h_us AS win_us, event_type FROM h
             |      UNION ALL SELECT h_us - 3600000000, event_type FROM h)
             |SELECT win_us, event_type, count(*) AS cnt
             |FROM w GROUP BY win_us, event_type""".stripMargin)),

    // streaming exact dedup with watermark-bounded state: the distinct
    // key set of the drained stream equals batch SELECT DISTINCT
    GateQuery("q41_stream_dedup",
      (s, dir) => {
        graft.Tables.register(s, dir)
        runStream(s, dir, "append") { ev =>
          graft.streaming.StreamingOps
            .dedupWithinWatermark(ev, "ts", "1 hour", Seq("user_id", "event_type"))
            .select("user_id", "event_type")
        }
      },
      Some("SELECT DISTINCT user_id, event_type FROM events")),

    // stateful streaming gap-sessionization (flatMapGroupsWithState with
    // ONE open session per key) drained over the events stream: closed
    // sessions aggregate to exactly the batch answer. A far-future
    // sentinel event per user (staged as a second parquet file) closes
    // every real session inline — the replayable-batch idiom for
    // verifying Append-mode stateful operators end-of-stream. Oracle
    // orders by event TIME (the stream's semantics; q36 orders by
    // event_id): tie-handling is count-invariant either way.
    GateQuery("q42_stream_sessionize",
      (s, dir) => {
        import s.implicits._
        graft.Tables.register(s, dir)
        val gap = 3600000000L // 1h in micros
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
        stageReaper
        val stageKey = (s, dir, graft.Tables.dataToken(dir, "events"))
        // revalidate a cache hit: the staged events copy must still exist
        // (tmp cleaners can reap /dev/shm mid-JVM) — rebuild on miss
        sessStageCache.get(stageKey).foreach { case (p, _) =>
          if (!new java.io.File(p, "events.parquet").isFile)
            sessStageCache.remove(stageKey)
        }
        val (stagePath, maxTus) = sessStageCache.getOrElseUpdate(stageKey, {
          val ev = graft.Tables.load(s, dir, "events")
          val mx = ev.agg(max(unix_micros(col("ts")))).head.getLong(0)
          // stage dir: the raw events file + one sentinel row per user at
          // maxTs + 2*gap, written in the file's own raw ts type
          val base = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
            else sys.props("java.io.tmpdir")
          val stage = new java.io.File(s"$base/graft_sess_stage_${runSeq.incrementAndGet()}")
          org.apache.commons.io.FileUtils.deleteQuietly(stage)
          stage.mkdirs()
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$dir/events.parquet"),
            stage.toPath.resolve("events.parquet"))
          val sentinels = ev.select(col("user_id")).distinct()
            .select(rawSchema.fields.map { f =>
              f.name match {
                case "user_id" => col("user_id").cast(f.dataType).as(f.name)
                case "ts" =>
                  graft.Tables.rawTsLit(mx + 2 * gap, f.dataType).as(f.name)
                case "event_type" => lit("sentinel").cast(f.dataType).as(f.name)
                case _ => lit(null).cast(f.dataType).as(f.name)
              }
            }: _*)
          val sentTmp = new java.io.File(stage, "_sent_tmp")
          sentinels.coalesce(1).write.mode("overwrite").parquet(sentTmp.getPath)
          val part = sentTmp.listFiles().find(_.getName.endsWith(".parquet")).get
          java.nio.file.Files.move(part.toPath, stage.toPath.resolve("zz_sentinel.parquet"))
          org.apache.commons.io.FileUtils.deleteQuietly(sentTmp)
          (stage.getPath, mx)
        })

        val stream = s.readStream.schema(rawSchema)
          .option("pathGlobFilter", "*.parquet").parquet(stagePath)
          .withColumn("et", graft.Tables.normalizedTs(rawSchema("ts").dataType))
          .withWatermark("et", "0 seconds")
        val keyed = stream.select(
          col("user_id").cast("long").as("key"),
          unix_micros(col("et")).as("tsMicros"), col("et"))
          .as[graft.streaming.StreamingOps.KeyedEvent]
        val sessions = graft.streaming.StreamingOps.sessionize(keyed, gap)

        val sink = s"graft_stream_${runSeq.incrementAndGet()}"
        val prevParts = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", DrainPartitions)
        val ckBase = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
          else sys.props("java.io.tmpdir")
        val ck = s"$ckBase/graft_ck_$sink"
        try {
          val q = sessions.writeStream
            .format("memory").queryName(sink).outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        } finally {
          s.conf.set("spark.sql.shuffle.partitions", prevParts)
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
          // the staged input dir is session-memoized (sessStageCache) and
          // reused by later invocations; /dev/shm contents are per-box
          // throwaways anyway
        }
        s.table(sink)
          .filter(col("startMicros") <= maxTus) // sentinel sessions never close, belt+braces
          .groupBy(col("key").cast("long").as("user_id"))
          .agg(count(lit(1)).as("n_sessions"), sum("nEvents").as("n_events"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS tus FROM events),
             |flags AS (
             |  SELECT user_id,
             |    CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
             |           OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus)
             |              > 3600000000
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM e)
             |SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
             |  count(*) AS n_events
             |FROM flags GROUP BY user_id""".stripMargin))
    ,

    // stream-stream inner join with a time-range condition: each purchase
    // pairs with every view by the same user in the preceding hour. Both
    // sides are independent watermarked streams; the range condition
    // bounds join state to one hour per side — the canonical unbounded-
    // join-with-bounded-state shape. Drained, it must equal the batch
    // range join exactly.
    GateQuery("q47_stream_stream_join",
      (s, dir) => {
        graft.Tables.register(s, dir)
        val views = eventsStream(s, dir)
          .filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
            col("ts").as("v_ts"))
          .withWatermark("v_ts", "0 seconds")
        val purchases = eventsStream(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "0 seconds")
        val joined = purchases.join(views,
          col("p_user") === col("v_user") &&
            col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("v_ts") <= col("p_ts"))
          .select(col("purchase_id"), col("view_id"))
        drain(s, joined, "append")
      },
      Some("""SELECT p.event_id AS purchase_id, v.event_id AS view_id
             |FROM events p JOIN events v
             |  ON p.user_id = v.user_id
             | AND p.event_type = 'purchase' AND v.event_type = 'view'
             | AND epoch_us(v.ts) BETWEEN epoch_us(p.ts) - 3600000000
             |                        AND epoch_us(p.ts)""".stripMargin))
      ,

    // stream-static join: the canonical enrichment shape — an unbounded
    // event stream joins a bounded dimension (re-read per micro-batch;
    // broadcast, so NO stream-side shuffle for the join), then a global
    // aggregate in Complete mode. Drained, it must equal the batch join.
    GateQuery("q54_stream_static_join",
      (s, dir) => {
        graft.Tables.register(s, dir)
        val dim = broadcast(
          s.table("customer").select(col("c_custkey"), col("c_mktsegment")))
        val built = eventsStream(s, dir)
          .join(dim, col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_events"),
            round(sum("value"), 2).as("total_value"))
        drain(s, built, "complete")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_events,
             |  round(sum(value), 2) AS total_value
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY c_mktsegment""".stripMargin))
  )
}
