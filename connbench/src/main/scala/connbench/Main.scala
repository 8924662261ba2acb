package connbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The connector benchmark. One Spark process at local[nproc], one
  * closed-loop client, a `clickhouse` catalog backed by a fresh embedded
  * store that attaches the seeded corpus zero-copy.
  *
  * {{{
  *   connbench.Main --workload adhoc|scan|ingest --seed N --seconds S
  *                  --trace 0|1 --work DIR
  * }}}
  *
  * Prints the seed and the run's environment, then as its last line one JSON
  * object: `correct`, `attempted`, `failed` and the end-to-end metrics
  * (`--trace 0`) or the per-layer metrics (`--trace 1`). Exits 1 when any op
  * failed or returned a wrong result.
  */
object Main {

  /** `corruptOp` flips the result the client saw for that op: the
    * benchmark's own test that a wrong result is counted and fails the run.
    */
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      corpus: Path, work: Path, corruptOp: Option[Int] = None)

  private def options(argv: Seq[String]): Map[String, String] =
    argv.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def parse(argv: Seq[String]): Args = {
    val m = options(argv)
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.Names.contains(w), s"unknown workload '$w' (${Workloads.Names.mkString(", ")})")
    val t = need("trace")
    require(t == "0" || t == "1", s"--trace must be 0 or 1, got '$t'")
    val a = Args(w, need("seed").toLong, need("seconds").toInt, t == "1",
      Paths.get(need("corpus")), Paths.get(need("work")), m.get("corrupt-op").map(_.toInt))
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  /** `--prepare DIR --work DIR` writes the fixed corpora; anything else is
    * a benchmark run.
    */
  def main(argv: Array[String]): Unit = {
    val m = options(argv.toSeq)
    val ok = m.get("prepare") match {
      case Some(dir) =>
        val spark = session(Paths.get(m("work")))
        Seq("small" -> Corpus.Small, "large" -> Corpus.Large).foreach { case (name, sizes) =>
          Corpus.generate(spark, Paths.get(dir, name), sizes)
        }
        true
      case None => new Bench(parse(argv.toSeq)).run()
    }
    Console.out.flush()
    System.out.flush()
    // skip Spark's shutdown hooks: run.py removes the work dir they would
    // clean, and they cost about a second a run
    Runtime.getRuntime.halt(if (ok) 0 else 1)
  }

  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 5

  /** The one Spark process: local[nproc], every local dir under `work`. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("connbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Host-wide steal time so far, in ms (the `steal` field of /proc/stat). */
  def stealMs(): Double = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toDouble * 10 else 0.0 // USER_HZ = 100
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
}

/** One op's outcome. `reads` are the statements whose results are checked
  * after the measured window: the query, its result schema, what the client
  * saw, and how many ingest batches were inserted when it ran.
  */
final case class OpRecord(idx: Int, shape: String, latencyMs: Double, rows: Long,
    reads: Seq[(Query, StructType, Digest, Int)], readAfterWriteMs: Option[Double],
    error: Option[String], trace: Option[OpTrace])

final class Bench(args: Main.Args) {
  import Main._

  private val work = args.work.toAbsolutePath
  private val corpus = {
    val (name, sizes) = Workloads.corpus(args.workload)
    val dir = args.corpus.toAbsolutePath.resolve(name)
    require(Files.exists(dir.resolve(Corpus.Ready)), s"corpus not prepared: $dir")
    Corpus(dir, sizes)
  }
  private val sizes = corpus.sizes
  private val base: SparkSession = session(work)

  private def phase(name: String): Unit = System.err.println(
    f"connbench: $name at ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  def run(): Boolean = {
    phase("session up")
    // set-up is repeated and its median reported: each repetition builds a
    // fresh store, registers the catalog on a fresh session and waits for
    // the connector's first answer. The first one also loads and compiles
    // the code paths, so it is the slowest; the median is a warm set-up.
    val setups = (0 until Setups).map(i => setup(corpus, work.resolve(s"store-$i")))
    val (s, root) = setups.last._2
    val setupS = Stats.median(setups.map(_._1))
    registerLocalViews(s, corpus)

    val rnd = new Random(args.seed)
    val workload: Workload = args.workload match {
      case "adhoc" => new Adhoc(s, rnd)
      case "scan" => new Scan(s, rnd)
      case "ingest" => new Ingest(s, rnd, root)
    }
    val tracer = if (args.trace) Some(new Tracer(s)) else None
    phase("set up")
    val cache = new graft.client.connbench.StoreCache(root)
    workload.warmup()
    cache.mark()
    phase("warmed up")

    val gc0 = gcMs(); val steal0 = stealMs()
    tracer.foreach(_.reset())
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val t0 = System.nanoTime()
    val deadline = t0 + args.seconds * 1000000000L
    // the window closes at a round boundary, so every shape has the same
    // weight in every run
    while (System.nanoTime() < deadline || records.size % workload.roundSize != 0) {
      val i = records.size
      // a traced run alternates traced and untraced rounds, so the overhead
      // is measured on the same mix in the same process; the listener is
      // on the bus only during traced rounds
      val traced = tracer.filter(_ => (i / workload.roundSize) % 2 == 0)
      tracer.foreach(t => if (traced.isDefined) t.attach() else t.detach())
      records += workload.op(i, traced)
      cache.observe()
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    val gc = gcMs() - gc0; val steal = stealMs() - steal0
    tracer.foreach(_.detach())

    phase("measured")
    args.corruptOp.filter(_ < records.size).foreach { i =>
      records(i) = records(i).copy(reads = records(i).reads.map { case (q, schema, d, n) =>
        (q, schema, d.copy(hash = d.hash ^ 1L), n)
      })
    }
    // the trace itself, one JSON object a line: every span, and every
    // remote statement with its op
    if (args.trace) {
      val traces = records.flatMap(_.trace)
      Files.write(work.resolve("trace.jsonl"), traces.flatMap(t =>
        Span(t.op, 0, -1, s"op.${t.shape}", t.start, t.end) +: t.spans).map(_.toJson).asJava)
      Files.write(work.resolve("statements.jsonl"),
        traces.flatMap(t => t.statements.map(_.toJson(t.op))).asJava)
    }
    // every op is checked, untimed, against the same query on local views
    val checked = parallel(s, records.toSeq)(r => r.copy(error = r.error.orElse(workload.check(r))))
    phase("checked")
    val failed = checked.count(_.error.isDefined)
    checked.filter(_.error.isDefined).take(5).foreach(r =>
      System.err.println(s"connbench: op ${r.idx} (${r.shape}) failed: ${r.error.get}"))

    val lat = checked.map(_.latencyMs).toSeq
    System.err.println(lat.map(v => f"$v%.0f").mkString("connbench: op latencies ms ", " ", ""))
    val (p90, beyond) = Stats.percentile(lat, 90)
    val env = Seq(
      "workload" -> s""""${args.workload}"""", "seed" -> args.seed.toString,
      "trace" -> (if (args.trace) "1" else "0"),
      "nproc" -> nproc.toString, "jvm" -> s""""${System.getProperty("java.version")}"""",
      "spark" -> s""""${base.version}"""", "ops" -> checked.size.toString,
      "error_rate" -> (failed.toDouble / checked.size).toString,
      "p90_samples_beyond" -> beyond.toString,
      "store.distinct_statements" -> cache.distinct.toString,
      "store.cache_clears" -> cache.clears.toString,
      "measured_s" -> f"$elapsedS%.3f",
      "host.steal_ms" -> steal.toString, "jvm.gc_ms" -> gc.toString,
      "setup_s_all" -> setups.map(x => f"${x._1}%.4f").mkString("[", ",", "]"),
      "corpus" -> s""""${corpus.dir.getFileName}"""",
      "corpus_bytes" -> dirBytes(corpus.dir).toString,
      "store_bytes" -> dirBytes(root).toString,
      "rows" -> (s"""{"lineitem":${sizes.lineitem},"orders":${sizes.orders},""" +
        s""""customer":${sizes.customer},"documents":${sizes.documents}}"""),
      "shape_p50_ms" -> checked.groupBy(_.shape).toSeq.sortBy(_._1).map { case (k, rs) =>
        f""""$k":${Stats.median(rs.map(_.latencyMs).toSeq)}%.1f""" }.mkString("{", ",", "}"))
    println(s"connbench seed=${args.seed} workload=${args.workload} ops=${checked.size} " +
      s"failed=$failed error_rate=${failed.toDouble / checked.size}")
    println("connbench env " + env.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) {
        val raw = checked.flatMap(_.readAfterWriteMs)
        Seq(
          ("setup_s", setupS, "s"),
          ("latency_p50_ms", Stats.median(lat), "ms"),
          ("latency_p90_ms", p90, "ms"),
          ("ops_per_s", checked.size / elapsedS, "1/s"),
          ("rows_per_s", checked.map(_.rows).sum / elapsedS, "rows/s"),
          ("peak_rss_mb", peakRssMb(), "MB"),
          ("read_after_write_p50_ms", if (raw.nonEmpty) Stats.median(raw.toSeq) else Stats.median(lat), "ms"),
          ("store_bytes_per_row", workload.storeBytesPerRow, "bytes/row"))
      } else Layers.metrics(checked.toSeq, gc, steal)
    metrics.foreach { case (n, v, u) => println(f"connbench metric $n%-32s $v%.4f $u") }
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${Layers.num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": ${checked.size}, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    failed == 0
  }

  private def setup(corpus: Corpus, root: Path): (Double, (SparkSession, Path)) = {
    val t0 = System.nanoTime()
    Corpus.buildStore(root, corpus)
    val s = base.newSession()
    s.conf.set("spark.sql.catalog.clickhouse", classOf[graft.catalog.ClickHouseCatalog].getName)
    s.conf.set("spark.sql.catalog.clickhouse.path", root.toString)
    s.conf.set("spark.sql.catalog.clickhouse.read.streams", nproc.toString)
    s.conf.set("spark.sql.catalog.clickhouse.write.concurrency", nproc.toString)
    graft.GraftSession.install(s)
    SparkSession.setActiveSession(s)
    Consume(s.sql("SELECT * FROM clickhouse.main.ingest"))
    ((System.nanoTime() - t0) / 1e9, (s, root))
  }

  private def registerLocalViews(s: SparkSession, corpus: Corpus): Unit = {
    Corpus.Tables.foreach(t => s.read.parquet(corpus.table(t)).createOrReplaceTempView(s"local_$t"))
    // runtime filters from a broadcast build side that is not reused
    s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
  }

  /** `f` over `xs` on nproc threads of session `s`, in order. */
  private def parallel[A, B](s: SparkSession, xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
    try xs.map(x => pool.submit(() => { SparkSession.setActiveSession(s); f(x) })).map(_.get())
    finally pool.shutdown()
  }

  /** Repeats `round` until [[Workloads.WarmupSeconds]] have passed. */
  private def untilWarm(round: () => Unit): Unit = {
    val end = System.nanoTime() + Workloads.WarmupSeconds * 1000000000L
    while (System.nanoTime() < end) round()
  }

  /** On-disk bytes per row of attached corpus tables. */
  private def bytesPerRow(tables: Seq[String]): Double =
    tables.map(t => dirBytes(Paths.get(corpus.table(t)))).sum.toDouble / tables.map(corpus.rows).sum

  /** A workload: how to warm up, run op `i` and check it afterwards. */
  abstract class Workload(s: SparkSession) {
    def roundSize: Int
    def warmup(): Unit
    def op(i: Int, tracer: Option[Tracer]): OpRecord
    def storeBytesPerRow: Double

    private val expectedCache = new java.util.concurrent.ConcurrentHashMap[String, Digest]()

    /** Expected digest of a statement: the same query on local views. */
    def expected(q: Query, schema: StructType, inserted: Int): Digest =
      expectedCache.computeIfAbsent(q.local, _ => Consume(s.sql(q.local)))

    def check(r: OpRecord): Option[String] =
      r.reads.collectFirst(Function.unlift { case (q, schema, got, inserted) =>
        Digest.mismatch(q.shape, got, expected(q, schema, inserted))
      })

    /** Run one statement through the connector as the client does. */
    protected def read(q: Query, tracer: Option[Tracer], acc: TraceAcc): (DataFrame, Digest) = {
      val df = s.sql(q.remote)
      val d = Consume(df)
      tracer.foreach(_ => acc.dfs += df)
      (df, d)
    }

    /** Timed op body with its trace: `body` runs the statements. */
    protected def timed(i: Int, shape: String, tracer: Option[Tracer])(
        body: TraceAcc => (Long, Seq[(Query, StructType, Digest, Int)], Option[Double]))
        : OpRecord = {
      val acc = new TraceAcc
      val wall0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val res = scala.util.Try(body(acc))
      val latency = (System.nanoTime() - n0) / 1e6
      val wall1 = System.currentTimeMillis()
      val trace = tracer.map(t => acc.finish(t, i, shape, wall0, wall1))
      res match {
        case scala.util.Success((rows, reads, raw)) =>
          OpRecord(i, shape, latency, rows, reads, raw, None, trace)
        case scala.util.Failure(e) =>
          OpRecord(i, shape, latency, 0L, Seq.empty, None, Some(e.toString), trace)
      }
    }
  }

  /** Per-op trace accumulator: the op's DataFrames and its extra counts. */
  final class TraceAcc {
    val dfs = mutable.ArrayBuffer.empty[DataFrame]
    val counts = mutable.ArrayBuffer.empty[Map[String, Double]]
    /** The INSERT statement of an ingest op and its interval (epoch ms). */
    var insert: Option[(DataFrame, Long, Long)] = None

    def finish(t: Tracer, op: Int, shape: String, start: Long, end: Long): OpTrace = {
      val plans = (insert.map(_._1).toSeq ++ dfs).map(df => t.planning(op, df))
      val (execSpans, execCounts, jobs) = t.execution(op)
      val writeCounts = insert.fold(Map.empty[String, Double]) { case (_, a, b) =>
        t.writeCounts(jobs, a, b)
      }
      val stmts = dfs.flatMap(t.statements)
      val replays = stmts.map(st => t.replay(op, st.sql, st.client, st.streams))
      t.reset() // the replays' own jobs belong to no op
      val collapse =
        if (!Workloads.CollapseCandidates.contains(shape)) Map.empty[String, Double]
        else Map("pushdown.candidates" -> 1.0,
          "pushdown.collapsed" -> (if (stmts.exists(_.collapsed)) 1.0 else 0.0))
      OpTrace(op, shape, start, end,
        plans.flatMap(_._1) ++ execSpans ++ replays.flatMap(_._1),
        Tracer.merge(plans.map(_._2) ++ Seq(execCounts, writeCounts) ++ replays.map(_._2) ++
          counts ++ Seq(collapse, Map(
            "connector.remote_statements_per_op" -> stmts.size.toDouble,
            "connector.rows_read_per_op" -> stmts.map(_.rows).sum.toDouble))), stmts.toSeq)
    }
  }

  final class Adhoc(s: SparkSession, rnd: Random) extends Workload(s) {
    private val order = Workloads.rounds(Workloads.AdhocRound, rnd)
    private val warm = new Random(rnd.nextLong())
    val roundSize: Int = Workloads.AdhocRound.size

    // rounds of every shape, each run concurrently: the cold first round
    // alone takes 6-7 s serially
    def warmup(): Unit = untilWarm(() =>
      parallel(s, Workloads.AdhocShapes.map(Workloads.adhoc(_, warm, sizes)))(q => Consume(s.sql(q.remote))))

    def op(i: Int, tracer: Option[Tracer]): OpRecord = {
      val q = Workloads.adhoc(order.next(), rnd, sizes)
      timed(i, q.shape, tracer) { acc =>
        val (df, d) = read(q, tracer, acc)
        (d.rows, Seq((q, df.schema, d, 0)), None)
      }
    }

    def storeBytesPerRow: Double =
      bytesPerRow(Corpus.Tables)
  }

  final class Scan(s: SparkSession, rnd: Random) extends Workload(s) {
    private val order = Workloads.rounds(Workloads.ScanTables, rnd)
    val roundSize: Int = Workloads.ScanTables.size

    def warmup(): Unit =
      untilWarm(() => Workloads.ScanTables.foreach(t => Consume(s.sql(Workloads.scan(t).remote))))

    def op(i: Int, tracer: Option[Tracer]): OpRecord = {
      val q = Workloads.scan(order.next())
      timed(i, q.shape, tracer) { acc =>
        val (df, d) = read(q, tracer, acc)
        (d.rows, Seq((q, df.schema, d, 0)), None)
      }
    }

    def storeBytesPerRow: Double =
      bytesPerRow(Workloads.ScanTables)
  }

  final class Ingest(s: SparkSession, rnd: Random, root: Path) extends Workload(s) {
    private val side = Workloads.ingestSideRead(rnd, sizes)
    private val tableDir = root.resolve("main").resolve("ingest")
    private var inserted = 0
    private var insertedRows = 0L
    val roundSize: Int = 1

    Corpus.generateIngest(s, args.seed, work.resolve("ingest-input.parquet"))
      .createOrReplaceTempView("ingest_input")

    /** Per-batch partial aggregates of [[Workloads.IngestRead]], so the
      * expected result after any number of inserts is their sum.
      */
    private lazy val partials: IndexedSeq[Map[String, (Long, Double)]] = {
      val rows = s.sql("SELECT b, grp, count(*) AS n, sum(v) AS sv FROM ingest_input GROUP BY b, grp")
        .collect()
      (0 until Workloads.IngestBatches).map(b => rows.filter(_.getInt(0) == b)
        .map(r => r.getString(1) -> (r.getLong(2), r.getDouble(3))).toMap)
    }

    override def expected(q: Query, schema: StructType, n: Int): Digest =
      if (q.shape != Workloads.IngestRead.shape) super.expected(q, schema, n)
      else {
        val sums = mutable.Map.empty[String, (Long, Double)]
        (0 until n).foreach(i => partials(i % Workloads.IngestBatches).foreach { case (g, (c, v)) =>
          val (c0, v0) = sums.getOrElse(g, (0L, 0.0))
          sums(g) = (c0 + c, v0 + v)
        })
        Digest.ofRows(schema, sums.toSeq.map { case (g, (c, v)) => Row(g, c, v) })
      }

    def warmup(): Unit = untilWarm(() => op(-1, None))

    def op(i: Int, tracer: Option[Tracer]): OpRecord = {
      val b = inserted % Workloads.IngestBatches
      val before = if (tracer.isDefined) partFiles() else Map.empty[String, Long]
      val rec = timed(i, "ingest", tracer) { acc =>
        val w0 = System.currentTimeMillis()
        val ins = s.sql(
          s"INSERT INTO clickhouse.main.ingest SELECT k, grp, v, ts, note FROM ingest_input WHERE b = $b")
        if (tracer.isDefined) acc.insert = Some((ins, w0, System.currentTimeMillis()))
        inserted += 1
        insertedRows += Workloads.IngestBatchRows
        val n = inserted
        val w = System.nanoTime()
        val first = Seq(Workloads.IngestRead, side).map(q => (q, read(q, tracer, acc)))
        val r = System.nanoTime()
        val warm = Seq(Workloads.IngestRead, side).map(q => (q, read(q, tracer, acc)))
        val done = System.nanoTime()
        acc.counts += Map("embedded.invalidation_ms" -> ((r - w) - (done - r)) / 1e6)
        val reads = (first ++ warm).map { case (q, (df, d)) => (q, df.schema, d, n) }
        (Workloads.IngestBatchRows, reads, Some((r - w) / 1e6))
      }
      rec.trace.fold(rec) { t =>
        val after = partFiles()
        val added = after.keySet -- before.keySet
        rec.copy(trace = Some(t.copy(counts = t.counts ++ Map(
          "write.parts_per_op" -> added.size.toDouble,
          "write.bytes_per_row" -> added.toSeq.map(after).sum.toDouble / Workloads.IngestBatchRows))))
      }
    }

    private def partFiles(): Map[String, Long] =
      if (!Files.isDirectory(tableDir)) Map.empty
      else {
        val st = Files.walk(tableDir)
        try st.iterator().asScala.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
          .map(p => p.toString -> Files.size(p)).toMap
        finally st.close()
      }

    def storeBytesPerRow: Double =
      partFiles().values.sum.toDouble / math.max(1L, insertedRows)
  }
}
