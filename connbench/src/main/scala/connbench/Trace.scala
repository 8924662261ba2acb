package connbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import graft.client.{ChSpillHandle, ChSqlTranslator, ClickHouseClient}
import graft.connector.{ChScan, ColumnarPack}
import graft.pushdown.ClickHouseRemoteExec

/** One span of the layer trace. Times are epoch milliseconds (the clock
  * Spark's planning tracker and listener events use). Spans of one op share
  * `op`; `parent` is the id of the span that caused this one. The op's own
  * span has id 0 and parent -1.
  * Replays are timed direct calls made after the op, outside its wall time.
  */
final case class Span(op: Int, id: Long, parent: Long, name: String,
    start: Long, end: Long, replay: Boolean = false) {
  def ms: Long = end - start
  def toJson: String =
    s"""{"op":$op,"id":$id,"parent":$parent,"name":"$name","start":$start,""" +
      s""""end":$end,"replay":$replay}"""
}

/** Everything recorded about one traced op. `counts` are per-op layer
  * counts and times that are not spans (rule times, replay sizes);
  * `statements` are the remote statements its plans held.
  */
final case class OpTrace(op: Int, shape: String, start: Long, end: Long,
    spans: Seq[Span], counts: Map[String, Double], statements: Seq[Tracer.Stmt] = Nil) {
  def wall: Long = end - start
  /** Wall time the named non-replay spans (not the op itself) cover. */
  def covered: Long =
    wall - Stats.unattributed(start, end, spans.filterNot(_.replay).map(s => (s.start, s.end)))
}

/** Records Spark jobs, tasks and SQL executions from the listener bus. */
final class EventLog extends SparkListener {
  import EventLog._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val execs = new ConcurrentLinkedQueue[Exec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    // the embedded store's spill job is submitted from inside planQuery,
    // which the stage's call site names
    val child = e.stageInfos.exists(s =>
      s.name.contains("EmbeddedClickHouse") || s.details.contains("EmbeddedClickHouse.planQuery"))
    jobs.add(Job(e.jobId, e.time, -1L, exec, child, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.asScala.find(_.id == e.jobId).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.add(Exec(s.executionId, s.time, -1L))
    case x: SparkListenerSQLExecutionEnd =>
      execs.asScala.find(_.id == x.executionId).foreach(_.end = x.time)
    case _ => ()
  }

  def clear(): Unit = { jobs.clear(); tasks.clear(); execs.clear() }
}

object EventLog {
  final case class Job(id: Int, start: Long, var end: Long, execId: Option[Long],
      child: Boolean, stages: Seq[Int])
  final case class Task(stage: Int, launch: Long, finish: Long)
  final case class Exec(id: Long, start: Long, var end: Long)
}

/** The outside-in tracer: spans from Spark's planning tracker and listener
  * events, plus replays of the connector's layers on each op's generated
  * SQL. It never changes what an op executes.
  */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  val log = new EventLog
  private var attached = false
  private var nextId = 0L
  private def id(): Long = { nextId += 1; nextId }

  /** Forget events recorded so far (set-up, warm-up, replays). */
  def reset(): Unit = { org.apache.spark.connbench.Bus.drain(spark.sparkContext); log.clear() }

  /** The listener is on the bus only while traced ops run, so untraced ops
    * pay none of its cost and the traced/untraced latency ratio shows it.
    */
  def attach(): Unit = if (!attached) {
    reset()
    spark.sparkContext.addSparkListener(log)
    attached = true
  }

  def detach(): Unit = if (attached) {
    reset()
    spark.sparkContext.removeSparkListener(log)
    attached = false
  }

  /** Spans of one statement's planning phases and rule times. */
  def planning(op: Int, df: DataFrame): (Seq[Span], Map[String, Double]) = {
    val t = df.queryExecution.tracker
    val names = Seq(QueryPlanningTracker.PARSING -> "planner.parsing",
      QueryPlanningTracker.ANALYSIS -> "planner.analysis",
      QueryPlanningTracker.OPTIMIZATION -> "planner.optimization",
      QueryPlanningTracker.PLANNING -> "planner.physical")
    val spans = names.flatMap { case (phase, name) =>
      t.phases.get(phase).map(p => Span(op, id(), 0, name, p.startTimeMs, p.endTimeMs))
    }
    def rule(suffix: String): Double = t.rules.collect {
      case (k, r) if k.stripSuffix("$").endsWith(suffix) => r.totalTimeNs / 1e6
    }.sum
    (spans, Map(
      "pushdown.rule_ms" -> rule("ClickHouseFunctionPushdown"),
      "connector.scan_pushdown_ms" -> rule("V2ScanRelationPushDown")))
  }

  /** Spans of the SQL executions, jobs and tasks the listener saw since the
    * last call, hung under the op. Tasks are counted, not kept as spans.
    */
  def execution(op: Int): (Seq[Span], Map[String, Double], Seq[Tracer.JobRun]) = {
    org.apache.spark.connbench.Bus.drain(spark.sparkContext)
    val execs = log.execs.asScala.toSeq.filter(_.end >= 0)
    val jobs = log.jobs.asScala.toSeq.filter(_.end >= 0)
    val tasks = log.tasks.asScala.toSeq
    log.clear()
    val execSpan = execs.map(e => e.id -> Span(op, id(), 0, "exec.sql", e.start, e.end)).toMap
    val jobSpans = jobs.map { j =>
      val parent = j.execId.flatMap(execSpan.get).map(_.id).getOrElse(0L)
      Span(op, id(), parent, if (j.child) "embedded.child_job" else "exec.job", j.start, j.end)
    }
    val jobOfStage = jobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val taskMs = tasks.groupBy(t => jobOfStage.getOrElse(t.stage, -1))
      .map { case (j, ts) => j -> ts.map(t => (t.finish - t.launch).toDouble).sum }
    val runs = jobs.map(j => Tracer.JobRun(j.start, j.end, j.child, taskMs.getOrElse(j.id, 0.0)))
    val childJobs = runs.filter(_.child)
    (execSpan.values.toSeq ++ jobSpans, Map(
      "exec.jobs_per_op" -> jobs.size.toDouble,
      "exec.tasks_per_op" -> tasks.size.toDouble,
      "exec.task_ms" -> taskMs.values.sum,
      "embedded.child_jobs_per_op" -> childJobs.size.toDouble,
      "embedded.child_exec_ms" -> childJobs.map(_.ms).sum), runs)
  }

  /** The write path of an INSERT that ran in `[start, end]` (epoch ms): its
    * jobs' task time, and the commit after the tasks, from the last write job's
    * end to the statement's return.
    */
  def writeCounts(jobs: Seq[Tracer.JobRun], start: Long, end: Long): Map[String, Double] = {
    val write = jobs.filter(j => j.start >= start && j.end <= end)
    Map("write.task_ms" -> write.map(_.taskMs).sum,
      "write.commit_ms" -> write.map(_.end).maxOption.map(j => (end - j).toDouble).getOrElse(0.0))
  }

  /** The remote statements an executed query ran, with the client that ran
    * them and the stream count it asked for.
    */
  def statements(df: DataFrame): Seq[Tracer.Stmt] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.isInstanceOf[ChScan] =>
        val s = b.scan.asInstanceOf[ChScan]
        Tracer.Stmt(s.generatedSql, s.chClient, s.chStreams, metric(b, "chRowsRead"), collapsed = false)
      case r: ClickHouseRemoteExec =>
        Tracer.Stmt(r.sql, r.client, r.streams, metric(r, "numOutputRows"), collapsed = true)
    }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Replays one statement's layers after the op: translation, the store's
    * planQuery (child execution and spill write) and draining every stream
    * the way the scan's reader does. Replay spill files are removed.
    */
  def replay(op: Int, sql: String, client: ClickHouseClient, streams: Int): (Seq[Span], Map[String, Double]) = {
    val tables = for (db <- client.listDatabases(); t <- client.listTables(db)) yield (db, t)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val translated = ChSqlTranslator.translate(sql, tables)
    val n1 = System.nanoTime()
    val (schema, handles) = client.planQuery(sql, streams)
    val n2 = System.nanoTime()
    var rows = 0L
    handles.foreach { h =>
      if (ColumnarPack.supports(schema))
        client.readPartitionColumnar(h, schema).foreach(b => rows += b.numRows())
      else client.readPartitionInternal(h, schema).foreach(_ => rows += 1)
    }
    val n3 = System.nanoTime()
    val files = handles.collect { case ChSpillHandle(fs, _, _) => fs }.flatten.map(Paths.get(_))
    val spillBytes = files.map(f => Files.size(f)).sum
    files.map(_.getParent).distinct.foreach(deleteTree)
    def at(ns: Long): Long = t0 + (ns - n0) / 1000000L
    val spans = Seq(
      Span(op, id(), 0, "translator.translate", at(n0), at(n1), replay = true),
      Span(op, id(), 0, "embedded.plan_query", at(n1), at(n2), replay = true),
      Span(op, id(), 0, "read.drain", at(n2), at(n3), replay = true))
    (spans, Map(
      "translator.translate_ms" -> (n1 - n0) / 1e6,
      "translator.sql_bytes" -> translated.getBytes("UTF-8").length.toDouble,
      "pushdown.remote_sql_bytes" -> sql.getBytes("UTF-8").length.toDouble,
      "embedded.plan_query_ms" -> (n2 - n1) / 1e6,
      "read.drain_ms" -> (n3 - n2) / 1e6,
      "replay.rows" -> rows.toDouble,
      "replay.spill_bytes" -> spillBytes.toDouble))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
}

object Tracer {
  /** One finished job: its interval, whether the embedded store ran it for
    * a remote statement, and the summed run time of its tasks.
    */
  final case class JobRun(start: Long, end: Long, child: Boolean, taskMs: Double) {
    def ms: Double = (end - start).toDouble
  }

  /** One remote statement of an executed query: its SQL, the client and
    * stream count that ran it, the rows it delivered, and whether it is a
    * collapsed subtree (`ClickHouseRemoteExec`) rather than a plain scan.
    */
  final case class Stmt(sql: String, client: ClickHouseClient, streams: Int, rows: Long,
      collapsed: Boolean) {
    def toJson(op: Int): String = {
      val q = sql.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
      }
      s"""{"op":$op,"collapsed":$collapsed,"rows":$rows,"sql":"$q"}"""
    }
  }

  /** Sum per-key maps (per-op counts from several statements). */
  def merge(ms: Seq[Map[String, Double]]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    ms.foreach(_.foreach { case (k, v) => out(k) = out.getOrElse(k, 0.0) + v })
    out.toMap
  }
}
