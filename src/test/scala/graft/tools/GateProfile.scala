package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev measurement tool (optimization guide §1): run one gate query by
  * name and attribute its wall time to Spark JOBS — job id, duration,
  * description/call site, stage/task counts — plus the driver-side gaps
  * between jobs (planning, store DDL, driver collects). The per-job table
  * is what tells a micro-batch-cadence-bound gate apart from a
  * shuffle-bound one before touching any code.
  *
  * Usage: sbt "Test/runMain graft.GateProfile <sfDir> <gateName> [iters]"
  */
object GateProfile {

  private final case class JobRow(
      id: Int, start: Long, var end: Long, desc: String,
      var stages: Int, var tasks: Int)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GateProfile <sfDir> <gateName> [iters]")
    val sfDir = args(0)
    val gate = args(1)
    val iters = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-gate-profile")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val g = SparkEntry.gateQueries.find(_.name == gate)
      .getOrElse(sys.error(s"no such gate: $gate (${SparkEntry.gateQueries.map(_.name).mkString(", ")})"))

    // warmup (mirrors Bench)
    Tables.register(spark, sfDir)
    Tables.names.foreach(n => spark.table(n).limit(1).collect())
    spark.range(1 << 20).selectExpr("sum(id)").collect()

    val jobs = mutable.LinkedHashMap.empty[Int, JobRow]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs(e.jobId) = JobRow(e.jobId, e.time, -1L, desc, 0, 0)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          for (jid <- stageToJob.get(e.stageInfo.stageId); j <- jobs.get(jid)) {
            j.stages += 1; j.tasks += e.stageInfo.numTasks
          }
        }
    }

    (0 until iters).foreach { it =>
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      g.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // let the listener bus drain (no public waitUntilEmpty)
      spark.sparkContext.removeSparkListener(listener)
      val rows = jobs.synchronized(jobs.values.toSeq.sortBy(_.start))
      val jobTotal = rows.filter(_.end > 0).map(r => r.end - r.start).sum / 1e3
      println(f"== $gate iter $it: wall $wall%.3f s, sum(job) $jobTotal%.3f s, jobs ${rows.size}")
      var prevEnd = -1L
      rows.foreach { r =>
        val gap = if (prevEnd > 0) (r.start - prevEnd) / 1e3 else 0.0
        prevEnd = math.max(prevEnd, r.end)
        val dur = if (r.end > 0) (r.end - r.start) / 1e3 else -1.0
        val d = if (r.desc.length > 90) r.desc.take(90) else r.desc
        println(f"  job ${r.id}%4d ${dur}%8.3f s  gap-before ${gap}%7.3f s  stages ${r.stages}%3d tasks ${r.tasks}%5d  $d")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
