package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: prints the physical plan of selected gate queries so the
  * shuffle/broadcast/pushdown shape can be audited (scale review).
  * Usage: sbt "Test/runMain graft.PlanAudit <sfDir> <queryName> [<queryName>...]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q08_join3_topn", "q35_star_join")
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-plan-audit")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val byName = SparkEntry.gateQueries.map(g => g.name -> g).toMap
    // GRAFT_PLAN_OUT=<dir>: additionally write one <query>.txt per query
    // with the FULL `explain("formatted")` + the AQE-finalized executed
    // plan (the optimization rounds' plans/r17/<query>_{before,after}.txt
    // evidence files are captured this way)
    val outDir = sys.env.get("GRAFT_PLAN_OUT")
    outDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    val suffix = sys.env.getOrElse("GRAFT_PLAN_SUFFIX", "")
    names.foreach { n =>
      val df = byName(n).run(spark, sfDir)
      df.write.format("noop").mode("overwrite").save() // let AQE finalize
      println(s"==== $n ====")
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val executed = df.queryExecution.executedPlan.toString
      println(executed.take(8000))
      outDir.foreach { d =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d, s"$n$suffix.txt"),
          s"==== $n — explain(formatted) ====\n$formatted\n" +
            s"==== $n — executed plan (AQE-finalized) ====\n$executed\n")
      }
    }
    spark.stop()
  }
}
