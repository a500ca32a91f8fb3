package graft

/** Dev tool: dump `explain("formatted")` for a list of queries to
  * `plans/<round>/<name>_<tag>.txt` in ONE JVM (the batch form of
  * [[Explain]] — one sbt/Spark startup instead of one per query), plus
  * the construction-phase job count in a trailing comment (the
  * [[Explain]] metric the iterative operators are judged by).
  * `runMain graft.PlanDump <round> <tag> <q1,q2,…> [sfDir]`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val round = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = Session(logLevel = "ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    val outDir = new java.io.File(s"plans/$round")
    outDir.mkdirs()
    names.foreach { name =>
      val before = jobs.get()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val constructionJobs = jobs.get() - before
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val f = new java.io.File(outDir, s"${name}_$tag.txt")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try {
        w.println(plan)
        w.println(s"-- construction jobs: $constructionJobs")
      } finally w.close()
      println(s"$name -> $f (construction jobs: $constructionJobs)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
