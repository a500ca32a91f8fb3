package graft

/** Dev tool: print the formatted physical plan of one query and time N
  * executions (noop sink). `runMain graft.Explain <name> [sfDir] [runs]`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = Session()
    // Per-stage wall/GC/spill/shuffle metrics for stages over 500 ms —
    // separates plan problems (spill, fat shuffles) from box noise (GC,
    // long gaps between cheap stages) when a timing looks off.
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
        if (dur > 500) {
          val m = si.taskMetrics
          println(f"[stage] id=${si.stageId} ${dur / 1e3}%.1fs tasks=${si.numTasks} " +
            f"gc=${m.jvmGCTime / 1e3}%.1fs spillMem=${m.memoryBytesSpilled / 1e6}%.0fMB " +
            f"shufWrite=${m.shuffleWriteMetrics.bytesWritten / 1e6}%.0fMB " +
            f"shufRead=${(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6}%.0fMB")
        }
      }
    })
    // job counter: iterative operators (label propagation, Lloyd
    // rounds) spend their time in CONSTRUCTION-phase actions — the
    // count separates driver round-trip overhead from plan cost
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    val df = SparkEntry.queries(name)(spark, sfDir)
    println(s"JOBS at construction: ${jobs.get()}")
    df.explain("formatted")
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"RUN$i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
