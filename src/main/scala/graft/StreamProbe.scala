package graft

/** Dev tool (the [[Explain]] of the streaming fixtures): run ONE
  * streaming query end-to-end `runs` times, timing each invocation,
  * and dump the last run's per-micro-batch progress — triggerExecution
  * / addBatch / getBatch / walCommit / stateOperators commit times —
  * so fixture cost decomposes into staging, per-batch engine overhead,
  * and state-store work instead of one opaque wall number.
  * `runMain graft.StreamProbe <name> [sfDir] [runs]`.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = Session()
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      println(f"RUN$i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    val progress = name match {
      case "st_join" | "st_join_rocksdb" => queries.StreamingQueries.lastJoinProgress
      case "st_wc_update" => queries.StreamingQueries.lastWcProgress
      case "st_dedup" | "st_dedup_rocksdb" => queries.StreamingQueries.lastDedupProgress
      case "st_tws_count" => queries.StreamingQueries.lastTwsProgress
      case "st_tws_ttl" => queries.StreamingQueries.lastTtlProgress
      case "st_lsh_dedup" => queries.StreamingQueries.lastLshProgress
      case "st_pipeline" => queries.StreamingQueries.lastPipeProgress
      case _ => Nil
    }
    progress.foreach(println)
    spark.stop()
  }
}
