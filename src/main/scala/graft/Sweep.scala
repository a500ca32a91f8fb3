package graft

import org.apache.spark.sql.SparkSession

/** Config-sweep harness — the role run_MapReduce.py plays for the
  * reference (sweeping process and READ/MAP/REDUCE thread counts over
  * the four chunk layouts, `run_MapReduce.py:28-42`), re-expressed over
  * the knobs that exist in Spark. Prints one `#FINAL:`-style line per
  * config, mirroring the reference's reporting format
  * (`mpi_mapreduce.c:791`); results are committed in `SWEEP.md`, the
  * analog of the reference's published timing table
  * (`mpi_mapreduce.c:8-14`).
  *
  * Two modes:
  *   - `grid [corpusDir]` — shuffle-partitions × input-split-size grid
  *     at a fixed core count: the analog of the reference's
  *     reduce-thread × read-thread grid (reduce parallelism ↔ shuffle
  *     partitions; read/map parallelism ↔ split size).
  *   - `cores [corpusDirs...]` — total-core sweep 1→32, one fresh
  *     `local[n]` session per point, over each chunk layout: the analog
  *     of the reference's process-count sweep, yielding the
  *     speedup/efficiency curves `projectDescription.pdf` p.5-6 asks
  *     for (speedup = T(1)/T(n), efficiency = speedup/n).
  *
  * Every point is min-of-3 after a warm-up run (JIT + page cache), per
  * the box-noise methodology in BENCH_NOTES.md.
  */
object Sweep {

  private def timedRun(spark: SparkSession, corpus: String): Double = {
    val t0 = System.nanoTime()
    graft.core.WordCount.run(spark, Seq(corpus))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** [[Session]] at `cores`, with shuffle partitions pinned at 32 for
    * every core count (see the `cores` mode).
    */
  private def freshSession(cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = Session(cores)
    spark.conf.set("spark.sql.shuffle.partitions", 32L)
    spark
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("grid")
    mode match {
      case "grid" =>
        val corpus =
          if (args.length > 1) args(1) else "/root/reference/file_chunks_130"
        val cpus = Session.cpus
        val spark = freshSession(cpus)
        timedRun(spark, corpus) // warm JVM + FS cache once
        for {
          shufflePartitions <- Seq(4, 8, 16, 32, 64)
          maxPartitionBytes <- Seq(1L << 20, 4L << 20, 16L << 20, 128L << 20)
        } {
          spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
          spark.conf.set("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
          val secs = (1 to 3).map(_ => timedRun(spark, corpus)).min
          println(f"#FINAL: SHUFFLE_PARTITIONS: $shufflePartitions%d " +
            f"MAX_PARTITION_BYTES: ${maxPartitionBytes / (1 << 20)}%dMB " +
            f"CORES: $cpus%d TIME: $secs%.2fs")
        }
        spark.stop()

      case "cores" =>
        val corpora =
          if (args.length > 1) args.drop(1).toSeq
          else Seq(100, 130, 150, 200).map(n => s"/root/reference/file_chunks_$n")
        // One session per (corpus, cores) point, torn down in between —
        // local[n] fixes executor threads at session build time. Shuffle
        // partitions stay at 32 for every point so total work is
        // constant and only the parallelism varies (the reference
        // likewise pins reduce threads at 10 while sweeping processes).
        for (corpus <- corpora; cores <- Seq(1, 2, 4, 8, 16, 32)) {
          val spark = freshSession(cores)
          timedRun(spark, corpus) // warm this session's scheduler + cache
          val secs = (1 to 3).map(_ => timedRun(spark, corpus)).min
          val chunks = corpus.replaceAll(".*_", "")
          println(f"#FINAL: CHUNKS: $chunks%s CORES: $cores%d TIME: $secs%.3fs")
          spark.stop()
        }

      case other =>
        System.err.println(s"unknown sweep mode '$other' (use: grid | cores)")
        sys.exit(2)
    }
  }
}
