package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.core.WordCount
import graft.sources.Tables
import graft.streaming.EventStream

/** Task counters summed per Spark job group, gathered from outside the
  * program by a listener the benchmark registers.
  */
final class Counters extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val sums = mutable.Map.empty[String, mutable.Map[String, Double]]
  // Per-task shuffle read bytes of each running stage, for the largest
  // reduce input ÷ median ratio.
  private val reads = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def add(g: String, k: String, v: Double): Unit = {
    val m = sums.getOrElseUpdate(g, mutable.Map.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }
  private def max(g: String, k: String, v: Double): Unit = {
    val m = sums.getOrElseUpdate(g, mutable.Map.empty)
    m(k) = math.max(m.getOrElse(k, 0.0), v)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    add(g, "jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageInfo.stageId, "")
    add(g, "stages", 1)
    reads.remove(e.stageInfo.stageId).foreach { rs =>
      val sorted = rs.sorted
      val median = sorted(sorted.size / 2).toDouble
      if (median > 0) max(g, "max_partition_ratio", sorted.last / median)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = stageGroup.getOrElse(e.stageId, "")
      add(g, "tasks", 1)
      add(g, "cpu_s", m.executorCpuTime / 1e9)
      add(g, "gc_s", m.jvmGCTime / 1e3)
      add(g, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(g, "shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add(g, "shuffle_write_s", m.shuffleWriteMetrics.writeTime / 1e9)
      add(g, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(g, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(g, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(g, "input_rows", m.inputMetrics.recordsRead.toDouble)
      add(g, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add(g, "output_rows", m.outputMetrics.recordsWritten.toDouble)
      max(g, "peak_task_mem_bytes", m.peakExecutionMemory.toDouble)
      val read = m.shuffleReadMetrics.totalBytesRead
      if (read > 0) reads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += read
    }
  }

  /** Removes and returns the sums of job group `g`. */
  def take(g: String): Map[String, Double] =
    synchronized { sums.remove(g).map(_.toMap).getOrElse(Map.empty) }
}

/** Streaming progress keyed by query name. */
final class Progress extends StreamingQueryListener {
  import StreamingQueryListener._
  private val byName = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Double]]]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs.asScala.map { case (k, v) => s"$k.ms" -> v.toDouble }.toMap
      val ops = p.stateOperators
      byName.getOrElseUpdate(p.name, mutable.ArrayBuffer.empty) += d ++ Map(
        "batch" -> p.batchId.toDouble,
        "input_rows" -> p.numInputRows.toDouble,
        "state_commit.ms" -> ops.map(_.commitTimeMs.toDouble).sum,
        "state_rows" -> ops.map(_.numRowsTotal.toDouble).sum,
        "state_rows_updated" -> ops.map(_.numRowsUpdated.toDouble).sum,
        "state_bytes" -> ops.map(_.memoryUsedBytes.toDouble).sum)
    }
  }

  def take(name: String): Seq[Map[String, Double]] =
    synchronized { byName.remove(name).map(_.toSeq).getOrElse(Nil) }
}

/** One timed unit of work and the counters its Spark jobs reported. */
final case class Sample(wall: Double, counters: Map[String, Double])

/** A span around one call into a program layer. */
final case class Span(name: String, trace: Int, parent: String,
    start: Double, end: Double, counters: Map[String, Double])

/** Drives one workload in one JVM and writes the raw record as JSON.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --cpus N --setups K --group-files G
  *   --mix Q1,Q2,... (the curation queries)
  *
  * Every Spark job runs under a job group, so the listener's counters
  * attach to the unit of work (a job, or a span when tracing) that caused
  * them. Spans are kept in memory and written with the record at the end.
  */
object PerfBench {
  private val T0 = System.nanoTime()
  private def now(): Double = (System.nanoTime() - T0) / 1e9

  /** Untimed arrivals a stream takes before its timed ones. */
  val WarmArrivals = 12
  /** Untimed word-count jobs in the measured session before the timed ones. */
  val WarmJobs = 6

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds of the whole JVM so far: task, driver, GC and JIT threads. */
  def processCpu(): Double = osBean.getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    new PerfBench(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("data"), opt("work"), opt("cpus").toInt,
      opt("setups").toInt, opt("group-files").toInt,
      opt("mix").split(",").toSeq).run()
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Sample => json(Map("wall_s" -> s.wall, "c" -> s.counters))
    case s: Span => json(Map("name" -> s.name, "trace" -> s.trace,
      "parent" -> s.parent, "start" -> s.start, "end" -> s.end, "c" -> s.counters))
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
  }
}

final class PerfBench(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, cpus: Int, setups: Int,
    groupFiles: Int, mix: Seq[String]) {
  import PerfBench._

  private val counters = new Counters
  private val progress = new Progress
  private var spark: SparkSession = _
  private var group = 0
  val jobs = mutable.ArrayBuffer.empty[Sample]
  val traced = mutable.ArrayBuffer.empty[Sample]
  val spans = mutable.ArrayBuffer.empty[Span]
  val extra = mutable.LinkedHashMap.empty[String, Any]

  private def open(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(progress)
  }

  private def drain(): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Runs `body` under a fresh job group; returns its wall time and the
    * counters of the jobs it caused, with the JVM's CPU seconds. */
  private def timed(body: => Unit): Sample = {
    group += 1
    val g = s"g$group"
    spark.sparkContext.setJobGroup(g, g)
    val c0 = processCpu()
    val t0 = now()
    body
    val wall = now() - t0
    drain()
    Sample(wall, counters.take(g) + ("process_cpu_s" -> (processCpu() - c0)))
  }

  private def span(name: String, trace: Int, parent: String)(body: => Unit): Sample = {
    val t0 = now()
    val s = timed(body)
    spans += Span(name, trace, parent, t0, t0 + s.wall, s.counters)
    s
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---- word count (wc_zipf, wc_highcard) ---------------------------------

  private def files = s"$data/files"
  private def sinkDir = s"$work/sink"

  private def wcJob(): Unit =
    WordCount.sink(WordCount.run(spark, Seq(files)), sinkDir)

  /** Nested prefixes of the public pipeline; a layer's self time is its
    * prefix's duration minus the previous prefix's. */
  private def wcTraced(pass: Int): Sample = {
    val root = "pass"
    val t0 = now()
    span("sources.ingest", pass, root) { noop(WordCount.ingest(spark, Seq(files))) }
    span("functions.tokenize_normalize", pass, root) {
      noop(WordCount.tokenize(WordCount.ingest(spark, Seq(files)))
        .select(WordCount.normalize(col("tok")).as("word")))
    }
    span("core.count", pass, root) { noop(WordCount.run(spark, Seq(files))) }
    val full = span("core.sink", pass, root) { wcJob() }
    spans += Span(root, pass, "", t0, now(), Map.empty)
    full
  }

  // ---- curation mix --------------------------------------------------------

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(mix)

  private def query(q: String): Unit = {
    noop(SparkEntry.queries(q)(spark, data))
    spark.catalog.clearCache()
  }

  private def curationTraced(pass: Int): Sample = {
    val root = "pass"
    val t0 = now()
    span("sources.tables", pass, root) {
      val t = Tables(spark, data)
      noop(t.documents); noop(t.embeddings)
    }
    val qs = order(pass).map(q => span(s"queries.$q", pass, root) { query(q) })
    spans += Span(root, pass, "", t0, now(), Map.empty)
    Sample(qs.map(_.wall).sum,
      qs.flatMap(_.counters).groupMapReduce(_._1)(_._2)(_ + _))
  }

  private def curationCheck(): Unit = {
    mix.foreach { q =>
      SparkEntry.queries(q)(spark, data).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/check/$q")
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$work/check/oracle_sql.json"),
      json(SparkEntry.oracleSql.filter { case (k, _) => mix.contains(k) }))
  }

  // ---- streaming word count -------------------------------------------------

  private lazy val groups: Seq[Seq[Path]] =
    Files.list(Paths.get(files)).iterator.asScala.toSeq
      .sortBy(_.getFileName.toString).grouped(groupFiles).toSeq

  /** Lands one group of files as one new sub-directory of `watch`: the
    * files are linked into a hidden staging directory that is then
    * renamed into place, so a trigger sees the whole group or none. */
  private def land(watch: Path, name: String, group: Seq[Path]): Unit = {
    val stage = watch.resolve(s".$name")
    Files.createDirectories(stage)
    group.foreach { f =>
      val to = stage.resolve(f.getFileName)
      try Files.createLink(to, f)
      catch { case _: Exception => Files.copy(f, to) }
    }
    Files.move(stage, watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Clears a processed arrival out of `watch`, as a landing zone is
    * cleared once its batch has committed. The source remembers the files
    * it has read, so nothing is read twice. Left in place, the arrivals
    * pile up: the source lists every sub-directory on each trigger, and
    * from the 33rd on (Spark's parallel-listing threshold) it runs a
    * Spark job to list them, which more than doubled the batch latency. */
  private def clear(watch: Path, name: String): Unit = {
    val dir = watch.resolve(name)
    val ls = Files.list(dir)
    try ls.iterator.asScala.foreach(Files.delete) finally ls.close()
    Files.delete(dir)
  }

  private def startStream(name: String, watch: Path) = {
    Files.createDirectories(watch)
    val sink: (DataFrame, Long) => Unit = (df, _) => noop(df)
    EventStream.wordCountStream(spark, s"$watch/*")
      .writeStream.queryName(name).outputMode("update")
      .option("checkpointLocation", s"$work/ckpt-$name")
      .foreachBatch(sink).start()
  }

  /** Lands groups of files in name order, cycling over the corpus, one
    * group in flight: first `WarmArrivals` untimed ones, then timed ones
    * until `budget` seconds have passed; returns the number of groups
    * landed. A new query's first batches are slow (for ~8 s its process
    * CPU per batch fell by half), so they are not measured. */
  private def feed(name: String, budget: Double, traced: Boolean,
      out: mutable.ArrayBuffer[Sample]): Int = {
    val watch = Paths.get(s"$work/watch-$name")
    val q = startStream(name, watch)
    var n = 0
    def arrive(): Sample = {
      val c0 = processCpu()
      val s0 = now()
      land(watch, f"g$n%05d", groups(n % groups.size))
      q.processAllAvailable()
      val wall = now() - s0
      // The stream runs its jobs under its own job group, the run id.
      drain()
      val s = Sample(wall, counters.take(q.runId.toString) +
        ("process_cpu_s" -> (processCpu() - c0)))
      clear(watch, f"g$n%05d")
      if (traced && n >= WarmArrivals)
        spans += Span("streaming.batch", n, "", s0, s0 + wall, s.counters)
      n += 1
      s
    }
    (1 to WarmArrivals).foreach(_ => arrive())
    val t0 = now()
    while (n == WarmArrivals || now() - t0 < budget) out += arrive()
    q.stop()
    drain()
    // One batch per arrival: batch ids below WarmArrivals are the warm-up.
    extra(s"$name.progress") =
      progress.take(name).filter(_("batch") >= WarmArrivals)
    n
  }

  /** Reads the final per-word counts back from the stream's state store. */
  private def streamCheck(name: String): Unit = {
    val state = spark.read.format("statestore").load(s"$work/ckpt-$name")
    // The value struct holds the count's aggregation buffer, one field.
    val kv = state.select(col("key.word").as("word"), col("value.*"))
    kv.select(org.apache.spark.sql.functions.concat_ws(" ", kv.columns.map(col).toSeq: _*))
      .write.mode("overwrite").text(s"$work/stream_state")
  }

  // ---- driver ------------------------------------------------------------------

  /** Untimed warm-up of one set-up: three jobs (one curation pass; six
    * arrivals into a fresh stream). Over three set-ups that is enough for
    * the JIT to settle before measurement starts: with two in all, job
    * times still fell by ~20% across the measured window. */
  private def warm(i: Int): Unit = workload match {
    case "wc_zipf" | "wc_highcard" => (1 to 3).foreach(_ => wcJob())
    case "curation" => mix.foreach(query)
    case "wc_stream" =>
      val n = s"warm$i"
      val watch = Paths.get(s"$work/watch-$n")
      val q = startStream(n, watch)
      groups.take(6).zipWithIndex.foreach { case (g, k) =>
        land(watch, s"g$k", g); q.processAllAvailable()
      }
      q.stop()
  }

  def run(): Unit = {
    // Set-up: session start plus `warm`, `setups` times; the session of
    // the last set-up is the one measured.
    val setupS = (1 to setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = now()
      open()
      spark.sparkContext.setJobGroup("setup", "setup")
      warm(i)
      val s = now() - t0
      drain(); counters.take("setup")
      s
    }

    // Untimed jobs in the measured session: over its first ten jobs the
    // JVM's CPU seconds per job still fell by up to a fifth.
    if (workload == "wc_zipf" || workload == "wc_highcard")
      (1 to WarmJobs).foreach(_ => wcJob())
    val t0 = now()
    def more = now() - t0 < seconds
    workload match {
      case "wc_zipf" | "wc_highcard" =>
        // Traced runs alternate an untraced job and a traced pass, so both
        // see the same host state.
        var pass = 0
        while (jobs.isEmpty || more) {
          jobs += timed(wcJob())
          if (trace) { traced += wcTraced(pass); pass += 1 }
        }
      case "curation" =>
        var pass = 0
        while (jobs.isEmpty || more) {
          jobs += timed(order(pass).foreach(query))
          if (trace) traced += curationTraced(pass)
          pass += 1
        }
        curationCheck()
      case "wc_stream" =>
        val name = "wc_stream"
        // Traced runs alternate halves: an untraced query, then a traced
        // one with its own checkpoint, progress and state.
        val budget = if (trace) seconds / 2 else seconds
        extra("warm_arrivals") = WarmArrivals
        extra("landed") = feed(name, budget, traced = false, jobs)
        if (trace) extra("traced_landed") = feed("traced", budget, traced = true, traced)
        streamCheck(name)
    }
    val measured = now() - t0

    // Live heap: what the driver still holds once garbage is collected.
    System.gc(); System.gc()
    val live = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    val hwmKb = status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup_s" -> setupS, "measured_s" -> measured,
      "jobs" -> jobs, "traced" -> traced, "spans" -> spans,
      "extra" -> extra.toMap,
      "peak_rss_mb" -> hwmKb / 1024,
      "live_heap_mb" -> live,
      "host" -> Map(
        "spark_master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "available_processors" -> Runtime.getRuntime.availableProcessors))
    spark.stop()
    Files.writeString(Paths.get(s"$work/raw.json"), json(record))
  }
}
