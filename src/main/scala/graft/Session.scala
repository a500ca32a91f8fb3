package graft

import org.apache.spark.sql.SparkSession

/** The one session builder for the dev mains (Explain, PlanDump,
  * PlanAudit, StreamProbe, ScaleStudy, Sweep): `local[cores]` with
  * shuffle partitions = cores, UTC session time zone, UI off. `Bench`
  * and `Verify` keep their own builders: their defaults and output
  * format are a fixed interface.
  */
object Session {

  /** `SPARK_GRAFT_CPUS` when set, else this host's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = cpus, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
