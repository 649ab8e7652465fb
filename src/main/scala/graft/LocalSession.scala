package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the command-line mains (Bench,
  * Verify, Explain, ScaleProbe), so a plan dump or a scale probe runs
  * under the benched settings: `local[cores]` with as many shuffle
  * partitions, AQE on, UTC session time zone, no UI, WARN logging.
  * Cores come from `SPARK_GRAFT_CPUS`, else `defaultCores`. */
object LocalSession {
  /** Bench's default: the machine's core count, capped at 32. */
  private def machineCores: Int = math.min(32, Runtime.getRuntime.availableProcessors())

  def apply(defaultCores: Int = machineCores): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCores.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
