package graft

import org.apache.spark.sql.SparkSession

/** The one place the mains create their Spark session: `local[cpus]` with
  * `cpus` shuffle partitions, UTC session time zone, no UI. `cpus` defaults
  * to SPARK_GRAFT_CPUS (4 when unset). Scale-path tuning stays the caller's
  * choice (`pipeline.Sessions.tune`).
  */
object LocalSpark {
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def session(cpus: Int = envCpus, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
