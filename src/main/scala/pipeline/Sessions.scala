package pipeline

import org.apache.spark.sql.SparkSession

/** Runtime session tuning for the scale path (SURVEY.md §5 O7/O8/O11).
  * Only runtime-settable confs — the driver owns session creation.
  */
object Sessions {
  def tune(spark: SparkSession): Unit = {
    val set = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      // AQE fixes join/agg skew at runtime; compute skew from
      // mega-conversations is handled by the range exchange in
      // QualityFilterJob (AQE cannot re-split an opaque compute stage)
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (32L * 1024 * 1024).toString)
    set.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
