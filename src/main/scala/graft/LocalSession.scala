package graft

import org.apache.spark.sql.SparkSession

/** The session every main runs on ([[Bench]], [[Verify]], [[Explain]]):
  * `local[SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
  * partitions, UTC session time, no UI, WARN logging.
  */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the localCheckpoint release discipline (unpersist after the last
    // consumer) logs a WARN per released RDD ("was locally checkpointed …
    // cannot be recomputed") — by design the lineage is dead at that
    // point, and the warning would otherwise crowd the stored tail of the
    // bench output
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
