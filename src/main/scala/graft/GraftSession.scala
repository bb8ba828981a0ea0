package graft

import org.apache.spark.sql.SparkSession

/** The local session every main runs on: `local[$SPARK_GRAFT_CPUS]`
  * (default 4), shuffle partitions = cpus, UTC, UI off. It presets no
  * parquet read flags: the `events.parquet` readers set `nanosAsLong`
  * themselves ([[QueriesCore.nanosAsLong]]). */
object GraftSession {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
