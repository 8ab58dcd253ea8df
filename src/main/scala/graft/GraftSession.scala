package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration graft's mains and test suite
  * share. Fixed for every caller: UTC session time zone (the ts contract in
  * [[TpchGraph]] and the DuckDB oracles assume it), Spark UI off, and
  * int64-nanosecond parquet timestamps read as longs. */
object GraftSession {
  def apply(master: String, shufflePartitions: Int, aqe: Boolean = true,
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
