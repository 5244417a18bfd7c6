package graft

import org.apache.spark.sql.SparkSession

/** The one session factory. Bench, Verify, the golden sweep, the specs
  * and the probe harness all take their session from here, so they run
  * one runtime config. */
object Runtime {
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries ns timestamps: they load as BIGINT ns
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
