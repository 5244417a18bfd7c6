package graft

import org.apache.spark.sql.SparkSession

/** The session every spec runs on. The specs share one forked JVM, so
  * they must also share one config: a spec that built its own would
  * fix the core count and leak its runtime confs into whichever specs
  * run after it. */
trait SparkTest {
  lazy val spark: SparkSession = Runtime.session(4)
}
