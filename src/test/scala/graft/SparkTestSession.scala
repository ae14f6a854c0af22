package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites, with the engine's
  * streaming checkpoint settings. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(EngineSession.StreamingConfs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}
