package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkEntry.sessionBuilder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
