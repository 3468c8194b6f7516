package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object SparkTestSession {
  lazy val get: SparkSession = {
    val s = SessionConf.builder("4", "4")
      .appName("graft-test")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
