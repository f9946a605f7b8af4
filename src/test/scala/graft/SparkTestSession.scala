package graft

import org.apache.spark.sql.SparkSession

/** One shared session for all suites (Test/fork gives one JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = Sessions.builder(4, "graft-test").getOrCreate()
}
