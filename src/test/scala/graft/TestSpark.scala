package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (sbt forks one test JVM), built
  * through the front door like every main; the warehouse dir, UI and time
  * zone come from the test JVM's system properties (build.sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.build("local[4]", 4, "graft-tests")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"
  def tables: Tables = Tables(spark, sfDir)
}
