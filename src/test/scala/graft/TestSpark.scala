package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (sbt forks one test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(GraftSession.CodegenCacheKey, GraftSession.CodegenCacheMaxEntries)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-warehouse-${System.getProperty("user.name")}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"
  def tables: Tables = Tables(spark, sfDir)
}
