package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One session configuration for every entry point, and the shared pieces
  * of the command-line mains (Harness, Verify's dump loop). */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("GraftSession.build is the only session builder under src/") {
    val needle = "SparkSession" + ".builder" // split so this file does not match
    val root = Paths.get(sys.props("user.dir"), "src")
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "GraftSession.scala")
        .filter(p => Files.readString(p).contains(needle))
        .map(root.relativize(_).toString).toList
      finally walk.close()
    assert(Files.isRegularFile(root.resolve("main/scala/graft/GraftSession.scala")))
    assert(offenders.isEmpty, s"hand-rolled session builders: $offenders")
  }

  test("a query-name filter with an unknown name throws") {
    assert(Harness.queryNames("SPARK_GRAFT_BENCH_ONLY", None).isEmpty)
    assert(Harness.queryNames("SPARK_GRAFT_BENCH_ONLY",
      Some("w01_etl_partitioned_roundtrip, d12_threshold_curve")) ==
      Some(Set("w01_etl_partitioned_roundtrip", "d12_threshold_curve")))
    val e = intercept[RuntimeException] {
      Harness.queryNames("SPARK_GRAFT_BENCH_ONLY",
        Some("w01_etl_partitioned_roundtrip,w01_typo"))
    }
    assert(e.getMessage.contains("SPARK_GRAFT_BENCH_ONLY"))
    assert(e.getMessage.contains("w01_typo"))
  }

  test("the shared test session carries GraftSession's configuration") {
    assert(spark.conf.get("spark.sql.extensions") ==
      "graft.functions.GraftExtensions")
    assert(spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .contains(graft.plans.GlobalWindowToAgg))
    assert(spark.conf.get(GraftSession.CkptChecksumKey) == "false")
    assert(spark.conf.get(GraftSession.CodegenCacheKey) ==
      GraftSession.CodegenCacheMaxEntries.toString)
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      .equalsIgnoreCase("dynamic"))
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("oracle_sql.json round-trips quotes, backslashes and control chars") {
    val out = Paths.get(TempDirs.create("graft_oracle_json"))
    val tricky = "a\"b\\c\nd\re\tf\u0001g"
    val sql = Seq(tricky -> s"SELECT '$tricky'", "plain" -> "SELECT 1")
    Harness.writeOracleSql(out.toString, sql)
    val back = new com.fasterxml.jackson.databind.ObjectMapper().readValue(
      out.resolve("oracle_sql.json").toFile,
      classOf[java.util.Map[String, String]])
    assert(back.asScala.toMap == sql.toMap)
  }

  test("Verify: a failing query over an earlier run's dump leaves no dir") {
    val out = Paths.get(TempDirs.create("graft_verify_dump"))
    val stale = Files.createDirectories(out.resolve("boom"))
    Files.writeString(stale.resolve("part-00000.parquet"), "stale")
    Verify.dump(spark, TestSpark.sfDir, out.toString, Seq(
      "boom" -> ((_, _) => throw new IllegalStateException("eager job failed")),
      "ok" -> ((s, _) => s.range(3).toDF())))
    assert(!Files.exists(out.resolve("boom")),
      "a failed query must not leave a stale dump for the oracle to grade")
    assert(spark.read.parquet(out.resolve("ok").toString).count() == 3)
  }
}
