package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** The per-application caches that keep fixed per-query costs out of warm
  * queries: the `Tables` schema cache (schema inference is a Spark job)
  * and the generated-class cache that GraftSession.build sizes. */
class SessionCachesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val out = TestSpark.listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!Option(e.properties)
              .exists(_.getProperty(TestSpark.SentinelMarker) != null))
          jobs.incrementAndGet()
    })(body)
    (out, jobs.get)
  }

  private def withTempDir[A](body: Path => A): A = {
    val dir = Files.createTempDirectory("graft_tables_spec")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def writeTable(dir: Path, cols: String*): Unit =
    spark.range(5).selectExpr(cols: _*).coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("t.parquet").toString)

  test("reopening an unchanged table runs no Spark job and keeps its schema") {
    withTempDir { dir =>
      writeTable(dir, "id", "cast(id as string) AS s")
      val t = Tables(spark, dir.toString)
      val (first, firstJobs) = jobsDuring(t.table("t"))
      assert(firstJobs > 0, "the first open infers the schema with a job")
      val (again, againJobs) = jobsDuring(t.table("t"))
      assert(againJobs == 0, "a reopen must be served from the schema cache")
      assert(again.schema == first.schema)
      assert(again.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))
    }
  }

  test("rewriting a table with an extra column is seen by the next open") {
    withTempDir { dir =>
      writeTable(dir, "id")
      val t = Tables(spark, dir.toString)
      assert(t.table("t").columns.toSeq == Seq("id"))
      writeTable(dir, "id", "id * 2 AS twice")
      val df = t.table("t")
      assert(df.columns.toSeq == Seq("id", "twice"))
      assert(df.selectExpr("sum(twice)").head().getLong(0) == 20L)
    }
  }

  test("a different nanosAsLong value does not reuse the cached schema") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.getOption(key)
    withTempDir { dir =>
      writeTable(dir, "id")
      val t = Tables(spark, dir.toString)
      try {
        spark.conf.set(key, "true")
        t.table("t")
        assert(jobsDuring(t.table("t"))._2 == 0)
        spark.conf.set(key, "false")
        assert(jobsDuring(t.table("t"))._2 > 0,
          "a schema inferred under another nanosAsLong value must not be reused")
        assert(jobsDuring(t.table("t"))._2 == 0)
      } finally old match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("building st04's replayed stream a second time runs no Spark job") {
    val build = () => graft.streaming.StreamQueries.replayedEventsStream(
      spark, TestSpark.sfDir, Nil)
    val (first, _) = jobsDuring(build())
    val (again, againJobs) = jobsDuring(build())
    assert(againJobs == 0,
      "the replay dir and its schema must both come from the session caches")
    assert(again.schema == first.schema && again.isStreaming)
  }

  test("fingerprint of a file:// path changes when the file is rewritten") {
    withTempDir { dir =>
      val f = dir.resolve("part-0.parquet")
      Files.writeString(f, "v1")
      val uri = f.toUri.toString
      assert(uri.startsWith("file:"))
      val fp1 = Tables.fingerprint(spark, uri)
      assert(Tables.fingerprint(spark, uri) == fp1, "unchanged file, same fingerprint")
      Files.writeString(f, "version 2")
      val fp2 = Tables.fingerprint(spark, uri)
      assert(fp2 != fp1)
      // a directory-shaped table: adding a file changes it too
      val dirUri = dir.toUri.toString
      val fpDir = Tables.fingerprint(spark, dirUri)
      Files.writeString(dir.resolve("part-1.parquet"), "more")
      assert(Tables.fingerprint(spark, dirUri) != fpDir)
      assert(Tables.fingerprint(spark, dir.resolve("missing").toUri.toString) ==
        Tables.fingerprint(spark, dir.resolve("missing2").toUri.toString),
        "a missing path hashes its empty listing")
    }
  }

  test("a repeated batch mix recompiles nothing beyond d12's renumbered " +
       "codegen stages") {
    // about 140 distinct generated classes per pass: more than Spark's
    // default cache of 100 holds, so at that size the second pass
    // recompiles dozens of them across the mix
    val d12 = "d12_threshold_curve"
    // st01's stream runs in the session Spark clones when it starts, a
    // new one on every run (as a scoped operator's does)
    val mix = Seq(d12, "t14_pii_scrub", "s01_cosine_topk",
      "p02_observe_metrics", "m01_media_features",
      "w01_etl_partitioned_roundtrip", "st01_stream_window_agg")
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // (Janino compiles while the query ran, whole-stage codegen stages
    // in its executed plan)
    def run(q: String): (Long, Int) = {
      val before = compiles
      val qe = SparkEntry.queries(q)(spark, TestSpark.sfDir).queryExecution
      qe.toRdd.foreach(_ => ())
      val stages = Stages.collect(qe.executedPlan) {
        case w: WholeStageCodegenExec => w
      }.size
      (compiles - before, stages)
    }
    mix.foreach(run)
    val second = mix.map(q => q -> run(q)).toMap
    for ((q, (n, _)) <- second if q != d12)
      assert(n == 0, s"$q recompiled $n generated classes on its second run")
    // Under AQE d12's two aggregate branches can swap codegen stage
    // numbers from run to run (its n_pairs aggregate and its n_docs count
    // are *(5) and *(6) in either order), and the number is part of the
    // generated class name (spark.sql.codegen.useIdInClassName, left at
    // its default), so the first run under a new numbering compiles the
    // renumbered stages as new classes: at most one per stage.
    val (n, stages) = second(d12)
    assert(n <= stages, s"d12 recompiled $n classes, more than its $stages stages")
  }

  private object Stages extends AdaptiveSparkPlanHelper
}
