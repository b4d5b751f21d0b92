package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Dumps each query's result to `$outDir/<name>`. The directory is
    * deleted before the query runs: many queries run jobs while they are
    * built, so a failure there would otherwise leave an earlier run's dump
    * in place for the oracle compare to grade as current. A failed query
    * is reported on stderr and leaves no directory. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Unit =
    queries.foreach { case (name, fn) =>
      val path = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(path.toString)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    // ADVICE r10: refuse a stray GRAFT_NMEDIA (it rescales the graded
    // media corpus AND every generated oracle together, so the compare
    // itself cannot flag it); decade audits declare GRAFT_NMEDIA_AUDIT=1.
    graft.multimodal.BinaryPipeline.assertGradedCorpusOrAudit("verify")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated name filter for targeted local iteration
    // (unset in driver runs → full dump).
    val only = Harness.queryFilter("SPARK_GRAFT_VERIFY_ONLY")
    dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) })
    Harness.writeOracleSql(outDir, SparkEntry.oracleSql)
    spark.stop()
  }
}
