package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // shared checkpoint-checksum default (GraftSession) — Verify and
      // Bench must grade the same streaming configuration (r16; closes
      // the r15 Bench-only conf skew)
      .config(GraftSession.CkptChecksumKey, GraftSession.ckptChecksumDefault)
      .config(GraftSession.CodegenCacheKey, GraftSession.CodegenCacheMaxEntries)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // ADVICE r10: refuse a stray GRAFT_NMEDIA (it rescales the graded
    // media corpus AND every generated oracle together, so the compare
    // itself cannot flag it); decade audits declare GRAFT_NMEDIA_AUDIT=1.
    graft.multimodal.BinaryPipeline.assertGradedCorpusOrAudit("verify")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated name filter for targeted local iteration
    // (unset in driver runs → full dump).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Fail fast on typo'd filter names: a filter matching nothing would
    // silently leave stale parquet dumps from a prior full run in outDir,
    // and a later unfiltered check_oracle would grade them as current.
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        sys.error(s"SPARK_GRAFT_VERIFY_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
