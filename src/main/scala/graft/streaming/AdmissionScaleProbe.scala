package graft.streaming

import org.apache.spark.sql.functions._

/** st17 long-horizon scale probe (round-13 verdict task 4): run the
  * admission session at an arbitrary SF with MANY micro-batches — one
  * incoming file per batch — so the seen_fps snapshot compaction
  * threshold is crossed LIVE (≥2 compactions at nChunks ≥ 2×threshold),
  * not just in the low-threshold spec leg. Prints the per-batch
  * dir-count curve (via admissionSession's stderr lines), asserts the
  * final snapshot-dir count is bounded by the threshold (+1 current),
  * and dumps the rollup parquet + the p06 oracle SQL in the Verify
  * layout, so `tools/check_oracle.py <sfDir> <outDir>` grades the
  * admission decision against DuckDB at that SF.
  *
  * Usage: runMain graft.streaming.AdmissionScaleProbe <sfDir> <outDir> <nChunks>
  */
object AdmissionScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, nChunksS) = args
    val nChunks = nChunksS.toInt
    val spark = graft.Harness.session()

    val rd = StreamQueries.incomingReplayDir(spark, sfDir, nChunks)
    val bench = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 50 === 0)
    val out = graft.TempDirs.create("graft_st17_scale_probe")
    val t0 = System.nanoTime()
    StreamQueries.admissionSession(spark, rd, rd + ".index", bench, out)
    val sec = (System.nanoTime() - t0) / 1e9
    val finalDirs = StreamQueries.admissionBatchDirs(out, "seen_fps").size
    // bound: ≤ threshold prior snapshots survive a compaction sweep, +1
    // for the current batch's own (never-compacted) snapshot
    val bound = StreamQueries.SeenFpsCompactThreshold + 1
    println(f"[probe] $nChunks batches in $sec%.1f s " +
      f"(${sec / nChunks}%.2f s/batch); final seen_fps dirs=$finalDirs " +
      s"(bound=$bound, threshold=${StreamQueries.SeenFpsCompactThreshold})")
    require(finalDirs <= bound,
      s"seen_fps dir count $finalDirs exceeds bound $bound — compaction " +
        "is not keeping long-horizon state bounded")

    val rollup = StreamQueries.admissionStagesRollup(spark, out)
    rollup.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/st17_stream_admission")
    // the Verify-layout oracle file, so check_oracle.py runs unchanged
    graft.Harness.writeOracleSql(outDir, Seq("st17_stream_admission" ->
      graft.pipeline.PipelineQueries.oracles("p06_incremental_curation")))
    spark.stop()
  }
}
