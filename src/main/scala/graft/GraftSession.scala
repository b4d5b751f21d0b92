package graft

import org.apache.spark.sql.SparkSession

/** Front-door session builder with the engine's recommended configuration:
  * AQE (runtime coalescing + skew-join splitting), sane local shuffle
  * parallelism, UTC, and the graft SQL functions registered.
  *
  * On a cluster, pass the real master/shuffle-partition count (a common
  * starting point is 2–3× total executor cores; AQE coalesces down).
  */
object GraftSession {
  /** Streaming checkpoint checksums, set off: Spark 4.1 ships a sidecar
    * .crc write+fsync per checkpoint file per micro-batch — pure overhead
    * on a local filesystem (and on any production DFS that already
    * checksums blocks), measured 0.88–0.98 paired in r15
    * (plans/r15/exp_crc.log). A caller that wants them sets the key back
    * to true on its session. */
  val CkptChecksumKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"

  /** Size of Spark's cache of generated classes (default 100). The cache
    * evicts oldest-first, so a query mix that generates more classes than
    * it holds and repeats in the same order recompiles every class with
    * Janino on every pass: the curation mix generates about 130 per pass,
    * the taxi mix 58, one pass of the whole graded suite about 3200. An
    * entry holds about 30-50 KB of heap, so 1024 costs at most about
    * 45 MB. Spark reads this static conf once per JVM, when its code
    * generator first loads, so a session built elsewhere before this one
    * fixes it for the JVM. */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  val CodegenCacheMaxEntries = 1024

  /** Per-session artifact isolation, set off. With it on, every session
    * runs its tasks under a classloader of its own, and Spark's cache of
    * generated classes is keyed by classloader, so a session cloned per
    * operator scope (Parts.scoped) or per stream start recompiles every
    * class its tasks generate: 42 Janino compiles on each warm g01 run at
    * sf0.1 on 4 cores, and st01 recompiled 14 on every run at sf0.001;
    * 0 with it off. The library adds no session artifacts; jars added
    * through the SparkContext stay visible to every session. */
  val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  def build(master: String = "local[*]",
            shufflePartitions: Int = Runtime.getRuntime.availableProcessors,
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // incremental partitioned writes must only replace the partitions
      // they produce (the default STATIC overwrite deletes the whole
      // table root); the writer also requests this per-write
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // read TIMESTAMP(NANOS) parquet as long once, session-wide (the
      // Tables facade rebuilds microsecond timestamps from it)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(CkptChecksumKey, "false")
      .config(CodegenCacheKey, CodegenCacheMaxEntries)
      .config(ArtifactIsolationKey, "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    // getOrCreate may return a pre-existing session whose extensions were
    // fixed at creation; registering directly makes the functions available
    // either way.
    functions.GraftExtensions.register(spark)
    spark
  }
}
