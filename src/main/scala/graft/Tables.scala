package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Facade over the driver-generated parquet tables for one scale-factor dir.
  *
  * All operators read through this; Catalyst handles column pruning and
  * filter pushdown into the parquet scans, so no data caching or manual
  * projection is needed here. Only each file's schema is cached (see
  * [[Tables.read]]). At cluster scale the same facade would point at
  * partitioned table roots instead of single files.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  /** events.parquet has shipped `ts` in two physical spellings across
    * testdata generations: TIMESTAMP(NANOS) — which Spark's vectorized
    * reader only accepts as a raw nano LONG under the nanosAsLong legacy
    * conf — and plain microsecond TIMESTAMP (read natively). Normalize
    * either to a session-TZ TimestampType via [[Tables.normalizeTs]] so
    * operators and oracles see identical values regardless of generation.
    */
  def events: DataFrame = {
    // nanosAsLong is set at build time by GraftSession.build, which every
    // entry point in this library uses; this fallback
    // only fires for a caller-supplied session that lacks it, since the
    // conf is read at scan planning and the read fails without it.
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
          .forall(_ != "true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeTs(table("events"))
  }
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Register every table as a temp view so `spark.sql` works against the
    * same data (the SQL entry path, q41). */
  def registerViews(): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { n =>
      table(n).createOrReplaceTempView(n)
    }

  /** The testdata files are single-row-group parquet, so a scan is one
    * task no matter how many cores exist. Compute-heavy per-row kernels
    * (MinHash/SimHash signatures, cosine math) fan out through a cheap
    * round-robin repartition first — O(file size) shuffle, full-core map
    * stage. The repartition is CONDITIONAL on the planned scan
    * parallelism: once the source has enough splits to occupy the cores
    * (a production table always does; locally, lower
    * spark.sql.files.maxPartitionBytes achieves it), the shuffle is pure
    * overhead — the full text payload written and re-read — and is
    * skipped automatically. `df.rdd` only plans (computes FileScan
    * splits); it runs no job. */
  private def wide(df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }
  def documentsWide: DataFrame  = wide(documents)
  def embeddingsWide: DataFrame = wide(embeddings)

  /** The content fingerprint of table `name` ([[Tables.fingerprint]]):
    * what a [[SnapshotCache]] artifact built from the table is keyed on,
    * so a rewritten table can never be served an artifact of its old
    * contents. */
  def tableFingerprint(name: String): String =
    Tables.fingerprint(spark, s"$dir/$name.parquet")
}

object Tables {
  /** The confs that change what parquet schema inference returns for the
    * same file; a cached schema is only reused under the same values. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val schemas = new SnapshotCache[StructType]

  /** Opens a parquet table with its cached schema ([[schemaOf]]): a read
    * with an explicit schema runs no job, so only a table's first open in
    * an application pays the inference job. A miss returns the read that
    * inferred the schema rather than opening the table a second time with
    * it: that second open costs about 30 ms a table in a fresh session
    * (the taxi benchmark's `setup_s`, ten table opens, rose from 0.92 to
    * 1.24 s, medians of ten runs each on a 4-core host). */
  private[graft] def read(spark: SparkSession, path: String): DataFrame = {
    var inferring: Option[DataFrame] = None
    val schema = cachedSchema(spark, path) {
      val df = spark.read.parquet(path)
      inferring = Some(df)
      df.schema
    }
    inferring.getOrElse(spark.read.schema(schema).parquet(path))
  }

  /** The schema of the parquet table at `path`, inferred at most once per
    * application; the streaming sources take it as their explicit
    * schema. */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType =
    cachedSchema(spark, path)(spark.read.parquet(path).schema)

  /** Schema inference is a Spark job (a parallel footer merge) that would
    * otherwise run on every query. The schema is cached per (path,
    * inference confs) and invalidated by the application id and the
    * path's [[fingerprint]], so a rewritten table is inferred afresh and a
    * new application supersedes the previous one's entry. */
  private def cachedSchema(spark: SparkSession, path: String)(
      infer: => StructType): StructType = {
    val scope = (path +: InferenceConfs.map(k =>
      s"$k=${spark.conf.getOption(k).getOrElse("")}")).mkString(":")
    schemas.perApplication(spark.sparkContext.applicationId, scope,
      Seq(fingerprint(spark, path)))(infer)
  }

  /** Normalizes the events `ts` column to a microsecond TimestampType
    * regardless of how the parquet stores it: a raw nano LONG (the
    * TIMESTAMP(NANOS) generation, read under the nanosAsLong legacy conf)
    * is truncated ns→µs with integer DIV — the same truncation DuckDB
    * applies, so oracles agree — and a native TIMESTAMP_NTZ column is
    * cast to TimestampType, a value-identity under the UTC session
    * timezone every entry point in this library pins. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Content fingerprint of a table path: the hash of every file's
    * path, length and modification time below it, listed through the
    * Hadoop `FileSystem` of the path's scheme (local, HDFS, S3, ...) with
    * the session's Hadoop conf. A missing path hashes its empty listing. */
  private[graft] def fingerprint(spark: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.getName).flatMap(walk)
      else Seq(st)
    val files =
      try walk(fs.getFileStatus(root))
      catch { case _: java.io.FileNotFoundException => Nil }
    files.map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
      .mkString("|").hashCode.toHexString
  }
}
