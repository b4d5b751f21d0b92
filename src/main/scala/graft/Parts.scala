package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Data-derived shuffle widths for operator-internal stages: a shuffle's
  * reduce-partition count follows the volume crossing it, clamped to the
  * session's `spark.sql.shuffle.partitions`, so KB-sized loop rounds and
  * rollups run few tasks locally while corpus-scale inputs keep the
  * deployer's width. Why AQE coalescing does not recover this, and the
  * paired sweeps behind each operator's per-partition target:
  * OPTIMIZATION_r16.md §B–C.
  *
  * A batch operator runs at its derived width in its own session
  * ([[scoped]]); a stream takes its state width as a `drain` argument
  * (StreamQueries). Neither changes the caller's session.
  */
object Parts {

  /** Partition count for an operator-internal stage over `rows` rows:
    * ceil(rows / perPartition) clamped to [1, session shuffle
    * partitions]. `perPartition` is the operator's documented per-row
    * cost class (how many rows amortize one task's scheduling overhead
    * at that operator's per-row work), not a global constant. */
  def forRows(spark: SparkSession, rows: Long, perPartition: Long): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1L, math.min(session.toLong,
      (rows + perPartition - 1) / perPartition)).toInt
  }

  /** Same clamp for a stage whose volume is known only as input BYTES
    * (streaming sources sized before any job runs): floor is the
    * caller's minimum (state stores keep ≥4 for commit pipelining),
    * cap is the session width. */
  def forBytes(spark: SparkSession, bytes: Long, perPartitionBytes: Long,
      floor: Int): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(floor.toLong, math.min(session.toLong,
      (bytes + perPartitionBytes - 1) / perPartitionBytes)).toInt
  }

  /** Byte size of a table file or dir, summed below it — the pre-job
    * volume estimate `forBytes` consumes. Sized through the Hadoop
    * `FileSystem` of the path's scheme (local, HDFS, S3, ...) with the
    * session's Hadoop conf; a missing path is 0 bytes. */
  def pathBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    try p.getFileSystem(spark.sessionState.newHadoopConf())
      .getContentSummary(p).getLength
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Runs `f` over `t`'s tables in a clone of `t`'s session whose
    * `spark.sql.shuffle.partitions` is `n`: the operator's own session,
    * so no caller of `t.spark`, on any thread, sees the width. The clone
    * copies the conf, temp views and registered functions and shares the
    * SparkContext and the cache manager, so persisted inputs still hit and
    * nothing is restored after.
    *
    * The width reaches only plans that are built and executed inside `f`
    * and homed on the clone. The clone is this thread's active session
    * while `f` runs, because a `repartition` fixes its count when it is
    * built. A plan executes in the session it is homed on and a join takes
    * its left side's, so `f` re-homes ([[home]]) every relation it takes
    * from outside — a snapshot artifact, a persisted parent relation —
    * before building on it. A lazy plan that escapes `f` gets no width;
    * re-home a result to the caller's session before returning it. */
  def scoped[A](t: Tables, n: Int)(f: Tables => A): A = {
    val own = ColumnBridge.fork(t.spark)
    own.conf.set("spark.sql.shuffle.partitions", n.toString)
    val active = SparkSession.getActiveSession
    SparkSession.setActiveSession(own)
    try f(t.copy(spark = own))
    finally active.fold(SparkSession.clearActiveSession())(
      SparkSession.setActiveSession)
  }

  /** `df`'s plan as a DataFrame of `spark`, which plans and runs it. */
  def home(spark: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq spark) df
    else ColumnBridge.ofRows(spark, df.queryExecution.analyzed)
}
