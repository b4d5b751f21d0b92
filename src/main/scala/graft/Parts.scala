package graft

import org.apache.spark.sql.SparkSession

/** Scale-adaptive shuffle-partition sizing for operator-internal stages
  * (r16 optimization round).
  *
  * The problem (guide §2.2/§2.4, PERF_r15's scaling block): a shuffle's
  * reduce-partition count should follow the DATA VOLUME crossing it, not
  * the session's core count. The iterative operators (graph rounds, the
  * dedup label propagation) and the tiny post-kernel rollups run their
  * per-round joins/aggregations over KB–MB relations, yet inherit the
  * session's `spark.sql.shuffle.partitions` (= cores locally, thousands
  * on a cluster) — hundreds of near-empty tasks and M×R shuffle blocks
  * per round whose scheduling/fetch overhead dominates below ~10⁵ rows
  * per stage. AQE coalescing does NOT recover this (measured r16,
  * plans/r16/exp_parfirst_inv.log, medians 0.94–1.16 ≈ noise): coalescing
  * merges the reduce READS but the map side still writes R-way blocks,
  * checkpointed RDDs freeze whatever count materialized, and
  * `parallelismFirst` refuses to shrink below the session parallelism.
  *
  * The fix is the streaming state-store sizing discipline applied
  * to batch internals: the operator derives the partition count from the
  * relation it is about to iterate/aggregate — rows / rows-per-partition,
  * clamped to [1, session] — so small inputs get few partitions locally
  * while corpus-scale inputs keep the deployer's full width (the clamp
  * cap). Nothing is tuned to the core count: the same formula that gives
  * 8 partitions for the 1.2M-row sf0.1 trade-edge relation gives the
  * session's own width once rows/target exceeds it (sf10 already caps).
  *
  * `graft.shufflePartitions` (session conf) overrides the derivation
  * everywhere — the runtime sweep hook for the paired A/B harness and
  * the production escape hatch; the streaming state stores are sized
  * through [[forBytes]], so it overrides them too.
  */
object Parts {

  /** One lock for every scoped mutation of a session conf (batch loop
    * scoping, streaming state scoping and st06's state-store provider all
    * go through [[withConf]]): scoped set/restore of a SESSION conf is
    * only atomic if every writer serializes on the SAME monitor. */
  private val lock = new Object

  private val OverrideKey = "graft.shufflePartitions"

  /** Partition count for an operator-internal stage over `rows` rows:
    * ceil(rows / perPartition) clamped to [1, session shuffle
    * partitions]. `perPartition` is the operator's documented per-row
    * cost class (how many rows amortize one task's scheduling overhead
    * at that operator's per-row work), not a global constant. */
  def forRows(spark: SparkSession, rows: Long, perPartition: Long): Int =
    overrideOr(spark) {
      val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
      math.max(1L, math.min(session.toLong,
        (rows + perPartition - 1) / perPartition)).toInt
    }

  /** Same clamp for a stage whose volume is known only as input BYTES
    * (streaming sources sized before any job runs): floor is the
    * caller's minimum (state stores keep ≥4 for commit pipelining),
    * cap is the session width. */
  def forBytes(spark: SparkSession, bytes: Long, perPartitionBytes: Long,
      floor: Int): Int =
    overrideOr(spark) {
      val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
      math.max(floor.toLong, math.min(session.toLong,
        (bytes + perPartitionBytes - 1) / perPartitionBytes)).toInt
    }

  private def overrideOr(spark: SparkSession)(derive: => Int): Int =
    spark.conf.getOption(OverrideKey) match {
      case Some(v) if v != "auto" && v.toInt > 0 => v.toInt
      case _ => derive
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

  /** Run `f` — which must EXECUTE its jobs inside (localCheckpoint /
    * streaming drain / eager collect), not merely build a lazy plan —
    * with `spark.sql.shuffle.partitions` scoped to `n`, restoring the
    * previous value after. Serialized on [[lock]]; reentrant (a scoped
    * caller may call a scoped helper). The residual exposure — an
    * unrelated concurrent batch query planned at n — does not arise
    * under the driver protocol (Verify/Bench/ScalaTest run queries
    * sequentially), and no operator submits jobs from driver threads. */
  def withShufflePartitions[A](spark: SparkSession, n: Int)(f: => A): A =
    withConf(spark, "spark.sql.shuffle.partitions", n.toString)(f)

  /** Run `f` with the session conf `key` scoped to `value`, restoring the
    * previous value (or unsetting it) after; same lock and contract as
    * [[withShufflePartitions]]. */
  private[graft] def withConf[A](spark: SparkSession, key: String,
      value: String)(f: => A): A =
    lock.synchronized {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try f finally {
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
      }
    }
}
