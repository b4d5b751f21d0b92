package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one lifetime for per-query intermediates: the relations an
  * operator persists or checkpoints for its own plan, never beyond it.
  *
  *  - Keep. An operator keeps a relation its plan reads more than once
  *    (an edge list every loop round joins, a stage every count reads) in
  *    the [[Scope]] [[run]] opens: [[Scope.keep]] persists it at
  *    MEMORY_AND_DISK, [[Scope.checkpoint]] materializes a session-static
  *    relation now (`localCheckpoint`).
  *  - Free. Everything a scope kept is freed when the scope ends, through
  *    [[free]]: when the body returns and also when it throws, so a failed
  *    or retried query leaves nothing in a long-lived session's cache
  *    manager or block store. Freeing does not block and never fails.
  *  - Results. An operator returning a DataFrame materializes it inside
  *    its scope ([[materialized]]): a lazy plan returned past the scope
  *    would re-read freed relations. The result is a `localCheckpoint`,
  *    not a kept relation; its blocks go when its plan is unreferenced.
  *  - Nesting with `Parts.scoped`. A cloned session shares its parent's
  *    cache manager, so a scope may be opened on either side. A relation
  *    kept on the caller and re-homed into the clone is the same cache
  *    entry, freed where it was kept; an operator whose plan executes in
  *    the clone materializes its result inside the clone, where the
  *    clone's width applies.
  *
  * Snapshot artifacts, which outlive queries, are [[SnapshotCache]]'s;
  * it frees a superseded artifact through the same [[free]]. */
object Intermediates {

  /** What one [[run]] keeps until it ends. */
  final class Scope private[Intermediates] {
    private[Intermediates] val held =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** `df` persisted at MEMORY_AND_DISK until the scope ends. */
    def keep(df: DataFrame): DataFrame = {
      held += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }

    /** `df` materialized now (`localCheckpoint`), stored until the scope
      * ends. */
    def checkpoint(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint()
      held += ck
      ck
    }
  }

  /** Runs `body` in a new scope and frees what it kept, also on throw. */
  def run[A](body: Scope => A): A = {
    val in = new Scope
    try body(in) finally in.held.foreach(free)
  }

  /** `body`'s plan, executed and materialized before its scope ends. */
  def materialized(body: Scope => DataFrame): DataFrame =
    run(in => body(in).localCheckpoint())

  /** Frees `x` now rather than at some later GC: every Dataset in it,
    * inside tuples too, is unpersisted, and a checkpointed Dataset's RDD
    * as well, because `Dataset.unpersist` only clears the cache manager
    * and leaves `localCheckpoint` blocks in place. A Dataset of a stopped
    * SparkContext has nothing left to free and is not touched. */
  private[graft] def free(x: Any): Unit = x match {
    case ds: Dataset[_] if !ds.sparkSession.sparkContext.isStopped =>
      try {
        ds.unpersist(blocking = false)
        ds.queryExecution.logical match {
          case r: LogicalRDD => r.rdd.unpersist(blocking = false)
          case _ => ()
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    case p: Product => p.productIterator.foreach(free)
    case _ => ()
  }
}
