package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Data-derived partition scoping: the derivation's clamp algebra, the
  * scoped session (its own width, the caller's conf untouched, also from
  * another thread), and — the part that matters for the graded operators
  * — that each scoped operator's internally-executed stages land at the
  * derived count instead of the session width. */
class PartsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("forRows: ceil(rows/target) clamped to [1, session]") {
    // session shuffle partitions in the test JVM is 4
    assert(Parts.forRows(spark, 0L, 150000L) === 1)
    assert(Parts.forRows(spark, 1L, 150000L) === 1)
    assert(Parts.forRows(spark, 150000L, 150000L) === 1)
    assert(Parts.forRows(spark, 150001L, 150000L) === 2)
    // cap: volume past session × target hands back the session width
    // unchanged — a cluster deployment keeps its own parallelism
    assert(Parts.forRows(spark, 10000000L, 150000L) === 4)
  }

  test("forBytes: floor holds below it, cap holds above it") {
    assert(Parts.forBytes(spark, 0L, 256L << 20, floor = 4) === 4)
    assert(Parts.forBytes(spark, 2L << 20, 256L << 20, floor = 4) === 4)
    // 116 MB (the sf10 events volume) still derives the floor — the r15
    // sf10 state-partition receipts carry over unchanged
    assert(Parts.forBytes(spark, 116L << 20, 256L << 20, floor = 4) === 4)
    assert(Parts.forBytes(spark, 100L << 30, 256L << 20, floor = 4) === 4)
  }

  test("pathBytes sizes a file: URI through its Hadoop FileSystem") {
    val f = new java.io.File(TestSpark.sfDir, "events.parquet")
    assert(f.length() > 0)
    assert(Parts.pathBytes(spark, f.toURI.toString) === f.length())
    assert(Parts.pathBytes(spark, TestSpark.sfDir) ===
      new java.io.File(TestSpark.sfDir).listFiles().map(_.length()).sum)
    assert(Parts.pathBytes(spark, s"${TestSpark.sfDir}/missing.parquet") === 0L)
  }

  private val Key = "spark.sql.shuffle.partitions"

  /** `body`'s result and the shuffle widths of each SQL execution it
    * starts whose plan mentions `marker`. */
  private def widthsOf[A](marker: String)(body: => A): (A, Seq[Seq[Int]]) = {
    val (out, planned) = TestSpark.plannedDuring(body)
    val hits = planned.filter(_.plan.contains(marker)).map(_.widths)
    assert(hits.nonEmpty && hits.forall(_.nonEmpty),
      s"no shuffle planned by an execution mentioning $marker: $hits")
    out -> hits
  }

  test("a scope runs in its own session at its width and leaves the " +
    "caller's conf alone") {
    val t = TestSpark.tables
    val (seen, outer) = Parts.scoped(t, 2) { c =>
      (c.spark.conf.get(Key), spark.conf.get(Key)) -> (c.spark ne spark)
    }
    assert(seen === ("2" -> "4") && outer)
    intercept[RuntimeException] {
      Parts.scoped(t, 2)(_ => throw new RuntimeException("x"))
    }
    assert(spark.conf.get(Key) === "4")
    assert(org.apache.spark.sql.SparkSession.getActiveSession
      .forall(_ eq spark), "a scope leaked its session as the active one")
  }

  test("a batch scope on one thread does not change another thread's " +
    "plans or the caller's conf") {
    val t = TestSpark.tables
    val inScope = new java.util.concurrent.CountDownLatch(1)
    val parentPlanned = new java.util.concurrent.CountDownLatch(1)
    @volatile var scopedPlan = ""
    @volatile var failure: Option[Throwable] = None
    val scoped = new Thread(() =>
      try Parts.scoped(t, 2) { c =>
        inScope.countDown()
        parentPlanned.await()
        scopedPlan = c.spark.range(100).groupBy(col("id") % 7).count()
          .queryExecution.executedPlan.toString
      } catch { case e: Throwable => failure = Some(e) }
      finally inScope.countDown())
    scoped.start()
    assert(inScope.await(60, java.util.concurrent.TimeUnit.SECONDS))
    val parentPlan =
      try {
        assert(spark.conf.get(Key) === "4")
        spark.range(100).groupBy(col("id") % 7).count()
          .queryExecution.executedPlan.toString
      } finally parentPlanned.countDown()
    scoped.join(60000)
    failure.foreach(e => throw e)
    assert("hashpartitioning\\(.*, 4\\)".r.findFirstIn(parentPlan).nonEmpty,
      s"the parent query must plan at the session width:\n$parentPlan")
    assert("hashpartitioning\\(.*, 2\\)".r.findFirstIn(scopedPlan).nonEmpty,
      s"the scoped query must plan at its width:\n$scopedPlan")
    assert(spark.conf.get(Key) === "4")
  }

  // sf0.001's gram, document and edge relations are far under one
  // 30K-, 150K- and 150K-row target, so each scope derives 1; the session
  // width is 4

  test("d13's gram matrix executes at its derived width") {
    for (w <- widthsOf("collect_set")(graft.dedup.Dedup.queries(
           "d13_cross_source_overlap")(TestSpark.tables))._2)
      assert(w.toSet === Set(1), s"d13 matrix widths $w")
    assert(spark.conf.get(Key) === "4")
  }

  test("p05's rollup tail executes at its derived width") {
    for (w <- widthsOf("shift_bp")(graft.pipeline.PipelineQueries.queries(
           "p05_dedup_aware_mixture")(TestSpark.tables))._2)
      assert(w.toSet === Set(1), s"p05 tail widths $w")
    assert(spark.conf.get(Key) === "4")
  }

  test("graph loop rounds execute at the edge-derived count, not the session width") {
    val t = TestSpark.tables
    // every round's label exchange and aggregate is in the one
    // checkpointed plan, which scans the persisted edges
    val (out, loop) = widthsOf("component")(
      graft.operators.GraphOps.queries("g02_connected_components")(t))
    for (w <- loop) assert(w.toSet === Set(1), s"g02 loop widths $w")
    assert(out.rdd.getNumPartitions === 1,
      "g02's checkpointed loop output should hold the derived (1) " +
        "partition count, not the session's 4")
    assert(spark.conf.get(Key) === "4")
  }

  test("near-dup propagation executes at the pair-derived count") {
    val t = TestSpark.tables
    // every propagation round's checkpoint (the neighbor-min join) runs at
    // the pair-derived width, 1 at sf0.001; d15's survivorship aggregate
    // over the labels plans at the session width
    val (out, rounds) = widthsOf("n_comp")(
      graft.dedup.Dedup.queries("d15_neardup_survivor")(t))
    for (w <- rounds) assert(w.toSet === Set(1), s"propagation round widths $w")
    assert("hashpartitioning\\(.*, 4\\)".r
      .findFirstIn(out.queryExecution.executedPlan.toString).nonEmpty)
    assert(spark.conf.get(Key) === "4")
  }
}
