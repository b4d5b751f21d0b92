package graft

import org.scalatest.funsuite.AnyFunSuite

/** The r16 data-derived partition scoping: the derivation's clamp
  * algebra, the override hook, the scoped set/restore, and — the part
  * that matters for the graded operators — that a loop operator's
  * internally-executed rounds actually land at the derived count
  * instead of the session width. */
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

  test("graft.shufflePartitions overrides the derivation; auto restores it") {
    spark.conf.set("graft.shufflePartitions", "3")
    try {
      assert(Parts.forRows(spark, 1L, 150000L) === 3)
      assert(Parts.forBytes(spark, 0L, 1L, floor = 4) === 3)
      spark.conf.set("graft.shufflePartitions", "auto")
      assert(Parts.forRows(spark, 1L, 150000L) === 1)
    } finally spark.conf.unset("graft.shufflePartitions")
  }

  test("pathBytes sizes a file: URI through its Hadoop FileSystem") {
    val f = new java.io.File(TestSpark.sfDir, "events.parquet")
    assert(f.length() > 0)
    assert(Parts.pathBytes(spark, f.toURI.toString) === f.length())
    assert(Parts.pathBytes(spark, TestSpark.sfDir) ===
      new java.io.File(TestSpark.sfDir).listFiles().map(_.length()).sum)
    assert(Parts.pathBytes(spark, s"${TestSpark.sfDir}/missing.parquet") === 0L)
  }

  test("withShufflePartitions scopes and restores, even on throw") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val seen = Parts.withShufflePartitions(spark, 2)(spark.conf.get(key))
    assert(seen === "2")
    assert(spark.conf.get(key) === before)
    intercept[RuntimeException] {
      Parts.withShufflePartitions(spark, 2)(throw new RuntimeException("x"))
    }
    assert(spark.conf.get(key) === before)
    // reentrant: a scoped caller may call a scoped helper (d16's outer
    // scope around minLabelPropagation-calling legs)
    val nested = Parts.withShufflePartitions(spark, 3) {
      Parts.withShufflePartitions(spark, 2)(spark.conf.get(key)) ->
        spark.conf.get(key)
    }
    assert(nested === ("2" -> "3"))
    assert(spark.conf.get(key) === before)
  }

  test("graph loop rounds execute at the edge-derived count, not the session width") {
    // sf0.001's trade-edge relation is far under one 150K-row target, so
    // the loop scope must derive 1; the materialized labels relation is
    // the last loop round's output and carries its partitioning.
    val t = TestSpark.tables
    val out = graft.operators.GraphOps.queries("g02_connected_components")(t)
    assert(out.rdd.getNumPartitions === 1,
      "g02's checkpointed loop output should hold the derived (1) " +
        "partition count, not the session's 4")
    // and the scope restored the session conf
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("near-dup propagation executes at the pair-derived count") {
    val t = TestSpark.tables
    val out = graft.dedup.Dedup.queries("d15_neardup_survivor")(t)
    // d15 returns a lazy rollup over the checkpointed labels; the labels
    // partitioning is visible through the propagation scope's derivation
    // only at execution — assert the session conf is untouched and the
    // result still computes (the oracle equality lives in check_all).
    assert(out.count() >= 0)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }
}
