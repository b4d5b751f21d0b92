package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The per-query intermediate lifetime: a scope frees what it kept when
  * it ends, also when its body throws and also across a `Parts.scoped`
  * clone, and every operator that keeps intermediates leaves the shared
  * session's cache manager as it found it. */
class IntermediatesSpec extends AnyFunSuite {
  import TestSpark.{cacheEntries, rddId, released, spark, stored}

  test("a scope that throws frees the relations it kept and its checkpoint") {
    val before = cacheEntries
    var kept = Seq.empty[DataFrame]
    var ck = -1
    val ex = intercept[IllegalStateException] {
      Intermediates.run { in =>
        kept = Seq(in.keep(spark.range(0, 1013).toDF("id")),
          in.keep(spark.range(0, 1019).toDF("id").filter(col("id") % 3 === 0)))
        kept.foreach(_.count())
        ck = rddId(in.checkpoint(spark.range(0, 1021).toDF("id")))
        assert(kept.forall(_.storageLevel == StorageLevel.MEMORY_AND_DISK))
        assert(stored(ck), "a checkpoint is stored while its scope runs")
        assert(cacheEntries == before + 2)
        throw new IllegalStateException("operator failed")
      }
    }
    assert(ex.getMessage == "operator failed", "the body's throw propagates")
    assert(kept.forall(_.storageLevel == StorageLevel.NONE),
      "both kept relations must be unpersisted on the failure path")
    assert(released(ck), "the checkpoint's RDD must leave the block store")
    assert(cacheEntries == before)
  }

  test("a relation kept on the caller and re-homed into a scoped clone is " +
    "freed in the caller's cache manager") {
    val t = TestSpark.tables
    val before = cacheEntries
    var kept: DataFrame = null
    val out = Intermediates.run { in =>
      kept = in.keep(spark.range(0, 2027).toDF("id"))
      kept.count()
      Parts.home(t.spark, Parts.scoped(t, 2) { c =>
        val rehomed = Parts.home(c.spark, kept)
        assert(rehomed.sparkSession ne t.spark)
        assert(rehomed.storageLevel == StorageLevel.MEMORY_AND_DISK,
          "the clone must see the caller's cache entry")
        rehomed.groupBy((col("id") % 3).as("r")).count().localCheckpoint()
      })
    }
    assert(out.count() == 3, "the materialized result outlives the scope")
    assert(kept.storageLevel == StorageLevel.NONE)
    assert(cacheEntries == before)
  }

  test("the operators that keep intermediates leave the cache manager " +
    "unchanged, each run twice") {
    val names = Seq("g01_pagerank", "g02_connected_components",
      "g03_triangle_count", "g04_label_propagation", "g05_bfs_hops",
      "g06_link_prediction", "g07_kcore", "p01_curation_pipeline",
      "p03_mixture_builder", "p04_ablation_matrix", "p05_dedup_aware_mixture",
      "p06_incremental_curation", "q99_theta_sketch", "d13_cross_source_overlap",
      "s15_mmr_diversify", "s16_probe_curve", "st17_stream_admission",
      "st19_stream_upsert_pruned")
    val queries = SparkEntry.queries
    val before = cacheEntries
    for (name <- names; run <- 1 to 2) {
      queries(name)(spark, TestSpark.sfDir).collect()
      assert(cacheEntries == before, s"$name run $run left cache entries")
    }
  }
}
