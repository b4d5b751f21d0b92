package graft

import org.scalatest.funsuite.AnyFunSuite

/** SnapshotCache semantics (round-6 advice): per-scope single-slot
  * caching with eviction on fingerprint change — a regenerated data
  * directory must REPLACE the stale artifact, not accumulate beside it. */
class SnapshotCacheSpec extends AnyFunSuite {

  test("same fingerprint hits; new fingerprint rebuilds and evicts") {
    val cache = new SnapshotCache[String]
    var builds = 0
    def build(v: String): String = { builds += 1; v }
    assert(cache.getOrElseUpdate("scope", "fp1")(build("a")) == "a")
    assert(cache.getOrElseUpdate("scope", "fp1")(build("b")) == "a")
    assert(builds == 1, "same fingerprint must be served from cache")
    // regenerated data → new fingerprint → rebuild, stale value evicted
    assert(cache.getOrElseUpdate("scope", "fp2")(build("c")) == "c")
    assert(builds == 2)
    assert(cache.liveFingerprint("scope").contains("fp2"))
    assert(cache.size == 1, "one live artifact per scope, never two")
    // going BACK to fp1 rebuilds too (single-slot by design: the stale
    // artifact was unreferenced, not archived)
    assert(cache.getOrElseUpdate("scope", "fp1")(build("d")) == "d")
    assert(builds == 3)
  }

  test("a new application's lookup supersedes the previous one's entry") {
    val cache = new SnapshotCache[String]
    assert(cache.perApplication("app-1", "dir:tag", Seq("fp"))("a") == "a")
    assert(cache.perApplication("app-1", "dir:tag", Seq("fp"))("x") == "a")
    assert(cache.perApplication("app-2", "dir:tag", Seq("fp"))("b") == "b")
    assert(cache.size == 1,
      "a stopped application's artifact must not stay live beside the next one's")
  }

  test("scopes are independent") {
    val cache = new SnapshotCache[Int]
    assert(cache.getOrElseUpdate("s1", "fp")(1) == 1)
    assert(cache.getOrElseUpdate("s2", "fp")(2) == 2)
    assert(cache.size == 2)
    assert(cache.getOrElseUpdate("s1", "fp")(99) == 1)
  }

  test("a failed rebuild leaves the previous artifact live") {
    val cache = new SnapshotCache[String]
    assert(cache.getOrElseUpdate("scope", "fp1")("a") == "a")
    intercept[RuntimeException] {
      cache.getOrElseUpdate("scope", "fp2")(
        throw new RuntimeException("build failed"))
    }
    assert(cache.liveFingerprint("scope").contains("fp1"),
      "failed rebuild must not evict the working artifact")
    assert(cache.getOrElseUpdate("scope", "fp1")("b") == "a")
  }

  test("evicting a cached DataFrame releases its blocks deterministically") {
    // round-8 (round-7 verdict item 7): supersession must unpersist the
    // stale artifact at eviction time, not await the ContextCleaner
    val spark = TestSpark.spark
    import org.apache.spark.storage.StorageLevel
    val cache = new SnapshotCache[org.apache.spark.sql.DataFrame]
    val df1 = spark.range(100).toDF("id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    df1.count() // materialize the blocks
    assert(df1.storageLevel != StorageLevel.NONE)
    assert(cache.getOrElseUpdate("scope", "fp1")(df1) eq df1)
    val df2 = spark.range(10).toDF("id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    df2.count()
    assert(cache.getOrElseUpdate("scope", "fp2")(df2) eq df2)
    assert(df1.storageLevel == StorageLevel.NONE,
      "superseded DataFrame must be unpersisted at eviction")
    assert(df2.storageLevel != StorageLevel.NONE,
      "the live artifact must keep its blocks")
    df2.unpersist(blocking = false)
  }

  test("evicting a (DataFrame, Long) entry frees its localCheckpoint blocks") {
    // Dataset.unpersist only clears the cache manager, and a tuple is not
    // a Dataset: the superseded pair graph / edge list shape kept its
    // checkpointed RDD stored until the context stopped
    val spark = TestSpark.spark
    val cache = new SnapshotCache[(org.apache.spark.sql.DataFrame, Long)]
    def build(n: Int) = {
      val ck = spark.range(n).toDF("id").localCheckpoint()
      (ck, ck.count())
    }
    import TestSpark.{rddId, released, stored}
    val (old, _) = cache.getOrElseUpdate("scope", "fp1")(build(100))
    assert(stored(rddId(old)), "the checkpoint must be stored before eviction")
    val (fresh, n) = cache.getOrElseUpdate("scope", "fp2")(build(10))
    assert(n == 10L)
    assert(released(rddId(old)),
      "the superseded checkpoint's RDD must leave the block store")
    assert(stored(rddId(fresh)), "the live artifact must keep its blocks")
    spark.sparkContext.getPersistentRDDs.get(rddId(fresh))
      .foreach(_.unpersist(blocking = false))
  }

  test("rewriting events.parquet supersedes its ETL layout: a new dir, " +
    "and one live entry for the scope") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_snapshot_spec")
    val events = dir.resolve("events.parquet")
    def writeEvents(mtime: Long): Unit = {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(TestSpark.sfDir, "events.parquet"), events,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(events.toFile.setLastModified(mtime))
    }
    try {
      writeEvents(1000000000000L)
      val t = Tables(spark, dir.toString)
      val first = operators.CatalogOps.etlLayout(t)
      assert(operators.CatalogOps.etlLayout(t) == first)
      val live = operators.CatalogOps.etlCache.size
      writeEvents(1000000060000L)
      val second = operators.CatalogOps.etlLayout(t)
      assert(second != first, "a rewritten table must get a new layout")
      assert(operators.CatalogOps.etlCache.size == live,
        "the superseded layout must not stay live beside the new one")
      assert(spark.read.parquet(second).count() ==
        spark.read.parquet(events.toString).count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("per-scope locking: a slow build on one scope does not block hits " +
    "on another") {
    val cache = new SnapshotCache[String]
    cache.getOrElseUpdate("fast", "fp")("ready")
    val slowStarted = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val slow = new Thread(() => {
      cache.getOrElseUpdate("slow", "fp") {
        slowStarted.countDown()
        release.await()
        "built"
      }
      ()
    })
    slow.start()
    assert(slowStarted.await(5, java.util.concurrent.TimeUnit.SECONDS))
    // while the slow scope's build holds its slot lock, an unrelated
    // scope must answer immediately (the old single-monitor spelling
    // deadlocks this wait)
    val hit = new java.util.concurrent.CompletableFuture[String]()
    new Thread(() =>
      hit.complete(cache.getOrElseUpdate("fast", "fp")("rebuilt"))).start()
    assert(hit.get(5, java.util.concurrent.TimeUnit.SECONDS) == "ready")
    release.countDown()
    slow.join(5000)
    assert(cache.liveFingerprint("slow").contains("fp"))
  }
}
