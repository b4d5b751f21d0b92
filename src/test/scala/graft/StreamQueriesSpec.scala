package graft

import graft.operators.{Analytics, Relational}
import graft.streaming.StreamQueries
import org.scalatest.funsuite.AnyFunSuite

/** st01/st02 end-to-end: the full streaming engine path (FileStreamSource
  * → AvailableNow micro-batches → state store → sink) must reproduce the
  * batch twins' results EXACTLY on the driver testdata — same guarantee
  * the driver's DuckDB gate checks, proven here at sf0.001 row-for-row.
  */
class StreamQueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  test("st01 streaming window agg equals batch q30 exactly") {
    val streamed = StreamQueries.st01(spark, TestSpark.sfDir)
    val batch = Relational.q30(TestSpark.tables)
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(streamed), canon(batch))
    assert(s.nonEmpty && s == b)
  }

  test("st02 streaming sessionization equals batch q31 exactly") {
    val streamed = StreamQueries.st02(spark, TestSpark.sfDir)
    val batch = Relational.q31(TestSpark.tables)
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(streamed), canon(batch))
    assert(s.nonEmpty && s == b)
  }

  test("st03 streaming dedup+count equals batch count-distinct exactly") {
    import org.apache.spark.sql.functions._
    val streamed = StreamQueries.st03(spark, TestSpark.sfDir)
    val batch = TestSpark.tables.events
      .groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(streamed), canon(batch))
    assert(s.nonEmpty && s == b)
  }

  test("shuffled replay delivers >=4 out-of-order micro-batches and " +
    "loses/duplicates nothing") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    // the multi-batch harness st04/st07/st12 ride: assert the structure
    // the exactness arguments depend on — multiple data batches, true
    // cross-batch event-time disorder, and an exact row-multiset union.
    // Pinned at sf0.01 — the driver-graded SF: the 30 min jitter horizon
    // only REORDERS where the inter-event gap is below it (~4 min at
    // sf0.01, ~43 min at the sf0.001 smoke dir, where a bounded-horizon
    // replay of sparse data is legitimately near-ordered).
    val sfDir = "/root/testdata/sf0.01"
    // watermark: progress rows only carry event-time min/max stats when
    // the query tracks event time (no stateful op, so nothing is dropped)
    val replay = graft.streaming.StreamQueries
      .replayedEventsStream(spark, sfDir, Nil)
      .withWatermark("ts", "1 hour")
    val name = "replay_pin_sink"
    val q = replay.writeStream.queryName(name).outputMode("append")
      .format("memory").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 4,
      s"replay must span >=4 data micro-batches (got ${batches.length})")
    // disorder across batches: some later batch's min event time must
    // precede an earlier batch's max (the jitter horizon at work).
    // per-batch event-time min/max ride the progress rows
    val spans = batches.flatMap { p =>
      val et = p.eventTime
      if (et.containsKey("min") && et.containsKey("max"))
        Some((et.get("min"), et.get("max"))) else None
    }
    assert(spans.length >= 4, "event-time stats missing from progress")
    // strict disorder: batch k+1 starts before batch k ends (ISO-8601
    // strings compare lexicographically in time order)
    val disorder = spans.zip(spans.drop(1)).exists {
      case ((_, mx1), (mn2, _)) => mn2 < mx1
    }
    assert(disorder,
      s"consecutive batches must overlap in event time: ${spans.mkString}")
    // exact multiset identity with the batch table (ts normalized)
    val streamedRows = spark.table(name)
      .groupBy("event_id").agg(count(lit(1)).as("c"))
    val batchRows = Tables(spark, sfDir).events
      .groupBy("event_id").agg(count(lit(1)).as("c"))
    assert(streamedRows.exceptAll(batchRows).isEmpty &&
      batchRows.exceptAll(streamedRows).isEmpty,
      "replay must be an exact row multiset of the source table")
  }

  test("st04 streaming interval join equals the batch self-join exactly") {
    import org.apache.spark.sql.functions._
    val streamed = StreamQueries.st04(spark, TestSpark.sfDir)
    val ev = TestSpark.tables.events
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(streamed), canon(batch))
    assert(s.nonEmpty && s == b)
  }

  test("st15 crash-and-recover run equals the uninterrupted batch " +
    "self-join (exactly-once across the injected mid-stream failure)") {
    import org.apache.spark.sql.functions._
    val recovered = StreamQueries.st15(spark, TestSpark.sfDir)
    val ev = TestSpark.tables.events
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
    assert(recovered.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(recovered), canon(batch))
    assert(s.nonEmpty && s == b,
      "recovered run must equal the batch join: loss or duplication " +
        "across the crash boundary breaks this equality")
  }

  test("st14 streaming LSH index emits EXACTLY the batch d02 candidate " +
    "pair set across multi-batch ingest (order-independence of the " +
    "pair relation)") {
    val streamed = StreamQueries.st14(spark, TestSpark.sfDir)
    val batch = dedup.Dedup.d02(TestSpark.tables)
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(streamed), canon(batch))
    assert(s.nonEmpty && s == b,
      s"streaming pair set must equal batch d02 (${s.size} vs ${b.size})")
  }

  test("st17 micro-batched admission equals batch p06 row-for-row " +
    "(first-arrival-wins over the doc_id-range replay ≡ min-doc_id " +
    "survivorship)") {
    val streamed = StreamQueries.st17(spark, TestSpark.sfDir)
    val batch = graft.pipeline.PipelineQueries.p06(TestSpark.tables)
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(streamed), canon(batch))
    assert(s.nonEmpty && s == b,
      s"streaming admission must equal batch p06:\n  stream: $s\n  batch : $b")
  }

  // ---- st17 production-hardening legs (round-12 verdict task 4) ----

  /** Split the st17 replay dir's ascending-doc_id chunks into "days":
    * day N gets the chunks whose index falls in its range, copied with
    * ascending mtimes so each session's FileStreamSource delivers them
    * in arrival order. */
  private def splitReplayDays(rd: String,
      ranges: Seq[Range]): Seq[String] = {
    val chunks = new java.io.File(rd).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(chunks.length >= ranges.map(_.end).max,
      s"replay dir $rd has ${chunks.length} chunks, need ${ranges.map(_.end).max}")
    ranges.zipWithIndex.map { case (r, day) =>
      val d = graft.TempDirs.create(s"graft_st17_day$day")
      r.zipWithIndex.foreach { case (ci, i) =>
        val dst = new java.io.File(d, chunks(ci).getName)
        java.nio.file.Files.copy(chunks(ci).toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(System.currentTimeMillis() - 3600000L + i * 60000L)
      }
      d
    }
  }

  test("st17 two-day incremental admission: day 2's session admits " +
    "against the state day 1 accumulated, the union equals batch p06, " +
    "and a day-3 re-ingest of day-1 data admits NOTHING") {
    import org.apache.spark.sql.functions._
    val sfDir = TestSpark.sfDir
    val rd = StreamQueries.incomingReplayDir(spark, sfDir)
    val standingIdx = rd + ".index"
    val bench = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 50 === 0)
    val Seq(day1, day2) = splitReplayDays(rd, Seq(0 until 2, 2 until 4))
    val out = graft.TempDirs.create("graft_st17_2day")
    // two SEPARATE streaming sessions over the SAME stage root: day 2's
    // cross-batch probe must list day 1's seen_fps snapshots
    StreamQueries.admissionSession(spark, day1, standingIdx, bench, out)
    StreamQueries.admissionSession(spark, day2, standingIdx, bench, out,
      tag = "d2_")
    val rollup = StreamQueries.admissionStagesRollup(spark, out)
    val batch = graft.pipeline.PipelineQueries.p06(TestSpark.tables)
    assert(rollup.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(rollup), canon(batch))
    assert(s.nonEmpty && s == b,
      s"two-day union must equal batch p06:\n  stream: $s\n  batch : $b")
    // day 3: the classic production incident — yesterday's files arrive
    // again. Every fingerprint is already in the accumulated index, so
    // uniq/admitted must be EMPTY while incoming is not: unambiguous
    // proof the session probes PRIOR sessions' state (robust even if the
    // corpus had no natural dup spanning the day boundary).
    val Seq(day3) = splitReplayDays(rd, Seq(0 until 1))
    StreamQueries.admissionSession(spark, day3, standingIdx, bench, out,
      tag = "d3_")
    def day3Stage(stage: String): Long = {
      val dirs = new java.io.File(s"$out/stages").listFiles()
        .filter(_.getName.startsWith("batch_d3_")).map(_.getPath)
      assert(dirs.nonEmpty, "day-3 session wrote no stage batches")
      spark.read.parquet(dirs.toSeq: _*)
        .filter(col("stage") === stage).count()
    }
    assert(day3Stage("incoming") > 0, "day-3 re-ingest delivered no rows")
    assert(day3Stage("uniq") == 0 && day3Stage("admitted") == 0,
      "re-ingested day-1 data must be fully dropped by the accumulated " +
        "fingerprint index — day 3 admitted rows, so cross-session state " +
        "was not probed")
  }

  test("st17 seen_fps snapshot compaction: long-horizon sessions " +
    "coalesce prior snapshots into compact_ dirs, sweep their sources, " +
    "and the admission union still equals batch p06") {
    import org.apache.spark.sql.functions._
    val sfDir = TestSpark.sfDir
    val rd = StreamQueries.incomingReplayDir(spark, sfDir)
    val standingIdx = rd + ".index"
    val bench = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 50 === 0)
    // four single-chunk "days" with the threshold lowered to 2 so the
    // long-horizon path runs at spec scale (the graded 4-batch replay
    // never crosses the production threshold of 8)
    val days = splitReplayDays(rd,
      Seq(0 until 1, 1 until 2, 2 until 3, 3 until 4))
    val out = graft.TempDirs.create("graft_st17_compact")
    days.zipWithIndex.foreach { case (d, i) =>
      StreamQueries.admissionSession(spark, d, standingIdx, bench, out,
        tag = if (i == 0) "" else s"c${i}_", compactThreshold = 2)
    }
    val fpsDirs = new java.io.File(s"$out/seen_fps").listFiles()
      .map(_.getName).toSeq
    assert(fpsDirs.exists(_.startsWith("compact_")),
      s"no compact_ snapshot produced: $fpsDirs")
    assert(fpsDirs.count(_.startsWith("batch_")) < days.size,
      s"compaction must sweep its source snapshots: $fpsDirs")
    assert(!fpsDirs.exists(_.startsWith(".tmp_")),
      s"temp compaction dir leaked: $fpsDirs")
    val rollup = StreamQueries.admissionStagesRollup(spark, out)
    val batch = graft.pipeline.PipelineQueries.p06(TestSpark.tables)
    assert(rollup.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(rollup), canon(batch))
    assert(s.nonEmpty && s == b,
      s"compacted-index admission must equal batch p06:\n  stream: $s\n  batch : $b")
  }

  test("st17 mid-batch crash/restart: recovery re-executes the " +
    "uncommitted batch under the same id (own-batch fp exclusion keeps " +
    "the retry idempotent) and the rollup still equals batch p06") {
    import org.apache.spark.sql.functions._
    val sfDir = TestSpark.sfDir
    val rd = StreamQueries.incomingReplayDir(spark, sfDir)
    val standingIdx = rd + ".index"
    val bench = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 50 === 0)
    val out = graft.TempDirs.create("graft_st17_crash")
    val ckpt = graft.TempDirs.create("graft_st17_crash_ckpt")
    val marker = new java.io.File(out, "crash_injected.marker")
    val t0 = System.nanoTime()
    val run1Died =
      try {
        StreamQueries.admissionSession(spark, rd, standingIdx, bench, out,
          checkpoint = Some(ckpt), crashMarker = Some(marker))
        false
      } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException
          if e.getMessage.contains("injected crash") => true
      }
    val t1 = System.nanoTime()
    assert(run1Died, "first run finished without hitting the injected " +
      "crash — the recovery path was never exercised, refusing to grade")
    // the crashed attempt already wrote batch 1's stage sinks INCLUDING
    // its seen_fps snapshot; the restart must re-execute batch 1 against
    // batch 0's state only (own-batch exclusion) and drain the rest
    StreamQueries.admissionSession(spark, rd, standingIdx, bench, out,
      checkpoint = Some(ckpt))
    val t2 = System.nanoTime()
    info(f"pre-crash run ${(t1 - t0) / 1e9}%.2fs, " +
      f"recovery run ${(t2 - t1) / 1e9}%.2fs")
    val rollup = StreamQueries.admissionStagesRollup(spark, out)
    val batch = graft.pipeline.PipelineQueries.p06(TestSpark.tables)
    assert(rollup.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(rollup), canon(batch))
    assert(s.nonEmpty && s == b,
      "crash/recovery admission must equal batch p06: loss or " +
        s"duplication across the crash boundary breaks this equality\n" +
        s"  stream: $s\n  batch : $b")
  }

  test("st10 streaming curation gates equal the batch quality∘dedup " +
    "composition exactly") {
    import org.apache.spark.sql.functions._
    val streamed = StreamQueries.st10(spark, TestSpark.sfDir)
    val batch = graft.pipeline.TrainingDataPipeline
      .qualityFilter(TestSpark.tables.documents)
      .select(col("source"),
        graft.functions.exprs.canon_fp(col("text")).as("fp"))
      .distinct()
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_unique"))
      .orderBy("source")
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(streamed), canon(batch))
    assert(s.nonEmpty && s == b)
  }

  test("st06 transformWithState totals equal the batch rollup exactly") {
    import org.apache.spark.sql.functions._
    val streamed = StreamQueries.st06(spark, TestSpark.sfDir)
    val batch = TestSpark.tables.events
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
      .orderBy("user_id")
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(streamed), canon(batch))
    assert(s.nonEmpty && s == b)
    // the RocksDB provider override must not leak into the session
    assert(!spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").exists(_.contains("RocksDB")))
  }

  test("st07 streaming left-outer join equals the batch LEFT JOIN exactly " +
    "(null-side rows included)") {
    import org.apache.spark.sql.functions._
    val streamed = StreamQueries.st07(spark, TestSpark.sfDir)
    val ev = TestSpark.tables.events
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"),
      "left_outer")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rows"), count(col("p_ts")).as("n_matched"))
      .orderBy("user_id")
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(streamed), canon(batch))
    assert(s.nonEmpty && s == b)
    // the gate is only meaningful if eviction actually emitted null-side
    // rows: some click must be unmatched (n_rows > n_matched)
    val unmatched = streamed.filter(col("n_rows") > col("n_matched")).count()
    assert(unmatched > 0,
      "no unmatched clicks — the null-side flush path was not exercised")
  }

  test("st08 flatMapGroupsWithState sessionization equals the batch q31 " +
    "summary (timeout flush of trailing open sessions included)") {
    val streamed = StreamQueries.st08(spark, TestSpark.sfDir)
    val batch = operators.Relational.q31(TestSpark.tables)
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(streamed), canon(batch))
    assert(s.nonEmpty && s == b)
  }

  test("st01 reruns get fresh sinks (bench reruns each query)") {
    val a = canon(StreamQueries.st01(spark, TestSpark.sfDir))
    val b = canon(StreamQueries.st01(spark, TestSpark.sfDir))
    assert(a == b)
  }

  test("st16 streaming decode-at-ingest equals the batch decode rollup " +
    "and the codec-free synthesis twins, across >=4 micro-batches") {
    import org.apache.spark.sql.functions._
    import graft.multimodal.BinaryPipeline
    val streamed = StreamQueries.st16(spark, TestSpark.sfDir)
    // batch twin: the same decode map over the same synthetic corpus,
    // aggregated in one batch pass — the streaming cross-batch merge
    // must not change a single integer
    import spark.implicits._
    val batch = BinaryPipeline.synthesize(spark, BinaryPipeline.NMedia)
      .map(BinaryPipeline.decodeIngest _)
      .toDF("modality", "container", "plen", "csum")
      .groupBy(col("modality"), col("container"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("plen")).as("total_bytes"),
        sum(col("csum")).as("content_sum"))
      .orderBy("modality", "container")
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(streamed), canon(batch))
    assert(s.size == 7 && s == b) // flac/wav/adpcm + bmp/tga/png/ppm rows
    // decoded content must also equal the codec-FREE twins (synthesis
    // rule only): sums per (modality, container) from st16ContentSum,
    // independent of every MediaCodec code path
    val twin = (0L until BinaryPipeline.NMedia).map { id =>
      val key =
        if (id % 12 == 0) ("audio", "flac")
        else if (id % 12 == 6) ("audio", "wav")
        else if (id % 6 == 3) ("audio", "adpcm")
        else if (id % 6 == 1) ("image", "bmp")
        else if (id % 6 == 4) ("image", "tga")
        else if (id % 6 == 5) ("image", "png")
        else ("image", "ppm")
      key -> BinaryPipeline.st16ContentSum(id)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val got = streamed.collect().map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(got == twin)
    // the source must genuinely deliver multiple micro-batches: the
    // replay dir is one file per chunk and the stream reads
    // maxFilesPerTrigger=1
    val chunkFiles = new java.io.File(StreamQueries.mediaReplayDir(TestSpark.tables))
      .listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(chunkFiles.length >= 4,
      s"expected >=4 media replay chunks, got ${chunkFiles.length}")
    // AND every chunk carries all seven containers: contiguous-range
    // striping guarantees each 500-id block holds every id % 12 class
    // (mod-4 striping would make even chunks BMP-free and odd chunks
    // TGA-free — the round-9 advice finding)
    chunkFiles.foreach { f =>
      val containers = spark.read.parquet(f.getPath)
        .select(col("media_id")).collect().map { r =>
          val id = r.getLong(0)
          if (id % 12 == 0) "flac"
          else if (id % 12 == 6) "wav"
          else if (id % 6 == 3) "adpcm"
          else if (id % 6 == 1) "bmp"
          else if (id % 6 == 4) "tga"
          else if (id % 6 == 5) "png" else "ppm"
        }.toSet
      assert(containers ==
        Set("flac", "wav", "adpcm", "bmp", "tga", "png", "ppm"),
        s"chunk ${f.getName} missing containers: got $containers")
    }
  }

  test("st18 streaming CDC apply equals the one-shot batch MERGE (q82) " +
    "exactly, across >=4 micro-batched snapshot versions") {
    val streamed = StreamQueries.st18(spark, TestSpark.sfDir)
    val batch = Analytics.q82(TestSpark.tables)
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(streamed), canon(batch))
    assert(s.nonEmpty && s == b,
      s"streamed upsert must equal batch MERGE:\n  stream: $s\n  batch : $b")
    // the session really was micro-batched: one snapshot version per
    // changeset chunk on top of the seeded v0
    val cdir = StreamQueries.mergeReplayDir(spark, TestSpark.sfDir)
    val nChunks = new java.io.File(cdir)
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(nChunks >= 4, s"expected >=4 changeset chunks, got $nChunks")
  }

  test("st19 pruned CDC apply equals the batch MERGE (q82) exactly AND " +
    "rewrites only the touched buckets: 4 of 16 per key-residue batch") {
    val streamed = StreamQueries.st19(spark, TestSpark.sfDir)
    val batch = Analytics.q82(TestSpark.tables)
    assert(streamed.columns.toSeq == batch.columns.toSeq)
    val (s, b) = (canon(streamed), canon(batch))
    assert(s.nonEmpty && s == b,
      s"pruned upsert must equal batch MERGE:\n  stream: $s\n  batch : $b")
  }

  test("st19 pruning receipt + crash/restart: each batch writes exactly " +
    "its touched buckets, untouched buckets carry forward by reference, " +
    "and the manifest-last commit makes the retried batch idempotent") {
    import org.apache.spark.sql.functions._
    val sfDir = TestSpark.sfDir
    val cdir = StreamQueries.mergeReplayDir(spark, sfDir)
    val snapRoot = graft.TempDirs.create("graft_st19_crash_snap")
    val ckpt = graft.TempDirs.create("graft_st19_crash_ckpt")
    val marker = new java.io.File(snapRoot, "crash_injected.marker")
    StreamQueries.seedPrunedSnapshot(spark, sfDir, snapRoot)
    val run1Died =
      try {
        StreamQueries.upsertSessionPruned(spark, cdir, snapRoot,
          checkpoint = Some(ckpt), crashMarker = Some(marker))
        false
      } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException
          if e.getMessage.contains("injected crash") => true
      }
    assert(run1Died, "first run finished without hitting the injected " +
      "crash — the recovery path was never exercised, refusing to grade")
    val m2Before = StreamQueries.readManifest(snapRoot, 2L)
    StreamQueries.upsertSessionPruned(spark, cdir, snapRoot,
      checkpoint = Some(ckpt))
    // the retried batch recomputed manifest v2 identically
    assert(StreamQueries.readManifest(snapRoot, 2L) == m2Before,
      "retried batch must recompute its manifest deterministically")
    val last = StreamQueries.latestManifest(snapRoot)
    // pruning receipt: each post-seed version rewrote exactly the
    // buckets holding that batch's key residues (k % 4 chunking over
    // 16 buckets = 4 buckets), the rest carried forward by reference
    (1L to last).foreach { v =>
      val prev = StreamQueries.readManifest(snapRoot, v - 1)
      val cur = StreamQueries.readManifest(snapRoot, v)
      val rewritten = cur.count { case (b, p) => prev(b) != p }
      assert(rewritten == 4,
        s"version $v rewrote $rewritten buckets, expected exactly 4")
      assert(cur.size == StreamQueries.UpsertBuckets)
    }
    val rollup = graft.operators.Analytics.mergeRollup(
      StreamQueries.readPrunedSnapshot(spark, snapRoot, last))
    val batch = Analytics.q82(TestSpark.tables)
    val (s, b) = (canon(rollup), canon(batch))
    assert(s.nonEmpty && s == b,
      s"post-recovery pruned merge must equal batch q82:\n  stream: $s\n  batch : $b")
  }

  test("st18 mid-batch crash/restart: the retried batch recomputes its " +
    "snapshot version from the explicit prior version, byte-identically, " +
    "and the final rollup still equals batch q82") {
    import org.apache.spark.sql.functions._
    val sfDir = TestSpark.sfDir
    val cdir = StreamQueries.mergeReplayDir(spark, sfDir)
    val snapRoot = graft.TempDirs.create("graft_st18_crash_snap")
    val ckpt = graft.TempDirs.create("graft_st18_crash_ckpt")
    val marker = new java.io.File(snapRoot, "crash_injected.marker")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$snapRoot/v0")
    val run1Died =
      try {
        StreamQueries.upsertSession(spark, cdir, snapRoot,
          checkpoint = Some(ckpt), crashMarker = Some(marker))
        false
      } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException
          if e.getMessage.contains("injected crash") => true
      }
    assert(run1Died, "first run finished without hitting the injected " +
      "crash — the recovery path was never exercised, refusing to grade")
    // snapshot v2 was already written by the crashed attempt; capture it
    // so the retry's recompute can be checked for value-identity
    val v2Before = canon(spark.read.parquet(s"$snapRoot/v2"))
    StreamQueries.upsertSession(spark, cdir, snapRoot,
      checkpoint = Some(ckpt))
    val v2After = canon(spark.read.parquet(s"$snapRoot/v2"))
    assert(v2Before == v2After,
      "the retried batch must recompute its own snapshot version " +
        "identically (explicit-prior-version read = idempotent retry)")
    val last = StreamQueries.latestVersion(snapRoot)
    val rollup = graft.operators.Analytics.mergeRollup(
      spark.read.parquet(s"$snapRoot/v$last"))
    val batch = Analytics.q82(TestSpark.tables)
    val (s, b) = (canon(rollup), canon(batch))
    assert(s.nonEmpty && s == b,
      s"post-recovery merge must equal batch q82:\n  stream: $s\n  batch : $b")
  }
}
