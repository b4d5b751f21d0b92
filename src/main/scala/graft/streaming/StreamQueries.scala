package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Driver-graded Structured Streaming queries (SURVEY §2 st01–st18).
  *
  * Every entry runs the FULL streaming engine path — FileStreamSource →
  * AvailableNow micro-batches → state store → sink — and hands
  * the finished result to the driver's gate: the streaming engine must
  * produce byte-identical answers to the batch plan over the same data,
  * which is exactly the guarantee a lambda-free pipeline needs. The
  * order-sensitive stateful queries (st02/st04/st07/st08/st12) are
  * graded under the forced multi-micro-batch OUT-OF-ORDER replay
  * ([[replayDir]]); the rest are order-independent by algebra
  * (commutative aggregations, stateless sampling, content-keyed dedup)
  * or — st14 — emit an order-independent relation by construction.
  *
  * Sink choice: `memory` in complete mode. That is a test-harness surface
  * — the result cardinality is windows × event-types (st01) or distinct
  * users (st02), bounded by construction, never O(events). The production
  * sink for unbounded results is the watermarked append path through
  * `EventsStream.sinkPartitioned` (idempotent foreachBatch, spec-covered);
  * complete+memory is used here because it emits every window at
  * end-of-stream regardless of watermark, which is what an exactness gate
  * over finite historical data requires. Reference workflow parity:
  * reference lines 65–389 are batch HiveQL; this surface is the
  * continuous-ingest extension of the same queries.
  */
object StreamQueries {

  /** Memory-sink names are process-global; the bench reruns each query, so
    * every run gets a fresh table (the tiny prior result is dropped). */
  private val sinkId = new AtomicInteger(0)

  /** How long a finite replay may take to drain before it counts as
    * wedged. AvailableNow over a graded replay drains in seconds; a
    * wedged run (state-store or checkpoint incompatibility) must fail its
    * query loudly instead of hanging the grading run. */
  private val DrainTimeoutMs = 10 * 60 * 1000L

  /** Held only across [[drain]]'s `start()`, while the stream's confs
    * are set on the caller's session. */
  private val startLock = new Object

  /** The one way a graded streaming query runs: start `stream` into the
    * sink `sink` configures, under AvailableNow, which processes every
    * available input in rate-limited micro-batches and then stops, and
    * wait for it. A query that has not terminated within `timeoutMs` is
    * stopped and reported as an error; a query that failed rethrows its
    * failure. Returns the terminated query (st09 reads its progress).
    *
    * `confs` are the stream's own confs (its state width, its state-store
    * provider). Spark clones the caller's session when the query starts
    * and the stream runs on that clone, so they are set on the caller's
    * session only across `start()` and restored right after, also when
    * `start()` throws. The query itself starts on the caller's session,
    * whose listeners see its progress. */
  private[graft] def drain(what: String, stream: DataFrame,
      confs: Map[String, String] = Map.empty,
      timeoutMs: Long = DrainTimeoutMs)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val spark = stream.sparkSession
    val writer = sink(stream.writeStream).trigger(Trigger.AvailableNow())
    val q = startLock.synchronized {
      val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try writer.start()
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new IllegalStateException(
        s"$what did not terminate within ${timeoutMs / 1000}s")
    }
    q
  }

  /** The final result of a complete- (or append-) mode query, collected
    * in a memory sink. Only for SMALL results (st01's windows × types,
    * st03's types, st05's nations): the memory sink materializes every
    * result row ON THE DRIVER, single-threaded, each batch. */
  private def runMemory(spark: SparkSession, df: DataFrame, prefix: String,
      confs: Map[String, String], mode: String = "complete"): DataFrame = {
    val name = s"${prefix}_${sinkId.incrementAndGet()}"
    drain(name, df, confs)(
      _.queryName(name).outputMode(mode).format("memory"))
    spark.table(name)
  }

  /** Same contract, DISTRIBUTED sink: complete-mode foreachBatch
    * overwrites a parquet dir per micro-batch, so the final batch's
    * overwrite IS the final answer and no result row ever funnels
    * through a driver-side collect. This is the sink for results that
    * GROW with the corpus — st02's per-(user, session) rows are
    * O(users × sessions): at the sf10 audit the memory sink's
    * driver-side materialization of millions of session rows was nearly
    * the whole 45 s cost (and a driver-memory hazard no real cluster
    * job would accept). The production analog is EventsStream
    * .sinkPartitioned (watermarked append); complete+foreachBatch keeps
    * the emit-everything-at-end-of-stream semantics the finite-history
    * exactness gate needs. */
  private def runCompleteDistributed(spark: SparkSession, agg: DataFrame,
      prefix: String, confs: Map[String, String]): DataFrame = {
    val out = graft.TempDirs.create(s"graft_$prefix")
    drain(prefix, agg, confs)(_
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // static overwrite: each batch replaces the whole dir (see
        // sinkPartitioned's note on session-wide dynamic mode)
        batch.write.mode("overwrite")
          .option("partitionOverwriteMode", "static").parquet(out)
      })
    spark.read.parquet(out)
  }

  /** Every row an append-mode query emits, appended batch by batch to a
    * parquet dir: the sink for outputs that grow with the corpus (join
    * rows, sessions, alerts, candidate pairs), never through the
    * driver. */
  private def runAppendDistributed(spark: SparkSession, df: DataFrame,
      prefix: String, confs: Map[String, String]): DataFrame = {
    val out = graft.TempDirs.create(s"graft_$prefix")
    drain(prefix, df, confs)(_
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
      })
    spark.read.parquet(out)
  }

  /** The micro-batch whose sink throws once when a crash marker is armed. */
  private val CrashBatch = 1L

  /** A durable append-mode session over `stream` for the crash/recovery
    * legs (st15, st17, st18, st19): `sink` runs per micro-batch, the
    * query checkpoints under `checkpoint` if given, and an armed
    * `crashMarker` injects one crash after batch [[CrashBatch]]'s sink
    * ran and before the engine commits it, the most adversarial window
    * (output visible, offset/commit log not yet advanced). The marker's
    * atomic create confines the crash to the first attempt, so a restart
    * from the same checkpoint must re-execute that batch under the same
    * id and land byte-identically in the idempotent sink. */
  private def durableSession(what: String, stream: DataFrame,
      checkpoint: Option[String], crashMarker: Option[java.io.File],
      confs: Map[String, String] = Map.empty)(
      sink: (DataFrame, Long) => Unit): Unit =
    drain(what, stream, confs) { w =>
      checkpoint.fold(w)(c => w.option("checkpointLocation", c))
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          sink(batch, batchId)
          if (batchId == CrashBatch && crashMarker.exists(_.createNewFile()))
            throw new IllegalStateException(
              s"$what: injected crash between sink write and batch commit")
        }
    }

  /** Streaming read of one table of `dir`. Streaming sources require an
    * explicit schema: it comes from the batch facade's per-application
    * schema cache (Tables.schemaOf). FileStreamSource requires a
    * directory base path: when the table is a single file (the testdata
    * layout), stream the parent dir filtered to that file; a
    * directory-shaped table streams directly. The shape is read through
    * the Hadoop `FileSystem` of the path's scheme (local, `file:`, HDFS,
    * S3, ...). */
  private[graft] def tableStream(spark: SparkSession, dir: String,
      table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val reader = spark.readStream.schema(graft.Tables.schemaOf(spark, path))
    val p = new org.apache.hadoop.fs.Path(path)
    val isDir =
      try p.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(p).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    if (isDir) reader.parquet(path)
    else reader.option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** The events stream with the same generation-adaptive `ts` handling as
    * the batch facade (Tables.normalizeTs): a raw nano LONG is rebuilt as
    * a microsecond timestamp, a native TIMESTAMP_NTZ is cast to the
    * session-TZ timestamp. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.normalizeTs(tableStream(spark, dir, "events"))

  /** The one replay-dir writer: each chunk becomes ONE parquet file
    * `chunk_NN.parquet` in `out`, with modification times 60 s apart in
    * chunk order (far past any FS mtime granularity). FileStreamSource
    * orders pending files by mtime, so [[replayStream]] delivers one
    * chunk per micro-batch, in order. coalesce(1) is bounded by
    * construction: a chunk is a fraction of one sf table, not a general
    * big-corpus writer. Returns `out`. */
  private def writeChunks(out: String, chunks: Seq[DataFrame]): String = {
    val base = System.currentTimeMillis() - 3600L * 1000
    chunks.zipWithIndex.foreach { case (df, i) =>
      val tmp = graft.TempDirs.create(s"graft_replay_chunk_$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"replay chunk $i of $out: no parquet part"))
      val dst = new java.io.File(out, f"chunk_$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(base + i * 60000L)
    }
    out
  }

  /** The one replay-dir reader: the schema from the batch facade's
    * per-application schema cache (Tables.schemaOf), one chunk file per
    * micro-batch. */
  private def replayStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(graft.Tables.schemaOf(spark, dir))
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** Multi-micro-batch OUT-OF-ORDER replay (round-5 verdict task 1) —
    * the harness that makes st04/st07/st12's graded runs exercise real
    * cross-batch streaming semantics instead of the single-batch
    * file-replay the round-5 entries rode:
    *
    *  - The events table is re-materialized as [[ReplayFiles]] parquet
    *    chunk files split by JITTERED event time: each event's position
    *    is its true ts plus a deterministic md5(event_id)-derived offset
    *    in [0, EventsStream.DisorderHorizonSec), so consecutive chunks
    *    overlap by up to 30 minutes of true event time — late data crosses
    *    micro-batch boundaries, bounded by a known reordering horizon
    *    (exactly how a production replay of a partially-ordered log
    *    behaves: disorder is real but bounded, and the consumer sizes
    *    its watermark to that bound).
    *  - [[writeChunks]] lays the chunks out in mtime order and
    *    [[replayStream]] reads one per micro-batch — ≥[[ReplayFiles]]
    *    data batches plus the trailing state-cleanup batch.
    *  - The 1-hour watermarks downstream dominate the 30-minute jitter
    *    horizon with 2× margin, so NO row is ever late-dropped and the
    *    batch-twin oracles must still hold EXACTLY — which is the gate:
    *    join state carried across batches (st04/st07), eviction-driven
    *    null-side emission (st07), and the st12 reorder buffer all have
    *    to produce the order-independent answer.
    *  - End-of-stream flush markers (the st07/st08 sentinel idiom) ride
    *    INSIDE the final chunk file: with a multi-file source a separate
    *    sentinel source would be read in the FIRST batch — AvailableNow
    *    drains each source's listing independently — advancing the
    *    watermark past the whole corpus and late-dropping everything
    *    after it; embedding the marker in the last chunk keeps it the
    *    last event the engine sees.
    *
    * The replay dir is built once per (session, dir, table fingerprint,
    * sentinel set) and cached — bench reruns re-stream the same files. */
  private val ReplayFiles = 4
  private val replayCache = new graft.SnapshotCache[String]

  private def replayDir(spark: SparkSession, dir: String,
      sentinelTypes: Seq[String]): String = {
    val t = graft.Tables(spark, dir)
    replayCache(t, s"events:${sentinelTypes.mkString(",")}", "events") {
      // the raw `ts` (nano LONG or native timestamp): the replay keeps the
      // source's own unit, and replayedEventsStream normalizes it
      val raw = t.table("events")
      val cols = raw.columns.map(col)
      // ordering position + jitter in the SOURCE ts unit (raw nanos for
      // the TIMESTAMP(NANOS) generation, micros for native timestamps)
      val (ordCol, unitPerSec) = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          (col("ts"), 1000000000L)
        case _ => (unix_micros(col("ts").cast("timestamp")), 1000000L)
      }
      val jit = (expr("cast(conv(substring(md5(cast(event_id as string))," +
        " 1, 8), 16, 10) as bigint)") % EventsStream.DisorderHorizonSec) *
        unitPerSec
      val jordered = raw.withColumn("_jord", ordCol + jit)
      val mm = jordered.agg(min(col("_jord")).as("lo"),
        max(col("_jord")).as("hi")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val span = math.max(1L, hi - lo + 1)
      val chunks = (0 until ReplayFiles).map { i =>
        jordered
          .filter(((col("_jord") - lit(lo)) * ReplayFiles / lit(span))
            .cast("int") === i)
          .select(cols: _*)
      }
      // the st07/st08 flush marker, 30 days past max(ts), as the LAST
      // chunk: sentinel users −1, −2, … carry one event per type
      val sentinels = if (sentinelTypes.isEmpty) None else {
        val thirtyDays = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            col("mx") + lit(30L * 24 * 3600 * 1000 * 1000 * 1000)
          case _ => col("mx") + expr("INTERVAL 30 DAYS")
        }
        val mx = raw.agg(max(col("ts")).as("mx"))
        import spark.implicits._
        Some(sentinelTypes.zipWithIndex
          .map { case (tpe, i) => (-(i + 1).toLong, tpe) }
          .toDF("sid", "stype")
          .crossJoin(mx)
          .select(
            col("sid").as("event_id"),
            thirtyDays.cast(raw.schema("ts").dataType).as("ts"),
            col("sid").as("user_id"),
            col("stype").as("event_type"),
            lit(0.0).as("value"),
            lit("{}").as("props"))
          .select(cols: _*))
      }
      writeChunks(graft.TempDirs.create("graft_replay_events"),
        chunks ++ sentinels)
    }
  }

  /** A stream's state width as a [[drain]] conf: every stateful operator
    * instantiates one state store per shuffle partition per micro-batch,
    * and each store's commit writes and fsyncs a delta file, so stores are
    * sized to the SOURCE volume feeding the query (state rows are bounded
    * by source rows, and the volume is known before any job runs):
    * ceil(source bytes / 256 MB), floored at 4, capped at the session
    * width. At every probe SF the derivation lands on 4 (events.parquet:
    * 2 MB sf0.1 / 12 MB sf1 / 116 MB sf10). Receipts for the floor and
    * the per-query widths: OPTIMIZATION_r15.md (state partitions) and
    * OPTIMIZATION_r16.md item 7. */
  private val StateBytesPerPartition = 256L << 20
  private def stateWidth(spark: SparkSession, dir: String,
      table: String): Map[String, String] =
    width(graft.Parts.forBytes(spark,
      graft.Parts.pathBytes(spark, s"$dir/$table.parquet"),
      StateBytesPerPartition, floor = 4))

  private def width(n: Int): Map[String, String] =
    Map("spark.sql.shuffle.partitions" -> n.toString)

  /** The normalized event stream over the shuffled multi-file replay:
    * one chunk per micro-batch, out-of-order across batches within the
    * documented jitter horizon. Sentinel rows (if requested) arrive in
    * the final batch; callers filter `user_id >= 0`. */
  private[graft] def replayedEventsStream(spark: SparkSession, dir: String,
      sentinelTypes: Seq[String]): DataFrame =
    graft.Tables.normalizeTs(
      replayStream(spark, replayDir(spark, dir, sentinelTypes)))

  /** st01 — tumbling-window aggregation through the streaming engine:
    * q30's exact result (hour_ts, event_type, cnt, sum_value) computed by
    * FileStreamSource + streaming state store instead of a batch scan.
    * Oracle: q30's SQL verbatim. */
  def st01(spark: SparkSession, dir: String): DataFrame =
    // O(windows×types) state rows (state width: OPTIMIZATION_r15.md)
    runMemory(spark, EventsStream.windowedCounts(eventsStream(spark, dir)),
      "st01_windows", stateWidth(spark, dir, "events"))
      .orderBy("hour_ts", "event_type")

  /** st02 — native session_window sessionization through the streaming
    * engine (EventsStream.sessionWindows), rolled up to q31's per-user
    * summary (EventsStream.sessionRollup), graded under the multi-batch
    * out-of-order replay: the engine's own session-state merging handles
    * cross-batch disorder, and complete mode emits the fully merged
    * session set at end-of-stream. Oracle: q31's SQL verbatim. History:
    * SURVEY.md §8e, task 1+5. */
  def st02(spark: SparkSession, dir: String): DataFrame =
    EventsStream.sessionRollup(runCompleteDistributed(spark,
      EventsStream.sessionWindows(replayedEventsStream(spark, dir, Nil)),
      "st02_sessions", stateWidth(spark, dir, "events")))

  /** st03 — streaming exact deduplication through the dedup state store:
    * `dropDuplicates(user_id, event_type)` keeps first-arrival rows
    * (state = one entry per distinct key), chained into a streaming
    * aggregation — two stateful operators in one query, the
    * continuous-ingest twin of q27's count-distinct. Oracle:
    * `count(DISTINCT user_id)` per type, which the dedup+count
    * composition must reproduce exactly over finite input regardless of
    * micro-batch boundaries. At scale the dedup state is bounded by key
    * cardinality (users × types), and the production path for unbounded
    * time ranges is `dropDuplicatesWithinWatermark` (EventsStream,
    * spec-covered) — finite historical exactness needs the unbounded
    * variant. */
  def st03(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
    // dedup state O(users×types), aggregation O(types)
    runMemory(spark, deduped, "st03_dedup", stateWidth(spark, dir, "events"))
      .orderBy("event_type")
  }

  /** st04 — stream-stream interval join through the join state store
    * (EventsStream.clickToPurchase, inner) over the multi-batch
    * out-of-order replay, so a click and its purchase routinely meet in
    * join STATE across batches. Inner matches emit eagerly, so the
    * append-mode result equals the batch self-join. The per-user rollup
    * runs as a batch aggregation over the sink. Scale: join state is
    * partitioned by user_id and holds only the 10-minute horizon; the
    * batch twin is q49's hour-bucket expansion. History: SURVEY.md
    * §8e, task 1+5. */
  def st04(spark: SparkSession, dir: String): DataFrame =
    runMemory(spark,
        EventsStream.clickToPurchase(replayedEventsStream(spark, dir, Nil),
          "inner"),
        "st04_join", stateWidth(spark, dir, "events"), mode = "append")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")

  /** st05 — stream-static enrichment: the unbounded stream joins a
    * static dimension (nation, re-read per micro-batch, broadcast by
    * size) before a streaming aggregation — the standard "enrich then
    * count" continuous-ETL shape. Static-side rows are planned as a
    * BATCH relation inside the streaming plan, so no join state store
    * is involved; the only state is the aggregation's. Sums are exact
    * integer cents IN the state store (value is 2dp-exact), so the
    * result is engine-stable at any scale — no post-sink rounding of a
    * cross-engine double sum (the q81/q83 drift class). */
  def st05(spark: SparkSession, dir: String): DataFrame = {
    val nation = graft.Tables(spark, dir).nation
      .select(col("n_nationkey"), col("n_name"))
    val enriched = eventsStream(spark, dir)
      .select((col("user_id") % 25).as("nk"), col("value"))
      .join(broadcast(nation), col("nk") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_value_cents"))
    // aggregation state O(nations) = 25 rows
    runMemory(spark, enriched, "st05_enrich", stateWidth(spark, dir, "events"))
      .orderBy("n_name")
  }

  /** st06 — transformWithState (Spark 4 arbitrary-state v2,
    * RocksDB-backed) through the full streaming engine, driver-graded:
    * per-user running totals whose FINAL values must equal the batch
    * GROUP BY. Values are scaled to integer cents BEFORE the processor,
    * so its accumulator only ever holds integer-valued doubles — exact
    * to 2^53, engine-stable (the q81/q83 discipline applied to streaming
    * state). Update mode emits each touched user's new totals per
    * micro-batch; the sink is a DISTRIBUTED changelog (foreachBatch
    * appends each update batch as parquet, tagged with its batch id)
    * reconciled on read by taking each user's LATEST update (max_by on
    * batch id) — correct for any value sign, unlike a per-user MAX which
    * would silently assume totals are monotone (no negative/refund
    * values) — so no row funnels through the driver and a multi-batch
    * replay reconciles exactly like a single batch (the standard
    * CDC-log + compaction shape). */
  def st06(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .withColumn("value",
        expr("cast(cast(round(value * 100) as bigint) as double)"))
      .as[EventsStream.Event]
    val out = graft.TempDirs.create("graft_st06_updates")
    // transformWithState keeps O(users) state rows in RocksDB, one
    // instance per state partition per batch (OPTIMIZATION_r15.md)
    drain("st06", EventsStream.runningStats(ev)
        .toDF("user_id", "n_events", "cents"),
      stateWidth(spark, dir, "events") +
        ("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {
      _.outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(out)
        }
    }
    // update mode emits ≤1 row per (user, batch), so max_by picks the
    // single row of each user's last touching batch — their final state
    spark.read.parquet(out)
      .groupBy("user_id")
      .agg(expr("max_by(n_events, batch_id)").as("n_events"),
        expr("max_by(cents, batch_id)").cast("long").as("sum_value_cents"))
      .orderBy("user_id")
  }

  /** st07 — LEFT-OUTER stream-stream interval join
    * (EventsStream.clickToPurchase, left_outer): clicks with no purchase
    * inside the 10-minute horizon still emit with a null purchase side,
    * the funnel-abandonment query and st04's other half. Null-side
    * emission IS join-state eviction, which happens only when the
    * watermark passes a click's horizon, so the replay embeds a sentinel
    * click+purchase pair 30 days past max(ts) (users −1/−2, filtered) in
    * its FINAL chunk, and the trailing no-data micro-batch evicts and
    * emits every unmatched click. Sink: distributed append parquet (the
    * output is O(clicks)). Oracle: the batch LEFT JOIN with identical
    * predicates. History: SURVEY.md §8e, task 1+5. */
  def st07(spark: SparkSession, dir: String): DataFrame =
    runAppendDistributed(spark,
        EventsStream.clickToPurchase(
          replayedEventsStream(spark, dir, Seq("click", "purchase")),
          "left_outer"),
        "st07_rows", stateWidth(spark, dir, "events"))
      .filter(col("user_id") >= 0) // drop the sentinel pair
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rows"), count(col("p_ts")).as("n_matched"))
      .orderBy("user_id")

  /** The replayed events as typed rows, with the end-of-stream flush
    * click (user −1) in the final chunk: the input of st08's and st12's
    * reorder buffers, whose last held events and open state flush only
    * once the watermark passes them. */
  private def flushedEvents(spark: SparkSession,
      dir: String): Dataset[EventsStream.Event] = {
    import spark.implicits._
    replayedEventsStream(spark, dir, Seq("click"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventsStream.Event]
  }

  /** st08 — flatMapGroupsWithState sessionization
    * (EventsStream.sessionizeStateful), the hand-rolled state-machine
    * spelling of q31/st02, over the multi-batch out-of-order replay and
    * rolled up to q31's per-user summary (EventsStream.sessionRollup).
    * With st02 (native session_window) and st06 (transformWithState) this
    * covers all three custom-state streaming APIs against the same batch
    * semantics. Sink: distributed append parquet (sessions are
    * O(users×sessions)). Oracle: q31's SQL verbatim. History: SURVEY.md
    * §8e, task 1+5. */
  def st08(spark: SparkSession, dir: String): DataFrame =
    EventsStream.sessionRollup(runAppendDistributed(spark,
        EventsStream.sessionizeStateful(flushedEvents(spark, dir)).toDF(),
        "st08_sessions", stateWidth(spark, dir, "events"))
      .filter(col("user_id") >= 0)) // drop the sentinel's own session

  /** st09 — streaming data-quality counters: `observe` on the event
    * stream itself, the streaming twin of p02 and of the reference's
    * quality-check queries. The counters ride each micro-batch's plan
    * as accumulators — no extra stateful operator, no state store, no
    * second pass — and the per-batch observed rows (3 longs each) sum
    * associatively on the driver from the engine's progress stream.
    * This is how a production ingest pipeline watches row volume /
    * value totals / anomaly counts continuously without taxing the hot
    * path. Gated on the batch rollup: the cross-batch totals must equal
    * the one-pass batch answer exactly (integer cents in the counter,
    * so micro-batch boundaries cannot drift the sum). */
  def st09(spark: SparkSession, dir: String): DataFrame = {
    val observed = eventsStream(spark, dir)
      .observe("st09_dq",
        count(lit(1)).as("n_events"),
        coalesce(sum(expr("cast(round(value * 100) as bigint)")), lit(0L))
          .as("sum_value_cents"),
        coalesce(sum(when(col("value") < 0, 1L).otherwise(0L)), lit(0L))
          .as("n_negative"))
    val q = drain("st09", observed)(_.format("noop"))
    // recentProgress retains the last spark.sql.streaming
    // .numRecentProgressUpdates batches (default 100) — ample for the
    // single-file replay here; a long-lived production query accumulates
    // through a StreamingQueryListener instead, same per-batch rows
    val perBatch = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("st09_dq")))
    val totals = perBatch.foldLeft((0L, 0L, 0L)) { case ((n, s, neg), r) =>
      (n + r.getLong(0), s + r.getLong(1), neg + r.getLong(2))
    }
    import spark.implicits._
    Seq(totals).toDF("n_events", "sum_value_cents", "n_negative")
  }

  /** st10 — the curation pipeline's gate stages as a CONTINUOUS-INGEST
    * query: documents stream through the t02 quality rule (map-only
    * kernel filter — no state) into exact-dedup via
    * `dropDuplicates(source, fp)` (dedup state store, one entry per
    * distinct canonical fingerprint per source) into a per-source
    * unique-survivor count (aggregation state store) — two stateful
    * operators, the streaming twin of the p01 chain's first two gates.
    * Dedup keys on (source, fp) rather than first-arrival fp alone so
    * the answer is arrival-order-independent (a cross-source duplicate
    * survives once per source): micro-batch boundaries and partition
    * interleaving cannot change it, which is what makes a finite-replay
    * exactness gate valid. At scale the dedup state is the fingerprint
    * index (d11's standing index, held by the state store); unbounded
    * ingest bounds it with `dropDuplicatesWithinWatermark` over the
    * reordering horizon (EventsStream, spec-covered). Oracle: quality
    * CTE ∘ count(DISTINCT fp) — the composition of t02's and d01's
    * already-oracled semantics. */
  def st10(spark: SparkSession, dir: String): DataFrame = {
    val survivors = graft.pipeline.TrainingDataPipeline
      .qualityFilter(tableStream(spark, dir, "documents"))
      .select(col("source"),
        graft.functions.exprs.canon_fp(col("text")).as("fp"))
      .dropDuplicates("source", "fp")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_unique"))
    // dedup + aggregation state O(fps) + O(sources)
    runMemory(spark, survivors, "st10_curation",
        stateWidth(spark, dir, "documents"))
      .orderBy("source")
  }

  /** One LSH bucket of the STANDING streaming index (st14): the true
    * member count plus up to MaxBucket member signatures. */
  case class BucketState(n: Long, members: List[MemberSig])
  case class MemberSig(docId: Long, sig: List[Long])
  /** Emitted candidate pair (or hot-bucket marker: docA = −1). The
    * bucket key is the EXACT band-signature array (4 longs), never a
    * re-hash — parity with batch d02's array group-by is structural.
    * Agreement is carried as the integer component-match count
    * (nMatches, d02's round-7 statistic), not a float estimate. */
  case class PairHit(bandId: Int, bandSig: List[Long], docA: Long,
      docB: Long, nMatches: Long)

  /** The documents table as a 4-chunk multi-batch stream (split by
    * doc_id hash, mtime-ordered, one file per trigger): documents carry
    * no event time, so "out of order" is not a concept here — the
    * multi-batch point is that the STANDING index built from earlier
    * batches serves later ones (cross-batch state probes, the thing a
    * single-batch replay never exercises). Cached per snapshot like the
    * events replay. */
  private def replayedDocumentsStream(spark: SparkSession,
      dir: String): DataFrame = {
    val t = graft.Tables(spark, dir)
    val rd = replayCache(t, "docs", "documents") {
      val raw = t.documents
      val cols = raw.columns.map(col)
      writeChunks(graft.TempDirs.create("graft_replay_documents"),
        (0 until ReplayFiles).map(i =>
          raw.filter(pmod(col("doc_id"), lit(ReplayFiles)) === i)
            .select(cols: _*)))
    }
    replayStream(spark, rd)
  }

  /** st14 — STREAMING near-dup candidate detection: the d02 MinHash-LSH
    * banding run as a continuous-ingest stage with the LSH index LIVING
    * IN THE STATE STORE — the near-dup gate st10's exact-dedup chain was
    * missing (st10's scaladoc points at exactly this hole). Each
    * document's signature fans out to its 8 band keys; per (band,
    * signature) bucket the state holds the true member count plus up to
    * MaxBucket member signatures, and an arriving member emits a
    * candidate pair against every stored member (O(bucket) work per
    * arrival, never O(bucket²) re-pairing).
    *
    * EXACT batch parity despite arrival-order-dependent internals: the
    * graded output is the candidate PAIR SET, which is
    * order-independent by construction —
    *  - a pair (a, b) is emitted when the later of the two arrives,
    *    whatever the order, so every pair of a ≤MaxBucket bucket is
    *    emitted exactly once per shared band;
    *  - a bucket that ends the stream over the cap emits a MARKER on
    *    every over-cap arrival, and the sink drops ALL of that bucket's
    *    pairs — reproducing bucketPairs' drop-the-hot-bucket contract
    *    even for pairs emitted before the bucket went hot (the
    *    append-mode retraction problem solved at the sink, where the
    *    bucket's FINAL size is knowable);
    *  - est is a pure function of the two signatures.
    * So the final relation must equal batch d02 row-for-row
    * (StreamQueriesSpec pins it) — and since d02's round-7 md5-MinHash
    * rebase gave the batch pipeline a full DuckDB oracle, st14 is graded
    * against the SAME SQL (the streaming path must land on the
    * bit-identical pair relation the oracle recomputes from md5 + affine
    * integer arithmetic). State: O(distinct band signatures) buckets ×
    * ≤MaxBucket sigs — the same cardinality the batch shuffle keys,
    * held incrementally; production bounds unbounded ingest with the
    * d11 snapshot-index rotation. */
  def st14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val banded = graft.dedup.Dedup.minhashBandedDocs(
        replayedDocumentsStream(spark, dir), withPayload = true, det = true)
      .select(col("band_id").cast("int").as("bandId"), col("band_sig"),
        col("doc_id"), col("payload"))
      .as[(Int, List[Long], Long, List[Long])]
    val cap = graft.dedup.Dedup.MaxBucket
    val hits = banded.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[BucketState, PairHit](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (key: (Int, List[Long]),
         it: Iterator[(Int, List[Long], Long, List[Long])],
         state: org.apache.spark.sql.streaming.GroupState[BucketState]) =>
          var st = state.getOption.getOrElse(BucketState(0L, Nil))
          val out = scala.collection.mutable.ListBuffer.empty[PairHit]
          // deterministic within-batch order (arrival order across
          // batches is irrelevant to the pair SET, see scaladoc)
          it.toList.sortBy(_._3).foreach { case (_, _, docId, sig) =>
            val n1 = st.n + 1
            if (n1 > cap) {
              // over-cap arrival: marker retracts the bucket at the sink
              out += PairHit(key._1, key._2, -1L, -1L, 0L)
              st = BucketState(n1, st.members)
            } else {
              st.members.foreach { m =>
                val matches =
                  m.sig.zip(sig).count { case (x, y) => x == y }.toLong
                out += PairHit(key._1, key._2,
                  math.min(m.docId, docId), math.max(m.docId, docId),
                  matches)
              }
              st = BucketState(n1, MemberSig(docId, sig) :: st.members)
            }
          }
          state.update(st)
          out.iterator
      }
    val all = runAppendDistributed(spark, hits.toDF(), "st14_pairs",
      stateWidth(spark, dir, "documents"))
    val hot = all.filter(col("docA") === -1L)
      .select(col("bandId"), col("bandSig")).distinct()
    all.filter(col("docA") >= 0)
      .join(hot, Seq("bandId", "bandSig"), "left_anti")
      .select(col("docA").as("doc_a"), col("docB").as("doc_b"),
        col("nMatches").as("n_matches"))
      .distinct()
      // est ≥ 0.5 as the exact integer gate, with the SAME K as batch
      // d02 — never a re-hardcoded signature length
      .filter(col("n_matches") * 2 >= graft.dedup.Dedup.K)
      .orderBy("doc_a", "doc_b")
  }

  /** Phase split ((pre-crash sec, recovery sec)) of the most recent
    * [[st15]] run in this JVM, carried by Bench in its durable dump and
    * summary tail, so an st15 spike is attributable to orchestration vs
    * state replay without scraping stderr. */
  @volatile private[graft] var lastSt15Phases: Option[(Double, Double)] = None

  /** st15 — oracle-graded CHECKPOINT RECOVERY, the exactly-once property
    * a production pipeline banks on. st04's interval join
    * (EventsStream.clickToPurchase, inner) runs over the same multi-batch
    * out-of-order replay with a durable checkpoint and an idempotent
    * per-batch-id parquet sink, and the first run is KILLED after
    * micro-batch 1's output is written but BEFORE the engine commits the
    * batch (output visible, offset/commit log not yet advanced, join
    * state deltas persisted for the uncommitted version). The restart
    * from the same checkpoint must re-execute that batch against the
    * batch-0 state version, land byte-identically in the sink, and drain
    * the remaining chunks. LOSS and DUPLICATION each break equality with
    * the batch self-join oracle (st04's SQL verbatim); a run whose
    * injected crash did not kill the first query throws rather than
    * grading a crash-free pass. Recovery cost is O(one micro-batch +
    * state-store load), independent of history length. History:
    * SURVEY.md §8f, st15_checkpoint_recovery. */
  def st15(spark: SparkSession, dir: String): DataFrame = {
    val ckpt = graft.TempDirs.create("graft_st15_ckpt")
    val outDir = graft.TempDirs.create("graft_st15_out")
    val marker = new java.io.File(outDir, "crash_injected.marker")
    def joined = EventsStream.clickToPurchase(
      replayedEventsStream(spark, dir, Nil), "inner")
    // idempotent by construction: a re-executed batch OVERWRITES its own
    // directory with the deterministically-recomputed rows
    def run(what: String): Unit =
      durableSession(s"st15 $what", joined, Some(ckpt), Some(marker),
          stateWidth(spark, dir, "events")) {
        (batch, batchId) =>
          batch.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }
    // the pre-crash run scales with history (batches 0..crash); the
    // recovery leg must not (one re-executed batch + state-store load +
    // the remaining chunks), so both are timed
    val t0 = System.nanoTime()
    val run1Died =
      try { run("crash run"); false }
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException
          if e.getMessage.contains("injected crash") => true
      }
    val t1 = System.nanoTime()
    if (!run1Died)
      throw new IllegalStateException(
        "st15: first run finished without hitting the injected crash — " +
          "the recovery path was never exercised, refusing to grade")
    run("recovery run") // must drain cleanly
    val t2 = System.nanoTime()
    lastSt15Phases = Some(((t1 - t0) / 1e9, (t2 - t1) / 1e9))
    System.err.println(
      f"[st15] pre-crash run ${(t1 - t0) / 1e9}%.2fs, " +
        f"recovery run ${(t2 - t1) / 1e9}%.2fs")
    spark.read.parquet(s"$outDir/batch_*")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** Replay dir for q82's CDC changeset: 4 one-file chunks split by
    * k % 4 with ascending mtimes, so maxFilesPerTrigger=1 replays them
    * as 4 micro-batches. Changeset keys are UNIQUE (mergeChangeset's
    * documented property), so any deterministic split leaves the
    * chunked apply equal to the all-at-once MERGE — the split here is
    * by key residue, which also scatters updates/deletes/inserts across
    * every batch instead of grouping by op. Cached per (app, corpus
    * fingerprint) like the other replays. */
  private[graft] def mergeReplayDir(spark: SparkSession, dir: String): String =
    replayCache(graft.Tables(spark, dir), "merge_changes", "customer") {
      val changes = graft.operators.Analytics
        .mergeChangeset(graft.Tables(spark, dir))
      writeChunks(graft.TempDirs.create("graft_replay_changes"),
        (0 until 4).map(i => changes.filter(col("k") % 4 === i)))
    }

  /** One micro-batched CDC-apply session over `changesDir`: each
    * arriving changeset batch is MERGEd (Analytics.mergeApply — q82's
    * exact kernel) into the standing snapshot, writing version
    * `v{batchId+1}` from `v{batchId}` (v0 is the seeded base table).
    * Reading the EXPLICIT prior version — never "latest" — is what
    * makes the foreachBatch retry contract hold: a batch re-run under
    * the same id recomputes its own output version from the same input
    * version, byte-identically, even though a prior attempt already
    * wrote it (the st15/st17 idempotent-sink treatment applied to
    * TABLE state instead of append-only output). `checkpoint` /
    * `crashMarker` arm the st15 crash leg: one injected failure after
    * batch 1's snapshot write, before the engine commit. */
  private[graft] def upsertSession(
      spark: SparkSession,
      changesDir: String,
      snapRoot: String,
      checkpoint: Option[String] = None,
      crashMarker: Option[java.io.File] = None): Unit = {
    durableSession("st18 upsert session", replayStream(spark, changesDir),
        checkpoint, crashMarker) { (batch, batchId) =>
      val prev = batch.sparkSession.read.parquet(s"$snapRoot/v$batchId")
      graft.operators.Analytics.mergeApply(prev, batch)
        .write.mode("overwrite").parquet(s"$snapRoot/v${batchId + 1}")
    }
  }

  /** st18 — q82's MERGE/CDC apply as a STREAMING keyed upsert: the
    * production CDC compaction loop (round-13 verdict stretch task),
    * and the one major batch mutation surface that had no streaming
    * twin. The q82 changeset arrives as 4 micro-batches; each batch is
    * applied to the standing snapshot table via the SAME full-outer
    * MERGE kernel batch q82 runs, producing one snapshot version per
    * batch id ([[upsertSession]]). The graded result is q82's rollup
    * over the final version, against q82's DuckDB oracle VERBATIM —
    * chunked apply ≡ one-shot MERGE because changeset keys are unique
    * (each key's fate is decided exactly once, in exactly one batch).
    *
    * Scale shape: per batch, ONE key-shuffle (or broadcast, when the
    * arriving changeset is small — the common CDC case; AQE decides) of
    * snapshot × changes, then a snapshot rewrite — O(|snapshot| +
    * |batch|) per batch, never O(history of changes). At 100 TB the
    * missing piece vs Delta/Iceberg MERGE is file-level pruning of
    * untouched partitions (q82's documented storage-layout caveat);
    * the versioned-dirs-by-batch-id layout here IS their
    * snapshot/manifest pattern reduced to its engine-visible core. */
  def st18(spark: SparkSession, dir: String): DataFrame = {
    val cdir = mergeReplayDir(spark, dir)
    val snapRoot = graft.TempDirs.create("graft_st18_snap")
    val t0 = System.nanoTime()
    graft.Tables(spark, dir).customer
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$snapRoot/v0")
    val t1 = System.nanoTime()
    upsertSession(spark, cdir, snapRoot)
    val t2 = System.nanoTime()
    // phase split (the st15 discipline): seed is a one-time corpus
    // write, apply is the recurring per-batch cost a CDC loop pays —
    // the st18-vs-st19 comparison lives in the APPLY phase, and on a
    // real cluster the apply cost IS the bytes written (local[32]
    // micro-batches are orchestration-dominated, so wall-clock
    // understates the pruning win — the bytes column doesn't)
    val applyBytes = graft.Parts.pathBytes(spark, snapRoot) -
      graft.Parts.pathBytes(spark, s"$snapRoot/v0")
    System.err.println(f"[st18] seed ${(t1 - t0) / 1e9}%.2fs, " +
      f"apply ${(t2 - t1) / 1e9}%.2fs, " +
      s"applyBytes=$applyBytes")
    graft.operators.Analytics.mergeRollup(
      spark.read.parquet(s"$snapRoot/v${latestVersion(snapRoot)}"))
  }

  /** Highest snapshot version index under `snapRoot` (the post-session
    * read point; versions are contiguous by construction). */
  private[graft] def latestVersion(snapRoot: String): Int =
    Option(new java.io.File(snapRoot).listFiles()).getOrElse(Array.empty)
      .map(_.getName).collect { case s if s.matches("v\\d+") => s.tail.toInt }
      .max

  /** Bucket count for the pruned upsert layout: keys are assigned by
    * `pmod(c_custkey, UpsertBuckets)`. 16 gives the graded key-residue
    * chunking (k % 4 per micro-batch) exactly 4 touched buckets per
    * batch — a 75% rewrite skip the spec pins. */
  private[graft] val UpsertBuckets = 16

  /** Manifest for one snapshot version of the PRUNED upsert layout:
    * bucket index → the files/ dir holding that bucket's CURRENT rows.
    * Written LAST in each batch (the commit point): bucket files for a
    * version are useless until a manifest references them, so a crash
    * between bucket writes and manifest write leaves the previous
    * version intact — and a retried batch recomputes both the files
    * (per-version-per-bucket dir names = idempotent overwrite) and the
    * manifest deterministically from the PRIOR manifest. */
  private[graft] def writeManifest(snapRoot: String, ver: Long,
      entries: Map[Int, String]): Unit = {
    val json = entries.toSeq.sortBy(_._1)
      .map { case (b, p) => s""""$b":"$p"""" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$snapRoot/manifest_v$ver.json"), json)
  }

  private[graft] def readManifest(snapRoot: String, ver: Long): Map[Int, String] = {
    val s = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$snapRoot/manifest_v$ver.json"))
    // flat {"int":"path",...} object — parsed with a regex rather than a
    // JSON lib (none on the unmanaged classpath); paths never contain
    // quotes by construction (TempDirs + fixed dir-name scheme)
    """"(\d+)":"([^"]+)"""".r.findAllMatchIn(s)
      .map(m => m.group(1).toInt -> m.group(2)).toMap
  }

  /** One micro-batched PRUNED CDC-apply session — [[upsertSession]]'s
    * scale path: the standing snapshot lives as `UpsertBuckets` key-hash
    * bucket dirs plus a per-version MANIFEST mapping each bucket to the
    * files/ dir holding its current rows. Per batch, only the buckets
    * containing arriving keys are merged and rewritten; untouched
    * buckets carry forward BY REFERENCE in the next manifest — the
    * file-level pruning that Delta/Iceberg MERGE gets from min/max
    * stats, reduced to its engine-visible core. Per-batch cost is
    * O(touched-bucket rows + batch), independent of total snapshot
    * size when changes are key-localized; the full-rewrite st18 path
    * stays the baseline the oracle equality is measured against. */
  private[graft] def upsertSessionPruned(
      spark: SparkSession,
      changesDir: String,
      snapRoot: String,
      checkpoint: Option[String] = None,
      crashMarker: Option[java.io.File] = None): Unit = {
    val changes = replayStream(spark, changesDir)
    durableSession("st19 pruned upsert session", changes, checkpoint,
        crashMarker) { (batch, batchId) => graft.Intermediates.run { in =>
      val sp = batch.sparkSession
      val prev = readManifest(snapRoot, batchId)
      val b = in.keep(batch)
      val touched = b
        .select(pmod(col("k"), lit(UpsertBuckets)).as("_bkt"))
        .distinct()
        .collect().map(_.getLong(0).toInt).sorted // O(UpsertBuckets) rows
      // empty micro-batch (ADVICE r14): nothing to merge — carry the
      // prior manifest forward as this version's manifest instead of
      // calling sp.read.parquet() with zero paths (which throws).
      // Unreachable with the current q82 changeset shape, reachable if
      // the chunking ever changes; idempotent under retry (manifest
      // rewrite is deterministic from prev).
      if (touched.isEmpty) {
        writeManifest(snapRoot, batchId + 1, prev)
      } else {
        // ONE read of the touched buckets' current files, ONE merge
        // (buckets partition the key space, so merging them together
        // with the whole batch equals per-bucket merges), ONE
        // partitioned write: files/v{id+1}/_bkt=k per touched bucket
        val target = sp.read
          .parquet(touched.map(k => s"$snapRoot/${prev(k)}"): _*)
        val verDir = s"files/v${batchId + 1}"
        // repartition by bucket before the partitioned write: without
        // it every shuffle task fans out a file into every bucket dir
        // (~tasks x buckets small files per version — measured 40%
        // slower than the full rewrite at sf10); with it, one file per
        // bucket, and the shuffle moves only the touched buckets' rows
        graft.operators.Analytics.mergeApply(target, b)
          .withColumn("_bkt", pmod(col("c_custkey"), lit(UpsertBuckets)))
          .repartition(UpsertBuckets, col("_bkt"))
          .write.mode("overwrite").partitionBy("_bkt")
          .parquet(s"$snapRoot/$verDir")
        // a touched bucket whose rows were ALL deleted produces no
        // _bkt= dir; its manifest entry must still resolve, so give it
        // an explicit empty file (rare — a whole key-residue emptied)
        touched.foreach { k =>
          val d = new java.io.File(s"$snapRoot/$verDir/_bkt=$k")
          if (!d.isDirectory)
            target.limit(0).write.mode("overwrite").parquet(d.getPath)
        }
        val next = prev ++ touched.map(k => k -> s"$verDir/_bkt=$k")
        writeManifest(snapRoot, batchId + 1, next)
      }
    }}
  }

  /** Seed the pruned layout: the base table split into its key-hash
    * bucket dirs (one partitioned write) + manifest_v0. A residue class
    * absent from the base table still gets an (empty) dir so every
    * manifest entry resolves. */
  private[graft] def seedPrunedSnapshot(spark: SparkSession, dir: String,
      snapRoot: String): Unit = {
    val base = graft.Tables(spark, dir).customer
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      .withColumn("_bkt", pmod(col("c_custkey"), lit(UpsertBuckets)))
    base.repartition(UpsertBuckets, col("_bkt"))
      .write.mode("overwrite").partitionBy("_bkt")
      .parquet(s"$snapRoot/files/v0")
    (0 until UpsertBuckets).foreach { k =>
      val d = new java.io.File(s"$snapRoot/files/v0/_bkt=$k")
      if (!d.isDirectory)
        base.drop("_bkt").limit(0).write.mode("overwrite").parquet(d.getPath)
    }
    writeManifest(snapRoot, 0L,
      (0 until UpsertBuckets).map(b => b -> s"files/v0/_bkt=$b").toMap)
  }

  /** Latest manifest version under the pruned layout. */
  private[graft] def latestManifest(snapRoot: String): Long =
    Option(new java.io.File(snapRoot).listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .collect { case s if s.matches("manifest_v\\d+\\.json") =>
        s.stripPrefix("manifest_v").stripSuffix(".json").toLong }
      .max

  /** The merged table a pruned-layout manifest describes. */
  private[graft] def readPrunedSnapshot(spark: SparkSession,
      snapRoot: String, ver: Long): DataFrame = {
    val paths = readManifest(snapRoot, ver).values.map(p => s"$snapRoot/$p")
    spark.read.parquet(paths.toSeq: _*)
  }

  /** st19 — the PRUNED streaming CDC upsert: st18's semantics (q82's
    * MERGE, same changeset replay, same oracle VERBATIM) on the
    * bucketed-manifest layout, so each micro-batch rewrites ONLY the
    * key-hash buckets its changes touch — with the graded key-residue
    * chunking that is exactly 4 of 16 buckets per batch, a 75% rewrite
    * skip (spec-pinned by counting each version's written dirs). This
    * is the operator-level answer to st18's documented storage-layout
    * delta: at 100 TB a CDC batch touching one region's keys rewrites
    * one region's files, not the table; cost O(touched + batch),
    * independent of snapshot size. Crash contract: bucket files land
    * first, the manifest is the commit point, and a retried batch
    * recomputes both deterministically from the PRIOR manifest
    * (crash/restart spec leg, the st15 treatment). */
  def st19(spark: SparkSession, dir: String): DataFrame = {
    val cdir = mergeReplayDir(spark, dir)
    val snapRoot = graft.TempDirs.create("graft_st19_snap")
    val t0 = System.nanoTime()
    seedPrunedSnapshot(spark, dir, snapRoot)
    val t1 = System.nanoTime()
    upsertSessionPruned(spark, cdir, snapRoot)
    val t2 = System.nanoTime()
    val applyBytes = graft.Parts.pathBytes(spark, s"$snapRoot/files") -
      graft.Parts.pathBytes(spark, s"$snapRoot/files/v0")
    System.err.println(f"[st19] seed ${(t1 - t0) / 1e9}%.2fs, " +
      f"apply ${(t2 - t1) / 1e9}%.2fs, " +
      s"applyBytes=$applyBytes")
    graft.operators.Analytics.mergeRollup(
      readPrunedSnapshot(spark, snapRoot, latestManifest(snapRoot)))
  }

  /** st11 — the training-mix sampler at INGEST: p03's deterministic
    * rate sampling as a streaming stage. The mixture PLAN (per-source
    * weight_bp, t24 semantics) is computed batch-side over the corpus
    * snapshot — exactly how production mixes work: weights are a
    * planning artifact, re-derived per snapshot, while the sampler
    * APPLIES them continuously — and rides the stream as a broadcast
    * stream-static join (20 rows; never a shuffle of the stream). The
    * keep decision is the same pure doc_id hash cross-multiply as p03
    * (h32·10⁴ < weight_bp·2³²), so it is STATELESS — arrival order,
    * micro-batch boundaries, and replays cannot change any decision,
    * which is both why the finite-replay gate is exact and why the
    * operator needs no dedup state at unbounded scale (an at-least-once
    * source re-delivering a doc re-makes the identical decision; the
    * downstream exact-dedup stage (st10) absorbs the duplicate). Only
    * the final per-source counter holds state: O(sources) rows. Oracle:
    * the p03 composition minus packing — the streaming sampler must
    * keep EXACTLY the batch sampler's documents. */
  def st11(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.Tables(spark, dir)
    val docsBatch = t.documents.select(col("source"),
      graft.functions.exprs.quality_scan(col("text"))
        .getField("n_tokens").cast("bigint").as("n_tokens"))
    val perSrc = docsBatch.groupBy("source")
      .agg(sum(col("n_tokens")).as("src_tokens"))
    val tot = perSrc.agg(sum(col("src_tokens")).as("tot_tokens"),
      count(lit(1)).as("n_sources"))
    val weights = perSrc.crossJoin(broadcast(tot))
      .withColumn("weight_bp", least(lit(10000L),
        expr("(tot_tokens DIV (2 * n_sources)) * 10000 DIV src_tokens")))
      .select(col("source"), col("weight_bp"))
    val kept = tableStream(spark, dir, "documents")
      .select(col("source"),
        graft.functions.exprs.quality_scan(col("text"))
          .getField("n_tokens").cast("bigint").as("n_tokens"),
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8)," +
          " 16, 10) as bigint)").as("h32"))
      .join(broadcast(weights), "source")
      .filter(col("h32") * lit(10000L) < col("weight_bp") * lit(4294967296L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("kept_tokens"))
    // aggregation state O(sources) = 20 rows
    runMemory(spark, kept, "st11_sample", stateWidth(spark, dir, "documents"))
      .orderBy("source")
  }

  /** st12 — stateful threshold alerting (EventsStream.thresholdCrossings):
    * EXACTLY ONE row per user at the first event-time moment their
    * running spend crosses the threshold, the fire-once fraud/budget
    * alert, over the multi-batch out-of-order replay. The end-of-stream
    * sentinel (user −1, filtered) pushes the watermark past every real
    * event so the last reorder buffers flush in the cleanup batch.
    * Oracle: the batch running-sum first crossing (min rn with cum ≥ T,
    * cum joined back at that rn). History: SURVEY.md §8e,
    * task 1+5. */
  def st12(spark: SparkSession, dir: String): DataFrame =
    runAppendDistributed(spark,
        EventsStream.thresholdCrossings(flushedEvents(spark, dir), 100000L)
          .toDF(),
        "st12_alerts", stateWidth(spark, dir, "events"))
      .filter(col("user_id") >= 0) // drop the sentinel user
      .select(col("user_id"), col("n_events_at_cross"),
        col("cents_at_cross"))
      .orderBy("user_id")

  /** st13 — the continuously-maintained leaderboard (q88's streaming
    * twin): per-user running totals in exact integer cents with the
    * global top-10 re-derived per micro-batch — complete-mode
    * aggregation feeding sort+limit, the one place a global ORDER BY is
    * legitimate in this library's streaming surface because it runs
    * over the AGGREGATED O(users) state, never the event stream, and
    * the limit keeps the sink at 10 rows however long the stream runs.
    * Integer cents in the state store make cross-batch merges exact
    * (the st06 discipline), so the end-of-stream leaderboard must equal
    * the batch q88 verbatim — which is the oracle. */
  def st13(spark: SparkSession, dir: String): DataFrame = {
    val totals = eventsStream(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)"))
          .as("sum_value_cents"))
      .orderBy(col("sum_value_cents").desc, col("user_id"))
      .limit(10)
    // aggregation state O(users)
    runMemory(spark, totals, "st13_leaderboard",
        stateWidth(spark, dir, "events"))
      .orderBy(col("sum_value_cents").desc, col("user_id"))
  }

  /** Once-per-session chunked replay dir for the synthetic media corpus
    * (the st16 source): [[ReplayFiles]] single-file parquet chunks
    * striped by CONTIGUOUS id range (media_id / ceil(NMedia/4)) — not by
    * media_id % 4, which interferes with the id % 6 container assignment
    * (BMP ids are odd, TGA ids even, so mod-4 chunks each miss one image
    * container). A contiguous 500-id block contains every id % 6 class,
    * so every chunk genuinely carries all four containers — pinned by
    * StreamQueriesSpec's per-chunk coverage assertion. Chunks get
    * increasing mtimes, so `maxFilesPerTrigger=1` streams one chunk per
    * micro-batch in order (the events replayDir discipline; no jitter
    * needed — st16's aggregate is commutative, the multi-batch split
    * exercises the cross-batch state merge, not lateness). The corpus
    * is a pure function of range(0, NMedia) and reads no table, so
    * NMedia is in the tag and there is no input fingerprint. Visible to
    * the spec, which asserts its one-file-per-chunk structure (≥4
    * micro-batches is a property of the SOURCE layout, not of a
    * progress listener). */
  private[graft] def mediaReplayDir(t: graft.Tables): String =
    replayCache(t, s"media:${graft.multimodal.BinaryPipeline.NMedia}") {
      val nMedia = graft.multimodal.BinaryPipeline.NMedia
      val media = graft.multimodal.BinaryPipeline
        .synthesize(t.spark, nMedia).toDF()
      val chunkIds = (nMedia + ReplayFiles - 1) / ReplayFiles
      writeChunks(graft.TempDirs.create("graft_replay_media"),
        (0 until ReplayFiles).map(i =>
          media.filter(col("media_id") >= i.toLong * chunkIds &&
            col("media_id") < (i + 1).toLong * chunkIds)))
    }

  /** st16 — streaming decode-at-ingest over the binary media corpus:
    * the multimodal×streaming intersection the surface lacked. Payloads
    * arrive in [[ReplayFiles]] micro-batches; each is decoded ONCE at
    * arrival (sniff dispatch over all four containers — BMP, RLE TGA,
    * PPM, WAV — map-side inside the ingest batch, the m01 discipline)
    * into (container, byte length, full-content checksum), and the
    * per-(modality, container) rollup accumulates in the state store
    * across batches. State is 4 rows however long the stream runs; the
    * decode never re-reads a prior batch's payload — per-arrival cost is
    * O(payload bytes), the only scale term. The aggregate is commutative
    * integer arithmetic, so the end-of-stream answer must equal the
    * batch twin bit-exactly — graded by the codec-free DuckDB oracle
    * ([[graft.multimodal.BinaryPipeline.st16OracleSql]]), which gates
    * the cross-batch merge AND the decode from outside the JVM. */
  def st16(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val decoded = replayStream(spark, mediaReplayDir(graft.Tables(spark, sfDir)))
      .as[graft.multimodal.BinaryPipeline.MediaRow]
      .map(graft.multimodal.BinaryPipeline.decodeIngest _)
      .toDF("modality", "container", "plen", "csum")
    val agg = decoded
      .groupBy(col("modality"), col("container"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("plen")).as("total_bytes"),
        sum(col("csum")).as("content_sum"))
    // the rollup state is 4 rows and the decode map-side, so 4 state
    // partitions at any scale (OPTIMIZATION_r15.md)
    runMemory(spark, agg, "st16_media", width(4))
      .orderBy("modality", "container")
  }

  /** The incoming admission split as a 4-chunk multi-batch stream, split
    * by doc_id RANGE in ascending mtime order (one file per trigger):
    * unlike st14's hash chunks, RANGE chunks make arrival order equal
    * doc_id order, which is what lets first-arrival-wins admission
    * reproduce p06's min-doc_id in-batch survivorship exactly (see
    * [[st17]]'s scaladoc). Cached per (app, table content) like the
    * other replays. */
  /** `nChunks` parameterizes the micro-batch count (default 4 — the
    * graded replay): the long-horizon scale probe (round-13 verdict
    * task 4) needs enough batches to cross the seen_fps compaction
    * threshold live, which 4 never does. Chunks stay ascending
    * doc_id RANGES at any count — the property that makes
    * first-arrival-wins admission coincide with p06's min-doc_id
    * survivorship, so the p06 oracle holds for every chunking. */
  private[graft] def incomingReplayDir(spark: SparkSession, dir: String,
      nChunks: Int = 4): String = {
    val t = graft.Tables(spark, dir)
    replayCache(t, s"incoming:$nChunks", "documents") {
      import graft.functions.exprs.canon_fp
      val docs = t.documents
      val split = substring(md5(col("doc_id").cast("string")), 32, 1)
      val incoming = docs
        .filter(col("doc_id") % 50 =!= 0 && split >= "d")
      val maxId = incoming.agg(max("doc_id")).head.getLong(0)
      val bound = maxId / nChunks + 1
      val out = writeChunks(graft.TempDirs.create("graft_replay_incoming"),
        (0 until nChunks).map(i =>
          incoming.filter(expr(s"doc_id div $bound") === i)))
      // the standing corpus's fingerprint index, snapshotted NEXT TO the
      // replay (same cache key lifetime): one build per corpus snapshot,
      // probed by every micro-batch — the d11 snapshot-index pattern
      docs.filter(col("doc_id") % 50 =!= 0 && split < "d")
        .select(canon_fp(col("text")).as("fp")).distinct()
        .write.mode("overwrite").parquet(s"$out.index")
      out
    }
  }

  /** st17 — p06's incremental-admission decision as a MICRO-BATCHED
    * STREAM: the production shape of daily ingest, where each
    * micro-batch is one arriving batch and the admission gates run
    * against STANDING state instead of the corpus. Per micro-batch the
    * foreachBatch sink runs the SAME TrainingDataPipeline kernels p06
    * (and p01) grade — quality gate, standing-index fingerprint drop
    * (left_anti probe of the snapshot fp index), cross-batch + in-batch
    * exact dedup, eval-set decontamination — and appends each stage's
    * survivors idempotently (per-batch-id overwrite, the st15 sink
    * contract). The cross-batch dedup state is an ACCUMULATING
    * fingerprint index (each batch's unique novel fps append a snapshot;
    * later batches left_anti-probe the union) — corpus-scale index state
    * lives in snapshots, not the state store (the d11 rotation pattern;
    * st14's state store holds LSH buckets, which are bounded per key).
    *
    * EXACT p06 parity, and why it needs the RANGE replay: p06 dedups the
    * whole incoming split at once with a min-doc_id survivor; a stream
    * admits first-arrival-wins (that IS the production semantics — an
    * admitted doc is not retracted when a smaller id arrives a day
    * later). With doc_id-RANGE chunks arriving in ascending order, the
    * first arrival of a fingerprint is exactly its minimum doc_id, so
    * the two policies coincide and the finite-replay gate can reuse
    * p06's DuckDB oracle VERBATIM. Every stage stays O(batch): the
    * standing index is probed, never scanned into the batch; quality /
    * fp / decontamination are per-doc kernels; the final rollup reads
    * the accumulated stage survivors (O(admitted), not O(corpus)). */
  def st17(spark: SparkSession, dir: String): DataFrame = {
    val rd = incomingReplayDir(spark, dir)
    val bench = graft.Tables(spark, dir).documents
      .filter(col("doc_id") % 50 === 0)
    val out = graft.TempDirs.create("graft_st17_stages")
    // the foreachBatch stage plans run in the stream's session, at its
    // width: they shuffle O(batch) rows and get no AQE coalescing
    admissionSession(spark, rd, rd + ".index", bench, out,
      confs = stateWidth(spark, dir, "documents"))
    admissionStagesRollup(spark, out)
  }

  private[graft] val AdmissionStages =
    Seq("incoming", "quality", "novel", "uniq", "admitted")

  private[streaming] def admissionBatchDirs(out: String, stage: String): Seq[String] = {
    val d = new java.io.File(s"$out/$stage")
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter { f =>
        f.getName.startsWith("batch_") || f.getName.startsWith("compact_")
      }
      .map(_.getPath).toSeq
  }

  /** When the prior seen_fps snapshot count reaches this, they are
    * coalesced into one `compact_` dir (the d11 rotation pattern
    * applied to the admission index) — the graded 4-batch st17 replay
    * never crosses it, so compaction is a long-horizon path, exercised
    * by its spec leg at a lower threshold. */
  private[graft] val SeenFpsCompactThreshold = 8

  /** One micro-batched admission session over `incomingDir`, stage sinks
    * rooted at `out` — the st17 kernel, factored out so the
    * production-hardening legs (round-12 verdict task 4) can drive it:
    *  - `tag` namespaces this session's batch ids inside the SHARED
    *    stage dirs (`batch_<tag><id>`), so a SECOND day's session can
    *    accumulate onto the state a first day admitted — batch ids
    *    restart at 0 per streaming query, and untagged they'd collide
    *    with (and idempotently clobber) day 1's sinks. A non-empty tag
    *    must NOT end in a digit (enforced below): `batch_<tag><id>` is
    *    parsed back by name for the own-batch exclusion and a
    *    digit-terminated tag makes the concatenation ambiguous (tag ""
    *    batch 12 vs tag "1" batch 2 both name `batch_12`), silently
    *    clobbering another session's snapshot. Cross-batch dedup lists
    *    ALL seen_fps snapshots regardless of tag: day 2 probes the
    *    union of day 1's index and its own priors, which is exactly the
    *    standing-state semantics daily ingest banks on.
    *  - `checkpoint`/`crashMarker` give the admission sink the st15
    *    crash treatment: with a durable checkpoint, the marker injects
    *    one crash AFTER the stage sinks of batch 1 are written but
    *    BEFORE the engine commits — restarting from the checkpoint must
    *    re-execute batch 1 under the SAME id, where the per-batch-id
    *    overwrite sinks and the own-batch seen_fps exclusion (a retried
    *    batch must not anti-join against its own fingerprints) make the
    *    retry land byte-identically.
    * Cost per session stays O(arriving batches + admitted), never
    * O(corpus): the standing index and the accumulated seen_fps
    * snapshots are probed via left_anti, not scanned into the batch. */
  private[graft] def admissionSession(
      spark: SparkSession,
      incomingDir: String,
      standingIdx: String,
      bench: DataFrame,
      out: String,
      tag: String = "",
      checkpoint: Option[String] = None,
      crashMarker: Option[java.io.File] = None,
      compactThreshold: Int = SeenFpsCompactThreshold,
      confs: Map[String, String] = Map.empty): Unit = {
    require(tag.isEmpty || !tag.last.isDigit,
      s"admission tag '$tag' must not end in a digit: batch_<tag><id> " +
        "names would collide across sessions (ADVICE r13)")
    import graft.functions.exprs.canon_fp
    import graft.pipeline.TrainingDataPipeline.{benchGrams, decontaminateWithGrams, exactDedup, qualityFilter}
    // the session-static relations below are kept for the whole session
    // and freed when it ends, not at some later driver GC
    graft.Intermediates.run { session =>
      // bench gram set computed ONCE per session (r15): the bench corpus
      // is static across micro-batches, but decontaminate(uniq, bench)
      // re-scanned + re-exploded + re-distinct'd it inside every batch.
      // Checkpointing materializes the small distinct gram relation so
      // each batch only pays the broadcast probe. Same relation, so the
      // admitted set is byte-identical (oracle unchanged).
      val bGrams = session.checkpoint(benchGrams(bench))
      // the standing fingerprint index is SESSION-STATIC (one snapshot per
      // admission session, the d11 rotation pattern), yet every micro-batch
      // re-read its parquet (footer + scan job per batch) just to rebuild
      // the same anti-join build side. Checkpoint it once per session (r16;
      // the bGrams treatment) — each batch then pays only the broadcast
      // build over the materialized blocks. Same relation, so the admitted
      // set is byte-identical (oracle unchanged). A/B receipt against the
      // per-batch re-read: plans/r16/exp_st17_basefps.log, median B/A 0.950.
      val baseFps = session.checkpoint(spark.read.parquet(standingIdx))
      def stageDir(s: String) = s"$out/$s"
      val incoming = replayStream(spark, incomingDir)
      durableSession("st17 admission session", incoming, checkpoint,
          crashMarker, confs) { (batch, batchId) => graft.Intermediates.run { in =>
        val sp = batch.sparkSession
        // qual/novel kept like p06's stages (r15): each feeds its own
        // stage sink AND the next stage's lineage, so uncached the
        // quality kernel re-ran 3x per batch (novel sink, uniq build, qual
        // sink) — O(batch) recompute that at scale is the dominant
        // per-batch term. Freed when the batch ends, also when it fails,
        // so a retried batch does not add to a failed attempt's caches.
        val qual = in.keep(qualityFilter(batch))
        val novel = in.keep(qual.withColumn("fp", canon_fp(col("text")))
          .join(baseFps, Seq("fp"), "left_anti").drop("fp"))
        // cross-batch dedup: probe the fps accumulated by PRIOR batches
        // (across ALL session tags — day 2 probes day 1's index too).
        // Exclude THIS batch id: foreachBatch's retry contract re-runs a
        // failed micro-batch under the same id, and a prior attempt may
        // have already written its seen_fps snapshot — a retried batch
        // anti-joining against its own fingerprints would emit empty
        // uniq/admitted, breaking the sink's idempotency claim.
        val prior0 = admissionBatchDirs(out, "seen_fps")
          .filterNot(p => new java.io.File(p).getName == s"batch_$tag$batchId")
        // Snapshot COMPACTION (long-horizon polish, round-13): the probe
        // reads the UNION of snapshot dirs, so an unbounded daily ingest
        // would accumulate one dir per batch forever. When the priors
        // reach the threshold, coalesce them into one compact_ dir.
        // Crash-safety rides the probe's own algebra (duplicate fps
        // across dirs are harmless to a left_anti) plus strict ordering:
        // (1) the union is written to a dot-prefixed temp dir the
        // listing filters never see, (2) renamed into place, (3) only
        // then are the sources deleted — a crash after (2) leaves a
        // redundant-but-correct union, a crash during (1) leaves an
        // invisible orphan, and a RETRIED batch that finds the target
        // already present skips compaction entirely (the next batch's
        // compaction sweeps any leftover sources). The CURRENT batch's
        // own snapshot is never compacted — the retry contract needs it
        // excludable by name.
        // the dir-count curve, one line per batch: the long-horizon
        // boundedness receipt reads this directly (round-13 task 4)
        System.err.println(s"[admission] batch $tag$batchId: " +
          s"prior seen_fps dirs=${prior0.size}" +
          (if (prior0.size >= compactThreshold) " -> compacting" else ""))
        val prior =
          if (prior0.size < compactThreshold) prior0
          else {
            def rm(f: java.io.File): Unit = {
              Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
              f.delete(); ()
            }
            val target =
              new java.io.File(s"${stageDir("seen_fps")}/compact_$tag$batchId")
            // an existing target means a retried batch: it was already
            // in the prior0 listing (compact_ prefix), so just probe the
            // redundant union and let the next batch's compaction sweep
            if (target.exists()) prior0
            else {
              val tmp = new java.io.File(target.getParentFile,
                s".tmp_${target.getName}")
              rm(tmp)
              sp.read.parquet(prior0: _*).distinct()
                .write.mode("overwrite").parquet(tmp.getPath)
              java.nio.file.Files.move(tmp.toPath, target.toPath)
              prior0.foreach(p => rm(new java.io.File(p)))
              Seq(target.getPath)
            }
          }
        val crossNovel =
          if (prior.isEmpty) novel
          else novel.withColumn("fp", canon_fp(col("text")))
            .join(sp.read.parquet(prior: _*), Seq("fp"), "left_anti")
            .drop("fp")
        val uniq = in.keep(exactDedup(crossNovel))
        val admitted = decontaminateWithGrams(uniq, bGrams)
        // ONE combined stage sink per batch (r16): the five per-stage
        // writes were five separate write JOBS + five file-commit
        // protocols per micro-batch — pure per-job latency at any batch
        // size, ~5 output dirs of tiny files per batch (guide §2.6/§6).
        // The stages ride ONE parquet dir per batch as a `stage` column
        // (NOT partitionBy: an EMPTY stage — e.g. a re-ingest day whose
        // uniq/admitted are zero rows — must stay representable, and
        // partitioned writes drop empty partitions). The union's
        // branches read the same persisted qual/novel/uniq caches the
        // per-stage sinks read, so no stage computes twice; `text` is
        // carried only for admitted rows (the rollup's token mass),
        // null elsewhere. Idempotency is unchanged: a retried batch
        // OVERWRITES its own single dir.
        def staged(df: DataFrame, stage: String, withText: Boolean) =
          df.select(col("doc_id"), col("source"),
            (if (withText) col("text") else lit(null).cast("string"))
              .as("text"),
            lit(stage).as("stage"))
        // (A/B receipt against five per-stage writes:
        // plans/r16/exp_st17_sink.log, median B/A 0.760)
        staged(batch, "incoming", withText = false)
          .unionByName(staged(qual, "quality", withText = false))
          .unionByName(staged(novel, "novel", withText = false))
          .unionByName(staged(uniq, "uniq", withText = false))
          .unionByName(staged(admitted, "admitted", withText = true))
          .write.mode("overwrite")
          .parquet(s"${stageDir("stages")}/batch_$tag$batchId")
        uniq.select(canon_fp(col("text")).as("fp")).distinct()
          .write.mode("overwrite")
          .parquet(s"${stageDir("seen_fps")}/batch_$tag$batchId")
      }}
    }
  }

  /** p06's rollup over the combined stage dirs an [[admissionSession]]
    * (or several — multi-day state accumulates in place) populated:
    * ONE scan of the per-batch stage relation, filtered five ways (the
    * stage column replaces five per-stage dir reads — r16, paired with
    * the combined sink above). */
  private[graft] def admissionStagesRollup(
      spark: SparkSession, out: String): DataFrame = {
    val dirs = admissionBatchDirs(out, "stages")
    require(dirs.nonEmpty, "st17: the admission session produced no batches")
    val staged = spark.read.parquet(dirs: _*)
    val Seq(incoming, qual, novel, uniq, admitted) =
      AdmissionStages.map(s => staged.filter(col("stage") === s))
    graft.pipeline.PipelineQueries
      .admissionRollup(incoming, qual, novel, uniq, admitted)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st19_stream_upsert_pruned" -> ((s, dir) => st19(s, dir)),
    "st18_stream_upsert" -> ((s, dir) => st18(s, dir)),
    "st17_stream_admission" -> ((s, dir) => st17(s, dir)),
    "st16_stream_media_ingest" -> ((s, dir) => st16(s, dir)),
    "st13_stream_leaderboard" -> ((s, dir) => st13(s, dir)),
    "st12_stream_threshold_alert" -> ((s, dir) => st12(s, dir)),
    "st11_stream_mix_sample" -> ((s, dir) => st11(s, dir)),
    "st10_stream_curation" -> ((s, dir) => st10(s, dir)),
    "st09_stream_observe" -> ((s, dir) => st09(s, dir)),
    "st08_stateful_sessionize" -> ((s, dir) => st08(s, dir)),
    "st07_stream_outer_join" -> ((s, dir) => st07(s, dir)),
    "st05_stream_enrich" -> ((s, dir) => st05(s, dir)),
    "st01_stream_window_agg" -> ((s, dir) => st01(s, dir)),
    "st02_stream_sessionize" -> ((s, dir) => st02(s, dir)),
    "st03_stream_dedup" -> ((s, dir) => st03(s, dir)),
    "st04_stream_join" -> ((s, dir) => st04(s, dir)),
    "st14_stream_neardup" -> ((s, dir) => st14(s, dir)),
    "st15_checkpoint_recovery" -> ((s, dir) => st15(s, dir)),
    "st06_stream_running_totals" -> ((s, dir) => st06(s, dir)))
}
