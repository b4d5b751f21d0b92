package graft

import java.sql.Timestamp

import graft.streaming.EventsStream
import graft.streaming.EventsStream.Event
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // offset off epoch 0: an event timestamp equal to the initial watermark
  // (0) is dropped as late data
  private val Base = 1440L
  private def ts(min: Long) = new Timestamp((Base + min) * 60000L)
  private def minuteOf(t: Timestamp): Long = t.getTime / 60000L - Base

  private def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.processAllAvailable()
    q.stop()
  }

  test("windowedCounts aggregates per hour+type with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(65), 1, "view", 3.0),
      Event(4, ts(300), 1, "click", 4.0)) // advances watermark past first windows
    val q = EventsStream.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Append).start()
    runToCompletion(q)
    val rows = spark.table("wc").collect()
      .map(r => (minuteOf(r.getTimestamp(0)), r.getString(1), r.getLong(2)))
    assert(rows.contains((0L, "click", 2L)))
    assert(rows.contains((60L, "view", 1L)))
  }

  test("state-backend matrix: the SAME stateful query is exact on both " +
    "HDFSBacked and RocksDB state stores, and the progress metrics " +
    "prove which provider actually ran") {
    import spark.implicits._
    val BackendKey = "spark.sql.streaming.stateStore.providerClass"
    val RocksDb = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    def run(backend: Option[String])
        : (Seq[(Long, String, Long)], Set[String]) = {
      implicit val sqlCtx = spark.sqlContext
      val prev = spark.conf.getOption(BackendKey)
      backend.foreach(spark.conf.set(BackendKey, _))
      if (backend.isEmpty) spark.conf.unset(BackendKey)
      try {
        val mem = MemoryStream[Event]
        mem.addData((1 to 200).map(i =>
          Event(i.toLong, ts(i % 90), (i % 7).toLong, if (i % 2 == 0) "click"
            else "view", i.toDouble)): _*)
        mem.addData(Event(999, ts(600), 1, "click", 1.0)) // watermark push
        val name = s"backend_matrix_${backend.isDefined}"
        val q = EventsStream.windowedCounts(mem.toDF())
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append).start()
        q.processAllAvailable()
        val metrics = q.lastProgress.stateOperators
          .flatMap(_.customMetrics.keySet.toArray.map(_.toString)).toSet
        q.stop()
        val rows = spark.table(name).collect().map(r =>
          (minuteOf(r.getTimestamp(0)), r.getString(1), r.getLong(2))).toSeq
        (rows.sorted, metrics)
      } finally prev match {
        case Some(v) => spark.conf.set(BackendKey, v)
        case None    => spark.conf.unset(BackendKey)
      }
    }
    val (defaultRows, defaultMetrics) = run(None)
    val (rocksRows, rocksMetrics) = run(Some(RocksDb))
    assert(defaultRows.nonEmpty && defaultRows == rocksRows,
      "the backend is a persistence trade, never a semantics knob — " +
        "results must be identical")
    // the custom-metric NAMESPACES prove which provider actually held
    // the state (not just which conf was set)
    assert(defaultMetrics.exists(_.contains("loadedMapCache")),
      s"HDFSBacked run must report loadedMapCache metrics: $defaultMetrics")
    assert(rocksMetrics.exists(_.startsWith("rocksdb")),
      s"RocksDB run must report rocksdb* metrics: $rocksMetrics")
  }

  test("sessionWindows groups by 30-min gaps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(0), 7, "click", 1.0),
      Event(2, ts(10), 7, "click", 1.0),   // same session
      Event(3, ts(60), 7, "click", 1.0),   // gap 50min > 30 → new session
      Event(4, ts(600), 7, "click", 1.0))  // watermark push
    val q = EventsStream.sessionWindows(mem.toDF())
      .writeStream.format("memory").queryName("sw")
      .outputMode(OutputMode.Append).start()
    runToCompletion(q)
    val sessions = spark.table("sw").collect()
      .map(r => (r.getLong(0), minuteOf(r.getTimestamp(1)), r.getLong(3)))
    assert(sessions.contains((7L, 0L, 2L)))
    assert(sessions.contains((7L, 60L, 1L)))
  }

  test("sessionizeStateful emits closed sessions with sums") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(0), 9, "click", 1.5),
      Event(2, ts(20), 9, "view", 2.5),
      Event(3, ts(120), 9, "click", 1.0))
    val q = EventsStream.sessionizeStateful(mem.toDS())
      .writeStream.format("memory").queryName("ss")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    // second batch advances the watermark far enough to time out session 2
    mem.addData(Event(4, ts(1000), 9, "click", 1.0))
    runToCompletion(q)
    val out = spark.table("ss").as[EventsStream.SessionSummary].collect()
    val first = out.find(o => minuteOf(o.session_start) == 0L)
    assert(first.isDefined)
    assert(first.get.n_events == 2 && math.abs(first.get.sum_value - 4.0) < 1e-9)
  }

  test("sessionWindows streaming output equals batch sessionization (q31 " +
    "core) on the same fixture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // both sides start a session when the floor-second gap is over
    // 1800 s; the boundary itself is pinned by the whole-seconds spec below
    val fixture = Seq(
      Event(1, ts(0), 7, "click", 1.25),
      Event(2, ts(10), 7, "view", 2.0),    // same session as minute 0
      Event(3, ts(60), 7, "click", 0.5),   // 50-min gap → new session
      Event(4, ts(5), 8, "click", 3.0),
      Event(5, ts(100), 8, "view", 1.0))   // 95-min gap → new session
    val mem = MemoryStream[Event]
    mem.addData(fixture: _*)
    mem.addData(Event(99, ts(4000), 99, "click", 0.0)) // watermark push
    val q = EventsStream.sessionWindows(mem.toDF())
      .writeStream.format("memory").queryName("sweq")
      .outputMode(OutputMode.Append).start()
    runToCompletion(q)
    val streamed = spark.table("sweq").collect()
      .filter(_.getLong(0) != 99L) // pusher's own session is still open
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getLong(4))).toSet
    // batch twin: the oracle-checked q31 sessionization core on the same
    // rows; sums are exact integer cents on both sides
    val batch = operators.Relational.sessionized(fixture.toDF())
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(streamed == batch,
      s"streaming sessions $streamed != batch sessions $batch")
    assert(streamed.size == 4)
  }

  test("stream-static join enriches events with a broadcast dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY")).toDF("c_custkey", "c_mktsegment")
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(1), 1, "click", 1.0),
      Event(2, ts(2), 2, "view", 2.0),
      Event(3, ts(3), 99, "view", 3.0)) // no dim row -> dropped (inner join)
    val q = EventsStream.enrichWithDim(mem.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    runToCompletion(q)
    val rows = spark.table("enriched").collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(rows == Map(1L -> "BUILDING", 2L -> "MACHINERY"))
  }

  test("streaming dedup drops re-deliveries within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(10, ts(1), 1, "click", 1.0),
      Event(10, ts(1), 1, "click", 1.0), // duplicate delivery
      Event(11, ts(2), 1, "view", 2.0))
    val q = EventsStream.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    mem.addData(Event(10, ts(3), 1, "click", 1.0)) // re-delivery, later ts
    runToCompletion(q)
    val ids = spark.table("deduped").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(10L, 11L))
  }

  test("slidingCounts assigns events to overlapping windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(20), 1, "click", 1.0),
      Event(2, ts(400), 1, "click", 1.0)) // watermark push
    val q = EventsStream.slidingCounts(mem.toDF())
      .writeStream.format("memory").queryName("sc")
      .outputMode(OutputMode.Append).start()
    runToCompletion(q)
    val wins = spark.table("sc").collect()
      .filter(_.getLong(2) > 0)
      .map(r => minuteOf(r.getTimestamp(0)))
      .filter(m => m <= 20 && m > 20 - 60).sorted
    // minute-20 event falls in the 4 sliding windows starting -40,-25,-10,5...
    // (window start grid is every 15 min; event in [start, start+60))
    assert(wins.length == 4, s"expected 4 overlapping windows, got ${wins.toSeq}")
  }

  /** (user, click minute, purchase minute or −1) of every row the
    * click→purchase join emits over `batches`, fed one micro-batch each. */
  private def joinRows(name: String, joinType: String,
      batches: Seq[Event]*): Set[(Long, Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventsStream.clickToPurchase(mem.toDF(), joinType)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    runToCompletion(q)
    spark.table(name).collect().map(r => (r.getLong(0),
      minuteOf(r.getTimestamp(1)),
      if (r.isNullAt(2)) -1L else minuteOf(r.getTimestamp(2)))).toSet
  }

  test("stream-stream join pairs clicks with purchases within 10 minutes") {
    val rows = joinRows("c2p", "inner", Seq(
      Event(1, ts(0), 1, "click", 0.0),
      Event(2, ts(0), 2, "click", 0.0),
      Event(100, ts(5), 1, "purchase", 9.99),   // within 10 min → joins
      Event(101, ts(15), 2, "purchase", 5.00),  // 15 min later → outside
      Event(102, ts(600), 3, "purchase", 1.00))) // watermark push
    assert(rows == Set((1L, 0L, 5L)))
  }

  test("left-outer stream-stream join emits unmatched clicks with nulls") {
    val rows = joinRows("c2plo", "left_outer",
      Seq(Event(1, ts(0), 1, "click", 0.0),
        Event(2, ts(0), 2, "click", 0.0),         // user 2 never purchases
        Event(100, ts(5), 1, "purchase", 9.99),
        Event(102, ts(600), 3, "purchase", 1.00)), // purchase watermark push
      // push the click watermark too, so click 2's join horizon closes
      // and its eviction emits the null row
      Seq(Event(3, ts(700), 9, "click", 0.0),
        Event(103, ts(700), 9, "purchase", 1.0)))
    assert(rows.contains((1L, 0L, 5L)), s"matched pair missing from $rows")
    assert(rows.contains((2L, 0L, -1L)),
      s"unmatched click must emit a null purchase side: $rows")
  }

  test("q31, st02 and st08 keep events 1800 s and 1800.42 s apart in one " +
    "session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // q31 and its oracle split a session when the floor-second gap is
    // over 1800: users 1 (1800.42 s) and 2 (exactly 1800 s) keep one
    // session, user 3 (1801 s) gets two
    def at(sec: Long, ms: Int) = new Timestamp((Base * 60 + sec) * 1000 + ms)
    val fixture = Seq(
      Event(1, at(0, 147), 1, "click", 1.0),
      Event(2, at(1800, 569), 1, "click", 1.0),
      Event(3, at(0, 0), 2, "click", 1.0),
      Event(4, at(1800, 0), 2, "click", 1.0),
      Event(5, at(0, 500), 3, "click", 1.0),
      Event(6, at(1801, 0), 3, "click", 1.0))
    val want = Map(1L -> 1, 2L -> 1, 3L -> 2)
    // sessions per user, from the user_id column of per-session rows
    def perUser(df: DataFrame) = df.collect().map(_.getLong(0))
      .filter(_ != 99L).groupBy(identity).map { case (u, s) => u -> s.length }
    assert(perUser(operators.Relational.sessionized(fixture.toDF())) == want,
      "q31's sessionization core")
    def streamed(name: String, op: MemoryStream[Event] => DataFrame) = {
      val mem = MemoryStream[Event]
      val q = op(mem).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      mem.addData(fixture: _*)
      q.processAllAvailable()
      mem.addData(Event(99, ts(1000), 99, "click", 0.0)) // watermark push
      runToCompletion(q)
      perUser(spark.table(name))
    }
    assert(streamed("gap_st02", m => EventsStream.sessionWindows(m.toDF()))
      == want, "st02's session_window")
    assert(streamed("gap_st08",
      m => EventsStream.sessionizeStateful(m.toDS()).toDF()) == want,
      "st08's reorder-buffered sessionizer")
  }

  test("transformWithState running totals update per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Event]
      mem.addData(
        Event(1, ts(0), 1, "click", 1.5),
        Event(2, ts(1), 1, "view", 2.5),
        Event(3, ts(2), 2, "click", 1.0))
      val q = EventsStream.runningStats(mem.toDS())
        .toDF("user_id", "n", "acc")
        .writeStream.format("memory").queryName("rstats")
        .outputMode(OutputMode.Update).start()
      q.processAllAvailable()
      mem.addData(Event(4, ts(3), 1, "view", 3.0))
      runToCompletion(q)
      val rows = spark.table("rstats").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // state carries across micro-batches: user 1's second update sees
      // the first batch's totals
      assert(rows.contains((1L, 2L, 4.0)), s"batch-1 totals missing: ${rows.toSeq}")
      assert(rows.contains((1L, 3L, 7.0)), s"batch-2 totals missing: ${rows.toSeq}")
      assert(rows.contains((2L, 1L, 1.0)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("sessionizeStateful reorder buffer: a cross-batch LATE arrival " +
    "folds into its event-time session instead of rewinding it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // arrival order inverts event time: minute 20 arrives a batch BEFORE
    // minute 0. The pre-round-6 fold would join minute 0 into the open
    // session and REWIND `last` to it (a corrupt (start=20, end=0)
    // session); the buffered fold must emit the true (0, 20) session.
    val mem = MemoryStream[Event]
    val q = EventsStream.sessionizeStateful(mem.toDS())
      .writeStream.format("memory").queryName("sess_ooo")
      .outputMode(OutputMode.Append).start()
    mem.addData(Event(2, ts(20), 9, "view", 2.5))
    q.processAllAvailable()
    mem.addData(Event(1, ts(0), 9, "click", 1.5))
    q.processAllAvailable()
    mem.addData(Event(99, ts(1000), 99, "click", 0.0)) // watermark push
    runToCompletion(q)
    val out = spark.table("sess_ooo").as[EventsStream.SessionSummary]
      .collect().filter(_.user_id == 9L)
    assert(out.length == 1, s"one session expected: ${out.toSeq}")
    val s = out.head
    assert(minuteOf(s.session_start) == 0L && minuteOf(s.session_last) == 20L
      && s.n_events == 2 && math.abs(s.sum_value - 4.0) < 1e-9,
      s"event-time session (0,20,n=2) expected: $s")
  }

  test("st12 reorder buffer folds cross-batch OUT-OF-ORDER arrivals in " +
    "event-time order (arrival-order fold would mis-index the crossing)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Arrival order deliberately inverts event time ACROSS batches:
    //   batch 1 delivers e3 (minute 20, +10.00)
    //   batch 2 delivers e1 (minute 5, +12.00) and e2 (minute 10, −5.00)
    // Event-time fold: 1200 ≥ T at e1 → fire at n=1, cents 1200.
    // An arrival-order fold would fire at e3 with n=1, cents 1000 —
    // wrong index AND wrong amount. Batch 3's flush event (minute 300)
    // pushes the watermark past everything so held events fold.
    val T = 1000L
    val mem = MemoryStream[Event]
    val q = EventsStream.thresholdCrossings(mem.toDS(), T)
      .writeStream.format("memory").queryName("cross_ooo")
      .outputMode(OutputMode.Append).start()
    mem.addData(Event(3, ts(20), 1, "click", 10.0))
    q.processAllAvailable()
    mem.addData(Event(1, ts(5), 1, "click", 12.0),
      Event(2, ts(10), 1, "click", -5.0))
    q.processAllAvailable()
    mem.addData(Event(99, ts(300), 99, "click", 0.0))
    runToCompletion(q)
    val out = spark.table("cross_ooo").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 1L, 1200L)),
      s"event-time-order crossing must be (user 1, n=1, 1200 cents): $out")
  }

  test("windowed agg restarts from checkpoint without loss or duplication") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val chk = java.nio.file.Files.createTempDirectory("graft-chk").toString
    val out = java.nio.file.Files.createTempDirectory("graft-chk-out").toString
    val mem = MemoryStream[Event]
    def start() = EventsStream.windowedCounts(mem.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode(OutputMode.Append).start()

    mem.addData(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(300), 1, "view", 3.0)) // watermark closes hour-0 window
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    // restart from the same checkpoint; more data closes the next windows
    mem.addData(Event(4, ts(600), 1, "view", 4.0))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(out).collect()
      .map(r => (minuteOf(r.getTimestamp(0)), r.getString(1), r.getLong(2)))
    // hour-0 click window emitted exactly once despite the restart
    assert(rows.count(t => t._1 == 0L && t._2 == "click") == 1)
    assert(rows.contains((0L, "click", 2L)))
  }

  test("file-source backfill: jsonl dir streamed with AvailableNow") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-src").toString
    Seq(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(300), 1, "view", 3.0))
      .toDF().write.mode("overwrite").json(dir)
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .json(dir)
    val q = EventsStream.windowedCounts(stream)
      .writeStream.format("memory").queryName("backfill")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) // AvailableNow stops itself after the backlog
    val rows = spark.table("backfill").collect()
      .map(r => (minuteOf(r.getTimestamp(0)), r.getString(1), r.getLong(2)))
    assert(rows.contains((0L, "click", 2L)))
  }

  test("foreachBatch sink writes date-partitioned parquet") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-stream-sink").toString
    val mem = MemoryStream[Event]
    mem.addData(Event(1, ts(1), 1, "click", 1.0), Event(2, ts(2), 2, "view", 2.0))
    val q = EventsStream.sinkPartitioned(mem.toDF(), out)
      .option("checkpointLocation", out + "/_chk").start()
    runToCompletion(q)
    val back = spark.read.parquet(out)
    assert(back.count() == 2)
    assert(back.columns.contains("dt"))
    // batch-scoped overwrite layout: replayed micro-batches rewrite their
    // own batch_id=N dir (at-least-once foreachBatch -> effective
    // exactly-once), and readers discover batch_id as a partition column
    assert(back.columns.contains("batch_id"))
  }
}
