package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Plan audit tool: prints the formatted physical plan for each named
  * query (all queries if none named). Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  * With SPARK_GRAFT_EXPLAIN_RUN=1 the query is EXECUTED first and the
  * final adaptive plan is printed instead — this is where AQE's runtime
  * decisions (ReusedExchange/stage reuse, skew splits, bhj conversions)
  * become visible; the static plan hides them. Executed runs also print
  * a `-- metrics --` line with the query's total shuffle write
  * bytes/records (summed from per-task metrics via a SparkListener):
  * the number a shuffle-volume claim ("payload X no longer rides
  * exchange Y") must cite, since plan text shows shape but not bytes.
  * Executed runs also count TASKS (r16): partition-scoping claims
  * ("the loop now runs 8-way, not 32-way") are invisible in a
  * localCheckpoint-terminated query's final plan — the r15 s16 evidence
  * gap — but the total task count measures them directly. Streaming
  * queries also print one `-- batch --` line per micro-batch from the
  * engine's progress events: the duration breakdown (triggerExecution /
  * addBatch / getBatch / latestOffset / queryPlanning / walCommit /
  * commitOffsets) and each state operator's rows and commit time.
  *
  * SPARK_GRAFT_CPUS sizes the session (master local[n] + n shuffle
  * partitions; default the machine's processor count), which is built
  * through [[GraftSession.build]] like every other main.
  * SPARK_GRAFT_EXPLAIN_CONF="k=v;k=v" sets runtime confs after session
  * build, e.g. spark.sql.shuffle.partitions=32 to dump a 32-wide session;
  * the operators' derived widths ([[Parts]]) are clamped to it.
  */
object Explain {
  /** Sums shuffle write volume across all tasks between reset() calls.
    * Shuffle WRITE is the right side to meter: every exchange is written
    * exactly once (reads can be retried/reused), so the sum is the
    * query's true shuffle volume. */
  private final class ShuffleMeter extends org.apache.spark.scheduler.SparkListener {
    private val bytes = new java.util.concurrent.atomic.AtomicLong
    private val records = new java.util.concurrent.atomic.AtomicLong
    private val tasks = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    def reset(): Unit = { bytes.set(0); records.set(0); tasks.set(0) }
    def report: String =
      s"shuffle_write_bytes=${bytes.get} shuffle_write_records=${records.get} " +
        s"tasks=${tasks.get}"
  }

  /** Prints each streaming micro-batch's progress as it completes. */
  private final class BatchPrinter extends StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String) =
        Option(p.durationMs.get(k)).map(_.toString).getOrElse("-")
      val phases = Seq("triggerExecution", "addBatch", "getBatch",
        "latestOffset", "queryPlanning", "walCommit", "commitOffsets")
      val state = p.stateOperators
      println(s"-- batch -- ${p.name} batch=${p.batchId} " +
        s"rows=${p.numInputRows} " + phases.map(k => s"$k=${ms(k)}").mkString(" ") +
        s" stateRows=${state.map(_.numRowsTotal).mkString(",")}" +
        s" stateCommitMs=${state.map(_.commitTimeMs).mkString(",")}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val run = sys.env.get("SPARK_GRAFT_EXPLAIN_RUN").contains("1")
    val spark = Harness.session()
    sys.env.get("SPARK_GRAFT_EXPLAIN_CONF").foreach {
      _.split(';').map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      }
    }
    val meter = new ShuffleMeter
    if (run) {
      spark.sparkContext.addSparkListener(meter)
      spark.streams.addListener(new BatchPrinter)
    }
    names.foreach { n =>
      println(s"\n========== $n ==========")
      // reset BEFORE building: many queries execute eagerly at
      // construction (localCheckpoint materialization, streaming replay
      // builds), so a post-construction reset would meter only the final
      // checkpoint re-scan and under-report the query's shuffle volume
      if (run) meter.reset()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (run) {
        df.queryExecution.toRdd.foreach(_ => ())
        val wallS = (System.nanoTime() - t0) / 1e9
        println(df.queryExecution.executedPlan.toString)
        // the listener bus is async and has no public drain; poll until
        // the counter is stable (all task-end events for a finished job
        // post within milliseconds)
        var last = ""
        var same = 0
        var waited = 0
        while (same < 3 && waited < 5000) {
          Thread.sleep(100); waited += 100
          val cur = meter.report
          if (cur == last) same += 1 else { same = 0; last = cur }
        }
        // "construction+final" labels the window: for eagerly-materialized
        // queries the meter covers the build phase too, by design
        println(f"-- metrics -- ${meter.report} wall_s=$wallS%.2f " +
          "(construction+final run)")
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
