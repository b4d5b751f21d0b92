package graft

/** Driver-run benchmark: times every SURVEY §2 query at SPARK_GRAFT_SF_DIR,
  * prints ONE JSON line. Session/JVM warm-up (codegen compiler, parquet
  * footer readers, shuffle machinery) runs before the clock starts so each
  * query's time reflects the query, not first-touch initialization.
  */
object Bench {
  /** Which sidecar files a run may refresh (pure so BenchSinkSpec can
    * gate it; round-11 verdict item 1). Every graded run writes
    * BENCH_LAST.json — the latest reading is always readable — but the
    * canonical BENCH_SUMMARY.json is refreshed ONLY by a full-suite run
    * under the quiet frozen protocol (quiet_bench.sh sets
    * SPARK_GRAFT_BENCH_PROTOCOL=quiet after arming the vmstat trace).
    * The round-10 driver's hot full-suite run clobbered the 156.2 s
    * validation-F record, proving "full-suite" alone is not a
    * sufficient guard for the frozen-protocol yardstick. A run on any SF
    * directory other than the graded sf0.1 (a contract smoke) writes
    * BENCH_SMOKE.json instead, so it can never displace a graded reading. */
  private[graft] def summarySinks(sfDir: String, targeted: Boolean,
                                  protocol: Option[String]): Seq[String] =
    if (!gradedSf(sfDir)) Seq("BENCH_SMOKE.json")
    else if (!targeted && protocol.contains("quiet"))
      Seq("BENCH_LAST.json", "BENCH_SUMMARY.json")
    else Seq("BENCH_LAST.json")

  /** Whether `sfDir` is the graded bench SF, by basename: a trailing slash
    * must not disable the match, and an unrelated dir whose name merely
    * ends in "sf0.1" must not enable it. */
  private[graft] def gradedSf(sfDir: String): Boolean =
    sfDir.split('/').filter(_.nonEmpty).lastOption.contains("sf0.1")

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line, or
    * None where unreadable. Sampled immediately before/after each run,
    * the delta is that run's EXACT hypervisor-steal exposure over its
    * own window — the round-11 run-B lesson: a 2 s vmstat cadence can
    * average a sub-window steal spike down to zero, so the timeline now
    * carries its own per-run steal column that no sampling grid can
    * blind (SURVEY §8j carry-forward 3). */
  private[graft] def cpuJiffies(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        // denominator = user..steal (first 8 fields) ONLY: guest/guest_nice
        // are already accounted inside user/nice, so summing all 10 would
        // double-count guest time and deflate steal_pct on guest-running
        // hosts (ADVICE r12)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Throwable => None }

  /** Where a run's durable per-query record lands (round-12 verdict
    * task 2b), or None when it must not write one: targeted runs would
    * litter the archival plans/ dir, and a missing plans/ means the
    * bench is running outside a repo checkout. BenchSinkSpec gates the
    * routing like summarySinks. Same-second collisions (scripted
    * back-to-back full-suite runs) bump to `bench_<sec>_<k>.json`
    * instead of silently overwriting the earlier record — the dir is
    * archival, so clobbering defeats its purpose (ADVICE r13). */
  private[graft] def durableDumpPath(targeted: Boolean,
                                     plansDir: java.io.File,
                                     epochSec: Long): Option[java.nio.file.Path] =
    if (!targeted && plansDir.isDirectory) {
      val candidates = Iterator(s"bench_$epochSec.json") ++
        Iterator.from(1).map(k => s"bench_${epochSec}_$k.json")
      // Reserve the name ATOMICALLY (ADVICE r14): createFile claims the
      // path or throws FileAlreadyExistsException, so two same-second
      // bench processes can never both select (and later clobber) the
      // same record — the check-then-act race the r13 bump only shrank.
      candidates.map(new java.io.File(plansDir, _)).flatMap { f =>
        try Some(java.nio.file.Files.createFile(f.toPath))
        catch { case _: java.nio.file.FileAlreadyExistsException => None }
      }.nextOption()
    } else None

  /** Memory-bandwidth canary (round 13): hypervisor steal only measures
    * CPU-scheduling theft — co-tenant MEMORY-BANDWIDTH/LLC pressure is
    * invisible to it, yet it inflated st16 to 2.5× at sub-1% measured
    * steal (r13 session F; same mechanism as r12's 6–7 s st16 storm
    * readings). This kernel does a fixed amount of bandwidth-bound work
    * (two cacheline-strided passes over a 64 MB resident array) and
    * returns its wall milliseconds: constant work, so the reading IS
    * the machine's effective memory speed at that instant. Sampled
    * before every run (outside the query's timed window) it gives the
    * timeline a contention column no CPU counter can fake. */
  private lazy val canaryArr: Array[Long] =
    Array.tabulate(8 * 1024 * 1024)(_.toLong) // 64 MB
  // Written, never read: the store keeps the JIT from eliminating the
  // canary loop as dead code, so the unused-private lint is silenced here.
  @annotation.nowarn("cat=unused-privates")
  @volatile private var canarySink = 0L
  private[graft] def canaryMs(): Double = {
    val a = canaryArr
    val t0 = System.nanoTime()
    var pass = 0
    var s = 0L
    while (pass < 2) {
      var i = 0
      while (i < a.length) { s += a(i); i += 8 } // one touch per cacheline
      pass += 1
    }
    canarySink = s
    (System.nanoTime() - t0) / 1e6
  }

  /** The canary fragment for the summary line: min is the session's
    * uncontended machine speed, max/median show how far and how often
    * contention moved it. Empty when no readings exist. */
  private[graft] def canarySummary(ms: Seq[Double]): String =
    if (ms.isEmpty) ""
    else {
      def r1(d: Double) = math.rint(d * 10) / 10
      val sorted = ms.sorted
      s""","canary_min":${r1(sorted.head)},"canary_med":${
        r1(sorted(sorted.size / 2))},"canary_max":${r1(sorted.last)}"""
    }

  /** One pre-adjudicated over-2x flag (round-13 verdict task 2): the
    * entry carries the query's own worst-run steal-pct and canary-ms so
    * a storm-day flag arrives attributed — "3.1x at 18% steal while the
    * canary read 2x its baseline" is host contention on its face, where
    * a bare name forced the grader to cross-reference quiet sessions by
    * hand (r13 did exactly that for st15/st16). steal/canary are
    * omitted where no reading exists (unreadable /proc/stat). */
  private[graft] def overFlagJson(q: String, ratio: Double,
      worstSteal: Option[Double], worstCanary: Option[Double]): String = {
    def r1(d: Double) = math.rint(d * 10) / 10
    def r2(d: Double) = math.rint(d * 100) / 100
    s"""{"q":"$q","ratio":${math.rint(ratio * 1000) / 1000}""" +
      worstSteal.fold("")(s => s""","steal":${r2(s)}""") +
      worstCanary.fold("")(c => s""","canary":${r1(c)}""") + "}"
  }

  /** st15's phase split for the summary tail + durable dump (round-13
    * verdict task 3): pre-crash vs recovery seconds of the run that
    * produced the graded (min) time. The split is what adjudicates an
    * st15 spike — recovery growing with history would be a state-replay
    * defect; a fat pre-crash leg with flat recovery is micro-batch
    * orchestration cost (the documented bimodal mode). Empty when st15
    * was not in the suite (targeted runs) or every run failed. */
  private[graft] def st15PhaseSummary(phases: Option[(Double, Double)]): String =
    phases.fold("") { case (pre, rec) =>
      def r2(d: Double) = math.rint(d * 100) / 100
      s""","st15_phases":{"pre_crash":${r2(pre)},"recovery":${r2(rec)}}"""
    }

  /** The summary line's self-attribution fragment (round-12 verdict
    * task 2a): mean/max per-run steal and the count of hot runs
    * (per-run steal ≥ 5%, drift_join.py's proc threshold). Empty when
    * no run produced a steal reading (unreadable /proc/stat). */
  private[graft] def stealSummary(pcts: Seq[Double]): String =
    if (pcts.isEmpty) ""
    else {
      def r2(d: Double) = math.rint(d * 100) / 100
      s""","steal_mean":${r2(pcts.sum / pcts.size)},"steal_max":${
        r2(pcts.max)},"hot_runs":${pcts.count(_ >= 5.0)}"""
    }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()

    // warm-up: codegen + shuffle + parquet reader paths, plus the
    // bandwidth canary (array allocation + JIT of its loop)
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    canaryMs(); canaryMs()

    // min of 3 runs per query: the host VM shows multi-second noise spikes;
    // min approximates steady-state cost.
    // Execute the FULL physical plan (`toRdd.foreach`), not `.count()`:
    // under a count Catalyst prunes every projected expression, so map-only
    // queries (t01/t04/t05/t09/q50...) would time a parquet row count
    // instead of their kernels.
    // Optional comma-separated name filter for targeted local iteration
    // (unset in driver runs → full suite).
    val only = Harness.queryFilter("SPARK_GRAFT_BENCH_ONLY")
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Default 3 runs/query; SPARK_GRAFT_BENCH_RUNS=2 reproduces the round
    // driver's min-of-2 protocol for like-for-like baseline comparisons.
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3)
    // Optional wall-clock timeline (SPARK_GRAFT_BENCH_TIMELINE=path,
    // round 10): one TSV row per (query, run) with epoch-second start/
    // end, joinable against a concurrent `vmstat -t` trace — the
    // incident-level drift attribution tools/quiet_bench.sh arms
    // (tools/drift_join.py does the join). Opt-in and side-channel:
    // the driver-facing stdout/JSON contract is untouched.
    val timeline = sys.env.get("SPARK_GRAFT_BENCH_TIMELINE")
      .map(p => new java.io.PrintWriter(new java.io.FileWriter(p)))
    // ok column (ADVICE r10): a run that errored out is otherwise
    // indistinguishable from a measured run in the timeline, so drift
    // attribution could "explain" a duration that was actually a failure.
    // steal_ticks/steal_pct: per-run /proc/stat steal delta (exact over
    // the run's own window; '-' where /proc/stat is unreadable).
    // drift_join.py treats the columns as optional so archived 5/6-col
    // timelines stay joinable.
    // canary_ms (round 13): the pre-run bandwidth-canary wall time —
    // constant memory-bound work, so the column reads the machine's
    // effective memory speed just before the run; co-tenant bandwidth
    // pressure that steal cannot see shows up here. Appended LAST so
    // drift_join.py's positional parse of older columns is untouched.
    timeline.foreach(_.println(
      "query\trun\tstart_epoch\tend_epoch\tsec\tok\tsteal_ticks\tsteal_pct\tcanary_ms"))
    // try/finally (ADVICE r10): a fatal abort mid-suite must still close
    // the writer, and a swallowed I/O error (PrintWriter never throws)
    // must be surfaced — a silently truncated timeline would be joined
    // by drift_join.py without complaint.
    // Per-run steal is sampled UNCONDITIONALLY (not just when a timeline
    // is armed): the driver's round runs set no timeline, and a storm-day
    // BENCH_rN.json without its own steal columns reads as six query
    // regressions until someone re-derives the attribution by hand
    // (round-12 grading did exactly that). ~2 /proc/stat reads per run.
    val stealPcts = scala.collection.mutable.ArrayBuffer.empty[Double]
    val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Per-query attribution for the over_2x flags (round-13 verdict
    // task 2): the WORST run's steal/canary over the query's own window
    // — if even one of the min-of-N runs was contaminated, the flag says
    // so itself. Plus st15's phase split from the run that won the min.
    case class QueryStats(min: Double, worstSteal: Option[Double],
                          worstCanary: Option[Double],
                          st15Phases: Option[(Double, Double)])
    val detailed =
      try selected.map { case (name, fn) =>
        val runsData = (1 to runs).flatMap { r =>
          val can = canaryMs()
          canaries += can
          val j0 = cpuJiffies()
          val w0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ()); true }
            catch { case _: Throwable => false }
          val sec = (System.nanoTime() - t0) / 1e9
          val steal = for {
            (s0, tt0) <- j0
            (s1, tt1) <- cpuJiffies()
            if tt1 > tt0
          } yield (s1 - s0, 100.0 * (s1 - s0) / (tt1 - tt0))
          steal.foreach { case (_, p) => stealPcts += p }
          timeline.foreach { tl =>
            val (stT, stP) = steal
              .map { case (t, p) => (t.toString, f"$p%.2f") }
              .getOrElse(("-", "-"))
            tl.println(f"$name\t$r\t${w0 / 1000.0}%.1f\t${(w0 + (sec * 1000).toLong) / 1000.0}%.1f\t$sec%.3f\t$ok\t$stT\t$stP\t$can%.2f")
            tl.flush()
          }
          val phases = if (name == "st15_checkpoint_recovery" && ok)
            graft.streaming.StreamQueries.lastSt15Phases else None
          if (ok) Some((sec, steal.map(_._2), can, phases)) else None
        }
        // min over SUCCESSFUL runs; -1 only if every run failed (a -1
        // sentinel inside min would let one transient failure mask two
        // good runs and corrupt the total)
        val stats =
          if (runsData.isEmpty) QueryStats(-1.0, None, None, None)
          else {
            val best = runsData.minBy(_._1)
            QueryStats(best._1,
              { val ss = runsData.flatMap(_._2)
                if (ss.isEmpty) None else Some(ss.max) },
              Some(runsData.map(_._3).max),
              best._4)
          }
        name -> stats
      }
      finally timeline.foreach { tl =>
        tl.close()
        if (tl.checkError())
          System.err.println("[bench] WARNING: timeline write FAILED — " +
            "the TSV is truncated or missing rows; drift attribution over " +
            "this run is unreliable")
      }
    val results = detailed.map { case (n, s) => n -> s.min }
    val worst = detailed.map { case (n, s) =>
      n -> (s.worstSteal, s.worstCanary) }.toMap
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // Stdout from sbt drowns/truncates the JSON line (round-1 BENCH had
    // "parsed": null) — also persist it to a file the driver/judge can read.
    // Default under tmpdir so unconfigured runs never dirty the checkout.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File(sys.props("java.io.tmpdir"), "bench_out.json").getPath)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))

    // The ~2.5 KB per-query line above can NEVER survive the driver's
    // 2000-char stdout tail (all four BENCH_r0*.json: "parsed": null), so
    // also emit a compact (<200 char) summary as the LAST line before sbt's
    // own trailer. The 2x-vs-baseline gate is evaluated HERE, against
    // BASELINE.md's frozen sf0.1 column, so the driver sees the verdict for
    // all queries — not just the 63 that fit a truncated tail.
    val summary = {
      def r3(d: Double) = math.rint(d * 1000) / 1000
      val base: Map[String, Double] =
        try {
          // explicit UTF-8: the doc has non-ASCII (×, —) and the forked
          // JVM's default charset here is ASCII → MalformedInputException
          val src = scala.io.Source.fromFile("BASELINE.md")(
            scala.io.Codec.UTF8)
          val row = """\|\s*([a-z]\w+)\s*\|\s*([0-9.]+)\s*\|.*""".r
          // only the frozen table: other sections (the round-3 postmortem
          // above it, the sf1/sf10 appendices below) have the same |name|
          // number| shape with non-frozen first columns
          try src.getLines()
            .dropWhile(!_.startsWith("## Per-query seconds"))
            .drop(1).takeWhile(!_.startsWith("## "))
            .collect { case row(n, t) => n -> t.toDouble }.toMap
          finally src.close()
        } catch { case e: Throwable =>
          System.err.println(s"[bench] baseline parse failed: $e")
          Map.empty
        }
      // gate per BASELINE.md protocol: >2x frozen AND >0.3s absolute
      // (sub-0.3s deltas are documented host noise); only meaningful when
      // benching the baseline's own SF.
      val gated = if (gradedSf(sfDir)) {
        val ratios = results.collect {
          case (n, t) if t >= 0 && base.contains(n) => (n, t / base(n), t - base(n))
        }
        val over = ratios.collect { case (n, r, d) if r > 2 && d > 0.3 => (n, r) }
        val maxR = if (ratios.nonEmpty) ratios.maxBy(_._2) else ("", 0.0, 0.0)
        // over_2x entries are pre-adjudicated objects (round-13 verdict
        // task 2): each flag carries its own worst-run steal/canary
        s""","baselined":${ratios.size},"over_2x":${
          over.take(8).map { case (n, r) =>
            val (ws, wc) = worst.getOrElse(n, (None, None))
            overFlagJson(n, r, ws, wc)
          }.mkString("[", ",", "]")
        },"n_over":${over.size},"max_ratio":${r3(maxR._2)},"max_q":"${maxR._1}""""
      } else ""
      val failed = results.count(_._2 < 0)
      // protocol stamp (round-11 verdict item 1): a record written by a
      // hot/ad-hoc session is self-labeling even if copied around later.
      val proto = sys.env.get("SPARK_GRAFT_BENCH_PROTOCOL").getOrElse("ad-hoc")
      // Self-attribution (round-12 verdict task 2a): the run's own steal
      // exposure rides the summary line (~55 chars, fits the driver's
      // 2000-char tail); a storm-day artifact now carries its own
      // evidence instead of reading as N query regressions.
      val steal = stealSummary(stealPcts.toSeq) +
        canarySummary(canaries.toSeq)
      // st15's phase split rides the tail (round-13 verdict task 3):
      // the durable dump inherits it via `merged` below
      val phases = st15PhaseSummary(detailed.collectFirst {
        case (n, s) if n == "st15_checkpoint_recovery" => s.st15Phases
      }.flatten)
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${results.size
        },"failed":$failed,"protocol":"$proto"$steal$phases,"sf":"${
        sfDir.split('/').last}"$gated}"""
    }
    println(summary)
    // Five rounds of BENCH artifacts carry "parsed": null — the driver
    // parses the LAST stdout line, and under `sbt run` that line is
    // always sbt's own [success] trailer (the forked JVM cannot print
    // after it). So ALSO persist the machine-readable verdict as a
    // sidecar in the working directory (the repo root in driver runs),
    // merged with the per-query map: one self-contained JSON object the
    // driver/judge can read without any stdout parsing.
    val merged = summary.dropRight(1) + s""","queries":$qs}"""
    // Sink routing (round-11 verdict item 1): BENCH_LAST.json for graded
    // SF runs, BENCH_SMOKE.json for any other SF; BENCH_SUMMARY.json ONLY
    // from a full-suite quiet-protocol run. Targeted-filter clobbering bit
    // round 8; hot-session clobbering bit round 10 — summarySinks
    // (spec-gated) encodes both scars.
    summarySinks(sfDir, only.nonEmpty,
        sys.env.get("SPARK_GRAFT_BENCH_PROTOCOL")).foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        (merged + "\n").getBytes("UTF-8"))
    }
    // Durable record (round-12 verdict task 2b): BENCH_LAST.json is
    // clobbered by the next run and BENCH_rN.json keeps only a truncated
    // stdout tail, so a driver run's complete per-query map was one local
    // bench away from gone. Every FULL-SUITE run (any protocol — storm
    // days are exactly the ones worth keeping) also writes its merged
    // record to a timestamped plans/bench_<epochsec>.json; targeted
    // local iterations skip it to keep plans/ archival.
    durableDumpPath(only.nonEmpty, new java.io.File("plans"),
        System.currentTimeMillis() / 1000).foreach { p =>
      java.nio.file.Files.write(p, (merged + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
