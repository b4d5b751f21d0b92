package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gates the bench-record write routing (round-11 verdict item 1): the
  * canonical BENCH_SUMMARY.json is the frozen-protocol yardstick and
  * must be impossible to clobber from a targeted iteration run (the
  * round-8 scar) OR a hot ad-hoc/driver full-suite run (the round-10
  * scar — the 156.2 s validation-F record was overwritten by the
  * driver's 15%-steal session). Only quiet_bench.sh, which arms the
  * vmstat trace and sets SPARK_GRAFT_BENCH_PROTOCOL=quiet, may refresh
  * it; every graded-SF run still refreshes BENCH_LAST.json so the latest
  * reading is always readable, and a smoke on any other SF writes only
  * BENCH_SMOKE.json. */
class BenchSinkSpec extends AnyFunSuite {

  private val Graded = "data/sf0.1"

  test("a run on any SF other than the graded sf0.1 writes only BENCH_SMOKE.json") {
    for (dir <- Seq("data/sf0.001", "data/sf0.01", "data/sf1", "data/xsf0.1");
         targeted <- Seq(false, true);
         protocol <- Seq(None, Some("quiet"), Some("ad-hoc")))
      assert(Bench.summarySinks(dir, targeted, protocol) == Seq("BENCH_SMOKE.json"),
        s"$dir targeted=$targeted protocol=$protocol")
    // the graded SF is matched by basename, trailing slash or not
    assert(Bench.summarySinks("data/sf0.1/", targeted = false, Some("quiet")) ==
      Seq("BENCH_LAST.json", "BENCH_SUMMARY.json"))
  }

  test("full-suite quiet-protocol run refreshes BOTH sidecars") {
    assert(Bench.summarySinks(Graded, targeted = false, Some("quiet")) ==
      Seq("BENCH_LAST.json", "BENCH_SUMMARY.json"))
  }

  test("full-suite ad-hoc (driver/hot) run cannot touch BENCH_SUMMARY.json") {
    assert(Bench.summarySinks(Graded, targeted = false, None) == Seq("BENCH_LAST.json"))
    assert(Bench.summarySinks(Graded, targeted = false, Some("ad-hoc")) ==
      Seq("BENCH_LAST.json"))
    assert(Bench.summarySinks(Graded, targeted = false, Some("")) ==
      Seq("BENCH_LAST.json"))
  }

  test("targeted run cannot touch BENCH_SUMMARY.json even under the quiet protocol") {
    // quiet_bench.sh supports SPARK_GRAFT_BENCH_ONLY probes (the t16/t17
    // drift protocol) — those are valid quiet runs but not full-suite
    // records, so they must stay out of the canonical file too.
    assert(Bench.summarySinks(Graded, targeted = true, Some("quiet")) ==
      Seq("BENCH_LAST.json"))
    assert(Bench.summarySinks(Graded, targeted = true, None) == Seq("BENCH_LAST.json"))
  }

  test("durable dump routing (r12 task 2b): full-suite runs write a " +
    "timestamped plans/ record, targeted runs and non-repo cwds never do") {
    val plans = java.nio.file.Files.createTempDirectory("graft_plans").toFile
    try {
      assert(Bench.durableDumpPath(targeted = false, plans, 1700000000L)
        .map(_.getFileName.toString).contains("bench_1700000000.json"))
      assert(Bench.durableDumpPath(targeted = true, plans, 1700000000L).isEmpty,
        "a targeted probe must not litter the archival plans/ dir")
      val missing = new java.io.File(plans, "nope")
      assert(Bench.durableDumpPath(targeted = false, missing, 1L).isEmpty,
        "no plans/ dir (bench outside a checkout) must not create one")
    } finally plans.delete()
  }

  test("durable dump collision bump (ADVICE r13): a same-second second " +
    "run gets a suffixed name instead of clobbering the archive") {
    val plans = java.nio.file.Files.createTempDirectory("graft_plans").toFile
    try {
      val first = Bench.durableDumpPath(targeted = false, plans, 42L).get
      java.nio.file.Files.write(first, "{}".getBytes("UTF-8"))
      val second = Bench.durableDumpPath(targeted = false, plans, 42L).get
      assert(second.getFileName.toString == "bench_42_1.json")
      java.nio.file.Files.write(second, "{}".getBytes("UTF-8"))
      assert(Bench.durableDumpPath(targeted = false, plans, 42L)
        .map(_.getFileName.toString).contains("bench_42_2.json"))
      java.nio.file.Files.delete(first)
      java.nio.file.Files.delete(second)
    } finally plans.delete()
  }

  test("pre-adjudicated over-2x flags (r13 task 2): each entry carries " +
    "its own worst-run steal/canary; readings absent when unmeasurable") {
    assert(Bench.overFlagJson("st16", 3.1042, Some(0.416), Some(17.94)) ==
      """{"q":"st16","ratio":3.104,"steal":0.42,"canary":17.9}""")
    assert(Bench.overFlagJson("q01", 2.5, None, None) ==
      """{"q":"q01","ratio":2.5}""")
    assert(Bench.overFlagJson("q01", 2.5, None, Some(12.0)) ==
      """{"q":"q01","ratio":2.5,"canary":12.0}""")
  }

  test("st15 phase split fragment (r13 task 3): pre-crash vs recovery " +
    "seconds ride the summary tail; absent when st15 did not run") {
    assert(Bench.st15PhaseSummary(None) == "")
    assert(Bench.st15PhaseSummary(Some((9.468, 2.153))) ==
      ""","st15_phases":{"pre_crash":9.47,"recovery":2.15}""")
  }

  test("steal self-attribution fragment (r12 task 2a): keys, rounding, " +
    "the 5% hot threshold, and the no-reading case") {
    assert(Bench.stealSummary(Nil) == "",
      "unreadable /proc/stat must not emit empty-looking zeros")
    assert(Bench.stealSummary(Seq(1.0, 2.0, 18.884)) ==
      ""","steal_mean":7.29,"steal_max":18.88,"hot_runs":1""")
    // exactly-5% counts as hot (matches drift_join.py's >= threshold)
    assert(Bench.stealSummary(Seq(5.0, 4.99)).endsWith(""""hot_runs":1"""))
  }

  test("bandwidth-canary fragment (r13): min/median/max keys, and the " +
    "kernel itself does constant work in bounded time") {
    assert(Bench.canarySummary(Nil) == "")
    assert(Bench.canarySummary(Seq(12.34, 8.15, 40.0)) ==
      ""","canary_min":8.2,"canary_med":12.3,"canary_max":40.0""")
    val ms = (1 to 3).map(_ => Bench.canaryMs())
    assert(ms.forall(m => m > 0 && m < 2000),
      s"canary kernel out of its sane band: $ms")
  }
}
