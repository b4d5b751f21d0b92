"""graft benchmark: one closed-loop client per workload, end to end.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the JVM harness from source (cached by source
hash under .bench_build/), generates the fixed input tables once, and
runs the workload in a fresh JVM: three sessions, each opened through
the engine's front door (GraftSession.build), in which the JVM's first
pass over the query mix, session-cold passes and warm passes run as the
workload's plan says; warm passes run in an order drawn from --seed.
Outputs are checked after the run: the first pass's results against
DuckDB where the engine ships oracle SQL, and every other execution's
digest against the first pass's.

--trace 0 prints the end-to-end metrics; --trace 1 runs the same plan
with spans and Spark/JMX listeners on the last session-cold pass and
half the warm passes and prints the per-layer metrics. The last stdout
line is the JSON result. See RATIONALE.md for why each workload and
metric exists.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the benchmark directory as committed
import gen_data  # noqa: E402
import spans as spans_tool  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
HEAP = "3g"
RUN_TIMEOUT_S = 170
ORACLE_TIMEOUT_S = 120

# Query mixes: subsets of the engine's graded queries, sized so that a
# run stays near one (taxi) or one and a half (curation) minutes on a
# 4-core host. RATIONALE.md says what was left out and why.
TAXI = ["q01_count_by_group", "q02_pct_share", "q06_negative_value_check",
        "q07_disallowed_values_dist", "q12_level_distribution",
        "q16_correlation", "q22_semi_join"]
CURATION_INGEST = ["d12_threshold_curve", "t14_pii_scrub", "s01_cosine_topk",
                   "p02_observe_metrics", "m01_media_features",
                   "w01_etl_partitioned_roundtrip", "st01_stream_window_agg"]
# name -> (query mix, sessions, seconds of --seconds per warm pass).
# Each session is set up afresh; `ref` runs the JVM's first pass over the
# mix (the reference results), `setup` nothing, `cold` a session-cold
# pass, and `+warm` then the warm passes. Every run makes three set-ups;
# cold_pass_s is the last session-cold pass. A session-cold pass before
# the warm passes lets the JIT settle further before they start; taxi,
# whose passes are short, can also afford a fresh session after them, so
# its cold sample comes from a JVM that has settled further still. At
# --seconds 30 taxi makes five warm passes and curation four.
WORKLOADS = {
    "taxi_interactive": (TAXI, "ref,cold+warm,cold", 6.0),
    "curation_ingest": (CURATION_INGEST, "ref,setup,cold+warm", 7.5),
}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def module_of(query):
    """The engine package that implements a query, from its name prefix."""
    for prefix, module in (("st", "streaming"), ("q", "operators"),
                           ("g", "operators"), ("w", "operators"),
                           ("t", "text"), ("d", "dedup"), ("s", "similarity"),
                           ("p", "pipeline"), ("m", "multimodal")):
        if query.startswith(prefix):
            return module
    return "other"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "jvm/*.scala")))
    if not main or not bench:
        raise SystemExit("perfbench: engine sources not found; run from a "
                         "checkout of the repository")
    return main + bench


def build():
    """Compiles the engine and the harness with the Scala compiler that
    ships with Spark; returns the class directory (cached by content)."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(WORK, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(srcs)} sources")
    cp = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise SystemExit("perfbench: compilation failed")
    os.replace(tmp, out)
    return out


def data_dir():
    return gen_data.write(os.path.join(WORK, f"data-{gen_data.VERSION}"))


# ------------------------------------------------------------ host noise

def cpu_jiffies():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ------------------------------------------------------------------ run

def plan(workload, seed, seconds, trace):
    """(cold order, [warm orders]). Cold passes run the mix as listed:
    the first query pays the session's first-job start-up, so drawing
    that query from the seed would move cold_pass_s with the seed. Each
    warm pass runs in an order drawn from the seed."""
    mix, _, pass_s = WORKLOADS[workload]
    rng = random.Random(seed)
    passes = 4 if trace else max(3, round(seconds / pass_s))
    return list(mix), [rng.sample(mix, len(mix)) for _ in range(passes)]


def traced_passes(n):
    """Passes 1..n that run traced in a traced run, in the order untraced,
    traced, traced, untraced, repeated: both kinds then sit at the same
    mean position, so the warm-up drift across passes does not leak into
    the traced-minus-untraced overhead."""
    return [i for i in range(1, n + 1) if i % 4 in (2, 3)]


def run_jvm(classes, data, run_dir, sessions, cold, warm, trace):
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    # the whole fixed heap is touched at start, so peak_rss_mb reads the
    # engine's native and JVM memory, not how far G1 happened to grow
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss8m"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
            "perfbench.Main", "--data", data, "--out", run_dir,
            "--plan", sessions, "--trace", "1" if trace else "0",
            "--cold", ",".join(cold)])
    for o in warm:
        cmd += ["--warm", ",".join(o)]
    if trace:
        cmd += ["--traced-passes", ",".join(map(str, traced_passes(len(warm))))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, cwd=run_dir)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: run exceeded its time limit")
        finally:  # also on SIGTERM: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-5000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def oracle_failures(data, check_dir):
    """{query: reason} from the engine's own DuckDB oracle gate,
    tools/check_oracle.py, over the cold results the JVM wrote to
    check_dir. If the gate cannot run, every checked query fails."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        checked = sorted(json.load(f))
    try:
        r = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
             data, check_dir], cwd=check_dir, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=ORACLE_TIMEOUT_S)
        out, rc = r.stdout, r.returncode
    except subprocess.TimeoutExpired:
        out, rc = "", None
    wrong, last = {}, None
    for line in out.splitlines():
        if line.startswith("FAIL  "):
            last, _, why = line[len("FAIL  "):].partition(": ")
            wrong[last] = why
        elif last and line.startswith("  "):  # continuation of a FAIL line
            wrong[last] += " |" + line.rstrip()
        else:
            last = None
    if rc not in (0, 1) or (rc == 1 and not wrong):
        why = f"oracle gate did not run (exit {rc}): {out.strip()[-300:]}"
        wrong = {q: why for q in checked}
    return wrong


def check(res, data, run_dir):
    """Marks each execution ok/failed: it threw, its query's first-pass
    result differs from the oracle, or its digest differs from the first
    pass's (session 1, pass 0)."""
    execs = res["execs"]
    wrong = oracle_failures(data, os.path.join(run_dir, "check"))
    cold = {e["q"]: e for e in execs if e["pass"] == 0 and e["session"] == 1}
    reasons = {}
    for e in execs:
        c = cold.get(e["q"])
        if "error" in e:
            why = e["error"]
        elif e["q"] in wrong:
            why = "oracle: " + wrong[e["q"]]
        elif c is None or "error" in c:
            why = "no cold result to compare with"
        elif e["digest"] != c["digest"]:
            why = f"digest {e['digest']} != cold {c['digest']}"
        else:
            why = None
        e["ok"] = why is None
        if why:
            reasons.setdefault(e["q"], why)
    return reasons


def by_query(execs, key="ms"):
    out = {}
    for e in execs:
        out.setdefault(e["q"], []).append(e[key])
    return out


def end_to_end(res, passes):
    """({name: (value, unit, note)} for the result, same for beside it)."""
    warm = [e for e in res["execs"] if e["pass"] > 0 and not e["traced"]]
    times = [e["ms"] for e in warm]
    n = len(times)
    tail, pct, _ = stats.tail(times)
    m = {
        "setup_s": (stats.median(res["setup_ms"]) / 1000.0, "s",
                    f"median of n={len(res['setup_ms'])} set-ups"),
        "cold_pass_s": (res["cold_pass_ms"][-1] / 1000.0, "s",
                        "n=1 pass, the last session-cold one"),
        "warm_pass_s": (stats.sum_of_medians(by_query(warm)) / 1000.0, "s",
                        f"sum of per-query medians over n={passes} passes"),
        "query_gmean_ms": (stats.geomean_of_medians(by_query(warm)), "ms",
                           f"geometric mean of per-query medians, n={n}"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB", "after full GC"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", "VmHWM"),
    }
    # With a few queries of different lengths, the median and the tail
    # fall on whichever query's samples sit at that rank, so they jump
    # from run to run; shown beside the result, not bounded.
    beside = {"query_p50_ms": (stats.median(times), "ms", f"n={n}"),
              "query_tail_ms": (tail, "ms", f"p{pct:.1f} of n={n}"),
              # the set-up a user pays once: JVM class loading and the
              # engine's static initialisation are in it, not in setup_s
              "setup_first_s": (res["setup_ms"][0] / 1000.0, "s", "n=1 set-up"),
              "cold_first_s": (res["ref_pass_ms"][0] / 1000.0, "s", "n=1 pass")}
    return m, beside


def per_layer(res, spans, cores):
    execs = res["execs"]
    tw = [e for e in execs if e["pass"] > 0 and e["traced"]]
    uw = [e for e in execs if e["pass"] > 0 and not e["traced"]]
    cold = {e["q"]: e for e in execs if e["pass"] == 0 and e["traced"]}
    dur = {}  # (qid, pass, name) -> ms
    for s in spans:
        dur[(s["qid"], s["pass"], s["name"])] = (s["end"] - s["start"]) / 1e6
    for e in tw + list(cold.values()):
        for name in ("construct", "exec"):
            e[name + "_ms"] = dur.get((e["q"], e["pass"], name), 0.0)
        e["idle_core_ms"] = stats.idle_core_ms(e["exec_ms"], cores, e["task_run_ms"])
    som = lambda key: stats.sum_of_medians(by_query(tw, key))  # noqa: E731
    mb = 1048576.0
    named = lambda n: [(s["end"] - s["start"]) / 1e6  # noqa: E731
                       for s in spans if s["name"] == n]
    warm_construct = {q: stats.median(v) for q, v in by_query(tw, "construct_ms").items()}
    jvm = list(res["jvm_passes"].values())
    batch_ms = [x for e in tw for x in e["stream_batch_ms"]]
    rps = [x for e in tw for x in e["stream_input_rows_per_s"]]
    input_b = sum(e["input_b"] for e in cold.values())
    m = {
        "session.build_ms": (stats.median(named("session.build")), "ms"),
        "tables.open_ms": (stats.median(named("tables.open")), "ms"),
        "construct_ms": (som("construct_ms"), "ms"),
        "construct_jobs": (som("construct_jobs"), "count"),
        "plan.analysis_ms": (som("plan_analysis_ms"), "ms"),
        "plan.optimization_ms": (som("plan_optimization_ms"), "ms"),
        "plan.planning_ms": (som("plan_planning_ms"), "ms"),
        "exec.ms": (som("exec_ms"), "ms"),
        "exec.jobs": (som("jobs"), "count"),
        "exec.stages": (som("stages"), "count"),
        "exec.tasks": (som("tasks"), "count"),
        "exec.task_run_ms": (som("task_run_ms"), "ms"),
        "exec.task_cpu_ms": (som("task_cpu_ms"), "ms"),
        "exec.idle_core_ms": (som("idle_core_ms"), "ms"),
        "exec.shuffle_write_mb": (som("shuffle_write_b") / mb, "MB"),
        "exec.shuffle_read_mb": (som("shuffle_read_b") / mb, "MB"),
        "exec.spill_mb": (som("spill_b") / mb, "MB"),
        "exec.straggler_ratio": (stats.median([e["straggler_ratio"] for e in tw]), "ratio"),
        "snapshot.build_ms": (sum(cold[q]["construct_ms"] - w
                                  for q, w in warm_construct.items() if q in cold), "ms"),
        "stream.batches": (som("stream_batches"), "count"),
        "stream.state_rows": (som("stream_state_rows"), "count"),
        "stream.input_rows_per_s": (stats.median(rps), "rows/s"),
        "tmp_written_mb": (res["tmp_bytes_after_cold"] / mb, "MB"),
        "write.bytes_per_input_byte": (res["tmp_bytes_after_cold"] / input_b
                                       if input_b else 0.0, "ratio"),
        # summed over the traced warm passes: a single pass often has no GC
        "jvm.gc_ms": (sum(j["gc_ms"] for j in jvm), "ms"),
        "jvm.gc_count": (sum(j["gc_count"] for j in jvm), "count"),
        "jvm.alloc_mb": (sum(j["alloc_b"] for j in jvm) / mb, "MB"),
        # JIT compiler time and classes loaded: where the engine generates
        # code anew on every execution, neither falls to zero pass by pass
        "jvm.jit_ms": (sum(j["jit_ms"] for j in jvm), "ms"),
        "jvm.classes_loaded": (sum(j["classes_loaded"] for j in jvm), "count"),
        "trace.overhead_ms": (stats.sum_of_medians(by_query(tw))
                              - stats.sum_of_medians(by_query(uw)), "ms"),
    }
    for k, v in res["kernels"].items():
        m[f"kernel.{k}_mb_s"] = (v, "MB/s")
    n = f"n={len(tw)} traced executions"
    m = {k: (v, unit, n) for k, (v, unit) in m.items()}
    # layers that only some workloads exercise: reported beside the
    # result, not in it (their times read 0 where the layer is absent)
    extra = {
        "stream.batch_ms": (stats.median(batch_ms), "ms"),
        "stream.state_commit_ms": (som("stream_commit_ms"), "ms"),
        "exec.task_gc_ms": (som("task_gc_ms"), "ms"),
        "parts.lock_blocked_ms": (sum(j["blocked_ms"] for j in jvm), "ms"),
    }
    for mod in sorted({module_of(e["q"]) for e in tw}):
        sub = [e for e in tw if module_of(e["q"]) == mod]
        extra[f"{mod}.construct_ms"] = (
            stats.sum_of_medians(by_query(sub, "construct_ms")), "ms")
        extra[f"{mod}.construct_jobs"] = (
            stats.sum_of_medians(by_query(sub, "construct_jobs")), "count")
    return m, {k: (v, unit, n) for k, (v, unit) in extra.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    trace = a.trace == 1

    classes = build()
    data = data_dir()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cold, warm = plan(a.workload, a.seed, a.seconds, trace)
    steal0, load0, t0 = cpu_jiffies(), loadavg(), time.time()
    try:
        res = run_jvm(classes, data, run_dir, WORKLOADS[a.workload][1], cold, warm, trace)
    finally:
        for d in ("tmp", "local"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    steal1, load1 = cpu_jiffies(), loadavg()
    reasons = check(res, data, run_dir)

    execs = res["execs"]
    failed = sum(1 for e in execs if not e["ok"])
    dj = steal1[1] - steal0[1]
    host = {"steal_pct": 100.0 * (steal1[0] - steal0[0]) / dj if dj else 0.0,
            "canary_ms_median": stats.median(res["canary_ms"]),
            "canary_ms_max": max(res["canary_ms"]),
            "load1_start": load0, "load1_end": load1,
            "wall_s": time.time() - t0}
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "warm_passes": len(warm), "host": host, "failures": reasons}
    if trace:
        spans = [json.loads(line) for line in
                 open(os.path.join(run_dir, "spans.jsonl"))]
        shown, beside = per_layer(res, spans, res["cores"])
        report["self_ms"] = {k: v[2] for k, v in spans_tool.layer_self_ms(spans).items()}
    else:
        shown, beside = end_to_end(res, len(warm))
    for k, (v, unit, note) in shown.items():
        print(f"  {k:<28} {v:>14.3f} {unit:<7} {note}")
    for k, (v, unit, note) in beside.items():
        print(f"  {k:<28} {v:>14.3f} {unit:<7} {note} (beside the result)")
    print(f"  host: steal {host['steal_pct']:.2f}%  canary median "
          f"{host['canary_ms_median']:.1f} ms (max {host['canary_ms_max']:.1f})  "
          f"load1 {load0:.2f} -> {load1:.2f}")
    for q, why in sorted(reasons.items()):
        print(f"  FAIL {q}: {why}")
    report["metrics"] = {k: v[0] for k, v in shown.items()}
    report["beside"] = {k: v[0] for k, v in beside.items()}
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(execs), "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in shown.items()}}))


if __name__ == "__main__":
    main()
