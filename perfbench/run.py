#!/usr/bin/env python3
"""The repository's benchmark: the paper's chi2 pipeline and the near-dup
pair family, through the program's public entry points.

One run:

    python3 perfbench/run.py --workload reviews_long --seed 1 --seconds 10 --trace 0

builds the program and the benchmark from source (sbt, cached by a hash of
the sources), generates the workload's inputs from the seed, and starts a
JVM that sets up a session and makes one cold operation, then a second JVM
that does the same and goes on to run one operation at a time for
--seconds, checking every output. It prints every metric with its unit,
then as its last line one JSON object: the end-to-end metrics with
--trace 0, the per-layer metrics of the traced run (one JVM) with --trace 1.
The workloads are reviews_long, neardup_pairs and vocab_wide; BENCHMARK.json
holds the first two.

Steadiness mode repeats the untraced run on consecutive seeds and prints
each metric's spread against the benchmark's own bounds, and with two sets
the drift between their medians:

    python3 perfbench/run.py --steady 10 --sets 2 [--workload W ...]

Everything the benchmark writes stays under perfbench/work and the build
directories; see perfbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("reviews_long", "vocab_wide", "neardup_pairs")
HEAP = "2g"
# Spark's executor threads. The driver thread, the JIT compiler threads and
# GC need CPUs of their own: on four CPUs with two busy processes beside the
# benchmark, reviews_long's warm operations took 43% longer at local[4] and
# 24% longer at local[2]; on an idle machine the two take about as long.
SPARK_CORES = 2
# JVMs an untraced run starts, each of which sets up and makes a cold
# operation; the last goes on to the warm operations. setup_s and cold_run_s
# are the medians: the two cold operations of one run differed by up to 20%,
# as the host's CPU speed changes from one second to the next.
COLD_JVMS = 2
RUN_BUDGET_S = 170  # a run, after the build, must end well inside 180 s
BUILD_BUDGET_S = 840

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Every end-to-end metric the run prints, with its unit. BENCHMARK.json
# holds those that are never zero, with their bounds; the three that are
# zero on a healthy run are printed and recorded only, and steadiness mode
# gives them (relative bound, absolute floor) pairs, so that a spread around
# zero does not read as infinite.
E2E = {
    "setup_s": "s", "cold_run_s": "s", "run_s_p50": "s",
    "items_per_s": "items/s", "input_mb_per_s": "MB/s", "cpu_s": "s",
    "shuffle_mb": "MB", "spill_mb": "MB", "peak_rss_mb": "MB",
    "retained_cache_mb": "MB", "failed_ops_share": "ratio",
}
NEAR_ZERO_BOUNDS = {"spill_mb": (0.25, 1.0), "retained_cache_mb": (0.25, 32.0),
                    "failed_ops_share": (0.0, 0.0)}

SPARK_STATS = ["wall_s", "cpu_s", "gc_s", "jobs", "tasks", "failed_tasks",
               "shuffle_write_mb", "spill_mb", "rows_out", "core_idle_share"]
LAYER_STATS = {
    "Verify.session": ["wall_s"],
    "model.reviews": SPARK_STATS,
    "text.reviewTokens": SPARK_STATS,
    "wordcount.categoryTotals": SPARK_STATS,
    "wordcount.documentFrequency": SPARK_STATS + ["shuffle_records_per_token"],
    "chisq.scoreExact": SPARK_STATS,
    "chisq.score": SPARK_STATS,
    "chisq.topKPerCategory": SPARK_STATS,
    "chisq.vocabulary": ["wall_s", "cpu_s", "jobs"],
    "model.RefFormats": ["wall_s"],
    "pipeline.Main.run": SPARK_STATS + ["iteration.self_s"],
    "pipeline.Pipeline.run": SPARK_STATS + ["iteration.self_s"],
    "dedup.jaccardPairsFrom": SPARK_STATS + ["retained_cache_mb", "pairs_per_doc"],
    "dedup.clustersFromPairs": SPARK_STATS + ["retained_cache_mb", "pairs_per_doc"],
}


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def program_sources():
    """Files the build and the generated inputs depend on."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "gen.py"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for r, _, fs in os.walk(base):
            files.extend(os.path.join(r, f) for f in fs)
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for p in program_sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def preflight():
    needed = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "src", "main", "scala", "graft", "pipeline", "Main.scala"),
              os.path.join(ROOT, "src", "main", "scala", "graft", "dedup", "Dedup.scala")]
    missing = [os.path.relpath(p, ROOT) for p in needed if not os.path.isfile(p)]
    if missing:
        raise BenchError("the program's sources are not here: missing " + ", ".join(missing))
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("sbt and java must be on PATH")


def build(stamp):
    """Compile program and benchmark; return the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "perfbench-classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached_stamp, cp = f.read().split("\n")[:2]
        if cached_stamp == stamp:
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts.append("-Dsbt.repository.config=" + repos)
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and benchmark with sbt")
    t = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=BUILD_BUDGET_S)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    cps = [l.strip() for l in p.stdout.splitlines() if l.strip().startswith(classes)]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError("build failed")
    log(f"built in {time.time() - t:.0f} s")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1] + "\n")
    return cps[-1]


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                       capture_output=True, text=True)
    return p.stdout.strip() or None


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (the "steal" column of /proc/stat), in seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- one run

def jvm(classpath, run_dir, args, deadline):
    """Start the benchmark JVM and return its run record."""
    record = os.path.join(run_dir, "bench.json")
    work = os.path.join(run_dir, "bench")
    log_path = os.path.join(run_dir, "bench.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.BenchMain", "--work", work,
              "--record", record, "--t0-ms", str(int(time.time() * 1000))]
           + args)
    with open(log_path, "w") as logf:
        try:
            p = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                               stdout=logf, stderr=subprocess.STDOUT,
                               timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError("the benchmark JVM ran past the run's time budget")
    if p.returncode != 0 or not os.path.exists(record):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise BenchError(f"the benchmark JVM exited with {p.returncode}")
    with open(record) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec, info):
    ops = rec["ops"]
    measured = [o for o in ops if o["kind"] == "measured"]
    p50 = median([o["wall_s"] for o in measured])
    failed = sum(not o["ok"] for o in ops)
    return {
        "setup_s": median(rec["setup_s"]),
        "cold_run_s": median([o["wall_s"] for o in ops if o["kind"] == "cold"]),
        "run_s_p50": p50,
        "items_per_s": info["items"] / p50,
        "input_mb_per_s": info["bytes"] / 1e6 / p50,
        "cpu_s": median([o["cpu_s"] for o in measured]),
        "shuffle_mb": median([o["shuffle_write_mb"] for o in measured]),
        "spill_mb": median([o["spill_mb"] for o in measured]),
        "peak_rss_mb": rec["peak_rss_mb"],
        "retained_cache_mb": max(o["retained_cache_mb"] for o in ops),
        "failed_ops_share": failed / len(ops),
    }


def own_first(groups):
    """The samples of the workload's own traced operations, or when a call
    is not among them, those of its other traced operations."""
    return median(groups.get("own") or groups.get("other") or [])


def per_layer(rec, cores):
    """Per-call statistics of the traced operations: summed over the calls of
    one operation, then the median over operations. A call the workload's
    own entry point makes is measured on its operations only; a call only
    its other traced operations make (reviews_long's library path), on
    those."""
    spans = rec["spans"]
    kind = {o["index"]: o["kind"] for o in rec["ops"]}
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    samples = {}
    for op, op_spans in by_op.items():
        group = "own" if kind[op] == "traced" else "other"
        root = next(s for s in op_spans if s["parent"] < 0)
        calls = {}
        for s in op_spans:
            c = calls.setdefault(s["name"], {"wall_s": 0.0, "task_run_s": 0.0})
            c["wall_s"] += s["end_s"] - s["start_s"]
            for k in ("cpu_s", "gc_s", "jobs", "tasks", "failed_tasks", "task_run_s",
                      "shuffle_write_mb", "shuffle_write_records", "spill_mb",
                      "rows_out", "tokens", "pairs_per_doc"):
                c[k] = c.get(k, 0.0) + s.get(k, 0.0)
            c["retained_cache_mb"] = s["retained_cache_mb"]
        tokens = calls.get("text.reviewTokens", {}).get("tokens", 0.0)
        for name, c in calls.items():
            wall = c["wall_s"]
            c["core_idle_share"] = 1 - c["task_run_s"] / (wall * cores) if wall > 0 else 0.0
            if tokens:
                c["shuffle_records_per_token"] = c["shuffle_write_records"] / tokens
        children = sum(s["end_s"] - s["start_s"] for s in op_spans
                       if s["parent"] == root["id"])
        calls[root["name"]]["iteration.self_s"] = (root["end_s"] - root["start_s"]) - children
        for name, c in calls.items():
            for k, v in c.items():
                samples.setdefault(f"{name}.{k}", {}).setdefault(group, []).append(v)
    out = {}
    for name, stats in LAYER_STATS.items():
        for stat in stats:
            out[f"{name}.{stat}"] = own_first(samples.get(f"{name}.{stat}", {}))
    out["Verify.session.wall_s"] = median(rec["session_s"])
    own = [s for s in spans if kind[s["op"]] == "traced"]
    out.update(trace_cost(own, [o for o in rec["ops"] if o["kind"] == "measured"]))
    return out, self_times(spans, kind)


def trace_cost(spans, untraced):
    """What tracing costs, and whether the traced operation still follows the
    entry point. A traced operation's time less its "extra" spans (actions
    the program never runs) against the untraced median is the tracing
    overhead; the shuffle written by its other actions against the untraced
    median should be 1.0, and moves away from it when the entry point's own
    composition changes and the traced copy no longer follows it."""
    wall, extra, shuffle = [], [], []
    for root in (s for s in spans if s["parent"] < 0):
        forced = [s for s in spans if s["op"] == root["op"] and s["forced"] == "extra"]
        wall.append(root["end_s"] - root["start_s"])
        extra.append(sum(s["end_s"] - s["start_s"] for s in forced))
        shuffle.append(root["shuffle_write_mb"] - sum(s["shuffle_write_mb"] for s in forced))
    untraced_p50 = median([o["wall_s"] for o in untraced])
    untraced_shuffle = median([o["shuffle_write_mb"] for o in untraced])
    return {
        "bench.trace.traced_run_s_p50": median(wall),
        "bench.trace.untraced_run_s_p50": untraced_p50,
        "bench.trace.forced_s": median(extra),
        "bench.trace.overhead_s": median([w - x for w, x in zip(wall, extra)]) - untraced_p50,
        "bench.trace.plan_shuffle_ratio":
            median(shuffle) / untraced_shuffle if untraced_shuffle else 1.0,
    }


def self_times(spans, kind):
    """Median self time per call name: its duration minus its children's,
    taken as in per_layer."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
    per = {}
    for s in spans:
        per.setdefault((s["op"], s["name"]), 0.0)
        per[(s["op"], s["name"])] += s["end_s"] - s["start_s"] - child.get(s["id"], 0.0)
    out = {}
    for (op, name), v in per.items():
        group = "own" if kind[op] == "traced" else "other"
        out.setdefault(name, {}).setdefault(group, []).append(v)
    return {k: own_first(v) for k, v in out.items()}


def run_once(workload, seed, seconds, trace):
    """One benchmark run; returns the full record."""
    preflight()
    stamp = source_stamp()
    classpath = build(stamp)
    deadline = time.time() + RUN_BUDGET_S
    load_start, steal_start = loadavg(), steal_s()
    cores = min(SPARK_CORES, os.cpu_count() or 1)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{workload}-{seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = os.path.join(run_dir, "data")
        os.makedirs(data)
        t = time.time()
        info = gen.generate(workload, seed, data)
        info["gen_s"] = time.time() - t
        args = ["--workload", workload, "--data", data, "--cores", str(cores),
                "--seconds", str(seconds), "--trace", str(int(trace))]
        # An untraced run sets up and makes a cold operation COLD_JVMS times,
        # each in a fresh JVM, the last of which goes on to the warm
        # operations; setup_s and cold_run_s are the medians.
        recs = [jvm(classpath, os.path.join(run_dir, f"jvm-{i}"),
                    args + ["--cold-only", "1"], deadline)
                for i in range(0 if trace else COLD_JVMS - 1)]
        recs.append(jvm(classpath, os.path.join(run_dir, f"jvm-{len(recs)}"), args, deadline))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    rec = merge(recs)
    full = {
        "workload": workload, "seed": seed, "trace": int(trace), "seconds": seconds,
        "meta": {"nproc": os.cpu_count(), "cores_used": cores,
                 "spark_cores": rec["spark_cores"], "heap_max_mb": rec["heap_max_mb"],
                 "loadavg_start": load_start, "loadavg_end": loadavg(),
                 "steal_s": steal_s() - steal_start,
                 "git_sha": git_sha(), "source_sha256": stamp,
                 "input_bytes": info["bytes"], "input_items": info["items"],
                 "gen_s": info["gen_s"], "session_s": rec["session_s"],
                 "setup_s": rec["setup_s"],
                 "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())},
        "planted": info["planted"],
        "ops": [{k: v for k, v in o.items() if k != "digest"} for o in rec["ops"]],
        "digests": rec["digests"],
    }
    ops = rec["ops"]
    full["attempted"] = len(ops)
    full["failed"] = sum(not o["ok"] for o in ops)
    full["checks"] = rec["checks"] + [
        c for stream, d in rec["digests"].items()
        for c in check_digest(stamp, f"{workload}-{stream}", seed, d, full["failed"] == 0)]
    full["correct"] = full["failed"] == 0 and not full["checks"]
    if trace:
        full["per_layer"], full["self_s"] = per_layer(rec, rec["spark_cores"])
        full["spans"] = rec["spans"]
        # a call's mark as the workload's own traced operations make it
        own = {o["index"] for o in rec["ops"] if o["kind"] == "traced"}
        full["forced"] = {s["name"]: s["forced"]
                          for s in sorted(rec["spans"], key=lambda s: s["op"] in own)}
    else:
        full["end_to_end"] = end_to_end(rec, info)
    return full


def merge(recs):
    """One record of a run's JVMs: every operation (tagged with its JVM),
    the set-up and session times of each, the last JVM's peak RSS and
    spans. An output digest must be the same in every JVM."""
    rec = dict(recs[-1], ops=[], setup_s=[], session_s=[], digests={}, checks=[])
    for i, r in enumerate(recs):
        rec["ops"] += [dict(o, jvm=i) for o in r["ops"]]
        rec["setup_s"].append(r["setup_s"])
        rec["session_s"].append(r["session_s"])
        for stream, d in r["digests"].items():
            if rec["digests"].setdefault(stream, d) != d:
                rec["checks"].append(f"{stream} output digest differs between JVMs of this run")
    return rec


def check_digest(stamp, workload, seed, digest, all_ok):
    """The output digest must match earlier runs of the same code and seed;
    only a run whose every operation passed its checks records one."""
    if not digest:
        return ["no operation produced an output digest"]
    d = os.path.join(WORK, "digests", stamp[:16])
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"{workload}-{seed}.sha256")
    if os.path.exists(p):
        with open(p) as f:
            seen = f.read().strip()
        if seen != digest:
            return [f"output digest {digest[:12]} differs from an earlier run of this seed ({seen[:12]})"]
        return []
    if all_ok:
        with open(p, "w") as f:
            f.write(digest + "\n")
    return []


def save(full):
    kind = "trace" if full["trace"] else "run"
    d = os.path.join(WORK, "records")
    os.makedirs(d, exist_ok=True)
    stem = f"{full['workload']}-s{full['seed']}-{kind}-{int(time.time() * 1000)}"
    if full["trace"]:
        spans = full.pop("spans")
        sp = os.path.join(d, stem + "-spans.json")
        with open(sp, "w") as f:
            json.dump(spans, f)
        full["span_file"] = os.path.relpath(sp, ROOT)
    p = os.path.join(d, stem + ".json")
    with open(p, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    return os.path.relpath(p, ROOT)


def report(full, path):
    m = full["meta"]
    print(f"perfbench {full['workload']} seed={full['seed']} trace={full['trace']} "
          f"cores={m['cores_used']}/{m['nproc']} heap={m['heap_max_mb']:.0f}MB "
          f"load={m['loadavg_start'][0]:.2f}->{m['loadavg_end'][0]:.2f} "
          f"steal={m['steal_s']:.1f}s "
          f"git={m['git_sha'] or 'none'} src={m['source_sha256'][:12]}")
    print(f"  input: {m['input_items']} items, {m['input_bytes'] / 1e6:.1f} MB "
          f"(generated in {m['gen_s']:.1f} s, outside every metric); "
          f"planted: " + json.dumps({k: v for k, v in full["planted"].items()
                                     if not isinstance(v, dict)}))
    n_meas = sum(o["kind"] == "measured" for o in full["ops"])
    print(f"  checks: {full['attempted'] - full['failed']}/{full['attempted']} operations "
          f"correct, digests " + " ".join(f"{k} {v[:16]}" for k, v in full["digests"].items())
          + "".join(f"\n  FAILED: {c}" for c in full["checks"])
          + "".join(f"\n  FAILED op {o['index']}: {'; '.join(o['failures'])}"
                    for o in full["ops"] if not o["ok"]))
    walls = [o["wall_s"] for o in full["ops"] if o["jvm"] == full["ops"][-1]["jvm"]]
    p50 = median([o["wall_s"] for o in full["ops"] if o["kind"] == "measured"])
    settled = next((i for i, w in enumerate(walls) if abs(w - p50) <= 0.1 * p50), len(walls))
    print("  operation times (s): " + " ".join(
        f"{o['kind'][0]}:{o['wall_s']:.2f}" for o in full["ops"])
        + f"  (c cold, w warm-up, m measured, t traced, l library; warm-up length: {settled} "
        f"operations before the first within 10% of the untraced median)")
    if full["trace"]:
        n_traced = sum(o["kind"] == "traced" for o in full["ops"])
        n_other = sum(o["kind"] not in ("cold", "warmup", "measured", "traced")
                      for o in full["ops"])
        print(f"  traced run: {n_meas} untraced and {n_traced} traced operations"
              + (f", {n_other} traced operations of the library path" if n_other else "")
              + f"; spans in {full['span_file']}")
        print(f"  {'call':32} {'self_s':>9} {'wall_s':>9} {'cpu_s':>8} {'jobs':>5} "
              f"{'shuf_MB':>8} {'idle':>6}  forced")
        pl = full["per_layer"]
        for name in sorted(full["self_s"], key=lambda n: -full["self_s"][n]):
            g = lambda s: pl.get(f"{name}.{s}", float("nan"))  # noqa: E731
            print(f"  {name:32} {full['self_s'][name]:9.3f} {g('wall_s'):9.3f} "
                  f"{g('cpu_s'):8.3f} {g('jobs'):5.0f} {g('shuffle_write_mb'):8.2f} "
                  f"{g('core_idle_share'):6.2f}  {full['forced'].get(name, '')}")
        print("  forced: moved = a persist the program fills in a later action, filled "
              "here; extra = an action the program never runs")
        print(f"  tracing overhead: {pl['bench.trace.overhead_s']:.3f} s "
              f"(traced p50 {pl['bench.trace.traced_run_s_p50']:.3f} s - extra actions "
              f"{pl['bench.trace.forced_s']:.3f} s - untraced p50 "
              f"{pl['bench.trace.untraced_run_s_p50']:.3f} s); shuffle of the program's "
              f"own actions / untraced: {pl['bench.trace.plan_shuffle_ratio']:.3f}")
    else:
        e = full["end_to_end"]
        print(f"  {'metric':20} {'value':>12}  unit")
        for k, unit in E2E.items():
            note = f"  (median of {n_meas} warm operations)" if k == "run_s_p50" else ""
            if k == "setup_s":
                note = ("  (process start to session ready and inputs staged, median of "
                        f"{len(m['setup_s'])} JVMs)")
            if k == "cold_run_s":
                note = f"  (first operation in a fresh JVM, median of {len(m['setup_s'])})"
            print(f"  {k:20} {e[k]:12.4f}  {unit}{note}")
    print(f"  record: {path}")


def result_line(full, bench):
    if full["trace"]:
        names = [m["name"] for m in bench["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = full["per_layer"]
    else:
        names = [m["name"] for m in bench["end_to_end"]]
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        values = full["end_to_end"]
    return json.dumps({"correct": full["correct"], "attempted": full["attempted"],
                       "failed": full["failed"],
                       "metrics": {n: {"value": values[n], "unit": units[n]} for n in names}})


# ---------------------------------------------------------------- steadiness

def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def steady(args, bench):
    bounds = {k: (0.25, 0.0) for k in E2E}
    bounds.update({m["name"]: (m["bound"], 0.0) for m in bench["end_to_end"]})
    bounds.update(NEAR_ZERO_BOUNDS)
    better = {k: "lower" for k in E2E}
    better.update({m["name"]: m["better"] for m in bench["end_to_end"]})
    better.update({k: "lower" for k in NEAR_ZERO_BOUNDS})
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    ok = True
    summary = {}
    for w in workloads:
        sets = []
        for s in range(args.sets):
            vals = {}
            for i in range(args.steady):
                seed = args.seed + s * args.steady + i
                full = run_once(w, seed, args.seconds, False)
                path = save(full)
                log(f"{w} seed {seed}: correct={full['correct']} "
                    f"run_s_p50={full['end_to_end']['run_s_p50']:.3f} ({path})")
                ok &= full["correct"]
                for k, v in full["end_to_end"].items():
                    vals.setdefault(k, []).append(v)
            sets.append(vals)
        print(f"{w}: {args.sets} set(s) of {args.steady} runs, seconds={args.seconds}")
        print(f"  {'metric':20} {'median':>12} {'IQR/med per set':>16} {'bound':>6}  steady"
              + ("   drift  within" if args.sets > 1 else ""))
        summary[w] = {}
        for k in E2E:
            rel, floor = bounds[k]
            med = [median(v[k]) for v in sets]
            sp = [spread(v[k]) for v in sets]
            allowed = [max(rel * abs(m), floor) for m in med]
            within = all(x <= a for x, a in zip(sp, allowed))
            ok &= within
            shares = " ".join(f"{x / abs(m) if m else 0.0:.3f}" for x, m in zip(sp, med))
            verdict = ("yes" if all(x <= a / 3 or x == 0 for x, a in zip(sp, allowed))
                       else "within" if within else "NO")
            line = f"  {k:20} {med[0]:12.4f} {shares:>16} {rel:6.2f}  {verdict:6}"
            entry = {"median": med, "iqr": sp, "bound": [rel, floor], "within": within}
            if args.sets > 1:
                worse = med[1] - med[0] if better[k] == "lower" else med[0] - med[1]
                drift_ok = worse <= allowed[0]
                ok &= drift_ok
                line += f"  {worse / abs(med[0]) if med[0] else 0.0:+7.3f}  {'yes' if drift_ok else 'NO'}"
                entry["drift_ok"] = drift_ok
            print(line)
            summary[w][k] = entry
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "steady-summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print("steady: " + ("all spreads and drifts within bounds" if ok else "NOT within bounds"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0,
                    help="repeat each workload this many times on consecutive seeds")
    ap.add_argument("--sets", type=int, default=1)
    args = ap.parse_args()
    try:
        bench = load_benchmark_json()
        if args.seconds is None:
            args.seconds = bench["run_seconds"]
        if args.steady:
            return steady(args, bench)
        if not args.workload or len(args.workload) != 1:
            raise BenchError("give exactly one --workload")
        full = run_once(args.workload[0], args.seed, args.seconds, bool(args.trace))
        report(full, save(full))
        print(result_line(full, bench), flush=True)
        return 0
    except BenchError as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
