#!/usr/bin/env python3
"""Benchmark for the three things an OPL user waits on.

    python3 perfbench/run.py --workload olap_serve --seed 1 --seconds 15 --trace 0

Workloads: olap_serve, gate_mix (see README.md). Run from the root of a
checkout. The first run builds the program and the benchmark from the
checkout's sources with sbt, offline; later runs reuse the build while the
sources are unchanged. Each run generates its tables from the seed,
runs the workload in one JVM, checks every answer against DuckDB and prints,
as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads as W  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
SCALE = 0.02  # table sizes, in the test data's scale factor (datagen.ROWS)
TIME_LIMIT_S = 170

# per workload: the share of the run at one client, and the operation kinds
# geomean_ms and loaded_geomean_ms are taken over
CONFIG = {
    "olap_serve": {"one_share": 0.5, "main": ("main",)},
    "gate_mix": {"one_share": 0.85, "main": ("main", "light")},
}

# The program's own JVM options (build.sbt `javaOptions`), plus two that
# keep the process's files inside the checkout: no perf-data file under the
# system temp directory, and a temp directory of the run's own (run_jvm).
JAVA_OPTS = [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}", "-XX:-UsePerfData",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark (offline sbt) into jars, once
    per source state. Returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no program sources in this checkout (src/main/scala/graft)")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
            "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf,
            stdin=subprocess.DEVNULL, text=True)
    out = rc.stdout
    open(os.path.join(BUILD, "build.log"), "a").write(out)
    cp = [ln for ln in out.splitlines() if ln and not ln.startswith("[")]
    if rc.returncode != 0 or not cp:
        log(out[-3000:])
        raise SystemExit(f"build failed (exit {rc.returncode}); see .bench_build/build.log")
    open(cp_file, "w").write(cp[-1])
    open(stamp_file, "w").write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1]


# ------------------------------------------------------------------ run

def make_spec(workload, seed, seconds, trace, work, data):
    cfg = CONFIG[workload]
    spec = {"workload": workload, "work": work, "data": data,
            "clients": nproc(), "seconds": seconds, "trace": bool(trace),
            "one_share": cfg["one_share"]}
    rng = random.Random(f"{seed}:{workload}")
    if workload == "olap_serve":
        pivots = W.pivots_for(rng)
        spec["pivots"] = [p.isoformat() for p in pivots]
        spec["settings"] = W.settings_json()
        spec["metas"] = {f["name"]: json.dumps(f["meta"]) for f in W.FACTS}
        spec["fires"] = [{"pivot": p.isoformat(), "facts": [
            f["name"] for f in W.FACTS if W.scope(f["cron"], p)]} for p in pivots]
        spec["requests"] = W.request_mix(rng, pivots)
    else:
        # a fixed order: which gates ran before one shapes its JIT state
        spec["gates"] = [{"name": g, "family": f, "light": f == "olap"}
                         for g, f in W.GATES]
    return spec


def cpu_times():
    """(busy, steal) jiffies of the whole machine, for the run log: steal
    is time the host gave this machine's CPUs to someone else."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return sum(f[:3]) + sum(f[5:7]), f[7]


def run_jvm(cp, spec, work, deadline):
    spec_path = os.path.join(work, "spec.json")
    json.dump(spec, open(spec_path, "w"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                  "perfbench.Main", spec_path]
    c0 = cpu_times()
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=logf,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("benchmark process ran out of time")
    c1 = cpu_times()
    busy, steal = c1[0] - c0[0], c1[1] - c0[1]
    log(f"cpu steal during the run: {100.0 * steal / max(1, busy + steal):.1f}%")
    if rc != 0 or not os.path.exists(os.path.join(work, "raw.json")):
        log(open(os.path.join(work, "jvm.log")).read()[-4000:])
        raise SystemExit(f"benchmark process failed (exit {rc})")
    return json.load(open(os.path.join(work, "raw.json")))


# -------------------------------------------------------------- metrics

def med(xs):
    return statistics.median(xs) if xs else 0.0


def units(raw):
    """Every timed unit of a run: samples, and in a traced run the records
    of its layer split, backfill runs and steps, and uncalibrated passes."""
    snap = raw.get("snapshot", {})
    return [u for k in ("samples", "split", "untraced") for u in raw.get(k, [])] + \
        [u for k in ("runs", "steps", "untraced") for u in snap.get(k, [])]


def mark_failed(raw, bad_ops):
    """Marks the units of operations whose checked answer was wrong as
    failed; returns (attempted, failed)."""
    us = units(raw)
    for u in us:
        if u["op"] in bad_ops:
            u["ok"] = False
    return max(1, len(us)), sum(1 for u in us if not u["ok"])


def geomean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def end_to_end(raw, clients, main_kinds):
    """End-to-end metrics of an untraced run. Each latency metric is a
    geometric mean over operations, so that every operation weighs the same
    and one operation's swing moves it only by its share. At one client an
    operation counts with the lower median of its runs: the faster of two
    (a gate's first run after the cold pass is often still slow), the
    middle of three (a request's rare answer without the HTTP server's
    ~40 ms send stall, or a slow burst, moves it not); under load with the
    median of its runs. Failed operations count in none."""
    ok = [s for s in raw["samples"] if s["ok"]]
    one, loaded, kind = {}, {}, {}
    for s in ok:
        (one if s["phase"] == "one" else loaded).setdefault(s["op"], []).append(s["ms"])
        kind[s["op"]] = s["kind"]
    best = {op: statistics.median_low(ms) for op, ms in one.items()}
    loaded_main = [med(ms) for op, ms in loaded.items() if kind[op] in main_kinds] or \
        [med(ms) for ms in loaded.values()]
    loaded_all = [x for ms in loaded.values() for x in ms]
    m = {
        "setup_s": ((raw["session_ms"] + raw["setup_ms"]) / 1000.0, "s"),
        "geomean_ms": (geomean([v for k, v in best.items() if kind[k] in main_kinds]), "ms"),
        "light_geomean_ms": (geomean([v for k, v in best.items() if kind[k] == "light"]), "ms"),
        "round_s": (sum(best.values()) / 1000.0, "s"),
        "loaded_geomean_ms": (geomean(loaded_main), "ms"),
        # closed loop without think time: throughput = clients / mean latency
        "loaded_ops_per_s": (clients * 1000.0 / statistics.fmean(loaded_all), "1/s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


LAYER_METRICS = [
    ("http.transport_ms", "ms"), ("http.queue_ms", "ms"),
    ("olap.api_ms", "ms"), ("olap.compile_ms", "ms"), ("olap.plan_ms", "ms"),
    ("olap.render_ms", "ms"), ("olap.result_rows", "count"),
    ("warehouse.read_ms", "ms"), ("warehouse.fact_files", "count"),
    ("warehouse.append_ms", "ms"), ("warehouse.files_written", "count"),
    ("warehouse.bytes_written", "bytes"), ("warehouse.lease_ms", "ms"),
    ("snapshot.probe_ms", "ms"), ("snapshot.probe_bytes", "bytes"),
    ("snapshot.jobs_per_pivot", "count"), ("snapshot.rerun_jobs", "count"),
    ("snapshot.non_job_ms", "ms"),
    ("tables.load_ms", "ms"),
    ("gate.build_ms", "ms"), ("gate.build_jobs", "count"),
    ("gate.plan_ms", "ms"), ("gate.exec_ms", "ms"), ("gate.exec_jobs", "count"),
] + [(f"gate.{f}.s", "s") for f in W.FAMILIES] + [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_ms", "ms"), ("spark.input_bytes", "bytes"),
    ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimize_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("trace.overhead_pct", "%"),
]


def _mean(rows, k):
    return statistics.fmean(r[k] for r in rows) if rows else 0.0


def _spark(rows, into):
    for k in ("jobs", "stages", "tasks"):
        into[f"spark.{k}"] = _mean(rows, k)
    for k in ("task_ms", "input_bytes", "shuffle_bytes", "spill_bytes"):
        into[f"spark.{k}"] = _mean(rows, k)
    into["catalyst.analysis_ms"] = _mean(rows, "analysis_ms")
    into["catalyst.optimize_ms"] = _mean(rows, "optimize_ms")
    into["catalyst.planning_ms"] = _mean(rows, "planning_ms")


def _ok(rows):
    return [r for r in rows if r["ok"]]


def _snapshot_layers(raw, v):
    """Snapshot and warehouse-append layers from the traced backfill."""
    runs, steps = _ok(raw["runs"]), _ok(raw["steps"])
    piv = [r for r in runs if r["kind"] == "pivot"]
    rer = [r for r in runs if r["kind"] == "rerun"]
    v["snapshot.jobs_per_pivot"] = _mean(piv, "jobs")
    v["snapshot.rerun_jobs"] = _mean(rer, "jobs")
    v["snapshot.non_job_ms"] = med([r["ms"] - r["job_busy_ms"] for r in piv])
    v["snapshot.probe_ms"] = med([s["probe_ms"] for s in steps])
    v["snapshot.probe_bytes"] = _mean(steps, "probe_bytes")
    v["warehouse.append_ms"] = med([s["append_ms"] for s in steps])
    v["warehouse.lease_ms"] = med([s["lease_ms"] for s in steps])
    v["warehouse.files_written"] = _mean(steps, "files_written")
    v["warehouse.bytes_written"] = _mean(steps, "bytes_written")


def per_layer(workload, raw):
    """Per-layer metrics of a traced run; a layer the workload bypasses
    reads 0. Failed units count in none of them."""
    v = {name: 0.0 for name, _ in LAYER_METRICS}
    samples = _ok(raw.get("samples", []))
    split = _ok(raw["split"])
    # an operation counts in a comparison only if none of its units failed
    failed = {u["op"] for u in units(raw) if not u["ok"]}

    def per_op(phase, kind=None):
        d = {}
        for s in samples:
            if s["phase"] == phase and s["op"] not in failed and \
                    (kind is None or s["kind"] == kind):
                d.setdefault(s["op"], []).append(s["ms"])
        return {k: med(x) for k, x in d.items()}

    if workload == "olap_serve":
        http1, api_on, api_off = per_op("one", "main"), per_op("api", "main"), \
            per_op("api_untraced", "main")
        common = [k for k in http1 if k in api_on]
        v["http.transport_ms"] = med([http1[k] - api_on[k] for k in common])
        loaded = [s["ms"] for s in samples if s["phase"] == "loaded"
                  and s["kind"] == "main"]
        v["http.queue_ms"] = med(loaded) - med(list(http1.values()))
        v["olap.api_ms"] = med(list(api_on.values()))
        for k in ("compile", "plan", "render"):
            v[f"olap.{k}_ms"] = med([r[f"{k}_ms"] for r in split])
        v["olap.result_rows"] = _mean(split, "rows")
        v["warehouse.read_ms"] = med([r["read_ms"] for r in split])
        v["warehouse.fact_files"] = raw["fact_files"]
        _snapshot_layers(raw["snapshot"], v)
        _spark(split, v)
        off = med(list(api_off.values()))
        v["trace.overhead_pct"] = 100.0 * (v["olap.api_ms"] - off) / off
        acct = (v["warehouse.read_ms"] + v["olap.compile_ms"] + v["olap.plan_ms"]
                + v["olap.render_ms"])
        log(f"olap_serve split: read+compile+plan+render = {acct:.1f} ms, "
            f"in-process api = {v['olap.api_ms']:.1f} ms, + transport "
            f"{v['http.transport_ms']:.1f} = "
            f"{v['olap.api_ms'] + v['http.transport_ms']:.1f} ms vs HTTP "
            f"1-client p50 {med(list(http1.values())):.1f} ms")
    else:
        for k in ("build", "plan", "exec"):
            v[f"gate.{k}_ms"] = med([r[f"{k}_ms"] for r in split])
        v["gate.build_jobs"] = _mean(split, "build_jobs")
        v["gate.exec_jobs"] = _mean(split, "exec_jobs")
        for f in W.FAMILIES:
            v[f"gate.{f}.s"] = sum(r["ms"] for r in split if r["family"] == f) / 1000.0
        v["tables.load_ms"] = raw["tables_load_ms"]
        _spark(split, v)
        on = {r["op"]: r["ms"] for r in split if r["op"] not in failed}
        off = sum(s["ms"] for s in raw["untraced"] if s["op"] in on)
        v["trace.overhead_pct"] = 100.0 * (sum(on.values()) - off) / off
    unit = dict(LAYER_METRICS)
    return {k: {"value": float(x), "unit": unit[k]} for k, x in v.items()}


# ---------------------------------------------------------------- checks

def check(workload, spec, raw, work, data):
    """Returns (ops that answered wrongly, faults that make the run
    incorrect)."""
    con = W.connect(data)
    if workload == "olap_serve":
        pivots = [W.dt.date.fromisoformat(p) for p in spec["pivots"]]
        return W.check_olap(con, raw, work, spec["requests"], pivots)
    return W.check_gates(con, raw, work, [g["name"] for g in spec["gates"]]), []


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    cp = build()
    deadline = time.time() + TIME_LIMIT_S - 15
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        datagen.generate(data, a.seed, SCALE)
        strays = datagen.check_profile(data, SCALE)
        if strays:
            raise SystemExit("generated tables stray from the test data's "
                             "shape: " + "; ".join(strays))
        spec = make_spec(a.workload, a.seed, a.seconds, a.trace, work, data)
        raw = run_jvm(cp, spec, work, deadline)
        bad, faults = check(a.workload, spec, raw, work, data)
        for op, why in sorted(bad.items()):
            log(f"FAILED {op}: {why}")
        for f in faults:
            log(f"INCORRECT: {f}")
        attempted, failed = mark_failed(raw, bad)
        metrics = per_layer(a.workload, raw) if a.trace else end_to_end(
            raw, spec["clients"], CONFIG[a.workload]["main"])
        log(f"{a.workload} seed {a.seed}: {time.time() - t_start:.1f} s wall")
        print(json.dumps({"correct": not faults, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
