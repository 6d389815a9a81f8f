#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (perfbench/build.sbt); every run then generates its
inputs from --seed (perfbench/gen.py), starts one JVM for the workload
(perfbench/src), checks every output without graft (perfbench/check.py)
and prints one JSON line last: with --trace 0 the end-to-end metrics,
with --trace 1 the per-layer metrics. Workloads and metrics are
described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# workload -> (kind, scale factor); STEPS lists the registered queries
# each pass of a query kind runs
WORKLOADS = {
    "batch_sf0.1": ("batch", 0.1),
    "table_mix_sf0.01": ("table", 0.01),
}
STEPS = {
    "batch": ["q02_maxscale_features", "c60_topk_custom_operator",
              "d36_minhash_bands", "e51_ivf_trained", "t30_text_stats",
              "s50_stream_window_agg"],
    "table": [],
}
MODULES = ["ops", "plans", "dedup", "sim", "text", "streaming", "io"]
MODULE_METRICS = [("wall_s", "s"), ("job_busy_s", "s"), ("driver_gap_s", "s"),
                  ("jobs", "count"), ("tasks", "count"), ("task_cpu_s", "s"),
                  ("shuffle_mb", "MB"), ("input_mb", "MB"), ("spill_mb", "MB")]
IO_METRICS = [("append_p50_ms", "ms"), ("delete_p50_ms", "ms"),
              ("merge_p50_ms", "ms"), ("compact_p50_ms", "ms"),
              ("read_eq_p50_ms", "ms"), ("read_range_p50_ms", "ms"),
              ("write_p50_ms", "ms"), ("read_p50_ms", "ms"),
              ("storage_amp", "1"), ("meta_reads", "count"),
              ("data_writes", "count"), ("overlap_stats_ratio", "1"),
              ("files_scanned_ratio", "1")]
JVM_METRICS = [("jvm.start_s", "s"), ("codegen.compiles", "count"),
               ("codegen.compile_ms", "ms"),
               ("codegen.cold_compiles", "count"), ("jvm.jit_s", "s"),
               ("jvm.cold_jit_s", "s"), ("jvm.gc_s", "s"),
               ("scan.files_discovered", "count")]
WRITE_OPS = {"append", "delete", "merge", "compact"}
READ_OPS = {"read_eq", "read_range"}
MIX_BLOCKS = 100  # more than any run reaches: the sequence is time-bounded
# a run, build aside, ends within this many seconds
JVM_DEADLINE_S = 170

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
              "heap_live_mb": "MB"}


def per_layer_units():
    """The per-layer metrics, the same set for every workload."""
    u = {}
    for m in MODULES:
        for name, unit in MODULE_METRICS:
            u[f"{m}.{name}"] = unit
    for name, unit in IO_METRICS:
        u[f"io.{name}"] = unit
    u.update(dict(JVM_METRICS))
    for s in STEPS["batch"]:
        u[f"step.{s}.wall_s"] = "s"
        u[f"step.{s}.jobs"] = "count"
    u["unattributed_jobs"] = "count"
    u["trace_overhead"] = "1"
    return u


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build(root):
    """Compile the engine and the harness once; return the classpath."""
    stamp = os.path.join(HERE, ".build", "classpath.txt")
    sources = [os.path.join(root, "src", "main"), os.path.join(root, "build.sbt"),
               os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")]
    if os.path.exists(stamp) and os.path.getmtime(stamp) > newest_mtime(sources):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(HERE, ".build", "sbt.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=sbt_env(), stdout=f,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=850)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "perfbench/target" in l and ":" in l
           and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as f:
        f.write(cps[-1].strip())
    return cps[-1].strip()


def jvm_cmd(cp, work, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xmx4g", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={work}"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"] + args


def latencies(t, traced=False):
    """Op latencies (ms) by op type, over the untraced (traced) timed ops."""
    by = {}
    for k, ms, tr in zip(t["kind"], t["ms"], t["traced"]):
        if tr == traced:
            by.setdefault(k, []).append(ms)
    return by


def block_s(t, traced=False):
    """One block's time at the median latency of each op type: robust to
    one slow op, unlike a block's wall time."""
    by = latencies(t, traced)
    return sum(statistics.median(by[k]) for k in gen.BLOCK + ["compact"]) / 1e3


def mix_metrics(t):
    """Latency and pruning figures of table_mix's untraced timed ops."""
    by = latencies(t)
    out = {f"io.{k}_p50_ms": statistics.median(v) for k, v in by.items()}
    out.update({
        "io.write_p50_ms": statistics.median(
            [ms for k in WRITE_OPS for ms in by[k]]),
        "io.read_p50_ms": statistics.median(
            [ms for k in READ_OPS for ms in by[k]]),
        "io.files_scanned_ratio":
            t["scanned"] / t["total"] if t["total"] else 0.0})
    return out


def prepare(a, kind, sf, work):
    """Inputs for the run under `work`; the JVM's arguments and, for
    table_mix, the timed op sequence."""
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    gen.write(sf, a.seed, data)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--out", out, "--steps", ",".join(STEPS[kind])]
    ops = []
    if kind == "table":
        base_rows = gen.write_mix_base(data)
        ops = gen.ops_for(a.seed, MIX_BLOCKS, base_rows)
        gen.write_ops(os.path.join(work, "ops.txt"), ops)
        # the warm-up block runs on a scratch table, with other keys
        gen.write_ops(os.path.join(work, "ops.txt.warm"),
                      gen.ops_for(a.seed, 1, base_rows, salt=1))
        args += ["--mix-ops", os.path.join(work, "ops.txt")]
    return data, out, args, ops


def report(a, kind, m, pass_s, out):
    """(units, values) of the metrics the run prints."""
    if not a.trace:
        return END_TO_END, {
            "setup_s": statistics.median(m["setup_samples_s"][1:]),
            "cold_pass_s": m["cold_pass_s"], "pass_s": pass_s,
            "heap_live_mb": m["heap_live_mb"]}
    units = per_layer_units()
    values = dict.fromkeys(units, 0.0)
    values.update(m.get("layers", {}))
    values["jvm.start_s"] = m["setup_samples_s"][0]
    values["codegen.cold_compiles"] = m["cold_counters"]["codegen.compiles"]
    values["jvm.cold_jit_s"] = m["cold_counters"]["jvm.jit_s"]
    if kind == "table":
        values.update(m["io_counters"])
        values.update(mix_metrics(m["timed"]))
        values["io.storage_amp"] = check.storage_amp(
            m["timed"]["pre_compact_bytes"], os.path.join(out, "mix_final"))
        traced = block_s(m["timed"], traced=True)
    else:
        traced = statistics.median(m["traced_passes_s"])
    values["trace_overhead"] = traced / pass_s
    return units, values


def main():
    # a terminated run unwinds through subprocess.run, which kills and
    # waits for the child it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout: no build.sbt or engine sources here")
    cp = build(root)
    built = time.time()

    kind, sf = WORKLOADS[a.workload]
    work = os.path.join(HERE, ".work", f"{a.workload}_{a.seed}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data, out, args, ops = prepare(a, kind, sf, work)
        prepared = time.time()
        log = os.path.join(HERE, ".work", f"{a.workload}.log")
        with open(log, "w") as f:
            r = subprocess.run(jvm_cmd(cp, work, args), cwd=work, stdout=f,
                               stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                               timeout=max(JVM_DEADLINE_S - (prepared - built), 30))
        measure = os.path.join(out, "measure.json")
        if r.returncode != 0 or not os.path.exists(measure):
            fail(f"workload JVM failed (exit {r.returncode}), see {log}")
        ran = time.time()
        # the raw samples and spans of the last run, and its oracle SQL,
        # stay for inspection
        shutil.copy(measure, os.path.join(HERE, ".work", f"{a.workload}.measure.json"))
        if os.path.exists(os.path.join(out, "oracle.json")):
            shutil.copy(os.path.join(out, "oracle.json"),
                        os.path.join(HERE, ".work", "oracle.json"))
        with open(measure) as f:
            m = json.load(f)

        if kind == "table":
            n_checks, bad, notes = check.table_mix(m["timed"], ops, data, out)
            pass_s = block_s(m["timed"])
            samples = m["timed"]["block_traced"].count(False)
        else:
            n_checks, bad, notes = check.queries(data, out)
            pass_s = statistics.median(m["passes_s"])
            samples = len(m["passes_s"])
        attempted = m["attempted"] + n_checks
        failed = m["failed"] + bad
        for e in m.get("errors", []) + notes:
            print(f"perfbench: {e}", file=sys.stderr)
        units, values = report(a, kind, m, pass_s, out)
        print(f"perfbench: {a.workload} seed={a.seed} pass_s={pass_s:.4f} "
              f"samples={samples} failed_ratio={failed / attempted:.4f} "
              f"prepare={prepared - started:.1f}s jvm={ran - prepared:.1f}s "
              f"check={time.time() - ran:.1f}s", file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u}
                        for k, u in units.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
