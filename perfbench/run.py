#!/usr/bin/env python3
"""pipzspark benchmark: one seeded workload, measured end to end or traced.

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark driver from this checkout's sources
(once per source tree), generates the workload's inputs from the seed
(once per seed), runs the driver JVM in a closed loop with one client for
`--seconds`, checks every operation's output against DuckDB, and prints a
report followed by one JSON line: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`). Everything it writes goes under `.bench_build/` in the
checkout. See `perfbench/README.md` for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

REPO = os.path.dirname(HERE)
LIB_SRC = os.path.join(REPO, "src", "main")
JVM_PROJECT = os.path.join(HERE, "jvm")
BUILD = os.path.join(REPO, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

WORKLOADS = ("etl_star", "llm_pretrain")

END_TO_END = [("setup_s", "s"), ("run_cpu_s.p50", "s"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("run_s.p50", "s"), ("rows_per_s", "rows/s"), ("setup_wall_s", "s"),
    ("sources.scan_s", "s"), ("sources.scan_mb", "MB"), ("sources.parse_s", "s"),
    ("sources.parse_exprs", "count"), ("sources.dead_rows", "count"), ("sources.write_s", "s"),
    ("sources.write_mb", "MB"),
    ("core.compose_ms", "ms"), ("core.plan_ms", "ms"), ("core.err_split_s", "s"),
    ("stages.stage_s", "s"),
    ("runtime.run_s", "s"), ("runtime.signals", "count"), ("runtime.observed_rows_match", "bool"),
    ("combinators.fanout_s", "s"), ("combinators.share_mb", "MB"),
    ("analytics.join_s", "s"), ("analytics.agg_s", "s"), ("analytics.window_s", "s"),
    ("streaming.session_s", "s"), ("streaming.first_seen_s", "s"),
    ("functions.normalize_s", "s"), ("functions.gates_s", "s"), ("functions.pii_s", "s"),
    ("functions.minhash_s", "s"), ("functions.bpe_s", "s"),
    ("llm.lsh_s", "s"), ("llm.candidate_pairs", "count"), ("llm.useful_pair_ratio", "ratio"),
    ("llm.pack_s", "s"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.cache_mb", "MB"), ("spark.peak_exec_mem_mb", "MB"), ("spark.core_busy_ratio", "ratio"),
    ("bench.self_s", "s"), ("trace_overhead", "ratio"), ("trace_output_match", "bool"),
]

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.level=error"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------- build

def source_key():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(JVM_PROJECT, "src")]
    files = [os.path.join(JVM_PROJECT, "build.sbt"), os.path.join(JVM_PROJECT, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile (library + driver) unless this source tree is already built; returns the classpath."""
    key = source_key()
    stamp = os.path.join(BUILD, f"classpath-{key[:16]}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip(), key
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SPARK_HOME", os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit")))))
    env["SBT_OPTS"] = os.environ.get("SBT_OPTS", "") + " " + " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")])
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=JVM_PROJECT, env=env, stdout=subprocess.PIPE, stderr=log,
                               text=True, timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
        log.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (exit {p.returncode}); see {os.path.join(BUILD, 'build.log')}", 3)
    cp = [line for line in p.stdout.splitlines() if line.startswith("/") and ".jar" in line][-1]
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(stamp, "w") as f:
        f.write(cp)
    return cp, key


# --------------------------------------------------------------------- run

def run_driver(classpath, workload, data, out, seconds, trace, deadline):
    cmd = ["java"] + JAVA_OPTS + ["-cp", classpath, "perfbench.Main", "--workload", workload,
                                  "--data", data, "--out", out, "--seconds", str(seconds),
                                  "--trace", str(trace)]
    with open(os.path.join(out, "driver.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            fail("driver timed out", 4)
    if rc != 0 or not os.path.exists(os.path.join(out, "results.json")):
        with open(os.path.join(out, "driver.log")) as f:
            tail = f.read()[-3000:]
        fail(f"driver failed (exit {rc}):\n{tail}", 4)
    with open(os.path.join(out, "results.json")) as f:
        return json.load(f)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ----------------------------------------------------------------- metrics

def end_to_end(res, ops, manifest):
    """End-to-end metrics of the untraced operations that passed their checks.

    Time is gated in CPU seconds of the driver process: on a shared host
    the hypervisor's steal time moves wall time by tens of percent between
    runs of the same code, CPU time by about a tenth. Wall times are
    reported beside them."""
    timed = [o for o in ops if not o["traced"] and o["ok"]]
    times = [o["dur_s"] for o in timed]
    p50 = stats.median(times) if times else 0.0
    m = {"setup_s": res["setup_cpu_s"],
         "setup_wall_s": res["session_s"] + res["prepare_s"],
         "run_s.p50": p50,
         "run_cpu_s.p50": stats.median([o["cpu_s"] for o in timed]) if timed else 0.0,
         "rows_per_s": manifest["input_rows"] / p50 if p50 else 0.0,
         "peak_rss_mb": res["peak_rss_mb"]}
    return m, times


def per_layer(res, ops, facts, manifest, e2e):
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    ids = {o["i"] for o in traced}
    n = max(1, len(traced))
    spans = [s for s in res["spans"] if s["op"] in ids]
    own = stats.self_times(spans)

    def self_s(*names):
        return sum(own[s["id"]] for s in spans if s["name"] in names) / n

    def spark_total(key):
        return sum(s["spark"][key] for s in spans) / n

    def counter(key):
        return sum(o["counters"].get(key, 0.0) for o in traced)

    busy = sum(s["spark"]["task_run_s"] for s in spans)
    wall = sum(o["dur_s"] for o in traced)
    cpus = res["env"]["nproc"]
    fan = [s["cache_mb"] - s["cache_start_mb"] for s in spans if s["name"] == "combinators.fanout"]
    observed = facts.get("observed_rows", [])
    med = lambda xs: stats.median(xs) if xs else 0.0  # noqa: E731
    untraced_p50 = med([o["dur_s"] for o in untraced if o["ok"]])
    digests_u = {json.dumps(o.get("digest")) for o in untraced if o["ok"]}
    digests_t = {json.dumps(o.get("digest")) for o in traced if o["ok"]}
    m = {
        "run_s.p50": e2e["run_s.p50"],
        "rows_per_s": e2e["rows_per_s"],
        "setup_wall_s": e2e["setup_wall_s"],
        "sources.scan_s": self_s("sources.scan"),
        "sources.scan_mb": spark_total("input_mb"),
        "sources.parse_s": self_s("sources.parse"),
        "sources.parse_exprs": facts.get("parse_exprs_per_reader", 0.0),
        "sources.dead_rows": med([o["dead_rows"] for o in ops if "dead_rows" in o]),
        "sources.write_s": self_s("sources.write"),
        "sources.write_mb": spark_total("output_mb"),
        "core.compose_ms": 1000.0 * self_s("core.compose"),
        "core.plan_ms": sum(o["plan_ms"] for o in traced) / n,
        "core.err_split_s": self_s("core.err_split"),
        "stages.stage_s": self_s("stages.prep", "stages.validate"),
        "runtime.run_s": self_s("runtime.run"),
        "runtime.signals": sum(o["counters"].get("signals", 0.0) for o in ops) / max(1, len(ops)),
        "runtime.observed_rows_match": float(bool(observed) and all(x == manifest.get("lines") for x in observed)),
        "combinators.fanout_s": self_s("combinators.fanout"),
        "combinators.share_mb": max(fan) if fan else 0.0,
        "analytics.join_s": self_s("analytics.join"),
        "analytics.agg_s": self_s("analytics.agg"),
        "analytics.window_s": self_s("analytics.window"),
        "streaming.session_s": self_s("streaming.session"),
        "streaming.first_seen_s": self_s("streaming.first_seen"),
        "functions.normalize_s": self_s("functions.normalize"),
        "functions.gates_s": self_s("functions.gates"),
        "functions.pii_s": self_s("functions.pii"),
        "functions.minhash_s": self_s("functions.minhash"),
        "functions.bpe_s": self_s("functions.bpe"),
        "llm.lsh_s": self_s("llm.lsh"),
        "llm.candidate_pairs": counter("candidate_pairs") / n,
        "llm.useful_pair_ratio": (counter("useful_pairs") / counter("candidate_pairs")
                                  if counter("candidate_pairs") else 0.0),
        "llm.pack_s": self_s("llm.pack"),
        "spark.jobs": spark_total("jobs"),
        "spark.tasks": spark_total("tasks"),
        "spark.cpu_s": spark_total("cpu_s"),
        "spark.gc_s": spark_total("gc_s"),
        "spark.shuffle_write_mb": spark_total("shuffle_write_mb"),
        "spark.shuffle_read_mb": spark_total("shuffle_read_mb"),
        "spark.spill_mb": spark_total("spill_mb"),
        "spark.cache_mb": max((s["cache_mb"] for s in spans), default=0.0),
        "spark.peak_exec_mem_mb": max((s["spark"]["peak_exec_mem_mb"] for s in spans), default=0.0),
        "spark.core_busy_ratio": busy / (wall * cpus) if wall else 0.0,
        "bench.self_s": self_s("op"),
        "trace_overhead": (med([o["dur_s"] for o in traced if o["ok"]]) / untraced_p50) if untraced_p50 else 0.0,
        "trace_output_match": float(len(digests_u) == 1 and digests_u == digests_t),
    }
    table = {}
    for s in spans:
        row = table.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0, "spark": {}})
        row["calls"] += 1
        row["total_s"] += s["end_s"] - s["start_s"]
        row["self_s"] += own[s["id"]]
        for k, v in s["spark"].items():
            row["spark"][k] = row["spark"].get(k, 0.0) + v
    return m, table


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if not os.path.isdir(os.path.join(LIB_SRC, "scala", "graft")):
        fail(f"library sources not found under {LIB_SRC}; run from a pipzspark checkout")
    if not all(shutil.which(tool) for tool in ("java", "sbt", "spark-submit")):
        fail("java, sbt and spark-submit are required")

    classpath, key = build(started + BUILD_TIMEOUT_S)
    phases = {"build": time.time() - started}
    deadline = time.time() + RUN_TIMEOUT_S
    size = gen.SIZES[a.workload]
    data = gen.generate(a.workload, a.seed, size, os.path.join(BUILD, "data"))
    with open(os.path.join(data, "manifest.json")) as f:
        manifest = json.load(f)
    phases["generate"] = time.time() - started - sum(phases.values())
    out = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    res = run_driver(classpath, a.workload, data, out, a.seconds, a.trace, deadline)
    phases["driver"] = time.time() - started - sum(phases.values())
    ops = res["ops"]
    facts = dict(res.get("facts", {}))
    facts.update(oracle.check(a.workload, data, out, ops, manifest))
    if "finish_error" in facts:  # the driver's untimed bookkeeping after the loop failed
        facts["check_errors"]["finish"] = facts["finish_error"]
    phases["check"] = time.time() - started - sum(phases.values())
    attempted, failed, ratio = stats.fail_ratio(ops)
    e2e, times = end_to_end(res, ops, manifest)

    env = dict(res["env"], git_commit=git_commit(), source_sha256=key)
    print(f"perfbench workload={a.workload} seed={a.seed} trace={a.trace} size={size} "
          f"input_rows={manifest['input_rows']} seconds={a.seconds}")
    print("phases " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items()))
    print("env " + " ".join(f"{k}={json.dumps(v)}" for k, v in sorted(env.items())))
    print(f"metric setup_s = {e2e['setup_s']:.4f} s (driver CPU until the first measured operation)")
    print(f"metric setup_wall_s = {e2e['setup_wall_s']:.4f} s (session {res['session_s']:.3f} s + "
          f"warm-up operation {res['prepare_s']:.3f} s)")
    print(f"metric run_cpu_s.p50 = {e2e['run_cpu_s.p50']:.4f} s (n={len(times)} operations)")
    print(f"metric run_s.p50 = {e2e['run_s.p50']:.4f} s (n={len(times)} operations)")
    tail = stats.tail_percentile(times)
    print(f"metric run_s.p{tail[0]} = {tail[1]:.4f} s ({tail[2]} samples beyond)" if tail else
          f"metric run_s.max = {max(times, default=0.0):.4f} s (too few operations for a tail percentile)")
    print(f"metric rows_per_s = {e2e['rows_per_s']:.1f} rows/s (input {manifest['input_rows']} rows)")
    print(f"metric fail_ratio = {ratio:.4f} ({failed}/{attempted})")
    print(f"metric peak_rss_mb = {e2e['peak_rss_mb']:.1f} MB")
    for o in ops:
        if not o["ok"]:
            print(f"failure workload={a.workload} op={o['i']} path={o['path'] or '-'} error={o['error']}")
    for k, v in facts.get("check_errors", {}).items():
        print(f"check {k}: {v}")

    if a.trace:
        layers, table = per_layer(res, ops, facts, manifest, e2e)
        print(f"{'span':24s} {'calls':>5s} {'total_s':>9s} {'self_s':>9s} {'cpu_s':>8s} {'shuf_mb':>8s}")
        for name, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"{name:24s} {row['calls']:5d} {row['total_s']:9.3f} {row['self_s']:9.3f} "
                  f"{row['spark']['cpu_s']:8.2f} {row['spark']['shuffle_write_mb']:8.2f}")
        for name, unit in PER_LAYER:
            print(f"layer {name} = {layers[name]:.6g} {unit}")
        with open(os.path.join(out, "trace.json"), "w") as f:
            json.dump({"spans": res["spans"], "layers": layers, "table": table, "env": env}, f)
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit in PER_LAYER}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    correct = failed == 0 and not facts.get("check_errors")
    for scratch in ["warm", "spark-local", "warehouse", "duckdb_tmp"] + (["ops"] if correct else []):
        shutil.rmtree(os.path.join(out, scratch), ignore_errors=True)  # failing outputs stay for inspection
    print(json.dumps({"correct": correct,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
