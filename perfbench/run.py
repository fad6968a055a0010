#!/usr/bin/env python3
"""Lakehouse engine benchmark: two seeded workloads, one JVM per run.

    python3 perfbench/run.py --workload bi_adhoc --seed 1 --seconds 10 --trace 0

Builds the engine from the checkout's sources (perfbench/build.sbt, once
per source change), makes the run's op plan from the seed over the base
tables kept in perfbench/data/, runs it in one JVM at local[nproc] from one client
thread, grades the outputs untimed, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 attaches Spark
listeners, reports the per-layer metrics and writes every op's record to
perfbench/work/traces/<workload>-seed<seed>.jsonl. Everything the run
writes stays under perfbench/work/.
"""
import argparse
import hashlib
import json
import math
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
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORK = os.path.join(HERE, "work")
DATA = os.path.join(HERE, "data")
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# name → (unit, better); the order is the report order. The live heap peak
# is a per-layer metric: read from the JVM's own collections it includes
# old-generation garbage that no young collection frees, and spreads by
# about 40 % between runs of the same work.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "op_p50_ms": ("ms", "lower"),
    "op_p90_ms": ("ms", "lower"),
}
_SUMMED = [
    ("catalyst.analysis_ms", "ms", "lower"), ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"), ("codegen.compile_ms", "ms", "lower"),
    ("codegen.compiles", "count", "lower"), ("operators.construct_ms", "ms", "lower"),
    ("operators.construct_jobs", "count", "lower"), ("exec.ms", "ms", "lower"),
    ("exec.jobs", "count", "lower"), ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"), ("exec.executor_cpu_ms", "ms", "lower"),
    ("exec.executor_run_ms", "ms", "lower"), ("exec.gc_ms", "ms", "lower"),
    ("exec.shuffle_write_bytes", "B", "lower"), ("exec.shuffle_read_bytes", "B", "lower"),
    ("exec.shuffle_fetch_wait_ms", "ms", "lower"), ("exec.spill_bytes", "B", "lower"),
    ("exec.op.scan_ms", "ms", "lower"), ("exec.op.wholestage_ms", "ms", "lower"),
    ("exec.op.agg_ms", "ms", "lower"), ("exec.op.sort_ms", "ms", "lower"),
    ("exec.op.join_build_ms", "ms", "lower"), ("exec.op.shuffle_write_ms", "ms", "lower"),
    ("exec.task_wait_ms", "ms", "lower"), ("scan.bytes_read", "B", "lower"),
    ("scan.rows_read", "count", "lower"), ("sources.bytes_written", "B", "lower"),
    ("sources.rows_written", "count", "lower"), ("sources.files_written", "count", "lower"),
    ("streaming.trigger_ms", "ms", "lower"), ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.query_planning_ms", "ms", "lower"), ("streaming.wal_commit_ms", "ms", "lower"),
    ("streaming.triggers", "count", "lower"), ("streaming.state_rows", "count", "lower"),
    ("index.builds", "count", "lower"),
]
# per-step wall time of the medallion DAG
_STEPS = {"ingest": "ingest.read_ms", "silver": "pipeline.silver_ms",
          "gold": "pipeline.gold_ms", "runstore": "runstore.log_ms"}
PER_LAYER = {name: (unit, better) for name, unit, better in _SUMMED}
PER_LAYER.update({
    "catalyst.effective_rule_ratio": ("ratio", "higher"),
    "exec.cpu_per_wall": ("ratio", "higher"),
    "scan.rows_per_output_row": ("ratio", "lower"),
    **{m: ("ms", "lower") for m in _STEPS.values()},
    "sources.stored_bytes_per_input_byte": ("ratio", "lower"),
    "streaming.bootstrap_ms": ("ms", "lower"),
    "index.reuse_ratio": ("ratio", "higher"),
    "workload.repeat_share": ("ratio", "higher"),
    "workload.ops": ("count", "higher"),
    "jvm.live_heap_peak_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
})


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build ---------------------------------------------------------------------
def _source_stamp():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt when the sources changed; return
    the runtime classpath."""
    stamp_file = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    log("building engine and harness with sbt ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL,
        env=dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline")))
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13" in l and "classes" in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"sbt build failed (exit {proc.returncode})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


# ---- one JVM run ---------------------------------------------------------------
_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
          "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
          "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(cp, run_dir, args, timeout=JVM_TIMEOUT_S):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{JVM_HEAP}", *[x for p in _OPENS for x in
                                     ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Dgraft.scratch={run_dir}/scratch", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", "-cp", cp, "graft.perfbench.Harness",
           "--work", run_dir, *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness JVM exceeded {timeout} s; log: {logf.name}")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM exited with {rc}")


def _beta_cdf(x, a, b, steps=2000):
    """Regularised incomplete beta I_x(a, b), by the midpoint rule."""
    if x <= 0 or x >= 1:
        return min(max(x, 0.0), 1.0)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    h = x / steps
    return h * sum(math.exp(log_norm + (a - 1) * math.log((k + 0.5) * h)
                            + (b - 1) * math.log1p(-(k + 0.5) * h)) for k in range(steps))


def percentile(xs, p):
    """Harrell-Davis estimate of the p-th percentile (p in 0..100): a
    beta-weighted mean of all order statistics. A run has only about 20
    ops, and the single order statistic a plain percentile picks jumps
    between neighbouring ops from run to run."""
    s, n, q = sorted(xs), len(xs), p / 100
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [_beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(s))


def data_dir_for(workload):
    """The engine's fixed test tables at the workload's scale factor."""
    sf = workloads.pools()[workload]["sf"]
    path = os.path.join(DATA, f"sf{sf}")
    if not os.path.isfile(os.path.join(path, "lineitem.parquet")):
        fail(f"base tables not found under {path}")
    return path, sf


def run_once(workload, seed, seconds, trace, cp, busy_threads=0):
    """One run: returns (summary, op records)."""
    data_dir, sf = data_dir_for(workload)
    run_dir = os.path.join(WORK, "runs", f"{workload}-seed{seed}-trace{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ops, warmup, truth = workloads.plan(workload, seed, seconds, run_dir)
    with open(os.path.join(run_dir, "plan.tsv"), "w", encoding="utf-8") as f:
        f.write("\n".join(ops) + "\n")
    args = ["--data", data_dir, "--trace", str(trace), "--seed", str(seed),
            "--plan", os.path.join(run_dir, "plan.tsv"), "--warmup", ",".join(warmup),
            "--busy-threads", str(busy_threads),
            "--out", os.path.join(run_dir, "records.jsonl")]
    if truth:
        with open(os.path.join(run_dir, "sample.txt"), "w", encoding="utf-8") as f:
            f.write("\n".join(truth["gold_price"]) + "\n")
        args += ["--sample", os.path.join(run_dir, "sample.txt"),
                 "--warmup-bronze", truth["warmup_file"]]
    run_jvm(cp, run_dir, args)

    recs = [json.loads(l) for l in open(os.path.join(run_dir, "records.jsonl"), encoding="utf-8")]
    by = {}
    for r in recs:
        by.setdefault(r["type"], []).append(r)
    if "end" not in by:
        fail("harness ended without its final record")
    op_recs = by["op"]
    bad = check.grade(by.get("check", []), truth, sf)
    failed_names = {name for (kind, name) in bad if kind in ("dump", "approx")}
    failed_steps = {"silver" for (kind, _) in bad if kind == "silver_rows"} | \
                   {"gold" for (kind, _) in bad if kind == "gold_price"}
    for o in op_recs:
        if o["ok"] and (o["step"] == "query" and o["name"] in failed_names
                        or o["step"] in failed_steps):
            o["ok"] = False
            o["error"] = "output check: " + "; ".join(
                v for k, v in bad.items() if k[1] == o["name"] or k[0].startswith(o["step"]))[:300]
    for (kind, name), why in sorted(bad.items()):
        log(f"check failed: {kind} {name}: {why}")
    for w in by.get("warmup_failure", []):
        log(f"warm-up failed: {w['name']}: {w['error']}")
    for o in op_recs:
        if not o["ok"]:
            log(f"op {o['i']} {o['step']} {o['name']} failed: {o['error']}")
    timed = by["timed"][0]
    ms = [o["ms"] for o in op_recs]
    summary = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace, "sf": sf,
        "attempted": len(op_recs), "failed": sum(not o["ok"] for o in op_recs),
        "harness_errors": len(by.get("warmup_failure", [])),
        "setup_s": by["setup"][0]["setup_s"],
        "wall_s": timed["wall_s"],
        "op_p50_ms": percentile(ms, 50), "op_p90_ms": percentile(ms, 90),
        "live_heap_peak_mb": timed["heap_peak_mb"],
        "stored_bytes": timed["stored_bytes"], "input_bytes": timed["input_bytes"],
        "nproc": by["meta"][0]["nproc"], "load_before": by["meta"][0]["load_before"],
        "load_after": timed["load_after"], "commit": _commit_id(),
    }
    shutil.rmtree(run_dir, ignore_errors=True)
    return summary, op_recs


def _commit_id():
    """Commit of the checkout when git knows it, else a digest of the
    engine sources (the benchmark's checkouts need not be repositories)."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "src-" + _source_stamp()[:12]


# ---- per-layer aggregation ---------------------------------------------------------
def layer_metrics(summary, ops, untraced_wall):
    total = lambda k, xs=ops: sum(o["layers"].get(k, 0.0) for o in xs)
    m = {name: total(name) for name, _, _ in _SUMMED}
    rules = total("catalyst.rules")
    m["catalyst.effective_rule_ratio"] = total("catalyst.effective_rules") / rules if rules else 0.0
    m["exec.cpu_per_wall"] = m["exec.executor_cpu_ms"] / (summary["wall_s"] * 1000)
    queries = [o for o in ops if o["step"] == "query"]
    out_rows = 0
    for o in queries:
        exp = check.load_expected(o["name"], summary["sf"])
        out_rows += exp["n_rows"] if exp else 0
    m["scan.rows_per_output_row"] = total("scan.rows_read", queries) / out_rows if out_rows else 0.0
    for step, name in _STEPS.items():
        m[name] = sum(o["ms"] for o in ops if o["step"] == step)
    m["sources.stored_bytes_per_input_byte"] = (
        summary["stored_bytes"] / summary["input_bytes"] if summary["input_bytes"] else 0.0)
    m["streaming.bootstrap_ms"] = sum(o["ms"] - o["layers"].get("streaming.trigger_ms", 0.0)
                                      for o in ops if o["layers"].get("streaming.triggers"))
    consumers = [o for o in ops if o["layers"].get("index.consumer")]
    m["index.reuse_ratio"] = (sum(1 for o in consumers if not o["layers"].get("index.builds"))
                              / len(consumers) if consumers else 0.0)
    seen, repeats = set(), 0
    for o in ops:
        repeats += (o["step"], o["name"]) in seen
        seen.add((o["step"], o["name"]))
    m["workload.repeat_share"] = repeats / len(ops)
    m["workload.ops"] = len(ops)
    m["jvm.live_heap_peak_mb"] = summary["live_heap_peak_mb"]
    m["trace.overhead_s"] = summary["wall_s"] - untraced_wall
    return m


# a traced run whose wall_s rose by more than this against an earlier
# traced run of the same seed, with executor CPU inside the band, was
# slowed by contention, not by more work
CONTENTION_WALL_RISE = 0.15
CONTENTION_CPU_BAND = 0.15


def classify(base, run):
    """'contention', 'more work', 'faster' or 'steady': how a traced run's
    wall_s moved against a baseline traced run, read with executor CPU."""
    wall = run["wall_s"] / base["wall_s"]
    cpu = (run["per_layer"]["exec.executor_cpu_ms"]
           / max(base["per_layer"]["exec.executor_cpu_ms"], 1e-9))
    if wall > 1 + CONTENTION_WALL_RISE:
        return "contention" if abs(cpu - 1) <= CONTENTION_CPU_BAND else "more work"
    return "faster" if wall < 1 - CONTENTION_WALL_RISE else "steady"


def result_path(workload, seed, seconds, trace):
    return os.path.join(WORK, "results", f"{workload}-seed{seed}-s{seconds}-trace{trace}.json")


def untraced_wall(workload, seed, seconds, cp):
    """wall_s of an untraced run of the same workload: the same seed if
    this checkout has one, else the median over other seeds, else a fresh
    run."""
    res_dir = os.path.join(WORK, "results")
    same = result_path(workload, seed, seconds, 0)
    if os.path.exists(same):
        return json.load(open(same))["wall_s"]
    others = [json.load(open(os.path.join(res_dir, f))) for f in sorted(os.listdir(res_dir))
              if f.startswith(f"{workload}-") and f.endswith(f"-s{seconds}-trace0.json")] \
        if os.path.isdir(res_dir) else []
    if others:
        return statistics.median(o["wall_s"] for o in others)
    summary, _ = run_once(workload, seed, seconds, 0, cp)
    save_result(summary)
    return summary["wall_s"]


def save_result(summary):
    path = result_path(summary["workload"], summary["seed"], summary["seconds"],
                       summary["trace"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(summary, f, indent=1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        fail("engine sources not found: run from a checkout that holds src/main/scala")
    if a.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(workloads.WORKLOADS)}")
    cp = build()
    summary, ops = run_once(a.workload, a.seed, a.seconds, a.trace, cp)
    if a.trace:
        base = untraced_wall(a.workload, a.seed, a.seconds, cp)
        values = layer_metrics(summary, ops, base)
        summary["per_layer"] = values
        prev = result_path(a.workload, a.seed, a.seconds, 1)
        if os.path.exists(prev):
            summary["classification"] = classify(json.load(open(prev)), summary)
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.jsonl")
        with open(path, "w", encoding="utf-8") as f:
            for o in ops:
                f.write(json.dumps({"workload": a.workload, "seed": a.seed, "op": o["i"],
                                    "step": o["step"], "name": o["name"],
                                    "start_ms": o["start_ms"], "end_ms": o["end_ms"],
                                    "ms": o["ms"], "ok": o["ok"], "error": o["error"],
                                    "layers": o["layers"]}, ensure_ascii=False) + "\n")
        log(f"per-op trace: {path}")
        spec = PER_LAYER
    else:
        values = {k: summary[k] for k in END_TO_END}
        spec = END_TO_END
    save_result(summary)
    log(json.dumps({k: v for k, v in summary.items() if k != "per_layer"}))
    print(json.dumps({
        "correct": summary["failed"] == 0 and summary["harness_errors"] == 0,
        "attempted": summary["attempted"], "failed": summary["failed"],
        "metrics": {k: {"value": values[k], "unit": spec[k][0]} for k in spec}}))


if __name__ == "__main__":
    main()
