#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py           # all (about 8 minutes)
    python3 perfbench/selftest.py --quick   # seed determinism only

1. The same seed gives the same op sequence and byte-identical bronze
   batches; another seed gives another order and other bytes.
2. Counts that should repeat exactly do repeat across two traced runs of
   the same seed: exec.jobs, scan.rows_read, index.builds and
   sources.stored_bytes_per_input_byte.
3. A planted busy-loop (one spinning thread per core inside the harness
   JVM) raises wall_s but leaves exec.executor_cpu_ms within bounds, and
   run.classify marks the run as contention.
4. BENCHMARK.json names exactly the metrics run.py reports.
"""
import filecmp
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402

SECONDS = 20
EXACT = ("exec.jobs", "scan.rows_read", "index.builds", "sources.stored_bytes_per_input_byte")


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    return bool(cond)


def test_seed_determinism():
    base = os.path.join(run.WORK, "selftest")
    ok = True
    for w in workloads.WORKLOADS:
        plans = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(base, f"{w}-{tag}")
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            ops, _, truth = workloads.plan(w, seed, SECONDS, d)
            plans[tag] = ([o.replace(d, "") for o in ops], truth and truth["files"])
        ok &= check(plans["a"][0] == plans["b"][0], f"{w}: same seed, same op sequence")
        ok &= check(plans["a"][0] != plans["c"][0], f"{w}: other seed, other op sequence")
        if plans["a"][1]:
            same = all(filecmp.cmp(x, y, shallow=False)
                       for x, y in zip(plans["a"][1], plans["b"][1]))
            other = any(not filecmp.cmp(x, y, shallow=False)
                        for x, y in zip(plans["a"][1], plans["c"][1]))
            ok &= check(same, f"{w}: same seed, byte-identical bronze batches")
            ok &= check(other, f"{w}: other seed, other bronze batches")
    shutil.rmtree(base, ignore_errors=True)
    return ok


def traced(cp, workload, seed, busy_threads=0):
    summary, ops = run.run_once(workload, seed, SECONDS, 1, cp, busy_threads)
    summary["per_layer"] = run.layer_metrics(
        summary, ops, run.untraced_wall(workload, seed, SECONDS, cp))
    return summary


def test_exact_counts(cp):
    ok, firsts = True, {}
    for w in workloads.WORKLOADS:
        a, b = traced(cp, w, 5), traced(cp, w, 5)
        firsts[w] = a
        for k in EXACT:
            ok &= check(a["per_layer"][k] == b["per_layer"][k],
                        f"{w}: {k} repeats exactly ({a['per_layer'][k]} / {b['per_layer'][k]})")
    return ok, firsts


def test_planted_contention(cp, base):
    w = "bi_adhoc"
    busy = traced(cp, w, 5, busy_threads=os.cpu_count())
    verdict = run.classify(base[w], busy)
    wall = busy["wall_s"] / base[w]["wall_s"]
    cpu = (busy["per_layer"]["exec.executor_cpu_ms"] /
           base[w]["per_layer"]["exec.executor_cpu_ms"])
    ok = check(wall > 1 + run.CONTENTION_WALL_RISE,
               f"{w}: planted busy loop raises wall_s ({wall:.2f}x)")
    ok &= check(abs(cpu - 1) <= run.CONTENTION_CPU_BAND,
                f"{w}: executor CPU stays within ±{run.CONTENTION_CPU_BAND:.0%} ({cpu:.2f}x)")
    ok &= check(verdict == "contention", f"{w}: run classified as {verdict!r}")
    return ok


def test_benchmark_json():
    spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    ok = check(e2e == run.END_TO_END, "BENCHMARK.json end_to_end matches run.py")
    ok &= check(layer == run.PER_LAYER, "BENCHMARK.json per_layer matches run.py")
    ok &= check([w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS),
                "BENCHMARK.json workloads match workloads.py")
    return ok


def main():
    ok = test_seed_determinism() & test_benchmark_json()
    if "--quick" not in sys.argv:
        cp = run.build()
        counts_ok, base = test_exact_counts(cp)
        ok &= counts_ok & test_planted_contention(cp, base)
    print("selftest:", "passed" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
