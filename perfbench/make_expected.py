#!/usr/bin/env python3
"""Regenerate perfbench/expected/ from the engine at this checkout.

    python3 perfbench/make_expected.py [workload ...]

Runs every pooled registered query twice in the harness (two JVMs) and
keeps its result in check.py's canonical form. A query whose two results
differ is reported and nothing is written. Every kept result with a
DuckDB oracle (SparkEntry.oracleSql) is cross-checked against that
oracle over the same base tables; a mismatch is reported and fails
the command. Queries the harness grades by Verify.approxBoundRows'
envelopes instead (sketches, samples) get no kept result.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

# one JVM runs a whole pool twice (ops, then the check pass)
MAX_JVM_S = 1800


def dump_all(cp, data_dir, names, tag, oracles_out=None):
    run_dir = os.path.join(run.WORK, "runs", f"expected-{tag}")
    run.shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    with open(os.path.join(run_dir, "plan.tsv"), "w") as f:
        f.write("".join(f"query\t{n}\n" for n in names))
    args = ["--data", data_dir, "--trace", "0", "--seed", "0",
            "--plan", os.path.join(run_dir, "plan.tsv"), "--warmup", "",
            "--out", os.path.join(run_dir, "records.jsonl")]
    if oracles_out:
        args += ["--oracles-out", oracles_out]
    run.run_jvm(cp, run_dir, args, timeout=MAX_JVM_S)
    recs = [json.loads(l) for l in open(os.path.join(run_dir, "records.jsonl"))]
    for r in recs:
        if r["type"] == "op" and not r["ok"]:
            print(f"FAILED {r['name']}: {r['error']}")
    checks = [r for r in recs if r["type"] == "check"]
    return ({r["name"]: r for r in checks if r["kind"] == "dump"},
            {r["name"] for r in checks if r["kind"] == "approx"})


def main():
    cp = run.build()
    problems = 0
    for workload in sys.argv[1:] or workloads.WORKLOADS:
        problems += keep_workload(cp, workload)
    prune()
    sys.exit(1 if problems else 0)


def prune():
    """Drop kept results no workload can draw any more."""
    pools = workloads.pools()
    wanted = {check.expected_path(q, pools[w]["sf"])
              for w in workloads.WORKLOADS for q in workloads.registered_queries(w)}
    for d, _, files in os.walk(check.EXPECTED):
        for f in files:
            if os.path.join(d, f) not in wanted:
                os.remove(os.path.join(d, f))


def keep_workload(cp, workload):
    data_dir, sf = run.data_dir_for(workload)
    names = sorted(set(workloads.registered_queries(workload)))
    oracle_file = os.path.join(run.WORK, "oracles.json")
    first, approx = dump_all(cp, data_dir, names, f"{workload}-a", oracle_file)
    second, _ = dump_all(cp, data_dir, names, f"{workload}-b")
    names = [n for n in names if n not in approx]
    oracles = json.load(open(oracle_file))
    con = check.duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    problems = 0
    for name in names:
        a, b = first.get(name, {}), second.get(name, {})
        if "path" not in a or "path" not in b:
            print(f"NO RESULT {name}: {a.get('error') or b.get('error')}")
            problems += 1
            continue
        summary = check.summarize(*check.read_dump(a["path"]))
        why = check.compare(summary, *check.read_dump(b["path"]))
        if why:
            print(f"NONDETERMINISTIC {name}: {why}")
            problems += 1
            continue
        if name in oracles:
            try:
                rel = con.execute(oracles[name])
                why = check.compare(summary, [d[0] for d in rel.description], rel.fetchall())
            except Exception as e:  # the oracle itself failing is a finding too
                why = f"oracle failed: {type(e).__name__}: {e}"
            if why:
                print(f"ORACLE MISMATCH {name}: {why}")
                problems += 1
                continue
        check.save_expected(name, sf, summary)
    print(f"{workload}: {len(names) - problems}/{len(names)} expected results kept "
          f"({sum(n in oracles for n in names)} with a DuckDB oracle)")
    return problems


if __name__ == "__main__":
    main()
