"""The benchmark's workloads: op plans made from the workload seed.

Every workload runs a fixed amount of work for a given --seconds, so two
commits measured with the same seed do identical work; the seed decides
the order of that work and the bronze input.

The query pools in pools.json are the registered queries of the module
families each workload stands for. A pool's popularity ranking is a
permutation of the pool under a fixed seed (RANKING_SEED), not a measured
traffic mix: no query log of the reference system exists to rank by. Draw
counts follow Zipf(1) over that ranking, apportioned exactly, so every run
draws the same multiset; a run reaches only the ranks its draw count
covers (see README.md).

bi_adhoc          one BI client: Zipf-skewed draws, with replacement, from
                  the read-only queries.
medallion_ingest  the reference DAG, per bronze batch: ingest → silver →
                  gold → train (a curation query, first batches only) →
                  RunStore.log, then Zipf-skewed draws from the write-side
                  queries before the next batch.
"""
import json
import os
import random

import bronze

HERE = os.path.dirname(os.path.abspath(__file__))

RANKING_SEED = "popularity-v1"
ZIPF_S = 1.0
# Run sizes, chosen so that a run measures about --seconds on 4 cores
# (an op takes ~0.6-1 s there): bi_adhoc draws per second of --seconds;
# medallion_ingest runs one bronze batch of MED_ROWS listings per
# MED_SECONDS_PER_BATCH seconds and MED_WRITES_PER_BATCH write-side draws
# after each batch.
BI_DRAWS_PER_SECOND = 1.3
MED_SECONDS_PER_BATCH = 6
MED_ROWS = 2000
MED_WRITES_PER_BATCH = 3

WORKLOADS = ("bi_adhoc", "medallion_ingest")


def pools():
    with open(os.path.join(HERE, "pools.json"), encoding="utf-8") as f:
        return json.load(f)


def registered_queries(workload):
    """Every registered query the workload can run."""
    p = pools()[workload]
    return p["pool"] + p.get("train", [])


def ranking(workload):
    """The pool in popularity order: a permutation under RANKING_SEED."""
    ranked = list(pools()[workload]["pool"])
    random.Random(f"{workload}-{RANKING_SEED}").shuffle(ranked)
    return ranked


def zipf_draws(workload, n_draws, s=ZIPF_S):
    """n_draws queries, each rank drawn ∝ 1/rank^s with the counts
    apportioned by largest remainder, so every run draws the same
    multiset."""
    ranked = ranking(workload)
    w = [1.0 / (r + 1) ** s for r in range(len(ranked))]
    exact = [n_draws * x / sum(w) for x in w]
    counts = [int(e) for e in exact]
    for i in sorted(range(len(ranked)), key=lambda i: exact[i] - counts[i],
                    reverse=True)[:n_draws - sum(counts)]:
        counts[i] += 1
    return [q for q, c in zip(ranked, counts) for _ in range(c)]


def plan(workload, seed, seconds, run_dir):
    """(ops, warmup, truth) for one run. ops are tab-separated op lines
    for the harness; truth is the bronze generator's ground truth."""
    p = pools()[workload]
    rng = random.Random(f"{workload}-{seed}")
    truth = None
    if workload == "bi_adhoc":
        draws = zipf_draws(workload, round(BI_DRAWS_PER_SECOND * seconds))
        rng.shuffle(draws)
        ops = [f"query\t{q}" for q in draws]
    elif workload == "medallion_ingest":
        batches = max(1, round(seconds / MED_SECONDS_PER_BATCH))
        truth = bronze.generate(os.path.join(run_dir, "bronze"), seed, batches, MED_ROWS)
        # a fixed batch, the same for every seed, for the set-up's DAG warm-up
        truth["warmup_file"] = bronze.generate(
            os.path.join(run_dir, "warmup-bronze"), "warmup", 1, MED_ROWS // 4)["files"][0]
        # train queries keep their pool order: the first one builds the
        # derived index the later ones reuse, whatever the seed
        maintenance = zipf_draws(workload, MED_WRITES_PER_BATCH * batches)
        rng.shuffle(maintenance)
        ops = []
        for b, path in enumerate(truth["files"]):
            ops += [f"ingest\t{b}\t{path}", f"silver\t{b}\t{path}", f"gold\t{b}"]
            ops += [f"query\t{q}" for q in p["train"][b:b + 1]]
            ops += [f"runstore\t{b}"] + [f"query\t{q}" for q in maintenance[b::batches]]
    else:
        raise SystemExit(f"unknown workload {workload!r}; one of {WORKLOADS}")
    return ops, p["warmup"], truth
