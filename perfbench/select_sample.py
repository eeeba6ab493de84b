#!/usr/bin/env python3
"""Choose each workload's query sample from measured family profiles.

    python3 perfbench/run.py --profile neuro      # and curation, ingest
    python3 perfbench/select_sample.py

A profile (.bench_build/records/profile-<family>.json) is a traced run of
every query of one family. For each query it holds the median of its
traced warm executions per layer. This script picks, per family, the
sample of `size` queries whose summed per-layer shares come closest to
the whole family's, under a warm-pass time budget. The sample must also
hold the queries that reach the layers the benchmark reports on that
family (kernels, skip-if-exists stores, streams, sinks). It prints the
family's and the sample's shares side by side, and the sample.
"""
import json
import math
import os
import random
import sys

RECORDS = os.path.join(os.getcwd(), ".bench_build", "records")

# family -> (sample size, warm-pass budget in s, groups the sample must
# meet, each a test on a query's name and profile)
PLAN = {
    "neuro": (5, 1.8, [
        ("kernel", lambda n, q: q["layers"]["kernels.task_s"] > 0)]),
    "curation": (2, 1.3, [
        ("sig/ANN store", lambda n, q: n.startswith("dedup_sig_store") or
         n == "sim_index_persist_search")]),
    "ingest": (3, 1.2, [
        ("stream", lambda n, q: n.startswith("stream_")),
        ("sink", lambda n, q: n in ("s4_sink_memo_roundtrip", "s5_file_sinks_roundtrip"))]),
}

# feature -> floor added to both sides before the log ratio, so that
# near-zero shares do not dominate the distance
FLOOR = {"build": 0.02, "catalyst": 0.02, "driver_gap": 0.02, "slot_util": 0.02,
         "shuffle_mb_per_s": 0.5, "jobs_per_s": 0.5, "cold_over_warm": 0.5}


def features(qs, cores):
    def tot(k):
        return sum(q["layers"][k] for q in qs)
    wall = tot("query_s")
    return {
        "warm_s": wall,
        "build": tot("queries.build_s") / wall,
        "catalyst": (tot("catalyst.analysis_s") + tot("catalyst.optimize_s") +
                     tot("catalyst.plan_s")) / wall,
        "driver_gap": tot("scheduler.driver_gap_s") / wall,
        "slot_util": tot("executor.task_s") / (wall * cores),
        "shuffle_mb_per_s": tot("shuffle.write_bytes") / 1e6 / wall,
        "jobs_per_s": tot("scheduler.jobs") / wall,
        "cold_over_warm": sum(q["cold_s"] for q in qs) / wall,
    }


def distance(a, b):
    return sum(abs(math.log((a[k] + f) / (b[k] + f))) for k, f in FLOOR.items())


def select(names, queries, cores, size, budget, groups, rng):
    target = features([queries[n] for n in names], cores)

    def ok(s):
        return all(any(g(n, queries[n]) for n in s) for _, g in groups) and \
            sum(queries[n]["layers"]["query_s"] for n in s) <= budget

    def cost(s):
        return distance(features([queries[n] for n in s], cores), target) if ok(s) else math.inf

    best, best_cost = None, math.inf
    for _ in range(300):
        s = rng.sample(names, size)
        c = cost(s)
        improved = True
        while improved:
            improved = False
            for i in range(size):
                for n in names:
                    if n in s:
                        continue
                    t = s[:i] + [n] + s[i + 1:]
                    ct = cost(t)
                    if ct < c:
                        s, c, improved = t, ct, True
        if c < best_cost:
            best, best_cost = sorted(s), c
    return target, best, best_cost


def main():
    rng = random.Random(0)
    for family, (size, budget, groups) in PLAN.items():
        path = os.path.join(RECORDS, f"profile-{family}.json")
        if not os.path.isfile(path):
            sys.exit(f"select_sample: no {path}; run perfbench/run.py --profile {family}")
        with open(path) as fh:
            rec = json.load(fh)
        cores = rec["provenance"]["nproc"]
        queries = {n: q for n, q in rec["queries"].items() if q.get("layers")}
        names = sorted(queries)
        target, best, c = select(names, queries, cores, size, budget, groups, rng)
        if best is None:
            sys.exit(f"select_sample: no {family} sample meets the constraints")
        got = features([queries[n] for n in best], cores)
        print(f"{family}: {len(names)} queries; sample distance {c:.3f}")
        print(f"  {'feature':18s} {'family':>10s} {'sample':>10s}")
        for k in target:
            print(f"  {k:18s} {target[k]:10.3f} {got[k]:10.3f}")
        print("  sample: " + ", ".join(best))


if __name__ == "__main__":
    main()
