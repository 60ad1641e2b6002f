"""Empirical scale validation: run EVERY registered query at two
scale factors and compare measured scaling against linear.

For each query: ratio = t_big / (factor x t_small). On a fixed-core
machine a perfectly linearly-scaling operator has ratio <= 1 once the
small-SF time is overhead-dominated (most are), so ratio > 2 marks a
scale cliff — a broadcast that stopped fitting, a candidate set
growing quadratically, a skewed shuffle. Known superlinear operators
(exact O(n^2) brute force) are expected and annotated, not cliffs.

Writes one JSON file with per-query walls + ratios and prints a
markdown table sorted by ratio (worst first), ready for BASELINE.md.

Usage:
  python tools/scale_check.py [--small DIR] [--big DIR] [--factor N]
                              [--runs N] [--out FILE] [--only prefix]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query, warm_session
from sparkit_learn_spark.registry import all_queries
from sparkit_learn_spark.session import release_query_state

#: queries whose work is inherently superlinear in corpus size (exact
#: all-pairs); their sf1 ratio is expected > 1 by design and the scale
#: path for real deployments is the ANN/sharded twin beside them.
EXPECTED_SUPERLINEAR = {
    "q_llm_cosine_topk": "exact O(n^2) brute force (ANN twin: q_llm_ann_ivf)",
    "q_llm_cosine_topk_sharded": "exact O(n^2), distributed exact path",
    "q_llm_embed_cosine_dedup": "exact verify over LSH candidates",
    # output/work scales with TRUE near-dup pair density, which the
    # replicated sf1 fixture multiplies ~25x beyond the 10x row growth
    # (measured: 1460 -> 371k candidate pairs; per-pair cost FELL 5x).
    # Real boilerplate-heavy corpora behave the same way.
    "q_llm_edit_distance": "work ~ candidate pairs ~ near-dup density^2, fixture-amplified",
    # r7: q_llm_ann_lsh output now bounded to top-10 per probe (<=10n
    # rows); the LSH bucket-join WORK still tracks in-radius candidate
    # density, which the dup-amplified sf1 fixture grows faster than
    # rows — kept annotated until a sweep shows it back under 1.5x.
    "q_llm_ann_lsh": "bucket-join candidates ~ neighbor density, fixture-amplified; output k-capped r7",
}


def run(small: str, big: str, factor: int, runs: int, only: str | None) -> dict:
    spark = warm_session("scale-check", small, big)
    queries = all_queries()
    prefixes = only.split(",") if only else None
    names = sorted(n for n in queries
                   if prefixes is None or any(n.startswith(p) for p in prefixes))

    def best_wall(name: str, sf_dir: str) -> float:
        # build + exec: eager-materializing operators (localCheckpoint
        # pipelines) do real work during plan construction
        return round(min(b + e for b, e in
                         time_query(spark, queries[name], sf_dir, runs)), 3)

    out: dict[str, dict] = {}
    for i, name in enumerate(names, 1):
        row: dict = {}
        try:
            row["t_small"] = best_wall(name, small)
            row["t_big"] = best_wall(name, big)
            row["ratio"] = round(row["t_big"] / (factor * row["t_small"]), 2)
            if name in EXPECTED_SUPERLINEAR:
                row["expected_superlinear"] = EXPECTED_SUPERLINEAR[name]
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            row["error"] = f"{type(e).__name__}: {e}"[:300]
            # a task OOM can take the whole local JVM down with it —
            # every later query would fail on the dead gateway, so
            # restart and keep measuring
            try:
                spark.sparkContext.parallelize([1]).count()
            except Exception:
                print(f"[{i}/{len(names)}] JVM dead - restarting session",
                      file=sys.stderr, flush=True)
                try:
                    spark.stop()
                except Exception:
                    pass
                SparkSession = type(spark)
                SparkSession._instantiatedSession = None
                SparkSession._activeSession = None
                spark = warm_session("scale-check")
        # each query is measured on a clean cache, not on the state its
        # predecessors persisted or checkpointed
        release_query_state(spark)
        out[name] = row
        print(f"[{i}/{len(names)}] {name}: {row}", file=sys.stderr, flush=True)
    try:
        spark.stop()
    except Exception:
        pass
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default="/root/repo/.scale/sf1")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default="/root/repo/.scale/scale_check.json")
    ap.add_argument("--only", default=None)
    a = ap.parse_args()
    results = run(a.small, a.big, a.factor, a.runs, a.only)
    payload = {"small": a.small, "big": a.big, "factor": a.factor, "queries": results}
    with open(a.out, "w") as f:
        json.dump(payload, f, indent=1)

    ok = [n for n, r in results.items() if "ratio" in r]
    errs = {n: r["error"] for n, r in results.items() if "error" in r}
    print("| query | t_sf0.1 (s) | t_sf1 (s) | ratio vs linear | note |")
    print("|---|---|---|---|---|")
    for n in sorted(ok, key=lambda n: -results[n]["ratio"]):
        r = results[n]
        note = r.get("expected_superlinear", "")
        flag = " **CLIFF**" if r["ratio"] > 2 and not note else ""
        print(f"| {n} | {r['t_small']} | {r['t_big']} | {r['ratio']}{flag} | {note} |")
    for n, e in errs.items():
        print(f"| {n} | - | - | ERROR | {e} |")


if __name__ == "__main__":
    main()
