"""Per-query profiler for optimization rounds: times one or more
queries with bench.py's noop-sink loop, labels their jobs, and dumps
`.explain("formatted")` to plans/<round>/<query>_<tag>.txt.

Usage:
    python tools/profile_query.py [--tag before --round r11 --runs 2] q_a q_b ...

Prints one JSON line per query: {"query", "build_s", "exec_s" (best),
"runs": [..]}. Plans are written only when --tag is given.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import time_query, warm_session  # noqa: E402
from sparkit_learn_spark.plans.inspect import explain_str  # noqa: E402
from sparkit_learn_spark.registry import all_queries  # noqa: E402
from sparkit_learn_spark.session import release_query_state  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tag", default=None, help="plan file suffix (before/after)")
    ap.add_argument("--round", default="r11")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = warm_session("sparkit-profile", sf_dir)
    sc = spark.sparkContext
    queries = all_queries()
    plan_dir = os.path.join(REPO, "plans", args.round)
    for name in args.queries:
        sc.setJobDescription(f"profile:{name}")
        runs = time_query(spark, queries[name], sf_dir, args.runs)
        if args.tag:
            os.makedirs(plan_dir, exist_ok=True)
            with open(os.path.join(plan_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(explain_str(queries[name](spark, sf_dir)))
        sc.setJobDescription(None)
        print(json.dumps({"query": name,
                          "build_s": round(min(b for b, _ in runs), 3),
                          "exec_s": round(min(e for _, e in runs), 3),
                          "runs": [round(e, 3) for _, e in runs]}), flush=True)
        release_query_state(spark)
    spark.stop()


if __name__ == "__main__":
    main()
