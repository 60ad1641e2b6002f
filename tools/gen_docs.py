"""Regenerate OPERATORS.md and PLANS.md from the live registry.

Run at every round close (``python tools/gen_docs.py``) so the
inventory counts and plan snapshots can never go stale relative to
the code — the round-2 verdict caught exactly that drift (a comment
citing a PLANS.md shape that was never regenerated).

- OPERATORS.md: one row per registered query — module, oracle kind,
  docstring summary; header states len(queries()) / len(oracle_sql()).
- PLANS.md: `.explain("formatted")` snapshot of every bench HEADLINE
  query at sf0.01 plus an exchange/broadcast/shuffle summary table.
"""

from __future__ import annotations

import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

PLAN_SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.01")


def plan_counts(plan: str) -> tuple[int, int, int]:
    """(exchanges, broadcast, shuffle) from a formatted plan's tree
    section (each physical op appears as `OpName (n)` exactly once)."""
    tree = plan.split("\n\n", 1)[0]
    ex = len(re.findall(r"\bExchange \(\d+\)", tree)) + len(
        re.findall(r"\bBroadcastExchange \(\d+\)", tree)
    )
    bc = len(re.findall(r"\bBroadcastExchange \(\d+\)", tree))
    return ex, bc, ex - bc


def gen_operators(md_path: str) -> tuple[int, int]:
    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    from sparkit_learn_spark.registry import all_queries

    rows = []
    for name in sorted(qs):
        fn = all_queries()[name]
        mod = fn.__module__.rsplit(".", 1)[-1]
        doc = (fn.__doc__ or "").strip().splitlines()
        summary = doc[0].rstrip(".") if doc else ""
        kind = "SQL" if name in oracles else "rows+pytest"
        rows.append(f"| {name} | {mod} | {kind} | {summary[:64]} |")
    n_q, n_o = len(qs), len(oracles)
    with open(md_path, "w") as f:
        f.write(
            "# OPERATORS — implemented inventory (auto-generated: "
            "`python tools/gen_docs.py`)\n\n"
            f"{n_q} operators registered in `__spark_entry__.queries()`; "
            f"{n_o} with exact DuckDB oracles (`oracle_sql()`), "
            f"{n_q - n_o} rows-only (engine-specific internals) with "
            "pytest value checks.\n\n"
            "| query id | module | oracle | summary |\n|---|---|---|---|\n"
        )
        f.write("\n".join(rows) + "\n")
    return n_q, n_o


def gen_plans(md_path: str) -> None:
    from bench import HEADLINE, warm_session
    from sparkit_learn_spark.plans.inspect import explain_str
    from sparkit_learn_spark.registry import all_queries

    spark = warm_session("gen-plans")
    qs = all_queries()
    plans: dict[str, str] = {}
    for name in HEADLINE:
        if name in qs:
            plans[name] = explain_str(qs[name](spark, PLAN_SF_DIR))
    with open(md_path, "w") as f:
        f.write(
            "# PLANS — physical plans of the headline queries "
            "(sf0.01, AQE on)\n\n"
            "Auto-generated snapshot (`python tools/gen_docs.py`, "
            "`.explain('formatted')`) so plan quality is reviewable "
            "without running anything. Counts are PRE-EXECUTION: AQE "
            "typically converts several shuffle exchanges to broadcast "
            "or removes them at runtime.\n\n"
            "| query | exchanges | broadcast | shuffle |\n|---|---|---|---|\n"
        )
        for name, plan in plans.items():
            ex, bc, sh = plan_counts(plan)
            f.write(f"| {name} | {ex} | {bc} | {sh} |\n")
        for name, plan in plans.items():
            f.write(f"\n## {name}\n\n```\n{plan.rstrip()}\n```\n")
    spark.stop()


if __name__ == "__main__":
    n_q, n_o = gen_operators(os.path.join(REPO, "OPERATORS.md"))
    gen_plans(os.path.join(REPO, "PLANS.md"))
    print(f"OPERATORS.md: {n_q} queries / {n_o} oracled; PLANS.md regenerated")
