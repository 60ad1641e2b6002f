"""One benchmark session in a fresh process: set up, then run passes.

Run by ``run.py``, never by hand. The process times its own set-up
(package import, session start, registry load, one warm-up job),
then runs the workload's jobs in a closed loop (one client issuing
one job at a time), checks every output and writes one JSON record to
``--out``.

Every timed region is a span (name, parent, start, end): setup, then
pass -> job -> build / consume / release, and verify beside each job.
Spans stay in memory until the record is written at exit. In a traced
run each phase also sets a Spark job group ``pass|job|phase`` so the
event log can be keyed back to the spans.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()
EPOCH0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402


class Spans:
    """In-memory span recorder; times are seconds since process start."""

    def __init__(self):
        self.rows: list[dict] = []
        self._stack: list[int] = []
        self.group = None  # set to a callable(name) in traced runs

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        row = {"id": len(self.rows), "name": name, "start": time.perf_counter() - T0,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.rows.append(row)
        self._stack.append(row["id"])
        if group is not None and self.group is not None:
            self.group(group)
        try:
            yield row
        finally:
            row["end"] = time.perf_counter() - T0
            self._stack.pop()

    @staticmethod
    def dur(row: dict) -> float:
        return row["end"] - row["start"]


def release(spark) -> tuple[float, int]:
    """Drop the state a job cached, as the caller contract in
    ``sparkit_learn_spark/__init__.py`` asks: ``clearCache`` plus a
    blocking unpersist of every persistent RDD. Returns the MB cached
    and the number of RDDs released."""
    jsc = spark.sparkContext._jsc
    cached = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    persistent = list(jsc.getPersistentRDDs().values())
    spark.catalog.clearCache()
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    return cached / 2**20, len(persistent)


def run_job(ctx, spans: Spans, job, tag: str) -> dict:
    rec = {"name": job.name, "layer": job.layer, "ok": False}
    with spans.span("job", job=job.name, layer=job.layer, tag=tag) as js:
        try:
            with spans.span("build", group=f"{tag}|{job.name}|build") as s:
                built = job.build(ctx)
            rec["build"] = Spans.dur(s)
            with spans.span("consume", group=f"{tag}|{job.name}|consume") as s:
                out = job.consume(ctx, built)
            rec["consume"] = Spans.dur(s)
            with spans.span("release", group=f"{tag}|{job.name}|release") as s:
                rec["persisted_mb"], rec["rdds"] = release(ctx.spark)
                del built
            rec["release"] = Spans.dur(s)
        except Exception:
            traceback.print_exc()
            rec["error"] = "raised"
            release(ctx.spark)
            return rec
    rec["wall"] = Spans.dur(js)
    with spans.span("verify"):
        try:
            job.check(ctx, out)
            rec["ok"] = True
        except Exception as e:  # a wrong answer is counted, not fatal
            print(f"check failed: {job.name}: {e}", file=sys.stderr)
            rec["error"] = "check"
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    spans = Spans()
    confs = {"spark.ui.enabled": "false",
             "spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": f"{a.work}/warehouse",
             "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={a.work}/tmp"}
    if a.trace:
        os.makedirs(f"{a.work}/eventlog", exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": f"file://{a.work}/eventlog",
                      "spark.eventLog.compress": "false"})
    with spans.span("setup") as setup:
        with spans.span("import"):
            from sparkit_learn_spark import registry
            from sparkit_learn_spark.session import get_session
            import workloads
        with spans.span("session.start"):
            spark = get_session(app_name=f"perfbench-{a.workload}",
                                master=f"local[{len(os.sched_getaffinity(0))}]",
                                extra_confs=confs)
        if a.trace:
            sc = spark.sparkContext
            spans.group = lambda g: sc.setJobGroup(g, g)
        with spans.span("registry.load"):
            registry.all_queries()
        with spans.span("warmup", group="setup|warmup|consume"):
            spark.range(1000).selectExpr("sum(id)").collect()
    result = {"setup_s": Spans.dur(setup), "passes": [], "epoch0": EPOCH0}

    with open(f"{a.data}/oracles.pkl", "rb") as f:
        oracles = pickle.load(f)
    ctx = workloads.Ctx(spark=spark, data=a.data, oracles=oracles,
                        store_root=f"{a.work}/stores")
    plan = workloads.Plan(a.workload, ctx)
    # the cold pass, then as many warm passes as fill --seconds at the
    # workload's typical warm pass time: a count fixed by --seconds, as
    # passes still speed up, and a count that varied with the host's
    # speed would move the median
    for n in range(1, 2 + plan.warm_passes(a.seconds)):
        with spans.span("pass", n=n):
            recs = [run_job(ctx, spans, j, f"p{n}") for j in plan.pass_jobs(n)]
        result["passes"].append({"wall": sum(r.get("wall", 0.0) for r in recs),
                                 "jobs": recs})
    with spans.span("final"):
        result["final"] = [run_job(ctx, spans, j, "final") for j in plan.final_jobs()]
    if plan.stores:
        result["store"] = dict(plan.stores.io, **plan.stores.live(),
                               ingested_bytes=plan.stores.ingested,
                               recalls=ctx.recalls)
    result["spans"] = spans.rows
    spark.stop()
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
