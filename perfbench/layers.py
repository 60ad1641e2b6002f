"""Per-layer metrics of a traced run.

Inputs: the traced child's record (spans and job records) and its
Spark event log. Every Spark job carries the job group ``tag|job|
phase`` its span set (``child.py``), so the log's jobs, stages, tasks
and SQL executions can be charged to one phase of one job of one
pass. Values are totals over the cold pass and the first warm pass
(every run makes at least these two), plus the maintenance jobs after
the last pass.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

MB = 2**20

#: name -> unit, in the order BENCHMARK.json lists them. Each group
#: names the end-to-end metric it should move, and on which workload.
METRICS = {
    # session, registry: setup_s, both workloads
    "session.start_s": "s", "registry.load_s": "s",
    # catalog (parquet scan): pass_warm_s, analytics
    "catalog.scan_mb": "MB", "catalog.scan_s": "s", "catalog.files": "count",
    # queries (plan construction, eager jobs in it): pass_cold_s and
    # pass_warm_s, corpus_prep
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_tasks": "count",
    # Spark execution of the consumers: pass_warm_s, analytics
    "exec.s": "s", "exec.driver_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
    "exec.gc_s": "s", "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    # Python boundary (pandas UDFs, mapInPandas, applyInPandas): pass_cold_s
    # and pass_warm_s, corpus_prep
    "python.boot_s": "s", "python.init_s": "s", "python.run_s": "s",
    "python.to_worker_mb": "MB", "python.from_worker_mb": "MB",
    # cached state released between jobs: pass_cold_s and the peak RSS
    # below, corpus_prep
    "cache.persisted_mb": "MB", "cache.rdds_released": "count", "cache.release_s": "s",
    # ml.estimators and compat.blocked: pass_warm_s, corpus_prep
    "ml.fit_s": "s", "ml.predict_s": "s", "compat.ops_s": "s",
    # operators.ann_index, .neardup_index and .funnel_store, and their
    # files on disk: pass_cold_s, corpus_prep
    "ann_index.write_index_s": "s", "ann_index.append_s": "s", "ann_index.probe_s": "s",
    "ann_index.jobs_per_append": "count",
    "neardup_index.build_s": "s", "neardup_index.append_s": "s",
    "neardup_index.candidate_pairs_s": "s", "neardup_index.compact_s": "s",
    "neardup_index.expire_s": "s",
    "funnel_store.init_s": "s", "funnel_store.admit_batch_s": "s", "funnel_store.compact_s": "s",
    "store.index_build_s": "s", "store.ingest_s": "s", "store.probe_s": "s",
    "store.compact_s": "s", "store.bytes_written": "bytes", "store.files_written": "count",
    "store.files_live": "count", "store.bytes_live": "bytes", "store.write_amp": "ratio",
    "store.space_amp": "ratio",
    # peak resident memory of the whole driver session, of its JVM and
    # of its Python workers: both workloads. With the session factory's
    # 8g driver heap the JVM's part is where G1 chose to grow the heap,
    # 3.3-6.8 GB over five corpus_prep seeds, too loose for a bound.
    "mem.peak_rss_mb": "MB", "mem.jvm_peak_rss_mb": "MB", "mem.python_peak_rss_mb": "MB",
    # the traced run's own warm pass, to set against pass_warm_s
    "trace.pass_warm_s": "s",
}

PY_ACCUMS = {"time to start Python workers": "python.boot_s",
             "time to initialize Python workers": "python.init_s",
             "time to run Python workers": "python.run_s",
             "data sent to Python workers": "python.to_worker_mb",
             "data returned from Python workers": "python.from_worker_mb"}


def read_events(logdir: str):
    for d, _, files in os.walk(logdir):
        for f in sorted(files):
            if f.startswith(("events_", "local-", "app-")):
                with open(os.path.join(d, f)) as fh:
                    for line in fh:
                        yield json.loads(line)


def _plan_accums(plan: dict, names: dict) -> None:
    for m in plan.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for c in plan.get("children", []):
        _plan_accums(c, names)


def parse(logdir: str) -> dict:
    """{group: counters} summed over every job in that job group, plus
    each group's job intervals (epoch seconds) under ``"_intervals"``."""
    by_group: dict = defaultdict(lambda: defaultdict(float))
    stage_group, exec_group, job_group, job_start = {}, {}, {}, {}
    accum_names: dict = {}
    # a scan posts its driver-side file counts while it is planned,
    # before the first job of its SQL execution names the job group
    driver_accums: list = []
    for e in read_events(logdir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g is None:
                continue
            job_group[e["Job ID"]] = g
            job_start[e["Job ID"]] = e["Submission Time"] / 1000
            c = by_group[g]
            c["jobs"] += 1
            c["stages"] += len(e["Stage IDs"])
            for s in e["Stage IDs"]:
                stage_group[s] = g
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), g)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_group:
            g = job_group[e["Job ID"]]
            by_group[g].setdefault("_intervals", [])
            by_group[g]["_intervals"].append((job_start[e["Job ID"]], e["Completion Time"] / 1000))
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_group:
            c = by_group[stage_group[e["Stage ID"]]]
            m = e.get("Task Metrics") or {}
            c["tasks"] += 1
            c["run_s"] += m.get("Executor Run Time", 0) / 1000
            c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000
            c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            c["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / MB
            rd = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                     + rd.get("Local Bytes Read", 0)) / MB
            acc = {a.get("Name"): float(a.get("Update", 0))
                   for a in e["Task Info"].get("Accumulables", [])}
            # a task on a reused worker reports no start time, and its
            # "initialize" time counts from when that worker booted
            if "time to start Python workers" not in acc:
                acc.pop("time to initialize Python workers", None)
            for name, metric in PY_ACCUMS.items():
                if name in acc:
                    c[metric] += acc[name] / (MB if name.startswith("data") else 1000)
            c["scan_s"] += acc.get("scan time", 0.0) / 1000
        elif "sparkPlanInfo" in e:
            _plan_accums(e["sparkPlanInfo"], accum_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_accums.append(e)
    for e in driver_accums:
        g = exec_group.get(e["executionId"])
        if g is None:
            continue
        for acc_id, value in e["accumUpdates"]:
            name = accum_names.get(acc_id)
            if name == "number of files read":
                by_group[g]["files"] += value
            elif name == "size of files read":
                by_group[g]["scan_mb"] += value / MB
    return by_group


def _covered(intervals: list, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in spans:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def self_times(spans: list[dict]) -> dict:
    """Seconds per span name of each span's duration minus the part of
    it its child spans cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out: dict = defaultdict(float)
    for s in spans:
        out[s["name"]] += (s["end"] - s["start"]) - _covered(kids[s["id"]], s["start"], s["end"])
    return dict(out)


def layer_metrics(traced: dict, logdir: str, rss: dict) -> dict:
    groups = parse(logdir)
    spans = traced["spans"]
    epoch0 = traced["epoch0"]
    tags = {"p1", "p2", "final"}
    out = {k: 0.0 for k in METRICS}

    def span_s(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    out["session.start_s"] = span_s("session.start")
    out["registry.load_s"] = span_s("registry.load")

    per = defaultdict(float)
    for g, c in groups.items():
        tag, _, phase = g.split("|")
        if tag not in tags:
            continue
        key = "build" if phase == "build" else "run"
        for k, v in c.items():
            if k != "_intervals":
                per[f"{key}.{k}"] += v

    def both(k: str) -> float:
        return per.get(f"build.{k}", 0.0) + per.get(f"run.{k}", 0.0)

    out["catalog.scan_mb"] = both("scan_mb")
    out["catalog.scan_s"] = both("scan_s")
    out["catalog.files"] = both("files")
    out["queries.build_jobs"] = per.get("build.jobs", 0.0)
    out["queries.build_tasks"] = per.get("build.tasks", 0.0)
    for k in ("jobs", "stages", "tasks"):
        out[f"exec.{k}"] = per.get(f"run.{k}", 0.0)
    for src, dst in (("run_s", "executor_run_s"), ("cpu_s", "executor_cpu_s"),
                     ("gc_s", "gc_s"), ("shuffle_write_mb", "shuffle_write_mb"),
                     ("shuffle_read_mb", "shuffle_read_mb"), ("spill_mb", "spill_mb")):
        out[f"exec.{dst}"] = per.get(f"run.{src}", 0.0)
    for metric in PY_ACCUMS.values():
        out[metric] = both(metric)

    # consume time not covered by any Spark job is driver-side work
    # (planning, collecting, pandas conversion)
    by_id = {s["id"]: s for s in spans}
    driver = 0.0
    for s in spans:
        if s["name"] != "consume":
            continue
        job = by_id[s["parent"]]
        if job["tag"] not in tags:
            continue
        g = groups.get(f"{job['tag']}|{job['job']}|consume", {})
        lo, hi = epoch0 + s["start"], epoch0 + s["end"]
        driver += (hi - lo) - _covered(g.get("_intervals", []), lo, hi)
    out["exec.driver_s"] = driver

    jobs = [j for p in traced["passes"][:2] + [{"jobs": traced["final"]}]
            for j in p["jobs"] if "wall" in j]
    for j in jobs:
        out["queries.build_s"] += j["build"]
        out["exec.s"] += j["consume"]
        out["cache.persisted_mb"] += j["persisted_mb"]
        out["cache.rdds_released"] += j["rdds"]
        out["cache.release_s"] += j["release"]
        if j["layer"] == "ml":
            out["ml.fit_s"] += j["build"]
            out["ml.predict_s"] += j["consume"]
        elif j["layer"] == "compat":
            out["compat.ops_s"] += j["build"] + j["consume"]

    store = traced.get("store")
    if store:
        # each store operation runs once per run: in the cold pass or
        # after the last pass
        for j in jobs:
            if j["layer"] in ("ann_index", "neardup_index", "funnel_store"):
                out[f"{j['name']}_s"] = j["consume"]
        out["ann_index.jobs_per_append"] = groups.get(
            "p1|ann_index.append|consume", {}).get("jobs", 0.0)
        out["store.index_build_s"] = (out["ann_index.write_index_s"] + out["neardup_index.build_s"]
                                      + out["funnel_store.init_s"])
        out["store.ingest_s"] = (out["ann_index.append_s"] + out["neardup_index.append_s"]
                                 + out["funnel_store.admit_batch_s"])
        out["store.probe_s"] = out["ann_index.probe_s"] + out["neardup_index.candidate_pairs_s"]
        out["store.compact_s"] = (out["neardup_index.compact_s"] + out["neardup_index.expire_s"]
                                  + out["funnel_store.compact_s"])
        for k in ("bytes_written", "files_written", "files_live", "bytes_live"):
            out[f"store.{k}"] = store[k]
        out["store.write_amp"] = store["bytes_written"] / store["ingested_bytes"]
        out["store.space_amp"] = store["bytes_live"] / store["live_key_bytes"]

    out["mem.peak_rss_mb"] = rss["total"]
    out["mem.jvm_peak_rss_mb"] = rss["jvm"]
    out["mem.python_peak_rss_mb"] = rss["python"]
    out["trace.pass_warm_s"] = statistics.median(p["wall"] for p in traced["passes"][1:])
    return {k: (v, METRICS[k]) for k, v in out.items()}
