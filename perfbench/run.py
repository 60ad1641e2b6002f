"""Benchmark of the sparkit_learn_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source tree. Inputs are generated from the seed
(and cached under ``.perfbench/data``) before any timing starts. The
run then starts one fresh driver process, with its own JVM on
``local[<cpus>]``, which sets up (timed: package import, session,
registry, one warm-up job) and runs the workload's jobs in a closed
loop, one client issuing one job at a time: a cold pass, then as many
warm passes as fill ``--seconds`` at the workload's typical pass time,
at least one. Set-up is timed once per run, in that process: a second
fresh process only to time set-up again would add ~11 s to every
40-90 s run.

``--trace 1`` turns Spark's event log on in that process and reports
per-layer metrics instead of end-to-end ones; its
``trace.pass_warm_s`` minus ``pass_warm_s`` of an untraced run of the
same seed is the tracing overhead. The traced run also keeps its
spans, with each span name's self time, in ``.perfbench/traces``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json untraced, the per-layer metrics traced. The line
before it holds the detail: host record, sample counts, every pass.
Everything the run writes stays under ``.perfbench`` in the tree.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("analytics", "corpus_prep")
CHILD_TIMEOUT_S = 150
CPUS = len(os.sched_getaffinity(0))


def session_rss_mb(sid: int) -> dict:
    """Resident MB of the processes in session ``sid``: all of them
    (the child, its JVM and the JVM's Python workers), the JVM alone,
    and the Python workers alone."""
    page = os.sysconf("SC_PAGE_SIZE")
    mb = {"total": 0.0, "jvm": 0.0, "python": 0.0}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            if int(stat.rsplit(")", 1)[1].split()[3]) != sid:
                continue
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page / 2**20
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
        mb["total"] += rss
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        if comm == "java":
            mb["jvm"] += rss
        elif int(pid) != sid:
            mb["python"] += rss
    return mb


def session_alive(sid: int) -> bool:
    return session_rss_mb(sid)["total"] > 0 or os.path.exists(f"/proc/{sid}")


def run_child(args: list[str], env: dict, out: str) -> tuple[dict, float]:
    """Run one child to completion in its own session; return its
    record and the peak RSS of the session, its JVM and its Python
    workers. Whatever the child leaves running is killed, and waited
    for, before returning."""
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "child.py"), *args,
                             "--out", out],
                            env=env, cwd=ROOT, stdout=sys.stderr,
                            start_new_session=True)
    peak = {"total": 0.0, "jvm": 0.0, "python": 0.0}
    done = threading.Event()

    def sample():
        while not done.wait(0.1):
            for k, v in session_rss_mb(proc.pid).items():
                peak[k] = max(peak[k], v)

    t = threading.Thread(target=sample, daemon=True)
    t.start()
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        done.set()
        t.join()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        deadline = time.time() + 30
        while session_alive(proc.pid) and time.time() < deadline:
            time.sleep(0.1)
    if code != 0:
        raise RuntimeError(f"child {args[:2]} exited with {code}")
    with open(out) as f:
        return json.load(f), peak


def host_record() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": CPUS, "mem_gb": round(mem_kb / 2**20, 1),
            "loadavg": os.getloadavg(), "python": platform.python_version()}


def versions() -> dict:
    import duckdb
    import pyspark

    sha = ""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10).stdout.strip()
    return {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "git_sha": sha or None}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "sparkit_learn_spark", "__init__.py")):
        print("perfbench: no sparkit_learn_spark package beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen
    import workloads

    data = gen.prepare(os.path.join(WORK, "data"), a.workload, a.seed,
                       workloads.oracled_queries(a.workload))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    # the session factory's defaults, not a caller's overrides of them
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(PYTHONPATH=os.pathsep.join([ROOT, HERE]),
               PYSPARK_PYTHON=sys.executable,
               # every JVM (the launcher's too) would write /tmp/hsperfdata_*
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
               TMPDIR=os.path.join(run_dir, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    os.makedirs(env["TMPDIR"])
    host = host_record()
    common = ["--workload", a.workload, "--data", data, "--work", run_dir]
    try:
        rec, rss = run_child(common + ["--seconds", str(a.seconds), "--trace", str(a.trace)],
                             env, os.path.join(run_dir, "child.json"))
        if a.trace:
            import layers
            per_layer = layers.layer_metrics(rec, os.path.join(run_dir, "eventlog"), rss)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            with open(os.path.join(WORK, "traces", f"{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"spans": rec["spans"], "self_s": layers.self_times(rec["spans"])}, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    jobs = [j for p in rec["passes"] + [{"jobs": rec["final"]}] for j in p["jobs"]]
    failed = sum(1 for j in jobs if not j["ok"])
    warm = [p["wall"] for p in rec["passes"][1:]]
    e2e = {
        "setup_s": (rec["setup_s"], "s"),
        "pass_cold_s": (rec["passes"][0]["wall"], "s"),
        "pass_warm_s": (statistics.median(warm), "s"),
    }
    metrics = per_layer if a.trace else e2e
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "host": dict(host, loadavg_after=os.getloadavg(), **versions()),
        "inputs": {k: v for k, v in json.load(open(os.path.join(data, "done.json"))).items()
                   if k != "store"},
        "samples": {"warm_passes": len(warm), "jobs": len(jobs)},
        "e2e": {k: v for k, (v, _) in e2e.items()},
        "peak_rss_mb": rss,
        "store": rec.get("store"),
        "passes": [[(j["name"], round(j.get("build", 0), 3), round(j.get("consume", 0), 3),
                     j["ok"]) for j in p["jobs"]] for p in rec["passes"]],
        "final": [(j["name"], round(j.get("consume", 0), 3), j["ok"]) for j in rec["final"]],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(jobs), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
