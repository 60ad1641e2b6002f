"""SparkSession factory with scale-oriented defaults.

AQE on (runtime coalesce / skew-join split / broadcast demotion),
Arrow on (every Python crossing is batched), UTC session timezone
(timestamp hash-parity with the DuckDB oracle), and
``nanosAsLong`` so the ns-precision events.parquet is readable
(Spark has no ns timestamp type; see catalog.load_table).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Session-creation defaults. Keyed so tests / bench can override.
DEFAULT_CONFS: dict[str, str] = {
    # --- runtime re-optimization: essential at 100 TB ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- shuffle sizing: 32 for local[32]; a real cluster would use
    #     ~2-3x total cores (AQE coalesces the excess). Parameterized
    #     so a cluster deploy sets it without a code change; the local
    #     default keeps the driver's bench comparable across rounds ---
    "spark.sql.shuffle.partitions":
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
    # --- determinism / oracle parity ---
    "spark.sql.session.timeZone": "UTC",
    # --- Arrow: the blocked-RDD boundary of the reference, done right ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- source capability: events.parquet is TIMESTAMP(NANOS) ---
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- scan efficiency ---
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    # --- heap: local mode puts driver AND all 32 executor threads in
    #     ONE JVM; the 1g Spark default OOMs multi-join shuffles at
    #     sf>=1 (found empirically by tools/scale_check.py). Only
    #     applies to sessions THIS factory creates; a cluster sizes
    #     executors separately. Override: SPARK_GRAFT_DRIVER_MEM. ---
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}

#: One BLAS thread per Python worker (r12, guide §4.3). Every task
#: slot runs its own Python worker, so N concurrent tasks x an
#: M-thread OpenBLAS = N*M threads on N cores — and OpenBLAS worker
#: threads SPIN-WAIT between calls, so the idle threads burn cores the
#: GEMMs need. Measured at sf1 (20k x 64 corpus, local[32]):
#: cosine_topk exec 84.8 s -> 3.0 s from this env alone. Tasks are
#: scheduled one per core, so 1 thread per worker is the right model
#: on a cluster too (executors with >1 task slot hit the identical
#: oversubscription); override with SPARK_GRAFT_BLAS_THREADS if a
#: deployment dedicates >1 core per task.
_BLAS_THREAD_VARS = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                     "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS")


def _pin_blas_threads() -> dict[str, str]:
    n = os.environ.get("SPARK_GRAFT_BLAS_THREADS", "1")
    pinned = {}
    for var in _BLAS_THREAD_VARS:
        # setdefault: an explicit operator-set value wins
        os.environ.setdefault(var, n)
        pinned[f"spark.executorEnv.{var}"] = os.environ[var]
    return pinned

#: Confs that are safe (and necessary) to (re)apply on an existing,
#: externally-created session — e.g. the driver's own SparkSession.
#: All of these are runtime-settable SQLConf entries.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_session(app_name: str = "sparkit-learn-spark",
                master: str | None = None,
                extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults applied."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.master(master).appName(app_name)
    confs = dict(DEFAULT_CONFS)
    # local mode: the worker daemon inherits the driver JVM's env, and
    # the JVM inherits THIS process's env — so the os.environ side of
    # _pin_blas_threads is what actually reaches local workers (it must
    # run before the first SparkContext launches the gateway). The
    # executorEnv confs carry the same pin to real cluster executors.
    confs.update(_pin_blas_threads())
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def release_query_state(spark: SparkSession) -> None:
    """Drop the state query functions leave cached in ``spark``.

    Some query functions persist() bounded intermediates or
    localCheckpoint() iterative state for the returned plan's
    consumers, with no matching unpersist: the returned frame still
    references it lazily. A session that runs query after query keeps
    all of it in one JVM, and each new plan's cache lookup scans every
    entry (r11: untouched sub-second queries ran 3-8x slower late in a
    142-query bench). Call this once a query's consumers have run.

    Clears the CacheManager, then unpersists every persistent RDD
    BLOCKING: the default async removal overlaps whatever runs next.
    Never call it while a frame that outlives the call is backed by a
    localCheckpoint, e.g. under a module-scoped test fixture holding a
    checkpointed frame: truncated lineage cannot be recomputed once
    its blocks are gone.
    """
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Defensively apply runtime confs to a session we didn't create."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # static conf on this build — leave as-is
            pass


def ensure_pkg_on_workers(spark: SparkSession) -> None:
    """Make this package importable inside executor Python workers.

    Closures that reference module-level functions (multimodal
    decoders, the Python DataSource class) pickle those BY REFERENCE,
    so workers must import `sparkit_learn_spark` — which fails if the
    driver process only sys.path-hacked the repo in (a harness may run
    from any cwd). Ships the package as a py-file zip once per session.
    """
    import shutil
    import tempfile

    pkg_root = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_root)
    zip_base = os.path.join(tempfile.gettempdir(), "sparkit_learn_spark_pkg")
    zip_path = zip_base + ".zip"
    newest_src = max(
        (os.path.getmtime(os.path.join(r, f))
         for r, _, fs in os.walk(pkg_root) for f in fs if f.endswith(".py")),
        default=0.0,
    )
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest_src:
        shutil.make_archive(zip_base, "zip", root_dir=parent,
                            base_dir="sparkit_learn_spark")
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already shipped in this session
