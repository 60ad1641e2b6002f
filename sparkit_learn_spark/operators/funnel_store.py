"""Persisted-state corpus-prep funnel (r10, VERDICT r9 item #6).

wave147's incremental funnel recomputes the history digest /
fingerprint / held-out-prefix sets from the full documents table on
every run. A production ingest keeps them as STANDING tables — the
ann_index pattern: write once, anti-join many, append survivors —
so the marginal cost of admitting a batch is batch-sized and the
corpus text is never re-scanned.

Layout (parquet tables plus one meta file under one directory):

  {path}/digests/        (text_sha, run_id)  standing exact-dup keys
  {path}/fingerprints/   (fp, run_id)        standing near-dup keys
  {path}/test_prefixes/  (pfx)               decontamination set
  {path}/runs/           per-run stage stats ledger (run_id + the
                         wave147 5-stage funnel row)
  {path}/_meta.json      source_fingerprint, committed last by an
                         atomic replace (store_meta)

Key tables are SETS consumed only by anti-joins, so duplicate rows
are semantically harmless — which makes appends crash-tolerant
without a commit protocol. The one real hazard is a retry RE-reading
its own partial append as "history"; that is closed structurally:
keys carry the run_id that admitted them and run N anti-joins only
keys with run_id < N, so re-running run N is idempotent even over a
half-appended store. Hive-partitioning by run_id turns that filter
into partition pruning.

Single-writer contract per store (the driver pipeline), same as
ann_index; the run ledger makes duplicate admissions return the
recorded stats instead of recomputing against a mutated store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from .store_meta import require_meta, write_meta

#: defaults matching wave147's funnel contract.
MIN_TOKENS = 30

RUN_STATS_SCHEMA = ("run_id long, stage long, stage_name string, "
                    "n_docs long, n_tokens long, batch_share double")


def _keyed(docs: DataFrame) -> DataFrame:
    """(doc_id, text, n_toks, text_sha, fp): the funnel's key frame —
    wave147's projection, computed once per batch at doc grain."""
    from ..streaming.transforms import neardup_fingerprint

    return docs.select(
        "doc_id", "text",
        F.size(tokens("text")).cast("long").alias("n_toks"),
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("text_sha"),
        neardup_fingerprint(F.col("text")).alias("fp"),
    )


def _prefix8() -> F.Column:
    return F.array_join(F.slice(tokens("text"), 1, 8), " ")


def init_store(history: DataFrame, test_docs: DataFrame, path: str, *,
               source_fingerprint: str,
               lock_timeout: float = 600.0) -> None:
    """Bootstrap the standing tables from the history corpus (run_id 0)
    and the held-out set. One pass over each input; text never lands
    in the store — only 32-byte keys and 8-token prefixes.

    Serialized by the shared atomic-mkdir build lock (ADVICE r10:
    same two-bootstraps-one-warehouse overwrite hazard as the
    ann/neardup builds)."""
    from .store_lock import build_lock

    with build_lock(path, timeout=lock_timeout):
        _init_store_locked(history, test_docs, path,
                           source_fingerprint=source_fingerprint)


def _init_store_locked(history: DataFrame, test_docs: DataFrame,
                       path: str, *, source_fingerprint: str) -> None:
    spark = history.sparkSession
    hk = _keyed(history)
    (hk.select("text_sha").distinct().withColumn("run_id", F.lit(0))
        .write.mode("overwrite").partitionBy("run_id")
        .parquet(f"{path}/digests"))
    (hk.select("fp").distinct().withColumn("run_id", F.lit(0))
        .write.mode("overwrite").partitionBy("run_id")
        .parquet(f"{path}/fingerprints"))
    (test_docs.select(_prefix8().alias("pfx")).distinct()
        .write.mode("overwrite").parquet(f"{path}/test_prefixes"))
    spark.createDataFrame([], RUN_STATS_SCHEMA) \
        .write.mode("overwrite").parquet(f"{path}/runs")
    write_meta(path, {"source_fingerprint": source_fingerprint})


def load_store_meta(spark: SparkSession, path: str) -> dict:
    """The store's meta; FileNotFoundError if there is no store."""
    return require_meta(path)


def recorded_runs(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(RUN_STATS_SCHEMA) \
        .parquet(f"{path}/runs")


def admit_batch(batch: DataFrame, path: str, *, run_id: int,
                min_tokens: int = MIN_TOKENS,
                test_mod: int | None = None) -> DataFrame:
    """Run the wave147 funnel for one batch against the PERSISTED key
    tables, append the admitted docs' keys under this run_id, record
    the 5-stage stats in the run ledger, and return the stats frame
    (wave147's exact schema minus run_id).

    Idempotent: if ``run_id`` is already in the ledger the recorded
    stats are returned and the store is untouched; if a previous
    attempt crashed mid-append, the run_id<N key filter keeps the
    recomputation blind to its own partial append. History is further
    restricted to runs whose LEDGER COMMIT landed (plus the run-0
    bootstrap): a run that crashed after appending keys but before
    its ledger write contributes NO history (ADVICE r10 — without
    this, advancing past a crashed run N-1 without retrying it would
    silently reject its half-appended docs forever). Retrying the
    crashed run_id therefore remains correct but is no longer
    load-bearing.

    ``test_mod`` replicates wave147's doc_id-based held-out filter in
    stage 4 (None skips the id filter and uses prefixes only)."""
    spark = batch.sparkSession
    if run_id < 1:
        raise ValueError("admit_batch: run_id must be >= 1 (0 = history)")
    prior = recorded_runs(spark, path).filter(F.col("run_id") == run_id)
    if prior.limit(1).count() > 0:
        return prior.drop("run_id").orderBy("stage")

    b = _keyed(batch).localCheckpoint(eager=True)  # one corpus read
    # committed runs only: run 0 (bootstrap) + ledger-recorded run_ids
    # below this run. The ledger is tiny (5 rows/run) — broadcast semi.
    committed = (recorded_runs(spark, path)
                 .select("run_id").distinct()
                 .unionByName(spark.range(1).select(
                     F.lit(0).cast("long").alias("run_id"))))

    def _hist(leaf: str, col: str) -> DataFrame:
        return (spark.read.parquet(f"{path}/{leaf}")
                .filter(F.col("run_id") < run_id)
                .join(F.broadcast(committed), "run_id", "semi")
                .select(col))

    hist_sha = _hist("digests", "text_sha")
    hist_fp = _hist("fingerprints", "fp")

    # stage 1: intra-batch keep-min per digest + standing anti-join
    intra = b.groupBy("text_sha").agg(F.min("doc_id").alias("doc_id"))
    s1 = (b.join(intra.select("doc_id"), "doc_id")
          .join(hist_sha.distinct(), "text_sha", "left_anti"))
    # stage 2: near-dup gate against standing fingerprints
    fresh = s1.join(hist_fp.distinct(), "fp", "left_anti")
    s2 = (fresh.join(fresh.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
                     .select("doc_id"), "doc_id")
          .localCheckpoint(eager=True))
    # stage 3: quality gate
    s3 = s2.where(F.col("n_toks") >= min_tokens)
    # stage 4: decontamination against the persisted prefix set
    test_prefixes = spark.read.parquet(f"{path}/test_prefixes")
    s4 = s3
    if test_mod is not None:
        s4 = s4.where(F.col("doc_id") % test_mod != 0)
    s4 = (s4.withColumn("pfx", _prefix8())
          .join(F.broadcast(test_prefixes), "pfx", "left_anti")
          .drop("pfx")
          .localCheckpoint(eager=True))  # consumed by stats AND appends

    def stat(df: DataFrame, stage: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(stage).cast("long").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"))

    n0 = b.agg(F.count(F.lit(1)).alias("n0"))
    stats = (
        stat(b, 0, "raw_batch")
        .unionAll(stat(s1, 1, "exact_dedup"))
        .unionAll(stat(s2, 2, "neardup_gate"))
        .unionAll(stat(s3, 3, "quality_gate"))
        .unionAll(stat(s4, 4, "decontaminated"))
        .crossJoin(F.broadcast(n0))
        .select("stage", "stage_name", "n_docs", "n_tokens",
                F.round(F.col("n_docs").cast("double") / F.col("n0"), 6)
                .alias("batch_share"))
    )
    rows = stats.collect()  # 5 rows — pin values before mutating state

    # append survivors' keys (set semantics — duplicate-safe), then
    # commit the ledger row last so a crashed run recomputes cleanly
    (s4.select("text_sha").distinct().withColumn("run_id", F.lit(run_id))
        .write.mode("append").partitionBy("run_id")
        .parquet(f"{path}/digests"))
    (s4.select("fp").distinct().withColumn("run_id", F.lit(run_id))
        .write.mode("append").partitionBy("run_id")
        .parquet(f"{path}/fingerprints"))
    spark.createDataFrame(
        [(run_id, r["stage"], r["stage_name"], r["n_docs"],
          r["n_tokens"], r["batch_share"]) for r in rows],
        RUN_STATS_SCHEMA,
    ).write.mode("append").parquet(f"{path}/runs")
    s4.unpersist()
    s2.unpersist()  # ADVICE r10: was leaked — one checkpointed RDD
    b.unpersist()   # per admission in a long-lived driver
    return spark.createDataFrame(
        [(r["stage"], r["stage_name"], r["n_docs"], r["n_tokens"],
          r["batch_share"]) for r in rows],
        "stage long, stage_name string, n_docs long, n_tokens long, "
        "batch_share double",
    ).orderBy("stage")


def compact_funnel_store(spark: SparkSession, path: str, *,
                         upto_run: int | None = None,
                         lock_timeout: float = 600.0) -> dict:
    """Fold COMMITTED key partitions with run_id < ``upto_run``
    (default: every run past the newest ledger entry) into run_id=0 —
    the same small-file compaction as the band index (VERDICT r10
    item #4): a store that admits a batch per day accretes a tiny
    digest/fingerprint partition per run, and the anti-joins read
    ever more files.

    Only runs present in the RUN LEDGER (plus the run-0 bootstrap)
    are folded; keys from a crashed, never-committed append are
    DISCARDED — which both matches ``admit_batch``'s committed-runs
    history filter (those keys were already invisible) and heals the
    store's layout. Keys are sets, so the fold also dedups. Runs >=
    ``upto_run`` keep their partitions.

    Single-writer maintenance op (takes the build lock; run it
    quiesced). Each table rewrite is swap-committed — a crash leaves
    the old or the new layout, never a mix. Returns
    {table: distinct key count} for the audit log."""
    import os
    import shutil

    from .store_lock import build_lock

    with build_lock(path, timeout=lock_timeout):
        ledger_ids = {r["run_id"] for r in recorded_runs(spark, path)
                      .select("run_id").distinct().collect()}
        if upto_run is None:
            # fold line = past the newest KEY partition (not the
            # ledger): the op runs quiesced, so any key run_id beyond
            # the ledger is a crashed orphan that the fold discards
            upto_run = 1 + max(
                (spark.read.parquet(f"{path}/{leaf}")
                 .agg(F.max("run_id")).first()[0] or 0)
                for leaf in ("digests", "fingerprints"))
        committed = sorted({0, *ledger_ids})
        counts: dict[str, int] = {}
        for leaf, col in (("digests", "text_sha"),
                          ("fingerprints", "fp")):
            t = spark.read.parquet(f"{path}/{leaf}")
            fold = (t.filter(F.col("run_id") < upto_run)
                    .filter(F.col("run_id").isin(committed))
                    .select(col).distinct()
                    .withColumn("run_id", F.lit(0)))
            keep = (t.filter(F.col("run_id") >= upto_run)
                    .select(col, "run_id"))
            tmp = f"{path}/{leaf}.compact.tmp"
            (fold.unionByName(keep).repartition("run_id")
                .write.mode("overwrite").partitionBy("run_id")
                .parquet(tmp))
            old = f"{path}/{leaf}.compact.old"
            os.rename(f"{path}/{leaf}", old)
            os.rename(tmp, f"{path}/{leaf}")
            shutil.rmtree(old)
            counts[leaf] = (spark.read.parquet(f"{path}/{leaf}")
                            .select(col).distinct().count())
        return counts
