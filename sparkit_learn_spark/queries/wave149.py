"""Round-10 wave 149: the PERSISTED-STATE corpus-prep funnel
(VERDICT r9 item #6) — wave147's ingest funnel promoted to standing
key tables.

wave147 recomputes history digests/fingerprints from the full
documents table each run; this wave keeps them as persisted parquet
sets (operators/funnel_store) that are written once, anti-joined per
batch, and appended with each run's survivors — so at 100 TB the
history corpus is scanned once at bootstrap and never again; every
later admission touches only 32-byte keys plus the incoming batch.

The oracle is wave147's SQL VERBATIM: a fresh store admitting the
standard batch against the standard history must produce bit-equal
stage stats to the recompute-everything form. Run-ledger idempotence
(re-execution returns the recorded stats, store untouched) and the
run-N+1-admits-zero contract are pinned in tests/test_funnel_store.py.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.funnel_store import admit_batch, init_store
from ..operators.store_meta import read_meta
from ..registry import ORACLES, register, set_oracle
from .wave147 import BATCH_MOD, MIN_TOKENS, TEST_MOD


def _store_path(spark: SparkSession, sf_dir: str) -> str:
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    token = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(wh, "funnel_store", token)


def _fingerprint(sf_dir: str) -> str:
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    return f"{st.st_size}:{st.st_mtime_ns}"


@register("q_llm_funnel_persisted")
def q_llm_funnel_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wave147's 5-stage ingest funnel, driven off PERSISTED standing
    tables: bootstrap writes the history digest/fingerprint sets and
    the held-out prefix set once per corpus version (fingerprint-
    guarded, the wave146 convention); the admission itself anti-joins
    those tables, appends the admitted keys under its run_id, and
    records its stats in the run ledger. A re-execution (driver
    re-sample, second session on one warehouse) returns the RECORDED
    stats instead of re-admitting — which also makes the query a
    fixpoint: same corpus, same answer, no store mutation.

    Scale: admission cost is batch-sized (anti-joins on 32-byte keys,
    AQE broadcasts the batch side); the standing tables grow by the
    admitted keys only and prune by run_id partition."""
    path = _store_path(spark, sf_dir)
    fp = _fingerprint(sf_dir)
    meta = read_meta(path)
    d = load_table(spark, sf_dir, "documents")
    if meta is None or meta["source_fingerprint"] != fp:
        init_store(
            d.filter(F.col("doc_id") % BATCH_MOD != 0),
            d.filter(F.col("doc_id") % TEST_MOD == 0),
            path, source_fingerprint=fp)
    return admit_batch(
        d.filter(F.col("doc_id") % BATCH_MOD == 0), path, run_id=1,
        min_tokens=MIN_TOKENS, test_mod=TEST_MOD)


# a fresh store + first admission is definitionally the wave147
# recompute-everything funnel — the oracle is reused verbatim
set_oracle("q_llm_funnel_persisted",
           ORACLES["q_llm_pipeline_funnel_incremental"])
