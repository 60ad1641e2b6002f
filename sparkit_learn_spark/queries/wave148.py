"""Round-9 wave 148: ANN index MAINTENANCE — the two writes a
production index needs beyond build: incremental append (faiss
``add``: new batch, frozen quantizer) and shard-parallel build + merge
(train once on a global sample, encode shards independently, reduce
the code partitions). Completes the lifecycle wave146 opened:
build → persist → probe → APPEND → MERGE → probe.

  q_llm_ann_index_append  EXACTLY oracled: after building from history
                          (vec_id % 7 ≠ 0) and appending the batch
                          (vec_id % 7 = 0), the read-back codes must
                          cover the FULL corpus exactly once — same
                          integrity contract as
                          q_llm_ann_index_coverage, now across an
                          incremental write.
  q_llm_ann_index_merge   EXACTLY oracled: two shard indexes encoded
                          against ONE shared quantizer merge into an
                          index whose read-back codes cover the full
                          corpus exactly once, with per-shard shares
                          accounted; quantizer-mismatch merges refuse
                          (tests/test_ann_index.py).
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.ann_index import (
    append_to_index,
    build_if_stale,
    merge_indexes,
    train_quantizer,
    write_index,
)
from ..operators.store_meta import read_meta
from ..registry import register

#: batch selector — matches the incremental-funnel convention.
BATCH_MOD = 7


def _paths(spark: SparkSession, sf_dir: str) -> str:
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    token = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(wh, "ann_index_inc", token)


def _fp(sf_dir: str) -> str:
    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    return f"{st.st_size}:{st.st_mtime_ns}"


@register(
    "q_llm_ann_index_append",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_codes,
           CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_distinct_ids,
           CAST(SUM(CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_appended
    FROM embeddings
    """,
)
def q_llm_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index ingest: build the IVF-PQ index from HISTORY
    vectors only, then append the incoming batch against the frozen
    quantizer (no retrain — batch-sized cost), then audit the
    read-back codes: full-corpus coverage exactly once, with the
    appended share accounted separately. Idempotent across calls via
    the fingerprint ladder (hist-fp → full-fp): a re-run on the same
    fixture reuses the already-appended index; a regenerated fixture
    rebuilds from scratch.

    Scale: this is how a 100 TB similarity service actually ingests —
    daily batches encode against the standing quantizer and land as
    new code partitions; rebuild only when ivf_list_balance's cv
    degrades. Probe semantics over the appended index are pinned in
    tests/test_ann_index.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    history = emb.filter(F.col("vec_id") % BATCH_MOD != 0)
    batch = emb.filter(F.col("vec_id") % BATCH_MOD == 0)
    path = _paths(spark, sf_dir)
    hist_fp = "hist:" + _fp(sf_dir)
    full_fp = "full:" + _fp(sf_dir)

    meta = read_meta(path)
    if meta is None or meta["source_fingerprint"] != full_fp:
        _meta, _rebuilt = build_if_stale(
            history, path, source_fingerprint=hist_fp, seed=42)
        append_to_index(batch, path,
                        expected_fingerprint=hist_fp,
                        new_fingerprint=full_fp)

    codes = spark.read.parquet(f"{path}/codes")
    batch_ids = batch.select(F.col("vec_id").alias("id"))
    return codes.join(batch_ids.withColumn("_b", F.lit(1)), "id", "left").agg(
        F.count("*").cast("long").alias("n_codes"),
        F.countDistinct("id").cast("long").alias("n_distinct_ids"),
        F.sum(F.coalesce(F.col("_b"), F.lit(0))).cast("long")
        .alias("n_appended"),
    )


@register(
    "q_llm_ann_index_merge",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_codes,
           CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_distinct_ids,
           CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shard_even,
           CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shard_odd
    FROM embeddings
    """,
)
def q_llm_ann_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-parallel index build: train the quantizer ONCE on the
    full corpus sample, encode the even/odd vec_id shards as two
    INDEPENDENT indexes against it (at 100 TB these are disjoint jobs
    over disjoint corpus slices), merge the code partitions, and
    audit the merged index read back from disk: full-corpus coverage
    exactly once with both shard shares accounted. Idempotent per
    fixture via the fingerprint; a regenerated fixture rebuilds.

    Scale: training is one bounded-sample job; the shard encodes are
    embarrassingly parallel; the merge moves 8 B/vector code rows
    only. This is how the 200M-vector index actually gets built —
    never one sequential encode pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = _paths(spark, sf_dir) + "_merge"
    full_fp = "merged:" + _fp(sf_dir)

    meta = read_meta(base + "/out")
    if meta is None or meta["source_fingerprint"] != full_fp:
        q = train_quantizer(emb, seed=42)
        even = emb.filter(F.col("vec_id") % 2 == 0)
        odd = emb.filter(F.col("vec_id") % 2 == 1)
        write_index(even, base + "/shard0", quantizer=q,
                    source_fingerprint="shard0:" + _fp(sf_dir))
        write_index(odd, base + "/shard1", quantizer=q,
                    source_fingerprint="shard1:" + _fp(sf_dir))
        merge_indexes(spark, [base + "/shard0", base + "/shard1"],
                      base + "/out", source_fingerprint=full_fp)

    codes = spark.read.parquet(f"{base}/out/codes")
    return codes.agg(
        F.count("*").cast("long").alias("n_codes"),
        F.countDistinct("id").cast("long").alias("n_distinct_ids"),
        F.sum(((F.col("id") % 2) == 0).cast("long")).cast("long")
        .alias("n_shard_even"),
        F.sum(((F.col("id") % 2) == 1).cast("long")).cast("long")
        .alias("n_shard_odd"),
    )
