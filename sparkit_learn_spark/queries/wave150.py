"""Round-10 wave 150: the PERSISTED MinHash-LSH near-dup index
(operators/neardup_index) — standing banded-bucket tables, the
near-dup twin of the ANN index lifecycle (wave146/148) and the third
leg of the persisted-state family.

  q_llm_neardup_index_coverage  EXACTLY oracled: the standing band
                                table read back from disk must hold
                                exactly n_bands rows per eligible
                                document, with bucket stats matching
                                a DuckDB recompute of the portable
                                signature pipeline bit-for-bit.
  q_llm_neardup_index_probe     EXACTLY oracled: batch-vs-history
                                candidates from the BAND JOIN against
                                the persisted index, verified to
                                exact shingle-Jaccard >= 0.3 — the
                                incremental near-dup ingest gate.
  q_llm_neardup_index_append    EXACTLY oracled: history build +
                                frozen-family batch append covers the
                                full eligible corpus exactly once
                                (the wave148 append contract, for
                                band keys).

Portability: the whole pipeline — md5-prefix 28-bit base, the wave52
affine family, band keys as ':'-joined signature slices — is
replicated verbatim in the oracle SQL, so these are construction-
level exact checks, not rows-only.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.neardup_index import (
    MH_FAMILY_SQL,
    append_to_neardup_index,
    build_neardup_if_stale,
    candidate_pairs,
)
from ..operators.store_meta import read_meta
from ..registry import register

#: batch selector — the incremental-funnel convention.
BATCH_MOD = 7

#: verification floor for probe candidates (exact shingle Jaccard).
MIN_JACCARD = 0.3

#: shared oracle CTE: documents -> distinct 5-shingles -> portable
#: 16-hash signatures -> 4-row band keys (mirrors doc_bands exactly).
_BANDS_SQL = f"""
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT DISTINCT doc_id,
             array_to_string(toks[CAST(i AS INT):CAST(i + 4 AS INT)], ' ') AS sh
      FROM t, unnest(range(1, len(toks) - 3)) AS u(i)
      WHERE len(toks) >= 5),
    h AS ({MH_FAMILY_SQL}),
    sigs AS (
      SELECT doc_id, h.j,
             MIN((CAST(concat('0x', substr(md5(sh), 1, 7)) AS BIGINT)
                  * h.a + h.b) % 4294967296) AS sig
      FROM s CROSS JOIN h GROUP BY doc_id, h.j),
    bands AS (
      SELECT doc_id, CAST(j // 4 AS INT) AS band_id,
             string_agg(CAST(sig AS VARCHAR), ':' ORDER BY j) AS band_key
      FROM sigs GROUP BY doc_id, CAST(j // 4 AS INT))
"""


def _path(spark: SparkSession, sf_dir: str, leaf: str) -> str:
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    token = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(wh, "neardup_index", token, leaf)


def _fp(sf_dir: str) -> str:
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    return f"{st.st_size}:{st.st_mtime_ns}"


@register(
    "q_llm_neardup_index_coverage",
    oracle=f"""
    WITH {_BANDS_SQL},
    bsz AS (SELECT band_id, band_key, CAST(COUNT(*) AS BIGINT) AS c
            FROM bands GROUP BY 1, 2),
    agg1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM bands),
    agg2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(MAX(c) AS BIGINT) AS max_bucket
      FROM bsz)
    SELECT n_rows, n_docs, n_buckets, max_bucket
    FROM agg1 CROSS JOIN agg2
    """,
)
def q_llm_neardup_index_coverage(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Integrity audit of the persisted band table read back from
    disk: row count (n_bands per eligible doc), distinct-doc
    coverage, bucket count and the largest bucket — the skew statistic
    that predicts candidate-join cost. The DuckDB oracle recomputes
    the ENTIRE signature pipeline, so agreement certifies the
    persisted layout byte-for-byte, not just row counts.

    Scale: build once per corpus version (one signature pass, map-side
    MIN combine), audit on 40 B key rows only — text never re-read."""
    d = load_table(spark, sf_dir, "documents")
    path = _path(spark, sf_dir, "full")
    build_neardup_if_stale(d, path, source_fingerprint=_fp(sf_dir))
    bands = spark.read.parquet(f"{path}/bands")
    bsz = bands.groupBy("band_id", "band_key").agg(
        F.count("*").alias("c"))
    a1 = bands.agg(F.count("*").cast("long").alias("n_rows"),
                   F.countDistinct("doc_id").cast("long").alias("n_docs"))
    a2 = bsz.agg(F.count("*").cast("long").alias("n_buckets"),
                 F.max("c").cast("long").alias("max_bucket"))
    return a1.crossJoin(a2)


@register(
    "q_llm_neardup_index_probe",
    oracle=f"""
    WITH {_BANDS_SQL},
    cand AS (
      SELECT DISTINCT b.doc_id AS batch_doc, h2.doc_id AS corpus_doc
      FROM bands b
      JOIN bands h2 ON h2.band_id = b.band_id
                   AND h2.band_key = b.band_key
      WHERE b.doc_id % {BATCH_MOD} = 0 AND h2.doc_id % {BATCH_MOD} <> 0),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM s GROUP BY doc_id),
    inter AS (
      SELECT c.batch_doc, c.corpus_doc, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN s a ON a.doc_id = c.batch_doc
      JOIN s b2 ON b2.doc_id = c.corpus_doc AND b2.sh = a.sh
      GROUP BY 1, 2)
    SELECT i.batch_doc, i.corpus_doc,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.batch_doc
    JOIN sizes sb ON sb.doc_id = i.corpus_doc
    WHERE CAST(i.n_common AS DOUBLE)
          / (sa.n + sb.n - i.n_common) >= {MIN_JACCARD}
    """,
)
def q_llm_neardup_index_probe(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Incremental near-dup gate against the PERSISTED index: the
    incoming batch's band keys join the standing history bands for
    candidates (one equi-join on 40 B keys — history text and
    history signatures are never recomputed), then candidates verify
    to exact shingle Jaccard >= {MIN_JACCARD}. The DuckDB oracle
    rebuilds both sides from scratch; agreement proves the persisted
    short-cut loses nothing.

    Scale: THE batch-vs-100 TB near-dup shape — candidate generation
    is batch-bands x matching standing buckets (hash join, pruned by
    key equality), verification touches only candidate pairs'
    shingle sets."""
    d = load_table(spark, sf_dir, "documents")
    hist = d.filter(F.col("doc_id") % BATCH_MOD != 0)
    batch = d.filter(F.col("doc_id") % BATCH_MOD == 0)
    path = _path(spark, sf_dir, "hist")
    build_neardup_if_stale(hist, path,
                           source_fingerprint="hist:" + _fp(sf_dir))
    cands = candidate_pairs(batch, path).localCheckpoint(eager=True)

    from ..functions.text import shingles, tokens
    sh = (d.select("doc_id", tokens("text").alias("toks"))
          .where(F.size("toks") >= 5)
          .select("doc_id",
                  F.explode(shingles(F.col("toks"), k=5)).alias("sh"))
          .distinct())
    # restrict the shingle index to candidate docs before the
    # intersection join — candidate-sized, not corpus-sized
    docs_a = cands.select(F.col("batch_doc").alias("doc_id")).distinct()
    docs_b = cands.select(F.col("corpus_doc").alias("doc_id")).distinct()
    sh_a = sh.join(docs_a, "doc_id", "semi")
    sh_b = sh.join(docs_b, "doc_id", "semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        cands
        .join(sh_a.select(F.col("doc_id").alias("batch_doc"), "sh"),
              "batch_doc")
        .join(sh_b.select(F.col("doc_id").alias("corpus_doc"), "sh"),
              ["corpus_doc", "sh"])
        .groupBy("batch_doc", "corpus_doc")
        .agg(F.count("*").alias("n_common"))
    )
    ja = (F.col("n_common").cast("double")
          / (F.col("na") + F.col("nb") - F.col("n_common")))
    return (
        inter
        .join(sizes.select(F.col("doc_id").alias("batch_doc"),
                           F.col("n").alias("na")), "batch_doc")
        .join(sizes.select(F.col("doc_id").alias("corpus_doc"),
                           F.col("n").alias("nb")), "corpus_doc")
        .filter(ja >= MIN_JACCARD)
        .select("batch_doc", "corpus_doc",
                F.round(ja, 6).alias("jaccard"))
    )


@register(
    "q_llm_neardup_index_append",
    oracle="""
    WITH e AS (
      SELECT doc_id FROM documents
      WHERE len(string_split(text, ' ')) >= 5)
    SELECT CAST(COUNT(*) * 4 AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_appended
    FROM e
    """,
)
def q_llm_neardup_index_append(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Incremental band ingest: build the index from HISTORY docs,
    append the incoming batch against the frozen hash family (no
    re-signature of history — batch-sized cost), then audit the
    read-back bands: full eligible-corpus coverage with the appended
    share accounted. Idempotent via the wave148 fingerprint ladder
    (hist-fp -> full-fp); a regenerated fixture rebuilds.

    Scale: daily corpus batches sign themselves and land as new
    run_id partitions; the standing history is never re-read."""
    d = load_table(spark, sf_dir, "documents")
    hist = d.filter(F.col("doc_id") % BATCH_MOD != 0)
    batch = d.filter(F.col("doc_id") % BATCH_MOD == 0)
    path = _path(spark, sf_dir, "inc")
    hist_fp = "hist:" + _fp(sf_dir)
    full_fp = "full:" + _fp(sf_dir)

    meta = read_meta(path)
    if meta is None or meta["source_fingerprint"] != full_fp:
        build_neardup_if_stale(hist, path, source_fingerprint=hist_fp)
        append_to_neardup_index(batch, path, run_id=1,
                                expected_fingerprint=hist_fp,
                                new_fingerprint=full_fp)
    bands = spark.read.parquet(f"{path}/bands")
    batch_ids = batch.select("doc_id").withColumn("_b", F.lit(1))
    docs = bands.select("doc_id").distinct() \
        .join(batch_ids, "doc_id", "left")
    a1 = bands.agg(F.count("*").cast("long").alias("n_rows"))
    a2 = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.coalesce(F.col("_b"), F.lit(0))).cast("long")
        .alias("n_appended"))
    return a1.crossJoin(a2)


@register(
    "q_llm_neardup_index_compact",
    oracle=f"""
    WITH {_BANDS_SQL},
    bsz AS (SELECT band_id, band_key, CAST(COUNT(*) AS BIGINT) AS c
            FROM bands GROUP BY 1, 2),
    agg1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM bands),
    agg2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(MAX(c) AS BIGINT) AS max_bucket
      FROM bsz)
    SELECT n_rows, n_docs, n_buckets, max_bucket,
           CAST(1 AS BIGINT) AS n_runs
    FROM agg1 CROSS JOIN agg2
    """,
)
def q_llm_neardup_index_compact(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Standing-index COMPACTION audit (VERDICT r10 item #4): history
    build + batch append leave one hive partition per ingest run;
    compact_neardup_index folds them into run_id=0 (swap-committed
    rewrite under the build lock). The audit re-runs the coverage
    statistics on the compacted layout PLUS the partition count — the
    DuckDB oracle recomputes the whole portable signature pipeline,
    so agreement certifies that compaction changed the file layout
    and NOTHING else, bit-for-bit, with n_runs=1 pinning the fold.

    Scale: a run-per-day index reads N tiny partitions per candidate
    join after N days; compaction restores one coalesced partition
    (and is the point where pre-self-heal duplicate rows, if any,
    are dropped). Expiry is the same machinery in reverse — a run's
    partition is an O(1) directory drop (expire_neardup_run)."""
    from ..operators.neardup_index import compact_neardup_index

    d = load_table(spark, sf_dir, "documents")
    hist = d.filter(F.col("doc_id") % BATCH_MOD != 0)
    batch = d.filter(F.col("doc_id") % BATCH_MOD == 0)
    path = _path(spark, sf_dir, "cmp")
    hist_fp = "cmp-hist:" + _fp(sf_dir)
    full_fp = "cmp-full:" + _fp(sf_dir)

    meta = read_meta(path)
    if meta is None or meta["source_fingerprint"] != full_fp:
        build_neardup_if_stale(hist, path, source_fingerprint=hist_fp)
        append_to_neardup_index(batch, path, run_id=1,
                                expected_fingerprint=hist_fp,
                                new_fingerprint=full_fp)
    bands = spark.read.parquet(f"{path}/bands")
    n_runs = bands.select("run_id").distinct().count()
    if n_runs > 1:
        compact_neardup_index(spark, path)
        bands = spark.read.parquet(f"{path}/bands")
    bsz = bands.groupBy("band_id", "band_key").agg(
        F.count("*").alias("c"))
    a1 = bands.agg(F.count("*").cast("long").alias("n_rows"),
                   F.countDistinct("doc_id").cast("long").alias("n_docs"))
    a2 = bsz.agg(F.count("*").cast("long").alias("n_buckets"),
                 F.max("c").cast("long").alias("max_bucket"))
    a3 = bands.agg(F.countDistinct("run_id").cast("long").alias("n_runs"))
    return a1.crossJoin(a2).crossJoin(a3)


@register("q_llm_mmr_ann")  # rows-only: ANN candidates + float greedy
# — greedy numpy parity in tests/test_ml.py, candidate determinism in
# tests/test_neardup_index.py::test_mmr_ann_*
def q_llm_mmr_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval AT CORPUS SCALE: candidates come from
    the PERSISTED IVF-PQ index (partition-pruned probe + exact
    re-rank, wave146's index) instead of q_llm_mmr's exact all-pairs
    top-k — which is O(n²) by contract and the documented non-scale
    path. A fixed 64-query panel fetches 20 candidates each, then the
    same deterministic greedy (λ=0.7) re-ranks to 5.

    Scale: THE production retrieval shape — index built once per
    corpus version, probes scan only probed list partitions, greedy
    is O(k·fetch) numpy per query inside applyInPandas. Nothing in
    the plan grows faster than the probed-list scan."""
    from ..operators.similarity import mmr_rerank_candidates
    from .wave146 import PANEL_N, _built_index, _fingerprint

    path, _meta, _rebuilt = _built_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    panel = emb.orderBy("vec_id").limit(PANEL_N)
    from ..operators.ann_index import probe_index
    cand = probe_index(spark, path, panel, k=20, refine=4, corpus=emb,
                       expected_fingerprint=_fingerprint(sf_dir))
    return (
        mmr_rerank_candidates(cand, emb, k=5, lam=0.7)
        .orderBy("qid", "mmr_rank")
    )
