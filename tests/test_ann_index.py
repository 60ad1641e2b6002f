"""Persisted ANN index lifecycle (wave146 / operators/ann_index.py):
build-once-probe-many, partition-pruned probe scans, staleness guard,
and recall of the persisted path vs the exact baseline.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkit_learn_spark.catalog import load_table
from sparkit_learn_spark.operators.ann_index import (
    build_if_stale,
    load_meta,
    probe_index,
    write_index,
)
from sparkit_learn_spark.operators.similarity import cosine_topk

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ann_idx") / "idx")
    emb = load_table(spark, SF, "embeddings")
    write_index(emb, path, seed=42, source_fingerprint="fp-v1")
    return path


def test_meta_roundtrip(spark, index_path):
    meta = load_meta(spark, index_path)
    n = load_table(spark, SF, "embeddings").count()
    assert meta["n_vectors"] == n
    assert meta["source_fingerprint"] == "fp-v1"
    assert meta["d"] % meta["m_subspaces"] == 0


def test_codes_cover_corpus_exactly_once(spark, index_path):
    codes = spark.read.parquet(f"{index_path}/codes")
    emb = load_table(spark, SF, "embeddings")
    assert codes.count() == emb.count()
    assert codes.select("id").distinct().count() == emb.count()
    # hive layout: codes really are partitioned by list_id on disk
    parts = [p for p in os.listdir(f"{index_path}/codes")
             if p.startswith("list_id=")]
    meta = load_meta(spark, index_path)
    assert 1 <= len(parts) <= meta["n_lists"]


def test_build_if_stale_reuses_then_rebuilds(spark, tmp_path):
    path = str(tmp_path / "idx")
    emb = load_table(spark, SF, "embeddings")
    _, rebuilt1 = build_if_stale(emb, path, source_fingerprint="v1", seed=42)
    assert rebuilt1 is True
    _, rebuilt2 = build_if_stale(emb, path, source_fingerprint="v1", seed=42)
    assert rebuilt2 is False  # matching fingerprint -> no retrain
    _, rebuilt3 = build_if_stale(emb, path, source_fingerprint="v2", seed=42)
    assert rebuilt3 is True  # fingerprint moved -> rebuild


def test_probe_stale_fingerprint_raises(spark, index_path):
    emb = load_table(spark, SF, "embeddings")
    panel = emb.orderBy("vec_id").limit(8)
    with pytest.raises(ValueError, match="stale"):
        probe_index(spark, index_path, panel, k=5, corpus=emb,
                    expected_fingerprint="fp-v2")


def test_persisted_probe_recall_vs_exact(spark, index_path):
    """The persisted path must reach the same recall floor as the
    fresh-build IVF-PQ path (≥0.6 vs exact top-5 on the fixture),
    and its sims must be exact dots (6dp) for the pairs it returns."""
    emb = load_table(spark, SF, "embeddings")
    panel = emb.orderBy("vec_id").limit(64)
    got = probe_index(spark, index_path, panel, k=5, refine=4,
                      corpus=emb,
                      expected_fingerprint="fp-v1").toPandas()
    exact = (
        cosine_topk(emb, k=5).join(
            panel.select(F.col("vec_id").alias("qid")), "qid")
        .toPandas()
    )
    exact_pairs = set(zip(exact.qid, exact.nid))
    got_pairs = set(zip(got.qid, got.nid))
    assert len(got_pairs) > 0
    recall = len(exact_pairs & got_pairs) / len(exact_pairs)
    assert recall >= 0.6, f"persisted-probe recall {recall:.2f}"
    # exact re-rank contract: returned sims equal the exact path's
    # sims wherever the pair overlaps
    exact_sim = {(q, n): s for q, n, s in
                 zip(exact.qid, exact.nid, exact.sim)}
    for q, n, s in zip(got.qid, got.nid, got.sim):
        if (q, n) in exact_sim:
            assert abs(exact_sim[(q, n)] - s) < 1e-9


def test_registered_queries_run(spark):
    from sparkit_learn_spark.registry import all_queries

    q = all_queries()
    pers = q["q_llm_ann_persisted"](spark, SF)
    assert pers.count() > 0
    cov = q["q_llm_ann_index_coverage"](spark, SF).first()
    n = load_table(spark, SF, "embeddings").count()
    assert cov["n_codes"] == n and cov["n_distinct_ids"] == n


def test_append_extends_index_and_guards_fingerprint(spark, tmp_path):
    """append_to_index: encodes against the frozen quantizer, extends
    coverage to the union, advances the fingerprint; a stale expected
    fingerprint raises; the appended index probes batch vectors."""
    from sparkit_learn_spark.operators.ann_index import append_to_index

    emb = load_table(spark, SF, "embeddings")
    hist = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "idx")
    write_index(hist, path, seed=42, source_fingerprint="v-hist")
    meta = append_to_index(batch, path, expected_fingerprint="v-hist",
                           new_fingerprint="v-full")
    assert meta["n_vectors"] == emb.count()
    assert meta["source_fingerprint"] == "v-full"
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == emb.count()
    assert codes.select("id").distinct().count() == emb.count()
    # double-append with the consumed fingerprint must refuse
    with pytest.raises(ValueError, match="fingerprint"):
        append_to_index(batch, path, expected_fingerprint="v-hist",
                        new_fingerprint="v-full2")
    # probes over the appended index can return batch vectors as
    # neighbors and keep the exact-refine recall floor
    # wide probe schedule: the quantizer saw only 2/3 of a 500-vector
    # fixture, so default √n_lists probes under-recall here — the
    # lifecycle contract under test is coverage + probe correctness,
    # not recall at the auto schedule (that is calibrated elsewhere)
    panel = emb.orderBy("vec_id").limit(32)
    got = probe_index(spark, path, panel, k=5, refine=8, n_probe=64,
                      corpus=emb,
                      expected_fingerprint="v-full").toPandas()
    assert len(got) > 0
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    assert any(n in batch_ids for n in got.nid), \
        "no appended vector ever surfaced as a neighbor"
    exact = (cosine_topk(emb, k=5)
             .join(panel.select(F.col("vec_id").alias("qid")), "qid")
             .toPandas())
    exact_pairs = set(zip(exact.qid, exact.nid))
    got_pairs = set(zip(got.qid, got.nid))
    assert len(exact_pairs & got_pairs) / len(exact_pairs) >= 0.6


def test_merge_equals_whole_build_with_shared_quantizer(spark, tmp_path):
    """Shard-parallel build law: with ONE shared quantizer, encoding
    shards independently and merging the code partitions yields
    EXACTLY the codes of a single whole-corpus encode (same quantizer
    ⇒ same (id, list, codes) rows — set equality, not approximation),
    so probes over merged and whole-built indexes agree row-for-row."""
    from sparkit_learn_spark.operators.ann_index import (
        merge_indexes, train_quantizer)

    emb = load_table(spark, SF, "embeddings")
    q = train_quantizer(emb, seed=42)
    base = str(tmp_path)
    write_index(emb.filter(F.col("vec_id") % 2 == 0), f"{base}/s0",
                quantizer=q, source_fingerprint="s0")
    write_index(emb.filter(F.col("vec_id") % 2 == 1), f"{base}/s1",
                quantizer=q, source_fingerprint="s1")
    meta = merge_indexes(spark, [f"{base}/s0", f"{base}/s1"],
                         f"{base}/merged", source_fingerprint="m")
    write_index(emb, f"{base}/whole", quantizer=q,
                source_fingerprint="w")
    assert meta["n_vectors"] == emb.count()

    def codeset(path):
        return {(r["id"], r["list_id"], tuple(r["codes"])) for r in
                spark.read.parquet(f"{path}/codes").collect()}

    assert codeset(f"{base}/merged") == codeset(f"{base}/whole")
    # probe equivalence on a panel
    panel = emb.orderBy("vec_id").limit(16)
    a = probe_index(spark, f"{base}/merged", panel, k=5, corpus=emb,
                    expected_fingerprint="m").toPandas()
    b = probe_index(spark, f"{base}/whole", panel, k=5, corpus=emb,
                    expected_fingerprint="w").toPandas()
    key = ["qid", "rn"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert a.equals(b)


def test_merge_refuses_mismatched_quantizers(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    from sparkit_learn_spark.operators.ann_index import merge_indexes

    base = str(tmp_path)
    # independently-trained shards -> different quantizers
    write_index(emb.filter(F.col("vec_id") % 2 == 0), f"{base}/a",
                seed=1, n_lists=8, source_fingerprint="a")
    write_index(emb.filter(F.col("vec_id") % 2 == 1), f"{base}/b",
                seed=2, n_lists=8, source_fingerprint="b")
    with pytest.raises(ValueError, match="quantizers differ|layouts differ"):
        merge_indexes(spark, [f"{base}/a", f"{base}/b"], f"{base}/out")


def test_stream_ingest_appends_index_across_restart(spark, tmp_path):
    """Streaming index ingest: a document stream lands in the
    persisted index via foreachBatch -> append_to_index, across TWO
    availableNow triggers with a query restart between them — the
    production shape for continuous vector ingest (micro-batch =
    one frozen-quantizer append; the fingerprint ladder makes each
    epoch a guarded single-writer step). Final index must cover
    base + both trigger batches exactly once."""
    import os

    from sparkit_learn_spark.operators.ann_index import append_to_index

    emb = load_table(spark, SF, "embeddings")
    base_half = emb.filter(F.col("vec_id") % 2 == 0)
    stream_half = emb.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "idx")
    write_index(base_half, idx, seed=42, source_fingerprint="epoch:0")

    src = str(tmp_path / "src")
    os.makedirs(src)
    t1 = stream_half.filter(F.col("vec_id") % 4 == 1)
    t2 = stream_half.filter(F.col("vec_id") % 4 == 3)
    t1.coalesce(1).write.parquet(src + "/t1.dir")
    ckpt = str(tmp_path / "ckpt")

    def ingest(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        cur = load_meta(batch_df.sparkSession, idx)["source_fingerprint"]
        append_to_index(batch_df, idx,
                        expected_fingerprint=cur,
                        new_fingerprint=f"{cur}+b{batch_id}")

    def run_available():
        stream = (spark.readStream.schema(emb.schema)
                  .option("recursiveFileLookup", "true").parquet(src))
        q = (stream.writeStream.foreachBatch(ingest)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run_available()
    n_after_t1 = load_meta(spark, idx)["n_vectors"]
    assert n_after_t1 == base_half.count() + t1.count()
    t2.coalesce(1).write.parquet(src + "/t2.dir")
    run_available()  # restart from the checkpoint
    meta = load_meta(spark, idx)
    assert meta["n_vectors"] == emb.count()
    codes = spark.read.parquet(f"{idx}/codes")
    assert codes.count() == emb.count()
    assert codes.select("id").distinct().count() == emb.count()
    # the restarted query must NOT have re-appended trigger-1 files
    # (exactly-once via the checkpoint's file-source log)
    assert meta["source_fingerprint"].count("+b") == 2


def test_append_self_heals_interrupted_commit(spark, tmp_path):
    """Crash-safety of append_to_index (r9 ADVICE): codes land before
    meta advances, so a failure between the two writes leaves codes
    one batch ahead of meta while the fingerprint guard still passes.
    A retry must COMPLETE the commit (meta-only) instead of appending
    the batch a second time — and any other count divergence raises."""
    from sparkit_learn_spark.operators.ann_index import append_to_index
    from sparkit_learn_spark.operators.store_meta import write_meta

    emb = load_table(spark, SF, "embeddings")
    hist = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "idx")
    write_index(hist, path, seed=42, source_fingerprint="v-hist")
    meta0 = load_meta(spark, path)
    append_to_index(batch, path, expected_fingerprint="v-hist",
                    new_fingerprint="v-full")
    # simulate the crash: roll meta back to the pre-append state while
    # the appended codes stay on disk
    write_meta(path, meta0)
    meta = append_to_index(batch, path, expected_fingerprint="v-hist",
                           new_fingerprint="v-full")
    assert meta["source_fingerprint"] == "v-full"
    assert meta["n_vectors"] == emb.count()
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == emb.count(), "batch must not be duplicated"
    assert codes.select("id").distinct().count() == emb.count()
    # a divergence that is NOT explainable as this batch's interrupted
    # commit must raise loudly: roll meta back again but hand append a
    # DIFFERENT batch
    write_meta(path, meta0)
    other = emb.filter(F.col("vec_id") % 3 == 1).limit(10)
    with pytest.raises(RuntimeError, match="inconsistent"):
        append_to_index(other, path, expected_fingerprint="v-hist",
                        new_fingerprint="v-other")


def test_append_meta_commit_fault_keeps_old_meta(spark, tmp_path,
                                                 monkeypatch):
    """A crash INSIDE the meta commit (os.replace fails after the
    codes append landed): the previous meta stays readable and
    unchanged, and a retry completes through the interrupted-commit
    branch — no re-encode, no second append of the batch."""
    from sparkit_learn_spark.operators import ann_index, store_meta

    emb = load_table(spark, SF, "embeddings")
    hist = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "idx")
    meta0 = write_index(hist, path, seed=42, source_fingerprint="v-hist")
    real_replace = os.replace

    def crash(src, dst):
        if dst.endswith("_meta.json"):
            raise OSError("injected crash in the meta commit")
        real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(store_meta.os, "replace", crash)
        with pytest.raises(OSError, match="injected"):
            ann_index.append_to_index(batch, path,
                                      expected_fingerprint="v-hist",
                                      new_fingerprint="v-full")
    assert load_meta(spark, path) == meta0
    assert spark.read.parquet(f"{path}/codes").count() == emb.count()

    def no_encode(*_a, **_k):
        raise AssertionError("retry re-encoded the batch")

    with monkeypatch.context() as m:
        m.setattr(ann_index, "_encode_frame", no_encode)
        meta = ann_index.append_to_index(batch, path,
                                         expected_fingerprint="v-hist",
                                         new_fingerprint="v-full")
    assert meta["n_vectors"] == emb.count()
    assert load_meta(spark, path) == meta
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == emb.count(), "batch must not be duplicated"
    assert codes.select("id").distinct().count() == emb.count()


def test_build_if_stale_lock_blocks_then_reuses(spark, tmp_path):
    """The build lock serializes writers: while a lock dir exists,
    build_if_stale waits; once it clears AND the index is fresh, the
    waiter reuses without rebuilding (rebuilt=False)."""
    import threading
    import time

    emb = load_table(spark, SF, "embeddings").limit(200)
    path = str(tmp_path / "idx")
    lock = f"{path}.build.lock"
    os.makedirs(lock)

    def release():
        time.sleep(1.5)
        write_index(emb, path, seed=42, source_fingerprint="fp-x")
        os.rmdir(lock)

    t = threading.Thread(target=release)
    t.start()
    meta, rebuilt = build_if_stale(emb, path, source_fingerprint="fp-x",
                                   lock_timeout=30.0)
    t.join()
    assert rebuilt is False, "waiter must find the fresh index"
    assert meta["source_fingerprint"] == "fp-x"
    # a lock that never clears times out loudly
    lock2 = str(tmp_path / "idx2.build.lock")
    os.makedirs(lock2)
    with pytest.raises(TimeoutError, match="lock"):
        build_if_stale(emb, str(tmp_path / "idx2"),
                       source_fingerprint="fp-y", lock_timeout=0.0)
    os.rmdir(lock2)


def test_meta_records_trained_layout(spark, tmp_path):
    """Meta must describe the quantizer on disk, not the request:
    Lloyd's returns min(k, sample) centroids, so 120 vectors train 120
    lists (not the requested 200) and 120 codewords (not 256)."""
    from sparkit_learn_spark.operators.ann_index import read_quantizer

    emb = load_table(spark, SF, "embeddings").filter("vec_id < 120")
    path = str(tmp_path / "idx")
    meta = write_index(emb, path, n_lists=200, seed=42,
                       source_fingerprint="small")
    C, books = read_quantizer(spark, path, meta["m_subspaces"])
    assert (meta["n_lists"], meta["n_codes"]) == (120, 120)
    assert meta["n_lists"] == len(C)
    assert meta["m_subspaces"] == len(books)
    assert meta["n_codes"] == len(books[0])
    assert meta["d"] == C.shape[1]
    assert load_meta(spark, path) == meta


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_fresh_and_persisted_ivf_pq_agree(spark, tmp_path, sf):
    """ivf_pq_topk and write_index + probe_index are one algorithm:
    same bounded training sample, routing, codes, ADC and exact
    re-rank, so on the same parameters they return the same rows."""
    from sparkit_learn_spark.operators.similarity import ivf_pq_topk

    emb = load_table(spark, os.path.join(os.path.dirname(SF), sf),
                     "embeddings")
    key = ["qid", "rn"]
    fresh = (ivf_pq_topk(emb, k=5, n_lists=8, n_probe=3, n_codes=16)
             .filter(F.col("qid") % 5 == 0)
             .toPandas().sort_values(key).reset_index(drop=True))
    path = str(tmp_path / "idx")
    write_index(emb, path, n_lists=8, n_codes=16, source_fingerprint=sf)
    persisted = (probe_index(spark, path, emb.filter("vec_id % 5 = 0"),
                             k=5, n_probe=3, corpus=emb)
                 .toPandas().sort_values(key).reset_index(drop=True))
    assert len(fresh) == 5 * emb.filter("vec_id % 5 = 0").count()
    pd.testing.assert_frame_equal(fresh, persisted)
