"""Persisted MinHash-LSH near-dup index (operators/neardup_index,
wave150): layout coverage, append==rebuild merge law, candidate
semantics, run_id crash-blindness, and planted-duplicate recall.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkit_learn_spark.catalog import load_table
from sparkit_learn_spark.operators.neardup_index import (
    append_to_neardup_index,
    build_neardup_if_stale,
    build_neardup_index,
    candidate_pairs,
    doc_bands,
    load_meta,
)

SF = "/root/testdata/sf0.001"
BATCH_MOD = 7


def _docs(spark):
    return load_table(spark, SF, "documents")


def _band_set(spark, path):
    return {(r["doc_id"], r["band_id"], r["band_key"])
            for r in spark.read.parquet(f"{path}/bands")
            .select("doc_id", "band_id", "band_key").collect()}


def test_build_covers_eligible_docs_exactly(spark, tmp_path):
    d = _docs(spark)
    path = str(tmp_path / "idx")
    meta = build_neardup_index(d, path, source_fingerprint="v1")
    eligible = d.where(F.size(F.split("text", " ")) >= 5).count()
    bands = spark.read.parquet(f"{path}/bands")
    assert meta["n_docs"] == eligible
    assert bands.count() == eligible * 4  # 16 hashes / 4 rows
    assert bands.select("doc_id").distinct().count() == eligible


def test_append_equals_whole_build(spark, tmp_path):
    """Merge law: hist build + batch append produces the SAME band
    set as one whole-corpus build — the frozen family makes appends
    exact, not approximate."""
    d = _docs(spark)
    hist = d.filter(F.col("doc_id") % BATCH_MOD != 0)
    batch = d.filter(F.col("doc_id") % BATCH_MOD == 0)
    inc = str(tmp_path / "inc")
    whole = str(tmp_path / "whole")
    build_neardup_index(hist, inc, source_fingerprint="hist")
    meta = append_to_neardup_index(batch, inc, run_id=1,
                                   expected_fingerprint="hist",
                                   new_fingerprint="full")
    build_neardup_index(d, whole, source_fingerprint="full")
    assert _band_set(spark, inc) == _band_set(spark, whole)
    assert meta["n_docs"] == load_meta(spark, whole)["n_docs"]


def test_append_guards_fingerprint_and_run_id(spark, tmp_path):
    d = _docs(spark).limit(50)
    path = str(tmp_path / "idx")
    build_neardup_index(d, path, source_fingerprint="v1")
    with pytest.raises(ValueError, match="fingerprint"):
        append_to_neardup_index(d, path, run_id=1,
                                expected_fingerprint="WRONG",
                                new_fingerprint="v2")
    with pytest.raises(ValueError, match="run_id"):
        append_to_neardup_index(d, path, run_id=0,
                                expected_fingerprint="v1",
                                new_fingerprint="v2")


def test_candidates_run_id_filter_is_crash_blind(spark, tmp_path):
    """candidate_pairs(run_id=1) must not see run 1's own appended
    keys — a crashed append's retry computes the same candidates as a
    clean first attempt."""
    d = _docs(spark)
    hist = d.filter(F.col("doc_id") % BATCH_MOD != 0)
    batch = d.filter(F.col("doc_id") % BATCH_MOD == 0)
    path = str(tmp_path / "idx")
    build_neardup_index(hist, path, source_fingerprint="hist")
    before = set(map(tuple, candidate_pairs(batch, path, run_id=1)
                     .collect()))
    append_to_neardup_index(batch, path, run_id=1,
                            expected_fingerprint="hist",
                            new_fingerprint="full")
    after = set(map(tuple, candidate_pairs(batch, path, run_id=1)
                    .collect()))
    assert after == before
    # unbounded read DOES see the appended keys (intra-batch pairs)
    unbounded = set(map(tuple, candidate_pairs(batch, path).collect()))
    assert unbounded >= before


def test_planted_exact_duplicates_always_candidates(spark, tmp_path):
    """J=1.0 pairs share every band — banding recall is exactly 1 for
    identical shingle sets, whatever the s-curve does at J<1."""
    base = _docs(spark).where(
        F.size(F.split("text", " ")) >= 5).limit(20)
    hist = base.select(F.col("doc_id"), "text")
    clones = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                         "text")
    path = str(tmp_path / "idx")
    build_neardup_index(hist, path, source_fingerprint="v1")
    cands = candidate_pairs(clones, path).collect()
    got = {(r["batch_doc"] - 1_000_000, r["corpus_doc"]) for r in cands}
    want = {(r["doc_id"], r["doc_id"]) for r in hist.collect()}
    assert got >= want, "every planted clone must surface its original"


def test_build_if_stale_reuses_then_rebuilds(spark, tmp_path):
    d = _docs(spark).limit(80)
    path = str(tmp_path / "idx")
    _meta, rebuilt = build_neardup_if_stale(d, path,
                                            source_fingerprint="v1")
    assert rebuilt is True
    _meta, rebuilt = build_neardup_if_stale(d, path,
                                            source_fingerprint="v1")
    assert rebuilt is False
    _meta, rebuilt = build_neardup_if_stale(d, path,
                                            source_fingerprint="v2")
    assert rebuilt is True


def test_band_keys_deterministic_across_computations(spark):
    d = _docs(spark).limit(60)
    b1 = {tuple(r) for r in doc_bands(d).collect()}
    b2 = {tuple(r) for r in doc_bands(d).collect()}
    assert b1 == b2 and len(b1) > 0


def test_mmr_ann_contract(spark):
    """q_llm_mmr_ann: 5 diversified results per panel query from the
    persisted-index candidates, deterministic across runs, and the
    rank-1 pick equals the top ANN candidate (greedy's first step is
    pure relevance)."""
    from sparkit_learn_spark.registry import all_queries

    sf = SF
    got = all_queries()["q_llm_mmr_ann"](spark, sf).toPandas()
    assert got.groupby("qid").size().eq(5).all()
    assert (got.groupby("qid")["mmr_rank"].max() == 5).all()
    again = all_queries()["q_llm_mmr_ann"](spark, sf).toPandas()
    assert got.equals(again)
    r1 = got[got["mmr_rank"] == 1]
    assert (r1["diversity_penalty"] == 0.0).all(), \
        "first pick must be the pure-relevance argmax"


def test_append_self_heals_interrupted_commit(spark, tmp_path):
    """Crash-safety of append_to_neardup_index (ADVICE r10, the
    ann_index discipline): bands land before meta advances, so a
    failure between the two writes leaves this run's partition on
    disk while the fingerprint guard still passes. A retry must
    COMPLETE the commit (meta-only) instead of appending the batch a
    second time — and a partition that does NOT match the batch
    raises loudly."""
    from sparkit_learn_spark.operators.store_meta import write_meta

    d = _docs(spark)
    hist = d.filter(F.col("doc_id") % BATCH_MOD != 0)
    batch = d.filter(F.col("doc_id") % BATCH_MOD == 0)
    path = str(tmp_path / "idx")
    build_neardup_index(hist, path, source_fingerprint="hist")
    meta0 = load_meta(spark, path)
    append_to_neardup_index(batch, path, run_id=1,
                            expected_fingerprint="hist",
                            new_fingerprint="full")
    n_full = spark.read.parquet(f"{path}/bands").count()
    # simulate the crash: roll meta back to the pre-append state while
    # the appended run_id=1 partition stays on disk
    write_meta(path, meta0)
    meta = append_to_neardup_index(batch, path, run_id=1,
                                   expected_fingerprint="hist",
                                   new_fingerprint="full")
    assert meta["source_fingerprint"] == "full"
    bands = spark.read.parquet(f"{path}/bands")
    assert bands.count() == n_full, "batch must not be duplicated"
    # a run_id partition holding a DIFFERENT batch's rows must raise
    write_meta(path, meta0)
    other = hist.limit(10)
    with pytest.raises(RuntimeError, match="do not match"):
        append_to_neardup_index(other, path, run_id=1,
                                expected_fingerprint="hist",
                                new_fingerprint="other")


def test_append_meta_commit_fault_keeps_old_meta(spark, tmp_path,
                                                 monkeypatch):
    """A crash INSIDE the meta commit (os.replace fails after the
    run_id=1 bands landed): the previous meta stays readable and
    unchanged, and a retry completes through the interrupted-commit
    branch without appending the batch's bands twice."""
    import os

    from sparkit_learn_spark.operators import store_meta

    d = _docs(spark)
    hist = d.filter(F.col("doc_id") % BATCH_MOD != 0)
    batch = d.filter(F.col("doc_id") % BATCH_MOD == 0)
    path = str(tmp_path / "idx")
    meta0 = build_neardup_index(hist, path, source_fingerprint="hist")
    real_replace = os.replace

    def crash(src, dst):
        if dst.endswith("_meta.json"):
            raise OSError("injected crash in the meta commit")
        real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(store_meta.os, "replace", crash)
        with pytest.raises(OSError, match="injected"):
            append_to_neardup_index(batch, path, run_id=1,
                                    expected_fingerprint="hist",
                                    new_fingerprint="full")
    assert load_meta(spark, path) == meta0
    n_full = spark.read.parquet(f"{path}/bands").count()
    assert n_full > meta0["n_docs"] * 4, "the batch's bands landed"
    meta = append_to_neardup_index(batch, path, run_id=1,
                                   expected_fingerprint="hist",
                                   new_fingerprint="full")
    assert meta["source_fingerprint"] == "full"
    assert load_meta(spark, path) == meta
    assert spark.read.parquet(f"{path}/bands").count() == n_full, \
        "batch must not be duplicated"
    assert meta["n_docs"] * 4 == n_full


def test_compact_preserves_candidates_and_bounds_runs(spark, tmp_path):
    """compact_neardup_index folds all runs into run_id=0: the band
    SET (and hence every future probe's candidates) is unchanged,
    while the partition count drops to one — the small-file compaction
    for a store that accretes a partition per ingest run."""
    from sparkit_learn_spark.operators.neardup_index import (
        compact_neardup_index,
    )

    d = _docs(spark)
    hist = d.filter(F.col("doc_id") % 3 == 0)
    b1 = d.filter(F.col("doc_id") % 3 == 1)
    b2 = d.filter(F.col("doc_id") % 3 == 2)
    probe = d.limit(40)
    path = str(tmp_path / "idx")
    build_neardup_index(hist, path, source_fingerprint="v0")
    append_to_neardup_index(b1, path, run_id=1,
                            expected_fingerprint="v0",
                            new_fingerprint="v1")
    append_to_neardup_index(b2, path, run_id=2,
                            expected_fingerprint="v1",
                            new_fingerprint="v2")
    before_bands = _band_set(spark, path)
    before_cands = set(map(tuple, candidate_pairs(probe, path).collect()))
    meta_before = load_meta(spark, path)
    meta = compact_neardup_index(spark, path)
    assert _band_set(spark, path) == before_bands
    after_cands = set(map(tuple, candidate_pairs(probe, path).collect()))
    assert after_cands == before_cands
    assert meta["n_docs"] == meta_before["n_docs"]
    assert meta["source_fingerprint"] == meta_before["source_fingerprint"]
    runs = {r["run_id"] for r in spark.read.parquet(f"{path}/bands")
            .select("run_id").distinct().collect()}
    assert runs == {0}, "all runs folded into the bootstrap partition"
    # future-run probes still admit the folded keys (run_id=0 < N)
    gated = set(map(tuple,
                    candidate_pairs(probe, path, run_id=3).collect()))
    assert gated == before_cands


def test_compact_partial_keeps_recent_runs(spark, tmp_path):
    """compact(upto_run=2) folds runs 0-1 but leaves run 2's partition
    intact — in-flight crash-retry windows above the fold line keep
    their run_id identity."""
    from sparkit_learn_spark.operators.neardup_index import (
        compact_neardup_index,
    )

    d = _docs(spark)
    path = str(tmp_path / "idx")
    build_neardup_index(d.filter(F.col("doc_id") % 3 == 0), path,
                        source_fingerprint="v0")
    append_to_neardup_index(d.filter(F.col("doc_id") % 3 == 1), path,
                            run_id=1, expected_fingerprint="v0",
                            new_fingerprint="v1")
    append_to_neardup_index(d.filter(F.col("doc_id") % 3 == 2), path,
                            run_id=2, expected_fingerprint="v1",
                            new_fingerprint="v2")
    before = _band_set(spark, path)
    compact_neardup_index(spark, path, upto_run=2)
    assert _band_set(spark, path) == before
    runs = {r["run_id"] for r in spark.read.parquet(f"{path}/bands")
            .select("run_id").distinct().collect()}
    assert runs == {0, 2}


def test_expire_run_drops_its_docs(spark, tmp_path):
    """expire_neardup_run deletes one run's partition (the retention /
    right-to-erasure path): its docs stop surfacing as candidates,
    other runs are untouched, and partition 0 is refused."""
    from sparkit_learn_spark.operators.neardup_index import (
        expire_neardup_run,
    )

    d = _docs(spark)
    path = str(tmp_path / "idx")
    build_neardup_index(d.filter(F.col("doc_id") % 3 == 0), path,
                        source_fingerprint="v0")
    b1 = d.filter(F.col("doc_id") % 3 == 1)
    append_to_neardup_index(b1, path, run_id=1,
                            expected_fingerprint="v0",
                            new_fingerprint="v1")
    b1_docs = {r["doc_id"] for r in b1.select("doc_id").collect()}
    meta = expire_neardup_run(spark, path, run_id=1,
                              new_fingerprint="v0-retained")
    assert meta["source_fingerprint"] == "v0-retained"
    left = {r["doc_id"] for r in spark.read.parquet(f"{path}/bands")
            .select("doc_id").distinct().collect()}
    assert left.isdisjoint(b1_docs)
    assert meta["n_docs"] == len(left) > 0
    with pytest.raises(ValueError, match="run_id"):
        expire_neardup_run(spark, path, run_id=0, new_fingerprint="x")


def test_intra_batch_candidates_opt_in(spark, tmp_path):
    """VERDICT r10 item #5: a planted near-dup pair arriving in the
    SAME batch must surface when include_batch=True (as one unordered
    (min,max) pair), and stay invisible in the default batch-vs-history
    mode — whose intra-batch blindness is the documented contract
    (the funnel's fingerprint gate owns it in-pipeline)."""
    base = _docs(spark).where(
        F.size(F.split("text", " ")) >= 5).limit(20)
    hist = base.filter(F.col("doc_id") % 2 == 0)
    path = str(tmp_path / "idx")
    build_neardup_index(hist, path, source_fingerprint="v0")
    # batch = two clones of one doc (exact dup -> every band matches)
    seed = base.orderBy("doc_id").limit(1)
    batch = (seed.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                         "text")
             .unionByName(seed.select(
                 (F.col("doc_id") + 2_000_000).alias("doc_id"), "text")))
    default_pairs = set(map(tuple, candidate_pairs(batch, path).collect()))
    assert not any(b >= 1_000_000 and c >= 1_000_000
                   for b, c in default_pairs)
    with_self = set(map(tuple, candidate_pairs(
        batch, path, include_batch=True).collect()))
    intra = {(b, c) for b, c in with_self if b >= 1_000_000 and c >= 1_000_000}
    sid = seed.first()["doc_id"]
    assert (sid + 1_000_000, sid + 2_000_000) in intra
    assert with_self >= default_pairs


def test_stream_ingest_appends_bands_across_restart(spark, tmp_path):
    """Streaming band ingest (VERDICT r10 item #7, mirroring the ann
    index's streaming case): a document stream lands in the persisted
    band index via foreachBatch -> append_to_neardup_index across TWO
    availableNow triggers with a query restart between them. The final
    band set must equal a batch-mode whole-corpus build, and the
    restarted query must not re-append trigger-1 files (exactly-once
    via the checkpoint's file-source log)."""
    import os

    d = _docs(spark).select("doc_id", "text")
    hist = d.filter(F.col("doc_id") % 2 == 0)
    stream_half = d.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "idx")
    build_neardup_index(hist, idx, source_fingerprint="epoch:0")

    src = str(tmp_path / "src")
    os.makedirs(src)
    t1 = stream_half.filter(F.col("doc_id") % 4 == 1)
    t2 = stream_half.filter(F.col("doc_id") % 4 == 3)
    t1.coalesce(1).write.parquet(src + "/t1.dir")
    ckpt = str(tmp_path / "ckpt")

    def ingest(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        cur = load_meta(batch_df.sparkSession, idx)["source_fingerprint"]
        append_to_neardup_index(batch_df, idx, run_id=int(batch_id) + 1,
                                expected_fingerprint=cur,
                                new_fingerprint=f"{cur}+b{batch_id}")

    def run_available():
        stream = (spark.readStream.schema(d.schema)
                  .option("recursiveFileLookup", "true").parquet(src))
        q = (stream.writeStream.foreachBatch(ingest)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run_available()
    t2.coalesce(1).write.parquet(src + "/t2.dir")
    run_available()  # restart from the checkpoint
    whole = str(tmp_path / "whole")
    build_neardup_index(d, whole, source_fingerprint="all")
    assert _band_set(spark, idx) == _band_set(spark, whole)
    meta = load_meta(spark, idx)
    assert meta["n_docs"] == load_meta(spark, whole)["n_docs"]
    assert meta["source_fingerprint"].count("+b") == 2
