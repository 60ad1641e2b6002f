"""What each workload runs, and how each output is checked.

A workload is a list of jobs. A job has three phases, timed apart:
``build`` constructs the plan (the query function call, an estimator
fit), ``consume`` runs it and brings the result to the driver, and
``check`` compares the result with an answer computed outside Spark
(DuckDB oracle frames or numpy). Only build and consume are timed.
Store operations are jobs whose consume phase is the operation itself.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

#: JVM-only TPC-H, join, cube, window, sessionization, event-analytics
#: and string/date/JSON queries; all are oracled and none runs Python.
ANALYTICS = [
    "q_agg_q1", "q_tpch_q3", "q_join_multiway", "q_agg_cube",
    "q_win_topk_group", "q_stream_session", "q_evt_rfm", "q_json_funcs",
]

#: LLM corpus-prep queries, one per layer they load: exact dedup (JVM
#: only), decontamination (localCheckpoint of a shingle index), BM25
#: (eager collect at construction), cosine top-k (numpy in Python
#: workers) and a pandas UDF (Arrow transfer). MinHash and IVF-PQ run
#: through the stores below.
CORPUS = [
    "q_llm_exact_dedup", "q_llm_decontaminate", "q_llm_bm25_topk",
    "q_llm_cosine_topk", "q_udf_pandas",
]


@dataclass
class Job:
    name: str
    layer: str
    build: Callable[["Ctx"], Any]
    consume: Callable[["Ctx", Any], Any]
    check: Callable[["Ctx", Any], None]


@dataclass
class Ctx:
    """Per-process state the jobs share: the session, the inputs, the
    oracle answers and, for the stores, where they live."""
    spark: Any
    data: str
    oracles: dict
    store_root: str = ""
    recalls: list = field(default_factory=list)
    verified: dict = field(default_factory=dict)  # query name -> frame_digest
    _arrays: dict = field(default_factory=dict)

    @property
    def tables(self) -> str:
        return f"{self.data}/tables"

    def array(self, table: str, col: str) -> np.ndarray:
        key = (table, col)
        if key not in self._arrays:
            t = pq.read_table(f"{self.tables}/{table}.parquet", columns=[col])
            self._arrays[key] = np.array(t.column(col).to_pylist())
        return self._arrays[key]


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


# ------------------------------------------------------------ queries

def match_oracle(got: pd.DataFrame, want: pd.DataFrame, name: str) -> None:
    """``testing.compare_frames``, the repo's oracle gate, with one
    allowance: a nonzero float cell may differ from DuckDB's by one
    unit in the last decimal its column uses, or by 1e-9 relative. The
    engines add in different orders before they round (a ROUND in the
    query, or the gate's 6 dp), so a value on a rounding boundary can
    round up in one and down in the other: TPC-H Q3's 2 dp revenue
    does on some seeds, and so does Q1's ~2e9 sum_charge at 6 dp.
    Cells the gate rejects for their type (lists, arrays, decimals)
    and zeros of opposite sign still fail."""
    from sparkit_learn_spark.testing import (
        OracleMismatch, assert_driver_hashable, compare_frames, normalize)

    assert_driver_hashable(got, name=name)
    assert_driver_hashable(want, name=name)
    try:
        compare_frames(got, want, name=name)
        return
    except OracleMismatch:
        a, b = normalize(got), normalize(want)
        if len(a) != len(b) or sorted(map(str.lower, got.columns)) != sorted(
                map(str.lower, want.columns)):
            raise
    decimals = [max(len(c.partition(".")[2].rstrip("0")) for c in col)
                for col in zip(*a, *b)]
    for ra, rb in zip(a, b):
        for x, y, k in zip(ra, rb, decimals):
            _require(x == y or _close(x, y, k), f"{name}: {ra} != {rb}")


def _close(x: str, y: str, k: int) -> bool:
    """Two nonzero decimal cells within one unit of their column's last
    decimal ``k``, or 1e-9 relative; whole numbers and zeros must
    match exactly."""
    if "." not in x or "." not in y:
        return False
    try:
        fx, fy = float(x), float(y)
    except ValueError:
        return False
    if fx == 0.0 or fy == 0.0:
        return False
    unit = 1.000001 * 10.0**-k if k else 0.0
    return abs(fx - fy) <= max(1e-9 * max(1.0, abs(fy)), unit)


def frame_digest(pdf: pd.DataFrame) -> tuple:
    """Row-order-free digest of a frame: columns, dtypes and the
    wrapping sum of its row hashes."""
    rows = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
    return tuple(pdf.columns), tuple(map(str, pdf.dtypes)), int(rows.sum())


def query_job(name: str) -> Job:
    from sparkit_learn_spark.registry import all_queries

    fn = all_queries()[name]

    def check(ctx, pdf):
        # a frame identical to one that already matched the oracle
        # matches it too; a full compare of a 10^4-row result costs
        # seconds, more than the query
        digest = frame_digest(pdf)
        if ctx.verified.get(name) != digest:
            match_oracle(pdf, ctx.oracles[name], name)
            ctx.verified[name] = digest

    return Job(name, "queries", lambda ctx: fn(ctx.spark, ctx.tables),
               lambda ctx, df: df.toPandas(), check)


# ------------------------------------------------- splearn surface

def _nb_pipeline_job() -> Job:
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from sparkit_learn_spark.ml.estimators import (
        SparkBaseEstimator, SparkHashingVectorizer, SparkMultinomialNB,
        SparkPipeline, SparkTfidfTransformer)

    n_feat = 64
    langs = ["de", "en", "es", "fr", "zh"]

    class Assemble(SparkBaseEstimator):
        """Long (doc_id, bucket, tfidf) rows to a dense vector column,
        joined to the language label the classifier learns."""

        def __init__(self, docs):
            self.docs = docs

        def fit(self, df):
            return self

        def transform(self, df):
            m = df.groupBy("doc_id").agg(F.map_from_entries(
                F.collect_list(F.struct("bucket", "tfidf"))).alias("m"))
            dense = F.transform(F.sequence(F.lit(0), F.lit(n_feat - 1)).cast("array<long>"),
                                lambda i: F.coalesce(F.element_at("m", i), F.lit(0.0)))
            label = (F.array_position(F.array(*map(F.lit, langs)), F.col("lang")) - 1
                     ).cast("double")
            return m.join(self.docs.select("doc_id", label.alias("label")), "doc_id") \
                .select("doc_id", "label", array_to_vector(dense).alias("features"))

    def build(ctx):
        docs = ctx.spark.read.parquet(f"{ctx.tables}/documents.parquet")
        pipe = SparkPipeline([
            ("hash", SparkHashingVectorizer(n_features=n_feat)),
            ("tfidf", SparkTfidfTransformer(termCol="bucket")),
            ("vec", Assemble(docs)),
            ("nb", SparkMultinomialNB()),
        ])
        return pipe.fit(docs), docs

    def consume(ctx, built):
        pipe, docs = built
        from pyspark.ml.functions import vector_to_array

        return pipe.predict(docs).select(
            "doc_id", "label", "prediction",
            vector_to_array("features").alias("x")).toPandas()

    def check(ctx, pdf):
        X = np.stack(pdf["x"].to_numpy())
        y = pdf["label"].to_numpy().astype(int)
        k = len(langs)
        counts = np.array([(y == c).sum() for c in range(k)])
        F_ = np.stack([X[y == c].sum(0) for c in range(k)])
        pi = np.log(counts + 1.0) - np.log(len(y) + k)
        theta = np.log(F_ + 1.0) - np.log(F_.sum(1, keepdims=True) + n_feat)
        want = (X @ theta.T + pi).argmax(1)
        agree = float((want == pdf["prediction"].to_numpy().astype(int)).mean())
        _require(agree >= 0.99, f"nb pipeline: {agree:.3f} of labels match numpy")

    return Job("ml.nb_pipeline", "ml", build, consume, check)


def _blocked_job() -> Job:
    from sparkit_learn_spark.compat.blocked import block

    W = np.random.default_rng(3).standard_normal((64, 8))

    def build(ctx):
        emb = ctx.spark.read.parquet(f"{ctx.tables}/embeddings.parquet")
        return block(emb, vec_col="embedding")

    def consume(ctx, A):
        return A.dot(W).sum(), A.sum(axis=0)

    def check(ctx, out):
        total, col_sums = out
        X = np.stack(ctx.array("embeddings", "embedding")).astype(np.float64)
        _require(abs(total - (X @ W).sum()) <= 1e-6 * max(1.0, abs(total)),
                 f"blocked dot/sum: {total} vs numpy {(X @ W).sum()}")
        _require(np.allclose(col_sums, X.sum(0), atol=1e-9),
                 "blocked sum(axis=0) differs from numpy")

    return Job("compat.blocked", "compat", build, consume, check)


# -------------------------------------------------- persisted stores

def _tree(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


class Stores:
    """The ANN (IVF-PQ), near-dup (MinHash band) and funnel (exact and
    near-dup keys, decontamination prefixes) stores over the corpus's
    store split. The cold pass builds all three over the base split of
    the corpus, appends one batch to the ANN and band indexes, reads
    them (probe the ANN index, join the batch against the band index)
    and admits the batch through the funnel store; after the last pass
    the band index expires the batch and both key stores compact. Each
    store operation runs once per run: at 1-13 s of Spark jobs apiece
    they cannot repeat in every pass within the run budget.

    ``io`` counts what the store operations wrote: files new or
    rewritten under the store root, and their bytes."""

    def __init__(self, ctx: Ctx, split: dict):
        self.ctx = ctx
        self.want = split
        self.dir = f"{ctx.data}/store"
        self.root = ctx.store_root
        self.ann, self.nd = f"{self.root}/ann", f"{self.root}/nd"
        self.funnel = f"{self.root}/funnel"
        self.io = {"bytes_written": 0, "files_written": 0}
        self.ingested = 0
        self.admitted = 0  # docs the funnel store admitted from the batch

    def read(self, name: str):
        return self.ctx.spark.read.parquet(f"{self.dir}/{name}.parquet")

    def _ingest(self, *names: str) -> None:
        self.ingested += sum(os.path.getsize(f"{self.dir}/{n}.parquet") for n in names)

    def _job(self, name: str, op, check) -> Job:
        def consume(ctx, _):
            before = _tree(self.root)
            out = op()
            after = _tree(self.root)
            changed = [p for p, v in after.items() if before.get(p) != v]
            self.io["files_written"] += len(changed)
            self.io["bytes_written"] += sum(after[p][0] for p in changed)
            return out
        return Job(name, name.split(".")[0], lambda ctx: None, consume,
                   lambda ctx, out: check(out))

    def bootstrap(self) -> list[Job]:
        from sparkit_learn_spark.operators import ann_index, funnel_store, neardup_index

        w = self.want
        fp = dict(expected_fingerprint="r0", new_fingerprint="r1")
        self._ingest("base_docs", "base_vecs", "batch_docs", "batch_vecs", "held_out_docs")
        return [
            self._job("ann_index.write_index", lambda: ann_index.write_index(
                self.read("base_vecs"), self.ann, source_fingerprint="r0"),
                lambda m: _require(m["n_vectors"] == w["n_base_vecs"], f"ann meta {m}")),
            self._job("neardup_index.build", lambda: neardup_index.build_neardup_index(
                self.read("base_docs"), self.nd, source_fingerprint="r0"),
                lambda m: _require(m["n_docs"] == w["n_base_docs"], f"neardup meta {m}")),
            self._job("funnel_store.init", lambda: funnel_store.init_store(
                self.read("base_docs"), self.read("held_out_docs"), self.funnel,
                source_fingerprint="r0"),
                lambda _: _require(funnel_store.load_store_meta(self.ctx.spark, self.funnel)
                                   ["source_fingerprint"] == "r0", "funnel meta")),
            self._job("ann_index.append", lambda: ann_index.append_to_index(
                self.read("batch_vecs"), self.ann, **fp),
                lambda m: _require(m["n_vectors"] == w["n_vectors"], f"ann meta {m}")),
            self._job("neardup_index.append", lambda: neardup_index.append_to_neardup_index(
                self.read("batch_docs"), self.nd, run_id=1, **fp),
                lambda m: _require(m["n_docs"] == w["n_docs"], f"neardup meta {m}")),
        ]

    def reads(self) -> list[Job]:
        from sparkit_learn_spark.operators import ann_index, funnel_store, neardup_index

        spark = self.ctx.spark
        topk = self.want["topk"]

        def probe():
            return ann_index.probe_index(
                spark, self.ann, self.read("probe_vecs"), k=gen.TOPK,
                corpus=spark.read.parquet(f"{self.dir}/base_vecs.parquet",
                                          f"{self.dir}/batch_vecs.parquet")).toPandas()

        def check_probe(pdf):
            got = pdf.groupby("qid")["nid"].apply(set)
            hits = sum(len(got.get(int(q), set()) & set(ids)) for q, ids in topk.items())
            recall = hits / (gen.TOPK * len(topk))
            self.ctx.recalls.append(recall)
            _require(recall >= RECALL_FLOOR, f"probe recall@{gen.TOPK} {recall:.3f}")

        def check_pairs(pdf):
            got = set(zip(pdf["batch_doc"], pdf["corpus_doc"]))
            missing = [p for p in self.want["exact_pairs"] if tuple(p) not in got]
            _require(not missing, f"candidate_pairs misses exact pairs {missing[:3]}")

        def check_admit(pdf):
            n = pdf.sort_values("stage")["n_docs"].tolist()
            _require(len(n) == 5 and n[0] == self.want["batch"]
                     and n[1] == self.want["new_texts"]
                     and all(a >= b for a, b in zip(n, n[1:])),
                     f"funnel stats {n}, want {self.want['batch']} raw and "
                     f"{self.want['new_texts']} new texts")
            self.admitted = n[4]

        return [
            self._job("ann_index.probe", probe, check_probe),
            self._job("neardup_index.candidate_pairs", lambda: neardup_index.candidate_pairs(
                self.read("batch_docs"), self.nd, run_id=1).toPandas(), check_pairs),
            self._job("funnel_store.admit_batch", lambda: funnel_store.admit_batch(
                self.read("batch_docs"), self.funnel, run_id=1).toPandas(), check_admit),
        ]

    def maintenance(self) -> list[Job]:
        from sparkit_learn_spark.operators import funnel_store, neardup_index

        spark = self.ctx.spark
        n_base = self.want["n_base_docs"]

        def check_funnel(counts):
            # the admitted docs' digests are new to the base and distinct
            want = self.want["base_texts"] + self.admitted
            _require(counts["digests"] == want, f"funnel compact {counts}, want {want} digests")

        return [
            self._job("neardup_index.expire", lambda: neardup_index.expire_neardup_run(
                spark, self.nd, run_id=1, new_fingerprint="r2"),
                lambda m: _require(m["n_docs"] == n_base, f"neardup meta {m}")),
            self._job("neardup_index.compact", lambda: neardup_index.compact_neardup_index(
                spark, self.nd),
                lambda m: _require(m["n_docs"] == n_base, f"neardup meta {m}")),
            self._job("funnel_store.compact", lambda: funnel_store.compact_funnel_store(
                spark, self.funnel), check_funnel),
        ]

    def live(self) -> dict:
        """Files and bytes on disk, and the bytes the live keys and
        codes need at their minimal encoding: per vector an 8-byte id
        and 8 one-byte PQ codes; per indexed doc 4 bands of an 8-byte
        id and 4 32-bit hashes; per funnel key (base and admitted
        texts) a 32-byte digest and a 32-byte fingerprint."""
        tree = _tree(self.root)
        w = self.want
        keys = w["base_texts"] + self.admitted
        return {"files_live": len(tree), "bytes_live": sum(s for s, _ in tree.values()),
                "live_key_bytes": w["n_vectors"] * 16 + w["n_base_docs"] * 4 * 24 + keys * 64}

#: probe_index recall@10 against exact numpy top-k: the tree this
#: benchmark was written against scores 0.99 or more on each of the 26
#: seeds tried.
RECALL_FLOOR = 0.95


#: typical warm pass wall time per workload on a 4-vCPU host, seconds
WARM_PASS_S = {"analytics": 7.0, "corpus_prep": 10.5}


class Plan:
    """Jobs of pass ``n`` (1 is the cold pass) and the jobs run once
    after the last pass."""

    def __init__(self, workload: str, ctx: Ctx):
        self.stores = None
        self.workload = workload
        if workload == "analytics":
            self.jobs = [query_job(q) for q in ANALYTICS]
        elif workload == "corpus_prep":
            self.jobs = ([query_job(q) for q in CORPUS]
                         + [_nb_pipeline_job(), _blocked_job()])
            with open(f"{ctx.data}/done.json") as f:
                self.stores = Stores(ctx, json.load(f)["store"])
        else:
            raise ValueError(f"unknown workload {workload!r}")

    def warm_passes(self, seconds: float) -> int:
        """Warm passes that fill ``seconds``, at least one."""
        return max(1, round(seconds / WARM_PASS_S[self.workload]))

    def pass_jobs(self, n: int) -> list[Job]:
        if self.stores is None:
            return self.jobs
        if n == 1:
            return self.stores.bootstrap() + self.stores.reads() + self.jobs
        return self.jobs

    def final_jobs(self) -> list[Job]:
        return self.stores.maintenance() if self.stores else []


def oracled_queries(workload: str) -> list[str]:
    return {"analytics": ANALYTICS, "corpus_prep": CORPUS}.get(workload, [])
