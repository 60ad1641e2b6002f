"""Seeded input generator for the benchmark workloads.

Writes the ten fixture tables (schemas and value domains as in
FIXTURES.md) at a size chosen per workload, plus, for corpus_prep, the
split the persisted stores ingest, and computes every oracle answer
the checks need with DuckDB and numpy. Nothing here is timed: the runner calls it before any
Spark process starts, and caches the result per (workload, seed).

The same seed always gives byte-identical tables. The seed also sets
the share of exact and near duplicates in the corpus, so workloads
differ in how much work dedup, clustering and candidate joins find.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import pickle

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: documents.text vocabulary of the fixture (FIXTURES.md: ~30 lowercase
#: words); "dup" only appears in near-duplicate copies, as it does there.
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "en", "en", "es", "de", "fr", "zh")
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
DIM = 64

#: rows per table. ``orders`` sets lineitem (1-7 lines per order).
SIZES = {
    "analytics": dict(customer=7_500, supplier=500, part=10_000,
                      orders=75_000, events=50_000, documents=200,
                      embeddings=200),
    "corpus_prep": dict(customer=300, supplier=20, part=400, orders=3_000,
                        events=2_000, documents=5_000, embeddings=2_000),
}

#: store split of the corpus_prep inputs: BASE_DOCS seeded docs and
#: BASE_VECS seeded vectors are the bootstrap base, BATCH more of each
#: are ingested as one batch, HELD_OUT further docs are the funnel
#: store's decontamination set, and PROBES vectors near the corpus
#: probe the ANN index. BASE_VECS is above write_index's default
#: codebook size (256), so every PQ code has several vectors.
BASE_DOCS = 1_000
BASE_VECS = 400
BATCH = 100
HELD_OUT = 50
PROBES = 32
TOPK = 10


def _pick(rng, choices, n: int) -> np.ndarray:
    return np.asarray(choices)[rng.integers(0, len(choices), n)]


def _write(table: pa.Table, path: str, row_group: int = 50_000) -> None:
    pq.write_table(table, path, row_group_size=row_group)


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "D")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _texts(rng, n: int, dup_share: float) -> list[str]:
    """Random token docs; a ``dup_share`` of them copy an earlier doc,
    half verbatim (exact duplicates) and half with one token changed
    and " dup" appended (near duplicates)."""
    out: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            src = out[int(rng.integers(0, i))].split(" ")
            if rng.random() < 0.5:
                out.append(" ".join(src))
                continue
            src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            out.append(" ".join(src + ["dup"]))
            continue
        k = int(rng.integers(10, 101))
        out.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return out


def _vectors(rng, labels: np.ndarray, dup_share: float) -> np.ndarray:
    """Unit vectors clustered by label (one Gaussian per label), as the
    IVF recall calibration of the similarity operators assumes; a
    ``dup_share`` of them are near copies of an earlier vector."""
    centers = rng.standard_normal((10, DIM))
    X = centers[labels] + 0.6 * rng.standard_normal((len(labels), DIM))
    for i in range(1, len(X)):
        if rng.random() < dup_share:
            X[i] = X[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(DIM)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    return X.astype(np.float32)


def _docs_table(rng, ids: np.ndarray, texts: list[str]) -> pa.Table:
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n),
        "source": _pick(rng, [f"src{j}" for j in range(20)], n),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _vec_table(ids: np.ndarray, X: np.ndarray, labels: np.ndarray) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(X), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out: str, seed: int, sizes: dict) -> dict:
    """Write the ten fixture tables under ``out``; return the
    generation parameters the seed chose."""
    rng = np.random.default_rng(seed)
    dup_share = float(rng.uniform(0.04, 0.12))
    n = sizes
    os.makedirs(out, exist_ok=True)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns),
    }), f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": _pick(rng, [f"Brand#{j}" for j in range(1, 26)], npart),
        "p_type": _pick(rng, TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
    }), f"{out}/part.parquet")

    odate = _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), no),
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": pa.array(odate.astype("datetime64[ms]"), pa.timestamp("ms")),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    }), f"{out}/orders.parquet")

    lines = 1 + rng.binomial(6, 0.5, no)
    lok = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    nl = len(lok)
    perm = rng.permutation(nl)
    ship = odate[lok] + rng.integers(1, 122, nl).astype("timedelta64[D]")
    _write(pa.table({
        "l_orderkey": pa.array(lok[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": pa.array(ship[perm].astype("datetime64[ms]"), pa.timestamp("ms")),
    }), f"{out}/lineitem.parquet")

    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]"))
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, min(1500, nc), ne), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": _pick(rng, [f'{{"k": {j}}}' for j in range(100)], ne),
    }), f"{out}/events.parquet")

    nd, nv = n["documents"], n["embeddings"]
    _write(_docs_table(rng, np.arange(nd), _texts(rng, nd, dup_share)),
           f"{out}/documents.parquet")
    labels = rng.integers(0, 10, nv)
    _write(_vec_table(np.arange(nv), _vectors(rng, labels, dup_share), labels),
           f"{out}/embeddings.parquet")
    return {"dup_share": round(dup_share, 4), "lineitem_rows": int(nl)}


def write_store_split(tables: str, out: str, seed: int) -> dict:
    """Base / batch / held-out / probe split of the corpus for the
    stores, with the oracle answers: the exact-duplicate pairs the
    batch must surface against the base and the batch docs whose text
    is new to the base (DuckDB), and each probe's exact top-k over
    base and batch vectors (numpy)."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(out, exist_ok=True)
    docs = pq.read_table(f"{tables}/documents.parquet")
    vecs = pq.read_table(f"{tables}/embeddings.parquet")
    nd, nv = BASE_DOCS, BASE_VECS
    pd_, pv = rng.permutation(docs.num_rows), rng.permutation(vecs.num_rows)
    doc_parts = {"base": pd_[:nd], "batch": pd_[nd:nd + BATCH],
                 "held_out": pd_[nd + BATCH:nd + BATCH + HELD_OUT]}
    vec_parts = {"base": pv[:nv], "batch": pv[nv:nv + BATCH]}
    texts = docs.column("text").to_pylist()
    # seeded exact re-ingest: a few batch docs repeat a base text
    for i in rng.choice(BATCH, 4, replace=False):
        texts[doc_parts["batch"][i]] = texts[int(rng.choice(doc_parts["base"]))]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text",
                           pa.array(texts, pa.string()))
    docs = docs.set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                           pa.array([len(t) for t in texts], pa.int64()))
    for name, ids in doc_parts.items():
        _write(docs.take(pa.array(np.sort(ids))), f"{out}/{name}_docs.parquet")
    for name, ids in vec_parts.items():
        _write(vecs.take(pa.array(np.sort(ids))), f"{out}/{name}_vecs.parquet")

    X = np.array(vecs.column("embedding").to_pylist(), dtype=np.float64)
    Q = X[rng.choice(vec_parts["base"], PROBES, replace=False)] \
        + 0.1 * rng.standard_normal((PROBES, DIM))
    Q = (Q / np.linalg.norm(Q, axis=1, keepdims=True)).astype(np.float32)
    qids = np.arange(2 * 10**6, 2 * 10**6 + PROBES)
    _write(_vec_table(qids, Q, np.zeros(PROBES, np.int32)), f"{out}/probe_vecs.parquet")

    base, batch = f"'{out}/base_docs.parquet'", f"'{out}/batch_docs.parquet'"
    pairs = duckdb.sql(f"SELECT b.doc_id, c.doc_id FROM {batch} b "
                       f"JOIN {base} c ON b.text = c.text").fetchall()
    # texts are lowercase words joined by single spaces, so the funnel
    # store's sha2(lower(trim(text))) digest is a function of the text
    new_texts, = duckdb.sql(f"SELECT count(DISTINCT text) FROM {batch} "
                            f"WHERE text NOT IN (SELECT text FROM {base})").fetchone()
    base_texts, = duckdb.sql(f"SELECT count(DISTINCT text) FROM {base}").fetchone()
    live = np.sort(np.concatenate([vec_parts["base"], vec_parts["batch"]]))
    sims = np.asarray(Q, np.float64) @ X[live].T
    top = live[np.argsort(-sims, axis=1, kind="stable")[:, :TOPK]]
    return {"n_base_docs": int(nd), "n_docs": int(nd + BATCH),
            "n_base_vecs": int(nv), "n_vectors": int(nv + BATCH), "batch": BATCH,
            "base_texts": int(base_texts), "new_texts": int(new_texts),
            "exact_pairs": sorted([int(a), int(b)] for a, b in pairs),
            "topk": {int(q): [int(v) for v in row] for q, row in zip(qids, top)}}


def cosine_topk(tables: str, k: int = 5) -> pd.DataFrame:
    """The registered DuckDB oracle of ``q_llm_cosine_topk`` in numpy:
    per vector, the ``k`` other vectors of largest dot product rounded
    to 6 dp, ties broken by lower id. DuckDB's all-pairs list lambda
    takes ~12 s on 2k vectors; this takes ~0.2 s."""
    t = pq.read_table(f"{tables}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id").to_pylist(), np.int64)
    X = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    ids, X = ids[order], X[order]
    S = np.round(X @ X.T, 6)
    np.fill_diagonal(S, -np.inf)
    top = np.argsort(-S, axis=1, kind="stable")[:, :k]  # stable: lower id first
    n = len(ids)
    return pd.DataFrame({
        "qid": np.repeat(ids, k), "nid": ids[top].ravel(),
        "sim": np.take_along_axis(S, top, 1).ravel(),
        "rn": np.tile(np.arange(1, k + 1, dtype=np.int64), n)})


#: oracles computed in numpy instead of by their registered DuckDB SQL
NUMPY_ORACLES = {"q_llm_cosine_topk": cosine_topk}


def oracle_frames(tables: str, names: list[str], spill_dir: str) -> dict:
    """Oracle result per registered query name, as pandas frames: the
    registered DuckDB SQL, or its numpy equivalent where DuckDB is slow."""
    from sparkit_learn_spark.registry import all_oracles
    from sparkit_learn_spark.testing import duck_connect

    oracles = all_oracles()
    con = duck_connect(tables, memory_limit="2GB", temp_directory=spill_dir,
                       max_temp_size="2GB")
    con.execute("SET threads=2")
    try:
        return {q: NUMPY_ORACLES[q](tables) if q in NUMPY_ORACLES else con.sql(oracles[q]).df()
                for q in names if q in oracles}
    finally:
        con.close()


def prepare(root: str, workload: str, seed: int, oracled: list[str]) -> str:
    """Generate (or reuse) the inputs for one workload and seed; return
    the directory holding them. ``done.json`` marks a complete cache."""
    out = os.path.join(root, f"{workload}-{seed}")
    if os.path.exists(f"{out}/done.json"):
        return out
    tables = f"{out}/tables"
    info = write_tables(tables, seed, SIZES[workload])
    if workload == "corpus_prep":
        info["store"] = write_store_split(tables, f"{out}/store", seed)
    with open(f"{out}/oracles.pkl", "wb") as f:
        pickle.dump(oracle_frames(tables, oracled, f"{out}/duck_spill"), f)
    with open(f"{out}/done.json", "w") as f:
        json.dump(info, f)
    return out
