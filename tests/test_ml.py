"""sklearn/numpy local-oracle equivalence tests — the reference's own
test strategy (SURVEY §5.1: fit both on the same data, assert
almost-equal), applied to our ML operators at sf0.001.

sklearn is optional in the container; every sklearn comparison is
gated behind an import-try and falls back to a numpy reimplementation
of the sklearn formula (which is exact for these estimators).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from sparkit_learn_spark.registry import all_queries

try:
    import sklearn  # noqa: F401

    HAVE_SKLEARN = True
except ImportError:
    HAVE_SKLEARN = False

Q = all_queries()


@pytest.fixture(scope="module")
def docs_pdf(duck):
    return duck.sql("SELECT doc_id, text FROM documents ORDER BY doc_id").df()


@pytest.fixture(scope="module")
def emb_pdf(duck):
    pdf = duck.sql("SELECT vec_id, embedding, label FROM embeddings ORDER BY vec_id").df()
    X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    return pdf, X


def test_tfidf_matches_sklearn_formula(spark, sf_dir, docs_pdf):
    """tfidf = tf * (ln((1+N)/(1+df)) + 1) — sklearn smooth_idf,
    norm=None. Recompute locally from raw text and compare all cells."""
    got = Q["q_ml_tfidf"](spark, sf_dir).toPandas()
    n_docs = len(docs_pdf)
    tf: dict[tuple[int, str], int] = {}
    df: dict[str, set] = {}
    for _, row in docs_pdf.iterrows():
        for t in row["text"].split(" "):
            tf[(row["doc_id"], t)] = tf.get((row["doc_id"], t), 0) + 1
            df.setdefault(t, set()).add(row["doc_id"])
    assert len(got) == len(tf)
    for _, r in got.sample(min(500, len(got)), random_state=0).iterrows():
        expect = tf[(r["doc_id"], r["term"])] * (
            math.log((1 + n_docs) / (1 + len(df[r["term"]]))) + 1
        )
        assert abs(r["tfidf"] - round(expect, 6)) < 1e-6


@pytest.mark.skipif(not HAVE_SKLEARN, reason="sklearn not installed")
def test_tfidf_matches_sklearn_transformer(spark, sf_dir, docs_pdf):
    from sklearn.feature_extraction.text import CountVectorizer, TfidfTransformer

    cv = CountVectorizer(analyzer=lambda s: s.split(" "))
    counts = cv.fit_transform(docs_pdf["text"])
    tfidf = TfidfTransformer(norm=None, smooth_idf=True).fit_transform(counts)
    vocab = cv.vocabulary_
    got = Q["q_ml_tfidf"](spark, sf_dir).toPandas()
    doc_pos = {d: i for i, d in enumerate(docs_pdf["doc_id"])}
    for _, r in got.sample(min(300, len(got)), random_state=1).iterrows():
        expect = tfidf[doc_pos[r["doc_id"]], vocab[r["term"]]]
        assert abs(r["tfidf"] - expect) < 1e-5


def test_multinomial_nb_matches_formula(spark, sf_dir, duck):
    """log_prob(label, term) = ln((c+1)/(total+V)) — MultinomialNB
    feature_log_prob_ with alpha=1."""
    got = Q["q_ml_multinomial_nb"](spark, sf_dir).toPandas()
    base = duck.sql(
        """
        SELECT e.label AS label, unnest(string_split(d.text,' ')) AS term
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        """
    ).df()
    V = base["term"].nunique()
    counts = base.groupby(["label", "term"]).size()
    totals = base.groupby("label").size()
    for _, r in got.sample(min(300, len(got)), random_state=2).iterrows():
        expect = math.log(
            (counts[(r["label"], r["term"])] + 1) / (totals[r["label"]] + V)
        )
        assert abs(r["log_prob"] - round(expect, 6)) < 1e-6


def test_gaussian_nb_stats_match_numpy(spark, sf_dir, emb_pdf):
    pdf, X = emb_pdf
    got = Q["q_ml_gaussian_nb_stats"](spark, sf_dir).toPandas()
    labels = pdf["label"].to_numpy()
    for lbl in np.unique(labels):
        sub = X[labels == lbl]
        g = got[got["label"] == lbl].sort_values("dim")
        np.testing.assert_allclose(g["mean_val"], np.round(sub.mean(axis=0), 6), atol=1e-6)
        np.testing.assert_allclose(g["var_val"], np.round(sub.var(axis=0, ddof=0), 6), atol=1e-6)
        assert (g["n"] == len(sub)).all()


def test_variance_threshold_matches_numpy(spark, sf_dir, emb_pdf):
    _, X = emb_pdf
    got = Q["q_ml_variance_threshold"](spark, sf_dir).toPandas()
    var = X.var(axis=0, ddof=1)
    expect_dims = set(np.where(var > 0.015)[0])
    assert set(got["dim"]) == expect_dims


def test_linreg_1d_matches_numpy(spark, sf_dir, duck):
    got = Q["q_ml_linreg_1d"](spark, sf_dir).toPandas().iloc[0]
    li = duck.sql("SELECT l_quantity x, l_extendedprice y FROM lineitem").df()
    slope, intercept = np.polyfit(li["x"], li["y"], 1)
    assert abs(got["slope"] - slope) < 1e-4
    assert abs(got["intercept"] - intercept) < 1e-2


def test_svd_topk_matches_numpy(spark, sf_dir, emb_pdf):
    _, X = emb_pdf
    got = Q["q_ml_svd_topk"](spark, sf_dir).toPandas().sort_values("rank")
    expect = np.linalg.svd(X, compute_uv=False)[:8]
    np.testing.assert_allclose(got["singular_value"], expect, rtol=1e-3)


def test_kmeans_inertia_reasonable(spark, sf_dir, emb_pdf):
    """Cluster sizes sum to n and no degenerate giant/empty clusters;
    vs sklearn KMeans inertia when available."""
    pdf, X = emb_pdf
    got = Q["q_ml_kmeans"](spark, sf_dir).toPandas()
    assert got["n"].sum() == len(pdf)
    assert len(got) == 5
    if HAVE_SKLEARN:
        from sklearn.cluster import KMeans as SkKMeans

        sk = SkKMeans(n_clusters=5, n_init=3, random_state=0).fit(X)
        sizes = np.sort(np.bincount(sk.labels_))[::-1]
        ours = np.sort(got["n"].to_numpy())[::-1]
        # same clustering problem — size distributions should be close
        assert abs(int(ours[0]) - int(sizes[0])) < len(pdf) * 0.3


def test_logreg_accuracy(spark, sf_dir, emb_pdf):
    pdf, X = emb_pdf
    got = Q["q_ml_logreg"](spark, sf_dir).toPandas()
    correct = got[got["label"] == got["prediction"]]["n"].sum()
    acc = correct / got["n"].sum()
    if HAVE_SKLEARN:
        from sklearn.linear_model import LogisticRegression as SkLR

        y = (pdf["label"] < 5).astype(int)
        sk_acc = SkLR(max_iter=200).fit(X, y).score(X, y)
        assert acc >= sk_acc - 0.05
    else:
        assert acc >= 0.5  # must beat the coin at minimum


def test_hashing_tf_properties(spark, sf_dir, duck):
    got = Q["q_ml_hashing_tf"](spark, sf_dir).toPandas()
    again = Q["q_ml_hashing_tf"](spark, sf_dir).toPandas()
    # deterministic
    a = got.sort_values(["doc_id", "bucket"]).reset_index(drop=True)
    b = again.sort_values(["doc_id", "bucket"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert got["bucket"].between(0, 1023).all()
    n_tokens = duck.sql(
        "SELECT COUNT(*) c FROM (SELECT unnest(string_split(text,' ')) FROM documents)"
    ).fetchone()[0]
    assert got["tf"].sum() == n_tokens


def test_approx_count_distinct_error(spark, sf_dir, duck):
    got = Q["q_agg_approx_cd"](spark, sf_dir).toPandas().set_index("l_returnflag")
    exact = duck.sql(
        "SELECT l_returnflag, COUNT(DISTINCT l_partkey) c FROM lineitem GROUP BY 1"
    ).df().set_index("l_returnflag")
    for flag in exact.index:
        rel_err = abs(got.loc[flag, "approx_parts"] - exact.loc[flag, "c"]) / exact.loc[flag, "c"]
        assert rel_err < 0.1


def test_minhash_finds_crafted_near_dups(spark):
    """Ground-truth recall check: 3 near-dup pairs (1-2 token edits in
    30-token docs) + unrelated docs; MinHash must surface all pairs
    and no unrelated ones at jaccard_dist ≤ 0.6."""
    from sparkit_learn_spark.operators.dedup import minhash_candidate_pairs

    base = "spark join filter window batch stream shuffle partition " \
           "broadcast hash sort merge scan prune push codegen arrow " \
           "vector column row group page footer stat index bloom dict " \
           "rle bit pack frame"
    toks = base.split(" ")
    near1 = " ".join(toks[:-1] + ["tail"])
    near2 = " ".join(["head"] + toks[1:])
    other = " ".join(reversed([t + "x" for t in toks]))
    docs = spark.createDataFrame(
        [(1, base), (2, near1), (3, near2), (4, other)],
        schema="doc_id long, text string",
    )
    pairs = minhash_candidate_pairs(docs, max_jaccard_dist=0.6).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs["doc_a"], pairs["doc_b"])}
    assert (1, 2) in found and (1, 3) in found
    assert not any(4 in p for p in found)


def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    """LSH neighbor pairs at euclidean radius 1.0 (cos ≥ 0.5) must
    recover ≥80% of the true pairs from the brute-force baseline."""
    from sparkit_learn_spark.catalog import load_table
    from sparkit_learn_spark.operators.similarity import ann_lsh_neighbors
    from sparkit_learn_spark.functions.vector import dot
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    truth = (
        a.join(b, F.col("ia") < F.col("ib"))
        .withColumn("sim", dot("va", "vb"))
        .filter(F.col("sim") >= 0.5)
        .select("ia", "ib")
        .toPandas()
    )
    true_pairs = {tuple(r) for r in truth.itertuples(index=False)}
    got = ann_lsh_neighbors(e, radius=1.0).toPandas()
    got_pairs = {
        tuple(sorted((a_, b_)))
        for a_, b_ in zip(got["vec_id_a"], got["vec_id_b"])
    }
    if not true_pairs:
        pytest.skip("no true pairs at this threshold in fixture")
    recall = len(true_pairs & got_pairs) / len(true_pairs)
    assert recall >= 0.8


def test_simhash_near_dups_have_small_hamming(spark, sf_dir):
    """Crafted near-dups (1-token edits) must pair with small Hamming
    distance; the registered query must be deterministic."""
    from sparkit_learn_spark.registry import all_queries

    got = all_queries()["q_llm_simhash_dedup"](spark, sf_dir).toPandas()
    again = all_queries()["q_llm_simhash_dedup"](spark, sf_dir).toPandas()
    key = lambda p: sorted(map(tuple, p[["doc_a", "doc_b", "hamming"]].to_numpy()))
    assert key(got) == key(again)
    assert (got["hamming"] <= 8).all()


def test_ngram_jaccard_agrees_with_minhash_direction(spark, sf_dir):
    """Exact Jaccard pairs at sim>=0.4 should be (mostly) recovered by
    the MinHash candidate generator at distance<=0.6."""
    from sparkit_learn_spark.registry import all_queries

    exact = all_queries()["q_llm_ngram_jaccard"](spark, sf_dir).toPandas()
    strong = exact[exact["jaccard"] >= 0.4]
    if strong.empty:
        pytest.skip("no strong near-dup pairs in fixture")
    mh = all_queries()["q_llm_minhash_dedup"](spark, sf_dir).toPandas()
    mh_pairs = {tuple(sorted((a, b))) for a, b in zip(mh["doc_a"], mh["doc_b"])}
    strong_pairs = {tuple(sorted((a, b))) for a, b in zip(strong["doc_a"], strong["doc_b"])}
    recall = len(strong_pairs & mh_pairs) / len(strong_pairs)
    assert recall >= 0.7


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    """IVF with n_probe=6/16 lists must recover ≥60% of exact top-5
    neighbors (recall rises with n_probe; exact at n_probe=n_lists)."""
    from sparkit_learn_spark.catalog import load_table
    from sparkit_learn_spark.operators.similarity import cosine_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    exact = cosine_topk(emb, k=5).toPandas()
    approx = ivf_topk(emb, k=5, n_lists=16, n_probe=6).toPandas()
    exact_pairs = {(q, n) for q, n in zip(exact["qid"], exact["nid"])}
    approx_pairs = {(q, n) for q, n in zip(approx["qid"], approx["nid"])}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.6


def _clustered_embeddings(spark, *, n=1200, n_clusters=30, dim=16, seed=7):
    """Deterministic mixture-of-Gaussians fixture: the CLUSTERED data
    shape IVF exists for (real text/image embeddings cluster; uniform
    random vectors are the coarse quantizer's theoretical worst case,
    where no sublinear index beats a corpus scan). Unit-normalized so
    dot = cosine."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, size=n)
    X = centers[labels] + 0.15 * rng.normal(size=(n, dim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    rows = [(int(i), [float(v) for v in X[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_topk_autosized_recall_and_balance(spark, sf_dir):
    """n_lists=None auto-sizes to ≈√n lists and ≈√n_lists probes (no
    magic constant at call sites); recall ≥ 0.6 must hold at the auto
    default on a CLUSTERED fixture — this is the calibration that
    justifies the O(√n_lists) probe schedule (a fixed ⅓-of-lists
    fraction would score a constant share of a 100 TB corpus per
    query, which is brute force with extra steps)."""
    import math

    from sparkit_learn_spark.operators.similarity import (
        auto_ivf_params,
        cosine_topk,
        ivf_topk,
    )

    emb = _clustered_embeddings(spark)
    n = emb.count()
    n_lists, n_probe = auto_ivf_params(n)
    assert abs(n_lists - math.sqrt(n)) <= 1 and 4 <= n_probe <= n_lists
    assert n_probe <= math.sqrt(n_lists) + 1  # sublinear probe schedule

    exact = cosine_topk(emb, k=5).toPandas()
    approx = ivf_topk(emb, k=5).toPandas()          # auto-sized
    exact_pairs = {(q, n_) for q, n_ in zip(exact["qid"], exact["nid"])}
    approx_pairs = {(q, n_) for q, n_ in zip(approx["qid"], approx["nid"])}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.6


def test_ivf_pq_topk_recall_and_determinism(spark, sf_dir):
    """IVF-PQ (8-byte codes in the scoring shuffle + exact re-rank)
    must hit recall ≥ 0.6 at auto sizing on the clustered fixture and
    return identical results across runs (seeded quantizers, stable
    tiebreaks)."""
    import pandas as pd

    from sparkit_learn_spark.operators.similarity import cosine_topk, ivf_pq_topk

    emb = _clustered_embeddings(spark)
    exact = cosine_topk(emb, k=5).toPandas()
    key = ["qid", "rn"]
    a = ivf_pq_topk(emb, k=5).toPandas().sort_values(key).reset_index(drop=True)
    b = ivf_pq_topk(emb, k=5).toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    exact_pairs = {(q, n) for q, n in zip(exact["qid"], exact["nid"])}
    pq_pairs = {(q, n) for q, n in zip(a["qid"], a["nid"])}
    recall = len(exact_pairs & pq_pairs) / len(exact_pairs)
    assert recall >= 0.6
    # re-ranked sims are EXACT: every emitted (qid, nid) sim must match
    # the brute-force value for that pair
    exact_sim = {(q, n): s for q, n, s in
                 zip(exact["qid"], exact["nid"], exact["sim"])}
    for q, n, s in zip(a["qid"], a["nid"], a["sim"]):
        if (q, n) in exact_sim:
            assert abs(exact_sim[(q, n)] - s) < 1e-9


def test_ivf_pq_recall_at_least_ivf(spark, sf_dir):
    """q_llm_ann defaults to IVF-PQ; that promotion is only honest if
    the compressed index does not COST recall vs the plain-IVF
    baseline on the clustered fixture (both seeded → deterministic)."""
    from sparkit_learn_spark.operators.similarity import (
        cosine_topk, ivf_pq_topk, ivf_topk,
    )

    emb = _clustered_embeddings(spark)
    exact = cosine_topk(emb, k=5).toPandas()
    exact_pairs = {(q, n) for q, n in zip(exact["qid"], exact["nid"])}

    def recall(df):
        pairs = {(q, n) for q, n in zip(df["qid"], df["nid"])}
        return len(exact_pairs & pairs) / len(exact_pairs)

    r_ivf = recall(ivf_topk(emb, k=5).toPandas())
    r_pq = recall(ivf_pq_topk(emb, k=5).toPandas())
    assert r_pq >= r_ivf, f"IVF-PQ recall {r_pq} < IVF recall {r_ivf}"


def test_ivf_list_balance_metric(spark, sf_dir):
    """The balance diagnostic flags a healthy quantizer (cv < 2,
    max_frac < 0.5 on the fixture) and sums to the corpus size."""
    from pyspark.sql import functions as F

    from sparkit_learn_spark.catalog import load_table
    from sparkit_learn_spark.operators.similarity import ivf_list_balance

    emb = load_table(spark, sf_dir, "embeddings")
    # a synthetic assignment via hash buckets — the metric is about
    # the assignment DataFrame shape, not the quantizer itself
    assign = emb.select(
        F.col("vec_id").alias("vid"), (F.abs(F.hash("vec_id")) % 16).alias("list_id")
    )
    stats = ivf_list_balance(assign)
    assert stats["n_lists"] == 16
    assert stats["cv"] < 2.0 and stats["max_frac"] < 0.5
    assert stats["min"] >= 1 and stats["max"] >= stats["min"]


def test_cosine_topk_sharded_bit_identical(spark, sf_dir):
    """The distributed exact path (no driver collect, no full-table
    broadcast) must return BIT-IDENTICAL results to the broadcast fast
    path, and the row-count guard must fail over to it transparently."""
    import pandas as pd

    from sparkit_learn_spark.catalog import load_table
    from sparkit_learn_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_sharded,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    key = ["qid", "rn"]
    a = cosine_topk(emb, k=5).toPandas().sort_values(key).reset_index(drop=True)
    b = cosine_topk_sharded(emb, k=5).toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # guard: max_broadcast_rows=0 forces the sharded path inside cosine_topk
    c = (cosine_topk(emb, k=5, max_broadcast_rows=0)
         .toPandas().sort_values(key).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, c)


def test_ivf_topk_is_collect_free(spark, sf_dir):
    """The IVF index must keep the corpus distributed: no RDD collect
    of the vector table — only the n_lists×d centroid matrix may reach
    the driver. Guarded by source inspection (collect() call sites)."""
    import inspect

    from sparkit_learn_spark.operators import similarity

    src = inspect.getsource(similarity.ivf_topk)
    assert ".collect()" not in src
    src_sharded = inspect.getsource(similarity.cosine_topk_sharded)
    assert ".collect()" not in src_sharded
    # quantizer/codebook training MAY collect — but only through the
    # one helper whose limit() bakes the DRIVER_TRAIN_CAP bound into
    # the plan
    src_sample = inspect.getsource(similarity._collect_bounded_sample)
    assert ".limit(DRIVER_TRAIN_CAP).collect()" in src_sample
    assert src_sample.count(".collect()") == 1
    for fn in (similarity._train_coarse_quantizer, similarity.ivf_pq_topk):
        assert ".collect()" not in inspect.getsource(fn)
    # the shared training, routing, encode, ADC and refine kernels that
    # ivf_topk, ivf_pq_topk and the persisted index all run stay
    # collect-free too
    from sparkit_learn_spark.operators import ann_index

    for fn in (similarity._train_sample, similarity._train_pq,
               similarity._ivf_input, similarity._vec_frame,
               similarity._list_dist, similarity._route,
               similarity._pq_encode, similarity._adc_topk,
               similarity._excluded_topk, similarity._block_topk,
               similarity._exact_refine, ann_index._encode_frame,
               ann_index.train_quantizer, ann_index.write_index,
               ann_index.append_to_index):
        assert ".collect()" not in inspect.getsource(fn), fn.__name__
    # across both modules the only driver collects are the bounded
    # training sample, the size-guarded broadcast top-k, probe_index's
    # ≤100k query panel and panel_all_sims' bounded eval panel
    collectors = {
        f"{mod.__name__.rsplit('.', 1)[1]}.{name}"
        for mod in (similarity, ann_index)
        for name, fn in inspect.getmembers(mod, inspect.isfunction)
        if fn.__module__ == mod.__name__
        and ".collect()" in inspect.getsource(fn)
    }
    assert collectors == {"similarity._collect_bounded_sample",
                          "similarity._broadcast_topk",
                          "similarity.panel_all_sims",
                          "ann_index.probe_index"}, collectors
    assert "100_000" in inspect.getsource(ann_index.probe_index)


def test_similarity_kernels_unpickle_without_the_package(tmp_path):
    """Worker closures call similarity's module-level kernels, so the
    kernels must pickle BY VALUE: an executor that cannot import this
    package (a driver started from another cwd) still runs them."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    from sparkit_learn_spark.operators import similarity

    code = ("import pickle, sys; import numpy as np; "
            "f = pickle.loads(sys.stdin.buffer.read()); "
            "ids = np.array([0, 1]); "
            "print(len(f(np.eye(2), ids, np.eye(2), ids, 1)))")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", code],
                         input=cloudpickle.dumps(similarity._block_topk),
                         cwd=tmp_path, env=env, capture_output=True)
    assert out.returncode == 0, out.stderr.decode()[-500:]
    assert out.stdout.strip() == b"2"


def test_approx_quantiles_error_bound(spark, sf_dir, duck):
    got = Q["q_agg_approx_quantiles"](spark, sf_dir).toPandas().set_index("o_orderstatus")
    exact = duck.sql(
        """
        SELECT o_orderstatus,
               quantile_cont(o_totalprice, 0.5) p50,
               quantile_cont(o_totalprice, 0.9) p90,
               quantile_cont(o_totalprice, 0.99) p99
        FROM orders GROUP BY 1
        """
    ).df().set_index("o_orderstatus")
    for s in exact.index:
        for c in ("p50", "p90", "p99"):
            assert abs(got.loc[s, c] - exact.loc[s, c]) / exact.loc[s, c] < 0.02


def test_minhash_banded_agrees_with_exact_jaccard(spark, sf_dir):
    """Banded-MinHash output must (a) report EXACT distances for the
    pairs it emits (subset of the exact-Jaccard pair list) and
    (b) recover ≥80% of strong pairs (sim ≥ 0.5)."""
    exact = Q["q_llm_ngram_jaccard"](spark, sf_dir).toPandas()
    banded = Q["q_llm_minhash_banded"](spark, sf_dir).toPandas()
    exact_map = {
        tuple(sorted((a, b))): j
        for a, b, j in zip(exact["doc_a"], exact["doc_b"], exact["jaccard"])
    }
    for _, r in banded.iterrows():
        key = tuple(sorted((r["doc_a"], r["doc_b"])))
        assert key in exact_map, f"banded emitted non-candidate pair {key}"
        assert abs((1 - r["jaccard_dist"]) - exact_map[key]) < 1e-3
    strong = {k for k, j in exact_map.items() if j >= 0.5}
    if strong:
        found = {tuple(sorted((a, b))) for a, b in zip(banded["doc_a"], banded["doc_b"])}
        assert len(strong & found) / len(strong) >= 0.8


def test_minhash_banded_crafted_near_dups(spark):
    from sparkit_learn_spark.operators.dedup import minhash_banded_pairs

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            "kilo lima mike november oscar papa quebec romeo sierra tango "
            "uniform victor whiskey xray yankee zulu one two three four")
    toks = base.split(" ")
    near = " ".join(toks[:-1] + ["changed"])
    other = " ".join(reversed([t + "q" for t in toks]))
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], schema="doc_id long, text string"
    )
    pairs = minhash_banded_pairs(docs).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs["doc_a"], pairs["doc_b"])}
    assert (1, 2) in found
    assert not any(3 in p for p in found)


def test_mmr_rerank_matches_numpy_greedy(spark, sf_dir):
    """MMR re-rank == explicit numpy greedy on the same candidates:
    same picks, same ranks, for every query in the clustered fixture."""
    import numpy as np

    from sparkit_learn_spark.operators.similarity import cosine_topk, mmr_rerank

    emb = _clustered_embeddings(spark)
    fetch, k, lam = 10, 3, 0.7
    got = mmr_rerank(emb, k=k, fetch=fetch, lam=lam).toPandas()
    cand = cosine_topk(emb, k=fetch).toPandas()
    vecs = {int(r["vec_id"]): np.asarray(r["embedding"], np.float64)
            for r in emb.collect()}

    for qid, g in cand.groupby("qid"):
        g = g.sort_values(["sim", "nid"], ascending=[False, True])
        nids = g["nid"].to_numpy()
        sims = g["sim"].to_numpy(np.float64)
        C = np.array([vecs[int(n)] for n in nids])
        pen = np.zeros(len(nids))
        avail = np.ones(len(nids), dtype=bool)
        expect = []
        for _ in range(min(k, len(nids))):
            score = lam * sims - (1 - lam) * pen
            score[~avail] = -np.inf
            j = int(np.argmax(np.round(score, 9)))
            expect.append(int(nids[j]))
            avail[j] = False
            pen = np.maximum(pen, np.round(C @ C[j], 6))
        mine = (got[got["qid"] == qid].sort_values("mmr_rank")["nid"]
                .astype(int).tolist())
        assert mine == expect, (qid, mine, expect)
    # diversity sanity: for at least one query MMR must deviate from
    # pure relevance order (the clustered fixture has redundant docs)
    plain = {q: g.sort_values(["sim", "nid"], ascending=[False, True])["nid"]
                 .head(k).astype(int).tolist()
             for q, g in cand.groupby("qid")}
    assert any(
        got[got["qid"] == q].sort_values("mmr_rank")["nid"].astype(int).tolist()
        != plain[q] for q in plain
    )


def test_mmr_candidates_batched_ties_and_short_groups(spark):
    """Focused pin for the r11 batched greedy (collect_list +
    mapInPandas replaced per-group applyInPandas): tie-heavy sims must
    break on nid exactly as the old sort_values order did, groups with
    fewer candidates than k emit all of them, and every group in one
    Arrow batch is processed independently."""
    from sparkit_learn_spark.operators.similarity import mmr_rerank_candidates

    # qid 1: all sims EQUAL -> picks must walk nid ascending (rank 1
    # is nid 10; later ranks re-score with the diversity penalty but
    # the identical vectors keep scores tied, so nid order persists).
    # qid 2: two candidates with k=3 -> exactly two output rows.
    cand = spark.createDataFrame(
        [(1, 10, 0.5), (1, 11, 0.5), (1, 12, 0.5),
         (2, 20, 0.9), (2, 21, 0.3)],
        schema="qid long, nid long, sim double",
    )
    emb = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [1.0, 0.0]), (12, [1.0, 0.0]),
         (20, [0.0, 1.0]), (21, [1.0, 0.0])],
        schema="vec_id long, embedding array<double>",
    )
    got = mmr_rerank_candidates(cand, emb, k=3, lam=0.7).toPandas()
    g1 = got[got["qid"] == 1].sort_values("mmr_rank")
    assert g1["nid"].tolist() == [10, 11, 12]
    assert g1["mmr_rank"].tolist() == [1, 2, 3]
    g2 = got[got["qid"] == 2].sort_values("mmr_rank")
    assert g2["nid"].tolist() == [20, 21]
    assert float(g2["diversity_penalty"].iloc[0]) == 0.0


def test_roc_auc_matches_numpy_ranksum(spark, sf_dir):
    """The distributed rank-sum AUC equals a numpy Mann-Whitney
    reference (average ranks, same 6dp score binning) on the same
    model scores."""
    import numpy as np

    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F
    from sparkit_learn_spark.queries.ml_mllib import _vectors
    from sparkit_learn_spark.registry import all_queries

    got = all_queries()["q_ml_roc_auc"](spark, sf_dir).toPandas().iloc[0]

    vec = _vectors(spark, sf_dir)
    model = LogisticRegression(featuresCol="features", labelCol="binlabel",
                               maxIter=50, regParam=0.01).fit(vec)
    pdf = model.transform(vec).select(
        F.col("binlabel").alias("y"),
        F.round(F.element_at(vector_to_array("probability"), 2), 6).alias("p"),
    ).toPandas()
    y = pdf["y"].to_numpy(float)
    p = pdf["p"].to_numpy(float)
    uniq, inv, cnt = np.unique(p, return_inverse=True, return_counts=True)
    pos = np.zeros(len(uniq))
    np.add.at(pos, inv, y)
    cum_before = np.concatenate(([0.0], np.cumsum(cnt)[:-1]))
    avg_rank = cum_before + (cnt + 1) / 2
    P, N = y.sum(), (1 - y).sum()
    auc = (float((pos * avg_rank).sum()) - P * (P + 1) / 2) / (P * N)
    assert got["n_pos"] == int(P) and got["n_neg"] == int(N)
    assert abs(got["auc"] - round(auc, 6)) < 1e-6
    assert 0.5 < got["auc"] <= 1.0  # the model must actually separate


def test_kmeans_elbow_monotone_and_deterministic(spark, sf_dir):
    """Inertia must strictly decrease with k (seeded fits), and the
    sweep reproduces exactly."""
    from sparkit_learn_spark.registry import all_queries

    q = all_queries()["q_ml_kmeans_elbow"]
    got = q(spark, sf_dir).toPandas().sort_values("k")
    iner = got["inertia"].tolist()
    assert iner == sorted(iner, reverse=True)
    assert iner[0] > iner[-1]
    assert (got["silhouette"].between(-1, 1)).all()
    assert q(spark, sf_dir).toPandas().sort_values("k").equals(got)


def test_semdedup_within_cluster_exactness(spark, sf_dir):
    """SemDeDup invariants vs the brute-force cosine>=0.4 pair truth:
    (a) one row per vector, keep XOR dup_of; (b) dup_of points at a
    KEPT, SMALLER id; (c) a vector outside every true dup pair is
    never dropped; (d) THE CONTRACT: every true pair whose two sides
    landed in the SAME cluster is deduped (at most one keeper) — the
    within-cluster pass is exact; only cross-cluster splits may
    survive (the paper's documented recall/cost trade — this fixture
    has no cosine>=0.8 pair, so dup groups are loose and splits are
    expected)."""
    from pyspark.sql import functions as F

    from sparkit_learn_spark.catalog import load_table
    from sparkit_learn_spark.functions.vector import dot
    from sparkit_learn_spark.operators.similarity import semdedup

    e = load_table(spark, sf_dir, "embeddings")
    out = semdedup(e, threshold=0.4, seed=42).toPandas()
    assert len(out) == e.count()
    assert out["vec_id"].is_unique
    kept = set(out.loc[out["keep"], "vec_id"])
    dropped = out[~out["keep"]]
    assert out.loc[out["keep"], "dup_of"].isna().all()
    assert dropped["dup_of"].notna().all()
    assert (dropped["dup_of"] < dropped["vec_id"]).all()
    assert set(dropped["dup_of"]).issubset(kept)
    # exact pair truth
    a = e.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    truth = (
        a.join(b, F.col("va") < F.col("vb"))
        .withColumn("sim", dot("ea", "eb"))
        .filter(F.col("sim") >= 0.4)
        .select("va", "vb")
        .toPandas()
    )
    in_pair = set(truth["va"]) | set(truth["vb"])
    # (c) never drop a vector with no true near-dup anywhere
    assert not (set(dropped["vec_id"]) - in_pair)
    # (d) same-cluster true pairs NEVER survive as two keepers
    cl = dict(zip(out["vec_id"], out["cluster_id"]))
    same_cluster = [
        (r.va, r.vb) for r in truth.itertuples(index=False)
        if cl[r.va] == cl[r.vb]
    ]
    assert same_cluster, "quantizer co-located no true pair — vacuous"
    violations = [(x, y) for x, y in same_cluster
                  if x in kept and y in kept]
    assert not violations, f"same-cluster pairs both kept: {violations}"
    # and at least one pair was actually deduped overall
    assert any(x not in kept or y not in kept
               for x, y in zip(truth["va"], truth["vb"]))


def test_semdedup_recall_audit_consistent(spark, sf_dir):
    """q_llm_semdedup_recall's numbers must be internally consistent
    and agree with q_llm_semdedup_stats' exact pair count."""
    from sparkit_learn_spark.registry import all_queries

    rec = all_queries()["q_llm_semdedup_recall"](spark, sf_dir).collect()[0]
    stats = all_queries()["q_llm_semdedup_stats"](spark, sf_dir).collect()[0]
    assert rec["n_true_pairs"] == stats["n_dup_pairs"]
    assert 0 <= rec["n_deduped"] <= rec["n_true_pairs"]
    assert abs(rec["recall"] - rec["n_deduped"] / rec["n_true_pairs"]) < 1e-6


def test_ann_lsh_capped_planted_neighbors(spark):
    """The r8 hand-rolled LSH must (a) recover planted near-identical
    pairs exactly, (b) honor the k-per-probe output bound, and (c)
    keep the candidate cap from dropping planted pairs when the cap
    exceeds the bucket population — deterministic synthetic fixture,
    no fixture-scale skip."""
    import numpy as np

    from sparkit_learn_spark.operators.similarity import ann_lsh_neighbors

    rng = np.random.RandomState(7)
    base = rng.standard_normal((40, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        w = v + 1e-3 * rng.standard_normal(16)  # planted near-dup
        w /= np.linalg.norm(w)
        rows.append((2 * i + 1, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = ann_lsh_neighbors(df, radius=0.1, num_hash_tables=6,
                            seed=3, k=5).toPandas()
    pairs = {tuple(sorted((a, b)))
             for a, b in zip(got["vec_id_a"], got["vec_id_b"])}
    expect = {(2 * i, 2 * i + 1) for i in range(40)}
    assert expect <= pairs, f"missing planted pairs: {expect - pairs}"
    # k bound: no probe emits more than 5 neighbors
    assert got.groupby("vec_id_a").size().max() <= 5
    # distances are true euclidean (spot-check one planted pair)
    row = got[(got["vec_id_a"] == 0) & (got["vec_id_b"] == 1)]
    if len(row):
        d_true = float(np.linalg.norm(
            np.array(rows[0][1]) - np.array(rows[1][1])))
        assert abs(row["dist"].iloc[0] - d_true) < 1e-5


def test_ann_lsh_bucket_cap_bounds_candidates(spark):
    """With a tiny bucket_cap, every probe's candidate fan-in per
    bucket is bounded: pair output stays <= k*n and the operator
    still returns (bounded-work contract, not recall, is the claim
    being pinned here)."""
    import numpy as np

    from sparkit_learn_spark.operators.similarity import ann_lsh_neighbors

    rng = np.random.RandomState(11)
    X = rng.standard_normal((300, 8))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<double>")
    got = ann_lsh_neighbors(df, radius=2.0, num_hash_tables=2,
                            seed=5, k=3, bucket_cap=16).toPandas()
    assert len(got) <= 3 * 300
    assert got.groupby("vec_id_a").size().max() <= 3
