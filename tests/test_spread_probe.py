"""catalog._scan_partitions — the analysis-only scan-partition
estimate that replaced the ``df.rdd.getNumPartitions()`` probe inside
``spread_scan`` (r12). The estimate must agree with the real scan on
the spread DECISION (``< parallelism``) for every fixture table, and
``spread_scan`` itself must still deliver the floor it promises."""

from __future__ import annotations

from sparkit_learn_spark.catalog import (
    TABLES,
    _scan_partitions,
    load_table,
    spread_scan,
)


def test_estimate_matches_real_probe_decision(spark, sf_dir):
    p = spark.sparkContext.defaultParallelism
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        est = _scan_partitions(df)
        real = df.rdd.getNumPartitions()
        assert (est < p) == (real < p), (
            f"{t}: estimate {est} vs real {real} flip the spread "
            f"decision at parallelism {p}"
        )


def test_estimate_survives_projection(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert _scan_partitions(d) == d.rdd.getNumPartitions()


def test_spread_scan_still_spreads(spark, sf_dir):
    p = spark.sparkContext.defaultParallelism
    d = spread_scan(load_table(spark, sf_dir, "documents"))
    assert d.rdd.getNumPartitions() >= min(p, 2)
    capped = spread_scan(load_table(spark, sf_dir, "documents"), cap=4)
    assert capped.rdd.getNumPartitions() == min(p, 4)


def test_non_file_frame_falls_back(spark):
    # a frame with no file leaves (in-memory range) must not crash —
    # the estimate falls back to the exact probe
    df = spark.range(10)
    assert _scan_partitions(df) >= 1


def test_estimate_matches_real_probe_on_spread_inputs(spark, sf_dir):
    """The frames ``similarity._spread`` actually receives — not only
    base tables — must get the same spread decision from the estimate
    as from the exact probe: the projected+cast (vid, v) frame of the
    IVF/ANN paths, a filtered ingest batch as append_to_index sees it,
    and cosine_retrieve's query frame."""
    from pyspark.sql import functions as F

    from sparkit_learn_spark.operators.similarity import _vec_frame

    p = spark.sparkContext.defaultParallelism
    emb = load_table(spark, sf_dir, "embeddings")
    frames = {
        "vec_frame": _vec_frame(emb, "vec_id", "embedding"),
        "ingest_batch": _vec_frame(emb.filter("vec_id % 7 = 0"),
                                   "vec_id", "embedding"),
        "retrieve_queries": emb.filter(F.col("vec_id") % 20 == 0).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("vb")),
    }
    for name, df in frames.items():
        est = _scan_partitions(df)
        real = df.rdd.getNumPartitions()
        assert (est < p) == (real < p), (
            f"{name}: estimate {est} vs real {real} flip the spread "
            f"decision at parallelism {p}"
        )
