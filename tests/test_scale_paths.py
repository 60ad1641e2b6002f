"""Scale-path demonstrations that must hold at any size: bucketed
co-located joins eliminate the shuffle; salted joins preserve results;
CSV/JSON sources roundtrip."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sparkit_learn_spark.catalog import load_table
from sparkit_learn_spark.operators.skew import salted_join
from sparkit_learn_spark.plans.inspect import explain_str


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    """Both sides bucketed on the join key -> SortMergeJoin with NO
    Exchange on either side (the 100 TB co-location strategy)."""
    # warehouse.dir is static; tables land in ./spark-warehouse (gitignored)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try:
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        (o.write.mode("overwrite").bucketBy(8, "o_orderkey")
          .sortBy("o_orderkey").saveAsTable("orders_b"))
        (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
          .sortBy("l_orderkey").saveAsTable("lineitem_b"))
        ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey).select(
            "o_orderkey", "l_linenumber"
        )
        plan = explain_str(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
        expect = o.join(li, o.o_orderkey == li.l_orderkey).count()
        assert joined.count() == expect
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")


def test_salted_join_matches_plain_join(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "user_id"
    )
    plain = ev.join(cust, "user_id").groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("s")
    )
    salted = salted_join(ev, cust, "user_id", n_salts=8).groupBy(
        "c_mktsegment"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("s"))
    a = {tuple(r) for r in plain.collect()}
    b = {tuple(r) for r in salted.collect()}
    assert a == b


def test_salted_join_rejects_right_outer(spark, sf_dir):
    """right/full outer would emit n_salts duplicate null-extended rows
    per unmatched small-side row — must raise, not silently corrupt."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "user_id"
    )
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError):
            salted_join(ev, cust, "user_id", how=how)


def test_salted_join_deterministic_salt(spark, sf_dir):
    """The salt is derived (xxhash64), not random: two evaluations of
    the salted large side must agree row-for-row (task-retry safety)."""
    ev = load_table(spark, sf_dir, "events").limit(200)
    salted = ev.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in ev.columns], F.lit(42)),
               F.lit(8)).cast("int"),
    )
    a = sorted(tuple(r) for r in salted.collect())
    b = sorted(tuple(r) for r in salted.collect())
    assert a == b


def test_stable_sorted_ids_matches_global_window(spark, sf_dir):
    """Distributed id assignment must reproduce
    row_number() OVER (ORDER BY term) - 1 exactly, for any partition
    count (including more partitions than rows)."""
    from pyspark.sql import Window

    from sparkit_learn_spark.catalog import load_table
    from sparkit_learn_spark.operators.ids import stable_sorted_ids

    terms = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .distinct()
    )
    w = Window.orderBy("term")
    expect = {
        (r["term"], r["id"])
        for r in terms.select(
            "term", (F.row_number().over(w) - 1).cast("long").alias("id")
        ).collect()
    }
    for n_parts in (1, 7, 10_000):
        got = {
            (r["term"], r["term_id"])
            for r in stable_sorted_ids(terms, "term", num_partitions=n_parts).collect()
        }
        assert got == expect, f"mismatch at num_partitions={n_parts}"


@pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
def test_alternate_source_formats_roundtrip(spark, sf_dir, tmp_path, fmt):
    """The engine reads more than parquet: CSV (header+schema), JSON
    lines, and ORC (columnar, predicate-pushdown-capable) roundtrip
    the orders table bit-for-bit on key columns."""
    out = str(tmp_path / f"orders_{fmt}")
    df = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    getattr(df.write.mode("overwrite"), fmt)(out, **(
        {"header": True} if fmt == "csv" else {}
    ))
    reader = spark.read.schema("o_orderkey long, o_orderstatus string, o_totalprice double")
    back = getattr(reader.option("header", True) if fmt == "csv" else reader, fmt)(out)
    assert back.count() == df.count()
    assert back.agg(F.round(F.sum("o_totalprice"), 4)).first()[0] == \
        df.agg(F.round(F.sum("o_totalprice"), 4)).first()[0]


def test_generic_asof_join_matches_query_form(spark, sf_dir):
    """operators.asof.asof_join (generic two-table as-of) must agree
    with the registered single-table window form on the purchases←
    clicks task (strict prior match)."""
    from sparkit_learn_spark.operators.asof import asof_join
    from sparkit_learn_spark.registry import all_queries

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    got = asof_join(
        purchases, clicks, on="user_id", left_ts="ts",
        right_ts="click_ts", inclusive=False,
    ).select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts"),
        F.col("asof_ts").alias("last_click_ts"),
    ).toPandas()
    expect = all_queries()["q_join_asof"](spark, sf_dir).toPandas()
    from sparkit_learn_spark.testing import compare_frames

    compare_frames(got, expect, name="generic_asof")


def test_aqe_splits_skewed_join_partitions(spark):
    """The OTHER skew strategy besides salting (operators/skew.py):
    AQE's runtime skew-join split. One key holding ~83% of the rows
    must make the final executed plan mark the join skew=true and
    read the skewed shuffle partition in slices — proving the engine
    self-heals a hot key without manual salting."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(120_000).select(
            F.when(F.col("id") < 100_000, 0)
            .otherwise((F.col("id") % 999) + 1).alias("k"),
            F.col("id").alias("v"),
        )
        small = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = big.join(small, "k")
        jdf = j._jdf
        # JVM-side collect drives j's OWN queryExecution (count()/noop
        # writes spawn a separate one whose final plan we can't read)
        assert len(jdf.collect()) == 120_000
        plan = jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "AQEShuffleRead" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_viral_shingle_does_not_explode_candidates(spark):
    """A boilerplate shingle shared by EVERY document must not create
    the quadratic candidate bucket: with the df cap, pairs are only
    generated from rare shingles, so the crafted corpus below yields
    exactly the one true near-dup pair, not n·(n-1)/2."""
    from sparkit_learn_spark.operators.dedup import (
        shingle_candidate_pairs, shingle_index,
    )

    boiler = "all rights reserved contact us today"
    rows = [(i, f"{boiler} unique{i} filler{i} body{i} tail{i} end{i}")
            for i in range(40)]
    # one true near-dup pair sharing a RARE 5-gram
    rows.append((100, "zebra quokka lemur gibbon okapi extra one"))
    rows.append((101, "zebra quokka lemur gibbon okapi extra two"))
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    idx = shingle_index(docs, k=5)
    pairs = shingle_candidate_pairs(idx, max_df=10)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(100, 101)}, got
    # sanity: without the cap the viral shingle makes ~40²/2 pairs
    uncapped = shingle_candidate_pairs(idx, max_df=10_000).count()
    assert uncapped > 700


def _rdd_ids(spark) -> set:
    # id SETS, not counts: the async ContextCleaner may unpersist other
    # tests' dead checkpoints between measurements, so an absolute size
    # comparison is flaky in full-suite order
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_stable_sorted_ids_releases_intermediate_cache(spark, sf_dir):
    """Each call persists a sorted intermediate; it must be RELEASED
    before returning (lifecycle bug in round 2: one leaked cached
    DataFrame per vocab fit). After the call, at most the eagerly
    checkpointed (col,id) result itself may occupy storage — exactly
    one new persistent RDD per call, not two."""
    from sparkit_learn_spark.operators.ids import stable_sorted_ids

    terms = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .distinct()
    )
    ids0 = _rdd_ids(spark)
    out1 = stable_sorted_ids(terms, "term", num_partitions=7)
    assert len(_rdd_ids(spark) - ids0) == 1
    ids1 = _rdd_ids(spark)
    out2 = stable_sorted_ids(terms, "term", num_partitions=7)
    assert len(_rdd_ids(spark) - ids1) == 1
    assert out1.count() == out2.count()


def test_release_query_state_drops_checkpoints_and_cache(spark, sf_dir):
    """session.release_query_state frees what a query left behind: the
    shingle index q_llm_decontaminate localCheckpoints at construction
    and a persist()ed frame, both consumed first."""
    from sparkit_learn_spark.registry import all_queries
    from sparkit_learn_spark.session import release_query_state

    ids0 = _rdd_ids(spark)
    q = all_queries()["q_llm_decontaminate"](spark, sf_dir)
    cached = load_table(spark, sf_dir, "documents").select("doc_id").persist()
    q.write.format("noop").mode("overwrite").save()
    assert cached.count() > 0
    new = _rdd_ids(spark) - ids0
    assert len(new) >= 2, new  # the checkpoint and the persisted frame

    release_query_state(spark)
    assert not (_rdd_ids(spark) & new)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_bench_time_query_returns_build_exec_pairs(spark, sf_dir):
    import math

    from bench import time_query
    from sparkit_learn_spark.registry import all_queries

    runs = time_query(spark, all_queries()["q_agg_q1"], sf_dir, runs=2)
    assert len(runs) == 2
    for pair in runs:
        assert len(pair) == 2
        assert all(isinstance(t, float) and math.isfinite(t) and t >= 0
                   for t in pair)


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_embed_cosine_dedup_recall_is_exact_per_scale(spark, sf):
    """q_llm_embed_cosine_dedup is LSH-candidates + exact verify: its
    oracle agreement depends on empirical recall 1.0. Recompute the
    exact pair set (numpy all-pairs) at each fixture scale and assert
    set equality — a recall miss at a new scale fails here, loudly."""
    import numpy as np

    from sparkit_learn_spark.registry import all_queries

    got = {
        (r["vec_a"], r["vec_b"])
        for r in all_queries()["q_llm_embed_cosine_dedup"](spark, sf).collect()
    }
    rows = load_table(spark, sf, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    X = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    S = X @ X.T
    ia, ib = np.nonzero(np.triu(S >= 0.4, k=1))
    expect = {
        (int(min(ids[a], ids[b])), int(max(ids[a], ids[b])))
        for a, b in zip(ia, ib)
    }
    assert got == expect


def test_sql_entry_point(spark, sf_dir):
    from sparkit_learn_spark.catalog import sql

    df = sql(
        spark, sf_dir,
        """
        SELECT n.n_name, COUNT(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY n_customers DESC LIMIT 3
        """,
    )
    rows = df.collect()
    assert len(rows) == 3
    assert rows[0]["n_customers"] >= rows[-1]["n_customers"]
