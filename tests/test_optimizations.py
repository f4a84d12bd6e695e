"""Focused tests for round-6 optimization internals: the pushdown
barrier (text.bind_col), the zero-shuffle top-n-gram plan, the dense-id
driver fast path vs the distributed path, and the exact HALF_UP rounding
used by the semdedup numpy greedy."""

import decimal

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_bind_col_preserves_rows_and_blocks_pushdown(spark):
    from joie_spark.pipeline.text import bind_col, sql_tokens

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, None), (3, "")], "doc_id long, text string"
    )
    bound = bind_col(df, "tokens", sql_tokens())
    # 1:1 Generate: every row survives, including NULL/empty text
    assert bound.count() == 3
    got = {r["doc_id"]: r["tokens"] for r in bound.collect()}
    assert got[1] == ["alpha", "beta"] and got[3] == []
    # a filter over the bound column must evaluate the tokenizer ONCE:
    # the predicate may not be pushed below the Generate barrier
    filtered = bound.where(
        (F.size("tokens") >= 1)
        & (F.size(F.array_distinct("tokens")) == F.size("tokens"))
    )
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert plan.count("regexp_extract_all") == 1, plan


def test_top_ngram_share_is_shuffle_free(spark):
    from joie_spark.pipeline.text import top_ngram_share

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x"), (3, None)],
        "doc_id long, text string",
    )
    df = top_ngram_share(docs, n=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    got = {r["doc_id"]: (r["n_grams"], r["top_count"], r["top_share"]) for r in df.collect()}
    # "a b a b a": grams [a b, b a, a b, b a] -> top 2/4
    assert got[1] == (4, 2, 0.5)
    assert got[2] == (0, 0, 0.0)  # fewer than n tokens
    assert got[3] == (0, 0, 0.0)


def test_assign_dense_ids_distributed_path_matches_driver(spark, monkeypatch):
    import joie_spark.operators.build as B

    rows = [(f"conv-{i:03d}",) for i in range(57)]
    df = spark.createDataFrame(rows, "conv_id string").repartition(5)
    fast = {
        r["conv_id"]: r["doc_id"]
        for r in B.assign_dense_ids(df, "conv_id", "doc_id").collect()
    }
    monkeypatch.setattr(B, "DENSE_IDS_DRIVER_MAX", 0)
    dist = B.assign_dense_ids(df, "conv_id", "doc_id")
    got = {r["conv_id"]: r["doc_id"] for r in dist.collect()}
    B.release_dense_ids(dist)
    assert fast == got
    assert sorted(fast.values()) == list(range(1, 58))


@pytest.mark.parametrize("driver_max", [1_000_000, 0])
def test_assign_dense_ids_rejects_null_key(spark, monkeypatch, driver_max):
    # both sides of the driver/distributed boundary raise the same error
    import joie_spark.operators.build as B

    monkeypatch.setattr(B, "DENSE_IDS_DRIVER_MAX", driver_max)
    rows = [(f"conv-{i:03d}",) for i in range(9)] + [(None,)]
    df = spark.createDataFrame(rows, "conv_id string").repartition(3)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(ValueError, match="NULL key in column 'conv_id'"):
        B.assign_dense_ids(df, "conv_id", "doc_id")
    # the distributed path releases its persist before raising
    assert set(jsc.getPersistentRDDs().keySet()) <= before


@pytest.mark.parametrize("seed", [0, 1])
def test_round4_half_up_matches_spark_round(spark, seed):
    from joie_spark.pipeline.semdedup import _round4_half_up

    rng = np.random.default_rng(seed)
    vals = np.concatenate(
        [
            rng.uniform(-1, 1, 200),
            # values engineered near .00005 boundaries (the hazard zone)
            (rng.integers(-10000, 10000, 200) * 2 + 1) / 20000.0
            + rng.uniform(-1e-12, 1e-12, 200),
        ]
    )
    ours = _round4_half_up(vals.copy())
    sdf = spark.createDataFrame([(float(v),) for v in vals], "x double")
    theirs = [r["r"] for r in sdf.select(F.round("x", 4).alias("r")).collect()]
    assert list(ours) == theirs
