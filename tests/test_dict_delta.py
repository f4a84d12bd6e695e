"""Delta dictionary generations (VERDICT r4 "what's wrong #4").

Appends and deletes write term_dict DELTA partitions holding only the
terms they touch; readers resolve base+deltas last-writer-wins
(sources.tables.resolve_term_dict) and compact collapses them back into
one snapshot.  The contract under test:

  * the per-op write is O(|touched terms|), not O(vocabulary);
  * the RESOLVED dictionary (term → term_id/df/cf) equals the one a
    full rebuild over the same corpus would produce, after any chain of
    appends/deletes;
  * query-term lookups on a multi-delta index still push their term
    filter into the parquet scan (the resolution aggregate groups on
    the lookup keys, so Catalyst pushes through it);
  * compact leaves exactly one on-disk generation == stats.dict_gens.
"""

import os

import pytest


def _dict_map(td):
    """term → (df, cf) for NONZERO-df terms (a delete keeps zero-count
    rows for fully-tombstoned terms; a rebuild lacks them entirely)."""
    return {
        r["term"]: (r["df"], r["cf"]) for r in td.collect() if r["df"] > 0
    }


def _gen_rows(spark, d, gen):
    return spark.read.parquet(d + "/term_dict").where(f"gen={gen}").count()


@pytest.fixture(scope="module")
def chained(spark, t1_rows, tmp_path_factory):
    """build(a) → append(b) → delete(gone) → append(c), with a rebuild
    reference over the equivalent final corpus."""
    from joie_spark.engine import Engine

    convs = sorted({r["conv_id"] for r in t1_rows})
    s_a, s_b = set(convs[:25]), set(convs[25:40])
    a = [r for r in t1_rows if r["conv_id"] in s_a]
    b = [r for r in t1_rows if r["conv_id"] in s_b]
    c = [r for r in t1_rows if r["conv_id"] not in s_a | s_b]
    gone = convs[:5]

    kw = dict(n_buckets=8, docs_per_block=8, block_chunks=1)
    d = str(tmp_path_factory.mktemp("ix_dd"))
    eng = Engine.build(spark, spark.createDataFrame(a), d, **kw)
    eng.append(spark.createDataFrame(b))
    eng.delete(gone)
    eng.append(spark.createDataFrame(c))

    final = [r for r in t1_rows if r["conv_id"] not in set(gone)]
    d_ref = str(tmp_path_factory.mktemp("ix_dd_ref"))
    ref = Engine.build(spark, spark.createDataFrame(final), d_ref, **kw)
    return eng, ref, d


def test_ops_write_deltas_not_snapshots(chained, spark):
    from joie_spark.sources.tables import read_stats

    eng, _ref, d = chained
    st = read_stats(d)
    # build snapshot + one delta per op, all live
    assert st["dict_gens"] == [0, 1, 2, 3]
    vocab0 = _gen_rows(spark, d, 0)
    for g in (1, 2, 3):
        assert 0 < _gen_rows(spark, d, g) < vocab0, f"gen={g} is not a delta"


def test_resolved_dict_equals_rebuild(chained):
    eng, ref, _d = chained
    assert _dict_map(eng.index.term_dict) == _dict_map(ref.index.term_dict)
    # id space: dense, never reused, new terms appended after the max
    n_terms = eng.index.stats["n_terms"]
    ids = [r["term_id"] for r in eng.index.term_dict.collect()]
    assert len(ids) == len(set(ids))
    assert max(ids) == n_terms


def test_multi_delta_lookup_pushes_term_filter(chained):
    from pyspark.sql import functions as F

    eng, _ref, _d = chained
    df = eng.index.term_dict.where(F.col("term").isin(["roll", "dice"]))
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedFilters: [In(term" in plan, plan


def test_queries_match_rebuild_after_delta_chain(chained):
    eng, ref, _d = chained

    def by_conv(e, q, **kw):
        res = e.search(q, k=100000, **kw)
        convs = e.index.turns.select("doc_id", "conv_id").distinct()
        rows = res.join(convs, "doc_id").collect()
        return sorted((r["conv_id"], r["turn_idx"], r["score"]) for r in rows)

    for q in ("roll OR dice", '"crystal kingdom"', "the", "roll AND dice"):
        assert by_conv(eng, q) == by_conv(ref, q), q


def test_compact_collapses_deltas(chained, spark):
    from joie_spark.engine import Engine
    from joie_spark.sources.tables import read_stats

    eng, ref, d = chained
    eng.compact()
    st = read_stats(d)
    dirs = sorted(
        int(x.removeprefix("gen="))
        for x in os.listdir(d + "/term_dict")
        if x.startswith("gen=")
    )
    assert len(st["dict_gens"]) == 1
    assert dirs == [int(g) for g in st["dict_gens"]]
    eng2 = Engine(spark, d)
    assert _dict_map(eng2.index.term_dict) == _dict_map(ref.index.term_dict)
