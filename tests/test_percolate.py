"""Percolation (operators/percolate.py): standing queries evaluated
map-side must agree with the INDEX path's match sets for the full query
algebra, run unchanged on a stream, and plan with zero shuffles."""

import pytest

from joie_spark.operators.percolate import percolate, percolate_stream
from joie_spark.plans.parser import (
    AndNot,
    Fuzzy,
    Literal,
    Near,
    Or,
    Prefix,
    Regex,
)

STRING_QUERIES = [
    "roll OR dice",
    '"crystal kingdom"',
    "roll AND dice OR game",
    '"roll for insight"',
    "zzzzunseenzzz",
]

EXPR_QUERIES = [
    Near("roll", "dice", 3, False),
    Near("crystal", "kingdom", 1, True),
    Prefix("ro"),
    Fuzzy("dice", 1),
    AndNot(Literal("roll"), Literal("dice")),
    AndNot(Prefix("ro"), Or(Literal("roll"), Literal("dice"))),
    Regex("ro.*"),
    Regex("d(i|u)ce"),
]


def _percolated(spark, t1_rows, queries):
    df = spark.createDataFrame(t1_rows)
    out = percolate(df, queries)
    return {
        qid: {(r["conv_id"], r["turn_idx"]) for r in rows}
        for qid, rows in _group(out.collect()).items()
    }


def _group(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(r)
    return out


def _oracle_keys(t1_oracle, matches):
    by_doc = {d: c for c, d in t1_oracle.doc_of_conv.items()}
    return {(by_doc[doc], turn) for doc, turn in matches}


def test_percolate_equals_index_match_set_strings(spark, t1_rows, t1_engine, t1_oracle):
    got = _percolated(spark, t1_rows, STRING_QUERIES)
    for i, q in enumerate(STRING_QUERIES):
        eng = {
            (r["doc_id"], r["turn_idx"])
            for r in t1_engine.match_set(q).collect()
        }
        assert got.get(i, set()) == _oracle_keys(t1_oracle, eng), q


def test_percolate_equals_index_match_set_exprs(spark, t1_rows, t1_engine, t1_oracle):
    from joie_spark.operators.batch import match_set_expr

    got = _percolated(spark, t1_rows, EXPR_QUERIES)
    for i, e in enumerate(EXPR_QUERIES):
        eng = {
            (r["doc_id"], r["turn_idx"])
            for r in match_set_expr(t1_engine.index, e).collect()
        }
        assert got.get(i, set()) == _oracle_keys(t1_oracle, eng), e


def test_percolate_keeps_requested_columns(spark, t1_rows):
    df = spark.createDataFrame(t1_rows)
    out = percolate(df, ["roll"], keep=["conv_id", "role"])
    assert out.columns == ["query_id", "conv_id", "role"]
    assert out.count() > 0
    with pytest.raises(ValueError):
        percolate(df, [])


def test_percolate_plan_has_no_shuffle(spark, t1_rows):
    df = spark.createDataFrame(t1_rows)
    out = percolate(df, STRING_QUERIES + EXPR_QUERIES)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan, "percolate must stay map-side"


def test_percolate_stream_equals_static(spark, t1_rows, tmp_path):
    src = str(tmp_path / "turns_src")
    spark.createDataFrame(t1_rows).write.parquet(src)
    static = spark.createDataFrame(t1_rows)
    want = {
        (r["query_id"], r["conv_id"], r["turn_idx"])
        for r in percolate(static, STRING_QUERIES).collect()
    }
    stream = spark.readStream.schema(static.schema).parquet(src)
    q = (
        percolate_stream(stream, STRING_QUERIES)
        .writeStream.format("memory")
        .queryName("perc_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["query_id"], r["conv_id"], r["turn_idx"])
        for r in spark.sql("select * from perc_out").collect()
    }
    assert got == want
