"""Query-time synonym expansion (plans/synonyms.py) — the AST rewrite
must equal the spelled-out OR exactly (matching AND scores), compose
with the boolean algebra, and respect the scope rules (phrases and
never-analyzed clauses untouched)."""

import pytest

from joie_spark.plans.parser import (
    And,
    AndNot,
    Literal,
    Near,
    Or,
    Prefix,
    parse_query,
)
from joie_spark.plans.synonyms import expand_synonyms

SYN = {"roll": ["dice"], "game": ["kingdom", "crystal"]}


def _topk(df):
    return [(r["doc_id"], r["turn_idx"], r["score"]) for r in df.collect()]


def test_rewrite_shape():
    got = expand_synonyms(parse_query("roll"), SYN)
    assert got == Or(Literal("roll"), Literal("dice"))
    got = expand_synonyms(parse_query("game AND roll"), SYN)
    assert got == And(
        Or(Or(Literal("game"), Literal("kingdom")), Literal("crystal")),
        Or(Literal("roll"), Literal("dice")),
    )


def test_rewrite_scope_rules():
    # multi-word phrases untouched
    assert expand_synonyms(parse_query('"roll game"'), SYN) == parse_query(
        '"roll game"'
    )
    # never-analyzed clauses untouched
    assert expand_synonyms(Prefix("rol"), SYN) == Prefix("rol")
    assert expand_synonyms(Near("roll", "game", 2, False), SYN) == Near(
        "roll", "game", 2, False
    )
    # prohibited side analyzes too (Lucene rule)
    got = expand_synonyms(AndNot(Literal("game"), Literal("roll")), SYN)
    assert got == AndNot(
        Or(Or(Literal("game"), Literal("kingdom")), Literal("crystal")),
        Or(Literal("roll"), Literal("dice")),
    )


def test_rewrite_analyzed_key_and_literal():
    # key "Rolling" stems to "roll"; literal "ROLLS" stems to "roll" too
    got = expand_synonyms(parse_query("ROLLS"), {"Rolling": ["dice"]})
    assert got == Or(Literal("ROLLS"), Literal("dice"))


def test_rewrite_rejects_bad_entries():
    with pytest.raises(ValueError):
        expand_synonyms(parse_query("roll"), {"crystal kingdom": ["x"]})
    with pytest.raises(ValueError):
        expand_synonyms(parse_query("roll"), {"roll": []})


def test_search_synonyms_equals_spelled_out_or(t1_engine, t1_oracle):
    a = _topk(t1_engine.search("roll", k=10, synonyms=SYN))
    b = _topk(t1_engine.search("roll OR dice", k=10))
    assert a == b
    # boolean composition, phrase-free
    a = _topk(t1_engine.search("game AND roll", k=10, synonyms=SYN))
    b = _topk(
        t1_engine.search(
            "(game OR kingdom OR crystal) AND (roll OR dice)", k=10
        )
    )
    assert a == b
    # and the oracle agrees on the spelled-out query
    c = t1_oracle.search("(game OR kingdom OR crystal) AND (roll OR dice)", k=10)
    assert a == c


def test_search_synonyms_with_phrase_and_filter(t1_engine):
    a = _topk(
        t1_engine.search(
            '"crystal kingdom" AND roll', k=10, synonyms=SYN,
            where="role = 'user'",
        )
    )
    b = _topk(
        t1_engine.search(
            '"crystal kingdom" AND (roll OR dice)', k=10,
            where="role = 'user'",
        )
    )
    assert a == b


def test_builder_with_synonyms(t1_engine):
    a = _topk(t1_engine.builder().keywords("roll").with_synonyms(SYN).top_k(10))
    b = _topk(t1_engine.builder().keywords("roll", "dice").top_k(10))
    assert a == b
