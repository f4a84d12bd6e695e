"""Programmatic QueryBuilder must be rank-identical to the string frontend
(shared planner), across composition, chaining-as-AND, and fused filters."""

import pytest


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_builder_phrase_equals_string(t1_engine):
    b = t1_engine.builder().phrase("crystal kingdom").top_k(10)
    s = t1_engine.search('"crystal kingdom"', k=10)
    assert _rows(b) == _rows(s)


def test_builder_keywords_equals_string(t1_engine):
    b = t1_engine.builder().keywords("roll", "dice").top_k(10)
    s = t1_engine.search("roll OR dice", k=10)
    assert _rows(b) == _rows(s)


def test_builder_chaining_is_and(t1_engine):
    b = (
        t1_engine.builder()
        .phrase("crystal kingdom")
        .keywords("roll")
        .top_k(10)
    )
    s = t1_engine.search('"crystal kingdom" AND roll', k=10)
    assert _rows(b) == _rows(s)


def test_builder_composition_operators(t1_engine):
    e = t1_engine
    b = (e.builder().phrase("roll for insight") | e.builder().keywords("dice")).top_k(10)
    s = e.search('"roll for insight" OR dice', k=10)
    assert _rows(b) == _rows(s)

    b2 = (e.builder().keywords("roll") & e.builder().keywords("dice")).top_k(10)
    s2 = e.search("roll AND dice", k=10)
    assert _rows(b2) == _rows(s2)


def test_builder_filters_fused_everywhere(t1_engine, t1_oracle):
    got = _rows(
        t1_engine.builder()
        .keywords("roll", "dice")
        .filter_documents("n_turns >= 10")
        .top_k(10)
    )
    want = t1_oracle.search(
        "roll OR dice", k=10, doc_filter=lambda m: m["n_turns"] >= 10
    )
    assert got == want and got

    got_t = _rows(
        t1_engine.builder()
        .keywords("roll", "dice")
        .filter_turns("role = 'user'")
        .top_k(10)
    )
    want_t = t1_oracle.search(
        "roll OR dice", k=10, turn_filter=lambda t: t.role == "user"
    )
    assert got_t == want_t


def test_builder_matches_and_highlighted(t1_engine, t1_oracle):
    m = _rows(t1_engine.builder().phrase("crystal kingdom").matches())
    want = sorted(t1_oracle.match_set('"crystal kingdom"'))
    assert [(d, t) for d, t in m] == want

    hl = t1_engine.builder().phrase("crystal kingdom").highlighted(3).collect()
    assert hl and all(r["parts"] for r in hl)


def test_builder_errors(t1_engine):
    with pytest.raises(ValueError):
        t1_engine.builder().top_k()
    with pytest.raises(ValueError):
        t1_engine.builder().keywords()
    with pytest.raises(ValueError):
        t1_engine.builder() & t1_engine.builder().keywords("roll")


def test_builder_combine_ands_both_sides_filters(t1_engine, t1_oracle):
    """Composing two builders that EACH carry a filter must AND the
    predicates, not drop the right side's (ADVICE r2)."""
    e = t1_engine
    a = e.builder().keywords("roll").filter_documents("n_turns >= 10")
    b = e.builder().keywords("dice").filter_documents("n_turns <= 14")
    combined = a | b
    assert combined._where_doc == "(n_turns >= 10) AND (n_turns <= 14)"
    got = _rows(combined.top_k(10))
    want = t1_oracle.search(
        "roll OR dice", k=10, doc_filter=lambda m: 10 <= m["n_turns"] <= 14
    )
    assert got == want

    # identical predicates dedupe instead of stacking
    c = e.builder().keywords("roll").filter_turns("role = 'user'")
    d = e.builder().keywords("dice").filter_turns("role = 'user'")
    assert (c & d)._where == "role = 'user'"


def test_builder_immutable_forking(t1_engine):
    base = t1_engine.builder().keywords("roll")
    a = base.filter_turns("role = 'user'")
    assert base._where is None and a._where == "role = 'user'"
