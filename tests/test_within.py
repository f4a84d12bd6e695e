"""Within (k-term unordered proximity — the Lucene SpanNearQuery shape,
plans/parser.py Within): pinned rank-identical to the pure-Python oracle,
whose brute-force k-way cross-product check deliberately differs from the
engine's anchored-cover reformulation, so agreement proves the two forms
accept exactly the same turns.  Also pinned: near() equivalence for two
terms, window monotonicity, batch + percolate parity."""

import pytest

from joie_spark.plans.parser import And, Literal, Or, Within

WITHIN_CASES = [
    (("roll", "dice"), 1),
    (("roll", "dice"), 3),
    (("roll", "dice"), 8),
    (("crystal", "kingdom"), 2),
    (("roll", "dice", "game"), 6),
    (("roll", "dice", "game"), 12),
    (("the", "dice", "roll"), 5),  # hot term — exercises rarest-term seeding
    (("roll", "zzzzunseenzzz"), 4),  # OOV word -> empty
    (("roll", "rolling"), 3),  # stem-collapse -> single requirement
]


def _topk(df):
    return [(r["doc_id"], r["turn_idx"], r["score"]) for r in df.collect()]


def _matches(df):
    return {(r["doc_id"], r["turn_idx"]) for r in df.collect()}


@pytest.mark.parametrize("words,window", WITHIN_CASES)
def test_within_rank_identity(words, window, t1_engine, t1_oracle):
    b = t1_engine.builder().within(*words, window=window)
    expr = Within(tuple(words), window)
    assert _matches(b.matches()) == t1_oracle._eval(expr)
    assert _topk(b.top_k(10)) == t1_oracle.search_expr(expr, k=10)


def test_within_nonempty_somewhere(t1_oracle):
    """The corpus must exercise the operator: the 3-term case matches
    somewhere and the window actually constrains (wide ⊋ tight)."""
    wide = t1_oracle._eval(Within(("roll", "dice", "game"), 12))
    tight = t1_oracle._eval(Within(("roll", "dice", "game"), 2))
    assert wide, "corpus never has roll/dice/game within 12 — weak fixture"
    assert tight < wide, "window never constrains — weak fixture"


def test_within_window_monotone(t1_engine):
    prev = set()
    for w in (1, 2, 4, 8, 16):
        cur = _matches(t1_engine.builder().within("roll", "dice", "game", window=w).matches())
        assert prev <= cur
        prev = cur


def test_within_two_terms_equals_near(t1_engine):
    """For two distinct terms within(a,b,w) == near(a,b,w,unordered):
    distinct terms never share a position, so near's q≠p guard is
    vacuous and |q−p| ≤ w ⇔ max−min ≤ w."""
    for w in (1, 3, 5):
        n = _matches(t1_engine.builder().near("roll", "dice", slop=w).matches())
        v = _matches(t1_engine.builder().within("roll", "dice", window=w).matches())
        assert n == v


def test_within_stem_collapse_is_containment(t1_engine):
    """Words stemming to one term collapse to a single requirement —
    the match set is plain containment of that term."""
    v = _matches(t1_engine.builder().within("roll", "rolling", window=3).matches())
    k = _matches(t1_engine.builder().keywords("roll").matches())
    assert v == k


def test_within_composes_with_boolean_and_filters(t1_engine, t1_oracle):
    b = t1_engine.builder().within("roll", "dice", window=6) & t1_engine.builder().keywords(
        "game", "kingdom"
    )
    expr = And(Within(("roll", "dice"), 6), Or(Literal("game"), Literal("kingdom")))
    assert _matches(b.matches()) == t1_oracle._eval(expr)
    assert _topk(b.top_k(10)) == t1_oracle.search_expr(expr, k=10)

    got = _topk(
        t1_engine.builder()
        .within("roll", "dice", window=6)
        .filter_turns("role = 'user'")
        .top_k(10)
    )
    want = t1_oracle.search_expr(
        Within(("roll", "dice"), 6),
        k=10,
        turn_filter=lambda t: t.role == "user",
    )
    assert got == want


def test_within_rejects_bad_args(t1_engine):
    with pytest.raises(ValueError, match="two words"):
        t1_engine.builder().within("roll")
    with pytest.raises(ValueError, match="window"):
        t1_engine.builder().within("roll", "dice", window=0)
    with pytest.raises(ValueError, match="exactly one"):
        t1_engine.builder().within("roll dice", "game", window=3).matches()


# ---------------------------------------------------------------------------
# batch + percolate parity


def _by_qid(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["turn_idx"], r["score"])
        )
    return out


def _batch_builders(E):
    return [
        E.builder().within("roll", "dice", "game", window=8),
        E.builder().within("crystal", "kingdom", window=2),
        E.builder().within("roll", "dice", window=4)
        & E.builder().keywords("game", "kingdom"),
        E.builder().keywords("roll", "dice"),  # mixed batch: plain keyword
    ]


def test_within_batch_bit_identical(t1_engine):
    builders = _batch_builders(t1_engine)
    got = _by_qid(t1_engine.search_many_built(builders, k=10).collect())
    for i, b in enumerate(builders):
        assert got.get(i, []) == _topk(b.top_k(10)), f"query {i}"


def test_within_batch_forced_pruning_bit_identical(t1_engine):
    builders = _batch_builders(t1_engine)
    got = _by_qid(
        t1_engine.search_many_built(
            builders, k=10, direct_threshold=0, probe_blocks=4
        ).collect()
    )
    for i, b in enumerate(builders):
        assert got.get(i, []) == _topk(b.top_k(10)), f"query {i} (pruned)"


def test_within_percolate_parity(spark, t1_rows, t1_engine, t1_oracle):
    from joie_spark.operators.percolate import percolate
    from joie_spark.operators.batch import match_set_expr

    exprs = [
        Within(("roll", "dice"), 4),
        Within(("roll", "dice", "game"), 8),
        Within(("roll", "rolling"), 3),  # stem collapse
    ]
    df = spark.createDataFrame(t1_rows)
    got = {}
    for r in percolate(df, exprs).collect():
        got.setdefault(r["query_id"], set()).add((r["conv_id"], r["turn_idx"]))
    by_doc = {d: c for c, d in t1_oracle.doc_of_conv.items()}
    for i, e in enumerate(exprs):
        eng = {
            (by_doc[r["doc_id"]], r["turn_idx"])
            for r in match_set_expr(t1_engine.index, e).collect()
        }
        assert got.get(i, set()) == eng, e
