"""Near (proximity) and Prefix (wildcard) query extensions — builder-only
surface beyond the reference grammar (plans/parser.py Near/Prefix), pinned
rank-identical to the pure-Python oracle (oracle.search_expr) and
internally consistent with their spelled-out equivalents."""

import pytest

from joie_spark.plans.parser import And, Literal, Near, Or, Prefix

NEAR_CASES = [
    ("roll", "dice", 1, False),
    ("roll", "dice", 3, False),
    ("roll", "dice", 3, True),
    ("crystal", "kingdom", 1, True),
    ("crystal", "kingdom", 5, False),
    ("the", "dice", 2, False),  # hot lhs — exercises rarest-term seeding
    ("roll", "roll", 2, False),  # same stemmed term: needs 2 positions
    ("roll", "zzzzunseenzzz", 3, False),  # OOV side -> empty
]


def _spark_topk(df):
    return [(r["doc_id"], r["turn_idx"], r["score"]) for r in df.collect()]


def _spark_matches(df):
    return {(r["doc_id"], r["turn_idx"]) for r in df.collect()}


@pytest.mark.parametrize("lhs,rhs,slop,ordered", NEAR_CASES)
def test_near_rank_identity(lhs, rhs, slop, ordered, t1_engine, t1_oracle):
    b = t1_engine.builder().near(lhs, rhs, slop=slop, ordered=ordered)
    expr = Near(lhs, rhs, slop, ordered)
    assert _spark_matches(b.matches()) == t1_oracle._eval(expr)
    assert _spark_topk(b.top_k(10)) == t1_oracle.search_expr(expr, k=10)


def test_near_nonempty_somewhere(t1_oracle):
    """The corpus must actually exercise the operator: at least one case
    above matches and at least one distance is > adjacency."""
    wide = t1_oracle._eval(Near("roll", "dice", 5, False))
    tight = t1_oracle._eval(Near("roll", "dice", 1, False))
    assert wide, "corpus never has roll within 5 of dice — weak fixture"
    assert tight <= wide


def test_near_ordered_subset_of_unordered(t1_engine):
    o = _spark_matches(
        t1_engine.builder().near("roll", "dice", slop=3, ordered=True).matches()
    )
    u = _spark_matches(
        t1_engine.builder().near("roll", "dice", slop=3, ordered=False).matches()
    )
    assert o <= u


def test_phrase_is_ordered_near_slop1(t1_engine):
    """Exact adjacency ⊆ ordered near with slop 1 (equal for 2-term
    phrases: both require p_rhs − p_lhs == 1)."""
    ph = _spark_matches(t1_engine.match_set('"crystal kingdom"'))
    nr = _spark_matches(
        t1_engine.builder().near("crystal", "kingdom", slop=1, ordered=True).matches()
    )
    assert ph == nr


def test_near_composes_with_boolean(t1_engine, t1_oracle):
    b = t1_engine.builder().near("roll", "dice", slop=4) & t1_engine.builder().keywords(
        "game", "kingdom"
    )
    expr = And(Near("roll", "dice", 4, False), Or(Literal("game"), Literal("kingdom")))
    assert _spark_matches(b.matches()) == t1_oracle._eval(expr)
    assert _spark_topk(b.top_k(10)) == t1_oracle.search_expr(expr, k=10)


def test_near_stems_its_sides(t1_engine):
    a = _spark_matches(t1_engine.builder().near("rolling", "dice", slop=3).matches())
    b = _spark_matches(t1_engine.builder().near("roll", "dice", slop=3).matches())
    assert a == b


def test_near_rejects_phrase_sides(t1_engine):
    with pytest.raises(ValueError, match="exactly one word"):
        t1_engine.builder().near("roll for", "dice").matches().collect()
    with pytest.raises(ValueError, match="slop"):
        t1_engine.builder().near("roll", "dice", slop=0)


@pytest.mark.parametrize("pfx", ["ro", "cry", "d", "zzzz"])
def test_prefix_rank_identity(pfx, t1_engine, t1_oracle):
    b = t1_engine.builder().prefix(pfx)
    expr = Prefix(pfx)
    assert _spark_matches(b.matches()) == t1_oracle._eval(expr)
    assert _spark_topk(b.top_k(10)) == t1_oracle.search_expr(expr, k=10)


def test_prefix_equals_spelled_out_or(t1_engine, t1_oracle):
    """prefix(p) is EXACTLY the keyword OR of its dictionary expansion —
    same match set, same scores (the Lucene MultiTermQuery rewrite
    contract)."""
    terms = [
        t for t in t1_oracle.term_id if t.startswith("ro")
    ]
    assert len(terms) >= 2, "fixture too weak for the rewrite test"
    spelled = t1_engine.builder().keywords(*terms)
    pre = t1_engine.builder().prefix("ro")
    assert _spark_topk(pre.top_k(10)) == _spark_topk(spelled.top_k(10))


def test_prefix_expansion_cap_keeps_df_heaviest(t1_engine, t1_oracle):
    full = t1_engine.index.expand_prefix("ro")
    assert len(full) >= 2
    capped = t1_engine.index.expand_prefix("ro", max_expansions=1)
    assert len(capped) == 1
    # the kept term is the df-heaviest of the full expansion
    best = max(full, key=lambda p: (p[1], -p[0]))
    assert capped[0] == best
    # oracle cap rule agrees
    assert t1_oracle.expand_prefix("ro", cap=1) == [capped[0][0]]


def test_prefix_case_folds_and_rejects_empty(t1_engine):
    a = _spark_matches(t1_engine.builder().prefix("RO").matches())
    b = _spark_matches(t1_engine.builder().prefix("ro").matches())
    assert a == b
    with pytest.raises(ValueError):
        t1_engine.builder().prefix("  ")
    with pytest.raises(ValueError):
        t1_engine.index.expand_prefix("")


def test_prefix_composes_and_scores_expanded_terms(t1_engine, t1_oracle):
    b = t1_engine.builder().prefix("ro") & t1_engine.builder().phrase("crystal kingdom")
    expr = And(Prefix("ro"), Literal("crystal kingdom"))
    assert _spark_topk(b.top_k(10)) == t1_oracle.search_expr(expr, k=10)


def test_near_prefix_tombstone_filtered(t1_engine, t1_oracle):
    """Both extensions respect the deny-list path: with no deletes the
    tombstone frame is None and results equal the oracle (covered above);
    here just pin that the filters compose with where/where_doc."""
    got = _spark_topk(
        t1_engine.builder()
        .near("roll", "dice", slop=4)
        .filter_turns("role = 'user'")
        .top_k(10)
    )
    want = t1_oracle.search_expr(
        Near("roll", "dice", 4, False),
        k=10,
        turn_filter=lambda t: t.role == "user",
    )
    assert got == want


# ---------------------------------------------------------------------------
# AndNot (boolean difference) — plans/parser.py AndNot, operators/query.py
# PDiff: left-anti join on the match key; prohibited side never scores or
# highlights (the Lucene prohibited-clause rule).

from joie_spark.plans.parser import AndNot  # noqa: E402


def test_andnot_rank_identity(t1_engine, t1_oracle):
    cases = [
        AndNot(Literal("roll"), Literal("dice")),
        AndNot(Or(Literal("roll"), Literal("dice")), Literal("crystal kingdom")),
        AndNot(Prefix("ro"), Literal("roll")),
        AndNot(Literal("roll"), Near("crystal", "kingdom", 3, False)),
    ]
    builders = [
        t1_engine.builder().keywords("roll") - t1_engine.builder().keywords("dice"),
        t1_engine.builder().keywords("roll", "dice").and_not(
            t1_engine.builder().phrase("crystal kingdom")
        ),
        t1_engine.builder().prefix("ro") - t1_engine.builder().keywords("roll"),
        t1_engine.builder().keywords("roll")
        - t1_engine.builder().near("crystal", "kingdom", slop=3),
    ]
    for expr, b in zip(cases, builders):
        assert _spark_matches(b.matches()) == t1_oracle._eval(expr), expr
        assert _spark_topk(b.top_k(10)) == t1_oracle.search_expr(expr, k=10), expr


def test_andnot_partitions_the_left_set(t1_engine):
    a = _spark_matches(t1_engine.builder().keywords("roll").matches())
    both = _spark_matches(
        (t1_engine.builder().keywords("roll") & t1_engine.builder().keywords("dice")).matches()
    )
    diff = _spark_matches(
        (t1_engine.builder().keywords("roll") - t1_engine.builder().keywords("dice")).matches()
    )
    assert both and diff, "fixture too weak: need both partitions non-empty"
    assert diff | both == a
    assert diff & both == set()


def test_andnot_prohibited_side_never_scores(t1_engine):
    """A surviving turn scores exactly as the positive query alone — even
    when the turn contains rhs terms (rhs here is a conjunction, so a
    dice-only turn survives `- (dice AND game)` yet contains 'dice')."""
    pos = {
        (r["doc_id"], r["turn_idx"]): r["score"]
        for r in t1_engine.builder().keywords("roll").top_k(1000).collect()
    }
    rhs = t1_engine.builder().keywords("dice") & t1_engine.builder().keywords("game")
    diff = (t1_engine.builder().keywords("roll") - rhs).top_k(1000).collect()
    assert diff
    for r in diff:
        assert r["score"] == pos[(r["doc_id"], r["turn_idx"])]


def test_andnot_refuses_ambiguity(t1_engine):
    with pytest.raises(ValueError, match="filters"):
        t1_engine.builder().keywords("roll") - t1_engine.builder().keywords(
            "dice"
        ).filter_turns("role='user'")
    with pytest.raises(ValueError, match="positive left"):
        t1_engine.builder() - t1_engine.builder().keywords("dice")
    with pytest.raises(ValueError, match="right side"):
        t1_engine.builder().keywords("roll") - t1_engine.builder()


def test_andnot_composes(t1_engine, t1_oracle):
    b = (
        t1_engine.builder().keywords("roll") - t1_engine.builder().keywords("dice")
    ) | t1_engine.builder().phrase("crystal kingdom")
    expr = Or(AndNot(Literal("roll"), Literal("dice")), Literal("crystal kingdom"))
    assert _spark_matches(b.matches()) == t1_oracle._eval(expr)
    assert _spark_topk(b.top_k(10)) == t1_oracle.search_expr(expr, k=10)


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) term queries — plans/parser.py Fuzzy, lowered to the
# same PKeywords scan as prefix via Index.expand_fuzzy (length-band +
# levenshtein dictionary scan, df-heaviest cap).

from joie_spark.plans.parser import Fuzzy  # noqa: E402


@pytest.mark.parametrize(
    "word,k",
    [("roll", 1), ("dice", 1), ("rol", 1), ("roll", 2), ("xqzzyq", 1)],
)
def test_fuzzy_rank_identity(word, k, t1_engine, t1_oracle):
    b = t1_engine.builder().fuzzy(word, max_edits=k)
    expr = Fuzzy(word, k)
    assert _spark_matches(b.matches()) == t1_oracle._eval(expr)
    assert _spark_topk(b.top_k(10)) == t1_oracle.search_expr(expr, k=10)


def test_fuzzy_expansion_matches_oracle_ids(t1_engine, t1_oracle):
    """Engine and oracle assign the same dense ids (sorted vocab from 1),
    so the expansions must agree id-for-id; distance 0 (the exact term)
    is always included; wider max_edits only grows the set."""
    e1 = sorted(tid for tid, _ in t1_engine.index.expand_fuzzy("roll", 1))
    assert e1 == t1_oracle.expand_fuzzy("roll", 1)
    assert t1_oracle.term_id["roll"] in e1
    e2 = sorted(tid for tid, _ in t1_engine.index.expand_fuzzy("roll", 2))
    assert set(e1) <= set(e2)
    assert len(e2) > len(e1), "fixture too weak: no distance-2 neighbors"


def test_fuzzy_rejects_bad_args(t1_engine):
    with pytest.raises(ValueError):
        t1_engine.builder().fuzzy("  ")
    with pytest.raises(ValueError):
        t1_engine.builder().fuzzy("roll", max_edits=0)
    with pytest.raises(ValueError):
        t1_engine.index.expand_fuzzy("", 1)


def test_fuzzy_composes(t1_engine, t1_oracle):
    b = t1_engine.builder().fuzzy("roll", 1) - t1_engine.builder().keywords("dice")
    expr = AndNot(Fuzzy("roll", 1), Literal("dice"))
    assert _spark_matches(b.matches()) == t1_oracle._eval(expr)
    assert _spark_topk(b.top_k(10)) == t1_oracle.search_expr(expr, k=10)


# ---------------------------------------------------------------------------
# Batch evaluation of the full algebra — Engine.search_many_built /
# operators/batch.py search_many_exprs must be bit-identical per query to
# the single-query builder path, with the documented routing.


def _by_qid(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["turn_idx"], r["score"])
        )
    return out


def _algebra_builders(E):
    return [
        E.builder().keywords("roll", "dice"),
        E.builder().phrase("crystal kingdom"),
        E.builder().near("roll", "dice", slop=3),
        E.builder().prefix("ro"),
        E.builder().fuzzy("dice", 1),
        E.builder().keywords("roll") - E.builder().keywords("dice"),
        E.builder().prefix("ro") - E.builder().phrase("crystal kingdom"),
        E.builder().near("crystal", "kingdom", slop=2, ordered=True)
        & E.builder().keywords("game", "dice"),
    ]


def test_search_many_built_bit_identical(t1_engine):
    builders = _algebra_builders(t1_engine)
    got = _by_qid(t1_engine.search_many_built(builders, k=10).collect())
    for i, b in enumerate(builders):
        want = _spark_topk(b.top_k(10))
        assert got.get(i, []) == want, f"query {i} differs"


def test_search_many_built_forced_pruning_bit_identical(t1_engine):
    """direct_threshold=0 forces the 3-phase WAND machinery for the flat
    (prefix/fuzzy) queries — results must stay bit-identical."""
    builders = _algebra_builders(t1_engine)
    got = _by_qid(
        t1_engine.search_many_built(
            builders, k=10, direct_threshold=0, probe_blocks=4
        ).collect()
    )
    for i, b in enumerate(builders):
        assert got.get(i, []) == _spark_topk(b.top_k(10)), f"query {i} (pruned)"


def test_search_many_built_batchwide_filter(t1_engine):
    builders = [
        t1_engine.builder().near("roll", "dice", slop=4),
        t1_engine.builder().keywords("roll") - t1_engine.builder().keywords("dice"),
    ]
    got = _by_qid(
        t1_engine.search_many_built(builders, k=10, where="role = 'user'").collect()
    )
    for i, b in enumerate(builders):
        want = _spark_topk(b.filter_turns("role = 'user'").top_k(10))
        assert got.get(i, []) == want
    with pytest.raises(ValueError, match="filters"):
        t1_engine.search_many_built(
            [t1_engine.builder().keywords("roll").filter_turns("role='user'")]
        )


# ---------------------------------------------------------------------------
# More-like-this (engine.py more_like_this) — tf·idf term selection +
# keyword OR + source exclusion, rank-identical to the oracle twin.


@pytest.mark.parametrize("doc_id", [1, 7, 23])
def test_mlt_rank_identity(doc_id, t1_engine, t1_oracle):
    got = _spark_topk(t1_engine.more_like_this(doc_id, k=10, max_terms=8))
    want = t1_oracle.more_like_this(doc_id, k=10, max_terms=8)
    assert got == want
    assert all(d != doc_id for d, _t, _s in got), "source doc must be excluded"


def test_mlt_terms_out_and_min_df(t1_engine, t1_oracle):
    terms: list = []
    t1_engine.more_like_this(1, k=5, max_terms=3, terms_out=terms).collect()
    assert len(terms) == 3
    # min_df high enough drops the rare tail from the selection
    rare_in = any(t1_oracle.df[t1_oracle.term_id[t]] < 3 for t in terms)
    terms2: list = []
    t1_engine.more_like_this(1, k=5, max_terms=3, min_df=3, terms_out=terms2).collect()
    assert all(t1_oracle.df[t1_oracle.term_id[t]] >= 3 for t in terms2)
    if rare_in:
        assert terms != terms2


def test_mlt_unknown_doc_raises(t1_engine):
    with pytest.raises(ValueError, match="unknown"):
        t1_engine.more_like_this(999999)


# ---------------------------------------------------------------------------
# Facets + suggest (engine.py) — search-UX helpers over the match set /
# dictionary, pinned to pure-Python recomputation.


def _oracle_facets(t1_oracle, matches, by="role", n=20):
    from collections import Counter

    turns = Counter()
    docs = {}
    for key in matches:
        v = getattr(t1_oracle.turns[key], by)
        turns[v] += 1
        docs.setdefault(v, set()).add(key[0])
    rows = [(v, c, len(docs[v])) for v, c in turns.items()]
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:n]


def test_facets_match_oracle(t1_engine, t1_oracle):
    q = "roll OR dice"
    got = [
        (r["value"], r["n_turns"], r["n_docs"])
        for r in t1_engine.facets(q, by="role", n=10).collect()
    ]
    assert got == _oracle_facets(t1_oracle, t1_oracle.match_set(q), "role", 10)


def test_facets_builder_and_filter(t1_engine, t1_oracle):
    b = t1_engine.builder().near("roll", "dice", slop=4)
    got = [
        (r["value"], r["n_turns"], r["n_docs"])
        for r in t1_engine.facets(b, by="tool", n=5, where="role = 'user'").collect()
    ]
    from joie_spark.plans.parser import Near

    matches = {
        key
        for key in t1_oracle._eval(Near("roll", "dice", 4, False))
        if t1_oracle.turns[key].role == "user"
    }
    assert got == _oracle_facets(t1_oracle, matches, "tool", 5)


def test_suggest_matches_oracle_rule(t1_engine, t1_oracle):
    from joie_spark.oracle import _levenshtein

    got = t1_engine.suggest("roll", n=5, max_edits=2)
    cand = [
        (t, t1_oracle.df[tid], _levenshtein(t, "roll"))
        for t, tid in t1_oracle.term_id.items()
        if abs(len(t) - 4) <= 2 and _levenshtein(t, "roll") <= 2
    ]
    cand.sort(key=lambda r: (r[2], -r[1], r[0]))
    assert got == cand[:5]
    assert got[0] == ("roll", t1_oracle.df[t1_oracle.term_id["roll"]], 0)
    with pytest.raises(ValueError):
        t1_engine.suggest("  ")
