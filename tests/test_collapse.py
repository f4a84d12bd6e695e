"""Conversation-collapsed top-k (Engine.search_collapsed — the Lucene/ES
field-collapsing shape), keyset pagination (Engine.search_after), and
expression facets, each pinned to a pure-Python recomputation over the
oracle's full scored ranking (bit-identical float64 scores, exact order).
"""

import pytest

QUERIES = [
    "the",                                # hot term, heavy score ties
    "roll OR dice",
    '"crystal kingdom"',
    "roll AND dice OR game",
]


def _full(oracle, q, **kw):
    """The oracle's complete scored ranking (k unbounded)."""
    return oracle.search(q, k=10**9, **kw)


def _collapse(rows, k):
    """Reference collapse: per doc keep (best score, lowest turn on tie)
    + matching-turn count; order score DESC, doc ASC, top k."""
    best: dict[int, tuple[int, float]] = {}
    n: dict[int, int] = {}
    for d, t, s in rows:
        n[d] = n.get(d, 0) + 1
        cur = best.get(d)
        if cur is None or (s, -t) > (cur[1], -cur[0]):
            best[d] = (t, s)
    out = [(d, t, s, n[d]) for d, (t, s) in best.items()]
    out.sort(key=lambda x: (-x[2], x[0]))
    return out[:k]


@pytest.mark.parametrize("q", QUERIES)
def test_collapsed_rank_identical(q, t1_engine, t1_oracle):
    got = [
        (r["doc_id"], r["turn_idx"], r["score"], r["n_matched"])
        for r in t1_engine.search_collapsed(q, k=10).collect()
    ]
    want = _collapse(_full(t1_oracle, q), 10)
    assert got == want, f"{q}\n spark={got}\n oracle={want}"


def test_collapsed_filtered(t1_engine, t1_oracle):
    q = "roll OR dice"
    got = [
        (r["doc_id"], r["turn_idx"], r["score"], r["n_matched"])
        for r in t1_engine.search_collapsed(
            q, k=10, where="role = 'user'"
        ).collect()
    ]
    want = _collapse(
        _full(t1_oracle, q, turn_filter=lambda t: t.role == "user"), 10
    )
    assert got == want


def test_collapsed_n_matched_totals(t1_engine, t1_oracle):
    """Σ n_matched over an un-truncated collapse == the match-set size."""
    q = "roll OR dice"
    rows = t1_engine.search_collapsed(q, k=10**6).collect()
    assert sum(r["n_matched"] for r in rows) == len(t1_oracle.match_set(q))
    # one row per doc
    assert len({r["doc_id"] for r in rows}) == len(rows)


def test_collapsed_oov_empty(t1_engine):
    assert t1_engine.search_collapsed("zzzzunseenzzz", k=10).count() == 0


def test_collapsed_builder_algebra(t1_engine, t1_oracle):
    """Collapse over a builder-only query (prefix) — the full algebra
    rides the same planner."""
    from joie_spark.plans.parser import Prefix

    got = [
        (r["doc_id"], r["turn_idx"], r["score"], r["n_matched"])
        for r in t1_engine.builder().prefix("cr").top_k_collapsed(10).collect()
    ]
    full = t1_oracle.search_expr(Prefix("cr"), k=10**9)
    want = _collapse(full, 10)
    assert got == want


def test_batch_collapsed_bit_identical(t1_engine):
    """search_many_collapsed == per-query search_collapsed, bit for bit,
    across a mixed batch (flat booleans → blocks path, phrase + near →
    postings path, min-match popcount) incl. n_matched."""
    from joie_spark.plans.parser import parse_query

    queries = [
        "roll OR dice",
        '"crystal kingdom"',
        "roll AND dice OR game",
        "the",
        t1_engine.builder().near("roll", "dice", 3),
        t1_engine.builder().keywords("roll", "dice", "game", min_match=2),
    ]
    batch = t1_engine.search_many_collapsed(queries, k=10).collect()
    per_q: dict = {}
    for r in batch:
        per_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["turn_idx"], r["score"], r["n_matched"])
        )
    for qid, q in enumerate(queries):
        want = [
            (r["doc_id"], r["turn_idx"], r["score"], r["n_matched"])
            for r in t1_engine.search_collapsed(q, k=10).collect()
        ]
        assert per_q.get(qid, []) == want, (qid, q)


def test_batch_collapsed_filtered(t1_engine):
    queries = ["roll OR dice", "game"]
    batch = t1_engine.search_many_collapsed(
        queries, k=10, where="role = 'user'"
    ).collect()
    per_q: dict = {}
    for r in batch:
        per_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["turn_idx"], r["score"], r["n_matched"])
        )
    for qid, q in enumerate(queries):
        want = [
            (r["doc_id"], r["turn_idx"], r["score"], r["n_matched"])
            for r in t1_engine.search_collapsed(
                q, k=10, where="role = 'user'"
            ).collect()
        ]
        assert per_q.get(qid, []) == want, q


# ---------------------------------------------------------------------------
# keyset pagination


@pytest.mark.parametrize("q", QUERIES)
def test_pages_tile_the_ranking(q, t1_engine, t1_oracle):
    """Pages of 7 via search_after tile the full ranking exactly — no
    gaps, no overlaps, bit-identical scores — including across heavy
    score ties ('the')."""
    want = _full(t1_oracle, q)
    pages = []
    cursor = None
    for _ in range(4):
        page = [
            (r["doc_id"], r["turn_idx"], r["score"])
            for r in t1_engine.search_after(q, cursor, k=7).collect()
        ]
        if not page:
            break
        pages.extend(page)
        cursor = page[-1]
    assert pages == want[: len(pages)]
    assert len(pages) == min(28, len(want))


def test_page_one_equals_search(t1_engine):
    q = "roll OR dice"
    a = [tuple(r) for r in t1_engine.search(q, k=10).collect()]
    b = [tuple(r) for r in t1_engine.search_after(q, None, k=10).collect()]
    assert a == b


def test_page_past_end_empty(t1_engine, t1_oracle):
    q = '"crystal kingdom"'
    want = _full(t1_oracle, q)
    assert t1_engine.search_after(q, want[-1], k=10).count() == 0


def test_page_after_builder(t1_engine, t1_oracle):
    q = "roll OR dice"
    want = _full(t1_oracle, q)
    b = t1_engine.builder().keywords("roll", "dice")
    p1 = [tuple(r) for r in b.page_after(None, k=5).collect()]
    p2 = [tuple(r) for r in b.page_after(p1[-1], k=5).collect()]
    assert [  # noqa: C416
        (d, t, s) for d, t, s in p1 + p2
    ] == want[:10]


def test_filtered_pagination(t1_engine, t1_oracle):
    q = "roll OR dice"
    want = _full(t1_oracle, q, turn_filter=lambda t: t.role == "user")
    p1 = [
        tuple(r)
        for r in t1_engine.search_after(
            q, None, k=5, where="role = 'user'"
        ).collect()
    ]
    p2 = [
        tuple(r)
        for r in t1_engine.search_after(
            q, p1[-1], k=5, where="role = 'user'"
        ).collect()
    ]
    assert p1 + p2 == want[:10]


def test_collapsed_highlighted(t1_engine):
    """Snippets for each document's best turn: same rows as
    search_collapsed, parts carry the matched terms as highlights and
    reconstruct the turn text, per-turn parts identical to
    search_highlighted's for the same (doc, turn)."""
    q = "roll OR dice"
    base = {
        (r["doc_id"], r["turn_idx"]): (r["score"], r["n_matched"])
        for r in t1_engine.search_collapsed(q, k=10).collect()
    }
    hi = t1_engine.search_collapsed_highlighted(q, k=10).collect()
    assert {(r["doc_id"], r["turn_idx"]) for r in hi} == set(base)
    ref = {
        (r["doc_id"], r["turn_idx"]): [(p["kind"], p["text"]) for p in r["parts"]]
        for r in t1_engine.search_highlighted(q, k=10**6).collect()
    }
    for r in hi:
        parts = [(p["kind"], p["text"]) for p in r["parts"]]
        assert "".join(t for _, t in parts) == r["text"]
        assert any(kind == "highlight" for kind, _ in parts)
        assert parts == ref[(r["doc_id"], r["turn_idx"])]


def test_collapsed_highlighted_skips_prohibited_words(t1_engine):
    """Words of a prohibited clause (the right side of an AndNot) never
    highlight: here that clause matches nothing, so every best turn of a
    "roll" document is returned, and turns that also contain "dice" must
    not have it marked."""
    from joie_spark.tokenizer import tokenize_terms

    b = t1_engine.builder()
    q = b.keywords("roll") - (b.phrase("dice") & b.phrase("zzqxoov"))
    rows = t1_engine.search_collapsed_highlighted(q, k=50).collect()
    dice = tokenize_terms("dice")
    assert any(set(dice) <= set(tokenize_terms(r["text"])) for r in rows)
    for r in rows:
        marked = [p["text"] for p in r["parts"] if p["kind"] == "highlight"]
        assert marked, r["text"]
        assert all(tokenize_terms(t) != dice for t in marked), marked


def test_describe(t1_engine, t1_oracle, t1_rows):
    d = t1_engine.describe()
    assert d["n_turns"] == len(t1_rows)
    assert d["n_docs"] == len({r["conv_id"] for r in t1_rows})
    assert d["vocab_terms"] == len(t1_oracle.term_id)
    assert abs(d["avgdl"] - t1_oracle.avgdl) < 1e-9
    assert d["tombstoned_docs"] == 0
    assert d["total_blocks"] > 0 and d["generations"] == [0]


# ---------------------------------------------------------------------------
# per-term query-time boosts


def test_boosted_rank_identical(t1_engine, t1_oracle):
    from joie_spark.plans.parser import parse_query

    q = "roll OR dice OR game"
    boosts = {"dice": 3.0, "game": 0.25}
    got = [
        tuple(r)
        for r in t1_engine.search_boosted(q, boosts, k=10).collect()
    ]
    want = t1_oracle.search_expr(parse_query(q), k=10, boosts=boosts)
    assert got == want
    # and it actually reordered vs the unboosted ranking
    plain = [tuple(r) for r in t1_engine.search(q, k=10).collect()]
    assert [g[:2] for g in got] != [p[:2] for p in plain]


def test_boost_of_one_is_identity(t1_engine):
    q = "roll OR dice"
    a = [tuple(r) for r in t1_engine.search(q, k=10).collect()]
    b = [
        tuple(r)
        for r in t1_engine.search_boosted(
            q, {"roll": 1.0, "dice": 1.0}, k=10
        ).collect()
    ]
    assert a == b


def test_boost_never_changes_matching(t1_engine, t1_oracle):
    q = "roll AND dice"
    rows = t1_engine.search_boosted(q, {"roll": 100.0}, k=10**6).collect()
    assert {(r["doc_id"], r["turn_idx"]) for r in rows} == t1_oracle.match_set(q)


def test_boost_key_stems_and_oov_ignored(t1_engine, t1_oracle):
    from joie_spark.plans.parser import parse_query

    q = "roll OR dice"
    # "rolling" stems to "roll"; the OOV key contributes nothing
    got = [
        tuple(r)
        for r in t1_engine.search_boosted(
            q, {"rolling": 2.0, "zzzzunseenzzz": 9.0}, k=10
        ).collect()
    ]
    want = t1_oracle.search_expr(
        parse_query(q), k=10, boosts={"rolling": 2.0}
    )
    assert got == want


def test_boost_rejects_multiword_key(t1_engine):
    with pytest.raises(ValueError):
        t1_engine.search_boosted("roll", {"crystal kingdom": 2.0}, k=5)


def test_explain_score_sums_to_search_score(t1_engine, t1_oracle):
    """Per-term contributions, summed in term_id order, reproduce the
    row's search() score bit-for-bit; tf/df/idf agree with the oracle."""
    q = "roll OR dice OR game"
    top = t1_engine.search(q, k=3).collect()
    for r in top:
        parts = t1_engine.explain_score(q, r["doc_id"], r["turn_idx"])
        assert parts, r
        s = 0.0
        for p in parts:
            s += p["contribution"]
        assert s == r["score"], (r, parts)
        turn = t1_oracle.turns[(r["doc_id"], r["turn_idx"])]
        for p in parts:
            assert p["tf"] == len(turn.positions[p["term_id"]])
            assert p["df"] == t1_oracle.df[p["term_id"]]
    # a non-matching row explains to []
    assert t1_engine.explain_score(q, 10**9, 0) == []


# ---------------------------------------------------------------------------
# recency decay


def test_decayed_matches_python_recompute(t1_engine, t1_oracle, t1_rows):
    """score × 2^(−age/half_life) recomputed in Python from the oracle's
    full ranking; ranks exact, scores within float ulp tolerance (JVM
    Math.pow vs C pow may differ in the last bit)."""
    q = "roll OR dice"
    ref = "2024-01-02 00:00:00"
    half = 1800.0
    import datetime as dt

    ref_dt = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)
    ts_of = {
        (t1_oracle.doc_of_conv[r["conv_id"]], r["turn_idx"]): r["ts"]
        for r in t1_rows
    }
    full = _full(t1_oracle, q)
    rescored = [
        (d, t, s * 2.0 ** (-(ref_dt - ts_of[(d, t)]).total_seconds() / half))
        for d, t, s in full
    ]
    rescored.sort(key=lambda x: (-x[2], x[0], x[1]))
    got = [
        tuple(r)
        for r in t1_engine.search_decayed(q, ref, half, k=10).collect()
    ]
    assert [(d, t) for d, t, _ in got] == [(d, t) for d, t, _ in rescored[:10]]
    for (_, _, a), (_, _, b) in zip(got, rescored[:10]):
        assert abs(a - b) <= 1e-12 * max(abs(a), abs(b), 1.0)
    # matching unchanged: huge half-life ≈ plain ranking
    plain = [tuple(r) for r in t1_engine.search(q, k=10).collect()]
    slow = [
        tuple(r)
        for r in t1_engine.search_decayed(q, ref, 1e15, k=10).collect()
    ]
    assert [(d, t) for d, t, _ in slow] == [(d, t) for d, t, _ in plain]


def test_decayed_rejects_bad_args(t1_engine):
    with pytest.raises(ValueError):
        t1_engine.search_decayed("roll", "", 100.0)
    with pytest.raises(ValueError):
        t1_engine.search_decayed("roll", "2024-01-01 00:00:00", 0.0)


# ---------------------------------------------------------------------------
# expression facets (date histogram)


def test_facets_date_histogram(t1_engine, t1_oracle, t1_rows):
    """facets(by=<SQL expression>) — a day-bucket histogram over the
    match set, recomputed from the raw rows."""
    q = "roll OR dice"
    got = [
        (r["value"], r["n_turns"], r["n_docs"])
        for r in t1_engine.facets(
            q, by="cast(date_trunc('day', ts) as date)", n=50
        ).collect()
    ]
    match = t1_oracle.match_set(q)
    ts_of = {
        (t1_oracle.doc_of_conv[r["conv_id"]], r["turn_idx"]): r["ts"]
        for r in t1_rows
    }
    per_day: dict = {}
    for key in match:
        day = ts_of[key].date()
        turns, docs = per_day.setdefault(day, [0, set()])
        per_day[day][0] += 1
        per_day[day][1].add(key[0])
    want = sorted(
        ((d, n, len(ds)) for d, (n, ds) in per_day.items()),
        key=lambda x: (-x[1], x[0]),
    )[:50]
    assert got == want
