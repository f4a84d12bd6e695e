"""The correctness gate (FIXTURES.md §3-4): the Spark engine's BM25 top-k
must be rank-identical — exact docID sequence AND bit-identical float64
scores — to the single-node oracle on the frozen query set, and boolean
match sets must be exactly equal."""

import pytest

from joie_spark.corpus import HOT_TERMS

# q01..q12 per FIXTURES.md §4 (rare/OOV terms chosen from the corpus spec:
# rare tail lemmas are the _lemmas()[1] list; 'baranis' is one of them)
FROZEN_QUERIES = {
    "q01_hot_keyword": "the",
    "q02_rare_keyword": "venimus",
    "q03_oov": "zzzzunseenzzz",
    "q04_two_term_or": "roll OR dice",
    "q05_k_term_or": "roll OR dice OR game OR kingdom",
    "q06_two_phrase_and": '"crystal kingdom" AND "roll for insight"',
    "q07_nested": '(roll OR "crystal kingdom") AND dice',
    "q08_phrase": '"crystal kingdom"',
    "q09_bare_phrase": "roll for insight",
    "q10_filtered": "roll OR dice",  # + role filter, see test below
    "q11_precedence": "roll AND dice OR game",
    "q12_phrase_dup_terms": '"crystal crystal kingdom"',
}


@pytest.mark.parametrize("qid", sorted(FROZEN_QUERIES))
def test_match_set_equality(qid, t1_engine, t1_oracle):
    q = FROZEN_QUERIES[qid]
    got = {
        (r["doc_id"], r["turn_idx"])
        for r in t1_engine.match_set(q).collect()
    }
    want = t1_oracle.match_set(q)
    assert got == want, f"{qid}: spark={len(got)} oracle={len(want)}"


@pytest.mark.parametrize("qid", sorted(FROZEN_QUERIES))
def test_topk_rank_identical(qid, t1_engine, t1_oracle):
    q = FROZEN_QUERIES[qid]
    got = [
        (r["doc_id"], r["turn_idx"], r["score"])
        for r in t1_engine.search(q, k=10).collect()
    ]
    want = t1_oracle.search(q, k=10)
    assert got == want, f"{qid}\n spark={got}\n oracle={want}"


def test_filtered_query_rank_identical(t1_engine, t1_oracle):
    q = FROZEN_QUERIES["q10_filtered"]
    got = [
        (r["doc_id"], r["turn_idx"], r["score"])
        for r in t1_engine.search(q, k=10, where="role = 'user'").collect()
    ]
    want = t1_oracle.search(q, k=10, turn_filter=lambda t: t.role == "user")
    assert got == want


def test_doc_filtered_query_rank_identical(t1_engine, t1_oracle):
    """DocumentFilter analogue (engine/src/query/filter.rs:7-34): SQL
    predicate on the doc_meta table vs oracle doc-level predicate."""
    got = [
        (r["doc_id"], r["turn_idx"], r["score"])
        for r in t1_engine.search(
            "roll OR dice", k=10, where_doc="n_turns >= 10"
        ).collect()
    ]
    want = t1_oracle.search(
        "roll OR dice", k=10, doc_filter=lambda m: m["n_turns"] >= 10
    )
    assert got == want
    assert got, "doc filter should keep some matches on t1"


def test_phrase_near_miss_excluded(t1_oracle):
    # near-miss turns contain the terms non-adjacently; the corpus plants
    # "crystal bright kingdom" / "kingdom of crystal" at ci%13==0, ti=0
    matches = t1_oracle.match_set('"crystal kingdom"')
    near_miss_keys = {
        (t.doc_id, t.turn_idx)
        for t in t1_oracle.turns.values()
        if "crystal bright kingdom" in t.text
    }
    assert near_miss_keys, "corpus should contain near-miss turns"
    assert not (matches & near_miss_keys)


def test_hot_terms_are_hot(t1_oracle):
    # corpus contract: each hot term in >10% of turns (skew-path fixture)
    n = t1_oracle.n_turns
    for w in HOT_TERMS[:5]:
        tid = t1_oracle.term_id.get(w) or t1_oracle.term_id.get(w[:-1])
        from joie_spark.stemmer import stem

        tid = t1_oracle.term_id[stem(w)]
        assert t1_oracle.df[tid] > 0.10 * n


def test_phrase_rarest_seed_rank_identity(t1_engine, t1_oracle, monkeypatch):
    """VERDICT r4 item 2: rarest-term-first phrase seeding (batch.py
    _seed_term_ids) must be invisible in results — forcing the seed
    ON for every phrase (ratio 1.0) and OFF (ratio ∞) must both equal
    the oracle, including stopword-phrases where the seed engages for
    real ('the X' shapes) and dup-term phrases."""
    import joie_spark.operators.query as Q

    queries = [
        '"crystal kingdom"',
        '"roll for insight"',
        '"the crystal"',
        '"crystal crystal kingdom"',
        '"crystal kingdom" AND "roll for insight"',
    ]
    for q in queries:
        want_match = t1_oracle.match_set(q)
        want_top = t1_oracle.search(q, k=10)
        for ratio in (1.0, float("inf")):
            monkeypatch.setattr(Q, "PHRASE_SEED_DF_RATIO", ratio)
            # ratio 1.0 must actually engage the seed on the tiny corpus
            monkeypatch.setattr(Q, "PHRASE_SEED_MIN_HOT_DF", 0)
            got_match = {
                (r["doc_id"], r["turn_idx"])
                for r in t1_engine.match_set(q).collect()
            }
            assert got_match == want_match, (q, ratio)
            got_top = [
                (r["doc_id"], r["turn_idx"], r["score"])
                for r in t1_engine.search(q, k=10).collect()
            ]
            assert got_top == want_top, (q, ratio)


def _seedable(E):
    """One builder per shape whose every match contains some term
    (query.required_term_ids), so the seed can engage on it alone and
    on a batch of them: near, within, '"crystal kingdom" AND roll', an
    AndNot, and a plain AND."""
    return [
        E.builder().near("the", "dice", slop=2),
        E.builder().within("roll", "dice", "game", window=8),
        E.builder().phrase("crystal kingdom") & E.builder().keywords("roll"),
        E.builder().keywords("roll") - E.builder().phrase("crystal kingdom"),
        E.builder().keywords("roll") & E.builder().keywords("dice"),
    ]


def _mixed(E):
    """A batch mixing seedable shapes with ones that require no single
    term (keyword OR, prefix, fuzzy, an OR under an AND)."""
    return _seedable(E) + [
        E.builder().keywords("roll", "dice"),
        E.builder().prefix("ro"),
        E.builder().fuzzy("dice", 1),
        E.builder().prefix("ro") - E.builder().phrase("crystal kingdom"),
        E.builder().near("crystal", "kingdom", slop=2, ordered=True)
        & E.builder().keywords("game", "dice"),
    ]


def test_seed_rank_identity_beyond_phrases(t1_engine, t1_oracle, monkeypatch):
    """The rarest-required-term seed (batch._seed_term_ids) forced ON
    (ratio 0, hot-df floor 0) and OFF (ratio ∞) must equal the oracle
    for single near / within / phrase-AND-keyword / AndNot / AND
    searches and for batches of them, where the seed rows are the union
    of each query's rarest required term; ON must really engage."""
    import joie_spark.operators.batch as B
    import joie_spark.operators.query as Q

    ix = t1_engine.index

    def seeds(exprs):
        items, dfs = Q.plan_exprs(ix, exprs)
        ids = sorted({t for _q, n, _i in items for t in Q.pred_term_ids(n) if t > 0})
        return B._seed_term_ids(items, dfs, ids)

    singles = _seedable(t1_engine)
    batches = [_seedable(t1_engine), _mixed(t1_engine)]
    for ratio in (0.0, float("inf")):
        monkeypatch.setattr(Q, "PHRASE_SEED_DF_RATIO", ratio)
        monkeypatch.setattr(Q, "PHRASE_SEED_MIN_HOT_DF", 0)
        for b in singles:
            e = b._require_expr()
            assert bool(seeds([e])) == (ratio == 0.0), (e, ratio)
            got_match = {(r["doc_id"], r["turn_idx"]) for r in b.matches().collect()}
            assert got_match == t1_oracle._eval(e), (e, ratio)
            got_top = [tuple(r) for r in b.top_k(10).collect()]
            assert got_top == t1_oracle.search_expr(e, k=10), (e, ratio)
        assert bool(seeds([b._require_expr() for b in batches[0]])) == (
            ratio == 0.0
        )
        for batch in batches:
            got = {}
            for r in t1_engine.search_many_built(batch, k=10).collect():
                got.setdefault(r["query_id"], []).append(
                    (r["doc_id"], r["turn_idx"], r["score"])
                )
            for i, b in enumerate(batch):
                want = t1_oracle.search_expr(b._require_expr(), k=10)
                assert got.get(i, []) == want, (i, ratio)
        q = '"crystal kingdom" AND roll'  # the string twin of singles[2]
        got = [tuple(r) for r in t1_engine.search(q, k=10).collect()]
        assert got == t1_oracle.search(q, k=10), ratio
