"""Keyword-OR queries on the block-max WAND executor (operators/batch.py,
a batch of one): they must be rank-identical to the oracle on the auto
route (the postings frame) and on the forced-pruned probe/θ route, and θ
must actually prune (query, block) pairs."""

import pytest

WORD_SETS = [
    ["roll", "dice"],
    ["roll", "dice", "game", "kingdom"],
    ["venimus"],               # rare term
    ["the"],                   # hot term (many blocks)
    ["zzznope", "dice"],       # OOV mixed in
]


def _rows(df):
    return [(r["doc_id"], r["turn_idx"], r["score"]) for r in df.collect()]


def _forced_pruned(engine, q, k, **kw):
    # direct_threshold=0 forces pruning at this block count, probe_blocks=1
    # leaves blocks for θ to prune: the block-max WAND path proper
    return engine.search_many(
        [q], k=k, direct_threshold=0, probe_blocks=1, **kw
    ).drop("query_id")


@pytest.mark.parametrize("words", WORD_SETS)
def test_wand_rank_identical_to_exhaustive(words, t1_engine, t1_oracle):
    q = " OR ".join(words)
    want = t1_oracle.search(q, k=10)
    assert _rows(t1_engine.search(q, k=10)) == want
    assert _rows(_forced_pruned(t1_engine, q, k=10)) == want


def test_wand_empty_for_all_oov(t1_engine):
    assert t1_engine.search("zzznope", k=10).collect() == []
    assert _forced_pruned(t1_engine, "zzznope", k=10).collect() == []


def test_wand_prunes_blocks(t1_engine, t1_oracle):
    # rare term (high idf) + hot term: the k=1 threshold comes from a
    # venimus-bearing block, so blocks holding only 'the' are pruned
    for q, k in (("venimus OR the", 1), ("the OR roll", 5)):
        st: dict = {}
        df = t1_engine.search_many(
            [q], k=k, direct_threshold=0, probe_blocks=1, stats_out=st
        )
        got = _rows(df)
        handle = getattr(df, "_joie_persisted", None)
        if handle is not None:
            handle.unpersist()
        assert got == t1_oracle.search(q, k=k), q
        assert st["path"] == "pruned"
        assert st["probed_blocks"] == 1
        cand = st["candidate_qblock_pairs"]
        kept = st.get("kept_qb_pairs", 0) + st["probed_blocks"]
        # pruning is always sound: never more kept than candidates
        assert 0 < kept <= cand, (q, st)
        if q == "venimus OR the":
            assert kept < cand, st  # θ pruned some (query, block) pairs
            decoded = st["probed_tb_pairs"] + st["decoded_tb_after_probe"]
            assert decoded < st["candidate_tb_pairs"], st
