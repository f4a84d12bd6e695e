"""Batch query API (search_many): per-query results must be bit-identical
to the single-query path, for plain / turn-filtered / doc-filtered batches
and batches containing OOV-only queries.  Also covers the doc-filtered
keyword-OR single search, Engine.search's mode check and build hygiene (resume param pinning, no leaked persisted RDDs)."""

import pytest

BATCH = [
    "roll OR dice",
    '"crystal kingdom"',
    "roll AND dice",
    "zzzzunseenzzz",            # OOV → contributes no rows
    '(roll OR "crystal kingdom") AND dice',
    "the",
]


def _single(engine, q, k=10, **kw):
    return [
        (r["doc_id"], r["turn_idx"], r["score"])
        for r in engine.search(q, k=k, mode="exhaustive", **kw).collect()
    ]


def _batched(engine, queries, k=10, **kw):
    rows = engine.search_many(queries, k=k, **kw).collect()
    out = {i: [] for i in range(len(queries))}
    for r in rows:
        out[r["query_id"]].append((r["doc_id"], r["turn_idx"], r["score"]))
    return out


@pytest.mark.parametrize("mode", ["auto", "postings"])
def test_search_many_matches_single(t1_engine, mode):
    got = _batched(t1_engine, BATCH, mode=mode)
    for i, q in enumerate(BATCH):
        assert got[i] == _single(t1_engine, q), (mode, q)


def test_search_many_blocks_path_pruned_still_exact(t1_engine):
    """Force the θ-pruning machinery to engage (probe smaller than the
    candidate-block count, small k) — results must stay bit-identical to
    the exhaustive single-query path."""
    queries = ["the", "roll OR dice", "roll AND dice", "you OR the OR so"]
    for k in (1, 3):
        # direct_threshold=0 disables the small-index decode-all shortcut
        # so the probe/θ/survivor phases actually run
        got = _batched(t1_engine, queries, k=k, probe_blocks=1, direct_threshold=0)
        for i, q in enumerate(queries):
            assert got[i] == _single(t1_engine, q, k=k), (k, q)
        got_direct = _batched(t1_engine, queries, k=k)  # decode-all shortcut
        assert got_direct == got


def test_search_many_stats_out_releases_persist(t1_engine):
    """ADVICE r4 (low): the stats_out diagnostics path persists the
    survivor-block frame; the result must expose it as ._joie_persisted
    so the caller can release it (instead of leaking a cached DataFrame
    per diagnostic call for the life of the session)."""
    stats: dict = {}
    df = t1_engine.search_many(
        ["the", "roll OR dice"], k=3, probe_blocks=1, direct_threshold=0,
        stats_out=stats,
    )
    df.collect()
    assert stats["path"] == "pruned"
    h = getattr(df, "_joie_persisted", None)
    if h is not None:  # phase 3 ran → handle exposed
        assert h.storageLevel.useMemory
        h.unpersist()
        assert not h.storageLevel.useMemory


def test_block_count_derives_from_docs_not_turns(t1_engine):
    """Routing regression: block_id = doc_id // docs_per_block ranges over
    DOCS (conversations), so the direct-vs-pruned threshold must compare
    against ceil(n_docs / docs_per_block).  The t1 corpus (50 convs, ~650
    turns, dpb=8) has 7 real blocks; the old turn-based estimate said ~81
    and would mis-route a threshold of 40 into the 3-phase machinery."""
    ix = t1_engine.index
    assert ix.doc_meta.count() == 50
    assert ix.n_docs == 51  # dense ids start at 1 → 51 slots
    assert ix.total_blocks == -(-51 // 8) == 7
    assert ix.stats["n_docs"] == 51  # persisted at build, not recomputed

    stats: dict = {}
    t1_engine.search_many(
        ["the", "roll OR dice"], k=3, mode="blocks", direct_threshold=40,
        stats_out=stats,
    ).collect()
    assert stats["path"] == "direct"
    assert stats["total_blocks"] == 7


def test_search_many_blocks_mode_rejects_phrases(t1_engine):
    with pytest.raises(ValueError, match="phrase"):
        t1_engine.search_many(['"crystal kingdom"'], mode="blocks").collect()


def test_search_many_ordering(t1_engine):
    rows = t1_engine.search_many(BATCH, k=5).collect()
    keys = [
        (r["query_id"], -r["score"], r["doc_id"], r["turn_idx"]) for r in rows
    ]
    assert keys == sorted(keys)


def test_search_many_filters(t1_engine, t1_oracle):
    queries = ["roll OR dice", '"crystal kingdom"']
    got = _batched(t1_engine, queries, where="role = 'user'")
    for i, q in enumerate(queries):
        assert got[i] == _single(t1_engine, q, where="role = 'user'"), q

    got = _batched(t1_engine, queries, where_doc="n_turns >= 10")
    for i, q in enumerate(queries):
        assert got[i] == _single(t1_engine, q, where_doc="n_turns >= 10"), q


def test_search_many_all_oov_is_empty(t1_engine):
    assert t1_engine.search_many(["zzzq zzzr", "zzzs"], k=5).collect() == []


def test_wand_doc_filtered_rank_identical(t1_engine, t1_oracle):
    """where_doc reaches the block-max path (Engine.search auto-routes
    keyword-OR queries there as a batch of one, doc filter fused)."""
    got = [
        (r["doc_id"], r["turn_idx"], r["score"])
        for r in t1_engine.search(
            "roll OR dice", k=10, where_doc="n_turns >= 10"
        ).collect()
    ]
    want = t1_oracle.search(
        "roll OR dice", k=10, doc_filter=lambda m: m["n_turns"] >= 10
    )
    assert got == want and got


def test_entry_points_accept_where_doc(t1_engine, t1_oracle):
    got = [
        (r["doc_id"], r["turn_idx"], r["score"])
        for r in t1_engine.keywords(
            ["roll", "dice"], k=10, where_doc="n_turns >= 10"
        ).collect()
    ]
    want = t1_oracle.search(
        "roll OR dice", k=10, doc_filter=lambda m: m["n_turns"] >= 10
    )
    assert got == want

    got_p = [
        (r["doc_id"], r["turn_idx"], r["score"])
        for r in t1_engine.phrase(
            "crystal kingdom", k=10, where_doc="n_turns >= 10"
        ).collect()
    ]
    want_p = t1_oracle.search(
        '"crystal kingdom"', k=10, doc_filter=lambda m: m["n_turns"] >= 10
    )
    assert got_p == want_p

    hl = t1_engine.search_highlighted(
        "roll OR dice", k=5, where_doc="n_turns >= 10"
    ).collect()
    assert {(r["doc_id"], r["turn_idx"]) for r in hl} == {
        (d, t) for d, t, _ in want[:5]
    }


def test_resume_rejects_param_mismatch(spark, t1_rows, tmp_path):
    from joie_spark.operators.build import build_index

    d = str(tmp_path / "ix")
    df = spark.createDataFrame(t1_rows)
    build_index(spark, df, d, n_buckets=8, docs_per_block=8, block_chunks=2)
    with pytest.raises(ValueError, match="n_buckets"):
        build_index(spark, df, d, n_buckets=16, docs_per_block=8, block_chunks=2)
    with pytest.raises(ValueError, match="block_chunks"):
        build_index(spark, df, d, n_buckets=8, docs_per_block=8, block_chunks=4)


def test_build_leaves_no_persisted_rdds(spark, t1_rows, tmp_path):
    from joie_spark.operators.build import build_index

    d = str(tmp_path / "ix_leak")
    build_index(spark, spark.createDataFrame(t1_rows), d, n_buckets=8,
                docs_per_block=8, block_chunks=1)
    leaked = spark.sparkContext._jsc.getPersistentRDDs()
    assert leaked.size() == 0, f"leaked persisted RDDs: {leaked}"


def test_turn_idx_range_validated(spark, tmp_path):
    from joie_spark.functions.codec import TURN_BITS
    from joie_spark.operators.build import build_index

    df = spark.createDataFrame(
        [("c1", 1 << TURN_BITS, "user", "hello world", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    with pytest.raises(ValueError, match="turn_idx"):
        build_index(spark, df, str(tmp_path / "bad"), n_buckets=4)


def test_auto_where_filtered_single_uses_blocks(t1_engine):
    """VERDICT r3 item 3: a turn-filtered phrase-free single query in auto
    mode must (a) stay rank-identical to the exhaustive path and (b) run
    on the compressed blocks table, not the fat postings scan."""
    for q in ["roll OR dice", "roll AND dice", "the"]:
        auto = t1_engine.search(q, k=10, where="role = 'user'")
        got = [(r["doc_id"], r["turn_idx"], r["score"]) for r in auto.collect()]
        assert got == _single(t1_engine, q, where="role = 'user'"), q
    plan = t1_engine.search(
        "roll AND dice", k=10, where="role = 'user'"
    )._jdf.queryExecution().explainString(
        t1_engine.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "docids" in plan          # compressed blocks columns
    assert "/postings" not in plan   # postings table untouched


def test_search_rejects_unknown_mode(t1_engine):
    """Only 'auto' and 'exhaustive' exist: any other value (incl. the
    retired 'wand') must raise instead of silently picking a route."""
    for mode in ("wand", "blocks", "postings", "AUTO"):
        with pytest.raises(ValueError, match="unknown mode"):
            t1_engine.search("roll OR dice", mode=mode)


def test_search_many_job_count_bounded(t1_engine):
    """Throughput regression gate (VERDICT r5 item 2), host-noise-robust
    form: the batch path's Spark JOB count is deterministic where
    wall-clock on this host is not (documented 1-5x contention spikes),
    and every past batch regression (per-query driver loops, extra
    barriers) would show up as extra jobs.  Measured today: auto=7,
    forced-pruned=27 for an 18-query batch; bounds leave headroom for
    planner drift but fail on anything per-query."""
    batch = BATCH * 3  # 18 queries — job count must not scale with batch
    sc = t1_engine.spark.sparkContext
    t1_engine.search_many(BATCH[:2], k=10).collect()  # warm term lookups
    sc.setJobGroup("gate-auto", "job-count gate")
    t1_engine.search_many(batch, k=10).collect()
    n_auto = len(sc.statusTracker().getJobIdsForGroup("gate-auto"))
    sc.setJobGroup("gate-pruned", "job-count gate")
    t1_engine.search_many(
        batch, k=10, direct_threshold=0, probe_blocks=4
    ).collect()
    n_pruned = len(sc.statusTracker().getJobIdsForGroup("gate-pruned"))
    sc.setJobGroup(None, None)
    assert n_auto <= 10, f"auto batch path ran {n_auto} jobs (was 7)"
    assert n_pruned <= 34, f"pruned batch path ran {n_pruned} jobs (was 27)"


def test_keyword_or_search_job_count_bounded(t1_engine):
    """A keyword-OR Engine.search is a batch of one on the block-max
    executor, so it runs no more jobs than search_many([q]) does —
    measured 7 on this index (the retired single-query WAND decoder ran
    10: a ub collect and a probe collect before the final pass)."""
    sc = t1_engine.spark.sparkContext

    def jobs(tag, fn):
        fn()  # warm term lookups
        sc.setJobGroup(tag, "job-count gate")
        fn()
        n = len(sc.statusTracker().getJobIdsForGroup(tag))
        sc.setJobGroup(None, None)
        return n

    n_single = jobs(
        "gate-kw-single", lambda: t1_engine.search("roll OR dice", k=10).collect()
    )
    n_batch1 = jobs(
        "gate-kw-batch1",
        lambda: t1_engine.search_many(["roll OR dice"], k=10).collect(),
    )
    assert n_single <= n_batch1, (n_single, n_batch1)
    assert n_single <= 7, f"keyword-OR search ran {n_single} jobs (was 7)"
