"""Incremental append + compaction (operators/append.py).

Contract: build(a) + append(b) answers every query with the SAME scored
result set as build(a ∪ b) — scores bit-identical (tf/dl/df/N/avgdl all
equal); only doc_id ASSIGNMENT differs (append order vs global conv_id
rank), so comparisons key on conv_id.  Appends must be disjoint,
resumable mid-way, reject a different input on resume, and compaction
must preserve results while collapsing generations."""

import os

import pytest

QUERIES = [
    "roll OR dice",
    "roll AND dice",
    '"crystal kingdom"',
    "the",
    '(roll OR "crystal kingdom") AND dice',
]


def _split_rows(t1_rows):
    convs = sorted({r["conv_id"] for r in t1_rows})
    a_set = set(convs[:30])
    a = [r for r in t1_rows if r["conv_id"] in a_set]
    b = [r for r in t1_rows if r["conv_id"] not in a_set]
    return a, b


def _by_conv(eng, q, **kw):
    # k large enough to rank EVERY match: top-k boundary ties could
    # otherwise resolve differently under different doc_id assignments
    res = eng.search(q, k=100000, **kw)
    convs = eng.index.turns.select("doc_id", "conv_id").distinct()
    rows = res.join(convs, "doc_id").collect()
    return sorted((r["conv_id"], r["turn_idx"], r["score"]) for r in rows)


@pytest.fixture(scope="module")
def appended(spark, t1_rows, tmp_path_factory, t1_index_copy):
    """full = build(a∪b); inc = build(a) then append(b)."""
    from joie_spark.engine import Engine

    a, b = _split_rows(t1_rows)
    d_inc = str(tmp_path_factory.mktemp("ix_inc"))
    kw = dict(n_buckets=8, docs_per_block=8, block_chunks=2)
    full = t1_index_copy(**kw)
    inc = Engine.build(spark, spark.createDataFrame(a), d_inc, **kw)
    inc.append(spark.createDataFrame(b))
    return full, inc


def test_append_equals_full_rebuild(appended):
    full, inc = appended
    assert full.index.stats["N"] == inc.index.stats["N"]
    # n_docs (the block-count denominator) tracks appends: dense doc ids
    # continue from the base index's max, so both routes agree
    assert full.index.stats["n_docs"] == inc.index.stats["n_docs"] == 51
    assert full.index.stats["avgdl"] == inc.index.stats["avgdl"]
    assert full.index.stats["n_terms"] == inc.index.stats["n_terms"]
    for q in QUERIES:
        assert _by_conv(full, q, mode="exhaustive") == _by_conv(
            inc, q, mode="exhaustive"
        ), q


def test_append_wand_and_batch_paths_sound(appended):
    """The block-max paths must stay rank-identical after the avgdl drift
    (enc_avgdl correction), for single (a batch of one) and batch
    queries."""
    full, inc = appended
    for q in ["roll OR dice", "the", "you OR so OR dice"]:
        assert _by_conv(full, q) == _by_conv(inc, q), q  # auto → blocks
    flat = ["roll OR dice", "roll AND dice", "the"]
    for eng in (full, inc):
        batch = eng.search_many(flat, k=8).collect()
        batch_forced = eng.search_many(
            flat, k=8, direct_threshold=0, probe_blocks=2
        ).collect()
        assert batch == batch_forced
        singles = [
            (r["query_id"], r["score"])
            for r in batch
        ]
        want = [
            (i, r["score"])
            for i, q in enumerate(flat)
            for r in eng.search(q, k=8, mode="exhaustive").collect()
        ]
        assert singles == want


def test_append_filters_and_match_set(appended, t1_oracle):
    full, inc = appended
    got = _by_conv(inc, "roll OR dice", where="role = 'user'", mode="exhaustive")
    want = _by_conv(full, "roll OR dice", where="role = 'user'", mode="exhaustive")
    assert got == want and got
    m_full = full.match_set("roll AND dice").join(
        full.index.turns.select("doc_id", "conv_id").distinct(), "doc_id"
    ).collect()
    m_inc = inc.match_set("roll AND dice").join(
        inc.index.turns.select("doc_id", "conv_id").distinct(), "doc_id"
    ).collect()
    assert sorted((r["conv_id"], r["turn_idx"]) for r in m_full) == sorted(
        (r["conv_id"], r["turn_idx"]) for r in m_inc
    )


def test_append_rejects_overlapping_convs(appended, spark, t1_rows):
    _full, inc = appended
    with pytest.raises(ValueError, match="disjoint"):
        inc.append(spark.createDataFrame(t1_rows[:5]))


def test_append_requires_complete_build(spark, t1_rows, tmp_path):
    from joie_spark.operators.append import append_index

    with pytest.raises(ValueError, match="completed build"):
        append_index(spark, spark.createDataFrame(t1_rows), str(tmp_path / "nope"))


def test_append_resumes_after_crash(
    spark, t1_rows, tmp_path, monkeypatch, t1_index_copy
):
    """Kill the append mid-way (first postings write of the delta gen),
    re-run it, and require the result to match an uncrashed append."""
    from joie_spark.engine import Engine
    from joie_spark.sources.tables import Manifest, ParquetManifestFormat

    a, b = _split_rows(t1_rows)
    d = str(tmp_path / "ix_crash")
    eng = Engine.build(
        spark, spark.createDataFrame(a), d, n_buckets=8, docs_per_block=8,
        block_chunks=1,
    )
    real_write = ParquetManifestFormat.write

    def failing_write(self, df, index_dir, table, partition_by=(), subunit=None):
        if table == "postings" and subunit and subunit.startswith("gen="):
            raise RuntimeError("injected crash before delta postings")
        return real_write(self, df, index_dir, table, partition_by, subunit)

    monkeypatch.setattr(ParquetManifestFormat, "write", failing_write)
    with pytest.raises(RuntimeError, match="injected"):
        eng.append(spark.createDataFrame(b))
    monkeypatch.setattr(ParquetManifestFormat, "write", real_write)

    # resume with a DIFFERENT input must be refused
    with pytest.raises(ValueError, match="fingerprint"):
        eng.append(spark.createDataFrame(b[: len(b) // 2]))

    eng.append(spark.createDataFrame(b))  # resume completes
    man = Manifest.load(d)
    assert sum(1 for e in man.entries if e["stage"] == "append") == 1
    ref = t1_index_copy(n_buckets=8, docs_per_block=8, block_chunks=1)
    for q in ["roll OR dice", '"crystal kingdom"']:
        assert _by_conv(eng, q, mode="exhaustive") == _by_conv(
            ref, q, mode="exhaustive"
        ), q


def test_wand_sound_under_extreme_avgdl_drift(spark, t1_rows, t1_index_copy):
    """Append documents ~20x longer than the base corpus so avgdl jumps
    hard: every pruned path (auto single = batch of one, batch direct,
    batch forced-θ) must still equal the exhaustive scorer — the enc_avgdl ub correction
    is exactly what keeps stale block-max bounds sound here."""
    eng = t1_index_copy(n_buckets=8, docs_per_block=8, block_chunks=1)
    avgdl_before = eng.index.stats["avgdl"]
    ts = t1_rows[0]["ts"]
    filler = " ".join(f"filler{j % 40}" for j in range(260))
    long_rows = [
        {
            "conv_id": f"zz-long-{i:03d}", "turn_idx": 0, "role": "user",
            "text": f"roll dice kingdom {filler}", "tool": "", "ts": ts,
        }
        for i in range(50)
    ]
    eng.append(spark.createDataFrame(long_rows))
    assert eng.index.stats["avgdl"] > 1.5 * avgdl_before  # drift is real

    for q in ["roll OR dice", "roll AND dice", "kingdom OR dice"]:
        want = [tuple(r) for r in eng.search(q, k=8, mode="exhaustive").collect()]
        assert [tuple(r) for r in eng.search(q, k=8).collect()] == want, q
        got_f = [
            (r["doc_id"], r["turn_idx"], r["score"])
            for r in eng.search_many(
                [q], k=8, direct_threshold=0, probe_blocks=1
            ).collect()
        ]
        assert got_f == [(a, b, c) for a, b, c in want], q


def _split3(t1_rows):
    convs = sorted({r["conv_id"] for r in t1_rows})
    s1, s2 = set(convs[:20]), set(convs[20:35])
    a = [r for r in t1_rows if r["conv_id"] in s1]
    b1 = [r for r in t1_rows if r["conv_id"] in s2]
    b2 = [r for r in t1_rows if r["conv_id"] not in s1 | s2]
    return a, b1, b2


def test_append_after_compact_preserves_index(
    spark, t1_rows, tmp_path, t1_index_copy
):
    """ADVICE r3 (high): the append AFTER a compaction must pick a fresh
    generation — reusing the compacted gen number would overwrite the
    full compacted postings/blocks with delta-only data (silent loss of
    all pre-append data).  build → append → compact → append must equal
    a full rebuild, on every query path."""
    from joie_spark.engine import Engine
    from joie_spark.sources.tables import read_stats

    a, b1, b2 = _split3(t1_rows)
    kw = dict(n_buckets=8, docs_per_block=8, block_chunks=1)
    d_inc = str(tmp_path / "ix_inc")
    eng = Engine.build(spark, spark.createDataFrame(a), d_inc, **kw)
    eng.append(spark.createDataFrame(b1))
    eng.compact()
    compacted_gen = read_stats(d_inc)["compacted_gen"]
    eng.append(spark.createDataFrame(b2))
    # the new delta landed in a generation the compaction never used
    assert read_stats(d_inc)["dict_gens"][-1] > compacted_gen
    assert sorted(read_stats(d_inc)["post_gens"]) == sorted(
        {compacted_gen, read_stats(d_inc)["dict_gens"][-1]}
    )
    full = t1_index_copy(**kw)
    assert full.index.stats["N"] == eng.index.stats["N"]
    assert full.index.stats["avgdl"] == eng.index.stats["avgdl"]
    for q in QUERIES:
        assert _by_conv(full, q, mode="exhaustive") == _by_conv(
            eng, q, mode="exhaustive"
        ), q
        assert _by_conv(full, q) == _by_conv(eng, q), q  # auto (WAND/blocks)
    # and a second compact + append keeps converging
    eng.compact()
    for q in QUERIES[:2]:
        assert _by_conv(full, q) == _by_conv(eng, q), q


def test_compact_rerun_after_crash_no_duplication(spark, t1_rows, tmp_path, monkeypatch):
    """ADVICE r3 (medium): a compact that crashed after (partially or
    fully) writing its target generation must NOT feed that generation
    back into the next compaction — that would duplicate every posting.
    Also: queries between the crash and the re-run never see the
    uncommitted generation (post_gens pruning)."""
    from joie_spark.engine import Engine
    from joie_spark.sources.tables import ParquetManifestFormat

    a, b1, _b2 = _split3(t1_rows)
    rows = a + b1
    d = str(tmp_path / "ix_crashc")
    eng = Engine.build(
        spark, spark.createDataFrame(a), d, n_buckets=8, docs_per_block=8,
        block_chunks=1,
    )
    eng.append(spark.createDataFrame(b1))
    want = {q: _by_conv(eng, q, mode="exhaustive") for q in QUERIES[:3]}
    n_postings = eng.index.postings.count()

    real_write = ParquetManifestFormat.write

    def failing_write(self, df, index_dir, table, partition_by=(), subunit=None):
        if table == "blocks":
            # postings gen already fully written at this point
            raise RuntimeError("injected crash mid-compact")
        return real_write(self, df, index_dir, table, partition_by, subunit)

    monkeypatch.setattr(ParquetManifestFormat, "write", failing_write)
    with pytest.raises(RuntimeError, match="injected"):
        eng.compact()
    monkeypatch.setattr(ParquetManifestFormat, "write", real_write)

    # crashed state: the orphan gen dir exists but queries must not read it
    from joie_spark.engine import Engine as E

    eng_crashed = E(spark, d)
    assert eng_crashed.index.postings.count() == n_postings
    for q in QUERIES[:3]:
        assert _by_conv(eng_crashed, q, mode="exhaustive") == want[q], q

    eng.compact()  # re-run compacts the COMMITTED gens only
    eng = E(spark, d)
    assert eng.index.postings.count() == n_postings  # no duplication
    for q in QUERIES[:3]:
        assert _by_conv(eng, q, mode="exhaustive") == want[q], q
        assert _by_conv(eng, q) == want[q], q


def test_append_stats_idempotent_on_resume(spark, t1_rows, tmp_path):
    """ADVICE r3 (low): a resume that replays the final stats stage (crash
    after write_stats, before the append manifest commit) must write the
    SAME stats, not re-add the delta."""
    import json

    from joie_spark.engine import Engine
    from joie_spark.operators.append import append_index
    from joie_spark.sources.tables import MANIFEST, read_stats

    a, b1, _ = _split3(t1_rows)
    d = str(tmp_path / "ix_stats")
    eng = Engine.build(
        spark, spark.createDataFrame(a), d, n_buckets=8, docs_per_block=8,
        block_chunks=1,
    )
    eng.append(spark.createDataFrame(b1))
    want = read_stats(d)
    # simulate the crash window: drop the final 'append' commit so the
    # next run resumes gen=1 with stats.json ALREADY updated
    mpath = os.path.join(d, MANIFEST)
    entries = [json.loads(ln) for ln in open(mpath) if ln.strip()]
    assert entries[-1]["stage"] == "append"
    with open(mpath, "w") as f:
        for e in entries[:-1]:
            f.write(json.dumps(e) + "\n")
    append_index(spark, spark.createDataFrame(b1), d)
    got = read_stats(d)
    assert got["N"] == want["N"]
    assert got["total_dl"] == want["total_dl"]
    assert got["avgdl"] == want["avgdl"]
    assert got["post_gens"] == want["post_gens"]


def test_append_idempotency_key_noop_on_replay(spark, t1_rows, tmp_path):
    """ADVICE r3 (low, streaming): replaying a COMMITTED append with the
    same idempotency key must no-op — without the key the same input
    would trip the conv-disjointness ValueError forever."""
    from joie_spark.engine import Engine
    from joie_spark.operators.append import append_index
    from joie_spark.sources.tables import Manifest, read_stats

    a, b1, _ = _split3(t1_rows)
    d = str(tmp_path / "ix_idem")
    Engine.build(
        spark, spark.createDataFrame(a), d, n_buckets=8, docs_per_block=8,
        block_chunks=1,
    )
    delta = spark.createDataFrame(b1)
    append_index(spark, delta, d, idempotency_key="stream-batch=7")
    want = read_stats(d)
    n_appends = sum(
        1 for e in Manifest.load(d).entries if e["stage"] == "append"
    )
    append_index(spark, delta, d, idempotency_key="stream-batch=7")  # replay
    assert read_stats(d) == want
    assert (
        sum(1 for e in Manifest.load(d).entries if e["stage"] == "append")
        == n_appends
    )
    # a genuinely NEW batch with a new key still appends normally
    with pytest.raises(ValueError, match="disjoint"):
        append_index(spark, delta, d, idempotency_key="stream-batch=8")


def test_append_idempotency_key_rejects_colliding_new_batch(
    spark, t1_rows, tmp_path
):
    """ADVICE r4 (medium): streaming batch ids restart at 0 when a
    checkpoint dir is recreated (or a second stream writes to the same
    index) — a genuinely NEW batch whose key collides with a committed
    append must RAISE, not silently no-op (that would be data loss)."""
    from joie_spark.engine import Engine
    from joie_spark.operators.append import append_index
    from joie_spark.sources.tables import read_stats

    a, b1, b2 = _split3(t1_rows)
    d = str(tmp_path / "ix_idem_collide")
    Engine.build(
        spark, spark.createDataFrame(a), d, n_buckets=8, docs_per_block=8,
        block_chunks=1,
    )
    append_index(
        spark, spark.createDataFrame(b1), d, idempotency_key="stream-batch=0"
    )
    want = read_stats(d)
    with pytest.raises(ValueError, match="DIFFERENT input"):
        append_index(
            spark, spark.createDataFrame(b2), d, idempotency_key="stream-batch=0"
        )
    assert read_stats(d) == want  # nothing was half-applied
    # the new data is not lost: a fresh (checkpoint-scoped) key appends it
    append_index(
        spark, spark.createDataFrame(b2), d,
        idempotency_key="ckpt2/stream-batch=0",
    )
    assert read_stats(d)["N"] > want["N"]


def test_compact_refuses_pending_append(spark, t1_rows, tmp_path, monkeypatch):
    from joie_spark.engine import Engine
    from joie_spark.sources.tables import ParquetManifestFormat

    a, b1, _ = _split3(t1_rows)
    d = str(tmp_path / "ix_pend")
    eng = Engine.build(
        spark, spark.createDataFrame(a), d, n_buckets=8, docs_per_block=8,
        block_chunks=1,
    )
    real_write = ParquetManifestFormat.write

    def failing_write(self, df, index_dir, table, partition_by=(), subunit=None):
        if table == "postings" and subunit and subunit.startswith("gen="):
            raise RuntimeError("injected")
        return real_write(self, df, index_dir, table, partition_by, subunit)

    monkeypatch.setattr(ParquetManifestFormat, "write", failing_write)
    with pytest.raises(RuntimeError):
        eng.append(spark.createDataFrame(b1))
    monkeypatch.setattr(ParquetManifestFormat, "write", real_write)
    with pytest.raises(ValueError, match="pending"):
        eng.compact()
    eng.append(spark.createDataFrame(b1))  # finish the append
    eng.compact()  # now fine


def test_compaction_preserves_results(appended, spark, t1_rows, tmp_path_factory):
    from joie_spark.engine import Engine

    a, b = _split_rows(t1_rows)
    d = str(tmp_path_factory.mktemp("ix_compact"))
    eng = Engine.build(
        spark, spark.createDataFrame(a), d, n_buckets=8, docs_per_block=8,
        block_chunks=2,
    )
    eng.append(spark.createDataFrame(b))
    before = {q: _by_conv(eng, q) for q in QUERIES}
    eng.compact()
    # one postings/blocks generation left, bounds re-tightened
    post_gens = [x for x in os.listdir(os.path.join(d, "postings")) if x.startswith("gen=")]
    block_gens = [x for x in os.listdir(os.path.join(d, "blocks")) if x.startswith("gen=")]
    assert len(post_gens) == 1 and len(block_gens) == 1
    enc = eng.index.blocks.select("enc_avgdl").distinct().collect()
    assert len(enc) == 1 and enc[0][0] == pytest.approx(eng.index.stats["avgdl"])
    for q in QUERIES:
        assert _by_conv(eng, q) == before[q], q
