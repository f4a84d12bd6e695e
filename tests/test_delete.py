"""Tombstone deletes (operators/delete.py).

Contract: build(a ∪ b) + delete(b) answers every query with the SAME
scored result set as build(a) — scores bit-identical (tf/dl unchanged
for the survivors, df/N/avgdl decremented exactly); only doc_id
assignment differs, so comparisons key on conv_id.  Same shape as the
append equivalence suite (test_append.py); together they make
delete+append an exact UPDATE."""

import os

import pytest

QUERIES = [
    "roll OR dice",
    "roll AND dice",
    '"crystal kingdom"',
    "the",
    '(roll OR "crystal kingdom") AND dice',
]


def _split(t1_rows, keep=35):
    convs = sorted({r["conv_id"] for r in t1_rows})
    keep_set = set(convs[:keep])
    a = [r for r in t1_rows if r["conv_id"] in keep_set]
    gone = [c for c in convs if c not in keep_set]
    return a, gone


def _by_conv(eng, q, **kw):
    res = eng.search(q, k=100000, **kw)
    convs = eng.index.turns.select("doc_id", "conv_id").distinct()
    rows = res.join(convs, "doc_id").collect()
    return sorted((r["conv_id"], r["turn_idx"], r["score"]) for r in rows)


@pytest.fixture(scope="module")
def deleted(spark, t1_rows, tmp_path_factory, t1_index_copy):
    """ref = build(kept); eng = build(all) then delete(the rest)."""
    from joie_spark.engine import Engine

    a, gone = _split(t1_rows)
    kw = dict(n_buckets=8, docs_per_block=8, block_chunks=1)
    d_ref = str(tmp_path_factory.mktemp("ix_del_ref"))
    ref = Engine.build(spark, spark.createDataFrame(a), d_ref, **kw)
    eng = t1_index_copy(**kw)
    eng.delete(gone)
    return ref, eng, gone


def test_delete_equals_rebuild_all_paths(deleted):
    ref, eng, _gone = deleted
    assert eng.index.stats["N"] == ref.index.stats["N"]
    assert eng.index.stats["avgdl"] == ref.index.stats["avgdl"]
    assert eng.index.stats["total_dl"] == ref.index.stats["total_dl"]
    for q in QUERIES:
        assert _by_conv(eng, q, mode="exhaustive") == _by_conv(
            ref, q, mode="exhaustive"
        ), q
        assert _by_conv(eng, q) == _by_conv(ref, q), q  # auto: WAND/blocks
    # df parity: every surviving term's df matches the rebuild
    lut_e = eng.index.lookup_terms(["roll", "dice", "the", "crystal"])
    lut_r = ref.index.lookup_terms(["roll", "dice", "the", "crystal"])
    assert {w: df for w, (_t, df) in lut_e.items()} == {
        w: df for w, (_t, df) in lut_r.items()
    }


def test_delete_batch_and_forced_pruning_paths(deleted):
    ref, eng, _gone = deleted
    flat = ["roll OR dice", "roll AND dice", "the"]
    for e in (ref, eng):
        auto = e.search_many(flat, k=8).collect()
        forced = e.search_many(flat, k=8, direct_threshold=0, probe_blocks=2).collect()
        assert auto == forced
    got = [
        (r["query_id"], r["score"])
        for r in eng.search_many(flat, k=8).collect()
    ]
    want = [
        (i, r["score"])
        for i, q in enumerate(flat)
        for r in ref.search(q, k=8, mode="exhaustive").collect()
    ]
    assert got == want


def test_delete_match_set_and_get_doc(deleted, spark):
    ref, eng, gone = deleted
    m_e = eng.match_set("roll AND dice").join(
        eng.index.turns.select("doc_id", "conv_id").distinct(), "doc_id"
    ).collect()
    m_r = ref.match_set("roll AND dice").join(
        ref.index.turns.select("doc_id", "conv_id").distinct(), "doc_id"
    ).collect()
    assert sorted((r["conv_id"], r["turn_idx"]) for r in m_e) == sorted(
        (r["conv_id"], r["turn_idx"]) for r in m_r
    )
    # get_doc on a deleted doc returns nothing (dead handle)
    dead_doc = (
        eng.index.doc_meta.where(f"conv_id = '{gone[0]}'")
        .select("doc_id")
        .collect()[0][0]
    )
    assert eng.get_doc(dead_doc).count() == 0


def test_delete_validates_targets(deleted, spark):
    _ref, eng, gone = deleted
    with pytest.raises(ValueError, match="unknown or already deleted"):
        eng.delete(["no-such-conv"])
    with pytest.raises(ValueError, match="unknown or already deleted"):
        eng.delete([gone[0]])  # double delete


def test_delete_then_append_is_exact_update(
    spark, t1_rows, tmp_path, t1_index_copy
):
    from joie_spark.engine import Engine

    kw = dict(n_buckets=8, docs_per_block=8, block_chunks=1)
    victim = sorted({r["conv_id"] for r in t1_rows})[0]
    updated = [dict(r) for r in t1_rows if r["conv_id"] == victim][:2]
    for i, r in enumerate(updated):
        r["turn_idx"] = i
        r["text"] = "crystal dice reborn version " + str(i)

    eng = t1_index_copy(**kw)
    eng.delete([victim])
    eng.append(spark.createDataFrame(updated))  # same conv_id — now allowed

    d_ref = str(tmp_path / "ix_upd_ref")
    ref_rows = [r for r in t1_rows if r["conv_id"] != victim] + updated
    ref = Engine.build(spark, spark.createDataFrame(ref_rows), d_ref, **kw)
    assert eng.index.stats["N"] == ref.index.stats["N"]
    assert eng.index.stats["avgdl"] == ref.index.stats["avgdl"]
    for q in ["roll OR dice", "crystal AND dice", '"crystal dice"']:
        assert _by_conv(eng, q, mode="exhaustive") == _by_conv(
            ref, q, mode="exhaustive"
        ), q
        assert _by_conv(eng, q) == _by_conv(ref, q), q


def test_compact_purges_tombstones(spark, t1_rows, t1_index_copy):
    from joie_spark.sources.tables import read_stats

    kw = dict(n_buckets=8, docs_per_block=8, block_chunks=1)
    a, gone = _split(t1_rows)
    eng = t1_index_copy(**kw)
    d = eng.index.index_dir
    n_before = eng.index.postings.count()
    eng.delete(gone)
    assert read_stats(d)["tombstones_unpurged"] == len(gone)
    before = {q: _by_conv(eng, q) for q in QUERIES[:3]}
    eng.compact()
    assert read_stats(d)["tombstones_unpurged"] == 0
    assert eng.index.tombstones is None  # hot-path filter off
    assert eng.index.postings.count() < n_before  # physically purged
    for q in QUERIES[:3]:
        assert _by_conv(eng, q) == before[q], q
        assert _by_conv(eng, q, mode="exhaustive") == before[q], q
    # post-purge: re-append of a deleted conv still allowed (registry kept)
    rows = [dict(r) for r in t1_rows if r["conv_id"] == gone[0]][:1]
    rows[0]["turn_idx"] = 0
    eng.append(spark.createDataFrame(rows))
    # and a fresh delete after the purge works
    eng.delete([gone[0]])


def test_delete_resume_after_crash(
    spark, t1_rows, tmp_path, monkeypatch, t1_index_copy
):
    from joie_spark.engine import Engine
    from joie_spark.operators.delete import delete_convs
    from joie_spark.sources.tables import ParquetManifestFormat, read_stats

    kw = dict(n_buckets=8, docs_per_block=8, block_chunks=1)
    a, gone = _split(t1_rows)
    eng = t1_index_copy(**kw)
    d = eng.index.index_dir

    real_write = ParquetManifestFormat.write

    def failing_write(self, df, index_dir, table, partition_by=(), subunit=None):
        if table == "term_dict" and subunit and subunit != "gen=0":
            raise RuntimeError("injected crash mid-delete")
        return real_write(self, df, index_dir, table, partition_by, subunit)

    monkeypatch.setattr(ParquetManifestFormat, "write", failing_write)
    with pytest.raises(RuntimeError, match="injected"):
        eng.delete(gone)
    monkeypatch.setattr(ParquetManifestFormat, "write", real_write)

    # a pending delete blocks compact and append
    with pytest.raises(ValueError, match="pending"):
        eng.compact()
    with pytest.raises(ValueError, match="pending"):
        eng.append(spark.createDataFrame([dict(t1_rows[0], conv_id="zz-new")]))
    # resume with a DIFFERENT conv set is refused
    with pytest.raises(ValueError, match="fingerprint"):
        delete_convs(spark, gone[:2], d)

    eng.delete(gone)  # resume completes
    d_ref = str(tmp_path / "ix_del_crash_ref")
    ref = Engine.build(spark, spark.createDataFrame(a), d_ref, **kw)
    assert read_stats(d)["N"] == ref.index.stats["N"]
    assert read_stats(d)["avgdl"] == ref.index.stats["avgdl"]
    for q in QUERIES[:3]:
        assert _by_conv(eng, q) == _by_conv(ref, q), q


def test_delete_resume_rejects_colliding_conv_set(
    spark, t1_rows, monkeypatch, t1_index_copy
):
    """VERDICT r4 item 4 / ADVICE r4: the resume guard must reject a
    DIFFERENT conv set even when its count, min and max conv_id all
    match the pending delete's (the old count:min:max fingerprint let
    such a set through, silently applying the originally pinned
    tombstone slice instead of what the caller asked for)."""
    import pytest

    from joie_spark.operators.delete import delete_convs
    from joie_spark.sources.tables import ParquetManifestFormat

    convs = sorted({r["conv_id"] for r in t1_rows})
    target = [convs[10], convs[11], convs[20]]
    collider = [convs[10], convs[12], convs[20]]  # same count/min/max
    eng = t1_index_copy(n_buckets=8, docs_per_block=8, block_chunks=1)
    d = eng.index.index_dir

    real_write = ParquetManifestFormat.write

    def failing_write(self, df, index_dir, table, partition_by=(), subunit=None):
        if table == "term_dict" and subunit and subunit != "gen=0":
            raise RuntimeError("injected crash mid-delete")
        return real_write(self, df, index_dir, table, partition_by, subunit)

    monkeypatch.setattr(ParquetManifestFormat, "write", failing_write)
    with pytest.raises(RuntimeError, match="injected"):
        eng.delete(target)
    monkeypatch.setattr(ParquetManifestFormat, "write", real_write)

    with pytest.raises(ValueError, match="fingerprint"):
        delete_convs(spark, collider, d)
    eng.delete(target)  # the true set still resumes fine


def test_compact_purges_row_stores(spark, t1_rows, tmp_path):
    """Compaction physically purges dead rows from the turns/doc_meta ROW
    stores too (round 5): only the generations that held tombstoned docs
    are rewritten (minus the dead rows), untouched generations stay
    as-is on disk, and retired doc ids are never reused — a post-purge
    append continues above the n_docs high-water mark even though
    max(doc_meta) shrank below already-retired ids."""
    import os

    from joie_spark.engine import Engine
    from joie_spark.sources.tables import read_stats, table_path

    kw = dict(n_buckets=8, docs_per_block=8, block_chunks=1)
    convs = sorted({r["conv_id"] for r in t1_rows})
    base = [r for r in t1_rows if r["conv_id"] in set(convs[:40])]
    delta = [r for r in t1_rows if r["conv_id"] in set(convs[40:])]
    gone = convs[45:]  # highest doc ids, all inside the append's gen=1

    d = str(tmp_path / "ix_rowpurge")
    eng = Engine.build(spark, spark.createDataFrame(base), d, **kw)
    eng.append(spark.createDataFrame(delta))
    gone_df = spark.createDataFrame([(c,) for c in gone], "conv_id string")
    retired = {
        r["doc_id"]
        for r in eng.index.doc_meta.join(gone_df, "conv_id", "left_semi")
        .select("doc_id").collect()
    }
    eng.delete(gone)
    before = {q: _by_conv(eng, q) for q in QUERIES[:3]}
    eng.compact()
    st = read_stats(d)
    assert st["tombstones_unpurged"] == 0

    # dead rows physically absent from the live row stores (the Index
    # handles carry no tombstone filter — this is the raw live read)
    assert eng.index.turns.join(gone_df, "conv_id", "left_semi").count() == 0
    assert (
        eng.index.doc_meta.join(gone_df, "conv_id", "left_semi").count() == 0
    )

    # on-disk generation dirs == stats.gens exactly; the build's gen=0
    # (no dead docs) was kept untouched, the append's gen=1 (held all the
    # dead docs) was rewritten into the fresh generation
    on_disk = sorted(
        int(x.removeprefix("gen="))
        for x in os.listdir(table_path(d, "turns"))
        if x.startswith("gen=")
    )
    assert on_disk == sorted(int(g) for g in st["gens"])
    assert 0 in on_disk
    assert 1 not in on_disk

    # query results unchanged by the purge
    for q in QUERIES[:3]:
        assert _by_conv(eng, q) == before[q], q

    # get_doc: retired ids are dead handles, live ids still resolve
    assert eng.get_doc(sorted(retired)[0]).count() == 0
    live_id = eng.index.doc_meta.select("doc_id").first()["doc_id"]
    assert eng.get_doc(live_id).count() > 0

    # doc ids are retired, not reassigned: max(doc_meta) < max(retired)
    # now, yet the next append must start above the high-water mark
    max_live = eng.index.doc_meta.agg({"doc_id": "max"}).collect()[0][0]
    assert max_live < max(retired)
    rows = [dict(t1_rows[0], conv_id="zz-row-purge-new", turn_idx=0)]
    eng.append(spark.createDataFrame(rows))
    new_id = (
        eng.index.doc_meta.where("conv_id = 'zz-row-purge-new'")
        .first()["doc_id"]
    )
    assert new_id not in retired
    assert new_id >= int(st["n_docs"])


def test_compact_row_purge_crash_resume(
    spark, t1_rows, tmp_path, monkeypatch, t1_index_copy
):
    """A purge-compact that crashes after writing its row-store rewrite
    but before the stats commit leaves a half-written turns generation
    holding DUPLICATE copies of live rows.  That generation must stay
    invisible: queries keep answering from the old generations, a
    subsequent delete must not double-count the duplicated rows in its
    df/dl decrements (sources.tables.live), and a retried
    compact completes and matches a rebuild of the survivors."""
    from joie_spark.engine import Engine
    from joie_spark.operators.append import _gen_dirs
    from joie_spark.sources.tables import (
        ParquetManifestFormat,
        read_stats,
        table_path,
    )

    kw = dict(n_buckets=8, docs_per_block=8, block_chunks=1)
    a, gone = _split(t1_rows)
    eng = t1_index_copy(**kw)
    d = eng.index.index_dir
    eng.delete(gone[:10])
    before = {q: _by_conv(eng, q) for q in QUERIES[:3]}

    real_write = ParquetManifestFormat.write

    def failing_write(self, df, index_dir, table, partition_by=(), subunit=None):
        out = real_write(self, df, index_dir, table, partition_by, subunit)
        if table == "turns":
            raise RuntimeError("injected crash after row-store write")
        return out

    monkeypatch.setattr(ParquetManifestFormat, "write", failing_write)
    with pytest.raises(RuntimeError, match="injected"):
        eng.compact()
    monkeypatch.setattr(ParquetManifestFormat, "write", real_write)

    eng = Engine(spark, d)  # fresh handles; a crashed process restarts here
    st = read_stats(d)
    crashed = set(_gen_dirs(table_path(d, "turns"))) - {
        int(g) for g in st["gens"]
    }
    assert crashed, "the crash must leave a half-written turns generation"
    assert int(st["tombstones_unpurged"]) == 10  # commit never happened
    for q in QUERIES[:3]:
        assert _by_conv(eng, q) == before[q], q

    # delete AFTER the crashed compact: the duplicate rows in the crashed
    # generation must not double the df/dl decrements
    eng.delete(gone[10:])
    d_ref = str(tmp_path / "ix_purge_crash_ref")
    ref = Engine.build(spark, spark.createDataFrame(a), d_ref, **kw)
    assert read_stats(d)["N"] == ref.index.stats["N"]
    assert abs(read_stats(d)["avgdl"] - ref.index.stats["avgdl"]) < 1e-9

    # retried compact completes, purges everything, matches the rebuild
    eng.compact()
    assert read_stats(d)["tombstones_unpurged"] == 0
    for q in QUERIES[:3]:
        assert _by_conv(eng, q) == _by_conv(ref, q), q


def test_get_doc_skips_registry_after_purge(t1_rows, t1_index_copy):
    """After a purge-compact the tombstone anti-join in get_doc could
    match nothing (the dead rows are physically gone), so the Index skips
    the tombstone read entirely; a subsequent delete re-engages it until
    the next compact."""
    a, gone = _split(t1_rows)
    eng = t1_index_copy(n_buckets=8, docs_per_block=8, block_chunks=1)
    # fresh build: no tombstones table -> skip (None)
    assert eng.index.tombstones is None

    docs = {
        r["conv_id"]: r["doc_id"]
        for r in eng.index.doc_meta.select("conv_id", "doc_id").collect()
    }
    dead_doc, live_conv = docs[gone[0]], sorted(set(docs) - set(gone))[0]

    eng.delete(gone)
    # unpurged tombstones: filter engages, dead doc hidden
    assert eng.index.tombstones is not None
    assert eng.get_doc(dead_doc).count() == 0
    assert eng.get_doc(docs[live_conv]).count() > 0

    eng.compact()
    # purge-compact: filter skipped, rows physically gone
    assert int(eng.index.stats.get("tombstones_unpurged", 0)) == 0
    assert eng.index.tombstones is None
    assert eng.get_doc(dead_doc).count() == 0
    assert eng.get_doc(docs[live_conv]).count() > 0

    # a new delete re-engages the filter
    eng.delete([live_conv])
    assert eng.index.tombstones is not None
    assert eng.get_doc(docs[live_conv]).count() == 0


def _docs_by_conv(eng, q):
    res = eng.search_docs(q, k=100000)
    convs = eng.index.doc_meta.select("doc_id", "conv_id")
    return sorted(
        (r["conv_id"], r["score"]) for r in res.join(convs, "doc_id").collect()
    )


def test_search_docs_excludes_deleted(deleted):
    """Doc-level BM25 never resurfaces a tombstoned conversation, and the
    matching CONV SET equals the rebuild's (boolean matching is
    drift-free; scores drift until compact because doc-level stats keep
    tombstoned rows — the documented Lucene semantics)."""
    ref, eng, gone = deleted
    for q in QUERIES[:3]:
        got = _docs_by_conv(eng, q)
        assert not any(c in set(gone) for c, _s in got), q
        assert {c for c, _ in got} == {
            c for c, _ in _docs_by_conv(ref, q)
        }, q


def test_search_docs_compact_equals_rebuild(
    spark, t1_rows, tmp_path, t1_index_copy
):
    """After compact physically purges, doc-level stats (doc count,
    integer total_dl sum, per-term doc-df) all equal a rebuild over the
    survivors, so search_docs scores are bit-identical keyed by conv."""
    from joie_spark.engine import Engine

    kw = dict(n_buckets=8, docs_per_block=8, block_chunks=1)
    a, gone = _split(t1_rows)
    ref = Engine.build(
        spark, spark.createDataFrame(a), str(tmp_path / "sd_ref"), **kw
    )
    eng = t1_index_copy(**kw)
    eng.delete(gone)
    eng.compact()
    for q in QUERIES[:3]:
        assert _docs_by_conv(eng, q) == _docs_by_conv(ref, q), q
