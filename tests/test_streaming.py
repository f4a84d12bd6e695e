"""Structured Streaming ingest (joie_spark/streaming/ingest.py).

Covers: exactly-once file intake into delta generations (append_stream +
checkpoint), the stateful conversation sessionizer buffering turns ACROSS
micro-batches (applyInPandasWithState), and the watermarked windowed
monitoring aggregation."""

import os

import pytest

from joie_spark.streaming import (
    append_stream,
    sessionize_stream,
    stream_turn_stats,
)
from joie_spark.streaming.ingest import END_MARKER, TURN_FIELDS


def _split_rows(t1_rows, cut=30):
    convs = sorted({r["conv_id"] for r in t1_rows})
    a_set = set(convs[:cut])
    a = [r for r in t1_rows if r["conv_id"] in a_set]
    b = [r for r in t1_rows if r["conv_id"] not in a_set]
    return a, b, convs


def test_append_stream_exactly_once_generations(spark, t1_rows, tmp_path):
    """Two incremental availableNow drains over a growing file source:
    each drains ONLY the new files (streaming checkpoint), each commits
    one delta generation, and the final index answers like a full
    rebuild."""
    from joie_spark.engine import Engine
    from joie_spark.sources.tables import Manifest

    a, b, convs = _split_rows(t1_rows)
    b1 = [r for r in b if r["conv_id"] in set(convs[30:40])]
    b2 = [r for r in b if r["conv_id"] not in set(convs[:40])]

    ix = str(tmp_path / "ix")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    eng = Engine.build(
        spark, spark.createDataFrame(a), ix, n_buckets=8, docs_per_block=8,
        block_chunks=1,
    )

    from pyspark.sql import functions as F

    def write_src(rows):
        (
            spark.createDataFrame(rows)
            .select(
                "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
                "role", "text", "tool", "ts",
            )
            .write.mode("append").parquet(src)
        )

    write_src(b1)
    stream = spark.readStream.schema(TURN_FIELDS).parquet(src)
    q = append_stream(stream, ix, ckpt)
    q.awaitTermination(120)
    assert not q.isActive

    write_src(b2)
    stream = spark.readStream.schema(TURN_FIELDS).parquet(src)
    q = append_stream(stream, ix, ckpt)
    q.awaitTermination(120)

    man = Manifest.load(ix)
    appended = [e["unit"] for e in man.entries if e["stage"] == "append"]
    assert appended == ["gen=1", "gen=2"]  # one generation per drain, no replays

    eng = Engine(spark, ix)  # reload stats/tables
    ref_dir = str(tmp_path / "ref")
    ref = Engine.build(
        spark, spark.createDataFrame(t1_rows), ref_dir, n_buckets=8,
        docs_per_block=8, block_chunks=1,
    )

    def by_conv(e, q):
        res = e.search(q, k=100000)
        cv = e.index.turns.select("doc_id", "conv_id").distinct()
        return sorted(
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in res.join(cv, "doc_id").collect()
        )

    for qs in ["roll OR dice", '"crystal kingdom"', "roll AND dice"]:
        assert by_conv(eng, qs) == by_conv(ref, qs), qs


def test_sessionizer_buffers_across_microbatches(spark, tmp_path):
    """Turns of one conversation arrive split over several micro-batches
    (maxFilesPerTrigger=1); the conversation must be emitted exactly once,
    complete and turn-ordered, only after its end-marker arrives."""
    src = str(tmp_path / "sess_src")
    rows1 = [
        ("c-1", 0, "user", "hello there", "", "2024-01-01 00:00:00"),
        ("c-1", 1, "assistant", "hi friend", "", "2024-01-01 00:00:01"),
        ("c-2", 0, "user", "other conv", "", "2024-01-01 00:00:02"),
    ]
    rows2 = [
        ("c-1", 2, "user", "bye now", "", "2024-01-01 00:00:03"),
        ("c-1", 99, "system", "", END_MARKER, "2024-01-01 00:00:04"),
    ]

    def df(rows):
        return spark.createDataFrame(
            [(c, i, r, t, tool, ts) for c, i, r, t, tool, ts in rows],
            "conv_id string, turn_idx int, role string, text string, tool string, ts string",
        ).selectExpr(
            "conv_id", "turn_idx", "role", "text", "tool", "CAST(ts AS TIMESTAMP) AS ts"
        )

    df(rows1).coalesce(1).write.mode("append").parquet(src)
    df(rows2).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(TURN_FIELDS)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = sessionize_stream(stream, gap_seconds=3600)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sessions_out ORDER BY conv_id, turn_idx").collect()
    # c-1 complete (3 turns, marker excluded); c-2 still buffered (no marker)
    assert [(r["conv_id"], r["turn_idx"], r["text"]) for r in got] == [
        ("c-1", 0, "hello there"),
        ("c-1", 1, "hi friend"),
        ("c-1", 2, "bye now"),
    ]


def test_stream_turn_stats_windows(spark, tmp_path):
    src = str(tmp_path / "stats_src")
    rows = [
        ("c-1", 0, "user", "a b c", "", "2024-01-01 00:00:10"),
        ("c-1", 1, "assistant", "d e", "", "2024-01-01 00:00:20"),
        ("c-2", 0, "user", "f", "", "2024-01-01 00:01:30"),
    ]
    spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).selectExpr(
        "conv_id", "turn_idx", "role", "text", "tool", "CAST(ts AS TIMESTAMP) AS ts"
    ).write.mode("append").parquet(src)

    stream = spark.readStream.schema(TURN_FIELDS).parquet(src)
    agg = stream_turn_stats(stream, window="1 minute", watermark="2 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("stats_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window"]["start"].minute, r["role"]): (r["n_turns"], r["n_tokens_ws"])
        for r in spark.sql("SELECT * FROM stats_out").collect()
    }
    assert got == {
        (0, "user"): (1, 3),
        (0, "assistant"): (1, 2),
        (1, "user"): (1, 1),
    }


def test_append_stream_records_batch_idempotency_keys(spark, t1_rows, tmp_path):
    """The sink must tag each generation with its micro-batch id: that key
    is what makes a batch replayed AFTER a committed append no-op instead
    of wedging the stream on the conv-disjointness check (ADVICE r3; the
    no-op behavior itself is unit-tested in test_append.py)."""
    from joie_spark.engine import Engine
    from joie_spark.sources.tables import Manifest

    a, b, _convs = _split_rows(t1_rows)
    ix = str(tmp_path / "ix")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    Engine.build(
        spark, spark.createDataFrame(a), ix, n_buckets=8, docs_per_block=8,
        block_chunks=1,
    )
    from pyspark.sql import functions as F

    (
        spark.createDataFrame(b)
        .select(
            "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
            "role", "text", "tool", "ts",
        )
        .write.mode("append").parquet(src)
    )
    stream = spark.readStream.schema(TURN_FIELDS).parquet(src)
    q = append_stream(stream, ix, ckpt)
    q.awaitTermination(120)
    begins = [
        e for e in Manifest.load(ix).entries if e["stage"] == "append_begin"
    ]
    assert begins and all(
        str(e.get("key", "")).startswith("stream-batch=") for e in begins
    )


DOC_FIELDS = "doc_id long, text string, ts timestamp"


def _write_docs(spark, src, rows):
    import datetime

    t0 = datetime.datetime(2026, 1, 1)
    data = [
        (i, txt, t0 + datetime.timedelta(minutes=m)) for i, txt, m in rows
    ]
    spark.createDataFrame(data, DOC_FIELDS).write.mode("append").parquet(src)


def test_dedup_stream_across_batches(spark, tmp_path):
    """Surviving-fingerprint set equals batch exact-dedup on the union;
    dedup state survives BETWEEN availableNow drains via the checkpoint
    (a wave-2 copy of a wave-1 doc is dropped)."""
    from joie_spark.streaming import dedup_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    wave1 = [(1, "alpha bravo charlie", 0),
             (2, "delta echo", 1),
             (3, "alpha bravo charlie", 2)]        # in-batch dup of 1
    wave2 = [(4, "Alpha  Bravo, charlie!", 3),     # normalizes == doc 1
             (5, "foxtrot golf", 4),
             (6, "delta echo", 5)]                 # cross-batch dup of 2

    def drain():
        stream = spark.readStream.schema(DOC_FIELDS).parquet(src)
        q = (
            dedup_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    _write_docs(spark, src, wave1)
    drain()
    _write_docs(spark, src, wave2)
    drain()

    got = spark.read.parquet(out).collect()
    fps = [r["fp"] for r in got]
    assert len(fps) == len(set(fps))               # no dup fp survives
    # set of surviving fps == batch dedup on the union
    from joie_spark.streaming import with_fingerprint

    all_rows = spark.createDataFrame(
        [(i, t, None) for i, t, _ in wave1 + wave2], DOC_FIELDS
    )
    want = {r["fp"] for r in with_fingerprint(all_rows).select("fp").distinct().collect()}
    assert set(fps) == want and len(fps) == 3      # {alpha.., delta.., foxtrot..}
    # wave-1 survivors are wave-1 docs (state crossed the restart)
    by_fp = {r["fp"]: r["doc_id"] for r in got}
    one = with_fingerprint(all_rows).where("doc_id = 1").collect()[0]["fp"]
    two = with_fingerprint(all_rows).where("doc_id = 2").collect()[0]["fp"]
    assert by_fp[one] in (1, 3) and by_fp[two] == 2


def test_dedup_stream_within_watermark(spark, tmp_path):
    """Bounded-state variant runs end-to-end and suppresses the
    in-horizon duplicate."""
    from joie_spark.streaming import dedup_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_docs(spark, src, [(1, "same text", 0), (2, "same text", 1),
                             (3, "other text", 2)])
    stream = spark.readStream.schema(DOC_FIELDS).parquet(src)
    q = (
        dedup_stream(stream, watermark=("ts", "10 minutes"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    assert sorted(r["doc_id"] for r in got) == [1, 3]


def test_dedup_stream_against_static_seen(spark, tmp_path):
    """Stream-static anti-join: docs whose fingerprint is in the static
    seen-set never reach the sink; new docs pass."""
    from joie_spark.streaming import dedup_stream_against, with_fingerprint

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    corpus = spark.createDataFrame(
        [(100, "already indexed doc", None)], DOC_FIELDS
    )
    seen = with_fingerprint(corpus).select("fp")
    _write_docs(spark, src, [(1, "Already   indexed doc!", 0),   # dup of 100
                             (2, "genuinely new doc", 1)])
    stream = spark.readStream.schema(DOC_FIELDS).parquet(src)
    q = (
        dedup_stream_against(stream, seen)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    assert [r["doc_id"] for r in got] == [2]


def test_clean_stream_equals_batch_composition(spark, tmp_path):
    """clean_stream over two availableNow drains emits exactly what
    clean_microbatch produces on the full union — every stage is per-doc
    against static sides, so micro-batching is exact.  Gopher gate,
    decontamination, and the static-seen dedup each drop their planted
    doc."""
    from joie_spark.streaming import clean_microbatch, clean_stream, with_fingerprint

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    good = " ".join(f"word{i} the of to" for i in range(20))  # passes gopher
    contaminated = good + " secret eval question about dragons"
    bench = spark.createDataFrame(
        [(900, "secret eval question about dragons", None)], DOC_FIELDS
    )
    indexed = spark.createDataFrame([(901, good + " indexed copy", None)], DOC_FIELDS)
    seen = with_fingerprint(indexed).select("fp")

    wave1 = [(1, good, 0), (2, "too short", 1), (3, contaminated, 2)]
    wave2 = [(4, good + " fresh tail words", 10), (5, good + " indexed copy", 11)]

    def drain():
        stream = spark.readStream.schema(DOC_FIELDS).parquet(src)
        q = clean_stream(
            stream,
            bench,
            lambda df, bid: df.write.mode("append").parquet(out),
            ckpt,
            seen_fps=seen,
        )
        q.awaitTermination(120)

    _write_docs(spark, src, wave1)
    drain()
    _write_docs(spark, src, wave2)
    drain()

    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 4]  # 2: gopher too_short; 3: decon; 5: seen dup

    full = spark.read.parquet(src)
    batch = sorted(
        r["doc_id"]
        for r in clean_microbatch(full, bench, seen_fps=seen).collect()
    )
    assert got == batch
    # column parity: the streamed sink rows carry the input schema
    assert set(spark.read.parquet(out).columns) == set(full.columns)


def test_clean_then_index_stream_gates_conversations(spark, tmp_path):
    """The composed ingestion story: transcript turns stream in, whole
    conversations are gated (Gopher / decontamination / static-seen
    dedup on the turn-ordered roll-up), survivors are appended as one
    delta generation per drain, and the final index contains EXACTLY the
    surviving conversations with all their turns."""
    from pyspark.sql import functions as F

    from joie_spark.engine import Engine
    from joie_spark.sources.tables import Manifest
    from joie_spark.streaming import clean_then_index_stream, with_fingerprint

    src = str(tmp_path / "cti_src")
    ckpt = str(tmp_path / "cti_ckpt")
    ix = str(tmp_path / "cti_ix")

    good = [f"word{i} the of to" for i in range(20)]  # 80 tok, gopher-ok

    def turns(conv, texts):
        return [
            (conv, i, "user", t, "", "2024-01-01 00:00:00")
            for i, t in enumerate(texts)
        ]

    def write_src(rows):
        spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string,"
            " tool string, ts string",
        ).selectExpr(
            "conv_id", "turn_idx", "role", "text", "tool",
            "CAST(ts AS TIMESTAMP) AS ts",
        ).coalesce(1).write.mode("append").parquet(src)

    base = turns("base-0", [" ".join(good[:10]) + " basequery flavor"])
    Engine.build(
        spark, write_src(base) or spark.read.parquet(src), ix,
        n_buckets=8, docs_per_block=8, block_chunks=1,
    )
    # the indexed roll-up as the static seen-set for exact-dup gating
    seen = with_fingerprint(
        spark.createDataFrame(
            [(0, " ".join(good[:10]) + " basequery flavor", None)],
            "doc_id long, text string, ts timestamp",
        )
    ).select("fp")
    bench = spark.createDataFrame(
        [(900, "secret eval question about dragons", None)],
        "doc_id long, text string, ts timestamp",
    )

    wave1 = (
        turns("cl-good", [" ".join(good[:10]), " ".join(good[10:]) + " zebrafact"])
        + turns("cl-short", ["too short"])  # gopher: under min_tokens
        + turns(
            "cl-contam",
            [" ".join(good) + " secret eval question about dragons"],
        )
        + turns("cl-dup", [" ".join(good[:10]) + " basequery flavor"])  # seen
    )
    # the base conv is already indexed; stream only the new files
    write_src(wave1)
    stream = (
        spark.readStream.schema(TURN_FIELDS)
        .option("maxFilesPerTrigger", "10")
        .parquet(src)
    )
    # first drain replays the base file too — its conv is a seen-dup by
    # fingerprint, so the gate (not the disjointness check) must drop it
    q = clean_then_index_stream(stream, bench, ix, ckpt, seen_fps=seen)
    q.awaitTermination(120)
    assert not q.isActive

    eng = Engine(spark, ix)
    convs = {
        r["conv_id"]
        for r in eng.index.doc_meta.select("conv_id").distinct().collect()
    }
    assert convs == {"base-0", "cl-good"}
    # all surviving turns present and searchable
    assert eng.search("zebrafact", k=5).count() == 1
    assert eng.search("dragons", k=5).count() == 0

    # second drain: a fresh good conversation; gating is incremental
    write_src(turns("cl-good2", [" ".join(good) + " quaggafact"]))
    stream = spark.readStream.schema(TURN_FIELDS).parquet(src)
    q = clean_then_index_stream(stream, bench, ix, ckpt, seen_fps=seen)
    q.awaitTermination(120)

    eng = Engine(spark, ix)
    assert eng.search("quaggafact", k=5).count() == 1
    man = Manifest.load(ix)
    appended = [e["unit"] for e in man.entries if e["stage"] == "append"]
    assert appended == ["gen=1", "gen=2"]  # one generation per drain
