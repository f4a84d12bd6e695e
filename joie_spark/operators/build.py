"""Distributed inverted-index build (the Spark analogue of
DatabaseBuilder::add_document + build_in, reference engine/src/builder.rs:58-143).

Pipeline (each stage is a manifest-committed checkpoint; SURVEY.md §3.3):

  1. turns      read transcripts → dense doc_id over sorted conv_ids →
                Arrow-vectorized tokenizer UDF (segmentation → lowercase →
                Snowball stem; term_map.rs:28-67) → row store.
  2. term_dict  global term dictionary with df/cf; ids = row rank over the
                lexicographically sorted vocabulary, starting at 1
                (0 = OOV; term_map.rs:69-73, 94-99).
  3. stats      N, total_dl, avgdl — the BM25 global aggregates.
  4. postings   explode (term, position) → join dict → group to
                (term_id, doc_id, turn_idx, tf, positions, dl), written
                hive-partitioned by bucket = term_id % n_buckets and
                sorted (term_id, doc_id, turn_idx) within files — the
                distributed `sort(); dedup()` of builder.rs:99-102.
  5. blocks     delta+varint compressed posting blocks with per-block
                block-max metadata for WAND; grouped by
                (term_id, block_id = doc_id // docs_per_block).

Skew note (north rule): hot stemmed terms (>10% of turns) never become a
single shuffle key — the build groups on fine-grained composite keys
((term,doc,turn) then (term,block)), so a hot term's postings spread over
~n_docs/docs_per_block groups.  block_id doubles as the deterministic
"salt": blocks are disjoint doc ranges, so the per-term posting list is
the order-preserving concatenation of its blocks and needs no second
merge pass.  Cross-index shard merging with explicit salting lives in
operators/merge.py.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codec import TURN_BITS, delta_encode, varint_encode
from ..oracle import B, K1
from ..sources.tables import (
    Manifest,
    TableFormat,
    detect_format,
    dir_bytes,
    format_by_name,
    read_stats,
    table_path,
    write_stats,
)

GROUPED_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("tf", T.IntegerType()),
            T.StructField("positions", T.ArrayType(T.IntegerType())),
        ]
    )
)

TOK_SCHEMA = T.StructType(
    [
        T.StructField("starts", T.ArrayType(T.IntegerType())),
        T.StructField("ends", T.ArrayType(T.IntegerType())),
        T.StructField("grouped", GROUPED_TYPE),
        T.StructField("dl", T.IntegerType()),
    ]
)


@F.pandas_udf(TOK_SCHEMA)
def tokenize_udf(texts: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized tokenizer (no per-row Python UDF; the stemmer is
    memoized per unique token via lru_cache — SURVEY.md §1.3).

    Emits token byte ranges (the reference's Sentence.tokens,
    sentence.rs:36-44) plus the per-turn positional index
    `grouped[(term, tf, positions)]` (the reference's terms_by_value,
    term_map.rs:53-58) — precomputing it here turns the postings build
    into a pure explode+join with NO (term,doc,turn) groupBy shuffle."""
    from ..tokenizer import tokenize

    starts, ends, grouped, dls = [], [], [], []
    for text in texts:
        toks = tokenize(text or "")
        starts.append([t.start for t in toks])
        ends.append([t.end for t in toks])
        by_term: dict[str, list[int]] = {}
        for i, t in enumerate(toks):
            by_term.setdefault(t.term, []).append(i)
        grouped.append(
            [
                {"term": term, "tf": len(ps), "positions": ps}
                for term, ps in by_term.items()
            ]
        )
        dls.append(len(toks))
    return pd.DataFrame(
        {"starts": starts, "ends": ends, "grouped": grouped, "dl": dls}
    )


DENSE_IDS_DRIVER_MAX = 1_000_000  # distinct keys; ~50 MB of driver state


def assign_dense_ids(df: DataFrame, col: str, out: str, start: int = 1) -> DataFrame:
    """Deterministic dense ids over the sorted distinct values of `col`.

    Small key sets (≤ DENSE_IDS_DRIVER_MAX distinct values — every term
    dictionary and most conv-id batches at bench scales) take a driver
    fast path: one distinct+limit collect, a Python sort, and a local
    relation back — ONE Spark job instead of the four fixed-latency jobs
    of the distributed path (range-partition sampling, persist, count,
    window), and the resulting id map is a local relation the downstream
    dictionary join auto-broadcasts.  Ids are identical by construction
    (rank over the same total order).  This is the same bounded-driver
    contract as dedup.duplicate_clusters' union-find path: a map every
    consumer broadcasts is small enough to collect.

    Above the threshold, pure-JVM zipWithIndex: range-repartition gives
    globally ordered partitions; pass 1 collects per-partition counts (P
    tiny rows), pass 2 adds `row_number within partition + cumulative
    offset`.  No single-partition window (each partition ranks
    independently), no Python serialization, and ids depend only on the
    data's total order — identical at local[8] and local[32] (the
    scalable analogue of joie's insertion-order interning,
    term_map.rs:69-73, made deterministic).

    The persist is load-bearing (partition ids must agree between the two
    passes); it is exposed as `._joie_persisted` on the result so callers
    release it once the ids are materialized — see release_dense_ids().

    A NULL key has no place in the order, so both paths reject it with
    the same ValueError (the distributed path counts NULLs in pass 1).
    """
    from pyspark.sql.window import Window

    null_key = f"assign_dense_ids: NULL key in column {col!r}"
    id_type = df.schema[col].dataType
    head = (
        df.select(col).distinct().limit(DENSE_IDS_DRIVER_MAX + 1).collect()
    )
    if len(head) <= DENSE_IDS_DRIVER_MAX:
        if any(r[col] is None for r in head):
            raise ValueError(null_key)
        vals = sorted(r[col] for r in head)
        spark = df.sparkSession
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [
                StructField(col, id_type, False),
                StructField(out, T.LongType(), False),
            ]
        )
        ranked = spark.createDataFrame(
            [(v, start + i) for i, v in enumerate(vals)], schema
        )
        ranked._joie_total = len(vals)
        return ranked
    base = (
        df.select(col)
        .distinct()
        .repartitionByRange(F.col(col))
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    counts = (
        base.groupBy("pid")
        .agg(F.count("*").alias("n"), F.count_if(F.col(col).isNull()).alias("nulls"))
        .collect()
    )
    if any(r["nulls"] for r in counts):
        base.unpersist()
        raise ValueError(null_key)
    offset = {}
    acc = start
    for r in sorted(counts, key=lambda r: r["pid"]):
        offset[r["pid"]] = acc
        acc += r["n"]
    if not offset:
        base.unpersist()
        empty = base.select(col, F.lit(None).cast("long").alias(out)).where(F.lit(False))
        empty._joie_total = 0
        return empty
    off_expr = F.element_at(
        F.map_from_arrays(
            F.array([F.lit(int(p)) for p in offset]),
            F.array([F.lit(int(o)).cast("long") for o in offset.values()]),
        ),
        F.col("pid"),
    )
    w = Window.partitionBy("pid").orderBy(col)
    ranked = base.select(
        col, (F.row_number().over(w).cast("long") + off_expr - 1).alias(out)
    )
    ranked._joie_persisted = base  # released by release_dense_ids()
    ranked._joie_total = acc - start  # distinct-key count (free: from pass 1)
    return ranked


def release_dense_ids(ids: DataFrame) -> None:
    """Unpersist the cached distinct-keys set behind assign_dense_ids once
    every consumer of `ids` has been materialized (e.g. written to parquet).
    Without this, each build leaks two cached datasets for the session's
    lifetime (ADVICE r1)."""
    base = getattr(ids, "_joie_persisted", None)
    if base is not None:
        base.unpersist()


ENC_SCHEMA = T.StructType(
    [
        T.StructField("docids", T.BinaryType()),
        T.StructField("tfs", T.BinaryType()),
        T.StructField("dls", T.BinaryType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("max_part", T.DoubleType()),
    ]
)


def make_encode_udf(avgdl: float):
    @F.pandas_udf(ENC_SCHEMA)
    def encode_udf(packed: pd.Series, tfs: pd.Series, dls: pd.Series) -> pd.DataFrame:
        import numpy as np

        out = {"docids": [], "tfs": [], "dls": [], "n": [], "max_part": []}
        for p, tf, dl in zip(packed, tfs, dls):
            p = np.asarray(p, dtype=np.int64)
            tf = np.asarray(tf, dtype=np.int64)
            dl = np.asarray(dl, dtype=np.int64)
            out["docids"].append(delta_encode(p))
            out["tfs"].append(varint_encode(tf))
            out["dls"].append(varint_encode(dl))
            out["n"].append(len(p))
            # block-max of the idf-independent part of the BM25 score —
            # multiplied by idf at query time for the WAND upper bound
            part = (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))
            out["max_part"].append(float(part.max()))
        return pd.DataFrame(out)

    return encode_udf


ALL_TABLES = ("turns", "doc_meta", "term_dict", "postings", "blocks")


# ---------------------------------------------------------------------------
# stage transforms (shared by build, merge and incremental append)


def validate_turn_idx(src: DataFrame) -> None:
    """codec invariant: packed id = doc_id << TURN_BITS | turn_idx needs
    0 <= turn_idx < 2^TURN_BITS or the blocks table silently corrupts
    (functions/codec.py:21); validated on the RAW input (fail fast,
    column-pruned scan, no tokenized table left behind)."""
    rng = src.agg(
        F.min("turn_idx").alias("lo"), F.max("turn_idx").alias("hi")
    ).collect()[0]
    if rng["lo"] is not None and (rng["lo"] < 0 or rng["hi"] >= (1 << TURN_BITS)):
        raise ValueError(
            f"turn_idx out of packable range [0, {1 << TURN_BITS}): "
            f"min={rng['lo']} max={rng['hi']}"
        )


def tokenized_turns(spark: SparkSession, src: DataFrame, doc_map: DataFrame) -> DataFrame:
    """Raw transcripts + dense-id map → tokenized turn rows.

    Single-pass layout trick: doc_id is the dense RANK of conv_id, so
    range-partitioning the RAW input by conv_id (cheap sampling — no UDF
    upstream) yields exactly the doc_id range layout; the dense ids then
    arrive via a broadcast join that preserves partitioning and the
    tokenizer UDF runs ONCE inside the write pass.  The broadcast applies
    while the id map fits comfortably in executor memory (each entry
    ~50 B → 50M convs ≈ 2.5 GB); beyond that it falls back to a shuffle
    join — the range layout degrades to per-file row-group skipping,
    which is the honest trade at 10^10+ convs."""
    par = spark.sparkContext.defaultParallelism
    n_convs = getattr(doc_map, "_joie_total", None)
    dm = (
        F.broadcast(doc_map)
        if n_convs is not None and n_convs < 50_000_000
        else doc_map
    )
    return (
        src.repartitionByRange(par, F.col("conv_id"), F.col("turn_idx"))
        .join(dm, "conv_id")
        .withColumn("tok", tokenize_udf(F.col("text")))
        .select(
            "doc_id",
            "turn_idx",
            "conv_id",
            "role",
            "tool",
            "ts",
            "text",
            F.col("tok.starts").alias("starts"),
            F.col("tok.ends").alias("ends"),
            F.col("tok.grouped").alias("grouped"),
            F.col("tok.dl").alias("dl"),
        )
    )


def doc_meta_of(turns: DataFrame) -> DataFrame:
    """Per-document metadata store (the analogue of the reference's
    SimpleStorage metadata array, storage/src/store.rs:46-100)."""
    return turns.groupBy("doc_id").agg(
        F.first("conv_id").alias("conv_id"),
        F.count("*").cast("int").alias("n_turns"),
        F.sum("dl").alias("total_dl"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.array_sort(F.collect_set("role")).alias("roles"),
    )


def term_stats_of(turns: DataFrame) -> DataFrame:
    """(term, df, cf) aggregates over the pre-tokenized turns."""
    per_turn = turns.select(F.explode("grouped").alias("g")).select(
        F.col("g.term").alias("term"), F.col("g.tf").alias("tf")
    )
    return per_turn.groupBy("term").agg(
        F.count("*").cast("long").alias("df"), F.sum("tf").alias("cf")
    )


def postings_of(turns: DataFrame, term_dict: DataFrame, n_buckets: int) -> DataFrame:
    """Postings rows: pure explode + dictionary join — the per-turn
    (term, tf, positions) index was precomputed inside the tokenizer pass,
    so no (term, doc, turn) groupBy shuffle happens here."""
    exploded = turns.select(
        "doc_id", "turn_idx", "dl", F.explode("grouped").alias("g")
    ).select(
        "doc_id",
        "turn_idx",
        "dl",
        F.col("g.term").alias("term"),
        F.col("g.tf").alias("tf"),
        F.col("g.positions").alias("positions"),
    )
    return (
        exploded.join(term_dict.select("term", "term_id"), "term")
        .withColumn("bucket", F.pmod(F.col("term_id"), F.lit(n_buckets)).cast("int"))
        .select("term_id", "doc_id", "turn_idx", "tf", "positions", "dl", "bucket")
    )


def blocks_of(postings: DataFrame, avgdl: float, docs_per_block: int) -> DataFrame:
    """Delta+varint compressed posting blocks with block-max metadata.

    `enc_avgdl` records the avgdl the block-max `max_part` was computed
    with: incremental appends shift the corpus avgdl, and the WAND upper
    bound stays sound by scaling stored bounds with
    max(1, avgdl_now / enc_avgdl) at query time (see operators/batch.py
    _ub_per_query) — compaction re-encodes with the current avgdl and
    tightens them again."""
    encode_udf = make_encode_udf(avgdl)
    return (
        postings.withColumn(
            "block_id", (F.col("doc_id") / F.lit(docs_per_block)).cast("long")
        )
        .withColumn(
            "packed",
            F.shiftleft(F.col("doc_id"), TURN_BITS).cast("long")
            + F.col("turn_idx").cast("long"),
        )
        .groupBy("bucket", "term_id", "block_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("packed", "tf", "dl"))).alias("plist")
        )
        .select(
            "bucket",
            "term_id",
            "block_id",
            F.expr("transform(plist, x -> x.packed)").alias("pk"),
            F.expr("transform(plist, x -> x.tf)").alias("tfl"),
            F.expr("transform(plist, x -> x.dl)").alias("dll"),
        )
        .withColumn("enc", encode_udf("pk", "tfl", "dll"))
        .select(
            "bucket",
            "term_id",
            "block_id",
            F.col("enc.docids").alias("docids"),
            F.col("enc.tfs").alias("tfs"),
            F.col("enc.dls").alias("dls"),
            F.col("enc.n").alias("n"),
            F.col("enc.max_part").alias("max_part"),
            F.lit(float(avgdl)).alias("enc_avgdl"),
        )
    )


def build_index(
    spark: SparkSession,
    source: DataFrame | str,
    index_dir: str,
    n_buckets: int = 32,
    docs_per_block: int = 64,
    block_chunks: int = 4,
    fail_after_block_chunk: int | None = None,  # test hook for kill/resume
    collect_metrics: bool = True,  # kept for API compat; row counts now
    # ride the write jobs via Observation (no separate count() jobs)
) -> Manifest:
    """Build (or resume building) an index at index_dir.

    Every table is partitioned by a `gen` (generation) column — gen=0 for
    the initial build; operators/append.py adds gen=1.. delta slices for
    incremental ingest and compaction rewrites them.  Dynamic partition
    overwrite makes every stage re-runnable (idempotent resume)."""
    man = Manifest.load(index_dir)
    # format pinned by the first committed stage; fresh builds auto-detect
    # (Iceberg when its runtime is on the classpath — sources/tables.py)
    committed_fmt = man.table_format()
    fmt: TableFormat = (
        format_by_name(committed_fmt) if committed_fmt else detect_format(spark)
    )
    if not man.entries:
        # completely fresh build: drop any stale prior materialization so
        # surviving generations/partitions from an older build at the same
        # location can't leak into the new index (ADVICE r2, generalized)
        for t in ALL_TABLES:
            fmt.reset_table(spark, index_dir, t)
    src = spark.read.parquet(source) if isinstance(source, str) else source
    # normalize to the input_hint schema (turn_idx:int32) regardless of how
    # the caller materialized the DataFrame
    src = src.withColumn("turn_idx", F.col("turn_idx").cast("int"))

    turns_path = table_path(index_dir, "turns")
    dict_path = table_path(index_dir, "term_dict")
    post_path = table_path(index_dir, "postings")
    block_path = table_path(index_dir, "blocks")

    # ---- stage 1: turns ------------------------------------------------
    if not man.is_done("turns"):
        from pyspark.sql import Observation

        t0 = time.time()
        validate_turn_idx(src)
        doc_map = assign_dense_ids(src, "conv_id", "doc_id")
        turns = tokenized_turns(spark, src, doc_map).withColumn(
            "gen", F.lit(0)
        ).sortWithinPartitions("doc_id", "turn_idx")
        # row count observed inside the write job (guide §1: metric
        # counts were separate re-read jobs; observe() rides the write)
        obs = Observation()
        fmt.write(
            turns.observe(obs, F.count(F.lit(1)).alias("rows")),
            index_dir, "turns", partition_by=["gen"], subunit="gen=0",
        )
        release_dense_ids(doc_map)
        dt = time.time() - t0
        n = int(obs.get["rows"])
        man.commit(
            "turns", rows=n, seconds=round(dt, 3),
            turns_per_sec=round(n / dt, 1) if n > 0 else None,
            bytes=dir_bytes(turns_path) if fmt.name == "parquet" else None,
            table_format=fmt.name,
        )

    return build_from_turns(
        spark,
        index_dir,
        n_buckets=n_buckets,
        docs_per_block=docs_per_block,
        block_chunks=block_chunks,
        fail_after_block_chunk=fail_after_block_chunk,
        collect_metrics=collect_metrics,
    )


def build_from_turns(
    spark: SparkSession,
    index_dir: str,
    n_buckets: int = 32,
    docs_per_block: int = 64,
    block_chunks: int = 4,
    fail_after_block_chunk: int | None = None,
    collect_metrics: bool = True,
) -> Manifest:
    """Stages 2-5 over an existing turns table (used by build_index and by
    the shard merge, which unions pre-tokenized turns — operators/merge.py)."""
    man = Manifest.load(index_dir)
    committed_fmt = man.table_format()
    fmt: TableFormat = (
        format_by_name(committed_fmt) if committed_fmt else detect_format(spark)
    )
    dict_path = table_path(index_dir, "term_dict")
    post_path = table_path(index_dir, "postings")
    block_path = table_path(index_dir, "blocks")
    meta_path = table_path(index_dir, "doc_meta")
    turns = fmt.read(spark, index_dir, "turns")

    # Resume safety (ADVICE r1): postings bucketing and block chunking are
    # pinned by the FIRST commit of stage `stats`; resuming with different
    # values would write postings the query path prunes wrongly (silently
    # missing results) or skip whole buckets from the blocks table.
    if man.is_done("stats"):
        committed = read_stats(index_dir)
        for key, val in (
            ("n_buckets", n_buckets),
            ("docs_per_block", docs_per_block),
            ("block_chunks", block_chunks),
        ):
            if key in committed and committed[key] != val:
                raise ValueError(
                    f"resume parameter mismatch: {key}={val} but the "
                    f"committed build used {key}={committed[key]} "
                    f"(stats.json at {index_dir})"
                )

    # ---- stage 1b: doc_meta (dense per-document store — the analogue of
    # the reference's SimpleStorage metadata array, storage/src/store.rs:46-100;
    # DocumentFilter predicates become a plain .where() on this table) ----
    if not man.is_done("doc_meta"):
        t0 = time.time()
        fmt.write(
            doc_meta_of(turns).withColumn("gen", F.lit(0))
            .repartitionByRange(F.col("doc_id"))
            .sortWithinPartitions("doc_id"),
            index_dir,
            "doc_meta",
            partition_by=["gen"],
            subunit="gen=0",
        )
        man.commit(
            "doc_meta", seconds=round(time.time() - t0, 3),
            bytes=dir_bytes(meta_path) if fmt.name == "parquet" else None,
            table_format=fmt.name,
        )

    # ---- stage 2: term_dict --------------------------------------------
    if not man.is_done("term_dict"):
        from pyspark.sql import Observation

        t0 = time.time()
        stats_per_term = term_stats_of(turns)
        ids = assign_dense_ids(stats_per_term, "term", "term_id")
        obs = Observation()
        fmt.write(
            stats_per_term.join(ids, "term")
            .select("term", "term_id", "df", "cf", F.lit(0).alias("gen"))
            .repartitionByRange(F.col("term_id"))
            .sortWithinPartitions("term_id")
            .observe(obs, F.count(F.lit(1)).alias("rows")),
            index_dir,
            "term_dict",
            partition_by=["gen"],
            subunit="gen=0",
        )
        release_dense_ids(ids)
        dt = time.time() - t0
        n = int(obs.get["rows"])
        man.commit(
            "term_dict", rows=n, seconds=round(dt, 3),
            bytes=dir_bytes(dict_path) if fmt.name == "parquet" else None,
            table_format=fmt.name,
        )

    # ---- stage 3: stats -------------------------------------------------
    if not man.is_done("stats"):
        t0 = time.time()
        agg = turns.agg(
            F.count("*").alias("n"),
            F.sum("dl").alias("total_dl"),
            F.max("doc_id").alias("max_doc"),
        ).collect()[0]
        # the term_dict commit recorded its exact row count (an
        # Observation inside the write) — reuse it instead of re-scanning
        # the table
        n_terms = man.entry("term_dict")["rows"]
        write_stats(
            index_dir,
            {
                "N": agg["n"],
                # doc-id slots (docs ≠ turns): the block-count denominator
                # — block_id = doc_id // docs_per_block ranges over DOCS
                "n_docs": int(agg["max_doc"]) + 1,
                "total_dl": agg["total_dl"],
                "avgdl": agg["total_dl"] / agg["n"],
                "n_terms": n_terms,
                "n_buckets": n_buckets,
                "docs_per_block": docs_per_block,
                "block_chunks": block_chunks,
                "turn_bits": TURN_BITS,
                "table_format": fmt.name,
                # generations: dict_gens = the partitions composing the
                # live dictionary (gen 0 = this build's full snapshot;
                # appends/deletes add DELTA partitions resolved last-
                # writer-wins, sources.tables.resolve_term_dict); gens =
                # live row-store (turns/doc_meta) generations
                "dict_gens": [0],
                "gens": [0],
                # live postings/blocks generations: the query path
                # partition-prunes to exactly these, so a half-written
                # generation (crashed append/compact) is invisible until
                # its stats commit lands (ADVICE r3)
                "post_gens": [0],
            },
        )
        man.commit("stats", N=agg["n"], seconds=round(time.time() - t0, 3))

    stats = read_stats(index_dir)
    avgdl = stats["avgdl"]

    # ---- stage 4: postings ----------------------------------------------
    if not man.is_done("postings"):
        from pyspark.sql import Observation

        t0 = time.time()
        term_dict = fmt.read(spark, index_dir, "term_dict")
        postings = postings_of(turns, term_dict, n_buckets)
        obs = Observation()
        fmt.write(
            postings.withColumn("gen", F.lit(0))
            .repartition(F.col("bucket"))
            # leading with the (post-subunit) partition column lets
            # FileFormatWriter keep this ordering (otherwise it re-sorts by
            # bucket alone and the (term_id, doc, turn) file order is lost)
            .sortWithinPartitions("bucket", "term_id", "doc_id", "turn_idx")
            .observe(obs, F.count(F.lit(1)).alias("rows")),
            index_dir,
            "postings",
            partition_by=["gen", "bucket"],
            subunit="gen=0",
        )
        dt = time.time() - t0
        n = int(obs.get["rows"])
        man.commit(
            "postings", rows=n, seconds=round(dt, 3),
            postings_per_sec=round(n / dt, 1) if n > 0 else None,
            bytes=dir_bytes(post_path) if fmt.name == "parquet" else None,
            table_format=fmt.name,
        )

    # ---- stage 5: blocks (chunked → resumable mid-stage) ------------------
    # Fresh build (no committed blocks units): drop any stale prior
    # materialization first.  Subunit writes only replace the partitions
    # their chunk touches, so a re-build with fewer chunks/buckets over a
    # surviving table would leave stale slices queries would read
    # (ADVICE r2).  A genuine resume (some units committed) never resets.
    if not any(
        e["stage"] == "blocks" and e["status"] == "done" for e in man.entries
    ):
        fmt.reset_table(spark, index_dir, "blocks")
    postings = fmt.read(spark, index_dir, "postings")
    for chunk in range(block_chunks):
        unit = f"chunk={chunk}"
        if man.is_done("blocks", unit):
            continue
        if fail_after_block_chunk is not None and chunk >= fail_after_block_chunk:
            raise RuntimeError(f"injected failure before blocks {unit}")
        from pyspark.sql import Observation

        t0 = time.time()
        part = postings.where(F.pmod(F.col("bucket"), F.lit(block_chunks)) == chunk)
        grouped = blocks_of(part, avgdl, docs_per_block)
        obs = Observation()
        loc = fmt.write(
            grouped.withColumn("gen", F.lit(0))
            .withColumn("chunk", F.lit(chunk))
            .repartition(F.col("bucket"))
            .sortWithinPartitions("bucket", "term_id", "block_id")
            .observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.avg("n").alias("fan_in"),
            ),
            index_dir,
            "blocks",
            partition_by=["gen", "chunk", "bucket"],
            subunit=f"gen=0/chunk={chunk}",
        )
        dt = time.time() - t0
        n_blocks = int(obs.get["rows"])
        fan_in = obs.get["fan_in"]
        man.commit(
            "blocks", unit, rows=n_blocks, seconds=round(dt, 3),
            avg_postings_per_block=round(fan_in or 0.0, 2),
            bytes=dir_bytes(loc) if fmt.name == "parquet" else None,
            table_format=fmt.name,
        )

    if not man.is_done("build"):
        man.commit("build", n_buckets=n_buckets, docs_per_block=docs_per_block)
    return man
