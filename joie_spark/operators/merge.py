"""Shard merging: sort-merge of independently built index shards, with
explicit salting for hot-term skew (north rule).

Merging model: each shard is a full index over a disjoint slice of the
corpus (disjoint conv_id sets — asserted).  Term-id spaces and doc-id
spaces of shards are incompatible (each is dense within its own build),
so the merge operates on the *pre-tokenized turns* — the expensive
tokenization is never redone — and re-derives global ids:

  1. union the shards' turns tables (terms/offsets already materialized),
  2. dense global doc_id over the union's sorted conv_ids,
  3. rebuild dict/postings/blocks via the normal stages (the distributed
     analogue of joie's build-time `sort(); dedup()` builder.rs:99-102 +
     the 2-way `par_merge` id_list.rs:104-167, expressed as one shuffle).

For the posting-list *materialization* itself (the reference's in-memory
per-term sorted arrays), `salted_posting_lists` demonstrates the explicit
two-phase salted merge the north rule names: hot stemmed terms (>10% of
turns — Zipf head) would make a plain groupBy(term).collect_list a
single-key straggler; instead phase 1 aggregates (term, salt) sub-lists
(salt = doc_id % S spreads one term over S reducers), phase 2 merges the
S sub-lists per term (flatten + sort — a k-way merge of presorted runs).
Tested equal to the unsalted aggregation (tests/test_merge.py)."""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import (
    Manifest,
    dir_bytes,
    detect_format,
    format_by_name,
    read_stats,
    table_path,
)
from .build import assign_dense_ids, build_from_turns, release_dense_ids


def _shard_format(shard_dir: str):
    """Each shard reads with the format its own build recorded."""
    try:
        return format_by_name(read_stats(shard_dir)["table_format"])
    except FileNotFoundError:
        return format_by_name("parquet")


def merge_indexes(
    spark: SparkSession,
    shard_dirs: list[str],
    out_dir: str,
    n_buckets: int = 32,
    docs_per_block: int = 64,
    block_chunks: int = 4,
) -> Manifest:
    """Merge independently built shards into one index at out_dir."""
    man = Manifest.load(out_dir)
    turns_path = table_path(out_dir, "turns")

    fmt = (
        format_by_name(man.table_format())
        if man.table_format()
        else detect_format(spark)
    )
    if not man.is_done("turns"):
        if not man.entries:
            from .build import ALL_TABLES

            for t in ALL_TABLES:
                fmt.reset_table(spark, out_dir, t)
        t0 = time.time()
        shards = [
            _shard_format(d).read(spark, d, "turns").drop("doc_id", "gen")
            for d in shard_dirs
        ]
        unioned = shards[0]
        for s in shards[1:]:
            unioned = unioned.unionByName(s)

        # disjointness contract: a conv_id may live in exactly one shard
        n_rows = unioned.count()
        n_keys = unioned.select("conv_id", "turn_idx").distinct().count()
        if n_rows != n_keys:
            raise ValueError("shards overlap: duplicate (conv_id, turn_idx) keys")

        doc_map = assign_dense_ids(unioned, "conv_id", "doc_id")
        merged = unioned.join(doc_map, "conv_id").select(
            "doc_id", "turn_idx", "conv_id", "role", "tool", "ts",
            "text", "starts", "ends", "grouped", "dl",
        )
        fmt.write(
            merged.withColumn("gen", F.lit(0))
            .repartitionByRange(F.col("doc_id"))
            .sortWithinPartitions("doc_id", "turn_idx"),
            out_dir,
            "turns",
            partition_by=["gen"],
            subunit="gen=0",
        )
        release_dense_ids(doc_map)
        dt = time.time() - t0
        man.commit(
            "turns", rows=n_rows, seconds=round(dt, 3),
            merge_fan_in=len(shard_dirs),
            turns_per_sec=round(n_rows / dt, 1),
            bytes=dir_bytes(turns_path) if fmt.name == "parquet" else None,
            table_format=fmt.name,
        )

    return build_from_turns(
        spark, out_dir,
        n_buckets=n_buckets, docs_per_block=docs_per_block,
        block_chunks=block_chunks,
    )


def salted_posting_lists(
    postings: DataFrame, n_salts: int = 8, hot_df_threshold: int = 1024
) -> DataFrame:
    """Per-term full sorted posting arrays via explicit two-phase salted
    aggregation → (term_id, postings array<struct<doc_id,turn_idx>>).

    Hot terms (≥ hot_df_threshold postings) aggregate in two phases
    (salt = doc_id % n_salts → merge); cold terms take the direct path —
    no second shuffle for the long tail."""
    counts = postings.groupBy("term_id").agg(F.count("*").alias("n"))
    hot_ids = counts.where(F.col("n") >= hot_df_threshold).select("term_id")

    base = postings.select("term_id", "doc_id", "turn_idx")
    hot = base.join(hot_ids, "term_id", "left_semi")
    cold = base.join(hot_ids, "term_id", "left_anti")

    cold_lists = cold.groupBy("term_id").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "turn_idx"))).alias("plist")
    )

    # phase 1: (term, salt) sub-lists — a hot term spreads over n_salts tasks
    sub = (
        hot.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(n_salts)))
        .groupBy("term_id", "salt")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "turn_idx"))).alias("sub"))
    )
    # phase 2: k-way merge of the pre-sorted runs (flatten + sort)
    hot_lists = sub.groupBy("term_id").agg(
        F.sort_array(F.flatten(F.collect_list("sub"))).alias("plist")
    )

    return cold_lists.unionByName(hot_lists)


def unsalted_posting_lists(postings: DataFrame) -> DataFrame:
    """Single-phase aggregation — the correctness oracle for the salted
    path (and the straggler at scale)."""
    return postings.groupBy("term_id").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "turn_idx"))).alias("plist")
    )
