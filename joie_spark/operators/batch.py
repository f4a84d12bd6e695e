"""Batch BM25 top-k (`search_many`) with block-max pruning over the
compressed blocks table.

Why a batch API at all: the reference answers a single query in
microseconds from mmap (engine/src/searcher.rs:33-52); a shuffle engine
pays ~seconds of job latency per query, so throughput parity comes from
amortizing that latency over a batch (north rule / VERDICT r1).

Why blocks, not postings (VERDICT r2): the round-2 batch path scanned the
*uncompressed* postings table for the union vocabulary of the whole batch
— a batch containing a stopword read every posting of "the", positions
arrays included.  The blocks table is delta+varint compressed, carries
block-max metadata, and the batch path runs on it — as does every
phrase-free single `Engine.search`, answered here as a batch of one:

  phase 0  ONE dictionary lookup for the whole batch; queries containing
           multi-term phrases fall back to the postings path (positions
           live only there) — everything else takes the blocks path.
  phase 1  per-(query, block) upper bounds from block-max metadata:
           ub_q(b) = Σ_{t ∈ q} idf_t · max_part(t, b) — one scan of the
           blocks *metadata* columns, grouped per (query_id, block_id);
           a two-phase aggregation picks each query's top-P blocks (the
           probe set) plus its candidate-block count.
  phase 2  decode ONLY the probe blocks (one applyInPandas over rows
           grouped by block_id — the shuffle moves compressed bytes, the
           per-turn tf/mask aggregation happens in numpy), score every
           query, take top-k → per-query threshold θ_q = its k-th best
           exact score.  Queries whose entire candidate-block set fit in
           the probe are FINISHED here (their probe top-k is exact).
  phase 3  for the remaining queries, decode only NEW blocks — ub_q(b) ≥
           θ_q for some unfinished q and not already decoded by the probe
           (probe scores are exact and their non-top-k rows are totally
           ordered out) — then merge probe top-k ∪ fresh top-k per query.

Soundness (the block-max WAND invariant, Ding & Suel 2011): every
turn's score in block b is ≤ ub_q(b); θ_q is an attained k-th best score,
so a pruned block (ub < θ) cannot contribute a top-k row, and ties at θ
are kept because pruning is strict (< θ).  Results are bit-identical to
the single-query exhaustive path: tf/dl decode to the same ints, idf uses
the same dictionary df, and the per-turn fold adds contributions in the
same ascending-term_id order (tested in tests/test_batch_query.py).

Scale shape: the candidate scan is bucket-partition-pruned and
term_id-pruned at the parquet row-group level; the decode shuffle is
keyed by block_id (a hot term's postings spread over ~n_docs/docs_per_
block blocks — no hot keys); per-query top-k is a two-phase aggregation,
never a window (a stopword query at 10^12 turns would otherwise put its
whole candidate set into one window task).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.codec import TURN_BITS, delta_decode, varint_decode
from ..oracle import B, K1, bm25_idf
from ..plans.parser import parse_query
from ..tokenizer import tokenize_terms
from .query import (
    MATCH_COLS,
    RESULT_SCHEMA,
    Index,
    PNode,
    _batch_pred_sql,
    _expand_multiterm,
    _literal_texts,
    _phrase_term_ids,
    contains_diff,
    lower,
    plan_term_ids,
    pred_term_ids,
)

OUT_SCHEMA = T.StructType(
    [T.StructField("query_id", T.IntegerType()), *RESULT_SCHEMA.fields]
)
OUT_SCHEMA_COLLAPSED = T.StructType(
    [*OUT_SCHEMA.fields, T.StructField("n_matched", T.LongType())]
)

NEG_INF_SQL = "CAST('-Infinity' AS DOUBLE)"


# ---------------------------------------------------------------------------
# shared SQL generation (one F.expr per stage — no per-query py4j trees)


def _matched_sql(
    items: list[tuple[int, PNode, list[int]]],
    bitpos,
    n_words,
    allowed_blocks: dict[int, list[int]] | None = None,
    dpb: int | None = None,
) -> str:
    """array of (query_id, matched?) structs filtered to matches — every
    query's boolean predicate evaluated over one candidate row's presence
    bitmask (+ posmap for phrase terms, postings path only).

    `allowed_blocks` (with `dpb`) restricts each query to ITS OWN block
    list — the probe phase's per-query exactness mask: a probed block is
    only decoded for the queries probing it, so a query scoring rows in
    a block another query probed would see PARTIAL tf maps; the mask
    removes those rows from that query's view instead."""
    def pred(qid, node) -> str:
        p = f"({_batch_pred_sql(node, bitpos, n_words)})"
        if allowed_blocks is not None:
            blks = ", ".join(f"{int(b)}L" for b in allowed_blocks.get(qid, []))
            p += (
                f" AND array_contains(array({blks}),"
                f" CAST(FLOOR(doc_id / {int(dpb)}) AS BIGINT))"
            )
        return p

    return "filter(array({}), x -> x.m)".format(
        ", ".join(
            f"named_struct('query_id', {qid}, 'm', {pred(qid, node)})"
            for qid, node, _qids in items
        )
    )


def _score_sql(items, idf: dict[int, float], avgdl: float) -> str:
    """Per-(matched query, turn) BM25 fold over the query's term ids in
    ascending order — the exact float sequence of the single-query path
    (operators/query.py score_matches), so results are bit-identical."""

    def longs(vals) -> str:
        return ", ".join(f"{int(v)}L" for v in vals)

    qterms_sql = "map({})".format(
        ", ".join(f"{qid}, array({longs(qids)})" for qid, _n, qids in items)
    )
    all_ids = sorted({t for _q, _n, qids in items for t in qids})
    idf_sql = "map({})".format(
        ", ".join(f"{t}L, CAST({idf[t]!r} AS DOUBLE)" for t in all_ids)
    )
    tfs = "CAST(try_element_at(tfmap, t) AS DOUBLE)"
    return f"""aggregate(
        filter(element_at({qterms_sql}, query_id),
               t -> map_contains_key(tfmap, t)),
        CAST(0.0 AS DOUBLE),
        (acc, t) -> acc + (element_at({idf_sql}, t) * ({tfs} * CAST({K1 + 1.0!r} AS DOUBLE)))
            / ({tfs} + CAST({K1!r} AS DOUBLE) * (CAST({1.0 - B!r} AS DOUBLE)
               + (CAST({B!r} AS DOUBLE) * CAST(dl AS DOUBLE)) / CAST({avgdl!r} AS DOUBLE)))
    )"""


def _two_phase_topk(exploded: DataFrame, k: int) -> DataFrame:
    """Per-query top-k as partial-then-merge aggregation (never a window:
    a hot query's candidates would all land in one window task).  Sort key
    (-score, doc_id, turn_idx) ascending; scores > 0 so negation is an
    exact order flip."""
    item = (
        "named_struct('ns', -score, 'doc_id', doc_id,"
        " 'turn_idx', turn_idx, 'score', score)"
    )
    partial = (
        exploded.select(
            "query_id", F.spark_partition_id().alias("pid"), F.expr(item).alias("it")
        )
        .groupBy("query_id", "pid")
        .agg(F.expr(f"slice(array_sort(collect_list(it)), 1, {int(k)})").alias("top"))
    )
    return (
        partial.groupBy("query_id")
        .agg(
            F.expr(
                f"slice(array_sort(flatten(collect_list(top))), 1, {int(k)})"
            ).alias("top")
        )
        .select("query_id", F.explode("top").alias("e"))
        .select(
            "query_id",
            F.col("e.doc_id").alias("doc_id"),
            F.col("e.turn_idx").alias("turn_idx"),
            F.col("e.score").alias("score"),
        )
    )


def _two_phase_topk_collapsed(best: DataFrame, k: int) -> DataFrame:
    """Per-query top-k over COLLAPSED (one-row-per-doc) candidates —
    the same partial-then-merge shape as _two_phase_topk, carrying the
    best turn and the per-doc match count.  Sort key (-score, doc_id)
    (doc rows are unique per query)."""
    item = (
        "named_struct('ns', -score, 'doc_id', doc_id,"
        " 'turn_idx', turn_idx, 'score', score, 'n_matched', n_matched)"
    )
    partial = (
        best.select(
            "query_id", F.spark_partition_id().alias("pid"), F.expr(item).alias("it")
        )
        .groupBy("query_id", "pid")
        .agg(F.expr(f"slice(array_sort(collect_list(it)), 1, {int(k)})").alias("top"))
    )
    return (
        partial.groupBy("query_id")
        .agg(
            F.expr(
                f"slice(array_sort(flatten(collect_list(top))), 1, {int(k)})"
            ).alias("top")
        )
        .select("query_id", F.explode("top").alias("e"))
        .select(
            "query_id",
            F.col("e.doc_id").alias("doc_id"),
            F.col("e.turn_idx").alias("turn_idx"),
            F.col("e.score").alias("score"),
            F.col("e.n_matched").alias("n_matched"),
        )
    )


def _apply_filters(
    cand: DataFrame, ix: Index, where: str | None, where_doc: str | None
) -> DataFrame:
    # deleted-doc deny-list first (operators/delete.py): applied to every
    # candidate source BEFORE scoring/θ, so batch pruning soundness is
    # untouched (same argument as the where filters below)
    cand = ix.exclude_tombstones(cand)
    if where:
        cand = cand.join(
            ix.turns.where(where).select(*MATCH_COLS), MATCH_COLS, "left_semi"
        )
    if where_doc:
        cand = cand.join(
            ix.doc_meta.where(where_doc).select("doc_id"), "doc_id", "left_semi"
        )
    return cand


def _topk_from_cand(
    cand: DataFrame,
    items,
    idf,
    avgdl: float,
    bitpos,
    n_words,
    k: int,
    allowed_blocks: dict[int, list[int]] | None = None,
    dpb: int | None = None,
    per_doc: bool = False,
) -> DataFrame:
    """candidates (doc_id, turn_idx, dl, tfmap, [posmap,] m0..mW) →
    (query_id, doc_id, turn_idx, score) top-k per query, unordered.
    per_doc=True collapses to one row per (query, doc) — best turn +
    match count — BEFORE the top-k (conversation collapse; only sound
    when every matching turn reached this frame, i.e. never under the
    3-phase θ pruning, which keeps turn-level top-k only)."""
    exploded = cand.select(
        "doc_id",
        "turn_idx",
        "tfmap",
        "dl",
        F.explode(
            F.expr(_matched_sql(items, bitpos, n_words, allowed_blocks, dpb))
        ).alias("e"),
    ).select(
        F.col("e.query_id").alias("query_id"),
        "doc_id",
        "turn_idx",
        F.expr(_score_sql(items, idf, avgdl)).alias("score"),
    )
    if per_doc:
        # max(struct(score, -turn_idx)) = best score, ties → lowest turn
        # (identical rule to query.search_expr_collapsed); one partial-
        # aggregated groupBy — the frame arrives grouped by (doc, turn)
        best = (
            exploded.groupBy("query_id", "doc_id")
            .agg(
                F.max(
                    F.struct(F.col("score"), (-F.col("turn_idx")).alias("nti"))
                ).alias("best"),
                F.count("*").alias("n_matched"),
            )
            .select(
                "query_id",
                "doc_id",
                (-F.col("best.nti")).cast("int").alias("turn_idx"),
                F.col("best.score").alias("score"),
                "n_matched",
            )
        )
        return _two_phase_topk_collapsed(best, k)
    return _two_phase_topk(exploded, k)


# ---------------------------------------------------------------------------
# candidate sources


def _cand_from_postings(
    ix: Index, all_ids: list[int], phrase_ids: list[int], bitpos, n_words
) -> DataFrame:
    """ONE partition/row-group-pruned scan of the uncompressed postings
    table → per-turn candidate rows.  Used only for phrase-bearing queries
    (positions live here, not in the blocks table).  posmap carries the
    fat position arrays ONLY for multi-term-phrase terms (masked to NULL
    at the scan so the shuffle never moves unused arrays)."""
    if phrase_ids:
        pos_mask = "CASE WHEN term_id IN ({}) THEN positions END".format(
            ", ".join(f"{int(t)}L" for t in phrase_ids)
        )
    else:
        pos_mask = "CAST(NULL AS ARRAY<INT>)"
    pos_case = (
        "CASE WHEN positions IS NOT NULL THEN struct(term_id, positions) END"
    )
    bp_case = "CASE term_id {} END".format(
        " ".join(f"WHEN {int(t)}L THEN {i}" for t, i in bitpos.items())
    )
    mask_words = [
        F.expr(
            f"aggregate(collect_list(CASE WHEN (bp div 64) = {w} THEN bp % 64 END),"
            f" 0L, (acc, b) -> acc | shiftleft(1L, b))"
        ).alias(f"m{w}")
        for w in range(n_words)
    ]
    return (
        ix.postings_for(set(all_ids))
        .select(
            *MATCH_COLS,
            "term_id",
            "tf",
            "dl",
            F.expr(pos_mask).alias("positions"),
            F.expr(bp_case).alias("bp"),
        )
        .groupBy(*MATCH_COLS)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term_id", "tf"))
            ).alias("tfmap"),
            F.expr(f"map_from_entries(collect_list({pos_case}))").alias("posmap"),
            F.first("dl").alias("dl"),
            *mask_words,
        )
    )


def _decode_schema(n_words: int) -> T.StructType:
    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("dl", T.IntegerType()),
            T.StructField("tids", T.ArrayType(T.LongType())),
            T.StructField("tfs", T.ArrayType(T.IntegerType())),
            *[T.StructField(f"m{w}", T.LongType()) for w in range(n_words)],
        ]
    )


def _make_block_decode(bitpos: dict[int, int], n_words: int):
    """applyInPandas body: all compressed rows of ONE block_id → per-turn
    candidate rows (doc_id, turn_idx, dl, term-id/tf arrays, presence
    masks).  The groupBy(block_id) shuffle moves compressed bytes; the
    per-turn aggregation is one numpy pass (sort + reduceat), so nothing
    row-at-a-time touches Python."""
    turn_mask = (1 << TURN_BITS) - 1

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = {
            "doc_id": np.empty(0, dtype=np.int64),
            "turn_idx": np.empty(0, dtype=np.int32),
            "dl": np.empty(0, dtype=np.int32),
            "tids": [],
            "tfs": [],
            **{f"m{w}": np.empty(0, dtype=np.int64) for w in range(n_words)},
        }
        if len(pdf) == 0:
            return pd.DataFrame(cols)
        packs, tids, tfs_, dls_, bps = [], [], [], [], []
        for term_id, docids, tfs_b, dls_b in zip(
            pdf["term_id"], pdf["docids"], pdf["tfs"], pdf["dls"]
        ):
            p = delta_decode(bytes(docids))
            packs.append(p)
            tids.append(np.full(len(p), int(term_id), dtype=np.int64))
            bps.append(np.full(len(p), bitpos[int(term_id)], dtype=np.int64))
            tfs_.append(varint_decode(bytes(tfs_b)))
            dls_.append(varint_decode(bytes(dls_b)))
        packed = np.concatenate(packs)
        tid = np.concatenate(tids)
        bp = np.concatenate(bps)
        tf = np.concatenate(tfs_)
        dl = np.concatenate(dls_)
        order = np.argsort(packed, kind="stable")
        packed, tid, bp, tf, dl = (
            packed[order], tid[order], bp[order], tf[order], dl[order],
        )
        starts = np.flatnonzero(np.r_[True, packed[1:] != packed[:-1]])
        word = bp // 64
        bit = np.uint64(1) << (bp % 64).astype(np.uint64)
        out = {
            "doc_id": packed[starts] >> TURN_BITS,
            "turn_idx": (packed[starts] & turn_mask).astype(np.int32),
            "dl": dl[starts].astype(np.int32),
            "tids": np.split(tid, starts[1:]),
            "tfs": [a.astype(np.int32) for a in np.split(tf, starts[1:])],
        }
        for w in range(n_words):
            contrib = np.where(word == w, bit, np.uint64(0))
            out[f"m{w}"] = np.bitwise_or.reduceat(contrib, starts).view(np.int64)
        return pd.DataFrame(out)

    return run


def _cand_from_blocks(blocks: DataFrame, bitpos, n_words) -> DataFrame:
    """Compressed block rows → per-turn candidates.  tfmap is assembled
    JVM-side from the aligned (tids, tfs) arrays (map_from_arrays) so the
    decode UDF never builds per-row Python dicts."""
    decoded = (
        blocks.select("block_id", "term_id", "docids", "tfs", "dls")
        .groupBy("block_id")
        .applyInPandas(_make_block_decode(bitpos, n_words), _decode_schema(n_words))
    )
    return decoded.select(
        "doc_id",
        "turn_idx",
        "dl",
        F.map_from_arrays("tids", "tfs").alias("tfmap"),
        *[F.col(f"m{w}") for w in range(n_words)],
    )


# ---------------------------------------------------------------------------
# blocks path (block-max pruned)


def _blocks_meta_for(ix: Index, term_ids: list[int]) -> DataFrame:
    nb = ix.stats["n_buckets"]
    ids = [int(t) for t in term_ids]
    buckets = sorted({t % nb for t in ids})
    return ix.blocks.where(
        F.col("bucket").isin(buckets) & F.col("term_id").isin(ids)
    )


# Stored block maxima and query-time scores use DIFFERENT float
# associations — the build computes idf·(num/denom) per row while every
# scorer computes (idf·num)/denom (the oracle's exact shape) — so a
# stored bound can round up to a few ulps BELOW a real score.  When the
# k-th best score (θ) IS that block's max row, `ub >= θ` is false by one
# ulp and the block holding a genuine top-k row gets pruned (caught by a
# hypothesis pagination test at k=3 on a hot term).  ULP_GUARD pads every
# bound by 2^-48 relative (~3.6e-15 — 16 float64 eps, safely above the
# ≤4-ulp association discrepancy; zero effect on pruning power).
ULP_GUARD = 1.0 + 2.0**-48


def _ub_per_query(blocks_meta: DataFrame, items, idf, avgdl: float) -> DataFrame:
    """(query_id, block_id, ub) — ub_q(b) = Σ_{t ∈ q present in b}
    idf_t · max_part(t, b) · max(1, avgdl/enc_avgdl) · ULP_GUARD.  Terms
    of q absent from b contribute 0, so ub is an upper bound of any
    turn's q-score in b regardless of which of q's terms the block holds.

    The avgdl drift factor: a block's stored max_part was computed with
    enc_avgdl; after an incremental append (or a delete) the live avgdl
    differs.  For any (tf, dl), contribution(avgdl') ≤ contribution(avgdl)
    · max(1, avgdl'/avgdl) (the denominator term K1·B·dl/avgdl shrinks by
    at most that factor), so scaling stored bounds by max(1, avgdl_now/
    enc_avgdl) keeps the upper bound valid — exactly 1 for freshly built
    or compacted indexes, slightly loose between append and compaction."""
    tq: dict[int, list[int]] = {}
    for qid, _n, qids in items:
        for t in qids:
            tq.setdefault(int(t), []).append(qid)
    tq_sql = "map({})".format(
        ", ".join(
            f"{t}L, array({', '.join(str(q) for q in qs)})" for t, qs in tq.items()
        )
    )
    idf_sql = "map({})".format(
        ", ".join(f"{t}L, CAST({idf[t]!r} AS DOUBLE)" for t in sorted(tq))
    )
    drift = F.greatest(
        F.lit(1.0), F.lit(float(avgdl)) / F.col("enc_avgdl")
    ) * F.lit(ULP_GUARD)
    return (
        blocks_meta.select(
            "block_id",
            F.explode(F.expr(f"element_at({tq_sql}, term_id)")).alias("query_id"),
            (
                F.expr(f"element_at({idf_sql}, term_id)") * F.col("max_part") * drift
            ).alias("c"),
        )
        .groupBy("query_id", "block_id")
        .agg(F.sum("c").alias("ub"))
    )


def _top_blocks_per_query(ub: DataFrame, probe_blocks: int):
    """Collect each query's top-P candidate blocks by ub plus its total
    candidate-block count — two-phase aggregation, one tiny collect
    (Q × P rows of metadata)."""
    it = "named_struct('nub', -ub, 'block_id', block_id)"
    partial = (
        ub.select("query_id", F.spark_partition_id().alias("pid"), F.expr(it).alias("it"))
        .groupBy("query_id", "pid")
        .agg(
            F.expr(f"slice(array_sort(collect_list(it)), 1, {int(probe_blocks)})").alias("top"),
            F.count("*").alias("n"),
        )
    )
    rows = (
        partial.groupBy("query_id")
        .agg(
            F.expr(
                f"slice(array_sort(flatten(collect_list(top))), 1, {int(probe_blocks)})"
            ).alias("top"),
            F.sum("n").alias("n_blocks"),
        )
        .collect()
    )
    return {
        r["query_id"]: ([e["block_id"] for e in r["top"]], r["n_blocks"]) for r in rows
    }


def _blocks_path(
    ix: Index,
    items: list[tuple[int, PNode, list[int]]],
    idf: dict[int, float],
    k: int,
    where: str | None,
    where_doc: str | None,
    probe_blocks: int,
    direct_threshold: int = 32768,
    stats_out: dict | None = None,
    per_doc: bool = False,
) -> DataFrame:
    """Block-max pruned batch top-k for phrase-free queries (unordered).

    per_doc=True (conversation collapse) always decodes all candidate
    blocks: the 3-phase θ machinery prunes turns outside the TURN-level
    top-k, but a doc's best turn below turn-rank k can still make the
    DOC-level top-k, so θ pruning is unsound for collapse.

    `stats_out`, when passed, is filled with pruning diagnostics
    (candidate (query, block) pairs, probed block ids, surviving decode
    set) — costs one extra count job, so it is opt-in (bench/debug)."""
    spark = ix.spark
    avgdl = ix.stats["avgdl"]
    all_ids = sorted({t for _q, _n, qids in items for t in qids})
    bitpos = {t: i for i, t in enumerate(all_ids)}
    n_words = (len(all_ids) + 63) // 64

    blocks_meta = _blocks_meta_for(ix, all_ids)

    # Small-index shortcut: when the whole index has at most
    # direct_threshold blocks (known from stats — no job needed), decode
    # every candidate block in ONE pass (still the compressed index,
    # still exact).  The default threshold is measured
    # (BENCH/PRUNING_CROSSOVER.md): decode-all won every crossover
    # configuration up to 20k blocks / 6.5M turns — even at 100%
    # post-probe pair pruning — because phase 1's per-(q, b) metadata
    # aggregation costs more per candidate pair than one codegen
    # decode-and-score pass, and the 3-phase chain adds 2 extra job
    # barriers.  The phases below are for the regime where fat posting
    # blocks make decode dominate (10^12 turns ⇒ ~10^10 blocks).
    # block_id ranges over DOCS (conversations), not turns — ix.n_docs,
    # not stats["N"] (~a dozen turns per doc ⇒ the old N-based estimate
    # overstated the block count ~12× and mis-routed mid-size indexes
    # into the 3-phase pruning machinery)
    total_blocks = ix.total_blocks
    if per_doc or total_blocks <= direct_threshold:
        if stats_out is not None:
            stats_out.update({
                "path": "direct",
                "total_blocks": total_blocks,
                # decode units: every (term_id, block_id) posting-block of
                # the batch vocabulary (metadata-only count, diag pass)
                "candidate_tb_pairs": blocks_meta.count(),
            })
        cand = _apply_filters(
            _cand_from_blocks(blocks_meta, bitpos, n_words), ix, where, where_doc
        )
        return _topk_from_cand(
            cand, items, idf, avgdl, bitpos, n_words, k, per_doc=per_doc
        )

    ub = _ub_per_query(blocks_meta, items, idf, avgdl)
    top = _top_blocks_per_query(ub, probe_blocks)
    if stats_out is not None:
        stats_out.update(
            {
                "path": "pruned",
                "total_blocks": total_blocks,
                "candidate_qblock_pairs": int(sum(n for _b, n in top.values())),
                "candidate_tb_pairs": blocks_meta.count(),
            }
        )

    probe_ids = sorted({b for bs, _n in top.values() for b in bs})
    if stats_out is not None:
        stats_out["probed_blocks"] = len(probe_ids)
    if not probe_ids:
        return spark.createDataFrame([], OUT_SCHEMA)

    # phase 2: decode each query's OWN probe blocks, exact-score → θ.
    # Restricting the decode to the probed (term_id, block_id) pairs —
    # not the probe-block UNION × all batch terms — is what keeps the
    # probe from degenerating into decode-all for large batches (the
    # union of 100+ queries' top-P blocks covers nearly every block; the
    # pair set stays Q·P·|q|).  Exactness per query is preserved by the
    # allowed_blocks mask in the matched predicate: a query only sees
    # rows from blocks probed FOR IT, where all of its terms decoded.
    dpb = int(ix.stats["docs_per_block"])
    probe_of = {qid: [int(b) for b in top.get(qid, ([], 0))[0]] for qid, _n, _q in items}
    probe_tb = sorted(
        {
            (int(t), int(b))
            for qid, _n, qids in items
            for b in probe_of[qid]
            for t in qids
        }
    )
    if stats_out is not None:
        stats_out["probed_tb_pairs"] = len(probe_tb)
    probe_pairs_df = spark.createDataFrame(
        probe_tb, "term_id long, block_id long"
    )
    probe_blocks_df = blocks_meta.join(
        F.broadcast(probe_pairs_df), ["term_id", "block_id"], "left_semi"
    )
    probe_cand = _apply_filters(
        _cand_from_blocks(probe_blocks_df, bitpos, n_words), ix, where, where_doc
    )
    probe_rows = (
        _topk_from_cand(
            probe_cand, items, idf, avgdl, bitpos, n_words, k,
            allowed_blocks=probe_of, dpb=dpb,
        )
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"), F.asc("turn_idx"))
        .collect()
    )
    by_q: dict[int, list] = {}
    for r in probe_rows:
        by_q.setdefault(r["query_id"], []).append(r)

    finished_rows: list = []
    unfinished: list[tuple[int, PNode, list[int]]] = []
    theta: dict[int, float] = {}
    for qid, _node, _qids in items:
        n_blocks = top.get(qid, ([], 0))[1]
        rows_q = by_q.get(qid, [])
        if n_blocks <= probe_blocks:
            # every candidate block was probed → probe top-k is exact
            finished_rows.extend(rows_q)
        else:
            unfinished.append((qid, _node, _qids))
            theta[qid] = rows_q[-1]["score"] if len(rows_q) >= k else float("-inf")

    finished_df = spark.createDataFrame(finished_rows, OUT_SCHEMA)
    if stats_out is not None:
        stats_out["finished_after_probe"] = len(items) - len(unfinished)
    if not unfinished:
        if stats_out is not None:
            stats_out["decoded_after_probe"] = 0
            stats_out["survivor_blocks"] = len(probe_ids)
        return finished_df

    # phase 3: decode only (q, b) pairs the query cannot prune — and for
    # each query, never ITS OWN probed blocks again.  The probe pass
    # scored those EXACTLY (a turn's whole q-score lives in one block —
    # block_id is a function of doc_id alone — and the per-query mask
    # guarantees full decode), and any probed row outside the query's
    # probe top-k is totally ordered below all k kept rows under the
    # same (score desc, doc, turn) order the final top-k uses, so it can
    # never re-enter.
    theta_sql = "map({})".format(
        ", ".join(
            f"{qid}, {NEG_INF_SQL if theta[qid] == float('-inf') else f'CAST({theta[qid]!r} AS DOUBLE)'}"
            for qid, _n, _q in unfinished
        )
    )
    probe_map_sql = "map({})".format(
        ", ".join(
            "{}, array({})".format(
                qid, ", ".join(f"{b}L" for b in probe_of[qid])
            )
            for qid, _n, _q in unfinished
        )
    )
    # survivors at PAIR granularity, then down to the decode unit — the
    # (term_id, block_id) posting-block: decode (t, b) iff some surviving
    # (q, b) has t ∈ q.  A distinct-block union would erase per-query
    # pruning for large batches (any block kept by ONE query decodes for
    # all); per-(t,b) pruning keeps the win.  Partial scores this creates
    # for a query that PRUNED b are safe: partial ≤ full ≤ ub_q(b) < θ_q,
    # strictly below the k probe rows it would have to displace.
    qterms_sql = "map({})".format(
        ", ".join(
            f"{qid}, array({', '.join(str(int(t)) + 'L' for t in qids)})"
            for qid, _n, qids in unfinished
        )
    )
    surv_pairs = (
        ub.where(F.col("query_id").isin([qid for qid, _n, _q in unfinished]))
        .where(F.col("ub") >= F.expr(f"element_at({theta_sql}, query_id)"))
        .where(
            ~F.expr(
                f"array_contains(element_at({probe_map_sql}, query_id),"
                " block_id)"
            )
        )
    )
    surv = (
        surv_pairs.select(
            F.explode(F.expr(f"element_at({qterms_sql}, query_id)")).alias(
                "term_id"
            ),
            "block_id",
        )
        .distinct()
    )
    if stats_out is not None:
        stats_out["kept_qb_pairs"] = surv_pairs.count()
        # persisted so the diagnostic count and the final-decode semi-join
        # share one computation; exposed as ._joie_persisted on the result
        # for caller-controlled release (ADVICE r4 — unpersisting here,
        # before the caller materializes the result, would defeat it)
        surv = surv.persist()
        stats_out["decoded_tb_after_probe"] = surv.count()
        stats_out["decoded_after_probe"] = (
            surv.select("block_id").distinct().count()
        )
        stats_out["survivor_blocks"] = (
            stats_out["decoded_after_probe"] + len(probe_ids)
        )
    unfinished_probe_rows = [
        r for qid, _n, _q in unfinished for r in by_q.get(qid, [])
    ]
    unf_ids = sorted({t for _q, _n, qids in unfinished for t in qids})
    final_blocks = _blocks_meta_for(ix, unf_ids).join(
        surv, ["term_id", "block_id"], "left_semi"
    )
    final_cand = _apply_filters(
        _cand_from_blocks(final_blocks, bitpos, n_words), ix, where, where_doc
    )
    fresh_df = _topk_from_cand(
        final_cand, unfinished, idf, avgdl, bitpos, n_words, k
    )
    # merge probe top-k with the freshly decoded blocks' top-k: ≤ 2k rows
    # per query (bounded by 2·k·Q — not a scale hazard), one tiny window.
    # The max-dedupe first: a block q probed can be re-decoded for some
    # OTHER query's survivor pair, handing q a duplicate (possibly
    # partial) row for a turn already in its probe top-k; every BM25
    # contribution is positive, so a partial sum ≤ the exact one and
    # max() keeps the exact row's score.
    merged = (
        fresh_df.unionByName(
            spark.createDataFrame(unfinished_probe_rows, OUT_SCHEMA)
        )
        .groupBy("query_id", "doc_id", "turn_idx")
        .agg(F.max("score").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"), F.asc("turn_idx")
    )
    final_df = (
        merged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
    out = finished_df.unionByName(final_df)
    if stats_out is not None:
        out._joie_persisted = surv
    return out


# ---------------------------------------------------------------------------
# postings path (phrase-bearing queries)


def _postings_path(
    ix: Index,
    items: list[tuple[int, PNode, list[int]]],
    idf: dict[int, float],
    k: int,
    where: str | None,
    where_doc: str | None,
    per_doc: bool = False,
) -> DataFrame:
    avgdl = ix.stats["avgdl"]
    # the candidate scan + bitmask layout must cover every PREDICATE term
    # (incl. a PDiff's prohibited side — rhs presence bits are read by
    # NOT(rhs) even though rhs never scores); scoring stays on each
    # item's qids (plan_term_ids), a subset
    all_ids = sorted(
        {t for _q, node, _qids in items for t in pred_term_ids(node) if t > 0}
    )
    phrase_ids = sorted({t for _q, node, _qids in items for t in _phrase_term_ids(node)})
    bitpos = {t: i for i, t in enumerate(all_ids)}
    n_words = (len(all_ids) + 63) // 64
    cand = _apply_filters(
        _cand_from_postings(ix, all_ids, phrase_ids, bitpos, n_words),
        ix, where, where_doc,
    )
    return _topk_from_cand(
        cand, items, idf, avgdl, bitpos, n_words, k, per_doc=per_doc
    )


# ---------------------------------------------------------------------------
# top level


def search_many(
    ix: Index,
    queries: list[str],
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
    optimize: bool = True,
    mode: str = "auto",
    probe_blocks: int = 8,
    direct_threshold: int = 32768,
    stats_out: dict | None = None,
) -> DataFrame:
    """Batch BM25 top-k → (query_id, doc_id, turn_idx, score), top-k rows
    per query_id in (query_id, score desc, doc_id, turn_idx) order.
    Per-query rows are bit-identical to the single-query `search` path.

    mode='auto' routes phrase-free queries through the block-max pruned
    compressed index (_blocks_path) and phrase-bearing queries through the
    positional postings scan; 'postings' forces everything through the
    postings scan (the round-2 shape, kept for A/B and as the fallback);
    'blocks' asserts no query needs positions.  Indexes with at most
    direct_threshold blocks skip the probe/θ phases and decode every
    candidate block in one pass (pruning only pays off when the block
    count is large; set 0 to force the full WAND machinery)."""
    return search_many_exprs(
        ix, [parse_query(q) for q in queries], k=k, where=where,
        where_doc=where_doc, optimize=optimize, mode=mode,
        probe_blocks=probe_blocks, direct_threshold=direct_threshold,
        stats_out=stats_out,
    )


def search_many_exprs(
    ix: Index,
    exprs: list,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
    optimize: bool = True,
    mode: str = "auto",
    probe_blocks: int = 8,
    direct_threshold: int = 32768,
    stats_out: dict | None = None,
    collapse: bool = False,
) -> DataFrame:
    """search_many over pre-built ASTs — the batch twin of search_expr,
    covering the full query algebra incl. the builder-only extensions
    (Near/Prefix/Fuzzy/AndNot).  Routing: prefix/fuzzy lower to plain
    keyword scans and ride the blocks path (pruning stays sound —
    predicate terms == scoring terms); near queries need positions and
    auto-route to the postings path like phrases; AndNot queries force
    the postings path because the blocks machinery's candidate scan and
    pair-granular pruned decode cover only SCORING terms, which would
    leave the prohibited side's presence bits silently unset."""
    words = sorted(
        {t for e in exprs for lit_ in _literal_texts(e) for t in tokenize_terms(lit_)}
    )
    lut = ix.lookup_terms(words)
    term_of = {w: lut[w][0] for w in lut}
    nodes = []
    dfs = {tid: df for tid, df in lut.values()}
    prefix_ids, fuzzy_ids, exp_dfs = {}, {}, {}
    for e in exprs:
        _expand_multiterm(ix, e, prefix_ids, fuzzy_ids, exp_dfs)
    dfs.update(exp_dfs)
    for e in exprs:
        nodes.append(
            lower(e, term_of, optimize, prefix_ids=prefix_ids, fuzzy_ids=fuzzy_ids)
        )
    items = []
    for qid, node in enumerate(nodes):
        qids = sorted({t for t in plan_term_ids(node) if t > 0})
        if qids:
            items.append((qid, node, qids))
    if not items:
        return ix.spark.createDataFrame(
            [], OUT_SCHEMA_COLLAPSED if collapse else OUT_SCHEMA
        )

    n_docs = ix.stats["N"]
    all_ids = sorted({t for _q, _n, qids in items for t in qids})
    idf = {t: bm25_idf(n_docs, dfs.get(t, 0)) for t in all_ids}

    def needs_postings(node: PNode) -> bool:
        return bool(_phrase_term_ids(node)) or contains_diff(node)

    phrase_items = [it for it in items if needs_postings(it[1])]
    flat_items = [it for it in items if not needs_postings(it[1])]
    if mode == "postings":
        phrase_items, flat_items = items, []
    elif mode == "auto" and flat_items and phrase_items:
        total_blocks = ix.total_blocks
        if total_blocks <= direct_threshold:
            # tiny index AND the positional postings scan is already being
            # paid for the phrase queries: folding the flat queries into
            # that one pipeline beats running a second (blocks) pipeline —
            # pruning can't recoup anything at this block count.  Above
            # the threshold the split stands: the phrase scan only fetches
            # the phrase queries' vocabulary while the flat queries prune
            # blocks.
            phrase_items, flat_items = items, []
    elif mode == "blocks" and phrase_items:
        raise ValueError(
            "mode='blocks' cannot answer multi-term phrase / near / "
            "and_not queries (positions and prohibited-side presence "
            "bits live in the postings table)"
        )
    elif mode not in ("auto", "blocks"):
        raise ValueError(f"unknown mode={mode!r}")

    parts = []
    if flat_items:
        parts.append(
            _blocks_path(
                ix, flat_items, idf, k, where, where_doc, probe_blocks,
                direct_threshold=direct_threshold, stats_out=stats_out,
                per_doc=collapse,
            )
        )
    if phrase_items:
        parts.append(
            _postings_path(
                ix, phrase_items, idf, k, where, where_doc, per_doc=collapse
            )
        )
    handles = [h for p in parts if (h := getattr(p, "_joie_persisted", None)) is not None]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.orderBy(
        "query_id", F.desc("score"), F.asc("doc_id"), F.asc("turn_idx")
    )  # collapsed rows are unique per (query, doc); the turn key is inert
    if handles:
        # stats_out diagnostics persisted an intermediate (survivor-block
        # set); hand the release handle to the caller — unpersist after
        # materializing the result (same contract as pipeline/dedup.py)
        out._joie_persisted = handles[0]
    return out
