"""The one match-and-score core: every search — single, variant or batch
— is answered from the candidate frame built here.

Why a batch API at all: the reference answers a single query in
microseconds from mmap (engine/src/searcher.rs:33-52); a shuffle engine
pays ~seconds of job latency per query, so throughput parity comes from
amortizing that latency over a batch (north rule / VERDICT r1).

The candidate frame (`scored_frame`): ONE partition/row-group-pruned
scan of the positional postings table + one groupBy → per-turn
candidate rows (doc_id, turn_idx, dl, tfmap, posmap, presence bitmask
m0..mW) → every query's boolean predicate (query._batch_pred_sql) over
the bitmask → per-(query, matching turn) BM25 score, unranked.  The
scan stays in the JVM, carries positions only for phrase/proximity
terms and is seeded by each query's rarest required term
(_seed_term_ids).  Every unpruned read — single or batch, top-k or
variant (collapse, cursor, boosts, reweighting, doc lift, match sets,
more-like-this) — scores from this frame; the single-search tails
below scored_frame plan their one expression and cut it.

One rule picks the table a query reads (_pruned_items): a phrase-free,
non-collapsed query on an index of more than `direct_threshold`
doc-blocks takes block-max pruning over the delta+varint compressed
blocks table (_blocks_path) — for a batch, and for a single top-k as a
batch of one; every other query reads the postings frame.  The blocks
table is read only where its block-max metadata lets a query skip
blocks: decoding every candidate block lost to the postings frame on
every measured unpruned read (ROADMAP item 3).  The pruned path:

  phase 1  per-(query, block) upper bounds from block-max metadata:
           ub_q(b) = Σ_{t ∈ q} idf_t · max_part(t, b) — one scan of the
           blocks *metadata* columns, grouped per (query_id, block_id);
           a two-phase aggregation picks each query's top-P blocks (the
           probe set) plus its candidate-block count.
  phase 2  decode ONLY the probe blocks, score every query, take top-k
           → per-query threshold θ_q = its k-th best exact score.
           Queries whose entire candidate-block set fit in the probe are
           FINISHED here (their probe top-k is exact).
  phase 3  for the remaining queries, decode only NEW blocks — ub_q(b) ≥
           θ_q for some unfinished q and not already decoded by the probe
           (probe scores are exact and their non-top-k rows are totally
           ordered out) — then merge probe top-k ∪ fresh top-k per query.

Soundness (the block-max WAND invariant, Ding & Suel 2011): every
turn's score in block b is ≤ ub_q(b); θ_q is an attained k-th best score,
so a pruned block (ub < θ) cannot contribute a top-k row, and ties at θ
are kept because pruning is strict (< θ).  Results are bit-identical to
the oracle: tf/dl decode to the same ints, idf uses the same dictionary
df, and the per-turn fold adds contributions in the same ascending-
term_id order (tests/test_batch_query.py, tests/test_rank_identity.py).

Scale shape: every candidate scan is bucket-partition-pruned and
term_id-pruned at the parquet row-group level; the pruned path's decode
shuffle is keyed by block_id (a hot term's postings spread over
~n_docs/docs_per_block blocks — no hot keys); per-query top-k is a
two-phase aggregation, never a window (a stopword query at 10^12 turns would otherwise put its
whole candidate set into one window task).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.codec import TURN_BITS, delta_decode, varint_decode
from ..oracle import B, K1, bm25_idf
from ..plans.parser import Expr, parse_query
from ..tokenizer import tokenize_terms
from . import query as Q
from .query import (
    MATCH_COLS,
    RESULT_SCHEMA,
    Index,
    PKeywords,
    PNode,
    _batch_pred_sql,
    _phrase_term_ids,
    needs_postings,
    plan_exprs,
    pred_term_ids,
    required_term_ids,
)

OUT_SCHEMA = T.StructType(
    [T.StructField("query_id", T.IntegerType()), *RESULT_SCHEMA.fields]
)
OUT_SCHEMA_COLLAPSED = T.StructType(
    [*OUT_SCHEMA.fields, T.StructField("n_matched", T.LongType())]
)

NEG_INF_SQL = "CAST('-Infinity' AS DOUBLE)"

# Indexes with at most this many doc-blocks answer every query from the
# postings frame; above it phrase-free top-k queries run block-max
# pruned (search_many's `direct_threshold` default).  Measured
# (BENCH/PRUNING_CROSSOVER.md): the 3-phase chain never beat decoding
# every candidate block up to 20k blocks / 6.5M turns — even at 100%
# post-probe pair pruning — because phase 1's per-(q, b) metadata
# aggregation costs more per candidate pair than one scoring pass and
# the chain adds 2 job barriers.  Pruning is for the regime where fat
# posting blocks make decode dominate (10^12 turns ⇒ ~10^10 blocks).
# block_id ranges over DOCS, so the count compared is ix.total_blocks =
# ceil(n_docs / docs_per_block).
DIRECT_THRESHOLD = 32768


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
    ascending order — oracle.bm25_term's exact expression shape and the
    oracle's fold order, so float64 scores are bit-identical."""

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


def _idf(
    ix: Index,
    items: list[tuple[int, PNode, list[int]]],
    dfs: dict[int, int],
    boosts: dict[int, float] | None = None,
) -> dict[int, float]:
    """term_id → idf for every scoring term of `items`.  A per-term boost
    folds into the idf literal (Lucene's `term^w` scales the contribution
    linearly), so the scoring fold is unchanged and stays bit-identical
    to the oracle's boosted twin."""
    n_docs = ix.stats["N"]
    boosts = boosts or {}
    return {
        t: bm25_idf(n_docs, dfs.get(t, 0)) * boosts.get(t, 1.0)
        for t in sorted({t for _q, _n, qids in items for t in qids})
    }


def _top_k_per_query(frame: DataFrame, k: int) -> DataFrame:
    """Per-query top-k as partial-then-merge aggregation (never a window:
    a hot query's candidates would all land in one window task).  Sort key
    (-score, doc_id, turn_idx) ascending; scores > 0 so negation is an
    exact order flip.  Carries every column of `frame` (a collapsed frame
    adds n_matched; its rows are unique per (query, doc))."""
    cols = [c for c in frame.columns if c != "query_id"]
    item = "named_struct('ns', -score, {})".format(
        ", ".join(f"'{c}', {c}" for c in cols)
    )
    partial = (
        frame.select(
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
        .select("query_id", *[F.col(f"e.{c}").alias(c) for c in cols])
    )


def best_turn_per_doc(frame: DataFrame) -> DataFrame:
    """Conversation collapse: one row per (query, doc) — or per doc, for
    a frame without query_id — holding the doc's best turn and its
    matching-turn count.  max(struct(score, -turn_idx)) = highest score,
    ties → lowest turn_idx.  One partial-aggregated groupBy: the frame
    arrives grouped by (doc, turn)."""
    keys = [c for c in ("query_id", "doc_id") if c in frame.columns]
    return frame.groupBy(*keys).agg(
        F.max(F.struct(F.col("score"), (-F.col("turn_idx")).alias("nti"))).alias(
            "best"
        ),
        F.count("*").alias("n_matched"),
    ).select(
        *keys,
        (-F.col("best.nti")).cast("int").alias("turn_idx"),
        F.col("best.score").alias("score"),
        "n_matched",
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


def _score_candidates(
    cand: DataFrame,
    items,
    idf,
    avgdl: float,
    bitpos,
    n_words,
    allowed_blocks: dict[int, list[int]] | None = None,
    dpb: int | None = None,
) -> DataFrame:
    """candidates (doc_id, turn_idx, dl, tfmap, [posmap,] m0..mW) →
    (query_id, doc_id, turn_idx, score): one row per (query, matching
    turn), unranked."""
    return cand.select(
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


# ---------------------------------------------------------------------------
# the candidate frame (postings)


def _seed_term_ids(items, dfs: dict[int, int], all_ids: list[int]) -> list[int]:
    """Rarest-term-first seeding of the postings source — the
    distributed analogue of the reference seeding phrase evaluation from
    its smallest posting list (engine/src/query/phrase.rs:48).  A
    stopword phrase like `"the <rare>"` (or a conjunction `the AND
    <rare>`) would otherwise shuffle every posting of `the` into the
    per-turn groupBy only to drop ~all of it.

    Every match of an item contains each of its required terms
    (query.required_term_ids), so the turns holding SOME item's rarest
    required term are a superset of all matches: semi-joining the scan
    against them BEFORE the groupBy lets the hot terms' rows die at the
    scan side of the shuffle.  A surviving turn keeps all its rows, so
    predicates and scores are untouched.  Returns the seed term ids, or
    [] when seeding is off: some item requires no term, no item has a
    live required term, or the df test fails — hottest scanned df ≥
    seed df × PHRASE_SEED_DF_RATIO, ≥ PHRASE_SEED_MIN_HOT_DF, and seed
    df ≤ PHRASE_SEED_BROADCAST_MAX (module attributes of query.py, read
    here at call time).  For one phrase this is the rarest of its terms
    under exactly that test."""
    seeds = set()
    for _q, node, _qids in items:
        req = required_term_ids(node)
        if not req:
            return []
        live = [t for t in sorted(req) if dfs.get(t, 0) > 0]
        if live:  # else the item matches no live turn and needs no seed
            seeds.add(min(live, key=lambda t: dfs[t]))
    if not seeds:
        return []
    lo = sum(dfs[t] for t in seeds)
    hi = max(dfs.get(t, 0) for t in all_ids)
    if (
        hi >= lo * Q.PHRASE_SEED_DF_RATIO
        and hi >= Q.PHRASE_SEED_MIN_HOT_DF
        and lo <= Q.PHRASE_SEED_BROADCAST_MAX
    ):
        return sorted(seeds)
    return []


def _cand_from_postings(
    ix: Index, items, dfs: dict[int, int], bitpos, n_words
) -> DataFrame:
    """ONE partition/row-group-pruned scan of the uncompressed postings
    table → per-turn candidate rows, seeded by _seed_term_ids when it
    applies.  posmap carries the fat
    position arrays ONLY for phrase/proximity terms (masked to NULL at
    the scan so the shuffle never moves unused arrays)."""
    all_ids = sorted(bitpos)
    phrase_ids = sorted(
        {t for _q, node, _qids in items for t in _phrase_term_ids(node)}
    )
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
            f"bit_or(CASE WHEN (bp div 64) = {w} THEN shiftleft(1L, bp % 64)"
            " ELSE 0L END)"
        ).alias(f"m{w}")
        for w in range(n_words)
    ]
    post = ix.postings_for(set(all_ids))
    seed = _seed_term_ids(items, dfs, all_ids)
    if seed:
        post = post.join(
            F.broadcast(ix.postings_for(set(seed)).select(*MATCH_COLS)),
            MATCH_COLS,
            "left_semi",
        )
    return (
        post.select(
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


def scored_frame(
    ix: Index,
    items: list[tuple[int, PNode, list[int]]],
    dfs: dict[int, int],
    where: str | None = None,
    where_doc: str | None = None,
    boosts: dict[int, float] | None = None,
) -> DataFrame:
    """THE match-and-score frame: (query_id, doc_id, turn_idx, score),
    one row per (query, matching turn), unranked, for planned `items`
    (query.plan_exprs).  One postings scan covers every predicate term
    (incl. a PDiff's prohibited side — NOT(rhs) reads rhs presence bits
    although rhs never scores).  Tombstones and `where`/`where_doc`
    semi-join the candidates before scoring; `boosts` (term_id → weight)
    fold into the idf literals."""
    if not items:
        return ix.spark.createDataFrame([], OUT_SCHEMA)
    all_ids = sorted(
        {t for _q, node, _qids in items for t in pred_term_ids(node) if t > 0}
    )
    bitpos = {t: i for i, t in enumerate(all_ids)}
    n_words = (len(all_ids) + 63) // 64
    cand = _cand_from_postings(ix, items, dfs, bitpos, n_words)
    return _score_candidates(
        _apply_filters(cand, ix, where, where_doc),
        items,
        _idf(ix, items, dfs, boosts),
        ix.stats["avgdl"],
        bitpos,
        n_words,
    )


def _pruned_items(ix: Index, items, direct_threshold: int, collapse: bool) -> list:
    """THE source rule: the items that take block-max pruning over the
    compressed blocks — phrase-free (query.needs_postings: positions and
    a prohibited side's presence bits live only in the postings table),
    not collapsed (turn-level θ pruning is unsound for a doc-level
    top-k: a doc's best turn below turn-rank k can still make it), on an
    index of more than `direct_threshold` doc-blocks.  Every other item
    scores from the postings frame."""
    if collapse or ix.total_blocks <= direct_threshold:
        return []
    return [it for it in items if not needs_postings(it[1])]


# ---------------------------------------------------------------------------
# blocks path (block-max pruned)


def _blocks_meta_for(ix: Index, term_ids: list[int]) -> DataFrame:
    nb = ix.stats["n_buckets"]
    ids = [int(t) for t in term_ids]
    buckets = sorted({t % nb for t in ids})
    return ix.blocks.where(
        F.col("bucket").isin(buckets) & F.col("term_id").isin(ids)
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
    dfs: dict[int, int],
    k: int,
    where: str | None,
    where_doc: str | None,
    probe_blocks: int,
    stats_out: dict | None = None,
) -> DataFrame:
    """Block-max pruned batch top-k for phrase-free queries (unordered).

    `stats_out`, when passed, is filled with pruning diagnostics
    (candidate (query, block) pairs, probed block ids, surviving decode
    set) — costs extra count jobs, so it is opt-in (bench/debug)."""
    spark = ix.spark
    avgdl = ix.stats["avgdl"]
    idf = _idf(ix, items, dfs)
    all_ids = sorted({t for _q, _n, qids in items for t in qids})
    bitpos = {t: i for i, t in enumerate(all_ids)}
    n_words = (len(all_ids) + 63) // 64
    blocks_meta = _blocks_meta_for(ix, all_ids)

    ub = _ub_per_query(blocks_meta, items, idf, avgdl)
    top = _top_blocks_per_query(ub, probe_blocks)
    if stats_out is not None:
        stats_out.update(
            {
                "path": "pruned",
                "total_blocks": ix.total_blocks,
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
        _top_k_per_query(
            _score_candidates(
                probe_cand, items, idf, avgdl, bitpos, n_words,
                allowed_blocks=probe_of, dpb=dpb,
            ),
            k,
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
    fresh_df = _top_k_per_query(
        _score_candidates(final_cand, unfinished, idf, avgdl, bitpos, n_words), k
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
# single searches: one expression's frame, each variant's own tail


def _single(
    ix: Index,
    expr: Expr,
    where: str | None,
    where_doc: str | None,
    boosts: dict[int, float] | None = None,
) -> DataFrame:
    """(doc_id, turn_idx, score) of ONE expression, one row per matching
    turn, unranked: the candidate frame of a batch of one, read by the
    variant tails below."""
    items, dfs = plan_exprs(ix, [expr])
    return scored_frame(ix, items, dfs, where, where_doc, boosts).drop("query_id")


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The engine's total result order (score DESC, doc_id ASC, turn_idx
    ASC) cut at k — the sort+limit lowers to TakeOrderedAndProject (no
    full sort)."""
    return scored.orderBy(
        F.desc("score"), F.asc("doc_id"), F.asc("turn_idx")
    ).limit(k)


def search_expr(
    ix: Index,
    expr: Expr,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
) -> DataFrame:
    """BM25 top-k (doc_id, turn_idx, score) for one AST — Engine.search
    and QueryBuilder.top_k.

    `where` is a SQL predicate over turn columns (role, tool, ts,
    conv_id, turn_idx) — joie's (dead) SentenceFilter surface
    (engine/src/query/filter.rs:36-44) made real.  `where_doc` is a SQL
    predicate over doc_meta columns (conv_id, n_turns, total_dl,
    first_ts, last_ts, roles) — the analogue of joie's DocumentFilter
    (engine/src/query/filter.rs:7-34).  Both semi-join the candidate
    frame before scoring, so Catalyst pushes them into the scans.

    Route (_pruned_items): a phrase-free plan on an index above
    DIRECT_THRESHOLD blocks runs block-max pruned as a batch of one;
    every other plan cuts the postings frame with _topk, which lowers to
    TakeOrderedAndProject."""
    items, dfs = plan_exprs(ix, [expr])
    if _pruned_items(ix, items, DIRECT_THRESHOLD, collapse=False):
        out = _blocks_path(ix, items, dfs, k, where, where_doc, probe_blocks=8)
        return out.drop("query_id")
    frame = scored_frame(ix, items, dfs, where, where_doc)
    return _topk(frame.drop("query_id"), k)


def search_expr_decayed(
    ix: Index,
    expr: Expr,
    ref_ts: str,
    half_life_s: float,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
) -> DataFrame:
    """BM25 top-k with exponential recency decay (the Elasticsearch
    function_score exp-decay shape): each turn's score multiplies by
    ``2^(-(ref_ts − ts)/half_life_s)`` — a turn `half_life_s` seconds
    older than `ref_ts` scores half as much; turns newer than `ref_ts`
    boost above 1 (no clamp — pass the corpus max ts as ref for pure
    decay).  `ref_ts` is an explicit SQL timestamp literal ('2024-01-01
    00:00:00'): recency must be deterministic, never wall-clock.

    Matching is unchanged (decay reweights, never filters).  Scale
    shape: one extra (doc_id, turn_idx) semi-join-shaped inner join of
    the scored frame against the turns row store to fetch ts (the same
    pushdown shape the `where` filter uses), one scalar multiply in the
    projection; top-k still lowers to TakeOrderedAndProject."""
    if not ref_ts:
        raise ValueError("ref_ts must be an explicit timestamp literal")
    if half_life_s <= 0:
        raise ValueError("half_life_s must be > 0")
    age_s = F.unix_timestamp(F.lit(ref_ts).cast("timestamp")) - F.unix_timestamp(
        F.col("ts")
    )
    decay = F.pow(F.lit(0.5), age_s.cast("double") / F.lit(float(half_life_s)))
    return _reweighted(ix, expr, decay, k, where, where_doc)


def search_expr_function_score(
    ix: Index,
    expr: Expr,
    weight_expr: str,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
) -> DataFrame:
    """BM25 top-k reweighted by an arbitrary SQL expression over the
    turn's row-store metadata (the Elasticsearch function_score
    filter/weight shape — e.g. ``CASE WHEN role = 'assistant' THEN 2.0
    ELSE 1.0 END``, or any expression over conv_id/role/tool/ts/dl).
    The recency decay path (search_expr_decayed) is the ts special case
    of this; boosts (search_expr_boosted) are the query-term special
    case.  `weight_expr` must be deterministic (no rand()/now()) — the
    caller's contract, same as `where`.  Numeric-literal gotcha: Spark
    SQL parses ``1.0`` as DECIMAL, so ``1.0/(1.0+dl)`` divides in
    decimal before the double cast (ULP drift vs float64); write double
    literals as ``1e0`` (or CAST) when bit-exact scores matter.

    Matching is unchanged (weights reweight, never filter; a weight of
    0 can sink a row below top-k but it still matched).  Scale shape:
    identical to decay — one (doc_id, turn_idx) inner join of the
    scored frame against the turns row store for metadata (Catalyst
    prunes the fetch to the columns `weight_expr` actually references),
    one scalar multiply, TakeOrderedAndProject top-k."""
    if not weight_expr or not weight_expr.strip():
        raise ValueError("weight_expr must be a non-empty SQL expression")
    weight = F.expr(weight_expr).cast("double")
    return _reweighted(ix, expr, weight, k, where, where_doc)


def _reweighted(
    ix: Index,
    expr: Expr,
    weight: Column,
    k: int,
    where: str | None,
    where_doc: str | None,
) -> DataFrame:
    """Shared tail of the post-score reweighting variants (decay,
    function_score): the candidate frame → (doc_id, turn_idx) inner join
    against the turns row store for the metadata `weight` reads (Catalyst
    prunes the fetch to the columns it references) → score × weight →
    top-k."""
    with_meta = _single(ix, expr, where, where_doc).join(
        ix.turns.select(*MATCH_COLS, "conv_id", "role", "tool", "ts", "dl"),
        MATCH_COLS,
        "inner",
    )
    return _topk(
        with_meta.select(
            "doc_id", "turn_idx", (F.col("score") * weight).alias("score")
        ),
        k,
    )


def search_docs_expr(
    ix: Index,
    expr: Expr,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
) -> DataFrame:
    """Conversation-level BM25 top-k — rank whole documents, not turns.

    A conversation matches when ANY of its turns matches the boolean
    query (the existential lift; `where`/`where_doc` filter the turn
    match set before lifting, so "docs with a matching USER turn" works).
    It scores with TRUE document-level BM25: tf summed over all the
    conversation's turns, dl = the conversation's total_dl, df =
    distinct conversations containing the term, N/avgdl over
    conversations.  This is the ES/Lucene document-ranking shape;
    search_expr_collapsed is the other lift (rank docs by their single
    best turn) — collapse favors one strong turn, search_docs favors
    sustained relevance across the conversation.

    → (doc_id, score) top-k, score DESC then doc_id ASC.

    Scale shape: the match set lifts to docs with one distinct; doc
    tf is the term_id-pruned postings scan semi-joined to matching docs
    and aggregated on (term_id, doc_id); per-term doc-df is one partial
    agg over the same pruned scan, collected bounded (≤ |query terms|
    rows, like dfs); each doc row (query_id 0, summed tfmap, dl =
    total_dl) is scored by the turn frame's own _score_sql fold with the
    doc-level idf and avgdl, so float64 scores are bit-identical to the
    Python recompute (tests/test_rank_eval.py).  Stats drift under unpurged
    tombstones matches the turn-level path (frozen until compact)."""
    items, dfs = plan_exprs(ix, [expr])
    qset = items[0][2] if items else []
    out_schema = T.StructType([RESULT_SCHEMA[0], RESULT_SCHEMA[2]])
    if not qset:
        return ix.spark.createDataFrame([], out_schema)
    n_docs, avgdl_doc = ix.doc_stats()
    if not n_docs or not avgdl_doc:
        return ix.spark.createDataFrame([], out_schema)
    post = ix.postings_for(set(qset))
    # per-term doc-df is a corpus statistic (≤ |query terms| numbers):
    # cache it on the Index so repeated queries sharing terms skip the
    # postings re-scan (the Engine reloads the Index on append/delete/
    # compact, invalidating the cache with the rest of the handles)
    missing = [t for t in qset if t not in ix._dfd_cache]
    if missing:
        rows = (
            ix.postings_for(set(missing))
            .select("term_id", "doc_id")
            .distinct()
            .groupBy("term_id")
            .agg(F.count("*").alias("dfd"))
            .collect()
        )
        ix._dfd_cache.update({r["term_id"]: r["dfd"] for r in rows})
        for t in missing:  # terms with zero postings
            ix._dfd_cache.setdefault(t, 0)
    idf_doc = {t: bm25_idf(n_docs, ix._dfd_cache[t]) for t in qset}
    mdocs = scored_frame(ix, items, dfs, where, where_doc).select("doc_id").distinct()
    tfdoc = (
        post.join(mdocs, "doc_id", "left_semi")
        .groupBy("term_id", "doc_id")
        .agg(F.sum("tf").cast("int").alias("tf"))
    )
    docs = (
        tfdoc.groupBy("doc_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("term_id", "tf"))).alias(
                "tfmap"
            )
        )
        .join(ix.doc_meta.select("doc_id", F.col("total_dl").alias("dl")), "doc_id")
        .withColumn("query_id", F.lit(0))
    )
    return (
        docs.select(
            "doc_id", F.expr(_score_sql(items, idf_doc, avgdl_doc)).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def search_expr_boosted(
    ix: Index,
    expr: Expr,
    boosts: dict[str, float],
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
) -> DataFrame:
    """BM25 top-k with per-term query-time boosts (Lucene's ``term^w``):
    each boosted term's score contribution scales by its weight —
    matching is UNCHANGED (boosts reweight the ranking, they never add
    or remove matches).  `boosts` keys are words, tokenized/stemmed like
    any literal (so "rolling" boosts the same term "roll" does); a key
    that tokenizes to several words is refused rather than guessed.
    OOV keys are ignored (they can't contribute score anyway).

    Scale shape: identical to search_expr — the boost folds into the
    per-term idf literal on the driver, so the scoring fold, shuffles
    and top-k lowering are unchanged.  Always scores the full candidate
    frame: block-max upper bounds don't know boosts, so the pruned route
    would be unsound here."""
    words = {}
    for word, w in boosts.items():
        toks = tokenize_terms(word)
        if len(toks) != 1:
            raise ValueError(
                f"boost key must tokenize to exactly one word: "
                f"{word!r} -> {toks}"
            )
        words[toks[0]] = float(w)
    lut = ix.lookup_terms(sorted(words))
    id_boosts = {lut[t][0]: w for t, w in words.items() if t in lut}
    return _topk(_single(ix, expr, where, where_doc, id_boosts), k)


def search_expr_collapsed(
    ix: Index,
    expr: Expr,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
) -> DataFrame:
    """Conversation-collapsed top-k (Lucene/Elasticsearch field
    collapsing): ONE row per matching document, ranked by its
    best-scoring matching turn → (doc_id, turn_idx, score, n_matched)
    where turn_idx is the best turn (ties: lowest turn_idx) and
    n_matched the document's matching-turn count.  Keeps a single
    conversation from flooding the result page — the grouped-results
    contract every transcript-search UI wants.

    Scale shape: the full candidate frame must be scored (any turn
    could be its document's best — same reason ES collapse scores all
    hits), so this never takes the pruned route; the collapse itself is
    one doc_id-keyed groupBy (best_turn_per_doc, the rule
    search_many_collapsed shares) and the final top-k lowers to
    TakeOrderedAndProject.  No new shuffle shapes."""
    return _topk(best_turn_per_doc(_single(ix, expr, where, where_doc)), k)


def search_expr_after(
    ix: Index,
    expr: Expr,
    cursor: tuple[int, int, float] | None,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
) -> DataFrame:
    """Keyset pagination: the next `k` results strictly AFTER `cursor` =
    (doc_id, turn_idx, score) — the previous page's LAST RESULT ROW,
    passed back verbatim — in the engine's total result order (score
    DESC, doc_id ASC, turn_idx ASC).  `cursor=None` is page one
    (== search_expr).

    Deep pagination the scale-safe way: OFFSET re-scores and re-sorts
    every earlier page; the cursor is a plain filter on the scoring
    frame, so page N costs the same as page 1 and the sort+limit still
    lowers to TakeOrderedAndProject.  Scores are deterministic plan
    outputs, so the collected cursor value re-injected as a literal
    compares bit-identically on the next page."""
    scored = _single(ix, expr, where, where_doc)
    if cursor is not None:
        d, t, s = int(cursor[0]), int(cursor[1]), float(cursor[2])
        after_key = (
            (F.col("score") < s)
            | ((F.col("score") == s) & (F.col("doc_id") > d))
            | (
                (F.col("score") == s)
                & (F.col("doc_id") == d)
                & (F.col("turn_idx") > t)
            )
        )
        scored = scored.where(after_key)
    return _topk(scored, k)


def match_set_expr(
    ix: Index,
    expr: Expr,
    where: str | None = None,
    where_doc: str | None = None,
) -> DataFrame:
    """Unranked match set (doc_id, turn_idx) in that order: the candidate
    frame's matched rows, score pruned away (Catalyst drops the unused
    fold) — Engine.match_set/count/facets/significant_terms and
    QueryBuilder.matches."""
    return _single(ix, expr, where, where_doc).select(*MATCH_COLS).orderBy(
        *MATCH_COLS
    )


def match_set(ix: Index, query: str) -> DataFrame:
    """Unranked match set in (doc_id, turn_idx) order — the reference's
    native output order (searcher.rs:37-52)."""
    return match_set_expr(ix, parse_query(query))


def search_term_ids(
    ix: Index, dfs: dict[int, int], k: int, exclude_doc: int
) -> DataFrame:
    """Keyword-OR top-k over dictionary term ids (`dfs`: id → df),
    without one doc — Engine.more_like_this, whose terms are already
    stemmed dictionary terms, so they are planned directly instead of
    re-tokenized (re-stemming could change them)."""
    ids = sorted(dfs)
    frame = scored_frame(ix, [(0, PKeywords(tuple(ids)), ids)], dfs)
    return _topk(
        frame.drop("query_id").where(F.col("doc_id") != int(exclude_doc)), k
    )


# ---------------------------------------------------------------------------
# batches


def search_many(
    ix: Index,
    queries: list[str],
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
    probe_blocks: int = 8,
    direct_threshold: int = DIRECT_THRESHOLD,
    stats_out: dict | None = None,
) -> DataFrame:
    """Batch BM25 top-k → (query_id, doc_id, turn_idx, score), top-k rows
    per query_id in (query_id, score desc, doc_id, turn_idx) order.
    Per-query rows are bit-identical to the single-query `search` path.

    On an index of more than direct_threshold blocks the phrase-free
    queries run block-max pruned over the compressed blocks
    (_blocks_path, `probe_blocks` per query in the probe); every other
    query — and every query at or below the threshold — scores from the
    one postings frame.  Set direct_threshold=0 to force the pruning
    machinery; `stats_out` receives its diagnostics (path "pruned"), or
    path "direct" and the block count when nothing was pruned."""
    return search_many_exprs(
        ix, [parse_query(q) for q in queries], k=k, where=where,
        where_doc=where_doc, probe_blocks=probe_blocks,
        direct_threshold=direct_threshold, stats_out=stats_out,
    )


def search_many_exprs(
    ix: Index,
    exprs: list,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
    probe_blocks: int = 8,
    direct_threshold: int = DIRECT_THRESHOLD,
    stats_out: dict | None = None,
    collapse: bool = False,
) -> DataFrame:
    """search_many over pre-built ASTs, covering the full query algebra
    incl. the builder-only extensions (Near/Prefix/Fuzzy/AndNot).
    Routing (_pruned_items): prefix/fuzzy lower to plain keyword sets and
    are pruned like any phrase-free query (predicate terms == scoring
    terms); near, within and AndNot queries, collapsed batches and every
    batch on an index at or below direct_threshold share one postings
    frame."""
    items, dfs = plan_exprs(ix, exprs)
    if not items:
        return ix.spark.createDataFrame(
            [], OUT_SCHEMA_COLLAPSED if collapse else OUT_SCHEMA
        )
    pruned = _pruned_items(ix, items, direct_threshold, collapse)
    pruned_ids = {qid for qid, _n, _q in pruned}
    rest = [it for it in items if it[0] not in pruned_ids]
    parts = []
    if pruned:
        parts.append(
            _blocks_path(
                ix, pruned, dfs, k, where, where_doc, probe_blocks,
                stats_out=stats_out,
            )
        )
    elif stats_out is not None:
        stats_out.update({"path": "direct", "total_blocks": ix.total_blocks})
    if rest:
        frame = scored_frame(ix, rest, dfs, where, where_doc)
        parts.append(
            _top_k_per_query(best_turn_per_doc(frame) if collapse else frame, k)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.orderBy(
        "query_id", F.desc("score"), F.asc("doc_id"), F.asc("turn_idx")
    )  # collapsed rows are unique per (query, doc); the turn key is inert
    handle = getattr(parts[0], "_joie_persisted", None)
    if handle is not None:
        # stats_out diagnostics persisted an intermediate (survivor-block
        # set); hand the release handle to the caller — unpersist after
        # materializing the result (same contract as pipeline/dedup.py)
        out._joie_persisted = handle
    return out
