"""SemDeDup — semantic deduplication over an embedding column.

Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication" (arXiv:2303.09540): cluster the corpus
embeddings with a k-means coarse quantizer, then search for semantic
duplicates ONLY within each cluster — pairwise cost drops from O(n²) to
Σ|cell|², and the cell id is the shuffle key, so each cluster's pair
search is one co-partitioned self-join.  Within a cluster the reference
implementation sorts members by similarity-to-centroid and drops every
member that has cosine ≥ eps with ANY member earlier in that order
(kept or not) — keeping the LOW-centroid-similarity extreme of each
duplicate group, which the paper found preserves the most information.
That greedy is purely pairwise (no connected components, no iteration),
so it maps to one relational predicate:

    drop b  ⇔  ∃ a in the same cell with
               (cc(a), a) < (cc(b), b)  and  cos(a, b) ≥ eps

where cc(x) = cosine(x, centroid of x's cell), ascending, ties by
vec_id.  No window function needed — the tuple order IS the sort.

Scale shape (100 TB):
  * centroids: trained driver-side on a deterministic sample (the
    shared `_kmeans_core`, same as IVF ANN) — k grows with the corpus
    (the paper uses k ≈ 100k for 100M points) so cells stay bounded and
    the per-cell self-join never degenerates toward n².
  * assignment: one Arrow-batched pandas UDF pass (numpy matmul per
    batch), or the portable-SQL argmax twin for oracle checking.
  * pair search: equi-join on `cell` — a single shuffle keyed by cell;
    the ordering + threshold predicates evaluate scan-side after the
    hash match, inside whole-stage codegen (F.aggregate dot folds).
  * drops are a tiny distinct set → broadcast anti-join; the corpus is
    never shuffled (same contract as dedup.deduped_corpus).

Reference parity note: joie itself has no embedding ops — this is part
of the training-data-pipeline surface the task brief adds on top of the
reference's operator set.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ann import (
    dot_expr,
    make_ivf_assign_udf,
    norm_expr,
    portable_argmax_case,
    portable_dot_sql,
)

_SPARK_ELEM = "CAST(element_at({v}, {i}) AS DOUBLE)"


def with_cells_and_ccos(
    emb: DataFrame, C: np.ndarray, portable: bool = False
) -> DataFrame:
    """(vec_id, embedding, cell, ccr): k-means cell id plus the member's
    cosine to its own centroid, rounded to 4 (the order key — rounding
    makes the order reproducible across engines, same contract as every
    cosine this pipeline emits).

    Fast path: Arrow-batched argmax UDF for the cell, then one JVM-side
    fold against `element_at` into the centroid literal matrix.
    Portable path: the IVF recipe — left-assoc dot chains per centroid
    (portable_dot_sql) + first-index-wins argmax CASE — every step
    reproducible in DuckDB.  Centroids are unit-norm (kmeans_centroids
    guarantees it), so cosine(e, C[cell]) = dot / |e|."""
    n_cells = C.shape[0]
    if portable:
        d_cols = [
            F.expr(portable_dot_sql(C[c], "embedding", _SPARK_ELEM)).alias(f"_d{c}")
            for c in range(n_cells)
        ]
        m = emb.select("vec_id", "embedding", *d_cols).withColumn(
            "cell", F.expr(portable_argmax_case(n_cells, "_d{i}"))
        )
        dcell = F.expr(
            "CASE "
            + " ".join(f"WHEN cell = {c} THEN _d{c}" for c in range(n_cells))
            + " END"
        )
    else:
        m = emb.withColumn("cell", make_ivf_assign_udf(C)(F.col("embedding")))
        c_lit = F.array(
            *[F.array(*[F.lit(float(x)) for x in row]) for row in C]
        )
        dcell = dot_expr(F.col("embedding"), F.element_at(c_lit, F.col("cell") + 1))
    # the row's norm is projected ONCE here so the pair join downstream
    # can compute cosine as dot/(na*nb) — bit-identical arithmetic to
    # cosine_expr (same sqrt-of-fold, same product, same division) but
    # the two O(d) norm folds run n times instead of once per PAIR
    nrm = norm_expr(F.col("embedding"))
    ccr = F.round(dcell / nrm, 4)
    return m.select(
        "vec_id", "embedding", "cell", ccr.alias("ccr"), nrm.alias("nrm")
    )


def _seq_norms(A: np.ndarray) -> np.ndarray:
    """sqrt of the sequential sum of squares — bit-identical to
    norm_expr's fold."""
    s = np.zeros(A.shape[0], dtype=np.float64)
    for i in range(A.shape[1]):
        s += A[:, i] * A[:, i]
    return np.sqrt(s)


def _round4_half_up(x: np.ndarray) -> np.ndarray:
    """Round to 4 decimals exactly like Spark's ROUND (BigDecimal
    HALF_UP over the EXACT decimal expansion of the double).

    np.round differs from that in two ways: ties go to even, and the
    x*1e4 scaling can itself round a value across the .00005 boundary.
    True ties are impossible ((2k+1)/20000 has no exact binary
    representation), so only the scaling hazard matters: any value whose
    scaled fraction lands within 1e-6 of .5 is re-rounded exactly via
    decimal.Decimal (exact float→decimal conversion, HALF_UP = away
    from zero, matching BigDecimal)."""
    import decimal

    r = np.round(x, 4)
    frac = x * 10000.0
    sus = np.abs(frac - np.floor(frac) - 0.5) < 1e-6
    if sus.any():
        q = decimal.Decimal("0.0001")
        flat_idx = np.flatnonzero(sus.ravel())
        xr = x.ravel()
        rr = r.ravel()
        for j in flat_idx:
            rr[j] = float(
                decimal.Decimal(float(xr[j])).quantize(
                    q, rounding=decimal.ROUND_HALF_UP
                )
            )
        r = rr.reshape(r.shape) if r.ndim > 1 else rr
    return r


def _make_cell_greedy(C: np.ndarray, threshold: float, b_chunk: int = 4096):
    """Per-cell SemDeDup greedy as an applyInPandas function: sort the
    cell's members by (ccr, vec_id) ascending, drop every member with a
    rounded cosine ≥ threshold to ANY earlier member, witness = the
    smallest qualifying earlier vec_id.

    Exactness strategy (the drop set must be bit-identical to the SQL
    pair path, which computes round(fold_dot/(na·nb), 4) ≥ threshold):
    the bulk pairwise cosines come from one BLAS matmul — which may
    differ from the SQL fold in the last few ulps — but the decision
    only depends on which side of the boundary a value falls, and the
    boundary in RAW-cosine space is `cut` = (smallest 4-decimal multiple
    comparing ≥ threshold) − 0.00005.  Any pair whose BLAS cosine lands
    within BAND=1e-9 of `cut` (float-error head-room is ~1e-13) is
    re-evaluated with the exact sequential fold + exact HALF_UP rounding
    and the SQL comparison; pairs outside the band are decided by the
    raw compare, where a last-ulp difference cannot flip the side.
    Pinned at sf1.0 scale by the fast-vs-portable equality check
    (17,602 drop rows, tests + round-6 parity run).  Columns are
    processed in b_chunk slices to bound memory at |cell|·b_chunk."""
    import decimal

    import pandas as pd

    thd = decimal.Decimal(float(threshold))
    m4 = thd.quantize(decimal.Decimal("0.0001"), rounding=decimal.ROUND_CEILING)
    if float(m4) < float(threshold):
        m4 += decimal.Decimal("0.0001")
    cut = float(m4 - decimal.Decimal("0.00005"))
    BAND = 1e-9

    def fold_cos(xa, xb, na, nb) -> float:
        acc = 0.0
        for i in range(len(xa)):
            acc = acc + xa[i] * xb[i]
        return acc / (na * nb)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m <= 1:
            return pd.DataFrame(
                {"vec_id": [], "cell": [], "witness": []}
            ).astype({"vec_id": "int64", "cell": "int32", "witness": "int64"})
        cell = int(pdf["cell"].iloc[0])
        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )
        vid = pdf["vec_id"].to_numpy(dtype=np.int64)
        nrm = _seq_norms(X)
        # ccr (the ORDER key) stays exact-fold: dot against the own
        # centroid with sequential accumulation, exact HALF_UP round
        cvec = C[cell]
        dc = np.zeros(m, dtype=np.float64)
        for i in range(X.shape[1]):
            dc += X[:, i] * cvec[i]
        ccr = _round4_half_up(dc / nrm)
        order = np.lexsort((vid, ccr))  # (ccr, vec_id) ascending
        Xs, vs, ns = X[order], vid[order], nrm[order]
        drops: list[tuple[int, int, int]] = []
        rowidx = np.arange(m)[:, None]
        for lo in range(1, m, b_chunk):
            hi = min(lo + b_chunk, m)
            Cb = (Xs @ Xs[lo:hi].T) / np.multiply.outer(ns, ns[lo:hi])
            qual = Cb >= cut
            band = np.abs(Cb - cut) <= BAND
            if band.any():
                for i, jc in zip(*np.nonzero(band)):
                    c = fold_cos(Xs[i], Xs[lo + jc], ns[i], ns[lo + jc])
                    r = float(_round4_half_up(np.asarray([c]))[0])
                    qual[i, jc] = r >= float(threshold)
            M = qual & (rowidx < np.arange(lo, hi)[None, :])
            any_q = M.any(axis=0)
            wit = np.where(M, vs[:, None], np.iinfo(np.int64).max).min(axis=0)
            for jc in np.flatnonzero(any_q):
                drops.append((int(vs[lo + jc]), cell, int(wit[jc])))
        return pd.DataFrame(
            drops, columns=["vec_id", "cell", "witness"]
        ).astype({"vec_id": "int64", "cell": "int32", "witness": "int64"})

    return run


def semdedup_drops(
    emb: DataFrame,
    C: np.ndarray,
    threshold: float = 0.95,
    portable: bool = False,
) -> DataFrame:
    """The dropped members: (vec_id, cell, witness) — `witness` is the
    smallest earlier-ordered vec_id whose cosine with this member is
    ≥ threshold (the explainability trail: WHY was this row dropped).
    Deterministic across runs, cluster sizes, and engines (both the
    order key and the cosine compare at 4 decimals).

    Fast path (portable=False): one Arrow-batched cell assignment, one
    shuffle of the members keyed by cell, then the within-cell greedy in
    numpy via applyInPandas — the Σ|cell|²·d pair cosines come from a
    BLAS matmul, and any within 1e-9 of the threshold is recomputed with
    the SQL fold's exact sequential order (fold_cos/_round4_half_up;
    pinned to the portable twin by
    test_semdedup_portable_matches_fast_on_gaussian).  This is guide
    §4.2's move: Spark does the distribution, numpy does the bulk math —
    the previous per-pair fold expression paid ~1 µs/pair in the JVM.
    Memory is bounded by |cell|·b_chunk; at the paper's k≈100k cells the
    per-task group stays small by construction.

    Portable path (the DuckDB-oracled twin): the original pair-join SQL
    — one equi-join on (cell, salt); the b side is salted with
    pmod(vec_id, S) and the a side replicated across all S salts (guide
    §2.5: `cell` alone has only k distinct values, so the join would
    otherwise cap at k tasks), and per-pair cosine reuses the per-row
    norms projected by with_cells_and_ccos (dot/(na·nb) — bit-identical
    to cosine_expr)."""
    if not portable:
        out_schema = "vec_id long, cell int, witness long"
        m = emb.withColumn(
            "cell", make_ivf_assign_udf(C)(F.col("embedding"))
        ).select("vec_id", "embedding", "cell")
        return m.groupBy("cell").applyInPandas(
            _make_cell_greedy(C, float(threshold)), out_schema
        )
    n_salts = 16
    m = with_cells_and_ccos(emb, C, portable=portable)
    a = m.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("ea"),
        "cell",
        F.col("ccr").alias("cca"),
        F.col("nrm").alias("na"),
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("salt"),
    )
    b = m.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("eb"),
        "cell",
        F.col("ccr").alias("ccb"),
        F.col("nrm").alias("nb"),
        F.pmod(F.col("vec_id"), F.lit(n_salts)).cast("int").alias("salt"),
    )
    cos = F.round(dot_expr(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4)
    pairs = a.join(b, ["cell", "salt"]).where(
        (F.struct(F.col("cca"), F.col("a")) < F.struct(F.col("ccb"), F.col("b")))
        & (cos >= F.lit(float(threshold)))
    )
    return pairs.groupBy("b").agg(
        F.max("cell").alias("cell"), F.min("a").alias("witness")
    ).select(F.col("b").alias("vec_id"), "cell", "witness")


def semdedup_corpus(
    emb: DataFrame,
    C: np.ndarray,
    threshold: float = 0.95,
    portable: bool = False,
) -> DataFrame:
    """The semantically deduplicated corpus: input rows minus the
    dropped members — drops are duplicate-group-sized (tiny relative to
    the corpus), so this is a broadcast anti-join; the corpus itself is
    never shuffled."""
    drops = semdedup_drops(emb, C, threshold, portable=portable).select("vec_id")
    return emb.join(F.broadcast(drops), "vec_id", "left_anti")
