"""Block-max pruning crossover experiment (VERDICT r4 item 1).

The batch WAND machinery (operators/batch.py phases 1-3) was measured
LOSING at bench scale (79 doc-blocks: 4.3s forced-pruned vs 0.9s
decode-all, survivors = candidates) and no measurement ever showed it
winning.  The first run of this script found out why, twice over:

  1. ROUTING BUG (fixed this round): total_blocks was derived from
     stats["N"] (turns) instead of n_docs (conversations) — block_id =
     doc_id // docs_per_block ranges over DOCS.  The "4,050-block"
     259k-turn corpus is really a 313-block index (20,000 convs / 64),
     which the then-default direct_threshold=4096 correctly routed to
     decode-all.  Every query's candidate set was all 313 blocks
     (137 x 313 = 42,881 pairs exactly).
  2. BLOCK GRANULARITY: at docs_per_block=64 a block holds ~830 TURNS
     (the BM25 scoring unit, ~13 turns/conv) — an order of magnitude
     coarser than the 64-128 postings/block of the block-max WAND
     literature (Ding & Suel 2011), so per-block maxima are near the
     global max and theta excludes nothing.  dpb=8 convs ~= 100 turns
     per block is the canonical granularity.
  3. QUERY MIX: the scaling batch's queries all contain a hot term
     (present in >10% of turns), for which every block is a candidate
     and pruning is impossible BY DESIGN (WAND degenerates on stopword
     ORs).  A selective batch (mid-tail Zipf lemmas) is the workload
     pruning exists for.

This script sweeps all three: corpus size (20k / 40k convs), block
granularity (dpb 64 / 8), and batch (hot-laden "flat" vs "selective"),
timing the unpruned route vs forced-pruning on identical inputs with
interleaved reps, and checks rank-identity between the paths.  Results
land in BENCH/PRUNING_CROSSOVER.md; its tables were recorded when the
unpruned route decoded every candidate block, which it no longer does —
it now scores from the postings frame (operators/batch.py).

Usage:
    python scripts/bench_pruning.py                        # full sweep
    python scripts/bench_pruning.py --convs 20000 --dpb 8  # one config
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
REPS = int(os.environ.get("JOIE_PRUNE_REPS", 3))
N_BUCKETS = 64


def flat_batch() -> list[str]:
    """The scaling experiment's 180-query batch minus phrase queries —
    phrases route to the positional postings path and would contaminate
    a blocks-path A/B.  Every query contains a hot term."""
    from scripts.bench_scaling import query_batch

    return [q for q in query_batch() if '"' not in q]


def selective_batch() -> list[str]:
    """~120 stopword-free queries over mid-tail Zipf lemmas (ranks
    ~200-2000 of the 4,480-lemma body vocabulary): the candidate block
    set differs per query and theta has headroom to exclude blocks —
    the workload block-max pruning exists for."""
    from joie_spark.corpus import _lemmas

    body, _rare = _lemmas()
    mid = body[200:2000]
    qs: list[str] = []
    for i in range(60):
        a, b = mid[(37 * i) % len(mid)], mid[(53 * i + 11) % len(mid)]
        qs.append(f"{a} OR {b}")
    for i in range(30):
        a, b = mid[(41 * i + 3) % len(mid)], mid[(59 * i + 7) % len(mid)]
        qs.append(f"{a} AND {b}")
    for i in range(30):
        qs.append(mid[(43 * i + 5) % len(mid)])
    return qs


def single_batch() -> list[str]:
    """120 single-term mid-Zipf queries: the tight-upper-bound case.
    For one term, ub(b) = idf·max_part(b) is EXACTLY attainable (no
    OR-sum looseness across terms that never co-occur in a turn), so θ
    pruning gets its best shot — the WAND-literature contrast to
    disjunctions of stopwords."""
    from joie_spark.corpus import _lemmas

    body, _rare = _lemmas()
    mid = body[200:2000]
    return [mid[(29 * i + 13) % len(mid)] for i in range(120)]


def corpus_for(convs: int, burst: float, spark) -> str:
    """Bursty corpora (burst > 0) cache separately; burst = 0 reuses the
    scaling corpus."""
    from scripts import bench_scaling

    if burst == 0.0:
        bench_scaling.N_CONVS = convs
        return bench_scaling.corpus_path()
    path = os.path.join(
        REPO, ".cache", f"corpus_bench_{convs}_b{int(burst * 100)}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from joie_spark.corpus import spark_write_corpus

        n = spark_write_corpus(spark, path, convs, burstiness=burst)
        print(f"generated bursty corpus ({burst}): {n} turns", file=sys.stderr)
    return path


def index_for(convs: int, dpb: int, burst: float, spark) -> "object":
    from joie_spark.engine import Engine
    from joie_spark.sources.tables import read_stats

    src = corpus_for(convs, burst, spark)
    suffix = f"_b{int(burst * 100)}" if burst else ""
    ix_dir = os.path.join(
        REPO, ".cache", f"pruning_ix_{convs}_dpb{dpb}{suffix}"
    )
    try:
        read_stats(ix_dir)
    except (FileNotFoundError, ValueError):
        # absent, or cached by an older index format: build it afresh
        shutil.rmtree(ix_dir, ignore_errors=True)
        t0 = time.time()
        Engine.build(
            spark, src, ix_dir, n_buckets=N_BUCKETS, docs_per_block=dpb,
            block_chunks=1,
        )
        print(f"built {ix_dir} in {time.time() - t0:.1f}s", file=sys.stderr)
    return Engine(spark, ix_dir)


def run_once(eng, batch, k, probe, direct_threshold, want_stats=False):
    t0 = time.time()
    got = eng.search_many(
        batch, k=k, probe_blocks=probe, direct_threshold=direct_threshold,
    ).collect()
    dt = round(time.time() - t0, 2)
    stats: dict = {}
    if want_stats:  # untimed diagnostics pass (stats adds a count job)
        diag = eng.search_many(
            batch, k=k, probe_blocks=probe,
            direct_threshold=direct_threshold, stats_out=stats,
        )
        diag.collect()
        if getattr(diag, "_joie_persisted", None) is not None:
            diag._joie_persisted.unpersist()
    return dt, len(got), stats


def run_corpus(
    convs: int, dpb: int, batch_name: str, spark, burst: float = 0.0
) -> dict:
    eng = index_for(convs, dpb, burst, spark)
    batch = {
        "flat": flat_batch, "selective": selective_batch,
        "single": single_batch,
    }[batch_name]()
    total_blocks = eng.index.total_blocks
    print(f"corpus {convs} dpb{dpb} b{burst} {batch_name}: "
          f"{eng.index.stats['N']} turns, {total_blocks} blocks, "
          f"batch {len(batch)}", file=sys.stderr)

    # warm (parquet footers, codegen, python workers)
    eng.search_many(batch[:10], k=10, direct_threshold=10**9).collect()

    configs = [("unpruned", 10, 8, 10**9)]
    for probe in (8, 32):
        configs.append((f"pruned_p{probe}", 10, probe, 0))
    if batch_name == "single":  # tight-ub case: also the k=1 extreme
        configs += [("unpruned_k1", 1, 8, 10**9), ("pruned_p8_k1", 1, 8, 0)]
    results: dict[str, dict] = {
        name: {"k": k, "probe": p, "times": []} for name, k, p, _ in configs
    }
    # genuinely interleaved reps: one rep of every config, then the next
    for rep in range(REPS):
        for name, k, probe, thr in configs:
            dt, n_rows, _ = run_once(eng, batch, k, probe, thr)
            r = results[name]
            r["times"].append(dt)
            r.setdefault("rows", n_rows)
            assert r["rows"] == n_rows
    for name, k, probe, thr in configs:
        _, _, stats = run_once(eng, batch, k, probe, thr, want_stats=True)
        results[name].update(stats)
        results[name]["min"] = min(results[name]["times"])
        print(f"  {name}: {results[name]}", file=sys.stderr)
    # exactness: the pruned path must match the unpruned route
    # value-for-value
    a = eng.search_many(batch, k=10, direct_threshold=10**9)
    b = eng.search_many(batch, k=10, probe_blocks=32, direct_threshold=0)
    same = sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert same, "pruned path diverged from the unpruned route"
    return {
        "convs": convs,
        "dpb": dpb,
        "burst": burst,
        "batch": batch_name,
        "n_turns": eng.index.stats["N"],
        "total_blocks": total_blocks,
        "n_queries": len(batch),
        "results": results,
        "rank_identical_p32": same,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=None)
    ap.add_argument("--dpb", type=int, default=None)
    ap.add_argument(
        "--batch", choices=["flat", "selective", "single"], default=None
    )
    ap.add_argument("--burst", type=float, default=0.0)
    args = ap.parse_args()

    from joie_spark.session import get_spark

    spark = get_spark(
        "joie-pruning", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    sizes = [args.convs] if args.convs else [20000, 40000]
    dpbs = [args.dpb] if args.dpb else [64, 8]
    batches = [args.batch] if args.batch else ["flat", "selective", "single"]
    out = []
    for convs, dpb, bname in itertools.product(sizes, dpbs, batches):
        if convs == 40000 and dpb == 64 and not args.convs:
            continue  # granularity sweep at 20k; size sweep at dpb=8
        out.append(run_corpus(convs, dpb, bname, spark, burst=args.burst))
        print(json.dumps(out[-1]))
    print("ALL: " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
