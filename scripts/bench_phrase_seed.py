"""Phrase rarest-term seeding A/B at scale (round 5 follow-up).

bench.py's `engine_phrase_stopword` pair measured the broadcast
semi-join seed LOSING ~80 ms at sf0.1 (hot term df ≈ 3.9k postings):
the extra seed-scan + broadcast build is not repaid when the hot term's
positional postings are already tiny.  The seed exists for the regime
the reference built smallest-first evaluation for
(engine/src/query/phrase.rs:48): a stopword phrase over a corpus where
the hot term's postings dominate the shuffle.

This script times `"<hot> <rare>"` with the seed on (default ratio) vs
off (ratio=inf) on progressively larger cached corpora, interleaved
reps, min estimator, rank-identity asserted.  Output feeds the
PHRASE_SEED_MIN_HOT_DF default (operators/query.py): seed only when the
hot term's df crosses the measured crossover.

Usage:
    python scripts/bench_phrase_seed.py            # all cached indexes
    python scripts/bench_phrase_seed.py --reps 5
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", 32))


def pick_terms(spark, eng) -> tuple[str, int, str, int]:
    """(hot_term, hot_df, rare_term, rare_df) from the live dictionary:
    the highest-df term and a mid-tail term (df in [50, 2000], closest
    to 300) — the `"the <rare>"` shape the seed targets."""
    from pyspark.sql import functions as F

    d = eng.index.term_dict.select("term", "df")
    hot = d.orderBy(F.desc("df")).first()
    rare = (
        d.where((F.col("df") >= 50) & (F.col("df") <= 2000))
        .withColumn("dist", F.abs(F.col("df") - 300))
        .orderBy("dist")
        .first()
    )
    if rare is None:  # tiny dictionary: take the rarest non-hapax term
        rare = d.where(F.col("df") >= 2).orderBy("df").first()
    return hot["term"], int(hot["df"]), rare["term"], int(rare["df"])


def ab(eng, q: str, reps: int) -> tuple[float, float]:
    import joie_spark.operators.query as qmod

    # force the seed decision both ways regardless of the ratio/floor
    # defaults under test — this measures the MECHANISM, the defaults are
    # then set from the measurement
    base = eng.search(q, k=10).collect()  # warm (either path)
    on, off = [], []
    for _ in range(reps):
        sav = (qmod.PHRASE_SEED_DF_RATIO, qmod.PHRASE_SEED_MIN_HOT_DF)
        qmod.PHRASE_SEED_DF_RATIO, qmod.PHRASE_SEED_MIN_HOT_DF = 1.0, 0
        t0 = time.time()
        got_on = eng.search(q, k=10).collect()
        on.append(time.time() - t0)
        qmod.PHRASE_SEED_DF_RATIO = float("inf")
        t0 = time.time()
        got_off = eng.search(q, k=10).collect()
        off.append(time.time() - t0)
        qmod.PHRASE_SEED_DF_RATIO, qmod.PHRASE_SEED_MIN_HOT_DF = sav
        assert sorted(map(tuple, got_on)) == sorted(map(tuple, got_off)) == sorted(
            map(tuple, base)
        ), "seed changed results"
    return min(on), min(off)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    from joie_spark.engine import Engine
    from joie_spark.session import get_spark

    spark = get_spark(
        "bench-phrase-seed", master=f"local[{CPUS}]", shuffle_partitions=32
    )

    out = []

    # sf bench index (built fresh, same corpus adapter as bench.py's
    # engine cycle, so the small point matches engine_phrase_stopword)
    import tempfile

    from pyspark.sql import functions as F

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    transcripts = docs.select(
        F.format_string("doc-%06d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("doc").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    small = tempfile.mkdtemp(prefix="joie_seed_small_")
    eng_small = Engine.build(
        spark, transcripts, small, n_buckets=max(CPUS, 8),
        docs_per_block=64, block_chunks=1,
    )
    for label, eng in [(f"bench {sf_dir}", eng_small)]:
        hot, hdf, rare, rdf = pick_terms(spark, eng)
        q = f'"{hot} {rare}"'
        s_on, s_off = ab(eng, q, args.reps)
        row = dict(
            corpus=label, n_turns=int(eng.index.stats["N"]), hot=hot,
            hot_df=hdf, rare=rare, rare_df=rdf, seed_sec=round(s_on, 3),
            noseed_sec=round(s_off, 3),
        )
        print(json.dumps(row), flush=True)
        out.append(row)

    # every cached pruning-study index, ascending size
    cache = os.path.join(REPO, ".cache")
    for name in sorted(os.listdir(cache)):
        if not name.startswith("pruning_ix_"):
            continue
        ix = os.path.join(cache, name)
        try:
            eng = Engine(spark, ix)
        except (FileNotFoundError, ValueError):
            continue  # unbuilt, or cached by an older index format
        hot, hdf, rare, rdf = pick_terms(spark, eng)
        q = f'"{hot} {rare}"'
        s_on, s_off = ab(eng, q, args.reps)
        row = dict(
            corpus=name, n_turns=int(eng.index.stats["N"]), hot=hot,
            hot_df=hdf, rare=rare, rare_df=rdf, seed_sec=round(s_on, 3),
            noseed_sec=round(s_off, 3),
        )
        print(json.dumps(row), flush=True)
        out.append(row)

    print(json.dumps({"results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
