"""Dictionary delta vs full-snapshot write — delete-cost A/B at scale.

Round-5 change (VERDICT r4 "what's wrong #4"): a delete generation used
to rewrite the COMPLETE dictionary snapshot (term ids stable, df/cf
decremented); it now writes a DELTA holding only the deleted turns'
terms, resolved last-writer-wins at read time and collapsed by compact.
This script measures the two write shapes head-to-head on a cached
scale corpus:

  * copy a cached pruning-study index (the cache is read-only for this
    script — deletes mutate the index);
  * delete ~1% of its conversations; report the delete wall time, the
    delete_term_dict stage seconds from the manifest, and the delta's
    row count vs the vocabulary size;
  * counterfactual: time writing the FULL resolved dictionary to a
    scratch table — exactly the write the pre-round-5 code did per
    delete generation.

Usage:
    python scripts/bench_dict_delta.py [--index pruning_ix_40000_dpb8]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", 32))


def _wide_vocab_index(spark) -> str:
    """Build (once, cached) an index whose VOCABULARY dominates: 104k
    turns × (2 Zipf-head + 6 globally-unique tokens) → ~629k distinct
    terms.  The pruning-study corpora have ~3k-term vocabularies (Zipf
    over a small lemma set), so on them the dictionary write was never
    the delete's cost; this corpus models the 100 TB regime the delta
    write targets (vocabulary ≫ terms touched per delete).  Fully
    deterministic (hash-mixed ids, no RNG)."""
    from pyspark.sql import functions as F

    from joie_spark.operators.build import build_index

    d = os.path.join(REPO, ".cache", "dict_ab_widevocab_ix")
    if os.path.isdir(os.path.join(d, "stats.json")) or os.path.isfile(
        os.path.join(d, "stats.json")
    ):
        return d
    tpc = 13
    rows = spark.range(8000 * tpc).select(
        F.concat(
            F.lit("wv-"),
            F.lpad((F.col("id") / tpc).cast("long").cast("string"), 6, "0"),
        ).alias("conv_id"),
        (F.col("id") % tpc).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("").alias("tool"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
        F.concat_ws(
            " ",
            F.concat(F.lit("h"), ((F.col("id") * 2654435761) % 5000).cast("string")),
            F.concat(F.lit("h"), ((F.col("id") * 40503 + 7) % 5000).cast("string")),
            *[
                F.concat(F.lit("u"), (F.col("id") * 6 + j).cast("string"))
                for j in range(6)
            ],
        ).alias("text"),
    )
    t0 = time.time()
    build_index(spark, rows, d, n_buckets=32, docs_per_block=64)
    print(f"built wide-vocab index in {time.time() - t0:.0f}s", file=sys.stderr)
    return d


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", default="pruning_ix_40000_dpb8")
    ap.add_argument("--wide", action="store_true", help="wide-vocab corpus A/B")
    ap.add_argument("--pct", type=float, default=0.01)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from joie_spark.engine import Engine
    from joie_spark.session import get_spark
    from joie_spark.sources.tables import Manifest, read_stats

    if args.wide:
        spark_pre = get_spark(
            "dict-delta-ab", master=f"local[{CPUS}]", shuffle_partitions=CPUS
        )
        src = _wide_vocab_index(spark_pre)
        args.index = os.path.basename(src)
    else:
        src = os.path.join(REPO, ".cache", args.index)
    if not os.path.isdir(src):
        sys.exit(f"no cached index at {src}")
    work = tempfile.mkdtemp(prefix="dict_delta_ab_")
    dst = os.path.join(work, "ix")
    t0 = time.time()
    shutil.copytree(src, dst)
    print(f"copied {args.index} in {time.time() - t0:.1f}s", file=sys.stderr)

    spark = get_spark(
        "dict-delta-ab", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    eng = Engine(spark, dst)
    ix = eng.index
    vocab = ix.term_dict.count()
    n_turns = int(ix.stats["N"])

    convs = [
        r["conv_id"]
        for r in ix.doc_meta.select("conv_id").distinct().limit(
            max(1, int(ix.stats["n_docs"] * args.pct))
        ).collect()
    ]
    t0 = time.time()
    eng.delete(convs)
    delete_wall = time.time() - t0
    man = Manifest.load(dst)
    stage_sec = next(
        e["seconds"]
        for e in reversed(man.entries)
        if e["stage"] == "delete_term_dict"
    )
    st = read_stats(dst)
    gen = st["dict_gens"][-1]
    delta_rows = (
        spark.read.parquet(dst + "/term_dict").where(f"gen={gen}").count()
    )

    # counterfactual: the pre-round-5 full-snapshot write on the SAME
    # (post-delete) dictionary state
    from joie_spark.operators.append import _live_dict
    from joie_spark.sources.tables import format_by_name

    fmt = format_by_name(st.get("table_format", "parquet"))
    scratch = os.path.join(work, "snapshot_counterfactual")
    t0 = time.time()
    (
        _live_dict(spark, fmt, dst, st)
        .select("term", "term_id", "df", "cf")
        .repartitionByRange(F.col("term_id"))
        .sortWithinPartitions("term_id")
        .write.mode("overwrite")
        .parquet(scratch)
    )
    snapshot_sec = time.time() - t0

    out = {
        "index": args.index,
        "n_turns": n_turns,
        "vocab": vocab,
        "deleted_convs": len(convs),
        "delta_rows": delta_rows,
        "delete_wall_sec": round(delete_wall, 2),
        "delta_dict_stage_sec": round(stage_sec, 2),
        "full_snapshot_write_sec": round(snapshot_sec, 2),
    }
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
