"""Incremental index append + compaction (VERDICT r2 item 3).

The reference is write-once (engine/src/builder.rs:98-143); a production
ingest wants daily deltas without retokenizing or rewriting the corpus.
Every index table is partitioned by a `gen` (generation) column — gen=0
is the initial build; `append_index` adds gen=1.. slices:

  turns / doc_meta   append-only: the delta rows land in a new gen
                     partition, old generations are untouched (disjoint
                     conv_ids are enforced).
  term_dict          gen=0 is the build's full snapshot; every
                     append/delete gen is a DELTA holding only the terms
                     that op touched (existing terms keep their term_id —
                     postings reference them — with absorbed df/cf; new
                     terms extend the id space, dense rank from
                     n_terms+1).  stats.dict_gens lists the live
                     partitions; readers resolve last-writer-wins per
                     term (sources.tables.resolve_term_dict) and
                     compact_index collapses the deltas back into one
                     snapshot.  A full-vocabulary snapshot per
                     maintenance op would make a chatty delete/append
                     cadence vocabulary-bound at 100 TB scale (VERDICT
                     r4); the delta write is O(|touched terms|) instead.
  postings           delta postings only (explode of the delta turns ×
                     the updated dictionary), new gen partition under the
                     same bucket scheme — bucket pruning spans gens.
  blocks             delta blocks from the delta postings.  Two
                     avgdl-drift consequences, both handled: scores stay
                     EXACT because dl is stored per posting and scoring
                     always uses the live stats avgdl; block-max upper
                     bounds stay SOUND because each block records the
                     avgdl it was encoded with (enc_avgdl) and query-time
                     ubs scale by max(1, avgdl_now/enc_avgdl)
                     (operators/batch.py _ub_per_query).

A doc straddling nothing: delta doc_ids continue after the current max,
so delta block_ids can share at most the boundary block with gen0 —
duplicate (term, block_id) rows across gens are handled everywhere (ub
sums both bounds → still an upper bound; the decode concatenates rows).

Query-result equivalence: after append, tf/dl/df/N/avgdl all equal the
values a full rebuild over the union would produce, so BM25 scores are
identical; only doc_id ASSIGNMENT differs (append order vs global
conv_id rank), which is why the equality test compares on conv_id
(tests/test_append.py).

`compact_index` rewrites postings+blocks into one fresh generation
(re-encoded with the live avgdl → tight ubs again, boundary blocks
merged) and drops the old generation partitions + stale dictionary
snapshots.  Everything is manifest-logged and resumable mid-append:
every write overwrites exactly its own gen slice (a hive subdir for
parquet, overwritePartitions for Iceberg), so a re-run replaces exactly
what a crashed attempt half-wrote.  A resume reads its base stats, doc
id base and delta counts back from the stage commits; append and compact
accept only the current index format (sources.tables.read_stats rejects
an index whose stats lack a current field — rebuild it).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import (
    Manifest,
    dict_gens_of,
    format_by_name,
    live,
    read_stats,
    resolve_term_dict,
    table_path,
    write_stats,
)
from ..functions.codec import TURN_BITS
from .build import (
    assign_dense_ids,
    blocks_of,
    doc_meta_of,
    postings_of,
    release_dense_ids,
    term_stats_of,
    tokenized_turns,
)


def _live_dict(spark, fmt, index_dir: str, stats: dict) -> DataFrame:
    """The resolved live dictionary (base snapshot + delta partitions,
    last-writer-wins per term — sources.tables.resolve_term_dict)."""
    return resolve_term_dict(
        fmt.read(spark, index_dir, "term_dict"), dict_gens_of(stats)
    )


def _gen_dirs(root: str) -> dict[int, str]:
    """On-disk gen=N partition dirs of a parquet table root."""
    if not os.path.isdir(root):
        return {}
    return {
        int(d.removeprefix("gen=")): os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith("gen=")
    }


def _all_known_gens(man: Manifest, stats: dict, index_dir: str, fmt) -> set[int]:
    """Every generation number that has EVER been used — committed or not.

    A fresh append/compact must pick a strictly larger gen: reusing the
    number of a compacted (or crashed) generation would make the new
    subunit's mode('overwrite') write REPLACE that slice — silent loss of
    everything it held (ADVICE r3, high).  Sources: stats (gens,
    post_gens, compacted_gen), every gen-addressed manifest entry
    (append_begin/append/compact — covers crashed attempts), and for
    parquet the on-disk partition dirs (covers a compact that crashed
    before its manifest commit)."""
    gens: set[int] = set(stats["gens"])
    gens.update(int(g) for g in stats["post_gens"])
    gens.add(int(stats.get("compacted_gen", 0)))
    for e in man.entries:
        # any gen-addressed entry of any stage (append/delete/compact,
        # begun or done)
        if str(e.get("unit", "")).startswith("gen="):
            gens.add(int(e["unit"].removeprefix("gen=")))
    if fmt.name == "parquet":
        for table in (
            "postings", "blocks", "turns", "doc_meta", "term_dict", "tombstones",
        ):
            gens.update(_gen_dirs(table_path(index_dir, table)))
    return gens


def append_index(
    spark: SparkSession,
    new_source: DataFrame | str,
    index_dir: str,
    collect_metrics: bool = False,
    idempotency_key: str | None = None,
) -> Manifest:
    """Append new conversations to a COMPLETE index at index_dir.

    Stages (each manifest-committed; a crashed append resumes at the
    failed stage — all writes are idempotent per-gen partition
    overwrites): begin → turns → doc_meta → term_dict → postings →
    blocks → stats.

    `idempotency_key`: an at-most-once token for replay-prone callers
    (the streaming sink passes its micro-batch id).  A call whose key
    matches an already COMMITTED append with the SAME input fingerprint
    returns immediately as a no-op — a batch replayed after a crash
    between the append commit and the streaming checkpoint would
    otherwise start a new generation and trip the conv-disjointness
    check forever (ADVICE r3).  A key match with a DIFFERENT input
    raises: streaming batch ids restart at 0 when a checkpoint dir is
    recreated (or a second stream writes to the same index), and
    silently no-opping a genuinely new batch whose key collides would
    be data loss (ADVICE r4)."""
    man = Manifest.load(index_dir)
    if not (man.is_done("build") or any(
        e["stage"] == "append" and e["status"] == "done" for e in man.entries
    )):
        raise ValueError("append_index requires a completed build at index_dir")

    src = (
        spark.read.parquet(new_source) if isinstance(new_source, str) else new_source
    )
    src = src.withColumn("turn_idx", F.col("turn_idx").cast("int"))

    if idempotency_key is not None:
        for e in man.entries:
            if (
                e["stage"] == "append_begin"
                and e.get("key") == idempotency_key
                and man.is_done("append", e["unit"])
            ):
                fp = _input_fingerprint(src)
                if fp == e.get("input_fp"):
                    return man  # replay of a fully committed append
                raise ValueError(
                    "idempotency_key %r was already committed (%s) with a "
                    "DIFFERENT input (fingerprint %s != %s) — a replayed "
                    "key must carry the same batch; new data needs a new "
                    "key (recreate the stream checkpoint identity, not the "
                    "batch counter)"
                    % (idempotency_key, e["unit"], fp, e.get("input_fp"))
                )
    stats = read_stats(index_dir)
    fmt = format_by_name(stats["table_format"])
    n_buckets = stats["n_buckets"]
    docs_per_block = stats["docs_per_block"]

    # generation assignment: resume an unfinished append's gen if one is
    # pending (begin committed, append not), else strictly after EVERY gen
    # ever used (incl. compacted/crashed ones — reuse would overwrite a
    # live slice, see _all_known_gens)
    begun = [e for e in man.entries if e["stage"] == "append_begin"]
    done = {e["unit"] for e in man.entries if e["stage"] == "append"}
    pending = [e for e in begun if e["unit"] not in done]
    if pending:
        gen = int(pending[-1]["unit"].removeprefix("gen="))
        base_doc = int(pending[-1]["base_doc"])
        fp = _input_fingerprint(src)
        if fp != pending[-1].get("input_fp"):
            raise ValueError(
                "resuming append gen=%d with a DIFFERENT input (fingerprint "
                "%s != %s); finish or reset the pending append first"
                % (gen, fp, pending[-1].get("input_fp"))
            )
        # resume recomputes the final stats from the bases recorded at
        # begin-time: the on-disk stats may already include this delta (a
        # crash between write_stats and the append commit) and adding the
        # delta to them again would skew every BM25 score (ADVICE r3)
        base_n = int(pending[-1]["base_N"])
        base_total_dl = int(pending[-1]["base_total_dl"])
    else:
        from .delete import _pending as _del_pending
        from .delete import tombstone_docs

        if _del_pending(man, "delete"):
            raise ValueError(
                "append_index: a delete is pending — resume it to "
                "completion first"
            )
        gen = 1 + max(_all_known_gens(man, stats, index_dir, fmt))
        # ONE agg pass over the delta does double duty (guide §1 — these
        # were two separate fixed-latency jobs): the turn_idx packability
        # invariant (validate_turn_idx's check) and the input fingerprint
        # recorded at begin
        agg = src.agg(
            F.count("*").alias("n"),
            F.countDistinct("conv_id").alias("c"),
            F.sum(
                F.xxhash64("conv_id", "turn_idx").cast("decimal(38,0)")
            ).alias("h"),
            F.min("turn_idx").alias("lo"),
            F.max("turn_idx").alias("hi"),
        ).collect()[0]
        if agg["lo"] is not None and (
            agg["lo"] < 0 or agg["hi"] >= (1 << TURN_BITS)
        ):
            raise ValueError(
                f"turn_idx out of packable range [0, {1 << TURN_BITS}): "
                f"min={agg['lo']} max={agg['hi']}"
            )
        fp = f"{agg['n']}:{agg['c']}:{agg['h']}"
        # disjointness contract (same as the shard merge): appended
        # conv_ids must be new — or tombstoned (delete + append of the
        # same conv_id = an exact UPDATE, operators/delete.py)
        live_convs = live(
            fmt.read(spark, index_dir, "doc_meta"), stats["gens"]
        ).select("doc_id", "conv_id")
        tomb = tombstone_docs(spark, fmt, index_dir)
        if tomb is not None:
            live_convs = live_convs.join(
                tomb.select("doc_id"), "doc_id", "left_anti"
            )
        # the disjointness count and the live doc-id high-water mark (the
        # delta's id base) share one job: left-join the live convs
        # against the delta's conv set and aggregate both at once
        src_convs = (
            src.select("conv_id").distinct().withColumn("_m", F.lit(1))
        )
        lc = (
            live_convs.join(src_convs, "conv_id", "left")
            .agg(F.max("doc_id").alias("mx"), F.count("_m").alias("clash"))
            .collect()[0]
        )
        if lc["clash"]:
            raise ValueError(
                f"append input shares {int(lc['clash'])} LIVE conv_id(s) "
                "with the index; appends must be disjoint (delete the "
                "conv first to update it)"
            )
        # next free doc id = the HIGH-WATER mark, not max(doc_meta):
        # compaction physically purges tombstoned docs from doc_meta, so
        # its max can shrink below ids already retired to the tombstone
        # registry — reusing one would make the registry filter hide the
        # new live doc and a later delete of it silently skip its rows.
        # stats.n_docs never decreases (dense ids are retired, not
        # reassigned).
        base_doc = max(int(lc["mx"] or 0), int(stats["n_docs"]) - 1)
        base_n = int(stats["N"])
        base_total_dl = int(stats["total_dl"])
        man.commit(
            "append_begin", f"gen={gen}", input_fp=fp,
            base_N=base_n, base_total_dl=base_total_dl,
            base_doc=base_doc, key=idempotency_key,
        )

    unit = f"gen={gen}"

    # ---- delta turns -----------------------------------------------------
    if not man.is_done("append_turns", unit):
        from pyspark.sql import Observation

        t0 = time.time()
        doc_map = assign_dense_ids(src, "conv_id", "doc_id", start=base_doc + 1)
        turns = tokenized_turns(spark, src, doc_map).withColumn(
            "gen", F.lit(gen)
        ).sortWithinPartitions("doc_id", "turn_idx")
        # delta row count / dl sum / conv count observed inside the
        # write and recorded on the commit entry: the final stats
        # section reads them back instead of re-aggregating the delta
        # (three fewer fixed-latency jobs per append)
        obs = Observation()
        fmt.write(
            turns.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum("dl").alias("dl"),
            ),
            index_dir, "turns", partition_by=["gen"], subunit=unit,
        )
        release_dense_ids(doc_map)
        man.commit(
            "append_turns", unit, seconds=round(time.time() - t0, 3),
            n=int(obs.get["n"]), dl=int(obs.get["dl"] or 0),
            n_convs=int(doc_map._joie_total),
            base_doc=int(base_doc),
        )

    delta_turns = fmt.read(spark, index_dir, "turns").where(F.col("gen") == gen)

    # ---- delta doc_meta ----------------------------------------------------
    if not man.is_done("append_doc_meta", unit):
        t0 = time.time()
        fmt.write(
            doc_meta_of(delta_turns).withColumn("gen", F.lit(gen))
            .repartitionByRange(F.col("doc_id"))
            .sortWithinPartitions("doc_id"),
            index_dir,
            "doc_meta",
            partition_by=["gen"],
            subunit=unit,
        )
        man.commit("append_doc_meta", unit, seconds=round(time.time() - t0, 3))

    # ---- dictionary DELTA (only terms the append touches) ------------------
    # Existing terms in the delta get their absorbed df/cf re-stated (the
    # new gen's row wins at read time — resolve_term_dict); new terms
    # extend the dense id space.  Untouched vocabulary is NOT rewritten:
    # at a 100 TB vocabulary a full snapshot per generation would make
    # every maintenance op vocabulary-bound (VERDICT r4).  compact_index
    # collapses the deltas back into one snapshot.
    if not man.is_done("append_term_dict", unit):
        t0 = time.time()
        old = _live_dict(spark, fmt, index_dir, stats)
        delta = term_stats_of(delta_turns).withColumnRenamed(
            "df", "d_df"
        ).withColumnRenamed("cf", "d_cf")
        # right outer: every delta term, with its current counts (if any)
        joined = old.join(delta, "term", "right")
        touched = joined.where(F.col("term_id").isNotNull()).select(
            "term",
            "term_id",
            (F.col("df") + F.col("d_df")).alias("df"),
            (F.col("cf") + F.col("d_cf")).alias("cf"),
        )
        new_terms = joined.where(F.col("term_id").isNull()).select(
            "term", F.col("d_df").alias("df"), F.col("d_cf").alias("cf")
        )
        ids = assign_dense_ids(
            new_terms, "term", "term_id", start=int(stats["n_terms"]) + 1
        )
        fresh = new_terms.join(ids, "term").select("term", "term_id", "df", "cf")
        fmt.write(
            touched.unionByName(fresh)
            .select("term", "term_id", "df", "cf", F.lit(gen).alias("gen"))
            .repartitionByRange(F.col("term_id"))
            .sortWithinPartitions("term_id"),
            index_dir,
            "term_dict",
            partition_by=["gen"],
            subunit=unit,
        )
        release_dense_ids(ids)
        # new-term count rides the commit: the stats section derives the
        # post-append vocabulary size from it (term ids are dense, so
        # n_terms_after = n_terms + |new terms|) instead of re-scanning
        # the dictionary for max(term_id)
        man.commit(
            "append_term_dict", unit,
            seconds=round(time.time() - t0, 3),
            n_terms_after=int(stats["n_terms"]) + int(ids._joie_total),
        )

    # the delta partition alone covers every term of the delta turns (by
    # construction above), which is all postings_of needs (term→id map)
    new_dict = fmt.read(spark, index_dir, "term_dict").where(F.col("gen") == gen)

    # ---- delta postings ------------------------------------------------------
    if not man.is_done("append_postings", unit):
        t0 = time.time()
        postings = postings_of(delta_turns, new_dict, n_buckets)
        fmt.write(
            postings.withColumn("gen", F.lit(gen))
            .repartition(F.col("bucket"))
            .sortWithinPartitions("bucket", "term_id", "doc_id", "turn_idx"),
            index_dir,
            "postings",
            partition_by=["gen", "bucket"],
            subunit=unit,
        )
        man.commit("append_postings", unit, seconds=round(time.time() - t0, 3))

    # ---- new global stats (needed for the delta blocks' enc_avgdl).
    # Computed from the begin-time BASE values, not the current stats.json
    # — identical on first run and on any resume (idempotent).  The delta
    # row/dl totals were observed inside the turns write (commit entry).
    tent = man.entry("append_turns", unit)
    new_n = base_n + int(tent["n"])
    new_total_dl = base_total_dl + int(tent["dl"])
    new_avgdl = new_total_dl / new_n

    # ---- delta blocks ---------------------------------------------------------
    if not man.is_done("append_blocks", unit):
        t0 = time.time()
        delta_postings = fmt.read(spark, index_dir, "postings").where(
            F.col("gen") == gen
        )
        grouped = blocks_of(delta_postings, new_avgdl, docs_per_block)
        fmt.write(
            grouped.withColumn("gen", F.lit(gen))
            .withColumn("chunk", F.lit(0))
            .repartition(F.col("bucket"))
            .sortWithinPartitions("bucket", "term_id", "block_id"),
            index_dir,
            "blocks",
            partition_by=["gen", "chunk", "bucket"],
            subunit=f"{unit}/chunk=0",
        )
        man.commit("append_blocks", unit, seconds=round(time.time() - t0, 3))

    # ---- stats + commit ---------------------------------------------------------
    # term ids are dense (build: 1..n, appends extend from n_terms+1), and
    # the doc-slot high-water mark is base_doc + n_convs (dense ids, the
    # delta gets base_doc+1..base_doc+n_convs): both ride the stage
    # commits, so a resume never reads back the possibly-already-bumped
    # stats
    max_doc = int(tent["base_doc"]) + int(tent["n_convs"])
    stats.update(
        {
            "N": new_n,
            # high-water mark: never shrinks (a purge-compact can lower
            # max(doc_meta) below ids retired to the tombstone registry)
            "n_docs": max(int(stats["n_docs"]), max_doc + 1),
            "total_dl": new_total_dl,
            "avgdl": new_avgdl,
            "n_terms": int(man.entry("append_term_dict", unit)["n_terms_after"]),
            "dict_gens": sorted(set(dict_gens_of(stats)) | {gen}),
            "gens": sorted(set(stats["gens"]) | {gen}),
            "post_gens": sorted(set(stats["post_gens"]) | {gen}),
        }
    )
    write_stats(index_dir, stats)
    rows = delta_turns.count() if collect_metrics else -1
    man.commit("append", unit, rows=rows, N=new_n)
    return man


def _input_fingerprint(src: DataFrame) -> str:
    """Content identity check so a RESUMED append (or an idempotency-key
    replay) detects a different input in ONE agg pass.

    The hash term is an order-independent SUM of xxhash64(conv_id,
    turn_idx) — unlike the old count:distinct:min:max shape (ADVICE r4),
    a different row set with coincidentally matching extremes cannot
    collide short of an adversarial hash collision.  The sum runs in
    DECIMAL(38,0): a LongType sum would overflow (and throw under ANSI
    mode) on large deltas, and wrap-around would weaken the hash."""
    agg = src.agg(
        F.count("*").alias("n"),
        F.countDistinct("conv_id").alias("c"),
        F.sum(F.xxhash64("conv_id", "turn_idx").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{agg['n']}:{agg['c']}:{agg['h']}"


def compact_index(spark: SparkSession, index_dir: str) -> Manifest:
    """Rewrite postings + blocks into ONE fresh generation and drop the
    old generation partitions + stale dictionary snapshots.

    Re-encoding uses the LIVE avgdl, so the block-max upper bounds the
    append left loose (enc_avgdl drift) become tight again, and boundary
    blocks split across generations are merged.  turns/doc_meta keep
    their per-gen partitions (they are append-only row stores; nothing is
    stale in them) — EXCEPT when tombstones are pending purge: then the
    row-store generations that contain dead documents are rewritten
    (minus the dead rows) into the same fresh generation and the
    untouched generations are kept as-is, so a delete's storage is fully
    reclaimed by compact without rewriting the whole corpus.  stats.gens
    is the live row-store generation set readers partition-prune to
    (sources.tables.live), which is what makes the rewrite crash-safe.
    Parquet-format only: Iceberg deployments use the engine-side
    rewrite_data_files maintenance instead.

    Crash safety (ADVICE r3): the LIVE generation set is stats.post_gens
    (what the query path partition-prunes to), never a directory listing —
    a half-written gen dir from a crashed run is invisible to queries and
    is deleted (not re-compacted) on the next run.  Sequence:

      0. refuse while an append is pending (its half-written slices would
         be folded in) — resume/finish the append first;
      1. delete on-disk gen dirs NOT in post_gens (orphans of a crashed
         compact — possibly partial, never read);
      2. pick G strictly larger than every gen ever used (a reused number
         would overwrite a live slice — same invariant as append);
      3. write postings+blocks gen=G from exactly the post_gens inputs;
      4. COMMIT: write_stats(post_gens=[G]) + manifest entry — queries now
         read only G;
      5. cleanup superseded dirs + stale dict snapshots (idempotent: a
         crash here leaves extra dirs that step 1 removes next time and
         that queries never read)."""
    man = Manifest.load(index_dir)
    stats = read_stats(index_dir)
    fmt = format_by_name(stats["table_format"])
    if fmt.name != "parquet":
        raise NotImplementedError(
            "compact_index supports the parquet format; Iceberg tables "
            "compact via Iceberg's own rewrite_data_files maintenance"
        )
    from .delete import _pending, tombstone_docs

    for kind in ("append", "delete"):
        if _pending(man, kind):
            raise ValueError(
                f"compact_index: a {kind} is pending (begin committed, "
                f"{kind} not) — resume it to completion (or discard its "
                "manifest entry) before compacting"
            )
    t0 = time.time()
    post_root = table_path(index_dir, "postings")
    block_root = table_path(index_dir, "blocks")
    turns_root = table_path(index_dir, "turns")
    meta_root = table_path(index_dir, "doc_meta")
    post_live = sorted(int(g) for g in stats["post_gens"])
    row_live = sorted(int(g) for g in stats["gens"])
    gen = 1 + max(_all_known_gens(man, stats, index_dir, fmt))
    for root, live_set in (
        (post_root, post_live),
        (block_root, post_live),
        (turns_root, row_live),
        (meta_root, row_live),
    ):
        for g, path in _gen_dirs(root).items():
            if g not in live_set:
                shutil.rmtree(path, ignore_errors=True)
    avgdl = float(stats["avgdl"])

    postings = spark.read.option("basePath", post_root).parquet(
        *[os.path.join(post_root, f"gen={g}") for g in post_live]
    )
    # physical purge of tombstoned documents (operators/delete.py): the
    # rewrite is already reading every posting, so dropping dead docs is
    # one broadcast anti-join; afterwards no query path can reach them and
    # the hot-path tombstone filter switches off (tombstones_unpurged=0)
    tomb = tombstone_docs(spark, fmt, index_dir)
    if tomb is not None and int(stats.get("tombstones_unpurged", 0)) > 0:
        postings = postings.join(
            F.broadcast(tomb.select("doc_id")), "doc_id", "left_anti"
        )
    fmt.write(
        postings.withColumn("gen", F.lit(gen))
        .repartition(F.col("bucket"))
        .sortWithinPartitions("bucket", "term_id", "doc_id", "turn_idx"),
        index_dir,
        "postings",
        partition_by=["gen", "bucket"],
        subunit=f"gen={gen}",
    )
    compacted = spark.read.parquet(os.path.join(post_root, f"gen={gen}"))
    grouped = blocks_of(
        compacted.withColumn("bucket", F.col("bucket").cast("int")),
        avgdl,
        stats["docs_per_block"],
    )
    fmt.write(
        grouped.withColumn("gen", F.lit(gen))
        .withColumn("chunk", F.lit(0))
        .repartition(F.col("bucket"))
        .sortWithinPartitions("bucket", "term_id", "block_id"),
        index_dir,
        "blocks",
        partition_by=["gen", "chunk", "bucket"],
        subunit=f"gen={gen}/chunk=0",
    )
    # ---- row-store purge: rewrite ONLY the turns/doc_meta generations
    # that contain tombstoned documents (dead docs live wholly inside the
    # generation that appended them), minus the dead rows, into gen=G;
    # generations with no dead rows are kept untouched.  Readers see
    # nothing until the stats commit below flips stats.gens.
    new_rows = row_live
    if tomb is not None and int(stats.get("tombstones_unpurged", 0)) > 0:
        dead = tomb.select("doc_id")
        meta = spark.read.option("basePath", meta_root).parquet(
            *[os.path.join(meta_root, f"gen={g}") for g in row_live]
        )
        affected = sorted(
            int(r["gen"])
            for r in meta.join(F.broadcast(dead), "doc_id", "left_semi")
            .select("gen").distinct().collect()
        )
        if affected:
            src_turns = spark.read.option("basePath", turns_root).parquet(
                *[os.path.join(turns_root, f"gen={g}") for g in affected]
            )
            fmt.write(
                src_turns.join(F.broadcast(dead), "doc_id", "left_anti")
                .withColumn("gen", F.lit(gen))
                # keep the build-time layout: files cover contiguous doc
                # ranges so get_doc's doc_id pushdown skips row groups
                .repartitionByRange(F.col("doc_id"))
                .sortWithinPartitions("doc_id", "turn_idx"),
                index_dir,
                "turns",
                partition_by=["gen"],
                subunit=f"gen={gen}",
            )
            src_meta = spark.read.option("basePath", meta_root).parquet(
                *[os.path.join(meta_root, f"gen={g}") for g in affected]
            )
            fmt.write(
                src_meta.join(F.broadcast(dead), "doc_id", "left_anti")
                .withColumn("gen", F.lit(gen))
                .repartitionByRange(F.col("doc_id"))
                .sortWithinPartitions("doc_id"),
                index_dir,
                "doc_meta",
                partition_by=["gen"],
                subunit=f"gen={gen}",
            )
            new_rows = sorted(
                (set(row_live) - set(affected)) | {gen}
            )
    # ---- collapse dictionary deltas into one full snapshot at gen=G.
    # Appends/deletes write only the terms they touch (delta partitions,
    # resolved last-writer-wins); compaction is where the amortized full
    # rewrite belongs.  Skipped when the dictionary is already a single
    # snapshot (nothing to collapse — no wasted vocabulary rewrite).
    dict_live = dict_gens_of(stats)
    if len(dict_live) > 1:
        fmt.write(
            _live_dict(spark, fmt, index_dir, stats)
            .select("term", "term_id", "df", "cf", F.lit(gen).alias("gen"))
            .repartitionByRange(F.col("term_id"))
            .sortWithinPartitions("term_id"),
            index_dir,
            "term_dict",
            partition_by=["gen"],
            subunit=f"gen={gen}",
        )
        stats["dict_gens"] = [gen]
    # COMMIT the new generation before any destructive cleanup: from here
    # every query answers from gen alone, whatever else is on disk
    stats["gens"] = [int(g) for g in new_rows]
    stats["post_gens"] = [gen]
    stats["compacted_gen"] = gen
    # every tombstoned doc is now physically absent from postings/blocks
    # AND the row stores; the tombstones TABLE stays (conversation
    # registry for re-append disjointness), only the tombstone filter
    # (queries, get_doc) switches off
    stats["tombstones_unpurged"] = 0
    write_stats(index_dir, stats)
    man.commit(
        "compact", f"gen={gen}", supersedes=post_live,
        seconds=round(time.time() - t0, 3),
    )
    # cleanup superseded generations + stale dict snapshots
    for root in (post_root, block_root):
        for g, path in _gen_dirs(root).items():
            if g != gen:
                shutil.rmtree(path, ignore_errors=True)
    for root in (turns_root, meta_root):
        for g, path in _gen_dirs(root).items():
            if g not in set(stats["gens"]):
                shutil.rmtree(path, ignore_errors=True)
    dict_root = table_path(index_dir, "term_dict")
    live_dict = {int(g) for g in stats["dict_gens"]}
    for d in list(os.listdir(dict_root)):
        if d.startswith("gen=") and int(d.removeprefix("gen=")) not in live_dict:
            shutil.rmtree(os.path.join(dict_root, d), ignore_errors=True)
    return man
