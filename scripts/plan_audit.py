"""Physical-plan audit: verify the scan/pruning/top-k properties the
100 TB design depends on, by inspecting explain(formatted) output.

Checks:
  1. postings scan for a query prunes hive partitions on `bucket` and
     pushes the term_id filter to parquet (PushedFilters).
  2. top-k lowers to TakeOrderedAndProject (no global Sort+Limit).
  3. turns fetch for highlights pushes doc_id/turn_idx filters.
  4. tokenizer/codec are the only Python stages (ArrowEvalPython /
     MapInPandas); boolean+scoring stages stay in WholeStageCodegen.

Run: python scripts/plan_audit.py   (prints PASS/FAIL per check)
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def explain_str(df) -> str:
    jdf = df._jdf
    return jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    from joie_spark.corpus import generate_rows
    from joie_spark.engine import Engine
    from joie_spark.session import get_spark

    spark = get_spark("plan-audit", master="local[8]", shuffle_partitions=8)
    d = tempfile.mkdtemp(prefix="joie_audit_")
    eng = Engine.build(
        spark, spark.createDataFrame(generate_rows(50, seed=42)), d,
        n_buckets=8, docs_per_block=8, block_chunks=1,
    )
    results = {}

    # 1. postings scan pruning: the positional postings table serves
    # every unpruned search (here a phrase query)
    plan = explain_str(eng.search('"crystal kingdom" AND roll', k=10))
    results["partition_pruning_bucket"] = "bucket" in plan and (
        "PartitionFilters" in plan
    ) and "/postings" in plan
    results["pushed_term_filter"] = "PushedFilters" in plan and "term_id" in plan
    # 2. every single search cuts the candidate frame with
    # TakeOrderedAndProject (no global sort) — phrase and phrase-free
    # alike; the phrase-free plan must stay window-free (a hot query's
    # candidates would all land in one window task)
    plan_auto = explain_str(eng.search("roll AND dice", k=10))
    results["take_ordered"] = (
        "TakeOrderedAndProject" in plan and "TakeOrderedAndProject" in plan_auto
    )
    results["auto_topk_window_free"] = "Window" not in plan_auto
    # 4. codegen coverage: AQE finalizes the plan at execution time, so
    # collect first and look for the *(n) codegen markers in executedPlan
    df = eng.search("roll AND dice", k=10)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    results["wholestage_codegen"] = "*(" in executed

    # phrase-free single searches at the default direct threshold score
    # from the postings frame: no compressed-blocks column, no Python
    # block decode (FlatMapGroupsInPandas)
    plan_w = explain_str(eng.search("roll OR dice", k=10))
    plan_wf = explain_str(eng.search("roll AND dice", k=5, where="role = 'user'"))
    results["single_phrase_free_on_postings"] = all(
        "/postings" in p and "docids" not in p and "FlatMapGroupsInPandas" not in p
        for p in (plan_w, plan_wf)
    )
    results["keyword_or_topk_window_free"] = "Window" not in plan_w
    # the compressed blocks are read only by block-max pruning: forced
    # with direct_threshold=0, and probe_blocks=1 so phase 3 (the
    # survivor decode) stays in the plan
    plan_pw = explain_str(
        eng.search_many(["roll OR dice"], k=10, direct_threshold=0, probe_blocks=1)
    )
    results["pruned_keyword_or_block_scan"] = (
        "bucket" in plan_pw and "docids" in plan_pw and "/postings" not in plan_pw
    )

    hi = eng.search_highlighted('"crystal kingdom"', k=3)
    plan_h = explain_str(hi)
    results["highlight_after_topk"] = "MapInPandas" in plan_h

    # 4b. near/prefix extensions (plans/parser.py Near/Prefix): the
    # prefix expansion is a DICTIONARY range scan whose StartsWith
    # predicate reaches the parquet reader (StringStartsWith in
    # PushedFilters), and the expanded query itself is the ordinary
    # pruned keyword scan; the near predicate stays pure codegen (no
    # Python eval anywhere in either plan).
    from pyspark.sql import functions as F

    plan_pfx_dict = explain_str(
        eng.index.term_dict.where(F.col("term").startswith("ro"))
        .select("term_id", "df")
    )
    results["prefix_dict_startswith_pushdown"] = (
        "StringStartsWith" in plan_pfx_dict
    )
    # 4c. regex expansion: the derived literal prefix reaches the
    # parquet scan too (rlike itself can't push, the startswith can);
    # the anchored rlike stays JVM-codegen (no Python eval)
    plan_rx_dict = explain_str(
        eng.index.term_dict.where(
            F.col("term").startswith("ro") & F.col("term").rlike("^(?:ro.*)$")
        ).select("term_id", "df")
    )
    results["regex_dict_prefix_pushdown"] = (
        "StringStartsWith" in plan_rx_dict
        and "BatchEvalPython" not in plan_rx_dict
    )
    plan_pfx = explain_str(eng.builder().prefix("ro").top_k(5))
    results["prefix_keyword_scan_pruned"] = (
        "bucket" in plan_pfx
        and "TakeOrderedAndProject" in plan_pfx
        and "BatchEvalPython" not in plan_pfx
    )
    plan_near = explain_str(eng.builder().near("roll", "dice", slop=3).top_k(5))
    results["near_codegen_no_python"] = (
        "BatchEvalPython" not in plan_near
        and "ArrowEvalPython" not in plan_near
        and "TakeOrderedAndProject" in plan_near
    )
    plan_win = explain_str(
        eng.builder().within("roll", "dice", "game", window=8).top_k(5)
    )
    results["within_codegen_no_python"] = (
        "BatchEvalPython" not in plan_win
        and "ArrowEvalPython" not in plan_win
        and "TakeOrderedAndProject" in plan_win
    )
    # the prohibited side compiles into the candidate predicate (NOT of
    # its presence bits), so both sides' terms come from ONE pruned
    # postings scan — never the blocks decode, which cannot see the
    # prohibited side's bits, and never a cross join
    plan_diff = explain_str(
        (eng.builder().keywords("roll") - eng.builder().keywords("dice")).top_k(5)
    )
    results["andnot_anti_join_no_cartesian"] = (
        "/postings" in plan_diff
        and "FlatMapGroupsInPandas" not in plan_diff
        and "CartesianProduct" not in plan_diff
        and "BroadcastNestedLoopJoin" not in plan_diff
    )
    plan_fz = explain_str(eng.builder().fuzzy("roll", 1).top_k(5))
    results["fuzzy_codegen_no_python"] = (
        "BatchEvalPython" not in plan_fz
        and "TakeOrderedAndProject" in plan_fz
    )
    # 4c. percolation (operators/percolate.py): standing queries are a
    # pure map-side plan — tokenizer UDF + generated predicates + explode,
    # ZERO shuffles regardless of corpus size or query count.
    from joie_spark.operators.percolate import percolate
    from joie_spark.plans.parser import Near as _Near, Prefix as _Prefix

    perc = percolate(
        spark.createDataFrame(generate_rows(10, seed=7)),
        ["roll OR dice", '"crystal kingdom"', _Near("roll", "dice", 3, False),
         _Prefix("ro")],
    )
    plan_perc = explain_str(perc)
    results["percolate_no_exchange"] = "Exchange" not in plan_perc

    # 4g. function_score: metadata join must not break top-k lowering or
    # introduce a cross join; the weight stays in codegen (no Python).
    plan_fs = explain_str(
        eng.search_function_score(
            "roll OR dice", "CASE WHEN role='assistant' THEN 2e0 ELSE 1e0 END"
        )
    )
    results["function_score_take_ordered_no_python"] = (
        "TakeOrderedAndProject" in plan_fs
        and "CartesianProduct" not in plan_fs
        and "PythonUDF" not in plan_fs
    )

    # 4h. search_docs (doc-level BM25): term-pruned postings scan, doc
    # fold in codegen, TakeOrderedAndProject top-k, no cross join.
    plan_sd = explain_str(eng.search_docs("roll OR dice", k=10))
    results["search_docs_take_ordered_pruned"] = (
        "TakeOrderedAndProject" in plan_sd
        and "CartesianProduct" not in plan_sd
        and "bucket" in plan_sd
    )

    # 5. batch path: partition-pruned scans and no cross join; at the
    # default direct threshold the whole batch, phrase-free queries
    # included, shares one postings frame.
    plan_b = explain_str(
        eng.search_many(["roll OR dice", '"crystal kingdom"', "roll AND dice"], k=5)
    )
    results["batch_partition_pruned"] = "PartitionFilters" in plan_b
    results["batch_no_cross_join"] = (
        "BroadcastNestedLoopJoin" not in plan_b and "CartesianProduct" not in plan_b
    )
    plan_b1 = explain_str(eng.search_many(["roll OR dice", "roll AND dice"], k=5))
    results["batch_phrase_free_on_postings"] = (
        "/postings" in plan_b1
        and "docids" not in plan_b1
        and "FlatMapGroupsInPandas" not in plan_b1
    )
    # forced-pruned phrase-free batch: compressed-blocks scan + grouped
    # decode, and the fat postings table is never touched
    plan_b2 = explain_str(
        eng.search_many(
            ["roll OR dice", "roll AND dice"], k=5, direct_threshold=0,
            probe_blocks=1,
        )
    )
    results["pruned_batch_scans_compressed_blocks"] = (
        "blocks" in plan_b2 and "FlatMapGroupsInPandas" in plan_b2
        and "docids" in plan_b2
    )
    results["pruned_batch_skips_postings"] = "/postings" not in plan_b2
    # the blocks scan itself must be bucket-partition-pruned, term_id
    # row-group-pruned, and never read positions
    # (r4: the live-generation filter joined the partition predicates, so
    # the line is now "[isnotnull(gen), (gen = 0), bucket IN (...)]" —
    # require bucket pruning on SOME PartitionFilters line plus the gen
    # live-set prune, rather than a fixed prefix)
    results["pruned_batch_blocks_scan_pruned"] = (
        any(
            "PartitionFilters: [" in ln and "bucket" in ln and "gen" in ln
            for ln in plan_b2.splitlines()
        )
        and "In(term_id" in plan_b2
        and "positions" not in plan_b2
    )

    # 5b. a where-filtered forced-pruned batch stays on the compressed
    # blocks table (VERDICT r3 item 3), postings untouched
    plan_pf = explain_str(
        eng.search_many(
            ["roll AND dice", "the"], k=5, where="role = 'user'",
            direct_threshold=0, probe_blocks=1,
        )
    )
    results["pruned_where_filtered_on_blocks"] = (
        "docids" in plan_pf and "/postings" not in plan_pf
    )

    # 5b2. rarest-term-first phrase seeding (VERDICT r4 item 2): with an
    # extreme df spread, the phrase candidate scan must gain EXACTLY ONE
    # broadcast hash left-semi join (the rare term's turns pruning the
    # hot term's postings before the per-turn groupBy — the distributed
    # analogue of phrase.rs:48 seed-smallest).  Counted as a DELTA vs the
    # seed-disabled plan.
    import joie_spark.operators.query as Qmod

    def _n_bcast_semi(plan_text: str) -> int:
        return sum(
            1
            for ln in plan_text.splitlines()
            if "BroadcastHashJoin" in ln and "LeftSemi" in ln
        )

    old_ratio = Qmod.PHRASE_SEED_DF_RATIO
    old_floor = Qmod.PHRASE_SEED_MIN_HOT_DF
    Qmod.PHRASE_SEED_DF_RATIO = float("inf")
    plan_p0 = explain_str(eng.search('"crystal kingdom"', k=5))
    # tiny-corpus dfs are not extreme and far below the engagement floor
    Qmod.PHRASE_SEED_DF_RATIO, Qmod.PHRASE_SEED_MIN_HOT_DF = 1.0, 0
    plan_p1 = explain_str(eng.search('"crystal kingdom"', k=5))
    Qmod.PHRASE_SEED_DF_RATIO = old_ratio
    Qmod.PHRASE_SEED_MIN_HOT_DF = old_floor
    results["phrase_rare_seed_broadcast_semi"] = (
        _n_bcast_semi(plan_p1) == _n_bcast_semi(plan_p0) + 1
    )

    # 5c. ANN write-once scale path (VERDICT r3 item 4): the materialized
    # bucket/cell tables' probe filters are PARTITION pruning — a query
    # opens only its probed buckets' files, never re-signatures the corpus
    import joie_spark.pipeline.ann as ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    corpus = emb.where("vec_id != 0")
    mat_lsh = tempfile.mkdtemp(prefix="joie_audit_lsh_")
    ann.materialize_lsh_buckets(corpus, mat_lsh, n_bits=4)
    plan_m = explain_str(
        ann.lsh_bucketed_topk_materialized(spark, mat_lsh, qv, k=5, probe_hamming=1)
    )
    results["ann_bucket_partition_pruned"] = "PartitionFilters: [bucket" in plan_m
    mat_ivf = tempfile.mkdtemp(prefix="joie_audit_ivf_")
    C = ann.kmeans_centroids(corpus, k=8)
    ann.materialize_ivf_cells(corpus, mat_ivf, C)
    plan_i = explain_str(
        ann.ivf_topk_materialized(spark, mat_ivf, qv, k=5, nprobe=2)
    )
    results["ann_ivf_partition_pruned"] = "PartitionFilters: [ivf_cell" in plan_i

    # 5d. tombstone deny-list (operators/delete.py): after a delete the
    # filter must lower to a broadcast HASH anti-join on doc_id in every
    # path — a nested-loop/cartesian would be a 100 TB disaster
    from joie_spark.corpus import generate_rows as _gr

    d2 = tempfile.mkdtemp(prefix="joie_audit_del_")
    eng2 = Engine.build(
        spark, spark.createDataFrame(_gr(50, seed=42)), d2,
        n_buckets=8, docs_per_block=8, block_chunks=1,
    )
    eng2.delete(sorted({r["conv_id"] for r in _gr(50, seed=42)})[:5])
    for label, df2 in (
        ("tomb_phrase", eng2.search('"crystal kingdom" AND roll', k=5)),
        ("tomb_keyword_or", eng2.search("roll OR dice", k=5)),
        ("tomb_batch", eng2.search_many(["roll OR dice", "roll AND dice"], k=5)),
    ):
        p2 = explain_str(df2)
        results[f"{label}_anti_join_hash"] = (
            "LeftAnti" in p2
            and "BroadcastNestedLoopJoin" not in p2
            and "CartesianProduct" not in p2
        )

    # 5e. row-store live-generation pruning (round 5): after a
    # purge-compact rewrites the turns/doc_meta generations that held
    # tombstoned docs, every turns scan must partition-prune to the
    # stats.gens live set — a half-written generation from a crashed
    # purge (duplicate live rows) is never read
    eng2.compact()
    plan_c = explain_str(eng2.get_doc(0))
    turns_chunks = [ch for ch in plan_c.split("Scan parquet") if "/turns" in ch]
    results["turns_scan_gen_pruned"] = bool(turns_chunks) and all(
        any("PartitionFilters" in ln and "gen" in ln for ln in ch.splitlines())
        for ch in turns_chunks
    )
    # ... and the point-lookup predicate reaches the parquet scan, where
    # the range-partitioned layout turns it into row-group skipping
    results["get_doc_docid_pushdown"] = any(
        "PushedFilters" in ln and "doc_id" in ln
        for ch in turns_chunks
        for ln in ch.splitlines()
    )

    # 5f. benchmark decontamination (pipeline/decontaminate.py): the
    # benchmark n-gram set and the contaminated-id set must BOTH lower to
    # broadcast hash joins (inner detect + LeftAnti purge) — the corpus
    # itself is never shuffled, only the hit rows reach the groupBy
    import __spark_entry__ as entrymod

    plan_dc = explain_str(
        entrymod.queries()["decon_corpus"](spark, "/root/testdata/sf0.001")
    )
    results["decon_broadcast_detect_and_purge"] = (
        sum("BroadcastHashJoin" in ln for ln in plan_dc.splitlines()) >= 2
        and "LeftAnti" in plan_dc
        and "BroadcastNestedLoopJoin" not in plan_dc
        and "CartesianProduct" not in plan_dc
    )

    # 5g. sequence packing (pipeline/packing.py): the per-row running-sum
    # windows must be hash-partitioned on _pid (parallel across the
    # cluster); the only single-partition exchange allowed is the tiny
    # per-partition-totals prefix (#partitions rows).  A global
    # Window.orderBy over the corpus would show a SinglePartition
    # exchange feeding a corpus-sized Window — assert the parallel shape
    # is present and the broadcast of bases happened.
    plan_pk = explain_str(
        entrymod.queries()["pack_sequences"](spark, "/root/testdata/sf0.001")
    )
    results["pack_cumsum_windows_partitioned"] = (
        "hashpartitioning(_pid" in plan_pk
        and "BroadcastHashJoin" in plan_pk
    )

    # 5h. exact-substring dedup (pipeline/dedup.py dedup_substrings):
    # the window table must be built ONCE (persisted InMemoryRelation
    # shared by the duplicate-hash aggregate and the join-back) and the
    # interval-merge windows must be partitioned by doc_id — a global
    # (unpartitioned) Window here would serialize the corpus through one
    # task.
    plan_ss = explain_str(
        entrymod.queries()["substring_dedup_corpus"](spark, "/root/testdata/sf0.001")
    )
    results["substring_windows_cached_and_per_doc"] = (
        plan_ss.count("InMemoryRelation") >= 2
        and "hashpartitioning(doc_id" in plan_ss
        and "SinglePartition" not in plan_ss
        and "CartesianProduct" not in plan_ss
        and "BroadcastNestedLoopJoin" not in plan_ss
    )

    # 5i. boilerplate-line rewrite (pipeline/web.py
    # remove_boilerplate_lines): the per-source boilerplate array must
    # reach the corpus via broadcast-hash join — a sort-merge join here
    # would shuffle the full corpus text to strip a handful of lines.
    plan_bp = explain_str(
        entrymod.queries()["web_clean_corpus"](spark, "/root/testdata/sf0.001")
    )
    results["web_rewrite_broadcast_no_corpus_shuffle"] = (
        "BroadcastHashJoin" in plan_bp
        and "SortMergeJoin" not in plan_bp
        and "CartesianProduct" not in plan_bp
        and "BroadcastNestedLoopJoin" not in plan_bp
    )

    # 5j. DSIR selection (pipeline/importance.py dsir_select): the B-row
    # log-ratio table joins the corpus-sized gram stream via broadcast,
    # and the top-k compiles to TakeOrderedAndProject (per-partition
    # heap), never a global Sort+Limit or a nested-loop scalar attach.
    plan_ds = explain_str(
        entrymod.queries()["dsir_select"](spark, "/root/testdata/sf0.001")
    )
    results["dsir_ratio_broadcast_take_ordered"] = (
        "BroadcastHashJoin" in plan_ds
        and "TakeOrderedAndProject" in plan_ds
        and "CartesianProduct" not in plan_ds
        and "BroadcastNestedLoopJoin" not in plan_ds
    )

    # 5k. SemDeDup (pipeline/semdedup.py): the within-cell pair search
    # must key on the cell equi-join (never a cartesian/nested-loop pair
    # blowup — that would be the O(n²) scan the clustering exists to
    # avoid), and the drop set returns to the corpus as a broadcast hash
    # anti-join — the corpus itself is never shuffled.
    plan_sd = explain_str(
        entrymod.queries()["semdedup"](spark, "/root/testdata/sf0.001")
    )
    results["semdedup_cell_equijoin_broadcast_anti"] = (
        "BroadcastHashJoin" in plan_sd
        and "LeftAnti" in plan_sd
        and "CartesianProduct" not in plan_sd
        and "BroadcastNestedLoopJoin" not in plan_sd
    )

    # 5l. Vocabulary coverage (pipeline/vocab.py): the top-V cut must
    # lower to TakeOrderedAndProject (each partition ships its local top
    # V — never a global sort of the whole term table), and tfidf's
    # per-doc ranking must key the tf-df equi-join on term as a real
    # shuffle/broadcast hash join, not a cartesian pair blowup.
    from joie_spark.pipeline import vocab as vocab_mod

    docs_vc = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan_vc = explain_str(vocab_mod.vocab_coverage(docs_vc, v=100))
    results["vocab_topv_take_ordered"] = (
        "TakeOrderedAndProject" in plan_vc and "CartesianProduct" not in plan_vc
    )
    plan_tfidf = explain_str(vocab_mod.tfidf_topk(docs_vc, k=3))
    results["tfidf_hash_join_no_cartesian"] = (
        ("BroadcastHashJoin" in plan_tfidf or "SortMergeJoin" in plan_tfidf
         or "ShuffledHashJoin" in plan_tfidf)
        and "CartesianProduct" not in plan_tfidf
    )

    # 5g. conversation collapse: doc_id groupBy must partial-aggregate
    # (HashAggregate pair) and the final top-k must lower to
    # TakeOrderedAndProject — never a global Sort, never a window over
    # the whole scored set
    plan_col = explain_str(eng.search_collapsed("roll OR dice", k=10))
    results["collapse_partial_agg_take_ordered"] = (
        "TakeOrderedAndProject" in plan_col
        and "Window" not in plan_col
        and "CartesianProduct" not in plan_col
    )
    # 5h. keyset pagination: the cursor is a FILTER on the scoring frame
    # (page N costs page-1 work) and top-k still lowers to
    # TakeOrderedAndProject — no offset/window machinery
    plan_pg = explain_str(
        eng.search_after("roll OR dice", (1, 1, 5.0), k=10)
    )
    results["search_after_filter_take_ordered"] = (
        "TakeOrderedAndProject" in plan_pg
        and "Window" not in plan_pg
        and "GlobalLimitAndOffset" not in plan_pg
    )

    # 5i. minimum_should_match on the batch path must evaluate as a
    # bitmask popcount (bit_count over the presence masks) with no
    # Python stage beyond the tokenizer, and no per-floor join
    mm = eng.builder().keywords("roll", "dice", "game", min_match=2)
    plan_mm = explain_str(eng.search_many_built([mm], k=5))
    results["minmatch_batch_popcount"] = (
        "bit_count" in plan_mm and "CartesianProduct" not in plan_mm
    )

    # 6. no cross join in any headline bench query (VERDICT r1: the bench
    # must measure the scale paths, not the sampled pairwise oracles)
    import __spark_entry__ as entrymod
    from bench import HEADLINE

    qmap = entrymod.queries()
    sf_dir = "/root/testdata/sf0.001"
    bad = []
    for name in HEADLINE:
        p = explain_str(qmap[name](spark, sf_dir))
        if "BroadcastNestedLoopJoin" in p or "CartesianProduct" in p:
            bad.append(name)
    results["headline_no_cross_join"] = not bad
    if bad:
        print(f"  cross joins in: {bad}")

    print()
    ok = True
    for k, v in results.items():
        print(f"{'PASS' if v else 'FAIL'}  {k}")
        ok &= bool(v)

    if os.environ.get("JOIE_AUDIT_DUMP"):
        print("\n==== AND plan ====\n", plan)
        print("\n==== keyword-OR plan ====\n", plan_w)
        print("\n==== forced-pruned keyword-OR plan ====\n", plan_pw)

    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
