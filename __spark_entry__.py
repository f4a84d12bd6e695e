"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the implemented operator families from SURVEY.md §2
(retrieval constituents: tokenize/df/tf aggregates, posting scans,
conjunctive intersection, union-dedup, phrase adjacency, BM25 top-k) plus
the training-data pipeline operators (dedup suite, ANN, text analysis)
over the driver's fixed tables.  Each query has a DuckDB-equivalent
``oracle_sql()`` unless the operator is genuinely not SQL-portable
(the xxhash64 fast paths of MinHash/SimHash and the pandas-UDF ANN
variants) — those get the weaker rows-only check and are oracle-tested
in pytest instead (tests/test_pipeline.py); the ``*_portable`` entries
run the SAME pipelines on SQL-expressible arithmetic (md5-derived
hashes; CAST-literal centroids with left-assoc dot chains), so the
banded-LSH machinery AND the IVF cell/probe/re-rank shape ARE
value-checked against the oracle.

All floats are rounded in-query (both sides, identical expressions) so
engine-level last-bit differences cannot break the value-hash compare;
money aggregates go through DECIMAL so sums are order-independent.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

import joie_spark.pipeline.ann as ann
import joie_spark.pipeline.clean as clean
import joie_spark.pipeline.decontaminate as decon
import joie_spark.pipeline.packing as packing
import joie_spark.pipeline.sampling as sampling
import joie_spark.pipeline.dedup as dedup
import joie_spark.pipeline.importance as importance
import joie_spark.pipeline.perplexity as perplexity
import joie_spark.pipeline.semdedup as semdedup
import joie_spark.pipeline.text as text
import joie_spark.pipeline.bpe as bpe
import joie_spark.pipeline.vocab as vocab
import joie_spark.pipeline.web as web

TOK = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"  # spark
TOK_DD = "regexp_extract_all(lower(text), '[a-z0-9]+')"  # duckdb

# bump when the on-disk index layout / tokenizer changes — invalidates the
# entry() smoke-check cache
INDEX_FORMAT_VERSION = 3  # 3: gen-partitioned tables (incremental append)

BM25_TERMS = ("spark", "window", "query")


def _fan_out(df: DataFrame) -> DataFrame:
    """The sf≤0.1 test tables are single small parquet files → ONE input
    partition, so every downstream tokenize/shingle/signature pass would
    run on 1 of N cores.  Fan the scan out to the session parallelism
    (cheap: the whole file is a few MB).  At production scale inputs
    arrive in thousands of partitions and this repartition would be a
    wasteful full shuffle — it is a small-file harness fix, not part of
    the operators themselves (they stay partitioning-agnostic)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par) if df.rdd.getNumPartitions() < par else df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fan_out(spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fan_out(spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _tokens_exploded(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.explode(text.sql_tokens()).alias("term"))


def _tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`(doc_id, tokens)` cached: the BM25 leaves hang several branches
    (dl, tf, stats) off one tokenization, which would otherwise re-run
    the regex tokenizer per branch.  The caller releases it through the
    result's `_joie_persisted` (_with_release)."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", text.sql_tokens().alias("tokens"))
        .cache()
    )


def _with_release(out: DataFrame, cached: DataFrame) -> DataFrame:
    """Expose `cached` as the release handle harnesses unpersist once
    `out` has been collected."""
    out._joie_persisted = cached
    return out


def _bm25_contrib(n, avgdl, weight: Column | None = None) -> Column:
    """Per-(doc, term) BM25 contribution (k1=1.2, b=0.75) over columns
    tf, df, dl — the engine's scoring expression, operand for operand the
    same as every oracle_sql() twin so Spark and DuckDB agree to the last
    bit.  `weight` (a per-term boost) multiplies the idf first."""
    idf = F.log(F.lit(1.0) + (F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    if weight is not None:
        idf = weight * idf
    return (
        idf
        * (F.col("tf") * F.lit(2.2))
        / (F.col("tf") + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.lit(avgdl)))
    )


def _bm25_terms(spark, sf_dir, term_pred: Column, weight: Column | None = None):
    """The shared front half of the BM25 leaves: over the cached
    tokenization, n and avgdl across all docs, tf per (doc_id, term) for
    the terms passing `term_pred`, df counted from that tf, and dl joined
    in.  Returns (joined frame, contribution Column, cached frame).

    Shared by fuzzy_bm25, prefix_bm25, regex_bm25, min_match_bm25,
    bm25_topk, boosted_bm25, collapse_topk, search_after_page2,
    bm25_batch, rank_eval and hybrid_rrf.  Two BM25 leaves use only
    _bm25_contrib, because their frozen oracles define the statistics
    differently: mlt_topk scores every doc but 0 while its df still
    counts doc 0 (df over the whole corpus, not over the scored tf), and
    bm25_docs_topk scores groups (doc_id % 50), whose n, dl and avgdl
    count only groups that have tokens."""
    docs = _tokenized(spark, sf_dir)
    dl = docs.select("doc_id", F.size("tokens").cast("long").alias("dl"))
    st = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    tf = (
        docs.select("doc_id", F.explode("tokens").alias("term"))
        .where(term_pred)
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    j = tf.join(dfc, "term").join(dl, "doc_id")
    return j, _bm25_contrib(st["n"], st["avgdl"], weight), docs


def _top10_by_sum(j: DataFrame, contrib: Column, key: str = "doc_id") -> DataFrame:
    """Top 10 of `key` ranked on the UNROUNDED score sum, reported
    rounded — the order these leaves' frozen oracles state."""
    return (
        j.groupBy(key)
        .agg(F.sum(contrib).alias("s"))
        .select(key, F.round("s", 4).alias("score"))
        .orderBy(F.desc("s"), F.asc(key))
        .limit(10)
    )


def _rounded_scores(j: DataFrame, contrib: Column) -> DataFrame:
    """(doc_id, score) with the sum rounded BEFORE ranking, so Spark and
    DuckDB break score ties identically."""
    return j.groupBy("doc_id").agg(F.round(F.sum(contrib), 4).alias("score"))


# ---------------------------------------------------------------------------
# retrieval constituents over `documents`


def q_token_stats(spark, sf_dir):
    return text.token_stats(_docs(spark, sf_dir))


def q_term_df_top100(spark, sf_dir):
    return (
        text.term_df(_docs(spark, sf_dir))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
    )


def q_postings_sample(spark, sf_dir):
    tok = _tokens_exploded(_docs(spark, sf_dir))
    return (
        tok.where(F.col("term").isin(list(BM25_TERMS)))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def q_keyword_or(spark, sf_dir):
    # KeywordsQuery fast path (parser.rs:112-122): term IN (a, b) scan
    tok = _tokens_exploded(_docs(spark, sf_dir))
    return tok.where(F.col("term").isin(["spark", "window"])).select("doc_id").distinct()


def q_and_intersect(spark, sf_dir):
    # conjunctive count-match evaluation (intersect.rs:59-84 analogue)
    tok = _tokens_exploded(_docs(spark, sf_dir)).distinct()
    return (
        tok.where(F.col("term").isin(["fast", "table"]))
        .groupBy("doc_id")
        .agg(F.count("*").alias("nt"))
        .where(F.col("nt") == 2)
        .select("doc_id")
    )


def q_phrase_adjacency(spark, sf_dir):
    # positional adjacency (phrase.rs:89-126): ∃p: p∈pos('fast') ∧ p+1∈pos('table')
    docs = _docs(spark, sf_dir).withColumn("tokens", text.sql_tokens())
    pos = docs.select(
        "doc_id", F.posexplode("tokens").alias("p", "term")
    ).where(F.col("term").isin(["fast", "table"]))
    # grouped positions per term, then exists() chain — all codegen
    per_term = pos.groupBy("doc_id", "term").agg(
        F.sort_array(F.collect_list("p")).alias("ps")
    )
    m = per_term.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "ps"))).alias("pm"),
        F.count("*").alias("nt"),
    ).where(F.col("nt") == 2)
    adj = F.exists(
        F.element_at("pm", F.lit("fast")),
        lambda p: F.array_contains(F.element_at("pm", F.lit("table")), p + 1),
    )
    return m.where(adj).select("doc_id")


def q_near_window(spark, sf_dir):
    """Proximity query NEAR(fast, slow, 2) — operators/query.py PNear
    (builder-only extension: |p_a − p_b| ≤ slop within one turn/doc).
    Same candidate shape as phrase adjacency (per-term position arrays,
    exists() predicate — pure codegen, no UDF); the engine twin is pinned
    rank-identical to the Python oracle in tests/test_near_prefix.py."""
    docs = _docs(spark, sf_dir).withColumn("tokens", text.sql_tokens())
    pos = docs.select(
        "doc_id", F.posexplode("tokens").alias("p", "term")
    ).where(F.col("term").isin(["fast", "slow"]))
    per_term = pos.groupBy("doc_id", "term").agg(
        F.sort_array(F.collect_list("p")).alias("ps")
    )
    m = per_term.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "ps"))).alias("pm"),
        F.count("*").alias("nt"),
    ).where(F.col("nt") == 2)
    near = F.exists(
        F.element_at("pm", F.lit("fast")),
        lambda p: F.exists(
            F.element_at("pm", F.lit("slow")),
            lambda q: (q != p) & (F.abs(q - p) <= F.lit(2)),
        ),
    )
    return m.where(near).select("doc_id")


def q_within_window(spark, sf_dir):
    """k-term proximity WITHIN(fast, slow, table; window=6) —
    operators/query.py PWithin (builder-only extension, the Lucene
    SpanNearQuery shape past two terms): some one-position-per-term
    choice spans ≤ window.  Evaluated via the anchored-cover
    reformulation (∃ anchor p in any term's positions: every term has a
    position in [p, p+w]) — pure codegen, no UDF, no k-way cross
    product; the DuckDB oracle below deliberately computes the
    brute-force 3-way position join instead, so a value match proves
    the two forms equal.  Engine twin pinned in tests/test_within.py."""
    terms = ["fast", "slow", "table"]
    w = 6
    docs = _docs(spark, sf_dir).withColumn("tokens", text.sql_tokens())
    pos = docs.select(
        "doc_id", F.posexplode("tokens").alias("p", "term")
    ).where(F.col("term").isin(terms))
    per_term = pos.groupBy("doc_id", "term").agg(
        F.sort_array(F.collect_list("p")).alias("ps")
    )
    m = per_term.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "ps"))).alias("pm"),
        F.count("*").alias("nt"),
    ).where(F.col("nt") == len(terms))
    arrs = [F.element_at("pm", F.lit(t)) for t in terms]
    anchors = F.flatten(F.array(*arrs))
    within = F.exists(
        anchors,
        lambda p: F.exists(arrs[0], lambda q: (q >= p) & (q <= p + w))
        & F.exists(arrs[1], lambda q: (q >= p) & (q <= p + w))
        & F.exists(arrs[2], lambda q: (q >= p) & (q <= p + w)),
    )
    return m.where(within).select("doc_id")


def q_facet_by_lang(spark, sf_dir):
    """Facet counts over a match set (engine.py facets): docs matching
    'fast', counted per lang, ordered n_docs DESC / value ASC — one
    semi-join + one partial-aggregated groupBy, top-n lowers to
    TakeOrderedAndProject."""
    docs = _docs(spark, sf_dir).withColumn("tokens", text.sql_tokens())
    m = docs.where(F.array_contains("tokens", "fast"))
    return (
        m.groupBy(F.col("lang").alias("value"))
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("value"))
        .limit(20)
    )


def q_sig_terms(spark, sf_dir):
    """Significant terms (engine.py significant_terms — the ES
    significant_terms aggregation with its default JLH score): terms
    overrepresented in the docs matching 'fast' vs the whole corpus.
    fg/bg term frequencies from one tokenize pass each (distinct per
    doc), totals attached as scalar subqueries, JLH rounded to 6
    decimals for reproducible ordering (score DESC, term ASC, top 20,
    fg_df ≥ 2, fg_pct > bg_pct).  The engine twin (postings semi-join
    against the match set) is pinned in tests/test_sigterms.py."""
    from joie_spark.pipeline.vocab import _scalar

    docs = _docs(spark, sf_dir).withColumn("tokens", text.sql_tokens())
    m = docs.where(F.array_contains("tokens", "fast"))
    tok = lambda df: df.select(  # noqa: E731
        "doc_id", F.explode(F.array_distinct("tokens")).alias("term")
    )
    fg = tok(m).groupBy("term").agg(F.count("*").alias("fg_df"))
    bg = tok(docs).groupBy("term").agg(F.count("*").alias("bg_df"))
    n_match = _scalar(m.agg(F.count("*").cast("double").alias("_n")))
    n_total = _scalar(docs.agg(F.count("*").cast("double").alias("_n")))
    fg_pct = F.col("fg_df") / n_match
    bg_pct = F.col("bg_df") / n_total
    score = F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6)
    return (
        fg.join(bg, "term")
        .where((F.col("fg_df") >= 2) & (fg_pct > bg_pct))
        .select("term", "fg_df", "bg_df", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(20)
    )


def q_mlt_topk(spark, sf_dir):
    """More-like-this (engine.py more_like_this): doc 0's top-5 terms by
    tf·idf (global df, ties weight DESC / term ASC), run as a keyword OR
    over the REST of the corpus with full BM25.  The term selection is a
    bounded driver collect (5 rows) — same contract as the engine's
    dictionary probe."""
    docs = _tokenized(spark, sf_dir)
    tok = docs.select("doc_id", F.explode("tokens").alias("term"))
    dl = docs.select("doc_id", F.size("tokens").cast("long").alias("dl"))
    st = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    n, avgdl = st["n"], st["avgdl"]
    dfc = tok.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    tf0 = (
        tok.where(F.col("doc_id") == 0)
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    w = (
        F.log(F.lit(1.0) + (F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * F.col("tf")
    )
    sel = [
        r["term"]
        for r in tf0.join(dfc, "term")
        .select("term", w.alias("w"))
        .orderBy(F.desc("w"), F.asc("term"))
        .limit(5)
        .collect()
    ]
    tf = (
        tok.where((F.col("doc_id") != 0) & F.col("term").isin(sel))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    j = tf.join(dfc, "term").join(dl, "doc_id")
    return _with_release(_top10_by_sum(j, _bm25_contrib(n, avgdl)), docs)


def q_percolate(spark, sf_dir):
    """Standing-query routing (operators/percolate.py): every registered
    query's predicate evaluated map-side per document — zero shuffles
    (plan-audited percolate_no_exchange); identical plan runs on the
    ingest stream.  Registered set: a conjunction, a phrase, and a
    prefix-extended OR."""
    from joie_spark.operators.percolate import percolate
    from joie_spark.plans.parser import Literal, Or, Prefix

    docs = _docs(spark, sf_dir)
    queries = [
        "fast AND slow",
        '"fast table"',
        Or(Prefix("st"), Literal("window")),
    ]
    return percolate(
        docs.select("doc_id", F.lower("text").alias("text")), queries,
        keep=["doc_id"],
    )


def q_fuzzy_bm25(spark, sf_dir):
    """Fuzzy term query `fast~1` scored with full BM25 over its edit-
    distance expansion (operators/query.py Index.expand_fuzzy →
    PKeywords; the length-band + levenshtein dictionary scan).  The
    driver-plan mirror expands on the exploded term column with Spark's
    JVM levenshtein; the DuckDB oracle uses its levenshtein()."""
    j, contrib, docs = _bm25_terms(
        spark, sf_dir, F.levenshtein(F.col("term"), F.lit("fast")) <= 1
    )
    return _with_release(_top10_by_sum(j, contrib), docs)


def q_and_not(spark, sf_dir):
    """Boolean difference (operators/query.py PDiff — builder-only
    `a - b`): docs matching 'fast' minus docs matching 'slow', a
    left-anti join on the match key; the prohibited side never scores
    (tests/test_near_prefix.py pins rank identity + the Lucene
    prohibited-clause scoring rule engine-side)."""
    tok = _tokens_exploded(_docs(spark, sf_dir))
    a = tok.where(F.col("term") == "fast").select("doc_id").distinct()
    b = tok.where(F.col("term") == "slow").select("doc_id").distinct()
    return a.join(b, "doc_id", "left_anti")


def q_prefix_bm25(spark, sf_dir):
    """Wildcard term query `s*` scored with full BM25 over its expansion
    (operators/query.py Index.expand_prefix → PKeywords; Lucene's
    MultiTermQuery rewrite).  The expansion here is the predicate
    `startswith('s')` on the exploded term column — the driver-plan
    mirror of the dictionary StringStartsWith pushdown."""
    j, contrib, docs = _bm25_terms(spark, sf_dir, F.col("term").startswith("s"))
    return _with_release(_top10_by_sum(j, contrib), docs)


def q_min_match_bm25(spark, sf_dir):
    """minimum_should_match (operators/query.py PMinMatch — the
    Lucene/ES BooleanQuery floor): docs containing at least 2 of the 3
    flagship terms, scored with full BM25 over all matched terms.  The
    engine twin evaluates the floor as a postings count-distinct (single
    path) or a bitmask popcount (batch path) — both pinned rank-identical
    to the Python oracle (tests/test_minmatch.py)."""
    j, contrib, docs = _bm25_terms(spark, sf_dir, F.col("term").isin(list(BM25_TERMS)))
    keep = (
        j.groupBy("doc_id")
        .agg(F.count_distinct("term").alias("nt"))
        .where(F.col("nt") >= 2)
        .select("doc_id")
    )
    out = (
        _rounded_scores(j.join(keep, "doc_id", "left_semi"), contrib)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )
    return _with_release(out, docs)


def q_regex_bm25(spark, sf_dir):
    """Regex term query `s[ct].*` scored with full BM25 over its
    whole-term-anchored expansion (operators/query.py Index.expand_regex
    → PKeywords; Lucene's RegexpQuery → MultiTermQuery rewrite).  The
    driver-plan mirror applies the anchored rlike on the exploded term
    column; the DuckDB oracle uses regexp_matches with the same anchored
    RE2-safe pattern.  Engine-side rank identity incl. the sound
    literal-prefix pushdown derivation: tests/test_regex.py."""
    j, contrib, docs = _bm25_terms(
        spark, sf_dir, F.col("term").rlike("^(?:s[ct].*)$")
    )
    return _with_release(_top10_by_sum(j, contrib), docs)


def q_bm25_topk(spark, sf_dir):
    """Flagship: BM25 top-10 with the engine's scoring expression."""
    j, contrib, docs = _bm25_terms(spark, sf_dir, F.col("term").isin(list(BM25_TERMS)))
    return _with_release(_top10_by_sum(j, contrib), docs)


def q_bm25_docs_topk(spark, sf_dir):
    """Document-level BM25 over synthetic conversations (grp = doc_id %
    50, the collapse_topk grouping) — the oracle-checkable mirror of
    Engine.search_docs' scoring math: tf summed within the group, dl =
    the group's total token count, df = distinct groups containing the
    term, N/avgdl over groups (avgdl from exact integer sums).  Top-10
    groups by score."""
    docs = _tokenized(spark, sf_dir)
    tok = docs.select(
        (F.col("doc_id") % 50).cast("long").alias("grp"),
        F.explode("tokens").alias("term"),
    )
    gdl = tok.groupBy("grp").agg(F.count("*").cast("long").alias("dl"))
    st = gdl.agg(
        F.count("*").alias("n"), F.sum("dl").cast("long").alias("s")
    ).collect()[0]
    n, avgdl = int(st["n"]), int(st["s"]) / int(st["n"])
    tf = (
        tok.where(F.col("term").isin(list(BM25_TERMS)))
        .groupBy("grp", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    j = tf.join(dfc, "term").join(gdl, "grp")
    return _with_release(_top10_by_sum(j, _bm25_contrib(n, avgdl), key="grp"), docs)


def q_boosted_bm25(spark, sf_dir):
    """Per-term query-time boosts (engine.py search_boosted — Lucene
    `term^w`): the flagship BM25 query with window^3, query^0.25 — each
    term's contribution scales by its weight, matching unchanged.  The
    engine folds the boost into the driver-side idf literal
    (tests/test_collapse.py pins bit-identity to the boosted oracle);
    this mirror applies the same per-term factor, the DuckDB oracle via
    CASE."""
    w = (
        F.when(F.col("term") == "window", F.lit(3.0))
        .when(F.col("term") == "query", F.lit(0.25))
        .otherwise(F.lit(1.0))
    )
    j, contrib, docs = _bm25_terms(
        spark, sf_dir, F.col("term").isin(list(BM25_TERMS)), weight=w
    )
    out = _rounded_scores(j, contrib).orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    return _with_release(out, docs)


def q_collapse_topk(spark, sf_dir):
    """Conversation-collapsed top-k (engine.py search_collapsed — the
    Lucene/ES field-collapsing shape): one row per group, ranked by its
    best-scoring member, with the group's matching-doc count.  Docs are
    grouped into synthetic conversations (grp_id = doc_id % 50) since
    the documents table is single-turn.  The ENGINE twin uses a doc-keyed
    max_by aggregation + TakeOrderedAndProject and is pinned
    rank-identical to the Python oracle (tests/test_collapse.py); this
    driver-plan mirror argmaxes on the ROUNDED score via a window so
    Spark and DuckDB order bit-identically."""
    from pyspark.sql.window import Window

    j, contrib, docs = _bm25_terms(spark, sf_dir, F.col("term").isin(list(BM25_TERMS)))
    scored = _rounded_scores(j, contrib).withColumn("grp_id", F.col("doc_id") % 50)
    w = Window.partitionBy("grp_id")
    worder = w.orderBy(F.desc("score"), F.asc("doc_id"))
    out = (
        scored.withColumn("rn", F.row_number().over(worder))
        .withColumn("n_matched", F.count("*").over(w))
        .where(F.col("rn") == 1)
        .select("grp_id", "doc_id", "score", "n_matched")
        .orderBy(F.desc("score"), F.asc("grp_id"))
        .limit(10)
    )
    return _with_release(out, docs)


def q_search_after_page2(spark, sf_dir):
    """Keyset pagination (engine.py search_after): PAGE TWO of the BM25
    ranking fetched through the page-1 cursor — the previous page's last
    (doc_id, score) re-injected as a filter on the scoring frame, which
    by total-order construction equals rows 11-20 (the oracle states it
    as OFFSET 10).  No-gap/no-overlap tiling and the engine-side cursor
    semantics are pinned in tests/test_collapse.py; ranking here is on
    the ROUNDED score + doc_id so both engines order bit-identically."""
    j, contrib, docs = _bm25_terms(spark, sf_dir, F.col("term").isin(list(BM25_TERMS)))
    scored = _rounded_scores(j, contrib)
    page1 = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()
    d, s = page1[-1]["doc_id"], page1[-1]["score"]
    after = (F.col("score") < s) | (
        (F.col("score") == s) & (F.col("doc_id") > d)
    )
    out = scored.where(after).orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    return _with_release(out, docs)


BATCH_TERMS: dict[int, tuple[str, ...]] = {
    0: ("spark", "window", "query"),
    1: ("fast", "table", "scan"),
    2: ("group", "order"),
}


def _batch_scores(spark, sf_dir):
    """Unrounded per-(query_id, doc_id) BM25 sums `s` for every
    BATCH_TERMS query over one tokenization and one set of statistics.
    Returns (scores, cached frame)."""
    import functools

    all_terms = sorted({t for ts in BATCH_TERMS.values() for t in ts})
    base, contrib, docs = _bm25_terms(spark, sf_dir, F.col("term").isin(all_terms))
    per_q = [
        base.where(F.col("term").isin(list(terms)))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("s"))
        .select(F.lit(qid).alias("query_id"), "doc_id", "s")
        for qid, terms in BATCH_TERMS.items()
    ]
    return functools.reduce(DataFrame.unionByName, per_q), docs


def q_bm25_batch(spark, sf_dir):
    """Batch BM25 top-10 per query_id — the oracle-checkable shape of
    Engine.search_many (one tokenization pass, per-query scores, windowed
    per-query top-k)."""
    from pyspark.sql.window import Window

    scored, docs = _batch_scores(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("doc_id"))
    out = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("query_id", "doc_id", F.round("s", 4).alias("score"))
        .orderBy("query_id", F.desc("s"), F.asc("doc_id"))
    )
    return _with_release(out, docs)


def q_rank_eval(spark, sf_dir):
    """IR metric evaluation over the batch BM25 ranking (ES _rank_eval;
    the oracle-checkable mirror of Engine.rank_eval — same ES metric
    definitions, tests/test_rank_eval.py pins the engine twin to
    hand-rolled metrics).  Judgments are a deterministic modulo rule so
    both sides derive the identical judged set with no side table:
    grade 2 when doc_id %% 13 == query_id, else grade 1 when
    doc_id %% 7 == query_id, else unjudged (grade 0 on retrieved rows).
    Per query: precision@10, recall@10, MRR, NDCG@10, rounded to 6."""
    from pyspark.sql.window import Window

    scored, docs = _batch_scores(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("doc_id"))
    grade = (
        F.when(F.col("doc_id") % 13 == F.col("query_id"), 2)
        .when(F.col("doc_id") % 7 == F.col("query_id"), 1)
        .otherwise(0)
    )
    g = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .withColumn("grade", grade)
    )
    rel = F.when(F.col("grade") > 0, 1).otherwise(0)
    per = g.groupBy("query_id").agg(
        (F.sum(rel) / F.count("*")).alias("p"),
        F.sum(rel).cast("double").alias("nrel_ret"),
        F.max(F.when(F.col("grade") > 0, F.lit(1.0) / F.col("rank"))).alias("mrr0"),
        F.sum(
            (F.pow(F.lit(2.0), F.col("grade")) - 1.0)
            / F.log2(F.col("rank") + F.lit(1.0))
        ).alias("dcg"),
    )
    qids = spark.createDataFrame([(q,) for q in BATCH_TERMS], "query_id int")
    jd = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(qids))
        .withColumn("grade", grade)
        .where(F.col("grade") > 0)
    )
    wj = Window.partitionBy("query_id").orderBy(F.desc("grade"), F.asc("doc_id"))
    ideal = (
        jd.withColumn("r", F.row_number().over(wj))
        .where(F.col("r") <= 10)
        .groupBy("query_id")
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.col("grade")) - 1.0)
                / F.log2(F.col("r") + F.lit(1.0))
            ).alias("idcg")
        )
    )
    tot = jd.groupBy("query_id").agg(F.count("*").cast("double").alias("n_rel"))
    out = (
        per.join(ideal, "query_id")
        .join(tot, "query_id")
        .select(
            "query_id",
            F.round("p", 6).alias("precision_k"),
            F.round(F.col("nrel_ret") / F.col("n_rel"), 6).alias("recall_k"),
            F.round(F.coalesce("mrr0", F.lit(0.0)), 6).alias("mrr"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_k"),
        )
        .orderBy("query_id")
    )
    return _with_release(out, docs)


def q_topk_per_lang(spark, sf_dir):
    """Windowed top-N per group (the 'top 2 longest docs per language'
    dashboard shape): one hash shuffle on lang, rank inside the
    partition, no global sort.  Deterministic tiebreak (n_chars DESC,
    doc_id ASC)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        _docs(spark, sf_dir)
        .select("lang", "doc_id", "n_chars", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 2)
        .orderBy("lang", "rk")
    )


def q_union_dedup(spark, sf_dir):
    d = _docs(spark, sf_dir)
    a = d.where(F.col("lang") == "en").select("doc_id")
    b = d.where(F.col("source") == "src1").select("doc_id")
    return a.unionByName(b).dropDuplicates(["doc_id"])


def q_doc_filter_agg(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .where((F.col("lang") == "en") & (F.col("n_chars") > 200))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.round(F.avg("n_chars"), 3).alias("avg_chars"),
        )
    )


def q_topk_longest(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# dedup / similarity / text analysis


def q_dedup_exact(spark, sf_dir):
    # NOTE: the driver corpus has no byte-identical docs, so this row is
    # green with 0 rows on both sides (schema+hash still compared); the
    # VALUE behavior on planted duplicates is pytest-oracled through the
    # same entry function (tests/test_pipeline.py test_exact_duplicates).
    return dedup.exact_duplicates(_docs(spark, sf_dir))


def q_dup_clusters(spark, sf_dir):
    """Connected-component dedup clusters (pipeline/dedup.py
    duplicate_clusters — distributed min-label propagation) over sampled
    n-gram-Jaccard near-dup pairs (the oracle-able pair source; the scale
    path clusters minhash_lsh_verified pairs instead)."""
    pairs = dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, sample_mod=5, threshold=0.5
    ).select("a", "b")
    return dedup.duplicate_clusters(pairs).orderBy("doc_id")


def q_dedup_corpus(spark, sf_dir):
    """End of the dedup pipeline: the CLEANED corpus — docs minus
    non-representative duplicate-cluster members (pipeline/dedup.py
    deduped_corpus), pairs from the oracle-able sampled n-gram Jaccard
    source (same pair source as dup_clusters)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, sample_mod=5, threshold=0.5)
    return dedup.deduped_corpus(docs, pairs).select("doc_id", "source", "n_chars")


def q_dedup_corpus_best(spark, sf_dir):
    """Quality-keeper dedup (pipeline/dedup.py deduped_corpus_best):
    per duplicate cluster keep the member with the LARGEST n_chars
    (tie: smallest doc_id) instead of the smallest doc_id — real
    pipelines keep the best copy.  Cluster map broadcast, argmax on the
    cluster-sized slice, losers back as a broadcast anti-join; the
    corpus is never shuffled."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, sample_mod=5, threshold=0.5)
    return dedup.deduped_corpus_best(docs, pairs, score_col="n_chars").select(
        "doc_id", "source", "n_chars"
    )


def q_ngram_jaccard(spark, sf_dir):
    # threshold chosen to yield NONZERO rows on the driver corpus (max
    # observed sampled jaccard ~0.05): a green row should verify VALUES,
    # not an empty set (VERDICT r2 observation)
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, sample_mod=25, threshold=0.02)


def q_decon_hits(spark, sf_dir):
    """Benchmark decontamination, detection stage (pipeline/
    decontaminate.py contamination_hits): docs sharing any word 4-gram
    with the benchmark slice (doc_id % 41 == 0 — a deterministic
    stand-in for an eval set; no external data).  The benchmark n-gram
    set is broadcast; the corpus is never shuffled."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 41 == 0)
    pool = docs.where(F.col("doc_id") % 41 != 0)
    return decon.contamination_hits(pool, bench, n=4).orderBy("doc_id")


def q_decon_corpus(spark, sf_dir):
    """End of the decontamination pipeline: the training pool minus
    contaminated docs (pipeline/decontaminate.py decontaminated_corpus
    — broadcast anti-join, corpus keeps its scan partitioning)."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 41 == 0)
    pool = docs.where(F.col("doc_id") % 41 != 0)
    return decon.decontaminated_corpus(pool, bench, n=4).select(
        "doc_id", "source", "n_chars"
    )


def q_minhash_lsh(spark, sf_dir):  # rows-only: xxhash64 not SQL-portable
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), k=32, bands=8)


def q_minhash_lsh_verified(spark, sf_dir):  # rows-only (pytest-oracled:
    # tests/test_pipeline.py asserts every emitted pair matches exact
    # jaccard and the plan has no cross join)
    return dedup.minhash_lsh_verified(_docs(spark, sf_dir), threshold=0.7)


def q_minhash_lsh_portable(spark, sf_dir):
    """Same banded-LSH pipeline on the SQL-portable md5-derived hash —
    value-for-value DuckDB-oracled (the xxhash64 fast path keeps the
    rows-only check + pytest oracle)."""
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), k=16, bands=4, portable_hash=True
    )


def q_simhash_portable(spark, sf_dir):
    return dedup.simhash64(_docs(spark, sf_dir), portable_hash=True)


def q_simhash(spark, sf_dir):  # rows-only
    return dedup.simhash64(_docs(spark, sf_dir))


def q_simhash_pairs(spark, sf_dir):  # rows-only (pytest pigeonhole-recall
    # oracle vs exact Hamming, tests/test_pipeline.py)
    return dedup.simhash_neardup_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_clean_corpus(spark, sf_dir):
    """The composed end-to-end cleaning pipeline (pipeline/clean.py
    clean_corpus): quality gate (>=15 tokens) -> repetition gate
    (dup-2-gram <= 0.08) -> benchmark decontamination (4-grams vs the
    doc_id%41 eval slice) -> near-dup loser removal -> deterministic
    train/val/test split — one scan, two broadcast anti-joins, zero
    corpus shuffles.  Every stage is individually oracled elsewhere;
    this entry value-checks their composition."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 41 == 0)
    pool = docs.where(F.col("doc_id") % 41 != 0)
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, sample_mod=5, threshold=0.5)
    return clean.clean_corpus(pool, bench, pairs).select(
        "doc_id", "source", "n_chars", "split"
    )


def q_clean_corpus_lsh(spark, sf_dir):
    """clean_corpus on its SCALE-path pair source: banded MinHash-LSH +
    exact-Jaccard verify instead of the sampled pairwise oracle join —
    the configuration a 100 TB run uses (rows-only here: xxhash64; the
    composition's values are oracled by clean_corpus, the pair source
    by minhash_lsh_portable / the verify pytest)."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 41 == 0)
    pool = docs.where(F.col("doc_id") % 41 != 0)
    ver = dedup.minhash_lsh_verified(docs, threshold=0.7)
    out = clean.clean_corpus(pool, bench, ver.select("a", "b")).select(
        "doc_id", "source", "n_chars", "split"
    )
    # .select() sheds the python-side release handle — reattach it so the
    # bench's per-rep unpersist frees the shared shingle cache
    out._joie_persisted = ver._joie_persisted
    return out


def q_gopher_filter(spark, sf_dir):
    """Gopher composite quality filter (pipeline/clean.py gopher_filter,
    Rae et al. 2021 Table A1 rules over the map-side signals): per-doc
    keep verdict + fixed-order comma-joined failure reasons — pure
    scan-stage codegen, zero shuffles.  Thresholds and rule order are
    injected into the oracle from the same GOPHER_DEFAULTS dict, so the
    two sides cannot drift."""
    return clean.gopher_filter(_docs(spark, sf_dir))


def q_redact_pii(spark, sf_dir):
    """PII scrubbing (pipeline/text.py redact_pii).  The synthetic
    corpus contains no PII, so this row's green value check pins the
    no-match identity (counts 0, text unchanged) and the regex parity
    across engines; PLANTED email/IP/phone values are pytest-oracled
    (tests/test_pipeline.py test_redact_pii_planted) — same division of
    labor as dedup_exact."""
    return text.redact_pii(_docs(spark, sf_dir))


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals (pipeline/text.py
    repetition_stats): duplicate-line / 2-gram / 5-gram occurrence
    fractions — pure array arithmetic on the scan, no shuffle."""
    return text.repetition_stats(_docs(spark, sf_dir))


def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment (pipeline/sampling.py
    with_split): salted-hash thresholds, map-side only — membership is
    stable across re-runs, partitioning, and cluster size (an RNG
    sample is not), so a doc can never silently migrate into val."""
    return sampling.with_split(_docs(spark, sf_dir)).select("doc_id", "split")


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling (pipeline/sampling.py
    stratified_sample): 20% per lang, 50% for 'de' — pure map-side
    filter, zero shuffles at any corpus size."""
    return sampling.stratified_sample(
        _docs(spark, sf_dir), 0.2, strata="lang", fractions={"de": 0.5}
    ).select("doc_id", "lang")


def q_mixture_sample(spark, sf_dir):
    """Epoch-weighted corpus mixture (pipeline/sampling.py
    mixture_sample): src0 x2.5 (two full copies + a deterministic half
    get a third), src1 x0.5, src2 dropped, everything else x1 — one
    map-side explode, no join, no shuffle."""
    return sampling.mixture_sample(
        _docs(spark, sf_dir), {"src0": 2.5, "src1": 0.5, "src2": 0.0}
    ).select("doc_id", "source", "epoch")


def q_top_ngram_share(spark, sf_dir):
    """Gopher top-2-gram dominance share (pipeline/text.py
    top_ngram_share): per-doc mode aggregation — explode + two
    doc_id-keyed shuffles with map-side partial agg; count-based share
    so top-count ties cannot make the value nondeterministic."""
    return text.top_ngram_share(_docs(spark, sf_dir), n=2)


def q_vocab_coverage(spark, sf_dir):
    """Top-100 vocabulary with cumulative token coverage
    (pipeline/vocab.py vocab_coverage) — tokenizer-training prep: one
    term-keyed partial-agg shuffle, TakeOrdered top-V cut, running-sum
    window over exactly V rows, corpus token total as a 1-row
    broadcast."""
    return vocab.vocab_coverage(_docs(spark, sf_dir), v=100)


def q_tfidf_topk(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (pipeline/vocab.py tfidf_topk):
    tf/df from a single tokenize pass, term-keyed equi-join, per-doc
    rank window bounded by one document's distinct terms.  Ranked on
    the 4-decimal-rounded score with term-ASC tiebreak so the order is
    engine-reproducible."""
    return vocab.tfidf_topk(_docs(spark, sf_dir), k=3)


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (pipeline/bpe.py train_bpe): merges
    learned over the corpus word-frequency table — distributed part is
    one partial-agg word count capped by top_words; the merge loop is
    driver-side over that bounded dict.  Iterative trainer => no SQL
    oracle (driver contract's documented exception); the merge sequence
    incl. tie-breaks is pinned against a hand-computed reference in
    tests/test_pipeline.py."""
    return bpe.train_bpe(_docs(spark, sf_dir), n_merges=50, top_words=5000)


def q_bpe_encode(spark, sf_dir):
    """Corpus token counts under the trained BPE tokenizer
    (pipeline/bpe.py bpe_encode): Arrow-batched pandas UDF with merge
    ranks in the closure and a per-batch distinct-word memo — the
    documented iterative slow path; counts pinned to a pure-Python
    per-word reference in tests/test_pipeline.py."""
    merges = [
        (r["left"], r["right"])
        for r in bpe.train_bpe(
            _docs(spark, sf_dir), n_merges=50, top_words=5000
        ).collect()
    ]
    return bpe.bpe_encode(_docs(spark, sf_dir), merges)


def q_web_stats(spark, sf_dir):
    """C4-style web-cleaning signals (pipeline/text.py web_stats):
    URL density, bullet/ellipsis/terminal-punct line fractions,
    boilerplate marker hits — one codegen pass on the scan, no shuffle.
    The synthetic corpus contains no URLs/markers, so this row pins the
    no-match identity; planted values are pytest-oracled
    (tests/test_pipeline.py test_web_stats_planted)."""
    return text.web_stats(_docs(spark, sf_dir))


def q_boilerplate_lines(spark, sf_dir):
    """Cross-document boilerplate-line detection (pipeline/web.py
    boilerplate_lines — CCNet-style): lines repeated across >= 3
    distinct docs of the same source.  The synthetic corpus has no
    newlines, so this row pins the empty-set identity; planted
    boilerplate is pytest-oracled (tests/test_pipeline.py
    test_boilerplate_planted)."""
    return web.boilerplate_lines(_docs(spark, sf_dir), min_docs=3)


def q_web_clean_corpus(spark, sf_dir):
    """Boilerplate-line removal, the materialized corpus (pipeline/
    web.py remove_boilerplate_lines): per-source boilerplate set is
    broadcast, the rewrite is a scan-stage array filter — the corpus is
    never shuffled.  At the driver this pins the identity rewrite
    (text_clean == text, 0 dropped) over every document; planted values
    are pytest-oracled."""
    return web.remove_boilerplate_lines(_docs(spark, sf_dir), min_docs=3)


def q_dsir_weights(spark, sf_dir):
    """DSIR hashed-ngram importance weights (pipeline/importance.py,
    Xie et al. 2023): target = doc_id % 31 == 0 slice, raw pool = the
    rest; unigram+bigram occurrences hashed into 256 md5-portable
    buckets, Laplace-smoothed log probability ratio per bucket
    (broadcast, B rows), per-doc sum + length-debiased mean.  The only
    corpus-sized shuffle keys on doc_id."""
    docs = _docs(spark, sf_dir)
    tgt = docs.where(F.col("doc_id") % 31 == 0)
    pool = docs.where(F.col("doc_id") % 31 != 0)
    return importance.importance_weights(pool, tgt, n_buckets=256)


def q_dsir_select(spark, sf_dir):
    """DSIR selection (pipeline/importance.py dsir_select): the 100
    most target-like pool docs by mean log importance weight,
    deterministic tiebreak on doc_id; orderBy+limit compiles to
    TakeOrderedAndProject (plan-audited dsir_take_ordered)."""
    docs = _docs(spark, sf_dir)
    tgt = docs.where(F.col("doc_id") % 31 == 0)
    pool = docs.where(F.col("doc_id") % 31 != 0)
    return importance.dsir_select(pool, tgt, k=100, n_buckets=256)


def q_dsir_select_fast(spark, sf_dir):  # rows-only (xxhash64 buckets
    # aren't SQL-portable; the md5 twin q_dsir_select above is the fully
    # VALUE-oracled same pipeline, and test_dsir_fast_hash_selects_like_
    # portable pins this path's selection behavior) — the benched
    # production-hash shape
    docs = _docs(spark, sf_dir)
    tgt = docs.where(F.col("doc_id") % 31 == 0)
    pool = docs.where(F.col("doc_id") % 31 != 0)
    return importance.dsir_select(pool, tgt, k=100, n_buckets=256, portable=False)


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk packing assignment (pipeline/packing.py
    pack_sequences): exact global token prefix-sum via the two-phase
    scan (range partition -> per-partition totals -> broadcast bases +
    local window) — the only single-task window runs over #partitions
    rows, so the op survives 10^8 docs where a bare
    Window.orderBy(doc_id) would collapse to one core."""
    out = packing.pack_sequences(_docs(spark, sf_dir), seq_len=256)
    return out


def q_pack_manifest(spark, sf_dir):
    """Loader-facing packing manifest (pipeline/packing.py
    pack_manifest): one row per (sequence, doc-slice), map-side explode
    of the assignment — value-oracled end-to-end vs a DuckDB
    generate_series unnest."""
    a = packing.pack_sequences(_docs(spark, sf_dir), seq_len=256)
    return packing.pack_manifest(a, seq_len=256)


def q_substring_spans(spark, sf_dir):
    """Exact-substring dedup spans (pipeline/dedup.py
    repeated_substring_spans): Lee-et-al windowed form — repeated
    5-token windows, keep the globally-first occurrence, merge
    overlapping removals into maximal [start_tok, end_tok) spans.
    (w=5 here: the synthetic corpus's docs are short; the API default
    is the paper's 50.)"""
    out = dedup.repeated_substring_spans(_docs(spark, sf_dir), w=5)
    return out


def q_substring_dedup_corpus(spark, sf_dir):
    """Materialized substring-deduped corpus (pipeline/dedup.py
    dedup_substrings): every doc with its repeated spans cut and token
    sequence re-joined; n_removed counts cut tokens."""
    return dedup.dedup_substrings(_docs(spark, sf_dir), w=5)


def q_select_by_budget(spark, sf_dir):
    """Token-budget corpus selection (pipeline/sampling.py
    select_by_budget): best-score-first greedy under a global 10k-token
    budget — exact global prefix sum over (score DESC, doc_id) via
    packing.global_cumsum's two-phase scan."""
    return sampling.select_by_budget(
        _docs(spark, sf_dir), budget_tokens=10_000, score_col="n_chars"
    )


def q_corpus_summary(spark, sf_dir):
    """Corpus-card rollup (pipeline/text.py corpus_summary): per
    (source, lang) doc/token counts + length bounds — one small-key
    groupBy with partial agg, token counting inline on the scan."""
    return text.corpus_summary(_docs(spark, sf_dir))


def q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe split (pipeline/sampling.py cluster_safe_split):
    assignment hashes the duplicate-cluster representative so near-dup
    pairs can never straddle the train/val boundary.  Pair source: the
    oracle-able sampled n-gram Jaccard (same as dup_clusters; the scale
    path feeds minhash_lsh_verified pairs instead)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, sample_mod=5, threshold=0.5)
    return sampling.cluster_safe_split(docs, pairs).select("doc_id", "split")


def q_simhash_pairs_portable(spark, sf_dir):
    """Same banded pair generation (16-bit chunk equi-join + exact
    bit_count(xor) verify) on the SQL-portable md5-derived signature —
    the banding/verify machinery itself gets a full VALUE oracle (the
    fast xxhash64 path stays rows-only + pytest pigeonhole-recall)."""
    return dedup.simhash_neardup_pairs(
        _docs(spark, sf_dir), max_hamming=3, portable_hash=True
    )


def q_embedding_neardup(spark, sf_dir):
    # corpus embeddings are near-isotropic (sampled cos p99.9 ~0.46):
    # threshold 0.30 yields a real result set to value-check
    return dedup.embedding_neardup_pairs(_emb(spark, sf_dir), threshold=0.30, sample_mod=10)


def q_ann_cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return ann.cosine_topk(emb.where(F.col("vec_id") != 0), qv, k=10)


def q_knn_label_eval(spark, sf_dir):
    """kNN-classifier evaluation over the embedding table (the
    embedding-quality probe a training pipeline runs after re-embedding):
    for 20 probe vectors, brute-force cosine top-5 neighbours (self
    excluded), majority-vote the neighbours' labels (count DESC, label
    ASC tiebreak — deterministic), compare to the probe's own label →
    (vec_id, true_label, pred_label, correct).  Scale shape: probes
    broadcast against the base scan (same as ann_cosine_topk), per-probe
    window top-5, label vote is a tiny (probe, label) partial agg."""
    from pyspark.sql.window import Window

    emb = _emb(spark, sf_dir)
    probes = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("true_label"),
    )
    j = (
        emb.select("vec_id", "embedding", "label")
        .crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("qid"))
    )
    cos = ann.cosine_expr(F.col("embedding"), F.col("qe"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    top = (
        j.select("qid", "true_label", "vec_id", "label", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
    )
    votes = top.groupBy("qid", "true_label", "label").agg(
        F.count("*").alias("v")
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("v"), F.asc("label"))
    pred = votes.withColumn("r", F.row_number().over(wv)).where(F.col("r") == 1)
    return pred.select(
        F.col("qid").alias("vec_id"),
        "true_label",
        F.col("label").alias("pred_label"),
        F.when(F.col("label") == F.col("true_label"), 1)
        .otherwise(0)
        .alias("correct"),
    ).orderBy("vec_id")


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via Reciprocal Rank Fusion (pipeline/ann.py
    rrf_fuse — Cormack et al. 2009): the BM25 top-20 lexical list fused
    with the embedding-cosine top-20 list (vec_id shares the doc_id
    space) by Σ 1/(60+rank), both lists ranked on their ROUNDED scores +
    id tiebreak so Spark and DuckDB rank identically.  Fusion cost is
    candidate-set-sized (N·k rows), never corpus-sized."""
    j, contrib, docs = _bm25_terms(spark, sf_dir, F.col("term").isin(list(BM25_TERMS)))
    lex = _rounded_scores(j, contrib).orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    sem = (
        ann.cosine_topk(emb.where(F.col("vec_id") != 0), qv, k=20)
        .select(F.col("vec_id").alias("doc_id"), F.col("cos").alias("score"))
    )
    return _with_release(ann.rrf_fuse([lex, sem], id_col="doc_id", k0=60, topk=10), docs)


def q_sem_decon_hits(spark, sf_dir):
    """Semantic decontamination (pipeline/decontaminate.py semantic_hits):
    eval set = every corpus vector with vec_id % 100 == 7 (PLANTED
    contamination — the realistic leakage case: eval examples present in
    the training pool verbatim, cos = 1.0, identical LSH signature so
    recall is exactly 1 for them); flag corpus vectors with cos ≥ 0.9 vs
    any eval vector via the md5-portable hyperplane bucket join + exact
    cosine verify.  The DuckDB oracle replicates signature, multi-probe
    expansion, join and verify value-for-value."""
    emb = _emb(spark, sf_dir).where(F.col("vec_id") != 0)
    ev = emb.where(F.col("vec_id") % 100 == 7)
    return decon.semantic_hits(
        emb, ev, tau=0.9, n_bits=ANN_PORTABLE_BITS, dim=ANN_DIM,
        probe_hamming=1, portable=True,
    )


def q_ann_lsh_bucketed(spark, sf_dir):  # rows-only (xxhash64 hyperplanes)
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return ann.lsh_bucketed_topk(emb.where(F.col("vec_id") != 0), qv, k=10, n_bits=8)


ANN_PORTABLE_BITS, ANN_DIM = 4, 64


def q_ann_lsh_bucketed_portable(spark, sf_dir):
    """Bucketed hyperplane ANN on md5-parity hyperplanes — the
    value-oracle twin of ann_lsh_bucketed (VERDICT r3 item 6): the
    signature arithmetic is the same left-assoc float64 sequence in Spark
    SQL and DuckDB, so the bucket filter + cosine re-rank machinery gets
    a green VALUE row, not just rows-only."""
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return ann.lsh_bucketed_topk_portable(
        emb.where(F.col("vec_id") != 0), qv, k=10, n_bits=ANN_PORTABLE_BITS
    )


def q_ann_ivf_topk(spark, sf_dir):  # rows-only (xxhash-free but the
    # pandas-UDF assignment isn't SQL; pytest oracle: tests/test_pipeline.py
    # test_ivf_recall_and_determinism; the VALUE oracle for the IVF
    # pipeline shape is q_ann_ivf_portable below)
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    rest = emb.where(F.col("vec_id") != 0)
    C = ann.kmeans_centroids(rest, k=16)
    return ann.ivf_topk(rest, qv, C, k=10, nprobe=4)


IVF_PORTABLE_CELLS, IVF_PORTABLE_NPROBE = 8, 2
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _ivf_portable_params(sf_dir: str):
    """(centroids, query_vec, probe cells) derived WITHOUT Spark (pyarrow
    read + the shared numpy k-means core), so queries() and oracle_sql()
    train bit-identical centroids and probe the same cells.  The driver
    compares at sf0.01 (ORACLE_SF_DIR); the Spark side uses its sf_dir,
    which is the same directory in that comparison."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "embeddings.parquet")
    C = ann.kmeans_centroids_from_parquet(
        path, k=IVF_PORTABLE_CELLS, exclude_vec_id=0
    )
    t = pq.read_table(path, columns=["vec_id", "embedding"]).to_pydict()
    qv = next(
        [float(x) for x in e] for v, e in zip(t["vec_id"], t["embedding"]) if v == 0
    )
    probe = ann.probe_cells_portable(qv, C, IVF_PORTABLE_NPROBE)
    return C, qv, probe


def q_ann_ivf_portable(spark, sf_dir):
    """IVF ANN with portable-SQL cell assignment (VERDICT r4 item 3):
    centroids from the deterministic k-means (injected as CAST literals),
    per-vector cell = first-index-wins argmax over left-assoc dot chains,
    nprobe cell filter, exact cosine re-rank — every step reproducible in
    DuckDB, so the IVF pipeline shape gets a green VALUE row (the
    pandas-UDF fast path q_ann_ivf_topk keeps its rows-only + pytest
    oracle)."""
    C, qv, _probe = _ivf_portable_params(sf_dir)
    emb = _emb(spark, sf_dir)
    return ann.ivf_topk_portable(
        emb.where(F.col("vec_id") != 0), qv, C, k=10, nprobe=IVF_PORTABLE_NPROBE
    )


SEMDEDUP_CELLS, SEMDEDUP_EPS = 8, 0.35


def _semdedup_centroids(sf_dir: str):
    """Spark-free centroid training (the IVF recipe): pyarrow read + the
    shared numpy k-means core, so queries() and oracle_sql() inject the
    bit-identical centroid matrix."""
    return ann.kmeans_centroids_from_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), k=SEMDEDUP_CELLS
    )


def q_semdedup(spark, sf_dir):  # rows-only (pandas-UDF cell assignment
    # isn't SQL; pytest oracles: test_semdedup_planted_keeper_and_drops
    # recomputes the greedy in pure Python and
    # test_semdedup_portable_matches_fast_on_gaussian pins this path to
    # the VALUE-oracled portable twin below) — the benched scale shape
    c_path = os.path.join(sf_dir, "embeddings.parquet")
    C = ann.kmeans_centroids_from_parquet(c_path, k=SEMDEDUP_CELLS)
    return semdedup.semdedup_corpus(_emb(spark, sf_dir), C, SEMDEDUP_EPS)


def q_semdedup_drops(spark, sf_dir):
    """SemDeDup (pipeline/semdedup.py, Abbas et al. 2023): k-means cells
    → within-cell greedy ordered by centroid-cosine — portable-SQL cell
    assignment so the full drop set (vec_id, cell, witness) is
    value-checked against DuckDB."""
    C = _semdedup_centroids(sf_dir)
    return semdedup.semdedup_drops(
        _emb(spark, sf_dir), C, SEMDEDUP_EPS, portable=True
    )


def q_semdedup_corpus(spark, sf_dir):
    """The semantically deduplicated corpus (scalar projection — the
    embedding array itself is float32 and stays out of the value hash,
    same convention as every embedding entry)."""
    C = _semdedup_centroids(sf_dir)
    kept = semdedup.semdedup_corpus(
        _emb(spark, sf_dir), C, SEMDEDUP_EPS, portable=True
    )
    return kept.select("vec_id", "label")


# CCNet head/middle/tail cuts: the sf0.01 terciles of ppl_score under the
# en-reference model, PINNED as literals so the tier CASE is
# oracle-portable (production derives cuts per-corpus with
# perplexity.ppl_cuts — one approxQuantile pass)
PPL_CUTS = (280.0, 296.3)


def q_ppl_score(spark, sf_dir):
    """CCNet-style perplexity (pipeline/perplexity.py): hashed-bigram LM
    trained on the en documents, every document scored — md5-portable
    buckets, so model training AND scoring are value-checked."""
    d = _docs(spark, sf_dir)
    return perplexity.ppl_score(d, d.where(F.col("lang") == "en"))


def q_ppl_tiers(spark, sf_dir):
    d = _docs(spark, sf_dir)
    s = perplexity.ppl_score(d, d.where(F.col("lang") == "en"))
    return perplexity.ppl_tiers(s, *PPL_CUTS)


def q_quality_score(spark, sf_dir):
    return text.quality_score(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return text.lang_id_heuristic(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return text.fingerprint(_docs(spark, sf_dir))


def q_bpe_token_count(spark, sf_dir):
    return text.bpe_token_count(_docs(spark, sf_dir))


def q_token_count_by_lang(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.select("lang", F.size(text.sql_tokens()).cast("long").alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").cast("long").alias("total_tokens"))
    )


# ---------------------------------------------------------------------------
# generic relational constituents (filters/joins/aggs/sort+limit)


def q_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
            F.count("*").cast("long").alias("cnt"),
        )
    )


def q_join_revenue_topk(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    )
    per_order = li.groupBy("l_orderkey").agg(F.sum(rev).alias("rev_d"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            "o_orderstatus",
            F.col("rev_d").cast("double").alias("revenue"),
        )
        .orderBy(F.desc("rev_d"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape (local-supplier revenue by nation): lineitem joins
    orders on orderkey, then customer/supplier/nation/region — with the
    same-nation constraint (c_nationkey = s_nationkey) and a region
    filter.  The Spark-first physical story: every dimension side is
    BROADCAST (region→nation→customer/supplier are metadata-scale next
    to the fact tables), so the only shuffle is the lineitem⋈orders
    fact join + the final small groupBy.  Revenue sums in
    DECIMAL(18,2) (exact, engine-order-independent) and casts to double
    only in the projection, so values hash-match DuckDB exactly."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    )
    nr = n.join(
        F.broadcast(r.where(F.col("r_name").isin("ASIA", "EUROPE"))),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).alias("rev_d"), F.count("*").cast("long").alias("n_items"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("rev_d").cast("double").alias("revenue"),
            "n_items",
        )
        .orderBy(F.desc("rev_d"), F.asc("n_name"))
    )


def q_funnel_counts(spark, sf_dir):
    """Strict-order conversion funnel over the events table: users who
    VIEWed, then CLICKed after their first view, then PURCHASEd after
    that first qualifying click — the product-analytics staple.  Each
    stage is one user-keyed conditional aggregate; the per-user frames
    share the user_id hash partitioning so the three stages cost one
    shuffle lineage, never a self-cross-join.  Deterministic: stage
    anchors are MIN timestamps (ties collapse to the same anchor).
    → one row per step with the surviving-user count."""
    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
    )
    v = ev.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts_s").alias("t1")
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts_s") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts_s") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("t3"))
    )
    rows = [
        v.agg(F.lit(1).alias("step"), F.lit("view").alias("name"),
              F.count("*").cast("long").alias("users")),
        c.agg(F.lit(2).alias("step"), F.lit("click_after_view").alias("name"),
              F.count("*").cast("long").alias("users")),
        p.agg(F.lit(3).alias("step"), F.lit("purchase_after_click").alias("name"),
              F.count("*").cast("long").alias("users")),
    ]
    import functools

    return functools.reduce(DataFrame.unionByName, rows).orderBy("step")


def q_props_k_stats(spark, sf_dir):
    """Semi-structured extraction: pull the integer `k` out of the JSON
    props column and aggregate it per event type (get_json_object stays
    in JVM codegen — no Python).  → (event_type, n, sum_k, avg_k)."""
    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("k").cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.round(F.sum("k").cast("double") / F.count("k"), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


def q_events_daily(spark, sf_dir):
    """Date-histogram aggregation (the ES date_histogram / dashboard
    time-series shape): events per (day, event_type) with the value sum
    in DECIMAL(18,4) (exact, order-independent).  One groupBy on the
    truncated day — at 100 TB this is the partition-friendly rollup
    (day would be the table's partition key)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("day", "event_type")
    )


def q_events_by_type(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


def q_user_sessions(spark, sf_dir):
    """Gap-based sessionization over the events table (the batch twin of
    streaming/sessionizer.py's stateful conversation sessionizer): a new
    session starts when a user's inter-event gap exceeds 30 minutes —
    lag + integer cumsum inside one user-partitioned window (all exact
    integer arithmetic: deterministic under any partitioning).  Per
    user: session count, event count, and the largest session's event
    count.  Scale shape: ONE hash-partition-by-user shuffle; both
    windows and the final agg reuse that partitioning (no second
    exchange)."""
    from pyspark.sql.window import Window

    # ts is TIMESTAMP_NTZ; epoch seconds via a two-step cast.  Any fixed
    # session-timezone offset cancels in the gap differences, so the
    # sessionization is timezone-invariant.
    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    new_s = F.when(
        F.col("ts_s") - F.lag("ts_s").over(w) > 1800, 1
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id", F.sum(new_s).over(w).cast("long")
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.count("*").cast("long").alias("n_ev")
    )
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n_ev").cast("long").alias("n_events"),
            F.max("n_ev").cast("long").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: build a real index over the documents table
    (one doc = one single-turn conversation) and run a BM25 phrase+AND
    query through the full engine."""
    from pyspark.sql import types as T

    from joie_spark.engine import Engine

    sf_dir = "/root/testdata/sf0.001"
    docs = _docs(spark, sf_dir)
    transcripts = docs.select(
        F.format_string("doc-%06d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("doc").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    # cache key = input fingerprint + build params + index-format version,
    # so format/tokenizer/testdata changes can't serve a stale index
    # (ADVICE r1); stale siblings are removed.
    import glob
    import hashlib
    import shutil

    src_path = os.path.join(sf_dir, "documents.parquet")
    sig_parts = [f"fmt={INDEX_FORMAT_VERSION}", "nb=8", "dpb=8", "bc=2"]
    for p in sorted(glob.glob(os.path.join(src_path, "*")) or [src_path]):
        st = os.stat(p)
        sig_parts.append(f"{os.path.basename(p)}:{st.st_size}:{int(st.st_mtime)}")
    fp = hashlib.md5("|".join(sig_parts).encode()).hexdigest()[:10]
    cache_root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".cache"
    )
    index_dir = os.path.join(cache_root, f"entry_index_sf0001_{fp}")
    for stale in glob.glob(os.path.join(cache_root, "entry_index_sf0001*")):
        if stale != index_dir:
            shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(cache_root, exist_ok=True)
    eng = Engine.build(
        spark, transcripts, index_dir, n_buckets=8, docs_per_block=8, block_chunks=2
    )
    return eng.search("table AND fast OR scan", k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "token_stats": q_token_stats,
        "term_df_top100": q_term_df_top100,
        "postings_sample": q_postings_sample,
        "keyword_or": q_keyword_or,
        "and_intersect": q_and_intersect,
        "phrase_adjacency": q_phrase_adjacency,
        "near_window": q_near_window,
        "within_window": q_within_window,
        "prefix_bm25": q_prefix_bm25,
        "regex_bm25": q_regex_bm25,
        "min_match_bm25": q_min_match_bm25,
        "fuzzy_bm25": q_fuzzy_bm25,
        "and_not": q_and_not,
        "percolate_route": q_percolate,
        "mlt_topk": q_mlt_topk,
        "facet_by_lang": q_facet_by_lang,
        "sig_terms": q_sig_terms,
        "bm25_topk": q_bm25_topk,
        "bm25_batch": q_bm25_batch,
        "rank_eval": q_rank_eval,
        "bm25_docs_topk": q_bm25_docs_topk,
        "topk_per_lang": q_topk_per_lang,
        "boosted_bm25": q_boosted_bm25,
        "collapse_topk": q_collapse_topk,
        "search_after_page2": q_search_after_page2,
        "union_dedup": q_union_dedup,
        "doc_filter_agg": q_doc_filter_agg,
        "topk_longest": q_topk_longest,
        "dedup_exact": q_dedup_exact,
        "dedup_corpus": q_dedup_corpus,
        "dedup_corpus_best": q_dedup_corpus_best,
        "gopher_filter": q_gopher_filter,
        "dup_clusters": q_dup_clusters,
        "ngram_jaccard": q_ngram_jaccard,
        "decon_hits": q_decon_hits,
        "decon_corpus": q_decon_corpus,
        "repetition_stats": q_repetition_stats,
        "redact_pii": q_redact_pii,
        "clean_corpus": q_clean_corpus,
        "clean_corpus_lsh": q_clean_corpus_lsh,
        "split_assign": q_split_assign,
        "stratified_sample": q_stratified_sample,
        "leakage_safe_split": q_leakage_safe_split,
        "mixture_sample": q_mixture_sample,
        "top_ngram_share": q_top_ngram_share,
        "vocab_coverage": q_vocab_coverage,
        "tfidf_topk": q_tfidf_topk,
        "bpe_merges": q_bpe_merges,
        "bpe_encode": q_bpe_encode,
        "web_stats": q_web_stats,
        "boilerplate_lines": q_boilerplate_lines,
        "web_clean_corpus": q_web_clean_corpus,
        "dsir_weights": q_dsir_weights,
        "dsir_select": q_dsir_select,
        "dsir_select_fast": q_dsir_select_fast,
        "pack_sequences": q_pack_sequences,
        "pack_manifest": q_pack_manifest,
        "select_by_budget": q_select_by_budget,
        "corpus_summary": q_corpus_summary,
        "substring_spans": q_substring_spans,
        "substring_dedup_corpus": q_substring_dedup_corpus,
        "minhash_lsh": q_minhash_lsh,
        "minhash_lsh_portable": q_minhash_lsh_portable,
        "minhash_lsh_verified": q_minhash_lsh_verified,
        "simhash": q_simhash,
        "simhash_portable": q_simhash_portable,
        "simhash_pairs": q_simhash_pairs,
        "simhash_pairs_portable": q_simhash_pairs_portable,
        "embedding_neardup": q_embedding_neardup,
        "ann_cosine_topk": q_ann_cosine_topk,
        "knn_label_eval": q_knn_label_eval,
        "sem_decon_hits": q_sem_decon_hits,
        "hybrid_rrf": q_hybrid_rrf,
        "ann_lsh_bucketed": q_ann_lsh_bucketed,
        "ann_lsh_bucketed_portable": q_ann_lsh_bucketed_portable,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_portable": q_ann_ivf_portable,
        "semdedup": q_semdedup,
        "semdedup_drops": q_semdedup_drops,
        "semdedup_corpus": q_semdedup_corpus,
        "ppl_score": q_ppl_score,
        "ppl_tiers": q_ppl_tiers,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "bpe_token_count": q_bpe_token_count,
        "token_count_by_lang": q_token_count_by_lang,
        "pricing_summary": q_pricing_summary,
        "join_revenue_topk": q_join_revenue_topk,
        "events_by_type": q_events_by_type,
        "user_sessions": q_user_sessions,
        "events_daily": q_events_daily,
        "funnel_counts": q_funnel_counts,
        "props_k_stats": q_props_k_stats,
        "local_supplier_volume": q_local_supplier_volume,
    }


_STOP = ",".join(f"'{s}'" for s in text.STOPWORDS)
_BPE = text.BPE_PATTERN
_BATCH_ALL = ",".join(
    f"'{t}'" for t in sorted({t for ts in BATCH_TERMS.values() for t in ts})
)
_RE_QIDS = ", ".join(f"({q})" for q in BATCH_TERMS)
_BATCH_UNION = " UNION ALL ".join(
    f"""SELECT {qid} AS query_id, doc_id,
        sum(ln(1.0 + (st.n - df + 0.5)/(df + 0.5)) * (tf * 2.2)
            / (tf + 1.2*(0.25 + 0.75*dl/st.avgdl))) AS s
        FROM base CROSS JOIN st
        WHERE term IN ({','.join(f"'{t}'" for t in terms)})
        GROUP BY doc_id"""
    for qid, terms in BATCH_TERMS.items()
)
_MARKERS = ",".join(f"'{m}'" for m in ["the", "a", "and", "of", "to", "is", "in", "that"])
_TERMS3 = ",".join(f"'{t}'" for t in BM25_TERMS)


def _ann_ivf_portable_oracle() -> str:
    """DuckDB twin of q_ann_ivf_portable: identical centroid literals
    (kmeans_centroids_from_parquet — no Spark needed), identical
    left-assoc dot chains and first-index-wins argmax CASE, same probe
    cell list, exact cosine re-rank."""
    C, _qv, probe = _ivf_portable_params(ORACLE_SF_DIR)
    elem = "{v}[{i}]::DOUBLE"
    d_cols = ",\n                   ".join(
        f"{ann.portable_dot_sql(C[c], 'e.embedding', elem)} AS d{c}"
        for c in range(len(C))
    )
    case = ann.portable_argmax_case(len(C))
    probe_sql = ", ".join(str(int(p)) for p in probe)
    return f"""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            d AS (SELECT e.vec_id, e.embedding,
                   {d_cols}
                  FROM embeddings e WHERE e.vec_id != 0),
            cand AS (SELECT vec_id, embedding FROM d
                     WHERE {case} IN ({probe_sql})),
            p AS (
              SELECT c.vec_id,
                list_sum(list_transform(generate_series(1, len(c.embedding)),
                         i -> c.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)) AS dot,
                sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na,
                sqrt(list_sum(list_transform(q.qe, x -> x::DOUBLE * x::DOUBLE))) AS nb
              FROM cand c CROSS JOIN q)
            SELECT vec_id, round(dot/(na*nb), 4) AS cos FROM p
            ORDER BY dot/(na*nb) DESC, vec_id LIMIT 10"""


def _semdedup_oracle(which: str) -> str:
    """DuckDB twin of q_semdedup_drops / q_semdedup_corpus: identical
    centroid literals (kmeans_centroids_from_parquet), identical
    left-assoc dot chains + first-index-wins argmax CASE for the cell,
    centroid-cosine order key rounded to 4, within-cell pair predicate
    (a.ccr, a.vec_id) < (b.ccr, b.vec_id) with the rounded cosine
    threshold — the SemDeDup greedy as one relational query."""
    C = _semdedup_centroids(ORACLE_SF_DIR)
    n = len(C)
    elem = "{v}[{i}]::DOUBLE"
    d_cols = ",\n                   ".join(
        f"{ann.portable_dot_sql(C[c], 'e.embedding', elem)} AS d{c}"
        for c in range(n)
    )
    case = ann.portable_argmax_case(n)
    pick = " ".join(f"WHEN cell = {c} THEN d{c}" for c in range(n))
    dlist = ", ".join(f"d{c}" for c in range(n))
    base = f"""
            WITH d AS (SELECT e.vec_id, e.embedding,
                   {d_cols}
                  FROM embeddings e),
            m0 AS (SELECT vec_id, embedding, {dlist}, {case} AS cell FROM d),
            m AS (SELECT vec_id, embedding, cell,
                   round((CASE {pick} END)
                     / sqrt(list_sum(list_transform(embedding,
                         x -> x::DOUBLE * x::DOUBLE))), 4) AS ccr
                  FROM m0),
            pr AS (SELECT a.vec_id AS wa, b.vec_id AS vb, b.cell AS cell,
                list_sum(list_transform(generate_series(1, len(a.embedding)),
                         i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) AS dot,
                sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na,
                sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))) AS nb
              FROM m a JOIN m b ON a.cell = b.cell
                AND (a.ccr, a.vec_id) < (b.ccr, b.vec_id)),
            drops AS (SELECT vb AS vec_id, max(cell) AS cell,
                             min(wa) AS witness
                      FROM pr WHERE round(dot/(na*nb), 4) >= {SEMDEDUP_EPS!r}
                      GROUP BY vb)"""
    if which == "drops":
        return base + """
            SELECT vec_id, cell, witness FROM drops"""
    return base + """
            SELECT e.vec_id, e.label FROM embeddings e
            WHERE e.vec_id NOT IN (SELECT vec_id FROM drops)"""


def _sem_decon_oracle() -> str:
    """DuckDB twin of q_sem_decon_hits: identical md5-parity hyperplane
    signatures on both sides, identical multi-probe expansion (identity
    + every 1-bit flip), bucket equi-join, exact-cosine ≥ 0.9 verify,
    (max-cos, min-eval_id) witness per flagged corpus vector."""
    H = ann.portable_hyperplane_components(ANN_PORTABLE_BITS, ANN_DIM)
    sig = ann.portable_signature_sql(H, "embedding", "{v}[{i}]::DOUBLE")
    masks = ", ".join(
        str(m) for m in [0] + [1 << i for i in range(ANN_PORTABLE_BITS)]
    )
    return f"""
            WITH c AS (SELECT vec_id, embedding, {sig} AS sig
                       FROM embeddings WHERE vec_id != 0),
            ev0 AS (SELECT vec_id AS eval_id, embedding AS eval_embedding,
                           {sig.replace('embedding', 'embedding')} AS esig
                    FROM embeddings WHERE vec_id != 0 AND vec_id % 100 = 7),
            ev AS (SELECT eval_id, eval_embedding, xor(esig, m) AS sig
                   FROM ev0 CROSS JOIN unnest([{masks}]) AS t(m)),
            cand AS (SELECT c.vec_id, c.embedding, ev.eval_id, ev.eval_embedding
                     FROM c JOIN ev USING (sig)),
            p AS (
              SELECT vec_id, eval_id,
                list_sum(list_transform(generate_series(1, len(embedding)),
                         i -> embedding[i]::DOUBLE * eval_embedding[i]::DOUBLE))
                / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
                   * sqrt(list_sum(list_transform(eval_embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos_raw
              FROM cand),
            v AS (SELECT * FROM p WHERE cos_raw >= 0.9),
            best AS (SELECT vec_id, eval_id, cos_raw,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY cos_raw DESC, eval_id) AS rn
                     FROM v)
            SELECT vec_id, eval_id, round(cos_raw, 4) AS cos
            FROM best WHERE rn = 1 ORDER BY vec_id"""


def _ann_portable_oracle() -> str:
    """DuckDB twin of q_ann_lsh_bucketed_portable: identical md5-parity
    hyperplanes (portable_hyperplane_components), identical left-assoc
    signature arithmetic, single-bucket filter, exact cosine re-rank."""
    H = ann.portable_hyperplane_components(ANN_PORTABLE_BITS, ANN_DIM)
    sig_e = ann.portable_signature_sql(H, "e.embedding", "{v}[{i}]::DOUBLE")
    sig_q = ann.portable_signature_sql(H, "q.qe", "{v}[{i}]::DOUBLE")
    return f"""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            cand AS (
              SELECT e.vec_id, e.embedding
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id != 0 AND {sig_e} = {sig_q}),
            p AS (
              SELECT c.vec_id,
                list_sum(list_transform(generate_series(1, len(c.embedding)),
                         i -> c.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)) AS dot,
                sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na,
                sqrt(list_sum(list_transform(q.qe, x -> x::DOUBLE * x::DOUBLE))) AS nb
              FROM cand c CROSS JOIN q)
            SELECT vec_id, round(dot/(na*nb), 4) AS cos FROM p
            ORDER BY dot/(na*nb) DESC, vec_id LIMIT 10"""


# shared connected-components CTE over sampled n-gram-Jaccard pairs —
# the oracle for BOTH dup_clusters (cluster labels) and dedup_corpus
# (cleaned corpus = docs minus non-representative members)
# Repeated-5-gram window spans (exact-substring dedup, w=5): windows in
# 0-based token coords; keeper = globally-first (doc_id, pos) occurrence
# per duplicated hash (rn=1); removable occurrences merge into islands by
# the running-max-end gaps-and-islands recurrence — mirrors
# pipeline/dedup.py repeated_substring_spans step for step.
_SUBSTR_CTE = """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents),
            win AS (SELECT doc_id, p - 1 AS pos,
                      md5(array_to_string(list_slice(toks, p, p + 4), ' ')) AS h
                    FROM t, unnest(generate_series(1, len(toks) - 4)) u(p)
                    WHERE len(toks) >= 5),
            occ AS (SELECT doc_id, pos, h,
                      count(*) OVER (PARTITION BY h) AS c,
                      row_number() OVER (PARTITION BY h
                                         ORDER BY doc_id, pos) AS rn
                    FROM win),
            rem AS (SELECT doc_id, pos FROM occ WHERE c > 1 AND rn > 1),
            grp AS (SELECT doc_id, pos,
                      max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS pme
                    FROM rem),
            flg AS (SELECT doc_id, pos,
                      CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END
                        AS f
                    FROM grp),
            isl AS (SELECT doc_id, pos,
                      sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                    FROM flg)
"""

_CLUSTER_CTE = f"""WITH sh AS (
              SELECT doc_id, list_distinct(
                list_transform(generate_series(1, greatest(len({TOK_DD}) - 2, 0)),
                               i -> array_to_string(({TOK_DD})[i:i+2], ' '))) AS s
              FROM documents),
            pairs AS (
              SELECT a.doc_id AS a, b.doc_id AS b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE a.doc_id % 5 = 0
                AND (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) > 0
                AND round(len(list_intersect(a.s, b.s))::DOUBLE /
                          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE, 4)
                    > 0.5),
            verts AS (SELECT a AS v FROM pairs UNION SELECT b FROM pairs),
            edges AS (SELECT a AS src, b AS dst FROM pairs
                      UNION SELECT b, a FROM pairs),
            reach AS (
              WITH RECURSIVE r(v, u) AS (
                SELECT v, v FROM verts
                UNION
                SELECT r.v, e.dst FROM r JOIN edges e ON r.u = e.src
              ) SELECT v, u FROM r)"""


def _dd_hash64(expr: str, seed) -> str:
    """DuckDB side of pipeline/dedup._hash64_sql(portable=True)."""
    return f"('0x' || substring(md5('{seed}:' || {expr}), 1, 15))::BIGINT"


def _minhash_portable_oracle(k: int = 16, bands: int = 4) -> str:
    rpb = k // bands
    sigs = ",\n                   ".join(
        f"list_min(list_transform(s, x -> {_dd_hash64('x', seed)})) AS m{seed}"
        for seed in range(k)
    )
    band_rows = "\n              UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {h} AS bucket FROM sig".format(
            b=b,
            h=_dd_hash64(
                "concat_ws(',', {})".format(
                    ", ".join(
                        f"m{b * rpb + r}::VARCHAR" for r in range(rpb)
                    )
                ),
                "b",
            ),
        )
        for b in range(bands)
    )
    return f"""
            WITH sh AS (
              SELECT doc_id, list_distinct(
                list_transform(generate_series(1, greatest(len({TOK_DD}) - 2, 0)),
                               i -> array_to_string(({TOK_DD})[i:i+2], ' '))) AS s
              FROM documents),
            sig AS (
              SELECT doc_id,
                   {sigs}
              FROM sh WHERE len(s) > 0),
            banded AS (
              {band_rows})
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM banded x JOIN banded y
              ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id"""


def _simhash_portable_oracle() -> str:
    ones = ", ".join(f"sum((h >> {i}) & 1) AS o{i}" for i in range(60))
    sig = " + ".join(
        f"CASE WHEN 2*o{i} > n THEN (1::BIGINT << {i}) ELSE 0 END"
        for i in range(60)
    )
    return f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS t FROM documents),
            h AS (SELECT doc_id, {_dd_hash64('t', 't')} AS h FROM tok),
            agg AS (SELECT doc_id, count(*) AS n, {ones}
                    FROM h GROUP BY doc_id)
            SELECT doc_id, ({sig})::BIGINT AS simhash FROM agg"""


def _redact_pii_oracle() -> str:
    """Chained-CTE DuckDB twin of text.redact_pii, generated from the
    same PII_PATTERNS tuple so the pattern strings cannot drift."""
    ctes, carried = [], []
    prev = "s0"
    ctes.append("s0 AS (SELECT doc_id, text AS red FROM documents)")
    for i, (name, pat, repl) in enumerate(text.PII_PATTERNS, 1):
        keep = ", ".join(carried + [""]) if carried else ""
        ctes.append(
            f"s{i} AS (SELECT doc_id, {keep}"
            f"len(regexp_extract_all(red, '{pat}'))::BIGINT AS n_{name}, "
            f"regexp_replace(red, '{pat}', '{repl}', 'g') AS red FROM {prev})"
        )
        carried.append(f"n_{name}")
        prev = f"s{i}"
    cols = ", ".join(f"n_{name}" for name, _, _ in text.PII_PATTERNS)
    return (
        "WITH " + ",\n            ".join(ctes)
        + f"\n            SELECT doc_id, red AS text_redacted, {cols} FROM {prev}"
    )


def _gopher_oracle() -> str:
    """DuckDB side of pipeline/clean.py gopher_filter — thresholds and
    rule ORDER injected from the same GOPHER_DEFAULTS / STOPWORDS
    constants, comparisons on the identical unrounded IEEE divisions."""
    p = clean.GOPHER_DEFAULTS
    stop = ",".join(f"'{s}'" for s in text.STOPWORDS)
    cases = f"""
              CASE WHEN nt < {p["min_tokens"]!r} THEN 'too_short' END,
              CASE WHEN nt > {p["max_tokens"]!r} THEN 'too_long' END,
              CASE WHEN (alnum / greatest(nt, 1.0)) < {p["min_mean_tok_len"]!r}
                     OR (alnum / greatest(nt, 1.0)) > {p["max_mean_tok_len"]!r}
                   THEN 'tok_len' END,
              CASE WHEN (nstop / greatest(nt, 1.0)) < {p["min_stopword_ratio"]!r}
                   THEN 'no_stopwords' END,
              CASE WHEN (alnum / greatest(nchars, 1.0)) < {p["min_alnum_ratio"]!r}
                   THEN 'symbols' END,
              CASE WHEN (CASE WHEN len(lines) > 0 THEN
                           (len(lines) - len(list_distinct(lines)))::DOUBLE
                             / len(lines) ELSE 0.0 END)
                     > {p["max_dup_line_frac"]!r} THEN 'dup_lines' END,
              CASE WHEN (CASE WHEN len(g5) > 0 THEN
                           (len(g5) - len(list_distinct(g5)))::DOUBLE
                             / len(g5) ELSE 0.0 END)
                     > {p["max_dup_5gram_frac"]!r} THEN 'dup_5grams' END"""
    return f"""
            WITH s AS (
              SELECT doc_id,
                     len(t)::DOUBLE AS nt,
                     length(array_to_string(t, ''))::DOUBLE AS alnum,
                     len(list_filter(t, x ->
                       list_contains([{stop}], x)))::DOUBLE AS nstop,
                     length(text)::DOUBLE AS nchars,
                     string_split(text, chr(10)) AS lines,
                     list_transform(generate_series(1, greatest(len(t) - 4, 0)),
                       i -> array_to_string(t[i:i+4], ' ')) AS g5
              FROM (SELECT doc_id, text, {TOK_DD} AS t FROM documents)),
            r AS (SELECT doc_id,
                    -- array_to_string([]) is NULL in DuckDB, '' in Spark
                    coalesce(array_to_string(list_filter([{cases}],
                      x -> x IS NOT NULL), ','), '') AS reasons
                  FROM s)
            SELECT doc_id, reasons = '' AS keep, reasons FROM r"""


def _dsir_oracle(select: bool, b: int = 256, k: int = 100) -> str:
    """DuckDB side of pipeline/importance.py: unigram+bigram occurrences,
    md5 bucket hash, Laplace-smoothed log ratio (associativity matches
    Spark's (lt - lr) tree exactly), per-doc sum/mean rounded to 4."""
    bucket = f"({_dd_hash64('g', 'dsir')}) % {b}"
    core = f"""
            WITH tok AS (SELECT doc_id, {TOK_DD} AS t FROM documents),
            g AS (
              SELECT doc_id, unnest(t) AS g FROM tok
              UNION ALL
              SELECT doc_id, unnest(list_transform(
                       generate_series(1, greatest(len(t) - 1, 0)),
                       i -> array_to_string(t[i:i+1], ' '))) AS g
              FROM tok),
            gb AS (SELECT doc_id, {bucket} AS bucket FROM g),
            tc AS (SELECT bucket, count(*) AS c FROM gb
                   WHERE doc_id % 31 = 0 GROUP BY bucket),
            rc AS (SELECT bucket, count(*) AS c FROM gb
                   WHERE doc_id % 31 != 0 GROUP BY bucket),
            ratio AS (
              SELECT bk.bucket,
                ((ln((coalesce(tc.c, 0) + 1)::DOUBLE)
                  - ln(((SELECT count(*) FROM gb WHERE doc_id % 31 = 0)
                        + {b})::DOUBLE))
                 - (ln((coalesce(rc.c, 0) + 1)::DOUBLE)
                  - ln(((SELECT count(*) FROM gb WHERE doc_id % 31 != 0)
                        + {b})::DOUBLE))) AS log_ratio
              FROM (SELECT unnest(generate_series(0, {b - 1})) AS bucket) bk
              LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)),
            pd AS (SELECT gb.doc_id, count(*)::BIGINT AS n_grams,
                          sum(log_ratio) AS lw
                   FROM gb JOIN ratio USING (bucket)
                   WHERE gb.doc_id % 31 != 0 GROUP BY gb.doc_id),
            w AS (SELECT d.doc_id,
                    coalesce(pd.n_grams, 0)::BIGINT AS n_grams,
                    round(coalesce(pd.lw, 0.0), 4) AS log_w,
                    round(CASE WHEN coalesce(pd.n_grams, 0) > 0
                               THEN pd.lw / pd.n_grams ELSE 0.0 END,
                          4) AS avg_log_w,
                    d.source
                  FROM documents d LEFT JOIN pd USING (doc_id)
                  WHERE d.doc_id % 31 != 0)"""
    if select:
        return (
            core
            + f"""
            SELECT doc_id, source, n_grams, log_w, avg_log_w FROM w
            ORDER BY avg_log_w DESC, doc_id LIMIT {k}"""
        )
    return core + """
            SELECT doc_id, n_grams, log_w, avg_log_w FROM w"""


def _ppl_oracle(tiers: bool) -> str:
    """DuckDB side of pipeline/perplexity.py: en-reference hashed-bigram
    LM (md5 buckets, same 'ppl1'/'ppl2' salts), Laplace-smoothed
    per-bigram ln p computed with the identical per-row association
    (ln(cb+1) - ln(cu+B2)), per-doc mean → exp → round 4.  Tier CASE on
    the pinned PPL_CUTS literals."""
    import joie_spark.pipeline.perplexity as _P

    bu, bb = _P.UNI_BUCKETS, _P.BI_BUCKETS
    ub = f"({_dd_hash64('ctx', 'ppl1')}) % {bu}"
    bbx = f"({_dd_hash64('g', 'ppl2')}) % {bb}"
    core = f"""
            WITH tok AS (SELECT doc_id, lang, {TOK_DD} AS t FROM documents),
            uni AS (SELECT ({_dd_hash64('g', 'ppl1')}) % {bu} AS bucket,
                           count(*) AS cu
                    FROM (SELECT unnest(t) AS g FROM tok WHERE lang = 'en')
                    GROUP BY 1),
            bi AS (SELECT ({_dd_hash64('g', 'ppl2')}) % {bb} AS bucket,
                          count(*) AS cb
                   FROM (SELECT unnest(list_transform(
                            generate_series(1, greatest(len(t) - 1, 0)),
                            i -> array_to_string(t[i:i+1], ' '))) AS g
                         FROM tok WHERE lang = 'en')
                   GROUP BY 1),
            grams AS (SELECT doc_id, u.ctx AS ctx, u.g AS g
                      FROM (SELECT doc_id, unnest(list_transform(
                              generate_series(1, greatest(len(t) - 1, 0)),
                              i -> {{'ctx': t[i],
                                     'g': array_to_string(t[i:i+1], ' ')}})) AS u
                            FROM tok)),
            lp AS (SELECT doc_id,
                     (ln((coalesce(bi.cb, 0) + 1)::DOUBLE)
                      - ln((coalesce(uni.cu, 0) + {bb})::DOUBLE)) AS lp
                   FROM (SELECT doc_id, {ub} AS ubk, {bbx} AS bbk FROM grams) x
                   LEFT JOIN bi ON x.bbk = bi.bucket
                   LEFT JOIN uni ON x.ubk = uni.bucket),
            pd AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                          sum(lp) AS slp
                   FROM lp GROUP BY doc_id),
            w AS (SELECT d.doc_id,
                    coalesce(pd.n_bigrams, 0)::BIGINT AS n_bigrams,
                    round(exp(-pd.slp / pd.n_bigrams), 4) AS ppl
                  FROM documents d LEFT JOIN pd USING (doc_id))"""
    if not tiers:
        return core + """
            SELECT doc_id, n_bigrams, ppl FROM w"""
    lo, hi = PPL_CUTS
    return core + f"""
            SELECT doc_id, n_bigrams, ppl,
                   CASE WHEN ppl IS NULL THEN 'tail'
                        WHEN ppl <= {lo!r} THEN 'head'
                        WHEN ppl <= {hi!r} THEN 'middle'
                        ELSE 'tail' END AS tier
            FROM w"""


def _web_stats_oracle() -> str:
    """DuckDB twin of text.web_stats, generated from the same
    BOILERPLATE_MARKERS tuple (and the same URL pattern literal) so the
    marker list / pattern cannot drift between engine and oracle."""
    url_pat = "(https?://|www[.])[^ \t\r\n]+"
    markers = " + ".join(
        f"(length(lower(text)) - length(replace(lower(text), '{m}', '')))"
        f" // {len(m)}"
        for m in text.BOILERPLATE_MARKERS
    )

    def frac(pred: str) -> str:
        return (
            f"round(CASE WHEN len(lines) > 0 THEN"
            f" len(list_filter(lines, l -> {pred}))::DOUBLE / len(lines)"
            f" ELSE 0 END, 4)"
        )

    return f"""
            WITH base AS (SELECT doc_id, text,
                 regexp_extract_all(text, '{url_pat}') AS urls,
                 list_filter(list_transform(string_split(text, chr(10)),
                                            l -> trim(l)),
                             l -> l != '') AS lines
              FROM documents)
            SELECT doc_id,
                   len(urls)::BIGINT AS n_urls,
                   round(coalesce(list_sum(list_transform(urls,
                           u -> length(u))), 0)::DOUBLE
                         / greatest(length(text), 1), 4) AS url_char_frac,
                   {frac("substr(l, 1, 1) IN ('-', '*')")} AS bullet_line_frac,
                   {frac("l LIKE '%...'")} AS ellipsis_line_frac,
                   {frac('''substr(l, length(l), 1) IN ('.', '!', '?', '"')''')}
                     AS term_punct_line_frac,
                   ({markers})::BIGINT AS n_boilerplate
            FROM base"""


def _simhash_pairs_portable_oracle() -> str:
    """Banded near-dup pairs over the portable signature: the same
    16-bit-chunk pigeonhole equi-join + exact bit_count(xor) verify as
    dedup.simhash_neardup_pairs, in DuckDB."""
    return f"""
            WITH sig AS ({_simhash_portable_oracle()}),
            ch AS (SELECT doc_id, simhash, c,
                          (simhash >> (c * 16)) & 65535 AS v
                   FROM sig, generate_series(0, 3) g(c))
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                   bit_count(xor(l.simhash, r.simhash))::INTEGER AS hamming
            FROM ch l JOIN ch r ON l.c = r.c AND l.v = r.v
                                AND l.doc_id < r.doc_id
            WHERE bit_count(xor(l.simhash, r.simhash)) <= 3"""


def oracle_sql() -> dict[str, str]:
    return {
        "token_stats": f"""
            SELECT doc_id,
                   len({TOK_DD})::BIGINT AS n_tokens,
                   len(list_distinct({TOK_DD}))::BIGINT AS n_distinct
            FROM documents""",
        "term_df_top100": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term FROM documents)
            SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS cf
            FROM tok GROUP BY term ORDER BY df DESC, term LIMIT 100""",
        "postings_sample": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term FROM documents)
            SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok
            WHERE term IN ({_TERMS3}) GROUP BY term, doc_id""",
        "keyword_or": f"""
            SELECT DISTINCT doc_id FROM documents
            WHERE list_contains({TOK_DD}, 'spark') OR list_contains({TOK_DD}, 'window')""",
        "and_intersect": f"""
            SELECT doc_id FROM documents
            WHERE list_contains({TOK_DD}, 'fast') AND list_contains({TOK_DD}, 'table')""",
        "phrase_adjacency": f"""
            SELECT doc_id FROM documents
            WHERE contains(' ' || array_to_string({TOK_DD}, ' ') || ' ', ' fast table ')""",
        "fuzzy_bm25": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term FROM documents),
            dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
            st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
                   WHERE levenshtein(term, 'fast') <= 1 GROUP BY doc_id, term),
            dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
            SELECT tf.doc_id AS doc_id,
                   round(sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))), 4) AS score
            FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st
            GROUP BY tf.doc_id
            ORDER BY sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))) DESC, tf.doc_id
            LIMIT 10""",
        "facet_by_lang": f"""
            SELECT lang AS value, count(DISTINCT doc_id)::BIGINT AS n_docs
            FROM documents
            WHERE list_contains({TOK_DD}, 'fast')
            GROUP BY lang
            ORDER BY n_docs DESC, value
            LIMIT 20""",
        "sig_terms": f"""
            WITH tok AS (SELECT doc_id, unnest(list_distinct({TOK_DD})) AS term
                         FROM documents),
            m AS (SELECT doc_id FROM documents
                  WHERE list_contains({TOK_DD}, 'fast')),
            nm AS (SELECT count(*)::DOUBLE AS n FROM m),
            nt AS (SELECT count(*)::DOUBLE AS n FROM documents),
            fg AS (SELECT term, count(*)::BIGINT AS fg_df
                   FROM tok JOIN m USING (doc_id) GROUP BY term),
            bg AS (SELECT term, count(*)::BIGINT AS bg_df
                   FROM tok GROUP BY term)
            SELECT term, fg_df, bg_df,
                   round((fg_df/nm.n - bg_df/nt.n)
                         * ((fg_df/nm.n) / (bg_df/nt.n)), 6) AS score
            FROM fg JOIN bg USING (term) CROSS JOIN nm CROSS JOIN nt
            WHERE fg_df >= 2 AND fg_df/nm.n > bg_df/nt.n
            ORDER BY score DESC, term
            LIMIT 20""",
        "mlt_topk": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term FROM documents),
            dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
            st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            dfc AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
                    FROM tok GROUP BY term),
            tf0 AS (SELECT term, count(*)::DOUBLE AS tf FROM tok
                    WHERE doc_id = 0 GROUP BY term),
            sel AS (SELECT tf0.term FROM tf0 JOIN dfc USING (term) CROSS JOIN st
                    ORDER BY ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                             * tf0.tf DESC, tf0.term
                    LIMIT 5),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
                   WHERE doc_id != 0 AND term IN (SELECT term FROM sel)
                   GROUP BY doc_id, term)
            SELECT tf.doc_id AS doc_id,
                   round(sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))), 4) AS score
            FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st
            GROUP BY tf.doc_id
            ORDER BY sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))) DESC, tf.doc_id
            LIMIT 10""",
        "percolate_route": f"""
            WITH tok AS (SELECT doc_id, {TOK_DD} AS ts,
                         ' ' || array_to_string({TOK_DD}, ' ') || ' ' AS j
                         FROM documents)
            SELECT 0 AS query_id, doc_id FROM tok
              WHERE list_contains(ts, 'fast') AND list_contains(ts, 'slow')
            UNION ALL
            SELECT 1 AS query_id, doc_id FROM tok
              WHERE contains(j, ' fast table ')
            UNION ALL
            SELECT 2 AS query_id, doc_id FROM tok
              WHERE len(list_filter(ts, t -> t LIKE 'st%')) > 0
                 OR list_contains(ts, 'window')""",
        "and_not": f"""
            SELECT DISTINCT doc_id FROM documents
            WHERE list_contains({TOK_DD}, 'fast')
              AND NOT list_contains({TOK_DD}, 'slow')""",
        "near_window": f"""
            WITH tok AS (SELECT doc_id, {TOK_DD} AS ts FROM documents),
            pos AS (SELECT doc_id, unnest(ts) AS term,
                           generate_subscripts(ts, 1) AS p FROM tok)
            SELECT DISTINCT a.doc_id AS doc_id
            FROM pos a JOIN pos b USING (doc_id)
            WHERE a.term = 'fast' AND b.term = 'slow'
              AND a.p != b.p AND abs(a.p - b.p) <= 2""",
        "within_window": f"""
            WITH tok AS (SELECT doc_id, {TOK_DD} AS ts FROM documents),
            pos AS (SELECT doc_id, unnest(ts) AS term,
                           generate_subscripts(ts, 1) AS p FROM tok)
            SELECT DISTINCT a.doc_id AS doc_id
            FROM pos a JOIN pos b USING (doc_id) JOIN pos c USING (doc_id)
            WHERE a.term = 'fast' AND b.term = 'slow' AND c.term = 'table'
              AND greatest(a.p, b.p, c.p) - least(a.p, b.p, c.p) <= 6""",
        "min_match_bm25": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term FROM documents),
            dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
            st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
                   WHERE term IN ({_TERMS3}) GROUP BY doc_id, term),
            keep AS (SELECT doc_id FROM tf GROUP BY doc_id
                     HAVING count(DISTINCT term) >= 2),
            dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
            SELECT tf.doc_id AS doc_id,
                   round(sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))), 4) AS score
            FROM tf JOIN keep USING (doc_id) JOIN dfc USING (term)
                 JOIN dl USING (doc_id) CROSS JOIN st
            GROUP BY tf.doc_id
            ORDER BY sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))) DESC, tf.doc_id
            LIMIT 10""",
        "regex_bm25": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term FROM documents),
            dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
            st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
                   WHERE regexp_matches(term, '^(?:s[ct].*)$')
                   GROUP BY doc_id, term),
            dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
            SELECT tf.doc_id AS doc_id,
                   round(sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))), 4) AS score
            FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st
            GROUP BY tf.doc_id
            ORDER BY sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))) DESC, tf.doc_id
            LIMIT 10""",
        "prefix_bm25": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term FROM documents),
            dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
            st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
                   WHERE term LIKE 's%' GROUP BY doc_id, term),
            dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
            SELECT tf.doc_id AS doc_id,
                   round(sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))), 4) AS score
            FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st
            GROUP BY tf.doc_id
            ORDER BY sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))) DESC, tf.doc_id
            LIMIT 10""",
        "bm25_topk": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term FROM documents),
            dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
            st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
                   WHERE term IN ({_TERMS3}) GROUP BY doc_id, term),
            dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
            SELECT tf.doc_id AS doc_id,
                   round(sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))), 4) AS score
            FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st
            GROUP BY tf.doc_id
            ORDER BY sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))) DESC, tf.doc_id
            LIMIT 10""",
        "bm25_docs_topk": f"""
            WITH g AS (SELECT doc_id % 50 AS grp, unnest({TOK_DD}) AS term
                       FROM documents),
            dl AS (SELECT grp, count(*)::BIGINT AS dl FROM g GROUP BY grp),
            st AS (SELECT count(*)::DOUBLE AS n,
                          sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl
                   FROM dl),
            tf AS (SELECT grp, term, count(*)::DOUBLE AS tf FROM g
                   WHERE term IN ({_TERMS3}) GROUP BY grp, term),
            dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
            SELECT tf.grp AS grp,
                   round(sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))), 4) AS score
            FROM tf JOIN dfc USING (term) JOIN dl USING (grp) CROSS JOIN st
            GROUP BY tf.grp
            ORDER BY sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))) DESC, tf.grp
            LIMIT 10""",
        "boosted_bm25": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term FROM documents),
            dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
            st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
                   WHERE term IN ({_TERMS3}) GROUP BY doc_id, term),
            dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
            SELECT tf.doc_id AS doc_id,
                   round(sum((CASE tf.term WHEN 'window' THEN 3.0
                              WHEN 'query' THEN 0.25 ELSE 1.0 END)
                         * ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))), 4) AS score
            FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st
            GROUP BY tf.doc_id
            ORDER BY round(sum((CASE tf.term WHEN 'window' THEN 3.0
                              WHEN 'query' THEN 0.25 ELSE 1.0 END)
                         * ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))), 4) DESC, tf.doc_id
            LIMIT 10""",
        "collapse_topk": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term FROM documents),
            dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
            st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
                   WHERE term IN ({_TERMS3}) GROUP BY doc_id, term),
            dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
            scored AS (
              SELECT tf.doc_id AS doc_id, tf.doc_id % 50 AS grp_id,
                     round(sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                           * (tf.tf * 2.2)
                           / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))), 4) AS score
              FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st
              GROUP BY tf.doc_id),
            g AS (SELECT grp_id, doc_id, score,
                         row_number() OVER (PARTITION BY grp_id
                                            ORDER BY score DESC, doc_id) AS rn,
                         count(*) OVER (PARTITION BY grp_id) AS n_matched
                  FROM scored)
            SELECT grp_id, doc_id, score, n_matched FROM g WHERE rn = 1
            ORDER BY score DESC, grp_id LIMIT 10""",
        "search_after_page2": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term FROM documents),
            dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
            st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
                   WHERE term IN ({_TERMS3}) GROUP BY doc_id, term),
            dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
            scored AS (
              SELECT tf.doc_id AS doc_id,
                     round(sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                           * (tf.tf * 2.2)
                           / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))), 4) AS score
              FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st
              GROUP BY tf.doc_id)
            SELECT doc_id, score FROM scored
            ORDER BY score DESC, doc_id LIMIT 10 OFFSET 10""",
        "bm25_batch": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term FROM documents),
            dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
            st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
                   WHERE term IN ({_BATCH_ALL}) GROUP BY doc_id, term),
            dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
            base AS (SELECT tf.doc_id, tf.term, tf.tf, dfc.df, dl.dl
                     FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id)),
            scored AS ({_BATCH_UNION}),
            r AS (SELECT query_id, doc_id, s,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY s DESC, doc_id) AS rn
                  FROM scored)
            SELECT query_id, doc_id, round(s, 4) AS score FROM r
            WHERE rn <= 10 ORDER BY query_id, s DESC, doc_id""",
        "rank_eval": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term FROM documents),
            dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
            st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
                   WHERE term IN ({_BATCH_ALL}) GROUP BY doc_id, term),
            dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
            base AS (SELECT tf.doc_id, tf.term, tf.tf, dfc.df, dl.dl
                     FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id)),
            scored AS ({_BATCH_UNION}),
            r AS (SELECT query_id, doc_id, s,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY s DESC, doc_id) AS rank
                  FROM scored),
            g AS (SELECT query_id, doc_id, rank,
                         CASE WHEN doc_id % 13 = query_id THEN 2
                              WHEN doc_id % 7 = query_id THEN 1
                              ELSE 0 END AS grade
                  FROM r WHERE rank <= 10),
            per AS (SELECT query_id,
                           sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END)::DOUBLE
                             / count(*) AS p,
                           sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END)::DOUBLE
                             AS nrel_ret,
                           max(CASE WHEN grade > 0 THEN 1.0/rank END) AS mrr0,
                           sum((pow(2.0, grade) - 1.0)/log2(rank + 1.0)) AS dcg
                    FROM g GROUP BY query_id),
            jd AS (SELECT q.query_id, d.doc_id,
                          CASE WHEN d.doc_id % 13 = q.query_id THEN 2
                               ELSE 1 END AS grade
                   FROM documents d CROSS JOIN (VALUES {_RE_QIDS}) q(query_id)
                   WHERE d.doc_id % 13 = q.query_id
                      OR d.doc_id % 7 = q.query_id),
            ij AS (SELECT query_id, grade,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY grade DESC, doc_id) AS rr
                   FROM jd),
            ideal AS (SELECT query_id,
                             sum((pow(2.0, grade) - 1.0)/log2(rr + 1.0)) AS idcg
                      FROM ij WHERE rr <= 10 GROUP BY query_id),
            tot AS (SELECT query_id, count(*)::DOUBLE AS n_rel
                    FROM jd GROUP BY query_id)
            SELECT query_id,
                   round(p, 6) AS precision_k,
                   round(nrel_ret/n_rel, 6) AS recall_k,
                   round(coalesce(mrr0, 0.0), 6) AS mrr,
                   round(dcg/idcg, 6) AS ndcg_k
            FROM per JOIN ideal USING (query_id) JOIN tot USING (query_id)
            ORDER BY query_id""",
        "topk_per_lang": """
            SELECT lang, doc_id, n_chars, rk FROM (
              SELECT lang, doc_id, n_chars,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY n_chars DESC, doc_id)
                       AS rk
              FROM documents)
            WHERE rk <= 2 ORDER BY lang, rk""",
        "union_dedup": """
            SELECT DISTINCT doc_id FROM (
              SELECT doc_id FROM documents WHERE lang = 'en'
              UNION ALL
              SELECT doc_id FROM documents WHERE source = 'src1')""",
        "doc_filter_agg": """
            SELECT source, count(*)::BIGINT AS cnt, round(avg(n_chars), 3) AS avg_chars
            FROM documents WHERE lang = 'en' AND n_chars > 200 GROUP BY source""",
        "topk_longest": """
            SELECT doc_id, n_chars FROM documents
            ORDER BY n_chars DESC, doc_id LIMIT 20""",
        "dedup_exact": """
            SELECT md5(text) AS h, count(*)::BIGINT AS cnt, min(doc_id) AS keeper
            FROM documents GROUP BY md5(text) HAVING count(*) > 1""",
        "dup_clusters": f"""
            {_CLUSTER_CTE}
            SELECT v AS doc_id, min(u) AS cluster_id FROM reach
            GROUP BY v ORDER BY doc_id""",
        "dedup_corpus": f"""
            {_CLUSTER_CTE},
            clusters AS (SELECT v AS doc_id, min(u) AS cluster_id
                         FROM reach GROUP BY v),
            losers AS (SELECT doc_id FROM clusters WHERE doc_id != cluster_id)
            SELECT d.doc_id, d.source, d.n_chars FROM documents d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)""",
        "dedup_corpus_best": f"""
            {_CLUSTER_CTE},
            clusters AS (SELECT v AS doc_id, min(u) AS cluster_id
                         FROM reach GROUP BY v),
            m AS (SELECT c.cluster_id, c.doc_id, d.n_chars
                  FROM clusters c JOIN documents d USING (doc_id)),
            best AS (SELECT cluster_id, doc_id AS keeper FROM (
                       SELECT cluster_id, doc_id,
                              row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS rn
                       FROM m) WHERE rn = 1),
            losers AS (SELECT m.doc_id FROM m JOIN best USING (cluster_id)
                       WHERE m.doc_id != best.keeper)
            SELECT d.doc_id, d.source, d.n_chars FROM documents d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)""",
        "gopher_filter": _gopher_oracle(),
        "ngram_jaccard": f"""
            WITH sh AS (
              SELECT doc_id, list_distinct(
                list_transform(generate_series(1, greatest(len({TOK_DD}) - 2, 0)),
                               i -> array_to_string(({TOK_DD})[i:i+2], ' '))) AS s
              FROM documents)
            SELECT a.doc_id AS a, b.doc_id AS b,
                   round(len(list_intersect(a.s, b.s))::DOUBLE /
                         (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE, 4)
                     AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE a.doc_id % 25 = 0
              AND (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) > 0
              AND round(len(list_intersect(a.s, b.s))::DOUBLE /
                        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))::DOUBLE, 4)
                  > 0.02""",
        "decon_hits": f"""
            WITH sh AS (
              SELECT doc_id, list_distinct(
                list_transform(generate_series(1, greatest(len({TOK_DD}) - 3, 0)),
                               i -> array_to_string(({TOK_DD})[i:i+3], ' '))) AS s
              FROM documents),
            bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 41 = 0),
            tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 41 != 0)
            SELECT tr.doc_id, count(DISTINCT tr.g)::BIGINT AS n_hits
            FROM tr JOIN bench USING (g)
            GROUP BY tr.doc_id HAVING count(DISTINCT tr.g) >= 1
            ORDER BY tr.doc_id""",
        "decon_corpus": f"""
            WITH sh AS (
              SELECT doc_id, list_distinct(
                list_transform(generate_series(1, greatest(len({TOK_DD}) - 3, 0)),
                               i -> array_to_string(({TOK_DD})[i:i+3], ' '))) AS s
              FROM documents),
            bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 41 = 0),
            tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 41 != 0),
            bad AS (SELECT DISTINCT tr.doc_id FROM tr JOIN bench USING (g))
            SELECT d.doc_id, d.source, d.n_chars FROM documents d
            WHERE d.doc_id % 41 != 0
              AND d.doc_id NOT IN (SELECT doc_id FROM bad)""",
        "redact_pii": _redact_pii_oracle(),
        "clean_corpus": f"""
            {_CLUSTER_CTE},
            clusters AS (SELECT v AS doc_id, min(u) AS cluster_id
                         FROM reach GROUP BY v),
            losers AS (SELECT doc_id FROM clusters WHERE doc_id != cluster_id),
            qa AS (SELECT doc_id, source, n_chars, tok,
                     list_transform(generate_series(1, greatest(len(tok) - 1, 0)),
                                    i -> array_to_string(tok[i:i+1], ' ')) AS g2
                   FROM (SELECT doc_id, source, n_chars, {TOK_DD} AS tok
                         FROM documents WHERE doc_id % 41 != 0)),
            q AS (SELECT doc_id, source, n_chars FROM qa
                  WHERE len(tok) >= 15
                    AND round(CASE WHEN len(g2) > 0 THEN
                          (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2)
                          ELSE 0 END, 4) <= 0.08),
            dsh AS (SELECT doc_id, list_distinct(
                      list_transform(generate_series(1, greatest(len({TOK_DD}) - 3, 0)),
                                     i -> array_to_string(({TOK_DD})[i:i+3], ' '))) AS s
                    FROM documents),
            dbench AS (SELECT DISTINCT unnest(s) AS g FROM dsh WHERE doc_id % 41 = 0),
            dtr AS (SELECT doc_id, unnest(s) AS g FROM dsh WHERE doc_id % 41 != 0),
            dbad AS (SELECT DISTINCT dtr.doc_id FROM dtr JOIN dbench USING (g)),
            kept AS (SELECT * FROM q
                     WHERE doc_id NOT IN (SELECT doc_id FROM dbad)
                       AND doc_id NOT IN (SELECT doc_id FROM losers)),
            uu AS (SELECT doc_id, source, n_chars,
                ({_dd_hash64("doc_id::VARCHAR", "split")})::DOUBLE
                  / 1152921504606846976.0 AS u
              FROM kept)
            SELECT doc_id, source, n_chars,
                   CASE WHEN u < {0.90!r} THEN 'train'
                        WHEN u < {0.90 + 0.05!r} THEN 'val'
                        ELSE 'test' END AS split
            FROM uu""",
        "repetition_stats": f"""
            WITH base AS (SELECT doc_id, string_split(text, chr(10)) AS lines,
                                 {TOK_DD} AS tok
                          FROM documents),
            g AS (SELECT doc_id, lines,
                 list_transform(generate_series(1, greatest(len(tok) - 1, 0)),
                                i -> array_to_string(tok[i:i+1], ' ')) AS g2,
                 list_transform(generate_series(1, greatest(len(tok) - 4, 0)),
                                i -> array_to_string(tok[i:i+4], ' ')) AS g5
              FROM base)
            SELECT doc_id,
                   len(lines)::BIGINT AS n_lines,
                   round(CASE WHEN len(lines) > 0 THEN
                     (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines)
                     ELSE 0 END, 4) AS dup_line_frac,
                   round(CASE WHEN len(g2) > 0 THEN
                     (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2)
                     ELSE 0 END, 4) AS dup_2gram_frac,
                   round(CASE WHEN len(g5) > 0 THEN
                     (len(g5) - len(list_distinct(g5)))::DOUBLE / len(g5)
                     ELSE 0 END, 4) AS dup_5gram_frac
            FROM g""",
        "split_assign": f"""
            WITH u AS (SELECT doc_id,
                ({_dd_hash64("doc_id::VARCHAR", "split")})::DOUBLE
                  / 1152921504606846976.0 AS u
              FROM documents)
            SELECT doc_id,
                   CASE WHEN u < {0.90!r} THEN 'train'
                        WHEN u < {0.90 + 0.05!r} THEN 'val'
                        ELSE 'test' END AS split
            FROM u""",
        "stratified_sample": f"""
            WITH u AS (SELECT doc_id, lang,
                ({_dd_hash64("lang || '|' || doc_id::VARCHAR", "sample")})::DOUBLE
                  / 1152921504606846976.0 AS u
              FROM documents)
            SELECT doc_id, lang FROM u
            WHERE u < CASE WHEN lang = 'de' THEN 0.5 ELSE 0.2 END""",
        "mixture_sample": f"""
            WITH u AS (SELECT doc_id, source,
                ({_dd_hash64("source || '|' || doc_id::VARCHAR", "mix")})::DOUBLE
                  / 1152921504606846976.0 AS u
              FROM documents),
            c AS (SELECT doc_id, source,
                CASE WHEN source = 'src0'
                       THEN list_concat([0, 1],
                            CASE WHEN u < 0.5 THEN [2] ELSE []::INT[] END)
                     WHEN source = 'src1'
                       THEN CASE WHEN u < 0.5 THEN [0] ELSE []::INT[] END
                     WHEN source = 'src2' THEN []::INT[]
                     ELSE [0] END AS arr
              FROM u)
            SELECT doc_id, source, unnest(arr) AS epoch FROM c""",
        "top_ngram_share": f"""
            WITH tok AS (SELECT doc_id, {TOK_DD} AS tok FROM documents),
            g AS (SELECT doc_id,
                    unnest(list_transform(
                      generate_series(1, greatest(len(tok) - 1, 0)),
                      i -> array_to_string(tok[i:i+1], ' '))) AS gram
                  FROM tok),
            pg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
            pd AS (SELECT doc_id, sum(c)::BIGINT AS n_grams,
                          max(c)::BIGINT AS top_count
                   FROM pg GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(n_grams, 0)::BIGINT AS n_grams,
                   coalesce(top_count, 0)::BIGINT AS top_count,
                   round(CASE WHEN coalesce(n_grams, 0) > 0
                              THEN top_count::DOUBLE / n_grams
                              ELSE 0 END, 4) AS top_share
            FROM documents d LEFT JOIN pd USING (doc_id)""",
        "vocab_coverage": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term
                         FROM documents),
            tdf AS (SELECT term, count(*)::BIGINT AS cf,
                           count(DISTINCT doc_id)::BIGINT AS df
                    FROM tok GROUP BY term),
            tot AS (SELECT sum(cf)::DOUBLE AS t FROM tdf),
            top AS (SELECT term, cf, df FROM tdf
                    ORDER BY cf DESC, term LIMIT 100)
            SELECT row_number() OVER (ORDER BY cf DESC, term)::BIGINT
                     AS rank,
                   term, cf, df,
                   round((sum(cf) OVER (ORDER BY cf DESC, term))::DOUBLE
                         / (SELECT t FROM tot), 4) AS coverage
            FROM top""",
        "tfidf_topk": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term
                         FROM documents),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                   FROM tok GROUP BY doc_id, term),
            dft AS (SELECT term, count(*)::BIGINT AS df FROM tf
                    GROUP BY term),
            n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n
                  FROM documents),
            s AS (SELECT doc_id, term, tf, df,
                         round(tf::DOUBLE * ln((n.n + 1.0)
                               / (df::DOUBLE + 1.0)), 4) AS score
                  FROM tf JOIN dft USING (term), n),
            r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, term)::BIGINT AS rank FROM s)
            SELECT doc_id, rank, term, tf, df, score
            FROM r WHERE rank <= 3""",
        "web_stats": _web_stats_oracle(),
        "boilerplate_lines": """
            WITH l AS (SELECT doc_id, source, trim(x.l) AS line
                       FROM documents, unnest(string_split(text, chr(10))) AS x(l))
            SELECT source, line, count(DISTINCT doc_id)::BIGINT AS n_docs
            FROM l WHERE line <> ''
            GROUP BY source, line HAVING count(DISTINCT doc_id) >= 3""",
        "web_clean_corpus": """
            WITH l AS (SELECT doc_id, source, trim(x.l) AS line
                       FROM documents, unnest(string_split(text, chr(10))) AS x(l)),
            bp AS (SELECT source, line FROM l WHERE line <> ''
                   GROUP BY source, line HAVING count(DISTINCT doc_id) >= 3),
            bpa AS (SELECT source, list(line) AS bl FROM bp GROUP BY source),
            k AS (SELECT d.doc_id, d.source, d.lang, d.n_chars,
                    string_split(d.text, chr(10)) AS raw,
                    list_filter(string_split(d.text, chr(10)),
                      x -> NOT list_contains(coalesce(bpa.bl, []), trim(x))) AS kept
                  FROM documents d LEFT JOIN bpa USING (source))
            SELECT doc_id, source, lang, n_chars,
                   array_to_string(kept, chr(10)) AS text_clean,
                   (len(raw) - len(kept))::BIGINT AS n_lines_dropped,
                   length(array_to_string(kept, chr(10)))::BIGINT AS n_chars_clean
            FROM k""",
        "dsir_weights": _dsir_oracle(select=False),
        "dsir_select": _dsir_oracle(select=True),
        "pack_sequences": f"""
            WITH c AS (SELECT doc_id,
                         len(regexp_extract_all(text, '{_BPE}'))::BIGINT AS n_tokens
                       FROM documents),
            p AS (SELECT doc_id, n_tokens,
                    coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0)::BIGINT AS start_off
                  FROM c)
            SELECT doc_id, n_tokens, start_off,
                   CAST(CASE WHEN n_tokens > 0 THEN start_off // 256 END
                        AS BIGINT) AS first_seq,
                   CAST(CASE WHEN n_tokens > 0
                             THEN (start_off + n_tokens - 1) // 256 END
                        AS BIGINT) AS last_seq,
                   coalesce(CASE WHEN n_tokens > 0
                                 THEN (start_off + n_tokens - 1) // 256
                                      - start_off // 256 + 1 END,
                            0)::BIGINT AS n_seqs
            FROM p""",
        "pack_manifest": f"""
            WITH c AS (SELECT doc_id,
                         len(regexp_extract_all(text, '{_BPE}'))::BIGINT AS n_tokens
                       FROM documents),
            p AS (SELECT doc_id, n_tokens,
                    coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0)::BIGINT AS start_off
                  FROM c WHERE n_tokens >= 0),
            a AS (SELECT doc_id, n_tokens, start_off,
                    start_off // 256 AS first_seq,
                    (start_off + n_tokens - 1) // 256 AS last_seq
                  FROM p WHERE n_tokens > 0),
            e AS (SELECT doc_id, n_tokens, start_off,
                    unnest(generate_series(first_seq, last_seq)) AS seq_id
                  FROM a)
            SELECT seq_id::BIGINT AS seq_id, doc_id,
                   (greatest(seq_id * 256, start_off) - start_off)::BIGINT
                     AS doc_begin,
                   (least((seq_id + 1) * 256, start_off + n_tokens)
                     - start_off)::BIGINT AS doc_end,
                   (greatest(seq_id * 256, start_off) - seq_id * 256)::BIGINT
                     AS seq_begin
            FROM e""",
        "select_by_budget": f"""
            WITH c AS (SELECT doc_id, n_chars AS score,
                         len(regexp_extract_all(text, '{_BPE}'))::BIGINT AS n_tokens
                       FROM documents),
            p AS (SELECT doc_id, score, n_tokens,
                    coalesce(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0)::BIGINT AS tokens_before
                  FROM c)
            SELECT doc_id, score, n_tokens, tokens_before
            FROM p WHERE tokens_before < 10000""",
        "corpus_summary": f"""
            WITH c AS (SELECT source, lang,
                         len(regexp_extract_all(text, '{_BPE}'))::BIGINT AS nt
                       FROM documents)
            SELECT source, lang,
                   count(*)::BIGINT AS n_docs,
                   sum(nt)::BIGINT AS n_tokens,
                   round(avg(nt), 4) AS mean_tokens,
                   min(nt)::BIGINT AS min_tokens,
                   max(nt)::BIGINT AS max_tokens
            FROM c GROUP BY source, lang""",
        "substring_spans": _SUBSTR_CTE
        + """
            SELECT doc_id, min(pos)::BIGINT AS start_tok,
                   (max(pos) + 5)::BIGINT AS end_tok
            FROM isl GROUP BY doc_id, island""",
        "substring_dedup_corpus": _SUBSTR_CTE
        + """,
            spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 5 AS e
                      FROM isl GROUP BY doc_id, island),
            tok AS (SELECT t.doc_id, t.toks[p] AS tk, p - 1 AS p0,
                           len(t.toks) AS n
                    FROM t, unnest(generate_series(1, len(t.toks))) u(p)),
            keepmark AS (SELECT doc_id, tk, p0, n,
                    NOT EXISTS (SELECT 1 FROM spans s
                                WHERE s.doc_id = tok.doc_id
                                  AND tok.p0 >= s.s AND tok.p0 < s.e) AS keep
                FROM tok)
            SELECT doc_id,
                   coalesce(string_agg(tk, ' ' ORDER BY p0)
                            FILTER (WHERE keep), '') AS text,
                   count(*) FILTER (WHERE NOT keep)::BIGINT AS n_removed
            FROM keepmark GROUP BY doc_id""",
        "leakage_safe_split": f"""
            {_CLUSTER_CTE},
            clusters AS (SELECT v AS doc_id, min(u) AS cluster_id
                         FROM reach GROUP BY v),
            rep AS (SELECT d.doc_id,
                           coalesce(c.cluster_id, d.doc_id) AS rep
                    FROM documents d LEFT JOIN clusters c USING (doc_id)),
            uu AS (SELECT doc_id,
                ({_dd_hash64("rep::VARCHAR", "split")})::DOUBLE
                  / 1152921504606846976.0 AS u
              FROM rep)
            SELECT doc_id,
                   CASE WHEN u < {0.90!r} THEN 'train'
                        WHEN u < {0.90 + 0.05!r} THEN 'val'
                        ELSE 'test' END AS split
            FROM uu""",
        "minhash_lsh_portable": _minhash_portable_oracle(),
        "ann_lsh_bucketed_portable": _ann_portable_oracle(),
        "ann_ivf_portable": _ann_ivf_portable_oracle(),
        "semdedup_drops": _semdedup_oracle("drops"),
        "semdedup_corpus": _semdedup_oracle("corpus"),
        "simhash_portable": _simhash_portable_oracle(),
        "simhash_pairs_portable": _simhash_pairs_portable_oracle(),
        "embedding_neardup": """
            WITH p AS (
              SELECT a.vec_id AS a, b.vec_id AS b,
                list_sum(list_transform(generate_series(1, len(a.embedding)),
                         i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) AS dot,
                sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na,
                sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))) AS nb
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              WHERE a.vec_id % 10 = 0)
            SELECT a, b, round(dot/(na*nb), 4) AS cos FROM p
            WHERE round(dot/(na*nb), 4) >= 0.30""",
        "hybrid_rrf": f"""
            WITH tok AS (SELECT doc_id, unnest({TOK_DD}) AS term FROM documents),
            dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
            st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
                   WHERE term IN ({_TERMS3}) GROUP BY doc_id, term),
            dfc AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
            lex AS (
              SELECT tf.doc_id AS doc_id,
                     round(sum(ln(1.0 + (st.n - dfc.df + 0.5)/(dfc.df + 0.5))
                           * (tf.tf * 2.2)
                           / (tf.tf + 1.2*(0.25 + 0.75*dl.dl/st.avgdl))), 4) AS score
              FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st
              GROUP BY tf.doc_id
              ORDER BY score DESC, doc_id LIMIT 20),
            q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            p AS (
              SELECT e.vec_id,
                list_sum(list_transform(generate_series(1, len(e.embedding)),
                         i -> e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)) AS dot,
                sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na,
                sqrt(list_sum(list_transform(q.qe, x -> x::DOUBLE * x::DOUBLE))) AS nb
              FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0),
            sem AS (SELECT vec_id AS doc_id, round(dot/(na*nb), 4) AS score FROM p
                    ORDER BY dot/(na*nb) DESC, vec_id LIMIT 20),
            ranked AS (
              SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM lex
              UNION ALL
              SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sem)
            SELECT doc_id, round(sum(1.0/(60.0 + rank)), 6) AS rrf_score,
                   count(*)::BIGINT AS n_lists
            FROM ranked GROUP BY doc_id
            ORDER BY rrf_score DESC, doc_id LIMIT 10""",
        "sem_decon_hits": _sem_decon_oracle(),
        "ann_cosine_topk": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            p AS (
              SELECT e.vec_id,
                list_sum(list_transform(generate_series(1, len(e.embedding)),
                         i -> e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)) AS dot,
                sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) AS na,
                sqrt(list_sum(list_transform(q.qe, x -> x::DOUBLE * x::DOUBLE))) AS nb
              FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0)
            SELECT vec_id, round(dot/(na*nb), 4) AS cos FROM p
            ORDER BY dot/(na*nb) DESC, vec_id LIMIT 10""",
        "knn_label_eval": """
            WITH probes AS (SELECT vec_id AS qid, embedding AS qe,
                                   label AS tl
                            FROM embeddings WHERE vec_id < 20),
            d AS (SELECT p.qid, p.tl, e.vec_id, e.label,
                    list_sum(list_transform(generate_series(1, len(e.embedding)),
                             i -> e.embedding[i]::DOUBLE * p.qe[i]::DOUBLE))
                    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
                       * sqrt(list_sum(list_transform(p.qe, x -> x::DOUBLE * x::DOUBLE)))) AS cos
                  FROM embeddings e CROSS JOIN probes p
                  WHERE e.vec_id != p.qid),
            top AS (SELECT qid, tl, label FROM (
                      SELECT qid, tl, label,
                             row_number() OVER (PARTITION BY qid
                                                ORDER BY cos DESC, vec_id) AS rn
                      FROM d) WHERE rn <= 5),
            votes AS (SELECT qid, tl, label, count(*) AS v
                      FROM top GROUP BY qid, tl, label),
            pred AS (SELECT qid, tl, label FROM (
                       SELECT qid, tl, label,
                              row_number() OVER (PARTITION BY qid
                                                 ORDER BY v DESC, label) AS r
                       FROM votes) WHERE r = 1)
            SELECT qid AS vec_id, tl AS true_label, label AS pred_label,
                   CASE WHEN label = tl THEN 1 ELSE 0 END AS correct
            FROM pred ORDER BY vec_id""",
        "ppl_score": _ppl_oracle(tiers=False),
        "ppl_tiers": _ppl_oracle(tiers=True),
        "quality_score": f"""
            WITH t AS (SELECT doc_id, lang, text, {TOK_DD} AS tokens FROM documents)
            SELECT doc_id, lang, len(tokens)::BIGINT AS n_tokens,
                   round(len(array_to_string(tokens, ''))::DOUBLE
                         / greatest(len(tokens)::DOUBLE, 1.0), 4) AS mean_tok_len,
                   round(len(list_filter(tokens, t -> list_contains([{_STOP}], t)))::DOUBLE
                         / greatest(len(tokens)::DOUBLE, 1.0), 4) AS stopword_ratio,
                   round(len(array_to_string(tokens, ''))::DOUBLE
                         / greatest(len(text)::DOUBLE, 1.0), 4) AS alnum_ratio
            FROM t""",
        "lang_id": f"""
            WITH t AS (SELECT doc_id, lang, {TOK_DD} AS tokens FROM documents),
            s AS (SELECT doc_id, lang,
                   round(len(list_filter(tokens, t -> list_contains([{_MARKERS}], t)))::DOUBLE
                         / greatest(len(tokens)::DOUBLE, 1.0), 4) AS en_score
                  FROM t)
            SELECT doc_id, lang, en_score,
                   CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'other' END AS pred_lang
            FROM s""",
        "fingerprint": f"""
            SELECT doc_id, md5(array_to_string({TOK_DD}, ' ')) AS fp FROM documents""",
        "bpe_token_count": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '{_BPE}'))::BIGINT AS n_bpe_tokens,
                   length(text)::BIGINT AS n_chars_raw
            FROM documents""",
        "token_count_by_lang": f"""
            SELECT lang, sum(len({TOK_DD}))::BIGINT AS total_tokens
            FROM documents GROUP BY lang""",
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty,
                   sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS sum_price,
                   count(*)::BIGINT AS cnt
            FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        "join_revenue_topk": """
            WITH po AS (
              SELECT l_orderkey,
                     sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                       AS rev_d
              FROM lineitem GROUP BY l_orderkey)
            SELECT o.o_orderkey AS orderkey, o.o_orderstatus AS o_orderstatus,
                   po.rev_d::DOUBLE AS revenue
            FROM po JOIN orders o ON po.l_orderkey = o.o_orderkey
            ORDER BY po.rev_d DESC, o.o_orderkey LIMIT 10""",
        "events_by_type": """
            SELECT event_type, count(*)::BIGINT AS cnt,
                   sum(CAST(value AS DECIMAL(18,4)))::DOUBLE AS sum_value
            FROM events GROUP BY event_type""",
        "user_sessions": """
            WITH ev AS (SELECT user_id, epoch(ts)::BIGINT AS ts_s, event_id
                        FROM events),
            g AS (SELECT user_id, ts_s, event_id,
                         CASE WHEN ts_s - lag(ts_s) OVER
                                (PARTITION BY user_id ORDER BY ts_s, event_id)
                              > 1800 THEN 1 ELSE 0 END AS new_s
                  FROM ev),
            s AS (SELECT user_id,
                         sum(new_s) OVER (PARTITION BY user_id
                                          ORDER BY ts_s, event_id
                                          ROWS UNBOUNDED PRECEDING)::BIGINT
                           AS session_id
                  FROM g),
            per AS (SELECT user_id, session_id, count(*)::BIGINT AS n_ev
                    FROM s GROUP BY user_id, session_id)
            SELECT user_id, count(*)::BIGINT AS n_sessions,
                   sum(n_ev)::BIGINT AS n_events,
                   max(n_ev)::BIGINT AS max_session_events
            FROM per GROUP BY user_id ORDER BY user_id""",
        "events_daily": """
            SELECT date_trunc('day', ts)::DATE AS day, event_type,
                   count(*)::BIGINT AS cnt,
                   sum(CAST(value AS DECIMAL(18,4)))::DOUBLE AS sum_value
            FROM events GROUP BY day, event_type
            ORDER BY day, event_type""",
        "funnel_counts": """
            WITH ev AS (SELECT user_id, event_type, epoch(ts)::BIGINT AS ts_s
                        FROM events),
            v AS (SELECT user_id, min(ts_s) AS t1 FROM ev
                  WHERE event_type = 'view' GROUP BY user_id),
            c AS (SELECT e.user_id, min(e.ts_s) AS t2
                  FROM ev e JOIN v USING (user_id)
                  WHERE e.event_type = 'click' AND e.ts_s > v.t1
                  GROUP BY e.user_id),
            p AS (SELECT e.user_id, min(e.ts_s) AS t3
                  FROM ev e JOIN c USING (user_id)
                  WHERE e.event_type = 'purchase' AND e.ts_s > c.t2
                  GROUP BY e.user_id)
            SELECT 1 AS step, 'view' AS name, count(*)::BIGINT AS users FROM v
            UNION ALL
            SELECT 2, 'click_after_view', count(*)::BIGINT FROM c
            UNION ALL
            SELECT 3, 'purchase_after_click', count(*)::BIGINT FROM p
            ORDER BY step""",
        "props_k_stats": """
            WITH ev AS (SELECT event_type,
                               json_extract_string(props, '$.k')::BIGINT AS k
                        FROM events)
            SELECT event_type, count(k)::BIGINT AS n,
                   sum(k)::BIGINT AS sum_k,
                   round(sum(k)::DOUBLE / count(k), 4) AS avg_k
            FROM ev GROUP BY event_type ORDER BY event_type""",
        "local_supplier_volume": """
            SELECT n.n_name AS nation,
                   sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2))
                          - CAST(l.l_discount AS DECIMAL(18,2))))::DOUBLE
                     AS revenue,
                   count(*)::BIGINT AS n_items
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name IN ('ASIA', 'EUROPE')
            GROUP BY n.n_name
            ORDER BY sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2))
                            - CAST(l.l_discount AS DECIMAL(18,2)))) DESC,
                     n.n_name""",
    }
