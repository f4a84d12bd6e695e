"""User-facing Engine facade (the analogue of the reference's Database:
engine/src/lib.rs:69-110 parse_query/phrase_query/query/get_doc)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import batch as B
from .operators import query as Q
from .operators.build import build_index
from .operators.highlight import (
    add_highlights,
    add_highlights_batch,
    highlight_phrases,
)
from .plans.parser import Expr, parse_query
from .tokenizer import tokenize_terms


class Engine:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index = Q.Index(spark, index_dir)

    # -- build ----------------------------------------------------------
    @classmethod
    def build(
        cls, spark: SparkSession, source: DataFrame | str, index_dir: str, **kw
    ) -> "Engine":
        build_index(spark, source, index_dir, **kw)
        return cls(spark, index_dir)

    def append(self, new_source: DataFrame | str, **kw) -> "Engine":
        """Incrementally ingest NEW conversations (disjoint conv_ids) as a
        delta generation — no retokenization or rewrite of existing data;
        scores afterwards equal a full rebuild over the union (only doc_id
        assignment differs — see operators/append.py).  Resumable like the
        build; run compact() periodically to re-tighten block-max bounds
        and merge generations."""
        from .operators.append import append_index

        append_index(self.spark, new_source, self.index.index_dir, **kw)
        self.index = Q.Index(self.spark, self.index.index_dir)
        return self

    def delete(self, conv_ids: list[str] | DataFrame, **kw) -> "Engine":
        """Tombstone whole conversations — afterwards every query path
        answers EXACTLY like a rebuild over the remaining corpus (scores
        bit-identical; stats and df are decremented, candidates anti-join
        the deny-list — operators/delete.py).  delete + append of the
        same conv_id = an exact UPDATE.  compact() physically purges
        tombstoned postings/blocks."""
        from .operators.delete import delete_convs

        delete_convs(self.spark, conv_ids, self.index.index_dir, **kw)
        self.index = Q.Index(self.spark, self.index.index_dir)
        return self

    def compact(self) -> "Engine":
        """Rewrite postings+blocks into one generation (drops superseded
        slices, purges tombstoned docs, re-encodes block-max metadata
        with the live avgdl)."""
        from .operators.append import compact_index

        compact_index(self.spark, self.index.index_dir)
        self.index = Q.Index(self.spark, self.index.index_dir)
        return self

    # -- queries ----------------------------------------------------------
    def search(
        self,
        query: str,
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
        synonyms: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """BM25 top-k: (doc_id, turn_idx, score).

        `synonyms` ({word: [alternatives...]}) expands single-word
        clauses into ORs before planning (query-time Lucene
        SynonymFilter; plans/synonyms.py documents the scope rules) —
        the expanded query evaluates and scores exactly like the
        spelled-out OR, on the same routes.

        Every query is matched and scored from one candidate frame
        (operators/batch.py) over the positional postings table;
        `where` / `where_doc` semi-join the candidates before scoring;
        the top-k lowers to TakeOrderedAndProject.  Only on an index
        above batch.DIRECT_THRESHOLD blocks does a phrase-free query read
        the compressed blocks table instead, block-max pruned as a batch
        of one.  Rank-identical to the Python oracle
        (tests/test_rank_identity.py)."""
        expr = parse_query(query)
        if synonyms:
            from .plans.synonyms import expand_synonyms

            expr = expand_synonyms(expr, synonyms)
        return B.search_expr(
            self.index, expr, k=k, where=where, where_doc=where_doc
        )

    def search_collapsed(
        self,
        query,
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
    ) -> DataFrame:
        """Conversation-collapsed top-k (Lucene/ES field collapsing): one
        row per DOCUMENT, ranked by its best-scoring matching turn →
        (doc_id, turn_idx, score, n_matched).  `query` is a string
        (reference grammar) or a QueryBuilder (full algebra; its own
        filters AND with the arguments).  Collapse must score the whole
        candidate frame (any turn could be its document's best — the
        same reason ES collapse scores all hits), so it is never pruned:
        one extra doc_id groupBy, top-k via TakeOrderedAndProject.
        Rank-identity vs the Python oracle: tests/test_collapse.py."""
        expr, where, where_doc = self._coerce_query(query, where, where_doc)
        return B.search_expr_collapsed(
            self.index, expr, k=k, where=where, where_doc=where_doc
        )

    def search_after(
        self,
        query,
        cursor: tuple[int, int, float] | None,
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
    ) -> DataFrame:
        """Keyset pagination: the next `k` results strictly after
        `cursor` = (doc_id, turn_idx, score) — pass the previous page's
        last result row back verbatim — in the engine's total order
        (score DESC, doc_id ASC, turn_idx ASC).  cursor=None is page one
        (== search()).
        Page N costs the same as page 1 (the cursor is a filter on the
        scoring frame, not an OFFSET that re-sorts every earlier page);
        pages tile the full ranking with no gaps or overlaps
        (tests/test_collapse.py)."""
        expr, where, where_doc = self._coerce_query(query, where, where_doc)
        return B.search_expr_after(
            self.index, expr, cursor, k=k, where=where, where_doc=where_doc
        )

    def search_boosted(
        self,
        query,
        boosts: dict[str, float],
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
    ) -> DataFrame:
        """BM25 top-k with per-term query-time boosts (Lucene ``term^w``):
        `boosts` maps words (tokenized/stemmed like literals) to weights
        that scale those terms' score contributions.  Matching is
        unchanged — an all-1.0 boost map returns exactly search()'s
        rows.  Scores the full candidate frame (block-max bounds don't
        know boosts); the boost folds into the driver-side idf literals,
        so the plan is search()'s unpruned plan.  Rank-identity vs the boosted
        oracle twin: tests/test_collapse.py."""
        expr, where, where_doc = self._coerce_query(query, where, where_doc)
        return B.search_expr_boosted(
            self.index, expr, boosts, k=k, where=where, where_doc=where_doc
        )

    def search_decayed(
        self,
        query,
        ref_ts: str,
        half_life_s: float,
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
    ) -> DataFrame:
        """BM25 top-k with exponential recency decay (ES function_score
        exp decay): score × 2^(−(ref_ts−ts)/half_life_s).  `ref_ts` is
        an explicit timestamp literal — deterministic, never wall-clock.
        Matching unchanged; one extra turns join for ts (the `where`
        pushdown shape).  Pinned to the Python recomputation in
        tests/test_collapse.py."""
        expr, where, where_doc = self._coerce_query(query, where, where_doc)
        return B.search_expr_decayed(
            self.index, expr, ref_ts, half_life_s, k=k, where=where,
            where_doc=where_doc,
        )

    def search_docs(
        self,
        query,
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
    ) -> DataFrame:
        """Conversation-level BM25 top-k (the ES/Lucene document-ranking
        shape): a conversation matches when any turn matches; it scores
        with true doc-level BM25 (tf summed across turns, dl =
        total_dl, df/N/avgdl over conversations) → (doc_id, score).
        Complements search_collapsed, which ranks docs by their single
        best turn.  Pinned bit-identical to a Python recomputation in
        tests/test_rank_eval.py."""
        expr, where, where_doc = self._coerce_query(query, where, where_doc)
        return B.search_docs_expr(
            self.index, expr, k=k, where=where, where_doc=where_doc
        )

    def search_function_score(
        self,
        query,
        weight_expr: str,
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
    ) -> DataFrame:
        """BM25 top-k × a deterministic SQL weight over turn metadata
        (ES function_score filter/weight functions): e.g.
        ``search_function_score(q, "CASE WHEN role='assistant' THEN 2.0
        ELSE 1.0 END")``.  Generalizes search_decayed (the ts special
        case) and complements search_boosted (per-term weights).
        Matching unchanged; one extra turns join, column-pruned to what
        `weight_expr` references.  Pinned to a Python recomputation in
        tests/test_rank_eval.py."""
        expr, where, where_doc = self._coerce_query(query, where, where_doc)
        return B.search_expr_function_score(
            self.index, expr, weight_expr, k=k, where=where,
            where_doc=where_doc,
        )

    def _coerce_query(
        self, query, where: str | None, where_doc: str | None
    ) -> tuple[Expr, str | None, str | None]:
        """str → parsed AST; QueryBuilder → its AST with its filters
        conjoined onto the caller's (the builder's whole-query filter
        contract)."""
        from .plans.builder import QueryBuilder, _merge_pred

        if isinstance(query, QueryBuilder):
            return (
                query._require_expr(),
                _merge_pred(query._where, where),
                _merge_pred(query._where_doc, where_doc),
            )
        return parse_query(query), where, where_doc

    def search_many(
        self,
        queries: list[str],
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
        probe_blocks: int = 8,
        direct_threshold: int = 32768,
        stats_out: dict | None = None,
    ) -> DataFrame:
        """Batch BM25 top-k: one dictionary lookup + one job chain for the
        whole batch → (query_id, doc_id, turn_idx, score), top-k per
        query_id.  Per-query rows are bit-identical to `search(q)`; use
        this for throughput (amortizes per-job latency over the batch —
        the reference's per-query mmap latency is unreachable from a
        shuffle engine, aggregate QPS is not).

        Every query scores from one shared positional postings frame
        (operators/batch.py), except on an index of more than
        direct_threshold doc-blocks, where the phrase-free queries run
        per-query block-max pruning over the compressed blocks table
        (`probe_blocks` per query in the probe; `stats_out` receives the
        pruning diagnostics).  The default threshold is measured, not
        guessed: the 3-phase probe/θ machinery lost every configuration
        of the crossover study up to 20k blocks / 6.5M turns — even when
        θ pruned 100% of post-probe pairs — because phase 1's metadata
        aggregation costs more per candidate pair than one scoring pass
        (see BENCH/PRUNING_CROSSOVER.md; lower it only for block sets
        big enough that decode dominates, and pass stats_out to check).
        direct_threshold=0 forces pruning."""
        return B.search_many(
            self.index, queries, k=k, where=where, where_doc=where_doc,
            probe_blocks=probe_blocks,
            direct_threshold=direct_threshold, stats_out=stats_out,
        )

    def search_many_collapsed(
        self,
        queries: list,
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
    ) -> DataFrame:
        """Batch conversation-collapsed top-k: one row per (query,
        document), ranked by the document's best matching turn →
        (query_id, doc_id, turn_idx, score, n_matched) — the grouped-
        results page at batch throughput.  `queries` mixes strings
        (reference grammar) and filter-free QueryBuilders (full
        algebra).  The whole batch shares one candidate scan; the
        collapse is a (query, doc)-keyed partial aggregation before the
        two-phase top-k.  Always reads the postings frame, never the
        pruned blocks path: turn-level θ pruning is unsound for doc-level
        top-k (a doc's best turn below turn-rank k can still make the doc
        top-k).  Per-query rows are bit-identical to search_collapsed
        (tests/test_collapse.py)."""
        from .plans.builder import QueryBuilder

        exprs = []
        for i, q in enumerate(queries):
            if isinstance(q, QueryBuilder):
                if q._where or q._where_doc:
                    raise ValueError(
                        f"builder {i} carries filters; batch filters are "
                        "batch-wide (where/where_doc args)"
                    )
                exprs.append(q._require_expr())
            else:
                exprs.append(parse_query(q))
        return B.search_many_exprs(
            self.index, exprs, k=k, where=where, where_doc=where_doc,
            collapse=True,
        )

    def search_many_built(
        self,
        builders: list,
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
        probe_blocks: int = 8,
        direct_threshold: int = 32768,
    ) -> DataFrame:
        """search_many over QueryBuilder objects — batches the FULL query
        algebra incl. the builder-only extensions (near/prefix/fuzzy/
        and_not), bit-identical per query to `builder.top_k(k)`, on
        search_many's routes: prefix/fuzzy queries are phrase-free and
        are pruned above direct_threshold like keyword queries; near/
        within/and_not queries always read the postings frame (positions
        and prohibited-side presence bits live there).  Per-builder
        filters are refused (the batch shares one candidate scan; pass
        batch-wide `where` / `where_doc` instead)."""
        exprs = []
        for i, b in enumerate(builders):
            if b._where or b._where_doc:
                raise ValueError(
                    f"builder {i} carries filters; search_many_built "
                    "filters are batch-wide (where/where_doc args)"
                )
            if b._expr is None:
                raise ValueError(f"builder {i} is empty")
            exprs.append(b._expr)
        return B.search_many_exprs(
            self.index, exprs, k=k, where=where, where_doc=where_doc,
            probe_blocks=probe_blocks, direct_threshold=direct_threshold,
        )

    def search_highlighted(
        self,
        query: str,
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
    ) -> DataFrame:
        """top-k + snippet parts (joie always generates snippets,
        reference README.md:5)."""
        res = self.search(query, k=k, where=where, where_doc=where_doc)
        phrases = highlight_phrases(parse_query(query))
        return add_highlights(res, self.index.turns, phrases)

    def search_collapsed_highlighted(
        self,
        query,
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
    ) -> DataFrame:
        """Conversation-collapsed top-k + snippet parts for each
        document's BEST turn — the grouped-results page a transcript UI
        renders.  Same one-turns-join highlight pass as
        search_highlighted, over at most k rows."""
        res = self.search_collapsed(query, k=k, where=where, where_doc=where_doc)
        expr, _w, _wd = self._coerce_query(query, where, where_doc)
        return add_highlights(res, self.index.turns, highlight_phrases(expr))

    def search_many_highlighted(
        self,
        queries: list[str],
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
    ) -> DataFrame:
        """Batch top-k + snippet parts: the whole batch pays ONE turns
        join and ONE highlight pass (per-query `search_highlighted` in a
        loop would pay job latency per query).  Row-per-(query_id, hit),
        same order contract as search_many."""
        res = self.search_many(queries, k=k, where=where, where_doc=where_doc)
        phrases_by_qid = {
            i: highlight_phrases(parse_query(q)) for i, q in enumerate(queries)
        }
        return add_highlights_batch(
            res, self.index.turns, phrases_by_qid
        ).orderBy("query_id", F.desc("score"), F.asc("doc_id"), F.asc("turn_idx"))

    def match_set(self, query: str) -> DataFrame:
        """Unranked matches in (doc_id, turn_idx) order — the reference's
        native output (searcher.rs:37-52)."""
        return B.match_set(self.index, query)

    def _matches(
        self, query, where: str | None, where_doc: str | None
    ) -> DataFrame:
        """(doc_id, turn_idx) match set of a query string or QueryBuilder,
        its filters conjoined with `where` / `where_doc`."""
        expr, where, where_doc = self._coerce_query(query, where, where_doc)
        return B.match_set_expr(self.index, expr, where, where_doc)

    def phrase(
        self,
        text: str,
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
    ) -> DataFrame:
        """Programmatic phrase query (Database::phrase_query,
        engine/src/lib.rs:100-110; doc filter = QueryBuilder::
        filter_documents, engine/src/query/mod.rs:46-102)."""
        return self.search(
            '"' + text.replace('"', " ") + '"', k=k, where=where,
            where_doc=where_doc,
        )

    def keywords(
        self,
        words: list[str],
        k: int = 10,
        where: str | None = None,
        where_doc: str | None = None,
    ) -> DataFrame:
        """Programmatic keyword-OR query (QueryBuilder::keywords,
        engine/src/query/mod.rs:94-102, doc filter fused as in
        keywords.rs:73-79)."""
        q = " OR ".join(w.replace('"', " ") for w in words)
        return self.search(q, k=k, where=where, where_doc=where_doc)

    def builder(self) -> "QueryBuilder":
        """Chaining programmatic query builder (QueryBuilder::start →
        filter_documents → phrases/keywords, engine/src/query/mod.rs:46-102;
        compose with & / |).  Shares the planner with the string frontend."""
        from .plans.builder import QueryBuilder

        return QueryBuilder(self)

    def tokenize_phrase(self, text: str) -> list[int]:
        """Query-side tokenization to term ids, 0 = OOV
        (Database::tokenize_phrase, engine/src/lib.rs:69-73)."""
        words = tokenize_terms(text)
        lut = self.index.lookup_terms(words)
        return [lut[w][0] if w in lut else 0 for w in words]

    def analyze(self, text: str) -> list[dict]:
        """ES _analyze endpoint: run the index's analysis chain
        (UAX#29-approx segmentation → lowercase → Snowball stem) on raw
        text, driver-side → [{token, term_id, start_offset, end_offset,
        position}].  Offsets are UTF-8 bytes (the reference's
        sentence.rs:36-44 token contract); term_id 0 = OOV
        (term_map.rs:94-99).  Bounded cost: pure-Python tokenization +
        one dictionary probe for the distinct tokens; no other jobs."""
        from .tokenizer import tokenize

        toks = tokenize(text or "")
        lut = self.index.lookup_terms(sorted({t.term for t in toks}))
        return [
            {
                "token": t.term,
                "term_id": lut[t.term][0] if t.term in lut else 0,
                "start_offset": t.start,
                "end_offset": t.end,
                "position": i,
            }
            for i, t in enumerate(toks)
        ]

    def get_doc(self, doc_id: int) -> DataFrame:
        """All turns of a conversation (Database::get_doc, lib.rs:104-110).
        Deleted conversations return no rows (doc_ids of deleted docs are
        dead handles, matching a rebuild where they don't exist): until
        the next compact their rows are filtered by the cached tombstone
        handle, afterwards they are physically purged."""
        out = self.index.turns.where(F.col("doc_id") == doc_id)
        tomb = self.index.tombstones
        if tomb is not None:
            out = out.join(F.broadcast(tomb), "doc_id", "left_anti")
        return out.orderBy("turn_idx")

    def more_like_this(
        self,
        doc_id: int,
        k: int = 10,
        max_terms: int = 10,
        min_df: int = 1,
        terms_out: list | None = None,
    ) -> DataFrame:
        """Documents similar to `doc_id` (Lucene MoreLikeThis): take the
        conversation's `max_terms` highest tf·idf terms (tf over the whole
        conversation, idf from the dictionary — the exact BM25 idf), run
        them as a keyword OR, exclude the source doc, BM25 top-k.

        Driver cost is bounded: one point lookup (a conversation's turns),
        one dictionary probe for its distinct terms; the search is the
        ordinary candidate frame of a keyword plan, built from those
        dictionary ids directly (they are already stemmed terms, so they
        are not re-tokenized).  Deterministic: ties break
        (weight DESC, term ASC).  `terms_out` (optional list) receives the
        chosen terms for caller display.  Raises on unknown/deleted docs
        (dead handles, like get_doc)."""
        from collections import Counter

        from .oracle import bm25_idf

        rows = self.get_doc(doc_id).select("text").collect()
        if not rows:
            raise ValueError(f"doc_id {doc_id} unknown or deleted")
        tf = Counter(t for r in rows for t in tokenize_terms(r["text"]))
        lut = self.index.lookup_terms(list(tf))
        weighted = sorted(
            (
                (tf[w] * bm25_idf(self.index.stats["N"], df), w, tid, df)
                for w, (tid, df) in lut.items()
                if df >= min_df
            ),
            key=lambda x: (-x[0], x[1]),
        )[: int(max_terms)]
        if terms_out is not None:
            terms_out.extend(w for _s, w, _t, _d in weighted)
        if not weighted:
            return self.spark.createDataFrame([], Q.RESULT_SCHEMA)
        dfs = {tid: df for _s, _w, tid, df in weighted}
        return B.search_term_ids(self.index, dfs, k, exclude_doc=doc_id)

    def facets(
        self,
        query,
        by: str = "role",
        n: int = 20,
        where: str | None = None,
        where_doc: str | None = None,
    ) -> DataFrame:
        """Facet counts over a query's match set: (value, n_turns,
        n_docs) per distinct value of turn column or SQL expression `by`
        (e.g. "role", or "cast(date_trunc('day', ts) as date)" for a
        date-histogram facet), ordered n_turns DESC then value ASC, top
        `n`.  `query` is a string (reference grammar) or a QueryBuilder
        (full algebra).  One semi-join of the match set against the
        turns row store (doc_id/turn_idx pushdown), one
        partial-aggregated groupBy on `by` — no new shuffle shapes; the
        top-n lowers to TakeOrderedAndProject."""
        joined = self._matches(query, where, where_doc).join(
            self.index.turns, ["doc_id", "turn_idx"], "inner"
        )
        return (
            joined.groupBy(F.expr(by).alias("value"))
            .agg(
                F.count("*").alias("n_turns"),
                F.countDistinct("doc_id").alias("n_docs"),
            )
            .orderBy(F.desc("n_turns"), F.asc("value"))
            .limit(int(n))
        )

    def count(
        self,
        query,
        where: str | None = None,
        where_doc: str | None = None,
    ) -> dict:
        """Match counts without ranking (the ES _count endpoint):
        {'n_turns', 'n_docs'} for a query string or QueryBuilder.  Skips
        scoring and top-k entirely — one boolean match pass + one
        aggregate, two driver-bound numbers back."""
        m = self._matches(query, where, where_doc)
        row = m.agg(
            F.count("*").alias("n_turns"),
            F.countDistinct("doc_id").alias("n_docs"),
        ).first()
        return {"n_turns": int(row["n_turns"]), "n_docs": int(row["n_docs"])}

    def significant_terms(
        self,
        query,
        k: int = 20,
        min_fg_df: int = 2,
    ) -> DataFrame:
        """ES significant_terms aggregation: terms overrepresented in a
        query's match set relative to the whole corpus — (term, fg_df,
        bg_df, score) with the JLH score (the ES default):

            fg_pct = fg_df / |match set|,  bg_pct = bg_df / N
            score  = (fg_pct − bg_pct) · (fg_pct / bg_pct)

        rounded to 6 decimals for engine-reproducible ordering (score
        DESC, term ASC, top `k`).  Only terms with fg_pct > bg_pct and
        fg_df ≥ `min_fg_df` qualify (the ES background-positive rule).
        The query's own terms are included — they legitimately top the
        list, exactly as in ES.

        `query` is a string (reference grammar) or a QueryBuilder (full
        algebra, incl. filters via filter_turns/filter_documents).

        Scale shape: one full postings scan semi-joined against the
        match set on (doc_id, turn_idx) — the same cost profile as ES
        computing the aggregation from matched docs' fielddata — then a
        term_id-keyed partial-agg groupBy (fg term count ≤ vocabulary)
        and a hash join with the dictionary for term/df.  |match set|
        attaches as a scalar subquery (no driver-side count, the match
        set is planned once per branch)."""
        from .pipeline.vocab import _scalar

        m = self._matches(query, None, None)
        n_match = _scalar(m.agg(F.count("*").cast("double").alias("_n")))
        n_total = float(self.index.stats["N"])
        fg = (
            self.index.postings.select("term_id", "doc_id", "turn_idx")
            .join(m, ["doc_id", "turn_idx"], "left_semi")
            .groupBy("term_id")
            .agg(F.count("*").alias("fg_df"))
            .where(F.col("fg_df") >= int(min_fg_df))
        )
        fg_pct = F.col("fg_df") / n_match
        bg_pct = F.col("df") / F.lit(n_total)
        score = F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6)
        return (
            fg.join(self.index.term_dict.select("term_id", "term", "df"), "term_id")
            .where(fg_pct > bg_pct)
            .select(
                "term",
                "fg_df",
                F.col("df").alias("bg_df"),
                score.alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(int(k))
        )

    def suggest(
        self, word: str, n: int = 5, max_edits: int = 2
    ) -> list[tuple[str, int, int]]:
        """Did-you-mean: the `n` dictionary terms nearest to `word` by
        (edit distance ASC, df DESC, term ASC) within `max_edits` —
        [(term, df, distance)].  The word is lowercased verbatim (never
        stemmed, like fuzzy()); exact hits come back at distance 0.  One
        length-banded JVM-codegen dictionary scan, driver result bounded
        at `n`."""
        q = word.lower().strip()
        if not q:
            raise ValueError("suggest() needs a non-empty word")
        k = int(max_edits)
        ln = F.length("term")
        rows = (
            self.index.term_dict.where(
                ln.between(len(q) - k, len(q) + k)
                & (F.levenshtein(F.col("term"), F.lit(q)) <= k)
            )
            .select(
                "term",
                "df",
                F.levenshtein(F.col("term"), F.lit(q)).alias("dist"),
            )
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(int(n))
            .collect()
        )
        return [(r["term"], r["df"], r["dist"]) for r in rows]

    def describe(self) -> dict:
        """Bounded-cost index summary (the operational dashboard row):
        corpus stats from stats.json (no jobs) plus a few small
        aggregates (one count each on metadata-scale tables).  Keys:
        n_turns, n_docs (registered conversations, incl. tombstoned-but-
        unpurged), avgdl, vocab_terms, n_buckets, docs_per_block,
        total_blocks, generations, row_generations,
        tombstoned_docs (0 when fully purged), index_dir."""
        st = self.index.stats
        tomb = self.index.tombstones
        return {
            "n_turns": int(st["N"]),
            "n_docs": int(self.index.doc_meta.count()),
            "avgdl": float(st["avgdl"]),
            "vocab_terms": int(self.index.term_dict.count()),
            "n_buckets": int(st["n_buckets"]),
            "docs_per_block": int(st["docs_per_block"]),
            "total_blocks": int(self.index.total_blocks),
            "generations": list(st["post_gens"]),
            "row_generations": list(st["gens"]),
            "tombstoned_docs": 0 if tomb is None else int(tomb.count()),
            "index_dir": self.index.index_dir,
        }

    def explain_score(
        self, query, doc_id: int, turn_idx: int
    ) -> list[dict]:
        """Per-term BM25 breakdown for one result row (the Lucene
        Explanation shape): [{term, term_id, tf, df, idf, contribution}]
        sorted by term_id — contributions sum to the row's search()
        score exactly (same fold order, same float64 math).  Bounded
        cost: one pruned postings point-lookup + one dictionary probe;
        the driver result is at most the query's term count."""
        from .oracle import bm25_idf as _idf
        from .oracle import bm25_term as _term

        expr, _w, _wd = self._coerce_query(query, None, None)
        items, dfs = Q.plan_exprs(self.index, [expr])
        if not items:
            return []
        qids = items[0][2]
        rows = (
            self.index.postings_for(set(qids))
            .where(
                (F.col("doc_id") == int(doc_id))
                & (F.col("turn_idx") == int(turn_idx))
            )
            .select("term_id", "tf", "dl")
            .collect()
        )
        if not rows:
            return []
        dl = rows[0]["dl"]
        n_docs = self.index.stats["N"]
        avgdl = self.index.stats["avgdl"]
        term_of = {
            r["term_id"]: r["term"]
            for r in self.index.term_dict.where(
                F.col("term_id").isin([int(r["term_id"]) for r in rows])
            )
            .select("term_id", "term")
            .collect()
        }
        out = []
        for r in sorted(rows, key=lambda r: r["term_id"]):
            df = dfs.get(r["term_id"], 0)
            idf = _idf(n_docs, df)
            out.append(
                {
                    "term": term_of.get(r["term_id"], "?"),
                    "term_id": int(r["term_id"]),
                    "tf": int(r["tf"]),
                    "df": int(df),
                    "idf": idf,
                    "contribution": _term(int(r["tf"]), int(dl), avgdl, idf),
                }
            )
        return out

    def term_vectors(
        self, doc_id: int, turn_idx: int | None = None
    ) -> DataFrame:
        """ES _termvectors endpoint: per-term statistics for one
        conversation, or for one turn of it when `turn_idx` is given.

        Conversation level returns (term, term_id, tf, df): tf summed
        over the conversation's turns, df the corpus-wide document
        frequency from the dictionary (the reference's TermMap df,
        engine/src/term_map.rs).  Turn level adds (positions,
        start_offsets, end_offsets): token indices within the turn plus
        UTF-8 byte ranges recovered from the row store's starts/ends
        arrays (sentence.rs:36-44 contract) with pure-codegen array ops
        — no re-tokenization.  Ordered term ASC.  Unknown or deleted
        doc_ids return no rows (dead handles, like get_doc).

        Bounded cost: one row-store point lookup (tombstone-aware via
        get_doc) + one dictionary hash join with the per-doc term set
        broadcast (a conversation's distinct terms are driver-small by
        construction; the dictionary side streams)."""
        t = self.get_doc(doc_id)
        if turn_idx is not None:
            g = t.where(F.col("turn_idx") == int(turn_idx)).select(
                "starts", "ends", F.explode("grouped").alias("g")
            )
            per = g.select(
                F.col("g.term").alias("term"),
                F.col("g.tf").alias("tf"),
                F.col("g.positions").alias("positions"),
                F.transform(
                    "g.positions", lambda p: F.get("starts", p)
                ).alias("start_offsets"),
                F.transform(
                    "g.positions", lambda p: F.get("ends", p)
                ).alias("end_offsets"),
            )
        else:
            per = (
                t.select(F.explode("grouped").alias("g"))
                .groupBy(F.col("g.term").alias("term"))
                .agg(F.sum("g.tf").cast("int").alias("tf"))
            )
        dict_ = self.index.term_dict.select("term", "term_id", "df")
        cols = ["term", "term_id", "tf", "df"] + (
            ["positions", "start_offsets", "end_offsets"]
            if turn_idx is not None
            else []
        )
        return (
            F.broadcast(per).join(dict_, "term").select(*cols).orderBy("term")
        )

    def rank_eval(self, requests: dict, k: int = 10) -> DataFrame:
        """ES _rank_eval endpoint: IR quality metrics for judged queries.

        `requests` maps each query string to its judgment list of
        (doc_id, turn_idx, grade) triples (grade 0 = judged irrelevant;
        retrieved rows with no judgment count as grade 0 — the ES
        default).  Returns one row per query, ordered query_id ASC:
        (query_id, query, precision_k, recall_k, mrr, ndcg_k), each
        rounded to 6 decimals.  Metric definitions (ES rank_eval):

          precision@k = relevant retrieved / retrieved (≤ k)
          recall@k    = relevant retrieved / total judged-relevant
          mrr         = 1 / rank of the first relevant retrieved row
          ndcg@k      = DCG@k / ideal DCG@k, DCG = Σ (2^grade − 1)
                        / log2(rank + 1)

        Queries with no relevant judgments (or no hits) score 0.0, not
        null.  Ranks use the engine's total result order (score DESC,
        doc_id, turn_idx) so metrics are deterministic under ties.

        Scale shape: ONE search_many batch for all queries (the shared
        candidate scan), judgments broadcast (driver-small by
        construction), then per-query pure-codegen window/agg — no
        per-query jobs, no driver-side metric loops."""
        from pyspark.sql.window import Window

        qs = list(requests)
        if not qs:
            raise ValueError("rank_eval() needs at least one query")
        res = self.search_many(qs, k=k)
        wr = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id"), F.asc("turn_idx")
        )
        ranked = res.withColumn("rank", F.row_number().over(wr))
        jrows = [
            (i, int(d), int(t), int(g))
            for i, q in enumerate(qs)
            for (d, t, g) in requests[q]
        ]
        judg = self.spark.createDataFrame(
            jrows, "query_id int, doc_id long, turn_idx int, grade int"
        )
        rel = F.when(F.col("grade") > 0, 1).otherwise(0)
        j = ranked.join(
            F.broadcast(judg), ["query_id", "doc_id", "turn_idx"], "left"
        ).fillna({"grade": 0})
        per = j.groupBy("query_id").agg(
            (F.sum(rel) / F.count("*")).alias("p_at_k"),
            F.sum(rel).cast("double").alias("nrel_ret"),
            F.max(
                F.when(F.col("grade") > 0, F.lit(1.0) / F.col("rank"))
            ).alias("mrr0"),
            F.sum(
                (F.pow(F.lit(2.0), F.col("grade")) - 1.0)
                / F.log2(F.col("rank") + F.lit(1.0))
            ).alias("dcg"),
        )
        wj = Window.partitionBy("query_id").orderBy(
            F.desc("grade"), F.asc("doc_id"), F.asc("turn_idx")
        )
        ideal = (
            judg.where(F.col("grade") > 0)
            .withColumn("r", F.row_number().over(wj))
            .where(F.col("r") <= int(k))
            .groupBy("query_id")
            .agg(
                F.sum(
                    (F.pow(F.lit(2.0), F.col("grade")) - 1.0)
                    / F.log2(F.col("r") + F.lit(1.0))
                ).alias("idcg")
            )
        )
        totals = judg.groupBy("query_id").agg(
            F.sum(rel).cast("double").alias("n_rel")
        )
        spine = self.spark.createDataFrame(
            list(enumerate(qs)), "query_id int, query string"
        )
        z = F.lit(0.0)
        return (
            spine.join(per, "query_id", "left")
            .join(ideal, "query_id", "left")
            .join(totals, "query_id", "left")
            .select(
                "query_id",
                "query",
                F.round(F.coalesce("p_at_k", z), 6).alias("precision_k"),
                F.round(
                    F.coalesce(
                        F.col("nrel_ret")
                        / F.when(F.col("n_rel") > 0, F.col("n_rel")),
                        z,
                    ),
                    6,
                ).alias("recall_k"),
                F.round(F.coalesce("mrr0", z), 6).alias("mrr"),
                F.round(
                    F.coalesce(F.col("dcg") / F.col("idcg"), z), 6
                ).alias("ndcg_k"),
            )
            .orderBy("query_id")
        )

    def explain(self, query: str, where: str | None = None) -> str:
        return self.search(query, where=where)._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

