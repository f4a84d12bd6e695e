"""Programmatic chaining query builder — the analogue of the reference's
``QueryBuilder::start(terms).filter_documents(df).phrases()/.keywords()``
(engine/src/query/mod.rs:46-102) plus its union/intersection composition
(intersect.rs:17-57 ``and``, union_query.rs:17-36 ``from_iter``), expressed
over the same AST the string parser produces, so both frontends share one
planner and are rank-identical by construction.

    eng.builder().phrase("crystal kingdom").top_k(5)
    eng.builder().keywords("roll", "dice").filter_documents("n_turns >= 10").top_k()
    (eng.builder().phrase("roll for insight") | eng.builder().keywords("dice"))
        .filter_turns("role = 'user'").matches()

Composition: ``a & b`` / ``a.and_(b)`` intersect, ``a | b`` / ``a.or_(b)``
union; calling ``.phrase()``/``.keywords()`` repeatedly on one builder ANDs
the clauses (each call narrows the match set, like chained DataFrame
``.where``s).  Filters apply to the WHOLE composed query, mirroring the
fused DocumentFilter (filter fused at intersect.rs:74-80, phrase.rs:52-74,
keywords.rs:73-79).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame

from .parser import (
    And,
    AndNot,
    Expr,
    Fuzzy,
    Literal,
    MinShould,
    Near,
    Or,
    Prefix,
    Regex,
    Within,
)


def _merge_pred(a: str | None, b: str | None) -> str | None:
    """Combining two builders that BOTH carry a filter ANDs the predicates
    (filters are whole-query, mirroring the fused DocumentFilter — so the
    only sound merge of two per-side filters is their conjunction; the old
    `a or b` silently dropped the right side's predicate — ADVICE r2)."""
    if a and b:
        return a if a == b else f"({a}) AND ({b})"
    return a or b


def _phrase_lit(text: str) -> Expr:
    return Literal(text.replace('"', " "))


def _keywords_expr(words: tuple[str, ...]) -> Expr:
    lits = [Literal(w.replace('"', " ")) for w in words]
    e: Expr = lits[0]
    for l_ in lits[1:]:
        e = Or(e, l_)
    return e


@dataclass(frozen=True)
class QueryBuilder:
    """Immutable: every method returns a new builder (safe to fork)."""

    _engine: object
    _expr: Expr | None = None
    _where: str | None = None
    _where_doc: str | None = None

    # -- clause constructors (chaining = AND, reference phrases()/keywords())
    def phrase(self, text: str) -> "QueryBuilder":
        return self._add(_phrase_lit(text))

    def keywords(self, *words: str, min_match: int | None = None) -> "QueryBuilder":
        """Keyword clause: OR of `words`, or — with `min_match=m` — the
        Lucene/ES minimum_should_match form: a turn matches when at
        least m of the words occur (m=1 ≡ the OR, m=len(words) ≡ the
        AND; all matched words score either way)."""
        if not words:
            raise ValueError("keywords() needs at least one word")
        if min_match is None or int(min_match) <= 1:
            return self._add(_keywords_expr(words))
        m = int(min_match)
        if m > len(words):
            raise ValueError(
                f"min_match={m} exceeds the {len(words)} given words"
            )
        return self._add(
            MinShould(tuple(w.replace('"', " ") for w in words), m)
        )

    def prefix(self, text: str) -> "QueryBuilder":
        """Wildcard term clause `text*`: matches turns containing ANY
        dictionary term starting with `text` (lowercased verbatim, never
        stemmed — the Lucene rule), scored like the equivalent spelled-out
        keyword OR.  Expansion is a pushed-down dictionary range scan
        capped at Index.PREFIX_MAX_EXPANSIONS df-heaviest terms.
        Beyond-reference extension (the string grammar is unchanged)."""
        if not text or not text.strip():
            raise ValueError("prefix() needs a non-empty prefix")
        if ":" in text:
            raise ValueError(
                "prefix() cannot contain ':' (no dictionary term does)"
            )
        return self._add(Prefix(text.strip()))

    def regex(self, pattern: str) -> "QueryBuilder":
        """Regex term clause: matches turns containing ANY dictionary
        term the pattern FULLY matches (Lucene RegexpQuery: anchored to
        the whole term; lowercased verbatim, never analyzed — like
        prefix()), scored like the spelled-out keyword OR of the
        expansion.  One JVM-codegen dictionary scan (rlike); a literal
        pattern prefix is pushed down as a startswith range predicate.
        Keep patterns RE2-safe (no backrefs/lookaround) so they mean the
        same thing engine- and oracle-side.  Beyond-reference
        extension."""
        if not pattern or not pattern.strip():
            raise ValueError("regex() needs a non-empty pattern")
        return self._add(Regex(pattern.strip()))

    def fuzzy(self, text: str, max_edits: int = 1) -> "QueryBuilder":
        """Fuzzy term clause `text~`: matches turns containing ANY
        dictionary term within `max_edits` Levenshtein distance of `text`
        (lowercased verbatim, never stemmed — like prefix()), scored like
        the spelled-out keyword OR of the expansion.  One JVM-codegen
        dictionary scan with a length-band prefilter; capped at the
        df-heaviest Index.PREFIX_MAX_EXPANSIONS terms.
        Beyond-reference extension."""
        if not text or not text.strip():
            raise ValueError("fuzzy() needs a non-empty term")
        if max_edits < 1:
            raise ValueError("fuzzy() max_edits must be >= 1")
        return self._add(Fuzzy(text.strip(), int(max_edits)))

    def near(
        self, lhs: str, rhs: str, slop: int = 3, ordered: bool = False
    ) -> "QueryBuilder":
        """Proximity clause: `lhs` and `rhs` (single words, tokenized and
        stemmed like any literal) co-occur in one turn within `slop` token
        positions — |p_rhs − p_lhs| ≤ slop, or 0 < p_rhs − p_lhs ≤ slop
        when ordered.  `"a b"` as a phrase equals near(a, b, 1,
        ordered=True) restricted to exact adjacency.  Rides the phrase
        candidate machinery (incl. rarest-term-first seeding) with a
        different position predicate.  Beyond-reference extension."""
        if slop < 1:
            raise ValueError("near() slop must be >= 1")
        return self._add(Near(lhs, rhs, int(slop), bool(ordered)))

    def within(self, *words: str, window: int = 8) -> "QueryBuilder":
        """k-term unordered proximity (Lucene SpanNearQuery shape,
        generalizing near() past two terms): all `words` (single words,
        tokenized and stemmed like any literal) co-occur in one turn
        inside a span of at most `window` token positions (max chosen
        position − min chosen position ≤ window).  near(a, b, s) equals
        within(a, b, window=s) — two distinct terms can never share a
        position, so the q≠p guard is vacuous.  All words score.
        Beyond-reference extension."""
        if len(words) < 2:
            raise ValueError("within() needs at least two words")
        if window < 1:
            raise ValueError("within() window must be >= 1")
        return self._add(Within(tuple(words), int(window)))

    def _add(self, e: Expr) -> "QueryBuilder":
        merged = e if self._expr is None else And(self._expr, e)
        return replace(self, _expr=merged)

    # -- composition (IntersectingQuery / UnionQuery)
    def and_(self, other: "QueryBuilder") -> "QueryBuilder":
        return self._combine(other, And)

    def or_(self, other: "QueryBuilder") -> "QueryBuilder":
        return self._combine(other, Or)

    def and_not(self, other: "QueryBuilder") -> "QueryBuilder":
        """Boolean difference `a - b`: this builder's matches minus
        `other`'s (Lucene's prohibited clause: negation is only legal
        against a positive left side).  `other`'s terms do not score and
        do not highlight.  `other` must carry no filters — a filter on
        the prohibited side is ambiguous (exclude b-in-user-turns ≠
        whole-query user filter), so it is refused rather than guessed.
        Beyond-reference extension."""
        if other._expr is None:
            raise ValueError("and_not() needs a clause on the right side")
        if other._where or other._where_doc:
            raise ValueError(
                "and_not() right side must not carry filters; put "
                "filter_turns/filter_documents on the combined query"
            )
        if self._expr is None:
            raise ValueError("and_not() needs a positive left side")
        return replace(self, _expr=AndNot(self._expr, other._expr))

    __and__ = and_
    __or__ = or_
    __sub__ = and_not

    def _combine(self, other: "QueryBuilder", op) -> "QueryBuilder":
        if self._expr is None or other._expr is None:
            raise ValueError("combine needs a clause on both sides")
        return replace(
            self,
            _expr=op(self._expr, other._expr),
            _where=_merge_pred(self._where, other._where),
            _where_doc=_merge_pred(self._where_doc, other._where_doc),
        )

    def with_synonyms(self, synonyms: dict[str, list[str]]) -> "QueryBuilder":
        """Expand single-word clauses of the accumulated query with
        `synonyms` ({word: [alternatives...]}) — query-time Lucene
        SynonymFilter; see plans/synonyms.py for the scope rules."""
        from .synonyms import expand_synonyms

        return replace(self, _expr=expand_synonyms(self._require_expr(), synonyms))

    # -- filters (DocumentFilter / SentenceFilter analogues)
    def filter_documents(self, sql_predicate: str) -> "QueryBuilder":
        """SQL predicate over doc_meta columns (conv_id, n_turns, total_dl,
        first_ts, last_ts, roles) — QueryBuilder::filter_documents."""
        return replace(self, _where_doc=sql_predicate)

    def filter_turns(self, sql_predicate: str) -> "QueryBuilder":
        """SQL predicate over turn columns (role, tool, ts, conv_id,
        turn_idx)."""
        return replace(self, _where=sql_predicate)

    # -- terminals
    def _require_expr(self) -> Expr:
        if self._expr is None:
            raise ValueError("empty query: add phrase()/keywords() first")
        return self._expr

    def top_k(self, k: int = 10, optimize: bool = True) -> DataFrame:
        """BM25 top-k (doc_id, turn_idx, score)."""
        from ..operators import query as Q

        return Q.search_expr(
            self._engine.index,
            self._require_expr(),
            k=k,
            where=self._where,
            where_doc=self._where_doc,
            optimize=optimize,
        )

    def top_k_collapsed(self, k: int = 10, optimize: bool = True) -> DataFrame:
        """Conversation-collapsed top-k: one row per document, ranked by
        its best matching turn → (doc_id, turn_idx, score, n_matched).
        See Engine.search_collapsed."""
        from ..operators import query as Q

        return Q.search_expr_collapsed(
            self._engine.index,
            self._require_expr(),
            k=k,
            where=self._where,
            where_doc=self._where_doc,
            optimize=optimize,
        )

    def page_after(
        self,
        cursor: tuple[int, int, float] | None,
        k: int = 10,
        optimize: bool = True,
    ) -> DataFrame:
        """Keyset pagination: the next `k` results strictly after
        `cursor` = (doc_id, turn_idx, score) — the previous page's last
        result row.  See Engine.search_after."""
        from ..operators import query as Q

        return Q.search_expr_after(
            self._engine.index,
            self._require_expr(),
            cursor,
            k=k,
            where=self._where,
            where_doc=self._where_doc,
            optimize=optimize,
        )

    def matches(self, optimize: bool = True) -> DataFrame:
        """Unranked match set in (doc_id, turn_idx) order (the reference's
        native output, searcher.rs:37-52), with filters applied."""
        from ..operators import query as Q
        from ..operators.query import MATCH_COLS
        from pyspark.sql import functions as F  # noqa: F401

        ix = self._engine.index
        m = Q.match_set_expr(ix, self._require_expr(), optimize)
        if self._where:
            m = m.join(
                ix.turns.where(self._where).select(*MATCH_COLS),
                MATCH_COLS,
                "left_semi",
            )
        if self._where_doc:
            m = m.join(
                ix.doc_meta.where(self._where_doc).select("doc_id"),
                "doc_id",
                "left_semi",
            )
        return m.orderBy(*MATCH_COLS)

    def highlighted(self, k: int = 10) -> DataFrame:
        """top-k + snippet parts (joie always snippets, README.md:5)."""
        from ..operators.highlight import add_highlights, highlight_phrases

        res = self.top_k(k)
        return add_highlights(
            res, self._engine.index.turns, highlight_phrases(self._require_expr())
        )
