"""Single-node pure-Python reference engine ("the oracle").

Implements exactly the spec the Spark engine must match (FIXTURES.md §3):

  * joie's boolean match semantics (reference engine/src/query/):
      - Literal  = phrase: turns containing ALL phrase terms (conjunctive
        posting intersection, phrase.rs:37-77) AND the exact consecutive
        term-id sequence (adjacency, phrase.rs:89-126); rows without an
        adjacency match are dropped (phrase.rs:79-86).
      - And      = intersection of child match sets (intersect.rs:59-84;
        all children's filter_map must pass, intersect.rs:86-104).
      - Or       = union of child match sets (union_query.rs:48-64; a row
        is kept iff ≥1 child produces highlights, union_query.rs:66-83).
      - OOV query terms map to id 0 which has an empty posting list
        (term_map.rs:94-99).
      - turn-level filters (role/tool/ts) are plain predicates.
  * the pinned BM25 ordering on top of the match set (joie itself is
    unranked, searcher.rs:37-52): k1=1.2, b=0.75,
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)), accumulation over the
    *unique* query terms in ascending term_id order, float64 throughout,
    tie-break (score DESC, doc_id ASC, turn_idx ASC).

Both this oracle and the Spark engine share joie_spark.tokenizer, and the
Spark engine evaluates the identical float expression in the identical
fold order, so scores are required to be bit-identical (tested).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from typing import Callable

from .plans.parser import (
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
    parse_query,
)
from .tokenizer import tokenize

K1 = 1.2
B = 0.75


def bm25_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_term(tf: int, dl: int, avgdl: float, idf: float) -> float:
    """One term's contribution; the Spark fold evaluates this exact
    expression shape (same parenthesisation → bit-identical float64)."""
    return idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))


@dataclass
class Turn:
    doc_id: int
    turn_idx: int
    conv_id: str
    role: str
    tool: str
    text: str
    terms: list[int]  # term-id sequence (token order)
    tokens: list[tuple[int, int]]  # byte ranges
    positions: dict[int, list[int]] = field(default_factory=dict)  # term -> token idxs

    @property
    def dl(self) -> int:
        return len(self.terms)


class OracleIndex:
    """In-memory index over the transcript rows."""

    def __init__(self, rows: list[dict]):
        # dense doc ids over sorted distinct conv_ids, starting at 1
        # (all-zero SentenceId is reserved/invalid in the reference,
        # engine/src/sentence.rs:17-34)
        convs = sorted({r["conv_id"] for r in rows})
        self.doc_of_conv = {c: i + 1 for i, c in enumerate(convs)}

        toks_per_row = [tokenize(r["text"]) for r in rows]
        vocab = sorted({t.term for toks in toks_per_row for t in toks})
        # term ids: 1..V in lexicographic order; 0 = OOV (term_map.rs:69-73)
        self.term_id = {t: i + 1 for i, t in enumerate(vocab)}

        self.turns: dict[tuple[int, int], Turn] = {}
        self.postings: dict[int, list[tuple[int, int]]] = {}
        total_dl = 0
        for r, toks in zip(rows, toks_per_row):
            doc = self.doc_of_conv[r["conv_id"]]
            key = (doc, r["turn_idx"])
            term_ids = [self.term_id[t.term] for t in toks]
            turn = Turn(
                doc_id=doc,
                turn_idx=r["turn_idx"],
                conv_id=r["conv_id"],
                role=r["role"],
                tool=r["tool"],
                text=r["text"],
                terms=term_ids,
                tokens=[(t.start, t.end) for t in toks],
            )
            for pos, tid in enumerate(term_ids):
                turn.positions.setdefault(tid, []).append(pos)
            self.turns[key] = turn
            total_dl += len(term_ids)
            for tid in set(term_ids):
                self.postings.setdefault(tid, []).append(key)

        for lst in self.postings.values():
            lst.sort()
        self.n_turns = len(rows)
        self.avgdl = total_dl / self.n_turns
        self.df = {tid: len(lst) for tid, lst in self.postings.items()}

        # per-document metadata (the SimpleStorage dense array analogue,
        # storage/src/store.rs:46-100) for DocumentFilter semantics
        self.doc_meta: dict[int, dict] = {}
        for r in rows:
            doc = self.doc_of_conv[r["conv_id"]]
            m = self.doc_meta.setdefault(
                doc,
                {
                    "conv_id": r["conv_id"],
                    "n_turns": 0,
                    "total_dl": 0,
                    "first_ts": r["ts"],
                    "last_ts": r["ts"],
                    "roles": set(),
                },
            )
            m["n_turns"] += 1
            m["total_dl"] += self.turns[(doc, r["turn_idx"])].dl
            m["first_ts"] = min(m["first_ts"], r["ts"])
            m["last_ts"] = max(m["last_ts"], r["ts"])
            m["roles"].add(r["role"])

    # ------------------------------------------------------------------
    def query_term_ids(self, text: str) -> list[int]:
        """tokenize_phrase semantics: OOV → 0 (term_map.rs:94-99)."""
        return [self.term_id.get(t.term, 0) for t in tokenize(text)]

    def _phrase_matches(self, phrase: list[int]) -> set[tuple[int, int]]:
        if not phrase:
            return set()
        sets = [set(self.postings.get(t, ())) for t in phrase]
        cands = set.intersection(*sets) if sets else set()
        out = set()
        for key in cands:
            if _find_subsequence(self.turns[key].terms, phrase):
                out.add(key)
        return out

    def expand_prefix(self, text: str, cap: int = 1024) -> list[int]:
        """Dictionary expansion for a Prefix node — same rewrite rule as
        Index.expand_prefix (never analyzed; df-heaviest `cap` terms kept,
        ties term-id ASC)."""
        pfx = text.lower()
        if not pfx:
            raise ValueError("empty prefix")
        ids = [tid for t, tid in self.term_id.items() if t.startswith(pfx)]
        ids.sort(key=lambda tid: (-self.df.get(tid, 0), tid))
        return sorted(ids[:cap])

    def expand_fuzzy(self, text: str, max_edits: int = 1, cap: int = 1024) -> list[int]:
        """Dictionary expansion for a Fuzzy node — same rule as
        Index.expand_fuzzy (never analyzed; length band + Levenshtein ≤
        max_edits; df-heaviest `cap` kept, ties term-id ASC)."""
        q = text.lower()
        if not q or max_edits < 1:
            raise ValueError("fuzzy needs a non-empty term and max_edits >= 1")
        ids = [
            tid
            for t, tid in self.term_id.items()
            if abs(len(t) - len(q)) <= max_edits
            and _levenshtein(t, q) <= max_edits
        ]
        ids.sort(key=lambda tid: (-self.df.get(tid, 0), tid))
        return sorted(ids[:cap])

    def expand_regex(self, pattern: str, cap: int = 1024) -> list[int]:
        """Dictionary expansion for a Regex node — same rule as
        Index.expand_regex (anchored full-term match, never analyzed;
        df-heaviest `cap` kept, ties term-id ASC)."""
        pat = pattern.lower()
        if not pat:
            raise ValueError("empty regex pattern")
        rx = re.compile(pat)
        ids = [tid for t, tid in self.term_id.items() if rx.fullmatch(t)]
        ids.sort(key=lambda tid: (-self.df.get(tid, 0), tid))
        return sorted(ids[:cap])

    def _near_matches(self, expr: Near) -> set[tuple[int, int]]:
        lw = self.query_term_ids(expr.lhs)
        rw = self.query_term_ids(expr.rhs)
        if len(lw) != 1 or len(rw) != 1 or 0 in lw or 0 in rw:
            return set()
        a, b = lw[0], rw[0]
        out = set()
        for key in set(self.postings.get(a, ())) & set(self.postings.get(b, ())):
            turn = self.turns[key]
            pa, pb = turn.positions.get(a, ()), turn.positions.get(b, ())
            if expr.ordered:
                hit = any(0 < q - p <= expr.slop for p in pa for q in pb)
            else:
                hit = any(q != p and abs(q - p) <= expr.slop for p in pa for q in pb)
            if hit:
                out.add(key)
        return out

    def _within_matches(self, expr: Within) -> set[tuple[int, int]]:
        """Brute force over the k-way position cross product (max−min ≤
        window) — deliberately NOT the anchored reformulation the engine
        evaluates, so rank-identity tests prove the two forms equal."""
        import itertools

        ids: set[int] = set()
        for w in expr.words:
            t = self.query_term_ids(w)
            if len(t) != 1 or t[0] == 0:
                return set()
            ids.add(t[0])
        keys = None
        for t in ids:
            ks = set(self.postings.get(t, ()))
            keys = ks if keys is None else keys & ks
        out = set()
        for key in keys or ():
            turn = self.turns[key]
            poslists = [turn.positions.get(t, ()) for t in sorted(ids)]
            for choice in itertools.product(*poslists):
                if max(choice) - min(choice) <= expr.window:
                    out.add(key)
                    break
        return out

    def _eval(self, expr: Expr) -> set[tuple[int, int]]:
        if isinstance(expr, Literal):
            return self._phrase_matches(self.query_term_ids(expr.text))
        if isinstance(expr, Prefix):
            return {
                key
                for tid in self.expand_prefix(expr.text)
                for key in self.postings.get(tid, ())
            }
        if isinstance(expr, Fuzzy):
            return {
                key
                for tid in self.expand_fuzzy(expr.text, expr.max_edits)
                for key in self.postings.get(tid, ())
            }
        if isinstance(expr, Regex):
            return {
                key
                for tid in self.expand_regex(expr.pattern)
                for key in self.postings.get(tid, ())
            }
        if isinstance(expr, MinShould):
            ids = [self.query_term_ids(w) for w in expr.words]
            flat = [i[0] for i in ids if len(i) == 1 and i[0] > 0]
            counts: dict[tuple[int, int], int] = {}
            for tid in set(flat):
                for key in self.postings.get(tid, ()):
                    counts[key] = counts.get(key, 0) + 1
            return {key for key, n in counts.items() if n >= expr.m}
        if isinstance(expr, Near):
            return self._near_matches(expr)
        if isinstance(expr, Within):
            return self._within_matches(expr)
        if isinstance(expr, And):
            return self._eval(expr.lhs) & self._eval(expr.rhs)
        if isinstance(expr, AndNot):
            return self._eval(expr.lhs) - self._eval(expr.rhs)
        if isinstance(expr, Or):
            return self._eval(expr.lhs) | self._eval(expr.rhs)
        raise TypeError(type(expr))

    # ------------------------------------------------------------------
    def search(
        self,
        query: str,
        k: int = 10,
        turn_filter: Callable[[Turn], bool] | None = None,
        doc_filter: Callable[[dict], bool] | None = None,
    ) -> list[tuple[int, int, float]]:
        """BM25 top-k over the boolean match set → [(doc, turn, score)]."""
        return self.search_expr(
            parse_query(query), k=k, turn_filter=turn_filter, doc_filter=doc_filter
        )

    def search_expr(
        self,
        expr: Expr,
        k: int = 10,
        turn_filter: Callable[[Turn], bool] | None = None,
        doc_filter: Callable[[dict], bool] | None = None,
        boosts: dict[str, float] | None = None,
    ) -> list[tuple[int, int, float]]:
        """search() over a pre-built AST (the QueryBuilder twin) — also
        the oracle for the builder-only Near/Prefix extensions.
        `boosts` maps words → weights multiplying those terms' score
        contributions (the search_expr_boosted twin — same idf·boost
        product, so float64 scores agree bitwise)."""
        matches = self._eval(expr)
        if turn_filter is not None:
            matches = {key for key in matches if turn_filter(self.turns[key])}
        if doc_filter is not None:
            matches = {key for key in matches if doc_filter(self.doc_meta[key[0]])}

        qterms = sorted(self._scoring_term_ids(expr))
        idf = {t: bm25_idf(self.n_turns, self.df.get(t, 0)) for t in qterms}
        for word, w in (boosts or {}).items():
            ids = self.query_term_ids(word)
            if len(ids) == 1 and ids[0] in idf:
                idf[ids[0]] = idf[ids[0]] * float(w)

        scored = []
        for key in matches:
            turn = self.turns[key]
            score = 0.0
            for t in qterms:
                tf = len(turn.positions.get(t, ()))
                if tf:
                    score += bm25_term(tf, turn.dl, self.avgdl, idf[t])
            scored.append((key[0], key[1], score))
        scored.sort(key=lambda x: (-x[2], x[0], x[1]))
        return scored[:k]

    def _scoring_term_ids(self, expr: Expr) -> set[int]:
        """Term ids participating in BM25 scoring — literal/near words
        plus every prefix expansion (mirrors query.plan_term_ids)."""
        if isinstance(expr, Literal):
            return {t for t in self.query_term_ids(expr.text) if t > 0}
        if isinstance(expr, Near):
            return {
                t
                for w in (expr.lhs, expr.rhs)
                for t in self.query_term_ids(w)
                if t > 0
            }
        if isinstance(expr, Prefix):
            return set(self.expand_prefix(expr.text))
        if isinstance(expr, Fuzzy):
            return set(self.expand_fuzzy(expr.text, expr.max_edits))
        if isinstance(expr, Regex):
            return set(self.expand_regex(expr.pattern))
        if isinstance(expr, MinShould):
            return {
                t for w in expr.words for t in self.query_term_ids(w) if t > 0
            }
        if isinstance(expr, Within):
            return {
                t for w in expr.words for t in self.query_term_ids(w) if t > 0
            }
        if isinstance(expr, AndNot):
            return self._scoring_term_ids(expr.lhs)  # prohibited side never scores
        return self._scoring_term_ids(expr.lhs) | self._scoring_term_ids(expr.rhs)

    def match_set(self, query: str) -> set[tuple[int, int]]:
        return self._eval(parse_query(query))

    def more_like_this(
        self, doc_id: int, k: int = 10, max_terms: int = 10, min_df: int = 1
    ) -> list[tuple[int, int, float]]:
        """Engine.more_like_this twin: conversation-level tf · bm25 idf
        term selection (ties weight DESC, term ASC), keyword OR over the
        picks, source doc excluded, BM25 top-k."""
        term_of = {tid: t for t, tid in self.term_id.items()}
        tf: dict[int, int] = {}
        for (d, _turn), turn in self.turns.items():
            if d == doc_id:
                for tid in turn.terms:
                    tf[tid] = tf.get(tid, 0) + 1
        if not tf:
            raise ValueError(f"doc_id {doc_id} unknown")
        weighted = sorted(
            (
                (n * bm25_idf(self.n_turns, self.df[tid]), term_of[tid], tid)
                for tid, n in tf.items()
                if self.df[tid] >= min_df
            ),
            key=lambda x: (-x[0], x[1]),
        )[: int(max_terms)]
        ids = sorted(tid for _w, _t, tid in weighted)
        matches = {
            key
            for tid in ids
            for key in self.postings.get(tid, ())
            if key[0] != doc_id
        }
        idf = {t: bm25_idf(self.n_turns, self.df.get(t, 0)) for t in ids}
        scored = []
        for key in matches:
            turn = self.turns[key]
            score = 0.0
            for t in ids:
                n = len(turn.positions.get(t, ()))
                if n:
                    score += bm25_term(n, turn.dl, self.avgdl, idf[t])
            scored.append((key[0], key[1], score))
        scored.sort(key=lambda x: (-x[2], x[0], x[1]))
        return scored[:k]


def _levenshtein(a: str, b: str) -> int:
    """Plain Levenshtein (unit insert/delete/substitute, no transposition)
    — the same metric as Spark's `levenshtein` expression."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _find_subsequence(haystack: list[int], needle: list[int]) -> list[int]:
    """All start positions where needle occurs consecutively in haystack
    (the adjacency check, phrase.rs:104-126)."""
    out = []
    n, m = len(haystack), len(needle)
    for i in range(n - m + 1):
        if haystack[i : i + m] == needle:
            out.append(i)
    return out


def _literals(expr: Expr) -> list[str]:
    if isinstance(expr, Literal):
        return [expr.text]
    return _literals(expr.lhs) + _literals(expr.rhs)


def collapse_ranges(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Interval merge on strict overlap (highlight.rs:11-34: merges when
    current.end > next.start; touching ranges stay separate)."""
    if not ranges:
        return []
    out: list[tuple[int, int]] = []
    cur = ranges[0]
    for r in ranges:
        if cur[1] > r[0]:
            cur = (cur[0], max(cur[1], r[1]))
        else:
            out.append(cur)
            cur = r
    out.append(cur)
    return out


def highlight_phrase(turn: Turn, phrase: list[int]) -> list[tuple[int, int]]:
    """Phrase highlighter (phrase.rs:104-126): [start of first token ..
    end of last token] per adjacency occurrence."""
    out = []
    for i in _find_subsequence(turn.terms, phrase):
        out.append((turn.tokens[i][0], turn.tokens[i + len(phrase) - 1][1]))
    return out


def highlight_parts(text: str, ranges: list[tuple[int, int]]) -> list[tuple[str, str]]:
    """Split text into alternating (kind, text) parts
    (highlight.rs:36-55); ranges are byte offsets."""
    data = text.encode("utf-8")
    cursor, parts = 0, []
    for s, e in ranges:
        if cursor < s:
            parts.append(("normal", data[cursor:s].decode("utf-8")))
        parts.append(("highlight", data[s:e].decode("utf-8")))
        cursor = e
    if cursor < len(data):
        parts.append(("normal", data[cursor:].decode("utf-8")))
    return parts
