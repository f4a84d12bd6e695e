"""Query-time synonym expansion — the relational analogue of Lucene's
query-side SynonymFilter: single-word clauses whose analyzed token
matches a synonym entry rewrite into an OR of the word and its synonyms
BEFORE planning, so the expanded query rides every evaluation path
(postings / blocks) unchanged and scores exactly like the
spelled-out OR.

Scope (documented, Lucene-parity): synonyms apply to single-word
literals only.  Words INSIDE multi-word phrases are left alone — a
positional synonym graph ("fast table" also matching "quick table")
needs per-position alternatives in the phrase verifier, which is the
index-time synonym design; at query time users spell the variants.
Prefix/fuzzy/regex clauses are never analyzed, hence never expanded.
Matching is on the ANALYZED token (lowercase + stem), so {"fast": ...}
expands the literal "FAST" too.
"""

from __future__ import annotations

from .parser import And, AndNot, Expr, Literal, Near, Or
from ..tokenizer import tokenize_terms


def expand_synonyms(expr: Expr, synonyms: dict[str, list[str]]) -> Expr:
    """Rewrite `expr` with `synonyms` ({word: [alternatives...]}).
    Pure AST → AST; evaluation/scoring semantics are the ordinary OR's."""
    if not synonyms:
        return expr
    # analyzed-token lookup: key and literal match after tokenization
    table: dict[str, list[str]] = {}
    for word, alts in synonyms.items():
        toks = tokenize_terms(word)
        if len(toks) != 1:
            raise ValueError(
                f"synonym key must tokenize to exactly one word: "
                f"{word!r} -> {toks}"
            )
        if not isinstance(alts, (list, tuple)) or not alts:
            raise ValueError(f"synonym entry {word!r} needs alternatives")
        table[toks[0]] = list(alts)

    def rec(e: Expr) -> Expr:
        if isinstance(e, Literal):
            toks = tokenize_terms(e.text)
            if len(toks) == 1 and toks[0] in table:
                out: Expr = e
                for alt in table[toks[0]]:
                    out = Or(out, Literal(alt.replace('"', " ")))
                return out
            return e  # multi-word phrases: positions — out of scope
        if isinstance(e, And):
            return And(rec(e.lhs), rec(e.rhs))
        if isinstance(e, Or):
            return Or(rec(e.lhs), rec(e.rhs))
        if isinstance(e, AndNot):
            # both sides analyze, like Lucene: a prohibited word's
            # synonyms are prohibited too
            return AndNot(rec(e.lhs), rec(e.rhs))
        if isinstance(e, Near):
            return e  # positional — same out-of-scope rule as phrases
        return e  # Prefix/Fuzzy/Regex: never analyzed, never expanded

    return rec(expr)
