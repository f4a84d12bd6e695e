"""Snippet highlighting (mandatory in the reference, README.md:5).

Runs AFTER top-k, so only k rows are touched (the reference highlights
lazily per yielded row, searcher.rs:43-52 — post-top-k is our analogue).
The highlighter re-tokenizes the k result texts (memoized stemmer; k is
tiny) and works on term *strings*, which is equivalent to the reference's
term-id sequences because interning is injective.

Semantics (reference engine/src/highlight.rs, query/keywords.rs:102-128,
query/phrase.rs:104-126, intersect.rs:86-104):
  * phrase literal → [start of first token .. end of last token] per
    adjacency occurrence; a keyword is a one-token phrase, so its range
    is every occurrence of the term;
  * per row: concatenate all node highlights, sort by start, collapse
    strictly-overlapping ranges, split text into normal/highlight parts.
"""

from __future__ import annotations

from itertools import repeat
from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..oracle import collapse_ranges
from ..plans.parser import (
    AndNot,
    Expr,
    Fuzzy,
    Literal,
    MinShould,
    Near,
    Prefix,
    Regex,
    Within,
)
from ..tokenizer import tokenize, tokenize_terms

PARTS_TYPE = T.ArrayType(
    T.StructType(
        [T.StructField("kind", T.StringType()), T.StructField("text", T.StringType())]
    )
)


def highlight_phrases(expr: Expr) -> list[list[str]]:
    """The token sequences a query highlights: every literal phrase and
    every proximity/min-match word, tokenized like the indexed text.
    Prohibited clauses (the right side of an AndNot) never highlight,
    and dictionary-expanded clauses (fuzzy, prefix, regex) are not
    highlighted."""

    def texts(e: Expr) -> list[str]:
        if isinstance(e, Literal):
            return [e.text]
        if isinstance(e, Near):
            return [e.lhs, e.rhs]
        if isinstance(e, (MinShould, Within)):
            return list(e.words)
        if isinstance(e, (Fuzzy, Prefix, Regex)):
            return []
        if isinstance(e, AndNot):
            return texts(e.lhs)
        return texts(e.lhs) + texts(e.rhs)

    return [tokenize_terms(t) for t in texts(expr)]


def _ranges_for(text: str, phrases: list[list[str]]) -> list[tuple[int, int]]:
    toks = tokenize(text)
    terms = [t.term for t in toks]
    ranges: list[tuple[int, int]] = []
    for ph in phrases:
        m = len(ph)
        if m == 0:
            continue
        for i in range(len(terms) - m + 1):
            if terms[i : i + m] == ph:
                ranges.append((toks[i].start, toks[i + m - 1].end))
    ranges.sort(key=lambda r: r[0])
    return collapse_ranges(ranges)


def _parts(text: str, ranges: list[tuple[int, int]]) -> list[dict]:
    data = text.encode("utf-8")
    cursor, parts = 0, []
    for s, e in ranges:
        if cursor < s:
            parts.append({"kind": "normal", "text": data[cursor:s].decode("utf-8")})
        parts.append({"kind": "highlight", "text": data[s:e].decode("utf-8")})
        cursor = e
    if cursor < len(data):
        parts.append({"kind": "normal", "text": data[cursor:].decode("utf-8")})
    return parts


def _with_parts(
    results: DataFrame,
    turns: DataFrame,
    phrases_of: Callable[[pd.DataFrame], Iterable[list[list[str]]]],
) -> DataFrame:
    """Join result rows to the turn row store and compute highlight parts;
    `phrases_of(pdf)` yields each row's phrase set.

    `results` must have (doc_id, turn_idx); the join against the
    range-partitioned turns table is a k-row lookup (file skipping on
    doc_id min/max)."""
    with_text = results.join(
        turns.select("doc_id", "turn_idx", "conv_id", "role", "text"),
        ["doc_id", "turn_idx"],
        "inner",
    )
    out_schema = T.StructType(
        with_text.schema.fields + [T.StructField("parts", PARTS_TYPE)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["parts"] = [
                _parts(txt, _ranges_for(txt, phrases))
                for phrases, txt in zip(phrases_of(pdf), pdf["text"])
            ]
            yield pdf

    return with_text.mapInPandas(run, out_schema)


def add_highlights(
    results: DataFrame, turns: DataFrame, phrases: list[list[str]]
) -> DataFrame:
    """Highlight every result row with the same phrase set."""
    return _with_parts(results, turns, lambda pdf: repeat(phrases))


def add_highlights_batch(
    results: DataFrame,
    turns: DataFrame,
    phrases_by_qid: dict[int, list[list[str]]],
) -> DataFrame:
    """Batch variant: one turns join + one highlight pass for a whole
    `search_many` result (VERDICT r2 item 7) — a per-query loop would pay
    the job latency per query again.  `results` must carry query_id; each
    row is highlighted with ITS query's phrase set."""
    return _with_parts(
        results,
        turns,
        lambda pdf: (phrases_by_qid.get(int(q), []) for q in pdf["query_id"]),
    )
