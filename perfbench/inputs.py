"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same corpus, the same maintenance batches and the same queries.  Queries
are drawn from the generated corpus itself (hot terms, the most frequent
body lemmas, the planted phrases and word pairs that co-occur in a turn),
so every query matches something and the engine does real work.
"""

from __future__ import annotations

import random
from collections import Counter

from joie_spark.corpus import HOT_TERMS, PHRASE_POS, PHRASE_POS2, generate_conv_rows

# serve: base corpus, one append batch (fresh conv_ids that sort after the
# base ones) and one delete batch of base conversations
N_BASE_CONVS = 150
N_APPEND_CONVS = 15
N_DELETE_CONVS = 10
BURSTINESS = 0.3

# singles per route in one round of the serve mix, and the batch size
SINGLES_PER_ROUTE = 2
BATCH_SIZE = 20

# curate: documents.parquet-shaped table
N_DOCS = 500
EXACT_DUP_SHARE = 0.04
NEAR_DUP_SHARE = 0.04

# words the query parser treats as operators, never usable as literals
_PARSER_KEYWORDS = {"and", "or"}


def serve_corpus(seed: int) -> dict:
    """Base rows, append rows and the conv_ids to delete."""
    base = [
        r for ci in range(N_BASE_CONVS)
        for r in generate_conv_rows(ci, seed=seed, burstiness=BURSTINESS)
    ]
    delta = [
        r for ci in range(N_BASE_CONVS, N_BASE_CONVS + N_APPEND_CONVS)
        for r in generate_conv_rows(ci, seed=seed, burstiness=BURSTINESS)
    ]
    rng = random.Random(seed)
    base_convs = sorted({r["conv_id"] for r in base})
    deleted = sorted(rng.sample(base_convs, N_DELETE_CONVS))
    dead = set(deleted)
    survivors = [r for r in base if r["conv_id"] not in dead] + delta
    return {"base": base, "delta": delta, "deleted": deleted, "survivors": survivors}


def _words(text: str) -> list[str]:
    return text.split()


def serve_queries(seed: int, rows: list[dict]) -> dict:
    """One round of the serve mix, drawn from `rows` (the live corpus).

    keyword_or -> pure disjunction of single words (block-max WAND route)
    boolean    -> AND / mixed AND-OR of single words (batch-of-one route)
    phrase     -> quoted multi-word phrases (postings-scan route)
    batch      -> BATCH_SIZE distinct queries mixing all three shapes
    """
    rng = random.Random(seed * 7919 + 1)
    hot = set(HOT_TERMS) | _PARSER_KEYWORDS
    df = Counter(w for r in rows for w in set(_words(r["text"])) if w not in hot)
    head = [w for w, _ in df.most_common(40)]
    hot_ok = sorted(set(HOT_TERMS) - _PARSER_KEYWORDS)
    turns = [_words(r["text"]) for r in rows]

    def pair_in_turn(adjacent: bool) -> tuple[str, str]:
        while True:
            t = turns[rng.randrange(len(turns))]
            body = [i for i, w in enumerate(t) if w not in hot]
            if adjacent:
                cands = [i for i in range(len(t) - 1) if t[i] not in _PARSER_KEYWORDS
                         and t[i + 1] not in _PARSER_KEYWORDS]
                if cands:
                    i = rng.choice(cands)
                    return t[i], t[i + 1]
            elif len({t[i] for i in body}) >= 2:
                a, b = rng.sample(sorted({t[i] for i in body}), 2)
                return a, b

    def keyword_or() -> str:
        return " OR ".join([rng.choice(hot_ok)] + rng.sample(head, 2))

    def boolean() -> str:
        a, b = pair_in_turn(adjacent=False)
        if rng.random() < 0.5:
            return f"{a} AND {b}"
        return f"{a} AND {b} OR {rng.choice(head)}"

    def phrase() -> str:
        a, b = pair_in_turn(adjacent=True)
        return f'"{a} {b}"'

    singles = []
    for _ in range(SINGLES_PER_ROUTE):
        singles += [("wand", keyword_or()), ("batch.single", boolean()),
                    ("query.phrase", phrase())]
    batch: list[str] = [f'"{PHRASE_POS}"', f'"{PHRASE_POS2}"']
    makers = [keyword_or, boolean, phrase]
    while len(batch) < BATCH_SIZE:
        q = makers[len(batch) % 3]()
        if q not in batch:
            batch.append(q)
    return {"singles": singles, "batch": batch}


# --- curate ---------------------------------------------------------------

# words that the curate leaves hard-code (BM25_TERMS, BATCH_TERMS) plus the
# rest of the fixture vocabulary, and stopwords for the quality filters
_TECH = ("spark window query fast table scan group order join hash row batch "
         "column customer filter small slow merge vector line data agg value "
         "key stream part big sort").split()
_STOP = "the a of and to is in that it for".split()
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa"]
_TAIL = [a + b + c for a in _SYL for b in _SYL for c in ("", "n", "r", "s")]
_LANGS = ["en", "en", "de", "fr", "es", "zh"]


def _zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (k ** s) for k in range(1, n + 1)]


def curate_documents(seed: int) -> list[dict]:
    """Rows of a documents.parquet-schema table with planted exact and
    near duplicates (so the dedup leaves have pairs to find)."""
    rng = random.Random(seed * 104729 + 3)
    vocab = _TECH + _TAIL
    weights = _zipf_weights(len(vocab))
    texts: list[str] = []
    for _ in range(N_DOCS):
        n = rng.randint(12, 110)
        words = rng.choices(vocab, weights=weights, k=n)
        for i in range(0, n, 4):
            if rng.random() < 0.6:
                words[i] = rng.choice(_STOP)
        texts.append(" ".join(words))
    n_exact = int(N_DOCS * EXACT_DUP_SHARE)
    n_near = int(N_DOCS * NEAR_DUP_SHARE)
    picks = rng.sample(range(N_DOCS // 2), n_exact + n_near)
    for j, src in enumerate(picks):
        dst = N_DOCS - 1 - j
        words = texts[src].split()
        if j >= n_exact:
            i = rng.randrange(len(words))
            words[i] = rng.choice(vocab)
        texts[dst] = " ".join(words)
    return [
        {
            "doc_id": i,
            "text": t,
            "lang": _LANGS[i % len(_LANGS)],
            "source": f"src{i % 20}",
            "n_chars": len(t),
        }
        for i, t in enumerate(texts)
    ]


def exact_duplicate_pairs(docs: list[dict]) -> set[tuple[int, int]]:
    """(a, b) with a < b for every pair of documents with identical text."""
    by_text: dict[str, list[int]] = {}
    for d in docs:
        by_text.setdefault(d["text"], []).append(d["doc_id"])
    return {
        (ids[i], ids[j])
        for ids in by_text.values()
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
    }
