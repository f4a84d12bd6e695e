"""Deterministic synthetic transcript corpus (FIXTURES.md §1).

Pure function of (seed, n_convs): a seeded PRNG, no wall clock, generated
sequentially so results are independent of parallelism.  Schema is exactly
the BASELINE.json `input_hint` shape:

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Design properties (pinned in FIXTURES.md):
  * 5,000-lemma vocabulary: 20 hot terms (each present in >10% of turns —
    exercises the hot-term-skew/salting path), ~4,480 Zipf(s=1.07) body
    lemmas, 500 rare-tail lemmas appearing ≤3 times each.
  * planted phrases ("crystal kingdom", "roll for insight") with known
    positives, non-adjacent near-misses and duplicate-term turns for the
    phrase-adjacency operator (reference engine/src/query/phrase.rs:89-126).
  * a few pinned Unicode turns (accents, non-Latin script, acronyms).
  * lognormal turn lengths 3..120 tokens so BM25's length normalisation
    is exercised.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

HOT_TERMS = [
    "the", "a", "of", "to", "and", "you", "i", "it", "that", "we",
    "roll", "dice", "game", "turn", "check", "okay", "like", "just",
    "so", "what",
]

_SYL_A = ["ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu",
          "na", "pe", "qui", "ro", "su", "ta", "ve", "wi", "xo", "zu"]
_SYL_B = ["ran", "tel", "mon", "der", "lis", "ver", "nak", "pol", "gar",
          "thi", "sum", "bel", "cor", "dun", "fen", "gol", "him", "jar",
          "kel", "lum", "mor", "nim"]
_SYL_C = ["", "", "a", "o", "is", "us", "ing", "ed", "er", "on", "ar", "um"]

PHRASE_POS = "crystal kingdom"
PHRASE_POS2 = "roll for insight"
NEAR_MISSES = [
    "crystal bright kingdom",
    "kingdom of crystal",
    "roll insight for",
]
DUP_TURN = "crystal crystal kingdom crystal kingdom shard"

UNICODE_TURNS = [
    "café naïve résumé visit",
    "Привет мир transcript",
    "NASA IBM iPhone mixedCase Acronyms",
]

ROLES = ["user", "assistant", "assistant", "user", "system", "tool"]
TOOLS = ["", "", "", "search", "dice_roller", "lookup"]

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _lemmas() -> tuple[list[str], list[str]]:
    """(body lemmas, rare-tail lemmas) — deterministic synthetic wordlist."""
    words: list[str] = []
    for a in _SYL_A:
        for b in _SYL_B:
            for c in _SYL_C:
                words.append(a + b + c)
                if len(words) >= 4980:
                    return words[:4480], words[4480:4980]
    raise AssertionError("unreachable")


def _zipf_cdf(n: int, s: float = 1.07) -> list[float]:
    w = [1.0 / (k**s) for k in range(1, n + 1)]
    tot = sum(w)
    acc, cdf = 0.0, []
    for x in w:
        acc += x
        cdf.append(acc / tot)
    return cdf


def _sample_zipf(rng: random.Random, cdf: list[float]) -> int:
    u = rng.random()
    lo, hi = 0, len(cdf) - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if cdf[mid] < u:
            lo = mid + 1
        else:
            hi = mid
    return lo


def generate_rows(n_convs: int, seed: int = 42, avg_turns: int = 12) -> list[dict]:
    """All turns for n_convs conversations, deterministically."""
    rng = random.Random(seed)
    body, rare = _lemmas()
    cdf = _zipf_cdf(len(body))
    rows: list[dict] = []

    for ci in range(n_convs):
        conv_id = f"conv-{ci:06d}"
        n_turns = max(2, min(40, int(rng.lognormvariate(0, 0.5) * avg_turns)))
        for ti in range(n_turns):
            n_tok = max(3, min(120, int(rng.lognormvariate(0, 0.7) * 14)))
            toks: list[str] = []
            for _ in range(n_tok):
                if rng.random() < 0.35:
                    toks.append(HOT_TERMS[rng.randrange(len(HOT_TERMS))])
                else:
                    toks.append(body[_sample_zipf(rng, cdf)])
            # plant phrases / near-misses / dup-term turns at known slots
            if ci % 7 == 0 and ti == 1:
                mid = len(toks) // 2
                toks[mid:mid] = PHRASE_POS.split()
            if ci % 11 == 0 and ti == 2:
                toks[1:1] = PHRASE_POS2.split()
            if ci % 13 == 0 and ti == 0:
                toks[0:0] = NEAR_MISSES[ci % len(NEAR_MISSES)].split()
            if ci % 101 == 0 and ti == 3:
                toks[0:0] = DUP_TURN.split()
            text = " ".join(toks)
            if ci % 53 == 0 and ti == 0:
                text = UNICODE_TURNS[ci % len(UNICODE_TURNS)] + " " + text
            role = ROLES[(ci + ti) % len(ROLES)]
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": ti,
                    "role": role,
                    "text": text,
                    "tool": TOOLS[(ci + ti) % len(TOOLS)] if role == "tool" else "",
                    "ts": _EPOCH + timedelta(seconds=ci * 1000 + ti * 7),
                }
            )

    # rare tail: each lemma appended to 1..3 deterministic turns
    n_rows = len(rows)
    for ri, lemma in enumerate(rare):
        for j in range(1 + ri % 3):
            idx = (ri * 7919 + j * 104729) % n_rows
            rows[idx]["text"] += " " + lemma
    return rows


def to_arrow(rows: list[dict]):
    import pyarrow as pa

    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    cols = {k: [r[k] for r in rows] for k in schema.names}
    return pa.Table.from_pydict(cols, schema=schema)


# pinned fixture sizes (FIXTURES.md §1)
SIZES = {"t1": 50, "t2": 1000, "bench": 50000}


# ---------------------------------------------------------------------------
# Spark-parallel generation for large bench corpora.
#
# generate_rows() above uses ONE sequential PRNG (cheap, and the golden
# fixtures pin it).  For multi-million-turn scaling corpora we need
# parallel generation that is STILL deterministic regardless of
# partitioning, so each conversation gets its own seed derived from
# (seed, conv_index) and is generated independently.


def generate_conv_rows(
    ci: int, seed: int = 42, avg_turns: int = 12, burstiness: float = 0.0
) -> list[dict]:
    """All turns of conversation `ci` — pure function of (seed, ci).

    `burstiness` (default 0 — golden fixtures pin the 0 output) adds
    term burstiness: with that probability a body token REPEATS an
    earlier token of the same turn instead of a fresh Zipf draw.  Real
    corpora are bursty (a term that appears once in a document tends to
    appear again — Church & Gale 1995), which is what gives BM25 a
    skewed tf distribution and block-max WAND its pruning headroom; the
    iid draw's tf≈1-everywhere makes every block's max_part near the
    global max and θ can exclude almost nothing (measured:
    BENCH/PRUNING_CROSSOVER.md)."""
    rng = random.Random((seed << 32) ^ (ci * 0x9E3779B9))
    body, rare = _lemmas()
    cdf = _zipf_cdf(len(body))
    conv_id = f"conv-{ci:08d}"
    rows: list[dict] = []
    n_turns = max(2, min(40, int(rng.lognormvariate(0, 0.5) * avg_turns)))
    for ti in range(n_turns):
        n_tok = max(3, min(120, int(rng.lognormvariate(0, 0.7) * 14)))
        toks: list[str] = []
        body_toks: list[str] = []
        for _ in range(n_tok):
            if rng.random() < 0.35:
                toks.append(HOT_TERMS[rng.randrange(len(HOT_TERMS))])
            elif (
                burstiness > 0.0  # must SHORT-CIRCUIT before the rng call:
                # an extra draw at burstiness=0 would shift the whole
                # stream and break the pinned golden fixtures
                and body_toks
                and rng.random() < burstiness
            ):
                t = body_toks[rng.randrange(len(body_toks))]
                toks.append(t)
                body_toks.append(t)
            else:
                t = body[_sample_zipf(rng, cdf)]
                toks.append(t)
                body_toks.append(t)
        if ci % 7 == 0 and ti == 1:
            mid = len(toks) // 2
            toks[mid:mid] = PHRASE_POS.split()
        if ci % 11 == 0 and ti == 2:
            toks[1:1] = PHRASE_POS2.split()
        if ci % 13 == 0 and ti == 0:
            toks[0:0] = NEAR_MISSES[ci % len(NEAR_MISSES)].split()
        if ci % 1009 == 0 and ti == 0:
            toks.append(rare[ci % len(rare)])
        role = ROLES[(ci + ti) % len(ROLES)]
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": ti,
                "role": role,
                "text": " ".join(toks),
                "tool": TOOLS[(ci + ti) % len(TOOLS)] if role == "tool" else "",
                "ts": _EPOCH + timedelta(seconds=ci * 1000 + ti * 7),
            }
        )
    return rows


def spark_write_corpus(
    spark, path: str, n_convs: int, seed: int = 42, burstiness: float = 0.0
) -> int:
    """Generate the corpus in parallel with Spark (mapInPandas over conv
    index ranges) and write parquet.  Deterministic content independent of
    partitioning (per-conv seeds)."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )

    def gen(batches):
        for pdf in batches:
            out = []
            for ci in pdf["id"]:
                out.extend(generate_conv_rows(int(ci), seed, burstiness=burstiness))
            yield pd.DataFrame(out)

    par = spark.sparkContext.defaultParallelism * 2
    df = spark.range(0, n_convs, 1, par).mapInPandas(gen, schema)
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).count()
