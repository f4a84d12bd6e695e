"""Query planning and the index reader.

Every search entry point plans through `plan_exprs`: one dictionary
lookup for the expressions' words, one expansion pass for their
prefix/fuzzy/regex nodes, then `lower` applies the reference's rewrites
(engine/src/query/parser.rs:74-144):

  * every literal plans as a phrase (parser.rs:87-90);
  * AND of phrases flattens into one phrase conjunction
    (IntersectingPhraseQuery, intersect.rs:149-229);
  * OR whose children are all single-term literals becomes one keyword
    set (KeywordsQuery, parser.rs:112-122).

A plan is then matched and scored in ONE place, the candidate frame of
operators/batch.py: `_batch_pred_sql` compiles each plan node to a
predicate over a turn's term-presence bitmask (plus positions for
phrase/proximity terms), and the BM25 fold there is bit-identical to the
single-node oracle (idf on the driver with the same math.log, the
per-turn sum in ascending term_id order, FIXTURES.md §3); the search
variants are the tails there.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.parser import (
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
from ..sources.tables import (
    dict_gens_of,
    format_by_name,
    live,
    read_stats,
    resolve_term_dict,
)
from ..tokenizer import tokenize_terms

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("score", T.DoubleType()),
    ]
)
MATCH_COLS = ["doc_id", "turn_idx"]


# ---------------------------------------------------------------------------
# physical plan nodes


@dataclass(frozen=True)
class PNode:
    pass


@dataclass(frozen=True)
class PPhrase(PNode):
    ids: tuple[int, ...]  # term-id sequence, 0 = OOV


@dataclass(frozen=True)
class PPhraseAnd(PNode):
    phrases: tuple[tuple[int, ...], ...]


@dataclass(frozen=True)
class PKeywords(PNode):
    ids: tuple[int, ...]


@dataclass(frozen=True)
class PMinMatch(PNode):
    """minimum_should_match (plans/parser.py MinShould): a turn matches
    when at least `m` of the `ids` occur in it.  Monotone-positive, so
    block-max pruning stays sound (a match's score sums a SUBSET of the
    query terms' contributions — the per-term upper bounds still bound
    it); on the batch bitmask path the predicate is a popcount."""

    ids: tuple[int, ...]
    m: int


@dataclass(frozen=True)
class PNear(PNode):
    """Positional proximity: both terms in one turn with some position
    pair within `slop` (plans/parser.py Near).  Rides the phrase
    machinery — same candidate groupBy (incl. rarest-term-first seeding),
    different position predicate."""

    lhs: int
    rhs: int
    slop: int
    ordered: bool


@dataclass(frozen=True)
class PWithin(PNode):
    """k-term unordered proximity (plans/parser.py Within): every term
    in one turn with some one-position-per-term choice spanning ≤
    `window`.  Rides the phrase machinery — same candidate groupBy
    (incl. rarest-term-first seeding) — with the anchored cover
    predicate (∃ anchor p in any term's positions: every term has a
    position in [p, p+window]; the anchor ranges over candidate span
    minima, so this equals max−min ≤ window without enumerating the
    k-way cross product)."""

    ids: tuple[int, ...]  # deduped, sorted
    window: int


@dataclass(frozen=True)
class PDiff(PNode):
    """Boolean difference (plans/parser.py AndNot): left's matches minus
    right's — `left AND NOT right` in the candidate predicate.
    Right-side terms are excluded from BM25 scoring (Lucene's
    prohibited-clause rule)."""

    left: PNode
    right: PNode


@dataclass(frozen=True)
class PAnd(PNode):
    children: tuple[PNode, ...]


@dataclass(frozen=True)
class POr(PNode):
    children: tuple[PNode, ...]


def lower(
    expr: Expr,
    term_of: dict[str, int],
    prefix_ids: dict[str, tuple[int, ...]] | None = None,
    fuzzy_ids: dict[tuple[str, int], tuple[int, ...]] | None = None,
) -> PNode:
    """AST → physical plan with the reference's rewrites.

    `prefix_ids` / `fuzzy_ids` map each Prefix / Fuzzy node to its
    dictionary expansion (Index.expand_prefix / expand_fuzzy) — both
    lower to the SAME PKeywords scan a hand-written OR of the expanded
    terms would (Lucene's MultiTermQuery → BooleanQuery rewrite)."""

    def lit_ids(text: str) -> tuple[int, ...]:
        return tuple(term_of.get(t, 0) for t in tokenize_terms(text))

    def rec(e: Expr) -> PNode:
        if isinstance(e, Literal):
            return PPhrase(lit_ids(e.text))
        if isinstance(e, Prefix):
            ids = (prefix_ids or {}).get(e.text.lower(), ())
            return PKeywords(tuple(ids))
        if isinstance(e, Fuzzy):
            ids = (fuzzy_ids or {}).get((e.text.lower(), int(e.max_edits)), ())
            return PKeywords(tuple(ids))
        if isinstance(e, Regex):
            # regex expansions ride prefix_ids under a "re:" key (":"
            # can never appear in a dictionary term or a valid prefix —
            # builder.prefix() refuses it), keeping every call-site
            # signature unchanged
            ids = (prefix_ids or {}).get("re:" + e.pattern.lower(), ())
            return PKeywords(tuple(ids))
        if isinstance(e, MinShould):
            ids = []
            for w in e.words:
                toks = tokenize_terms(w)
                if len(toks) != 1:
                    raise ValueError(
                        "keywords(min_match=...) words must each tokenize "
                        f"to exactly one word: {w!r} -> {toks}"
                    )
                ids.append(term_of.get(toks[0], 0))
            return PMinMatch(tuple(ids), int(e.m))
        if isinstance(e, Near):
            lw = lit_ids(e.lhs)
            rw = lit_ids(e.rhs)
            if len(lw) != 1 or len(rw) != 1:
                raise ValueError(
                    "near() sides must each tokenize to exactly one word: "
                    f"{e.lhs!r} -> {lw}, {e.rhs!r} -> {rw}"
                )
            return PNear(lw[0], rw[0], int(e.slop), bool(e.ordered))
        if isinstance(e, Within):
            ids = []
            for w in e.words:
                toks = tokenize_terms(w)
                if len(toks) != 1:
                    raise ValueError(
                        "within() words must each tokenize to exactly one "
                        f"word: {w!r} -> {toks}"
                    )
                ids.append(term_of.get(toks[0], 0))
            # stem-collapsed duplicates become one requirement; sorted
            # for a deterministic plan
            return PWithin(tuple(sorted(set(ids))), int(e.window))
        if isinstance(e, AndNot):
            return PDiff(rec(e.lhs), rec(e.rhs))
        if isinstance(e, And):
            kids = []
            for side in (rec(e.lhs), rec(e.rhs)):
                kids.extend(side.children if isinstance(side, PAnd) else [side])
            if all(isinstance(c, PPhrase) for c in kids):
                return PPhraseAnd(tuple(c.ids for c in kids))
            return PAnd(tuple(kids))
        if isinstance(e, Or):
            kids = []
            for side in (rec(e.lhs), rec(e.rhs)):
                kids.extend(side.children if isinstance(side, POr) else [side])
            if all(isinstance(c, PPhrase) and len(c.ids) == 1 for c in kids):
                return PKeywords(tuple(c.ids[0] for c in kids))
            return POr(tuple(kids))
        raise TypeError(type(e))

    return rec(expr)


def plan_term_ids(node: PNode) -> set[int]:
    if isinstance(node, PPhrase):
        return set(node.ids)
    if isinstance(node, PKeywords):
        return set(node.ids)
    if isinstance(node, PPhraseAnd):
        return {t for p in node.phrases for t in p}
    if isinstance(node, PMinMatch):
        return set(node.ids)
    if isinstance(node, PNear):
        return {node.lhs, node.rhs}
    if isinstance(node, PWithin):
        return set(node.ids)
    if isinstance(node, PDiff):
        return plan_term_ids(node.left)  # prohibited side never scores
    return {t for c in node.children for t in plan_term_ids(c)}


def pred_term_ids(node: PNode) -> set[int]:
    """Every term id the boolean PREDICATE references — unlike
    plan_term_ids this includes PDiff's prohibited side: evaluating
    NOT(rhs) needs rhs presence bits, even though rhs never scores."""
    if isinstance(node, PDiff):
        return pred_term_ids(node.left) | pred_term_ids(node.right)
    if isinstance(node, (PAnd, POr)):
        return {t for c in node.children for t in pred_term_ids(c)}
    return plan_term_ids(node)


def needs_postings(node: PNode) -> bool:
    """True when the plan must be matched from the positional postings
    table: positions live only there, and so does a PDiff's prohibited
    side — the blocks path's scan and pair-granular pruned decode cover
    only SCORING terms, which would leave the rhs presence bits silently
    unset."""
    if isinstance(node, PDiff):
        return True
    if isinstance(node, (PAnd, POr)):
        return any(needs_postings(c) for c in node.children)
    return bool(_phrase_term_ids(node))


def required_term_ids(node: PNode) -> set[int]:
    """Term ids every match of `node` contains: all terms of a phrase,
    proximity node or phrase conjunction, the union over an AND's
    children, an AndNot's left side.  Empty where no single term is
    required (OR, keywords, minimum-should-match) — the phrase seed of
    operators/batch.py then stays off."""
    if isinstance(node, (PPhrase, PWithin)):
        return {t for t in node.ids if t > 0}
    if isinstance(node, PNear):
        return {t for t in (node.lhs, node.rhs) if t > 0}
    if isinstance(node, PPhraseAnd):
        return {t for p in node.phrases for t in p if t > 0}
    if isinstance(node, PAnd):
        return {t for c in node.children for t in required_term_ids(c)}
    if isinstance(node, PDiff):
        return required_term_ids(node.left)
    return set()


def _phrase_term_ids(node: PNode) -> set[int]:
    """Terms needing POSITION arrays (multi-term phrase adjacency only,
    plus both sides of a proximity node)."""
    if isinstance(node, PPhrase):
        return set(node.ids) if len(node.ids) > 1 else set()
    if isinstance(node, PNear):
        return {node.lhs, node.rhs}
    if isinstance(node, PWithin):
        return set(node.ids)
    if isinstance(node, PDiff):
        return _phrase_term_ids(node.left) | _phrase_term_ids(node.right)
    if isinstance(node, PPhraseAnd):
        return {t for p in node.phrases if len(p) > 1 for t in p}
    if isinstance(node, (PAnd, POr)):
        return {t for c in node.children for t in _phrase_term_ids(c)}
    return set()


# ---------------------------------------------------------------------------
# index handle


class Index:
    """Reader over an index directory built by operators.build, in the
    current format only: sources.tables.read_stats rejects a stats.json
    that lacks a field every current writer records.  Every table is
    partition-pruned to its committed generations (sources.tables.live)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.stats = read_stats(index_dir)
        # table format pinned at build time (stats.json)
        self.fmt = format_by_name(self.stats["table_format"])
        self.turns = live(
            self.fmt.read(spark, index_dir, "turns"), self.stats["gens"]
        )
        self.postings = live(
            self.fmt.read(spark, index_dir, "postings"), self.stats["post_gens"]
        )
        # the dictionary is a base snapshot plus per-append/delete DELTA
        # partitions (stats.dict_gens); resolve_term_dict partition-prunes
        # to the live set and merges last-writer-wins per term.  Filters
        # on term/term_id (the grouping keys) still push into the scan;
        # a single-gen set is a pure partition filter (no shuffle).
        self.term_dict = resolve_term_dict(
            self.fmt.read(spark, index_dir, "term_dict"),
            dict_gens_of(self.stats),
        )
        self._blocks: DataFrame | None = None
        self._doc_meta: DataFrame | None = None
        self._doc_stats: tuple[int, float] | None = None
        self._dfd_cache: dict[int, int] = {}
        self._tombstones: DataFrame | None | bool = False  # False = unread

    @property
    def doc_meta(self) -> DataFrame:
        if self._doc_meta is None:
            self._doc_meta = live(
                self.fmt.read(self.spark, self.index_dir, "doc_meta"),
                self.stats["gens"],
            )
        return self._doc_meta

    @property
    def n_docs(self) -> int:
        """Number of doc-id slots (max doc_id + 1; dense ids start at 1,
        slot 0 is unused) — the denominator for the index's block count
        (block_id = doc_id // docs_per_block, build.py:323).  Distinct from stats["N"], which counts TURNS (the
        BM25 scoring unit): a doc (conversation) holds ~a dozen turns, so
        deriving the block count from N overestimates it by that factor
        and mis-routes the batch path (direct vs pruned).  Stays a valid
        bound after delete/compact — dense ids are never reassigned, only
        retired."""
        return int(self.stats["n_docs"])

    def doc_stats(self) -> tuple[int, float]:
        """(n_docs_registered, avgdl_doc): conversation-level BM25 corpus
        statistics for search_docs — registered-conversation count and
        mean conversation length.  The mean is derived from the EXACT
        integer sum of total_dl (long addition is associative, so the
        result is deterministic across partitionings; a float avg() agg
        would drift by partial-agg order).  Includes tombstoned-but-
        unpurged docs — the same Lucene-style stats drift the turn-level
        path accepts until compact.  One metadata-scale agg, cached per
        Index instance (the engine reloads the Index on delete/compact,
        invalidating it)."""
        if self._doc_stats is None:
            r = self.doc_meta.agg(
                F.count("*").alias("n"),
                F.sum("total_dl").cast("long").alias("s"),
            ).collect()[0]
            n = int(r["n"])
            self._doc_stats = (n, (int(r["s"] or 0) / n) if n else 0.0)
        return self._doc_stats

    @property
    def total_blocks(self) -> int:
        return -(-self.n_docs // int(self.stats["docs_per_block"]))

    @property
    def blocks(self) -> DataFrame:
        if self._blocks is None:
            self._blocks = live(
                self.fmt.read(self.spark, self.index_dir, "blocks"),
                self.stats["post_gens"],
            )
        return self._blocks

    @property
    def tombstones(self) -> DataFrame | None:
        """doc_ids deleted but not yet physically purged by compaction
        (operators/delete.py), or None when no filter is needed.  Gated on
        stats.tombstones_unpurged so indexes that never saw a delete —
        and compacted ones, where dead docs have no postings and no
        turns/doc_meta rows left — pay nothing.  The one tombstone handle
        for every path: scoring, get_doc and describe.  Cached on the
        Index handle — the Engine reloads the Index on delete/compact, so
        per-call table re-reads are avoided (ADVICE r4)."""
        if self._tombstones is False:
            if int(self.stats.get("tombstones_unpurged", 0)) > 0:
                self._tombstones = self.fmt.read(
                    self.spark, self.index_dir, "tombstones"
                ).select("doc_id")
            else:
                self._tombstones = None
        return self._tombstones

    def exclude_tombstones(self, df: DataFrame) -> DataFrame:
        """Anti-join `df` (any doc_id-carrying frame) against the deleted
        set — broadcast: tombstones ≪ corpus by construction."""
        t = self.tombstones
        if t is None:
            return df
        return df.join(F.broadcast(t), "doc_id", "left_anti")

    def lookup_terms(self, words: list[str]) -> dict[str, tuple[int, int]]:
        """term string → (term_id, df); missing → absent (OOV).

        A filtered read of the bucketed dictionary — the Spark analogue of
        the frozen perfect-hash probe (term_map.rs:88-92)."""
        if not words:
            return {}
        rows = self.term_dict.where(F.col("term").isin(list(set(words)))).collect()
        return {r["term"]: (r["term_id"], r["df"]) for r in rows}

    # Lucene caps wildcard rewrites at maxClauseCount=1024; same default.
    PREFIX_MAX_EXPANSIONS = 1024

    def expand_prefix(
        self, text: str, max_expansions: int | None = None
    ) -> list[tuple[int, int]]:
        """Dictionary terms starting with `text` (lowercased verbatim —
        wildcards are never analyzed) → [(term_id, df)].

        One filtered dictionary read; `startswith` pushes to the parquet
        scan as a StringStartsWith filter (plan-audited), so at a 10^8-term
        vocabulary the scan touches only row groups whose term min/max
        straddle the prefix (the dictionary is written sorted by term).
        When more than `max_expansions` terms match, the df-heaviest are
        kept (ties term-ASC) — Lucene's top-terms rewrite: deterministic,
        and the dropped tail is the lowest-signal fraction of the match
        set.  An empty prefix is refused (it would expand to the whole
        vocabulary)."""
        pfx = text.lower()
        if not pfx:
            raise ValueError("empty prefix")
        cap = max_expansions or self.PREFIX_MAX_EXPANSIONS
        rows = (
            self.term_dict.where(F.col("term").startswith(pfx))
            .select("term_id", "df")
            .orderBy(F.desc("df"), F.asc("term_id"))
            .limit(cap)
            .collect()
        )
        return [(r["term_id"], r["df"]) for r in rows]

    def expand_fuzzy(
        self, text: str, max_edits: int = 1, max_expansions: int | None = None
    ) -> list[tuple[int, int]]:
        """Dictionary terms within `max_edits` Levenshtein distance of
        `text` (lowercased verbatim — like prefixes, fuzzy patterns are
        never analyzed) → [(term_id, df)], df-heaviest `max_expansions`
        kept (same deterministic cap rule as expand_prefix).

        Scale shape: one dictionary scan with a pushed length band
        (|len(term) − len(q)| ≤ k is a necessary condition for edit
        distance ≤ k, and length() + the levenshtein filter stay in JVM
        codegen — no shuffle, no Python).  This is the relational
        analogue of pre-FST Lucene's brute fuzzy enumeration; at a
        10^8-term vocabulary the scan is one map pass over ~10^8 tiny
        rows per DISTINCT fuzzy term in the workload, which a Levenshtein
        automaton (Lucene 4+) would beat — acceptable here because fuzzy
        terms are interactive-query features, not batch-pipeline hot
        paths."""
        q = text.lower()
        if not q:
            raise ValueError("empty fuzzy term")
        k = int(max_edits)
        if k < 1:
            raise ValueError("max_edits must be >= 1")
        cap = max_expansions or self.PREFIX_MAX_EXPANSIONS
        ln = F.length("term")
        rows = (
            self.term_dict.where(
                ln.between(len(q) - k, len(q) + k)
                & (F.levenshtein(F.col("term"), F.lit(q)) <= k)
            )
            .select("term_id", "df")
            .orderBy(F.desc("df"), F.asc("term_id"))
            .limit(cap)
            .collect()
        )
        return [(r["term_id"], r["df"]) for r in rows]

    def expand_regex(
        self, pattern: str, max_expansions: int | None = None
    ) -> list[tuple[int, int]]:
        """Dictionary terms FULLY matched by `pattern` (Lucene
        RegexpQuery: anchored to the whole term; lowercased verbatim —
        never analyzed) → [(term_id, df)], df-heaviest `max_expansions`
        kept (same deterministic cap rule as expand_prefix).

        Scale shape: one JVM-codegen dictionary scan (rlike stays
        whole-stage); `^...$` anchoring is added here, so rlike's
        find-anywhere semantics become whole-term.  When the pattern has
        a literal prefix (e.g. `sca[nl].*`), an extra startswith
        predicate is derived from it and PUSHED to the parquet scan —
        the term-sorted dictionary then prunes row groups the way
        expand_prefix does; a leading-wildcard pattern scans the whole
        dictionary (exactly Lucene's leading-wildcard caveat)."""
        pat = pattern.lower()
        if not pat:
            raise ValueError("empty regex pattern")
        cap = max_expansions or self.PREFIX_MAX_EXPANSIONS
        cond = F.col("term").rlike("^(?:" + pat + ")$")
        lit_prefix = _regex_literal_prefix(pat)
        if lit_prefix:
            cond = F.col("term").startswith(lit_prefix) & cond
        rows = (
            self.term_dict.where(cond)
            .select("term_id", "df")
            .orderBy(F.desc("df"), F.asc("term_id"))
            .limit(cap)
            .collect()
        )
        return [(r["term_id"], r["df"]) for r in rows]

    def postings_for(self, term_ids: set[int]) -> DataFrame:
        ids = sorted(t for t in term_ids if t > 0)
        if not ids:
            return self.postings.where(F.lit(False))
        nb = self.stats["n_buckets"]
        buckets = sorted({t % nb for t in ids})
        # bucket predicate prunes hive partitions; term_id predicate is
        # pushed to parquet row-group min/max (files sorted by term_id)
        return self.postings.where(
            F.col("bucket").isin(buckets) & F.col("term_id").isin(ids)
        )


# ---------------------------------------------------------------------------
# planning and the search variants


def _regex_literal_prefix(pat: str) -> str:
    """Longest literal prefix every match of `pat` must start with —
    SOUND (never excludes a match) or empty.  A top-level alternation
    means the branches may diverge → no prefix; a quantifier that can
    make its char optional (?, *, {) drops that char; '+' keeps it."""
    depth = 0
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            i += 2
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth = max(0, depth - 1)
        elif c == "|" and depth == 0:
            return ""
        i += 1
    out = ""
    for ch in pat:
        if ch.isalnum() or ch in "_-":
            out += ch
        else:
            if ch in "?*{" and out:
                out = out[:-1]
            break
    return out


# Rarest-term-first phrase seeding (operators/batch.py _seed_term_ids)
# engages when the spread between the hottest scanned term's df and the
# seed's df crosses this ratio (the scan saved is ~the hot term's share
# of the postings read) AND the seed postings fit a broadcast (the seed
# terms' dfs bound the seed row count, known exactly from the dictionary
# before any job runs) AND the hot term's postings are big enough that
# skipping them repays the seed's extra scan + broadcast build
# (PHRASE_SEED_MIN_HOT_DF — measured crossover, see BENCH/PHRASE_SEED.md:
# at hot-df ~4k the seed loses ~80 ms; it wins once the hot term's
# positional postings dominate the shuffle).  Read at call time, so a
# caller may set them on this module.
PHRASE_SEED_DF_RATIO = 8.0
PHRASE_SEED_BROADCAST_MAX = 2_000_000
PHRASE_SEED_MIN_HOT_DF = 25_000


def plan_exprs(
    ix: Index, exprs: list[Expr]
) -> tuple[list[tuple[int, PNode, list[int]]], dict[int, int]]:
    """The one planning sequence behind every search entry point: ONE
    dictionary lookup for every literal word of `exprs`, ONE expansion
    pass over their prefix/fuzzy/regex nodes (a pattern repeated across
    expressions costs one dictionary scan), then `lower` →
    (items, dfs).  `items` holds (query_id, plan, scoring term ids) for
    every expression that has a scoring term — one without any can
    match nothing — and `dfs` maps every looked-up term id to its df."""
    words = sorted(
        {t for e in exprs for lit_ in _literal_texts(e) for t in tokenize_terms(lit_)}
    )
    lut = ix.lookup_terms(words)
    term_of = {w: tid for w, (tid, _df) in lut.items()}
    dfs = dict(lut.values())
    prefix_ids: dict[str, tuple[int, ...]] = {}
    fuzzy_ids: dict[tuple[str, int], tuple[int, ...]] = {}
    for e in exprs:
        _expand_multiterm(ix, e, prefix_ids, fuzzy_ids, dfs)
    items = []
    for qid, e in enumerate(exprs):
        node = lower(e, term_of, prefix_ids=prefix_ids, fuzzy_ids=fuzzy_ids)
        qids = sorted({t for t in plan_term_ids(node) if t > 0})
        if qids:
            items.append((qid, node, qids))
    return items, dfs


def _expand_multiterm(
    ix: Index,
    expr: Expr,
    prefix_ids: dict[str, tuple[int, ...]],
    fuzzy_ids: dict[tuple[str, int], tuple[int, ...]],
    dfs: dict[int, int],
) -> None:
    """Fill in every Prefix / Fuzzy / Regex node's dictionary expansion,
    plus the expanded terms' dfs (they score exactly like spelled-out OR
    keywords).  Patterns already present are skipped, so a BATCH of
    expressions sharing the dicts pays one dictionary scan per distinct
    pattern.  Regex expansions live in `prefix_ids` under a "re:<pattern>"
    key (see lower())."""
    for p in sorted({e.text.lower() for e in _walk(expr) if isinstance(e, Prefix)}):
        if p in prefix_ids:
            continue
        pairs = ix.expand_prefix(p)
        prefix_ids[p] = tuple(tid for tid, _ in pairs)
        dfs.update(pairs)
    for key in sorted(
        {(e.text.lower(), int(e.max_edits)) for e in _walk(expr) if isinstance(e, Fuzzy)}
    ):
        if key in fuzzy_ids:
            continue
        pairs = ix.expand_fuzzy(key[0], key[1])
        fuzzy_ids[key] = tuple(tid for tid, _ in pairs)
        dfs.update(pairs)
    for p in sorted(
        {e.pattern.lower() for e in _walk(expr) if isinstance(e, Regex)}
    ):
        rkey = "re:" + p
        if rkey in prefix_ids:
            continue
        pairs = ix.expand_regex(p)
        prefix_ids[rkey] = tuple(tid for tid, _ in pairs)
        dfs.update(pairs)


def _walk(expr: Expr):
    yield expr
    if isinstance(expr, (And, AndNot, Or)):
        yield from _walk(expr.lhs)
        yield from _walk(expr.rhs)


def _mask_consts(ids: set[int], bitpos: dict[int, int], n_words: int) -> list[int]:
    """Per-word bit constants for a term-id set under the batch's bit
    layout (word w = bits [64w, 64w+64))."""
    words = [0] * n_words
    for t in ids:
        p = bitpos[t]
        words[p // 64] |= 1 << (p % 64)
    # emit as SIGNED 64-bit (bit 63 → negative literal) to match the JVM
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def _batch_pred_sql(
    node: PNode, bitpos: dict[int, int], n_words: int
) -> str:
    """Boolean match predicate for one query as a SQL expression string
    over a turn's presence BITMASK columns m0..m{W-1} (bit i of the batch
    layout set ⇔ term all_ids[i] occurs in the turn) and `posmap`
    (term_id → positions, PHRASE terms only; adjacency checks) — the
    one boolean evaluator for every plan node type, so a whole batch
    shares ONE candidate scan.  Generated as TEXT, not Column
    objects: a large batch plan builds in one F.expr call instead of
    thousands of py4j round trips (measured ~3 s of driver time).

    Why bitmasks: Spark map lookups scan ArrayBasedMapData linearly; a
    ~100-term batch evaluating ~90 predicates per candidate row via map
    probes saturates DRAM bandwidth at high core counts (measured:
    identical batch cost ~70 CPU-s at local[2] vs 260+ at local[8]).
    With masks every presence test is an O(1) register AND — the pred
    pass stays cache-resident and scales with cores.  tf values for
    scoring come from the compact int tfmap, positions for the (few)
    phrase terms from posmap via try_element_at (ANSI mode throws on
    plain element_at misses)."""

    def present_all(ids: set[int]) -> str:
        return " AND ".join(
            f"(m{w} & {c}L) = {c}L"
            for w, c in enumerate(_mask_consts(ids, bitpos, n_words))
            if c
        )

    def present_any(ids: set[int]) -> str:
        return " OR ".join(
            f"(m{w} & {c}L) != 0L"
            for w, c in enumerate(_mask_consts(ids, bitpos, n_words))
            if c
        )

    def adjacency(ids: tuple[int, ...]) -> str:
        conds = " AND ".join(
            f"array_contains(try_element_at(posmap, {tid}L), p + {j})"
            for j, tid in enumerate(ids[1:], start=1)
        )
        return f"exists(try_element_at(posmap, {ids[0]}L), p -> {conds})"

    if isinstance(node, PKeywords):
        ids = {t for t in node.ids if t > 0}
        if not ids:
            return "false"
        return present_any(ids)
    if isinstance(node, PMinMatch):
        ids = {t for t in node.ids if t > 0}
        if len(ids) < node.m:
            return "false"
        pop = " + ".join(
            f"bit_count(m{w} & {c}L)"
            for w, c in enumerate(_mask_consts(ids, bitpos, n_words))
            if c
        )
        return f"({pop}) >= {node.m}"
    if isinstance(node, PPhrase):
        if not node.ids or 0 in node.ids:
            return "false"
        pred = present_all(set(node.ids))
        if len(node.ids) > 1:
            pred = f"({pred}) AND {adjacency(node.ids)}"
        return pred
    if isinstance(node, PNear):
        if node.lhs == 0 or node.rhs == 0:
            return "false"
        cond = (
            f"q > p AND q - p <= {node.slop}"
            if node.ordered
            else f"q != p AND abs(q - p) <= {node.slop}"
        )
        near = (
            f"exists(try_element_at(posmap, {node.lhs}L), p -> "
            f"exists(try_element_at(posmap, {node.rhs}L), q -> {cond}))"
        )
        return f"({present_all({node.lhs, node.rhs})}) AND {near}"
    if isinstance(node, PWithin):
        if not node.ids or 0 in node.ids:
            return "false"
        if len(node.ids) == 1:
            return present_all(set(node.ids))
        arrs = ", ".join(f"try_element_at(posmap, {t}L)" for t in node.ids)
        covered = " AND ".join(
            f"exists(try_element_at(posmap, {t}L), "
            f"q -> q >= p AND q <= p + {node.window})"
            for t in node.ids
        )
        within = f"exists(flatten(array({arrs})), p -> {covered})"
        return f"({present_all(set(node.ids))}) AND {within}"
    if isinstance(node, PPhraseAnd):
        if any((not p or 0 in p) for p in node.phrases):
            return "false"
        parts = [present_all({t for p in node.phrases for t in p})]
        parts += [adjacency(p) for p in node.phrases if len(p) > 1]
        return " AND ".join(f"({x})" for x in parts)
    if isinstance(node, PDiff):
        return (
            f"({_batch_pred_sql(node.left, bitpos, n_words)})"
            f" AND NOT ({_batch_pred_sql(node.right, bitpos, n_words)})"
        )
    if isinstance(node, PAnd):
        return " AND ".join(
            f"({_batch_pred_sql(c, bitpos, n_words)})" for c in node.children
        )
    if isinstance(node, POr):
        return " OR ".join(
            f"({_batch_pred_sql(c, bitpos, n_words)})" for c in node.children
        )
    raise TypeError(type(node))


def _literal_texts(expr: Expr) -> list[str]:
    if isinstance(expr, Literal):
        return [expr.text]
    if isinstance(expr, Near):
        return [expr.lhs, expr.rhs]
    if isinstance(expr, MinShould):
        return list(expr.words)
    if isinstance(expr, Within):
        return list(expr.words)
    if isinstance(expr, (Fuzzy, Prefix, Regex)):
        return []  # expanded against the dictionary, not tokenized
    return _literal_texts(expr.lhs) + _literal_texts(expr.rhs)
