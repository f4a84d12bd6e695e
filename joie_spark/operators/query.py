"""Boolean retrieval + BM25 top-k over the index tables.

Physical planning mirrors the reference's rewrites
(engine/src/query/parser.rs:74-144):

  * every literal plans as a phrase (parser.rs:87-90) —
    conjunctive posting intersection (phrase.rs:37-77) expressed as a
    count-match groupBy, then positional adjacency verified JVM-side with
    `exists`/`array_contains` over the per-term position arrays (the one
    genuinely custom operator, phrase.rs:89-126 — no UDF needed: the
    position arrays are already in the postings table).
  * AND of phrases flattens into ONE candidate pass over the union of all
    term sets (IntersectingPhraseQuery, intersect.rs:149-229).
  * OR whose children are all single-term literals becomes one keyword
    scan `term_id IN (...)` (KeywordsQuery fast path, parser.rs:112-122).
  * general AND = inner join on (doc_id, turn_idx) (intersect.rs:59-84);
    general OR = union + dropDuplicates (union_query.rs:48-64).

BM25 scoring is bit-identical to the single-node oracle: idf values are
computed on the driver in Python (same math.log), avgdl comes from the
stats aggregates, and the per-doc sum is a sequential fold over
contributions sorted by term_id with the oracle's exact expression shape
(FIXTURES.md §3), so float64 results agree bitwise.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..oracle import B, K1, bm25_idf
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
    parse_query,
)
from ..sources.tables import (
    dict_gens_of,
    format_by_name,
    live,
    read_stats,
    resolve_term_dict,
    table_path,
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
    right's — a left-anti join on (doc_id, turn_idx).  Right-side terms
    are excluded from BM25 scoring (Lucene's prohibited-clause rule)."""

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
    optimize: bool = True,
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
            if optimize and all(isinstance(c, PPhrase) for c in kids):
                return PPhraseAnd(tuple(c.ids for c in kids))
            return PAnd(tuple(kids))
        if isinstance(e, Or):
            kids = []
            for side in (rec(e.lhs), rec(e.rhs)):
                kids.extend(side.children if isinstance(side, POr) else [side])
            if optimize and all(
                isinstance(c, PPhrase) and len(c.ids) == 1 for c in kids
            ):
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


def contains_diff(node: PNode) -> bool:
    """True when the plan holds a PDiff anywhere — the batch router sends
    such queries down the postings path, whose candidate scan covers the
    prohibited side's vocabulary (the blocks path's scan and pair-granular
    pruned decode cover only SCORING terms, which would leave the rhs
    presence bits silently unset)."""
    if isinstance(node, PDiff):
        return True
    if isinstance(node, (PAnd, POr)):
        return any(contains_diff(c) for c in node.children)
    return False


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

    def dfs_for(self, term_ids: set[int]) -> dict[int, int]:
        """term_id → df for a BOUNDED set of query terms (one filtered
        dictionary read; the id-keyed twin of lookup_terms)."""
        ids = sorted(t for t in term_ids if t > 0)
        if not ids:
            return {}
        rows = (
            self.term_dict.where(F.col("term_id").isin(ids))
            .select("term_id", "df")
            .collect()
        )
        return {r["term_id"]: r["df"] for r in rows}

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

    def empty_match(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], T.StructType([RESULT_SCHEMA[0], RESULT_SCHEMA[1]])
        )


# ---------------------------------------------------------------------------
# boolean evaluation → match set DataFrame (doc_id, turn_idx)


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


def _adjacency_pred(posmap: Column, ids: tuple[int, ...]) -> Column:
    """∃p: p ∈ pos[ids[0]] ∧ p+1 ∈ pos[ids[1]] ∧ … — positional phrase
    adjacency, equivalent to the reference's term-sequence memmem scan
    (phrase.rs:104-126), evaluated entirely inside codegen."""
    def key(tid: int) -> Column:
        return F.lit(int(tid)).cast("long")

    def chain(p: Column) -> Column:
        conds = [
            F.array_contains(F.element_at(posmap, key(tid)), p + j)
            for j, tid in enumerate(ids[1:], start=1)
        ]
        return reduce(lambda a, b: a & b, conds) if conds else F.lit(True)

    return F.exists(F.element_at(posmap, key(ids[0])), chain)


def _near_pred(posmap: Column, node: "PNear") -> Column:
    """∃p ∈ pos[lhs], q ∈ pos[rhs]: |q−p| ≤ slop (ordered: 0 < q−p ≤
    slop) — pure codegen over the per-term position arrays, the sloppy
    generalization of `_adjacency_pred` (which is the ordered slop=1
    subcase restricted to exact sequence steps)."""
    lpos = F.element_at(posmap, F.lit(int(node.lhs)).cast("long"))
    rpos = F.element_at(posmap, F.lit(int(node.rhs)).cast("long"))
    slop = F.lit(int(node.slop))
    if node.ordered:
        inner = lambda p: lambda q: (q > p) & (q - p <= slop)  # noqa: E731
    else:
        inner = lambda p: lambda q: (q != p) & (F.abs(q - p) <= slop)  # noqa: E731
    return F.exists(lpos, lambda p: F.exists(rpos, inner(p)))


def _within_pred(posmap: Column, node: "PWithin") -> Column:
    """∃ anchor p ∈ ⋃ pos[t]: ∀ t: ∃ q ∈ pos[t]: p ≤ q ≤ p+window —
    pure codegen.  Sound and complete for max−min ≤ window: a witness
    choice's minimum is such an anchor, and any anchor's per-term picks
    span ≤ window.  Cost O(P²·k) over one candidate turn's positions."""
    arrs = [
        F.element_at(posmap, F.lit(int(t)).cast("long")) for t in node.ids
    ]
    anchors = F.flatten(F.array(*arrs))
    w = F.lit(int(node.window))

    def covered(p: Column) -> Column:
        conds = [
            F.exists(a, lambda q: (q >= p) & (q <= p + w)) for a in arrs
        ]
        return reduce(lambda x, y: x & y, conds)

    return F.exists(anchors, covered)


# Rarest-term-first seeding engages when the spread between the phrase's
# hottest and rarest term df crosses this ratio (the scan saved is ~the
# hot term's share of the postings read) AND the rare term's postings fit
# a broadcast (its df IS the seed row count, known exactly from the
# dictionary before any job runs) AND the hot term's postings are big
# enough that skipping them repays the seed's extra scan + broadcast
# build (PHRASE_SEED_MIN_HOT_DF — measured crossover, see
# BENCH/PHRASE_SEED.md: at hot-df ~4k the seed loses ~80 ms; it wins
# once the hot term's positional postings dominate the shuffle).
PHRASE_SEED_DF_RATIO = 8.0
PHRASE_SEED_BROADCAST_MAX = 2_000_000
PHRASE_SEED_MIN_HOT_DF = 25_000


def _phrase_candidates(
    ix: Index, unique_ids: set[int], dfs: dict[int, int] | None = None
) -> DataFrame:
    """Turns containing ALL of unique_ids, with per-term position map.

    Rarest-term-first pruning (VERDICT r4 item 2 — the distributed
    analogue of the reference seeding phrase evaluation from its smallest
    posting list, engine/src/query/phrase.rs:48): a stopword phrase like
    `"the <rare>"` would otherwise shuffle every positional posting of
    `the` into the count-match groupBy only to drop ~all of it.  When the
    df spread is extreme (PHRASE_SEED_DF_RATIO) and the rarest term's
    postings are broadcast-small (df ≤ PHRASE_SEED_BROADCAST_MAX — df is
    the exact seed size, known from the dictionary), the rare term's
    (doc_id, turn_idx) set is broadcast and semi-joined against the scan
    BEFORE the groupBy: the hot term's rows die at the scan side of the
    shuffle instead of crossing it.  Conjunctive semantics are untouched
    — every surviving group still requires ALL terms present, and every
    true candidate contains the rare term by definition."""
    post = ix.postings_for(unique_ids)
    ids = sorted(t for t in unique_ids if t > 0)
    if len(ids) > 1:
        if dfs is None:
            dfs = ix.dfs_for(set(ids))
        known = [t for t in ids if dfs.get(t, 0) > 0]
        if known:
            lo_t = min(known, key=lambda t: dfs[t])
            lo, hi = dfs[lo_t], max(dfs[t] for t in known)
            if (
                hi >= lo * PHRASE_SEED_DF_RATIO
                and hi >= PHRASE_SEED_MIN_HOT_DF
                and lo <= PHRASE_SEED_BROADCAST_MAX
            ):
                seed = ix.postings_for({lo_t}).select(*MATCH_COLS)
                post = post.join(F.broadcast(seed), MATCH_COLS, "left_semi")
    return (
        post.groupBy(*MATCH_COLS)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term_id", "positions"))
            ).alias("posmap"),
            F.count("*").alias("nt"),
        )
        .where(F.col("nt") == len(unique_ids))
    )


def eval_match(
    ix: Index, node: PNode, dfs: dict[int, int] | None = None
) -> DataFrame:
    if isinstance(node, PKeywords):
        ids = {t for t in node.ids if t > 0}
        if not ids:
            return ix.empty_match()
        return ix.postings_for(ids).select(*MATCH_COLS).distinct()

    if isinstance(node, PMinMatch):
        ids = {t for t in node.ids if t > 0}
        if len(ids) < node.m:
            return ix.empty_match()  # fewer live terms than the floor
        return (
            ix.postings_for(ids)
            .groupBy(*MATCH_COLS)
            .agg(F.count_distinct("term_id").alias("_nt"))
            .where(F.col("_nt") >= node.m)
            .select(*MATCH_COLS)
        )

    if isinstance(node, PPhrase):
        if not node.ids or 0 in node.ids:
            return ix.empty_match()
        unique = set(node.ids)
        cand = _phrase_candidates(ix, unique, dfs)
        if len(node.ids) > 1:
            cand = cand.where(_adjacency_pred(F.col("posmap"), node.ids))
        return cand.select(*MATCH_COLS)

    if isinstance(node, PNear):
        if node.lhs == 0 or node.rhs == 0:
            return ix.empty_match()
        cand = _phrase_candidates(ix, {node.lhs, node.rhs}, dfs)
        return cand.where(_near_pred(F.col("posmap"), node)).select(*MATCH_COLS)

    if isinstance(node, PWithin):
        if not node.ids or 0 in node.ids:
            return ix.empty_match()  # an OOV word can never co-occur
        cand = _phrase_candidates(ix, set(node.ids), dfs)
        if len(node.ids) > 1:
            cand = cand.where(_within_pred(F.col("posmap"), node))
        # single distinct term: the span is one position, trivially ≤ w
        return cand.select(*MATCH_COLS)

    if isinstance(node, PPhraseAnd):
        if any((not p or 0 in p) for p in node.phrases):
            return ix.empty_match()
        unique = {t for p in node.phrases for t in p}
        cand = _phrase_candidates(ix, unique, dfs)
        for p in node.phrases:
            if len(p) > 1:
                cand = cand.where(_adjacency_pred(F.col("posmap"), p))
        return cand.select(*MATCH_COLS)

    if isinstance(node, PDiff):
        left = eval_match(ix, node.left, dfs)
        right = eval_match(ix, node.right, dfs)
        # left-anti on the composite key; the right side is a match SET
        # (one row per turn), so no row explosion and Spark picks
        # broadcast vs shuffled anti by its own size estimate
        return left.join(right, MATCH_COLS, "left_anti")

    if isinstance(node, PAnd):
        parts = [eval_match(ix, c, dfs) for c in node.children]
        return reduce(lambda a, b: a.join(b, MATCH_COLS, "inner"), parts)

    if isinstance(node, POr):
        parts = [eval_match(ix, c, dfs) for c in node.children]
        return reduce(DataFrame.unionByName, parts).dropDuplicates(MATCH_COLS)

    raise TypeError(type(node))


# ---------------------------------------------------------------------------
# BM25 scoring (bit-identical to oracle.bm25_term fold)


def scored_matches(
    ix: Index,
    match: DataFrame,
    qterm_ids: list[int],
    dfs: dict[int, int] | None = None,
    boosts: dict[int, float] | None = None,
) -> DataFrame:
    """BM25-score a match set over unique query terms → UNRANKED
    (doc_id, turn_idx, score), one row per matching turn — the shared
    scoring frame behind score_matches (top-k), search_expr_collapsed
    (per-conversation best) and search_expr_after (keyset pagination).

    `dfs` (term_id → df) avoids a second dictionary read when the caller
    already looked the terms up."""
    qids = sorted({t for t in qterm_ids if t > 0})
    if not qids:
        return ix.spark.createDataFrame([], RESULT_SCHEMA)

    if dfs is None:
        dfs = {
            r["term_id"]: r["df"]
            for r in ix.term_dict.where(F.col("term_id").isin(qids))
            .select("term_id", "df")
            .collect()
        }
    n_docs = ix.stats["N"]
    avgdl = ix.stats["avgdl"]
    # per-term boost folds into the idf literal (Lucene's `term^w`:
    # score contribution scales linearly), so the scoring fold below is
    # unchanged and stays bit-identical to the oracle's boosted twin
    boosts = boosts or {}
    idf_map = F.map_from_arrays(
        F.array([F.lit(int(t)).cast("long") for t in qids]),
        F.array(
            [
                F.lit(bm25_idf(n_docs, dfs.get(t, 0)) * boosts.get(t, 1.0))
                for t in qids
            ]
        ),
    )

    cand = (
        ix.postings_for(set(qids))
        .join(match.select(*MATCH_COLS), MATCH_COLS, "left_semi")
        .groupBy(*MATCH_COLS)
        .agg(
            F.sort_array(F.collect_list(F.struct("term_id", "tf"))).alias("contribs"),
            F.first("dl").alias("dl"),
        )
    )

    c_k1p1 = F.lit(K1 + 1.0)
    c_k1 = F.lit(K1)
    c_1mb = F.lit(1.0 - B)
    c_b = F.lit(B)
    c_avgdl = F.lit(avgdl)
    dl = F.col("dl").cast("double")

    # oracle.bm25_term: idf * (tf*(K1+1)) / (tf + K1*((1-B) + (B*dl)/avgdl))
    score = F.aggregate(
        F.col("contribs"),
        F.lit(0.0),
        lambda acc, x: acc
        + (
            (F.element_at(idf_map, x["term_id"]) * (x["tf"].cast("double") * c_k1p1))
            / (
                x["tf"].cast("double")
                + c_k1 * (c_1mb + (c_b * dl) / c_avgdl)
            )
        ),
    )

    # matched turns containing none of the scoring terms (impossible here:
    # every match contains ≥1 query term) would be dropped by the semi-join;
    # boolean semantics guarantee ≥1 term per match, so sets agree.
    return cand.select("doc_id", "turn_idx", score.alias("score"))


def score_matches(
    ix: Index,
    match: DataFrame,
    qterm_ids: list[int],
    k: int = 10,
    dfs: dict[int, int] | None = None,
) -> DataFrame:
    """BM25 score match set over unique query terms → top-k DataFrame."""
    return _topk(scored_matches(ix, match, qterm_ids, dfs=dfs), k)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The engine's total result order (score DESC, doc_id ASC, turn_idx
    ASC) cut at k — the sort+limit lowers to TakeOrderedAndProject (no
    full sort)."""
    return scored.orderBy(
        F.desc("score"), F.asc("doc_id"), F.asc("turn_idx")
    ).limit(k)


# ---------------------------------------------------------------------------
# top-level search


def search(
    ix: Index,
    query: str,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
    optimize: bool = True,
) -> DataFrame:
    """Parse → plan → boolean match → optional filters → BM25 top-k.

    `where` is a SQL predicate over turn columns (role, tool, ts, conv_id,
    turn_idx) — joie's (dead) SentenceFilter surface
    (engine/src/query/filter.rs:36-44) made real.  `where_doc` is a SQL
    predicate over doc_meta columns (conv_id, n_turns, total_dl, first_ts,
    last_ts, roles) — the analogue of joie's DocumentFilter
    (engine/src/query/filter.rs:7-34).  Both are ordinary `.where()`s so
    Catalyst pushes them into the scans."""
    return search_expr(
        ix, parse_query(query), k=k, where=where, where_doc=where_doc,
        optimize=optimize,
    )


def search_expr(
    ix: Index,
    expr: Expr,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
    optimize: bool = True,
) -> DataFrame:
    """search() over a pre-built AST — the programmatic QueryBuilder's
    evaluation path (plans/builder.py), shared with the string parser."""
    match, qids, dfs = _plan_search(ix, expr, where, where_doc, optimize)
    return score_matches(ix, match, qids, k, dfs=dfs)


def _plan_search(
    ix: Index,
    expr: Expr,
    where: str | None,
    where_doc: str | None,
    optimize: bool,
) -> tuple[DataFrame, list[int], dict[int, int]]:
    """Shared front half of every exhaustive-path entry point: dictionary
    lookup → multi-term expansion → lower → boolean match set (tombstones
    excluded, filters semi-joined) → (match, scoring term ids, dfs)."""
    words = sorted({t for lit_ in _literal_texts(expr) for t in tokenize_terms(lit_)})
    lut = ix.lookup_terms(words)
    term_of = {w: lut[w][0] for w in lut}

    prefix_ids, fuzzy_ids, exp_dfs = _expand_multiterm(ix, expr)
    node = lower(
        expr, term_of, optimize, prefix_ids=prefix_ids, fuzzy_ids=fuzzy_ids
    )
    dfs = {tid: df for tid, df in lut.values()}
    dfs.update(exp_dfs)
    match = ix.exclude_tombstones(eval_match(ix, node, dfs))
    if where:
        match = match.join(
            ix.turns.where(where).select(*MATCH_COLS), MATCH_COLS, "left_semi"
        )
    if where_doc:
        match = match.join(
            ix.doc_meta.where(where_doc).select("doc_id"), "doc_id", "left_semi"
        )
    qids = sorted({t for t in plan_term_ids(node) if t > 0})
    return match, qids, dfs


def search_expr_decayed(
    ix: Index,
    expr: Expr,
    ref_ts: str,
    half_life_s: float,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
    optimize: bool = True,
) -> DataFrame:
    """BM25 top-k with exponential recency decay (the Elasticsearch
    function_score exp-decay shape): each turn's score multiplies by
    ``2^(-(ref_ts − ts)/half_life_s)`` — a turn `half_life_s` seconds
    older than `ref_ts` scores half as much; turns newer than `ref_ts`
    boost above 1 (no clamp — pass the corpus max ts as ref for pure
    decay).  `ref_ts` is an explicit SQL timestamp literal ('2024-01-01
    00:00:00'): recency must be deterministic, never wall-clock.

    Matching is unchanged (decay reweights, never filters).  Scale
    shape: one extra (doc_id, turn_idx) semi-join-shaped inner join of
    the scored frame against the turns row store to fetch ts (the same
    pushdown shape the `where` filter uses), one scalar multiply in the
    projection; top-k still lowers to TakeOrderedAndProject."""
    if not ref_ts:
        raise ValueError("ref_ts must be an explicit timestamp literal")
    if half_life_s <= 0:
        raise ValueError("half_life_s must be > 0")
    age_s = F.unix_timestamp(F.lit(ref_ts).cast("timestamp")) - F.unix_timestamp(
        F.col("ts")
    )
    decay = F.pow(F.lit(0.5), age_s.cast("double") / F.lit(float(half_life_s)))
    return _reweighted(ix, expr, decay, k, where, where_doc, optimize)


def search_expr_function_score(
    ix: Index,
    expr: Expr,
    weight_expr: str,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
    optimize: bool = True,
) -> DataFrame:
    """BM25 top-k reweighted by an arbitrary SQL expression over the
    turn's row-store metadata (the Elasticsearch function_score
    filter/weight shape — e.g. ``CASE WHEN role = 'assistant' THEN 2.0
    ELSE 1.0 END``, or any expression over conv_id/role/tool/ts/dl).
    The recency decay path (search_expr_decayed) is the ts special case
    of this; boosts (search_expr_boosted) are the query-term special
    case.  `weight_expr` must be deterministic (no rand()/now()) — the
    caller's contract, same as `where`.  Numeric-literal gotcha: Spark
    SQL parses ``1.0`` as DECIMAL, so ``1.0/(1.0+dl)`` divides in
    decimal before the double cast (ULP drift vs float64); write double
    literals as ``1e0`` (or CAST) when bit-exact scores matter.

    Matching is unchanged (weights reweight, never filter; a weight of
    0 can sink a row below top-k but it still matched).  Scale shape:
    identical to decay — one (doc_id, turn_idx) inner join of the
    scored frame against the turns row store for metadata (Catalyst
    prunes the fetch to the columns `weight_expr` actually references),
    one scalar multiply, TakeOrderedAndProject top-k."""
    if not weight_expr or not weight_expr.strip():
        raise ValueError("weight_expr must be a non-empty SQL expression")
    weight = F.expr(weight_expr).cast("double")
    return _reweighted(ix, expr, weight, k, where, where_doc, optimize)


def _reweighted(
    ix: Index,
    expr: Expr,
    weight: Column,
    k: int,
    where: str | None,
    where_doc: str | None,
    optimize: bool,
) -> DataFrame:
    """Shared tail of the post-score reweighting variants (decay,
    function_score): exhaustive scoring frame → (doc_id, turn_idx) inner
    join against the turns row store for the metadata `weight` reads
    (Catalyst prunes the fetch to the columns it references) → score ×
    weight → top-k."""
    match, qids, dfs = _plan_search(ix, expr, where, where_doc, optimize)
    scored = scored_matches(ix, match, qids, dfs=dfs)
    with_meta = scored.join(
        ix.turns.select(*MATCH_COLS, "conv_id", "role", "tool", "ts", "dl"),
        MATCH_COLS,
        "inner",
    )
    return _topk(
        with_meta.select(
            "doc_id", "turn_idx", (F.col("score") * weight).alias("score")
        ),
        k,
    )


def search_docs_expr(
    ix: Index,
    expr: Expr,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
    optimize: bool = True,
) -> DataFrame:
    """Conversation-level BM25 top-k — rank whole documents, not turns.

    A conversation matches when ANY of its turns matches the boolean
    query (the existential lift; `where`/`where_doc` filter the turn
    match set before lifting, so "docs with a matching USER turn" works).
    It scores with TRUE document-level BM25: tf summed over all the
    conversation's turns, dl = the conversation's total_dl, df =
    distinct conversations containing the term, N/avgdl over
    conversations.  This is the ES/Lucene document-ranking shape;
    search_expr_collapsed is the other lift (rank docs by their single
    best turn) — collapse favors one strong turn, search_docs favors
    sustained relevance across the conversation.

    → (doc_id, score) top-k, score DESC then doc_id ASC.

    Scale shape: the match set lifts to docs with one distinct; doc
    tf is the term_id-pruned postings scan semi-joined to matching docs
    and aggregated on (term_id, doc_id); per-term doc-df is one partial
    agg over the same pruned scan, collected bounded (≤ |query terms|
    rows, like dfs); the per-doc fold reuses the sorted-struct
    F.aggregate so float64 scores are bit-identical to the Python
    recompute (tests/test_rank_eval.py).  Stats drift under unpurged
    tombstones matches the turn-level path (frozen until compact)."""
    match, qids, dfs = _plan_search(ix, expr, where, where_doc, optimize)
    qset = sorted({t for t in qids if t > 0})
    out_schema = T.StructType([RESULT_SCHEMA[0], RESULT_SCHEMA[2]])
    if not qset:
        return ix.spark.createDataFrame([], out_schema)
    n_docs, avgdl_doc = ix.doc_stats()
    if not n_docs or not avgdl_doc:
        return ix.spark.createDataFrame([], out_schema)
    post = ix.postings_for(set(qset))
    # per-term doc-df is a corpus statistic (≤ |query terms| numbers):
    # cache it on the Index so repeated queries sharing terms skip the
    # postings re-scan (the Engine reloads the Index on append/delete/
    # compact, invalidating the cache with the rest of the handles)
    missing = [t for t in qset if t not in ix._dfd_cache]
    if missing:
        rows = (
            ix.postings_for(set(missing))
            .select("term_id", "doc_id")
            .distinct()
            .groupBy("term_id")
            .agg(F.count("*").alias("dfd"))
            .collect()
        )
        ix._dfd_cache.update({r["term_id"]: r["dfd"] for r in rows})
        for t in missing:  # terms with zero postings
            ix._dfd_cache.setdefault(t, 0)
    dfd = {t: ix._dfd_cache[t] for t in qset}
    idf_map = F.map_from_arrays(
        F.array([F.lit(int(t)).cast("long") for t in qset]),
        F.array([F.lit(bm25_idf(n_docs, dfd.get(t, 0))) for t in qset]),
    )
    mdocs = match.select("doc_id").distinct()
    tfdoc = (
        post.join(mdocs, "doc_id", "left_semi")
        .groupBy("term_id", "doc_id")
        .agg(F.sum("tf").cast("int").alias("tf"))
    )
    cand = tfdoc.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("term_id", "tf"))).alias(
            "contribs"
        )
    )
    withdl = cand.join(
        ix.doc_meta.select("doc_id", "total_dl"), "doc_id", "inner"
    )
    dl = F.col("total_dl").cast("double")
    score = F.aggregate(
        F.col("contribs"),
        F.lit(0.0),
        lambda acc, x: acc
        + (
            (
                F.element_at(idf_map, x["term_id"])
                * (x["tf"].cast("double") * F.lit(K1 + 1.0))
            )
            / (
                x["tf"].cast("double")
                + F.lit(K1)
                * (F.lit(1.0 - B) + (F.lit(B) * dl) / F.lit(avgdl_doc))
            )
        ),
    )
    return (
        withdl.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def search_expr_boosted(
    ix: Index,
    expr: Expr,
    boosts: dict[str, float],
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
    optimize: bool = True,
) -> DataFrame:
    """BM25 top-k with per-term query-time boosts (Lucene's ``term^w``):
    each boosted term's score contribution scales by its weight —
    matching is UNCHANGED (boosts reweight the ranking, they never add
    or remove matches).  `boosts` keys are words, tokenized/stemmed like
    any literal (so "rolling" boosts the same term "roll" does); a key
    that tokenizes to several words is refused rather than guessed.
    OOV keys are ignored (they can't contribute score anyway).

    Scale shape: identical to search_expr — the boost folds into the
    per-term idf literal on the driver, so the scoring fold, shuffles
    and top-k lowering are unchanged.  Rides the exhaustive scorer:
    block-max WAND upper bounds don't know boosts, so the pruned paths
    would be unsound here."""
    match, qids, dfs = _plan_search(ix, expr, where, where_doc, optimize)
    id_boosts: dict[int, float] = {}
    for word, w in boosts.items():
        toks = tokenize_terms(word)
        if len(toks) != 1:
            raise ValueError(
                f"boost key must tokenize to exactly one word: "
                f"{word!r} -> {toks}"
            )
        lut = ix.lookup_terms(toks)
        if toks[0] in lut:
            id_boosts[lut[toks[0]][0]] = float(w)
    return _topk(scored_matches(ix, match, qids, dfs=dfs, boosts=id_boosts), k)


def search_expr_collapsed(
    ix: Index,
    expr: Expr,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
    optimize: bool = True,
) -> DataFrame:
    """Conversation-collapsed top-k (Lucene/Elasticsearch field
    collapsing): ONE row per matching document, ranked by its
    best-scoring matching turn → (doc_id, turn_idx, score, n_matched)
    where turn_idx is the best turn (ties: lowest turn_idx) and
    n_matched the document's matching-turn count.  Keeps a single
    conversation from flooding the result page — the grouped-results
    contract every transcript-search UI wants.

    Scale shape: the full match set must be scored (any turn could be
    its document's best — same reason ES collapse scores all hits), so
    this rides the exhaustive scorer; the collapse itself is one
    doc_id-keyed groupBy (partial-aggregated map-side: the scoring frame
    arrives already grouped by (doc_id, turn_idx)) and the final top-k
    lowers to TakeOrderedAndProject.  No new shuffle shapes."""
    match, qids, dfs = _plan_search(ix, expr, where, where_doc, optimize)
    scored = scored_matches(ix, match, qids, dfs=dfs)
    # max(struct(score, -turn_idx)) = highest score, ties → lowest turn
    best = scored.groupBy("doc_id").agg(
        F.max(F.struct(F.col("score"), (-F.col("turn_idx")).alias("nti"))).alias(
            "best"
        ),
        F.count("*").alias("n_matched"),
    )
    return (
        best.select(
            "doc_id",
            (-F.col("best.nti")).cast("int").alias("turn_idx"),
            F.col("best.score").alias("score"),
            "n_matched",
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def search_expr_after(
    ix: Index,
    expr: Expr,
    cursor: tuple[int, int, float] | None,
    k: int = 10,
    where: str | None = None,
    where_doc: str | None = None,
    optimize: bool = True,
) -> DataFrame:
    """Keyset pagination: the next `k` results strictly AFTER `cursor` =
    (doc_id, turn_idx, score) — the previous page's LAST RESULT ROW,
    passed back verbatim — in the engine's total result order (score
    DESC, doc_id ASC, turn_idx ASC).  `cursor=None` is page one
    (== search_expr).

    Deep pagination the scale-safe way: OFFSET re-scores and re-sorts
    every earlier page; the cursor is a plain filter on the scoring
    frame, so page N costs the same as page 1 and the sort+limit still
    lowers to TakeOrderedAndProject.  Scores are deterministic plan
    outputs, so the collected cursor value re-injected as a literal
    compares bit-identically on the next page."""
    match, qids, dfs = _plan_search(ix, expr, where, where_doc, optimize)
    scored = scored_matches(ix, match, qids, dfs=dfs)
    if cursor is not None:
        d, t, s = int(cursor[0]), int(cursor[1]), float(cursor[2])
        after_key = (
            (F.col("score") < s)
            | ((F.col("score") == s) & (F.col("doc_id") > d))
            | (
                (F.col("score") == s)
                & (F.col("doc_id") == d)
                & (F.col("turn_idx") > t)
            )
        )
        scored = scored.where(after_key)
    return _topk(scored, k)


def match_set_expr(ix: Index, expr: Expr, optimize: bool = True) -> DataFrame:
    words = sorted({t for lit_ in _literal_texts(expr) for t in tokenize_terms(lit_)})
    lut = ix.lookup_terms(words)
    prefix_ids, fuzzy_ids, exp_dfs = _expand_multiterm(ix, expr)
    node = lower(
        expr,
        {w: lut[w][0] for w in lut},
        optimize,
        prefix_ids=prefix_ids,
        fuzzy_ids=fuzzy_ids,
    )
    dfs = {tid: df for tid, df in lut.values()}
    dfs.update(exp_dfs)
    return ix.exclude_tombstones(eval_match(ix, node, dfs)).orderBy(*MATCH_COLS)


def _expand_multiterm(
    ix: Index,
    expr: Expr,
    prefix_ids: dict[str, tuple[int, ...]] | None = None,
    fuzzy_ids: dict[tuple[str, int], tuple[int, ...]] | None = None,
    exp_dfs: dict[int, int] | None = None,
    regex_ids: dict[str, tuple[int, ...]] | None = None,
) -> tuple[
    dict[str, tuple[int, ...]],
    dict[tuple[str, int], tuple[int, ...]],
    dict[int, int],
]:
    """Every Prefix / Fuzzy / Regex node's dictionary expansion, plus the
    expanded terms' dfs (they participate in BM25 scoring exactly like
    spelled-out OR keywords — score_matches would otherwise default
    their df to 0).  Pass the returned dicts back in when expanding a
    BATCH of expressions: duplicate patterns across queries then cost
    one dictionary scan, not one per query.  `regex_ids` is keyed
    "re:<pattern>" inside prefix_ids' namespace-free sibling dict; when
    the caller passes None the regex expansions are stored in (and
    returned via) `prefix_ids` under that prefixed key — keeping the
    3-tuple return shape every existing call site unpacks."""
    prefix_ids = {} if prefix_ids is None else prefix_ids
    fuzzy_ids = {} if fuzzy_ids is None else fuzzy_ids
    exp_dfs = {} if exp_dfs is None else exp_dfs
    regex_ids = prefix_ids if regex_ids is None else regex_ids
    for p in sorted({e.text.lower() for e in _walk(expr) if isinstance(e, Prefix)}):
        if p in prefix_ids:
            continue
        pairs = ix.expand_prefix(p)
        prefix_ids[p] = tuple(tid for tid, _ in pairs)
        exp_dfs.update(pairs)
    for key in sorted(
        {(e.text.lower(), int(e.max_edits)) for e in _walk(expr) if isinstance(e, Fuzzy)}
    ):
        if key in fuzzy_ids:
            continue
        pairs = ix.expand_fuzzy(key[0], key[1])
        fuzzy_ids[key] = tuple(tid for tid, _ in pairs)
        exp_dfs.update(pairs)
    for p in sorted(
        {e.pattern.lower() for e in _walk(expr) if isinstance(e, Regex)}
    ):
        rkey = "re:" + p
        if rkey in regex_ids:
            continue
        pairs = ix.expand_regex(p)
        regex_ids[rkey] = tuple(tid for tid, _ in pairs)
        exp_dfs.update(pairs)
    return prefix_ids, fuzzy_ids, exp_dfs


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
    expression form of eval_match (same semantics per node type), so a
    whole batch shares ONE candidate scan.  Generated as TEXT, not Column
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


def match_set(ix: Index, query: str, optimize: bool = True) -> DataFrame:
    """Unranked match set in (doc_id, turn_idx) order — the reference's
    native output order (searcher.rs:37-52)."""
    return match_set_expr(ix, parse_query(query), optimize)


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
