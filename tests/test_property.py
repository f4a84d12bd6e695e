"""Property tests (SURVEY §5: hypothesis random queries): block-max WAND
(the forced-pruned batch of one) must equal the oracle for ANY keyword
set, and the batch path must equal the oracle's single-query answers for
ANY batch drawn from corpus + OOV vocabulary."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from joie_spark.corpus import HOT_TERMS

VOCAB = [t for t in HOT_TERMS if t.upper() not in ("AND", "OR")] + [
    "kingdom",
    "crystal",
    "insight",
    "venimus",
    "zzznope",  # OOV
]

words_strategy = st.lists(
    st.sampled_from(VOCAB), min_size=1, max_size=4, unique=True
)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(words=words_strategy)
def test_wand_equals_exhaustive_random_keywords(words, t1_engine, t1_oracle):
    got = [
        (r["doc_id"], r["turn_idx"], round(r["score"], 9))
        for r in t1_engine.search_many(
            [" OR ".join(words)], k=5, direct_threshold=0, probe_blocks=1
        ).collect()
    ]
    want = [
        (d, t, round(s, 9)) for d, t, s in t1_oracle.search(" OR ".join(words), k=5)
    ]
    assert got == want


@settings(
    max_examples=4,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(
    batch=st.lists(
        st.lists(
            st.sampled_from(VOCAB), min_size=1, max_size=3, unique=True
        ).map(" OR ".join),
        min_size=1,
        max_size=4,
    )
)
def test_batch_equals_single_random(batch, t1_engine, t1_oracle):
    rows = t1_engine.search_many(batch, k=5).collect()
    by_q: dict[int, list] = {i: [] for i in range(len(batch))}
    for r in rows:
        by_q[r["query_id"]].append((r["doc_id"], r["turn_idx"], r["score"]))
    for i, q in enumerate(batch):
        assert by_q[i] == t1_oracle.search(q, k=5), q


# boolean structure generator: keywords / AND pairs / OR of AND — the
# shapes the blocks-path predicate compiler must honor under θ-pruning
_clause = st.lists(
    st.sampled_from(VOCAB), min_size=1, max_size=2, unique=True
).map(" AND ".join)
_query = st.lists(_clause, min_size=1, max_size=2).map(
    lambda cs: " OR ".join(f"({c})" for c in cs)
)


@settings(
    max_examples=4,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(batch=st.lists(_query, min_size=1, max_size=4))
def test_batch_blockmax_pruned_equals_single_random(batch, t1_engine, t1_oracle):
    """Forced block-max machinery (direct_threshold=0, 1-block probe)
    over random boolean batches must stay bit-identical to the oracle's
    single-query answers."""
    rows = t1_engine.search_many(
        batch, k=3, direct_threshold=0, probe_blocks=1
    ).collect()
    by_q: dict[int, list] = {i: [] for i in range(len(batch))}
    for r in rows:
        by_q[r["query_id"]].append((r["doc_id"], r["turn_idx"], r["score"]))
    for i, q in enumerate(batch):
        assert by_q[i] == t1_oracle.search(q, k=3), q


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(
    words=words_strategy,
    page=st.integers(min_value=1, max_value=9),
)
def test_pagination_tiles_any_query_any_page_size(words, page, t1_engine):
    """Keyset pagination must tile the full ranking for ANY keyword
    query and ANY page size — no gaps, no overlaps, cursor strictly
    monotone — matching one big search() page exactly."""
    q = " OR ".join(words)
    want = [tuple(r) for r in t1_engine.search(q, k=3 * page).collect()]
    got, cursor = [], None
    for _ in range(3):
        rows = [
            tuple(r) for r in t1_engine.search_after(q, cursor, k=page).collect()
        ]
        if not rows:
            break
        got.extend(rows)
        cursor = rows[-1]
    assert got == want[: len(got)]
    assert len(got) == min(3 * page, len(want))
