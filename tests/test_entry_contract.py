"""Local simulation of the driver's correctness harness: run every
queries() entry on Spark at sf0.01 and its oracle_sql() in DuckDB on the
same parquet, compare row count, column names, and order-insensitive
values exactly.  Entries without an oracle get a rows-run check."""

import hashlib
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def _rows_to_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# The driver contract is frozen: queries() names in order, and every
# oracle_sql() text byte for byte.  Digests pinned at the commit that
# froze them; a refactor of the leaves must leave both unchanged.
QUERIES_SHA256 = "fc6124eb3e81af4b05aa41be838e5e5af295298ebd5d75c00d806a93a580afb1"
ORACLES_SHA256 = "52ad48ffcc09ad7967ae2ea993008226d1b184c4ffc25d9eb51c777ec4f68e79"


def test_frozen_contract_digests():
    names = "\n".join(entrymod.queries())
    assert hashlib.sha256(names.encode()).hexdigest() == QUERIES_SHA256
    texts = "\n".join(
        f"{k}:{hashlib.sha256(v.encode()).hexdigest()}"
        for k, v in sorted(entrymod.oracle_sql().items())
    )
    assert hashlib.sha256(texts.encode()).hexdigest() == ORACLES_SHA256


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(name, spark, ddb):
    before = _persistent_rdd_ids(spark)
    sdf = QUERIES[name](spark, SF_DIR)
    srows = sdf.collect()
    scols = sdf.columns
    handle = getattr(sdf, "_joie_persisted", None)
    if handle is not None:
        handle.unpersist()
    # a leaf leaves no cache behind once its handle is released, so it
    # cannot subsidize the leaves that run after it in the same session
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"{name}: persistent RDDs left behind: {sorted(leaked)}"

    if name not in ORACLES:
        # rows-only check (non-SQL-expressible op): must run and be stable
        assert srows is not None
        return

    res = ddb.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: cols {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: {len(srows)} vs {len(drows)} rows"
    sset = _rows_to_set(scols, [[r[c] for c in scols] for r in srows])
    dset = _rows_to_set(dcols, drows)
    mismatches = [(a, b) for a, b in zip(sset, dset) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"
