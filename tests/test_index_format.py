"""One index format: an index whose stats.json lacks a field that every
current writer records is rejected with a ValueError that names the field
— by the stats reader and by every entry point (Engine, append, delete,
compact) — instead of being served through a fallback."""

import json
import os

import pytest

KW = dict(n_buckets=8, docs_per_block=8, block_chunks=1)


@pytest.fixture(params=["post_gens", "n_docs"])
def stale(request, t1_index_copy):
    """(index dir, field) for a copy of the t1 index whose stats.json
    lacks `field`."""
    d = t1_index_copy(**KW).index.index_dir
    path = os.path.join(d, "stats.json")
    with open(path) as f:
        stats = json.load(f)
    del stats[request.param]
    with open(path, "w") as f:
        json.dump(stats, f)
    return d, request.param


def test_read_stats_rejects_missing_field(stale):
    from joie_spark.sources.tables import read_stats

    d, field = stale
    with pytest.raises(ValueError, match=f"lacks '{field}'.*rebuild"):
        read_stats(d)


def test_engine_rejects_missing_field(spark, stale):
    from joie_spark.engine import Engine

    d, field = stale
    with pytest.raises(ValueError, match=f"lacks '{field}'"):
        Engine(spark, d)


def test_append_rejects_missing_field(spark, t1_rows, stale):
    from joie_spark.operators.append import append_index

    d, field = stale
    new = spark.createDataFrame([dict(t1_rows[0], conv_id="zz-format-new")])
    with pytest.raises(ValueError, match=f"lacks '{field}'"):
        append_index(spark, new, d)


def test_delete_rejects_missing_field(spark, t1_rows, stale):
    from joie_spark.operators.delete import delete_convs

    d, field = stale
    with pytest.raises(ValueError, match=f"lacks '{field}'"):
        delete_convs(spark, [t1_rows[0]["conv_id"]], d)


def test_compact_rejects_missing_field(spark, stale):
    from joie_spark.operators.append import compact_index

    d, field = stale
    with pytest.raises(ValueError, match=f"lacks '{field}'"):
        compact_index(spark, d)
