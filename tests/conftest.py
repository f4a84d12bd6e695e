import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from joie_spark.corpus import generate_rows  # noqa: E402
from joie_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("joie-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def t1_rows():
    return generate_rows(50, seed=42)


@pytest.fixture(scope="session")
def t1_built(spark, t1_rows, tmp_path_factory):
    """Factory: the directory of a t1 index built once per distinct set of
    build arguments.  Shared across the session, so callers must never
    mutate it — use `t1_index_copy` for an index a test changes."""
    from joie_spark.operators.build import build_index

    built: dict[tuple, str] = {}

    def get(**kw) -> str:
        key = tuple(sorted(kw.items()))
        if key not in built:
            d = str(tmp_path_factory.mktemp("index_t1"))
            build_index(spark, spark.createDataFrame(t1_rows), d, **kw)
            built[key] = d
        return built[key]

    return get


@pytest.fixture(scope="session")
def t1_index_copy(spark, t1_built, tmp_path_factory):
    """Factory: a private copy of the t1 index built with `kw`, opened as
    an Engine — the same index `Engine.build(spark, t1 rows, d, **kw)`
    would produce, at the cost of a directory copy."""
    from joie_spark.engine import Engine

    def copy(**kw) -> "Engine":
        d = str(tmp_path_factory.mktemp("index_t1_copy"))
        shutil.copytree(t1_built(**kw), d, dirs_exist_ok=True)
        return Engine(spark, d)

    return copy


@pytest.fixture(scope="session")
def t1_index_dir(t1_built):
    """Index built once over the t1 corpus."""
    return t1_built(n_buckets=8, docs_per_block=8, block_chunks=2)


@pytest.fixture(scope="session")
def t1_oracle(t1_rows):
    from joie_spark.oracle import OracleIndex

    return OracleIndex(t1_rows)


@pytest.fixture(scope="session")
def t1_engine(spark, t1_index_dir):
    from joie_spark.engine import Engine

    return Engine(spark, t1_index_dir)
