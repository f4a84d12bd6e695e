"""Local replica of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB at sf0.01, compare row
count, column names, and sorted values (columns sorted by name, floats
as-is — both sides round in-query).  Entries without an oracle get a
rows-only note.

Run: python scripts/check_correctness.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> None:
    import duckdb

    import __spark_entry__ as entrymod
    from joie_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("check-correctness", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qmap = entrymod.queries()
    omap = entrymod.oracle_sql()
    bad = 0
    for name, fn in qmap.items():
        try:
            df = fn(spark, sf_dir)
            cols = sorted(df.columns)
            srows = sorted(
                tuple(r[c] for c in cols) for r in df.collect()
            )
            # a cache left warm would subsidize the leaves checked after it
            if getattr(df, "_joie_persisted", None) is not None:
                df._joie_persisted.unpersist()
        except Exception as e:  # noqa: BLE001
            print(f"ERROR  {name}: spark: {e}")
            bad += 1
            continue
        if name not in omap:
            print(f"NOORA  {name}: rows={len(srows)} (rows-only check)")
            continue
        try:
            cur = con.execute(omap[name])
            ocols_raw = [d[0] for d in cur.description]
            orows_raw = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"ERROR  {name}: duckdb: {e}")
            bad += 1
            continue
        ocols = sorted(ocols_raw)
        perm = [ocols_raw.index(c) for c in ocols]
        orows = sorted(tuple(r[i] for i in perm) for r in orows_raw)
        if cols != ocols:
            print(f"FAIL   {name}: columns {cols} != {ocols}")
            bad += 1
        elif len(srows) != len(orows):
            print(f"FAIL   {name}: rows {len(srows)} != {len(orows)}")
            bad += 1
        elif srows != orows:
            diff = next(
                (i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b
            )
            print(f"FAIL   {name}: values differ at {diff}")
            bad += 1
        else:
            print(f"PASS   {name}: rows={len(srows)}")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
