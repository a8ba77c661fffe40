"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given SF dir, then compares row count, sorted column
names, and an order-insensitive value hash (values stringified,
floats via repr, rows sorted). Usage:

    python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def value_hash(df: pd.DataFrame) -> str:
    import hashlib

    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or v != v:
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    rows = sorted(
        ",".join(norm(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    sys.path.insert(0, REPO)
    import __spark_entry__ as e
    from llamadb_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures += 1
            continue
        problems = []
        if len(sdf) != len(ddf):
            problems.append(f"rows {len(sdf)} vs {len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
        elif value_hash(sdf) != value_hash(ddf):
            problems.append("value-hash mismatch")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            if "value-hash mismatch" in problems and len(sdf) == len(ddf):
                s = sdf.reindex(sorted(sdf.columns), axis=1).sort_values(
                    list(sorted(sdf.columns))
                )
                d = ddf.reindex(sorted(ddf.columns), axis=1).sort_values(
                    list(sorted(ddf.columns))
                )
                print("  spark:", s.head(3).to_dict("records"))
                print("  duck :", d.head(3).to_dict("records"))
            failures += 1
        else:
            print(f"ok   {name}: {len(sdf)} rows match ({time.time()-t0:.1f}s)")
    print(f"{'PASS' if failures == 0 else 'FAIL'}: {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
