"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, compare row count, schema (column names), and an
order-insensitive value hash (columns sorted by name, rows sorted).

Usage: python tools/check_oracles.py [sf_dir] [query_name ...]
(extra args restrict the run to the named queries)
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize ints/floats: everything to string with stable formatting
    def cell(v):
        if isinstance(v, float):
            return f"{v:.6f}"
        return str(v)

    rows = sorted(
        "\x1f".join(cell(v) for v in row) for row in df.itertuples(index=False)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as entrymod
    from imageduplicatefinder_spark.session import get_spark

    spark = get_spark(app_name="check_oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        t0 = time.monotonic()
        try:
            spark_df = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        wall = time.monotonic() - t0
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(spark_df)} rows, {wall:.1f}s)")
            continue
        duck_df = con.sql(oracles[name]).df()
        problems = []
        if len(spark_df) != len(duck_df):
            problems.append(f"rows {len(spark_df)} vs {len(duck_df)}")
        if sorted(spark_df.columns) != sorted(duck_df.columns):
            problems.append(
                f"schema {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"
            )
        if not problems:
            hs, hd = norm_hash(spark_df), norm_hash(duck_df)
            if hs != hd:
                problems.append(f"value-hash {hs} vs {hd}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"MATCH {name}: {len(spark_df)} rows ({wall:.1f}s)")
    print(f"\n{len(qs) - len(failures)}/{len(qs)} ok; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
