#!/usr/bin/env python
"""Driver-faithful spot check for specific keys: run each named query on
a PLAIN driver-style session and compare to the DuckDB oracle with the
driver's own comparison (row count, case-insensitive column set,
order-insensitive stringified values). Rows-only keys print row count +
an order-insensitive row hash instead (for before/after identity).

Usage: python scripts/check_keys.py sf_dir q_a q_b ...
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def canonical(df) -> tuple[list[str], list[str]]:
    """A result frame in comparable form: its lower-cased column names,
    sorted, and its rows stringified in that column order, sorted.
    Names compare case-insensitively, so they also sort case-insensitively
    (a case-sensitive sort puts ``B`` before ``a`` in one frame and ``b``
    after ``A`` in the other, misaligning equal rows)."""
    df = df.rename(columns=str.lower)
    cols = sorted(df.columns)
    return cols, sorted(map(str, df[cols].astype(str).values.tolist()))


def main() -> None:
    sf_dir = sys.argv[1]
    keys = sys.argv[2:]
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = entry.queries(), entry.oracle_sql()

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in (
        "events lineitem orders customer nation region part supplier "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )

    rc = 0
    for name in keys:
        s_cols, sv = canonical(qs[name](spark, sf_dir).toPandas())
        if name not in oracles:
            h = hashlib.md5("\n".join(sv).encode()).hexdigest()[:16]
            print(json.dumps({"key": name, "rows": len(sv), "row_hash": h,
                              "status": "rows-only"}))
            continue
        o_cols, ov = canonical(con.execute(oracles[name]).fetch_df())
        ok = s_cols == o_cols and sv == ov
        print(json.dumps({"key": name, "rows": len(sv),
                          "status": "green" if ok else "MISMATCH"}))
        if not ok:
            rc = 1
    sys.exit(rc)


if __name__ == "__main__":
    main()


