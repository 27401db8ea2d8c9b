"""Local emulation of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf=0.01 on a plain
``local[*]`` session (deliberately NOT the engine's tuned session — the
driver supplies its own), runs the matching ``oracle_sql()`` in DuckDB over
the same parquet tables, and compares row count, sorted column names, and
an order-insensitive multiset of row values.

Usage: python tools/check_entry.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for t in df.itertuples(index=False):
        rows.append(tuple(_cv(v) for v in t))
    return sorted(rows, key=repr)


def _cv(v):
    import numpy as np

    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cv(x) for x in v)
    return v


def _decimal_cols(con, sql: str) -> list[str]:
    """Oracle output columns that are DECIMAL in the ARROW schema — the
    r04 sim_kmeans trap: this script's pandas path silently converts
    decimals to float64 (so == passes), but a dtype-sensitive driver
    hash sees decimal128 and fails. Probe the arrow schema directly."""
    schema = con.execute(f"SELECT * FROM ({sql}) LIMIT 0").arrow().schema
    return [f.name for f in schema if "decimal" in str(f.type)]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check_entry")
        .config("spark.ui.enabled", "false")
        # the \r-terminated [Stage N:...] bars would swallow ok/FAIL lines
        # in a captured log
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark query raised")
            traceback.print_exc()
            n_fail += 1
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {el:.1f}s)")
            n_pass += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: oracle SQL raised")
            traceback.print_exc()
            n_fail += 1
            continue
        problems = []
        try:
            decs = _decimal_cols(con, oracles[name])
        except Exception:  # noqa: BLE001 — schema probe must not mask the run
            decs = []
        if decs:
            problems.append(
                f"oracle emits decimal columns {decs} — the driver hash "
                "distinguishes Decimal from int/double even when values "
                "compare equal; CAST in the SQL (r04 sim_kmeans trap)"
            )
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(
                f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
            )
        if not problems:
            a, b = canon(sdf), canon(odf)
            if a != b:
                diffs = [
                    (x, y) for x, y in zip(a, b) if x != y
                ][:5]
                problems.append(f"values differ; first diffs: {diffs}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"ok   {name}: {len(sdf)} rows match ({el:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
